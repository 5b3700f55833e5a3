package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gate queries for the LLM-data-pipeline operators over the
  * `documents` / `embeddings` tables. Where the operator's math is
  * SQL-expressible the DuckDB oracle recomputes the identical formula;
  * near-dup detection is verified against pairs we inject
  * deterministically (dup construction is itself SQL-expressible, so the
  * oracle knows the ground truth without re-implementing LSH).
  */
object LlmQueries {

  type Q = (SparkSession, String) => DataFrame

  // ---------------------------------------------------------- text stats
  val qTextStats: Q = (s, d) => {
    val t = col("text")
    Tables.documents(s, d).select(
      col("doc_id"),
      TextOps.wsTokenCount(t).as("n_tokens"),
      TextOps.bpeTokenCount(t).as("n_bpe_tokens"),
      TextOps.stopwordCount(t).as("n_stopwords"),
      TextOps.punctCount(t).as("n_punct"),
      TextOps.qualityScore(t).as("quality"))
  }

  val qTextStatsSql: String =
    """SELECT doc_id,
      |  CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0) THEN 0
      |       ELSE len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) END::BIGINT AS n_tokens,
      |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))::BIGINT AS n_bpe_tokens,
      |  COALESCE(len(list_filter(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
      |      x -> x IN ('the','a','of','and','to','in','is'))), 0)::BIGINT AS n_stopwords,
      |  COALESCE(len(regexp_extract_all(text, '[.,;:!?''"()\-]')), 0)::BIGINT AS n_punct,
      |  <<QUALITY>> AS quality
      |FROM documents""".stripMargin
    .replace("<<QUALITY>>", qualitySqlExpr)

  // ---------------------------------------------------------- language id
  val qTextLangid: Q = (s, d) =>
    Tables.documents(s, d)
      .select(TextOps.langId(col("text")).as("lang_pred"))
      .groupBy(col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang_pred"))

  private def markerHitsSql(markers: Seq[String]): String =
    s"""len(list_filter(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' '),
       |      x -> x IN (${markers.map(m => s"'$m'").mkString(", ")})))""".stripMargin

  val qTextLangidSql: String = {
    val hits = TextOps.LangMarkers.map { case (lang, ms) => lang -> markerHitsSql(ms) }.toMap
    s"""SELECT lang_pred, count(*) AS n FROM (
       |  SELECT CASE
       |    WHEN ${hits("en")} >= greatest(${hits("de")}, ${hits("fr")}, ${hits("es")}, ${hits("zh")})
       |         AND ${hits("en")} > 0 THEN 'en'
       |    WHEN ${hits("de")} >= greatest(${hits("en")}, ${hits("fr")}, ${hits("es")}, ${hits("zh")})
       |         AND ${hits("de")} > 0 THEN 'de'
       |    WHEN ${hits("fr")} >= greatest(${hits("en")}, ${hits("de")}, ${hits("es")}, ${hits("zh")})
       |         AND ${hits("fr")} > 0 THEN 'fr'
       |    WHEN ${hits("es")} >= greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("zh")})
       |         AND ${hits("es")} > 0 THEN 'es'
       |    WHEN ${hits("zh")} >= greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")})
       |         AND ${hits("zh")} > 0 THEN 'zh'
       |    ELSE 'unknown' END AS lang_pred
       |  FROM documents
       |) GROUP BY lang_pred ORDER BY lang_pred""".stripMargin
  }

  // ---------------------------------------------------------- fingerprint
  val qTextFingerprint: Q = (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      TextOps.fingerprintMd5(col("text")).as("fp"))

  val qTextFingerprintSql: String =
    """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
      |FROM documents""".stripMargin

  // ---------------------------------------------------------- exact dedup
  /** Inject exact duplicates (doc_id+100000 for doc_id%5==0), dedup, and
    * check the survivor set: originals always win (smaller id). */
  val qDedupExact: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + 100000).as("doc_id"), col("text"))
    val kept = Dedup.exactDedup(docs.unionByName(dups), "text", "doc_id")
    kept.agg(
      count(lit(1)).as("n_kept"),
      sum(col("doc_id")).as("sum_kept"))
  }

  // keep min(doc_id) per NORMALIZED text — the corpus may contain natural
  // exact duplicates (sf0.1 ships 8 normalized-identical pairs), so
  // assuming one-row-per-doc would go red on correct operator behavior
  val qDedupExactSql: String =
    """SELECT count(*) AS n_kept, CAST(sum(mid) AS BIGINT) AS sum_kept FROM (
      |  SELECT min(doc_id) AS mid FROM documents
      |  GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
      |)""".stripMargin

  // ---------------------------------------------- staged-input memo
  /** Staged-input memo for the file-stream gates: every invocation
    * streams the SAME deterministic parquet layout, so stage it once per
    * (gate, sfDir) and reuse across bench re-runs — the measured work
    * stays the real streaming run; only the input re-lay is memoized
    * (the same contract as CdcQueries.stageWaves). Dirs live for the
    * process lifetime. */
  private def stageOnce(key: String)(write: java.nio.file.Path => Unit): java.nio.file.Path =
    Materialize.once(s"llm.staged:$key") {
      // registered BEFORE the write so even a crash mid-stage reclaims
      // at exit; a failed staging write is released immediately (the
      // retry would otherwise stage a second full copy next to it)
      val dir = graft.TempDirs.reclaimOnExit(
        java.nio.file.Files.createTempDirectory("graft_stage"))
      try write(dir)
      catch { case e: Throwable =>
        graft.TempDirs.release(dir)
        throw e
      }
      dir
    }

  /** Pin a memory-sink streaming result onto the DRIVER and drop the
    * sink's temp view. The collect-before-cleanup matters: a
    * localCheckpoint would live in non-replicated executor storage, and
    * eviction or executor loss before the result is consumed would
    * force a recompute from state that the gate is about to release.
    * The view drop is best-effort (the result is already pinned). One
    * definition, so the pin-then-release contract cannot drift between
    * the streaming gates. `session` is the session the query STARTED on
    * (the sink registers its view there — for gates that clone a sized
    * session, that clone). `resultSession` (default: `session`) is the
    * session the returned frame binds to — gates that clone pass the
    * CALLER's session here, so the clone's pinned
    * spark.sql.shuffle.partitions cannot leak into a downstream
    * consumer that shuffles over the result. */
  private def pinMemorySinkResult(session: SparkSession, viewName: String,
      resDf: DataFrame, resultSession: SparkSession = null): DataFrame = {
    val rows = resDf.collect()
    val outSchema = resDf.schema
    try session.catalog.dropTempView(viewName)
    catch { case _: Throwable => () }
    Option(resultSession).getOrElse(session)
      .createDataFrame(java.util.Arrays.asList(rows: _*), outSchema)
  }

  /** Run a gate body against a fresh per-invocation scratch dir (an ANN
    * index the gate builds and probes), eagerly materialize its small
    * result, and delete the dir right away — SUCCESS OR FAILURE:
    * repeated invocations in one process (bench medians, Verify loops of
    * a red gate) must not accumulate a full index copy each until JVM
    * exit. The exit registry is the backstop for a hard crash between
    * create and release. */
  private def withScratchIndex(prefix: String)(body: String => DataFrame): DataFrame = {
    val root = graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory(prefix))
    try {
      val res = body(root.resolve("idx").toString)
      // pin the small gate result on the DRIVER before deleting the index
      // files (the qDedupStreaming pattern): a localCheckpoint would live
      // in non-replicated executor storage, and eviction or executor loss
      // before the result is consumed would force a recompute from the
      // now-deleted parquet
      val rows = res.collect()
      res.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), res.schema)
    } finally graft.TempDirs.release(root)
  }

  // --------------------------------------------------- streaming dedup
  /** Streaming exact dedup under the oracle: a REAL multi-batch
    * file-stream run over the corpus plus whitespace/case-mangled
    * duplicates written as later files (so dups arrive in later
    * micro-batches and suppression exercises cross-batch state). The
    * projection aggregates only text-derived values, so the result is
    * deterministic no matter which twin of a duplicate pair survives a
    * batch — a leaked duplicate still fails the count. */
  val qDedupStreaming: Q = (s, d) => {
    val dir = stageOnce(s"sdedup:$d") { dir =>
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      docs.repartition(4).write.mode("append").parquet(dir.toString)
      docs.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"),
          concat(lit("  "), upper(col("text")), lit(" ")).as("text"))
        .repartition(4).write.mode("append").parquet(dir.toString)
    }
    val schema = s.read.parquet(dir.toString).schema
    // explicit registered+released checkpoint (the CdcQueries
    // convention): Spark deletes its own temp checkpoint only on an
    // error-free stop, and this one's state store holds a key per
    // distinct normalized text — corpus-scale state a failed run would
    // otherwise strand in the temp volume forever
    val ckpt = graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory("graft_sdedup_ckpt"))
    try {
      val stream = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(dir.toString)
      val q = Dedup.streamingExactDedup(stream, "text")
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName("graft_sdedup_out").start()
      try q.processAllAvailable() finally q.stop()
      pinMemorySinkResult(s, "graft_sdedup_out",
        s.table("graft_sdedup_out").agg(
          count(lit(1)).as("n_kept"),
          sum(length(TextOps.normText(col("text")))).as("sum_norm_len")))
    } finally graft.TempDirs.release(ckpt)
  }

  // one survivor per DISTINCT normalized text (natural duplicate pairs in
  // the corpus keep one twin, like the injected mangles)
  val qDedupStreamingSql: String =
    """SELECT count(*) AS n_kept,
      |  CAST(sum(length(nt)) AS BIGINT) AS sum_norm_len
      |FROM (
      |  SELECT DISTINCT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS nt
      |  FROM documents
      |)""".stripMargin

  // --------------------------------------------------------- minhash lsh
  /** DuckDB twin of Dedup.shingles(_, 3) over a `toks` column: distinct
    * word 3-grams, with ONE whole-text shingle for a doc shorter than 3
    * tokens — the operator's rule (short docs PARTICIPATE in pairing;
    * they are not excluded, so two 2-token twins still pair). NULL text
    * yields NULL and drops out of every pair join on both engines.
    * Spliced into the five shingle oracles via `.replace` so the host
    * literals stay plain (escape-free) strings; one definition means a
    * shingle-rule change cannot desync a subset of them. */
  private val shingle3Sql: String =
    """CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
      |       ELSE list_distinct([toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
      |         FOR i IN generate_series(1, len(toks) - 2)]) END""".stripMargin

  /** Inject near-duplicates (append one token, id+200000 for doc_id%7==0)
    * and verify the detected pair set — found via banded LSH buckets,
    * never an all-pairs join — equals the TRUE pair set (the documents
    * table also contains natural near-dups), which the oracle recomputes
    * with exact all-pairs Jaccard in SQL. */
  /** The documents plus injected near-duplicates: a plan, rebuilt on
    * each call (its only cost is the scan's schema read). */
  private def injectedUnion(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val nearDups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), concat(col("text"), lit(" zzzz")).as("text"))
    docs.unionByName(nearDups)
  }

  /** The verified near-dup pairs of `union` (an [[injectedUnion]]),
    * memoized per session and shared by the pair, survivor and cluster
    * gates (one LSH run, several consumers); a hit never evaluates
    * `union`. Bench-attribution caveat: whichever consumer gate runs
    * FIRST (alphabetically dedup_cluster_reps) absorbs the one shared LSH
    * run's wall time; the others time a cache read — per-gate medians
    * shift, the suite total stays honest. */
  private def minhashPairs(s: SparkSession, d: String)(union: => DataFrame): DataFrame =
    Materialize.shared(s, s"llm.minhashPairs:$d")(Dedup.minhashNearDupPairs(
      union, "text", "doc_id", threshold = 0.8, numHashes = 64, bands = 16))

  val qDedupMinhash: Q = (s, d) =>
    minhashPairs(s, d)(injectedUnion(s, d))
      .select(col("id_a"), col("id_b")).orderBy(col("id_a"), col("id_b"))

  val qDedupMinhashSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz' FROM documents WHERE doc_id % 7 = 0
      |), tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM all_docs
      |), shingle_sets AS (
      |  SELECT doc_id, <<SHINGLE3>> AS sh
      |  FROM tok
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      |WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      |      / len(list_distinct(a.sh || b.sh))::DOUBLE >= 0.8
      |ORDER BY id_a, id_b""".stripMargin
    .replace("<<SHINGLE3>>", shingle3Sql)

  /** The drop policy itself: near-dedup keeps every doc that is nobody's
    * larger twin. The oracle derives survivors from the exact all-pairs
    * Jaccard ground truth computed in SQL. */
  val qDedupMinhashSurvivors: Q = (s, d) => {
    val union = injectedUnion(s, d)
    val drop = minhashPairs(s, d)(union).select(col("id_b").as("doc_id")).distinct()
    union.join(drop, Seq("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))
  }

  val qDedupMinhashSurvivorsSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz' FROM documents WHERE doc_id % 7 = 0
      |), tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM all_docs
      |), shingle_sets AS (
      |  SELECT doc_id, <<SHINGLE3>> AS sh
      |  FROM tok
      |), dropped AS (
      |  SELECT DISTINCT b.doc_id
      |  FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      |        / len(list_distinct(a.sh || b.sh))::DOUBLE >= 0.8
      |)
      |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept
      |FROM all_docs WHERE doc_id NOT IN (SELECT doc_id FROM dropped)""".stripMargin
    .replace("<<SHINGLE3>>", shingle3Sql)

  /** SimHash banding recall on injected EXACT duplicates: identical text
    * → identical 64-bit signature → Hamming 0, so banding must find every
    * pair (near-dup behavior at distance >0 is asserted in the unit
    * spec; the oracle pins the injected ground truth).
    *
    * FIXTURE ASSUMPTION (here and in every pair-set oracle: minhash,
    * incremental, phash): the exact-pair oracles model NO hot-bucket
    * degradation, so they are valid only while every band bucket stays
    * under the operator's hotBucketThreshold (1024 for simhash/phash
    * chunks, 64 for minhash bands — true with today's fixtures by a
    * wide margin at both shipped SFs). If a corpus regeneration ever
    * piles >threshold docs into one bucket, the operator's DESIGNED
    * star-pairing (emit (bucket_min, x) only) makes these gates red on
    * correct behavior — the fix is to regenerate fixtures or raise the
    * gate's threshold, not to "fix" the operator. */
  val qDedupSimhash: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val dups = docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"), col("text"))
    Dedup.simhashNearDupPairs(docs.unionByName(dups), "text", "doc_id", maxHamming = 3)
      .filter(col("id_b") === col("id_a") + 200000)
      .select(col("id_a"), col("id_b")).orderBy(col("id_a"))
  }

  val qDedupSimhashSql: String =
    """SELECT doc_id AS id_a, doc_id + 200000 AS id_b FROM documents
      |WHERE doc_id % 7 = 0 ORDER BY id_a""".stripMargin

  // ---------------------------------------------------------- ANN top-k
  /** Brute-force cosine top-1 for the first 10 vectors, checked against
    * DuckDB's list_cosine_similarity. */
  val qAnnTopk: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.cosineTopK(emb, queries, k = 1)
      .select(col("query_id"), col("neighbor_id"), col("sim"))
      .orderBy(col("query_id"))
  }

  val qAnnTopkSql: String =
    """SELECT query_id, neighbor_id, sim FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY q.vec_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC, c.vec_id) AS rk
      |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
      |  WHERE q.vec_id < 10
      |) WHERE rk = 1 ORDER BY query_id""".stripMargin

  // ------------------------------------------------------------ ANN IVF
  /** Scale-path ANN: IVF cells + probing, rescored exactly. ANN results
    * are approximate w.r.t. brute force (a recall spec pins that ≥0.9),
    * but with trainIters=0 the ALGORITHM is fully deterministic —
    * centroids are the first 32 vectors by id, assignment is argmax
    * cosine (ties → lower cell id), probes are the top-4 cells — so the
    * oracle replays the identical IVF pipeline in SQL and the gate
    * hash-checks it exactly. */
  val qAnnIvf: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.ivfTopK(emb, queries, k = 5)
      // long rk: matches DuckDB row_number's BIGINT so the gate's schema
      // comparison is type-identical, not just name-identical
      .withColumn("rk", col("rk").cast("long"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** DuckDB replay of ivfTopK with trainIters=0: cells = first-32 ids,
    * assignment/probing via list_cosine_similarity (proven hash-identical
    * to graft's left-to-right double cosine by ann_topk), top-4 probed
    * cells per query, exact rescoring within them. */
  val qAnnIvfSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding FROM embeddings ORDER BY vec_id LIMIT 32
      |), assigned AS (
      |  SELECT vec_id AS neighbor_id, embedding AS vec, cid FROM (
      |    SELECT e.vec_id, e.embedding, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM embeddings e CROSS JOIN cent c
      |  ) WHERE arn = 1
      |), probes AS (
      |  SELECT query_id, query_vec, cid FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
      |  ) WHERE prn <= 4
      |)
      |SELECT query_id, rk, neighbor_id, sim FROM (
      |  SELECT p.query_id, a.neighbor_id,
      |    round(list_cosine_similarity(p.query_vec::DOUBLE[], a.vec::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY p.query_id
      |      ORDER BY list_cosine_similarity(p.query_vec::DOUBLE[], a.vec::DOUBLE[]) DESC,
      |               a.neighbor_id) AS rk
      |  FROM probes p JOIN assigned a USING (cid)
      |  WHERE a.neighbor_id <> p.query_id
      |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ------------------------------------------------------------- ANN PQ
  /** Product-quantization ANN in replay mode (trainIters=0, the same
    * trick that made ann_ivf exact): codebooks are subspace slices of
    * the first 32 vectors by id, encoding is per-subspace argmin L2,
    * candidate selection is top-64 by additive ADC dot-product score,
    * rescoring is exact cosine — every stage deterministic and
    * SQL-expressible, so the gate hash-checks a full DuckDB replay. The
    * production path (trainIters=3 Lloyd) is pinned by the recall ≥0.9
    * spec instead — an iterative dense-array fixpoint has no SQL form. */
  val qAnnPq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.pqTopK(emb, queries, k = 5, trainIters = 0)
      .withColumn("rk", col("rk").cast("long"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** DuckDB replay of pqTopK with trainIters=0 (m=8 subspaces over the
    * 64-dim embeddings, 32 codes, 64 ADC candidates): books = codebook
    * slices, corpus_codes = per-subspace nearest code (argmin L2, ties →
    * lower code), adc = per-query dot-product tables, approx = additive
    * ADC scores, cand = top-64, then exact cosine rescoring — stage for
    * stage the pipeline in Similarity.pqTopK/trainPq. */
  val qAnnPqSql: String =
    """WITH params AS (
      |  SELECT len(embedding) // 8 AS subdim FROM embeddings LIMIT 1
      |), samp AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code,
      |    embedding::DOUBLE[] AS cb
      |  FROM embeddings ORDER BY vec_id LIMIT 32
      |), books AS (
      |  SELECT s.i AS sub, samp.code,
      |    samp.cb[(s.i * p.subdim + 1):((s.i + 1) * p.subdim)] AS bvec
      |  FROM samp CROSS JOIN generate_series(0, 7) AS s(i) CROSS JOIN params p
      |), corpus_codes AS (
      |  SELECT vec_id AS neighbor_id, sub, code FROM (
      |    SELECT e.vec_id, b.sub, b.code,
      |      row_number() OVER (PARTITION BY e.vec_id, b.sub
      |        ORDER BY list_distance(
      |          (e.embedding::DOUBLE[])[(b.sub * p.subdim + 1):((b.sub + 1) * p.subdim)],
      |          b.bvec) ASC, b.code) AS rn
      |    FROM embeddings e CROSS JOIN books b CROSS JOIN params p
      |  ) WHERE rn = 1
      |), adc AS (
      |  SELECT q.vec_id AS query_id, b.sub, b.code,
      |    list_inner_product(
      |      (q.embedding::DOUBLE[])[(b.sub * p.subdim + 1):((b.sub + 1) * p.subdim)],
      |      b.bvec) AS dp
      |  FROM embeddings q CROSS JOIN books b CROSS JOIN params p
      |  WHERE q.vec_id < 10
      |), approx AS (
      |  SELECT a.query_id, cc.neighbor_id, sum(a.dp) AS score
      |  FROM corpus_codes cc JOIN adc a ON a.sub = cc.sub AND a.code = cc.code
      |  WHERE cc.neighbor_id <> a.query_id
      |  GROUP BY 1, 2
      |), cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY round(score, 9) DESC, neighbor_id) AS crk
      |    FROM approx
      |  ) WHERE crk <= 64
      |)
      |SELECT query_id, rk, neighbor_id, sim FROM (
      |  SELECT c.query_id, c.neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY c.query_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
      |               c.neighbor_id) AS rk
      |  FROM cand c
      |  JOIN embeddings q ON q.vec_id = c.query_id
      |  JOIN embeddings n ON n.vec_id = c.neighbor_id
      |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // --------------------------------------------------------- ANN IVF×PQ
  /** The composed scale shape (IVF cells prune, PQ residual codes
    * compress) in replay mode: centroids = first 32 vectors by id,
    * codebooks = subspace slices of the first 32 RESIDUALS by id,
    * probes = top-4 cells, ADC score = dot(q, centroid) + Σ table
    * lookups over probed cells only, top-64 candidates, exact cosine
    * rescore. Deterministic stage for stage, so the oracle replays the
    * whole pipeline in SQL; the Lloyd path is pinned by the
    * recall-at-scan-fraction spec instead. */
  val qAnnIvfPq: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    val queries = emb.filter(col("vec_id") < 10)
    Similarity.ivfPqTopK(emb, queries, k = 5, trainIters = 0)
      .withColumn("rk", col("rk").cast("long"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** DuckDB replay of ivfPqTopK with trainIters=0: cent/assigned replay
    * the IVF coarse stage (= qAnnIvfSql), resid subtracts the assigned
    * centroid element-wise, books slice the first-32 residuals (= the
    * qAnnPqSql codebook trick, but over residuals), corpus_codes is
    * per-subspace argmin L2 of the residual, and approx adds the
    * per-probed-cell dot(q, centroid) to the summed ADC lookups before
    * the top-64 cut and exact rescore. */
  val qAnnIvfPqSql: String =
    """WITH params AS (
      |  SELECT len(embedding) // 8 AS subdim FROM embeddings LIMIT 1
      |), cent AS (
      |  SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
      |  FROM embeddings ORDER BY vec_id LIMIT 32
      |), assigned AS (
      |  SELECT vec_id, embedding, cid, cvec FROM (
      |    SELECT e.vec_id, e.embedding, c.cid, c.cvec,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.cvec, e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM embeddings e CROSS JOIN cent c
      |  ) WHERE arn = 1
      |), resid AS (
      |  SELECT vec_id, cid,
      |    list_transform(generate_series(1, len(embedding)),
      |      i -> embedding[i]::DOUBLE - cvec[i]) AS rvec
      |  FROM assigned
      |), samp AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS code, rvec AS cb
      |  FROM resid ORDER BY vec_id LIMIT 32
      |), books AS (
      |  SELECT s.i AS sub, samp.code,
      |    samp.cb[(s.i * p.subdim + 1):((s.i + 1) * p.subdim)] AS bvec
      |  FROM samp CROSS JOIN generate_series(0, 7) AS s(i) CROSS JOIN params p
      |), corpus_codes AS (
      |  SELECT vec_id AS neighbor_id, cid, sub, code FROM (
      |    SELECT r.vec_id, r.cid, b.sub, b.code,
      |      row_number() OVER (PARTITION BY r.vec_id, b.sub
      |        ORDER BY list_distance(
      |          r.rvec[(b.sub * p.subdim + 1):((b.sub + 1) * p.subdim)],
      |          b.bvec) ASC, b.code) AS rn
      |    FROM resid r CROSS JOIN books b CROSS JOIN params p
      |  ) WHERE rn = 1
      |), probes AS (
      |  SELECT query_id, cid, cdot FROM (
      |    SELECT q.vec_id AS query_id, c.cid,
      |      list_inner_product(q.embedding::DOUBLE[], c.cvec) AS cdot,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(c.cvec, q.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE q.vec_id < 10
      |  ) WHERE prn <= 4
      |), adc AS (
      |  SELECT q.vec_id AS query_id, b.sub, b.code,
      |    list_inner_product(
      |      (q.embedding::DOUBLE[])[(b.sub * p.subdim + 1):((b.sub + 1) * p.subdim)],
      |      b.bvec) AS dp
      |  FROM embeddings q CROSS JOIN books b CROSS JOIN params p
      |  WHERE q.vec_id < 10
      |), approx AS (
      |  SELECT pr.query_id, cc.neighbor_id, pr.cdot + sum(a.dp) AS score
      |  FROM corpus_codes cc
      |  JOIN probes pr ON pr.cid = cc.cid
      |  JOIN adc a ON a.query_id = pr.query_id AND a.sub = cc.sub AND a.code = cc.code
      |  WHERE cc.neighbor_id <> pr.query_id
      |  GROUP BY pr.query_id, cc.neighbor_id, pr.cdot
      |), cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT query_id, neighbor_id,
      |      row_number() OVER (PARTITION BY query_id
      |        ORDER BY round(score, 9) DESC, neighbor_id) AS crk
      |    FROM approx
      |  ) WHERE crk <= 64
      |)
      |SELECT query_id, rk, neighbor_id, sim FROM (
      |  SELECT c.query_id, c.neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY c.query_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
      |               c.neighbor_id) AS rk
      |  FROM cand c
      |  JOIN embeddings q ON q.vec_id = c.query_id
      |  JOIN embeddings n ON n.vec_id = c.neighbor_id
      |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // -------------------------------------------------------- multimodal
  /** REAL image decode: the media table holds genuine 24bpp BMP files
    * (header + bottom-up padded rows); decodeBmpFeatures parses the
    * bytes alone — dims from the header, channel means from the pixel
    * array. The oracle recomputes every feature from the pixel formula
    * the encoder used, so a decoder that misread stride padding, row
    * order, or BGR layout hash-mismatches. */
  val qMultimodalFeatures: Q = (s, d) => {
    val media = Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))
    Multimodal.decodeBmpFeatures(media).orderBy(col("media_id"))
  }

  val qMultimodalFeaturesSql: String =
    """WITH px AS (
      |  SELECT doc_id, (doc_id % 13 + 3)::INT AS w, (doc_id % 7 + 2)::INT AS h
      |  FROM documents
      |)
      |SELECT doc_id AS media_id,
      |  (54 + ((w * 3 + 3) // 4) * 4 * h)::BIGINT AS byte_len,
      |  w AS width, h AS height,
      |  round(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
      |    list_transform(generate_series(0, w - 1), x ->
      |      (doc_id * 3 + y * 23 + x * 29) % 256)))) / (w * h), 6) AS mean_r,
      |  round(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
      |    list_transform(generate_series(0, w - 1), x ->
      |      (doc_id * 11 + y * 17 + x * 5) % 256)))) / (w * h), 6) AS mean_g,
      |  round(list_sum(flatten(list_transform(generate_series(0, h - 1), y ->
      |    list_transform(generate_series(0, w - 1), x ->
      |      (doc_id * 7 + y * 31 + x * 13) % 256)))) / (w * h), 6) AS mean_b
      |FROM px ORDER BY media_id""".stripMargin

  /** REAL audio decode: genuine PCM16 mono RIFF/WAV payloads (with a
    * JUNK chunk so the chunk walk is exercised); features come from the
    * parsed fmt header + data samples alone, oracle-recomputed from the
    * sample formula. */
  val qMultimodalWav: Q = (s, d) => {
    val media = Multimodal.wavMediaFromDocuments(Tables.documents(s, d))
    Multimodal.decodeWavFeatures(media).orderBy(col("media_id"))
  }

  val qMultimodalWavSql: String =
    """WITH p AS (
      |  SELECT doc_id, (doc_id % 50 + 10)::INT AS n,
      |    (8000 + (doc_id % 3) * 4000)::INT AS sr,
      |    list_transform(generate_series(0, (doc_id % 50 + 10)::INT - 1),
      |      i -> (doc_id * 131 + i * 37) % 65536 - 32768) AS s
      |  FROM documents
      |)
      |SELECT doc_id AS media_id,
      |  (56 + n * 2)::BIGINT AS byte_len,
      |  n AS n_samples, sr AS sample_rate,
      |  round(list_sum(s) / n, 6) AS mean_amp,
      |  round(sqrt(list_sum(list_transform(s, v -> v * v)) / n), 6) AS rms,
      |  list_sum(list_transform(generate_series(2, n), i ->
      |    CASE WHEN (s[i - 1] < 0) <> (s[i] < 0) THEN 1 ELSE 0 END))::INT AS zero_crossings
      |FROM p ORDER BY media_id""".stripMargin

  /** REAL image resize: every BMP payload is nearest-neighbor resized to
    * 8×5 (both down- and up-sampling across the 3..15 × 2..8 source dims)
    * and RE-ENCODED as a valid BMP, then decoded again for features. The
    * oracle replays the sampling rule (sx = x·w/8, sy = y·h/5, integer
    * floor) over the pixel formula — wrong row order, stride handling, or
    * floor arithmetic in either codec direction hash-mismatches. */
  val qMultimodalResize: Q = (s, d) => {
    val media = Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))
    Multimodal.decodeBmpFeatures(Multimodal.resizeBmpMedia(media, tw = 8, th = 5))
      .orderBy(col("media_id"))
  }

  val qMultimodalResizeSql: String =
    """WITH px AS (
      |  SELECT doc_id, (doc_id % 13 + 3)::INT AS w, (doc_id % 7 + 2)::INT AS h
      |  FROM documents
      |)
      |SELECT doc_id AS media_id,
      |  CAST(174 AS BIGINT) AS byte_len,
      |  8 AS width, 5 AS height,
      |  round(list_sum(flatten(list_transform(generate_series(0, 4), y ->
      |    list_transform(generate_series(0, 7), x ->
      |      (doc_id * 3 + ((y * h) // 5) * 23 + ((x * w) // 8) * 29) % 256)))) / 40, 6) AS mean_r,
      |  round(list_sum(flatten(list_transform(generate_series(0, 4), y ->
      |    list_transform(generate_series(0, 7), x ->
      |      (doc_id * 11 + ((y * h) // 5) * 17 + ((x * w) // 8) * 5) % 256)))) / 40, 6) AS mean_g,
      |  round(list_sum(flatten(list_transform(generate_series(0, 4), y ->
      |    list_transform(generate_series(0, 7), x ->
      |      (doc_id * 7 + ((y * h) // 5) * 31 + ((x * w) // 8) * 13) % 256)))) / 40, 6) AS mean_b
      |FROM px ORDER BY media_id""".stripMargin

  // frame sampling: total reassembled bytes must equal the payload
  val qMultimodalFrames: Q = (s, d) => {
    val media = Multimodal.mediaFromDocuments(Tables.documents(s, d))
    Multimodal.sampleFrames(media, frames = 4)
      .groupBy(col("media_id"))
      .agg(
        count(lit(1)).as("n_frames"),
        sum(length(col("frame_bytes"))).as("total_bytes"))
      .orderBy(col("media_id"))
  }

  val qMultimodalFramesSql: String =
    """SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames,
      |  strlen(text)::BIGINT AS total_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  // ------------------------------------------------------- sessions
  /** Sessionization (30-min gap) over events — the batch twin of the
    * flatMapGroupsWithState streaming operator; the oracle recomputes the
    * identical lag/cumsum construction. */
  val qEventsSessions: Q = (s, d) =>
    Sessions.sessionizeBatch(Tables.events(s, d), gapMinutes = 30)
      // Gate-canon projection: money as scale-4 fixed-point BIGINT (the
      // operator itself keeps exact DECIMAL; see Analytics.fixed4).
      .withColumn("total_value", Analytics.fixed4(col("total_value")))

  val qEventsSessionsSql: String =
    s"""WITH marked AS (
      |  SELECT user_id, event_id, ts, value,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, value,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                   ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM marked
      |)
      |SELECT user_id, CAST(sid AS BIGINT) AS sid, min(ts) AS session_start,
      |  count(*) AS n_events,
      |  ${Analytics.fixed4Sql("sum(CAST(value AS DECIMAL(18,4)))")} AS total_value
      |FROM sess GROUP BY user_id, sid ORDER BY user_id, sid""".stripMargin

  // --------------------------------------------- n-gram jaccard (exact)
  /** Exact 3-gram Jaccard similarity for the injected near-dup pairs —
    * the verifier the LSH candidates run through, checked standalone
    * against the identical DuckDB list-algebra. */
  val qDedupNgramJaccard: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val a = docs.select(col("doc_id").as("id_a"), Dedup.shingles(col("text"), 3).as("sh_a"))
    val b = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id").as("id_b"),
        Dedup.shingles(concat(col("text"), lit(" zzzz")), 3).as("sh_b"))
    a.join(b, col("id_a") === col("id_b"))
      .select(col("id_a").as("doc_id"),
        round(Dedup.jaccard(col("sh_a"), col("sh_b")), 6).as("jaccard"))
      .orderBy(col("doc_id"))
  }

  // both sides splice the SHARED shingle rule (shingle3Sql) — a bare
  // list comprehension here would silently lack the short-doc
  // whole-text branch Dedup.shingles carries (a <=2-token doc would
  // yield [] vs the operator's [whole text]) and would desync from any
  // future change to the one shingle definition
  val qDedupNgramJaccardSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t1,
      |    string_split(lower(trim(regexp_replace(text || ' zzzz', '\s+', ' ', 'g'))), ' ') AS t2
      |  FROM documents WHERE doc_id % 7 = 0
      |), sh AS (
      |  SELECT doc_id, <<SHINGLE_A>> AS sh_a, <<SHINGLE_B>> AS sh_b
      |  FROM tok
      |)
      |SELECT doc_id,
      |  round(len(list_intersect(sh_a, sh_b))::DOUBLE
      |        / len(list_distinct(sh_a || sh_b))::DOUBLE, 6) AS jaccard
      |FROM sh ORDER BY doc_id""".stripMargin
      .replace("<<SHINGLE_A>>", shingle3Sql.replace("toks", "t1"))
      .replace("<<SHINGLE_B>>", shingle3Sql.replace("toks", "t2"))

  // ----------------------------------------- embedding-cosine near-dup
  /** Embedding near-dup via hyperplane buckets: duplicated vectors share
    * every signature bit, so recall on injected exact duplicates is
    * guaranteed; the data has no natural pairs at ≥0.9999. */
  val qDedupEmbedding: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val dups = emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    Similarity.cosineNearDupPairs(emb.unionByName(dups), threshold = 0.9999)
      .select(col("id_a"), col("id_b")).orderBy(col("id_a"))
  }

  val qDedupEmbeddingSql: String =
    """SELECT vec_id AS id_a, vec_id + 10000 AS id_b FROM embeddings
      |WHERE vec_id % 9 = 0 ORDER BY id_a""".stripMargin

  // ------------------------------------------------------- SemDeDup
  /** SemDeDup under the oracle: replay mode (trainIters=0) makes the
    * whole pipeline deterministic — centroids are the first 32 ids,
    * assignment is argmax cosine (ties → lower cid), and the drop rule
    * is any same-cell smaller-id neighbor at round(cos,6) ≥ 0.95. The
    * injected exact copies (sim 1.0) are the only pairs over the
    * threshold (natural max ≈ 0.6), so `kept` is exactly
    * "not a +10000 copy". The oracle still replays the FULL pipeline —
    * cell assignment included — so a quantizer or pairing regression
    * fails the hash even though the drop set is simple. */
  val qDedupSemantic: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val dups = emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
    Similarity.semDedup(emb.unionByName(dups), nCentroids = 32, threshold = 0.95)
      .orderBy(col("vec_id"))
  }

  // ------------------------------------- incremental semantic dedup
  /** [[AnnIndex.ingestSemDedupBatch]] under the oracle: the index is
    * built from the low-id half of the corpus, and the other half plus
    * injected exact copies of corpus vectors arrive as ONE new batch
    * whose decisions are made against the persisted index — never
    * pairing corpus-vs-corpus. Because corpus ids are all smaller than
    * new ids, "already-indexed wins" coincides with keep-lowest-id, so
    * the oracle replays a ONE-SHOT semDedup over the union and restricts
    * to the new ids — a hash match proves the incremental path decides
    * exactly as rebuilding from scratch would. */
  val qDedupSemanticIngest: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    // the corpus must be a CONTIGUOUS low-id prefix: already-indexed-wins
    // coincides with the oracle's keep-lowest-id only when every corpus
    // id is below every new id (a parity split would let a new doc keep
    // against a larger-id corpus twin the operator correctly drops)
    val corpus = emb.filter(col("vec_id") < 250)
    val fresh = emb.filter(col("vec_id") >= 250)
      .unionByName(emb.filter(col("vec_id") % 9 === 0)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    withScratchIndex("graft_gate_semingest_") { dir =>
      AnnIndex.build(corpus, dir, nCentroids = 32)
      AnnIndex.ingestSemDedupBatch(fresh, dir, threshold = 0.95, batchId = Some(1L))
    }.orderBy(col("vec_id"))
  }

  val qDedupSemanticIngestSql: String =
    """WITH corpus AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 250
      |), newv AS (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 250
      |  UNION ALL
      |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 9 = 0
      |), all_vecs AS (
      |  SELECT * FROM corpus UNION ALL SELECT * FROM newv
      |), cent AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM corpus ORDER BY vec_id LIMIT 32
      |), assigned AS (
      |  SELECT vec_id, embedding, cid FROM (
      |    SELECT e.vec_id, e.embedding, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.cemb::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM all_vecs e CROSS JOIN cent c
      |  ) WHERE arn = 1
      |), dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  JOIN newv n ON n.vec_id = b.vec_id
      |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.95
      |)
      |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS kept
      |FROM assigned a
      |JOIN newv nn ON nn.vec_id = a.vec_id
      |LEFT JOIN dropped d ON d.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin

  val qDedupSemanticSql: String =
    """WITH all_vecs AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 9 = 0
      |), cent AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM all_vecs ORDER BY vec_id LIMIT 32
      |), assigned AS (
      |  SELECT vec_id, embedding, cid FROM (
      |    SELECT e.vec_id, e.embedding, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.cemb::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM all_vecs e CROSS JOIN cent c
      |  ) WHERE arn = 1
      |), dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.vec_id < b.vec_id
      |  WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.95
      |)
      |SELECT a.vec_id, a.cid, (d.vec_id IS NULL) AS kept
      |FROM assigned a LEFT JOIN dropped d USING (vec_id)
      |ORDER BY a.vec_id""".stripMargin

  // ---------------------------------------- CMS heavy hitters
  /** cmsBuild/cmsEstimate under the oracle: the exact top-20 terms next
    * to their Count-Min estimates. Every stage is deterministic (md5
    * bucket hashes, integer counters), so the oracle rebuilds the whole
    * depth×width sketch in SQL and the estimates hash-match exactly —
    * including any collision inflation, which is itself reproducible. */
  // ------------------------------------------------ KMV distinct count
  /** [[TextOps.kmvSketchByGroup]]/[[kmvEstimateByGroup]] under the
    * oracle: per-source distinct-term estimates next to the exact
    * distinct counts, the oracle replaying the identical md5 hash,
    * per-group k-smallest rank and `(k-1)/x_(k)` estimator — the
    * estimate column is deterministic on both engines (one IEEE double
    * division of exact integers, floored half-up to BIGINT), so the
    * hash match pins the whole sketch path, not a tolerance band.
    * k=16 sits BELOW the corpus's per-source distinct-term count (31 at
    * every SF — the synthetic vocabulary is fixed), so the gate drives
    * the at-capacity ESTIMATOR branch; the below-capacity exact branch
    * is spec-covered. */
  val qTextKmvDistinct: Q = (s, d) => {
    val k = 16
    val toks = Tables.documents(s, d)
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
    val exact = toks.select("source", "term").distinct()
      .groupBy(col("source")).agg(count(lit(1)).as("n_exact"))
    TextOps.kmvEstimateByGroup(
        TextOps.kmvSketchByGroup(toks, "source", "term", k), "source", k)
      .join(exact, Seq("source"))
      .select(col("source"), col("n_exact"), col("n_distinct_est"))
      .orderBy(col("source"))
  }

  val qTextKmvDistinctSql: String =
    """WITH docs AS (
      |  SELECT source, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT DISTINCT source, unnest(string_split(t, ' ')) AS term
      |  FROM docs WHERE length(t) > 0
      |), tk AS (
      |  SELECT source, term FROM toks WHERE term <> ''
      |), dh AS (
      |  SELECT DISTINCT source, ('0x' || substr(md5(term), 1, 8))::BIGINT AS h
      |  FROM tk
      |), kept AS (
      |  SELECT source, count(*) AS n_kept, max(h) AS hk FROM (
      |    SELECT source, h,
      |      row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |    FROM dh
      |  ) WHERE rn <= 16 GROUP BY source
      |), ex AS (
      |  SELECT source, count(*) AS n_exact FROM tk GROUP BY source
      |)
      |SELECT e.source, e.n_exact,
      |  CASE WHEN k.n_kept < 16 THEN k.n_kept
      |       ELSE CAST(floor(CAST(64424509440 AS DOUBLE)
      |                       / CAST(k.hk + 1 AS DOUBLE) + 0.5) AS BIGINT)
      |  END AS n_distinct_est
      |FROM ex e JOIN kept k USING (source)
      |ORDER BY source""".stripMargin

  val qTextHeavyHitters: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val sketch = TextOps.cmsBuild(docs, "text")
    val top = TextOps.topTerms(docs, "text", 20)
    TextOps.cmsEstimate(sketch, top)
      .join(top, Seq("term"))
      .select(col("term"), col("n").as("n_exact"), col("n_est"))
      .orderBy(col("term"))
  }

  val qTextHeavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(string_split(
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents
      |), tc AS (
      |  SELECT term, count(*) AS n FROM toks WHERE term <> '' GROUP BY term
      |), top AS (
      |  SELECT term, n FROM tc ORDER BY n DESC, term LIMIT 20
      |), rs AS (
      |  SELECT unnest(generate_series(0, 3)) AS r
      |), sketch AS (
      |  SELECT r,
      |    ('0x' || substr(md5(term || 'cms' || CAST(r AS VARCHAR)), 1, 8))::BIGINT
      |      % 1024 AS bucket,
      |    CAST(sum(n) AS BIGINT) AS cnt
      |  FROM tc CROSS JOIN rs
      |  GROUP BY 1, 2
      |)
      |SELECT t.term, t.n AS n_exact, CAST(min(s.cnt) AS BIGINT) AS n_est
      |FROM top t CROSS JOIN rs
      |JOIN sketch s ON s.r = rs.r AND s.bucket =
      |  ('0x' || substr(md5(t.term || 'cms' || CAST(rs.r AS VARCHAR)), 1, 8))::BIGINT
      |    % 1024
      |GROUP BY t.term, t.n
      |ORDER BY t.term""".stripMargin

  // ------------------------------------------------ int8-scan ANN
  /** int8TopK under the oracle: the candidate stage scans dequantized
    * int8 codes (approx scores rounded to 9 decimals before the rank),
    * the exact stage rescores only the k·4 survivors — deterministic
    * with no training, so the oracle replays quantization, candidate
    * ranking, and rescoring end to end. */
  val qAnnInt8: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.int8TopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .withColumn("rk", col("rk").cast("long"))
      .orderBy(col("query_id"), col("rk"))
  }

  val qAnnInt8Sql: String =
    """WITH qz AS (
      |  SELECT vec_id,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127 AS scale,
      |    embedding
      |  FROM embeddings
      |), deq AS (
      |  SELECT vec_id AS neighbor_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding::DOUBLE[], x -> 0.0)
      |         ELSE list_transform(embedding::DOUBLE[],
      |                x -> CAST(floor(x / scale + 0.5) AS INT) * scale) END AS vec_deq
      |  FROM qz
      |), cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT q.vec_id AS query_id, d.neighbor_id,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY round(list_cosine_similarity(q.embedding::DOUBLE[], d.vec_deq), 9) DESC,
      |                 d.neighbor_id) AS ark
      |    FROM embeddings q JOIN deq d ON d.neighbor_id <> q.vec_id
      |    WHERE q.vec_id < 10
      |  ) WHERE ark <= 20
      |)
      |SELECT query_id, rk, neighbor_id, sim FROM (
      |  SELECT c.query_id, c.neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY c.query_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |               c.neighbor_id) AS rk
      |  FROM cand c
      |  JOIN embeddings e ON e.vec_id = c.neighbor_id
      |  JOIN embeddings q ON q.vec_id = c.query_id
      |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------- persisted ANN index
  /** [[AnnIndex]] under the oracle: the gate builds the index from HALF
    * the corpus (a batch holding the first-32-ids centroid source),
    * ingests the other half as a second batch, and probes through the
    * persisted parquet state — while the oracle replays a ONE-SHOT index
    * over the full corpus in SQL (replay-mode cells + int8 candidate
    * scan in the probed cells + exact rescore). A hash match is the
    * batch-composition-invariance contract: N ingests through the frozen
    * quantizer answer identically to building once. */
  val qAnnIndexIngest: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    withScratchIndex("graft_gate_ann_") { dir =>
      // first batch carries every id < 32 so the frozen replay centroids
      // equal the one-shot corpus's; second batch is the odd ids >= 32
      AnnIndex.build(
        emb.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0),
        dir, nCentroids = 32)
      AnnIndex.ingest(
        emb.filter(col("vec_id") >= 32 && col("vec_id") % 2 === 1),
        dir, batchId = Some(1L))
      AnnIndex.probe(emb.filter(col("vec_id") < 10), dir,
        k = 5, nProbes = 4, rescoreFactor = 4)
    }.orderBy(col("query_id"), col("rk"))
  }

  /** The one-shot replay-mode index probe as SQL — cells from the
    * first-32-ids centroids, int8 candidate scan in the 4 probed cells,
    * exact rescore of the k·4 survivors — parameterized on the query-set
    * predicate so every gate that proves "some persisted-state lifecycle
    * ≡ one-shot probe" (batch composition, streaming retrieval) replays
    * the identical math over its own queries. */
  private def annOneShotProbeSql(queryPred: String,
      corpusWhere: Option[String] = None): String = {
    // ONE definition of the probe replay for every lifecycle gate —
    // `corpusWhere` swaps the indexed corpus (e.g. the rebuild oracle's
    // tombstone-excluded survivors) without duplicating the probe math;
    // queries always come from the full embeddings table
    val prefix = corpusWhere.fold("")(w =>
      s"corpus AS (\n  SELECT vec_id, embedding FROM embeddings\n  WHERE $w\n), ")
    val corpus = corpusWhere.fold("embeddings")(_ => "corpus")
    s"""WITH ${prefix}cent AS (
      |  SELECT vec_id AS cid, embedding FROM <<CORPUS>> ORDER BY vec_id LIMIT 32
      |), assigned AS (
      |  SELECT vec_id AS neighbor_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM <<CORPUS>> e CROSS JOIN cent c
      |  ) WHERE arn = 1
      |), qz AS (
      |  SELECT vec_id,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127 AS scale,
      |    embedding
      |  FROM <<CORPUS>>
      |), deq AS (
      |  SELECT vec_id AS neighbor_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding::DOUBLE[], x -> 0.0)
      |         ELSE list_transform(embedding::DOUBLE[],
      |                x -> CAST(floor(x / scale + 0.5) AS INT) * scale) END AS vec_deq
      |  FROM qz
      |), probes AS (
      |  SELECT query_id, query_vec, cid FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS prn
      |    FROM embeddings q CROSS JOIN cent c WHERE <<QPRED>>
      |  ) WHERE prn <= 4
      |), cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT p.query_id, a.neighbor_id,
      |      row_number() OVER (PARTITION BY p.query_id
      |        ORDER BY round(list_cosine_similarity(p.query_vec::DOUBLE[], d.vec_deq), 9) DESC,
      |                 a.neighbor_id) AS ark
      |    FROM probes p JOIN assigned a USING (cid)
      |    JOIN deq d ON d.neighbor_id = a.neighbor_id
      |    WHERE a.neighbor_id <> p.query_id
      |  ) WHERE ark <= 20
      |)
      |SELECT query_id, rk, neighbor_id, sim FROM (
      |  SELECT c.query_id, c.neighbor_id,
      |    round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS sim,
      |    row_number() OVER (PARTITION BY c.query_id
      |      ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |               c.neighbor_id) AS rk
      |  FROM cand c
      |  JOIN <<CORPUS>> e ON e.vec_id = c.neighbor_id
      |  JOIN embeddings q ON q.vec_id = c.query_id
      |) WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin
      .replace("<<QPRED>>", queryPred)
      .replace("<<CORPUS>>", corpus)
  }

  val qAnnIndexIngestSql: String = annOneShotProbeSql("q.vec_id < 10")

  // ------------------------------------------- streaming ANN retrieval
  /** [[AnnIndex.probeBatch]] + [[readProbeResults]] under the oracle: a
    * REAL checkpointed micro-batch retrieval stream — four query files,
    * one per trigger, probing the same two-batch persisted index as
    * `ann_index_ingest` — with a [[AnnIndex.compactProbeResults]]
    * retention fold BETWEEN the two stream legs (the first leg's oldest
    * result dir folds while the newest keeps its redelivery protection)
    * and a checkpoint RESTART for the second leg. The oracle is the
    * one-shot probe replay over the union of all streamed queries, so a
    * hash match pins the whole result-side lifecycle: per-batch writes,
    * the fold's `_SUBSUMES` bookkeeping, and the reader union after a
    * resume — batch boundaries must not change retrieval answers. */
  val qAnnProbeStream: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    withScratchIndex("graft_gate_annstream_") { dir =>
      val (src, ckpt, out) = (s"${dir}_feed", s"${dir}_ckpt", s"${dir}_res")
      AnnIndex.build(
        emb.filter(col("vec_id") < 32 || col("vec_id") % 2 === 0),
        dir, nCentroids = 32)
      AnnIndex.ingest(
        emb.filter(col("vec_id") >= 32 && col("vec_id") % 2 === 1),
        dir, batchId = Some(1L))
      val qs = emb.select(col("vec_id"), col("embedding"))
      def feedFile(lo: Int): Unit =
        qs.filter(col("vec_id") >= lo && col("vec_id") < lo + 3)
          .coalesce(1).write.mode("append").parquet(src)
      def runLeg(): Unit = {
        val q = s.readStream.schema(qs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
              AnnIndex.probeBatch(b, dir, out, id, k = 5, nProbes = 4)
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      feedFile(40); feedFile(43)
      runLeg() // batches 0, 1
      // mid-stream retention: batch_0 folds; batch_1 (newest) protected
      AnnIndex.compactProbeResults(s, out, horizonBatchId = 0, retain = true)
      feedFile(46); feedFile(49)
      runLeg() // checkpoint resume: batches 2, 3
      AnnIndex.readProbeResults(s, out)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("sim"))
    }.orderBy(col("query_id"), col("rk"))
  }

  val qAnnProbeStreamSql: String =
    annOneShotProbeSql("q.vec_id >= 40 AND q.vec_id < 52")

  // ---------------------------------------------- ANN index rebuild
  /** [[AnnIndex.rebuild]] under the oracle: an index built in two ingest
    * batches at 16 cells takes two takedown waves (folded by
    * [[AnnIndex.compactTombstones]]), then migrates to a NEW quantizer at
    * 32 cells — the lifecycle step for a corpus that outgrew its build.
    * The oracle never sees the old index at all: it replays a one-shot
    * 32-cell index over the SURVIVING corpus (deleted ids excluded), so a
    * hash match proves rebuild ≡ fresh-build-of-survivors — retrain,
    * re-encode, tombstone purge and the folded-tombstone read path all at
    * once. Queries deliberately include deleted ids: takedown removes a
    * vector from the index, not the right to query near it. */
  val qAnnRebuild: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    withScratchIndex("graft_gate_annrebuild_") { dir =>
      val (v1, v2) = (s"$dir/v1", s"$dir/v2")
      AnnIndex.build(emb.filter(col("vec_id") < 300), v1, nCentroids = 16)
      AnnIndex.ingest(emb.filter(col("vec_id") >= 300), v1, batchId = Some(1L))
      AnnIndex.delete(emb.filter(col("vec_id") % 10 === 3).select("vec_id"), v1)
      AnnIndex.delete(emb.filter(col("vec_id") % 10 === 7).select("vec_id"), v1)
      AnnIndex.compactTombstones(s, v1)
      AnnIndex.rebuild(s, v1, v2, nCentroids = 32)
      AnnIndex.probe(emb.filter(col("vec_id") < 10), v2,
        k = 5, nProbes = 4, rescoreFactor = 4)
    }.orderBy(col("query_id"), col("rk"))
  }

  val qAnnRebuildSql: String = annOneShotProbeSql("q.vec_id < 10",
    corpusWhere = Some("vec_id % 10 NOT IN (3, 7)"))

  // ---------------------------------------------- ANN index LIFECYCLE
  /** The full index-lifecycle runbook THROUGH the `_current` pointer,
    * end to end under one oracle — the composition rounds 9-10 built
    * piecewise: a checkpointed probe stream that calls
    * [[AnnIndex.resolveCurrent]] once per micro-batch, while mid-stream
    * the operator runbook runs: [[AnnIndex.maintain]] flags rebuild-due
    * (the policy's `maxMeanCell` crossed — asserted, so the gate can
    * never silently degrade into a plain promote test) →
    * [[AnnIndex.rebuild]] into a fresh sibling dir (tombstones carried
    * FIRST) → [[AnnIndex.promote]] flips the pointer atomically. The
    * stream's first leg (batches 0-1) must answer from the 16-cell v1,
    * the resumed leg (batches 2-3) from the rebuilt 32-cell v2 — never a
    * mix — and the oracle replays each leg against its own quantizer:
    * pre-promote queries against v1's frozen first-16 centroids over the
    * live (tombstone-excluded) corpus, post-promote queries against
    * v2's survivor-trained 32. A hash match therefore pins, in one
    * result: per-batch pointer resolution, cutover atomicity under a
    * checkpoint resume, tombstone survival across the migration, and
    * the rebuilt index's probe math. */
  val qAnnLifecycle: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    withScratchIndex("graft_gate_annlife_") { dir =>
      val (src, ckpt, out) = (s"${dir}_feed", s"${dir}_ckpt", s"${dir}_res")
      val (v1, v2) = (s"$dir/v1", s"$dir/v2")
      AnnIndex.build(emb.filter(col("vec_id") < 300), v1, nCentroids = 16)
      AnnIndex.ingest(emb.filter(col("vec_id") >= 300), v1, batchId = Some(1L))
      AnnIndex.delete(emb.filter(col("vec_id") % 10 === 3).select("vec_id"), v1)
      AnnIndex.delete(emb.filter(col("vec_id") % 10 === 7).select("vec_id"), v1)
      AnnIndex.promote(s, dir, "v1")
      val qs = emb.select(col("vec_id"), col("embedding"))
      def feedFile(lo: Int): Unit =
        qs.filter(col("vec_id") >= lo && col("vec_id") < lo + 3)
          .coalesce(1).write.mode("append").parquet(src)
      def runLeg(): Unit = {
        val q = s.readStream.schema(qs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
              // resolve ONCE per micro-batch: the whole batch answers
              // from one committed index — the cutover contract
              AnnIndex.probeBatch(b, AnnIndex.resolveCurrent(s, dir),
                out, id, k = 5, nProbes = 4)
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      feedFile(40); feedFile(43)
      runLeg() // batches 0-1 answered by v1 (16 cells)
      // the runbook: a routine maintain pass crosses the occupancy
      // threshold → rebuild-due; the gate REQUIRES the flag so the
      // composition stays honest if thresholds or stats ever drift
      val report = AnnIndex.maintain(s, AnnIndex.resolveCurrent(s, dir),
        AnnIndex.MaintenancePolicy(maxMeanCell = 1.0),
        probeOutDir = Some(out))
      require(report.rebuildDue,
        s"ann_lifecycle: expected the maintain pass to flag rebuild-due, got $report")
      AnnIndex.rebuild(s, v1, v2, nCentroids = 32)
      AnnIndex.promote(s, dir, "v2")
      feedFile(46); feedFile(49)
      runLeg() // checkpoint resume: batches 2-3 answered by v2 (32 cells)
      AnnIndex.readProbeResults(s, out)
        .select(col("query_id"), col("rk"), col("neighbor_id"), col("sim"))
    }.orderBy(col("query_id"), col("rk"))
  }

  /** One replay-mode probe leg of the lifecycle oracle, CTE-prefixed so
    * the two legs (one per committed quantizer) union in a single
    * statement. `centWhere` picks that version's centroid TRAINING
    * corpus (v1: the original build input, deleted ids included — build
    * predates the takedowns; v2: the survivors [[AnnIndex.rebuild]]
    * retrains on); the candidate corpus is always the shared live set.
    * The probe math is [[annOneShotProbeSql]]'s, over `$nCent` cells. */
  private def annLifecycleLegSql(p: String, nCent: Int, centWhere: String,
      qLo: Int, qHi: Int): String =
    s"""${p}cent AS (
      |  SELECT vec_id AS cid, embedding FROM embeddings
      |  WHERE $centWhere ORDER BY vec_id LIMIT $nCent
      |), ${p}assigned AS (
      |  SELECT vec_id AS neighbor_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM live e CROSS JOIN ${p}cent c
      |  ) WHERE arn = 1
      |), ${p}probes AS (
      |  SELECT query_id, query_vec, cid FROM (
      |    SELECT q.vec_id AS query_id, q.embedding AS query_vec, c.cid,
      |      row_number() OVER (PARTITION BY q.vec_id
      |        ORDER BY list_cosine_similarity(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS prn
      |    FROM embeddings q CROSS JOIN ${p}cent c
      |    WHERE q.vec_id >= $qLo AND q.vec_id < $qHi
      |  ) WHERE prn <= 4
      |), ${p}cand AS (
      |  SELECT query_id, neighbor_id FROM (
      |    SELECT pb.query_id, a.neighbor_id,
      |      row_number() OVER (PARTITION BY pb.query_id
      |        ORDER BY round(list_cosine_similarity(pb.query_vec::DOUBLE[], d.vec_deq), 9) DESC,
      |                 a.neighbor_id) AS ark
      |    FROM ${p}probes pb JOIN ${p}assigned a USING (cid)
      |    JOIN deq d ON d.neighbor_id = a.neighbor_id
      |    WHERE a.neighbor_id <> pb.query_id
      |  ) WHERE ark <= 20
      |), ${p}res AS (
      |  SELECT query_id, rk, neighbor_id, sim FROM (
      |    SELECT c.query_id, c.neighbor_id,
      |      round(list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) AS sim,
      |      row_number() OVER (PARTITION BY c.query_id
      |        ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.neighbor_id) AS rk
      |    FROM ${p}cand c
      |    JOIN embeddings e ON e.vec_id = c.neighbor_id
      |    JOIN embeddings q ON q.vec_id = c.query_id
      |  ) WHERE rk <= 5
      |)""".stripMargin

  /** Pre-promote batches replay against v1's quantizer, post-promote
    * against v2's — the shared `live`/`qz`/`deq` CTEs are the
    * tombstone-excluded corpus both versions probe (per-vector int8
    * scales are index-independent). */
  val qAnnLifecycleSql: String =
    // the shared CTEs are MATERIALIZED: DuckDB re-inlines a
    // multiply-referenced CTE (live feeds qz + both legs' assignments,
    // deq feeds both legs' candidate rescans), and deq's per-vector
    // list_transform is the expensive one — the emb_pca lesson
    s"""WITH live AS MATERIALIZED (
      |  SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 NOT IN (3, 7)
      |), qz AS MATERIALIZED (
      |  SELECT vec_id,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127 AS scale,
      |    embedding
      |  FROM live
      |), deq AS MATERIALIZED (
      |  SELECT vec_id AS neighbor_id,
      |    CASE WHEN scale = 0 THEN list_transform(embedding::DOUBLE[], x -> 0.0)
      |         ELSE list_transform(embedding::DOUBLE[],
      |                x -> CAST(floor(x / scale + 0.5) AS INT) * scale) END AS vec_deq
      |  FROM qz
      |), ${annLifecycleLegSql("a_", 16, "vec_id < 300", 40, 46)},
      |${annLifecycleLegSql("b_", 32, "vec_id % 10 NOT IN (3, 7)", 46, 52)}
      |SELECT query_id, rk, neighbor_id, sim FROM a_res
      |UNION ALL
      |SELECT query_id, rk, neighbor_id, sim FROM b_res
      |ORDER BY query_id, rk""".stripMargin

  // ---------------------------------------------- ANN index cell stats
  /** [[AnnIndex.cellStats]] under the oracle: the live per-cell
    * occupancy of a built+ingested+takedown index — the signal that
    * decides when the frozen quantizer is due a [[AnnIndex.rebuild]].
    * The oracle replays the whole surface the stats summarize: centroid
    * selection, argmax cell assignment over BOTH the seed corpus and the
    * ingested batch, and the tombstone exclusion. */
  val qAnnIndexStats: Q = (s, d) => {
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    withScratchIndex("graft_gate_annstats_") { dir =>
      AnnIndex.build(emb.filter(col("vec_id") < 400), dir, nCentroids = 16)
      AnnIndex.ingest(emb.filter(col("vec_id") >= 400), dir, batchId = Some(1L))
      AnnIndex.delete(emb.filter(col("vec_id") % 7 === 0).select("vec_id"), dir)
      AnnIndex.cellStats(s, dir)
    }.orderBy(col("cid"))
  }

  val qAnnIndexStatsSql: String =
    """WITH cent AS (
      |  SELECT vec_id AS cid, embedding AS cemb FROM embeddings
      |  WHERE vec_id < 400 ORDER BY vec_id LIMIT 16
      |), assigned AS (
      |  SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(c.cemb::DOUBLE[], e.embedding::DOUBLE[]) DESC,
      |                 c.cid) AS arn
      |    FROM embeddings e CROSS JOIN cent c
      |  ) WHERE arn = 1
      |)
      |SELECT cid, count(*) AS n_live,
      |  CAST(min(vec_id) AS BIGINT) AS min_id,
      |  CAST(max(vec_id) AS BIGINT) AS max_id
      |FROM assigned WHERE vec_id % 7 <> 0
      |GROUP BY cid ORDER BY cid""".stripMargin

  // ---------------------------------------------- int8 quantization
  /** quantizeInt8 under the oracle: scale, the full int8 code vector,
    * and the max reconstruction error all replay exactly in SQL because
    * the grid is the explicit floor(+0.5) half-up rule over identical
    * IEEE doubles — any drift in the scale, a single code, or the
    * dequantization arithmetic fails the hash. The code vector travels
    * as a comma-joined string (both sides): the gate surface is
    * scalar-only because the driver's comparator sorts rows by every
    * column and cannot hash array cells. */
  val qEmbQuantize: Q = (s, d) => {
    val emb = Tables.embeddings(s, d)
    Similarity.quantizeInt8(emb)
      .join(emb.select(col("vec_id"), col("embedding")), Seq("vec_id"))
      .select(
        col("vec_id"), col("scale"),
        concat_ws(",", col("qvec").cast("array<string>")).as("qvec_csv"),
        round(Similarity.int8MaxAbsError(
          col("embedding"), col("scale"), col("qvec")), 6).as("max_abs_err"))
      .orderBy(col("vec_id"))
  }

  val qEmbQuantizeSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127 AS scale,
      |    embedding
      |  FROM embeddings
      |)
      |SELECT vec_id, scale,
      |  array_to_string(
      |    CASE WHEN scale = 0
      |         THEN list_transform(embedding::DOUBLE[], x -> 0)
      |         ELSE list_transform(embedding::DOUBLE[],
      |                x -> CAST(floor(x / scale + 0.5) AS INT)) END,
      |    ',') AS qvec_csv,
      |  round(list_max(list_transform(embedding::DOUBLE[],
      |    x -> abs(x - CAST(floor(x / CASE WHEN scale = 0 THEN 1 ELSE scale END
      |                             + 0.5) AS INT)
      |                  * scale * CASE WHEN scale = 0 THEN 0 ELSE 1 END))), 6)
      |    AS max_abs_err
      |FROM q ORDER BY vec_id""".stripMargin
  /** hashedBowScore under the oracle: weights are the deterministic
    * formula `((b·2654435761 + 1234567) mod 2000001 − 1000000) µ` over
    * 65536 buckets, so the oracle regenerates the whole weight table in
    * SQL and replays the scorer as an explode + exact integer SUM —
    * hash-identical to the operator's one-pass scalar form because both
    * sum Long micros. */
  /** The one classifier weight table, shared by text_classifier and
    * pipeline_curation — the composed gate's contract is that its
    * classifier stage IS the gated operator, so the formula must have
    * exactly one definition (both DuckDB oracles regenerate it in SQL). */
  private lazy val classifierWeights: Array[Double] = Array.tabulate(65536) { b =>
    (((b.toLong * 2654435761L + 1234567L) % 2000001L) - 1000000L) / 1e6
  }

  val qTextClassifier: Q = (s, d) => {
    TextOps.hashedBowScore(Tables.documents(s, d), "text", "doc_id",
        classifierWeights, intercept = 0.05)
      .orderBy(col("doc_id"))
  }

  val qTextClassifierSql: String =
    """WITH docs AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, unnest(string_split(t, ' ')) AS tok
      |  FROM docs WHERE length(t) > 0
      |), scored AS (
      |  SELECT doc_id, count(*) AS n_tok,
      |    sum((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 65536)
      |          * 2654435761 + 1234567) % 2000001) - 1000000) AS sm
      |  FROM toks GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  COALESCE(s.n_tok, 0) AS n_tok,
      |  (CASE WHEN COALESCE(s.sm, 0) < 0
      |        THEN -((-COALESCE(s.sm, 0) * 2 + greatest(COALESCE(s.n_tok, 0), 1))
      |               // (greatest(COALESCE(s.n_tok, 0), 1) * 2))
      |        ELSE (COALESCE(s.sm, 0) * 2 + greatest(COALESCE(s.n_tok, 0), 1))
      |             // (greatest(COALESCE(s.n_tok, 0), 1) * 2) END
      |   + 50000) / 1000000.0 AS score,
      |  (COALESCE(s.sm, 0) + 50000 * greatest(COALESCE(s.n_tok, 0), 1) >= 0)
      |    AS quality_pass
      |FROM docs d LEFT JOIN scored s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  // ------------------------------------------------ streaming daily agg
  /** Daily windowed aggregation run as a REAL Structured Streaming query:
    * the events table is re-laid as 8 parquet files, read back with
    * `maxFilesPerTrigger=2` so the tumbling-window state genuinely spans
    * four micro-batches, and emitted in complete mode to a memory sink
    * (file sinks are append-only; the result is ~150 rows, not data).
    * The oracle is the plain batch aggregation — streaming state
    * accumulation must agree with it exactly. The watermark+append
    * production path (late-data drop, state expiry) is spec-covered in
    * StreamingOpsSpec; complete mode here keeps the gate deterministic
    * (append would hold back windows the final watermark never passes). */
  /** The staged event feed BOTH streaming gates read (stageOnce key
    * "evstream:<sf>"): one definition, so an edit to the layout cannot
    * silently apply to whichever gate happens to run first. */
  private def stagedEvents(s: SparkSession, d: String): java.nio.file.Path =
    stageOnce(s"evstream:$d") { dir =>
      Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
        .repartition(8, col("event_id"))
        .write.mode("overwrite").parquet(dir.toString)
    }

  val qEventsStreamDaily: Q = (s, d) => {
    val dir = stagedEvents(s, d)
    val schema = s.read.parquet(dir.toString).schema
    // explicit registered+released checkpoint — a failed run would
    // strand Spark's auto temp checkpoint (window state) otherwise
    val ckpt = graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory("graft_evstream_ckpt"))
    // StreamSizing, like the attribution/eviction gates: the state key
    // space is (day window × event type) over the fixed Jan-2024 corpus —
    // ~31 days × 5 types ≈ 155 keys at every SF — which the rule sizes to
    // 1 state partition; the inherited 32-core default froze 32 store
    // open+commit cycles into EVERY micro-batch of this complete-mode
    // aggregation, nearly all on empty partitions
    val ss = graft.streaming.StreamSizing.sessionFor(s,
      graft.streaming.StreamSizing.statePartitions(
        keyCardinality = 155L,
        totalCores = s.sparkContext.defaultParallelism))
    try {
      val q = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "2")
        .parquet(dir.toString)
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          Analytics.fixed4(sum(col("value").cast("decimal(18,4)"))).as("total_value"))
        .select(
          col("window.start").cast("date").as("day"),
          col("event_type"), col("n"), col("total_value"))
        .writeStream.outputMode("complete").format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName("graft_stream_daily").start()
      try q.processAllAvailable() finally q.stop()
      // ~150 rows (days × event types): pin on the driver so the
      // memory-sink table and the temp re-lay dir release immediately
      pinMemorySinkResult(ss, "graft_stream_daily",
        ss.table("graft_stream_daily").orderBy(col("day"), col("event_type")),
        resultSession = s)
    } finally graft.TempDirs.release(ckpt)
  }

  val qEventsStreamDailySql: String =
    s"""SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |  ${Analytics.fixed4Sql("sum(CAST(value AS DECIMAL(18,4)))")} AS total_value
      |FROM events
      |GROUP BY CAST(ts AS DATE), event_type
      |ORDER BY day, event_type""".stripMargin

  // --------------------------------------- stream-stream join (attribution)
  /** Click→purchase attribution as a REAL stream-stream inner join —
    * Spark's StreamingSymmetricHashJoin, the streaming surface none of
    * the other gates touch: two watermarked event streams (clicks,
    * purchases) from the same checkpointed file feed, equi-joined on
    * user with a one-hour event-time range condition. Each matching
    * pair is emitted exactly once when its second side arrives, so the
    * appended result equals the batch join NO MATTER how the files
    * split into micro-batches — batch-boundary invariance for join
    * state, the analogue of what dedup_streaming pins for agg state.
    * The watermark delay is deliberately generous (the feed is a replay
    * of history, not a live clock): state-cleanup timing is a resource
    * concern the spec layer covers; CORRECTNESS here must not depend on
    * which micro-batch a row landed in. */
  val qEventsStreamAttrib: Q = (s, d) => {
    val dir = stagedEvents(s, d)
    val schema = s.read.parquet(dir.toString).schema
    val ckpt = graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory("graft_evattrib_ckpt"))
    // Stateful-stream partitioning is a DELIBERATE sizing decision, not
    // an inherited default — the decision rule lives in
    // [[graft.streaming.StreamSizing]] (state partition count freezes
    // into the checkpoint; every micro-batch pays commit + maintenance
    // on 4 join state stores per partition). This stream keys on
    // user_id: 1,500 distinct at the recorded sf0.1 (150 at sf0.01 —
    // sizing from the larger recorded figure keeps one deterministic
    // count), which the rule sizes to 8 on a 32-core session, the
    // 21.2 s → ~4 s fix a higher-throughput deployment would apply
    // BEFORE first start.
    val ss = graft.streaming.StreamSizing.sessionFor(s,
      graft.streaming.StreamSizing.statePartitions(
        keyCardinality = 1500L,
        totalCores = s.sparkContext.defaultParallelism))
    try {
      // 2 micro-batches (4 files each), not 8×1: the property under the
      // oracle is batch-boundary INVARIANCE, which two boundaries prove
      // as well as eight — while each extra micro-batch pays the full
      // symmetric-join state machinery, the dominant cost here.
      // ONE source instance (val, not def): Spark supports stream-stream
      // self-joins from a single FileStreamSource, and a second instance
      // would double the checkpointed source entries, directory listings
      // and full feed scans per trigger
      val src = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4").parquet(dir.toString)
      val clicks = src.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"),
          col("event_id").as("click_id"))
        .withWatermark("cts", "365 days")
      val purchases = src.filter(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"),
          col("event_id").as("purchase_id"), col("value"))
        .withWatermark("pts", "365 days")
      val q = clicks.join(purchases,
          col("cu") === col("pu") &&
            col("pts") >= col("cts") &&
            col("pts") < col("cts") + expr("interval 1 hour"))
        .select(col("cu").as("user_id"), col("click_id"),
          col("purchase_id"), col("value"))
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName("graft_stream_attrib").start()
      try q.processAllAvailable() finally q.stop()
      pinMemorySinkResult(ss, "graft_stream_attrib",
        ss.table("graft_stream_attrib")
          .orderBy(col("user_id"), col("click_id"), col("purchase_id")),
        resultSession = s)
    } finally graft.TempDirs.release(ckpt)
  }

  val qEventsStreamAttribSql: String =
    """SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id,
      |  p.value
      |FROM (SELECT user_id, ts, event_id FROM events
      |      WHERE event_type = 'click') c
      |JOIN (SELECT user_id, ts, event_id, value FROM events
      |      WHERE event_type = 'purchase') p
      |  ON p.user_id = c.user_id
      | AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
      |ORDER BY c.user_id, click_id, purchase_id""".stripMargin

  // --------------------------------------- watermark EVICTION (late drop)
  /** The staged feed for the eviction gate: four single-file slices of
    * the events table whose ARRIVAL ORDER is pinned twice over (file
    * name and mtime), so the micro-batch sequence — and therefore the
    * watermark trajectory — is a deterministic replay:
    *   batch 0 `00_early`   ts <  Jan 11 (watermark still low),
    *   batch 1 `01_advance` Jan 21 <= ts < Jan 26 (raises max event
    *                        time past every late-slice window),
    *   batch 2 `02_bridge`  ts >= Jan 26 (one more batch, because
    *                        Spark deliberately lags LATE-RECORD
    *                        filtering one batch behind state EVICTION —
    *                        batch N filters with the watermark recorded
    *                        in batch N−1's metadata, i.e. the max event
    *                        time through batch N−2; without the bridge
    *                        the late batch would be admitted under the
    *                        still-low early watermark),
    *   batch 3 `03_late`    Jan 11 <= ts < Jan 21 — ten days of rows
    *                        arriving after the late-filter watermark
    *                        (max-through-batch-1 − 1 day ≈ Jan 24)
    *                        passed their windows: ALL dropped.
    * Slice bounds are fixed literals against the fixed Jan-2024 events
    * corpus; the staging fails loudly if the corpus ever stops
    * straddling them (an empty slice would silently turn the eviction
    * gate into a plain aggregation). */
  private def stagedLateFeed(s: SparkSession, d: String): java.nio.file.Path =
    stageOnce(s"evlate:$d") { dir =>
      val ev = Tables.events(s, d)
        .select("event_id", "ts", "user_id", "event_type", "value")
      val jan11 = lit("2024-01-11").cast("timestamp")
      val jan21 = lit("2024-01-21").cast("timestamp")
      val jan26 = lit("2024-01-26").cast("timestamp")
      val slices = Seq(
        ("00_early", ev.filter(col("ts") < jan11), 1000L),
        ("01_advance", ev.filter(col("ts") >= jan21 && col("ts") < jan26), 2000L),
        ("02_bridge", ev.filter(col("ts") >= jan26), 3000L),
        ("03_late", ev.filter(col("ts") >= jan11 && col("ts") < jan21), 4000L))
      // the late batch's filter watermark is max(advance) − 1 day, which
      // must clear every late-slice window end (latest: Jan 21 00:00) —
      // so the advance slice must reach Jan 22. Instant-based threshold:
      // the collected Timestamp's getTime IS the UTC instant (session tz
      // is UTC), while Timestamp.valueOf would parse in the HOST's zone
      // and shift the boundary by its UTC offset
      val advMax = slices(1)._2.agg(max(col("ts"))).head().getTimestamp(0)
      require(advMax != null &&
          advMax.getTime >= java.time.Instant.parse("2024-01-22T00:00:00Z").toEpochMilli,
        s"events_stream_late: advance-slice max ts $advMax leaves the " +
          "late-filter watermark below the late slice's windows — " +
          "re-pick the slice literals")
      for ((name, df, mtime) <- slices) {
        require(df.limit(1).count() == 1,
          s"events_stream_late: slice $name staged empty — the fixed " +
            "Jan-2024 slice literals no longer match the corpus")
        // the stream sees ONLY the four pinned files
        graft.streaming.FeedStaging.writePinned(df, dir, name, mtime)
      }
    }

  /** Watermark EVICTION, oracle-checked — the half of the watermark
    * contract the other streaming gates deliberately avoid (they use
    * generous delays so correctness is batch-boundary-invariant; here
    * the delay is TIGHT and the drop is the asserted behavior). A 1-day
    * watermark over the pinned four-batch feed ([[stagedLateFeed]])
    * deterministically drops every `03_late` row: by the time the late
    * batch arrives even the LAGGED late-filter watermark (see the feed
    * doc — Spark filters batch N's late records with batch N−1's
    * recorded watermark) sits days past the newest late-slice window.
    * Append mode then emits
    * exactly the windows that FINALIZED below the final watermark. Both
    * effects replay in the oracle as plain SQL predicates: the drop is
    * `ts outside [Jan 11, Jan 21)`, the finalization cut is
    * `window end <= max(ts) − 1 day` — deterministic because the feed's
    * event times, file order, and batch splits are all pinned.
    *
    * At 100 TB this IS the correctness/resource trade: the eviction that
    * keeps state bounded is the same eviction that drops genuinely late
    * data, so a pipeline must be able to PIN which rows it forfeited —
    * this gate is that pin, at gate scale. */
  val qEventsStreamLate: Q = (s, d) => {
    val dir = stagedLateFeed(s, d)
    val schema = s.read.parquet(dir.toString).schema
    val ckpt = graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory("graft_evlate_ckpt"))
    // StreamSizing, like the attribution gate: the state key space is
    // (day window × event type) over the fixed Jan-2024 corpus — ~31
    // days × 5 types ≈ 155 keys at every SF — which the rule sizes to 1
    // state partition; inheriting the 32-core default would freeze 32
    // store open+commit cycles per micro-batch into the checkpoint,
    // nearly all on empty partitions
    val ss = graft.streaming.StreamSizing.sessionFor(s,
      graft.streaming.StreamSizing.statePartitions(
        keyCardinality = 155L,
        totalCores = s.sparkContext.defaultParallelism))
    try {
      val q = ss.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(dir.toString)
        .withWatermark("ts", "1 day")
        .groupBy(window(col("ts"), "1 day"), col("event_type"))
        .agg(
          count(lit(1)).as("n"),
          Analytics.fixed4(sum(col("value").cast("decimal(18,4)"))).as("total_value"))
        .select(
          col("window.start").cast("date").as("day"),
          col("event_type"), col("n"), col("total_value"))
        .writeStream.outputMode("append").format("memory")
        .option("checkpointLocation", ckpt.toString)
        .queryName("graft_stream_late").start()
      try q.processAllAvailable() finally q.stop()
      pinMemorySinkResult(ss, "graft_stream_late",
        ss.table("graft_stream_late").orderBy(col("day"), col("event_type")),
        resultSession = s)
    } finally graft.TempDirs.release(ckpt)
  }

  /** The eviction replayed as SQL: the late slice's rows are the
    * watermark drop, the `window end <= max(ts) − 1 day` cut is append
    * mode's finalization horizon. */
  val qEventsStreamLateSql: String =
    s"""WITH wm AS (SELECT max(ts) - INTERVAL 1 DAY AS w FROM events)
      |SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n,
      |  ${Analytics.fixed4Sql("sum(CAST(value AS DECIMAL(18,4)))")} AS total_value
      |FROM events, wm
      |WHERE (ts < TIMESTAMP '2024-01-11' OR ts >= TIMESTAMP '2024-01-21')
      |  AND CAST(CAST(ts AS DATE) AS TIMESTAMP) + INTERVAL 1 DAY <= wm.w
      |GROUP BY 1, 2
      |ORDER BY day, event_type""".stripMargin

  // ------------------------------------------------- props extraction
  /** Semi-structured analytics over the events props JSON column. */
  val qEventsProps: Q = (s, d) =>
    Tables.events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  val qEventsPropsSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
      |  CAST(max(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // -------------------------------------------- cluster representatives
  /** Quality-chosen dedup survivors: within each near-dup cluster keep
    * the member with the highest quality score (ties → smallest id);
    * singletons pass through. The oracle recomputes the transitive
    * closure AND the quality argmax independently. */
  val qDedupClusterReps: Q = (s, d) => {
    val union = injectedUnion(s, d)
    val scored = union.withColumn("quality", TextOps.qualityScore(col("text")))
      .select("doc_id", "quality")
    Dedup.clusterDedupBy(scored, minhashPairs(s, d)(union), "doc_id", "quality")
      .orderBy(col("doc_id"))
  }

  /** DuckDB twin of TextOps.qualityScore over a column named `text`.
    * A `def`, not a `val`, so earlier-declared oracles (qTextStatsSql)
    * can splice it without an object-init-order null. */
  private def qualitySqlExpr: String = {
    val toks = """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""
    val nTok = s"CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0 ELSE len($toks) END::DOUBLE"
    val stop = s"COALESCE(len(list_filter($toks, x -> x IN ('the','a','of','and','to','in','is'))), 0)::DOUBLE"
    val punct = """COALESCE(len(regexp_extract_all(text, '[.,;:!?''"()\-]')), 0)::DOUBLE"""
    s"""round(least($nTok, 200.0) / 200.0
       |    * (1.0 - ($stop / greatest($nTok, 1.0)) * 0.5)
       |    - ($punct / greatest(length(text)::DOUBLE, 1.0)) * 0.25, 6)""".stripMargin
  }

  val qDedupClusterRepsSql: String =
    s"""WITH RECURSIVE all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz' FROM documents WHERE doc_id % 7 = 0
      |), tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks
      |  FROM all_docs
      |), shingle_sets AS (
      |  SELECT doc_id, <<SHINGLE3>> AS sh
      |  FROM tok
      |), prs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      |        / len(list_distinct(a.sh || b.sh))::DOUBLE >= 0.8
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM prs
      |  UNION
      |  SELECT id_b, id_a FROM prs
      |), reach AS (
      |  SELECT src AS node, src AS r FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
      |), clusters AS (
      |  SELECT node AS doc_id, min(r) AS cluster_id FROM reach GROUP BY node
      |), q AS (
      |  SELECT doc_id, $qualitySqlExpr AS quality FROM all_docs
      |), ranked AS (
      |  SELECT q.doc_id, q.quality,
      |    row_number() OVER (PARTITION BY c.cluster_id
      |                       ORDER BY q.quality DESC, q.doc_id) AS rk
      |  FROM q JOIN clusters c USING (doc_id)
      |)
      |SELECT doc_id, quality FROM (
      |  SELECT doc_id, quality FROM ranked WHERE rk = 1
      |  UNION ALL
      |  SELECT doc_id, quality FROM q
      |  WHERE doc_id NOT IN (SELECT doc_id FROM clusters)
      |) ORDER BY doc_id""".stripMargin
    .replace("<<SHINGLE3>>", shingle3Sql)

  // ------------------------------------------------ containment near-dup
  /** Snippet-in-document detection: the corpus plus a 12-token prefix
    * snippet of every ninth document (ids +300000). MinHash/Jaccard
    * structurally miss these (the union is dominated by the parent doc);
    * capped shingle containment must flag every snippet against its
    * parent at 1.0. The oracle recomputes capped containment with
    * DuckDB list algebra over the identical union corpus. */
  val qDedupContainment: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val snippets = docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 300000L).as("doc_id"),
        // preserve NULL: concat_ws never returns NULL (it skips null
        // args), so a NULL-text doc would otherwise enter the pairing
        // as the "" snippet — able to pair at containment 1.0 — while
        // the oracle's array_to_string keeps NULL and drops the doc
        // from its shingle CTE entirely
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(concat_ws(" ",
            slice(graft.operators.TextOps.tokens(col("text")), 1, 12)))
          .as("text"))
    // 5-gram shingles: the synthetic corpus draws from a ~40-word
    // vocabulary, so 3-grams collide organically across most documents
    // and the inverted index degenerates toward the df cap; 5-grams are
    // effectively unique to a passage, which is also the right
    // granularity for verbatim-copy detection
    Dedup.containmentPairs(
        docs.unionByName(snippets), "text", "doc_id",
        n = 5, threshold = 0.9, maxShingleDf = 64)
      .orderBy(col("id_a"), col("id_b"))
  }

  val qDedupContainmentSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 300000,
      |    array_to_string(
      |      (string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '))[1:12], ' ')
      |  FROM documents WHERE doc_id % 9 = 0
      |), tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS t
      |  FROM all_docs
      |), sh AS (
      |  SELECT doc_id, unnest(list_distinct(
      |    CASE WHEN len(t) < 5 THEN [array_to_string(t, ' ')]
      |         ELSE [t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4]
      |               FOR i IN generate_series(1, len(t) - 4)] END)) AS sh
      |  FROM tok
      |), dfreq AS (
      |  SELECT sh FROM sh GROUP BY sh HAVING count(*) <= 64
      |), kept AS (
      |  SELECT doc_id, sh.sh FROM sh JOIN dfreq USING (sh)
      |), sizes AS (
      |  SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id
      |), shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      |  FROM kept a JOIN kept b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  round(inter::DOUBLE / least(sa.sz, sb.sz)::DOUBLE, 6) AS containment
      |FROM shared
      |  JOIN sizes sa ON sa.doc_id = id_a
      |  JOIN sizes sb ON sb.doc_id = id_b
      |WHERE round(inter::DOUBLE / least(sa.sz, sb.sz)::DOUBLE, 6) >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------------ duplicate clustering
  /** Connected components over the verified near-dup pairs: every doc in
    * a pair gets the min id reachable from it. The oracle computes the
    * transitive closure of the exact all-pairs Jaccard edge set with a
    * recursive CTE — an independent algorithm (BFS closure vs label
    * propagation) agreeing on every (doc, cluster) assignment. */
  val qDedupClusters: Q = (s, d) => {
    Dedup.connectedComponents(minhashPairs(s, d)(injectedUnion(s, d)))
      .select(col("id").as("doc_id"), col("cluster_id"))
      .orderBy(col("doc_id"))
  }

  val qDedupClustersSql: String =
    """WITH RECURSIVE all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz' FROM documents WHERE doc_id % 7 = 0
      |), tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM all_docs
      |), shingle_sets AS (
      |  SELECT doc_id, <<SHINGLE3>> AS sh
      |  FROM tok
      |), pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      |  WHERE len(list_intersect(a.sh, b.sh))::DOUBLE
      |        / len(list_distinct(a.sh || b.sh))::DOUBLE >= 0.8
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION
      |  SELECT id_b, id_a FROM pairs
      |), reach AS (
      |  SELECT src AS node, src AS r FROM edges
      |  UNION
      |  SELECT e.src, reach.r FROM edges e JOIN reach ON reach.node = e.dst
      |)
      |SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
      |FROM reach GROUP BY node ORDER BY doc_id""".stripMargin
    .replace("<<SHINGLE3>>", shingle3Sql)

  // ------------------------------------------------- stratified sampling
  /** Deterministic domain-mixing sample over documents: per-language
    * rates (en 100%, zh 50%, de 25%, rest 10%), decided by an md5-prefix
    * threshold that any engine reproduces byte-for-byte. */
  private val SampleRates = Map("en" -> 1.0, "zh" -> 0.5, "de" -> 0.25)
  private val SampleDefault = 0.1
  private val SampleSeed = "graft-s42"

  val qSampleStratified: Q = (s, d) =>
    Sampling.stratifiedHashSample(
        Tables.documents(s, d), "doc_id", "lang", SampleRates, SampleSeed, SampleDefault)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))
      .orderBy(col("lang"))

  val qSampleStratifiedSql: String = {
    def t(r: Double) = Sampling.hexThreshold(r)
    s"""SELECT lang, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept
       |FROM documents
       |WHERE substring(md5(CAST(doc_id AS VARCHAR) || '$SampleSeed'), 1, 4) <
       |  CASE lang WHEN 'en' THEN '${t(1.0)}' WHEN 'zh' THEN '${t(0.5)}'
       |            WHEN 'de' THEN '${t(0.25)}' ELSE '${t(SampleDefault)}' END
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  // ----------------------------------------------------------- split assign
  /** Deterministic 90/5/5 train/val/test assignment; the oracle replays
    * the cumulative md5-range rule. */
  val qSampleSplit: Q = (s, d) =>
    Sampling.splitAssign(
        Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), SampleSeed)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
      .orderBy(col("split"))

  val qSampleSplitSql: String = {
    def t(r: Double) = Sampling.hexThreshold(r)
    s"""SELECT split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id FROM (
       |  SELECT doc_id, CASE
       |    WHEN substring(md5(CAST(doc_id AS VARCHAR) || '$SampleSeed'), 1, 4) < '${t(0.9)}' THEN 'train'
       |    WHEN substring(md5(CAST(doc_id AS VARCHAR) || '$SampleSeed'), 1, 4) < '${t(0.95)}' THEN 'val'
       |    ELSE 'test' END AS split
       |  FROM documents
       |) GROUP BY split ORDER BY split""".stripMargin
  }

  /** Deterministic epoch-shuffle order: the first 20 documents of the
    * md5-ranked training order, rank included — the oracle recomputes
    * the identical order, pinning cross-engine reproducibility of the
    * shuffle itself (the property dataloaders resume on). */
  val qSampleShuffle: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"))
    val top = Sampling.deterministicShuffle(docs, "doc_id", "epoch0").limit(20)
    // rank recomputed locally over the 20 surviving rows (single
    // partition by construction — the global probe was TakeOrdered)
    val h = md5(concat(col("doc_id").cast("string"), lit("epoch0")).cast("binary"))
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window.orderBy(h, col("doc_id"))))
      .select(col("rank").cast("long").as("rank"), col("doc_id"))
      .orderBy(col("rank"))
  }

  val qSampleShuffleSql: String =
    """SELECT rank, doc_id FROM (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR) || 'epoch0'), doc_id) AS rank
      |  FROM documents
      |) WHERE rank <= 20 ORDER BY rank""".stripMargin

  // ------------------------------------------------------ mixture weights
  /** Static-weights data mixing end to end: target weight per source
    * (w = source index + 1), max-data-use sampling rates from
    * `Sampling.mixtureWeights`, then the actual deterministic sample at
    * those rates — tokens, rate, the binding stratum, and what survived,
    * all hash-checked against the oracle replaying the same arithmetic. */
  val qSampleMixture: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val weights = docs.select(col("source")).distinct()
      .withColumn("w",
        (substring(col("source"), 4, 10).cast("int") + 1).cast("double"))
    val rates = Sampling.mixtureWeights(
      docs, "source", weights, TextOps.wsTokenCount(col("text")))
    val kept = Sampling.stratifiedHashSampleByRates(
        docs, "doc_id", "source", rates, SampleSeed)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("tokens"), col("rate"), col("binding"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("sum_kept"), lit(0L)).as("sum_kept"))
      .orderBy(col("source"))
  }

  val qSampleMixtureSql: String =
    s"""WITH tok AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0
       |      ELSE len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) END) AS BIGINT) AS tokens,
       |    CAST(CAST(substr(source, 4) AS INT) + 1 AS DOUBLE) AS w
       |  FROM documents GROUP BY source),
       |b AS (SELECT min(CAST(tokens AS DOUBLE) / w) AS budget FROM tok),
       |r AS (
       |  SELECT source, tokens, round(budget * w / tokens, 9) AS rate,
       |    CAST(tokens AS DOUBLE) / w = budget AS binding
       |  FROM tok, b),
       |k AS (
       |  SELECT d.source, count(*) AS n_kept,
       |    CAST(sum(d.doc_id) AS BIGINT) AS sum_kept
       |  FROM documents d JOIN r ON d.source = r.source
       |  WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || '$SampleSeed'), 1, 4) <
       |    CASE WHEN r.rate >= 1 THEN 'g'
       |         ELSE printf('%04x', CAST(floor(r.rate * 65536) AS INT)) END
       |  GROUP BY d.source)
       |SELECT r.source, r.tokens, r.rate, r.binding,
       |  COALESCE(k.n_kept, 0) AS n_kept,
       |  COALESCE(k.sum_kept, 0) AS sum_kept
       |FROM r LEFT JOIN k ON r.source = k.source ORDER BY r.source""".stripMargin

  // ------------------------------------------------ temperature mixing
  /** Temperature (α=0.5) source rebalancing end to end: per-source token
    * totals → keep rates (tokᵢ/tok_min)^(α−1) with the smallest source
    * binding at 1.0 → the deterministic md5 sample at those rates. The
    * oracle replays the whole derivation (totals, pow, round-9 rate,
    * hex threshold, md5 predicate) in SQL, so a drift anywhere — token
    * counting, the rate formula, the threshold quantization — moves
    * kept sets and fails the hash. */
  val qSampleTemperature: Q = (s, d) =>
    Sampling.temperatureSampleByStrata(
        Tables.documents(s, d), "doc_id", "source",
        TextOps.wsTokenCount(col("text")), alpha = 0.5, SampleSeed)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))
      .orderBy(col("source"))

  val qSampleTemperatureSql: String =
    s"""WITH tok AS (
       |  SELECT source,
       |    CAST(sum(CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0
       |      ELSE len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) END) AS DOUBLE) AS t
       |  FROM documents GROUP BY source),
       |m AS (SELECT min(t) AS mn FROM tok),
       |r AS (SELECT source, round(pow(t / mn, -0.5), 9) AS rate FROM tok, m)
       |SELECT d.source, count(*) AS n_kept, CAST(sum(d.doc_id) AS BIGINT) AS sum_kept
       |FROM documents d JOIN r ON d.source = r.source
       |WHERE substring(md5(CAST(d.doc_id AS VARCHAR) || '$SampleSeed'), 1, 4) <
       |  CASE WHEN r.rate >= 1 THEN 'g'
       |       ELSE printf('%04x', CAST(floor(r.rate * 65536) AS INT)) END
       |GROUP BY d.source ORDER BY d.source""".stripMargin

  // ----------------------------------- bottom-k sample quantile sketch
  /** Distributional profiling from a MERGED bottom-k uniform sample —
    * the fixed-size mergeable stand-in for exact per-group percentiles
    * at corpus scale (exact `percentile` sorts each group; the sketch
    * ships ≤ k rows per group per shard). The gate runs the full
    * coordinator layout: the corpus splits into two disjoint shards
    * (doc_id parity), each shard builds its own k=16 per-source sample
    * ([[Sampling.bottomKSampleByGroup]]), the shard frames merge
    * losslessly ([[Sampling.bottomKSampleMergeByGroup]]), and the
    * quantiles read off the merged sample. The oracle replays the
    * WHOLE-CORPUS sketch directly — a hash match therefore proves the
    * shard-merge is exactly lossless (merged sample ≡ single-pass
    * sample) against an independent engine, not just against this
    * implementation. k=16 < 25 docs/source at sf0.01, so the prune is
    * live at every SF. */
  val qSampleQuantileSketch: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
    val shards = Seq(docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))
      .map(Sampling.bottomKSampleByGroup(_, "source", "doc_id", "n_chars", 16))
    val merged = Sampling.bottomKSampleMergeByGroup(
      shards, "source", "doc_id", "n_chars", 16)
    Sampling.sampleQuantilesByGroup(merged, "source", "doc_id", "n_chars",
        16, Seq(0.25, 0.5, 0.75, 0.95))
      .orderBy(col("source"))
  }

  val qSampleQuantileSketchSql: String =
    """WITH s AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |               doc_id) AS rk
      |  FROM documents)
      |SELECT source, count(*) AS n_sample,
      |  round(quantile_cont(n_chars, 0.25), 4) AS q25,
      |  round(quantile_cont(n_chars, 0.5), 4) AS q50,
      |  round(quantile_cont(n_chars, 0.75), 4) AS q75,
      |  round(quantile_cont(n_chars, 0.95), 4) AS q95
      |FROM s WHERE rk <= 16
      |GROUP BY source ORDER BY source""".stripMargin

  // --------------------------------------- streaming sample-sketch fold
  /** The mergeable sample as a STREAMING reservoir — the layout that
    * maintains a uniform sample of an unbounded ingest at O(k · batches)
    * state with no read-modify-write: each micro-batch sketches ONLY its
    * own rows and writes the k-sized frame to its own
    * `sketch_batch_<id>` dir (idempotent overwrite, so at-least-once
    * foreachBatch redelivery rewrites the same dir instead of doubling
    * tickets), and the read side merges every batch sketch losslessly.
    * A checkpoint RESTART splits the run mid-stream, and a state
    * COMPACTION ([[Sampling.compactSampleSketches]]) folds the
    * completed batch dirs into one (newest kept for its redelivery
    * protection) before the final read. The oracle replays the
    * whole-corpus single-pass sketch, so a hash match pins the full
    * contract at once: batch boundaries, the restart, the
    * sketch-of-sketches merge, AND the fold must not change the
    * sample. */
  val qSampleStreamSketch: Q = (s, d) => {
    val docs = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("n_chars"))
    withScratchIndex("graft_gate_ssketch_") { dir =>
      val (src, ckpt, out) = (s"${dir}_feed", s"${dir}_ckpt", s"${dir}_out")
      val feed = java.nio.file.Paths.get(src)
      java.nio.file.Files.createDirectories(feed)
      // schema template only — never executed
      val sketchSchema = Sampling.bottomKSampleByGroup(
        docs.limit(0), "source", "doc_id", "n_chars", 8).schema
      def feedFile(i: Int): Unit =
        graft.streaming.FeedStaging.writePinned(
          docs.filter(col("doc_id") % 4 === i), feed,
          f"slice_$i%02d", 1000L * (i + 1))
      def runLeg(): Unit = {
        val q = s.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(src)
          .writeStream.option("checkpointLocation", ckpt)
          .foreachBatch {
            (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
              Sampling.bottomKSampleByGroup(b, "source", "doc_id", "n_chars", 8)
                .write.mode("overwrite").parquet(s"$out/sketch_batch_$id")
          }.start()
        try q.processAllAvailable() finally q.stop()
      }
      feedFile(0); feedFile(1)
      runLeg() // batches 0-1
      feedFile(2); feedFile(3)
      runLeg() // checkpoint resume: batches 2-3
      // state compaction: fold the foldable batch dirs (the newest keeps
      // its redelivery protection) into one sketch_compact_ dir — the
      // merge being lossless, the read below must answer identically,
      // which the oracle hash pins
      val folded = Sampling.compactSampleSketches(s, out, sketchSchema,
        Some("source"), "doc_id", "n_chars", 8)
      require(folded == 3,
        s"sample_stream_sketch: expected 3 batch sketches folded, got $folded")
      val sketchDirs = Sampling.sampleSketchStateDirs(s, out)
      require(sketchDirs.size == 2 &&
          sketchDirs.exists(_.endsWith("sketch_compact_1")),
        s"sample_stream_sketch: expected compact_1 + the protected newest " +
          s"batch, got $sketchDirs")
      // explicit schema: state dirs are never schema-inferred (an empty
      // micro-batch writes a _SUCCESS-only dir)
      val merged = Sampling.bottomKSampleMergeByGroup(
        sketchDirs.map(p => s.read.schema(sketchSchema).parquet(p)),
        "source", "doc_id", "n_chars", 8)
      Sampling.sampleQuantilesByGroup(merged, "source", "doc_id", "n_chars",
          8, Seq(0.25, 0.5, 0.75, 0.95))
        .orderBy(col("source"))
    }
  }

  /** Whole-corpus replay at k=8 — same derivation as
    * [[qSampleQuantileSketchSql]], independent of the batch split. */
  val qSampleStreamSketchSql: String =
    """WITH s AS (
      |  SELECT source, doc_id, n_chars,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
      |               doc_id) AS rk
      |  FROM documents)
      |SELECT source, count(*) AS n_sample,
      |  round(quantile_cont(n_chars, 0.25), 4) AS q25,
      |  round(quantile_cont(n_chars, 0.5), 4) AS q50,
      |  round(quantile_cont(n_chars, 0.75), 4) AS q75,
      |  round(quantile_cont(n_chars, 0.95), 4) AS q95
      |FROM s WHERE rk <= 8
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------- per-source cap
  /** Per-domain document cap: keep at most 40 docs per source, longest
    * first (n_chars desc, doc_id as the unique tiebreak). The gate
    * returns the per-source survivor count and id-sum; the oracle
    * replays the identical window rule. */
  val qSampleSourceCap: Q = (s, d) =>
    Sampling.capPerGroup(
        Tables.documents(s, d), "source",
        Seq(col("n_chars").desc, col("doc_id").asc), n = 40)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))
      .orderBy(col("source"))

  val qSampleSourceCapSql: String =
    """SELECT source, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept
      |FROM (
      |  SELECT source, doc_id,
      |    row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
      |  FROM documents
      |) WHERE rn <= 40
      |GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------- token-budget selection
  /** selectUnderTokenBudget under the oracle: best-quality-first
    * selection until the inclusive running token total passes 12000
    * (≈ the better-scoring half of the corpus). The Spark side is the
    * two-pass range-partitioned cumsum; the oracle is the plain global
    * window — they must agree row-for-row INCLUDING the running total,
    * so a mis-aligned partition offset fails the hash, not just the
    * boundary row. */
  val qSampleTokenBudget: Q = (s, d) => {
    val scored = Tables.documents(s, d).select(
      col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.wsTokenCount(col("text")).as("n_tok"))
    Sampling.selectUnderTokenBudget(
        scored, Seq(col("quality").desc, col("doc_id").asc), "n_tok",
        budget = 12000L)
      .select(col("doc_id"), col("quality"), col("n_tok"), col("cum_tok"))
      .orderBy(col("doc_id"))
  }

  val qSampleTokenBudgetSql: String = {
    val toksOf = """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""
    s"""WITH scored AS (
      |  SELECT doc_id, $qualitySqlExpr AS quality,
      |    (CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0
      |          ELSE len($toksOf) END)::BIGINT AS n_tok
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, quality, n_tok,
      |    CAST(sum(n_tok) OVER (ORDER BY quality DESC, doc_id
      |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
      |  FROM scored
      |)
      |SELECT doc_id, quality, n_tok, cum_tok FROM c
      |WHERE cum_tok <= 12000 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------- per-source token budgets
  /** selectUnderTokenBudgetPerGroup under the oracle: every source gets
    * a 2000-token best-first budget except src0 (1000) — the per-domain
    * curation rule. src0 is a REAL source key at every shipped SF and
    * its override is tighter than the default, so the budgets-dim join
    * visibly changes the kept set even at sf0.01 (where no source's
    * total reaches the 2000 default) — a broken override path cannot
    * pass this gate. The oracle replays the partitioned-window cumsum
    * with the same inclusive boundary. */
  val qSampleBudgetPerSource: Q = (s, d) => {
    val scored = Tables.documents(s, d).select(
      col("doc_id"), col("source"),
      TextOps.qualityScore(col("text")).as("quality"),
      TextOps.wsTokenCount(col("text")).as("n_tok"))
    Sampling.selectUnderTokenBudgetPerGroup(
        scored, "source", Seq(col("quality").desc, col("doc_id").asc), "n_tok",
        budgets = Map("src0" -> 1000L), defaultBudget = 2000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("tok_kept"),
        sum(col("doc_id")).as("sum_kept"))
      .orderBy(col("source"))
  }

  val qSampleBudgetPerSourceSql: String = {
    val toksOf = """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""
    s"""WITH scored AS (
      |  SELECT doc_id, source, $qualitySqlExpr AS quality,
      |    (CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0
      |          ELSE len($toksOf) END)::BIGINT AS n_tok
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY source
      |      ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS cum_tok
      |  FROM scored
      |)
      |SELECT source, count(*) AS n_kept,
      |  CAST(sum(n_tok) AS BIGINT) AS tok_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_kept
      |FROM c
      |WHERE cum_tok <= CASE WHEN source = 'src0' THEN 1000 ELSE 2000 END
      |GROUP BY source ORDER BY source""".stripMargin
  }

  // -------------------------------------- composed curation pipeline
  /** End-to-end corpus curation as ONE composed plan: hashed-classifier
    * scoring → sign-test filter → per-source token budgets (best-score
    * first) → per-source yield stats. Every stage reuses an operator
    * with its own green gate; this gate pins that the COMPOSITION
    * hash-matches the oracle's replay of the same three stages — scores
    * feed the budget ordering, so a drift anywhere moves the boundary
    * docs and fails the hash. */
  val qPipelineCuration: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val scored = TextOps.hashedBowScore(docs, "text", "doc_id", classifierWeights, intercept = 0.05)
      .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
      .filter(col("quality_pass"))
    Sampling.selectUnderTokenBudgetPerGroup(
        scored, "source", Seq(col("score").desc, col("doc_id").asc), "n_tok",
        budgets = Map("src0" -> 1000L), defaultBudget = 2000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_tok")).as("tok_kept"),
        sum(col("doc_id")).as("sum_kept"))
      .orderBy(col("source"))
  }

  val qPipelineCurationSql: String =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |    lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents
      |), toks AS (
      |  SELECT doc_id, unnest(string_split(t, ' ')) AS tok
      |  FROM docs WHERE length(t) > 0
      |), sc AS (
      |  SELECT doc_id, count(*) AS n_tok,
      |    sum((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 65536)
      |          * 2654435761 + 1234567) % 2000001) - 1000000) AS sm
      |  FROM toks GROUP BY doc_id
      |), scored AS (
      |  SELECT d.doc_id, d.source, COALESCE(s.n_tok, 0) AS n_tok,
      |    (CASE WHEN COALESCE(s.sm, 0) < 0
      |          THEN -((-COALESCE(s.sm, 0) * 2 + greatest(COALESCE(s.n_tok, 0), 1))
      |                 // (greatest(COALESCE(s.n_tok, 0), 1) * 2))
      |          ELSE (COALESCE(s.sm, 0) * 2 + greatest(COALESCE(s.n_tok, 0), 1))
      |               // (greatest(COALESCE(s.n_tok, 0), 1) * 2) END
      |     + 50000) / 1000000.0 AS score
      |  FROM docs d LEFT JOIN sc s USING (doc_id)
      |  WHERE COALESCE(s.sm, 0) + 50000 * greatest(COALESCE(s.n_tok, 0), 1) >= 0
      |), c AS (
      |  SELECT doc_id, source, n_tok,
      |    CAST(sum(n_tok) OVER (PARTITION BY source
      |      ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
      |      AS cum_tok
      |  FROM scored
      |)
      |SELECT source, count(*) AS n_kept,
      |  CAST(sum(n_tok) AS BIGINT) AS tok_kept,
      |  CAST(sum(doc_id) AS BIGINT) AS sum_kept
      |FROM c
      |WHERE cum_tok <= CASE WHEN source = 'src0' THEN 1000 ELSE 2000 END
      |GROUP BY source ORDER BY source""".stripMargin

  // ------------------------------------------------- quality buckets
  /** Quality-quantile curriculum bands (quartiles): per-bucket doc
    * count, id-sum, and quality range, with thresholds from the exact
    * interpolated percentile — the oracle recomputes the identical
    * distribution cut with quantile_cont and the identical
    * strictly-greater band rule. */
  val qTextQualityBuckets: Q = (s, d) =>
    TextOps.qualityBuckets(Tables.documents(s, d), "text", "doc_id")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"),
        min(col("quality")).as("min_q"), max(col("quality")).as("max_q"))
      .orderBy(col("bucket"))

  val qTextQualityBucketsSql: String =
    s"""WITH q AS (
       |  SELECT doc_id, $qualitySqlExpr AS quality FROM documents
       |), th AS (
       |  SELECT [quantile_cont(quality, 0.25),
       |          quantile_cont(quality, 0.5),
       |          quantile_cont(quality, 0.75)] AS th FROM q
       |)
       |SELECT bucket, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  min(quality) AS min_q, max(quality) AS max_q
       |FROM (SELECT doc_id, quality,
       |        CAST(len(list_filter(th.th, t -> q.quality > t)) AS BIGINT) AS bucket
       |      FROM q, th)
       |GROUP BY bucket ORDER BY bucket""".stripMargin

  // ------------------------------------------------- length quantiles
  /** Per-language exact length quantiles (p25/p50/p75/p95 of n_chars) —
    * corpus profiling before filter-threshold selection. Spark's
    * `percentile` is the exact linear-interpolation quantile, the same
    * definition as DuckDB's `quantile_cont`; both sides round to 4
    * decimals so the interpolation arithmetic hashes identically.
    * Exact percentile sorts per group — fine for a bounded group count
    * (languages); for per-document grouping use approx_percentile.
    * Quantiles are emitted as four scalar columns (not one array) so the
    * driver's pandas-based comparator can sort/hash the frame; one
    * array-percentile aggregate buffers each group's values once, with
    * the elements projected out after the agg. */
  val qTextLenQuantiles: Q = (s, d) =>
    Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        percentile(col("n_chars"),
          array(lit(0.25), lit(0.5), lit(0.75), lit(0.95))).as("qs"))
      .select(
        col("lang"), col("n_docs"),
        round(col("qs")(0).cast("double"), 4).as("q25"),
        round(col("qs")(1).cast("double"), 4).as("q50"),
        round(col("qs")(2).cast("double"), 4).as("q75"),
        round(col("qs")(3).cast("double"), 4).as("q95"))
      .orderBy(col("lang"))

  val qTextLenQuantilesSql: String =
    """SELECT lang, count(*) AS n_docs,
      |  round(quantile_cont(n_chars, 0.25), 4) AS q25,
      |  round(quantile_cont(n_chars, 0.5), 4) AS q50,
      |  round(quantile_cont(n_chars, 0.75), 4) AS q75,
      |  round(quantile_cont(n_chars, 0.95), 4) AS q95
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------ robust outliers
  /** Median/MAD outliers in event values per event type (k=3). All
    * arithmetic is double over identical interpolated medians, so the
    * boundary comparison is engine-independent; the deviation is rounded
    * only in the OUTPUT. */
  val qEventsOutliers: Q = (s, d) =>
    Outliers.madOutliers(
        Tables.events(s, d).select("event_id", "event_type", "value"), "value",
        Seq("event_type"), k = 3.0)
      .select(col("event_id"), col("event_type"), round(col("adev"), 6).as("adev"))
      .orderBy(col("event_id"))

  val qEventsOutliersSql: String =
    """WITH med AS (
      |  SELECT event_type, quantile_cont(value, 0.5) AS med
      |  FROM events GROUP BY event_type
      |), dev AS (
      |  SELECT event_id, e.event_type, abs(value - med) AS adev
      |  FROM events e JOIN med USING (event_type)
      |), mad AS (
      |  SELECT event_type, quantile_cont(adev, 0.5) AS mad
      |  FROM dev GROUP BY event_type
      |)
      |SELECT event_id, event_type, round(adev, 6) AS adev
      |FROM dev JOIN mad USING (event_type)
      |WHERE round(adev, 9) > round(3 * mad, 9)
      |ORDER BY event_id""".stripMargin

  // ------------------------------------------------------------- chunking
  /** Context-length chunking at 32 tokens, stride 24 (8-token overlap);
    * the oracle re-slices the token list per chunk index. */
  val qTextChunks: Q = (s, d) =>
    TextOps.chunkTokens(Tables.documents(s, d), "text", "doc_id",
        chunkSize = 32, stride = 24)
      .orderBy(col("doc_id"), col("chunk_id"))

  val qTextChunksSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents
      |), c AS (
      |  SELECT doc_id, toks,
      |    unnest(generate_series(1,
      |      CASE WHEN len(toks) = 0 OR toks = [''] THEN 0
      |           ELSE (len(toks) - 1) // 24 + 1 END)) AS i
      |  FROM tok
      |)
      |SELECT doc_id, (i - 1)::BIGINT AS chunk_id,
      |  len(toks[(i-1)*24+1 : least((i-1)*24+32, len(toks))])::BIGINT AS n_tok,
      |  array_to_string(toks[(i-1)*24+1 : least((i-1)*24+32, len(toks))], ' ') AS chunk
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  // ------------------------------------------------------ sequence packing
  /** Greedy per-source sequence packing at capacity 512: every document's
    * bin assignment and running fill, against a recursive-CTE oracle that
    * replays the identical fold. */
  val qTextPack: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(
      col("source"), col("doc_id"),
      TextOps.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    Packing.packSequences(docs, "source", "doc_id", "n_tokens", capacity = 512)
      .orderBy(col("doc_id"))
  }

  val qTextPackSql: String =
    """WITH RECURSIVE docs AS (
      |  SELECT source, doc_id,
      |    (CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\s+', ' ', 'g'))) = 0) THEN 0
      |          ELSE len(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) END)::BIGINT AS n_tokens,
      |    row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      |  FROM documents
      |), pack AS (
      |  SELECT source, doc_id, n_tokens, rn, CAST(0 AS BIGINT) AS bin, n_tokens AS bin_fill
      |  FROM docs WHERE rn = 1
      |  UNION ALL
      |  SELECT d.source, d.doc_id, d.n_tokens, d.rn,
      |    CASE WHEN p.bin_fill > 0 AND p.bin_fill + d.n_tokens > 512
      |         THEN p.bin + 1 ELSE p.bin END,
      |    CASE WHEN p.bin_fill > 0 AND p.bin_fill + d.n_tokens > 512
      |         THEN d.n_tokens ELSE p.bin_fill + d.n_tokens END
      |  FROM docs d JOIN pack p ON d.source = p.source AND d.rn = p.rn + 1
      |)
      |SELECT source, doc_id, n_tokens, bin, bin_fill
      |FROM pack ORDER BY doc_id""".stripMargin

  // ------------------------------------------------- PII + repetition
  /** Text cleaning: PII redaction (emails then ≥7-digit runs, with
    * deterministic injected PII so the pass provably fires on every row)
    * fingerprinted after redaction, plus the repeated-2-gram ratio. */
  val qTextClean: Q = (s, d) => {
    val injected = concat(
      col("text"), lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com or 5551234567 now"))
    Tables.documents(s, d).select(
      col("doc_id"),
      md5(TextOps.redactPii(injected).cast("binary")).as("fp_redacted"),
      round(TextOps.repetitionRatio(col("text")), 6).as("rep_ratio"))
      .orderBy(col("doc_id"))
  }

  val qTextCleanSql: String =
    """WITH g AS (
      |  SELECT doc_id, text,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents
      |), sh AS (
      |  SELECT doc_id, text, toks,
      |    [toks[i] || ' ' || toks[i+1] FOR i IN generate_series(1, len(toks) - 1)] AS grams
      |  FROM g
      |)
      |SELECT doc_id,
      |  md5(regexp_replace(regexp_replace(
      |      text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or 5551234567 now',
      |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]{7,}', '<PHONE>', 'g')) AS fp_redacted,
      |  round(CASE WHEN len(toks) <= 2 THEN 0.0
      |        ELSE 1.0 - len(list_distinct(grams))::DOUBLE / len(grams)::DOUBLE END, 6) AS rep_ratio
      |FROM sh ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- quality filter
  /** C4-style conjunctive filter: ≥20 tokens, ≤10% repeated 2-grams,
    * language in {en, de} — the oracle recomputes every feature with the
    * same formulas and applies the same predicate. */
  val qTextQualityFilter: Q = (s, d) =>
    TextOps.qualityFilter(
        Tables.documents(s, d), "text",
        minTokens = 20, maxRepetition = 0.1, langs = Seq("en", "de"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))

  val qTextQualityFilterSql: String = {
    val hits = TextOps.LangMarkers.map { case (lang, ms) => lang -> markerHitsSql(ms) }.toMap
    s"""WITH g AS (
       |  SELECT doc_id, text,
       |    string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS toks,
       |    CASE
       |      WHEN ${hits("en")} >= greatest(${hits("de")}, ${hits("fr")}, ${hits("es")}, ${hits("zh")})
       |           AND ${hits("en")} > 0 THEN 'en'
       |      WHEN ${hits("de")} >= greatest(${hits("en")}, ${hits("fr")}, ${hits("es")}, ${hits("zh")})
       |           AND ${hits("de")} > 0 THEN 'de'
       |      WHEN ${hits("fr")} >= greatest(${hits("en")}, ${hits("de")}, ${hits("es")}, ${hits("zh")})
       |           AND ${hits("fr")} > 0 THEN 'fr'
       |      WHEN ${hits("es")} >= greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("zh")})
       |           AND ${hits("es")} > 0 THEN 'es'
       |      WHEN ${hits("zh")} >= greatest(${hits("en")}, ${hits("de")}, ${hits("fr")}, ${hits("es")})
       |           AND ${hits("zh")} > 0 THEN 'zh'
       |      ELSE 'unknown' END AS lang_pred
       |  FROM documents
       |), feat AS (
       |  SELECT doc_id, lang_pred,
       |    (CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0 ELSE len(toks) END) AS n_tokens,
       |    CASE WHEN len(toks) <= 2 THEN 0.0
       |         ELSE 1.0 - len(list_distinct([toks[i] || ' ' || toks[i+1]
       |                FOR i IN generate_series(1, len(toks) - 1)]))::DOUBLE
       |              / (len(toks) - 1)::DOUBLE END AS rep_ratio
       |  FROM g
       |)
       |SELECT count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept
       |FROM feat
       |WHERE n_tokens >= 20 AND rep_ratio <= 0.1 AND lang_pred IN ('en', 'de')""".stripMargin
  }

  // ------------------------------------------------------ winnowing
  /** Winnowing fingerprint summary per document (count + min), oracle =
    * the identical k-gram/window-min construction in SQL. */
  val qTextWinnow: Q = (s, d) =>
    TextOps.winnowFingerprints(Tables.documents(s, d), "text", "doc_id", k = 5, w = 4)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_fp"), min(col("fp")).as("min_fp"))
      .orderBy(col("doc_id"))

  val qTextWinnowSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, 0 AS pos, array_to_string(toks, ' ') AS gram
      |  FROM tok WHERE len(toks) < 5
      |  UNION ALL
      |  SELECT doc_id, u.pos, u.gram FROM (
      |    SELECT doc_id, unnest([{'pos': i - 1,
      |      'gram': toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' || toks[i+4]}
      |      FOR i IN generate_series(1, len(toks) - 4)]) AS u
      |    FROM tok WHERE len(toks) >= 5
      |  )
      |), fp AS (
      |  SELECT doc_id, min(md5(gram)) OVER (
      |    PARTITION BY doc_id ORDER BY pos
      |    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS minh
      |  FROM grams
      |)
      |SELECT doc_id, count(DISTINCT minh) AS n_fp, min(minh) AS min_fp
      |FROM fp GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- decontamination
  /** Every doc_id%31==0 document plays the benchmark set; flagged corpus
    * docs share an 8-gram with one of them (the benchmark docs flag
    * themselves, plus any near-dup with a shared 8-token run). */
  val qTextDecontaminate: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 31 === 0)
    TextOps.contaminatedIds(docs, bench, "text", "doc_id", k = 8)
      .orderBy(col("doc_id"))
  }

  val qTextDecontaminateSql: String =
    """WITH tok AS (
      |  SELECT doc_id, string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) < 8 THEN [array_to_string(toks, ' ')]
      |    ELSE [toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3] || ' ' ||
      |          toks[i+4] || ' ' || toks[i+5] || ' ' || toks[i+6] || ' ' || toks[i+7]
      |          FOR i IN generate_series(1, len(toks) - 7)] END) AS gram
      |  FROM tok
      |), bench AS (
      |  SELECT DISTINCT gram FROM grams WHERE doc_id % 31 = 0
      |)
      |SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
      |ORDER BY doc_id""".stripMargin

  /** Bloom-prefiltered decontamination: identical result to
    * text_decontaminate (same oracle SQL), but the corpus grams pass an
    * executor-side Bloom filter before the exact confirming semi-join —
    * the shape that survives a benchmark set too large to broadcast. */
  val qTextDecontaminateBloom: Q = (s, d) => {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 31 === 0)
    TextOps.contaminatedIdsBloom(docs, bench, "text", "doc_id", k = 8)
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------------------ tf-idf
  /** Top-3 TF-IDF terms per document; `rk` is cast to long because Spark
    * row_number is INTEGER while DuckDB's is BIGINT. */
  val qTextTfidf: Q = (s, d) =>
    TextOps.tfidfTopTerms(Tables.documents(s, d), "text", "doc_id", topK = 3)
      .select(col("doc_id"), col("rk").cast("long").as("rk"), col("term"), col("score"))
      .orderBy(col("doc_id"), col("rk"))

  val qTextTfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
      |), dfreq AS (
      |  SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1
      |), n AS (SELECT count(*)::DOUBLE AS n_docs FROM documents),
      |scored AS (
      |  SELECT tf.doc_id, tf.term,
      |    CAST(tf.tf AS DECIMAL(17,0)) *
      |      CAST(round(ln(n.n_docs / dfreq.df), 12) AS DECIMAL(20,12)) AS score_d
      |  FROM tf JOIN dfreq USING (term) CROSS JOIN n
      |)
      |SELECT doc_id, rk, term, score FROM (
      |  SELECT doc_id, term, round(score_d::DOUBLE, 6) AS score,
      |    row_number() OVER (PARTITION BY doc_id ORDER BY score_d DESC, term) AS rk
      |  FROM scored
      |) WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin

  // ------------------------------------------------------ unigram LM score
  /** Mean ln P(token) under the corpus unigram distribution. Per-token
    * log-probs are rounded to 12 decimals and summed as exact DECIMAL on
    * both sides, so the result is independent of aggregation order. */
  val qTextLmScore: Q = (s, d) =>
    TextOps.lmScore(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val qTextLmScoreSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok WHERE term <> '' GROUP BY 1, 2
      |), cnt AS (
      |  SELECT term, CAST(sum(tf) AS BIGINT) AS n FROM tf GROUP BY 1
      |), tot AS (SELECT CAST(sum(n) AS DOUBLE) AS total FROM cnt)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
      |  round(CAST(sum(CAST(tf AS DECIMAL(17,0)) *
      |      CAST(round(ln(n::DOUBLE / tot.total), 12) AS DECIMAL(20,12))) AS DOUBLE)
      |    / CAST(sum(tf) AS BIGINT), 6) AS lm_score
      |FROM tf JOIN cnt USING (term) CROSS JOIN tot
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- DSIR importance
  /** Top 50 documents by DSIR importance score (target = the English
    * slice): mean per-token log-likelihood ratio of the Laplace-smoothed
    * target unigram LM over the raw-corpus unigram LM. Ordering is on
    * the rounded score — both engines compute it from identical exact
    * operands — with doc_id as the tie-break. */
  val qTextDsir: Q = (s, d) =>
    TextOps.dsirScores(Tables.documents(s, d), "text", "doc_id",
        col("lang") === "en")
      .orderBy(col("dsir_score").desc, col("doc_id"))
      .limit(50)

  val qTextDsirSql: String =
    """WITH tok AS (
      |  SELECT doc_id, lang = 'en' AS is_target,
      |    unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents
      |), tf AS (
      |  SELECT doc_id, is_target, term, count(*)::BIGINT AS tf
      |  FROM tok WHERE term <> '' GROUP BY 1, 2, 3
      |), raw AS (
      |  SELECT term, CAST(sum(tf) AS BIGINT) AS n_raw FROM tf GROUP BY 1
      |), tgt AS (
      |  SELECT term, CAST(sum(tf) AS BIGINT) AS n_tgt FROM tf WHERE is_target GROUP BY 1
      |), tot AS (
      |  SELECT (SELECT CAST(count(*) AS DOUBLE) FROM raw) AS vocab,
      |    (SELECT CAST(sum(n_raw) AS DOUBLE) FROM raw) AS total_raw,
      |    (SELECT CAST(sum(n_tgt) AS DOUBLE) FROM tgt) AS total_tgt
      |)
      |SELECT doc_id, n_tok, dsir_score FROM (
      |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tok,
      |    round(CAST(sum(CAST(tf AS DECIMAL(17,0)) *
      |        CAST(round(ln(((COALESCE(n_tgt, 0)::DOUBLE + 1.0) / (tot.total_tgt + tot.vocab)) /
      |                      ((n_raw::DOUBLE + 1.0) / (tot.total_raw + tot.vocab))), 12)
      |          AS DECIMAL(20,12))) AS DOUBLE)
      |      / CAST(sum(tf) AS BIGINT), 6) AS dsir_score
      |  FROM tf JOIN raw USING (term) LEFT JOIN tgt USING (term) CROSS JOIN tot
      |  GROUP BY doc_id
      |)
      |ORDER BY dsir_score DESC, doc_id
      |LIMIT 50""".stripMargin

  // ------------------------------------------------- embedding outliers
  /** Bottom-20 embeddings by cosine to the corpus centroid (exact
    * DECIMAL per-dimension sums — see Similarity.centroidOutliers). */
  val qEmbOutliers: Q = (s, d) =>
    Similarity.centroidOutliers(Tables.embeddings(s, d), bottomK = 20)
      .orderBy(col("vec_id"))

  val qEmbOutliersSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |dims AS (SELECT unnest(generate_series(1, len(v))) AS i, unnest(v) AS x FROM e),
      |cent AS (SELECT i, sum(CAST(x AS DECIMAL(38,10))) AS s FROM dims GROUP BY i),
      |cvec AS (SELECT list(s::DOUBLE ORDER BY i) AS c FROM cent)
      |SELECT vec_id, sim FROM (
      |  SELECT vec_id, round(list_cosine_similarity(v, c), 6) AS sim,
      |    row_number() OVER (ORDER BY list_cosine_similarity(v, c), vec_id) AS rk
      |  FROM e CROSS JOIN cvec
      |) WHERE rk <= 20 ORDER BY vec_id""".stripMargin

  // --------------------------------------------- principal component
  /** Top principal component of the embedding space (8 pinned power-
    * iteration rounds over the 6-dp-rounded scatter): full component
    * vector, Rayleigh eigenvalue, and explained-variance share, all in
    * exact micro-int space. The oracle rebuilds the SAME rounded scatter
    * in SQL and unrolls the identical 8 matvec+normalize rounds, so the
    * hash pins the whole derivation — one pass over data on the engine
    * side, never one per round. (The reused oracle CTEs are MATERIALIZED:
    * DuckDB inlines multiply-referenced CTEs, and the chained rounds
    * would otherwise re-expand S/raw exponentially.) */
  private def micro6(x: Double): Long =
    java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  val qEmbPca: Q = (s, d) => {
    val fit =
      Similarity.topPrincipalComponent(Tables.embeddings(s, d), "embedding", iters = 8)
    import s.implicits._
    Seq((fit.component.length.toLong, fit.component.map(micro6).mkString(","),
        micro6(fit.lambda), micro6(fit.lambda / fit.trace)))
      .toDF("dim", "pc_micro", "lambda_micro", "share_micro")
  }

  /** The shared PCA derivation (x → rounded scatter S → v8): one
    * definition behind both the component gate and the all-but-the-top
    * gate, so the fitted model in the two oracles can never drift. */
  private def pcaCtesSql: String = {
    val rounds = (1 to 8).map { t =>
      val prev = if (t == 1) "v0" else s"v${t - 1}"
      s""",
         |w$t AS MATERIALIZED (SELECT S.i AS i, sum(S.val * $prev.val) AS val
         |        FROM S JOIN $prev ON S.j = $prev.i GROUP BY S.i),
         |v$t AS MATERIALIZED (SELECT i, val / (SELECT sqrt(sum(val * val)) FROM w$t) AS val
         |        FROM w$t)""".stripMargin
    }.mkString
    s"""WITH x AS (
       |  SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE embedding IS NOT NULL),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS c FROM x),
       |idx AS (SELECT CAST(i AS INT) AS i FROM generate_series(1, 64) g(i)),
       |mu AS MATERIALIZED (SELECT i, sum(e[i]) / (SELECT c FROM nn) AS m FROM x, idx GROUP BY i),
       |raw AS MATERIALIZED (SELECT a.i AS i, b.i AS j, sum(x.e[a.i] * x.e[b.i]) AS v
       |        FROM x, idx a, idx b GROUP BY a.i, b.i),
       |S AS MATERIALIZED (SELECT r.i, r.j,
       |        round((r.v - (SELECT c FROM nn) * ma.m * mb.m)
       |              / (SELECT c FROM nn), 6) AS val
       |      FROM raw r JOIN mu ma ON ma.i = r.i JOIN mu mb ON mb.i = r.j),
       |v0 AS (SELECT i, 1.0 / sqrt(64) AS val FROM idx)$rounds""".stripMargin
  }

  val qEmbPcaSql: String =
    s"""$pcaCtesSql,
       |sv AS (SELECT S.i AS i, sum(S.val * v8.val) AS val
       |       FROM S JOIN v8 ON S.j = v8.i GROUP BY S.i),
       |lam AS (SELECT sum(v8.val * sv.val) AS l FROM v8 JOIN sv ON v8.i = sv.i),
       |tr AS (SELECT sum(val) AS t FROM S WHERE i = j)
       |SELECT CAST(64 AS BIGINT) AS dim,
       |  (SELECT string_agg(CAST(CAST(round(val * 1000000, 0) AS BIGINT) AS VARCHAR),
       |                     ',' ORDER BY i) FROM v8) AS pc_micro,
       |  CAST(round((SELECT l FROM lam) * 1000000, 0) AS BIGINT) AS lambda_micro,
       |  CAST(round((SELECT l FROM lam) / (SELECT t FROM tr) * 1000000, 0) AS BIGINT)
       |    AS share_micro""".stripMargin

  // ------------------------------------------------- all-but-the-top
  /** All-but-the-top post-processing (Mu & Viswanath, ICLR'18) under
    * the oracle: per-vector projection coefficient onto the fitted top
    * component and the post-removal norm for the first 20 vectors, in
    * micro space. The oracle refits the IDENTICAL PCA (shared CTEs) and
    * replays the centering/removal per vector, so the hash pins fit and
    * application together. */
  val qEmbAbt: Q = (s, d) => {
    val out = Similarity.removeTopComponent(
      Tables.embeddings(s, d), "embedding", iters = 8)
    val normC = sqrt(aggregate(
      transform(col("embedding_abt"), x => x * x), lit(0.0), (a, b) => a + b))
    out.filter(col("vec_id") < 20)
      .select(col("vec_id"),
        round(col("embedding_abt_coef") * 1e6, 0).cast("long").as("coef_micro"),
        round(normC * 1e6, 0).cast("long").as("norm_micro"))
      .orderBy(col("vec_id"))
  }

  val qEmbAbtSql: String =
    s"""$pcaCtesSql,
       |mul AS (SELECT list(m ORDER BY i) AS muv FROM mu),
       |cl AS (SELECT list(val ORDER BY i) AS cv FROM v8),
       |pv AS (
       |  SELECT e.vec_id, cl.cv,
       |    [e.embedding[i]::DOUBLE - mul.muv[i] FOR i IN generate_series(1, 64)] AS ctr
       |  FROM embeddings e, mul, cl WHERE e.vec_id < 20),
       |co AS (
       |  SELECT vec_id, cv, ctr,
       |    list_sum([ctr[i] * cv[i] FOR i IN generate_series(1, 64)]) AS coef
       |  FROM pv)
       |SELECT vec_id,
       |  CAST(round(coef * 1000000, 0) AS BIGINT) AS coef_micro,
       |  CAST(round(sqrt(list_sum(
       |      [(ctr[i] - coef * cv[i]) * (ctr[i] - coef * cv[i])
       |       FOR i IN generate_series(1, 64)])) * 1000000, 0) AS BIGINT)
       |    AS norm_micro
       |FROM co ORDER BY vec_id""".stripMargin

  // ------------------------------------------------- sentence-level dedup
  /** Corpus-wide first-occurrence sentence dedup (C4's line-level
    * stage); the oracle replays the identical (doc, pos) ranking. */
  val qDedupSentences: Q = (s, d) =>
    TextOps.sentenceDedup(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val qDedupSentencesSql: String =
    """WITH t AS (
      |  SELECT doc_id, string_split(text, '.') AS sents FROM documents
      |), s AS (
      |  SELECT doc_id,
      |    unnest(generate_series(1, len(sents))) AS pos, unnest(sents) AS sent
      |  FROM t
      |), kept AS (
      |  SELECT doc_id, pos, sent FROM (
      |    SELECT doc_id, pos, sent,
      |      row_number() OVER (
      |        PARTITION BY lower(trim(regexp_replace(sent, '\s+', ' ', 'g')))
      |        ORDER BY doc_id, pos) AS rk
      |    FROM s
      |    WHERE length(lower(trim(regexp_replace(sent, '\s+', ' ', 'g')))) > 0
      |  ) WHERE rk = 1
      |)
      |SELECT doc_id, count(*) AS n_kept,
      |  string_agg(sent, '.' ORDER BY pos) AS text_kept
      |FROM kept GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ corpus top-terms
  /** Vocabulary statistics: the 20 most frequent normalized tokens with
    * deterministic tie-break on the term. */
  val qTextTopterms: Q = (s, d) =>
    TextOps.topTerms(Tables.documents(s, d), "text", 20)

  val qTextToptermsSql: String =
    """SELECT term, count(*) AS n FROM (
      |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
      |  FROM documents
      |) WHERE term <> '' GROUP BY term ORDER BY n DESC, term LIMIT 20""".stripMargin

  // ------------------------------------------- exact substring spans
  /** ExactSubstr dedup (Lee et al. ACL'22) under the oracle: the same
    * injected-duplicate corpus as the minhash gates, so cross-document
    * duplicated spans exist by construction (each +200000 copy shares
    * its whole text with the original except the appended token); the
    * oracle recomputes window generation, the >=2-occurrence test, and
    * the fixed-k interval-union coverage in SQL. */
  val qDedupSubstring: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val union = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zzzz")).as("text")))
    Dedup.substringDupStats(union, "text", "doc_id", k = 30)
      .orderBy(col("doc_id"))
  }

  val qDedupSubstringSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz' FROM documents WHERE doc_id % 7 = 0
      |), docs AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t,
      |    length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS nch
      |  FROM all_docs
      |), wins AS (
      |  SELECT doc_id, u.pos AS pos, u.win AS win FROM (
      |    SELECT doc_id,
      |      unnest([{'pos': i, 'win': substr(t, i, 30)}
      |              FOR i IN generate_series(1, nch - 29)]) AS u
      |    FROM docs WHERE nch >= 30)
      |), dup AS (
      |  SELECT win FROM wins GROUP BY win HAVING count(*) >= 2
      |), dpos AS (
      |  SELECT doc_id, pos,
      |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
      |  FROM wins WHERE win IN (SELECT win FROM dup)
      |), cov AS (
      |  SELECT doc_id, count(*) AS n_dup,
      |    sum(CASE WHEN prev IS NULL THEN 30 ELSE least(30, pos - prev) END) AS covered
      |  FROM dpos GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |  CAST(COALESCE(c.n_dup, 0) AS BIGINT) AS n_dup_windows,
      |  CAST(COALESCE(c.covered, 0) AS BIGINT) AS covered_chars,
      |  round(CASE WHEN d.nch > 0 THEN COALESCE(c.covered, 0)::DOUBLE / d.nch
      |             ELSE 0.0 END, 6) AS dup_frac
      |FROM docs d LEFT JOIN cov c USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** The removal stage under the oracle: same corpus, every duplicated
    * window occurrence after the globally-first is cut; the oracle
    * rebuilds each cleaned string character-by-character in SQL. */
  val qDedupSubstringClean: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val union = docs.unionByName(docs.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 200000).as("doc_id"),
        concat(col("text"), lit(" zzzz")).as("text")))
    Dedup.substringDedupText(union, "text", "doc_id", k = 30)
      .orderBy(col("doc_id"))
  }

  val qDedupSubstringCleanSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz' FROM documents WHERE doc_id % 7 = 0
      |), docs AS (
      |  SELECT doc_id, lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t,
      |    length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS nch
      |  FROM all_docs
      |), wins AS (
      |  SELECT doc_id, u.pos AS pos, u.win AS win FROM (
      |    SELECT doc_id,
      |      unnest([{'pos': i, 'win': substr(t, i, 30)}
      |              FOR i IN generate_series(1, nch - 29)]) AS u
      |    FROM docs WHERE nch >= 30)
      |), occ AS (
      |  SELECT doc_id, pos,
      |    row_number() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rk,
      |    count(*) OVER (PARTITION BY win) AS n_occ
      |  FROM wins
      |), cuts AS (
      |  SELECT doc_id, pos FROM occ WHERE n_occ >= 2 AND rk >= 2
      |), chars AS (
      |  SELECT doc_id, u.i AS i, u.ch AS ch FROM (
      |    SELECT doc_id,
      |      unnest([{'i': i, 'ch': substr(t, i, 1)} FOR i IN generate_series(1, nch)]) AS u
      |    FROM docs WHERE nch > 0)
      |), kept AS (
      |  SELECT c.doc_id, string_agg(c.ch, '' ORDER BY c.i) AS clean_text
      |  FROM chars c
      |  WHERE NOT EXISTS (SELECT 1 FROM cuts x
      |    WHERE x.doc_id = c.doc_id AND c.i >= x.pos AND c.i < x.pos + 30)
      |  GROUP BY c.doc_id
      |)
      |SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text
      |FROM docs d LEFT JOIN kept k USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // --------------------------------------------- repetition (Gopher)
  /** Gopher repetition rules under the oracle: per-doc heaviest-2/3-gram
    * character mass and duplicated-5-gram character mass over normalized
    * length, recomputed by the oracle from the same n-gram definition. */
  val qTextRepetition: Q = (s, d) =>
    TextOps.repetitionStats(Tables.documents(s, d), "text", "doc_id")
      .orderBy(col("doc_id"))

  val qTextRepetitionSql: String =
    """WITH tok AS (
      |  SELECT doc_id,
      |    length(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS nch,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM documents
      |), grams AS (
      |  SELECT doc_id, 2 AS n,
      |    unnest([array_to_string(toks[i:i+1], ' ')
      |            FOR i IN generate_series(1, len(toks) - 1)]) AS g
      |  FROM tok WHERE len(toks) >= 2
      |  UNION ALL
      |  SELECT doc_id, 3,
      |    unnest([array_to_string(toks[i:i+2], ' ')
      |            FOR i IN generate_series(1, len(toks) - 2)])
      |  FROM tok WHERE len(toks) >= 3
      |  UNION ALL
      |  SELECT doc_id, 5,
      |    unnest([array_to_string(toks[i:i+4], ' ')
      |            FOR i IN generate_series(1, len(toks) - 4)])
      |  FROM tok WHERE len(toks) >= 5
      |), pg AS (
      |  SELECT doc_id, n, g, count(*) AS cnt, count(*) * length(g) AS mass
      |  FROM grams GROUP BY doc_id, n, g
      |), per_doc AS (
      |  SELECT doc_id,
      |    max(CASE WHEN n = 2 THEN mass END) AS top2_chars,
      |    max(CASE WHEN n = 3 THEN mass END) AS top3_chars,
      |    sum(CASE WHEN n = 5 AND cnt > 1 THEN mass END) AS dup5_chars
      |  FROM pg GROUP BY doc_id
      |)
      |SELECT t.doc_id,
      |  round(CASE WHEN t.nch > 0 THEN COALESCE(p.top2_chars, 0)::DOUBLE / t.nch ELSE 0.0 END, 6) AS top2_frac,
      |  round(CASE WHEN t.nch > 0 THEN COALESCE(p.top3_chars, 0)::DOUBLE / t.nch ELSE 0.0 END, 6) AS top3_frac,
      |  round(CASE WHEN t.nch > 0 THEN COALESCE(p.dup5_chars, 0)::DOUBLE / t.nch ELSE 0.0 END, 6) AS dup5_frac
      |FROM tok t LEFT JOIN per_doc p USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------- BPE statistics
  /** BPE round-0 merge statistic under the oracle: histogram-weighted
    * adjacent character-pair counts, top 20 (count desc, pair asc — a
    * total order since pairs are unique). The full trained tokenizer is
    * gated separately by text_bpe_tokens. */
  val qTextBpePairs: Q = (s, d) =>
    Bpe.pairCounts(Bpe.wordHistogram(Tables.documents(s, d), "text"))
      .orderBy(col("n").desc, col("pair"))
      .limit(20)

  val qTextBpePairsSql: String =
    """WITH words AS (
      |  SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS w
      |  FROM documents
      |), hist AS (
      |  SELECT w, count(*) AS cnt FROM words WHERE w <> '' GROUP BY w
      |), pairs AS (
      |  SELECT unnest([substr(w, i, 2) FOR i IN generate_series(1, length(w) - 1)]) AS pair, cnt
      |  FROM hist WHERE length(w) >= 2
      |)
      |SELECT pair, CAST(sum(cnt) AS BIGINT) AS n
      |FROM pairs GROUP BY pair ORDER BY n DESC, pair LIMIT 20""".stripMargin

  // ----------------------------------------------- full BPE tokenizer
  /** End-to-end BPE under the oracle: train 8 merges on a bounded slice
    * of the corpus ([[Bpe.trainBpe]]), encode that slice with the merge
    * table ([[Bpe.bpeTokens]]), hash the resulting token histogram. The
    * oracle REPLAYS THE TRAINING ITSELF — eight unrolled merge rounds in
    * SQL, where [[Bpe]]'s mergeOnce (left-to-right non-overlapping pair
    * merge) is a `list_reduce` whose accumulator either absorbs the next
    * symbol into its tail or appends it. Any drift in a merge choice, a
    * tie-break, or a single encoded token fails the hash. The slice is
    * doc_id < 200 so the vocabulary stays far under trainBpe's
    * `maxWords` bound at every SF — the oracle has no LIMIT on its
    * histogram, so the bound must never bind.
    *
    * Greedy lowest-rank encoding (encodeWord) coincides with replaying
    * the merges in training order: merge r's components can only be
    * produced by merges of rank < r, so rank-order sweeps see every
    * occurrence greedy would. */
  val qTextBpeTokens: Q = (s, d) => {
    val docs = Tables.documents(s, d).filter(col("doc_id") < 200)
    val merges = Bpe.trainBpe(docs, "text", rounds = 8)
    docs.select(explode(Bpe.bpeTokens(merges)(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
  }

  val qTextBpeTokensSql: String = {
    def round(r: Int): String =
      s"""pc$r AS (
         |  SELECT a, b, sum(cnt) AS n FROM (
         |    SELECT cnt,
         |      unnest([syms[i] FOR i IN generate_series(1, len(syms)-1)]) AS a,
         |      unnest([syms[i+1] FOR i IN generate_series(1, len(syms)-1)]) AS b
         |    FROM st$r WHERE len(syms) >= 2
         |  ) GROUP BY a, b HAVING sum(cnt) >= 2
         |), b$r AS (SELECT a AS ma, b AS mb FROM pc$r ORDER BY n DESC, a, b LIMIT 1
         |), st${r + 1} AS (
         |  SELECT word, cnt,
         |    CASE WHEN ma IS NULL THEN syms
         |    ELSE list_reduce(
         |      list_transform(syms, s -> [s]),
         |      (acc, x) -> CASE WHEN acc[-1] = ma AND x[1] = mb
         |                  THEN acc[1:len(acc)-1] || [acc[-1] || x[1]]
         |                  ELSE acc || x END)
         |    END AS syms
         |  FROM st$r LEFT JOIN b$r ON TRUE
         |)""".stripMargin
    """WITH docs AS (
      |  SELECT lower(trim(regexp_replace(text, '\s+', ' ', 'g'))) AS t
      |  FROM documents WHERE doc_id < 200
      |), hist AS (
      |  SELECT word, count(*) AS cnt FROM (
      |    SELECT unnest(string_split(t, ' ')) AS word FROM docs WHERE length(t) > 0
      |  ) WHERE word <> '' GROUP BY word
      |), st0 AS (
      |  SELECT word, cnt,
      |    [substr(word, i, 1) FOR i IN generate_series(1, length(word))] AS syms
      |  FROM hist
      |), """.stripMargin +
      (0 until 8).map(round).mkString(",\n") +
      """
        |SELECT token, n FROM (
        |  SELECT token, sum(cnt)::BIGINT AS n FROM (
        |    SELECT cnt, unnest(syms) AS token FROM st8
        |  ) GROUP BY token
        |) ORDER BY n DESC, token""".stripMargin
  }

  // ------------------------------------------------ incremental dedup
  /** Ingest-time dedup under the oracle: the corpus (doc_id % 3 != 0) is
    * represented only by its persisted minhash band index; the new batch
    * (doc_id % 3 == 0, plus injected near-copies of BOTH partitions)
    * probes it. Detected pairs must equal the exact all-pairs Jaccard
    * pairs that involve at least one new doc — and never a
    * corpus-vs-corpus pair, which the incremental path must not
    * recompute. */
  val qDedupIncremental: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 200000).as("doc_id"),
          concat(col("text"), lit(" zzzz")).as("text")))
    val index = Dedup.minhashIndex(corpus, "text", "doc_id",
      shingleN = 3, numHashes = 64, bands = 16)
    Dedup.incrementalNearDupPairs(fresh, corpus, index, "text", "doc_id",
      threshold = 0.8, shingleN = 3, numHashes = 64, bands = 16)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val qDedupIncrementalSql: String =
    """WITH all_docs AS (
      |  SELECT doc_id, text, doc_id % 3 = 0 AS is_new FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text || ' zzzz', TRUE
      |  FROM documents WHERE doc_id % 7 = 0
      |), tok AS (
      |  SELECT doc_id, is_new,
      |    string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ') AS toks
      |  FROM all_docs
      |), shingle_sets AS (
      |  SELECT doc_id, is_new, <<SHINGLE3>> AS sh
      |  FROM tok
      |)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |FROM shingle_sets a JOIN shingle_sets b ON a.doc_id < b.doc_id
      |WHERE (a.is_new OR b.is_new)
      |  AND len(list_intersect(a.sh, b.sh))::DOUBLE
      |      / len(list_distinct(a.sh || b.sh))::DOUBLE >= 0.8
      |ORDER BY id_a, id_b""".stripMargin
    .replace("<<SHINGLE3>>", shingle3Sql)

  // ------------------------------------------------- perceptual hash
  /** Image near-dup by perceptual aHash under the oracle: real BMP
    * payloads (plus injected byte-identical copies), hashed by decode →
    * 8×8 nearest-neighbor resample → integer gray-vs-mean bits, paired
    * through 4×16-bit band buckets, filtered at exact Hamming ≤ 3
    * (banding guarantees recall to 3 by pigeonhole). The oracle replays
    * the whole chain — pixel formula, the x·w/8 floor sampling rule,
    * strict 64·gray > Σgray bits, all-pairs Hamming — in SQL. */
  val qMultimodalPhash: Q = (s, d) => {
    val media = Multimodal.bmpMediaFromDocuments(Tables.documents(s, d))
      .select(col("media_id"), col("payload"))
    val withCopies = media.unionByName(
      media.filter(col("media_id") % 7 === 0)
        .select((col("media_id") + 200000).as("media_id"), col("payload")))
    Multimodal.phashNearDupPairs(Multimodal.imagePHash(withCopies))
      .orderBy(col("id_a"), col("id_b"))
  }

  val qMultimodalPhashSql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id, doc_id AS src FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, doc_id FROM documents WHERE doc_id % 7 = 0
      |), dims AS (
      |  SELECT media_id, src, (src % 13 + 3)::BIGINT AS w, (src % 7 + 2)::BIGINT AS h
      |  FROM media
      |), grays AS (
      |  SELECT media_id,
      |    flatten(list_transform(generate_series(0, 7), y ->
      |      list_transform(generate_series(0, 7), x ->
      |          (src * 3 + ((y * h) // 8) * 23 + ((x * w) // 8) * 29) % 256
      |        + (src * 11 + ((y * h) // 8) * 17 + ((x * w) // 8) * 5) % 256
      |        + (src * 7 + ((y * h) // 8) * 31 + ((x * w) // 8) * 13) % 256))) AS g
      |  FROM dims
      |), hashes AS (
      |  SELECT media_id,
      |    array_to_string(list_transform(g,
      |      v -> CASE WHEN v * 64 > list_sum(g) THEN '1' ELSE '0' END), '') AS phash
      |  FROM grays
      |)
      |SELECT id_a, id_b, hamming FROM (
      |  SELECT a.media_id AS id_a, b.media_id AS id_b,
      |    CAST(len(list_filter(generate_series(1, 64),
      |      i -> a.phash[i] <> b.phash[i])) AS INT) AS hamming
      |  FROM hashes a JOIN hashes b ON a.media_id < b.media_id
      |) WHERE hamming <= 3 ORDER BY id_a, id_b""".stripMargin

  // ------------------------------------------- domain-level curation
  /** Deterministic URL per document, exercising every canonicalization
    * rule at once: upper-case scheme/host + `www.` (case-folding,
    * www-strip), default ports 80/443 (dropped) next to a real :8080
    * (kept), duplicate slashes + trailing slash, tracking params
    * (utm_source/gclid/ref) interleaved with real ones, unsorted param
    * order, a fragment, and a co.uk second-level suffix for the
    * registered-domain rule. Derived with the same CASE in Spark and
    * the oracle, so both engines canonicalize the identical input. */
  private def syntheticUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    val m = col("doc_id") % 4
    when(m === 0, concat(lit("HTTP://WWW."), upper(col("source")),
        lit("-News.COM:80/a//b/"), id, lit("/?utm_source=feed&b=2&a=1#frag")))
      .when(m === 1, concat(lit("https://cdn."), col("source"),
        lit(".co.uk:443/x/"), id))
      .when(m === 2, concat(lit("https://"), col("source"),
        lit(".org/p/"), id, lit("/?gclid=xyz&id="), id))
      .otherwise(concat(lit("http://blog."), col("source"),
        lit(".net:8080/q?ref=home&z="), (col("doc_id") % 5).cast("string")))
  }

  private val syntheticUrlSql: String =
    """CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'HTTP://WWW.' || upper(source) || '-News.COM:80/a//b/' || doc_id || '/?utm_source=feed&b=2&a=1#frag'
      |      WHEN 1 THEN 'https://cdn.' || source || '.co.uk:443/x/' || doc_id
      |      WHEN 2 THEN 'https://' || source || '.org/p/' || doc_id || '/?gclid=xyz&id=' || doc_id
      |      ELSE 'http://blog.' || source || '.net:8080/q?ref=home&z=' || (doc_id % 5)
      |    END""".stripMargin

  /** DuckDB twin of [[Domains.canonicalizeUrl]]/[[Domains.registeredDomain]]
    * over a CTE named `urls(doc_id, n_chars, url)` — the same component
    * regexes (regexp_extract is engine-portable by design), the same
    * param filter/sort, the same suffix list. */
  private val domainCtesSql: String =
    """comp AS (
      |  SELECT doc_id, n_chars, url,
      |    lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)) AS sch,
      |    regexp_extract(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
      |      '^(?:[^@]*@)?(.*)$', 1) AS au,
      |    regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS rawpath,
      |    regexp_extract(regexp_extract(url, '^([^#]*)', 1), '\?(.*)$', 1) AS rawq
      |  FROM urls
      |), comp2 AS (
      |  SELECT *,
      |    regexp_replace(lower(CASE WHEN au LIKE '[%'
      |      THEN regexp_extract(au, '^(\[[^\]]*\])', 1)
      |      ELSE regexp_extract(au, '^([^:]*)', 1) END), '^www\.', '') AS host,
      |    CASE WHEN au LIKE '[%'
      |      THEN regexp_extract(au, '^\[[^\]]*\]:([0-9]+)$', 1)
      |      ELSE regexp_extract(au, '^[^:]*:([0-9]+)$', 1) END AS prt
      |  FROM comp
      |), canon0 AS (
      |  SELECT doc_id, n_chars, url, host,
      |    sch || '://' || host ||
      |    (CASE WHEN prt = '' OR (sch = 'http' AND prt = '80') OR (sch = 'https' AND prt = '443')
      |          THEN '' ELSE ':' || prt END) ||
      |    (CASE WHEN regexp_replace(rawpath, '/{2,}', '/') = '' THEN '/'
      |          ELSE regexp_replace(regexp_replace(rawpath, '/{2,}', '/'), '(.)/$', '\1') END) ||
      |    (CASE WHEN len(list_sort(list_filter(string_split(rawq, '&'),
      |            p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|msclkid|ref)=')))) = 0
      |          THEN ''
      |          ELSE '?' || array_to_string(list_sort(list_filter(string_split(rawq, '&'),
      |            p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|msclkid|ref)='))), '&') END)
      |    AS canon
      |  FROM comp2
      |), rd AS (
      |  SELECT doc_id, n_chars, url, canon,
      |    CASE WHEN host LIKE '[%' OR regexp_matches(host, '^[0-9.]+$') THEN host
      |         WHEN len(string_split(host, '.')) <= 2 THEN host
      |         WHEN array_to_string(string_split(host, '.')[-2:], '.') IN
      |           ('co.uk','org.uk','ac.uk','gov.uk','co.jp','ne.jp','or.jp',
      |            'com.au','net.au','org.au','co.nz','com.br','com.cn','com.tw',
      |            'co.in','co.kr','com.mx','com.sg','com.tr','com.ar')
      |           THEN array_to_string(string_split(host, '.')[-3:], '.')
      |         ELSE array_to_string(string_split(host, '.')[-2:], '.') END AS domain
      |  FROM canon0
      |)""".stripMargin

  /** [[Domains.canonicalizeUrl]] + [[Domains.registeredDomain]] per doc:
    * the oracle replays the full component-regex pipeline, so a drift in
    * ANY rule — port defaults, param sort, suffix list — changes bytes
    * and fails the hash. */
  val qTextUrlCanon: Q = (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), syntheticUrl.as("url"))
      .select(col("doc_id"), col("url"),
        Domains.canonicalizeUrl(col("url")).as("canon"),
        Domains.registeredDomain(col("url")).as("domain"))
      .orderBy(col("doc_id"))

  val qTextUrlCanonSql: String =
    s"""WITH urls AS (
       |  SELECT doc_id, n_chars, $syntheticUrlSql AS url FROM documents
       |), $domainCtesSql
       |SELECT doc_id, url, canon, domain FROM rd ORDER BY doc_id""".stripMargin

  /** Per-domain policy end to end: registered-domain blocklist
    * (broadcast anti-join — [[Domains.filterBlockedDomains]]) then a
    * keep-at-most-4-per-domain cap, longest doc first
    * ([[Domains.capPerDomain]], the WindowGroupLimit shape). The corpus
    * correlates source with doc_id (source = src(doc_id % 20)), so each
    * source lands on ONE url variant; the four blocked domains are
    * picked one per variant FROM domains that actually occur, so every
    * canonicalization branch feeds a real anti-join hit. */
  val qTextDomainPolicy: Q = (s, d) => {
    val blocked = Seq("src4-news.com", "src9.co.uk", "src2.org", "src15.net")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("n_chars"), syntheticUrl.as("url"))
    Domains.capPerDomain(
        Domains.filterBlockedDomains(docs, "url", blocked),
        "url", Seq(col("n_chars").desc, col("doc_id").asc), n = 4)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).as("sum_kept"))
      .orderBy(col("domain"))
  }

  val qTextDomainPolicySql: String =
    s"""WITH urls AS (
       |  SELECT doc_id, n_chars, $syntheticUrlSql AS url FROM documents
       |), $domainCtesSql
       |SELECT domain, count(*) AS n_kept, CAST(sum(doc_id) AS BIGINT) AS sum_kept
       |FROM (
       |  SELECT domain, doc_id,
       |    row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn
       |  FROM rd
       |  WHERE domain NOT IN ('src4-news.com', 'src9.co.uk', 'src2.org', 'src15.net')
       |) WHERE rn <= 4
       |GROUP BY domain ORDER BY domain""".stripMargin

  /** URL mix for the FULL-PSL gate: every rule class the Mozilla list
    * carries gets a live host — deep exact suffix (pref.aichi.jp, with
    * aichi.jp and jp shallower so longest-match is exercised), wildcard
    * (*.ck), exception (!www.ck), two-label private suffix (github.io
    * vs io), the plain com/co.uk pair, and a www. host proving the
    * algorithm collapses www WITHOUT the simple variant's strip. */
  private def pslSyntheticUrl: org.apache.spark.sql.Column = {
    val id = col("doc_id").cast("string")
    val m = col("doc_id") % 6
    when(m === 0, concat(lit("https://a.b."), col("source"),
        lit(".pref.aichi.jp/p/"), id))
      .when(m === 1, concat(lit("http://x."), col("source"), lit(".ck/q/"), id))
      .when(m === 2, concat(lit("http://"), col("source"), lit(".www.ck/r/"), id))
      .when(m === 3, concat(lit("https://www."), col("source"), lit(".com/a/"), id))
      .when(m === 4, concat(lit("https://deep.a."), col("source"),
        lit(".co.uk/x/"), id))
      .otherwise(concat(lit("http://cdn."), col("source"), lit(".github.io/p/"), id))
  }

  private val pslSyntheticUrlSql: String =
    """CASE CAST(doc_id % 6 AS INT)
      |      WHEN 0 THEN 'https://a.b.' || source || '.pref.aichi.jp/p/' || doc_id
      |      WHEN 1 THEN 'http://x.' || source || '.ck/q/' || doc_id
      |      WHEN 2 THEN 'http://' || source || '.www.ck/r/' || doc_id
      |      WHEN 3 THEN 'https://www.' || source || '.com/a/' || doc_id
      |      WHEN 4 THEN 'https://deep.a.' || source || '.co.uk/x/' || doc_id
      |      ELSE 'http://cdn.' || source || '.github.io/p/' || doc_id
      |    END""".stripMargin

  /** [[Domains.withRegisteredDomainPsl]] end to end: a PSL slice with
    * comments/blanks (file syntax), 1/2/3-label exact rules, a wildcard
    * and its exception, fed the six-variant URL mix. The oracle replays
    * the IDENTICAL algorithm — per-depth candidate keys, the same seven
    * left joins against the same (pattern → kinds) dim, exception-first
    * then deepest-match — so a drift anywhere (key construction, match
    * precedence, the pass-through guards) moves bytes and fails the
    * hash. */
  val qTextPslDomain: Q = (s, d) => {
    import s.implicits._
    val psl = Seq(
      "// ===BEGIN GATE PSL SLICE===", "",
      "com", "net", "org", "uk", "co.uk", "jp", "aichi.jp", "pref.aichi.jp",
      "*.ck", "!www.ck", "io", "github.io",
      "// ===END===").toDF("rule")
    Domains.withRegisteredDomainPsl(
        Tables.documents(s, d).select(col("doc_id"), col("source"),
          pslSyntheticUrl.as("url")),
        "url", "domain", psl)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy(col("domain"))
  }

  val qTextPslDomainSql: String =
    s"""WITH urls AS (
       |  SELECT doc_id, $pslSyntheticUrlSql AS url FROM documents
       |), psl(pat, has_e, has_r) AS (
       |  VALUES ('com', false, true), ('net', false, true), ('org', false, true),
       |         ('uk', false, true), ('co.uk', false, true), ('jp', false, true),
       |         ('aichi.jp', false, true), ('pref.aichi.jp', false, true),
       |         ('*.ck', false, true), ('www.ck', true, false),
       |         ('io', false, true), ('github.io', false, true)
       |), h AS (
       |  SELECT doc_id,
       |    lower(CASE WHEN au LIKE '[%' THEN regexp_extract(au, '^(\\[[^\\]]*\\])', 1)
       |               ELSE regexp_extract(au, '^([^:]*)', 1) END) AS host
       |  FROM (SELECT doc_id,
       |          regexp_extract(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1),
       |            '^(?:[^@]*@)?(.*)$$', 1) AS au
       |        FROM urls)
       |), k AS (
       |  SELECT doc_id, host, string_split(host, '.') AS ls,
       |    len(string_split(host, '.')) AS n
       |  FROM h
       |), c AS (
       |  SELECT doc_id, host, ls, n,
       |    CASE WHEN n >= 1 THEN array_to_string(ls[-1:], '.') END AS x1,
       |    CASE WHEN n >= 2 THEN array_to_string(ls[-2:], '.') END AS x2,
       |    CASE WHEN n >= 3 THEN array_to_string(ls[-3:], '.') END AS x3,
       |    CASE WHEN n >= 4 THEN array_to_string(ls[-4:], '.') END AS x4,
       |    CASE WHEN n >= 2 THEN '*.' || array_to_string(ls[-1:], '.') END AS y2,
       |    CASE WHEN n >= 3 THEN '*.' || array_to_string(ls[-2:], '.') END AS y3,
       |    CASE WHEN n >= 4 THEN '*.' || array_to_string(ls[-3:], '.') END AS y4
       |  FROM k
       |), j AS (
       |  SELECT c.doc_id, c.host, c.ls, c.n,
       |    p1.has_e AS e1, p1.has_r AS r1, p2.has_e AS e2, p2.has_r AS r2,
       |    p3.has_e AS e3, p3.has_r AS r3, p4.has_e AS e4, p4.has_r AS r4,
       |    w2.has_r AS wm2, w3.has_r AS wm3, w4.has_r AS wm4
       |  FROM c
       |  LEFT JOIN psl p1 ON c.x1 = p1.pat
       |  LEFT JOIN psl p2 ON c.x2 = p2.pat
       |  LEFT JOIN psl p3 ON c.x3 = p3.pat
       |  LEFT JOIN psl p4 ON c.x4 = p4.pat
       |  LEFT JOIN psl w2 ON c.y2 = w2.pat
       |  LEFT JOIN psl w3 ON c.y3 = w3.pat
       |  LEFT JOIN psl w4 ON c.y4 = w4.pat
       |), p AS (
       |  SELECT doc_id, host, ls, n, COALESCE(
       |    CASE WHEN COALESCE(e4, false) THEN 3
       |         WHEN COALESCE(e3, false) THEN 2
       |         WHEN COALESCE(e2, false) THEN 1
       |         WHEN COALESCE(e1, false) THEN 0 END,
       |    CASE WHEN COALESCE(r4, false) OR COALESCE(wm4, false) THEN 4
       |         WHEN COALESCE(r3, false) OR COALESCE(wm3, false) THEN 3
       |         WHEN COALESCE(r2, false) OR COALESCE(wm2, false) THEN 2
       |         ELSE 1 END) AS ps
       |  FROM j
       |), rd AS (
       |  SELECT doc_id,
       |    CASE WHEN host LIKE '[%' OR regexp_matches(host, '^[0-9.]+$$')
       |              OR contains(host, '*') OR host = '' THEN host
       |         WHEN n <= ps THEN host
       |         ELSE array_to_string(list_slice(ls, n - ps, n), '.') END AS domain
       |  FROM p
       |)
       |SELECT domain, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_ids
       |FROM rd GROUP BY domain ORDER BY domain""".stripMargin

  // ------------------------------- composed domain-curation pipeline
  /** Domain ops composed into the curation chain: URL canonicalization →
    * registered-domain blocklist (broadcast anti-join) → at-most-4-per-
    * domain cap (longest doc first) → hashed-classifier quality filter →
    * per-source token budget, best-score first. Each stage has its own
    * green gate (text_url_canon, text_domain_policy, text_classifier,
    * pipeline_curation); this pins the COMPOSITION: the cap decides
    * which docs reach scoring, the scores order the budget walk, and
    * the final per-source yields carry a distinct-domain count — a
    * drift in any stage moves boundary docs and fails the hash. */
  val qPipelineDomains: Q = (s, d) => {
    val blocked = Seq("src4-news.com", "src9.co.uk", "src2.org", "src15.net")
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"),
        syntheticUrl.as("url"))
    // the capped corpus (scan → blocklist anti-join → cap window) feeds
    // TWO consumers — the classifier pass and the source/domain
    // re-attachment — so cache it once instead of running the
    // dominant sub-plan twice; the ~20-row result is pinned on the
    // driver below so the cache can be released before the caller
    // consumes the frame
    Materialize.cached(Domains.capPerDomain(
        Domains.filterBlockedDomains(docs, "url", blocked),
        "url", Seq(col("n_chars").desc, col("doc_id").asc), n = 4)) { capped =>
      val scored = TextOps.hashedBowScore(capped, "text", "doc_id",
          classifierWeights, intercept = 0.05)
        .join(capped.select(col("doc_id"), col("source"), col("domain")),
          Seq("doc_id"))
        .filter(col("quality_pass"))
      val res = Sampling.selectUnderTokenBudgetPerGroup(
          scored, "source", Seq(col("score").desc, col("doc_id").asc), "n_tok",
          budgets = Map("src1" -> 800L), defaultBudget = 1500L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          countDistinct(col("domain")).as("n_domains"),
          sum(col("n_tok")).as("tok_kept"),
          sum(col("doc_id")).as("sum_kept"))
        .orderBy(col("source"))
      val rows = res.collect()
      s.createDataFrame(java.util.Arrays.asList(rows: _*), res.schema)
    }
  }

  val qPipelineDomainsSql: String =
    s"""WITH urls AS (
       |  SELECT doc_id, n_chars, $syntheticUrlSql AS url FROM documents
       |), $domainCtesSql
       |, capped AS (
       |  SELECT doc_id, domain FROM (
       |    SELECT domain, doc_id,
       |      row_number() OVER (PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rn
       |    FROM rd
       |    WHERE domain NOT IN ('src4-news.com', 'src9.co.uk', 'src2.org', 'src15.net')
       |  ) WHERE rn <= 4
       |), docs AS (
       |  SELECT d.doc_id, d.source, c.domain,
       |    lower(trim(regexp_replace(d.text, '\\s+', ' ', 'g'))) AS t
       |  FROM documents d JOIN capped c USING (doc_id)
       |), toks AS (
       |  SELECT doc_id, unnest(string_split(t, ' ')) AS tok
       |  FROM docs WHERE length(t) > 0
       |), sc AS (
       |  SELECT doc_id, count(*) AS n_tok,
       |    sum((((('0x' || substr(md5(tok), 1, 8))::BIGINT % 65536)
       |          * 2654435761 + 1234567) % 2000001) - 1000000) AS sm
       |  FROM toks GROUP BY doc_id
       |), scored AS (
       |  SELECT d.doc_id, d.source, d.domain, COALESCE(s.n_tok, 0) AS n_tok,
       |    (CASE WHEN COALESCE(s.sm, 0) < 0
       |          THEN -((-COALESCE(s.sm, 0) * 2 + greatest(COALESCE(s.n_tok, 0), 1))
       |                 // (greatest(COALESCE(s.n_tok, 0), 1) * 2))
       |          ELSE (COALESCE(s.sm, 0) * 2 + greatest(COALESCE(s.n_tok, 0), 1))
       |               // (greatest(COALESCE(s.n_tok, 0), 1) * 2) END
       |     + 50000) / 1000000.0 AS score
       |  FROM docs d LEFT JOIN sc s USING (doc_id)
       |  WHERE COALESCE(s.sm, 0) + 50000 * greatest(COALESCE(s.n_tok, 0), 1) >= 0
       |), c AS (
       |  SELECT doc_id, source, domain, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY score DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
       |  FROM scored
       |)
       |SELECT source, count(*) AS n_kept,
       |  CAST(count(DISTINCT domain) AS BIGINT) AS n_domains,
       |  CAST(sum(n_tok) AS BIGINT) AS tok_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_kept
       |FROM c
       |WHERE cum_tok <= CASE WHEN source = 'src1' THEN 800 ELSE 1500 END
       |GROUP BY source ORDER BY source""".stripMargin

  // ----------------------------- composed semantic-curation pipeline
  /** The persisted-index curation chain as ONE composed plan: quality
    * filter → temperature (α=0.5) source rebalance → semantic dedup of
    * the incoming batch against a PERSISTED ANN index
    * ([[AnnIndex.ingestSemDedupBatch]] — already-indexed corpus wins) →
    * per-source token budget, best-quality first. Every stage has its
    * own green gate; this pins that they COMPOSE through the
    * index-state path: the temperature sample decides what gets
    * indexed, the index decides what survives dedup, and the survivors'
    * quality ordering decides the budget boundary — a drift anywhere
    * moves the final per-source yields. Injected +10000 exact copies
    * are the over-threshold pairs (natural max cos ≈ 0.6 < 0.95); the
    * corpus is the low-id (< 250) prefix of the FILTERED survivors, so
    * the oracle's one-shot keep-lowest-id replay coincides with
    * already-indexed-wins exactly as in dedup_semantic_ingest. */
  val qPipelineSemantic: Q = (s, d) => {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"), col("text"))
    val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
    val allDocs = docs.unionByName(docs.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 10000).as("doc_id"), col("source"), col("text")))
    val allEmb = emb.unionByName(emb.filter(col("vec_id") % 9 === 0)
      .select((col("vec_id") + 10000).as("vec_id"), col("embedding")))
    val filt = allDocs
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .withColumn("n_tok", TextOps.wsTokenCount(col("text")))
      .filter(col("quality") > 0.2)
    val samp = Sampling.temperatureSampleByStrata(
      filt, "doc_id", "source", col("n_tok"), alpha = 0.5, SampleSeed)
    // the curated+sampled corpus feeds FOUR downstream consumers (index
    // build, ingest decisions, the kept-join, the budget walk) across
    // many index-state jobs — cache it once instead of re-running the
    // quality regexes, the rate aggregation and the md5 sample per job
    // (the same cache a real pipeline would hold at this point)
    // withScratchIndex pins the result rows on the driver, so the cache
    // can go before the caller consumes the frame
    Materialize.cached(samp.join(allEmb, col("doc_id") === col("vec_id"))) { withVec =>
      withScratchIndex("graft_gate_pipesem_") { dir =>
        val corpus = withVec.filter(col("doc_id") < 250)
        val fresh = withVec.filter(col("doc_id") >= 250)
        AnnIndex.build(corpus.select(col("vec_id"), col("embedding")), dir, nCentroids = 32)
        val keptNew = AnnIndex.ingestSemDedupBatch(
            fresh.select(col("vec_id"), col("embedding")), dir,
            threshold = 0.95, batchId = Some(1L))
          .filter(col("kept")).select(col("vec_id").as("doc_id"))
        val kept = corpus.select("doc_id", "source", "quality", "n_tok")
          .unionByName(fresh.select("doc_id", "source", "quality", "n_tok")
            .join(keptNew, Seq("doc_id")))
        Sampling.selectUnderTokenBudgetPerGroup(kept, "source",
            Seq(col("quality").desc, col("doc_id").asc), "n_tok",
            budgets = Map("src0" -> 1200L), defaultBudget = 1500L)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_kept"),
            sum(col("n_tok")).as("tok_kept"),
            sum(col("doc_id")).as("sum_kept"))
      }.orderBy(col("source"))
    }
  }

  val qPipelineSemanticSql: String = {
    val toks = """string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')"""
    val nTok = s"""CASE WHEN (text IS NULL OR length(trim(regexp_replace(text, '\\s+', ' ', 'g'))) = 0) THEN 0 ELSE len($toks) END"""
    s"""WITH all_docs AS (
       |  SELECT doc_id, source, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000, source, text FROM documents WHERE doc_id % 9 = 0
       |), all_emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 10000, embedding FROM embeddings WHERE vec_id % 9 = 0
       |), filt AS (
       |  SELECT doc_id, source, quality, (($nTok))::BIGINT AS n_tok
       |  FROM (SELECT doc_id, source, text, $qualitySqlExpr AS quality FROM all_docs)
       |  WHERE quality > 0.2
       |), tok AS (
       |  SELECT source, CAST(sum(n_tok) AS DOUBLE) AS t FROM filt GROUP BY source
       |), m AS (SELECT min(t) AS mn FROM tok),
       |r AS (SELECT source, round(pow(t / mn, -0.5), 9) AS rate FROM tok, m),
       |samp AS (
       |  SELECT f.* FROM filt f JOIN r ON f.source = r.source
       |  WHERE substring(md5(CAST(f.doc_id AS VARCHAR) || '$SampleSeed'), 1, 4) <
       |    CASE WHEN r.rate >= 1 THEN 'g'
       |         ELSE printf('%04x', CAST(floor(r.rate * 65536) AS INT)) END
       |), wv AS (
       |  SELECT s.*, e.embedding FROM samp s JOIN all_emb e ON e.vec_id = s.doc_id
       |), cent AS (
       |  SELECT doc_id AS cid, embedding AS cemb FROM wv WHERE doc_id < 250
       |  ORDER BY doc_id LIMIT 32
       |), assigned AS (
       |  SELECT doc_id, embedding, cid FROM (
       |    SELECT w.doc_id, w.embedding, c.cid,
       |      row_number() OVER (PARTITION BY w.doc_id
       |        ORDER BY list_cosine_similarity(c.cemb::DOUBLE[], w.embedding::DOUBLE[]) DESC,
       |                 c.cid) AS arn
       |    FROM wv w CROSS JOIN cent c
       |  ) WHERE arn = 1
       |), dropped AS (
       |  SELECT DISTINCT b.doc_id
       |  FROM assigned a JOIN assigned b ON a.cid = b.cid AND a.doc_id < b.doc_id
       |  WHERE b.doc_id >= 250
       |    AND round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.95
       |), kept AS (
       |  SELECT w.doc_id, w.source, w.quality, w.n_tok
       |  FROM wv w LEFT JOIN dropped d ON d.doc_id = w.doc_id
       |  WHERE d.doc_id IS NULL
       |), c AS (
       |  SELECT doc_id, source, n_tok,
       |    CAST(sum(n_tok) OVER (PARTITION BY source
       |      ORDER BY quality DESC, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tok
       |  FROM kept
       |)
       |SELECT source, count(*) AS n_kept,
       |  CAST(sum(n_tok) AS BIGINT) AS tok_kept,
       |  CAST(sum(doc_id) AS BIGINT) AS sum_kept
       |FROM c
       |WHERE cum_tok <= CASE WHEN source = 'src0' THEN 1200 ELSE 1500 END
       |GROUP BY source ORDER BY source""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "text_url_canon"      -> qTextUrlCanon,
    "text_domain_policy"  -> qTextDomainPolicy,
    "text_psl_domain"     -> qTextPslDomain,
    "pipeline_semantic"   -> qPipelineSemantic,
    "pipeline_domains"    -> qPipelineDomains,
    "ann_probe_stream"    -> qAnnProbeStream,
    "ann_lifecycle"       -> qAnnLifecycle,
    "dedup_substring"     -> qDedupSubstring,
    "text_repetition"     -> qTextRepetition,
    "text_bpe_pairs"      -> qTextBpePairs,
    "text_bpe_tokens"     -> qTextBpeTokens,
    "dedup_incremental"   -> qDedupIncremental,
    "multimodal_phash"    -> qMultimodalPhash,
    "dedup_substring_clean" -> qDedupSubstringClean,
    "dedup_clusters"      -> qDedupClusters,
    "dedup_containment"   -> qDedupContainment,
    "dedup_cluster_reps"  -> qDedupClusterReps,
    "sample_stratified"   -> qSampleStratified,
    "sample_split"        -> qSampleSplit,
    "sample_mixture"      -> qSampleMixture,
    "sample_temperature"  -> qSampleTemperature,
    "sample_quantile_sketch" -> qSampleQuantileSketch,
    "sample_stream_sketch" -> qSampleStreamSketch,
    "sample_shuffle"      -> qSampleShuffle,
    "sample_source_cap"   -> qSampleSourceCap,
    "sample_token_budget" -> qSampleTokenBudget,
    "sample_budget_per_source" -> qSampleBudgetPerSource,
    "pipeline_curation"   -> qPipelineCuration,
    "text_len_quantiles"  -> qTextLenQuantiles,
    "text_chunks"         -> qTextChunks,
    "text_topterms"       -> qTextTopterms,
    "text_pack"           -> qTextPack,
    "text_clean"          -> qTextClean,
    "text_quality_filter" -> qTextQualityFilter,
    "text_quality_buckets" -> qTextQualityBuckets,
    "text_winnow"         -> qTextWinnow,
    "text_decontaminate"  -> qTextDecontaminate,
    "text_decontaminate_bloom" -> qTextDecontaminateBloom,
    "text_tfidf"          -> qTextTfidf,
    "text_lm_score"       -> qTextLmScore,
    "text_dsir"           -> qTextDsir,
    "emb_outliers"        -> qEmbOutliers,
    "emb_pca"             -> qEmbPca,
    "emb_abt"             -> qEmbAbt,
    "dedup_sentences"     -> qDedupSentences,
    "events_sessions"     -> qEventsSessions,
    "events_stream_daily" -> qEventsStreamDaily,
    "events_stream_attrib" -> qEventsStreamAttrib,
    "events_stream_late"  -> qEventsStreamLate,
    "events_outliers"     -> qEventsOutliers,
    "events_props"        -> qEventsProps,
    "dedup_ngram_jaccard" -> qDedupNgramJaccard,
    "dedup_embedding"     -> qDedupEmbedding,
    "dedup_semantic"      -> qDedupSemantic,
    "text_classifier"     -> qTextClassifier,
    "emb_quantize"        -> qEmbQuantize,
    "ann_int8"            -> qAnnInt8,
    "ann_index_ingest"    -> qAnnIndexIngest,
    "ann_rebuild"         -> qAnnRebuild,
    "ann_index_stats"     -> qAnnIndexStats,
    "dedup_semantic_ingest" -> qDedupSemanticIngest,
    "text_heavy_hitters"  -> qTextHeavyHitters,
    "text_kmv_distinct"   -> qTextKmvDistinct,
    "text_stats"          -> qTextStats,
    "text_langid"         -> qTextLangid,
    "text_fingerprint"    -> qTextFingerprint,
    "dedup_exact"         -> qDedupExact,
    "dedup_streaming"     -> qDedupStreaming,
    "dedup_minhash"       -> qDedupMinhash,
    "dedup_minhash_kept"  -> qDedupMinhashSurvivors,
    "dedup_simhash"       -> qDedupSimhash,
    "ann_topk"            -> qAnnTopk,
    "ann_pq"              -> qAnnPq,
    "ann_ivf"             -> qAnnIvf,
    "ann_ivfpq"           -> qAnnIvfPq,
    "multimodal_features" -> qMultimodalFeatures,
    "multimodal_wav"      -> qMultimodalWav,
    "multimodal_resize"   -> qMultimodalResize,
    "multimodal_frames"   -> qMultimodalFrames)

  val oracleSql: Map[String, String] = Map(
    "dedup_substring"     -> qDedupSubstringSql,
    "text_repetition"     -> qTextRepetitionSql,
    "text_bpe_pairs"      -> qTextBpePairsSql,
    "text_bpe_tokens"     -> qTextBpeTokensSql,
    "dedup_incremental"   -> qDedupIncrementalSql,
    "multimodal_phash"    -> qMultimodalPhashSql,
    "dedup_substring_clean" -> qDedupSubstringCleanSql,
    "dedup_clusters"      -> qDedupClustersSql,
    "dedup_containment"   -> qDedupContainmentSql,
    "dedup_cluster_reps"  -> qDedupClusterRepsSql,
    "sample_stratified"   -> qSampleStratifiedSql,
    "sample_split"        -> qSampleSplitSql,
    "sample_mixture"      -> qSampleMixtureSql,
    "sample_temperature"  -> qSampleTemperatureSql,
    "sample_quantile_sketch" -> qSampleQuantileSketchSql,
    "sample_stream_sketch" -> qSampleStreamSketchSql,
    "sample_shuffle"      -> qSampleShuffleSql,
    "sample_source_cap"   -> qSampleSourceCapSql,
    "sample_token_budget" -> qSampleTokenBudgetSql,
    "sample_budget_per_source" -> qSampleBudgetPerSourceSql,
    "pipeline_curation"   -> qPipelineCurationSql,
    "text_len_quantiles"  -> qTextLenQuantilesSql,
    "text_chunks"         -> qTextChunksSql,
    "text_topterms"       -> qTextToptermsSql,
    "text_pack"           -> qTextPackSql,
    "text_clean"          -> qTextCleanSql,
    "text_quality_filter" -> qTextQualityFilterSql,
    "text_quality_buckets" -> qTextQualityBucketsSql,
    "text_winnow"         -> qTextWinnowSql,
    "text_decontaminate"  -> qTextDecontaminateSql,
    "text_decontaminate_bloom" -> qTextDecontaminateSql,
    "text_tfidf"          -> qTextTfidfSql,
    "text_lm_score"       -> qTextLmScoreSql,
    "text_dsir"           -> qTextDsirSql,
    "emb_outliers"        -> qEmbOutliersSql,
    "emb_pca"             -> qEmbPcaSql,
    "emb_abt"             -> qEmbAbtSql,
    "dedup_sentences"     -> qDedupSentencesSql,
    "events_sessions"     -> qEventsSessionsSql,
    "events_stream_daily" -> qEventsStreamDailySql,
    "events_stream_attrib" -> qEventsStreamAttribSql,
    "events_stream_late"  -> qEventsStreamLateSql,
    "events_outliers"     -> qEventsOutliersSql,
    "events_props"        -> qEventsPropsSql,
    "dedup_ngram_jaccard" -> qDedupNgramJaccardSql,
    "dedup_embedding"     -> qDedupEmbeddingSql,
    "dedup_semantic"      -> qDedupSemanticSql,
    "text_classifier"     -> qTextClassifierSql,
    "text_url_canon"      -> qTextUrlCanonSql,
    "text_domain_policy"  -> qTextDomainPolicySql,
    "text_psl_domain"     -> qTextPslDomainSql,
    "pipeline_semantic"   -> qPipelineSemanticSql,
    "pipeline_domains"    -> qPipelineDomainsSql,
    "ann_probe_stream"    -> qAnnProbeStreamSql,
    "ann_lifecycle"       -> qAnnLifecycleSql,
    "emb_quantize"        -> qEmbQuantizeSql,
    "ann_int8"            -> qAnnInt8Sql,
    "ann_index_ingest"    -> qAnnIndexIngestSql,
    "ann_rebuild"         -> qAnnRebuildSql,
    "ann_index_stats"     -> qAnnIndexStatsSql,
    "dedup_semantic_ingest" -> qDedupSemanticIngestSql,
    "text_heavy_hitters"  -> qTextHeavyHittersSql,
    "text_kmv_distinct"   -> qTextKmvDistinctSql,
    "text_stats"          -> qTextStatsSql,
    "text_langid"         -> qTextLangidSql,
    "text_fingerprint"    -> qTextFingerprintSql,
    "dedup_exact"         -> qDedupExactSql,
    "dedup_minhash"       -> qDedupMinhashSql,
    "dedup_minhash_kept"  -> qDedupMinhashSurvivorsSql,
    "dedup_simhash"       -> qDedupSimhashSql,
    "ann_topk"            -> qAnnTopkSql,
    "ann_ivf"             -> qAnnIvfSql,
    "ann_pq"              -> qAnnPqSql,
    "ann_ivfpq"           -> qAnnIvfPqSql,
    "dedup_streaming"     -> qDedupStreamingSql,
    "multimodal_features" -> qMultimodalFeaturesSql,
    "multimodal_wav"      -> qMultimodalWavSql,
    "multimodal_resize"   -> qMultimodalResizeSql,
    "multimodal_frames"   -> qMultimodalFramesSql)
}
