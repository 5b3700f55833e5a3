package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, all designed for
  * the bucketed/banded shape that survives 100 TB:
  *
  *  - exact: hash-groupBy (map-side partial agg, one shuffle on the
  *    content hash — never a self-join);
  *  - MinHash+LSH near-dup: shingle → k minhashes → bands → candidate
  *    pairs only WITHIN equal-band buckets (O(n·bands)), then exact
  *    Jaccard verification of candidates — never an all-pairs cross join;
  *  - SimHash near-dup: 64-bit signature, banded into 16-bit chunks, same
  *    bucket-join shape (Hamming-distance candidates);
  *  - n-gram Jaccard: the exact verifier, reused standalone.
  *
  * Everything is built-in expressions except the SimHash signature (a
  * deterministic scalar UDF — one long per row, negligible vs the
  * shuffle).
  */
object Dedup {

  // ------------------------------------------------------------- exact
  /** Exact dedup on normalized text: keep the smallest id per content
    * hash. Returns (id, hash) of survivors. */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), sha2(TextOps.normText(col(textCol)).cast("binary"), 256).as("content_hash"))
      .groupBy(col("content_hash"))
      .agg(min(col(idCol)).as(idCol))

  /** Streaming ingest dedup: first occurrence of each normalized content
    * hash wins across micro-batches (stateful dropDuplicates — state is
    * one hash per distinct document, checkpointed). State grows with the
    * distinct corpus; when ingest carries an event-time column, prefer
    * `streamingExactDedupWithinWatermark`, which expires state past the
    * watermark delay and bounds it by the dedup window instead. */
  def streamingExactDedup(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("__fp", sha2(TextOps.normText(col(textCol)).cast("binary"), 256))
      .dropDuplicates("__fp")
      .drop("__fp")

  /** Watermark-bounded variant: duplicates are only suppressed within the
    * watermark delay of their first occurrence, so state stays
    * proportional to the window, not the corpus — the 100 TB continuous-
    * ingest shape. `tsCol` must be a timestamp column. */
  def streamingExactDedupWithinWatermark(
      df: DataFrame, textCol: String, tsCol: String, delay: String): DataFrame =
    df.withColumn("__fp", sha2(TextOps.normText(col(textCol)).cast("binary"), 256))
      .withWatermark(tsCol, delay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  // ----------------------------------------------------------- shingles
  /** Word n-gram shingles of the normalized text (n consecutive tokens,
    * space-joined); texts shorter than n tokens get their whole token
    * string as one shingle.
    *
    * Runs as a tight scalar loop (same trade as minhashSigUdf):
    * interpreted higher-order functions evaluate a lambda tree per
    * token, and shingling is the profiled hot stage of every
    * inverted-index dedup operator. [[shinglesCatalyst]] is the
    * built-ins-only twin; a parity spec pins them char-identical
    * (including Spark's space-only trim, `split`'s kept trailing
    * empties, and the null/short-text edge cases) so the DuckDB oracle
    * mirrors stay valid. */
  def shingles(c: Column, n: Int): Column = shinglesUdf(n)(c)

  private val WsPattern = java.util.regex.Pattern.compile("\\s+")

  /** Lowercase with Spark's exact `lower()` semantics (UTF8String
    * .toLowerCase): full-ASCII strings take a locale-independent ASCII
    * fast path — so a Turkish-type default locale can never turn ASCII
    * 'I' into U+0131 — while strings containing any non-ASCII char fall
    * through to `String.toLowerCase()` (default locale), which is
    * verbatim what Spark's `toLowerCaseSlow` does. Matching the branch,
    * not imposing Locale.ROOT everywhere, is what keeps the scalar path
    * char-identical to [[shinglesCatalyst]] under EVERY default locale. */
  private[operators] def sparkLower(s: String): String = {
    var i = 0
    var ascii = true
    while (ascii && i < s.length) { if (s.charAt(i) >= 0x80) ascii = false; i += 1 }
    if (!ascii) s.toLowerCase()
    else {
      val out = new Array[Char](s.length)
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        out(j) = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
        j += 1
      }
      new String(out)
    }
  }

  private def shinglesUdf(n: Int) = udf { (text: String) =>
    if (text == null) null
    else {
      val collapsed = WsPattern.matcher(text).replaceAll(" ")
      // Spark's trim strips ' ' only — NOT all <= 0x20 like String.trim
      var b = 0
      var e = collapsed.length
      while (b < e && collapsed.charAt(b) == ' ') b += 1
      while (e > b && collapsed.charAt(e - 1) == ' ') e -= 1
      val normed = sparkLower(collapsed.substring(b, e))
      val toks: Array[String] = normed.split(" ", -1) // -1: Spark keeps trailing empties
      if (toks.length < n) Seq(toks.mkString(" "))
      else {
        val out = new Array[String](toks.length - n + 1)
        var i = 0
        while (i + n <= toks.length) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
          out(i) = sb.toString
          i += 1
        }
        out.toSeq
      }
    }
  }

  /** The Catalyst-built-ins shingle pipeline (normText → tokens →
    * n-gram transform) — retained as the parity reference for the
    * scalar path above. */
  private[operators] def shinglesCatalyst(c: Column, n: Int): Column = {
    val toks = TextOps.tokens(c)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Exact Jaccard similarity of two shingle arrays. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val union = size(array_union(a, b)).cast("double")
    when(union === 0, lit(0.0)).otherwise(inter / union)
  }

  // -------------------------------------------------------- containment
  /** Near-dup pairs by shingle CONTAINMENT — |A∩B| / min(|A|,|B|) over
    * distinct word n-grams. Jaccard (and MinHash-LSH, which recalls by
    * Jaccard) structurally misses a small document embedded in a large
    * one: the union is dominated by the large doc, so Jaccard stays low
    * while the snippet is a verbatim copy. Containment normalizes by the
    * smaller side and catches exactly that case.
    *
    * Scale shape: an inverted-index join, not all-pairs — explode
    * distinct shingles (one shuffle keyed on shingle), pair documents
    * that share a shingle, count shared shingles per pair, divide by the
    * smaller doc's shingle count. The document-frequency cap
    * (`maxShingleDf`) is the hot-key bound: a shingle occurring in more
    * than that many docs (boilerplate) is dropped BEFORE pairing, so no
    * shingle contributes more than maxShingleDf² candidate pairs and the
    * join never degenerates on stop-phrases. The cap is part of the
    * operator's contract (capped containment), mirrored by the oracle. */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = 64): DataFrame = {
    // cached: the raw index feeds BOTH sides of the df-cap join (the
    // aggregate that finds keepable shingles, and the probe side), and
    // the tokenize+shingle+explode pass over the corpus is the single
    // most expensive stage of this operator (profiled at sf0.1: ~4.4 s
    // of a 12 s query, and it ran twice) — caching it halves the index
    // build and leaves everything downstream reading columnar cache
    val rawIndex = Scans.widenIfNarrow(df.select(
        col(idCol).cast("long").as("id"), col(textCol).as("__txt")))
      .select(col("id"),
        explode(array_distinct(shingles(col("__txt"), n))).as("sh"))
    val (sizes, shared) = Materialize.cached(rawIndex) { sh =>
      // cached: the pruned inverted index feeds the size aggregation
      // and the pairing stage. The df filter stays a shuffle join keyed on
      // the shingle (NOT a broadcast anti-join against the hot set): hot
      // shingles in a zipfian corpus can number in the millions at 100 TB,
      // while the shuffle join is skew-safe under AQE at any scale.
      val prunedIndex = sh.join(
        sh.groupBy(col("sh")).agg(count(lit(1)).as("sdf"))
          .filter(col("sdf") <= maxShingleDf)
          .select("sh"),
        Seq("sh"))
      // Both index consumers are materialized eagerly (sizes is one row
      // per doc, shared one per candidate pair — tiny next to the index),
      // which cuts their lineage and lets each cache release as soon as
      // its last consumer is done. The final containment join below
      // stays lazy.
      Materialize.cached(prunedIndex) { kept =>
        val sizes = kept.groupBy(col("id")).agg(count(lit(1)).as("sz"))
          .localCheckpoint() // materializes kept
        // the raw index is done: release it before the pairing stage
        // (the enclosing block still releases it on the failure path)
        sh.unpersist()
        // Pairing groups each shingle's (cap-bounded, ≤ maxShingleDf)
        // doc list once and explodes the C(k,2) ordered pairs narrowly —
        // one shuffle of the index instead of the two a self-join needs,
        // with identical semantics (pairs of distinct docs sharing the
        // shingle). The collect_list is safe ONLY because the df filter
        // above already dropped hot shingles; collecting before capping
        // would rebuild the hot-key hazard the cap exists to bound.
        val ids = col("ids")
        val pairsOfIds = flatten(
          transform(sequence(lit(0), size(ids) - 2), i =>
            transform(
              slice(ids, i + 2, size(ids)),
              b => struct(element_at(ids, i + 1).as("id_a"), b.as("id_b")))))
        val shared = kept.groupBy(col("sh"))
          .agg(sort_array(collect_list(col("id"))).as("ids"))
          .filter(size(ids) > 1)
          .select(explode(pairsOfIds).as("p"))
          .groupBy(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
          .agg(count(lit(1)).as("inter"))
          .localCheckpoint()
        (sizes, shared)
      }
    }
    shared
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), Seq("id_b"))
      .withColumn("containment",
        round(col("inter").cast("double") / least(col("sz_a"), col("sz_b")).cast("double"), 6))
      .filter(col("containment") >= threshold)
      .select(col("id_a"), col("id_b"), col("containment"))
  }

  // ------------------------------------------------------------ minhash
  // (signatures come from minhashSigUdf below — ONE hash family,
  // splitmix64 over the shingle rolling hash, shared by every index and
  // scoring path; a Catalyst xxhash64 twin was removed because its
  // signatures could never match an index built here)

  @inline private def splitmix64(x0: Long): Long = {
    var h = x0 + 0x9e3779b97f4a7c15L
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  /** Tight scalar implementation of shingling + minhash: one string hash
    * per shingle, k splitmix rounds per shingle, all in a single JVM
    * loop. Interpreted Catalyst higher-order functions evaluate lambda
    * trees per element; for the signature hot loop a deterministic
    * scalar function is an order of magnitude faster (the same trade
    * Spark MLlib's MinHashLSH makes). */
  private def minhashSigUdf(shingleN: Int, numHashes: Int) =
    udf { (toks: Seq[String]) =>
      val mins = Array.fill(numHashes)(Long.MaxValue)
      if (toks != null && toks.nonEmpty) {
        val n = math.max(1, toks.length - shingleN + 1)
        var i = 0
        while (i < n) {
          val shingle =
            if (toks.length < shingleN) toks.mkString(" ")
            else { val sb = new StringBuilder(toks(i))
              var j = 1; while (j < shingleN) { sb.append(' ').append(toks(i + j)); j += 1 }
              sb.toString() }
          val base = splitmix64(TextOps.rollingHash(shingle))
          var k = 0
          while (k < numHashes) {
            val h = splitmix64(base ^ (k * 0x9e3779b97f4a7c15L))
            if (h < mins(k)) mins(k) = h
            k += 1
          }
          i += 1
        }
      }
      mins
    }

  /** Candidate near-dup pairs via LSH banding: signature split into
    * `bands` bands of `rowsPerBand`, a bucket per (band index, band
    * hash); pairs are formed only within buckets. Returns distinct
    * (id_a < id_b) candidate pairs with their shingle arrays for
    * verification. */
  /** The LSH banding itself: one `(id, band, band_hash)` row per (doc,
    * band). This IS the persistable dedup index — band rows carry no
    * text, so a corpus's index is O(docs·bands) longs and can be stored
    * once and probed by every later ingest batch (see
    * [[incrementalNearDupPairs]]). */
  def minhashIndex(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // bands > numHashes gives zero-length slices (every band hashes ""
    // → the whole corpus in one bucket); a non-dividing count silently
    // ignores the trailing hashes the caller paid for
    require(bands >= 1 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must divide numHashes ($numHashes)")
    val rowsPerBand = numHashes / bands
    // widened before tokenize+signature: the per-doc UDF (shingle rolling
    // hashes × numHashes) is the hot stage, and a narrow scan would run
    // it on 1-2 cores (guide §2.5; no-op on an already-wide input)
    Scans.widenIfNarrow(df.select(col(idCol).as("id"), col(textCol).as("__txt")))
      .select(col("id"), TextOps.tokens(col("__txt")).as("toks"))
      .withColumn("sig", minhashSigUdf(shingleN, numHashes)(col("toks")))
      .select(
        col("id"),
        posexplode(transform(
          sequence(lit(0), lit(bands - 1)),
          b => xxhash64(concat_ws(",",
            transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)), _.cast("string")))))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  def lshCandidatePairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame = {
    // materialized ONCE: the shingle pass (normalize + tokenize +
    // n-gram, the profiled hot stage) otherwise re-runs for EACH of the
    // two per-candidate join-backs below — Spark does not share common
    // subtrees across a self-referencing plan. localCheckpoint trades
    // one disk-backed write of the shingle arrays (the same bytes the
    // join would shuffle anyway) for a full second UDF pass over the
    // corpus; the containment operator makes the identical trade.
    val withShingles = Scans.widenIfNarrow(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")))
      .select(col("id"), shingles(col("__txt"), shingleN).as("sh"))
      .localCheckpoint()
    // band rows carry ONLY (band, band_hash, id): the heavy shingle
    // arrays are not replicated through the bands×N explosion or its
    // shuffle — they are joined back per candidate pair afterwards
    val banded = minhashIndex(df, textCol, idCol, shingleN, numHashes, bands)
    // bucket self-join: only rows sharing (band, band_hash) ever meet —
    // the shuffle key is the bucket, never a cartesian. Hot buckets (at
    // 100 TB a near-dup cluster can put millions of docs in one bucket,
    // making the self-join quadratic) switch to star pairing against the
    // bucket minimum: O(K) pairs instead of O(K²). Buckets that large are
    // overwhelmingly same-content clusters, where the star is enough for
    // the drop policy (everything pairs with the min and is dropped).
    val pairs = bucketCandidatePairs(
      banded.select(col("band"), col("band_hash"), col("id")),
      Seq("band", "band_hash"), "id", hotThreshold = 64)
    pairs
      .join(withShingles.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(withShingles.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("sh_a"), col("sh_b"))
  }

  /** Verified near-dup pairs: LSH candidates with exact Jaccard ≥
    * `threshold`. */
  def minhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.6,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8): DataFrame =
    lshCandidatePairs(df, textCol, idCol, shingleN, numHashes, bands)
      .withColumn("jaccard", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Near-dedup: drop every doc that has a verified near-dup with a
    * smaller id (one pass; survivors = docs that are nobody's larger
    * twin). */
  def minhashDedup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.6,
      shingleN: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16): DataFrame = {
    val drop = minhashNearDupPairs(df, textCol, idCol, threshold, shingleN, numHashes, bands)
      .select(col("id_b").as(idCol)).distinct()
    df.join(drop, Seq(idCol), "left_anti")
  }

  // -------------------------------------------------- incremental dedup
  /** Incremental near-dup detection for a continuously-ingested corpus:
    * verified pairs (exact Jaccard ≥ threshold) in which at least one
    * side belongs to the NEW batch — new-vs-corpus and new-vs-new, never
    * corpus-vs-corpus. Per-ingest cost scales with the BATCH, not the
    * corpus:
    *
    *  - the corpus is represented by its persisted [[minhashIndex]]
    *    (O(docs·bands) longs, built once); its text is only re-read for
    *    docs that actually become candidates;
    *  - corpus index rows are semi-joined down to buckets the new batch
    *    touches BEFORE any pairing, so untouched corpus buckets never
    *    enter a shuffle;
    *  - a corpus-hot bucket (a huge same-content cluster) pairs each new
    *    doc against the bucket minimum only — O(new) pairs, the same
    *    star bound as the batch path.
    *
    * `corpus` must be the docs the index was built from (same id/text
    * columns); signature parameters must match the index build. */
  def incrementalNearDupPairs(
      newDocs: DataFrame,
      corpus: DataFrame,
      corpusIndex: DataFrame,
      textCol: String,
      idCol: String,
      threshold: Double = 0.6,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      hotBucketThreshold: Int = 64,
      precomputedNewIndex: Option[DataFrame] = None): DataFrame = {
    // the ingest loop passes the new-side index it must persist anyway,
    // so the signature UDF runs once per batch, not once per consumer
    val newIndex = precomputedNewIndex.getOrElse(
      minhashIndex(newDocs, textCol, idCol, shingleN, numHashes, bands))
    val newBuckets = newIndex.select(col("band"), col("band_hash")).distinct()
    val probedCorpus = corpusIndex
      .join(newBuckets, Seq("band", "band_hash"), "left_semi")
    val probed = probedCorpus.withColumn("is_new", lit(false))
      .unionByName(newIndex.withColumn("is_new", lit(true)))
    val w = Window.partitionBy(col("band"), col("band_hash"))
    val sized = probed
      .withColumn("bucket_n", count(lit(1)).over(w))
      .withColumn("bucket_min", min(col("id")).over(w))
    val small = sized.filter(col("bucket_n") <= hotBucketThreshold)
    val a = small.select(col("band"), col("band_hash"), col("id").as("id_a"), col("is_new").as("new_a"))
    val b = small.select(col("band"), col("band_hash"), col("id").as("id_b"), col("is_new").as("new_b"))
    val smallPairs = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b") && (col("new_a") || col("new_b")))
      .select(col("id_a"), col("id_b"))
    // hot buckets: candidates stay O(#new members), never O(bucket) —
    // NEW members star against the bucket minimum, and when the minimum
    // is itself a new doc it pairs once with the smallest CORPUS member
    // (so the adopting batch is still verified against the corpus). The
    // old rule ("everything pairs with the min when the min is new")
    // made one new doc with a small id re-shingle an entire corpus-sized
    // same-content bucket — exactly the corpus-vs-corpus work the
    // incremental operator exists to avoid.
    val hot = sized.filter(col("bucket_n") > hotBucketThreshold)
      .withColumn("corpus_min",
        min(when(!col("is_new"), col("id"))).over(w))
    val hotPairs = hot
      .filter(col("is_new") && col("id") =!= col("bucket_min"))
      .select(col("bucket_min").as("id_a"), col("id").as("id_b"))
      .unionByName(hot
        .filter(col("is_new") && col("id") === col("bucket_min") &&
          col("corpus_min").isNotNull)
        .select(col("id").as("id_a"), col("corpus_min").as("id_b")))
    val pairs = smallPairs.unionByName(hotPairs).distinct()
    // re-shingle ONLY candidate docs: semi-joins keep this batch-sized
    val allDocs = corpus.select(col(idCol).as("id"), col(textCol).as("t"))
      .unionByName(newDocs.select(col(idCol).as("id"), col(textCol).as("t")))
    def shingleSide(side: String) =
      allDocs.join(pairs.select(col(side).as("id")).distinct(), Seq("id"), "left_semi")
        .select(col("id").as(side), shingles(col("t"), shingleN).as(s"sh_$side"))
    pairs
      .join(shingleSide("id_a"), Seq("id_a"))
      .join(shingleSide("id_b"), Seq("id_b"))
      .withColumn("jaccard", jaccard(col("sh_id_a"), col("sh_id_b")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** `foreachBatch` form of [[incrementalNearDupPairs]] — the ingest-time
    * dedup loop: probe the persisted index with the incoming batch, emit
    * the batch's verified near-dup pairs, then append the batch's band
    * rows and docs so the NEXT batch sees them. State is two parquet
    * directories (band index + corpus text), both append-only; per-batch
    * cost is batch-sized (see [[incrementalNearDupPairs]]) and the index
    * grows O(docs·bands) — the shape that lets a 100 TB corpus dedup new
    * data forever without re-pairing itself.
    *
    * The returned pairs are materialized (localCheckpoint) BEFORE the
    * appends, so the lazily-read index/corpus can't observe the batch's
    * own appended rows.
    *
    * State paths go through the Hadoop FileSystem API, so the dirs may
    * live on any supported store (HDFS/S3A/local), not just local POSIX.
    * Pass foreachBatch's `batchId` to make the STATE retry-safe under
    * its at-least-once semantics: each batch then writes its rows into a
    * per-batch subdirectory with overwrite, so a retried batch replaces
    * its own partial output instead of appending a duplicate copy (the
    * returned pairs are still re-emitted on retry — deduplicating the
    * emission is the sink's half of the contract, as with any
    * foreachBatch pipeline). Without a batchId, writes are plain appends
    * and a retry duplicates state. */
  def ingestNearDupBatch(
      batch: DataFrame,
      textCol: String,
      idCol: String,
      indexDir: String,
      corpusDir: String,
      threshold: Double = 0.6,
      shingleN: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      batchId: Option[Long] = None): DataFrame = {
    val spark = batch.sparkSession
    val batchDocs = batch.select(col(idCol), col(textCol))
    // one signature pass per batch: the index we persist is also the
    // index the pairing probe uses
    val batchIndex = minhashIndex(batch, textCol, idCol, shingleN, numHashes, bands)
      .localCheckpoint()
    // On a foreachBatch RETRY the state may already hold the failed
    // attempt's rows — they must not be read back as corpus (the batch's
    // docs would sit on both sides of the probe, inflating bucket sizes
    // past hotBucketThreshold and duplicating output rows). Two layers:
    // the batch_<id> subdir is skipped by NAME (fast path), and the
    // batch's ids are anti-joined out of whatever remains — that covers
    // rows a compaction already folded into a compact_<n> dir, which the
    // name skip cannot see, making the maintenance hook safe to run
    // between ingest and checkpoint commit.
    val skip = batchId.map(id => s"batch_$id").toSet
    val batchIds = batchDocs.select(col(idCol)).distinct()
    val corpus = readIngestState(spark, corpusDir, batchDocs.schema, skip)
      .join(batchIds, Seq(idCol), "left_anti")
    val index = readIngestState(spark, indexDir, batchIndex.schema, skip)
      .join(batchIds.select(col(idCol).as("id")), Seq("id"), "left_anti")
    val pairs = incrementalNearDupPairs(
        batch, corpus, index, textCol, idCol,
        threshold, shingleN, numHashes, bands,
        precomputedNewIndex = Some(batchIndex))
      .localCheckpoint() // materialize before the state appends below
    def writeState(df: DataFrame, dir: String): Unit = batchId match {
      case Some(id) => df.write.mode("overwrite").parquet(s"$dir/batch_$id")
      case None     => df.write.mode("append").parquet(dir)
    }
    writeState(batchIndex, indexDir)
    writeState(batchDocs, corpusDir)
    pairs
  }

  /** Read one ingest-state directory: all root-level parquet plus every
    * `batch_*` / `compact_*` subdirectory, EXCEPT subdirs named in
    * `skipDirs` (the current retrying batch) and subdirs a compaction has
    * subsumed (listed in a compact dir's `_SUBSUMES` sidecar). The
    * sidecar makes compaction crash-safe: the moment a compact dir and
    * its `_SUBSUMES` are committed, the subsumed subdirs are invisible to
    * readers even if the subsequent deletes never ran. */
  private def readIngestState(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      skipDirs: Set[String]): DataFrame = {
    val (fs, root) = stateFs(spark, dir)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    if (!fs.exists(root)) return empty
    val entries = fs.listStatus(root)
    val subsumed = entries.iterator
      .filter(e => e.isDirectory && e.getPath.getName.startsWith("compact_"))
      .flatMap(e => readSubsumes(fs, e.getPath))
      .toSet
    val paths = entries.iterator.filter { e =>
      val n = e.getPath.getName
      // only batch_/compact_ subdirs are state; an in-flight compaction's
      // tmp_compact_* dir is invisible until its atomic rename
      if (e.isDirectory)
        (n.startsWith("batch_") || n.startsWith("compact_")) &&
          !skipDirs(n) && !subsumed(n)
      else !n.startsWith("_") && !n.startsWith(".") // root-level appends
    }.map(_.getPath.toString).toSeq
    if (paths.isEmpty) empty
    else spark.read.schema(schema).parquet(paths: _*)
  }

  private[operators] def stateFs(spark: org.apache.spark.sql.SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private[operators] def readSubsumes(
      fs: org.apache.hadoop.fs.FileSystem,
      compactDir: org.apache.hadoop.fs.Path): Seq[String] = {
    val f = new org.apache.hadoop.fs.Path(compactDir, "_SUBSUMES")
    if (!fs.exists(f)) Nil
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .map(_.trim).filter(_.nonEmpty).toList
      finally in.close()
    }
  }

  /** The shared PAIRING CORE of every banded near-dup scheme here
    * (minhash LSH bands, simhash 16-bit chunks, perceptual-hash bands):
    * rows sharing a bucket meet through an equi-join on the bucket key —
    * never a cartesian — and buckets past `hotThreshold` switch to STAR
    * pairing against the bucket minimum: O(K) pairs instead of O(K²),
    * sound because buckets that large are overwhelmingly same-content
    * piles, where the star suffices for a keep-min drop policy. One
    * definition so a recall-policy fix cannot land in one scheme and
    * drift from the others. Input: `idCol` + the bucket key columns;
    * output: DISTINCT (id_a < id_b) id pairs only — callers join their
    * payloads (shingles, signatures, hashes) back per CANDIDATE, which
    * stays linear in candidates however hot the bucket. */
  private[operators] def bucketCandidatePairs(
      buckets: DataFrame, bucketCols: Seq[String], idCol: String,
      hotThreshold: Int): DataFrame = {
    val w = Window.partitionBy(bucketCols.map(col): _*)
    val sized = buckets
      .withColumn("__bucket_n", count(lit(1)).over(w))
      .withColumn("__bucket_min", min(col(idCol)).over(w))
    val small = sized.filter(col("__bucket_n") <= hotThreshold)
    val smallPairs = small
      .select(bucketCols.map(col) :+ col(idCol).as("id_a"): _*)
      .join(small.select(bucketCols.map(col) :+ col(idCol).as("id_b"): _*),
        bucketCols)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    val hotPairs = sized
      .filter(col("__bucket_n") > hotThreshold && col(idCol) =!= col("__bucket_min"))
      .select(col("__bucket_min").as("id_a"), col(idCol).as("id_b"))
    smallPairs.unionByName(hotPairs).distinct()
  }

  /** Shared HEAD of every staged fold (ingest state, ANN batch dirs,
    * tombstones, probe results): delete crashed staging — an uncommitted
    * `tmpPrefix` entry is garbage by construction, the rename that would
    * have committed it never ran — and finish a committed fold's
    * half-done deletes (every entry named by a `foldDirPrefix` dir's
    * `_SUBSUMES` sidecar; dirs without a sidecar contribute nothing). */
  private[operators] def sweepFoldLeftovers(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      tmpPrefix: String,
      foldDirPrefix: String): Unit = {
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(tmpPrefix))
      .foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
    fs.listStatus(root).filter(_.isDirectory)
      .filter(_.getPath.getName.startsWith(foldDirPrefix))
      .flatMap(e => readSubsumes(fs, e.getPath)).toSet
      .foreach((n: String) => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
  }

  /** Shared TAIL of every staged fold — this sequence IS the crash-safety
    * argument, so it exists ONCE: the `_SUBSUMES` sidecar (and any extra
    * sidecar files) are written INSIDE the invisible staging dir, one
    * atomic rename to `targetName` is the commit point (from that
    * instant readers honor the sidecar and the folded entries are
    * invisible), and the folded entries are deleted after (a crash
    * mid-delete leaves duplicates on DISK, never in a read — the next
    * sweep finishes the job). */
  private[operators] def commitFold(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      stagingName: String,
      targetName: String,
      folded: Seq[String],
      extraSidecars: Seq[(String, String)] = Nil): Unit = {
    def writeSidecar(name: String, body: String): Unit = {
      val out = fs.create(
        new org.apache.hadoop.fs.Path(root, s"$stagingName/$name"), true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    writeSidecar("_SUBSUMES", folded.mkString("", "\n", "\n"))
    extraSidecars.foreach { case (n, b) => writeSidecar(n, b) }
    if (!fs.rename(new org.apache.hadoop.fs.Path(root, stagingName),
        new org.apache.hadoop.fs.Path(root, targetName)))
      throw new IllegalStateException(
        s"fold commit rename failed: $root/$stagingName -> $targetName")
    folded.foreach(n => fs.delete(new org.apache.hadoop.fs.Path(root, n), true))
  }

  /** Compact the per-batch state subdirs [[ingestNearDupBatch]] leaves
    * behind: the ingest loop writes one small parquet dir per
    * micro-batch, a linear small-files pile at 100 TB ingest cadence.
    * Compaction rewrites every live subdir into ONE `compact_<n>` dir
    * with `targetPartitions` files, via a staging protocol that is safe
    * at every crash point:
    *
    *  1. data + `_SUBSUMES` sidecar are written under `tmp_compact_<n>`,
    *     a name readers never pick up (crash here = orphan tmp dir,
    *     cleaned by the next compaction);
    *  2. one atomic rename to `compact_<n>` is the commit point — from
    *     that instant readers honor the sidecar and the old subdirs are
    *     invisible (crash here = duplicates on DISK, never in a read);
    *  3. the subsumed subdirs are deleted (rerunning compaction finishes
    *     a half-done delete).
    *
    * The ingest loop and compaction must not race the SAME state dirs —
    * run it from the foreachBatch hook (after [[ingestNearDupBatch]]
    * returns) or a maintenance window. The NEWEST batch_<id> is never
    * folded: under at-least-once redelivery only the last uncommitted
    * batch can be retried, and folding it would let the retry's fresh
    * batch_<id> write duplicate rows the compact dir already holds —
    * every earlier batch has committed and is safe to fold. (The ingest
    * read additionally anti-joins the current batch's ids out of the
    * state as defense in depth.)
    * Returns the number of subdirs compacted (0 = nothing to do). */
  def compactIngestState(
      spark: org.apache.spark.sql.SparkSession,
      dir: String,
      schema: org.apache.spark.sql.types.StructType,
      targetPartitions: Int = 8): Int = {
    val (fs, root) = stateFs(spark, dir)
    if (!fs.exists(root)) return 0
    val (live, gen) = foldableState(fs, root, "batch_", "compact_", "tmp_compact_")
    if (live.length <= 1) return 0
    val staging = s"tmp_compact_$gen"
    spark.read.schema(schema).parquet(live.map(n => s"$dir/$n"): _*)
      .repartition(targetPartitions)
      .write.mode("overwrite").parquet(s"$dir/$staging")
    commitFold(fs, root, staging, s"compact_$gen", live)
    live.length
  }

  /** The scan/protect/generation HEAD shared by every per-batch state
    * compaction (the crash-safety TAIL is [[commitFold]]): sweep
    * leftovers of earlier crashed runs (orphan staging dirs and subdirs
    * an already-committed fold subsumed), list the live state dirs,
    * protect the numerically-newest batch — it is the only one an
    * at-least-once retry can redeliver, and its retry-overwrite
    * contract needs the dir to still exist — and pick the next
    * generation. Suffix parses are digit-guarded, so a stray
    * prefix-matching dir with a non-numeric suffix can never wedge
    * compaction with a NumberFormatException. Returns (foldable dirs,
    * next generation); fewer than two foldable dirs = nothing worth
    * folding. */
  private[operators] def foldableState(
      fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      batchPrefix: String, compactPrefix: String,
      tmpPrefix: String): (Seq[String], Long) = {
    sweepFoldLeftovers(fs, root, tmpPrefix, compactPrefix)
    val all = fs.listStatus(root).filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => n.startsWith(batchPrefix) || n.startsWith(compactPrefix))
      .sorted.toSeq
    def batchNum(n: String): Option[Long] = {
      val d = n.stripPrefix(batchPrefix).takeWhile(_.isDigit)
      if (n.startsWith(batchPrefix) && d.nonEmpty) Some(d.toLong) else None
    }
    val newestBatch = all.flatMap(n => batchNum(n).map(_ -> n))
      .sortBy(_._1).lastOption.map(_._2)
    val live = all.filterNot(newestBatch.contains)
    val gen = live.filter(_.startsWith(compactPrefix))
      .map(_.stripPrefix(compactPrefix).takeWhile(_.isDigit))
      .filter(_.nonEmpty).map(_.toLong).foldLeft(0L)(math.max) + 1
    (live, gen)
  }

  // ----------------------------------------------- duplicate clustering
  /** Connected components over an undirected near-dup pair set: every
    * node is labeled with the smallest id reachable from it, turning the
    * pairwise near-dup relation into duplicate CLUSTERS (pick-one-per-
    * cluster is the survivor policy a training corpus actually needs —
    * pairwise drop alone over-deletes when A~B and B~C but A!~C).
    *
    * Shape for scale: each round does one hop of min-label propagation
    * over the edges (join on src + groupBy dst) AND one pointer-jumping
    * hop (label ← label of label), so the effective label reach doubles
    * per round — O(log diameter) rounds even for adversarial chain-shaped
    * components, not O(diameter). Near-dup components are usually tiny-
    * diameter anyway (the hot-bucket star pairing above emits stars, and
    * organic clusters are near-cliques), so typical runs converge in 2-3
    * rounds. Lineage is truncated with an eager localCheckpoint per round
    * so the plan does not grow with iterations, and the edge set is
    * computed once and persisted. Failing to converge within `maxIter`
    * throws — silently returning half-propagated labels would be a wrong
    * answer, not a degraded one.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame =
    ccWithRounds(pairs, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds it took — the
    * round count is the scale contract (≤ ⌈log₂ diameter⌉ + c thanks to
    * the pointer-jumping hop) and the property spec pins it directly. */
  private[operators] def ccWithRounds(
      pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    val edges = pairs
      .select(col("id_a").cast("long").as("src"), col("id_b").cast("long").as("dst"))
      .unionByName(pairs.select(col("id_b").cast("long").as("src"), col("id_a").cast("long").as("dst")))
      .distinct()
    val (labels, iter, converged) = Materialize.cached(edges) { edges =>
      // initial label: min(self, direct neighbors)
      var labels = edges
        .groupBy(col("src").as("id"))
        .agg(min(col("dst")).as("mn"))
        .select(col("id"), least(col("id"), col("mn")).as("label"))
        .localCheckpoint()
      var iter = 0
      var converged = false
      while (!converged && iter < maxIter) {
        // hop 1: min over direct neighbors' labels (round-start label rides
        // along as `old` so convergence is a cheap scan of the checkpointed
        // result, not an extra join job per round)
        val prop = edges
          .join(labels.withColumnRenamed("id", "src"), Seq("src"))
          .groupBy(col("dst").as("id"))
          .agg(min(col("label")).as("nlabel"))
        val hopped = labels
          .join(prop, Seq("id"), "left")
          .select(col("id"), col("label").as("old"),
            least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        // hop 2: pointer jumping — adopt the label of the current label,
        // halving the remaining chain depth every round
        val next = hopped.as("a")
          .join(
            hopped.select(col("id").as("lid"), col("label").as("llabel")),
            col("a.label") === col("lid"), "left")
          .select(
            col("a.id").as("id"),
            least(col("a.label"), coalesce(col("llabel"), col("a.label"))).as("label"),
            col("a.old").as("old"))
          .localCheckpoint()
        converged = next.filter(col("label") =!= col("old")).isEmpty
        labels = next.select(col("id"), col("label"))
        iter += 1
      }
      (labels, iter, converged)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds")
    (labels.select(col("id"), col("label").as("cluster_id")), iter)
  }

  /** One-survivor-per-cluster dedup: connected components over the
    * verified near-dup pairs, keep the cluster minimum (plus every doc in
    * no pair at all). */
  def clusterDedup(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val drop = connectedComponents(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(drop, Seq(idCol), "left_anti")
  }

  /** One-survivor-per-cluster dedup with a QUALITY-CHOSEN representative:
    * keep the cluster member maximizing `scoreCol` (ties → smallest id)
    * instead of the arbitrary min-id — the policy real pipelines want,
    * since the shortest/noisiest copy often has the smallest id. Docs in
    * no pair pass through untouched via an anti join, so the per-cluster
    * window only ever partitions actual cluster members (singletons
    * never funnel into one giant null partition). */
  def clusterDedupBy(
      df: DataFrame, pairs: DataFrame, idCol: String,
      scoreCol: String): DataFrame = {
    // reserved internal name, like __rk/__salt elsewhere: a caller's own
    // cluster_id column must not collide with the CC label we join in
    val members = connectedComponents(pairs)
      .withColumnRenamed("id", idCol)
      .withColumnRenamed("cluster_id", "__cluster_id")
    val inClusters = df.join(members, Seq(idCol))
    val singletons = df.join(members.select(idCol), Seq(idCol), "left_anti")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__cluster_id")).orderBy(col(scoreCol).desc, col(idCol))
    val reps = inClusters
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .drop("__rk", "__cluster_id")
    singletons.unionByName(reps)
  }

  // ------------------------------------------------------------ simhash
  private val simhashUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) 0L
    else {
      val counts = new Array[Int](64)
      toks.foreach { t =>
        // splitmix64 of the token's polynomial hash — deterministic
        var h = TextOps.rollingHash(t)
        h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
        h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
        h = h ^ (h >>> 31)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
          b += 1
        }
      }
      var sig = 0L
      var b = 0
      while (b < 64) { if (counts(b) > 0) sig |= (1L << b); b += 1 }
      sig
    }
  }

  /** 64-bit SimHash of the token multiset. */
  def simhash(c: Column): Column = simhashUdf(TextOps.tokens(c))

  /** SimHash near-dup pairs: band the 64-bit signature into four 16-bit
    * chunks (any pair within Hamming distance ≤ maxHamming shares at
    * least one chunk when maxHamming < 4 by pigeonhole... chunks = 4
    * guarantees distance ≤ 3; verification filters the rest).
    *
    * Hot chunk buckets (> hotBucketThreshold) switch to star pairing
    * against the bucket minimum — O(K) instead of O(K²) pairs. The
    * threshold is high (1024): a chunk bucket that large is dominated by
    * a same-signature duplicate cluster (which the star fully covers,
    * hamming 0 to the min); the cross pairs it forgoes are the accepted
    * trade for a bounded plan at corpus scale. */
  def simhashNearDupPairs(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      hotBucketThreshold: Int = 1024): DataFrame = {
    // 4 banded 16-bit chunks guarantee candidate generation only up to
    // Hamming 3 (pigeonhole); a larger bound would silently return a
    // SUBSET (a distance-4 pair with one flipped bit per chunk shares no
    // bucket) — fail fast instead
    require(maxHamming >= 0 && maxHamming <= 3,
      s"maxHamming must be <= 3 (4-chunk banding recalls only that far), got $maxHamming")
    // materialized ONCE: the signature UDF (tokenize + 64 weighted bit
    // sums per doc) otherwise runs three times — once for the banding
    // explode and once per candidate join-back (lshCandidatePairs has
    // the same note); (id, sig) is 16 bytes/doc, trivially cacheable
    val withSig = Scans.widenIfNarrow(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")))
      .select(col("id"), simhash(col("__txt")).as("sig"))
      .localCheckpoint()
    val banded = withSig.select(
      col("id"), col("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("sig"), b * 16).bitwiseAND(lit(0xffffL))): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "chunk")
    bucketCandidatePairs(banded.select(col("band"), col("chunk"), col("id")),
        Seq("band", "chunk"), "id", hotBucketThreshold)
      // signatures join back per CANDIDATE (linear in candidates however
      // hot the bucket), exactly like the shingle/phash join-backs
      .join(withSig.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(withSig.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // --------------------------------------------- exact substring spans
  /** Exact substring deduplication stats (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 — the
    * ExactSubstr criterion): any k-character window of normalized text
    * that occurs MORE THAN ONCE anywhere in the corpus (another document
    * or elsewhere in the same one) is a duplicated span; a document's
    * duplicated coverage is the character length of the UNION of its
    * duplicated windows.
    *
    * Returns one row per input document:
    * `(doc_id, n_dup_windows, covered_chars, dup_frac)` where
    * `dup_frac = covered_chars / length(normalized text)` rounded to 6
    * decimals (0 for documents shorter than k).
    *
    * Shape at scale: windows are generated with built-in expressions
    * (`sequence`/`transform`/`substr` + `posexplode` — whole-stage
    * codegen, no UDF) so the explode is a narrow map; the duplicate
    * test is ONE groupBy on the window text (map-side partial agg —
    * corpus-bytes sized, the inherent cost of ExactSubstr, same as the
    * paper's suffix-array pass) followed by a semi-join of positions
    * against the duplicated window set and a per-document window
    * function for the interval union. Grouping is on the literal window
    * text, not a hash, so an external engine can replay the exact
    * result; swap the key to `xxhash64(win)` to shrink shuffle bytes
    * ~k× when replayability is not needed. */
  def substringDupStats(
      df: DataFrame, textCol: String, idCol: String, k: Int = 30): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    // widened BEFORE the normalize+explode chain: the window explode
    // multiplies every document into len-k+1 rows, and a narrow scan
    // would run that expansion on 1-2 cores (guide §2.5)
    val base = Scans.widenIfNarrow(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("doc_id"),
        TextOps.normText(col(textCol)).as("t"))
      .select(col("doc_id"), col("t"), length(col("t")).as("len"))
    val wins = base.filter(col("len") >= k)
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(1), col("len") - (k - 1)),
          i => col("t").substr(i, lit(k)))).as(Seq("off", "win")))
      .select(col("doc_id"), (col("off") + 1).as("pos"), col("win"))
    // windows whose text occurs >= 2 times corpus-wide (any location):
    // a count-over-window on the window text — ONE shuffle of the
    // exploded windows and one explode pass, where a groupBy+semi-join
    // would shuffle the full window set twice and re-run the explode
    // for the probe side (the occurrence list of one window text is
    // hash-partitioned like any join on it, so the skew exposure is
    // identical)
    val dupPos = wins
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("win"))))
      .filter(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"))
    // union length of fixed-k intervals at sorted positions:
    // k for the first + min(k, gap) for each subsequent one
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val cover = dupPos
      .withColumn("prev", lag(col("pos"), 1).over(w))
      .withColumn("contrib",
        when(col("prev").isNull, lit(k))
          .otherwise(least(lit(k), col("pos") - col("prev"))))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_dup_windows"),
        sum(col("contrib")).as("covered_chars"))
    base.select(col("doc_id"), col("len"))
      .join(cover, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("covered_chars"), lit(0L)).as("covered_chars"),
        round(
          when(col("len") > 0,
            coalesce(col("covered_chars"), lit(0L)).cast("double") / col("len"))
            .otherwise(lit(0.0)), 6).as("dup_frac"))
  }

  /** The removal stage of ExactSubstr dedup: every occurrence of a
    * duplicated k-char window EXCEPT the globally-first one (ordered by
    * (doc_id, pos)) is cut from its document; the cut is the union of
    * the removed [pos, pos+k) intervals, so the first copy of any
    * repeated passage survives and every later copy disappears.
    * Returns (doc_id, clean_text) with normalized text for every input
    * document (unchanged when nothing was removed).
    *
    * Same distributed shape as [[substringDupStats]] — one explode, one
    * shuffle on the window text (rank-over-window instead of count) —
    * plus a per-doc scalar cut whose work is bounded by the document
    * length; span discovery, the corpus-sized part, never leaves the
    * cluster. */
  def substringDedupText(
      df: DataFrame, textCol: String, idCol: String, k: Int = 30): DataFrame = {
    require(k >= 2, s"window length k must be >= 2, got $k")
    // widened before normalize+explode — see substringDupStats
    val base = Scans.widenIfNarrow(df.select(col(idCol), col(textCol)))
      .select(
        col(idCol).as("doc_id"),
        TextOps.normText(col(textCol)).as("t"))
    val wins = base.filter(length(col("t")) >= k)
      .select(
        col("doc_id"),
        posexplode(transform(
          sequence(lit(1), length(col("t")) - (k - 1)),
          i => col("t").substr(i, lit(k)))).as(Seq("off", "win")))
      .select(col("doc_id"), (col("off") + 1).as("pos"), col("win"))
    val w = Window.partitionBy(col("win")).orderBy(col("doc_id"), col("pos"))
    // occ >= 2 alone selects exactly the duplicated-window later copies
    // (a row_number of 2 implies the window has >= 2 occurrences), so no
    // second count-over-window runs over the corpus-sized explode
    val removed = wins
      .withColumn("occ", row_number().over(w))
      .filter(col("occ") >= 2)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("cut_starts"))
    val cutU = udf { (t: String, starts: Seq[Int]) =>
      if (starts == null || starts.isEmpty) t
      else {
        val keep = Array.fill(t.length)(true)
        starts.foreach { p =>
          var i = p - 1
          val end = math.min(t.length, p - 1 + k)
          while (i < end) { keep(i) = false; i += 1 }
        }
        val sb = new StringBuilder(t.length)
        var i = 0
        while (i < t.length) { if (keep(i)) sb.append(t.charAt(i)); i += 1 }
        sb.toString()
      }
    }
    base.join(removed, Seq("doc_id"), "left_outer")
      .select(col("doc_id"), cutU(col("t"), col("cut_starts")).as("clean_text"))
  }
}
