package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * normalization, token counting (whitespace + BPE-ish regex), quality
  * scoring, language-ID (marker-token heuristic), and document
  * fingerprinting. All are built-in-function Column expressions — fully
  * codegen'd, no UDFs in the hot path — so they run inside
  * WholeStageCodegen at any scale and push no data to the driver.
  *
  * Every formula is deliberately expressible in ANSI-ish SQL so the
  * DuckDB oracle can recompute it verbatim (see LlmQueries).
  */
object TextOps {

  /** Whitespace-collapsed, trimmed, lowercased text. */
  def normText(c: Column): Column = lower(trim(regexp_replace(c, "\\s+", " ")))

  // --------------------------------------------------------- PII redaction
  /** Email addresses, then runs of ≥7 digits (phone-ish), replaced with
    * placeholder tags. Order matters: the email pass removes its digits
    * before the phone pass, so `a123456789@x.com` never half-redacts.
    * Patterns stay in the RE2-compatible subset (character classes +
    * bounded repeats, no backrefs/lookarounds) so Java regex and RE2
    * engines agree byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "[0-9]{7,}"

  def redactPii(c: Column): Column =
    regexp_replace(regexp_replace(c, EmailRe, "<EMAIL>"), PhoneRe, "<PHONE>")

  /** Repeated-2-gram fraction (0 = no repetition): the standard cheap
    * detector for boilerplate/spam expansion. Texts of ≤2 tokens score 0.
    *
    * Single-pass scalar function over the token array with an exact
    * string set — the interpreted higher-order shingle expressions
    * (`transform`+`sequence`+`slice`) evaluate a lambda tree per element
    * and were 20× slower on corpus-sized text (the same trade the minhash
    * signature makes). */
  private val repRatioUdf = udf { (toks: Seq[String]) =>
    if (toks == null || toks.length <= 2) 0.0
    else {
      val n = toks.length - 1
      val seen = new java.util.HashSet[String](n * 2)
      var uniq = 0
      var i = 0
      while (i < n) {
        if (seen.add(toks(i) + " " + toks(i + 1))) uniq += 1
        i += 1
      }
      1.0 - uniq.toDouble / n
    }
  }

  def repetitionRatio(c: Column): Column = repRatioUdf(tokens(c))

  // --------------------------------------------- repetition (Gopher rules)
  /** Word n-grams as a pure Catalyst expression (whole-stage codegen, no
    * UDF): slide over the token array with `sequence`+`slice`. Empty
    * array when the document has fewer than n tokens. */
  def ngramsExpr(toksCol: Column, n: Int): Column =
    when(size(toksCol) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(1), size(toksCol) - (n - 1)),
        i => concat_ws(" ", slice(toksCol, i, lit(n)))))

  /** Repetition-based quality signals in the style of the Gopher data
    * rules (Rae et al., "Scaling Language Models: ... Gopher", 2021,
    * table A1): per document,
    *  - `top2_frac` / `top3_frac`: the character mass of the single
    *    heaviest word 2-/3-gram (occurrences × gram length) over the
    *    normalized text length — "fraction of characters in the most
    *    frequent n-gram". The heaviest gram is chosen by that product
    *    directly (deterministic; no tie-order dependence).
    *  - `dup5_frac`: summed character mass of all word 5-grams that occur
    *    more than once, over the normalized text length — "fraction of
    *    characters in duplicated n-grams". Overlapping occurrences each
    *    count, so the value may exceed 1; it is a filter score, not a
    *    coverage.
    *
    * One explode per n unioned with a tag column, ONE shuffle on
    * (doc, n, gram) with map-side partial aggregation, then a per-doc
    * rollup — no self-join, no UDF, survives corpus scale. */
  def repetitionStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // materialized ONCE: base feeds the three n-gram explode branches
    // AND the final per-doc join, and Spark shares no common subtrees
    // across a self-referencing plan — without this the normalize +
    // tokenize regexes (the expensive part) run FOUR times over the
    // corpus; (id, len, toks) is about the corpus text size, the same
    // disk-backed trade the LSH shingle pass makes
    val base = Scans.widenIfNarrow(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__txt")))
      .select(
        col("doc_id"),
        length(normText(col("__txt"))).as("len"),
        tokens(col("__txt")).as("toks"))
      .localCheckpoint()
    val tagged = Seq(2, 3, 5).map { n =>
      base.select(
        col("doc_id"), lit(n).as("n"),
        explode(ngramsExpr(col("toks"), n)).as("g"))
    }.reduce(_ unionByName _)
    val perGram = tagged
      .groupBy(col("doc_id"), col("n"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("mass", col("cnt") * length(col("g")))
    val perDoc = perGram.groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 2, col("mass"))).as("top2_chars"),
        max(when(col("n") === 3, col("mass"))).as("top3_chars"),
        sum(when(col("n") === 5 && col("cnt") > 1, col("mass"))).as("dup5_chars"))
    def frac(c: Column, len: Column): Column =
      round(when(len > 0, coalesce(c, lit(0L)).cast("double") / len)
        .otherwise(lit(0.0)), 6)
    base.select(col("doc_id"), col("len"))
      .join(perDoc, Seq("doc_id"), "left_outer")
      .select(
        col("doc_id"),
        frac(col("top2_chars"), col("len")).as("top2_frac"),
        frac(col("top3_chars"), col("len")).as("top3_frac"),
        frac(col("dup5_chars"), col("len")).as("dup5_frac"))
  }

  // ---------------------------------------------------------- winnowing
  /** Word k-grams of the normalized text (short texts yield the whole
    * token string) — single-pass scalar slide, shared by winnowing and
    * decontamination. */
  def kgrams(c: Column, k: Int): Column = kgramUdf(k)(tokens(c))

  private def kgramUdf(k: Int) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty) Seq.empty[String]
    else if (toks.length < k) Seq(toks.mkString(" "))
    else toks.sliding(k).map(_.mkString(" ")).toSeq
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03): hash
    * every k-gram, slide a window of w hashes, keep each window's
    * minimum, distinct per document — any shared run of ≥ w+k-1 tokens is
    * guaranteed to share a fingerprint, at ~1/w the density of full
    * k-gram fingerprinting. Hashes are md5 hex strings (engine-portable,
    * lexicographic min), window minima are plain window functions —
    * one shuffle on the document id, no UDF beyond the k-gram slide.
    * Returns one row per (doc, fingerprint). */
  def winnowFingerprints(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 5, w: Int = 4): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, w - 1)
    // widened before the k-gram slide + md5 explode (guide §2.5)
    Scans.widenIfNarrow(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__txt")))
      .select(col("doc_id"), kgrams(col("__txt"), k).as("grams"))
      .select(col("doc_id"), posexplode(col("grams")).as(Seq("pos", "gram")))
      .withColumn("minh", min(md5(col("gram").cast("binary"))).over(win))
      .select(col("doc_id"), col("minh").as("fp"))
      .distinct()
  }

  // ----------------------------------------------------- decontamination
  /** Benchmark decontamination: ids of corpus documents that share at
    * least one word k-gram with any benchmark document — the standard
    * "drop eval data from the training set" stage. Benchmark suites are
    * tiny next to a training corpus, so their distinct gram set is
    * broadcast and the corpus side is one narrow scan + broadcast
    * semi-join: no shuffle of corpus data at any scale. */
  /** A benchmark item SHORTER than k tokens emits its whole text as one
    * pseudo-gram (kgramUdf's fallback) — but a longer corpus doc only
    * emits k-grams, so the short item hiding inside it would never
    * match. The corpus side therefore ALSO emits n-grams at each
    * distinct short-bench length: ≤ k−1 extra lengths, resolved with
    * one tiny job over the bench set (small by contract). */
  private def shortBenchLengths(bench: DataFrame, textCol: String, k: Int): Seq[Int] =
    bench.select(wsTokenCount(col(textCol)).cast("int").as("n"))
      .filter(col("n") > 0 && col("n") < k)
      .distinct().collect().map(_.getInt(0)).toSeq.sorted

  private def corpusGrams(textCol: String, k: Int, shortLens: Seq[Int]): Column = {
    val all = (k +: shortLens).map(n => kgrams(col(textCol), n))
    explode(if (all.size == 1) all.head else array_distinct(concat(all: _*)))
  }

  def contaminatedIds(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8): DataFrame = {
    val shortLens = shortBenchLengths(bench, textCol, k)
    val benchGrams = bench
      .select(explode(kgrams(col(textCol), k)).as("gram"))
      .distinct()
    // widened before the corpus-side k-gram explode (guide §2.5)
    Scans.widenIfNarrow(docs.select(col(idCol), col(textCol)))
      .select(col(idCol), corpusGrams(textCol, k, shortLens).as("gram"))
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select(col(idCol))
      .distinct()
  }

  /** Same RESULT as [[contaminatedIds]], through a Bloom prefilter — the
    * 100 TB shape when the benchmark set outgrows a comfortable
    * broadcast. A Bloom filter over the benchmark k-grams (built with one
    * aggregate, O(bits) driver memory) prefilters the corpus (doc, gram)
    * pairs executor-side; only bloom HITS reach the exact semi-join
    * against the true gram set, so the join's left side shrinks from
    * every corpus gram to roughly the contaminated ones (+fpp noise).
    * Exact by construction: Bloom filters have no false negatives, and
    * false positives are removed by the confirming semi-join — which is
    * deliberately NOT hint-broadcast here, because this variant exists
    * for the regime where the gram set is too big to broadcast (AQE may
    * still choose a broadcast when it is small). */
  def contaminatedIdsBloom(
      docs: DataFrame,
      bench: DataFrame,
      textCol: String,
      idCol: String,
      k: Int = 8,
      fpp: Double = 0.01): DataFrame = {
    Materialize.cached(bench
        .select(explode(kgrams(col(textCol), k)).as("gram"))
        .distinct()) { benchGrams =>
      // expectedNumItems: one count job over the (cached) distinct grams —
      // the filter is sized to the true cardinality, never guessed
      val n = math.max(1L, benchGrams.count())
      val bloom = benchGrams.stat.bloomFilter("gram", n, fpp)
      val ss = docs.sparkSession
      val bloomB = ss.sparkContext.broadcast(bloom)
      val mightContain = udf { (g: String) => g != null && bloomB.value.mightContain(g) }
      Scans.widenIfNarrow(docs.select(col(idCol), col(textCol)))
        .select(col(idCol),
          corpusGrams(textCol, k, shortBenchLengths(bench, textCol, k)).as("gram"))
        .filter(mightContain(col("gram")))
        .join(benchGrams, Seq("gram"), "left_semi")
        .select(col(idCol))
        .distinct()
        // materialized before the cache is released: the caller gets a
        // stable result
        .localCheckpoint()
    }
  }

  // ------------------------------------------------------------ chunking
  /** Context-length chunking: the token stream of each document split
    * into windows of `size` tokens every `stride` tokens (overlapping
    * when stride < size; the tail chunk may be shorter). The slide is a
    * single-pass scalar UDF like the k-gram slide; chunks then explode
    * into one row each — a narrow map + explode, no shuffle, so it
    * composes ahead of packing/dedup at full scan speed. Empty or
    * all-whitespace documents yield no chunks. */
  private def chunkUdf(size: Int, stride: Int) = udf { (toks: Seq[String]) =>
    if (toks == null || toks.isEmpty || (toks.length == 1 && toks.head.isEmpty))
      Seq.empty[String]
    else
      (0 until toks.length by stride)
        .map(st => toks.slice(st, math.min(st + size, toks.length)).mkString(" "))
  }

  /** One row per (doc, chunk): 0-based chunk_id, token count, chunk
    * text. */
  def chunkTokens(
      df: DataFrame, textCol: String, idCol: String,
      chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize > 0 && stride > 0, "chunkSize and stride must be positive")
    df.select(col(idCol).as("doc_id"),
        chunkUdf(chunkSize, stride)(tokens(col(textCol))).as("chunks"))
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("chunk_id", "chunk")))
      .select(
        col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_tok"),
        col("chunk"))
  }

  // ------------------------------------------------- sentence-level dedup
  /** C4-style line/sentence dedup: every sentence (period-delimited span)
    * that already occurred anywhere in the corpus — by normalized text,
    * first occurrence = smallest (doc, position) — is dropped, and each
    * document is reassembled from its surviving sentences. Both stages
    * are key-parallel shuffles (sentence-hash for first-occurrence, doc
    * id for reassembly); no all-pairs, no driver state, so the shape
    * holds at corpus scale. Returns (doc_id, n_kept, text_kept); docs
    * whose every sentence is a duplicate disappear. */
  def sentenceDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val sents = df
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\\.")).as(Seq("pos", "sent")))
      .filter(length(normText(col("sent"))) > 0)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(normText(col("sent"))).orderBy(col("doc_id"), col("pos"))
    sents
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("pos"), col("sent")))),
            x => x.getField("sent")),
          ".").as("text_kept"))
  }

  /** C4-style document quality filter: keep documents with at least
    * `minTokens` tokens, repetition ratio at most `maxRepetition`, and a
    * language-ID in `langs` (empty = any). A single conjunctive
    * predicate over codegen'd expressions — evaluates in one pass over
    * the scan with no shuffle, so it composes ahead of any dedup/pack
    * stage at full scan speed. */
  def qualityFilter(
      df: DataFrame,
      textCol: String,
      minTokens: Int,
      maxRepetition: Double,
      langs: Seq[String] = Nil): DataFrame = {
    val t = col(textCol)
    val keep = wsTokenCount(t) >= minTokens &&
      repetitionRatio(t) <= maxRepetition &&
      (if (langs.isEmpty) lit(true) else langId(t).isin(langs: _*))
    df.filter(keep)
  }

  /** Corpus term frequencies: explode normalized tokens, count per term.
    * Partial (map-side) aggregation makes the shuffle carry one row per
    * (partition, term) — vocabulary-sized, not corpus-sized. */
  def termCounts(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(tokens(col(textCol))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n"))

  /** Count-Min Sketch over the term distribution: `depth`×`width`
    * counters where row r counts terms by their md5-prefix hash seeded
    * with r (the engine-portable hash every sampling op here uses).
    * The sketch is the MERGEABLE fixed-size summary that replaces an
    * unbounded exact-count table at corpus scale: build cost is one
    * term-count aggregation (map-side combined — the shuffle moves
    * distinct terms, not tokens) plus a ×depth explode over DISTINCT
    * terms only, and the result is ≤ depth·width rows no matter the
    * corpus — broadcastable to any query stage, unionable across
    * corpus shards by summing counters. Returns `(r, bucket, cnt)`. */
  def cmsBuild(df: DataFrame, textCol: String, depth: Int = 4,
      width: Int = 1024): DataFrame =
    termCounts(df, textCol)
      .select(col("term"), col("n"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", cmsBucket(col("term"), col("r"), width))
      .groupBy(col("r"), col("bucket"))
      .agg(sum(col("n")).as("cnt"))

  /** Point estimates from a [[cmsBuild]] sketch: for each queried term,
    * `min` over the depth rows of the counter its hash lands in — the
    * classic CMS upper bound (`est ≥ true`, over only by collisions).
    * The sketch side is broadcast (≤ depth·width rows); the term side
    * stays distributed. Terms absent from the corpus read whatever
    * their buckets hold — still an upper bound of their true 0. */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, depth: Int = 4,
      width: Int = 1024, termCol: String = "term"): DataFrame =
    terms
      .select(col(termCol).as("term"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket", cmsBucket(col("term"), col("r"), width))
      .join(broadcast(sketch), Seq("r", "bucket"), "left")
      .groupBy(col("term"))
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))

  /** Row-r CMS bucket of a term: first 8 md5 hex chars of
    * `term || "cms" || r` as an unsigned int, mod `width`. */
  private def cmsBucket(term: Column, r: Column, width: Int): Column =
    conv(substring(md5(concat(term, lit("cms"), r.cast("string"))
      .cast("binary")), 1, 8), 16, 10).cast("long") % width

  // ------------------------------------------- KMV distinct sketch
  /** Engine-portable 32-bit value hash for the KMV sketch: first 8 md5
    * hex chars as an unsigned int — the same md5-prefix idiom every
    * sampling/sketch op here uses, so the DuckDB oracle replays it as
    * `('0x' || substr(md5(v), 1, 8))::BIGINT`. */
  private def kmvHash(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 8), 16, 10).cast("long")

  /** K-minimum-values sketch of a column's distinct values: the `k`
    * smallest DISTINCT hashes, one `h` row each plus the constant `k`
    * the sketch was built at — the MERGEABLE fixed-size summary that
    * replaces count(DISTINCT) at corpus scale. The plan: map-side
    * PARTIAL distinct dedups each partition before the exchange (the
    * shuffle carries per-partition distinct hash sets, never raw rows),
    * then the k-smallest runs as TakeOrdered's per-partition heap — no
    * global sort at any SF. A NULL value fails LOUDLY: kmvHash(NULL)
    * is NULL, which would sort NULLS FIRST into the sketch, evict a
    * real minimum, and silently bias the estimator. Shard sketches
    * merge losslessly with [[kmvMerge]]. Estimation error is
    * ~1/sqrt(k-2) (Beyer et al., SIGMOD'07); k=256 gives ~6%.
    * Deterministic: same input, same sketch, on every engine that can
    * md5. */
  def kmvSketch(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k > 1, s"kmv needs k > 1, got $k")
    df.select(kmvHash(ColumnGuards.requireNonNull(col(valueCol),
        s"kmv: NULL $valueCol — a null hash would silently displace a " +
          "real minimum; filter or coalesce nulls first")).as("h"))
      .distinct().orderBy(col("h")).limit(k)
      .select(col("h"), lit(k).as("k"))
  }

  /** Per-group [[kmvSketch]]: `(groupCol, h, k)` rows, at most `k` per
    * group. The per-group distinct is map-side partial like the global
    * sketch's; the `row_number <= k` filter then prunes to k per group
    * with a map-side WindowGroupLimit on the post-distinct side. NULL
    * values and NULL group keys both fail loudly. */
  def kmvSketchByGroup(df: DataFrame, groupCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k > 1, s"kmv needs k > 1, got $k")
    ColumnGuards.requireNoReserved(df, "kmvSketchByGroup", Set("__rk"))
    // "h" and "k" are the sketch's OWN columns: a group column named
    // either would be silently clobbered by the hash select / the
    // lit(k) withColumn — the exact overwrite class requireNoReserved
    // exists for, so refuse it with the rename named
    require(groupCol != "h" && groupCol != "k",
      s"kmvSketchByGroup: groupCol '$groupCol' collides with the " +
        "sketch's own (h, k) columns — rename it first")
    val hashed = df.select(
        ColumnGuards.requireNonNull(col(groupCol),
          s"kmv: NULL $groupCol group key").as(groupCol),
        kmvHash(ColumnGuards.requireNonNull(col(valueCol),
          s"kmv: NULL $valueCol — a null hash would silently displace a " +
            "real minimum; filter or coalesce nulls first")).as("h"))
      .distinct()
    hashed
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("h"))))
      .filter(col("__rk") <= k)
      .drop("__rk")
      .withColumn("k", lit(k))
  }

  /** Lossless sketch union: the k smallest of the combined hash sets is
    * exactly the sketch of the combined corpora — shards sketch
    * independently, the coordinator merges k-sized frames. Only GLOBAL
    * sketches built at the SAME k merge losslessly (a shard sketched at
    * a smaller k already discarded hashes the merged sketch needs, and
    * a by-group frame needs a per-group merge); both misuses fail
    * loudly instead of silently under-estimating. */
  def kmvMerge(sketches: Seq[DataFrame], k: Int): DataFrame = {
    require(sketches.nonEmpty, "kmvMerge needs at least one sketch")
    sketches.foreach(kmvRequireGlobal(_, "kmvMerge"))
    sketches.reduce(_ unionByName _)
      .select(kmvKChecked(k, "kmvMerge").as("h"))
      .distinct().orderBy(col("h")).limit(k)
      .select(col("h"), lit(k).as("k"))
  }

  /** Per-group twin of [[kmvMerge]] — the coordinator-merge layout at
    * corpus scale: each shard runs [[kmvSketchByGroup]] over its slice,
    * ships ≤ k rows per group, and this merge unions the shard frames,
    * re-dedups per group (two shards can keep the same hash) and
    * re-ranks to the k smallest per group — exactly the sketch
    * [[kmvSketchByGroup]] would have built over the combined corpus,
    * losslessly. Same plan shape as the sketch's own prune: the
    * `row_number <= k` filter carries a map-side WindowGroupLimit, so a
    * hot group ships k rows per shard, never its union. Groups missing
    * from some shards merge fine (a group's sketch is the union of the
    * shards that saw it); k-mismatch and a GLOBAL-shaped input both
    * fail loudly, mirroring [[kmvMerge]]'s guards in the opposite
    * direction. */
  def kmvMergeByGroup(sketches: Seq[DataFrame], groupCol: String,
      k: Int): DataFrame = {
    require(sketches.nonEmpty, "kmvMergeByGroup needs at least one sketch")
    require(groupCol != "h" && groupCol != "k",
      s"kmvMergeByGroup: groupCol '$groupCol' collides with the " +
        "sketch's own (h, k) columns — rename it first")
    sketches.foreach { s =>
      require(s.columns.sorted.toSeq == Seq(groupCol, "h", "k").sorted,
        s"kmvMergeByGroup takes ($groupCol, h, k) by-group sketches, " +
          s"got columns (${s.columns.mkString(", ")}) — use kmvMerge " +
          "for GLOBAL sketches")
    }
    sketches.reduce(_ unionByName _)
      .select(col(groupCol), kmvKChecked(k, "kmvMergeByGroup").as("h"))
      .distinct()
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col(groupCol)).orderBy(col("h"))))
      .filter(col("__rk") <= k)
      .drop("__rk")
      .withColumn("k", lit(k))
  }

  /** In-plan guard that a sketch row's recorded `k` matches the `k` the
    * consumer assumes — a mismatch silently mis-scales the estimator
    * (the denominator would be x_(j), not x_(k)) or breaks the merge
    * contract. One shared definition across sketch families
    * ([[ColumnGuards.kChecked]]). */
  private def kmvKChecked(k: Int, op: String): Column =
    ColumnGuards.kChecked(k, op)

  /** A GLOBAL sketch is exactly (h, k): a by-group frame fed to a global
    * consumer would silently aggregate ACROSS groups (n_kept = sum of
    * per-group keeps, hk = max of per-group kth hashes — neither a
    * global nor a per-group estimate), so shape mismatches refuse
    * loudly. */
  private def kmvRequireGlobal(df: DataFrame, op: String): Unit =
    require(df.columns.sorted.toSeq == Seq("h", "k"),
      s"$op takes a GLOBAL (h, k) sketch, got columns " +
        s"(${df.columns.mkString(", ")}) — use the ByGroup twin for " +
        "by-group sketches")

  /** Distinct-count estimate from a [[kmvSketch]]: with fewer than k
    * kept hashes the sketch IS the distinct hash set (exact, modulo
    * 32-bit collisions); at capacity the classic estimator
    * `(k-1) / x_(k)` with the k-th smallest hash normalized to (0,1]
    * via `(h+1)/2^32` (the +1 keeps a zero hash dividable). The
    * division is one IEEE double op on two exact integers — identically
    * rounded on every engine — and the result floors half-up to a
    * BIGINT so the gate surface is integer. Estimating at a different
    * k than the sketch was built at fails loudly in-plan. */
  def kmvEstimate(sketch: DataFrame, k: Int): DataFrame = {
    kmvRequireGlobal(sketch, "kmvEstimate")
    sketch.agg(count(lit(1)).as("n_kept"),
        max(kmvKChecked(k, "kmvEstimate")).as("__hk"))
      .select(kmvEstCol(k).as("n_distinct_est"))
  }

  /** Per-group twin of [[kmvEstimate]] over a [[kmvSketchByGroup]]. */
  def kmvEstimateByGroup(sketch: DataFrame, groupCol: String,
      k: Int): DataFrame = {
    require(sketch.columns.sorted.toSeq == Seq(groupCol, "h", "k").sorted,
      s"kmvEstimateByGroup takes a ($groupCol, h, k) by-group sketch, " +
        s"got columns (${sketch.columns.mkString(", ")})")
    sketch.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_kept"),
        max(kmvKChecked(k, "kmvEstimateByGroup")).as("__hk"))
      .select(col(groupCol), kmvEstCol(k).as("n_distinct_est"))
  }

  private def kmvEstCol(k: Int): Column =
    when(col("n_kept") < k, col("n_kept"))
      .otherwise(floor(
        lit((k - 1).toDouble * 4294967296.0) / (col("__hk") + lit(1L)).cast("double")
          + lit(0.5)).cast("long"))

  /** Per-document term frequencies: one row per (doc, term) with its
    * count. The groupBy carries map-side partial aggregation, so the
    * shuffle moves distinct (doc, term) pairs, not raw tokens. */
  def docTermCounts(df: DataFrame, textCol: String, idCol: String): DataFrame =
    // widened before tokenize+explode: the normalize regexes and the
    // token explosion are the hot stage, and a narrow scan would run
    // them on 1-2 cores (guide §2.5; no-op on an already-wide input)
    Scans.widenIfNarrow(
        df.select(col(idCol).as("doc_id"), col(textCol).as("__txt")))
      .select(col("doc_id"), explode(tokens(col("__txt"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Top `topK` TF-IDF terms per document: score = tf · ln(N/df), ties
    * broken by term. Three shuffles, all key-parallel: (doc, term)
    * counts, vocabulary-sized document frequencies, and the per-doc
    * window — no step is driver-bound or all-pairs, so the shape holds
    * at corpus scale (df is joined back on `term`, a shuffle join:
    * vocabularies at 100 TB outgrow broadcast). N rides along as a
    * crossJoined 1-row aggregate, not a driver action.
    *
    * The ranking key is tf · round(ln(N/df), 12) as an exact DECIMAL:
    * ranking on the raw double would let a last-ulp difference between
    * the engines' ln flip mathematically tied scores from different
    * (tf, df) pairs (e.g. 2·ln2 vs ln4) past the term tie-break.
    * decimal(17,0) · decimal(20,12) stays within Spark's 38-digit cap,
    * so the product is exact — 18 digits would silently round the scale
    * to 11. */
  def tfidfTopTerms(
      df: DataFrame, textCol: String, idCol: String, topK: Int = 3): DataFrame = {
    val nDocs = df.agg(count(lit(1)).cast("double").as("n_docs"))
    // materialized ONCE: tf feeds both the document-frequency aggregate
    // and the score join, and the tokenize+explode+count pass (the
    // expensive stage) would otherwise run twice — the repetitionStats /
    // LSH-shingle trade
    val tf = docTermCounts(df, textCol, idCol).localCheckpoint()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("score_d").desc, col("term"))
    tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn(
        "score_d",
        col("tf").cast("decimal(17,0)") *
          round(log(col("n_docs") / col("df")), 12).cast("decimal(20,12)"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= topK)
      .select(col("doc_id"), col("rk"), col("term"),
        round(col("score_d").cast("double"), 6).as("score"))
  }

  /** Unigram language-model score per document (CCNet-style quality
    * signal): mean ln P(token) under the corpus's own unigram
    * distribution — boilerplate full of frequent tokens scores high,
    * rare-token noise scores low. Per-token log-probs are rounded to 12
    * decimals and accumulated as exact DECIMAL, because a distributed
    * double sum is ordering-dependent and would not reproduce across
    * engines or partitionings; the single final division happens on the
    * exact sum. Same shuffle shape as TF-IDF: (doc, term) counts joined
    * to the vocabulary-sized count table on `term`, then one per-doc
    * aggregation. */
  def lmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // materialized ONCE (see tfidfTopTerms): tf feeds the vocabulary
    // counts AND the probability join
    val tf = docTermCounts(df, textCol, idCol).localCheckpoint()
    val counts = tf.groupBy(col("term")).agg(sum(col("tf")).as("n"))
    // total rides along as a crossJoined 1-row aggregate: no separate
    // driver action (which also ran the tokenize+count pipeline twice and
    // NPE'd on an all-empty corpus — null total now just yields no rows)
    val tot = counts.agg(sum(col("n")).cast("double").as("total"))
    tf.join(counts, Seq("term"))
      .crossJoin(broadcast(tot))
      .withColumn(
        "contrib",
        // decimal(17,0): 17+20+1 digits keeps the product exactly
        // DECIMAL(38,12) — an 18-digit cast would overflow Spark's cap
        // and silently round the scale to 11, off the oracle's exact sum
        col("tf").cast("decimal(17,0)") *
          round(log(col("n").cast("double") / col("total")), 12).cast("decimal(20,12)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"), sum(col("contrib")).as("sum_lp"))
      .select(
        col("doc_id"),
        col("n_tok"),
        round(col("sum_lp").cast("double") / col("n_tok"), 6).as("lm_score"))
  }

  /** DSIR-style importance scores (Data Selection via Importance
    * Resampling, Xie et al. 2023): each document's mean per-token
    * log-likelihood ratio between a TARGET slice's unigram LM and the
    * raw corpus's unigram LM, both add-1 (Laplace) smoothed over the
    * corpus vocabulary — documents whose token distribution looks like
    * the target score high and are kept preferentially when building a
    * training mix.
    *
    * Scale shape (the same key-parallel skeleton as tfidf/lmScore): one
    * (doc, term) count shuffle, two vocabulary-sized term-count tables
    * (raw, target) joined back on `term` — vocabularies at 100 TB
    * outgrow broadcast, so this is a shuffle join — and one per-doc
    * aggregation; the three scalar totals (vocab size, token totals)
    * ride along as a crossJoined broadcast 1-row aggregate, never a
    * driver action. Per-token log-ratios are rounded to 12 decimals and
    * summed as exact DECIMAL so the score is aggregation-order-
    * independent (a raw double sum would not reproduce across engines
    * or partitionings); the final per-token mean is one double division
    * of exact operands. */
  def dsirScores(
      df: DataFrame, textCol: String, idCol: String,
      targetPred: Column): DataFrame = {
    val tf = Scans.widenIfNarrow(df.select(
        col(idCol).as("doc_id"), targetPred.as("is_target"),
        col(textCol).as("__txt")))
      .select(col("doc_id"), col("is_target"),
        explode(tokens(col("__txt"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("doc_id"), col("is_target"), col("term"))
      .agg(count(lit(1)).as("tf"))
      // materialized ONCE (see tfidfTopTerms): tf feeds the raw counts,
      // the target counts AND the ratio join — three tokenize passes
      // otherwise
      .localCheckpoint()
    val raw = tf.groupBy(col("term")).agg(sum(col("tf")).as("n_raw"))
    val tgt = tf.filter(col("is_target"))
      .groupBy(col("term")).agg(sum(col("tf")).as("n_tgt"))
    val totals = raw.agg(
      count(lit(1)).cast("double").as("vocab"),
      sum(col("n_raw")).cast("double").as("total_raw"))
      // an EMPTY target slice (typo'd predicate) sums to SQL NULL, which
      // would null every doc's score silently — importance sampling
      // against nothing is a caller error, not a degraded answer
      .crossJoin(tgt.agg(ColumnGuards.requireNonNull(
        sum(col("n_tgt")).cast("double"),
        "dsirScores: target predicate matched no rows — every score " +
          "would be NULL").as("total_tgt")))
    tf.join(raw, Seq("term"))
      .join(tgt, Seq("term"), "left_outer")
      .na.fill(0L, Seq("n_tgt"))
      .crossJoin(broadcast(totals))
      .withColumn(
        "contrib",
        // identical double expression tree on both engines: smoothed
        // target prob over smoothed raw prob, ln, round to 12; the
        // decimal(17,0) × decimal(20,12) product is exact at (38,12)
        col("tf").cast("decimal(17,0)") *
          round(log(
            ((col("n_tgt").cast("double") + 1.0) / (col("total_tgt") + col("vocab"))) /
              ((col("n_raw").cast("double") + 1.0) / (col("total_raw") + col("vocab")))), 12)
            .cast("decimal(20,12)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"), sum(col("contrib")).as("sum_lr"))
      .select(
        col("doc_id"), col("n_tok"),
        round(col("sum_lr").cast("double") / col("n_tok"), 6).as("dsir_score"))
  }

  /** Top-k most frequent terms, ties broken by term — deterministic, so
    * two engines agree on the exact set. A single ORDER BY + LIMIT over
    * the vocabulary-sized count table (Spark runs it as a per-partition
    * top-k + driver merge of k·partitions rows, never a full sort at
    * scale). */
  def topTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    termCounts(df, textCol)
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Tokens of the normalized text (single-space split). */
  def tokens(c: Column): Column = split(normText(c), " ")

  /** Whitespace token count; empty OR NULL text → 0 (a bare
    * `length === 0` test is null for null input, which would fall
    * through to `size(split(null))` = −1). */
  def wsTokenCount(c: Column): Column =
    when(c.isNull || length(normText(c)) === 0, lit(0L))
      .otherwise(size(tokens(c)).cast("long"))

  /** BPE-ish token count: letter runs, digit runs, and single other
    * non-space chars each count as one token (a cheap proxy for byte-pair
    * vocabularies). */
  def bpeTokenCount(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]")).cast("long")

  /** Feature-hashed bag-of-words linear scorer — the fastText-style
    * quality-classifier shape used to filter pretraining corpora (a
    * logistic/linear model over hashed token features; the weights come
    * from wherever the model was trained and are BROADCAST, the corpus
    * is scored in ONE narrow pass, no shuffle, no explode). Each token
    * buckets by its md5 prefix (`parseLong(hex[0,8)) % nBuckets` — the
    * engine-portable hash every sampling op here uses), the document
    * score is `mean(bucket weight) + intercept`, and `quality_pass` is
    * the sign test on the EXACT integer sum.
    *
    * Weights are quantized to micros (×1e6, rint) on entry and summed as
    * Longs, so the score is independent of token order and summation
    * grouping — the property that makes the gate's DuckDB replay (an
    * explode + integer SUM) hash-identical to this one-pass scalar form.
    * `quality_pass` is the sign of `mean + intercept` decided in exact
    * integer arithmetic (`sum + intercept·max(n,1) ≥ 0` in micros), so
    * near-zero scores never flip on float noise. Returns
    * `(doc_id, n_tok, score, quality_pass)`; empty/null text scores
    * `intercept` with n_tok 0. */
  def hashedBowScore(df: DataFrame, textCol: String, idCol: String,
      weights: Array[Double], intercept: Double = 0.0): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    val wMicros: Array[Long] = weights.map(w => math.rint(w * 1e6).toLong)
    val n = wMicros.length
    val sumUdf = udf(new (Seq[String] => Long) with Serializable {
      @transient private var md: java.security.MessageDigest = _
      def apply(toks: Seq[String]): Long = {
        if (md == null) md = java.security.MessageDigest.getInstance("MD5")
        var s = 0L
        if (toks != null) toks.foreach { t =>
          md.reset()
          val d = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // first 8 hex chars = first 4 bytes as an unsigned 32-bit int
          val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
            ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
          s += wMicros((h % n).toInt)
        }
        s
      }
    })
    val nTok = wsTokenCount(col(textCol))
    val interceptMicros = math.rint(intercept * 1e6).toLong
    // The score stays in EXACT integer micro space until the final /1e6:
    // the mean is rounded half-up (away from zero) by long division —
    // `round(double, 6)` here would tie-break differently across engines
    // on exact .5-at-6dp quotients (seen on real sf0.1 data), because the
    // quotient double sits one ulp either side of the decimal tie.
    df.select(
        col(idCol).as("doc_id"),
        nTok.as("n_tok"),
        when(nTok === 0, lit(0L)).otherwise(sumUdf(tokens(col(textCol))))
          .as("sum_micros"))
      .withColumn("n_eff", greatest(col("n_tok"), lit(1L)))
      .withColumn("mean_micros",
        when(col("sum_micros") < 0,
          -expr("(abs(sum_micros) * 2 + n_eff) div (n_eff * 2)"))
          .otherwise(expr("(sum_micros * 2 + n_eff) div (n_eff * 2)")))
      .select(
        col("doc_id"), col("n_tok"),
        ((col("mean_micros") + lit(interceptMicros)).cast("double") / lit(1e6))
          .as("score"),
        (col("sum_micros") +
          lit(interceptMicros) * greatest(col("n_tok"), lit(1L))
          >= 0).as("quality_pass"))
  }

  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  /** Count of stopword tokens (array filter — exact, not substring
    * counting). NULL text counts 0, like [[wsTokenCount]] — otherwise
    * [[qualityScore]] goes SQL-NULL on a NULL doc and silently escapes
    * its documented [-0.25, 1] range (landing such docs in curriculum
    * bucket 0 with a NULL score instead of a real one). */
  def stopwordCount(c: Column): Column = {
    val toks = tokens(c)
    coalesce(
      size(filter(toks, t => t.isin(Stopwords.map(lit(_)): _*))),
      lit(0)).cast("long")
  }

  /** Punctuation character count over the raw text; NULL text counts 0
    * (the [[stopwordCount]] rationale). */
  def punctCount(c: Column): Column =
    coalesce(regexp_count(c, lit("[.,;:!?'\"()\\-]")), lit(0L)).cast("long")

  /** Deterministic quality score in [-0.25, 1]: rewards length up to 200
    * tokens, penalizes stopword share and punctuation density. */
  def qualityScore(c: Column): Column = {
    val nTok = wsTokenCount(c)
    val stopRatio = stopwordCount(c).cast("double") / greatest(nTok.cast("double"), lit(1.0))
    val punctRatio = punctCount(c).cast("double") / greatest(length(c).cast("double"), lit(1.0))
    round(
      least(nTok.cast("double"), lit(200.0)) / lit(200.0) * (lit(1.0) - stopRatio * 0.5)
        - punctRatio * 0.25,
      6)
  }

  /** Quality-quantile bucket assignment — the curriculum/stratification
    * step (order training data by quality band, or sample per band).
    * Thresholds are the EXACT linear-interpolation percentiles of the
    * corpus quality distribution, computed in one map-side-combined
    * aggregation and broadcast back (a `probs.size`-element array);
    * assignment is then a narrow map — the corpus is never shuffled.
    * `bucket` = number of thresholds strictly below the doc's quality
    * (0..probs.size), so a doc AT a threshold goes to the lower band.
    *
    * Boundary determinism (why no rounding is needed): quality values
    * are already 6-dp-rounded, and an interpolated threshold lies
    * strictly between two ADJACENT order statistics — no data value can
    * fall inside that open interval, so a 1-ulp percentile divergence
    * across engines cannot flip any `quality > t` comparison; when the
    * adjacent order statistics are equal the threshold is exact on both.
    *
    * At 100 TB the drop-in relaxation is approx_percentile with a
    * documented rank error; exact is kept here because the oracle pins
    * exact quantile_cont parity. */
  def qualityBuckets(
      df: DataFrame, textCol: String, idCol: String,
      probs: Seq[Double] = Seq(0.25, 0.5, 0.75)): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p < 1.0),
      s"probs must lie strictly inside (0,1), got $probs")
    val scored = df.select(col(idCol), qualityScore(col(textCol)).as("quality"))
    val th = scored.agg(
      percentile(col("quality"),
        array(probs.map(lit(_)): _*)).as("__th"))
    scored.crossJoin(broadcast(th))
      .withColumn("bucket",
        size(filter(col("__th"), t => col("quality") > t)).cast("long"))
      .drop("__th")
  }

  /** Language marker tokens (tiny built-in lists; the heuristic is the
    * operator — the oracle recomputes the same formula). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "is"),
    "de" -> Seq("der", "die", "und"),
    "fr" -> Seq("le", "la", "et"),
    "es" -> Seq("el", "los", "y"),
    "zh" -> Seq("的", "是", "了"))

  def markerCount(c: Column, markers: Seq[String]): Column = {
    val toks = tokens(c)
    size(filter(toks, t => t.isin(markers.map(lit(_)): _*))).cast("long")
  }

  /** Predicted language: argmax of marker counts, ties resolved in
    * LangMarkers order; all-zero → "unknown". */
  def langId(c: Column): Column = {
    val counts = LangMarkers.map { case (lang, markers) => lang -> markerCount(c, markers) }
    val maxCount = greatest(counts.map(_._2): _*)
    val pick = counts.reverse.foldLeft(lit("unknown")) { case (acc, (lang, cnt)) =>
      when(cnt === maxCount && maxCount > 0, lit(lang)).otherwise(acc)
    }
    pick
  }

  /** Portable document fingerprint: md5 of the normalized text (same
    * builtin in DuckDB → oracle-checkable). */
  def fingerprintMd5(c: Column): Column = md5(normText(c).cast("binary"))

  /** 61-bit polynomial rolling hash of the normalized text (base 257,
    * modulus 2^61-1) — the classic Rabin-Karp document fingerprint, as a
    * pure Scala function for per-token/shingle use. */
  def rollingHash(s: String): Long = {
    val Mod = (1L << 61) - 1
    var h = 0L
    var i = 0
    while (i < s.length) {
      // multiply mod 2^61-1 without overflow: fold the 125-bit product
      val hi = Math.multiplyHigh(h, 257L)
      val lo = h * 257L
      val folded = ((hi << 3) | (lo >>> 61)) + (lo & Mod)
      h = (folded + s.charAt(i)) % Mod
      i += 1
    }
    h
  }
}
