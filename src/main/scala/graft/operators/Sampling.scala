package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data pipelines.
  *
  * `sample()`/TABLESAMPLE are seed-and-partitioning dependent: re-running
  * the job, changing the partition count, or moving an engine changes the
  * selected rows. A corpus pipeline needs the opposite — a sample that is
  * a pure function of each row's key, so it is reproducible across runs,
  * engines and cluster sizes, composes with incremental re-processing
  * (new rows don't reshuffle old decisions), and can be recomputed by any
  * system that has md5.
  *
  * The decision rule: keep a row iff the first 4 hex chars of
  * `md5(key || seed)` fall below `floor(rate * 65536)` rendered as 4 hex
  * chars. Lowercase hex sorts lexicographically in ASCII, so a plain
  * string comparison implements the threshold; rates are quantized to
  * 1/65536 granularity. Pure narrow map — no shuffle, fully codegen'd,
  * trivially scales.
  */
object Sampling {

  /** Threshold string for a rate in [0,1], quantized to k/65536. Rates
    * below 1 render as 4 hex chars; rate ≥ 1 must keep EVERY row, and
    * "10000" would sort before "2af3", so it maps to "g" — a single char
    * that sorts after every lowercase-hex prefix. */
  def hexThreshold(rate: Double): String =
    if (rate >= 1.0) "g"
    else f"${math.max(0L, math.floor(rate * 65536).toLong)}%04x"

  /** 4-hex-char md5 prefix of (key, seed) — the value every keep decision
    * compares against its threshold. */
  private def hashPrefix(key: Column, seed: String): Column =
    substring(md5(concat(key.cast("string"), lit(seed)).cast("binary")), 1, 4)

  /** The keep predicate: md5-prefix of (key, seed) below the rate
    * threshold. `key` is rendered as a string, so any key type with a
    * stable string form works. */
  def keepPredicate(key: Column, rate: Double, seed: String): Column =
    hashPrefix(key, seed) < lit(hexThreshold(rate))

  /** Uniform deterministic Bernoulli sample at `rate`. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double, seed: String): DataFrame =
    df.filter(keepPredicate(col(keyCol), rate, seed))

  /** Deterministic global shuffle order (the training-corpus write-order
    * randomization): rank rows by md5 of (key, seed) with the key as
    * tiebreak — a pure function of the row key, so the order is
    * identical across runs, engines, and cluster sizes, a different
    * `seed` gives an independent epoch order, and any engine with md5
    * can recompute or resume the order. Scale shape: a range-partitioned
    * distributed sort when materializing the full corpus; a top-k probe
    * of the order collapses to TakeOrdered (no global sort). */
  def deterministicShuffle(df: DataFrame, keyCol: String, seed: String): DataFrame =
    df.orderBy(
      md5(concat(col(keyCol).cast("string"), lit(seed)).cast("binary")),
      col(keyCol))

  /** Deterministic train/val/test split: each row gets the label of the
    * cumulative-weight hash range its md5 prefix falls in. A pure
    * narrow map like `hashSample` — the same row lands in the same
    * split on any engine, run, or cluster size, and membership is
    * mutually exclusive and exhaustive by construction (the last label
    * is the fall-through, so quantization remainders go there). */
  def splitAssign(
      df: DataFrame,
      keyCol: String,
      splits: Seq[(String, Double)],
      seed: String,
      outCol: String = "split"): DataFrame = {
    require(splits.nonEmpty, "at least one split")
    require(splits.forall(_._2 >= 0), "weights must be non-negative")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9, "weights must sum to 1")
    val prefix = hashPrefix(col(keyCol), seed)
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val label = splits.init.zip(cum).foldRight(lit(splits.last._1): Column) {
      case (((name, _), cumRate), acc) =>
        when(prefix < lit(hexThreshold(cumRate)), lit(name)).otherwise(acc)
    }
    // null keys are dropped (same as hashSample's predicate): a null
    // hashPrefix fails every `when`, and letting such rows fall through
    // to the last label would silently concentrate them in the smallest
    // (usually eval) split
    df.filter(col(keyCol).isNotNull).withColumn(outCol, label)
  }

  /** Data-mixing rates: given a target weight per stratum (the desired
    * mixture proportions, not necessarily normalized), compute the
    * per-stratum sampling rate that hits the target distribution while
    * using the most data possible — the stratum with the least tokens
    * relative to its weight binds at rate 1.0 and every other stratum
    * downsamples to match (`rate_s = min_t(tokens_t/w_t) * w_s /
    * tokens_s`). This is the static-weights mixing step of a training
    * pipeline (given DoReMi/manual domain weights, derive executable
    * sampling rates).
    *
    * `weights` is a tiny dim (strataCol, w); the only data-sized work is
    * one map-side-combined aggregation of `tokenCount` per stratum.
    * Rates are rounded to 9 decimals so they are engine-portable; feed
    * them to `stratifiedHashSampleByRates` to materialize the sample.
    */
  def mixtureWeights(
      df: DataFrame,
      strataCol: String,
      weights: DataFrame,
      tokenCount: Column): DataFrame = {
    // degenerate strata fail LOUDLY (temperatureSampleByStrata's rule):
    // a zero/null-token stratum would drive min(tokens/w) to 0, zeroing
    // EVERY stratum's rate — "keep nothing" masquerading as a mixture —
    // and a NULL stratum key could never join its weight back
    val strataChecked = ColumnGuards.requireNonNull(col(strataCol),
      s"mixtureWeights: NULL $strataCol stratum")
    val tok = df.groupBy(strataChecked.as(strataCol))
      .agg(sum(tokenCount).cast("long").as("tokens"))
    val tokChecked = when(col("tokens").isNull || col("tokens") <= 0L,
        raise_error(concat(lit("mixtureWeights: stratum '"),
          col(strataCol).cast("string"),
          lit("' has zero/null token total — its budget would zero every rate"))))
      .otherwise(col("tokens"))
    // the weights dim joins FULL OUTER with loud guards on both
    // unmatched directions, same fail-loud class as the token checks
    // above: an inner join would silently DROP a data stratum missing
    // from the weights dim (its tokens vanish from the mixture), a
    // left join would silently IGNORE a weight stratum with no data
    // rows (the produced mixture misses the target distribution with
    // no error), and a null/non-positive w would null or invert the
    // budget minimum without a trace. No broadcast hint: both sides
    // are tiny post-aggregation, and full outer can't broadcast-hash
    val wChecked = when(col("w").isNull,
        raise_error(concat(lit("mixtureWeights: stratum '"),
          col(strataCol).cast("string"),
          lit("' has no weight (no row in the weights dim, or a null w) — " +
            "every data stratum needs a positive weight"))))
      .when(col("w") <= 0.0,
        raise_error(concat(lit("mixtureWeights: stratum '"),
          col(strataCol).cast("string"),
          lit("' has non-positive weight — rates would be null/negative"))))
      .otherwise(col("w"))
    val tokOfWeight = when(col("tokens").isNull,
        raise_error(concat(lit("mixtureWeights: weight stratum '"),
          col(strataCol).cast("string"),
          lit("' has no data rows — the mixture would silently miss " +
            "its target share"))))
      .otherwise(col("tokens"))
    val j = tok.select(col(strataCol), tokChecked.as("tokens"))
      .join(weights, Seq(strataCol), "full_outer")
      .select(col(strataCol), tokOfWeight.as("tokens"), wChecked.as("w"))
    val budget = j.agg(min(col("tokens").cast("double") / col("w")).as("__budget"))
    j.crossJoin(broadcast(budget))
      .select(col(strataCol), col("tokens"),
        round(col("__budget") * col("w") / col("tokens"), 9).as("rate"),
        (col("tokens").cast("double") / col("w") === col("__budget")).as("binding"))
  }

  /** Temperature (α) rebalancing of a multi-source corpus — the
    * multilingual/multi-domain mixing rule (target share ∝ pᵢ^α for
    * source share pᵢ, α ∈ (0,1]; α=1 keeps the natural distribution,
    * smaller α flattens skew toward the small sources). Derivation: the
    * per-ROW keep rate that turns shares pᵢ into shares ∝ pᵢ^α is
    * rᵢ ∝ pᵢ^(α-1), and scaling the largest upweight to rate 1.0 (use
    * ALL of the smallest source, downsample the rest) cancels the
    * corpus total: rᵢ = (tokᵢ/tok_min)^(α-1). Rates round to 9 decimals
    * so a 1-ulp `pow` divergence across engines cannot move a threshold.
    *
    * Scale: one map-side-combined aggregation (per-source token totals),
    * a broadcast of the tiny rate table, one narrow md5-predicate
    * filter — the corpus itself is never shuffled. */
  def temperatureSampleByStrata(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      tokenCount: Column,
      alpha: Double,
      seed: String): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    // degenerate inputs fail LOUDLY, never silently empty the corpus:
    //  - a NULL stratum would bind min(__tok) yet its rows can never
    //    join back (null ≠ null), skewing every real source's rate
    //    while vanishing from the output;
    //  - a zero-token stratum makes __min 0, every other rate
    //    pow(∞, α−1) = 0 and its own pow(NaN) — "keep nothing"
    //    masquerading as a sample.
    val strataChecked = ColumnGuards.requireNonNull(col(strataCol),
      s"temperatureSampleByStrata: NULL $strataCol stratum")
    val tok = df.groupBy(strataChecked.as(strataCol))
      .agg(sum(tokenCount).cast("double").as("__tok"))
    val minTok = tok.agg(min(col("__tok")).as("__min"))
    val rateRaw = round(pow(col("__tok") / col("__min"), alpha - 1.0), 9)
    val rates = tok.crossJoin(broadcast(minTok))
      .select(col(strataCol),
        // rateRaw.isNull: a stratum whose every tokenCount is SQL NULL
        // sums to NULL (min() skips it, so __min stays positive) and
        // isnan(NULL) is false — without this clause the NULL rate
        // quantizes to threshold "0000" and the stratum silently empties
        when(col("__min").isNull || col("__min") <= 0.0 ||
            rateRaw.isNull || isnan(rateRaw),
          raise_error(lit("temperatureSampleByStrata: degenerate stratum " +
            "(zero/negative/null token total) — rates would be NaN/0")))
          .otherwise(rateRaw).as("rate"))
    stratifiedHashSampleByRates(df, keyCol, strataCol, rates, seed)
  }

  /** `stratifiedHashSample` with the rate table as a DataFrame (e.g. the
    * output of `mixtureWeights`) instead of a driver-side Map — the rate
    * computation stays distributed end to end. Strata without a rate row
    * are dropped (rate 0). */
  def stratifiedHashSampleByRates(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: DataFrame,
      seed: String): DataFrame = {
    // greatest(...,0) mirrors hexThreshold's negative clamp: hex() of a
    // negative int renders 16 two's-complement chars and lpad TRUNCATES
    // to 'ffff' — an upstream sign bug would silently flip "keep none"
    // into "keep everything"
    val thresh = when(col("rate") >= 1.0, lit("g"))
      .otherwise(lower(lpad(
        hex(greatest(floor(col("rate") * 65536), lit(0.0)).cast("int")), 4, "0")))
    ColumnGuards.requireNoReserved(df, "stratifiedHashSampleByRates", Set("__thresh"))
    df.join(broadcast(rates.select(col(strataCol), thresh.as("__thresh"))),
        Seq(strataCol))
      .filter(hashPrefix(col(keyCol), seed) < col("__thresh"))
      .drop("__thresh")
  }

  /** Per-group row cap — the web-corpus "max N documents per domain"
    * rule. Keeps the top `n` rows of each group under an explicit,
    * deterministic ordering (ties must be broken by a unique key in
    * `orderBy`, or the survivor set is engine-dependent).
    *
    * Scale: one shuffle on the group key. The `row_number() <= n` filter
    * is recognized by Catalyst's InferWindowGroupLimit, which inserts a
    * partial WindowGroupLimit BEFORE the shuffle — each map task forwards
    * at most `n` rows per group, so a hot domain costs O(n) network, not
    * O(group). That rewrite is what makes this safe at 100 TB; a plain
    * rank-then-filter without it would sort whole groups. */
  def capPerGroup(df: DataFrame, groupCol: String, orderBy: Seq[Column], n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    ColumnGuards.requireNoReserved(df, "capPerGroup", Set("__rank"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(orderBy: _*)
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= n)
      .drop("__rank")
  }

  /** Stratified deterministic sample: a different rate per stratum (the
    * domain-mixing primitive — e.g. downsample crawl to 10%, keep books
    * at 100%). The rate table is a tiny dim joined broadcast, so the
    * plan stays one narrow stage over the fact table at any scale;
    * strata absent from `rates` default to `defaultRate`. */
  def stratifiedHashSample(
      df: DataFrame,
      keyCol: String,
      strataCol: String,
      rates: Map[String, Double],
      seed: String,
      defaultRate: Double = 1.0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ColumnGuards.requireNoReserved(df, "stratifiedHashSample", Set("__thresh"))
    val rateDim = rates.toSeq.map { case (k, v) => (k, hexThreshold(v)) }
      .toDF(strataCol, "__thresh")
    df.join(broadcast(rateDim), Seq(strataCol), "left")
      .withColumn("__thresh", coalesce(col("__thresh"), lit(hexThreshold(defaultRate))))
      .filter(hashPrefix(col(keyCol), seed) < col("__thresh"))
      .drop("__thresh")
  }

  /** Per-group token budgets — "at most N tokens from each domain", the
    * per-source curation rule in training-data mixes. Same inclusive
    * running-total semantics as [[selectUnderTokenBudget]] but the
    * cumsum is a window PARTITIONED BY the group, so it parallelizes by
    * group with one key shuffle and needs no prefix-offset machinery
    * (the global variant exists because a single-partition global window
    * is the anti-pattern; a per-group window is not). Groups absent
    * from `budgets` default to `defaultBudget` (Long.MaxValue = keep
    * all). The budget table rides a broadcast dim. */
  def selectUnderTokenBudgetPerGroup(df: DataFrame, groupCol: String,
      orderCols: Seq[Column], tokenCol: String, budgets: Map[String, Long],
      defaultBudget: Long = Long.MaxValue): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ColumnGuards.requireNoReserved(df, "selectUnderTokenBudgetPerGroup",
      Set("cum_tok", "__budget"))
    val dim = budgets.toSeq.toDF(groupCol, "__budget")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(orderCols: _*)
    df.withColumn("cum_tok", sum(col(tokenCol).cast("long")).over(w))
      .join(broadcast(dim), Seq(groupCol), "left")
      .filter(col("cum_tok") <= coalesce(col("__budget"), lit(defaultBudget)))
      .drop("__budget")
  }

  /** Token-budget corpus selection: walk the rows in `orderCols` order
    * (e.g. quality desc — best first) and keep every row whose INCLUSIVE
    * running `tokenCol` total stays ≤ `budget` — "the best documents
    * that fit in an N-token training budget". Adds `cum_tok` (the
    * running total) to the output.
    *
    * The running sum is the scale-correct TWO-PASS shape, never a
    * single-partition global window: range-partition by `orderCols`
    * (partition i holds ranks strictly before partition i+1), take ONE
    * tiny per-partition total pass (≤ #partitions rows on the driver),
    * broadcast the exclusive prefix offsets back, and finish with a
    * per-partition window — every stage is parallel and the widest
    * shuffle is the range exchange a global sort would need anyway. The
    * ranged data is persisted across the two passes so both observe the
    * SAME sampled range boundaries (re-planning the exchange could
    * re-sample them differently and mis-align the offsets).
    *
    * `orderCols` must be a TOTAL order (include a unique id tiebreak) —
    * otherwise ties may straddle a boundary and the kept set is not
    * well-defined. */
  def selectUnderTokenBudget(df: DataFrame, orderCols: Seq[Column],
      tokenCol: String, budget: Long, numPartitions: Int = 0): DataFrame = {
    require(budget >= 0, s"budget must be non-negative, got $budget")
    ColumnGuards.requireNoReserved(df, "selectUnderTokenBudget",
      Set("cum_tok", "__pid", "__offset"))
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sessionState.conf.numShufflePartitions
    Materialize.cached(df.repartitionByRange(parts, orderCols: _*)
        .withColumn("__pid", spark_partition_id())) { ranged =>
      val totals: Map[Int, Long] = ranged
        .groupBy(col("__pid"))
        // coalesce: a partition whose every token count is null sums to
        // SQL NULL and getLong would NPE the driver
        .agg(coalesce(sum(col(tokenCol).cast("long")), lit(0L)).as("t"))
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1))
        .toMap
      val offsets = totals.keys.toSeq.sorted.map { pid =>
        (pid, totals.filter(_._1 < pid).values.sum)
      }
      import spark.implicits._
      val offsetDim = offsets.toDF("__pid", "__offset")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__pid")).orderBy(orderCols: _*)
      ranged
        .join(broadcast(offsetDim), Seq("__pid"))
        .withColumn("cum_tok",
          col("__offset") + sum(col(tokenCol).cast("long")).over(w))
        .filter(col("cum_tok") <= budget)
        .drop("__pid", "__offset")
        // the kept prefix is final — cut the cached-exchange lineage so the
        // cache can be released without a recompute hazard downstream
        .localCheckpoint()
    }
  }

  // ----------------------------------- bottom-k uniform sample sketch
  /** 60-bit row hash for the bottom-k sample: first 15 md5 hex chars of
    * the row id rendered as a string — the same engine-portable
    * md5-prefix idiom as [[keepPredicate]], replayable in DuckDB as
    * `('0x' || substr(md5(CAST(id AS VARCHAR)), 1, 15))::BIGINT`. 60
    * bits (not the sketch-family's usual 32) because this hash ORDERS
    * individual rows of an arbitrarily large corpus: at 32 bits,
    * billions of rows would tie constantly and push the ordering onto
    * the id tie-break, making inclusion correlate with id order rather
    * than the hash. */
  private def sampleRowHash(c: Column): Column =
    conv(substring(md5(c.cast("string").cast("binary")), 1, 15), 16, 10)
      .cast("long")

  /** The `k` smallest rows of `df` by [[sampleRowHash]] of `idCol` — a
    * DETERMINISTIC fixed-size uniform row sample without replacement,
    * the mergeable summary that stands in for the corpus wherever a
    * bounded-error distributional statistic (quantiles, means, rates)
    * is needed at a scale where exact computation is a full sort. The
    * output carries `(h, idCol, valueCol, k)`: the hash (merge order),
    * the id (merge dedup + the uniqueness guard), the metric value, and
    * the build-time k every consumer checks. Sampling error for a
    * p-quantile is the binomial ~sqrt(p(1-p)/k) in rank space.
    *
    * Plan: TakeOrdered by (h, id) — per-partition heaps of k rows merge
    * at the coordinator; no global sort, and the shuffle ships at most
    * k rows per input partition.
    *
    * CONTRACT: `idCol` uniquely identifies rows (a duplicated id gives
    * its row two tickets in the lottery and biases the sample toward
    * it). Violations that reach the kept sample fail loudly in-plan; a
    * duplicate pair SPLIT by the k boundary is undetectable here and
    * stays the caller's responsibility. NULL ids and NULL values fail
    * loudly — a null hash would sort NULLS FIRST into the sample, and a
    * null value would silently vanish from every quantile. */
  def bottomKSample(df: DataFrame, idCol: String, valueCol: String,
      k: Int): DataFrame = {
    require(k > 1, s"bottomKSample needs k > 1, got $k")
    requireSampleNames("bottomKSample", idCol, valueCol, None)
    df.select(
        sampleRowHash(ColumnGuards.requireNonNull(col(idCol),
          s"bottomKSample: NULL $idCol — a null hash would sort into " +
            "the sample ahead of every real row; repair ids first")).as("h"),
        col(idCol),
        ColumnGuards.requireNonNull(col(valueCol),
          s"bottomKSample: NULL $valueCol — a null value would " +
            "silently vanish from every sample statistic").as(valueCol))
      .orderBy(col("h"), col(idCol))
      .limit(k)
      .transform(guardDuplicateIds(idCol, Seq.empty, "bottomKSample"))
      .withColumn("k", lit(k))
  }

  /** Per-group [[bottomKSample]]: `(groupCol, h, idCol, valueCol, k)`
    * rows, at most `k` per group. The `row_number <= k` prune plans a
    * map-side WindowGroupLimit, so each map partition ships at most k
    * rows PER GROUP into the exchange — a hot group costs k rows per
    * partition, never its row count. */
  def bottomKSampleByGroup(df: DataFrame, groupCol: String, idCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(k > 1, s"bottomKSampleByGroup needs k > 1, got $k")
    requireSampleNames("bottomKSampleByGroup", idCol, valueCol, Some(groupCol))
    ColumnGuards.requireNoReserved(df, "bottomKSampleByGroup", Set("__rk"))
    df.select(
        ColumnGuards.requireNonNull(col(groupCol),
          s"bottomKSampleByGroup: NULL $groupCol group key").as(groupCol),
        sampleRowHash(ColumnGuards.requireNonNull(col(idCol),
          s"bottomKSampleByGroup: NULL $idCol — a null hash would sort " +
            "into the sample ahead of every real row; repair ids first")).as("h"),
        col(idCol),
        ColumnGuards.requireNonNull(col(valueCol),
          s"bottomKSampleByGroup: NULL $valueCol — a null value would " +
            "silently vanish from every sample statistic").as(valueCol))
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("h"), col(idCol))))
      .filter(col("__rk") <= k)
      .drop("__rk")
      .transform(guardDuplicateIds(idCol, Seq(groupCol), "bottomKSampleByGroup"))
      .withColumn("k", lit(k))
  }

  /** Lossless sample-sketch union: the k hash-smallest rows of the
    * combined shard samples are exactly [[bottomKSample]] of the
    * combined corpus — the coordinator-merge layout (shards sample
    * independently, k-sized frames merge anywhere). Exact duplicate
    * rows (the same row carried by overlapping folds) collapse; the
    * SAME id arriving with DIFFERENT values — a cross-shard id
    * collision, which would make the merged "sample" carry two rows for
    * one ticket — fails loudly via the duplicate-id guard, which runs
    * on the PRE-prune union (already ≤ k·shards rows) so a collision
    * pair split by the k boundary cannot slip through with an
    * arbitrarily-chosen twin. k-mismatch and by-group-shaped inputs
    * also fail loudly. */
  def bottomKSampleMerge(sketches: Seq[DataFrame], idCol: String,
      valueCol: String, k: Int): DataFrame = {
    require(sketches.nonEmpty, "bottomKSampleMerge needs at least one sketch")
    requireSampleNames("bottomKSampleMerge", idCol, valueCol, None)
    sketches.foreach(requireSampleShape(_, "bottomKSampleMerge",
      Seq("h", idCol, valueCol, "k"), "bottomKSampleMergeByGroup"))
    sketches.reduce(_ unionByName _)
      // the k check RIDES the kept h column — a dropped check column
      // would be pruned out of the plan along with its raise_error
      .select(ColumnGuards.kChecked(k, "bottomKSampleMerge").as("h"),
        col(idCol), col(valueCol))
      .distinct()
      .transform(guardDuplicateIds(idCol, Seq.empty, "bottomKSampleMerge"))
      .orderBy(col("h"), col(idCol))
      .limit(k)
      .withColumn("k", lit(k))
  }

  /** Per-group twin of [[bottomKSampleMerge]], same plan shape as the
    * by-group sketch's own prune (map-side WindowGroupLimit). Groups
    * missing from some shards merge fine. */
  def bottomKSampleMergeByGroup(sketches: Seq[DataFrame], groupCol: String,
      idCol: String, valueCol: String, k: Int): DataFrame = {
    require(sketches.nonEmpty,
      "bottomKSampleMergeByGroup needs at least one sketch")
    requireSampleNames("bottomKSampleMergeByGroup", idCol, valueCol,
      Some(groupCol))
    sketches.foreach(requireSampleShape(_, "bottomKSampleMergeByGroup",
      Seq(groupCol, "h", idCol, valueCol, "k"), "bottomKSampleMerge"))
    sketches.reduce(_ unionByName _)
      // k check rides the kept h column (see bottomKSampleMerge); the
      // duplicate-id guard runs PRE-prune for the same boundary-split
      // reason, on the ≤ k·shards-per-group union
      .select(col(groupCol),
        ColumnGuards.kChecked(k, "bottomKSampleMergeByGroup").as("h"),
        col(idCol), col(valueCol))
      .distinct()
      .transform(guardDuplicateIds(idCol, Seq(groupCol),
        "bottomKSampleMergeByGroup"))
      .withColumn("__rk", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col(groupCol)).orderBy(col("h"), col(idCol))))
      .filter(col("__rk") <= k)
      .drop("__rk")
      .withColumn("k", lit(k))
  }

  /** Exact interpolated quantiles OF THE SAMPLE (Spark `percentile` =
    * DuckDB `quantile_cont`), one column per requested p, rounded to 4
    * decimals for cross-engine hash stability — plus `n_sample`, which
    * consumers use to tell the exact regime (below capacity the sample
    * IS the corpus slice and the quantiles are exact) from the
    * estimated one. Reading at a different k than the sketch was built
    * at fails loudly in-plan. */
  def sampleQuantiles(sketch: DataFrame, idCol: String, valueCol: String,
      k: Int, ps: Seq[Double]): DataFrame = {
    requireSampleNames("sampleQuantiles", idCol, valueCol, None)
    requireSampleShape(sketch, "sampleQuantiles",
      Seq("h", idCol, valueCol, "k"), "sampleQuantilesByGroup")
    val qs = quantileAggs(valueCol, k, ps, "sampleQuantiles")
    sketch.agg(count(lit(1)).as("n_sample"), qs: _*)
  }

  /** Per-group twin of [[sampleQuantiles]]. */
  def sampleQuantilesByGroup(sketch: DataFrame, groupCol: String,
      idCol: String, valueCol: String, k: Int, ps: Seq[Double]): DataFrame = {
    requireSampleNames("sampleQuantilesByGroup", idCol, valueCol, Some(groupCol))
    requireSampleShape(sketch, "sampleQuantilesByGroup",
      Seq(groupCol, "h", idCol, valueCol, "k"), "sampleQuantiles")
    val qs = quantileAggs(valueCol, k, ps, "sampleQuantilesByGroup")
    sketch.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_sample"), qs: _*)
  }

  /** One percentile aggregate per requested p, labeled `q<percent>`
    * (q25, q95, q99_9). The k check ([[ColumnGuards.kChecked]]) rides
    * the aggregated value, so a mismatched sketch raises before any
    * quantile is produced. */
  private def quantileAggs(valueCol: String, k: Int, ps: Seq[Double],
      op: String): Seq[Column] = {
    require(ps.nonEmpty, s"$op: no quantiles requested")
    ps.map { p =>
      require(p > 0.0 && p < 1.0, s"$op: quantile p=$p outside (0, 1)")
      val lbl = "q" + (BigDecimal(p) * 100).underlying
        .stripTrailingZeros.toPlainString.replace(".", "_")
      round(percentile(
        ColumnGuards.kChecked(k, op, rides = col(valueCol)).cast("double"),
        lit(p)), 4).as(lbl)
    }
  }

  /** Fold the per-batch sketch dirs a streaming reservoir leaves behind
    * — one k-sized `sketch_batch_<id>` dir per micro-batch, a linear
    * small-files pile at ingest cadence — into ONE merged
    * `sketch_compact_<gen>` dir under the repo's shared staged-fold
    * protocol (data + `_SUBSUMES` staged invisible, atomic rename is
    * the commit, folded dirs deleted after; every crash point is safe
    * and the next call's sweep finishes a half-done fold). Because the
    * merge is lossless, a reader of the live dirs sees IDENTICAL
    * results before and after. The NEWEST batch dir is never folded:
    * under at-least-once redelivery only the last batch can retry, and
    * its retry-overwrite contract needs the dir to still exist. Run it
    * from the foreachBatch hook or a maintenance window — never
    * concurrently with the writer. Returns the number of dirs folded
    * (0 = nothing worth folding: fewer than two foldable dirs). */
  def compactSampleSketches(spark: org.apache.spark.sql.SparkSession,
      outDir: String, schema: org.apache.spark.sql.types.StructType,
      groupCol: Option[String], idCol: String, valueCol: String,
      k: Int): Int = {
    val (fs, root) = Dedup.stateFs(spark, outDir)
    if (!fs.exists(root)) return 0
    val (fold, gen) = Dedup.foldableState(fs, root,
      "sketch_batch_", "sketch_compact_", "tmp_sketch_compact_")
    if (fold.size < 2) return 0
    val merged = spark.read.schema(schema)
      .parquet(fold.map(n => s"$outDir/$n"): _*)
    val one = groupCol match {
      case Some(g) => bottomKSampleMergeByGroup(Seq(merged), g, idCol, valueCol, k)
      case None => bottomKSampleMerge(Seq(merged), idCol, valueCol, k)
    }
    // one file, deliberately: the merged sketch is ≤ k rows (per group),
    // tiny by construction — unlike Dedup's corpus-scale ingest state,
    // which repartitions to targetPartitions
    one.coalesce(1).write.mode("overwrite")
      .parquet(s"$outDir/tmp_sketch_compact_$gen")
    Dedup.commitFold(fs, root, s"tmp_sketch_compact_$gen",
      s"sketch_compact_$gen", fold)
    fold.size
  }

  /** The live state dirs of a streaming-reservoir output dir — batch
    * dirs plus committed compactions, MINUS anything a committed fold's
    * `_SUBSUMES` sidecar covers (the commitFold contract: from the
    * rename instant readers honor the sidecar, so a crash between the
    * rename and the deletes never double-reads a row — the merge's
    * distinct() would mask that for THIS consumer, but a non-collapsing
    * reader must get the same set). One definition shared by gates and
    * consumers so a rename of either prefix cannot silently hide state
    * from a subset of readers. */
  def sampleSketchStateDirs(spark: org.apache.spark.sql.SparkSession,
      outDir: String): Seq[String] = {
    val (fs, root) = Dedup.stateFs(spark, outDir)
    if (!fs.exists(root)) return Seq.empty
    val entries = fs.listStatus(root).filter(_.isDirectory)
    val subsumed = entries
      .filter(_.getPath.getName.startsWith("sketch_compact_"))
      .flatMap(e => Dedup.readSubsumes(fs, e.getPath)).toSet
    entries.map(_.getPath.getName)
      .filter(n => (n.startsWith("sketch_batch_") ||
        n.startsWith("sketch_compact_")) && !subsumed(n))
      .sorted.map(n => s"$outDir/$n").toSeq
  }

  /** The kept sample is ordered by (h, id); a duplicated id is adjacent
    * there, so one lag over the (tiny, already-pruned) frame surfaces
    * the id-uniqueness contract violation loudly instead of letting the
    * doubled ticket bias downstream statistics. */
  private def guardDuplicateIds(idCol: String, groupCols: Seq[String],
      op: String)(kept: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("h"), col(idCol))
    kept
      .withColumn("__prev_id", lag(col(idCol), 1).over(w))
      .withColumn(idCol,
        when(col("__prev_id") === col(idCol), raise_error(concat(
          lit(s"$op: duplicate id in the kept sample ("),
          col(idCol).cast("string"),
          lit(s") — $idCol must uniquely identify rows"))))
          .otherwise(col(idCol)))
      .drop("__prev_id")
  }

  /** Sketch-family names are fixed (`h`, `k`) and the internals use
    * `__rk`/`__prev_id` as working columns; a caller column under any
    * of those names would be silently clobbered (or, for `__prev_id`,
    * make the duplicate-id guard compare a column to its own lag and
    * falsely raise on every valid ≥2-row sample). */
  private def requireSampleNames(op: String, idCol: String,
      valueCol: String, groupCol: Option[String]): Unit = {
    val named = Seq("idCol" -> idCol, "valueCol" -> valueCol) ++
      groupCol.map("groupCol" -> _)
    named.foreach { case (role, n) =>
      require(n != "h" && n != "k" && n != "__rk" && n != "__prev_id",
        s"$op: $role '$n' collides with the sketch's own (h, k) or " +
          "internal (__rk, __prev_id) columns — rename it first")
    }
    require(idCol != valueCol && groupCol.forall(g => g != idCol && g != valueCol),
      s"$op: idCol/valueCol/groupCol must be distinct columns, got " +
        s"($idCol, $valueCol${groupCol.fold("")(g => s", $g")})")
  }

  /** Sample-sketch frames are checked POSITIONALLY against the exact
    * column order the builders emit — a set-equality check would let
    * swapped idCol/valueCol arguments through, and the swap either
    * fails a valid merge with a misleading duplicate-id message (two
    * sampled rows sharing a metric value) or silently changes the
    * dedup/tie-break semantics. */
  private def requireSampleShape(df: DataFrame, op: String,
      expected: Seq[String], twin: String): Unit =
    require(df.columns.toSeq == expected,
      s"$op takes (${expected.mkString(", ")}) sketches in builder " +
        s"column order, got (${df.columns.mkString(", ")}) — check the " +
        s"idCol/valueCol argument order, or use $twin for the other " +
        "sketch shape")
}
