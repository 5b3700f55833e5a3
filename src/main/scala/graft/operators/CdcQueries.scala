package graft.operators

import graft.streaming.CdcPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Gate queries for the CDC operator surface (SURVEY §2.1-2.6): each runs
  * a deterministic simulated VStream feed derived from the testdata
  * tables through the full distributed pipeline (assemble → decode →
  * envelope → transforms) and projects a result that DuckDB can recompute
  * from the original parquet — so value conversion, op derivation, tx
  * metadata, offset rotation, filters and transforms are all checked
  * against an independent oracle.
  */
object CdcQueries {

  type Q = (SparkSession, String) => DataFrame

  /** The default orders change log, computed once per scale dir and
    * persisted — several gates query the same log, exactly like a real
    * deployment materializes one change log for many consumers. */
  private def ordersChangeLog(s: SparkSession, d: String): DataFrame =
    Materialize.shared(s, s"cdc.changeLog:$d")(
      CdcPipeline.changeRecords(s, ordersFeed(s, d)))

  /** The default orders FEED (the raw wire lines), memoized like the
    * change log above: generation is a corpus-wide JSON-serialization
    * pass that FIVE consumers otherwise re-run from scratch per
    * invocation (the change log, the boundary gate, the wire-decode
    * gate, the feed-file staging, and the restart waves). */
  private def ordersFeed(s: SparkSession, d: String): org.apache.spark.sql.Dataset[graft.streaming.FeedLine] = {
    import s.implicits._
    Materialize.shared(s, s"cdc.ordersFeed:$d")(CdcFeed.orders(s, d).toDF())
      .as[graft.streaming.FeedLine]
  }

  private def afterStr(field: String) = get_json_object(col("after"), s"$$.$field")

  // -------------------------------------------------- insert round-trip
  /** S2+D1-D8: every orders row through BEGIN..COMMIT assembly, packed-row
    * slicing, typed decode, envelope — values must match the source
    * table exactly. */
  val qCdcInsertRoundtrip: Q = (s, d) => {
    val recs = ordersChangeLog(s, d)
    recs
      .filter(col("op") === "c")
      .select(
        afterStr("o_orderkey").cast(LongType).as("o_orderkey"),
        afterStr("o_custkey").cast(LongType).as("o_custkey"),
        afterStr("o_orderstatus").as("o_orderstatus"),
        afterStr("o_totalprice").cast(DoubleType).as("o_totalprice"),
        timestamp_micros(afterStr("o_orderdate").cast(LongType)).as("o_orderdate"),
        afterStr("o_orderpriority").as("o_orderpriority"),
        col("shard"))
  }

  val qCdcInsertRoundtripSql: String =
    s"""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate,
       |  o_orderpriority, CAST(o_orderkey % 4 AS VARCHAR) AS shard
       |FROM orders""".stripMargin

  // -------------------------------------------------- op derivation
  /** D2: before/after sides → c/u/d; key comes from the before side on
    * delete. */
  val qCdcOpsMix: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.orders(s, d, opsMix = true))
    recs
      .groupBy(col("op"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("key"), "$.o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("op"))
  }

  val qCdcOpsMixSql: String =
    """SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'u'
      |            WHEN o_orderkey % 10 = 5 THEN 'd'
      |            ELSE 'c' END AS op,
      |  count(*) AS n, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders GROUP BY 1 ORDER BY op""".stripMargin

  // -------------------------------------------------- tx metadata + offsets
  /** A1-A3/A7-A8 + O1/O2: per-shard rank tracks the GTID sequence, epoch
    * stays 0 on a stable host set, and every tx after the first carries
    * the previous tx's position as its restart offset. */
  val qCdcTxMetadata: Q = (s, d) => {
    val recs = ordersChangeLog(s, d)
    recs
      .filter(col("op") === "c")
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("tx_id")).as("n_tx"),
        max(col("rank").cast(LongType)).as("max_rank"),
        max(col("epoch")).as("max_epoch"),
        sum(when(
          get_json_object(col("restart_vgtid"), "$[0].gtid") ===
            concat(lit("MySQL56/feed:1-"), (col("rank").cast(LongType) - 1).cast(StringType)),
          1L).otherwise(0L)).as("n_rotated"))
      .orderBy(col("shard"))
  }

  val qCdcTxMetadataSql: String =
    """SELECT CAST(o_orderkey % 4 AS VARCHAR) AS shard,
      |  count(*) AS n_records, count(*) AS n_tx, count(*) AS max_rank,
      |  CAST(0 AS BIGINT) AS max_epoch, count(*) - 1 AS n_rotated
      |FROM orders GROUP BY 1 ORDER BY shard""".stripMargin

  // -------------------------------------------------- type matrix
  /** D6/D7 full conversion matrix through the distributed pipeline; the
    * oracle pins the expected decodings as literals. */
  val qCdcTypeMatrix: Q = (s, _) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.typeMatrix(s))
    recs
      .filter(col("op") === "c")
      .select(
        afterStr("c_i16").as("c_i16"),
        afterStr("c_i32").as("c_i32"),
        afterStr("c_i64").as("c_i64"),
        afterStr("c_u64").as("c_u64"),
        afterStr("c_f32").as("c_f32"),
        afterStr("c_f64").as("c_f64"),
        afterStr("c_dec").as("c_dec"),
        afterStr("c_txt").as("c_txt"),
        afterStr("c_json").as("c_json"),
        afterStr("c_enum").as("c_enum"),
        afterStr("c_set").as("c_set"),
        afterStr("c_bit1").as("c_bit1"),
        afterStr("c_date").as("c_date"),
        afterStr("c_zero_date").as("c_zero_date"),
        afterStr("c_zero_dt_nn").as("c_zero_dt_nn"),
        afterStr("c_time").as("c_time"),
        afterStr("c_dt").as("c_dt"),
        afterStr("c_ts").as("c_ts"),
        col("key"))
  }

  val qCdcTypeMatrixSql: String =
    """SELECT '-42' AS c_i16, '123456' AS c_i32, '9123456789' AS c_i64,
      |  '18446744073709551615' AS c_u64, '1.5' AS c_f32, '3.25' AS c_f64,
      |  '12345.6700' AS c_dec, 'héllo wörld' AS c_txt, '{"a":1}' AS c_json,
      |  'm' AS c_enum, 'a,c' AS c_set, 'true' AS c_bit1,
      |  '2020-02-29' AS c_date, CAST(NULL AS VARCHAR) AS c_zero_date,
      |  '1970-01-01T00:00' AS c_zero_dt_nn,
      |  '-5415500000' AS c_time, '2021-01-02T03:04:05' AS c_dt,
      |  '1609556645000000' AS c_ts, '{"c_i16":-42}' AS key""".stripMargin

  // -------------------------------------------------- type modes (D7)
  /** D7 end-to-end: non-default handling modes flow from pipeline options
    * through decode — uint64 `precise` (incl. the +2^64 wraparound of a
    * negative wire value), binary `hex`, temporal `isostring` (raw
    * temporal text passes through unchanged). Oracle pins literals. */
  val qCdcTypeModes: Q = (s, _) => {
    import graft.core.ValueConversion
    val modes = ValueConversion.TypeModes(
      uint64 = ValueConversion.UInt64Mode.AsPrecise,
      binary = ValueConversion.BinaryMode.Hex,
      temporal = ValueConversion.TemporalMode.IsoString)
    val recs = CdcPipeline.changeRecords(s, CdcFeed.typeModesMatrix(s), typeModes = modes)
    recs
      .filter(col("op") === "c")
      .select(
        afterStr("c_u64_neg").as("u64_wrapped"),
        afterStr("c_u64").as("u64_small"),
        afterStr("c_bin").as("bin_hex"),
        afterStr("c_date").as("date_iso"),
        afterStr("c_time").as("time_iso"),
        afterStr("c_dt").as("dt_iso"),
        afterStr("c_ts").as("ts_iso"))
  }

  val qCdcTypeModesSql: String =
    """SELECT '18446744073709551615' AS u64_wrapped, '123' AS u64_small,
      |  '4142' AS bin_hex, '2020-02-29' AS date_iso, '-01:30:15.5' AS time_iso,
      |  '2021-01-02 03:04:05' AS dt_iso, '2021-01-02 03:04:05' AS ts_iso""".stripMargin

  // -------------------------------------------------- DDL metadata
  /** D10: DDL records carry the extracted operation + table and the DDL
    * event's own timestamp. */
  val qCdcDdl: Q = (s, _) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.typeMatrix(s))
    recs
      .filter(col("op") === "ddl")
      .orderBy(col("ts_ms"))
      .select(
        col("table"),
        get_json_object(col("after"), "$.operation").as("operation"),
        col("ts_ms").as("tsMs"))
  }

  val qCdcDdlSql: String =
    """SELECT * FROM (VALUES
      |  ('typetest', 'ALTER', CAST(1700000100000 AS BIGINT)),
      |  ('t_new', 'CREATE', CAST(1700000101000 AS BIGINT))
      |) AS t("table", operation, "tsMs") ORDER BY "tsMs"""".stripMargin

  // -------------------------------------------------- table filter
  /** F1/F2: include list keeps only ks.orders; mysql.* is always
    * excluded; the filter short-circuits decode inside the pipeline. */
  val qCdcFilterTables: Q = (s, d) => {
    val filter = graft.core.TableFilter(Seq("ks\\.orders"), Nil)
    val recs = CdcPipeline.changeRecords(s, CdcFeed.twoTables(s, d), tableFilter = filter)
    recs
      .filter(col("op") === "c")
      .groupBy(col("keyspace"), col("table"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("keyspace"), col("table"))
  }

  val qCdcFilterTablesSql: String =
    """SELECT 'ks' AS keyspace, 'orders' AS "table", count(*) AS n FROM orders""".stripMargin

  // -------------------------------------------------- extract new state
  /** T6 + D6: flatten the envelope back to a typed customer table — full
    * value round-trip through JSON payloads. */
  val qCdcExtractState: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.customer(s, d))
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_acctbal", DoubleType),
      StructField("c_mktsegment", StringType)))
    Transforms.extractNewRecordState(Envelope.toEnvelope(recs), schema)
  }

  val qCdcExtractStateSql: String =
    "SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"

  // -------------------------------------------------- local vgtid
  /** T3: after UseLocalVgtid each record's source.vgtid holds exactly its
    * own shard's entry (feed emits full 4-shard vgtids). */
  val qCdcLocalVgtid: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.orders(s, d, multiShardVgtid = true))
    val env = Transforms.useLocalVgtid(Envelope.toEnvelope(recs))
    env.filter(col("op") === "c")
      .select(
        col("source.shard").as("shard"),
        get_json_object(col("source.vgtid"), "$[0].shard").as("vgtid_shard"),
        json_array_length(col("source.vgtid")).as("n_entries"))
      .groupBy(col("shard"), col("vgtid_shard"), col("n_entries"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("shard"))
  }

  val qCdcLocalVgtidSql: String =
    """SELECT CAST(o_orderkey % 4 AS VARCHAR) AS shard,
      |  CAST(o_orderkey % 4 AS VARCHAR) AS vgtid_shard,
      |  CAST(1 AS INTEGER) AS n_entries, count(*) AS n
      |FROM orders GROUP BY 1, 2, 3 ORDER BY shard""".stripMargin

  // -------------------------------------------------- remove/replace field
  /** T1/T2: drop source.vgtid, blank transaction.id — no record retains
    * either value. */
  val qCdcRemoveReplace: Q = (s, d) => {
    val recs = ordersChangeLog(s, d)
    val env = Envelope.toEnvelope(recs)
    val t1 = Transforms.removeField(env, "source.vgtid")
    val t2 = Transforms.replaceFieldValue(t1, "transaction.id")
    // the field must be gone from the SCHEMA, not just null-valued:
    // to_json omits null struct fields, so a regression that nulled
    // instead of dropped would read identically through JSON — the
    // schema probe cannot be fooled that way. Likewise the blanked
    // txid counts null separately: `=!= \"\"` on a NULL is NULL and
    // falls to otherwise(0), so a null-instead-of-empty regression was
    // previously invisible.
    val vgtidStillInSchema = t2.schema("source").dataType match {
      case st: org.apache.spark.sql.types.StructType => st.fieldNames.contains("vgtid")
      case _ => true
    }
    t2.filter(col("op") === "c")
      .select(
        sum(when(lit(vgtidStillInSchema), 1L).otherwise(0L)).as("n_source_vgtid"),
        sum(when(col("transaction.id").isNotNull && col("transaction.id") =!= "", 1L)
          .otherwise(0L)).as("n_nonempty_txid"),
        sum(when(col("transaction.id").isNull, 1L).otherwise(0L)).as("n_null_txid"),
        count(lit(1)).as("n_total"))
  }

  val qCdcRemoveReplaceSql: String =
    """SELECT CAST(0 AS BIGINT) AS n_source_vgtid, CAST(0 AS BIGINT) AS n_nonempty_txid,
      |  CAST(0 AS BIGINT) AS n_null_txid,
      |  count(*) AS n_total FROM orders""".stripMargin

  // -------------------------------------------------- boundaries filter
  /** A9 + T4/F4: boundary records wrap each tx; the filter drops exactly
    * them. */
  val qCdcBoundaries: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, ordersFeed(s, d), emitBoundaries = true)
    // eager localCheckpoint: one materialization pass shared by the two
    // union branches (persist + count would pay an extra full action)
    val df = recs.localCheckpoint(true)
    val kept = Transforms.filterTransactionTopicRecords(df)
    val out = df.groupBy(col("op")).agg(count(lit(1)).as("n"))
      .unionByName(
        kept.select(lit("kept_after_filter").as("op"), count(lit(1)).as("n")))
      .orderBy(col("op"))
    // pin the ~4-row result and drop every reference to the checkpointed
    // corpus-sized record set — returning a plan over it would keep its
    // blocks pinned for as long as the harness holds the result
    val rows = out.collect()
    s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
  }

  val qCdcBoundariesSql: String =
    """SELECT op, n FROM (
      |  SELECT 'begin' AS op, count(*) AS n FROM orders
      |  UNION ALL SELECT 'c', count(*) FROM orders
      |  UNION ALL SELECT 'end', count(*) FROM orders
      |  UNION ALL SELECT 'kept_after_filter', count(*) FROM orders
      |) ORDER BY op""".stripMargin

  // -------------------------------------------------- streaming source
  /** Move each `shard=<name>` directory's single ordered part file from
    * a dynamic-partition text write into `<name>.jsonl` under `target`
    * (one wave of [[stageTagged]]'s write). */
  private def collectShardFiles(
      container: java.nio.file.Path, target: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val dirListing = Files.list(container)
    val shardDirs =
      try dirListing.iterator().asScala
        .filter(_.getFileName.toString.startsWith("shard=")).toSeq
      finally dirListing.close()
    shardDirs.foreach { shardDir =>
      val shard = shardDir.getFileName.toString.stripPrefix("shard=")
      val listing = Files.list(shardDir)
      val parts =
        try listing.iterator().asScala
          .filter(_.getFileName.toString.startsWith("part-")).toSeq
        finally listing.close()
      require(parts.size == 1, s"expected one ordered part per shard, got ${parts.size}")
      Files.move(parts.head, target.resolve(s"$shard.jsonl"))
      ()
    }
  }

  private def runStreamOnce(
      s: SparkSession,
      feedDir: java.nio.file.Path,
      outDir: java.nio.file.Path,
      ckpt: java.nio.file.Path,
      options: Map[String, String] = Map.empty): Unit = {
    val q = s.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .options(options)
      .load()
      .writeStream.format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
  }

  /** The plain orders feed is consumed read-only by several gates (each
    * keeps its own checkpoint + sink); staged once per scale dir as a
    * one-wave feed — the write job is pure harness cost. */
  private def ordersFeedDir(s: SparkSession, d: String): java.nio.file.Path =
    stageWaves(s"orders:$d")(Seq(ordersFeed(s, d))).head

  /** Staged-wave cache for the 2-run restart gates: each invocation
    * streams the SAME deterministic feed waves, so the Spark
    * sort+serialize staging job is pure harness cost on repeat runs
    * (SPARK_GRAFT_BENCH_RUNS>1). Stage each wave once per (gate, dir)
    * and byte-copy it into the caller's fresh feed dir after that.
    * Restart semantics are untouched — every invocation still gets its
    * own feedDir/checkpoint/sink and two real checkpointed runs. */
  private def stageWaves(key: String)(
      waves: => Seq[org.apache.spark.sql.Dataset[graft.streaming.FeedLine]]): Seq[java.nio.file.Path] =
    // a staged key must not force `waves`: building the wave plans is
    // the work the memo exists to skip
    stageTagged(key) {
      val ws = waves
      (ws.size, ws.zipWithIndex
        .map { case (w, i) => w.withColumn("wave", lit(i)) }
        .reduce(_ unionByName _))
    }

  /** Single-pass variant of [[stageWaves]] for waves that are FILTERS of
    * one feed: the union-of-filters shape re-renders the whole feed once
    * per wave (Spark shares no common subtrees across union branches —
    * the generation gate's versioned feed rendered twice), while one
    * wave-index column computed per line renders it exactly once. */
  private def stageWavesBy(key: String, nWaves: Int)(
      feed: => org.apache.spark.sql.Dataset[graft.streaming.FeedLine],
      waveOf: org.apache.spark.sql.Column): Seq[java.nio.file.Path] =
    stageTagged(key)((nWaves, feed.withColumn("wave", waveOf)))

  /** Stage a wave-tagged feed (wave count, feed) once per key; the
    * process-lifetime memo never forces `taggedFeed` on a hit. */
  private def stageTagged(key: String)(
      taggedFeed: => (Int, DataFrame)): Seq[java.nio.file.Path] =
    Materialize.once(s"cdc.waves:$key") {
      // ALL waves ride ONE sort+write job (partitioned by wave, then
      // shard) — the first invocation pays a single staging job instead
      // of one per wave
      import java.nio.file.Files
      val (nWaves, tagged) = taggedFeed
      val tmp = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_stage_tmp"))
      val made = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      // a lone wave's tag is a literal the optimizer folds out of the
      // sort, and the writer then re-sorts by shard alone, dropping the
      // seq order: one wave is written by shard only
      val parts = if (nWaves == 1) Seq("shard") else Seq("wave", "shard")
      try {
        tagged
          .repartition(CdcFeed.DefaultShards, col("shard"))
          // the leading partition columns satisfy the dynamic-partition
          // writer's required ordering exactly, so no extra (order-
          // destroying) sort is injected and each file stays seq-ordered
          .sortWithinPartitions((parts :+ "seq").map(col): _*)
          .select((col("line") +: parts.map(col)): _*)
          .write.partitionBy(parts: _*).mode("overwrite").text(tmp.toString)
        val staged = (0 until nWaves).map { i =>
          val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"graft_stage_$i"))
          made += dir
          val waveDir = if (nWaves == 1) tmp else tmp.resolve(s"wave=$i")
          if (Files.exists(waveDir)) collectShardFiles(waveDir, dir)
          dir
        }
        // the partitioned-write skeleton is pure staging residue
        graft.TempDirs.deleteRecursively(tmp)
        staged
      } catch { case e: Throwable =>
        // a failed staging must not strand a partial re-lay NOR let the
        // retry stage a second full copy next to it (stageOnce discipline)
        (tmp +: made.toSeq).foreach(graft.TempDirs.deleteRecursively)
        throw e
      }
    }
  /** Run a gate's copy/stream section, then release its per-invocation
    * dirs SUCCESS OR FAILURE: a red gate under a Verify loop or a
    * multi-run bench must not accumulate corpus-sized feed copies and
    * checkpoints until JVM exit (the exit registry stays as the
    * hard-crash backstop). Only the parquet sink dir outlives a gate —
    * the returned frame reads it lazily. */
  private def releasing[A](dirs: java.nio.file.Path*)(body: => A): A =
    try body finally dirs.foreach(graft.TempDirs.release)

  /** Append (or create) every staged `<shard>.jsonl` of one wave into
    * `feedDir`, so each gate streams its own copy of the staged bytes. */
  private def copyWave(src: java.nio.file.Path, feedDir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files, StandardOpenOption}
    import scala.jdk.CollectionConverters._
    val ls = Files.list(src)
    try ls.iterator().asScala.filter(_.toString.endsWith(".jsonl")).toSeq.sortBy(_.toString)
      .foreach { f =>
        val target = feedDir.resolve(f.getFileName.toString)
        if (Files.exists(target)) {
          // stream the append — readAllBytes would buffer a whole shard's
          // feed (GBs at large SF) on the driver heap per wave per gate
          val in = Files.newInputStream(f)
          try {
            val out = Files.newOutputStream(target, StandardOpenOption.APPEND)
            try { in.transferTo(out); () } finally out.close()
          } finally in.close()
        } else { Files.copy(f, target); () }
      }
    finally ls.close()
  }

  /** S1/S4/S8/S9 end-to-end: materialize the orders feed as per-shard
    * JSON-lines files, run the `vitess-cdc` MicroBatchStream to a parquet
    * sink (checkpointed), and verify the delivered stream against the
    * source table. */
  val qCdcStreamSource: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = ordersFeedDir(s, d)
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_stream_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_stream_ckpt"))
    releasing(ckpt) { runStreamOnce(s, feedDir, outDir, ckpt) }
    s.read.parquet(outDir.toString)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("after"), "$.o_orderkey").cast(LongType)).as("sum_key"),
        max(col("rank").cast(LongType)).as("max_rank"))
      .orderBy(col("shard"))
  }

  val qCdcStreamSourceSql: String =
    """SELECT CAST(o_orderkey % 4 AS VARCHAR) AS shard, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key, count(*) AS max_rank
      |FROM orders GROUP BY 1 ORDER BY shard""".stripMargin

  // -------------------------------------------------- explicit shard list
  /** S3 under the oracle: the explicit `shard` option restricts the
    * stream to the named shards (reference vitess.shard,
    * VitessConnectorConfig.java:247-256); the oracle applies the same
    * restriction as the shard-derivation modulo filter. */
  val qCdcShardOption: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = ordersFeedDir(s, d)
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_shopt_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_shopt_ckpt"))
    releasing(ckpt) { runStreamOnce(s, feedDir, outDir, ckpt, Map("shard" -> "1,3")) }
    s.read.parquet(outDir.toString)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("after"), "$.o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("shard"))
  }

  val qCdcShardOptionSql: String =
    """SELECT CAST(o_orderkey % 4 AS VARCHAR) AS shard, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders WHERE o_orderkey % 4 IN (1, 3)
      |GROUP BY 1 ORDER BY shard""".stripMargin

  // -------------------------------------------------- restart replay
  /** S4/O2/O3 oracle gate: the stream is stopped mid-feed and resumed
    * from its checkpoint after the rest of the transactions arrive — the
    * union of both runs must equal the insert oracle exactly (no loss,
    * no duplicates). The resume exercises initial-position resolution
    * from the stored offset, offset round-trip through the checkpoint,
    * and the feed-position byte seek. */
  val qCdcRestartReplay: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_feed_rr"))
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_rr_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_rr_ckpt"))
    // FeedLine.seq = tx*EventsPerTx + eventIndex (tx from 1): the cut at
    // tx 100's first event puts transactions 1..99 of each shard in wave
    // 1, the rest arrive after the restart; a tx-aligned boundary by
    // construction, whatever the stride
    val cut = 100 * CdcFeed.EventsPerTx
    val waves = stageWaves(s"rr:$d") {
      val feed = ordersFeed(s, d)
      Seq(feed.filter(col("seq") < cut), feed.filter(col("seq") >= cut))
    }
    releasing(feedDir, ckpt) {
      copyWave(waves(0), feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt) // run 1, then stop ("kill")
      copyWave(waves(1), feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt) // resume from checkpoint
    }
    s.read.parquet(outDir.toString)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("after"), "$.o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("shard"))
  }

  // ------------------------------------------- intra-shard splitting
  /** S9 at scale under the oracle: each shard of the orders feed streamed
    * as its own query (own checkpoint and sink directory — a shared file
    * sink's `_spark_metadata` log would skip the later queries' batch 0),
    * so on two or more cores the lone shard's window is fanned into
    * transaction-safe segments (one reader task each). The aggregate must
    * hash-match the oracle computed from the table directly, so any
    * segment-seed error (position, GTID window, epoch, schema
    * checkpoint) — a lost, doubled, or misdecoded transaction — fails
    * the gate. */
  val qCdcSplitPartitions: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = ordersFeedDir(s, d)
    val outDirs = (0 until CdcFeed.DefaultShards).map { shard =>
      val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_split_out"))
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_split_ckpt"))
      releasing(ckpt) {
        runStreamOnce(s, feedDir, outDir, ckpt, Map("shard" -> shard.toString))
      }
      outDir.toString
    }
    s.read.parquet(outDirs: _*)
      .groupBy(col("shard"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("after"), "$.o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("shard"))
  }

  val qCdcSplitPartitionsSql: String =
    """SELECT CAST(o_orderkey % 4 AS VARCHAR) AS shard, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders GROUP BY 1 ORDER BY shard""".stripMargin

  val qCdcRestartReplaySql: String =
    """SELECT CAST(o_orderkey % 4 AS VARCHAR) AS shard, count(*) AS n,
      |  CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM orders GROUP BY 1 ORDER BY shard""".stripMargin

  // ---------------------------------------------------- reshard epochs
  /** A4+A6 under the oracle: run 1 streams parents `-80` / `80-` whose
    * GTID host fails over mid-feed (epochs 0→1); run 2 resumes from the
    * checkpoint after a reshard child `40-c0` (overlapping both parents)
    * has appeared — with `inherit.epoch` the child must seed at
    * max(parent epochs)+1 = 2 for every one of its transactions. */
  val qCdcReshardEpoch: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_feed_rs"))
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_rs_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_rs_ckpt"))
    val opts = Map("inherit.epoch" -> "true")
    val waves = stageWaves(s"rs:$d") {
      Seq(
        CdcFeed.orders(s, d, nShards = 2, hostFlip = true, shardNames = Seq("-80", "80-")),
        CdcFeed.orders(s, d, nShards = 4, shardNames = Seq("p0", "p1", "p2", "40-c0"))
          .filter(col("shard") === "40-c0"))
    }
    releasing(feedDir, ckpt) {
      copyWave(waves(0), feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt, opts)
      copyWave(waves(1), feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt, opts)
    }
    s.read.parquet(outDir.toString)
      .filter(col("op") === "c")
      .groupBy(col("shard"), col("epoch"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(get_json_object(col("after"), "$.o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("shard"), col("epoch"))
  }

  val qCdcReshardEpochSql: String =
    """SELECT shard, epoch, n_rows, sum_key FROM (
      |  WITH ranked AS (
      |    SELECT o_orderkey,
      |      CASE WHEN o_orderkey % 2 = 0 THEN '-80' ELSE '80-' END AS shard,
      |      row_number() OVER (PARTITION BY o_orderkey % 2 ORDER BY o_orderkey) AS rk,
      |      count(*) OVER (PARTITION BY o_orderkey % 2) AS n
      |    FROM orders
      |  )
      |  SELECT shard, CAST(CASE WHEN 2 * rk <= n THEN 0 ELSE 1 END AS BIGINT) AS epoch,
      |    count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |  FROM ranked GROUP BY shard, CASE WHEN 2 * rk <= n THEN 0 ELSE 1 END
      |  UNION ALL
      |  SELECT '40-c0', CAST(2 AS BIGINT), count(*), CAST(sum(o_orderkey) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 4 = 3
      |) ORDER BY shard, epoch""".stripMargin

  // ------------------------------------------------ generation epochs
  /** A5 under the oracle: run 1 streams the insert wave at the default
    * connector generation; run 2 resumes from the checkpoint with
    * `generation` bumped, so every resumed shard's epoch increments once
    * and the update/delete waves all carry epoch 1. */
  val qCdcGeneration: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_feed_gen"))
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_gen_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_gen_ckpt"))
    // wave 2 starts at WaveOffset; one wave-index column instead of two
    // filters of the same feed, so the versioned render runs ONCE
    val waveBoundary = CdcFeed.EventsPerTx * CdcFeed.WaveOffset
    val waves = stageWavesBy(s"gen:$d", 2)(
      CdcFeed.ordersVersioned(s, d),
      when(col("seq") < waveBoundary, 0).otherwise(1))
    releasing(feedDir, ckpt) {
      copyWave(waves(0), feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt)
      copyWave(waves(1), feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt, Map("generation" -> "2"))
    }
    s.read.parquet(outDir.toString)
      .groupBy(col("op"), col("epoch").cast(LongType).as("epoch"))
      .agg(
        count(lit(1)).as("n"),
        sum(get_json_object(col("key"), "$.o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("op"), col("epoch"))
  }

  val qCdcGenerationSql: String =
    """SELECT op, epoch, n, sum_key FROM (
      |  SELECT 'c' AS op, CAST(0 AS BIGINT) AS epoch, count(*) AS n,
      |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key FROM orders
      |  UNION ALL
      |  SELECT 'u', CAST(1 AS BIGINT), count(*), CAST(sum(o_orderkey) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT 'd', CAST(1 AS BIGINT), count(*), CAST(sum(o_orderkey) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 10 = 5
      |) ORDER BY op, epoch""".stripMargin

  // ---------------------------------------------------- copy phase
  /** S5+F3 under the oracle: a VStream-copy feed (orders then customer
    * with lastpk VGTIDs, COPY_COMPLETED, then streaming inserts) with
    * `snapshot.tables` restricted to orders — the customer COPY rows must
    * be dropped while every other (table, phase) slice arrives exactly
    * once. Phase is derived from the delivered position: copy records
    * carry lastpk progress in their VGTID. */
  val qCdcCopyPhase: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_feed_cp"))
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_cp_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_cp_ckpt"))
    releasing(feedDir, ckpt) {
      copyWave(stageWaves(s"cp:$d")(Seq(CdcFeed.copyPhase(s, d))).head, feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt, Map("snapshot.tables" -> "ks\\.orders"))
    }
    s.read.parquet(outDir.toString)
      .filter(col("op") === "c")
      // copy positions carry a lastpk object; streaming ones serialize
      // with an empty table_p_ks array, so match the inner key
      .withColumn("phase",
        when(col("vgtid").contains("lastpk"), "copy").otherwise("stream"))
      .groupBy(col("table").as("tbl"), col("phase"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(coalesce(
          afterStr("o_orderkey"), afterStr("c_custkey")).cast(LongType)).as("sum_key"))
      .orderBy(col("tbl"), col("phase"))
  }

  val qCdcCopyPhaseSql: String =
    """SELECT tbl, phase, n_rows, sum_key FROM (
      |  SELECT 'orders' AS tbl, 'copy' AS phase, count(*) AS n_rows,
      |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |  FROM orders WHERE o_orderkey % 4 = 0
      |  UNION ALL
      |  SELECT 'orders', 'stream', count(*), CAST(sum(o_orderkey) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 4 = 1
      |  UNION ALL
      |  SELECT 'customer', 'stream', count(*), CAST(sum(c_custkey) AS BIGINT)
      |  FROM customer WHERE c_custkey % 4 = 1
      |) ORDER BY tbl, phase""".stripMargin

  // ---------------------------------------------------- batch backfill
  /** S5 at scale under the oracle: the initial load runs as a PARALLEL
    * BATCH read (CdcBackfill.snapshotRecords over the parquet tables,
    * multi-table) while the stream starts exactly at the recorded
    * handover VGTID — the feed still contains the full pre-snapshot
    * history, so any handover error shows up as doubled `c` counts
    * (replay) or missing `u` rows (gap) and fails the hash. */
  val qCdcCopyBackfill: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_feed_bf"))
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_bf_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_bf_ckpt"))
    // the feed dataset is lazy — only the tiny handover job runs per
    // call; the staged bytes are memoized like the restart-gate waves
    val (feed, handover) = CdcFeed.backfillWaves(s, d)
    releasing(feedDir, ckpt) {
      copyWave(stageWaves(s"bf:$d")(Seq(feed)).head, feedDir)
      runStreamOnce(s, feedDir, outDir, ckpt, Map("vgtid" -> handover.json))
    }
    val snapshot = CdcBackfill.snapshotRecords(
        graft.Tables.orders(s, d), "ks", "orders", Seq("o_orderkey"),
        col("o_orderkey") % 4, handover)
      .unionByName(CdcBackfill.snapshotRecords(
        graft.Tables.customer(s, d), "ks", "customer", Seq("c_custkey"),
        col("c_custkey") % 4, handover))
    val streamed = s.read.parquet(outDir.toString)
    snapshot.unionByName(streamed.select(snapshot.columns.map(col): _*))
      .groupBy(col("table").as("tbl"), col("op"))
      .agg(
        count(lit(1)).as("n"),
        sum(coalesce(
          get_json_object(col("key"), "$.o_orderkey"),
          get_json_object(col("key"), "$.c_custkey")).cast(LongType)).as("sum_key"))
      .orderBy(col("tbl"), col("op"))
  }

  val qCdcCopyBackfillSql: String =
    """SELECT tbl, op, n, sum_key FROM (
      |  SELECT 'orders' AS tbl, 'c' AS op, count(*) AS n,
      |    CAST(sum(o_orderkey) AS BIGINT) AS sum_key FROM orders
      |  UNION ALL
      |  SELECT 'orders', 'u', count(*), CAST(sum(o_orderkey) AS BIGINT)
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT 'customer', 'c', count(*), CAST(sum(c_custkey) AS BIGINT) FROM customer
      |  UNION ALL
      |  SELECT 'customer', 'u', count(*), CAST(sum(c_custkey) AS BIGINT)
      |  FROM customer WHERE c_custkey % 5 = 0
      |) ORDER BY tbl, op""".stripMargin

  // ---------------------------------------------------- heartbeats
  /** H1 under the oracle: per-batch liveness heartbeats ride alongside
    * the data — one per shard per (single) batch, while every data row
    * still arrives exactly once. */
  val qCdcHeartbeat: Q = (s, d) => {
    import java.nio.file.Files
    val feedDir = ordersFeedDir(s, d)
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_hb_out"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_hb_ckpt"))
    releasing(ckpt) {
      runStreamOnce(s, feedDir, outDir, ckpt, Map("heartbeat.batch" -> "true"))
    }
    s.read.parquet(outDir.toString)
      .groupBy(col("op"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("op"))
  }

  val qCdcHeartbeatSql: String =
    """SELECT op, n FROM (
      |  SELECT 'c' AS op, count(*) AS n FROM orders
      |  UNION ALL
      |  SELECT 'heartbeat' AS op, CAST(4 AS BIGINT) AS n
      |) ORDER BY op""".stripMargin

  // ---------------------------------------------- heartbeat tables (H2)
  /** H2 under the oracle: Vitess's own heartbeat-table rows ride the feed
    * on every shard; by default the filter drops them (before
    * include/exclude, like the reference's server-side flag), and the
    * opt-in streams them alongside the data tables. System-schema rows
    * (mysql.user) stay excluded in both modes. */
  val qCdcHeartbeatTables: Q = (s, d) => {
    import graft.core.TableFilter
    // cached: BOTH mode runs below replay the same generated feed —
    // without the cache each run() pays full feed generation again
    Materialize.cached(CdcFeed.twoTables(s, d, withHeartbeatTable = true)) { feed =>
      def run(mode: String, streamHeartbeats: Boolean) =
        CdcPipeline.changeRecords(
            s, feed,
            tableFilter = TableFilter.acceptAll.copy(excludeHeartbeatTables = !streamHeartbeats))
          .filter(col("op") === "c")
          .groupBy(col("table").as("tbl"))
          .agg(count(lit(1)).as("n"))
          .withColumn("mode", lit(mode))
      run("default", streamHeartbeats = false)
        .unionByName(run("with_heartbeats", streamHeartbeats = true))
        .select(col("mode"), col("tbl"), col("n"))
        .orderBy(col("mode"), col("tbl"))
        // the result is ~5 rows; the cached feed is the whole generated
        // corpus, released when this block ends
        .localCheckpoint()
    }
  }

  val qCdcHeartbeatTablesSql: String =
    """SELECT mode, tbl, n FROM (
      |  SELECT 'default' AS mode, 'orders' AS tbl, count(*) AS n FROM orders
      |  UNION ALL SELECT 'default', 'customer', count(*) FROM customer
      |  UNION ALL SELECT 'with_heartbeats', 'orders', count(*) FROM orders
      |  UNION ALL SELECT 'with_heartbeats', 'customer', count(*) FROM customer
      |  UNION ALL SELECT 'with_heartbeats', 'heartbeat', CAST(4 AS BIGINT)
      |) ORDER BY mode, tbl""".stripMargin

  // ---------------------------------------------------- metadata scans
  /** S6+F5 under the oracle: SHOW VITESS_SHARDS / VITESS_TABLETS
    * (non-empty only) / TABLES / DATABASES over a two-table feed with
    * one empty shard. The inventory is feed-defined, so the oracle is a
    * literal table. */
  val qCdcMetadata: Q = (s, d) => {
    import java.nio.file.Files
    import graft.sources.Metadata
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_feed_meta"))
    copyWave(stageWaves(s"meta:$d")(Seq(CdcFeed.twoTables(s, d))).head, feedDir)
    Files.writeString(feedDir.resolve("9.jsonl"), "") // empty shard
    val sp = s; import sp.implicits._
    val dir = feedDir.toString
    // the scans are eager (driver-side Seqs), so the feed copy's
    // lifetime ends with them — released success or failure
    val inventory = releasing(feedDir) {
      Metadata.shards(dir).map(("shard", _)) ++
        Metadata.nonEmptyShards(dir).map(("shard_nonempty", _)) ++
        Metadata.tables(s, dir).map(("table", _)) ++
        Metadata.keyspaces(s, dir).map(("keyspace", _))
    }
    inventory
      .toDF("kind", "name")
      .orderBy(col("kind"), col("name"))
  }

  val qCdcMetadataSql: String =
    """SELECT kind, name FROM (VALUES
      |  ('keyspace', 'ks'), ('keyspace', 'mysql'),
      |  ('shard', '0'), ('shard', '1'), ('shard', '2'), ('shard', '3'), ('shard', '9'),
      |  ('shard_nonempty', '0'), ('shard_nonempty', '1'),
      |  ('shard_nonempty', '2'), ('shard_nonempty', '3'),
      |  ('table', 'ks.customer'), ('table', 'ks.orders'), ('table', 'mysql.user')
      |) AS t(kind, name) ORDER BY kind, name""".stripMargin

  // -------------------------------------------------- materialization
  private val OrdersMaterializeSchema = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", LongType),
    StructField("o_orderpriority", StringType)))

  /** The multi-version orders change log, computed once per scale dir —
    * the materialize, time-travel, and SCD2 gates all consume the same
    * log, like three readers of one landed CDC table. */
  private def ordersVersionedLog(s: SparkSession, d: String): DataFrame =
    Materialize.shared(s, s"cdc.versionedLog:$d")(
      CdcPipeline.changeRecords(s, CdcFeed.ordersVersioned(s, d)))

  /** S7 + SURVEY §2.9: CDC→table upsert — latest state per key ordered by
    * (epoch, rank, total_order); deletes drop the key. The multi-version
    * feed makes the final state fully SQL-expressible. */
  val qCdcMaterialize: Q = (s, d) => {
    Sink.materialize(ordersVersionedLog(s, d), "orders", OrdersMaterializeSchema)
      .withColumn("o_orderdate", timestamp_micros(col("o_orderdate")))
  }

  val qCdcMaterializeSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |  o_totalprice, o_orderdate, o_orderpriority
      |FROM orders WHERE o_orderkey % 10 <> 5""".stripMargin

  // ------------------------------------------- incremental aggregate
  /** Delta-maintained aggregate (materialized-view pattern): revenue and
    * live-row count per order status, maintained purely from the change
    * log's signed before/after deltas — no rescan, no per-key window.
    * Updates move rows between status groups; deletes (whose before
    * images reflect the post-update state, like a real binlog) retract
    * them. Must equal the aggregate DuckDB computes over the final
    * state. */
  val qCdcIncrementalAgg: Q = (s, d) =>
    Sink.incrementalAgg(ordersVersionedLog(s, d), "orders",
        "o_orderstatus", "o_totalprice")
      .select(
        col("grp").as("o_orderstatus"),
        col("n_live"),
        graft.operators.Analytics.fixed4(col("total")).as("total"))
      .orderBy(col("o_orderstatus"))

  val qCdcIncrementalAggSql: String =
    s"""SELECT CASE WHEN o_orderkey % 3 = 0 THEN 'X' ELSE o_orderstatus END AS o_orderstatus,
      |  count(*) AS n_live,
      |  ${graft.operators.Analytics.fixed4Sql("sum(CAST(o_totalprice AS DECIMAL(18,4)))")} AS total
      |FROM orders WHERE o_orderkey % 10 <> 5
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // -------------------------------------------------- time travel
  /** Temporal.snapshotAt: orders as of rank W2+50 — every wave-1 insert
    * plus the first 50 per-shard update transactions, no deletes yet.
    * The cutoff lands mid-wave, so the gate proves the position filter
    * is applied per transaction, not per wave. */
  val qCdcTimeTravel: Q = (s, d) => {
    Temporal.snapshotAt(ordersVersionedLog(s, d), "orders",
        OrdersMaterializeSchema, epoch = 0L, rank = CdcFeed.WaveOffset + 50L)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
  }

  val qCdcTimeTravelSql: String =
    """WITH rn AS (
      |  SELECT *, row_number() OVER (PARTITION BY o_orderkey % 4
      |    ORDER BY o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_orderkey, o_custkey,
      |  CASE WHEN o_orderkey % 3 = 0 AND rn <= 50 THEN 'X'
      |       ELSE o_orderstatus END AS o_orderstatus,
      |  o_totalprice
      |FROM rn""".stripMargin

  // -------------------------------------------------- SCD2 history
  /** Temporal.scd2: full version history with rank-space validity
    * intervals — updated keys carry two versions (the update closes v1),
    * deletes close the last version without opening a new one, and only
    * live latest versions are current. */
  val qCdcScd2: Q = (s, d) => {
    Temporal.scd2(ordersVersionedLog(s, d), "orders", OrdersMaterializeSchema)
      .select(col("o_orderkey"), col("version"), col("o_orderstatus"),
        col("valid_from"), col("valid_to"), col("is_current"))
  }

  val qCdcScd2Sql: String =
    """WITH rn AS (
      |  SELECT o_orderkey, o_orderstatus,
      |    row_number() OVER (PARTITION BY o_orderkey % 4
      |      ORDER BY o_orderkey) AS rn
      |  FROM orders),
      |v1 AS (
      |  SELECT o_orderkey, CAST(1 AS BIGINT) AS version, o_orderstatus,
      |    rn AS valid_from,
      |    CASE WHEN o_orderkey % 3 = 0 THEN rn + 10000000
      |         WHEN o_orderkey % 10 = 5 THEN rn + 20000000
      |         ELSE NULL END AS valid_to
      |  FROM rn),
      |v2 AS (
      |  SELECT o_orderkey, CAST(2 AS BIGINT) AS version, 'X' AS o_orderstatus,
      |    rn + 10000000 AS valid_from,
      |    CASE WHEN o_orderkey % 10 = 5 THEN rn + 20000000
      |         ELSE NULL END AS valid_to
      |  FROM rn WHERE o_orderkey % 3 = 0)
      |SELECT o_orderkey, version, o_orderstatus, valid_from, valid_to,
      |  valid_to IS NULL AS is_current
      |FROM (SELECT * FROM v1 UNION ALL SELECT * FROM v2)""".stripMargin

  // ------------------------------------------- CDC→corpus composition
  /** End-to-end pipeline flagship: a versioned documents CDC feed is
    * materialized into the live corpus (upserts + deletes applied in
    * (epoch, rank, total_order) order), and the text-analytics stage
    * runs directly on the materialized table — the ingest→analyze
    * composition a training-data platform runs continuously. Every stage
    * is the production operator, not a test double; the oracle recomputes
    * the final corpus and the identical token formulas in SQL. */
  val qPipelineCdcCorpus: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.documentsVersioned(s, d))
    val schema = StructType(Seq(
      StructField("doc_id", LongType),
      StructField("text", StringType),
      StructField("lang", StringType),
      StructField("source", StringType)))
    val corpus = Sink.materialize(recs, "documents", schema)
    corpus.groupBy(col("lang")).agg(
      count(lit(1)).as("n_docs"),
      sum(col("doc_id")).as("sum_id"),
      sum(TextOps.wsTokenCount(col("text"))).as("sum_tokens"),
      sum(TextOps.bpeTokenCount(col("text"))).as("sum_bpe"))
      .orderBy(col("lang"))
  }

  val qPipelineCdcCorpusSql: String =
    s"""WITH final AS (
       |  SELECT doc_id,
       |    CASE WHEN doc_id % 3 = 0 THEN text || '${CdcFeed.DocEditSuffix}' ELSE text END AS text,
       |    lang
       |  FROM documents WHERE doc_id % 10 <> 5
       |)
       |SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_id,
       |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
       |    ELSE len(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) END) AS BIGINT) AS sum_tokens,
       |  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]'))) AS BIGINT) AS sum_bpe
       |FROM final GROUP BY lang ORDER BY lang""".stripMargin

  // -------------------------------------------------- topic routing
  /** S7 topic naming: prefix.table with an override prefix that an
    * exclude list vetoes per table; mysql.user is filtered out upstream. */
  val qCdcTopicRouting: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.twoTables(s, d),
      tableFilter = graft.core.TableFilter(Seq("ks\\..*"), Nil))
    val cfg = Sink.TopicConfig(
      prefix = "graft",
      overridePrefix = Some("cdc2"),
      overrideExcludeList = Seq("ks\\.customer"))
    recs
      .filter(col("op") === "c")
      .withColumn("topic", Sink.topicColumn(cfg))
      .groupBy(col("topic"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("topic"))
  }

  val qCdcTopicRoutingSql: String =
    """SELECT 'cdc2.orders' AS topic, count(*) AS n FROM orders
      |UNION ALL SELECT 'graft.customer', count(*) FROM customer
      |ORDER BY topic""".stripMargin

  // -------------------------------------------------- column rules D11
  /** Truncate/mask/exclude applied at decode: c_name truncated to 5,
    * c_mktsegment masked with 4 stars, c_acctbal excluded entirely. */
  val qCdcColumnRules: Q = (s, d) => {
    val rules = graft.core.ColumnRules(
      excludeList = Seq("ks\\.customer\\.c_acctbal"),
      truncate = Seq("ks\\.customer\\.c_name" -> 5),
      mask = Seq("ks\\.customer\\.c_mktsegment" -> 4))
    val recs = CdcPipeline.changeRecords(s, CdcFeed.customer(s, d), columnRules = rules)
    val schema = StructType(Seq(
      StructField("c_custkey", LongType),
      StructField("c_name", StringType),
      StructField("c_nationkey", IntegerType),
      StructField("c_mktsegment", StringType)))
    recs.filter(col("op") === "c")
      .select(
        from_json(col("after"), schema).as("r"),
        (get_json_object(col("after"), "$.c_acctbal").isNull).as("acctbal_gone"))
      .select(col("r.*"), col("acctbal_gone"))
  }

  val qCdcColumnRulesSql: String =
    """SELECT c_custkey, substr(c_name, 1, 5) AS c_name, c_nationkey,
      |  '****' AS c_mktsegment, true AS acctbal_gone
      |FROM customer""".stripMargin

  // -------------------------------------------------- convert failure E3
  /** event.converting.failure.handling.mode: warn nulls the bad column,
    * skip drops the record, fail (default) raises. The fixture feed has
    * one good row, one row with a bad int. */
  val qCdcConvertFailure: Q = (s, _) => {
    import graft.streaming._
    import graft.core.{Vgtid => V, ShardGtid => SG}
    val fields = Seq(
      FieldDef("id", "INT64", "bigint(20)", 20, 0, graft.core.ColumnFlags.NotNull | graft.core.ColumnFlags.PriKey),
      FieldDef("n", "INT32", "int(11)", 11, 0, 0L))
    def tx(seq: Long, id: String, n: String): Seq[VEvent] = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t", fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t", Seq(RowChange(None, Some(PackedRow.of(Seq(Some(id), Some(n))))))),
      VgtidEvent("0", V(Seq(SG("ks", "0", s"MySQL56/feed:1-$seq")))),
      CommitEvent("0", "ks", seq))
    val events = tx(1, "1", "10") ++ tx(2, "2", "oops") ++ tx(3, "3", "30")
    import s.implicits._
    val feed = s.createDataset(
      events.zipWithIndex.map { case (e, i) => FeedLine("0", i.toLong, VEventJson.write(e)) })
    val warn = CdcPipeline.changeRecords(s, feed,
      convertFailureMode = graft.core.ConvertFailureMode.Warn)
      .filter(col("op") === "c")
      .select(lit("warn").as("mode"),
        get_json_object(col("after"), "$.id").as("id"),
        get_json_object(col("after"), "$.n").as("n"))
    val skip = CdcPipeline.changeRecords(s, feed,
      convertFailureMode = graft.core.ConvertFailureMode.Skip)
      .filter(col("op") === "c")
      .select(lit("skip").as("mode"),
        get_json_object(col("after"), "$.id").as("id"),
        get_json_object(col("after"), "$.n").as("n"))
    warn.unionByName(skip).orderBy(col("mode"), col("id"))
  }

  val qCdcConvertFailureSql: String =
    """SELECT * FROM (VALUES
      |  ('skip', '1', '10'), ('skip', '3', '30'),
      |  ('warn', '1', '10'), ('warn', '2', CAST(NULL AS VARCHAR)), ('warn', '3', '30')
      |) AS t(mode, id, n) ORDER BY mode, id""".stripMargin

  // -------------------------------------------------- cloud events T5
  val qCdcCloudEvents: Q = (s, d) => {
    val recs = ordersChangeLog(s, d)
    val ce = Transforms.toCloudEvents(
      Envelope.toEnvelope(recs.filter(col("op") === "c")))
    ce.select(
      sum(when(col("ce_id").rlike("^name:graft;vgtid:.*feed.*"), 1L).otherwise(0L)).as("n_id_ok"),
      countDistinct(col("ce_type")).as("n_types"),
      sum(when(col("iodebeziumkeyspace") === "ks", 1L).otherwise(0L)).as("n_ks"),
      count(lit(1)).as("n_total"))
  }

  val qCdcCloudEventsSql: String =
    """SELECT count(*) AS n_id_ok, CAST(1 AS BIGINT) AS n_types,
      |  count(*) AS n_ks, count(*) AS n_total FROM orders""".stripMargin

  // ------------------------------------------------------- epoch bump
  /** A3+A5+A1 under the oracle: the feed's GTID source UUID fails over
    * after the first half of each shard's transactions, so the
    * transaction epoch must be 0 for the first half and 1 for the rest —
    * per shard, independent of batch or scan order. The oracle recomputes
    * the flip point with the identical rank arithmetic. */
  val qCdcEpochBump: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.orders(s, d, hostFlip = true))
    recs
      .filter(col("op") === "c")
      .groupBy(col("shard"), col("epoch"))
      .agg(
        count(lit(1)).as("n_rows"),
        sum(afterStr("o_orderkey").cast(LongType)).as("sum_key"))
      .orderBy(col("shard"), col("epoch"))
  }

  val qCdcEpochBumpSql: String =
    """WITH ranked AS (
      |  SELECT o_orderkey, CAST(o_orderkey % 4 AS VARCHAR) AS shard,
      |    row_number() OVER (PARTITION BY o_orderkey % 4 ORDER BY o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY o_orderkey % 4) AS n
      |  FROM orders
      |)
      |SELECT shard, CAST(CASE WHEN 2 * rk <= n THEN 0 ELSE 1 END AS BIGINT) AS epoch,
      |  count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
      |FROM ranked GROUP BY shard, CASE WHEN 2 * rk <= n THEN 0 ELSE 1 END
      |ORDER BY shard, epoch""".stripMargin

  // --------------------------------------------------- schema evolution
  /** D4 last-writer-wins end-to-end: the feed re-sends FIELD with an
    * added trailing `o_comment` column at each shard's half-way point
    * (a live ALTER TABLE + schema reload). Rows decoded before the
    * evolution must have no comment; rows after must carry `c<okey>`.
    * The oracle recomputes the per-shard flip point with the identical
    * rank arithmetic. */
  val qCdcSchemaEvolve: Q = (s, d) => {
    val recs = CdcPipeline.changeRecords(s, CdcFeed.ordersEvolving(s, d))
    recs
      .filter(col("op") === "c")
      .select(
        afterStr("o_orderkey").cast(LongType).as("o_orderkey"),
        afterStr("o_comment").as("o_comment"))
  }

  val qCdcSchemaEvolveSql: String =
    """WITH ranked AS (
      |  SELECT o_orderkey,
      |    row_number() OVER (PARTITION BY o_orderkey % 4 ORDER BY o_orderkey) AS rk,
      |    count(*) OVER (PARTITION BY o_orderkey % 4) AS n
      |  FROM orders
      |)
      |SELECT o_orderkey,
      |  CASE WHEN 2 * rk > n THEN 'c' || o_orderkey END AS o_comment
      |FROM ranked""".stripMargin

  // -------------------------------------------------- SQL-native decode
  /** D3 as a codegen'd Catalyst expression: the whole ROW decode —
    * event-JSON parse, change explode, packed-row slicing
    * (slice_packed_row), and typed casts — runs inside WholeStageCodegen
    * with zero JVM decode objects. The scale path for hot simple tables;
    * hash-checked against the same orders oracle as the JVM pipeline. */
  val qCdcSqlDecode: Q = (s, d) => {
    val rowSchema = StructType(Seq(
      StructField("type", StringType),
      StructField("shard", StringType),
      StructField("table", StringType),
      StructField("changes", ArrayType(StructType(Seq(
        StructField("before", StructType(Seq(
          StructField("lengths", ArrayType(LongType)),
          StructField("values", StringType)))),
        StructField("after", StructType(Seq(
          StructField("lengths", ArrayType(LongType)),
          StructField("values", StringType))))))))))
    val feed = ordersFeed(s, d)
    def colAt(i: Int) = element_at(col("r"), i).cast("string")
    feed
      .filter(col("line").contains("\"ROW\""))
      .select(from_json(col("line"), rowSchema).as("e"), col("shard"))
      .select(col("shard"), explode(col("e.changes")).as("c"))
      .select(col("shard"),
        graft.functions.functions.slice_packed_row(
          col("c.after.lengths"), unbase64(col("c.after.values"))).as("r"))
      .select(
        colAt(1).cast(LongType).as("o_orderkey"),
        colAt(2).cast(LongType).as("o_custkey"),
        colAt(3).as("o_orderstatus"),
        colAt(4).cast(DoubleType).as("o_totalprice"),
        to_timestamp(colAt(5), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        colAt(6).as("o_orderpriority"),
        col("shard"))
  }

  val qCdcSqlDecodeSql: String = qCdcInsertRoundtripSql

  // -------------------------------------------------- decimal extraction
  /** MySQL DECIMAL stays precise-by-string in the payload (reference
    * default); typed extraction parses it into DecimalType exactly via
    * from_json — no double round-trip. */
  val qCdcDecimalExtract: Q = (s, d) => {
    val recs = ordersChangeLog(s, d)
    val schema = StructType(Seq(StructField("o_totalprice", DecimalType(12, 2))))
    recs.filter(col("op") === "c")
      .select(from_json(col("after"), schema).getField("o_totalprice").as("p"))
      .agg(
        sum(col("p")).cast(DecimalType(38, 2)).as("total"),
        max(col("p")).cast(DecimalType(12, 2)).as("max_price"),
        count(lit(1)).as("n"))
  }

  /** Typed DECIMAL plumb-through (decimal.handling.mode=precise): the
    * wire DECIMAL(12,2) column lands as an exact JSON number whose
    * registry type is DecimalType(12,2) — summable without a hand-written
    * from_json schema. Output in cents (BIGINT) for canon-proof hashing. */
  val qCdcDecimalTyped: Q = (s, d) => {
    import graft.core.ValueConversion
    val modes = ValueConversion.TypeModes(decimal = ValueConversion.DecimalMode.Precise)
    val recs = CdcPipeline.changeRecords(
      s, CdcFeed.orders(s, d, decimalPrice = true), typeModes = modes)
    recs
      .filter(col("op") === "c")
      .select(afterStr("o_totalprice").cast(DecimalType(12, 2)).as("p"))
      .agg(
        (sum(col("p")).cast(DecimalType(30, 2)) * lit(100).cast(DecimalType(3, 0)))
          .cast(LongType).as("total_cents"),
        (max(col("p")).cast(DecimalType(30, 2)) * lit(100).cast(DecimalType(3, 0)))
          .cast(LongType).as("max_cents"),
        count(lit(1)).as("n"))
  }

  val qCdcDecimalTypedSql: String =
    """SELECT
      |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS total_cents,
      |  CAST(CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(30,2)) * CAST(100 AS DECIMAL(3,0)) AS BIGINT) AS max_cents,
      |  count(*) AS n
      |FROM orders""".stripMargin

  val qCdcDecimalExtractSql: String =
    """SELECT CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(38,2)) AS total,
      |  CAST(max(CAST(o_totalprice AS DECIMAL(12,2))) AS DECIMAL(12,2)) AS max_price,
      |  count(*) AS n
      |FROM orders""".stripMargin

  val queries: Map[String, Q] = Map(
    "cdc_stream_source"    -> qCdcStreamSource,
    "cdc_shard_option"     -> qCdcShardOption,
    "cdc_split_partitions" -> qCdcSplitPartitions,
    "cdc_restart_replay"   -> qCdcRestartReplay,
    "cdc_sql_decode"       -> qCdcSqlDecode,
    "cdc_decimal_extract"  -> qCdcDecimalExtract,
    "cdc_decimal_typed"    -> qCdcDecimalTyped,
    "cdc_materialize"      -> qCdcMaterialize,
    "cdc_incremental_agg"  -> qCdcIncrementalAgg,
    "cdc_time_travel"      -> qCdcTimeTravel,
    "cdc_scd2"             -> qCdcScd2,
    "pipeline_cdc_corpus"  -> qPipelineCdcCorpus,
    "cdc_topic_routing"    -> qCdcTopicRouting,
    "cdc_column_rules"     -> qCdcColumnRules,
    "cdc_convert_failure"  -> qCdcConvertFailure,
    "cdc_cloudevents"      -> qCdcCloudEvents,
    "cdc_insert_roundtrip" -> qCdcInsertRoundtrip,
    "cdc_ops_mix"          -> qCdcOpsMix,
    "cdc_epoch_bump"       -> qCdcEpochBump,
    "cdc_schema_evolve"    -> qCdcSchemaEvolve,
    "cdc_reshard_epoch"    -> qCdcReshardEpoch,
    "cdc_generation"       -> qCdcGeneration,
    "cdc_copy_phase"       -> qCdcCopyPhase,
    "cdc_copy_backfill"    -> qCdcCopyBackfill,
    "cdc_heartbeat"        -> qCdcHeartbeat,
    "cdc_heartbeat_tables" -> qCdcHeartbeatTables,
    "cdc_metadata"         -> qCdcMetadata,
    "cdc_tx_metadata"      -> qCdcTxMetadata,
    "cdc_type_matrix"      -> qCdcTypeMatrix,
    "cdc_type_modes"       -> qCdcTypeModes,
    "cdc_ddl"              -> qCdcDdl,
    "cdc_filter_tables"    -> qCdcFilterTables,
    "cdc_extract_state"    -> qCdcExtractState,
    "cdc_local_vgtid"      -> qCdcLocalVgtid,
    "cdc_remove_replace"   -> qCdcRemoveReplace,
    "cdc_boundaries"       -> qCdcBoundaries)

  val oracleSql: Map[String, String] = Map(
    "cdc_stream_source"    -> qCdcStreamSourceSql,
    "cdc_shard_option"     -> qCdcShardOptionSql,
    "cdc_split_partitions" -> qCdcSplitPartitionsSql,
    "cdc_restart_replay"   -> qCdcRestartReplaySql,
    "cdc_sql_decode"       -> qCdcSqlDecodeSql,
    "cdc_decimal_extract"  -> qCdcDecimalExtractSql,
    "cdc_decimal_typed"    -> qCdcDecimalTypedSql,
    "cdc_materialize"      -> qCdcMaterializeSql,
    "cdc_incremental_agg"  -> qCdcIncrementalAggSql,
    "cdc_time_travel"      -> qCdcTimeTravelSql,
    "cdc_scd2"             -> qCdcScd2Sql,
    "pipeline_cdc_corpus"  -> qPipelineCdcCorpusSql,
    "cdc_topic_routing"    -> qCdcTopicRoutingSql,
    "cdc_column_rules"     -> qCdcColumnRulesSql,
    "cdc_convert_failure"  -> qCdcConvertFailureSql,
    "cdc_cloudevents"      -> qCdcCloudEventsSql,
    "cdc_insert_roundtrip" -> qCdcInsertRoundtripSql,
    "cdc_ops_mix"          -> qCdcOpsMixSql,
    "cdc_epoch_bump"       -> qCdcEpochBumpSql,
    "cdc_schema_evolve"    -> qCdcSchemaEvolveSql,
    "cdc_reshard_epoch"    -> qCdcReshardEpochSql,
    "cdc_generation"       -> qCdcGenerationSql,
    "cdc_copy_phase"       -> qCdcCopyPhaseSql,
    "cdc_copy_backfill"    -> qCdcCopyBackfillSql,
    "cdc_heartbeat"        -> qCdcHeartbeatSql,
    "cdc_heartbeat_tables" -> qCdcHeartbeatTablesSql,
    "cdc_metadata"         -> qCdcMetadataSql,
    "cdc_tx_metadata"      -> qCdcTxMetadataSql,
    "cdc_type_matrix"      -> qCdcTypeMatrixSql,
    "cdc_type_modes"       -> qCdcTypeModesSql,
    "cdc_ddl"              -> qCdcDdlSql,
    "cdc_filter_tables"    -> qCdcFilterTablesSql,
    "cdc_extract_state"    -> qCdcExtractStateSql,
    "cdc_local_vgtid"      -> qCdcLocalVgtidSql,
    "cdc_remove_replace"   -> qCdcRemoveReplaceSql,
    "cdc_boundaries"       -> qCdcBoundariesSql)
}
