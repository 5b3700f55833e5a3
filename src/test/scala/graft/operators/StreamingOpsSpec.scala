package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Structured-Streaming-native operator specs: flatMapGroupsWithState
  * sessionization (custom state) and watermarked windowed aggregation
  * (late-data handling). */
class StreamingOpsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Tables.session("streaming-ops-spec", "2")
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val Minute = 60L * 1000000L

  test("flatMapGroupsWithState sessionization: gap closes sessions, state spans batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Sessions.Ev]
    val sessions = Sessions.sessionizeStream(sp, input.toDS(), gapMinutes = 30)
    val q = sessions.writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10 min apart (one open session)
      input.addData(
        Sessions.Ev(1L, 1L, 0L, 1.0),
        Sessions.Ev(1L, 2L, 10 * Minute, 2.0))
      q.processAllAvailable()
      assert(sp.table("sess_out").count() == 0) // still open, nothing closed

      // batch 2: a 60-min gap closes the first session and opens another;
      // user 2 starts fresh
      input.addData(
        Sessions.Ev(1L, 3L, 70 * Minute, 4.0),
        Sessions.Ev(2L, 4L, 0L, 8.0))
      q.processAllAvailable()
      val closed = sp.table("sess_out").as[Sessions.Session].collect()
      assert(closed.toSeq == Seq(Sessions.Session(1L, 0L, 2L, 3.0)))

      // batch 3: another gap for user 1 closes the second session
      input.addData(Sessions.Ev(1L, 5L, 200 * Minute, 16.0))
      q.processAllAvailable()
      val after = sp.table("sess_out").as[Sessions.Session].collect().toSeq
      assert(after.contains(Sessions.Session(1L, 70 * Minute, 1L, 4.0)))
    } finally q.stop()
  }

  test("streaming sessions accumulate value exactly (no float drift vs the batch decimal)") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Sessions.Ev]
    val q = Sessions.sessionizeStream(sp, input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_exact")
      .outputMode("append").start()
    try {
      // seven 0.1-valued events: a Double running total gives
      // 0.7000000000000001; the batch decimal(18,4) path gives 0.7000
      input.addData((1L to 7L).map(i => Sessions.Ev(1L, i, i * Minute, 0.1)): _*)
      q.processAllAvailable()
      input.addData(Sessions.Ev(1L, 8L, 500 * Minute, 1.0)) // gap closes it
      q.processAllAvailable()
      val closed = sp.table("sess_exact").as[Sessions.Session].collect().toSeq
      assert(closed == Seq(Sessions.Session(1L, 1 * Minute, 7L, 0.7)))
    } finally q.stop()
  }

  test("streaming funnel: duplicate stage names are rejected up front") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[Sessions.FEv]
    val err = intercept[IllegalArgumentException] {
      Sessions.funnelStream(sp, input.toDS(), Seq("view", "click", "view"))
    }
    assert(err.getMessage.contains("distinct"))
  }

  test("streaming sessions match the batch operator on the same data") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // deterministic event set with several sessions per user
    val evs = for {
      u <- 1L to 3L
      i <- 0L until 9L
    } yield Sessions.Ev(u, u * 100 + i, (i / 3) * 120 * Minute + (i % 3) * Minute, i.toDouble)
    val input = MemoryStream[Sessions.Ev]
    val q = Sessions.sessionizeStream(sp, input.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_cmp")
      .outputMode("append").start()
    try {
      input.addData(evs: _*)
      q.processAllAvailable()
      // close the final sessions with a sentinel far in the future
      input.addData((1L to 3L).map(u => Sessions.Ev(u, 9999 + u, 100000L * Minute, 0.0)): _*)
      q.processAllAvailable()
      val streamed = sp.table("sess_cmp")
        .select("user_id", "startMicros", "n_events", "total_value")
        .as[(Long, Long, Long, Double)].collect().toSet
      val batch = Sessions.sessionizeBatch(
        evs.toDF("user_id", "event_id", "tsMicros", "value")
          .select(col("user_id"), col("event_id"),
            timestamp_micros(col("tsMicros")).as("ts"), col("value")),
        gapMinutes = 30)
        .select(col("user_id"), unix_micros(col("session_start")),
          col("n_events"), col("total_value").cast("double"))
        .as[(Long, Long, Long, Double)].collect().toSet
      assert(batch == streamed)
    } finally q.stop()
  }

  test("streaming funnel matches the batch funnel; stage state spans batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    // u1 completes view→click→purchase across TWO batches; u2 views and
    // clicks but the purchase comes BEFORE the click (must not count);
    // u3 clicks without ever viewing (no stage at all)
    val batch1 = Seq(
      Sessions.FEv(1L, 1, 10 * Minute, "view"),
      Sessions.FEv(2L, 2, 10 * Minute, "purchase"),
      Sessions.FEv(2L, 3, 20 * Minute, "view"),
      Sessions.FEv(3L, 4, 10 * Minute, "click"))
    val batch2 = Seq(
      Sessions.FEv(1L, 5, 20 * Minute, "click"),
      Sessions.FEv(1L, 6, 30 * Minute, "purchase"),
      Sessions.FEv(2L, 7, 30 * Minute, "click"))
    val input = MemoryStream[Sessions.FEv]
    val q = Sessions.funnelStream(sp, input.toDS(), Seq("view", "click", "purchase"))
      .writeStream.format("memory").queryName("funnel_cmp")
      .outputMode("append").start()
    try {
      input.addData(batch1: _*)
      q.processAllAvailable()
      input.addData(batch2: _*)
      q.processAllAvailable()
      val hits = sp.table("funnel_cmp")
        .as[Sessions.StageHit].collect()
        .groupBy(_.stage).view.mapValues(_.map(_.user_id).toSet).toMap
      assert(hits("view") == Set(1L, 2L), "views: u1 and u2")
      assert(hits("click") == Set(1L, 2L), "clicks after view: u1 (cross-batch), u2")
      assert(hits.getOrElse("purchase", Set.empty) == Set(1L),
        "only u1 purchases after its click; u2's purchase preceded its click")
      // cross-check against the batch funnel query on the identical data
      val all = (batch1 ++ batch2)
        .toDF("user_id", "event_id", "tsMicros", "event_type")
        .select(col("user_id"), col("event_type"),
          timestamp_micros(col("tsMicros")).as("ts"))
      val ev = all
      val v = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val c = ev.filter(col("event_type") === "click").join(v, Seq("user_id"))
        .filter(col("ts") > col("t_view"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_click"))
      val p = ev.filter(col("event_type") === "purchase").join(c, Seq("user_id"))
        .filter(col("ts") > col("t_click")).select("user_id").distinct()
      assert(v.select("user_id").as[Long].collect().toSet == hits("view"))
      assert(c.select("user_id").as[Long].collect().toSet == hits("click"))
      assert(p.as[Long].collect().toSet == hits.getOrElse("purchase", Set.empty))
    } finally q.stop()
  }

  test("streaming exact dedup: duplicate state spans micro-batches") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, String)] // (doc_id, text)
    val deduped = Dedup.streamingExactDedup(
      input.toDS().select(col("_1").as("doc_id"), col("_2").as("text")), "text")
    val q = deduped.writeStream.format("memory").queryName("sdedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, "alpha beta"), (2L, "gamma"))
      q.processAllAvailable()
      // cross-batch dup of doc 1 (same normalized content, different id
      // and spacing) is suppressed; only the new doc flows through
      input.addData((3L, "  ALPHA   beta "), (4L, "delta"))
      q.processAllAvailable()
      val ids = sp.table("sdedup_out").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 2L, 4L))
    } finally q.stop()
  }

  test("streaming dedup within watermark: state expires past the delay") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, Long, String)] // (doc_id, tsMicros, text)
    val deduped = Dedup.streamingExactDedupWithinWatermark(
      input.toDS().select(
        col("_1").as("doc_id"), timestamp_micros(col("_2")).as("ts"), col("_3").as("text")),
      "text", "ts", "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("swdedup_out")
      .outputMode("append").start()
    try {
      input.addData((1L, 1 * Minute, "alpha"), (2L, 2 * Minute, "alpha"))
      q.processAllAvailable() // dup inside the window: suppressed
      input.addData((3L, 120 * Minute, "other")) // watermark advances far past
      q.processAllAvailable()
      input.addData((4L, 119 * Minute, "alpha")) // state for 'alpha' expired
      q.processAllAvailable()
      val ids = sp.table("swdedup_out").select("doc_id").as[Long].collect().toSet
      assert(ids == Set(1L, 3L, 4L))
    } finally q.stop()
  }

  test("watermarked windowed aggregation drops late data in append mode") {
    val sp = spark
    import sp.implicits._
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[(Long, String)] // (tsMicros, event_type)
    val agg = input.toDS()
      .select(timestamp_micros(col("_1")).as("ts"), col("_2").as("event_type"))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    try {
      val Hour = 60 * Minute
      input.addData((1 * Minute, "a"), (2 * Minute, "a"), (5 * Minute, "b"))
      q.processAllAvailable()
      // advance event time far enough to close the first hour window
      input.addData((2 * Hour, "a"))
      q.processAllAvailable()
      // late event for the closed window — dropped by the watermark
      input.addData((3 * Minute, "a"))
      q.processAllAvailable()
      input.addData((4 * Hour, "a")) // close remaining windows
      q.processAllAvailable()
      val rows = sp.sql(
        "SELECT event_type, n FROM win_out WHERE window.start = timestamp'1970-01-01 00:00:00' ORDER BY event_type")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      // first-hour window: 2 'a' (late third dropped), 1 'b'
      assert(rows == Seq(("a", 2L), ("b", 1L)))
    } finally q.stop()
  }

  test("stream-stream join: buffered side survives a checkpoint restart, each pair once") {
    val sp = spark
    import sp.implicits._
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ss_join"))
    val (src, ckpt, out) = (s"$base/src", s"$base/ckpt", s"$base/out")
    val Hour = 60 * Minute
    // timestamps sit WELL ABOVE the initial watermark (epoch 0): a row
    // exactly AT the watermark is boundary-evictable (cleanup is <=),
    // which is an artifact of synthetic epoch-0 data, not the property
    // under test
    val Base = 10000 * Hour
    // wave 1: clicks ONLY — they must be BUFFERED in join state
    Seq((1L, 10L, Base), (2L, 11L, Base), (1L, 12L, Base + 2 * Hour))
      .toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withColumn("kind", lit("click"))
      .coalesce(1).write.mode("append").parquet(src)
    val schema = sp.read.parquet(src).schema
    def run(): Unit = {
      def s0 = sp.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
      val clicks = s0.filter(col("kind") === "click")
        .select(col("user_id").as("cu"), col("ts").as("cts"),
          col("event_id").as("click_id"))
        .withWatermark("cts", "365 days")
      val purch = s0.filter(col("kind") === "purchase")
        .select(col("user_id").as("pu"), col("ts").as("pts"),
          col("event_id").as("purchase_id"))
        .withWatermark("pts", "365 days")
      val q = clicks.join(purch,
          col("cu") === col("pu") && col("pts") >= col("cts") &&
            col("pts") < col("cts") + expr("interval 1 hour"))
        .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"))
        .writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // no purchases yet: nothing can join
    // wave 2 arrives AFTER the restart — matches must come from
    // checkpoint-recovered click state, not from re-reading wave 1
    Seq((1L, 20L, Base + 30 * Minute), (2L, 21L, Base + 2 * Hour),
        (1L, 22L, Base + 2 * Hour + Minute))
      .toDF("user_id", "event_id", "us")
      .select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"))
      .withColumn("kind", lit("purchase"))
      .coalesce(1).write.mode("append").parquet(src)
    run()
    val got = sp.read.parquet(out)
      .select("user_id", "click_id", "purchase_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sorted.toSeq
    // click 10 (base) ← purchase 20 (+30m); click 12 (+2h) ← purchase 22
    // (2h+1m); purchase 21 is 2h after user 2's only click — out of range
    assert(got == Seq((1L, 10L, 20L), (1L, 12L, 22L)))
    graft.TempDirs.deleteRecursively(base)
  }
}
