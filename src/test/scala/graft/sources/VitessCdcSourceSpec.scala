package graft.sources

import graft.core._
import graft.streaming._
import java.nio.file.{Files, Path, StandardOpenOption}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** End-to-end tests of the `vitess-cdc` MicroBatchStream: fixture feed →
  * envelope DataFrame, offset round-trip, and restart-from-checkpoint
  * with no loss / no duplicates (SURVEY §7 minimum slice). */
class VitessCdcSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = graft.Tables.session("vitess-cdc-spec", "2")
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private val t1Fields = Seq(
    FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("v", "VARCHAR", "varchar(32)", 32, 0, 0L))

  private def insertTx(shard: String, seq: Long, id: Long, v: String,
      host: String = "feed"): Seq[VEvent] = Seq(
    BeginEvent(shard, "ks"),
    FieldEvent(shard, "ks", "ks.t1", t1Fields, enumSetStringValues = false),
    RowEvent(shard, "ks", "ks.t1", Seq(
      RowChange(None, Some(PackedRow.of(Seq(Some(id.toString), Some(v))))))),
    VgtidEvent(shard, Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/$host:1-$seq")))),
    CommitEvent(shard, "ks", 1700000000L + seq))

  private def writeFeed(dir: Path, shard: String, events: Seq[VEvent], append: Boolean = false): Unit = {
    val file = dir.resolve(s"$shard.jsonl")
    val lines = events.map(VEventJson.write).mkString("", "\n", "\n")
    if (append)
      Files.writeString(file, lines, StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    else Files.writeString(file, lines)
  }

  private def runToCompletion(feedDir: Path, checkpoint: Path, sinkTable: String): Unit = {
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .load()
      .writeStream
      .format("memory")
      .queryName(sinkTable)
      .option("checkpointLocation", checkpoint.toString)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  test("explicit-vgtid cold start skips history at the line level, not by decode") {
    // 40 history txs BEFORE the requested position, 10 after. The proof
    // that history is never JSON-decoded: every history ROW line is
    // corrupted into invalid JSON (prefixes intact, so the driver's start
    // resolution — a fold that only parses FIELD/VGTID/COMMIT lines —
    // passes over them). A reader that still read history would throw;
    // the query must deliver the 10 post-position transactions exactly.
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdccoldskip"))
    val all = (1L to 50L).flatMap { i =>
      insertTx("s0", i, i, s"v$i").map {
        case r: RowEvent if i <= 40 => VEventJson.write(r).dropRight(10) + "~corrupt~"
        case e => VEventJson.write(e)
      }
    }
    Files.writeString(feedDir.resolve("s0.jsonl"), all.mkString("", "\n", "\n"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdccoldskipckpt"))
    val opts = Map(
      "path" -> feedDir.toString,
      "shard" -> "s0",
      "vgtid" -> Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-40"))).json)
    val q = spark.readStream.format("vitess-cdc").options(opts).load()
      .writeStream.format("memory").queryName("cdc_cold_skip")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.sql(
      "SELECT CAST(get_json_object(after, '$.id') AS LONG) FROM cdc_cold_skip " +
        "WHERE op = 'c' ORDER BY 1").collect().map(_.getLong(0)).toSeq
    assert(ids == (41L to 50L))
    // batch 0 starts past history: the start resolves to the byte right
    // after tx 40, and every partition (split segments included) reads
    // from there on
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val historyBytes = all.take(40 * 5).map(_.getBytes("UTF-8").length + 1L).sum
    val stream = new VitessCdcStream(new CaseInsensitiveStringMap(opts.asJava))
    try {
      val start = stream.initialOffset().asInstanceOf[VgtidOffset]
      assert(start.cursors.map(c => c.step.sg.shard -> c.pos) == Seq("s0" -> historyBytes))
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
      val parts = stream.planInputPartitions(start, end).map(_.asInstanceOf[VitessCdcPartition])
      assert(parts.length > 1, "expected the derived split size to cut the window")
      assert(parts.map(_.seed.pos).min == historyBytes, parts.map(_.seed.pos).toSeq)
    } finally stream.stop()
  }

  test("the derived split size fans one shard's window into tx-safe segments") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplitplan"))
    writeFeed(feedDir, "s0", (1L to 30L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", feedDir.toString)
    val stream = new VitessCdcStream(new CaseInsensitiveStringMap(opts))
    try {
      val start = stream.initialOffset()
      val end = stream.latestOffset(start, ReadLimit.allAvailable()).asInstanceOf[VgtidOffset]
      // planner: one partition per segment, tiling the window exactly
      val parts = stream.planInputPartitions(start, end)
        .map(_.asInstanceOf[VitessCdcPartition]).sortBy(_.seed.pos)
      val cuts = parts.tail.map(_.seed)
      // no option set: one shard holds all new bytes, so on local[2] the
      // bytes-per-core split size cuts its window once
      assert(cuts.length == 1, s"expected one split cursor on 2 cores, got ${cuts.length}")
      // every cut is a transaction-safe boundary: the line AT the cut
      // position begins a BEGIN (or is feed end)
      val bytes = Files.readAllBytes(feedDir.resolve("s0.jsonl"))
      cuts.foreach { c =>
        val next = new String(bytes, c.pos.toInt, math.min(20L, bytes.length - c.pos).toInt, "UTF-8")
        assert(next.startsWith("{\"type\":\"BEGIN\""), s"cut at ${c.pos} lands mid-transaction: $next")
      }
      // the offset JSON round-trips and holds positions only
      assert(VgtidOffset.fromJson(end.json()) == end)
      assert(!end.json().contains("feed_splits"))
      assert(parts.head.seed.pos == 0L)
      parts.sliding(2).foreach {
        case Array(a, b) => assert(a.endByte == b.seed.pos, "segments must tile")
        case _ =>
      }
      assert(parts.last.endByte == bytes.length.toLong)
      // each mid-shard segment seeds from its cursor: real GTID + schema
      parts.tail.foreach { p =>
        assert(p.seed.step.sg.gtid.contains("MySQL56/feed"))
        assert(p.seed.schemas.nonEmpty, "segment seed must carry the schema checkpoint")
      }
      // a stream that did not fold this offset (a restart replaying the
      // batch from the checkpoint) plans the window as one segment
      val replay = new VitessCdcStream(new CaseInsensitiveStringMap(opts))
      try {
        val again = replay.planInputPartitions(
          replay.deserializeOffset(start.json()), replay.deserializeOffset(end.json()))
          .map(_.asInstanceOf[VitessCdcPartition])
        assert(again.map(p => (p.seed.pos, p.endByte)).toSeq == Seq((0L, bytes.length.toLong)))
      } finally replay.stop()
    } finally stream.stop()

    // a trigger's split cursors never outnumber the cores, however the
    // bytes spread over shards or a byte cap stops the folds early
    val cores = spark.sparkContext.defaultParallelism
    val skewDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplitbound"))
    Seq("s0" -> 40L, "s1" -> 9L, "s2" -> 3L, "s3" -> 1L).foreach { case (sh, n) =>
      writeFeed(skewDir, sh, (1L to n).flatMap(i => insertTx(sh, i, i, s"$sh-$i")))
    }
    Seq(Map.empty[String, String], Map("max.bytes.per.trigger" -> "3000")).foreach { extra =>
      val o = new java.util.HashMap[String, String]()
      o.put("path", skewDir.toString)
      extra.foreach { case (k, v) => o.put(k, v) }
      val bounded = new VitessCdcStream(new CaseInsensitiveStringMap(o))
      try {
        var off = bounded.initialOffset()
        var triggers = 0
        var done = false
        while (!done) {
          val next = bounded.latestOffset(off, bounded.getDefaultReadLimit)
          val parts = bounded.planInputPartitions(off, next).map(_.asInstanceOf[VitessCdcPartition])
          val cuts = parts.length - parts.map(_.shard).distinct.length
          assert(cuts <= cores, s"$extra trigger $triggers planned $cuts split cursors")
          done = next.json() == off.json()
          off = next
          triggers += 1
        }
        assert(triggers > 1)
      } finally bounded.stop()
    }
  }

  test("a generation change bumps every replayed segment's seed once (A5)") {
    // a batch replayed after a restart at a new generation: its start and
    // end offsets come back from the checkpoint, so the restarted stream
    // plans one segment per shard, and every segment of the one-host
    // windows must seed at the bumped epoch
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcgensplit"))
    writeFeed(feedDir, "s0", (1L to 30L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    writeFeed(feedDir, "s1", (1L to 5L).flatMap(i => insertTx("s1", i, 100 + i, s"w$i")))
    def stream(generation: String) = new VitessCdcStream(new CaseInsensitiveStringMap(
      Map("path" -> feedDir.toString, "generation" -> generation).asJava))
    val first = stream("1")
    val (start, end) = try {
      val s = first.initialOffset()
      val e = first.latestOffset(s, ReadLimit.allAvailable())
      assert(first.planInputPartitions(s, e).length > 2, "expected the running batch to split")
      (s.json(), e.json())
    } finally first.stop()
    val restarted = stream("2")
    try {
      val parts = restarted.planInputPartitions(
        restarted.deserializeOffset(start), restarted.deserializeOffset(end))
        .map(_.asInstanceOf[VitessCdcPartition])
      assert(parts.map(_.shard).toSeq == Seq("s0", "s1"), "a replay plans one segment per shard")
      assert(parts.map(_.seed.step.epoch).toSeq.distinct == Seq(1L),
        parts.map(p => p.seed.pos -> p.seed.step.epoch).toSeq)
    } finally restarted.stop()
  }

  test("no spurious empty batch after a split-carrying batch") {
    // Spark detects progress by offset-JSON equality: a no-progress
    // trigger after a batch that split must return that batch's offset
    // JSON, or every split batch is followed by an empty one
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplitnospur"))
    writeFeed(feedDir, "s0", (1L to 20L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", feedDir.toString)
    val stream = new VitessCdcStream(new CaseInsensitiveStringMap(opts))
    try {
      val start = stream.initialOffset()
      val batch1 = stream.latestOffset(start, ReadLimit.allAvailable())
      assert(stream.planInputPartitions(start, batch1).length > 1)
      val batch2 = stream.latestOffset(batch1, ReadLimit.allAvailable())
      assert(batch2.json() == batch1.json(),
        "a no-progress trigger must be offset-identical to the split batch")
    } finally stream.stop()
  }

  test("intra-shard split partitions produce identical output: epochs, evolved schema") {
    // txs 1-10 on host A (2 columns); the schema evolves to 3 columns
    // inside tx 11 and the GTID host flips (epoch 0 → 1) for txs 11-20.
    // With no option the derived split size cuts the window mid-shard;
    // the segment's seed must carry the right GTID, epoch, and schema
    // checkpoint or the output diverges from the unsplit run
    // (`max.txs.per.trigger=1` admits one transaction per trigger, so
    // no window has a transaction boundary inside it to cut at).
    val f3 = t1Fields :+ FieldDef("extra", "VARCHAR", "varchar(32)", 32, 0, 0L)
    def tx3(shard: String, seq: Long, id: Long, v: String, x: String): Seq[VEvent] = Seq(
      BeginEvent(shard, "ks"),
      FieldEvent(shard, "ks", "ks.t1", f3, enumSetStringValues = false),
      RowEvent(shard, "ks", "ks.t1", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some(id.toString), Some(v), Some(x))))))),
      VgtidEvent(shard, Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/hostB:1-$seq")))),
      CommitEvent(shard, "ks", 1700000000L + seq))
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplite2e"))
    writeFeed(feedDir, "s0",
      (1L to 10L).flatMap(i => insertTx("s0", i, i, s"a$i", host = "hostA")))
    Files.writeString(feedDir.resolve("s0.jsonl"),
      (11L to 20L).flatMap(i => tx3("s0", i, i, s"b$i", s"x$i"))
        .map(VEventJson.write).mkString("", "\n", "\n"),
      StandardOpenOption.APPEND)
    // the most tasks one job of each streaming query ran, by query id
    val tasksByQuery = scala.collection.concurrent.TrieMap.empty[String, Int]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("sql.streaming.queryId"))).foreach { id =>
          val tasks = j.stageInfos.map(_.numTasks).maxOption.getOrElse(0)
          tasksByQuery.updateWith(id)(prev => Some(math.max(tasks, prev.getOrElse(0))))
        }
    }
    def run(sink: String, opts: Map[String, String]): (Seq[Row], String) = {
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplitckpt"))
      val b0 = spark.readStream.format("vitess-cdc").option("path", feedDir.toString)
      val q = opts.foldLeft(b0) { case (b, (k, v)) => b.option(k, v) }.load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      val rows = spark.sql(
        s"SELECT CAST(get_json_object(after, '$$.id') AS LONG) AS id, after, epoch, " +
          s"vgtid, restart_vgtid, rank, total_order FROM $sink WHERE op = 'c' ORDER BY id")
        .collect().toSeq
      (rows, q.id.toString)
    }
    spark.sparkContext.addSparkListener(listener)
    val (plain, split, splitTasks) = try {
      val (plain, _) = run("cdc_split_off", Map("max.txs.per.trigger" -> "1"))
      val (split, splitId) = run("cdc_split_on", Map.empty)
      // listener events arrive asynchronously
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (tasksByQuery.getOrElse(splitId, 0) < 2 && System.nanoTime() < deadline) Thread.sleep(50)
      (plain, split, tasksByQuery.getOrElse(splitId, 0))
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(split == plain, "split run must be row-identical to the unsplit run")
    assert(plain.size == 20)
    assert(plain.take(10).forall(_.getLong(2) == 0L)) // host A epoch
    assert(plain.drop(10).forall(_.getLong(2) == 1L)) // flip folded into seeds
    assert(plain.last.getString(1).contains("x20")) // evolved column decoded
    // and the split run REALLY split: the one shard's batch ran at least
    // two read tasks
    assert(splitTasks >= 2, s"expected a split batch, got $splitTasks task(s) per job")
  }

  test("a hot shard splits by the derived rule and a cold one does not, rows unchanged") {
    // s0 holds 30 of 35 equal-sized transactions (over 3/4 of the bytes):
    // on local[2] the bytes-per-core split size is half the trigger, so
    // the hot shard's window is cut and the cold shard's is not
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplitskew"))
    writeFeed(feedDir, "s0", (1L to 30L).flatMap(i => insertTx("s0", i, i, s"h$i")))
    writeFeed(feedDir, "s1", (1L to 5L).flatMap(i => insertTx("s1", i, 100 + i, s"c$i")))
    val hot = Files.size(feedDir.resolve("s0.jsonl"))
    assert(4 * hot >= 3 * (hot + Files.size(feedDir.resolve("s1.jsonl"))))
    val opts = new java.util.HashMap[String, String]()
    opts.put("path", feedDir.toString)
    val stream = new VitessCdcStream(new CaseInsensitiveStringMap(opts))
    try {
      val start = stream.initialOffset()
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
      val perShard = stream.planInputPartitions(start, end)
        .map(_.asInstanceOf[VitessCdcPartition].shard).groupBy(identity).map {
          case (sh, ps) => sh -> ps.length
        }
      assert(perShard("s0") >= 2, s"hot shard must split: $perShard")
      assert(perShard("s1") == 1, s"cold shard must not split: $perShard")
    } finally stream.stop()
    def run(sink: String, extra: Map[String, String]): Seq[Row] = {
      val b0 = spark.readStream.format("vitess-cdc").option("path", feedDir.toString)
      val q = extra.foldLeft(b0) { case (b, (k, v)) => b.option(k, v) }.load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation",
          graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcsplitskewckpt")).toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.sql(
        s"SELECT CAST(get_json_object(after, '$$.id') AS LONG) AS id, after, epoch, " +
          s"vgtid, restart_vgtid, rank, total_order FROM $sink WHERE op = 'c' ORDER BY id")
        .collect().toSeq
    }
    val derived = run("cdc_skew_derived", Map.empty)
    assert(derived.size == 35)
    assert(derived == run("cdc_skew_one_tx", Map("max.txs.per.trigger" -> "1")),
      "split run must be row-identical to the one-transaction-per-trigger run")
  }

  test("admission caps must be positive") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdccapvalid"))
    writeFeed(feedDir, "s0", insertTx("s0", 1L, 1L, "v1"))
    for (key <- Seq("max.txs.per.trigger", "max.bytes.per.trigger"); v <- Seq("0", "-1")) {
      val opts = new java.util.HashMap[String, String]()
      opts.put("path", feedDir.toString)
      opts.put(key, v)
      val e = intercept[IllegalArgumentException](new VitessCdcStream(new CaseInsensitiveStringMap(opts)))
      assert(e.getMessage.contains(key), e.getMessage)
    }
  }

  test("offset json round-trips the reference offset-map shape") {
    val off = VgtidOffset(
      Seq(ShardCursor(0L, ShardTxStep(ShardGtid("ks", "-80", "MySQL56/h:1-5"), 1L), Map.empty),
        ShardCursor(0L, ShardTxStep(ShardGtid("ks", "80-", "MySQL56/h:1-9"), 2L), Map.empty)),
      ShardEpochMap.empty.put("-", 0L),
      3L)
    val back = VgtidOffset.fromJson(off.json())
    assert(back == off)
    assert(off.json().contains("\"transaction_epoch\""))
    assert(off.json().contains("\"connector_generation\":3"))
    assert(back.epochs == ShardEpochMap.empty.put("-", 0L).put("-80", 1L).put("80-", 2L))
  }

  test("reads a two-shard feed end-to-end with per-shard metadata") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt"))
    writeFeed(feedDir, "s0", (1L to 3L).flatMap(i => insertTx("s0", i, i, s"a$i")))
    writeFeed(feedDir, "s1", (1L to 2L).flatMap(i => insertTx("s1", i, 100 + i, s"b$i")))
    runToCompletion(feedDir, ckpt, "cdc_two_shards")
    val rows = spark.sql(
      "SELECT shard, op, after, tx_id, epoch, rank FROM cdc_two_shards ORDER BY shard, rank")
      .collect()
    assert(rows.length == 5)
    assert(rows.map(_.getString(0)).toSeq == Seq("s0", "s0", "s0", "s1", "s1"))
    assert(rows.forall(_.getString(1) == "c"))
    assert(rows.head.getString(2) == """{"id":1,"v":"a1"}""")
    assert(rows.head.getString(3) == "MySQL56/feed:1-1")
    assert(rows.forall(_.getLong(4) == 0L))
    assert(rows.map(_.getString(5)).toSeq == Seq("1", "2", "3", "1", "2"))
  }

  test("shard option restricts streaming to the named shards; unknown shards fail fast") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcshardopt"))
    writeFeed(feedDir, "s0", (1L to 3L).flatMap(i => insertTx("s0", i, i, s"a$i")))
    writeFeed(feedDir, "s1", (1L to 2L).flatMap(i => insertTx("s1", i, 100 + i, s"b$i")))
    def run(shard: String, sink: String): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("shard", shard)
        .load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcshardckpt")).toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run("s1", "cdc_shard_only_s1")
    val rows = spark.sql("SELECT shard, rank FROM cdc_shard_only_s1 ORDER BY rank").collect()
    assert(rows.length == 2 && rows.forall(_.getString(0) == "s1"),
      s"only the configured shard streams: ${rows.toSeq}")
    // a shard absent from the topology fails the query, like a real
    // VStream request for a nonexistent shard
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      run("s0, nope", "cdc_shard_unknown")
    }
    assert(err.getMessage.contains("nope") ||
      Option(err.getCause).exists(_.getMessage.contains("nope")))
    // an explicit vgtid must cover exactly the configured shard list
    val mismatch = intercept[Throwable] {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("shard", "s0,s1")
        .option("vgtid", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1"))).json)
        .load()
        .writeStream.format("memory").queryName("cdc_shard_vgtid_mismatch")
        .option("checkpointLocation", graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcshardckpt2")).toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(mismatch.getMessage.contains("must match the configured shard list") ||
      Option(mismatch.getCause).exists(_.getMessage.contains("must match the configured shard list")))
  }

  test("narrowing the shard list against an existing checkpoint fails fast, not silently") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcshardnarrow"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcshardnarrowckpt"))
    writeFeed(feedDir, "s0", (1L to 2L).flatMap(i => insertTx("s0", i, i, s"a$i")))
    writeFeed(feedDir, "s1", (1L to 2L).flatMap(i => insertTx("s1", i, 100 + i, s"b$i")))
    // first run unrestricted: the checkpoint now carries positions for both
    // shards (parquet sink — it supports restart-from-checkpoint)
    val outDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcshardnarrowout"))
    runToParquet(feedDir, ckpt, outDir)
    assert(spark.read.parquet(outDir.toString).count() == 4)
    // append new data so the restart has work, then restart the SAME
    // checkpoint restricted to s0: s1's checkpointed position would be
    // silently dropped from every new offset — must throw
    writeFeed(feedDir, "s0", insertTx("s0", 3, 3, "a3"), append = true)
    val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("shard", "s0")
        .load()
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", ckpt.toString)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    def msgs(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(msgs(err).exists(_.contains("does not cover checkpointed")), msgs(err).mkString(" | "))
  }

  private def runToParquet(feedDir: Path, checkpoint: Path, outDir: Path): Unit = {
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .load()
      .writeStream
      .format("parquet")
      .option("path", outDir.toString)
      .option("checkpointLocation", checkpoint.toString)
      .start()
    try q.processAllAvailable()
    finally q.stop()
  }

  test("incremental aggregate maintained per micro-batch equals the one-shot answer") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_inc_feed"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("graft_inc_ckpt"))
    def packed(id: Long, v: String) = PackedRow.of(Seq(Some(id.toString), Some(v)))
    def rowTx(seq: Long, change: RowChange): Seq[VEvent] = Seq(
      BeginEvent("0", "ks"),
      FieldEvent("0", "ks", "ks.t1", t1Fields, enumSetStringValues = false),
      RowEvent("0", "ks", "ks.t1", Seq(change)),
      VgtidEvent("0", Vgtid(Seq(ShardGtid("ks", "0", s"MySQL56/feed:1-$seq")))),
      CommitEvent("0", "ks", 1700000000L + seq))
    // batch 1: three inserts; batch 2: a group-moving update, a delete, an insert
    writeFeed(feedDir, "0",
      rowTx(1, RowChange(None, Some(packed(10, "a")))) ++
        rowTx(2, RowChange(None, Some(packed(20, "a")))) ++
        rowTx(3, RowChange(None, Some(packed(30, "b")))))
    val deltas = scala.collection.mutable.ArrayBuffer.empty[(String, Long, BigDecimal)]
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .load()
      .writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        deltas.synchronized {
          deltas ++= graft.operators.Sink.aggDeltas(batch.toDF(), "t1", "v", "id")
            .collect().map(r => (r.getString(0), r.getLong(1), BigDecimal(r.getDecimal(2))))
        }
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      writeFeed(feedDir, "0",
        rowTx(4, RowChange(Some(packed(20, "a")), Some(packed(20, "b")))) ++
          rowTx(5, RowChange(Some(packed(30, "b")), None)) ++
          rowTx(6, RowChange(None, Some(packed(40, "b")))),
        append = true)
      q.processAllAvailable()
    } finally q.stop()
    // final state: a = {10}, b = {20, 40}
    val byGrp = deltas.groupBy(_._1).view.mapValues(rs =>
      (rs.map(_._2).sum, rs.map(_._3).sum)).toMap
    assert(byGrp("a") == ((1L, BigDecimal(10))), s"group a wrong: $byGrp")
    assert(byGrp("b") == ((2L, BigDecimal(60))), s"group b wrong: $byGrp")
  }

  test("restart from checkpoint resumes with no loss and no duplicates") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed2"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt2"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout2"))
    writeFeed(feedDir, "s0", (1L to 3L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    runToParquet(feedDir, ckpt, out)
    assert(spark.read.parquet(out.toString).count() == 3)

    // append two more transactions, restart with the same checkpoint
    writeFeed(feedDir, "s0", (4L to 5L).flatMap(i => insertTx("s0", i, i, s"v$i")), append = true)
    runToParquet(feedDir, ckpt, out)
    val ids = spark.read.parquet(out.toString)
      .selectExpr("get_json_object(after, '$.id')")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(ids == Seq("1", "2", "3", "4", "5")) // no loss, no duplicates
  }

  test("restart vgtid on records allows inclusive replay") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed3"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt3"))
    writeFeed(feedDir, "s0", (1L to 3L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    runToCompletion(feedDir, ckpt, "cdc_replay")
    val rows = spark.sql(
      "SELECT get_json_object(after, '$.id') AS id, restart_vgtid FROM cdc_replay ORDER BY id")
      .collect()
    // record of tx 2 carries tx 1's position: restarting there replays tx 2
    assert(rows(1).getString(1).contains("MySQL56/feed:1-1"))
    assert(rows(2).getString(1).contains("MySQL56/feed:1-2"))
  }

  test("epoch bumps when the GTID host set changes mid-stream") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed4"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt4"))
    writeFeed(feedDir, "s0",
      (1L to 2L).flatMap(i => insertTx("s0", i, i, s"v$i")) ++
        insertTx("s0", 3, 3, "v3", host = "failover"))
    runToCompletion(feedDir, ckpt, "cdc_epoch")
    val rows = spark.sql(
      "SELECT get_json_object(after, '$.id') AS id, epoch FROM cdc_epoch ORDER BY id")
      .collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 0L, 1L))
  }

  test("epoch continuity across a checkpoint restart (host change in new batch)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed5"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt5"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout5"))
    writeFeed(feedDir, "s0", (1L to 2L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    runToParquet(feedDir, ckpt, out)
    writeFeed(feedDir, "s0", insertTx("s0", 3, 3, "v3", host = "failover"), append = true)
    runToParquet(feedDir, ckpt, out)
    val rows = spark.read.parquet(out.toString)
      .selectExpr("get_json_object(after, '$.id') AS id", "epoch")
      .orderBy("id").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(0L, 0L, 1L))
  }

  /** (id, epoch) of every `c` record of `events` (one shard, `s0`) under
    * each admission mode — no option (on `local[2]` the derived split
    * size cuts the window), one transaction per trigger, one line-safe
    * boundary per trigger — and through `CdcPipeline`. */
  private def idsAndEpochsByMode(name: String, events: Seq[VEvent],
      extra: Map[String, String] = Map.empty): Map[String, Seq[(Long, Long)]] = {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(name))
    writeFeed(feedDir, "s0", events)
    val modes = Seq(
      "default" -> Map.empty[String, String],
      "max.txs.per.trigger=1" -> Map("max.txs.per.trigger" -> "1"),
      "max.bytes.per.trigger=1" -> Map("max.bytes.per.trigger" -> "1"))
    val streamed = modes.zipWithIndex.map { case ((mode, opts), i) =>
      val sink = s"${name}_$i"
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"${name}ckpt"))
      val b0 = spark.readStream.format("vitess-cdc").option("path", feedDir.toString)
      val q = (opts ++ extra).foldLeft(b0) { case (b, (k, v)) => b.option(k, v) }.load()
        .writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      mode -> spark.sql(
        s"SELECT CAST(get_json_object(after, '$$.id') AS LONG), epoch FROM $sink " +
          "WHERE op = 'c' ORDER BY 1").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    val lines = events.map(VEventJson.write).zipWithIndex
      .map { case (l, i) => FeedLine("s0", i.toLong, l) }
    val piped = CdcPipeline.processPartition(lines.iterator.buffered, false, TableFilter.acceptAll)
      .filter(_.op == "c").map(r => (r.after.get.drop(6).takeWhile(_.isDigit).toLong, r.epoch))
      .toSeq.sortBy(_._1)
    (streamed :+ ("CdcPipeline" -> piped)).toMap
  }

  private def v(gtid: String) = VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", gtid))))

  /** `insertTx` of row `id` on `s0` at GTID set `gtid`. */
  private def dml(gtid: String, id: Long): Seq[VEvent] =
    insertTx("s0", 0L, id, s"v$id").map { case _: VgtidEvent => v(gtid); case e => e }

  test("a failover to a lower-ranked GTID set keeps every row, in a new epoch (A2/A3)") {
    // rank drops from 3 to 1 at the failover: the host change moves the
    // epoch, so (epoch, rank) still orders b:1-1 after a:1-3
    val events = (1L to 3L).flatMap(i => insertTx("s0", i, i, s"a$i", host = "a")) ++
      (1L to 2L).flatMap(i => insertTx("s0", i, 10 + i, s"b$i", host = "b"))
    idsAndEpochsByMode("cdcfailoverrank", events).foreach { case (mode, rows) =>
      assert(rows == Seq((1L, 0L), (2L, 0L), (3L, 0L), (11L, 1L), (12L, 1L)), mode)
    }
  }

  test("a host change in an empty transaction moves the epoch whatever the cut (A3)") {
    // the empty transaction's VGTID drops host `a` (epoch 1); the next
    // DML adds it back, a superset that keeps epoch 1. Every reader of
    // the feed — unsplit, split, one tx or one line per trigger, the
    // batch pipeline — must step the epoch on it, not only on DML
    val events = dml("MySQL56/a:1-1", 1) ++ dml("MySQL56/a:1-2", 2) ++
      Seq(BeginEvent("s0", "ks"), v("MySQL56/b:1-1"), CommitEvent("s0", "ks", 1700000100L)) ++
      dml("MySQL56/a:1-3,b:1-1", 3) ++ dml("MySQL56/a:1-4,b:1-1", 4)
    idsAndEpochsByMode("cdcemptytxhost", events).foreach { case (mode, rows) =>
      assert(rows == Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L)), mode)
    }
  }

  test("an explicit-vgtid start over failover history re-admits none of it (A2/A3)") {
    // history b:1-1..2 then a:1-1..2,b:1-2 (the start); stepping from the
    // start into history drops host `a` and so bumps the epoch, yet every
    // history GTID set lies inside the start's and must stay history
    val events = dml("MySQL56/b:1-1", 1) ++ dml("MySQL56/b:1-2", 2) ++
      dml("MySQL56/a:1-1,b:1-2", 3) ++ dml("MySQL56/a:1-2,b:1-2", 4) ++
      dml("MySQL56/a:1-3,b:1-2", 5) ++ dml("MySQL56/a:1-4,b:1-2", 6)
    val start = Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/a:1-2,b:1-2"))).json
    val byMode = idsAndEpochsByMode("cdccoldfailover", events, Map("vgtid" -> start)) - "CdcPipeline"
    byMode.foreach { case (mode, rows) => assert(rows.map(_._1) == Seq(5L, 6L), mode) }
    assert(byMode.values.toSet.size == 1, s"epochs differ by mode: $byMode")
  }

  test("a failover to a replica missing transactions keeps its row whatever the cut (A2/A3)") {
    // id 4 comes from a replica whose GTID set a:1-2 drops host b yet lies
    // inside the current a:1-3,b:1-1, so it keeps the epoch; it is in the
    // byte window and is delivered in every mode, as the batch pipeline
    // delivers it
    val events = dml("MySQL56/a:1-1", 1) ++ dml("MySQL56/a:1-2,b:1-1", 2) ++
      dml("MySQL56/a:1-3,b:1-1", 3) ++ dml("MySQL56/a:1-2", 4) ++
      dml("MySQL56/a:1-3,b:1-2", 5) ++ dml("MySQL56/a:1-4,b:1-2", 6)
    val byMode = idsAndEpochsByMode("cdcreplicafailover", events)
    byMode.foreach { case (mode, rows) => assert(rows.map(_._1) == (1L to 6L), mode) }
    assert(byMode.values.toSet.size == 1, s"epochs differ by mode: $byMode")
  }

  test("a batch cut after a replica's transaction seeds the next batch from the replica's set (A3)") {
    // id 4's a:1-2 lies inside a:1-3,b:1-1; a:1-3,c:1-1 adds host c to it
    // (same epoch) but drops host b from a:1-3,b:1-1 (new epoch). A batch
    // ending after id 4 must record a:1-2, as a split cursor there does
    val events = dml("MySQL56/a:1-1", 1) ++ dml("MySQL56/a:1-2,b:1-1", 2) ++
      dml("MySQL56/a:1-3,b:1-1", 3) ++ dml("MySQL56/a:1-2", 4) ++
      dml("MySQL56/a:1-3,c:1-1", 5)
    idsAndEpochsByMode("cdcreplicacut", events).foreach { case (mode, rows) =>
      assert(rows == (1L to 5L).map(_ -> 0L), mode)
    }
  }

  /** Records ("op:id", or "ddl") of `events` on shard `s0` from an explicit
    * start at `feed:1-2`, under the default mode and one transaction per
    * trigger. */
  private def startAtTx2ByMode(name: String, events: Seq[VEvent]): Map[String, Seq[String]] = {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(name))
    writeFeed(feedDir, "s0", events)
    val start = Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2"))).json
    val modes = Seq(
      "default" -> Map.empty[String, String],
      "max.txs.per.trigger=1" -> Map("max.txs.per.trigger" -> "1"))
    modes.zipWithIndex.map { case ((mode, opts), i) =>
        val sink = s"${name}_$i"
        val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"${name}ckpt"))
        val q = spark.readStream.format("vitess-cdc")
          .options(opts ++ Map("path" -> feedDir.toString, "vgtid" -> start)).load()
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", ckpt.toString).start()
        try q.processAllAvailable() finally q.stop()
        mode -> spark.sql(
          s"SELECT op, get_json_object(after, '$$.id') FROM $sink").collect()
          .map(r => if (r.getString(0) == "ddl") "ddl" else s"${r.getString(0)}:${r.getString(1)}")
          .toSeq.sorted
      }.toMap
  }

  private val ddl = DdlEvent("s0", "ks", "ALTER TABLE t1 COMMENT 'x'", 1700000000L)

  test("an explicit start decodes with history's schema: FIELD sent once, in tx 1 (S4)") {
    // the server sends FIELD once per table per stream, so only tx 1 of a
    // staged feed carries it; the start's schema checkpoint must hold it
    val events = insertTx("s0", 1, 1, "v1") ++
      (2L to 4L).flatMap(i => insertTx("s0", i, i, s"v$i").filterNot(_.isInstanceOf[FieldEvent]))
    startAtTx2ByMode("cdccoldfield", events).foreach { case (mode, recs) =>
      assert(recs == Seq("c:3", "c:4"), mode)
    }
  }

  test("an explicit start leaves a DDL inside history undelivered (S4)") {
    val events = insertTx("s0", 1, 1, "v1") ++ Seq(ddl) ++
      (2L to 4L).flatMap(i => insertTx("s0", i, i, s"v$i"))
    startAtTx2ByMode("cdccoldddlin", events).foreach { case (mode, recs) =>
      assert(recs == Seq("c:3", "c:4"), mode)
    }
  }

  test("an explicit start delivers a DDL right after the start transaction (S4)") {
    // history ends right after the last transaction not after the start,
    // so a standalone line behind it belongs to the stream
    val events = (1L to 2L).flatMap(i => insertTx("s0", i, i, s"v$i")) ++ Seq(ddl) ++
      (3L to 4L).flatMap(i => insertTx("s0", i, i, s"v$i"))
    startAtTx2ByMode("cdccoldddlafter", events).foreach { case (mode, recs) =>
      assert(recs == Seq("c:3", "c:4", "ddl"), mode)
    }
  }

  test("every offset the source hands out has a byte position for each shard of its vgtid") {
    import com.fasterxml.jackson.databind.ObjectMapper
    import com.fasterxml.jackson.databind.node.ObjectNode
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcoffsetpos"))
    Seq("s0", "s1").foreach { sh =>
      writeFeed(feedDir, sh, (1L to 4L).flatMap(i => insertTx(sh, i, i, s"v$i")))
    }
    def positioned(o: Offset, what: String): VgtidOffset = {
      val v = o.asInstanceOf[VgtidOffset]
      assert(v.vgtid.shardGtids.map(_.shard).toSet == Set("s0", "s1"), what)
      assert(v.cursors.map(_.step.sg.shard) == Seq("s0", "s1"), s"$what: ${v.json()}")
      v
    }
    val explicit = Vgtid(Seq(
      ShardGtid("ks", "s0", "MySQL56/feed:1-2"), ShardGtid("ks", "s1", Vgtid.EmptyGtid))).json
    Seq(Map.empty[String, String], Map("vgtid" -> explicit)).foreach { extra =>
      val stream = new VitessCdcStream(new CaseInsensitiveStringMap(
        (extra + ("path" -> feedDir.toString)).asJava))
      try {
        val start = positioned(stream.initialOffset(), s"initialOffset $extra")
        assert(stream.initialOffset().json() == start.json(), "batch 0's start is one value")
        val end = positioned(
          stream.latestOffset(start, ReadLimit.allAvailable()), s"latestOffset $extra")
        positioned(stream.deserializeOffset(end.json()), s"deserializeOffset $extra")
        // a checkpoint written without positions resolves by its vgtid
        val written = new ObjectMapper().readTree(start.json()).asInstanceOf[ObjectNode]
        written.remove("feed_positions")
        written.remove("schemas")
        val legacy = positioned(
          stream.deserializeOffset(written.toString), s"position-less deserializeOffset $extra")
        assert(legacy.json() == start.json())
      } finally stream.stop()
    }
  }

  test("empty shard files are excluded from partition planning (F5)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed7"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt7"))
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "x"))
    Files.writeString(feedDir.resolve("s9.jsonl"), "") // empty shard
    runToCompletion(feedDir, ckpt, "cdc_empty_shard")
    val shards = spark.sql("SELECT DISTINCT shard FROM cdc_empty_shard")
      .collect().map(_.getString(0)).toSeq
    assert(shards == Seq("s0"))
  }

  test("per-batch heartbeat records carry the end offset (H1)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed8"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt8"))
    writeFeed(feedDir, "s0", (1L to 2L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("heartbeat.batch", "true")
      .load()
      .writeStream.format("memory").queryName("cdc_hb")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val hb = spark.sql("SELECT vgtid FROM cdc_hb WHERE op = 'heartbeat'").collect()
    assert(hb.length == 1)
    assert(hb.head.getString(0).contains("MySQL56/feed:1-2")) // end offset
    assert(spark.sql("SELECT count(*) FROM cdc_hb WHERE op = 'c'").first().getLong(0) == 2)
  }

  test("a per-batch heartbeat carries its batch's end epoch across a failover inside it (H1)") {
    // host a commits id 1, then host b (a failover: a new epoch) ids 2-3.
    // Each batch's heartbeat is its shard's step at the batch end: the
    // GTID and the epoch that batch's end offset records, whatever the cut
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdchbfailover"))
    writeFeed(feedDir, "s0",
      dml("MySQL56/a:1-1", 1) ++ dml("MySQL56/b:1-1", 2) ++ dml("MySQL56/b:1-2", 3))
    Seq(Map.empty[String, String], Map("max.txs.per.trigger" -> "1")).foreach { opts =>
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdchbfailoverckpt"))
      val beats = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String, Long)]()
      val b0 = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString).option("heartbeat.batch", "true")
      val q = opts.foldLeft(b0) { case (b, (k, v)) => b.option(k, v) }.load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], id: Long) =>
          df.filter("op = 'heartbeat'").select("vgtid", "epoch").collect()
            .foreach(r => beats.add((id, r.getString(0), r.getLong(1))))
        }
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      val byBatch = beats.asScala.toSeq
      val batches = ckpt.resolve("offsets").toFile.list().count(_.forall(_.isDigit))
      assert(byBatch.map(_._1).sorted == (0L until batches), s"$opts: one heartbeat per batch")
      byBatch.foreach { case (id, vgtid, epoch) =>
        val end = VgtidOffset.fromJson(
          Files.readAllLines(ckpt.resolve(s"offsets/$id")).asScala.last)
        assert(epoch == end.epochs.get("s0").get, s"$opts batch $id: $vgtid")
        assert(vgtid == Vgtid(end.vgtid.shardGtid("s0").toSeq).json, s"$opts batch $id")
      }
      assert(byBatch.maxBy(_._1)._3 == 1L, s"$opts: the last batch ends on host b")
    }
  }

  test("interval heartbeats: NOOP at 0, one per elapsed interval with current offset") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed22"))
    // commit timestamps 1 s apart (insertTx uses 1700000000 + seq)
    writeFeed(feedDir, "s0", (1L to 5L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    def run(name: String, intervalMs: Long): Unit = {
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"ck$name"))
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("heartbeat.interval.ms", intervalMs.toString)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    run("cdc_hb0", 0L) // NOOP: no heartbeat records at interval 0
    assert(spark.sql("SELECT count(*) FROM cdc_hb0 WHERE op = 'heartbeat'")
      .first().getLong(0) == 0L)
    run("cdc_hb2", 2000L) // 5 txs 1 s apart → heartbeats after tx 3 and tx 5
    val hb = spark.sql(
      "SELECT vgtid FROM cdc_hb2 WHERE op = 'heartbeat' ORDER BY ts_ms")
      .collect().map(_.getString(0)).toSeq
    assert(hb.length == 2)
    assert(hb(0).contains("MySQL56/feed:1-3")) // current offset at emission
    assert(hb(1).contains("MySQL56/feed:1-5"))
    assert(spark.sql("SELECT count(*) FROM cdc_hb2 WHERE op = 'c'").first().getLong(0) == 5)
  }

  test("interval heartbeats keep their cadence across bounded micro-batches") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed28"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt28"))
    // 5 txs 1 s apart, one tx per batch: the baseline must survive batch
    // boundaries via the checkpointed heartbeat_ms, or no heartbeat ever
    // fires (each single-tx batch would just re-seed the baseline)
    writeFeed(feedDir, "s0", (1L to 5L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("heartbeat.interval.ms", "2000")
      .option("max.txs.per.trigger", "1")
      .load()
      .writeStream.format("memory").queryName("cdc_hb_bounded")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val hb = spark.sql(
      "SELECT vgtid FROM cdc_hb_bounded WHERE op = 'heartbeat' AND ts_ms > 0 ORDER BY ts_ms")
      .collect().map(_.getString(0)).toSeq
    assert(hb.length == 2, s"expected heartbeats after tx 3 and tx 5, got $hb")
    assert(hb(0).contains("MySQL56/feed:1-3"))
    assert(hb(1).contains("MySQL56/feed:1-5"))
  }

  test("feed slice: unterminated tail line is not returned and never advances position") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcslice"))
    val f = dir.resolve("s0.jsonl")
    Files.writeString(f, "line one\nline two\npartial tail with no newline")
    val s1 = new FeedSlice(f.toString, 0L)
    try {
      assert(s1.readLine() == "line one")
      assert(s1.readLine() == "line two")
      val posAfterComplete = s1.position
      assert(s1.readLine() == null) // torn tail stays unread
      assert(s1.position == posAfterComplete) // position still at a line start
      // the appender finishes the line: resuming from the recorded
      // position yields the WHOLE line, not a mid-line fragment
      Files.writeString(f, " now complete\nnext\n", StandardOpenOption.APPEND)
      val s2 = new FeedSlice(f.toString, posAfterComplete)
      try {
        assert(s2.readLine() == "partial tail with no newline now complete")
        assert(s2.readLine() == "next")
        assert(s2.readLine() == null)
      } finally s2.close()
    } finally s1.close()
  }

  test("tx torn between VGTID and COMMIT is delivered whole on the next trigger") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed29"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt29"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout29"))
    val tx2 = insertTx("s0", 2, 2, "torn")
    // tx1 complete; tx2's BEGIN/FIELD/ROW/VGTID lines written but its
    // COMMIT not yet — the appender is mid-transaction when the trigger
    // fires. The offset must NOT fold tx2's VGTID, or the resume filter
    // would treat it as already delivered.
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "a") ++ tx2.dropRight(1))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    assert(spark.read.parquet(out.toString).count() == 1) // only tx1 so far
    // appender finishes tx2 and adds tx3
    writeFeed(feedDir, "s0", tx2.takeRight(1) ++ insertTx("s0", 3, 3, "c"), append = true)
    run()
    val ids = spark.read.parquet(out.toString)
      .selectExpr("get_json_object(after, '$.id') AS id").orderBy("id")
      .collect().map(_.getString(0)).toSeq
    assert(ids == Seq("1", "2", "3")) // tx2 neither lost nor duplicated
  }

  test("metadata scans: shards, non-empty shards, tables, keyspaces (S6)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed9"))
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "x"))
    Files.writeString(feedDir.resolve("s9.jsonl"), "")
    assert(Metadata.shards(feedDir.toString) == Seq("s0", "s9"))
    assert(Metadata.nonEmptyShards(feedDir.toString) == Seq("s0"))
    assert(Metadata.tables(spark, feedDir.toString) == Seq("ks.t1"))
    assert(Metadata.keyspaces(spark, feedDir.toString) == Seq("ks"))
    assert(Metadata.escapeLike("a_b%c") == "a\\_b\\%c")
  }

  test("metadata scans: empty feed dir answers empty, torn line skipped, bare names not keyspaces") {
    // a fresh staging dir (no .jsonl yet) answers like shards(): empty —
    // not an AnalysisException from a matchless glob
    val fresh = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeedfresh"))
    assert(Metadata.tables(spark, fresh.toString).isEmpty)
    assert(Metadata.keyspaces(spark, fresh.toString).isEmpty)
    // a live feed's torn trailing FIELD fragment is skipped, not fatal;
    // bare (keyspace-less) wire table names never masquerade as keyspaces
    val live = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeedtorn"))
    val whole = insertTx("s0", 1, 1, "x").map(VEventJson.write).mkString("", "\n", "\n")
    val bare = VEventJson.write(
      FieldEvent("s0", "ks", "t_bare", t1Fields, enumSetStringValues = false))
    Files.writeString(live.resolve("s0.jsonl"),
      whole + bare + "\n" + """{"kind":"FIELD","shard":"s0","keysp""")
    assert(Metadata.tables(spark, live.toString) == Seq("ks.t1", "t_bare"))
    assert(Metadata.keyspaces(spark, live.toString) == Seq("ks"))
  }

  test("checkpointed SHOW TABLES/DATABASES reads zero feed bytes behind the offset") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed9b"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt9b"))
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "x"))
    runToCompletion(feedDir, ckpt, "cdc_meta_ckpt")
    // the checkpointed offset: Spark's OffsetSeqLog stores "v1", the batch
    // metadata line, then one offset JSON line per source
    val offsetsDir = ckpt.resolve("offsets")
    val latest = Files.list(offsetsDir).iterator().asScala
      .filter(p => p.getFileName.toString.forall(_.isDigit))
      .maxBy(_.getFileName.toString.toLong)
    val off = VgtidOffset.fromJson(Files.readAllLines(latest).asScala.last)
    assert(off.cursors.nonEmpty && off.cursors.forall(_.schemas.nonEmpty))
    // overwrite the feed with SAME-LENGTH garbage: if the checkpointed
    // path read any byte behind the offset it would now throw or return
    // junk — correct answers prove the call is pure checkpoint + size
    // metadata
    val feed = feedDir.resolve("s0.jsonl")
    val size = Files.size(feed).toInt
    Files.write(feed, Array.fill[Byte](size)('x'))
    assert(Metadata.tables(feedDir.toString, off) == Seq("ks.t1"))
    assert(Metadata.keyspaces(feedDir.toString, off) == Seq("ks"))
    // bytes past the checkpointed position ARE scanned: a new table's
    // FIELD event appended after the offset must surface in the list
    writeFeed(feedDir, "s0", Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t2", t1Fields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t2", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("9"), Some("z"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))),
      CommitEvent("s0", "ks", 1700000099L)), append = true)
    assert(Metadata.tables(feedDir.toString, off) == Seq("ks.t1", "ks.t2"))
  }

  test("copy phase: enum/set decode as labels, lastpk rides the offset, seamless switch (S5)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed10"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt10"))
    val enumFields = Seq(
      FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("size", "ENUM", "enum('s','m','l')", 0, 0, 0L))
    val copyVgtid = Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1", Seq(
      TableLastPk("t1",
        Seq(PkField("id", "INT64", 63, Some(49667))),
        Seq(PkRow(Seq("1"), java.util.Base64.getEncoder.encodeToString("1".getBytes))))))))
    val copy: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      // copy phase sends enum values as label strings
      FieldEvent("s0", "ks", "ks.t1", enumFields, enumSetStringValues = true),
      RowEvent("s0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("m"))))))),
      VgtidEvent("s0", copyVgtid),
      CommitEvent("s0", "ks", 1L),
      CopyCompletedEvent("s0"))
    val streamTx: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      // streaming phase sends enum values as 1-based indexes
      FieldEvent("s0", "ks", "ks.t1", enumFields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("2"), Some("3"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))),
      CommitEvent("s0", "ks", 2L))
    writeFeed(feedDir, "s0", copy ++ streamTx)
    runToCompletion(feedDir, ckpt, "cdc_copy")
    val rows = spark.sql(
      "SELECT get_json_object(after, '$.id') AS id, get_json_object(after, '$.size') AS sz, vgtid " +
        "FROM cdc_copy WHERE op = 'c' ORDER BY id")
      .collect()
    assert(rows.length == 2)
    assert(rows(0).getString(1) == "m") // copy-phase label passthrough
    assert(rows(1).getString(1) == "l") // streaming index 3 → 'l'
    assert(rows(0).getString(2).contains("table_p_ks")) // lastpk in position
    assert(Vgtid.of(rows(0).getString(2)).willTriggerVStreamCopy)
  }

  test("heartbeat tables excluded unless stream.keyspace.heartbeats (H2)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed11"))
    val hbTx: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.heartbeat", t1Fields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.heartbeat", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("x"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))),
      CommitEvent("s0", "ks", 2L))
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "keep") ++ hbTx)
    def run(name: String, opt: Boolean): Seq[String] = {
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"ck$name"))
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("stream.keyspace.heartbeats", opt.toString)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.sql(s"SELECT DISTINCT table FROM $name WHERE op = 'c' ORDER BY table")
        .collect().map(_.getString(0)).toSeq
    }
    assert(run("cdc_hb_off", opt = false) == Seq("t1"))
    assert(run("cdc_hb_on", opt = true) == Seq("heartbeat", "t1"))
  }

  test("snapshot.tables restricts the copy phase but not streaming (F3)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed12"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt12"))
    def copyVgtid(seq: Long) = Vgtid(Seq(ShardGtid("ks", "s0", s"MySQL56/feed:1-$seq", Seq(
      TableLastPk("t1", Seq(PkField("id", "INT64", 63, None)), Seq(PkRow(Seq("1"), "MQ==")))))))
    def copyTx(seq: Long, table: String): Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", s"ks.$table", t1Fields, enumSetStringValues = true),
      RowEvent("s0", "ks", s"ks.$table", Seq(RowChange(None, Some(PackedRow.of(Seq(Some(seq.toString), Some("c"))))))),
      VgtidEvent("s0", copyVgtid(seq)),
      CommitEvent("s0", "ks", seq))
    // copy phase streams t1 and t2; snapshot filter keeps only t1; the
    // post-copy streaming tx on t2 must still flow
    val events = copyTx(1, "t1") ++ copyTx(2, "t2") ++ Seq(CopyCompletedEvent("s0")) ++ Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t2", t1Fields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t2", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("9"), Some("x"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-3")))),
      CommitEvent("s0", "ks", 3L))
    writeFeed(feedDir, "s0", events)
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("snapshot.tables", "ks\\.t1")
      .load()
      .writeStream.format("memory").queryName("cdc_snapfilter")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val rows = spark.sql(
      "SELECT table, get_json_object(after, '$.id') FROM cdc_snapfilter WHERE op = 'c' ORDER BY 2")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq(("t1", "1"), ("t2", "9"))) // copy of t2 skipped, stream of t2 kept
  }

  test("retriable error classification and retry (E1)") {
    assert(Retry.isRetriable(new java.io.IOException("conn reset")))
    assert(!Retry.isRetriable(new java.io.FileNotFoundException("gone")))
    assert(!Retry.isRetriable(new IllegalStateException("ordering")))
    var attempts = 0
    val out = Retry.withRetries(maxAttempts = 3, initialBackoffMs = 1) {
      attempts += 1
      if (attempts < 3) throw new java.io.IOException("flaky")
      42
    }
    assert(out == 42 && attempts == 3)
    intercept[IllegalStateException] {
      Retry.withRetries(maxAttempts = 3, initialBackoffMs = 1) {
        throw new IllegalStateException("not retriable")
      }
    }
  }

  test("max.txs.per.trigger bounds each micro-batch (admission control)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed13"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt13"))
    writeFeed(feedDir, "s0", (1L to 5L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.txs.per.trigger", "2")
      .load()
      .writeStream.format("memory").queryName("cdc_bounded")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    // all 5 transactions delivered exactly once, across >= 3 batches
    val ids = spark.sql("SELECT get_json_object(after, '$.id') FROM cdc_bounded ORDER BY 1")
      .collect().map(_.getString(0)).toSeq
    assert(ids == Seq("1", "2", "3", "4", "5"))
    val batches = spark.sql("SELECT count(DISTINCT vgtid) FROM cdc_bounded").first().getLong(0)
    assert(batches == 5) // one position per tx, regardless of batching
  }

  test("Trigger.Once and Trigger.AvailableNow drain every row under max.txs.per.trigger") {
    // Trigger.Once passes `allAvailable` to latestOffset, so admission
    // must read the limit Spark passes, not the cap options;
    // Trigger.AvailableNow runs capped batches until the data is drained
    import org.apache.spark.sql.streaming.Trigger
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdconce"))
    Seq("s0", "s1").foreach { sh =>
      writeFeed(feedDir, sh, (1L to 4L).flatMap(i => insertTx(sh, i, i, s"$sh-$i")))
    }
    Seq("once" -> Trigger.Once(), "available_now" -> Trigger.AvailableNow()).foreach {
      case (name, trigger) =>
        val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdconceckpt"))
        val q = spark.readStream.format("vitess-cdc")
          .option("path", feedDir.toString)
          .option("max.txs.per.trigger", "1")
          .load()
          .writeStream.format("memory").queryName(s"cdc_drain_$name")
          .option("checkpointLocation", ckpt.toString)
          .trigger(trigger).start()
        try q.awaitTermination(120000L) finally q.stop()
        val rows = spark.sql(s"SELECT shard, get_json_object(after, '$$.id') FROM cdc_drain_$name " +
          "WHERE op = 'c' ORDER BY 1, 2").collect().map(r => (r.getString(0), r.getString(1))).toSeq
        assert(rows == Seq("s0", "s1").flatMap(sh => (1 to 4).map(i => (sh, i.toString))), name)
    }
  }

  test("Trigger.AvailableNow keeps max.txs.per.trigger: 2 shards x 4 txs drain in 4 batches") {
    import org.apache.spark.sql.streaming.Trigger
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcavailnow"))
    Seq("s0", "s1").foreach { sh =>
      writeFeed(feedDir, sh, (1L to 4L).flatMap(i => insertTx(sh, i, i, s"$sh-$i")))
    }
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.txs.per.trigger", "1")
      .load()
      .writeStream.format("memory").queryName("cdc_available_now_capped")
      .option("checkpointLocation",
        graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcavailnowckpt")).toString)
      .trigger(Trigger.AvailableNow()).start()
    try assert(q.awaitTermination(120000L), "AvailableNow must stop once drained") finally q.stop()
    // one transaction (one row) per shard in each batch with rows
    val withRows = q.recentProgress.filter(_.numInputRows > 0).map(_.numInputRows).toSeq
    assert(withRows == Seq(2L, 2L, 2L, 2L), withRows)
    val rows = spark.sql("SELECT shard, get_json_object(after, '$.id') FROM cdc_available_now_capped " +
      "WHERE op = 'c' ORDER BY 1, 2").collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(rows == Seq("s0", "s1").flatMap(sh => (1 to 4).map(i => (sh, i.toString))))
  }

  test("Trigger.AvailableNow leaves a transaction appended after the start to the next query") {
    import org.apache.spark.sql.streaming.Trigger
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcavailnowlate"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcavailnowlateckpt"))
    writeFeed(feedDir, "s0", (1L to 2L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("max.txs.per.trigger", "1")
        .load()
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.Dataset[Row], id: Long) =>
          df.where("op = 'c'").selectExpr("get_json_object(after, '$.id')").collect()
            .foreach(r => seen.add(r.getString(0)))
          // the first batch runs after the query started: tx 3 lands late
          if (id == 0L) writeFeed(feedDir, "s0", insertTx("s0", 3L, 3L, "late"), append = true)
        }
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow()).start()
      try assert(q.awaitTermination(120000L), "AvailableNow must stop once drained") finally q.stop()
    }
    run()
    assert(seen.asScala.toSeq == Seq("1", "2"))
    run()
    assert(seen.asScala.toSeq == Seq("1", "2", "3"))
  }

  test("max.bytes.per.trigger bounds batch bytes even with a fat transaction") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed13b"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt13b"))
    // tx 3 is ~20x fatter than the rest (a bulk-load transaction); the
    // byte cap cannot split it, but must (a) stop admitting right after
    // it and (b) keep every OTHER batch at one small tx
    val fat = "x" * 4000
    writeFeed(feedDir, "s0", (1L to 5L).flatMap(i =>
      insertTx("s0", i, i, if (i == 3) fat else s"v$i")))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.bytes.per.trigger", "200")
      .load()
      .writeStream.format("memory").queryName("cdc_byte_bounded")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    // all 5 transactions exactly once
    val ids = spark.sql(
      "SELECT get_json_object(after, '$.id') FROM cdc_byte_bounded ORDER BY 1")
      .collect().map(_.getString(0)).toSeq
    assert(ids == Seq("1", "2", "3", "4", "5"))
    // each micro-batch admitted exactly ONE tx (the 200-byte cap is below
    // any single tx size, so every safe boundary past the cap is the first
    // one; the fat tx rides alone, whole): the offset log must show at
    // least 5 committed batches
    val batches = Files.list(ckpt.resolve("offsets")).count()
    assert(batches >= 5, s"expected >= 5 single-tx micro-batches, got $batches")
  }

  test("tx and byte caps compose: the tighter cap binds admission") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed13c"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt13c"))
    writeFeed(feedDir, "s0", (1L to 6L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    // tx cap would allow 10 per batch; the 200-byte cap (below any single
    // tx) forces one tx per batch — the byte limit must bind
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.txs.per.trigger", "10")
      .option("max.bytes.per.trigger", "200")
      .load()
      .writeStream.format("memory").queryName("cdc_both_caps")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.sql(
      "SELECT get_json_object(after, '$.id') FROM cdc_both_caps ORDER BY 1")
      .collect().map(_.getString(0)).toSeq
    assert(ids == (1 to 6).map(_.toString))
    val batches = Files.list(ckpt.resolve("offsets")).count()
    assert(batches >= 6, s"byte cap should bind over the loose tx cap, got $batches batches")
  }

  test("reshard: a new shard appearing mid-stream inherits max(parent)+1 epoch (A4)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed14"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt14"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcreshardout"))
    // parent shard "-80": two txs, host change bumps its epoch to 1
    writeFeed(feedDir, "-80",
      insertTx("-80", 1, 1, "a") ++ insertTx("-80", 2, 2, "b", host = "failover"))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("inherit.epoch", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // reshard: child "40-60" (overlaps [-inf,80)) appears
    writeFeed(feedDir, "40-60", insertTx("40-60", 1, 10, "c"))
    run()
    val rows = spark.read.parquet(out.toString)
      .where("op = 'c' AND shard = '40-60'")
      .selectExpr("shard", "epoch").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("40-60", 2L)))
  }

  test("reshard: a child admitted with its parent's epoch change keeps one epoch (A4)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed14b"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt14b"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcreshardout2"))
    writeFeed(feedDir, "-80", insertTx("-80", 1, 1, "a"))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("inherit.epoch", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    run()
    // one trigger admits the parent's host change AND the new child: the
    // child seeds from the start offset's parent epoch (0), as its reader
    // does, not from the parent's epoch folded in the same trigger
    writeFeed(feedDir, "-80", insertTx("-80", 2, 2, "b", host = "failover"), append = true)
    writeFeed(feedDir, "40-60", insertTx("40-60", 1, 10, "c"))
    run()
    writeFeed(feedDir, "40-60", insertTx("40-60", 2, 11, "d"), append = true)
    run()
    val epochs = spark.read.parquet(out.toString)
      .where("op = 'c' AND shard = '40-60'")
      .selectExpr("CAST(get_json_object(after, '$.id') AS LONG) AS id", "epoch")
      .orderBy("id").collect().map(_.getLong(1)).toSeq
    assert(epochs == Seq(1L, 1L)) // no jump without a host change
  }

  test("stop.on.reshard fails the query when a new shard appears; restart resumes it (S3)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed23"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt23"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout23"))
    writeFeed(feedDir, "-80", insertTx("-80", 1, 1, "a"))
    def start() = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("stop.on.reshard", "true")
      .load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString).start()
    val q = start()
    try {
      q.processAllAvailable() // parent-only topology streams fine
      // reshard WHILE the query runs: the child shard appears mid-stream
      writeFeed(feedDir, "40-60", insertTx("40-60", 1, 10, "c"))
      var waited = 0
      while (q.exception.isEmpty && waited < 30000) { Thread.sleep(100); waited += 100 }
      assert(q.exception.exists(_.toString.contains("stop.on.reshard")))
    } finally q.stop()
    // a restart re-resolves the topology and admits the child
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val ids = spark.read.parquet(out.toString)
      .selectExpr("get_json_object(after, '$.id') AS id").orderBy("id")
      .collect().map(_.getString(0)).toSeq
    assert(ids == Seq("1", "10"))
  }

  test("mid-copy restart resumes from lastpk with no loss and no duplicates (S5 hard part d)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed15"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt15"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout15"))
    // copy-phase txs: the GTID stays fixed at the snapshot position while
    // lastpk advances — exactly like a real VStream copy
    def copyTx(pk: Long): Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      RowEvent("s0", "ks", "ks.t1", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some(pk.toString), Some(s"c$pk"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1", Seq(
        TableLastPk("t1",
          Seq(PkField("id", "INT64", 63, None)),
          Seq(PkRow(Seq(pk.toString.length.toString),
            java.util.Base64.getEncoder.encodeToString(pk.toString.getBytes))))))))),
      CommitEvent("s0", "ks", pk))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    // first run sees only half the copy
    writeFeed(feedDir, "s0", (1L to 2L).flatMap(copyTx))
    run()
    assert(spark.read.parquet(out.toString).count() == 2)
    // copy continues after the restart: two more rows, then completion +
    // a streaming transaction
    writeFeed(feedDir, "s0",
      (3L to 4L).flatMap(copyTx) ++ Seq(CopyCompletedEvent("s0"): VEvent) ++
        insertTx("s0", 2, 99, "streamed"), append = true)
    run()
    val ids = spark.read.parquet(out.toString)
      .selectExpr("get_json_object(after, '$.id')")
      .collect().map(_.getString(0)).toSeq.sorted
    assert(ids == Seq("1", "2", "3", "4", "99")) // every copy row exactly once
  }

  test("DDL between batches delivers exactly once (offset-after-DDL)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed16"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt16"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout16"))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "a"))
    run()
    // the server sends [VGTID, DDL] with an advanced position (the DDL
    // rotates the offset), then a further transaction
    writeFeed(feedDir, "s0", Seq(
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))),
      DdlEvent("s0", "ks", "ALTER TABLE t1 ADD c INT", 42L)) ++
      insertTx("s0", 3, 3, "b"), append = true)
    run()
    run() // third run: nothing new, nothing duplicated
    val ops = spark.read.parquet(out.toString)
      .selectExpr("op").collect().map(_.getString(0)).toSeq.sorted
    assert(ops == Seq("c", "c", "ddl"))
    val ddlPos = spark.read.parquet(out.toString)
      .where("op = 'ddl'").selectExpr("vgtid").first().getString(0)
    assert(ddlPos.contains("MySQL56/feed:1-2"))
  }

  test("include.schema.changes=false drops DDL records but not data") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed24"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt24"))
    writeFeed(feedDir, "s0",
      insertTx("s0", 1, 1, "a") ++ Seq(
        VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))),
        DdlEvent("s0", "ks", "ALTER TABLE t1 ADD c INT", 42L)) ++
        insertTx("s0", 3, 3, "b"))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("include.schema.changes", "false")
      .load()
      .writeStream.format("memory").queryName("cdc_no_ddl")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val ops = spark.sql("SELECT op FROM cdc_no_ddl ORDER BY op")
      .collect().map(_.getString(0)).toSeq
    assert(ops == Seq("c", "c"))
  }

  test("snapshot.mode=never starts at current and skips copy-phase rows") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed25"))
    val copyVgtid = Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1", Seq(
      TableLastPk("t1", Seq(PkField("id", "INT64", 63, None)), Seq(PkRow(Seq("1"), "MQ==")))))))
    val copy: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      RowEvent("s0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("m"))))))),
      VgtidEvent("s0", copyVgtid),
      CommitEvent("s0", "ks", 1L),
      CopyCompletedEvent("s0"))
    writeFeed(feedDir, "s0", copy ++ insertTx("s0", 2, 2, "streamrow"))
    def run(name: String, mode: String): Seq[String] = {
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"ck$name"))
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("snapshot.mode", mode)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.sql(s"SELECT get_json_object(after, '$$.id') FROM $name WHERE op = 'c' ORDER BY 1")
        .collect().map(_.getString(0)).toSeq
    }
    assert(run("cdc_snap_initial", "initial") == Seq("1", "2")) // copy + stream
    assert(run("cdc_snap_never", "never") == Seq("2")) // stream only
  }

  test("shard.epoch.map seeds per-shard epochs at first start") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed26"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt26"))
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "a"))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("shard.epoch.map", """{"s0":7}""")
      .load()
      .writeStream.format("memory").queryName("cdc_seed_epoch")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val epochs = spark.sql("SELECT DISTINCT epoch FROM cdc_seed_epoch WHERE op = 'c'")
      .collect().map(_.getLong(0)).toSeq
    assert(epochs == Seq(7L))
  }

  test("override.datetime.to.nullable: zero datetime on NOT NULL column becomes null") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed27"))
    val dtFields = Seq(
      FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("dt", "DATETIME", "datetime", 19, 0, ColumnFlags.NotNull))
    val tx: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", dtFields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t1", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some("1"), Some("0000-00-00 00:00:00"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1")))),
      CommitEvent("s0", "ks", 1L))
    writeFeed(feedDir, "s0", tx)
    def run(name: String, enable: Boolean): String = {
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"ck$name"))
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString)
        .option("override.datetime.to.nullable", enable.toString)
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.sql(s"SELECT after FROM $name WHERE op = 'c'").first().getString(0)
    }
    assert(run("cdc_dt_default", enable = false).contains("1970-01-01")) // epoch fallback
    assert(run("cdc_dt_nullable", enable = true).contains("\"dt\":null"))
  }

  test("bounded batches also cap copy-phase progress (admission + lastpk)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed17"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt17"))
    def copyTx(pk: Long): Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", t1Fields, enumSetStringValues = true),
      RowEvent("s0", "ks", "ks.t1", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some(pk.toString), Some(s"c$pk"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1", Seq(
        TableLastPk("t1",
          Seq(PkField("id", "INT64", 63, None)),
          Seq(PkRow(Seq(pk.toString.length.toString),
            java.util.Base64.getEncoder.encodeToString(pk.toString.getBytes))))))))),
      CommitEvent("s0", "ks", pk))
    writeFeed(feedDir, "s0", (1L to 5L).flatMap(copyTx))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.txs.per.trigger", "2")
      .load()
      .writeStream.format("memory").queryName("cdc_copy_bounded")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.sql(
      "SELECT get_json_object(after, '$.id') FROM cdc_copy_bounded WHERE op = 'c' ORDER BY 1")
      .collect().map(_.getString(0)).toSeq
    assert(ids == Seq("1", "2", "3", "4", "5")) // all copy rows, exactly once, across batches
  }

  test("FeedSlice resumes across EOF: a torn line completes on a later read") {
    val dir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcslice"))
    val f = dir.resolve("s0.jsonl")
    Files.writeString(f, "{\"a\":1}\n{\"b\":")
    val slice = new FeedSlice(f.toString, 0L)
    try {
      assert(slice.readLine() == "{\"a\":1}")
      val posAfterFirst = slice.position
      // torn tail: not surfaced, position pinned at the line boundary
      assert(slice.readLine() == null)
      assert(slice.position == posAfterFirst)
      // the appender finishes the line (+ one more); the SAME slice
      // resumes mid-line without re-opening — the tailer contract
      Files.writeString(f, "2}\n{\"c\":3}\n", StandardOpenOption.APPEND)
      assert(slice.readLine() == "{\"b\":2}")
      assert(slice.readLine() == "{\"c\":3}")
      assert(slice.readLine() == null)
      assert(slice.position == Files.size(f))
    } finally slice.close()
  }

  test("offset json round-trips feed positions and schema checkpoint") {
    val off = VgtidOffset(
      Seq(ShardCursor(12345L, ShardTxStep(ShardGtid("ks", "s0", "MySQL56/h:1-5"), 1L),
        Map("ks.t1" -> VEventJson.write(
          FieldEvent("s0", "ks", "ks.t1", t1Fields, enumSetStringValues = false))))),
      ShardEpochMap.empty,
      1L)
    val back = VgtidOffset.fromJson(off.json())
    assert(back == off)
    assert(off.json().contains("\"feed_positions\""))
    // serialization is deterministic (Spark compares offset JSON strings)
    assert(off.json() == back.json())
  }

  // The offsets of the pinned-JSON spec (S8), each shard's FIELD line
  // shown as `@F(shard)`, and the `feed_splits` member older builds wrote
  // last in each.
  private val pinnedOffsets = Seq(
    """{"vgtid":[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/feed:1-6","table_p_ks":[]},{"keyspace":"ks","shard":"80-","gtid":"MySQL56/h2:1-2","table_p_ks":[]}],""" +
      """"transaction_epoch":{"-":2,"-80":3,"80-":3},"connector_generation":2,""" +
      """"feed_positions":{"-80":3714,"80-":1242},""" +
      """"schemas":{"-80":{"ks.t1":"@F(-80)"},"80-":{"ks.t1":"@F(80-)"}},""" +
      """"heartbeat_ms":{"-80":1700000005000,"80-":1700000001000}}""",
    """{"vgtid":[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/fo:1-8","table_p_ks":[]},{"keyspace":"ks","shard":"80-","gtid":"MySQL56/h2:1-2","table_p_ks":[]}],""" +
      """"transaction_epoch":{"-":2,"-80":4,"80-":3},"connector_generation":2,""" +
      """"feed_positions":{"-80":4948,"80-":1242},""" +
      """"schemas":{"-80":{"ks.t1":"@F(-80)"},"80-":{"ks.t1":"@F(80-)"}},""" +
      """"heartbeat_ms":{"-80":1700000007000,"80-":1700000001000}}""",
    """{"vgtid":[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/fo:1-8","table_p_ks":[]},{"keyspace":"ks","shard":"80-","gtid":"MySQL56/h2:1-2","table_p_ks":[]}],""" +
      """"transaction_epoch":{"-":3,"-80":5,"80-":4},"connector_generation":2,""" +
      """"feed_positions":{"-80":4948,"80-":1242},""" +
      """"schemas":{"-80":{"ks.t1":"@F(-80)"},"80-":{"ks.t1":"@F(80-)"}},""" +
      """"heartbeat_ms":{"-80":1700000007000,"80-":1700000001000}}""")
  private val olderFeedSplits = Seq(
    """"feed_splits":{"-80":[{"pos":3095,"gtid":[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/feed:1-5","table_p_ks":[]}],"epoch":3,"hb":1700000005000,"schemas":{"ks.t1":"@F(-80)"}}]}""",
    """"feed_splits":{"-80":[{"pos":4331,"gtid":[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/fo:1-7","table_p_ks":[]}],"epoch":4,"hb":1700000007000,"schemas":{"ks.t1":"@F(-80)"}}]}""",
    """"feed_splits":{"-80":[{"pos":3095,"gtid":[{"keyspace":"ks","shard":"-80","gtid":"MySQL56/feed:1-5","table_p_ks":[]}],"epoch":4,"hb":1700000005000,"schemas":{"ks.t1":"@F(-80)"}}]}""")

  test("latestOffset JSON is pinned byte for byte: cursors, splits, baselines, retired epochs (S8)") {
    // checkpoints written by earlier builds must resume and the benchmark
    // reads `feed_positions`, so the wire shape is pinned. Two shards
    // under an interval heartbeat (baselines), enough bytes on "-80" for
    // the derived split size to cut it on local[2] (its split cursors stay
    // out of the offset), and a retired reshard parent "-": first named
    // only by `shard.epoch.map`, then by a pre-reshard checkpoint
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcoffsetgolden"))
    writeFeed(feedDir, "-80", (1L to 6L).flatMap(i => insertTx("-80", i, i, s"a$i")))
    writeFeed(feedDir, "80-", (1L to 2L).flatMap(i => insertTx("80-", i, 100 + i, s"b$i", host = "h2")))
    val stream = new VitessCdcStream(new CaseInsensitiveStringMap(Map(
      "path" -> feedDir.toString, "heartbeat.interval.ms" -> "2000", "inherit.epoch" -> "true",
      "shard.epoch.map" -> """{"-":2}""", "generation" -> "2").asJava))
    val got = try {
      val limit = stream.getDefaultReadLimit
      val end1 = stream.latestOffset(stream.initialOffset(), limit)
      // a failover on "-80" after a restart from end1
      writeFeed(feedDir, "-80", (7L to 8L).flatMap(i => insertTx("-80", i, i, s"a$i", host = "fo")),
        append = true)
      val end2 = stream.latestOffset(stream.deserializeOffset(end1.json()), limit)
      // a checkpoint of generation 1 taken before the reshard: its parent
      // "-" has no feed any more, its children start fresh
      val parent = Vgtid(Seq(ShardGtid("ks", "-", "MySQL56/p:1-9"))).json
      val before = s"""{"vgtid":$parent,"transaction_epoch":{"-":2},""" +
        """"connector_generation":1,"feed_positions":{"-":4096}}"""
      val end3 = stream.latestOffset(stream.deserializeOffset(before), limit)
      Seq(end1, end2, end3).map(_.json())
    } finally stream.stop()
    // each shard's FIELD line, JSON-escaped inside the offset, reads as
    // `@F(shard)` below
    val escaped = Seq("-80", "80-").map { sh =>
      val line = VEventJson.write(FieldEvent(sh, "ks", "ks.t1", t1Fields, enumSetStringValues = false))
      new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(line).drop(1).dropRight(1) ->
        s"@F($sh)"
    }
    val shown = got.map(j => escaped.foldLeft(j) { case (a, (f, tag)) => a.replace(f, tag) })
    val golden = pinnedOffsets
    assert(shown.size == golden.size)
    shown.zip(golden).zipWithIndex.foreach { case ((g, want), i) =>
      assert(g == want, s"offset $i:\n got  $g\n want $want")
    }
  }

  test("an offset with the feed_splits older builds wrote parses to the same positions (S8)") {
    pinnedOffsets.zip(olderFeedSplits).foreach { case (pinned, splits) =>
      val older = pinned.dropRight(1) + "," + splits + "}"
      assert(VgtidOffset.fromJson(older) == VgtidOffset.fromJson(pinned))
      assert(VgtidOffset.fromJson(older).json() == pinned)
      // a generation change bumps the positions' epochs once, as before
      assert(VgtidOffset.fromJson(older, Some(3L)) == VgtidOffset.fromJson(pinned, Some(3L)))
    }
  }

  test("a restart replays an uncommitted split batch that an older build logged with feed_splits") {
    import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
    import com.fasterxml.jackson.databind.node.ObjectNode
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcolderckptfeed"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcolderckpt"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcolderckptout"))
    def append(from: Long, to: Long): Unit = {
      writeFeed(feedDir, "s0", (from to to).flatMap(i => insertTx("s0", i, i, s"h$i")), append = true)
      writeFeed(feedDir, "s1", (from to to).filter(_ % 6 == 0)
        .flatMap(i => insertTx("s1", i / 6, 100 + i, s"c$i")), append = true)
    }
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc").option("path", feedDir.toString).load()
        .writeStream.format("parquet").option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    append(1L, 12L)
    run() // batch 0
    append(13L, 36L)
    run() // batch 1: the hot shard s0 splits
    // batch 1 as an older build logged it: its split cursors, in that
    // build's `feed_splits` shape, last in the offset JSON
    val offsets = ckpt.resolve("offsets")
    def logged(batch: String): Seq[String] = Files.readAllLines(offsets.resolve(batch)).asScala.toSeq
    val stream = new VitessCdcStream(new CaseInsensitiveStringMap(Map("path" -> feedDir.toString).asJava))
    val cuts = try {
      val start = stream.deserializeOffset(logged("0").last)
      val end = stream.latestOffset(start, ReadLimit.allAvailable())
      assert(end.json() == logged("1").last)
      stream.planInputPartitions(start, end).map(_.asInstanceOf[VitessCdcPartition]).toSeq
        .groupBy(_.shard).map { case (sh, ps) => sh -> ps.map(_.seed).sortBy(_.pos).tail }
        .filter(_._2.nonEmpty)
    } finally stream.stop()
    assert(cuts.keySet == Set("s0"), s"expected only s0 to split: $cuts")
    val m = new ObjectMapper()
    val older = m.readTree(logged("1").last).asInstanceOf[ObjectNode]
    val sp = older.putObject("feed_splits")
    cuts.toSeq.sortBy(_._1).foreach { case (sh, cs) =>
      val arr = sp.putArray(sh)
      cs.foreach { c =>
        val n = arr.addObject()
        n.put("pos", c.pos)
        n.set[JsonNode]("gtid", m.readTree(Vgtid(Seq(c.step.sg)).json))
        n.put("epoch", c.step.epoch)
        if (c.step.hbMs != ShardTxStep.NoBaseline) n.put("hb", c.step.hbMs)
        val t = n.putObject("schemas")
        c.schemas.toSeq.sortBy(_._1).foreach { case (tbl, line) => t.put(tbl, line) }
      }
    }
    Files.writeString(offsets.resolve("1"), (logged("1").init :+ m.writeValueAsString(older)).mkString("\n"))
    // ... and crashed before the sink and the commit log saw it
    Seq(offsets.resolve(".1.crc"), ckpt.resolve("commits").resolve("1"),
      ckpt.resolve("commits").resolve(".1.crc"), out.resolve("_spark_metadata").resolve("1"),
      out.resolve("_spark_metadata").resolve(".1.crc")).foreach(Files.deleteIfExists)
    run() // replays batch 1 from the log
    assert(Files.exists(ckpt.resolve("commits").resolve("1")), "batch 1 must be replayed")
    // Spark compares the next offset's JSON with the logged one, which
    // differs by `feed_splits`: one empty batch follows the replay
    assert(!Files.exists(offsets.resolve("3")), "the replay must settle after one empty batch")
    val cols = "CAST(get_json_object(after, '$.id') AS LONG) AS id, after, epoch, vgtid, " +
      "restart_vgtid, rank, total_order"
    spark.read.parquet(out.toString).createOrReplaceTempView("cdc_older_ckpt_replayed")
    val replayed = spark.sql(s"SELECT $cols FROM cdc_older_ckpt_replayed WHERE op = 'c' ORDER BY id")
      .collect().toSeq
    val q = spark.readStream.format("vitess-cdc").option("path", feedDir.toString)
      .option("max.txs.per.trigger", "1").load()
      .writeStream.format("memory").queryName("cdc_older_ckpt_uncut")
      .option("checkpointLocation",
        graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcolderckptuncut")).toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val uncut = spark.sql(s"SELECT $cols FROM cdc_older_ckpt_uncut WHERE op = 'c' ORDER BY id")
      .collect().toSeq
    assert(uncut.size == 42)
    assert(replayed == uncut, "the replayed split batch must deliver the uncut run's rows")
  }

  test("trigger work is bounded by new bytes, not total feed size") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed18"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt18"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout18"))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    // 50 transactions of history (5 lines each = 250 lines)
    writeFeed(feedDir, "s0", (1L to 50L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    run()
    // append 2 transactions (10 lines); the restarted stream must NOT
    // replay the 250-line history — driver scan and reader both seek
    writeFeed(feedDir, "s0", (51L to 52L).flatMap(i => insertTx("s0", i, i, s"v$i")), append = true)
    val before = FeedSlice.linesRead.get()
    run()
    val delta = FeedSlice.linesRead.get() - before
    // one driver scan + one reader pass over the 10 new lines, plus the
    // final no-data scan (0 lines); anything near 250 means a full replay
    assert(delta <= 40L, s"expected O(new lines) work, read $delta lines")
    val ids = spark.read.parquet(out.toString)
      .selectExpr("CAST(get_json_object(after, '$.id') AS LONG)")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (1L to 52L)) // and still exactly-once
  }

  test("source metrics ride StreamingQueryProgress: shards, lag, admitted txs") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed25"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt25"))
    writeFeed(feedDir, "s0", (1L to 7L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    writeFeed(feedDir, "s1", (1L to 4L).flatMap(i => insertTx("s1", i, 100 + i, s"w$i")))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString).load()
      .writeStream.format("memory").queryName("cdc_metrics")
      .option("checkpointLocation", ckpt.toString).start()
    val metrics = try {
      q.processAllAvailable()
      q.lastProgress.sources.head.metrics
    } finally q.stop()
    assert(metrics.get("shards") == "2")
    assert(metrics.get("lagBytes") == "0") // fully consumed
    assert(metrics.get("admittedTransactions") == "11")
    // capped admission counts the same transactions over several triggers
    val cappedCkpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt25b"))
    val capped = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.txs.per.trigger", "2").load()
      .writeStream.format("memory").queryName("cdc_metrics_capped")
      .option("checkpointLocation", cappedCkpt.toString).start()
    val cappedMetrics = try {
      capped.processAllAvailable()
      capped.lastProgress.sources.head.metrics
    } finally capped.stop()
    assert(cappedMetrics.get("admittedTransactions") == "11")
  }

  test("24 shards fold in parallel in one trigger, exactly-once intact") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed26"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt26"))
    val nShards = 24
    (0 until nShards).foreach { i =>
      writeFeed(feedDir, f"s$i%02d", (1L to 3L).flatMap(k => insertTx(f"s$i%02d", k, i * 100L + k, s"v$k")))
    }
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .load()
      .writeStream.format("memory").queryName("cdc_pool")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.sql("SELECT CAST(get_json_object(after, '$.id') AS LONG) FROM cdc_pool")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (0 until nShards).flatMap(i => (1L to 3L).map(i * 100L + _)).sorted)
  }

  test("capped admission scans synchronously but stays bounded by the cap") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed24"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt24"))
    writeFeed(feedDir, "s0", (1L to 6L).flatMap(i => insertTx("s0", i, i, s"v$i")))
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("max.txs.per.trigger", "2")
      .load()
      .writeStream.format("memory").queryName("cdc_capped_scan")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val ids = spark.sql("SELECT CAST(get_json_object(after, '$.id') AS LONG) FROM cdc_capped_scan")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == (1L to 6L))
  }

  test("multi-table in-flight copy: restart at every prefix, no loss, no duplicates") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed20"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt20"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout20"))
    def lastPk(table: String, v: Option[Long]): TableLastPk =
      TableLastPk(table, Seq(PkField("id", "INT64", 63, None)),
        v.toSeq.map(x => PkRow(Seq(x.toString.length.toString),
          java.util.Base64.getEncoder.encodeToString(x.toString.getBytes))))
    // VGTID carries BOTH tables while t1 is in flight (t2 listed, not yet
    // started); t1's entry is removed once its copy completes — the
    // reference's multi-table table_p_ks shape
    def copyTx(table: String, id: Long, pks: Seq[TableLastPk]): Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", s"ks.$table", t1Fields, enumSetStringValues = true),
      RowEvent("s0", "ks", s"ks.$table", Seq(
        RowChange(None, Some(PackedRow.of(Seq(Some(id.toString), Some(s"c$id"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1", pks)))),
      CommitEvent("s0", "ks", id))
    val units: Seq[Seq[VEvent]] = Seq(
      copyTx("t1", 1, Seq(lastPk("t1", Some(1)), lastPk("t2", None))),
      copyTx("t1", 2, Seq(lastPk("t1", Some(2)), lastPk("t2", None))),
      copyTx("t2", 11, Seq(lastPk("t2", Some(11)))),
      copyTx("t2", 12, Seq(lastPk("t2", Some(12)))),
      Seq(CopyCompletedEvent("s0")),
      insertTx("s0", 2, 99, "streamed"))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    // restart at EVERY prefix: append one unit, run a fresh stream on the
    // same checkpoint, repeat — the offset's multi-table position must
    // never misorder admission/skip
    units.foreach { unit =>
      writeFeed(feedDir, "s0", unit, append = true)
      run()
    }
    val ids = spark.read.parquet(out.toString)
      .where("op = 'c'")
      .selectExpr("CAST(get_json_object(after, '$.id') AS LONG)")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(ids == Seq(1L, 2L, 11L, 12L, 99L)) // each row exactly once
  }

  test("schema checkpoint lets a seeked reader decode without FIELD replay") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed19"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt19"))
    val out = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcout19"))
    // like a real VStream feed: FIELD is sent only with the FIRST tx
    def tx(seq: Long, withField: Boolean): Seq[VEvent] =
      Seq(BeginEvent("s0", "ks")) ++
        (if (withField)
          Seq(FieldEvent("s0", "ks", "ks.t1", t1Fields, enumSetStringValues = false))
        else Nil) ++ Seq(
        RowEvent("s0", "ks", "ks.t1", Seq(
          RowChange(None, Some(PackedRow.of(Seq(Some(seq.toString), Some(s"v$seq"))))))),
        VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", s"MySQL56/feed:1-$seq")))),
        CommitEvent("s0", "ks", seq))
    def run(): Unit = {
      val q = spark.readStream.format("vitess-cdc")
        .option("path", feedDir.toString).load()
        .writeStream.format("parquet")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFeed(feedDir, "s0", tx(1, withField = true) ++ tx(2, withField = false))
    run()
    // the appended tx has no FIELD event; the restarted reader seeks past
    // the only FIELD line in the file and must decode via the offset's
    // schema checkpoint
    writeFeed(feedDir, "s0", tx(3, withField = false), append = true)
    run()
    val rows = spark.read.parquet(out.toString)
      .selectExpr("get_json_object(after, '$.id') AS id", "get_json_object(after, '$.v') AS v")
      .orderBy("id").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("1", "v1"), ("2", "v2"), ("3", "v3")))
  }

  test("type handling mode options reach the reader's decoder (D7)") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed21"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt21"))
    val fields = Seq(
      FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("u", "UINT64", "bigint(20) unsigned", 20, 0, 0L),
      FieldDef("b", "BLOB", "blob", 0, 0, 0L),
      FieldDef("ts", "TIMESTAMP", "timestamp", 19, 0, 0L))
    val tx: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", fields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(
        Seq(Some("1"), Some("-1"), Some("AB"), Some("2021-01-02 03:04:05"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1")))),
      CommitEvent("s0", "ks", 1L))
    writeFeed(feedDir, "s0", tx)
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("bigint.unsigned.handling.mode", "precise")
      .option("binary.handling.mode", "hex")
      .option("time.precision.mode", "isostring")
      .load()
      .writeStream.format("memory").queryName("cdc_modes")
      .option("checkpointLocation", ckpt.toString).start()
    try q.processAllAvailable() finally q.stop()
    val r = spark.sql(
      "SELECT get_json_object(after, '$.u'), get_json_object(after, '$.b'), " +
        "get_json_object(after, '$.ts') FROM cdc_modes WHERE op = 'c'").first()
    assert(r.getString(0) == "18446744073709551615") // -1 wire value +2^64
    assert(r.getString(1) == "4142") // hex of "AB"
    assert(r.getString(2) == "2021-01-02 03:04:05") // isostring passthrough
    intercept[IllegalArgumentException] {
      graft.core.ValueConversion.TypeModes.parse(None, None, Some("adaptive"))
    }
  }

  test("unknown datatypes are omitted unless include.unknown.datatypes; tablet.type validated") {
    val fields = Seq(
      FieldDef("id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("geo", "GEOMETRY", "geometry", 0, 0, 0L)) // resolves to Unknown
    val tx: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", fields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(
        Seq(Some("7"), Some("POINTBYTES"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1")))),
      CommitEvent("s0", "ks", 1L))

    def run(name: String, opts: Map[String, String]): String = {
      val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"cdcfeed_$name"))
      val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory(s"cdcckpt_$name"))
      writeFeed(feedDir, "s0", tx)
      val reader = spark.readStream.format("vitess-cdc").option("path", feedDir.toString)
      val q = opts.foldLeft(reader) { case (r, (k, v)) => r.option(k, v) }
        .load()
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString).start()
      try q.processAllAvailable() finally q.stop()
      spark.sql(s"SELECT after FROM $name WHERE op = 'c'").first().getString(0)
    }

    // reference default: the unknown-typed field is dropped from the record
    val dropped = run("cdc_unknown_default", Map.empty)
    assert(dropped.contains("\"id\""))
    assert(!dropped.contains("geo"))
    // …but an unknown-typed PRIMARY KEY column must survive the default
    // drop: keys are built from this payload, and omitting it would
    // collapse every row of the table to a single key
    val pkFields = Seq(
      FieldDef("gid", "GEOMETRY", "geometry", 0, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("v", "VARCHAR", "varchar(8)", 8, 0, ColumnFlags.NotNull))
    val pkTx: Seq[VEvent] = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t1", pkFields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t1", Seq(RowChange(None, Some(PackedRow.of(
        Seq(Some("GEOKEY"), Some("x"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-1")))),
      CommitEvent("s0", "ks", 1L))
    val pkFeed = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed_unkpk"))
    val pkCkpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt_unkpk"))
    writeFeed(pkFeed, "s0", pkTx)
    val pq = spark.readStream.format("vitess-cdc").option("path", pkFeed.toString)
      .load()
      .writeStream.format("memory").queryName("cdc_unknown_pk")
      .option("checkpointLocation", pkCkpt.toString).start()
    try pq.processAllAvailable() finally pq.stop()
    val pkRow = spark.sql("SELECT key, after FROM cdc_unknown_pk WHERE op = 'c'").first()
    assert(pkRow.getString(0).contains("gid")) // key carries the unknown-typed PK
    assert(pkRow.getString(1).contains("gid"))
    // opt-in: the field survives as an opaque binary representation
    val kept = run("cdc_unknown_kept", Map("include.unknown.datatypes" -> "true"))
    assert(kept.contains("geo"))
    // tablet.type: valid values accepted (any case), typos fail the start
    val ok = run("cdc_tablet_ok", Map("tablet.type" -> "replica"))
    assert(ok.contains("\"id\""))
    val err = intercept[Exception] {
      run("cdc_tablet_bad", Map("tablet.type" -> "primary"))
    }
    assert(err.getMessage.contains("tablet.type") ||
      Option(err.getCause).exists(_.getMessage.contains("tablet.type")))
  }

  test("table include filter prunes other tables inside the reader") {
    val feedDir = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcfeed6"))
    val ckpt = graft.TempDirs.reclaimOnExit(Files.createTempDirectory("cdcckpt6"))
    val t2 = Seq(
      BeginEvent("s0", "ks"),
      FieldEvent("s0", "ks", "ks.t2", t1Fields, enumSetStringValues = false),
      RowEvent("s0", "ks", "ks.t2", Seq(RowChange(None, Some(PackedRow.of(Seq(Some("9"), Some("x"))))))),
      VgtidEvent("s0", Vgtid(Seq(ShardGtid("ks", "s0", "MySQL56/feed:1-2")))),
      CommitEvent("s0", "ks", 2L))
    writeFeed(feedDir, "s0", insertTx("s0", 1, 1, "keep") ++ t2)
    val q = spark.readStream.format("vitess-cdc")
      .option("path", feedDir.toString)
      .option("tables.include", "ks\\.t1")
      .load()
      .writeStream.format("memory").queryName("cdc_filtered")
      .option("checkpointLocation", ckpt.toString)
      .start()
    try q.processAllAvailable() finally q.stop()
    val tables = spark.sql("SELECT DISTINCT table FROM cdc_filtered WHERE op = 'c'")
      .collect().map(_.getString(0)).toSeq
    assert(tables == Seq("t1"))
  }
}
