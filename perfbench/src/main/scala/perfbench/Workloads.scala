package perfbench

import graft.operators.{Dedup, Sink, TextOps}
import graft.streaming.{CdcPipeline, FeedLine}
import java.io.File
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** One workload: inputs from the generator, a set-up that can be
  * repeated, a measured phase of a given length, and a check of the
  * program's outputs against the generator's model. */
abstract class Workload(val name: String, val work: File) {
  /** Make the inputs from the seed, without Spark. */
  def generate(seed: Long): Unit
  /** Write generated tables that need Spark's writers (counted as generation). */
  def stage(spark: SparkSession): Unit = ()
  /** Query start and warm-up, up to the first timed measurement. */
  def setup(spark: SparkSession): Unit
  /** Undo `setup`, before the set-up is repeated. */
  def teardown(spark: SparkSession): Unit = ()
  /** Run the measured phase for about `seconds`. */
  def measure(spark: SparkSession, seconds: Double): Unit
  /** Traced runs: time the workload's prefix pipelines, after the measured phase. */
  def prefixes(spark: SparkSession): Unit = ()
  /** Check outputs kept from the measured phase (outside its timing). */
  def verify(spark: SparkSession): Unit = ()
  /** Operations attempted, and how many of them failed any output check. */
  def attempted: Long
  def failed: Long
  /** records_per_s, lat_p50_ms, lat_p90_ms (a layer pass: records_per_s only). */
  def endToEnd: Map[String, Double]
  /** This workload's own per-layer numbers (traced run). */
  def layers: Map[String, Double]
  /** How late the open-loop generator ran, p99 in ms (0 for closed loops). */
  def lateMsP99: Double = 0.0

  protected def dir(n: String): File = { val d = new File(work, n); d.mkdirs(); d }
  protected def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  /** Seconds that `f` takes, recorded as span `name`. */
  protected def timed(name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    Trace.span(name)(f)
    secs(t0)
  }
  protected def delete(f: File): Unit = Dirs.delete(f)
}

object Dirs {
  def delete(f: File): Unit =
    if (f.exists()) {
      val w = java.nio.file.Files.walk(f.toPath)
      try w.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.deleteIfExists(p))
      finally w.close()
    }
}

// ------------------------------------------------------------------ cdc_backlog

/** A staged backlog drained from an empty offset by the `vitess-cdc`
  * source into `Sink.streamByTopic` with the default trigger, until
  * `processAllAvailable` returns. Each drain is a fresh query. */
final class Backlog(work: File, nOrders: Int) extends Workload("cdc_backlog", work) {
  private var feed: Gen.BacklogFeed = _
  private var warm: Gen.BacklogFeed = _
  private val rates, p50s, p90s = ArrayBuffer.empty[Double]
  private val progress = ArrayBuffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
  private var files = 0.0
  private val outs = ArrayBuffer.empty[(File, Long)]
  private var drains = 0
  private var att, bad = 0L

  def generate(seed: Long): Unit = {
    feed = Gen.backlog(dir("feed"), seed, nOrders)
    warm = Gen.backlog(dir("warm"), seed + 7777, nOrders = nOrders / 2)
  }

  def setup(spark: SparkSession): Unit = delete(drain(spark, warm, "warm")._4)

  def measure(spark: SparkSession, seconds: Double): Unit = {
    var spent = 0.0
    while (spent < seconds || drains < 3) {
      drains += 1
      val t0 = System.nanoTime()
      val (recs, lat, watch, out) = Trace.span("drain")(drain(spark, feed, s"m$drains"))
      val s = secs(t0)
      spent += s
      rates += recs / s
      System.err.println(f"perfbench: drain $drains: $recs records in $s%.3f s")
      p50s += Stat.quantile(lat, 0.5)
      p90s += Stat.quantile(lat, 0.9)
      progress ++= watch.progressSeen
      files = CdcCheck.dataFiles(out).toDouble
      outs += ((out, watch.committedCount.toLong))
    }
  }

  override def verify(spark: SparkSession): Unit = {
    val missed = CdcCheck.backlog(spark, outs.map(_._1).toSeq, feed)
    outs.zip(missed).foreach { case ((out, committed), m) =>
      att += feed.records
      bad += m + (feed.transactions - committed)
      delete(out)
    }
  }

  /** One drain; returns records delivered, per-transaction latency (ms
    * from the drain's start to the batch that committed it), the watch
    * and the output directory. */
  private def drain(spark: SparkSession, f: Gen.BacklogFeed, tag: String)
      : (Long, Seq[Double], StreamWatch, File) = {
    val ck = new File(work, s"ck_$tag")
    val out = new File(work, s"out_$tag")
    val watch = new StreamWatch(f.shards, f.txEnds.values.map(_.length).max)
    watch.parentSpan = Trace.openSpan
    spark.streams.addListener(watch)
    val t0 = System.nanoTime()
    f.shards.foreach(s => f.txEnds(s).foreach(e => watch.add(s, e, t0)))
    val q = Sink.streamByTopic(
      spark.readStream.format("vitess-cdc").option("path", f.dir.getPath).load(),
      Sink.TopicConfig("bench"), out.getPath, ck.getPath)
    watch.follow(q.id)
    try q.processAllAvailable() finally q.stop()
    watch.awaitAll(30000)
    spark.streams.removeListener(watch)
    delete(ck)
    val recs = watch.progressSeen.map(_.numInputRows).sum
    (recs, watch.latenciesMs(Long.MinValue, Long.MaxValue), watch, out)
  }

  def attempted: Long = att
  def failed: Long = bad
  def endToEnd: Map[String, Double] = Map(
    "records_per_s" -> Stat.median(rates.toSeq),
    "lat_p50_ms" -> Stat.median(p50s.toSeq),
    "lat_p90_ms" -> Stat.median(p90s.toSeq))
  def layers: Map[String, Double] =
    StreamWatch.sourceMetrics(progress.toSeq, drains) + ("sink.files" -> files)
}

/** Output checks for the CDC workloads. */
object CdcCheck {
  def dataFiles(out: File): Int = {
    val w = java.nio.file.Files.walk(out.toPath)
    try w.filter(p => p.getFileName.toString.endsWith(".parquet")).count().toInt finally w.close()
  }

  /** Per drain output, the records that miss the generator's per-table,
    * per-op counts and content sums (every record of a mismatched
    * (table, op) counts as missed). One Spark job checks every drain. */
  def backlog(spark: SparkSession, outs: Seq[File], f: Gen.BacklogFeed): Seq[Long] = {
    val fields = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_comment",
      "l_orderkey", "l_linenumber", "l_extendedprice", "l_comment")
    val df = outs.zipWithIndex.map { case (out, i) =>
      spark.read.parquet(out.getPath)
        .select((Seq(lit(i).as("drain"), col("table"), col("op")) :+ json_tuple(col("after"), fields: _*)): _*)
        .toDF((Seq("drain", "table", "op") ++ fields): _*)
    }.reduce(_ union _)
    def long(c: String) = col(c).cast(LongType)
    def cents(c: String) = (col(c).cast(DecimalType(18, 2)) * 100).cast(LongType)
    val isOrder = col("table") === "orders"
    val sums = df.groupBy(col("drain"), col("table"), col("op")).agg(
      count(lit(1)),
      sum(when(isOrder, long("o_orderkey")).otherwise(long("l_orderkey") * 8 + long("l_linenumber"))),
      sum(when(isOrder, long("o_custkey")).otherwise(lit(0L))),
      sum(when(isOrder, cents("o_totalprice")).otherwise(cents("l_extendedprice"))),
      sum(length(when(isOrder, col("o_comment")).otherwise(col("l_comment"))))).collect()
    outs.indices.map { d =>
      val got = scala.collection.mutable.Map.empty[String, Long]
      sums.filter(_.getInt(0) == d).foreach { r =>
        val g = s"${r.getString(1)}.${r.getString(2)}"
        Seq("n", "key", "cust", "cents", "comment_len").zipWithIndex.foreach { case (k, i) =>
          if (!(k == "cust" && r.getString(1) == "lineitem")) got(s"$g.$k") = r.getLong(i + 3)
        }
      }
      val all = f.expect.sums.keySet ++ got.keySet
      all.map(k => k.split('.').take(2).mkString(".")).toSeq.map { g =>
        val ok = all.filter(_.startsWith(g + ".")).forall(k => f.expect.sums.get(k) == got.get(k))
        if (ok) 0L else math.max(f.expect.sums.getOrElse(s"$g.n", 0L), got.getOrElse(s"$g.n", 0L))
      }.sum
    }
  }

  /** Transactions not committed exactly once: every shard's output must
    * hold each transaction sequence 1..n once. */
  def exactlyOnce(spark: SparkSession, out: File, perShard: Map[String, Long]): Long = {
    val got = spark.read.parquet(out.getPath)
      .select(col("shard"), regexp_extract(col("tx_id"), "-(\\d+)$", 1).cast(LongType).as("seq"))
      .groupBy(col("shard"), col("seq")).count()
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val expected = perShard.toSeq.flatMap { case (s, n) => (1L to n).map(i => (s, i)) }.toSet
    val missing = expected.count(k => !got.contains(k)).toLong
    val dupOrExtra = got.map { case (k, c) => if (expected(k)) c - 1 else c }.sum
    missing + dupOrExtra
  }
}

// --------------------------------------------------------------------- cdc_tail

/** An open loop: one generator thread appends whole single-row orders
  * transactions round-robin to 8 shard files on a fixed schedule,
  * flushing once per transaction, while the query tails them. A `low`
  * phase at `lowRate` transactions/s, then a `high` phase at `highRate`. */
final class Tail(work: File, lowRate: Double, highRate: Double) extends Workload("cdc_tail", work) {
  private val shards = (0 until 8).map(_.toString)
  private val WarmTx = 20
  /** The first set-up round also commits `JitWaves` waves of `WaveTx`
    * transactions per shard, one wave per trigger, each about the size of
    * a `high`-phase batch: it warms the JVM (JIT, generated code) on the
    * per-trigger paths, which otherwise speed up partway through the
    * measured phase. Later rounds, whose median is `setup_s`, skip it. */
  private val JitWaves = 12
  private val WaveTx = 250
  private var seed = 0L
  private var round = 0
  private var feedDir: File = _
  private var out: File = _
  private var writers: Map[String, Gen.ShardWriter] = Map.empty
  private var source: Gen.TailSource = _
  private var watch: StreamWatch = _
  private var query: StreamingQuery = _
  private var e2e = Map.empty[String, Double]
  private var extra = Map.empty[String, Double]
  private var late = Seq(0.0)
  private var att, bad = 0L

  def generate(seed: Long): Unit = this.seed = seed

  def setup(spark: SparkSession): Unit = {
    round += 1
    feedDir = dir(s"feed_r$round")
    out = new File(work, s"out_r$round")
    source = new Gen.TailSource(seed)
    writers = shards.map(s => s -> new Gen.ShardWriter(feedDir, s, buffered = false)).toMap
    // capacity for the warm-up and a measured phase at most 60 s long
    watch = new StreamWatch(shards,
      WarmTx + JitWaves * WaveTx + ((lowRate + highRate) * 60 / shards.size).toInt + 1)
    watch.parentSpan = Trace.openSpan
    shards.foreach { s =>
      val w = writers(s)
      (1 to WarmTx).foreach { i =>
        val tx = source.nextTx(w)
        watch.add(s, w.writeTx(if (i == 1) tx.head +: source.schema(s) +: tx.tail else tx), -1L)
      }
    }
    spark.streams.addListener(watch)
    query = Sink.streamByTopic(
      spark.readStream.format("vitess-cdc").option("path", feedDir.getPath).load(),
      Sink.TopicConfig("bench"), out.getPath, new File(work, s"ck_r$round").getPath)
    watch.follow(query.id)
    require(watch.awaitAll(60000), "warm-up transactions were not committed")
    if (round == 1) (1 to JitWaves).foreach { _ =>
      shards.foreach { s =>
        val w = writers(s)
        (1 to WaveTx).foreach(_ => watch.add(s, w.writeTx(source.nextTx(w)), -1L))
      }
      require(watch.awaitAll(60000), "warm-up transactions were not committed")
    }
  }

  override def teardown(spark: SparkSession): Unit = {
    query.stop()
    spark.streams.removeListener(watch)
    writers.values.foreach(_.close())
  }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    watch.progress.clear() // per-trigger numbers cover the measured phase only
    val lowS = seconds * 0.2
    val highS = seconds - lowS
    val nLow = (lowRate * lowS).toLong
    val nHigh = (highRate * highS).toLong
    val lateNs = new Array[Long]((nLow + nHigh).toInt)
    val t0 = System.nanoTime() + 20000000L
    val tHigh = t0 + (lowS * 1e9).toLong
    val gen = new Thread(() => {
      var i = 0L
      while (i < nLow + nHigh) {
        val due =
          if (i < nLow) t0 + (i * 1e9 / lowRate).toLong
          else tHigh + ((i - nLow) * 1e9 / highRate).toLong
        // park, never spin: a spinning generator would take a core from Spark
        var now = System.nanoTime()
        while (now < due) {
          java.util.concurrent.locks.LockSupport.parkNanos(due - now)
          now = System.nanoTime()
        }
        lateNs(i.toInt) = now - due
        val s = shards((i % shards.size).toInt)
        val w = writers(s)
        watch.add(s, w.writeTx(source.nextTx(w)), due)
        i += 1
      }
    }, "perfbench-generator")
    Trace.span("tail") {
      gen.start()
      gen.join()
      require(watch.awaitAll(60000), "the stream did not commit every transaction within 60 s")
    }
    val end = watch.lastCommitNs
    teardown(spark)
    // the high phase is timed after its first eighth, when the queue has
    // settled at that rate
    val low = watch.latenciesMs(t0, tHigh)
    val high = watch.latenciesMs(tHigh + (highS / 8 * 1e9).toLong, Long.MaxValue)
    late = lateNs.toSeq.map(_ / 1e6)
    System.err.println(f"perfbench: tail low p50 ${Stat.quantile(low, 0.5)}%.0f ms, high p50 " +
      f"${Stat.quantile(high, 0.5)}%.0f ms, ${watch.progressSeen.size} batches")
    e2e = Map(
      "records_per_s" -> (nLow + nHigh) / ((end - t0) / 1e9),
      "lat_p50_ms" -> Stat.quantile(high, 0.5),
      "lat_p90_ms" -> Stat.quantile(high, 0.9))
    extra = Map(
      "tail.low_p50_ms" -> Stat.quantile(low, 0.5), "tail.low_p99_ms" -> Stat.quantile(low, 0.99),
      "tail.high_p99_ms" -> Stat.quantile(high, 0.99),
      "tail.low_n" -> low.size.toDouble, "tail.high_n" -> high.size.toDouble) ++
      StreamWatch.sourceMetrics(watch.progressSeen, 1) + ("sink.files" -> CdcCheck.dataFiles(out).toDouble)
  }

  override def verify(spark: SparkSession): Unit = {
    val perShard = writers.map { case (s, w) => s -> w.txSeq }
    att = perShard.values.sum
    bad = CdcCheck.exactlyOnce(spark, out, perShard)
  }

  def attempted: Long = att
  def failed: Long = bad
  def endToEnd: Map[String, Double] = e2e
  def layers: Map[String, Double] = extra
  override def lateMsP99: Double = Stat.quantile(late, 0.99)
}

// ---------------------------------------------------------------- batch rebuild

/** A batch rebuild of an update- and delete-heavy orders feed staged as
  * a FeedLine table: `CdcPipeline.changeRecords`, then `Sink.materialize`,
  * forced to completion by an aggregate over every output column. Not a
  * workload of its own: traced runs make it as a layer pass, two passes
  * after the warm-up. */
final class Rebuild(work: File, nKeys: Int) extends Workload("rebuild", work) {
  private var feed: Gen.RebuildFeed = _
  private var warm: Gen.RebuildFeed = _
  private val passesS = ArrayBuffer.empty[Double]
  private var prefixS = 0.0
  private var att, bad = 0L
  private val schema = StructType(Seq(
    StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType), StructField("o_totalprice", StringType),
    StructField("o_comment", StringType)))

  def generate(seed: Long): Unit = {
    feed = Gen.rebuild(new File(work, "feed_src"), seed, nKeys)
    warm = Gen.rebuild(new File(work, "warm_src"), seed + 7777, 1000)
  }

  /** The generated rows become a parquet FeedLine table. */
  override def stage(spark: SparkSession): Unit = {
    write(spark, feed, "feed"); write(spark, warm, "warm")
  }
  private def write(spark: SparkSession, f: Gen.RebuildFeed, n: String): Unit = {
    val parts = split(col("value"), "\t", 3)
    spark.read.text(f.dir.getPath)
      .select(parts(0).as("shard"), parts(1).cast(LongType).as("seq"), parts(2).as("line"))
      .write.mode("overwrite").parquet(new File(work, n).getPath)
  }

  private def feedDs(spark: SparkSession, n: String) = {
    import spark.implicits._
    spark.read.parquet(new File(work, n).getPath).as[FeedLine]
  }

  /** (count, sum key, sum cust, sum cents, sum comment length, sum status code) */
  private def pass(spark: SparkSession, n: String): Seq[Long] = {
    val m = Sink.materialize(CdcPipeline.changeRecords(spark, feedDs(spark, n)).toDF(), "orders", schema)
    val r = m.agg(count(lit(1)), sum(col("o_orderkey")), sum(col("o_custkey")),
      sum((col("o_totalprice").cast(DecimalType(18, 2)) * 100).cast(LongType)),
      sum(length(col("o_comment"))), sum(ascii(col("o_orderstatus")))).collect()(0)
    (0 until 6).map(i => if (r.isNullAt(i)) 0L else r.getAs[Number](i).longValue)
  }

  private def expected(f: Gen.RebuildFeed): Seq[Long] = {
    val os = f.live.values.toSeq
    Seq(os.size.toLong, os.map(_.key).sum, os.map(_.cust).sum, os.map(_.priceCents).sum,
      os.map(_.comment.length.toLong).sum, os.map(_.status.charAt(0).toLong).sum)
  }

  def setup(spark: SparkSession): Unit = { pass(spark, "warm"); () }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    val want = expected(feed)
    var spent = 0.0
    while (spent < seconds || passesS.size < 2) {
      val t0 = System.nanoTime()
      val got = Trace.span("rebuild")(pass(spark, "feed"))
      val s = secs(t0)
      spent += s
      passesS += s
      att += feed.live.size
      if (got != want) bad += feed.live.size
    }
  }

  /** The changeRecords prefix alone, forced to noop. */
  override def prefixes(spark: SparkSession): Unit =
    prefixS = timed("cdcpipeline") {
      CdcPipeline.changeRecords(spark, feedDs(spark, "feed")).write.format("noop").mode("overwrite").save()
    }

  def attempted: Long = att
  def failed: Long = bad
  def endToEnd: Map[String, Double] = Map("records_per_s" -> feed.records / Stat.median(passesS.toSeq))
  /** `materialize.s` is self time: the median pass minus the changeRecords prefix. */
  def layers: Map[String, Double] = Map(
    "cdcpipeline.s" -> prefixS,
    "materialize.s" -> math.max(0.0, Stat.median(passesS.toSeq) - prefixS),
    "materialize.keep_ratio" -> feed.live.size.toDouble / feed.records)
}

// ----------------------------------------------------------------- corpus dedup

/** The documents table scaled up with planted near-duplicates, written as
  * one parquet file: `TextOps.qualityFilter`, then
  * `Dedup.minhashNearDupPairs`, then `Dedup.clusterDedupBy`. Not a
  * workload of its own: traced runs make it as a layer pass, two passes
  * after the warm-up. */
final class Corpus(work: File, nBase: Int) extends Workload("corpus", work) {
  private var corpus: Gen.Corpus = _
  private var warm: Gen.Corpus = _
  private val passesS = ArrayBuffer.empty[Double]
  private val runs = ArrayBuffer.empty[Seq[Long]]
  private def kept: Seq[Long] = runs.headOption.getOrElse(Nil)
  private var counts = Map.empty[String, Double]
  private var scanS, filterS, minhashS = 0.0
  private var att, bad = 0L

  def generate(seed: Long): Unit = {
    corpus = Gen.corpus(seed, nBase)
    warm = Gen.corpus(seed + 7777, 100)
    Gen.writeTsv(corpus, new File(work, "docs_src/docs.tsv"))
    Gen.writeTsv(warm, new File(work, "warm_src/docs.tsv"))
  }

  /** The generated documents become one parquet file. */
  override def stage(spark: SparkSession): Unit = {
    write(spark, "docs"); write(spark, "warm")
  }
  private def write(spark: SparkSession, n: String): Unit = {
    val parts = split(col("value"), "\t", 4)
    spark.read.text(new File(work, s"${n}_src").getPath)
      .select(parts(0).cast(LongType).as("doc_id"), parts(1).as("text"), parts(2).as("lang"),
        parts(3).as("source"), length(parts(1)).cast(LongType).as("n_chars"))
      .coalesce(1).write.mode("overwrite").parquet(new File(work, n).getPath)
  }

  /** The pipeline's prefixes: scan, quality filter, near-duplicate pairs, kept set. */
  private def stages(spark: SparkSession, n: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val docs = spark.read.parquet(new File(work, n).getPath)
    val good = TextOps.qualityFilter(docs, "text", minTokens = 20, maxRepetition = 0.3)
    val pairs = Dedup.minhashNearDupPairs(good, "text", "doc_id")
    (docs, good, pairs, Dedup.clusterDedupBy(good, pairs, "doc_id", "n_chars"))
  }

  private def pass(spark: SparkSession, n: String): Seq[Long] =
    stages(spark, n)._4.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq

  def setup(spark: SparkSession): Unit = { pass(spark, "warm"); () }

  def measure(spark: SparkSession, seconds: Double): Unit = {
    var spent = 0.0
    while (spent < seconds || passesS.size < 2) {
      val t0 = System.nanoTime()
      val got = Trace.span("dedup")(pass(spark, "docs"))
      val s = secs(t0)
      spent += s
      passesS += s
      System.err.println(f"perfbench: pass ${passesS.size}: $s%.3f s")
      att += corpus.docs.size
      runs += got
    }
  }

  /** Each prefix of the pass alone, forced. */
  override def prefixes(spark: SparkSession): Unit = {
    val (docs, good, pairs, _) = stages(spark, "docs")
    scanS = timed("scan")(docs.write.format("noop").mode("overwrite").save())
    var n = 0L
    filterS = timed("textops.filter") { n = good.count() }
    counts += "textops.kept" -> n.toDouble
    minhashS = timed("dedup.minhash") { n = pairs.count() }
    counts += "dedup.pairs" -> n.toDouble
  }

  /** Documents wrongly kept or dropped, per pass: every pass keeps the
    * first pass's set, without repeats; each cluster of the program's own
    * near-duplicate pairs keeps exactly one member; each planted
    * exact-duplicate group keeps exactly one member; planted low-quality
    * documents are dropped; every other document outside a pair is kept. */
  override def verify(spark: SparkSession): Unit = {
    val pairs = stages(spark, "docs")._3.select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def root(x: Long): Long = { val p = parent.getOrElse(x, x); if (p == x) x else root(p) }
    pairs.foreach { case (a, b) => val (ra, rb) = (root(a), root(b)); if (ra != rb) parent(ra) = rb }
    val clusters = pairs.flatMap(p => Seq(p._1, p._2)).distinct.groupBy(root).values.toSeq
    val inPair = clusters.flatten.toSet
    runs.foreach { got =>
      val k = got.toSet
      val repeats = got.size - k.size
      val drift = (k -- kept).size + (kept.toSet -- k).size
      val clustered = clusters.map(c => math.abs(c.count(k) - 1)).sum
      val dups = corpus.exactGroups.map(g => math.abs(g.count(k) - 1)).sum
      val low = corpus.lowQuality.count(k)
      val lost = corpus.plain.count(d => !inPair(d) && !k(d))
      bad += repeats + drift + clustered + dups + low + lost
    }
  }

  def attempted: Long = att
  def failed: Long = bad
  def endToEnd: Map[String, Double] = Map("records_per_s" -> corpus.docs.size / Stat.median(passesS.toSeq))
  /** Each stage's time is its prefix pipeline's time minus the prefix
    * before it; the last prefix is the median pass. */
  def layers: Map[String, Double] = Map(
    "scan.s" -> scanS,
    "textops.filter_s" -> math.max(0.0, filterS - scanS),
    "textops.keep_ratio" -> counts.getOrElse("textops.kept", 0.0) / corpus.docs.size,
    "dedup.minhash_s" -> math.max(0.0, minhashS - filterS),
    "dedup.pairs" -> counts.getOrElse("dedup.pairs", 0.0),
    "dedup.cluster_s" -> math.max(0.0, Stat.median(passesS.toSeq) - minhashS),
    "dedup.kept" -> kept.size.toDouble)
}
