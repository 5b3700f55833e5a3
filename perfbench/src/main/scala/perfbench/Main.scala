package perfbench

import java.io.File
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --cpus <n> --results <dir>`, run from the repository root.
  *
  * Generates the workload's inputs from the seed, sets up three times
  * (session, query start, warm-up; the median is `setup_s`), measures
  * for the given seconds, checks the outputs, and prints one JSON line:
  * the end-to-end metrics untraced, the per-layer metrics traced. */
object Main {
  val SetupRounds = 3

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "1/s", "lat_p50_ms" -> "ms", "lat_p90_ms" -> "ms",
    "peak_mem_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "vtwire.decode_mb_per_s" -> "MB/s", "events.lines_per_s" -> "1/s", "assembler.tx_per_s" -> "1/s",
    "recordbuilder.records_per_s" -> "1/s", "slice_packed_row.rows_per_s" -> "1/s",
    "source.batches" -> "count", "source.rows_per_batch" -> "count", "source.latest_offset_ms" -> "ms",
    "source.plan_ms" -> "ms", "source.wal_commit_ms" -> "ms", "source.commit_offsets_ms" -> "ms",
    "sink.add_batch_ms" -> "ms", "source.lag_bytes_end" -> "bytes", "source.admitted_tx" -> "count",
    "sink.files" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio", "spark.busy_share" -> "share",
    "spark.gc_s" -> "s",
    "rebuild.records_per_s" -> "1/s", "cdcpipeline.s" -> "s", "materialize.s" -> "s",
    "materialize.keep_ratio" -> "ratio",
    "corpus.docs_per_s" -> "1/s", "scan.s" -> "s", "textops.filter_s" -> "s", "textops.keep_ratio" -> "ratio",
    "dedup.minhash_s" -> "s", "dedup.pairs" -> "count", "dedup.cluster_s" -> "s", "dedup.kept" -> "count",
    "tail.low_p50_ms" -> "ms", "tail.low_p99_ms" -> "ms", "tail.high_p99_ms" -> "ms",
    "tail.low_n" -> "count", "tail.high_n" -> "count",
    "gen.s" -> "s", "gen.late_ms_p99" -> "ms", "trace.spans" -> "count")

  /** Rates of the open loop in `cdc_tail`, transactions per second. */
  val TailLowRate = 500.0
  val TailHighRate = 4000.0
  /** `cdc_backlog` orders (transactions). */
  val BacklogOrders = 25000
  /** Orders of the feed whose hot shard the isolated layer passes read,
    * keys (about 4 writes each) of the batch rebuild pass, and base
    * documents of the corpus pass, of traced runs. */
  val CorpusBase = 1500
  val LayerOrders = 50000
  val RebuildLayerKeys = 10000

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val name = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val results = new File(opts.getOrElse("results", "perfbench/results"))
    val work = new File(s".bench_build/work/$name-${ProcessHandle.current().pid()}").getAbsoluteFile
    Dirs.delete(work)
    work.mkdirs()
    System.setProperty("spark.local.dir", new File(work, "spark-local").getPath)
    val wl: Workload = name match {
      case "cdc_backlog" => new Backlog(work, BacklogOrders)
      case "cdc_tail" => new Tail(work, TailLowRate, TailHighRate)
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }
    val code =
      try { run(wl, seed, seconds, trace, cpus, results); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally Dirs.delete(work)
    System.out.flush()
    sys.exit(code)
  }

  private def run(wl: Workload, seed: Long, seconds: Double, trace: Boolean, cpus: Int, results: File): Unit = {
    Trace.on = trace
    Trace.workload = wl.name
    val tg = System.nanoTime()
    wl.generate(seed)
    var genS = (System.nanoTime() - tg) / 1e9

    val setups = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (round <- 1 to SetupRounds) {
      val t0 = System.nanoTime()
      spark = graft.Tables.session("perfbench", cpus.toString)
      spark.sparkContext.setLogLevel("WARN")
      var staged = 0.0
      if (round == 1) {
        val ts = System.nanoTime()
        wl.stage(spark)
        staged = (System.nanoTime() - ts) / 1e9
        genS += staged
      }
      Trace.span("setup")(wl.setup(spark))
      setups += (System.nanoTime() - t0) / 1e9 - staged
      if (round < SetupRounds) {
        wl.teardown(spark)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
    }

    val stats = new SparkStats
    spark.sparkContext.addSparkListener(stats)
    val mem = new MemWatch
    val tm = System.nanoTime()
    Trace.span("measure")(wl.measure(spark, seconds))
    val wall = (System.nanoTime() - tm) / 1e9
    val peakMemMb = mem.stop()
    Thread.sleep(300) // let the listener bus deliver the last task events
    val sparkM = stats.snapshot(wall, cpus)
    spark.sparkContext.removeSparkListener(stats)
    val tv = System.nanoTime()
    wl.verify(spark)
    System.err.println(f"perfbench: ${wl.name} gen ${genS}%.2f s, setups ${setups.map(s => f"$s%.2f").mkString("/")} s, " +
      f"measure $wall%.2f s, verify ${(System.nanoTime() - tv) / 1e9}%.2f s")

    val e2e = wl.endToEnd ++ Map("setup_s" -> Stat.median(setups.toSeq), "peak_mem_mb" -> peakMemMb)
    var attempted = wl.attempted
    var failed = wl.failed
    val layers: Map[String, Double] =
      if (!trace) Map.empty
      else {
        Trace.span("prefixes")(wl.prefixes(spark))
        val layerFeed = Gen.backlog(new File(wl.work, "layers"), seed, nOrders = LayerOrders)
        val iso = Trace.span("layers")(
          Layers.run(spark, new File(layerFeed.dir, s"${layerFeed.hotShard}.jsonl"), layerFeed.hotShard))
        // the batch rebuild and the corpus pipeline, each run whole (warm-up,
        // then its shortest measured phase) with its output checked
        def pass(w: Workload, rate: String): Map[String, Double] = {
          Trace.span(s"${w.name}_layer") {
            w.generate(seed); w.stage(spark); w.setup(spark); w.measure(spark, 0); w.prefixes(spark)
            w.verify(spark)
          }
          attempted += w.attempted
          failed += w.failed
          w.layers + (rate -> w.endToEnd("records_per_s"))
        }
        val rebuild = pass(new Rebuild(new File(wl.work, "rebuild_layer"), RebuildLayerKeys), "rebuild.records_per_s")
        val corpus = pass(new Corpus(new File(wl.work, "corpus_layer"), CorpusBase), "corpus.docs_per_s")
        wl.layers ++ sparkM ++ iso ++ rebuild ++ corpus ++ Map(
          "gen.s" -> genS, "gen.late_ms_p99" -> wl.lateMsP99, "trace.spans" -> Trace.all.size.toDouble)
      }
    spark.stop()

    val metrics = (if (trace) PerLayer else EndToEnd).map { case (k, unit) =>
      k -> (layers.getOrElse(k, e2e.getOrElse(k, 0.0)), unit)
    }
    metrics.foreach { case (k, (v, _)) =>
      require(!v.isNaN && !v.isInfinite, s"metric $k is not a number")
    }
    results.mkdirs()
    val tag = s"${wl.name}-seed$seed-trace${if (trace) 1 else 0}"
    write(new File(results, s"$tag.json"),
      s"""{"workload":"${wl.name}","seed":$seed,"seconds":$seconds,"trace":$trace,"cpus":$cpus,""" +
        s""""attempted":$attempted,"failed":$failed,""" +
        s""""failed_share":${num(failed.toDouble / math.max(1L, attempted))},""" +
        s""""setup_runs_s":[${setups.map(num).mkString(",")}],""" +
        s""""end_to_end":${obj(e2e)},"per_layer":${obj(layers)}}""" + "\n")
    if (trace) Trace.writeJson(new File(results, s"$tag.spans.json"))
    println(
      s"""{"correct":${failed == 0 && attempted > 0},"attempted":${math.max(1L, attempted)},""" +
        s""""failed":$failed,"metrics":{""" +
        metrics.map { case (k, (v, unit)) => s""""$k":{"value":${num(v)},"unit":"$unit"}""" }.mkString(",") +
        "}}")
  }

  private def num(v: Double): String = java.math.BigDecimal.valueOf(v).toPlainString
  private def obj(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
  private def write(f: File, s: String): Unit = java.nio.file.Files.write(f.toPath, s.getBytes("UTF-8"))
}
