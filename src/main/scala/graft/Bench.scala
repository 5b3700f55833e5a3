package graft

/** Benchmark main: times each SparkEntry query on SPARK_GRAFT_SF_DIR,
  * writes the full JSON line (per-query timings) to bench_last.json and
  * prints a summary JSON line last on stdout. Results are fully materialized via
  * the `noop` DSv2 sink (executes the whole plan, writes nothing) so a
  * timing can't silently skip column evaluation the way `count()` can.
  * A failed query is reported in `"errors"` — never as a fake timing.
  *
  * SPARK_GRAFT_BENCH_RUNS=N (default 1) times every query N times and
  * reports the per-query MEDIAN, plus a `"spread"` map (max-min per
  * query) so recorded history distinguishes a real regression from
  * machine contention — round 4 recorded phantom 4-10× "regressions"
  * that a re-run reproduced at 1× (VERDICT r4 adjudication).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "1").toInt.max(1)
    // shared builder: benched plans must run under the exact session
    // settings the verified plans do (Tables.session is the one
    // definition; a flag applied to one builder but not another would
    // make bench and correctness silently diverge)
    val spark = Tables.session("graft-bench", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Warm the JVM/codegen/parquet-reader paths before timing: without
    // this the alphabetically-first query absorbs all session startup
    // cost and the per-query numbers misreport steady-state throughput.
    // Each warm-up is independent (a failed one must not abort the
    // others — the first timed gates would re-absorb the cold-start
    // spread that warm exists to remove) and SAYS when it failed.
    def warm(label: String)(body: => Unit): Unit =
      try body catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up '$label' failed — timings " +
          "may carry its cold-start spread: " +
          Option(e.getMessage).getOrElse(e.getClass.getName).take(200))
      }
    warm("scan+agg") {
      spark.read.parquet(s"$sfDir/documents.parquet").limit(100)
        .write.format("noop").mode("overwrite").save()
      spark.range(100000).selectExpr("sum(id) AS s")
        .write.format("noop").mode("overwrite").save()
    }
    // One tiny parquet WRITE + read-back warms the committer, codec,
    // and output-writer init that the noop sink never touches — the
    // index-building gates (AnnIndex build/ingest state writes) showed
    // 4-5 s first-run spreads that were this cold path, not their plans
    warm("parquet-committer") {
      // exit-registered so a throw mid-warm can't strand the dir
      val warmPq = TempDirs.reclaimOnExit(java.nio.file.Files
        .createTempDirectory("graft_bench_warm_pq"))
      try {
        val warmPqDir = warmPq.resolve("t").toString
        spark.range(10).write.mode("overwrite").parquet(warmPqDir)
        spark.read.parquet(warmPqDir).write.format("noop").mode("overwrite").save()
      } finally TempDirs.release(warmPq)
    }
    // One throwaway streaming query warms MicroBatchExecution, the
    // checkpoint metadata logs, and the streaming codegen paths —
    // otherwise the alphabetically-first CHECKPOINTED gate absorbs all
    // of it and shows a 4-6 s first-run spread (r7 judge bench)
    warm("streaming") {
      val warmCkpt = TempDirs.reclaimOnExit(java.nio.file.Files
        .createTempDirectory("graft_bench_warm_ckpt"))
      try {
        val wq = spark.readStream.format("rate").option("rowsPerSecond", "10").load()
          .writeStream.format("noop").option("checkpointLocation", warmCkpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.Once()).start()
        // on timeout, kill it — a still-running warm query would add the
        // exact contention noise this block exists to remove
        if (!wq.awaitTermination(30000)) wq.stop()
      } finally TempDirs.release(warmCkpt)
    }
    val samples = scala.collection.mutable.LinkedHashMap.empty[String, Vector[Double]]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // run-major order (full sweep, then the next sweep) so repeat runs see
    // steady-state caches the way round-over-round driver runs do
    // SPARK_GRAFT_BENCH_ONLY=q1,q2 restricts the sweep for local
    // iteration on a hot spot; the driver never sets it (full sweep)
    val only: Option[Set[String]] = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    (1 to runs).foreach { _ =>
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) }
        .foreach { case (name, fn) =>
        if (!errors.contains(name)) {
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            samples(name) = samples.getOrElse(name, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              // a query that succeeded in an earlier run but fails now must
              // show up ONLY as a failure — keeping its earlier samples
              // would count it in both the total and n_failed
              samples.remove(name)
              errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          }
        }
      }
    }
    def median(xs: Vector[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
    }
    val timings = samples.map { case (k, xs) => k -> median(xs) }
    val spreads = samples.collect {
      case (k, xs) if xs.size > 1 => k -> (xs.max - xs.min)
    }
    // jstr/num: shared locale-safe JSON rendering — f"$v%.3f" uses the
    // JVM default locale and emits "1,234" (invalid JSON) on a
    // comma-decimal machine; Double's own toString (the raw $total
    // below) is always locale-independent
    import JsonOut.{str => jstr, num => jnum}
    val qs = timings.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val sp = spreads.map { case (k, v) => jstr(k) + ":" + jnum(v) }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }.mkString("{", ",", "}")
    val total = timings.values.sum
    // bench_full.json's CONTRACT is "multi-run sf0.1 full-sweep medians":
    // a BENCH_ONLY-filtered run, a single-run sweep (the driver's own
    // per-round invocation), or any other SF dir is local/driver
    // iteration and must never clobber the recorded medians — this guard
    // used to live in operator memory as a manual `git checkout` step.
    // errors.isEmpty: a failed gate means PARTIAL medians — writing them
    // would clobber the last good full-sweep record with a silently
    // lower total the next round reads as a phantom speedup
    val isRecordRun =
      only.isEmpty && runs >= 2 &&
        new java.io.File(sfDir).getName == "sf0.1" && errors.isEmpty
    // Ambient-drift diagnostic, recorded at record time: a pinned basket
    // of TPC-H gates whose code no round touches. If the basket's total
    // moved in lockstep with the overall total since the PREVIOUS record,
    // the movement is machine drift, not a code regression — the r8/r9
    // adjudication rule, previously re-derived by hand each round from
    // two checkouts of bench_full.json.
    val driftBasket = Vector(
      "q1_pricing_summary", "q3_top_orders", "q5_nation_revenue",
      "q6_forecast_revenue", "q7_nation_volume", "q8_market_share",
      "q9_nation_profit", "q10_returned_custs", "q13_order_dist",
      "q14_promo_share", "q15_top_supplier", "q17_small_qty",
      "q18_large_orders", "q19_disjunctive_rev", "q21_sole_supplier",
      "q22_global_balance")
    val basketJson: String =
      if (!isRecordRun || !driftBasket.forall(timings.contains)) ""
      else {
        val now = driftBasket.map(timings).sum
        // previous record's basket, parsed from the file this run is
        // about to overwrite. Re-sum THIS build's basket from the old
        // record's per-gate medians, matched INSIDE the "queries" object
        // only (the same gate names also appear in "spread", and an
        // unanchored first-occurrence scan would depend on map order in
        // the rendered line). The persisted aggregate "drift_basket_sec"
        // is only a fallback for a truncated queries map: it was summed
        // over the basket composition of the build that WROTE it, so if
        // driftBasket ever changes, preferring it would fold the
        // composition delta into drift_ratio and misread code change as
        // machine drift (diagnostic-only, but it is the adjudication
        // signal).
        val prev: Option[Double] =
          try {
            val old = java.nio.file.Files.readString(
              java.nio.file.Paths.get("bench_full.json"))
            val perGate = {
              // the queries object is flat (string keys → number values,
              // no nesting), so the first '}' after its opener closes it
              val qTag = "\"queries\":{"
              val qStart = old.indexOf(qTag)
              val qEnd = if (qStart < 0) -1 else old.indexOf("}", qStart)
              if (qStart < 0 || qEnd < 0) None
              else {
                val qObj = old.substring(qStart + qTag.length, qEnd)
                val re = ("\"(" + driftBasket.mkString("|") +
                  ")\":([0-9][0-9.eE+-]*)").r
                val got = re.findAllMatchIn(qObj)
                  .map(m => m.group(1) -> m.group(2).toDouble).toMap
                if (driftBasket.forall(got.contains))
                  Some(driftBasket.map(got).sum)
                else None
              }
            }
            perGate.orElse {
              "\"drift_basket_sec\":([0-9][0-9.eE+-]*)".r
                .findFirstMatchIn(old).map(_.group(1).toDouble)
            }
          } catch { case _: Throwable => None }
        val prevPart = prev.fold("") { p =>
          s""","drift_basket_prev_sec":${jnum(p)},"drift_ratio":${jnum(if (p > 0) now / p else 0.0)}"""
        }
        s""","drift_basket_sec":${jnum(now)}$prevPart"""
      }
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$sp,"runs":$runs,"errors":$es,"n_failed":${errors.size}$basketJson,"sf":${jstr(sfDir)}}"""
    // The full line (every per-query timing) goes to bench_last.json on
    // EVERY run (cwd-relative — the repo root under sbt), and to
    // bench_full.json on a record run. A failed write must not fail the
    // bench, but say so.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_last.json"), json + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] bench_last.json not written: $e") }
    if (isRecordRun) {
      try java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_full.json"), json + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] bench_full.json not written: $e") }
    } else {
      System.err.println("[bench] not a record run (need full sweep + runs>=2 " +
        "+ sf0.1 + zero failed gates) — bench_full.json left untouched")
    }
    // Last stdout line: a summary of at most 200 chars, since a stdout
    // tail that keeps the end of a long line truncates its front. `sf` is
    // the scale-factor directory's name; the full path is in the file.
    println(s"""{"metric":"total","value":${jnum(total)},"unit":"sec","runs":$runs,""" +
      s""""n_failed":${errors.size},"sf":${jstr(new java.io.File(sfDir).getName.take(40))},""" +
      s""""queries_file":"bench_last.json"}""")
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
