package graft.tools

/** Gate profiler: runs ONE registered gate under `Tables.session` and
  * prints every Spark JOB it schedules (wall duration and the first line
  * of its call site) and every STAGE (wall duration, task count,
  * input/shuffle bytes and records) — the view the disabled UI would
  * give. Jobs tell you WHICH action is slow; stages tell you WHICH
  * exchange/scan inside it. Runs at local[$SPARK_GRAFT_CPUS], default
  * the available processors.
  * Usage: Test/runMain graft.tools.GateStageProfile <gate> [sfDir] [runs]
  */
object GateStageProfile {
  def main(args: Array[String]): Unit = {
    val gate = args.headOption.getOrElse(sys.error("usage: GateStageProfile <gate> [sfDir] [runs]"))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val runs = if (args.length > 2) args(2).toInt else 1
    val cpus = sys.env.getOrElse(
      "SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = graft.Tables.session("gate-stage-profile", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    case class St(dur: Double, tasks: Int, input: Long, inRec: Long,
        sr: Long, sw: Long, swRec: Long, name: String)
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Double, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, St)]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(j.properties)
          .map(_.getProperty("callSite.short", "?")).getOrElse("?")
        jobStarts.put(j.jobId, (System.nanoTime(), site))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        Option(jobStarts.remove(j.jobId)).foreach { case (t0, site) =>
          jobs.add((j.jobId, (System.nanoTime() - t0) / 1e9, site))
        }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = s.stageInfo
        val m = i.taskMetrics
        val dur = (for { a <- i.submissionTime; b <- i.completionTime }
          yield (b - a) / 1e3).getOrElse(-1.0)
        done.add((i.stageId, St(dur, i.numTasks,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead,
          m.shuffleWriteMetrics.bytesWritten,
          m.shuffleWriteMetrics.recordsWritten,
          i.name.takeWhile(_ != '\n').take(60))))
      }
    })
    val fn = graft.SparkEntry.queries(gate)
    (1 to runs).foreach { r =>
      jobs.clear()
      done.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(1500) // drain the listener bus
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      val ds = done.asScala.toSeq.sortBy(_._1)
      println(f"== run $r: $gate wall=$wall%.2f s, jobs=${js.size}, " +
        f"job-sum=${js.map(_._2).sum}%.2f s, stages=${ds.size}, " +
        f"stage-sum=${ds.map(_._2.dur).sum}%.2f s")
      js.foreach { case (id, sec, site) => println(f"  job   $id%4d $sec%7.3f s  $site") }
      ds.foreach { case (id, s) =>
        println(f"  stage $id%4d ${s.dur}%7.3f s tasks=${s.tasks}%3d " +
          f"in=${s.input / 1024}%8dKB/${s.inRec}%8d sr=${s.sr / 1024}%7dKB " +
          f"sw=${s.sw / 1024}%7dKB/${s.swRec}%8d  ${s.name}")
      }
    }
    spark.stop()
  }
}
