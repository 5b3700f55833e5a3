package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.jdk.CollectionConverters._

/** Spark execution counters over a measured window, from a SparkListener. */
final class SparkStats extends SparkListener {
  private val jobs, stages, tasks = new AtomicLong
  private val shuffleWrite, shuffleRead, spill, gcMs, runMs = new AtomicLong
  // per stage attempt: (wall ms, task durations ms)
  private val stageWall = new java.util.concurrent.ConcurrentHashMap[(Int, Int), java.lang.Long]()
  private val stageTasks = new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[java.lang.Long]]()

  def reset(): Unit = {
    Seq(jobs, stages, tasks, shuffleWrite, shuffleRead, spill, gcMs, runMs).foreach(_.set(0))
    stageWall.clear(); stageTasks.clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stageWall.put((i.stageId, i.attemptNumber()), c - s)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId), _ => new ConcurrentLinkedQueue())
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      runMs.addAndGet(m.executorRunTime)
    }
  }

  /** Metrics over the window since `reset`, `wallS` long, on `cores` cores. */
  def snapshot(wallS: Double, cores: Int): Map[String, Double] = {
    val longest = stageWall.asScala.maxByOption(_._2.longValue).map(_._1)
    val skew = longest.flatMap(k => Option(stageTasks.get(k))).map { q =>
      val ds = q.asScala.map(_.toDouble).toSeq
      if (ds.isEmpty) 1.0 else ds.max / math.max(1.0, Stat.median(ds))
    }.getOrElse(1.0)
    Map(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
      "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
      "spark.spill_bytes" -> spill.get.toDouble,
      "spark.task_skew" -> skew,
      "spark.busy_share" -> runMs.get / 1000.0 / math.max(1e-9, wallS * cores),
      "spark.gc_s" -> gcMs.get / 1000.0)
  }
}

/** Memory the program uses over a measured window, in MB, from the time
  * it is made until `stop`: the peak of the heap in use right after a
  * collection (what the collections keep, not the garbage the young
  * generation holds between them), plus the memory in use outside the
  * heap (metaspace, code cache, direct and mapped buffers) at the end.
  * `stop` ends the window with a full collection, so there is always a
  * sample, and it counts as one. */
final class MemWatch {
  private val peak = new AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val listener: NotificationListener = (n, _) =>
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
        .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      peak.accumulateAndGet(used, (a, b) => math.max(a, b))
    }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def stop(): Double = {
    val mx = ManagementFactory.getMemoryMXBean
    System.gc()
    val live = mx.getHeapMemoryUsage.getUsed
    emitters.foreach(_.removeNotificationListener(listener))
    val offHeap = mx.getNonHeapMemoryUsage.getUsed +
      ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala.map(_.getMemoryUsed).sum
    (math.max(peak.get, live) + offHeap) / (1024.0 * 1024)
  }
}

/** Follows one feed's transactions through a streaming query: each
  * transaction is known by its shard and the byte position right after
  * its COMMIT line. When a micro-batch's progress event arrives, every
  * transaction at or before the batch's end position on its shard is
  * committed at that moment. Also keeps the per-batch progress numbers. */
final class StreamWatch(shards: Seq[String], capacity: Int) extends StreamingQueryListener {
  private val idx = shards.zipWithIndex.toMap
  private val ends = Array.fill(shards.size)(new Array[Long](capacity))
  private val due = Array.fill(shards.size)(new Array[Long](capacity)) // ns, or -1 = untimed
  private val doneAt = Array.fill(shards.size)(new Array[Long](capacity))
  private val published = Array.fill(shards.size)(new AtomicInteger)
  private val committed = Array.fill(shards.size)(0)
  private val mapper = new ObjectMapper()
  private var queryId: java.util.UUID = _
  private val early = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  /** Span that micro-batch spans are recorded under (the caller's open span). */
  @volatile var parentSpan: Int = -1
  val progress = new ConcurrentLinkedQueue[org.apache.spark.sql.streaming.StreamingQueryProgress]()

  /** Register a transaction written to `shard` ending at byte `end`, due at `dueNs`. */
  def add(shard: String, end: Long, dueNs: Long): Unit = {
    val s = idx(shard)
    val n = published(s).get
    ends(s)(n) = end
    due(s)(n) = dueNs
    published(s).set(n + 1)
  }

  def committedCount: Int = synchronized(committed.sum)
  def publishedCount: Int = published.map(_.get).sum

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  /** Follow the query `id`; progress that arrived before this call is replayed. */
  def follow(id: java.util.UUID): Unit = {
    synchronized { queryId = id }
    var e = early.poll()
    while (e != null) { onQueryProgress(e); e = early.poll() }
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val now = System.nanoTime()
    val p = e.progress
    val followed = synchronized(queryId)
    if (followed == null) { early.add(e); return }
    if (p.id != followed) return
    val src = p.sources.headOption.orNull
    if (src == null || src.endOffset == null) return
    val start = now - p.batchDuration * 1000000L
    if (p.numInputRows > 0) {
      progress.add(p)
      Trace.record("micro_batch", parentSpan, start, now)
    }
    val pos = Option(mapper.readTree(src.endOffset).get("feed_positions"))
    pos.foreach { node =>
      synchronized {
        node.fields().asScala.foreach { f =>
          idx.get(f.getKey).foreach { s =>
            val at = f.getValue.asLong()
            val n = published(s).get
            var c = committed(s)
            while (c < n && ends(s)(c) <= at) { doneAt(s)(c) = now; c += 1 }
            committed(s) = c
          }
        }
      }
    }
  }

  /** Latencies in ms of the committed, timed transactions whose due time
    * falls in [fromNs, toNs). */
  def latenciesMs(fromNs: Long, toNs: Long): Seq[Double] = synchronized {
    shards.indices.flatMap { s =>
      (0 until committed(s)).iterator
        .filter(i => due(s)(i) >= 0 && due(s)(i) >= fromNs && due(s)(i) < toNs)
        .map(i => (doneAt(s)(i) - due(s)(i)) / 1e6)
    }
  }

  /** Commit time of the last committed transaction. */
  def lastCommitNs: Long = synchronized {
    shards.indices.filter(committed(_) > 0).map(s => doneAt(s)(committed(s) - 1)).maxOption.getOrElse(0L)
  }

  /** Wait until every published transaction is committed, or `timeoutMs` passes. */
  def awaitAll(timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (committedCount < publishedCount && System.currentTimeMillis() < deadline) Thread.sleep(5)
    committedCount == publishedCount
  }

  def progressSeen: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = progress.asScala.toSeq
}

object StreamWatch {
  /** Source and sink numbers over the batches of `runs` queries: batches
    * per query, per-batch means of the trigger phases, and the source's
    * own metrics at the last batch. */
  def sourceMetrics(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress], runs: Int): Map[String, Double] = {
    def mean(k: String): Double =
      if (ps.isEmpty) 0.0
      else ps.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)).sum / ps.size
    val last = ps.lastOption.flatMap(p => p.sources.headOption).map(_.metrics.asScala.toMap).getOrElse(Map.empty)
    Map(
      "source.batches" -> ps.size.toDouble / math.max(1, runs),
      "source.rows_per_batch" -> (if (ps.isEmpty) 0.0 else ps.map(_.numInputRows.toDouble).sum / ps.size),
      "source.latest_offset_ms" -> mean("latestOffset"),
      "source.plan_ms" -> mean("queryPlanning"),
      "source.wal_commit_ms" -> mean("walCommit"),
      "source.commit_offsets_ms" -> mean("commitOffsets"),
      "sink.add_batch_ms" -> mean("addBatch"),
      "source.lag_bytes_end" -> last.get("lagBytes").map(_.toDouble).getOrElse(0.0),
      "source.admitted_tx" -> last.get("admittedTransactions").map(_.toDouble).getOrElse(0.0))
  }
}
