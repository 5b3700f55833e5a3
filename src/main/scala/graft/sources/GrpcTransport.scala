package graft.sources

import graft.core._
import graft.streaming._
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.{CountDownLatch, Executor, TimeUnit}
import org.sparkproject.connect.grpc.{CallCredentials, ManagedChannel, Metadata, MethodDescriptor}
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

/** gRPC plumbing shared by the client transport and the test server:
  * the VStream method descriptor over raw-bytes marshalling (the
  * hand-rolled [[VtWire]] codec replaces protoc-generated messages). */
object VtGrpc {
  object BytesMarshaller extends MethodDescriptor.Marshaller[Array[Byte]] {
    override def stream(value: Array[Byte]): java.io.InputStream =
      new java.io.ByteArrayInputStream(value)
    override def parse(stream: java.io.InputStream): Array[Byte] = stream.readAllBytes()
  }

  /** `vtgateservice.Vitess/VStream` — the public vtgateservice.proto
    * service the reference's VitessGrpc stub calls. */
  val VStreamMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    MethodDescriptor.newBuilder(BytesMarshaller, BytesMarshaller)
      .setFullMethodName("vtgateservice.Vitess/VStream")
      .setType(MethodDescriptor.MethodType.SERVER_STREAMING)
      .build()

  /** `vtgateservice.Vitess/Execute` — the unary SQL RPC the reference's
    * metadata queries ride (VitessReplicationConnection.java:71-95). */
  val ExecuteMethod: MethodDescriptor[Array[Byte], Array[Byte]] =
    MethodDescriptor.newBuilder(BytesMarshaller, BytesMarshaller)
      .setFullMethodName("vtgateservice.Vitess/Execute")
      .setType(MethodDescriptor.MethodType.UNARY)
      .build()

  /** The reference's StaticAuthCredentials (io.vitess.client.grpc):
    * username/password ride every call as ASCII metadata. */
  final class StaticAuth(username: String, password: String) extends CallCredentials {
    override def applyRequestMetadata(
        requestInfo: CallCredentials.RequestInfo,
        appExecutor: Executor,
        applier: CallCredentials.MetadataApplier): Unit = {
      val md = new Metadata()
      md.put(Metadata.Key.of("username", Metadata.ASCII_STRING_MARSHALLER), username)
      md.put(Metadata.Key.of("password", Metadata.ASCII_STRING_MARSHALLER), password)
      applier.apply(md)
    }
  }
}

/** Everything needed to construct the channel + VStream request — the
  * config keys round 4 only validated, now consumed for real (reference
  * VitessReplicationConnection.java:302-338 request, :374-385 channel). */
final case class GrpcConfig(
    target: String, // "host:port", or "inprocess:<name>" for tests
    keyspace: String,
    /** explicit shard topology; empty → discovered from vtgate via
      * `SHOW VITESS_SHARDS` (or `SHOW VITESS_TABLETS` with
      * [[excludeEmptyShards]]) over the Execute RPC, like the reference
      * (VitessMetadata.getShards, java:64-75) */
    shards: Seq[String] = Nil,
    /** F5: restrict discovery to shards with a serving tablet
      * (reference exclude.empty.shards) */
    excludeEmptyShards: Boolean = false,
    /** ingest parallelism: the feeder runs min(maxStreams, #shards)
      * concurrent VStreams over round-robin shard groups — the
      * reference's task planning (VitessConnector.java:87-156: tasks.max
      * tasks, shard i → task i mod numTasks, each task its own VStream).
      * 1 = the single-stream path. */
    maxStreams: Int = 1,
    tabletType: String = "MASTER",
    stopOnReshard: Boolean = false,
    streamKeyspaceHeartbeats: Boolean = false,
    heartbeatSeconds: Int = 0,
    /** VStreamFlags.cells (vtgate.proto field 4): restrict the serving
      * tablets the server streams from to these cells. */
    cells: Seq[String] = Nil,
    /** VStreamFlags.cell_preference (field 5): `preferred` (fall back to
      * other cells) vs `onlyspecified`. Empty → server default. */
    cellPreference: String = "",
    /** VStreamFlags.tablet_order (field 6): comma-separated tablet-type
      * preference order within a cell. Empty → server default. */
    tabletOrder: String = "",
    /** VStreamFlags.include_reshard_journal_events (field 8): surface
      * reshard journal events in the stream. */
    includeReshardJournalEvents: Boolean = false,
    /** include-table filter rules; a leading '/' makes the match a
      * regex, vitess planbuilder semantics — the reference expands
      * regexes to concrete tables via SHOW TABLES first
      * (VitessReplicationConnection.java:316-327); without a metadata
      * connection the regex form expresses the same filter. */
    includeTables: Seq[String] = Nil,
    tablesToCopy: Seq[String] = Nil,
    excludeKeyspaceFromTableName: Boolean = false,
    /** Where each shard's VStream starts when nothing is staged for it:
      * its entry here, else the keyspace-wide entry (shard "", as in a
      * Vitess VGTID: "" → copy, "current" → skip history), else "". */
    initialVgtid: Vgtid = Vgtid(Nil),
    /** Feeder placement — the reference's scale-out axis is connector
      * tasks spread across Kafka Connect worker PROCESSES on different
      * hosts (VitessConnector.java:87-156 over Connect's distributed
      * runtime); a single-JVM thread pool ceilings ingest at one host's
      * NIC. `driver` (default) runs the worker pool in the engine JVM;
      * `executors` launches each shard-group worker as a long-running
      * task of a background Spark job, so ingest bandwidth scales with
      * executor hosts (staging dir must be shared storage). A third
      * deployment shape needs no mode at all: run [[GrpcFeederMain]] as
      * explicit per-host processes over disjoint shard groups against
      * the same staging dir, and read it with `transport=file`. */
    feederMode: String = "driver",
    /** Bound on the feeder-JVM memory one in-flight transaction may
      * occupy: past this many buffered bytes the open transaction
      * spills to a `<shard>.spill` temp file next to the staging file
      * and is streamed into the feed on COMMIT — a pathological
      * multi-GB transaction costs disk, never feeder heap. */
    maxBufferedTxBytes: Long = 64L * 1024 * 1024,
    keepaliveMs: Option[Long] = None,
    maxInboundMessageSize: Option[Int] = None,
    loadBalancingPolicy: Option[String] = None,
    headers: Map[String, String] = Map.empty,
    username: Option[String] = None,
    password: Option[String] = None) extends Serializable

/** Shard-topology + include-rule resolution shared by every feeder
  * placement (driver pool, executor-resident workers, external per-host
  * processes): an explicit shard list is authoritative; otherwise
  * discovery runs the reference's metadata queries over the Execute RPC
  * (VitessMetadata.getShards). A regex include rule (leading '/') is
  * expanded to concrete tables via SHOW TABLES before it reaches the
  * VStream filter, like the reference
  * (VitessReplicationConnection.java:316-327) — so the server only ever
  * sees concrete `select * from t` rules. One SQL channel serves both
  * lookups, then closes. */
/** Option-string parsers shared by every config entry point (the
  * engine's source options in VitessCdcSource and the external feeder's
  * properties file) — one implementation so the two surfaces cannot
  * drift for the same option names. */
private[sources] object GrpcOptions {

  def csv(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Reference format: comma-separated `name:value` pairs. A pair
    * without ':' is a config error and says so (not a MatchError). */
  def headers(s: String): Map[String, String] =
    csv(s).map { kv =>
      kv.split(":", 2) match {
        case Array(k, v) => k.trim -> v.trim
        case _ => throw new IllegalArgumentException(
          s"grpc.headers entry '$kv' must be name:value")
      }
    }.toMap
}

private[sources] object GrpcTopology {

  def resolve(cfg: GrpcConfig): (Seq[String], Seq[String]) = {
    val needShards = cfg.shards.isEmpty
    val needTables = cfg.includeTables.exists(_.startsWith("/"))
    val resolved =
      if (!needShards && !needTables) (cfg.shards.sorted, cfg.includeTables)
      else {
        val sql = new VtgateSql(cfg)
        try {
          val shards =
            if (!needShards) cfg.shards.sorted
            else if (cfg.excludeEmptyShards) GrpcMetadata.nonEmptyShards(sql, cfg.keyspace)
            else GrpcMetadata.shards(sql, cfg.keyspace).sorted
          val tables =
            if (!needTables) cfg.includeTables
            else {
              // target SHOW TABLES with the JUST-computed shard set (not
              // cfg.shards, which is empty when discovery ran): one
              // VITESS_TABLETS round-trip, and the expansion shard can
              // never diverge from the subscribed topology
              val all = GrpcMetadata.tables(sql, cfg.keyspace, cfg.excludeEmptyShards, shards)
              // An include list that expands to ZERO tables produces zero
              // rules, and zero rules means NO VStream filter — the server
              // then streams every table (reference parity:
              // VitessReplicationConnection.java:336 only sets the filter
              // when getRulesCount() > 0). Correctness is preserved because
              // the engine-side include/exclude filters (F1/F2) still drop
              // non-included tables from the decoded records; the cost is
              // staging bandwidth, the same trade the reference makes.
              cfg.includeTables.flatMap { t =>
                if (t.startsWith("/")) {
                  // vitess planbuilder regex-rule semantics: unanchored match
                  val re = t.stripPrefix("/").r
                  all.filter(tb => re.findFirstIn(tb).isDefined)
                } else Seq(t)
              }.distinct
            }
          (shards, tables)
        } finally sql.close()
      }
    require(resolved._1.nonEmpty,
      s"no shards for keyspace ${cfg.keyspace}: none configured, none discovered")
    resolved
  }

  /** Round-robin shard groups — the reference's task planning
    * (VitessConnector.java:87-156: numTasks = min(tasks.max, #shards),
    * shard i → task i mod numTasks). */
  def shardGroups(shards: Seq[String], maxStreams: Int): Seq[Seq[String]] = {
    val n = math.max(1, math.min(maxStreams, shards.size))
    shards.zipWithIndex.groupBy(_._2 % n).toSeq.sortBy(_._1).map(_._2.map(_._1))
  }

  /** Fail-fast guard against a PRE-RESHARD topology: a feed staged by a
    * previous run for a keyrange shard properly contained by a shard
    * this feeder is about to subscribe means the child was adopted from
    * a live reshard and the configured list predates it — subscribing
    * the parent would make the server replay the child's history (via
    * the reshard journal) into a feed that already holds it. Disjoint or
    * CONTAINING staged shards (retired parents) are fine: no worker
    * subscribes to them, and the transport still lists their feeds for
    * read continuity. */
  def requireNoStaleParentConfig(stagingDir: String, shards: Seq[String]): Unit = {
    if (!Files.exists(Paths.get(stagingDir))) return
    val staged = FileFeedTransport(stagingDir, excludeEmptyShards = false)
      .listShards().map(_._1)
    val conflicts = for {
      st <- staged if !shards.contains(st)
      parent <- shards if ShardLineage.properlyContains(parent, st)
    } yield s"$st (child of configured $parent)"
    require(conflicts.isEmpty,
      s"staging dir $stagingDir holds feeds for reshard child shard(s) " +
        s"${conflicts.mkString(", ")} — the configured topology predates a " +
        "reshard; update (or drop, for discovery) the shard list so the " +
        "children resume from their own staged positions instead of replaying")
  }
}

/** Live VTGate transport: driver-side gRPC consumers stage the VStream
  * into the same durable per-shard JSONL feed the file transport reads.
  *
  * Architecture (SURVEY S1 at scale): min(maxStreams, #shards)
  * concurrent VStreams — one per round-robin shard group, the
  * reference's task planning (VitessConnector.java:87-156) — land
  * events into shared storage; executors read the staging files in
  * parallel exactly like any file feed (`open`/`size` delegate to the
  * file mechanics, so positions stay byte offsets and every existing
  * offset/replay/reshard rule applies unchanged). Each consumer is the
  * same role as the reference's per-task stream-observer thread
  * (VitessReplicationConnection.java:107-343) — but here it ONLY stages
  * bytes; decode runs distributed. On restart each stream resumes from
  * the last STAGED VGTID of its own shards, so the staging log never
  * loses or duplicates server transactions; engine offsets into the
  * staging log are an independent (checkpointed) layer.
  *
  * The staging directory must be shared storage in a multi-node
  * deployment (executors open it by path, like any Spark checkpoint or
  * source directory).
  */
final case class VStreamGrpcTransport(stagingDir: String, cfg: GrpcConfig)
    extends VStreamTransport {

  private val inner = FileFeedTransport(stagingDir, excludeEmptyShards = false)

  // driver-only: executors deserialize this transport and use only
  // open()/size(), which never touch the feeder
  @transient @volatile private var feederStarted = false
  @transient @volatile private var closeRequested = false
  @transient private lazy val feeder: FeederHandle = {
    val f = cfg.feederMode match {
      case "driver" => new GrpcFeeder(stagingDir, cfg)
      case "executors" => new ExecutorFeeders(stagingDir, cfg)
      case other => throw new IllegalArgumentException(
        s"feeder.mode must be driver|executors, got $other")
    }
    f.ensureRunning()
    feederStarted = true
    // close() raced this lazy init (it saw feederStarted=false and
    // no-op'd while discovery was still in flight): honor it now so a
    // stopped stream never leaves a zombie feeder staging forever
    if (closeRequested) f.close()
    f
  }

  /** Topology as currently staged: the startup shard set plus any shard
    * a live reshard adopted mid-stream (its feed file appears the
    * moment the owning worker adopts it, so reading-side planning picks
    * children up on the next micro-batch — same contract as the file
    * transport). */
  override def listShards(): Seq[(String, String)] = {
    feeder.ensureRunning()
    val live = feeder.currentShards
      .map(sh => sh -> Paths.get(stagingDir, s"$sh.jsonl").toString)
    // retired shards (reshard parents from a previous run) keep their
    // staged history readable even though no worker subscribes to them —
    // the reading engine's reshard machinery needs parent feeds next to
    // the children's, exactly like the file transport lists them
    val retired = inner.listShards().filterNot(s => live.exists(_._1 == s._1))
    (live ++ retired).sortBy(_._1)
  }

  override def open(locator: String, from: Long, to: Long): VStreamSlice =
    inner.open(locator, from, to)

  override def size(locator: String): Long = inner.size(locator)

  /** No-op when the feeder never started — closing a stream that was
    * stopped before listShards() must not lazily build a channel and
    * subscribe just to tear it down. The flag is recorded FIRST so an
    * in-flight lazy init (topology discovery can take seconds) observes
    * it on completion and closes itself. */
  override def close(): Unit = {
    closeRequested = true
    if (feederStarted) feeder.close()
  }

  /** Test hook: block until the server completed the stream and all
    * received events are durably staged. */
  private[sources] def awaitStreamCompleted(timeoutMs: Long): Unit =
    feeder.awaitCompleted(timeoutMs)
}

/** What the transport needs from a feeder, independent of placement:
  * the driver-JVM worker pool ([[GrpcFeeder]]) and the executor-resident
  * job ([[ExecutorFeeders]]) both satisfy it. */
private[sources] trait FeederHandle {
  def ensureRunning(): Unit
  def currentShards: Seq[String]
  def awaitCompleted(timeoutMs: Long): Unit
  def close(): Unit
}

/** Executor-resident feeder placement: each round-robin shard group's
  * StreamWorker pool runs as one long-running task of a background
  * Spark job (one task per group, `groups.size` tasks), staging into
  * the SHARED staging directory — so ingest bandwidth scales with
  * executor hosts instead of one driver NIC, the reference's
  * distributed-task model (VitessConnector.java:87-156 over Kafka
  * Connect's multi-host runtime). The driver resolves topology once
  * (one Execute-RPC exchange), pre-creates the staging files so
  * read-side planning can size them immediately, and signals shutdown
  * through a `_STOP` marker file in the staging dir (shared storage —
  * the same channel the workers' staged bytes ride). Each task runs
  * the SAME worker code as driver mode, so resume from each shard's
  * last staged VGTID, tx-boundary staging, and reshard adoption hold
  * unchanged; a task that dies is re-run by Spark's task retry and
  * resumes exactly-once from its group's staged positions. */
private[sources] final class ExecutorFeeders(stagingDir: String, cfg: GrpcConfig)
    extends FeederHandle {

  private val (discoveredShards, expandedTables) = GrpcTopology.resolve(cfg)
  private val groups = GrpcTopology.shardGroups(discoveredShards, cfg.maxStreams)
  @volatile private var started = false
  @volatile private var jobThread: Thread = null
  @volatile private var jobFailure: Throwable = null

  override def ensureRunning(): Unit = synchronized {
    if (jobFailure != null)
      throw new IllegalStateException("executor-resident feeder job failed", jobFailure)
    if (started) return
    started = true
    val dir = Paths.get(stagingDir)
    Files.createDirectories(dir)
    Files.deleteIfExists(dir.resolve(GrpcFeederMain.StopMarker))
    discoveredShards.foreach { sh =>
      val p = dir.resolve(s"$sh.jsonl")
      if (!Files.exists(p)) Files.createFile(p)
    }
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    // shards are assigned per task; regex include rules were expanded
    // ONCE on the driver so workers never repeat the metadata queries
    val workerCfg = cfg.copy(includeTables = expandedTables, feederMode = "driver")
    val tasks: Seq[(String, GrpcConfig)] =
      groups.map(g => (stagingDir, workerCfg.copy(shards = g, maxStreams = 1)))
    // Feeder tasks run until shutdown, so two scheduler behaviors that
    // are benign for normal tasks corrupt or starve ingest here — both
    // fail LOUDLY up front instead:
    //  - speculation would launch a live duplicate of a "straggler"
    //    feeder, breaking the one-writer-per-staging-file invariant
    //    (interleaved appends from two JVMs);
    //  - fewer cluster slots than groups queues the excess tasks behind
    //    never-finishing ones, and their shards' pre-created feeds would
    //    read as silently empty for the life of the query.
    if (sc.getConf.getBoolean("spark.speculation", defaultValue = false))
      throw new IllegalStateException(
        "feeder.mode=executors requires spark.speculation=false: a " +
          "speculative duplicate of a long-running feeder task would " +
          "double-write its shards' staging files")
    if (sc.defaultParallelism < tasks.size)
      throw new IllegalStateException(
        s"feeder.mode=executors needs one task slot per shard group: " +
          s"${tasks.size} groups but only ${sc.defaultParallelism} slots — " +
          "queued feeder tasks never start and their shards would stay " +
          "silently empty; lower vstream.count or add executors")
    jobThread = new Thread("graft-executor-feeders") {
      override def run(): Unit =
        try ExecutorFeeders.runJob(sc, tasks)
        catch { case t: Throwable => jobFailure = t }
    }
    jobThread.setDaemon(true)
    jobThread.start()
  }

  /** Discovered topology plus any feed file an executor-side worker has
    * created since (reshard adoption happens inside the workers; the
    * staging dir is the shared-state channel the driver observes). */
  override def currentShards: Seq[String] = {
    val staged = FileFeedTransport(stagingDir, excludeEmptyShards = false)
      .listShards().map(_._1)
    (discoveredShards ++ staged).distinct.sorted
  }

  override def awaitCompleted(timeoutMs: Long): Unit = {
    if (jobThread != null) jobThread.join(timeoutMs)
    if (jobFailure != null)
      throw new IllegalStateException("executor-resident feeder job failed", jobFailure)
    if (jobThread != null && jobThread.isAlive)
      throw new IllegalStateException("executor feeders did not complete in time")
  }

  override def close(): Unit = if (started) {
    Files.createDirectories(Paths.get(stagingDir))
    val marker = Paths.get(stagingDir, GrpcFeederMain.StopMarker)
    if (!Files.exists(marker)) Files.createFile(marker)
    if (jobThread != null) jobThread.join(30000)
  }
}

private[sources] object ExecutorFeeders {
  /** One long-running task per shard group; the closure captures only
    * the serializable (stagingDir, config) pairs. */
  private def runJob(
      sc: org.apache.spark.SparkContext, tasks: Seq[(String, GrpcConfig)]): Unit =
    sc.parallelize(tasks, tasks.size).foreach { case (dir, c) =>
      GrpcFeederMain.run(dir, c, clearStopMarker = false)
    }
}

/** The driver-side VStream consumer pool: resolves the shard topology
  * (explicit or discovered over the Execute RPC), builds one shared
  * channel with the reference's tuning knobs, and runs one
  * [[StreamWorker]] per round-robin shard group, each staging VEventJson
  * lines into its shards' feed files at transaction-safe boundaries. */
private[sources] final class GrpcFeeder(stagingDir: String, cfg: GrpcConfig)
    extends FeederHandle {

  private val dir = Paths.get(stagingDir)
  @volatile private var channel: ManagedChannel = null
  @volatile private var failure: Throwable = null
  @volatile private var started = false
  @volatile private var closed = false

  private[sources] val (shards: Seq[String], includeTables: Seq[String]) =
    GrpcTopology.resolve(cfg)
  GrpcTopology.requireNoStaleParentConfig(stagingDir, shards)

  /** Staging writers, created on demand so a shard ADOPTED mid-stream
    * (live reshard: a child shard the startup topology never saw) gets
    * a feed file exactly like a startup shard — an existing file is
    * recovered first (see [[recover]]). Guarded by the feeder lock; each
    * shard still has exactly one writing worker (the adopting stream), so
    * the hot path stays synchronization-free. */
  private val writers = scala.collection.mutable.Map[String, java.io.OutputStream]()

  /** Resume position per shard: the last VGTID entry durably staged for
    * it. The open pass of [[writerFor]] seeds it from an existing file
    * and every flush moves it, so it only ever reflects FLUSHED bytes;
    * reconnects read it without touching the file. */
  private[sources] val staged = scala.collection.concurrent.TrieMap.empty[String, ShardGtid]

  private def writerFor(sh: String): java.io.OutputStream = synchronized {
    writers.getOrElseUpdate(sh, {
      val p = dir.resolve(s"$sh.jsonl")
      if (!Files.exists(p)) Files.createFile(p)
      else recover(sh, p)
      // a stray spill file is a crash leftover; its transaction was
      // never committed to the feed, so the resumed stream replays it
      Files.deleteIfExists(dir.resolve(s"$sh.spill"))
      Files.newOutputStream(p, StandardOpenOption.APPEND)
    })
  }

  /** shard → owning worker: startup shards are claimed when their group
    * worker first stages; a shard seen by a SECOND worker is a server
    * misroute and fails loudly (never silently dropped). */
  private val owners = new java.util.concurrent.ConcurrentHashMap[String, StreamWorker]()

  /** Reshard children adopted mid-stream that have not yet staged a
    * VGTID. The durable twin is a `<shard>.adopted` marker file next to
    * the feed: deleted the moment the child's first VGTID is flushed, so
    * across a crash it marks exactly the children whose resume position
    * is UNKNOWN — resuming those from `initial.gtid` would either replay
    * the child's entire history as a VStream copy ("" → duplicates on
    * top of the parents' feeds) or skip the unstaged window ("current" →
    * loss), so [[StreamWorker.resumeVgtid]] fails loudly instead. */
  private val adoptedNoPos = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def adoptedMarker(sh: String): java.nio.file.Path =
    dir.resolve(s"$sh.adopted")

  /** Shards currently being staged — startup topology plus any adopted
    * mid-stream by a live reshard. */
  @volatile var currentShards: Seq[String] = shards

  { Files.createDirectories(dir); shards.foreach(writerFor) }

  /** Staging-file recovery: one [[TxBoundaryFold]] pass from byte 0,
    * the rule that cuts engine offsets. A crash can persist (a) a torn
    * final line and (b) a complete-line prefix of an unfinished
    * transaction (BEGIN/ROW with no COMMIT — the in-memory tx buffer
    * below prevents this in normal operation, but an OS-level crash can
    * persist a prefix of a single multi-line append). Appending a server
    * replay after either would corrupt the feed (the replayed
    * transaction's BEGIN arrives while one is open, which
    * TransactionAssembler rejects), so the file is truncated to the
    * fold's last safe cursor; engine offsets only ever point at such
    * cursors, so no admitted byte is discarded. The cursor's position is
    * the shard's last staged VGTID entry, its resume position. */
  private def recover(sh: String, p: java.nio.file.Path): Unit = {
    val fold = new TxBoundaryFold(sh, ShardCursor(0L, ShardTxStep.fresh(sh), Map.empty),
      heartbeatIntervalMs = 0L, Long.MaxValue)
    val size = Files.size(p)
    fold.foldFeed(FileFeedTransport(stagingDir, excludeEmptyShards = false), p.toString,
      Some(size))((_, _) => false)
    if (fold.safe.pos < size) {
      val ch = java.nio.channels.FileChannel.open(p, StandardOpenOption.WRITE)
      try { ch.truncate(fold.safe.pos); () } finally ch.close()
    }
    if (fold.admitted > 0) staged(sh) = fold.safe.step.sg
  }

  /** Round-robin shard groups (see [[GrpcTopology.shardGroups]]). Each
    * group gets its OWN VStream, so ingest bandwidth scales with streams
    * instead of being ceilinged by one server stream + one writer
    * thread; streams multiplex over one shared HTTP/2 channel. */
  private[sources] val shardGroups: Seq[Seq[String]] =
    GrpcTopology.shardGroups(shards, cfg.maxStreams)

  private val workers: Seq[StreamWorker] = shardGroups.map(new StreamWorker(_))

  override def ensureRunning(): Unit = {
    if (failure != null)
      throw new IllegalStateException("vstream grpc feeder failed", failure)
    if (!started)
      // a start failure (bad target, channel build) must release the
      // per-shard staging writers the constructor opened — callers
      // (including a retried lazy init) would otherwise leak one set of
      // file handles per attempt
      try start()
      catch {
        case t: Throwable =>
          try close() catch { case _: Throwable => () }
          throw t
      }
  }

  /** Non-throwing completion poll for [[GrpcFeederMain]]'s run loop:
    * true once every worker's stream has terminated. */
  private[sources] def isCompleted(timeoutMs: Long): Boolean =
    workers.forall(_.completed.await(timeoutMs, TimeUnit.MILLISECONDS))

  private[sources] def failureOption: Option[Throwable] = Option(failure)

  def start(): Unit = synchronized {
    if (started) return
    started = true
    channel = GrpcChannels.build(cfg)
    workers.foreach(_.subscribe(attempt = 0))
  }

  def awaitCompleted(timeoutMs: Long): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    workers.foreach { w =>
      if (failure != null) // fail fast: don't wait out the timeout on a dead stream
        throw new IllegalStateException("vstream grpc feeder failed", failure)
      val left = (deadline - System.nanoTime()) / 1000000L
      if (!w.completed.await(math.max(1L, left), TimeUnit.MILLISECONDS))
        throw new IllegalStateException("vstream did not complete in time")
    }
    if (failure != null)
      throw new IllegalStateException("vstream grpc feeder failed", failure)
  }

  def close(): Unit = {
    closed = true
    if (channel != null) {
      channel.shutdownNow()
      channel.awaitTermination(5, TimeUnit.SECONDS)
    }
    // discard in-flight transaction buffers: closes any open spill
    // stream and reclaims its file (a resumed feeder replays the open
    // transaction from the last staged VGTID anyway)
    workers.foreach(w => try w.discardPending() catch { case _: Exception => () })
    writers.values.foreach(w => try w.close() catch { case _: Exception => () })
  }

  private val maxReconnects = 5

  /** One shard-group's VStream: its own subscription, resume position,
    * reconnect state, and transaction buffers. Workers never share a
    * shard (round-robin partition), so each staging file has exactly one
    * writer and no cross-worker synchronization is needed on the hot
    * path. This is the reference's per-task VitessReplicationConnection
    * (VitessConnector plans one connection per task over its shard
    * group). */
  private final class StreamWorker(initialShards: Seq[String]) {

    /** This worker's shard set: the startup round-robin group, plus any
      * shard ADOPTED mid-stream when a live reshard streams children on
      * the subscription that held their parent. */
    @volatile private var group: Vector[String] = initialShards.toVector
    initialShards.foreach(sh => owners.put(sh, this))

    private[GrpcFeeder] val completed = new CountDownLatch(1)

    /** Resume position: last VGTID staged per group shard (the stream's
      * own progress marker, see [[staged]]), else the configured initial
      * position. */
    private def resumeVgtid(): Vgtid = synchronized {
      Vgtid(group.map { sh =>
        staged.get(sh).getOrElse {
          if (Files.exists(adoptedMarker(sh)))
            throw new IllegalStateException(
              s"shard $sh was adopted from a live reshard but no VGTID " +
                "was staged for it before the disconnect — its resume " +
                "position is unknown ('' would re-copy the child's whole " +
                "history over the parents' feeds; 'current' would skip " +
                "the unstaged window). Restart the stream from the " +
                "checkpoint so reading-side offsets re-plan the reshard.")
          cfg.initialVgtid.shardGtid(sh).getOrElse(ShardGtid(cfg.keyspace, sh,
            cfg.initialVgtid.shardGtid("").fold(Vgtid.EmptyGtid)(_.gtid)))
        }
      })
    }

    /** Live-reshard handling (the reference's continued-streaming path,
      * VitessEpochProvider.java:167-191): an event for a shard OUTSIDE
      * the startup topology means a reshard created it mid-stream — the
      * server streams children on the subscription that held the parent,
      * so the receiving worker adopts it: claims ownership, opens its
      * staging feed (truncated to a tx boundary if a file already
      * exists), and extends its group so reconnect resume positions
      * carry the child. Downstream, the reading engine's existing
      * epoch-inheritance machinery (TxMetadata) handles the rest, same
      * as the file transport. Two failure modes are LOUD, never a
      * silent drop: a shard already owned by another worker (server
      * misroute — each subscription must only stream its own shards),
      * and a new shard under stopOnReshard=true (the server was asked
      * to end the stream at the reshard instead). */
    private def ensureOwned(sh: String): Unit = {
      val owner = owners.computeIfAbsent(sh, _ => this)
      if (owner ne this)
        throw new IllegalStateException(
          s"shard $sh arrived on a VStream subscription that does not own it " +
            "(another worker's group) — server misroute, refusing to stage")
      if (!group.contains(sh)) {
        if (cfg.stopOnReshard)
          throw new IllegalStateException(
            s"new shard $sh appeared mid-stream with stop.on.reshard=true — " +
              "expected the server to end the stream at the reshard boundary")
        // durable adoption marker BEFORE any staging: until the child's
        // first VGTID flushes, its resume position is unknowable and a
        // crash must fail the restart loudly, not quietly re-copy or
        // skip the child's history (see adoptedNoPos)
        if (!Files.exists(adoptedMarker(sh))) Files.createFile(adoptedMarker(sh))
        adoptedNoPos.add(sh)
        writerFor(sh)
        group = group :+ sh
        GrpcFeeder.this.synchronized {
          if (!currentShards.contains(sh)) currentShards = (currentShards :+ sh).sorted
        }
      }
    }

    private def buildRequest(): VtWire.VStreamRequestModel = {
      def quote(id: String) = "`" + id.replace("`", "``") + "`"
      VtWire.VStreamRequestModel(
        // the engine path validates tablet.type up front; the external
        // feeder path reaches here unvalidated — a typo must not
        // silently subscribe the PRIMARY (type 1)
        tabletType = VtWire.TabletType.byName.getOrElse(
          cfg.tabletType.toUpperCase(java.util.Locale.ROOT),
          throw new IllegalArgumentException(
            s"tablet.type must be one of ${VtWire.TabletType.byName.keys.toSeq.sorted.mkString("|")}, " +
              s"got '${cfg.tabletType}'")),
        vgtid = resumeVgtid(),
        // reference :316-327: one rule per included table, filter sql
        // form; regexes were already expanded to concrete tables above
        rules = includeTables.map(t => t -> s"select * from ${quote(t)}"),
        flags = VtWire.VStreamFlagsModel(
          heartbeatIntervalSec = cfg.heartbeatSeconds,
          stopOnReshard = cfg.stopOnReshard,
          cells = cfg.cells.mkString(","),
          cellPreference = cfg.cellPreference,
          tabletOrder = cfg.tabletOrder,
          streamKeyspaceHeartbeats = cfg.streamKeyspaceHeartbeats,
          includeReshardJournalEvents = cfg.includeReshardJournalEvents,
          excludeKeyspaceFromTableName = cfg.excludeKeyspaceFromTableName,
          tablesToCopy = cfg.tablesToCopy))
    }

    /** One VStream subscription. A retriable failure (every gRPC status
      * error — the reference's VitessErrorHandler.java:23-30 stance)
      * re-subscribes after backoff FROM THE LAST STAGED VGTID, so a
      * VTGate bounce never loses or duplicates staged transactions; the
      * attempt counter resets whenever a subscription made progress, and
      * `maxReconnects` consecutive no-progress failures surface as the
      * stream failure. Reconnects are per-worker: one group's bounce
      * never disturbs the other streams. */
    private[GrpcFeeder] def subscribe(attempt: Int): Unit = {
      // a reconnect abandons any buffered partial transaction — the
      // resumed stream replays it from the last STAGED vgtid
      resetPending()
      // reference startStreaming: headers ride a client interceptor,
      // credentials a CallCredentials (VitessReplicationConnection.java:112-127)
      val ch = GrpcChannels.decorated(channel, cfg)
      val callOptions = GrpcChannels.callOptions(cfg)
      val observer = new StreamObserver[Array[Byte]] {
        @volatile private var progressed = false
        override def onNext(responseBytes: Array[Byte]): Unit =
          // once failed, stage NOTHING more: a staging failure mid-
          // transaction must not let a later COMMIT flush a partial
          // transaction into the durable feed (the buffer holding the
          // interrupted tx is simply never flushed)
          if (failure == null && !closed) {
            try { stage(VtWire.decodeVStreamResponse(responseBytes)); progressed = true }
            catch {
              case t: Throwable =>
                failure = t
                completed.countDown() // waiters must see the failure now
            }
          }
        override def onError(t: Throwable): Unit = {
          val retryAttempt = if (progressed) 1 else attempt + 1
          if (failure == null && !closed && Retry.isRetriable(t) && retryAttempt <= maxReconnects) {
            val backoffMs = math.min(50L << retryAttempt, 2000L)
            val reconnector = new Thread(s"vstream-grpc-reconnect") {
              override def run(): Unit = {
                Thread.sleep(backoffMs)
                if (!closed) subscribe(retryAttempt)
              }
            }
            reconnector.setDaemon(true)
            reconnector.start()
          } else {
            if (failure == null && !closed) failure = t
            completed.countDown()
          }
        }
        override def onCompleted(): Unit = completed.countDown()
      }
      ClientCalls.asyncServerStreamingCall(
        ch.newCall(VtGrpc.VStreamMethod, callOptions),
        VtWire.encodeVStreamRequest(buildRequest()),
        observer)
    }

    // Per-shard transaction buffer: events accumulate here and reach the
    // durable staging file only at transaction-safe boundaries — on
    // COMMIT, or immediately for standalone events while no transaction
    // is open. This is the reference's buffer-until-commit stance
    // (VitessReplicationConnection buffers a partial transaction in
    // memory and reset()s it on error, committing offsets only at
    // boundaries): a disconnect mid-transaction leaves the staging file
    // at a safe boundary, so the resumed stream's replay of the open
    // transaction appends cleanly instead of producing a BEGIN-while-open
    // sequence that would permanently poison executor reads of that
    // region. Feeder memory is bounded by cfg.maxBufferedTxBytes per
    // shard: past that, the open transaction spills to a temp file next
    // to the staging file (TxBuffer) — a pathological multi-GB
    // transaction costs disk, never heap.
    private val pending = scala.collection.mutable.Map[String, GrpcFeeder.TxBuffer]()
    private def bufferFor(sh: String): GrpcFeeder.TxBuffer =
      pending.getOrElseUpdate(sh,
        new GrpcFeeder.TxBuffer(dir.resolve(s"$sh.spill"), cfg.maxBufferedTxBytes))
    private val inTx = scala.collection.mutable.Set[String]()
    // the buffered VGTID rides the tx buffer: promoted to `staged` on
    // flush, dropped with the buffer on reconnect
    private val pendingVgtid = scala.collection.mutable.Map[String, ShardGtid]()

    private[GrpcFeeder] def discardPending(): Unit = resetPending()

    /** Drop buffered partial transactions (reconnect path: the resumed
      * stream replays them from the last STAGED vgtid). */
    private def resetPending(): Unit = synchronized {
      pending.values.foreach(_.reset())
      pendingVgtid.clear()
      inTx.clear()
    }

    /** Append one response batch to this group's staging feeds at
      * transaction-safe boundaries. Events without a shard attribution
      * (a multi-shard VGTID between transactions) go to every group
      * shard they carry a position for — each shard's fold extracts only
      * its own entry, mirroring how the engine already treats
      * multi-shard VGTID lines. */
    private def stage(events: Seq[VEvent]): Unit = synchronized {
      events.foreach { e =>
        val targets: Seq[String] = e match {
          case VgtidEvent(sh, v) if sh.isEmpty =>
            // a subscription's VGTID covers exactly its own shards — a
            // shard this worker has never seen is either a reshard child
            // (adopted) or a misroute (loud failure), never dropped
            val mentioned = v.shardGtids.map(_.shard)
            mentioned.foreach(ensureOwned)
            mentioned
          case _ if e.shard.nonEmpty =>
            ensureOwned(e.shard)
            Seq(e.shard)
          // shard-less heartbeats/unknowns: liveness, group-scoped
          case _: HeartbeatEvent | _: OtherEvent => group
          case _ =>
            // a transaction-scoped event without shard attribution can't
            // be routed — fanning it to the group would open/close inTx
            // on every group shard and write misattributed lines into
            // foreign feeds. vtgate sets keyspace/shard on these; a
            // server that doesn't is unsupported, LOUDLY.
            throw new IllegalStateException(
              s"transaction-scoped event without shard attribution: $e — " +
                "refusing to guess a target feed")
        }
        targets.foreach { sh =>
          val line = e match {
            case VgtidEvent(s, v) if s.isEmpty => VEventJson.write(VgtidEvent(sh, v))
            case HeartbeatEvent(s) if s.isEmpty => VEventJson.write(HeartbeatEvent(sh))
            case other => VEventJson.write(other)
          }
          bufferFor(sh).add(line)
          e match {
            case _: BeginEvent => inTx += sh
            case _: CommitEvent => inTx -= sh
            case VgtidEvent(_, v) => v.shardGtid(sh).foreach(sg => pendingVgtid(sh) = sg)
            case _ =>
          }
          if (!inTx.contains(sh)) flushPending(sh)
        }
      }
    }

    private def flushPending(sh: String): Unit = {
      val buf = pending(sh)
      if (!buf.isEmpty) {
        val w = writerFor(sh)
        buf.flushInto(w)
        w.flush()
        // the buffered VGTID is durable now — it becomes the resume floor
        pendingVgtid.remove(sh).foreach { sg =>
          staged(sh) = sg
          // an adopted child now has a durable position: clear the
          // unknown-resume marker (crash after this point resumes
          // normally from the staged VGTID)
          if (adoptedNoPos.remove(sh)) Files.deleteIfExists(adoptedMarker(sh))
        }
      }
    }
  }
}

private[sources] object GrpcFeeder {

  /** One shard's not-yet-committed staging lines, heap-bounded: lines
    * buffer in memory up to `capBytes`, then the WHOLE buffer spills to
    * `spillPath` (same volume as the staging file) and subsequent lines
    * append there — so a transaction of any size costs at most
    * `capBytes` of feeder heap plus disk. `flushInto` streams the spill
    * file into the staging writer in bounded chunks (never re-buffering
    * it), `reset` discards buffer and spill (reconnect path — the
    * resumed stream replays the open transaction). A crash between
    * spill and flush leaves a stray `.spill` file; startup deletes it
    * (writerFor), because its transaction was never committed to the
    * feed and will be replayed. */
  private[sources] final class TxBuffer(
      spillPath: java.nio.file.Path, capBytes: Long) {
    private val mem = scala.collection.mutable.ArrayBuffer[String]()
    private var memBytes = 0L
    private var spill: java.io.OutputStream = null

    def isEmpty: Boolean = mem.isEmpty && spill == null

    /** True iff the buffer has gone through the spill path (test hook). */
    def spilled: Boolean = spill != null

    def add(line: String): Unit = {
      if (spill != null) writeLine(spill, line)
      else {
        mem += line
        memBytes += line.length.toLong + 1
        if (memBytes > capBytes) {
          spill = Files.newOutputStream(spillPath,
            StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING,
            StandardOpenOption.WRITE)
          mem.foreach(l => writeLine(spill, l))
          mem.clear()
          memBytes = 0L
        }
      }
    }

    def flushInto(w: java.io.OutputStream): Unit = {
      if (spill != null) {
        spill.flush(); spill.close(); spill = null
        val in = Files.newInputStream(spillPath)
        try {
          val buf = new Array[Byte](64 * 1024)
          var n = in.read(buf)
          while (n >= 0) { if (n > 0) w.write(buf, 0, n); n = in.read(buf) }
        } finally in.close()
        Files.deleteIfExists(spillPath)
      }
      mem.foreach(l => writeLine(w, l))
      mem.clear()
      memBytes = 0L
    }

    def reset(): Unit = {
      if (spill != null) { spill.close(); spill = null }
      Files.deleteIfExists(spillPath)
      mem.clear()
      memBytes = 0L
    }

    private def writeLine(w: java.io.OutputStream, line: String): Unit = {
      w.write(line.getBytes(StandardCharsets.UTF_8))
      w.write('\n')
    }
  }
}
