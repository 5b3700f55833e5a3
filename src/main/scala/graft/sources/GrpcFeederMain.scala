package graft.sources

import graft.core.{ShardGtid, Vgtid}
import java.nio.file.{Files, Paths}

/** Standalone per-host VStream feeder process — the third feeder
  * placement (next to `feeder.mode=driver|executors`), mirroring the
  * reference's deployment shape of connector tasks spread across Kafka
  * Connect worker processes on different hosts
  * (VitessConnector.java:87-156 + Connect's distributed runtime):
  *
  * {{{
  *   # host A                                          # host B
  *   GrpcFeederMain /shared/staging feederA.properties  GrpcFeederMain /shared/staging feederB.properties
  *   # feederA: shards=s0,s2     feederB: shards=s1,s3  (disjoint groups)
  * }}}
  *
  * Each process owns a DISJOINT shard group (`shards=` in its properties
  * file) and stages into the shared directory; the engine reads it with
  * `transport=file` (or `transport=grpc` pointed at the same dir once a
  * feeder owns every shard). The one-writer-per-staging-file invariant
  * holds because groups are disjoint; resume-from-last-staged-VGTID,
  * transaction-boundary staging, and crash truncation are the same
  * worker code as the in-engine placements, so killing a process and
  * restarting it replays the server stream exactly-once.
  *
  * The process runs until its VStream completes, a failure exhausts the
  * reconnect budget, or a `_STOP` marker file appears in the staging dir
  * (the engine's `close()` writes it in `feeder.mode=executors`; an
  * operator can `touch` it by hand).
  *
  * Properties (same names as the engine's source options where one
  * exists): vtgate.target (required), keyspace (required), shards,
  * exclude.empty.shards, vstream.count, tablet.type, stop.on.reshard,
  * stream.keyspace.heartbeats, heartbeat.seconds, vstream.cells,
  * vstream.cell.preference, vstream.tablet.order,
  * vstream.include.reshard.journal.events, tables.include,
  * snapshot.tables, exclude.keyspace.from.table.name, initial.gtid,
  * max.buffered.tx.bytes, keepalive.interval.ms,
  * grpc.max_inbound_message_size, grpc.default.load.balancing.policy,
  * grpc.headers, vtgate.user, vtgate.password.
  */
object GrpcFeederMain {

  /** Marker file ending every feeder placement: written by
    * ExecutorFeeders.close(), honored by run()'s poll loop. */
  val StopMarker = "_STOP"

  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: GrpcFeederMain <stagingDir> <config.properties>")
    run(args(0), configFromProps(args(1)))
  }

  def configFromProps(propsFile: String): GrpcConfig = {
    val props = new java.util.Properties()
    val in = Files.newInputStream(Paths.get(propsFile))
    try props.load(in) finally in.close()
    def get(k: String): Option[String] =
      Option(props.getProperty(k)).map(_.trim).filter(_.nonEmpty)
    // same parsers as the engine's source options (GrpcOptions) — the
    // two config surfaces must accept identical spellings
    def csv(k: String): Seq[String] =
      get(k).map(GrpcOptions.csv).getOrElse(Nil)
    val keyspace = get("keyspace").getOrElse(
      throw new IllegalArgumentException("keyspace is required"))
    GrpcConfig(
      target = get("vtgate.target").getOrElse(
        throw new IllegalArgumentException("vtgate.target is required")),
      keyspace = keyspace,
      shards = csv("shards"),
      excludeEmptyShards = get("exclude.empty.shards").exists(_.toBoolean),
      maxStreams = get("vstream.count").map(_.toInt).getOrElse(1),
      tabletType = get("tablet.type").getOrElse("MASTER"),
      stopOnReshard = get("stop.on.reshard").exists(_.toBoolean),
      streamKeyspaceHeartbeats = get("stream.keyspace.heartbeats").exists(_.toBoolean),
      heartbeatSeconds = get("heartbeat.seconds").map(_.toInt).getOrElse(0),
      cells = csv("vstream.cells"),
      cellPreference = get("vstream.cell.preference").getOrElse(""),
      tabletOrder = get("vstream.tablet.order").getOrElse(""),
      includeReshardJournalEvents =
        get("vstream.include.reshard.journal.events").exists(_.toBoolean),
      includeTables = csv("tables.include"),
      tablesToCopy = csv("snapshot.tables"),
      excludeKeyspaceFromTableName =
        get("exclude.keyspace.from.table.name").exists(_.toBoolean),
      // one start GTID for every shard: the keyspace-wide VGTID entry
      initialVgtid = Vgtid(get("initial.gtid").toSeq.map(ShardGtid(keyspace, "", _))),
      maxBufferedTxBytes =
        get("max.buffered.tx.bytes").map(_.toLong).getOrElse(64L * 1024 * 1024),
      keepaliveMs = get("keepalive.interval.ms").map(_.toLong),
      maxInboundMessageSize = get("grpc.max_inbound_message_size").map(_.toInt),
      loadBalancingPolicy = get("grpc.default.load.balancing.policy"),
      headers = get("grpc.headers").map(GrpcOptions.headers).getOrElse(Map.empty),
      username = get("vtgate.user"),
      password = get("vtgate.password"))
  }

  /** Run one feeder pool over `cfg.shards` until the stream completes
    * or the stop marker appears; rethrows any feeder failure so the
    * process exits non-zero (and a supervisor — or Spark's task retry
    * in executors mode — restarts it to resume exactly-once). */
  def run(stagingDir: String, cfg: GrpcConfig, clearStopMarker: Boolean = true): Unit = {
    // a stale marker from a previous shutdown must not make a restarted
    // EXTERNAL feeder exit instantly — starting one means "run".
    // Executors-mode tasks pass clearStopMarker=false: there the driver
    // owns the marker (deleted at launch, written at close), and a
    // Spark-retried task must still honor an in-progress shutdown.
    val stop = Paths.get(stagingDir, StopMarker)
    if (clearStopMarker) Files.deleteIfExists(stop)
    val feeder = new GrpcFeeder(stagingDir, cfg)
    // start() inside the try: a channel-build failure must still close
    // the per-shard staging writers the constructor already opened
    try {
      feeder.start()
      var done = false
      while (!done && !Files.exists(stop) && feeder.failureOption.isEmpty)
        done = feeder.isCompleted(200)
      feeder.failureOption.foreach(t =>
        throw new IllegalStateException("vstream feeder failed", t))
    } finally feeder.close()
  }
}
