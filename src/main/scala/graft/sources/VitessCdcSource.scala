package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.core._
import graft.streaming._
import java.nio.charset.StandardCharsets
import java.nio.file.{NoSuchFileException, Paths}
import java.util
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxRows, ReportsSourceMetrics, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.concurrent.{Await, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

/** `vitess-cdc` Structured Streaming source (SURVEY §2.1 S1/S4/S8/S9).
  *
  * Reads a simulated VStream: a directory with one JSON-lines file per
  * shard (`<shard>.jsonl`, VEventJson wire format, append-only) standing
  * in for the per-shard gRPC streams
  * (reference: connection/VitessReplicationConnection.java:107-343).
  *
  * - Offset (S8): each shard's fold cursor; its JSON is `{"vgtid": [...],
  *   "transaction_epoch": {...}, "connector_generation": N, ...}` — the
  *   reference's offset-map keys (VitessOffsetContext.getOffset:92-100)
  *   plus byte positions, schema checkpoints and heartbeat baselines (see
  *   [[VgtidOffset]]); vgtid JSON is the checkpoint-interoperable wire
  *   format.
  * - Initial position (S4): the `vgtid` option, else empty GTIDs for all
  *   discovered shards (the copy-phase trigger position)
  *   (VitessReplicationConnection.defaultVgtid:437-480).
  * - Partitioning (S9): one InputPartition per segment of a shard's
  *   window (cut at the derived split size, see `latestOffset`) — the
  *   elastic equivalent of the reference's shard→task round-robin
  *   (VitessConnector.java:126-133). The cuts stay with the stream, not
  *   the offset: a batch replayed from the checkpoint reads one segment
  *   per shard.
  * - Resume semantics (O1/O2): an offset is its shards' cursors, and the
  *   byte window is the batch — a batch delivers every transaction in
  *   each shard's [start, end) bytes. Only a shard with no byte position
  *   is resolved by position, once, on the driver, while its offset is
  *   built or parsed: an explicit `vgtid` (or a checkpoint written
  *   without positions) starts right after the last transaction whose
  *   position is not after it (see `startAt`). A generation change bumps
  *   every epoch once, as a checkpointed offset enters the stream
  *   (`deserializeOffset`). A position keeps its VGTID event's keyspace.
  *   A record's restart offset is its shard's position at the last
  *   transaction-safe boundary before its transaction — what the offset
  *   records if a batch is cut there — so replay from it re-reads the
  *   whole transaction, no loss, wherever batches and splits were cut.
  *
  * Options: `path` (feed dir), `vgtid` (initial VGTID JSON), `keyspace`,
  * `shard` (explicit comma-separated shard list; authoritative — not
  * pruned by exclude.empty.shards, unknown shards fail fast),
  * `tables.include` / `tables.exclude` (comma-separated regexes, S3
  * server-side filter analogue), `boundaries` (emit begin/end records),
  * `generation` (connector generation; a change bumps all epochs, A5),
  * `max.txs.per.trigger` / `max.bytes.per.trigger` (positive per-shard
  * admission caps, as the default read limit; `Trigger.AvailableNow`
  * keeps them over the data present at query start, `Trigger.Once`
  * reads everything in one batch). The split size is derived, not an
  * option.
  */
class VitessCdcProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "vitess-cdc"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = VitessCdc.Schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new VitessCdcTable(new CaseInsensitiveStringMap(properties))
}

object VitessCdc {
  /** Flat envelope schema (string payloads re-typed downstream via
    * from_json against the registry schema — SURVEY §1.3 design (b)). */
  val Schema: StructType = StructType(Seq(
    StructField("shard", StringType, nullable = false),
    StructField("keyspace", StringType),
    StructField("table", StringType),
    StructField("op", StringType, nullable = false),
    StructField("before", StringType),
    StructField("after", StringType),
    StructField("key", StringType),
    StructField("ts_ms", LongType, nullable = false),
    StructField("vgtid", StringType),
    StructField("restart_vgtid", StringType),
    StructField("tx_id", StringType),
    StructField("epoch", LongType, nullable = false),
    StructField("rank", StringType),
    StructField("total_order", LongType, nullable = false),
    StructField("collection_order", LongType, nullable = false)))

  def toInternalRow(r: ChangeRecord): InternalRow = {
    def s(v: String): UTF8String = if (v == null) null else UTF8String.fromString(v)
    def so(v: Option[String]): UTF8String = v.map(UTF8String.fromString).orNull
    new GenericInternalRow(Array[Any](
      s(r.shard), s(r.keyspace), s(r.table), s(r.op),
      so(r.before), so(r.after), so(r.key),
      r.tsMs, s(r.vgtid), s(r.restartVgtid), so(r.txId),
      r.epoch, so(r.rank), r.totalOrder, r.collectionOrder))
  }
}

class VitessCdcTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = s"vitess-cdc:${options.get("path")}"
  override def schema(): StructType = VitessCdc.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = VitessCdc.Schema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new VitessCdcStream(opts)
      }
    }
}

/** Streaming offset: the fold's [[ShardCursor]] for each shard of its
  * vgtid, in vgtid order (byte position, [[ShardTxStep]], schema
  * checkpoint), the epochs of shards without a cursor (retired reshard
  * parents, shards only `shard.epoch.map` names) and the connector
  * generation. Positions only: how a batch is cut into partitions is the
  * planner's business, not the checkpoint's.
  *
  * Its JSON is the reference's offset map (`vgtid`, `transaction_epoch`,
  * `connector_generation`; VitessOffsetContext.getOffset:92-100) plus what
  * the reference keeps server-side, per shard:
  *
  *  - `feed_positions` — safe byte position (always a line boundary
  *    between transactions). The next trigger's fold and the batch
  *    readers SEEK here, so per-trigger work is O(new bytes).
  *  - `schemas` — latest FIELD (schema) wire line per table. A real
  *    VStream re-sends FIELD events on reconnect; a file feed has no
  *    server to re-send them, so the offset checkpoints the schema
  *    registry (the analogue of Debezium's schema history).
  *  - `heartbeat_ms` — interval-heartbeat baseline (commit-time ms), so
  *    the cadence survives batch boundaries.
  *
  * No offset value lacks a cursor for a shard of its vgtid: a shard with
  * no byte position (an explicit `vgtid` start, or a checkpoint written
  * without positions) is resolved by position, once, while the offset is
  * built or parsed. From there the byte window is the batch. */
final case class VgtidOffset(
    cursors: Seq[ShardCursor],
    otherEpochs: ShardEpochMap,
    generation: Long)
    extends Offset {
  def vgtid: Vgtid = Vgtid(cursors.map(_.step.sg))

  /** Every shard's epoch: the cursors' and the other shards'. */
  def epochs: ShardEpochMap =
    cursors.foldLeft(otherEpochs)((m, c) => m.put(c.step.sg.shard, c.step.epoch))

  def cursor(shard: String): Option[ShardCursor] = cursors.find(_.step.sg.shard == shard)

  override def json(): String = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    o.set[JsonNode]("vgtid", m.readTree(vgtid.json))
    o.set[JsonNode]("transaction_epoch", m.readTree(epochs.json))
    o.put("connector_generation", generation)
    // sorted keys: Spark compares offset JSON strings to detect "no new
    // data" — serialization must be deterministic
    def perShard(key: String, of: Seq[ShardCursor])(put: (ObjectNode, ShardCursor) => Unit): Unit =
      if (of.nonEmpty) {
        val node = o.putObject(key)
        of.foreach(put(node, _))
      }
    val sorted = cursors.sortBy(_.step.sg.shard)
    perShard("feed_positions", sorted)((n, c) => n.put(c.step.sg.shard, c.pos))
    perShard("schemas", sorted.filter(_.schemas.nonEmpty)) { (n, c) =>
      val t = n.putObject(c.step.sg.shard)
      c.schemas.toSeq.sortBy(_._1).foreach { case (tbl, line) => t.put(tbl, line) }
    }
    perShard("heartbeat_ms", sorted.filter(_.step.hbMs != ShardTxStep.NoBaseline))((n, c) =>
      n.put(c.step.sg.shard, c.step.hbMs))
    m.writeValueAsString(o)
  }
}

object VgtidOffset {
  /** The offset over `cursors`; `epochs` may name cursor shards too,
    * whose cursors' epochs win. */
  def of(cursors: Seq[ShardCursor], epochs: ShardEpochMap, generation: Long): VgtidOffset =
    VgtidOffset(cursors, ShardEpochMap(epochs.map -- cursors.map(_.step.sg.shard)), generation)

  /** Parse an offset. One written at a generation other than `generation`
    * has every epoch bumped once (A5) and takes `generation`. A shard of
    * its vgtid with no byte position takes the cursor `start(gtid,
    * epochs)` gives, over the bumped epochs. Keys this shape does not
    * name are skipped, such as the split cursors older builds wrote. */
  def fromJson(
      json: String,
      generation: Option[Long] = None,
      start: (ShardGtid, ShardEpochMap) => ShardCursor = (sg, _) =>
        throw new IllegalArgumentException(s"offset has no byte position for shard ${sg.shard}"))
      : VgtidOffset = {
    val m = new ObjectMapper()
    val n = m.readTree(json)
    def gtids(node: JsonNode): Seq[ShardGtid] = Vgtid.of(m.writeValueAsString(node)).shardGtids
    def shardField(key: String, shard: String): Option[JsonNode] =
      Option(n.get(key)).flatMap(f => Option(f.get(shard)))
    val stored = Option(n.get("connector_generation")).map(_.asLong()).getOrElse(1L)
    val gen = generation.getOrElse(stored)
    val epochs = EpochProvider.applyGeneration(
      Option(n.get("transaction_epoch"))
        .map(e => ShardEpochMap.fromJson(m.writeValueAsString(e)))
        .getOrElse(ShardEpochMap.empty),
      stored, gen)
    val cursors = gtids(n.get("vgtid")).map { sg =>
      shardField("feed_positions", sg.shard).fold(start(sg, epochs)) { p =>
        val hb = shardField("heartbeat_ms", sg.shard).fold(ShardTxStep.NoBaseline)(_.asLong())
        ShardCursor(p.asLong(), ShardTxStep(sg, epochs.get(sg.shard).getOrElse(0L), hb),
          shardField("schemas", sg.shard).fold(Map.empty[String, String])(
            _.properties().asScala.map(t => t.getKey -> t.getValue.asText()).toMap))
      }
    }
    of(cursors, epochs, gen)
  }
}

/** Byte-addressed line reader over an append-only feed file: starts at
  * byte `from` (a line boundary recorded by a previous scan), stops
  * before byte `to`, and reports the exact byte position after each
  * returned line. Feed writers always terminate lines with `\n`, so
  * position advances by (UTF-8 length + 1) per line. This is what makes
  * per-trigger work O(new bytes) instead of O(feed) — the scale
  * equivalent of resuming a VStream at the checkpointed VGTID instead of
  * replaying history (reference VitessOffsetContext.java:92-100). */
private[sources] final class FeedSlice(file: String, from: Long, to: Long = Long.MaxValue)
    extends VStreamSlice {
  private val ch =
    java.nio.channels.FileChannel.open(Paths.get(file), java.nio.file.StandardOpenOption.READ)
  // seek to `from` even past the current size: reads just return EOF
  // until the file grows to it. Clamping to size() instead would
  // reposition to an arbitrary mid-line byte whenever a reader's
  // filesystem view lags the recorded position (NFS attribute cache,
  // object-store listing lag) — breaking the every-position-is-a-line-
  // boundary invariant and surfacing half-line JSON fragments.
  private var consumed: Long = from
  ch.position(consumed)
  private val in = java.nio.channels.Channels.newInputStream(ch)
  private val buf = new java.io.ByteArrayOutputStream(256)
  // chunked newline scan: per-byte stream reads would double feed-scan
  // cost; this fills 64 KiB chunks and scans them with an index loop
  private val chunk = new Array[Byte](1 << 16)
  private var chunkLen = 0
  private var chunkPos = 0

  /** Byte position immediately after the last line returned. */
  def position: Long = consumed

  /** Next COMPLETE line (its `\n` terminator was observed), or null at
    * EOF / the `to` bound. A trailing line without a terminator — a
    * concurrent appender caught mid-write — is NOT returned and does not
    * advance `position`, so byte positions recorded in offsets always
    * point at a line start. The partial bytes stay buffered: a later
    * `readLine` on the same slice resumes mid-line once the appender
    * finishes, and a slice closed at EOF leaves the half-line for the
    * next trigger's slice. */
  def readLine(): String =
    if (consumed >= to) null
    else {
      var result: String = null
      var done = false
      while (!done) {
        if (chunkPos >= chunkLen) {
          chunkLen = in.read(chunk)
          chunkPos = 0
          if (chunkLen <= 0) done = true // EOF: unterminated tail stays buffered
        }
        if (!done) {
          var i = chunkPos
          while (i < chunkLen && chunk(i) != '\n') i += 1
          buf.write(chunk, chunkPos, i - chunkPos)
          if (i < chunkLen) { // terminator observed
            chunkPos = i + 1
            consumed += buf.size() + 1L
            FeedSlice.linesRead.incrementAndGet()
            result = new String(buf.toByteArray, StandardCharsets.UTF_8)
            buf.reset()
            done = true
          } else chunkPos = chunkLen
        }
      }
      result
    }

  override def close(): Unit = in.close()
}

private[sources] object FeedSlice {
  /** Test instrumentation: total lines read by any FeedSlice in this JVM
    * (specs assert trigger work is bounded by new bytes, not feed size). */
  val linesRead = new java.util.concurrent.atomic.AtomicLong()

  // cheap line-kind prefilters — Jackson writes "type" first, so a
  // startsWith check avoids parsing every line on the driver scan
  val BeginPrefix = "{\"type\":\"BEGIN\""
  val CommitPrefix = "{\"type\":\"COMMIT\""
  val VgtidPrefix = "{\"type\":\"VGTID\""
  val FieldPrefix = "{\"type\":\"FIELD\""
}

class VitessCdcStream(options: CaseInsensitiveStringMap)
    extends MicroBatchStream with SupportsTriggerAvailableNow with ReportsSourceMetrics {
  private val path = Option(options.get("path")).getOrElse(
    throw new IllegalArgumentException("vitess-cdc source requires a path"))
  // first present key wins: each option's own name first, then the
  // reference connector's spelling, so a reference config drops in
  private def opt(keys: String*): Option[String] =
    keys.view.flatMap(k => Option(options.get(k))).headOption
  private val keyspace = Option(options.get("keyspace")).getOrElse("ks")
  private val generation =
    opt("generation", "connector.generation").map(_.toLong).getOrElse(1L)
  private val emitBoundaries = Option(options.get("boundaries")).exists(_.toBoolean)
  private val inheritEpoch = Option(options.get("inherit.epoch")).exists(_.toBoolean)
  // S3: stop_on_reshard request-flag analogue — the reference's VStream
  // ends at a reshard boundary so the operator restarts against the new
  // shard topology (VitessReplicationConnection.java:302-338). Here the
  // planner fails the query with a descriptive error; restarting from the
  // same checkpoint resumes with the child shard admitted (A4 epochs
  // apply on resume when inherit.epoch is set).
  private val stopOnReshard =
    opt("stop.on.reshard", "stop_on_reshard").exists(_.toBoolean)
  // S3: tablet.type request parameter (reference
  // VitessConnectorConfig.java:304-312, default MASTER). The file feed
  // has no tablet fan-out, so the option is validation-only: a typo
  // fails the query start exactly like the reference's config check.
  Option(options.get("tablet.type")).getOrElse("MASTER")
    .toUpperCase(java.util.Locale.ROOT) match {
    case "MASTER" | "REPLICA" | "RDONLY" => ()
    case other => throw new IllegalArgumentException(
      s"tablet.type must be MASTER|REPLICA|RDONLY, got $other")
  }
  // gRPC channel tuning (reference VitessConnectorConfig.java:332-365):
  // the numeric options (keepalive.interval.ms,
  // grpc.max_inbound_message_size) are range-validated; grpc.headers and
  // grpc.default.load.balancing.policy are free-form strings accepted
  // as-is. All four are consumed by a gRPC VStreamTransport; the file
  // transport has no channel to apply them to, so like tablet.type they
  // are validation-only here.
  Option(options.get("keepalive.interval.ms")).foreach { v =>
    require(v.toLong > 0L, s"keepalive.interval.ms must be positive, got $v")
  }
  Option(options.get("grpc.max_inbound_message_size")).foreach { v =>
    require(v.toLong > 0L, s"grpc.max_inbound_message_size must be positive, got $v")
  }
  // S3: explicit shard list (reference vitess.shard,
  // VitessConnectorConfig.java:247-256): restrict streaming to the named
  // shards. An explicit list is authoritative — the empty-shard rule does
  // not prune it, and naming a shard absent from the topology fails the
  // query start the way a real VStream request for it would.
  private val configuredShards: Option[Seq[String]] =
    Option(options.get("shard"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)
  // topology as resolved when this stream (re)started: the reshard check
  // compares against THIS set, so a restart — which re-resolves shards,
  // like the reference connector regenerating task configs — admits the
  // new topology instead of failing again
  private lazy val startupShards: Set[String] = shardFiles.map(_._1).toSet
  // H2: Vitess's own heartbeat tables stream only when opted in
  // (reference stream.keyspace.heartbeats, VitessConnectorConfig.java:228-235)
  private val streamKeyspaceHeartbeats =
    Option(options.get("stream.keyspace.heartbeats")).exists(_.toBoolean)
  private val tableFilter =
    TableFilter.fromConfig(
      Option(options.get("tables.include")), Option(options.get("tables.exclude")))
      .copy(excludeHeartbeatTables = !streamKeyspaceHeartbeats)
  // F3: snapshot.mode.tables analogue — regex list restricting which
  // tables the copy phase materializes
  private val snapshotTables: Option[TableFilter] =
    Option(options.get("snapshot.tables"))
      .map(csv => TableFilter.fromConfig(Some(csv), None))

  private val excludeEmptyShards =
    Option(options.get("exclude.empty.shards")).forall(_.toBoolean) // default true
  private val heartbeatPerBatch =
    Option(options.get("heartbeat.batch")).exists(_.toBoolean)
  // H1 interval variant: emit a heartbeat record whenever at least
  // `heartbeat.interval.ms` of stream (commit-timestamp) time has elapsed
  // since the last one; 0 disables — the reference's NOOP heartbeat
  // (VitessHeartbeatFactory.java:22-31). Event-time driven so replay is
  // deterministic (wall-clock heartbeats cannot be replayed exactly).
  private val heartbeatIntervalMs =
    Option(options.get("heartbeat.interval.ms")).map(_.toLong).getOrElse(0L)
  // D7: user-facing type-handling modes (reference
  // VitessConnectorConfig.java:123-186, 482-514); validated at stream
  // construction so a bad option fails the query start, not a task
  private val typeModes = ValueConversion.TypeModes.parse(
    Option(options.get("bigint.unsigned.handling.mode")),
    Option(options.get("binary.handling.mode")),
    Option(options.get("time.precision.mode")),
    Option(options.get("decimal.handling.mode")),
    Option(options.get("override.datetime.to.nullable")),
    Option(options.get("include.unknown.datatypes")))
  // include.schema.changes (default true): DDL records are delivered on
  // the change stream; false drops them (reference routes them to a
  // schema-change topic controlled by the same flag)
  private val includeSchemaChanges =
    Option(options.get("include.schema.changes")).forall(_.toBoolean)
  // snapshot.mode: `initial` (default) starts empty → VStream copy;
  // `never` starts from `current` and drops any copy-phase rows
  // (reference VitessConnectorConfig snapshot.mode initial|never)
  private val snapshotMode =
    Option(options.get("snapshot.mode")).getOrElse("initial") match {
      case m @ ("initial" | "never") => m
      case other => throw new IllegalArgumentException(
        s"snapshot.mode must be initial|never, got $other")
    }
  // shard.epoch.map: JSON seed for per-shard epochs at first start
  // (reference VitessConnectorConfig shard.epoch.map)
  private val seedEpochMap: Option[ShardEpochMap] =
    Option(options.get("shard.epoch.map")).map(ShardEpochMap.fromJson)
  // snapshot.mode=never drops every copy-phase row regardless of table —
  // expressed as a snapshot filter whose include list matches nothing
  private val effectiveSnapshotTables: Option[TableFilter] =
    if (snapshotMode == "never") Some(TableFilter(Seq("(?!)"), Nil))
    else snapshotTables
  // S4 start position: the `vgtid` option (`gtid` = the reference's
  // deprecated alias), else every shard at `startGtid` — `current` under
  // snapshot.mode=never (no VStream copy), else empty, which a real
  // server answers with copy
  private val explicitStart: Option[Vgtid] = opt("vgtid", "gtid").map(Vgtid.of)
  private val startGtid =
    if (snapshotMode == "never") Vgtid.CurrentGtid else Vgtid.EmptyGtid

  /** The transport seam (SURVEY S1): all raw-stream I/O below here goes
    * through this handle. `transport=file` (default) reads an existing
    * feed directory; `transport=grpc` stands up a live VTGate VStream
    * whose driver-side consumer stages events into `path` and the same
    * file mechanics serve them (see VStreamGrpcTransport — positions,
    * replay, reshard rules all unchanged). An explicit `shard` list
    * disables the empty-shard pruning — the list is authoritative. */
  private val transport: VStreamTransport =
    Option(options.get("transport")).getOrElse("file") match {
      case "file" => FileFeedTransport(path, excludeEmptyShards && configuredShards.isEmpty)
      case "grpc" =>
        val target = opt("vtgate.target")
          .orElse(opt("vtgate.host", "database.hostname").map { h =>
            s"$h:${opt("vtgate.port", "database.port").getOrElse("15991")}"
          })
          .getOrElse(throw new IllegalArgumentException(
            "transport=grpc requires vtgate.target or vtgate.host/database.hostname"))
        VStreamGrpcTransport(path, GrpcConfig(
          target = target,
          keyspace = keyspace,
          // no explicit shard list → the feeder discovers the topology
          // from vtgate via SHOW VITESS_SHARDS / VITESS_TABLETS over the
          // Execute RPC (reference VitessMetadata.getShards)
          shards = configuredShards.getOrElse(Nil),
          // reference default FALSE (VitessConnectorConfig.java:296-302):
          // discovery uses SHOW VITESS_SHARDS unless the user opts into
          // the VITESS_TABLETS serving-shards scan. (The file transport
          // defaults the analogous pruning to true because staged feed
          // dirs routinely hold empty shard files.)
          excludeEmptyShards =
            opt("exclude.empty.shards").exists(_.toBoolean),
          // reference tasks.max: min(tasks.max, #shards) concurrent
          // VStreams over round-robin shard groups (VitessConnector
          // .java:87-156) — the ingest scale-out axis
          maxStreams = opt("vstream.count", "tasks.max").map(_.toInt).getOrElse(1),
          tabletType = Option(options.get("tablet.type")).getOrElse("MASTER"),
          stopOnReshard = stopOnReshard,
          streamKeyspaceHeartbeats = streamKeyspaceHeartbeats,
          // VStreamFlags.heartbeat_interval has 1-second granularity and
          // 0 means OFF: a configured sub-second interval clamps to 1s
          // instead of truncating to 0 and silently disabling the
          // server-side liveness signal on idle shards
          heartbeatSeconds =
            if (heartbeatIntervalMs <= 0L) 0
            else math.max(1L, heartbeatIntervalMs / 1000L).toInt,
          // VStreamFlags tablet-selection surface (vtgate.proto fields
          // 4/5/6/8) — pass-through options, applied server-side
          cells = Option(options.get("vstream.cells"))
            .map(GrpcOptions.csv).getOrElse(Nil),
          cellPreference = Option(options.get("vstream.cell.preference")).getOrElse(""),
          tabletOrder = Option(options.get("vstream.tablet.order")).getOrElse(""),
          includeReshardJournalEvents =
            opt("vstream.include.reshard.journal.events").exists(_.toBoolean),
          includeTables = Option(options.get("tables.include"))
            .map(GrpcOptions.csv).getOrElse(Nil),
          tablesToCopy = Option(options.get("snapshot.tables"))
            .map(GrpcOptions.csv).getOrElse(Nil),
          // reference exclude.keyspace.from.table.name ("boosts VTGate
          // performance significantly", VitessConnectorConfig.java:237-245);
          // the decoder already handles bare wire table names either way
          excludeKeyspaceFromTableName =
            opt("exclude.keyspace.from.table.name").exists(_.toBoolean),
          // each VStream starts where the query does — at its shard's
          // entry in an explicit vgtid, else at the start GTID — so
          // staging never holds pre-start history
          initialVgtid = Vgtid(explicitStart.fold(Seq.empty[ShardGtid])(_.shardGtids) :+
            ShardGtid(keyspace, "", startGtid)),
          // feeder placement (driver | executors) — see GrpcConfig; a
          // third shape, external per-host GrpcFeederMain processes,
          // pairs with transport=file reads and needs no option here
          feederMode = Option(options.get("feeder.mode")).getOrElse("driver"),
          maxBufferedTxBytes = Option(options.get("max.buffered.tx.bytes"))
            .map(_.toLong).getOrElse(64L * 1024 * 1024),
          keepaliveMs = Option(options.get("keepalive.interval.ms")).map(_.toLong),
          maxInboundMessageSize =
            Option(options.get("grpc.max_inbound_message_size")).map(_.toInt),
          loadBalancingPolicy = Option(options.get("grpc.default.load.balancing.policy")),
          headers = Option(options.get("grpc.headers"))
            .map(GrpcOptions.headers).getOrElse(Map.empty),
          username = opt("vtgate.user", "database.user"),
          password = opt("vtgate.password", "database.password")))
      case other => throw new IllegalArgumentException(
        s"transport must be file|grpc, got $other")
    }

  /** (shard, locator) topology as the transport currently sees it (F5:
    * empty shards already excluded by the file transport), restricted to
    * the configured `shard` list when one is set. */
  private def shardFiles: Seq[(String, String)] = {
    val all = transport.listShards()
    configuredShards match {
      case None => all
      case Some(names) =>
        val byName = all.toMap
        names.distinct.sorted.map { sh =>
          sh -> byName.getOrElse(sh, throw new IllegalArgumentException(
            s"configured shard '$sh' is not present in the topology " +
              s"[${all.map(_._1).mkString(", ")}]"))
        }
    }
  }

  /** S4: explicit `vgtid` option, else `startGtid` for every discovered
    * shard (empty would trigger VStream copy on a real server), each
    * shard at the cursor [[startAt]] gives. */
  override def initialOffset(): Offset = {
    val start = explicitStart match {
      case Some(v) =>
        // reference validateVgtids: an explicit vgtid must cover exactly
        // the configured shard list when both are set
        configuredShards.foreach { names =>
          val vs = v.shardGtids.map(_.shard).toSet
          require(vs == names.toSet,
            s"vgtid shards [${vs.toSeq.sorted.mkString(", ")}] must match the " +
              s"configured shard list [${names.sorted.mkString(", ")}]")
        }
        v.shardGtids
      case None => shardFiles.map { case (sh, _) => ShardGtid(keyspace, sh, startGtid) }
    }
    val epochs = seedEpochMap.getOrElse(ShardEpochMap.init(start.map(_.shard)))
    VgtidOffset.of(start.map(startAt(_, epochs)), epochs, generation)
  }

  // resolved starts by seed cursor: one start per stream
  private val starts = scala.collection.concurrent.TrieMap.empty[ShardCursor, ShardCursor]

  /** Shard `sg.shard`'s cursor at `sg` with no byte position known, its
    * epoch seeded from `epochs` — the one position test that picks bytes.
    * A shard at `''`/`current` starts at byte 0. A shard at a real GTID
    * (an explicit `vgtid` start, or a checkpoint written without
    * positions) folds its feed from byte 0 with its [[ShardTxStep]]
    * seeded at that GTID: history ends right after the last transaction
    * (or bare VGTID) whose position is not after the start, before the
    * first one that is, so a standalone DDL inside history stays history
    * and one right after it is delivered. The cursor there carries the
    * byte position, step and schema checkpoint (history's FIELD lines
    * included). A VStream started at a VGTID never sends earlier events;
    * this is the same rule over a feed that holds them. A file feed that
    * has not yet reached the start ends history at its last transaction,
    * so transactions appended later at or before the start are delivered.
    * Memoized per stream, so batch 0's start is one value. */
  private def startAt(sg: ShardGtid, epochs: ShardEpochMap): ShardCursor = {
    val seed = ShardCursor(0L, ShardTxStep(sg, seedEpoch(sg.shard, epochs)), Map.empty)
    if (!sg.hasPosition) seed
    else starts.getOrElseUpdate(seed,
      transport.listShards().toMap.get(sg.shard).fold(seed)(historyEnd(sg.shard, _, seed)))
  }

  /** The cursor right after `start`'s history in `file` (see
    * [[startAt]]): the fold stops on the first transaction after
    * `start`, and history ends at the last COMMIT or bare VGTID before it. */
  private def historyEnd(shard: String, file: String, start: ShardCursor): ShardCursor = {
    var end = start
    val fold = new TxBoundaryFold(shard, start, heartbeatIntervalMs = 0L, Long.MaxValue)
    fold.foldFeed(transport, file, sizeOf(file)) { (line, safe) =>
      safe.exists(_.step.after(start.step)) || {
        if (line.startsWith(FeedSlice.CommitPrefix) || line.startsWith(FeedSlice.VgtidPrefix))
          safe.foreach(c => end = c)
        false
      }
    }
    end
  }

  /** `file`'s size; None for a feed deleted between listing and sizing
    * (a retired reshard parent). */
  private def sizeOf(file: String): Option[Long] =
    try Some(transport.size(file)) catch { case _: NoSuchFileException => None }

  // Backpressure analogue of the reference's bounded queue
  // (VitessConnectorTask.java:118-125): cap how many new transactions a
  // micro-batch admits per shard. The two options set only the default
  // read limit; admission reads the limit Spark passes (see `caps`).
  private val maxTxsPerTrigger: Long =
    Option(options.get("max.txs.per.trigger")).map(_.toLong).getOrElse(Long.MaxValue)
  require(maxTxsPerTrigger > 0L, s"max.txs.per.trigger must be positive, got $maxTxsPerTrigger")

  // Byte-based twin of the tx cap: the tx cap alone cannot bound batch
  // MEMORY (one trigger can admit `cap` arbitrarily fat transactions), so
  // this bounds admitted bytes per shard per trigger. Both caps compose —
  // admission stops at the first transaction-safe boundary past EITHER
  // limit. A single transaction larger than the byte cap is still
  // admitted whole (boundaries are the correctness floor: a batch window
  // must never split a transaction), so the true bound per shard is
  // max(cap, largest-single-tx).
  private val maxBytesPerTrigger: Long =
    Option(options.get("max.bytes.per.trigger")).map(_.toLong).getOrElse(Long.MaxValue)
  require(maxBytesPerTrigger > 0L,
    s"max.bytes.per.trigger must be positive, got $maxBytesPerTrigger")

  // Transactions admitted since stream start, summed over the offsets
  // latestOffset returned (the `admittedTransactions` metric); written
  // only on the trigger thread
  @volatile private var admittedTotal = 0L

  // The offset latestOffset last returned and its folds' split cursors,
  // by shard. The cursors are a planning hint, not part of the offset:
  // dropping one only makes a partition larger. Written only on the
  // trigger thread.
  @volatile private var lastSplits: Option[(VgtidOffset, Map[String, Seq[ShardCursor]])] = None

  // Trigger.AvailableNow's target: each shard's size when the query
  // started. Admission folds no further, so bytes appended later (and
  // shards that appear later) wait for the next query.
  @volatile private var availableNow: Option[Map[String, Long]] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNow = Some(shardFiles.flatMap { case (shard, file) => sizeOf(file).map(shard -> _) }.toMap)

  /** The configured caps as a read limit. Spark hands it back to
    * `latestOffset`, except under `Trigger.Once`, which passes
    * `allAvailable`. */
  override def getDefaultReadLimit: ReadLimit = {
    val limits = Seq(
      Option.when(maxTxsPerTrigger != Long.MaxValue)(ReadLimit.maxRows(maxTxsPerTrigger)),
      Option.when(maxBytesPerTrigger != Long.MaxValue)(ReadLimit.maxBytes(maxBytesPerTrigger))
    ).flatten
    limits match {
      case Seq()  => ReadLimit.allAvailable()
      case Seq(l) => l
      case many   => ReadLimit.compositeLimit(many.toArray)
    }
  }

  /** The per-shard (transaction, byte) caps `limit` sets; `Long.MaxValue`
    * for a cap it does not set. */
  private def caps(limit: ReadLimit): (Long, Long) = limit match {
    case r: ReadMaxRows => (r.maxRows, Long.MaxValue)
    case b: ReadMaxBytes => (Long.MaxValue, b.maxBytes)
    case c: CompositeReadLimit =>
      c.getReadLimits.map(caps).foldLeft((Long.MaxValue, Long.MaxValue)) {
        case ((t, b), (t2, b2)) => (math.min(t, t2), math.min(b, b2))
      }
    case _ => (Long.MaxValue, Long.MaxValue) // allAvailable
  }

  /** Epoch seed for a shard not yet in the map: with inherit.epoch a
    * reshard child starts at max(overlapping parents) + 1 (A4,
    * ShardLineage); otherwise 0. */
  private def seedEpoch(shard: String, epochs: ShardEpochMap): Long =
    epochs.get(shard).getOrElse(
      if (inheritEpoch) ShardLineage.inheritedEpoch(shard, epochs) else 0L)

  /** Admission control (S8): one fold per shard per trigger.
    *
    * Every shard's [[TxBoundaryFold]] is seeded from the trigger's start
    * offset and reads that shard's new bytes, up to the size measured at
    * the start of the trigger (under `Trigger.AvailableNow`, no further
    * than the size measured when the query started), stepping the
    * shard's [[ShardTxStep]] by the rules the readers apply to the same
    * lines. Shards fold in parallel on the JVM's
    * global pool (the stream owns no threads); their cursors, split
    * cursors and epochs merge in shard order. A fold stops at the first
    * transaction boundary past the transaction or byte cap of `limit`
    * (`maxRows`, `maxBytes`, or both in a composite limit); under
    * `allAvailable` it reads to the measured size. Per-trigger
    * work is O(new bytes), or O(cap) with a cap, never O(feed). A torn
    * trailing transaction holds its shard's cursor back until the
    * trigger after its COMMIT lands.
    *
    * Split size (S9): ceil(new bytes / `defaultParallelism`), summing
    * each shard's `size - position` capped at the byte cap —
    * Spark's `FilePartition.maxSplitBytes` rule without its floor or
    * ceiling. Kept split cursors lie within their shard's new bytes, a
    * split size apart, so a trigger keeps at most `defaultParallelism`.
    * They stay with the stream, next to the returned offset, for
    * `planInputPartitions`; the offset holds positions only.
    *
    * Exactly-once holds because the byte position and the folded epochs
    * live in the same atomic offset JSON — bytes before
    * `feed_positions[shard]` are already reflected in
    * `transaction_epoch`. Every shard of the start offset's vgtid has a
    * cursor; a shard new to it (a reshard child, or one added by widening
    * the `shard` list) folds from byte 0 at an empty GTID. The offset
    * records each fold's safe cursor as it is. Seeds read only the START
    * offset's epochs, never a sibling shard folded in the same trigger:
    * the readers seed from the same offset (planInputPartitions), so a
    * reshard child whose parent changes epoch in this trigger carries one
    * epoch in both. The cursor only advances at out-of-transaction line
    * boundaries so a batch window never splits a transaction; FIELD
    * (schema) lines are checkpointed per (shard, table) so seeked readers
    * decode without history. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val from = start.asInstanceOf[VgtidOffset]
    // An explicit shard list narrowed against an existing checkpoint would
    // silently drop the excluded shards' positions from every offset this
    // fold writes (and a later widening would replay their history from
    // scratch) — fail fast instead. Without an explicit list, discovery
    // governs and a disappearing shard is the reshard path, not an error.
    configuredShards.foreach { names =>
      val dropped = from.vgtid.shardGtids.map(_.shard).toSet -- names.toSet
      if (dropped.nonEmpty)
        throw new IllegalStateException(
          s"shard option [${names.sorted.mkString(", ")}] does not cover checkpointed " +
            s"shard(s) [${dropped.toSeq.sorted.mkString(", ")}]; narrowing the shard list " +
            "against an existing checkpoint would drop their positions — use a new " +
            "checkpoint location for the restricted query instead")
    }
    if (stopOnReshard) {
      val fresh = shardFiles.map(_._1).filterNot(startupShards)
      if (fresh.nonEmpty)
        throw new IllegalStateException(
          s"stop.on.reshard: new shard(s) ${fresh.mkString(", ")} appeared after " +
            s"start topology [${startupShards.toSeq.sorted.mkString(", ")}]; restart " +
            "the query from this checkpoint to stream the resharded topology")
    }
    val (maxTxs, maxBytes) = caps(limit)
    // a feed deleted between listing and sizing or reading (retired
    // reshard parent) admits nothing this trigger instead of failing it
    val shards = shardFiles.map { case (shard, file) =>
      val size = sizeOf(file).map(s => availableNow.fold(s)(t => math.min(s, t.getOrElse(shard, 0L))))
      (shard, file, cursorAt(from, shard), size)
    }
    val newBytes = shards.map { case (_, _, seed, size) =>
      size.fold(0L)(to => math.min(math.max(0L, to - seed.pos), maxBytes))
    }.sum
    val cores = SparkSession.active.sparkContext.defaultParallelism
    val splitBytes = if (newBytes == 0L) Long.MaxValue else (newBytes + cores - 1) / cores
    val folded = {
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.traverse(shards) { case (shard, file, seed, size) =>
        Future {
          // stop at the first transaction boundary past either cap (the
          // measured size when none is set)
          val fold = new TxBoundaryFold(shard, seed, heartbeatIntervalMs, splitBytes)
          fold.foldFeed(transport, file, size) { (_, safe) =>
            safe.exists(c => fold.admitted >= maxTxs || c.pos - seed.pos >= maxBytes)
          }
          fold
        }
      }, Duration.Inf)
    }
    val splits = shards.zip(folded).flatMap { case ((shard, _, _, _), fold) =>
      Some(fold.splits.filter(_.pos < fold.safe.pos)).filter(_.nonEmpty).map(shard -> _)
    }.toMap
    assert(splits.values.map(_.size).sum <= cores,
      s"split cursors must not outnumber the $cores cores")
    val end = VgtidOffset.of(folded.map(_.safe), from.epochs, generation)
    lastSplits = Some(end -> splits)
    admittedTotal += folded.map(_.admitted).sum
    end
  }

  /** Spark calls `latestOffset(start, limit)` on a source with admission
    * control; a fold from [[initialOffset]] would be O(feed). */
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this method")

  /** Shard `shard`'s cursor at offset `o`; a shard new to `o` starts at
    * byte 0 at an empty GTID. */
  private def cursorAt(o: VgtidOffset, shard: String): ShardCursor =
    o.cursor(shard).getOrElse(startAt(ShardGtid(keyspace, shard, Vgtid.EmptyGtid), o.epochs))

  /** One partition per segment of each shard's byte window
    * [start position, end position); a shard with no new bytes plans none
    * (standalone DDL/schema lines advance bytes without the VGTID, so
    * bytes, not positions, say what is new).
    *
    * Intra-shard fan-out: when `end` is the offset `latestOffset` last
    * returned (Spark's `Offset.equals` compares JSON), each shard's window
    * is cut at that fold's split cursors — transaction-safe mid-shard
    * seeds (see latestOffset's split size). A segment starts at its cursor
    * exactly like a batch starts at its offset's. Any other `end` (a
    * batch replayed from the checkpoint after a restart) plans one
    * segment per shard: the same transactions, in fewer partitions. */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VgtidOffset]
    val e = end.asInstanceOf[VgtidOffset]
    val splits = lastSplits.collect { case (o, sp) if o == e => sp }.getOrElse(Map.empty)
    shardFiles.flatMap { case (shard, file) =>
      val from = cursorAt(s, shard)
      val endByte = e.cursor(shard).fold(0L)(_.pos)
      if (from.pos >= endByte) Nil
      else {
        val cuts = splits.getOrElse(shard, Nil)
          .filter(c => c.pos > from.pos && c.pos < endByte)
          .sortBy(_.pos)
        // per-batch (not per-segment) liveness: only the last segment,
        // which ends at the batch's end offset, emits the batch heartbeat
        (from +: cuts).zip(cuts.map(_.pos) :+ endByte).map { case (seed, to) =>
          VitessCdcPartition(shard, file, seed, to, heartbeatPerBatch && to == endByte)
        }
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    VitessCdcReaderFactory(
      transport, emitBoundaries, tableFilter, effectiveSnapshotTables, typeModes,
      heartbeatIntervalMs, includeSchemaChanges)

  /** Streaming-source metrics surfaced into StreamingQueryProgress
    * (reference `metrics/VitessStreamingChangeEventSourceMetrics.java:22-30`
    * — thin wrappers over Debezium's default streaming metrics; the
    * Spark-native seat for the same numbers is ReportsSourceMetrics,
    * which lands them in `progress.sources[].metrics` next to Spark's
    * own rows/sec):
    *
    *  - `shards` — current topology size (the reference's task count)
    *  - `lagBytes` — feed bytes not yet consumed by the query, from the
    *    transport's high-water positions vs the consumed offset (the
    *    queue-depth analogue; -1 when the transport can't report sizes)
    *  - `admittedTransactions` — cumulative transactions admitted since
    *    stream start (the committed-transactions counter)
    */
  override def metrics(latestConsumedOffset: java.util.Optional[Offset]): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    val files = try shardFiles catch { case _: Exception => Seq.empty[(String, String)] }
    m.put("shards", files.size.toString)
    val consumed: Option[VgtidOffset] =
      Option(latestConsumedOffset.orElse(null)).map {
        case v: VgtidOffset => v
        case o => deserializeOffset(o.json()).asInstanceOf[VgtidOffset] // SerializedOffset post-restart
      }
    var lag = 0L
    var sized = true
    files.foreach { case (sh, loc) =>
      // a feed removed between listing and sizing (retired reshard
      // parent) must not fail the query from an observability call
      val size = try transport.size(loc) catch { case _: Exception => -1L }
      if (size < 0) sized = false
      else lag += math.max(0L, size - consumed.flatMap(_.cursor(sh)).fold(0L)(_.pos))
    }
    m.put("lagBytes", if (sized) lag.toString else "-1")
    m.put("admittedTransactions", admittedTotal.toString)
    m
  }

  /** An offset entering the stream from the checkpoint: bumped once on a
    * generation change (A5), its unpositioned shards resolved by
    * [[startAt]]. */
  override def deserializeOffset(json: String): Offset =
    VgtidOffset.fromJson(json, Some(generation), startAt)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = transport.close()
}

/** One segment of a shard's batch window: the fold's cursor at the
  * segment start (byte position, step, schema checkpoint) and the end
  * byte. `batchHeartbeat` marks the segment that ends at the batch's end
  * offset. Everything stream-wide travels once, in the reader factory. */
final case class VitessCdcPartition(
    shard: String,
    file: String, // transport locator (feed-file path for the file feed)
    seed: ShardCursor,
    endByte: Long,
    batchHeartbeat: Boolean)
    extends InputPartition

/** The stream-wide reader settings, shipped to executors once per batch. */
final case class VitessCdcReaderFactory(
    transport: VStreamTransport,
    emitBoundaries: Boolean = false,
    tableFilter: TableFilter = TableFilter.acceptAll,
    snapshotTables: Option[TableFilter] = None,
    typeModes: ValueConversion.TypeModes = ValueConversion.TypeModes.default,
    heartbeatIntervalMs: Long = 0L, // 0 = NOOP heartbeat
    includeSchemaChanges: Boolean = true)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new VitessCdcPartitionReader(partition.asInstanceOf[VitessCdcPartition], this)
}

/** Executor-side reader: seeks to the segment's byte window
  * [seed.pos, endByte) of the shard feed and delivers every transaction
  * in it — the byte window is the batch. It runs `CdcPipeline`'s loop:
  * assembled transactions into one [[RecordBuilder]] seeded with the
  * fold's step and schema checkpoint, which applies every per-transaction
  * rule (the fold's, over the same lines), so each transaction takes the
  * epoch the offsets record and every position a record or heartbeat
  * carries is the step's. */
class VitessCdcPartitionReader(
    p: VitessCdcPartition,
    f: VitessCdcReaderFactory) extends PartitionReader[InternalRow] {

  // E1: transient I/O on stream open is retried with backoff; everything
  // else surfaces to Spark's task retry + restart-from-checkpoint
  private val slice =
    Retry.withRetries(maxAttempts = 3)(f.transport.open(p.file, p.seed.pos, p.endByte))

  private val rb = {
    val registry = new SchemaRegistry(f.typeModes)
    // replay the checkpointed schema lines, sorted for determinism (a real
    // VStream re-sends FIELD events on reconnect; the file feed can't, so
    // the offset carries them)
    p.seed.schemas.toSeq.sortBy(_._1).map(e => VEventJson.read(e._2))
      .collect { case fe: FieldEvent => fe }.foreach(registry.update(p.shard, _))
    new RecordBuilder(
      registry, p.seed.step, f.emitBoundaries,
      tableFilter = f.tableFilter, snapshotTableFilter = f.snapshotTables,
      typeModes = f.typeModes, includeSchemaChanges = f.includeSchemaChanges,
      heartbeatIntervalMs = f.heartbeatIntervalMs)
  }

  /** The shard's per-transaction state as of the last line read. */
  private[sources] def step: ShardTxStep = rb.step

  private val rows: Iterator[InternalRow] = {
    val records =
      TransactionAssembler.assemble(slice.lines.map(VEventJson.read)).flatMap(rb.onTransaction)
    // H1: one liveness record per shard per batch carrying the end offset
    // — the step after the last segment (its position and keyspace), read
    // once the records are drained
    // (reference VitessHeartbeatImpl.java:47-77 — emitted alongside data;
    // skipped while no offset exists yet, i.e. a fresh empty start)
    def heartbeat: Iterator[ChangeRecord] =
      if (p.batchHeartbeat && rb.step.sg.gtid != Vgtid.EmptyGtid) {
        val at = Vgtid(Seq(rb.step.sg)).json
        Iterator.single(ChangeRecord(
          p.shard, rb.step.sg.keyspace, "", "heartbeat", None, None, None,
          0L, at, at, None, rb.step.epoch, None, 0L, 0L))
      } else Iterator.empty
    (records ++ heartbeat).map(VitessCdc.toInternalRow)
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current
  override def close(): Unit = slice.close()
}
