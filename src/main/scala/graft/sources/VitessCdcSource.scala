package graft.sources

import com.fasterxml.jackson.databind.ObjectMapper
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
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReportsSourceMetrics, SupportsAdmissionControl}
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
  * - Offset (S8): JSON `{"vgtid": [...], "transaction_epoch": {...},
  *   "connector_generation": N}` — the reference's offset-map keys
  *   (VitessOffsetContext.getOffset:92-100); vgtid JSON is the
  *   checkpoint-interoperable wire format.
  * - Initial position (S4): the `vgtid` option, else empty GTIDs for all
  *   discovered shards (the copy-phase trigger position)
  *   (VitessReplicationConnection.defaultVgtid:437-480).
  * - Partitioning (S9): one InputPartition per segment of a shard's
  *   window (cut at the derived split size, see `latestOffset`) — the
  *   elastic equivalent of the reference's shard→task round-robin
  *   (VitessConnector.java:126-133).
  * - Resume semantics (O1/O2): a batch covers transactions with position
  *   in (start, end] per shard by (epoch, rank) ([[ShardTxStep]]); since
  *   records of tx N carry tx N-1's position as restart offset, replay
  *   from a record's offset re-reads its whole transaction, no loss.
  *
  * Options: `path` (feed dir), `vgtid` (initial VGTID JSON), `keyspace`,
  * `shard` (explicit comma-separated shard list; authoritative — not
  * pruned by exclude.empty.shards, unknown shards fail fast),
  * `tables.include` / `tables.exclude` (comma-separated regexes, S3
  * server-side filter analogue), `boundaries` (emit begin/end records),
  * `generation` (connector generation; a change bumps all epochs, A5),
  * `max.txs.per.trigger` / `max.bytes.per.trigger` (positive per-shard
  * admission caps). The split size is derived, not an option.
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

/** Streaming offset: the reference's offset map as JSON, extended with
  * two scale-critical fields the reference keeps server-side:
  *
  *  - `feed_positions` — per-shard safe byte position (always a line
  *    boundary between transactions). The next trigger's scan and the
  *    batch readers SEEK here instead of replaying the feed from byte 0,
  *    making per-trigger work O(new bytes) instead of O(total feed).
  *  - `schemas` — latest FIELD (schema) wire line per (shard, table). A
  *    real VStream re-sends FIELD events on reconnect at a VGTID; a file
  *    feed has no server to re-send them, so the offset checkpoints the
  *    schema registry (the analogue of Debezium's schema history).
  *
  * Both are optional: an offset without them falls back to the
  * whole-file scan with the position filter (which remains the
  * correctness backstop in all modes). */
final case class VgtidOffset(
    vgtid: Vgtid,
    epochs: ShardEpochMap,
    generation: Long,
    positions: Map[String, Long] = Map.empty,
    schemas: Map[String, Map[String, String]] = Map.empty,
    // per-shard interval-heartbeat baseline (commit-time ms): carried in
    // the checkpoint so the cadence survives batch boundaries — a
    // per-reader baseline would reset every micro-batch and never fire
    // under bounded triggers
    hbMs: Map[String, Long] = Map.empty,
    // intra-shard split cursors for THIS batch's window (see
    // latestOffset's split size): transaction-safe mid-shard seeds the
    // planner fans one shard's byte range out to. Carried in the offset
    // so a recovered batch replans the identical segments.
    splits: Map[String, Seq[ShardCursor]] = Map.empty)
    extends Offset {
  override def json(): String = {
    val m = new ObjectMapper()
    val o = m.createObjectNode()
    o.set[com.fasterxml.jackson.databind.JsonNode]("vgtid", m.readTree(vgtid.json))
    o.set[com.fasterxml.jackson.databind.JsonNode]("transaction_epoch", m.readTree(epochs.json))
    o.put("connector_generation", generation)
    // sorted keys: Spark compares offset JSON strings to detect "no new
    // data" — serialization must be deterministic
    if (positions.nonEmpty) {
      val p = o.putObject("feed_positions")
      positions.toSeq.sortBy(_._1).foreach { case (sh, b) => p.put(sh, b) }
    }
    if (schemas.nonEmpty) {
      val s = o.putObject("schemas")
      schemas.toSeq.sortBy(_._1).foreach { case (sh, tables) =>
        val t = s.putObject(sh)
        tables.toSeq.sortBy(_._1).foreach { case (tbl, line) => t.put(tbl, line) }
      }
    }
    if (hbMs.nonEmpty) {
      val h = o.putObject("heartbeat_ms")
      hbMs.toSeq.sortBy(_._1).foreach { case (sh, t) => h.put(sh, t) }
    }
    if (splits.exists(_._2.nonEmpty)) {
      val sp = o.putObject("feed_splits")
      splits.toSeq.sortBy(_._1).foreach { case (sh, cs) =>
        if (cs.nonEmpty) {
          val arr = sp.putArray(sh)
          cs.sortBy(_.pos).foreach { c =>
            val n = arr.addObject()
            n.put("pos", c.pos)
            n.set[com.fasterxml.jackson.databind.JsonNode](
              "gtid", m.readTree(Vgtid(Seq(c.step.sg)).json))
            n.put("epoch", c.step.epoch)
            if (c.step.hbMs != ShardTxStep.NoBaseline) n.put("hb", c.step.hbMs)
            if (c.schemas.nonEmpty) {
              val t = n.putObject("schemas")
              c.schemas.toSeq.sortBy(_._1).foreach { case (tbl, line) => t.put(tbl, line) }
            }
          }
        }
      }
    }
    m.writeValueAsString(o)
  }
}

object VgtidOffset {
  def fromJson(json: String): VgtidOffset = {
    val m = new ObjectMapper()
    val n = m.readTree(json)
    val positions = Option(n.get("feed_positions")).map { p =>
      p.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val schemas = Option(n.get("schemas")).map { s =>
      s.fields().asScala.map { e =>
        e.getKey -> e.getValue.fields().asScala
          .map(t => t.getKey -> t.getValue.asText()).toMap
      }.toMap
    }.getOrElse(Map.empty[String, Map[String, String]])
    VgtidOffset(
      Vgtid.of(m.writeValueAsString(n.get("vgtid"))),
      Option(n.get("transaction_epoch"))
        .map(e => ShardEpochMap.fromJson(m.writeValueAsString(e)))
        .getOrElse(ShardEpochMap.empty),
      Option(n.get("connector_generation")).map(_.asLong()).getOrElse(1L),
      positions,
      schemas,
      Option(n.get("heartbeat_ms")).map { h =>
        h.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap
      }.getOrElse(Map.empty[String, Long]),
      Option(n.get("feed_splits")).map { sp =>
        sp.fields().asScala.map { e =>
          e.getKey -> e.getValue.elements().asScala.map { c =>
            ShardCursor(
              c.get("pos").asLong(),
              ShardTxStep(
                Vgtid.of(m.writeValueAsString(c.get("gtid"))).shardGtids.head,
                c.get("epoch").asLong(),
                Option(c.get("hb")).map(_.asLong()).getOrElse(ShardTxStep.NoBaseline)),
              Option(c.get("schemas")).map(_.fields().asScala
                .map(t => t.getKey -> t.getValue.asText()).toMap)
                .getOrElse(Map.empty[String, String]),
              admitted = 0L)
          }.toSeq
        }.toMap
      }.getOrElse(Map.empty[String, Seq[ShardCursor]]))
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
    extends MicroBatchStream with SupportsAdmissionControl with ReportsSourceMetrics {
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
          initialGtid =
            if (snapshotMode == "never") Vgtid.CurrentGtid else Vgtid.EmptyGtid,
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

  /** S4: explicit `vgtid` option, else empty GTIDs for every discovered
    * shard (would trigger VStream copy on a real server). */
  override def initialOffset(): Offset = {
    def seeded(shards: Seq[String]): ShardEpochMap =
      seedEpochMap.getOrElse(ShardEpochMap.init(shards))
    opt("vgtid", "gtid") match { // `gtid` = the reference's deprecated alias
      case Some(json) =>
        val v = Vgtid.of(json)
        // reference validateVgtids: an explicit vgtid must cover exactly
        // the configured shard list when both are set
        configuredShards.foreach { names =>
          val vs = v.shardGtids.map(_.shard).toSet
          require(vs == names.toSet,
            s"vgtid shards [${vs.toSeq.sorted.mkString(", ")}] must match the " +
              s"configured shard list [${names.sorted.mkString(", ")}]")
        }
        VgtidOffset(v, seeded(v.shardGtids.map(_.shard)), generation)
      case None =>
        val shards = shardFiles.map(_._1)
        // snapshot.mode=never starts at `current` (no VStream copy);
        // `initial` starts empty, which a real server answers with copy
        val startGtid =
          if (snapshotMode == "never") Vgtid.CurrentGtid else Vgtid.EmptyGtid
        VgtidOffset(
          Vgtid(shards.map(sh => ShardGtid(keyspace, sh, startGtid))),
          seeded(shards),
          generation)
    }
  }

  // Backpressure analogue of the reference's bounded queue
  // (VitessConnectorTask.java:118-125): cap how many new transactions a
  // micro-batch admits per shard.
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

  /** Surface the configured caps through the public admission-control
    * API (the engine hands this back to `latestOffset`; the fold reads
    * the same option-derived values, so the two always agree). */
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
    * the start of the trigger, stepping the shard's [[ShardTxStep]] by
    * the rules the readers apply to the same lines. Shards fold in parallel on the JVM's
    * global pool (the stream owns no threads); their cursors, split
    * cursors and epochs merge in shard order. A fold stops at the first
    * transaction boundary past `max.txs.per.trigger` or
    * `max.bytes.per.trigger`; with neither set it reads to the measured
    * size, so `allAvailable` admits everything available. Per-trigger
    * work is O(new bytes), or O(cap) with a cap, never O(feed). A torn
    * trailing transaction holds its shard's cursor back until the
    * trigger after its COMMIT lands.
    *
    * Split size (S9): ceil(new bytes / `defaultParallelism`), summing
    * each shard's `size - position` capped at `max.bytes.per.trigger` —
    * Spark's `FilePartition.maxSplitBytes` rule without its floor or
    * ceiling. Kept split cursors lie within their shard's new bytes, a
    * split size apart, so a trigger records at most `defaultParallelism`.
    *
    * Exactly-once holds because the byte position and the folded epochs
    * live in the same atomic offset JSON — bytes before
    * `feed_positions[shard]` are already reflected in
    * `transaction_epoch`. A shard with no recorded position (first
    * trigger, explicit-`vgtid` offset, reshard child) folds the whole
    * file from the initial baseline — idempotent under the readers'
    * position filter, so legacy restarts can't double-count a host
    * change. A generation change vs the offset's stored generation bumps
    * every epoch once (A5). Seeds read only the START offset's epochs,
    * never a sibling shard folded in the same trigger: the readers seed
    * from the same map (planInputPartitions), so a reshard child whose
    * parent changes epoch in this trigger carries one epoch in both. The
    * cursor only advances at out-of-transaction line boundaries so a
    * batch window never splits a transaction; FIELD (schema) lines are
    * checkpointed per (shard, table) so seeked readers decode without
    * history. */
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
    lazy val init = initialOffset().asInstanceOf[VgtidOffset]
    lazy val bumpedInit = EpochProvider.applyGeneration(init.epochs, from.generation, generation)
    val startEpochs = EpochProvider.applyGeneration(from.epochs, from.generation, generation)
    /** Seed cursor for one shard. Positions compare by (epoch, rank,
      * copy-phase lastpk progress) so copy batches advance the offset even
      * while the GTID stays fixed; epoch fallbacks inherit from the
      * generation-BUMPED map so a reshard child appearing across a
      * generation-change restart seeds from its parents' post-bump
      * epochs (the same map the readers see). */
    def seedCursor(shard: String, startSg: ShardGtid): ShardCursor = {
      val seekFrom = from.positions.get(shard)
      val sg = seekFrom match {
        case Some(_) => startSg // incremental: fold continues from the offset
        case None => init.vgtid.shardGtid(shard)
          .getOrElse(ShardGtid(keyspace, shard, Vgtid.EmptyGtid))
      }
      val epoch = seekFrom match {
        case Some(_) => seedEpoch(shard, startEpochs)
        case None if from.epochs.get(shard).isDefined => bumpedInit.get(shard).getOrElse(0L)
        case None => seedEpoch(shard, startEpochs) // reshard child (A4)
      }
      ShardCursor(
        seekFrom.getOrElse(0L),
        ShardTxStep(sg, epoch, from.hbMs.getOrElse(shard, ShardTxStep.NoBaseline)),
        from.schemas.getOrElse(shard, Map.empty[String, String]),
        admitted = 0L)
    }
    /** Fold one shard's new bytes from `seed` up to the first transaction
      * boundary past either cap (the measured `size` when none is set):
      * the last safe cursor and the split cursors below it. */
    def foldShard(
        shard: String, file: String, start: ShardTxStep, seed: ShardCursor,
        size: Option[Long], splitBytes: Long): (ShardCursor, Seq[ShardCursor]) = {
      val fold = new TxBoundaryFold(
        shard, keyspace, seed, start, heartbeatIntervalMs, splitBytes)
      val slice = size.flatMap { to =>
        try Some(transport.open(file, seed.pos, to))
        catch { case _: NoSuchFileException => None }
      }
      slice.foreach { sl =>
        try {
          var line = sl.readLine()
          var stop = false
          while (line != null && !stop) {
            fold.onLine(line, sl.position)
            // a cursor AT the slice position means the fold just
            // published a safe boundary on this line
            stop = fold.safe.pos == sl.position &&
              (fold.safe.admitted >= maxTxsPerTrigger ||
                fold.safe.pos - seed.pos >= maxBytesPerTrigger)
            if (!stop) line = sl.readLine()
          }
        } finally sl.close()
      }
      // admitted is fold-internal progress, meaningless to readers —
      // zero it so offset JSON round-trips compare equal
      val splits = fold.splits.filter(_.pos < fold.safe.pos)
        .map(_.copy(admitted = 0L))
      (fold.safe, splits)
    }
    val shards = shardFiles.map { case (shard, file) =>
      val startSg = from.vgtid.shardGtid(shard)
        .getOrElse(ShardGtid(keyspace, shard, Vgtid.EmptyGtid))
      // a feed deleted between listing and sizing or reading (retired
      // reshard parent) admits nothing this trigger instead of failing it
      val size =
        try Some(transport.size(file)) catch { case _: NoSuchFileException => None }
      (shard, file, ShardTxStep(startSg, seedEpoch(shard, startEpochs)),
        seedCursor(shard, startSg), size)
    }
    val newBytes = shards.map { case (_, _, _, seed, size) =>
      size.fold(0L)(to => math.min(math.max(0L, to - seed.pos), maxBytesPerTrigger))
    }.sum
    val cores = SparkSession.active.sparkContext.defaultParallelism
    val splitBytes = if (newBytes == 0L) Long.MaxValue else (newBytes + cores - 1) / cores
    val folded = {
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(Future.traverse(shards) { case (shard, file, start, seed, size) =>
        Future(foldShard(shard, file, start, seed, size, splitBytes))
      }, Duration.Inf)
    }
    var epochs = startEpochs
    val positionsOut = Map.newBuilder[String, Long]
    val schemasOut = Map.newBuilder[String, Map[String, String]]
    val hbMsOut = Map.newBuilder[String, Long]
    val splitsOut = Map.newBuilder[String, Seq[ShardCursor]]
    val gtids = shards.zip(folded).map { case ((shard, _, start, _, _), (cursor, splits)) =>
      epochs = epochs.put(shard, cursor.step.epoch)
      positionsOut += shard -> cursor.pos
      if (cursor.schemas.nonEmpty) schemasOut += shard -> cursor.schemas
      if (heartbeatIntervalMs > 0 && cursor.step.hbMs != ShardTxStep.NoBaseline)
        hbMsOut += shard -> cursor.step.hbMs
      if (splits.nonEmpty) splitsOut += shard -> splits
      // never regress behind the committed start position
      if (cursor.step.after(start)) cursor.step.sg else start.sg
    }
    assert(splitsOut.result().values.map(_.size).sum <= cores,
      s"split cursors must not outnumber the $cores cores")
    val built = VgtidOffset(
      Vgtid(gtids), epochs, generation,
      positionsOut.result(), schemasOut.result(), hbMsOut.result(),
      splitsOut.result())
    // Spark detects "no new data" by offset-JSON equality. `from` may
    // carry the previous batch's split cursors; a no-progress rebuild
    // (same vgtid/positions, no new splits) must return `from` verbatim
    // or the json difference schedules one spurious empty batch after
    // every split-carrying batch.
    if (built.splits.isEmpty && from.splits.nonEmpty &&
      built.copy(splits = from.splits).json() == from.json()) from
    else {
      admittedTotal += folded.map(_._1.admitted).sum
      built
    }
  }

  override def latestOffset(): Offset =
    latestOffset(initialOffset(), ReadLimit.allAvailable())

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[VgtidOffset]
    val e = end.asInstanceOf[VgtidOffset]
    // A5: a generation change vs the batch-start offset bumps every epoch
    // once — the readers must seed from the SAME bumped map the driver
    // fold uses, or the first batch after a generation-change restart
    // emits records with stale epochs (mid-run batches carry the
    // configured generation in their offset, so this is a no-op there)
    val startEpochs = EpochProvider.applyGeneration(s.epochs, s.generation, generation)
    shardFiles.flatMap { case (shard, file) =>
      val startSg = s.vgtid.shardGtid(shard)
        .getOrElse(ShardGtid(keyspace, shard, Vgtid.EmptyGtid))
      val endSg = e.vgtid.shardGtid(shard)
        .getOrElse(ShardGtid(keyspace, shard, Vgtid.EmptyGtid))
      val startByte = s.positions.getOrElse(shard, 0L)
      val endByte = e.positions.getOrElse(shard, Long.MaxValue)
      // nothing new on this shard: no position progress (incl. copy
      // progress) AND no new bytes (standalone DDL/schema lines advance
      // bytes without advancing the VGTID)
      if (startSg == endSg && (endByte == Long.MaxValue || startByte >= endByte)) Nil
      else {
        // Intra-shard fan-out: the end offset may carry split cursors —
        // transaction-safe mid-shard seeds recorded by the fold (see
        // latestOffset's split size). Each segment's reader seeds exactly
        // like a batch boundary (position, GTID, epoch, schema
        // checkpoint, heartbeat baseline all from its cursor), so the
        // single-partition case is just the zero-splits instance.
        val start = ShardTxStep(startSg, seedEpoch(shard, startEpochs),
          s.hbMs.getOrElse(shard, ShardTxStep.NoBaseline))
        val cuts = e.splits.getOrElse(shard, Nil)
          .filter(c => c.pos > startByte && c.pos < endByte)
          // a cursor recorded in the PRE-START history region (explicit-
          // vgtid cold start over a feed that still holds history) is not
          // after the batch start; seeding a segment from it would
          // re-admit history the position filter is there to skip — drop
          // it (dropping a split is always safe)
          .filter(_.step.after(start))
          .sortBy(_.pos)
        val batchStart = ShardCursor(startByte, start, s.schemas.getOrElse(shard, Map.empty), 0L)
        val batchEnd = ShardTxStep(endSg, e.epochs.get(shard).getOrElse(start.epoch))
        val seeds = batchStart +: cuts
        seeds.zipWithIndex.map { case (seed, i) =>
          val isLast = i == seeds.length - 1
          val segEnd = if (isLast) batchEnd else cuts(i).step
          val segEndByte = if (isLast) endByte else cuts(i).pos
          VitessCdcPartition(
            shard, keyspace, file, seed.step, segEnd, emitBoundaries, tableFilter,
            // per-batch (not per-segment) liveness: only the last
            // segment, which ends at the batch's end offset, emits the
            // batch heartbeat for its shard
            heartbeatPerBatch && isLast,
            effectiveSnapshotTables,
            typeModes, heartbeatIntervalMs,
            includeSchemaChanges,
            seed.pos, segEndByte,
            // schema checkpoint as of the SEGMENT start (in-segment
            // FIELD lines are read by the reader itself); sorted for
            // determinism
            seed.schemas.toSeq.sortBy(_._1).map(_._2)): InputPartition
        }
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // the factory ships to executors; capture the transport explicitly so
    // the closure serializes it, not the whole stream object
    val t = transport
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
        new VitessCdcPartitionReader(partition.asInstanceOf[VitessCdcPartition], t)
    }
  }

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
    val positions: Map[String, Long] =
      if (!latestConsumedOffset.isPresent) Map.empty
      else latestConsumedOffset.get() match {
        case v: VgtidOffset => v.positions
        case o => VgtidOffset.fromJson(o.json()).positions // SerializedOffset post-restart
      }
    var lag = 0L
    var sized = true
    files.foreach { case (sh, loc) =>
      // a feed removed between listing and sizing (retired reshard
      // parent) must not fail the query from an observability call
      val size = try transport.size(loc) catch { case _: Exception => -1L }
      if (size < 0) sized = false
      else lag += math.max(0L, size - positions.getOrElse(sh, 0L))
    }
    m.put("lagBytes", if (sized) lag.toString else "-1")
    m.put("admittedTransactions", admittedTotal.toString)
    m
  }

  override def deserializeOffset(json: String): Offset = VgtidOffset.fromJson(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = transport.close()
}

final case class VitessCdcPartition(
    shard: String,
    keyspace: String,
    file: String, // transport locator (feed-file path for the file feed)
    start: ShardTxStep, // position incl. copy lastpk, epoch, heartbeat baseline
    end: ShardTxStep, // position and epoch the window ends at
    emitBoundaries: Boolean,
    tableFilter: TableFilter,
    heartbeatPerBatch: Boolean = false,
    snapshotTables: Option[TableFilter] = None,
    typeModes: ValueConversion.TypeModes = ValueConversion.TypeModes.default,
    heartbeatIntervalMs: Long = 0L, // 0 = NOOP heartbeat
    includeSchemaChanges: Boolean = true,
    startByte: Long = 0L, // batch byte window [startByte, endByte)
    endByte: Long = Long.MaxValue,
    schemaLines: Seq[String] = Nil) // FIELD wire lines seen before startByte
    extends InputPartition

/** Executor-side reader: seeks to the batch's byte window
  * [startByte, endByte) of the shard feed, assembles transactions and
  * steps the shard's [[ShardTxStep]] over every line exactly as the
  * driver's fold did, so each transaction takes the epoch the offsets
  * record. It keeps the transactions whose position is after the window
  * start and not after its end by (epoch, rank) — the position filter
  * stays on as the correctness backstop even though the byte window
  * already bounds the slice — and decodes them against the schema
  * checkpoint carried by the partition (FIELD lines seen before the
  * window). A legacy partition without byte positions (endByte ==
  * Long.MaxValue with startByte == 0) degrades to the original
  * whole-file replay. */
class VitessCdcPartitionReader(
    p: VitessCdcPartition,
    transport: VStreamTransport) extends PartitionReader[InternalRow] {

  // E1: transient I/O on stream open is retried with backoff; everything
  // else surfaces to Spark's task retry + restart-from-checkpoint
  private val slice =
    Retry.withRetries(maxAttempts = 3)(transport.open(p.file, p.startByte, p.endByte))

  private val freshGtid = p.start.sg.gtid == Vgtid.EmptyGtid || p.start.sg.gtid == Vgtid.CurrentGtid
  private val fresh = freshGtid && p.start.sg.tablePKs.isEmpty

  private val rb = {
    val registry = new SchemaRegistry(p.typeModes)
    // replay the checkpointed schema lines (a real VStream re-sends FIELD
    // events on reconnect; the file feed can't, so the offset carries them)
    p.schemaLines.foreach { line =>
      VEventJson.read(line) match {
        case f: FieldEvent => registry.update(p.shard, f)
        case _ =>
      }
    }
    new RecordBuilder(
      registry, p.start, p.emitBoundaries,
      initialVgtid = if (fresh) None else Some(Vgtid(Seq(p.start.sg))),
      tableFilter = p.tableFilter,
      snapshotTableFilter = p.snapshotTables, typeModes = p.typeModes)
  }

  /** The shard's per-transaction state as of the last line read. */
  private[sources] def step: ShardTxStep = rb.step

  /** See the call site: line-level skip of transactions wholly before
    * the start. Buffers at most one transaction's lines (the same bound
    * the feeder's tx buffer has); parses ONLY VGTID-prefixed lines while
    * skipping, and steps each one. Conservative by construction:
    * standalone lines (DDL / heartbeat / broadcast VGTID between
    * transactions) and transactions carrying no VGTID forward to the
    * real decoder untouched. */
  private def skipColdHistory(lines: Iterator[String]): Iterator[String] =
    new Iterator[String] {
      private val out = scala.collection.mutable.Queue[String]()
      private val buf = scala.collection.mutable.ArrayBuffer[String]()
      private var passed = false
      private var inTx = false
      private var txPasses = false
      private var txSawVgtid = false

      private def fill(): Unit = {
        while (out.isEmpty && lines.hasNext) {
          val line = lines.next()
          if (passed) out += line
          else if (line.startsWith(FeedSlice.BeginPrefix)) {
            inTx = true; txPasses = false; txSawVgtid = false
            buf.clear(); buf += line
          } else if (!inTx) out += line // standalone: window semantics intact
          else {
            buf += line
            if (line.startsWith(FeedSlice.VgtidPrefix)) {
              VEventJson.read(line) match {
                case VgtidEvent(_, v) =>
                  v.shardGtid(p.shard).foreach { pos =>
                    txSawVgtid = true
                    rb.step = rb.step.onPosition(pos)
                    if (rb.step.after(p.start)) txPasses = true
                  }
                case _ =>
              }
            }
            if (line.startsWith(FeedSlice.CommitPrefix)) {
              inTx = false
              if (txPasses) { passed = true; out ++= buf }
              else if (!txSawVgtid) out ++= buf // no position: let the filter decide
              buf.clear()
            }
          }
        }
      }

      override def hasNext: Boolean = { fill(); out.nonEmpty }
      override def next(): String = { fill(); out.dequeue() }
    }

  private val rows: Iterator[InternalRow] = {
    // Cold-start resume at an explicit VGTID over a feed that still holds
    // the history BEFORE that position (no checkpointed byte progress →
    // startByte 0): drop pre-position transactions at the LINE level — a
    // prefix check plus one VGTID parse per transaction — instead of
    // JSON-decoding and assembling history just to filter it. At scale
    // this is the batch-backfill handover shape: the snapshot covers
    // history, and the stream must not pay O(history) decode to start.
    // The downstream position filter still applies, so the skip only has
    // to be conservative (standalone lines and no-VGTID transactions
    // forward unchanged; everything forwards after the first passing
    // transaction — per-shard positions are monotone).
    val lineIter =
      if (p.startByte == 0L && !fresh) skipColdHistory(slice.lines) else slice.lines
    // every VGTID steps the shard, so when the assembler yields a
    // transaction the step stands at that transaction's position
    val events = rb.positions(lineIter.map(VEventJson.read))
    val records = TransactionAssembler.assemble(events).flatMap { tx =>
      val pos = tx.vgtid.flatMap(_.shardGtid(p.shard))
      val inWindow =
        if (pos.isDefined) {
          // inclusive-resume at transaction granularity: each copy tx
          // carries its lastpk watermark, so mid-copy restarts skip
          // exactly the transactions already delivered. A transaction is
          // after the start when its own position is; a DDL/heartbeat
          // flush carries the position before it, so it is after the
          // start when that position is not before it
          val owned = tx.events.exists(_.isInstanceOf[VgtidEvent])
          (if (owned) rb.step.after(p.start) else !p.start.after(rb.step)) && !rb.step.after(p.end)
        } else {
          // DDL/heartbeat flushes with no position: a bounded byte
          // window contains each such line exactly once across the
          // stream's lifetime — but only when the window START is
          // trustworthy: a mid-stream resume from a legacy checkpoint
          // (real GTID, no recorded byte position → startByte 0) would
          // re-scan from byte 0 and re-deliver old DDLs, so it falls
          // back to the legacy progress guard instead
          if (p.endByte == Long.MaxValue) p.end.after(p.start)
          else p.startByte > 0 || freshGtid || p.end.after(p.start)
        }
      if (!inWindow) Nil
      else {
        // include.schema.changes=false: DDL records stay off the stream
        val recs = rb.onTransaction(tx).filter(rec => p.includeSchemaChanges || rec.op != "ddl")
        // H1 interval heartbeats: one heartbeat record per admitted
        // transaction whose commit time is at least `heartbeatIntervalMs`
        // past the previous baseline (reference VitessHeartbeatImpl.java:
        // 47-77; 0 = NOOP). The baseline is seeded from the CHECKPOINT
        // and the driver's offset fold applies the identical rule, so the
        // cadence survives batch boundaries. Event-time driven:
        // deterministic under replay. Emission is per-tx (not
        // per-record), so fully-filtered stretches still heartbeat —
        // exactly when consumers need liveness.
        if (pos.isEmpty || !tx.events.lastOption.exists(_.isInstanceOf[CommitEvent])) recs
        else {
          val tsMs = tx.commitTsSec * 1000L
          val baseline = rb.step.hbMs
          rb.step = rb.step.onCommit(tsMs, p.heartbeatIntervalMs)
          // the first admitted commit only seeds the baseline
          if (rb.step.hbMs == baseline || baseline == ShardTxStep.NoBaseline) recs
          else {
            val last = recs.lastOption
            val vj = last.map(_.vgtid).orElse(tx.vgtid.map(_.json)).getOrElse("[]")
            val rj = last.map(_.restartVgtid).orElse(tx.vgtid.map(_.json)).getOrElse("[]")
            recs :+ ChangeRecord(
              p.shard, p.keyspace, "", "heartbeat", None, None, None,
              tsMs, vj, rj, None, rb.step.epoch, None, 0L, 0L)
          }
        }
      }
    }
    // H1: one liveness record per shard per batch carrying the end offset
    // (reference VitessHeartbeatImpl.java:47-77 — emitted alongside data;
    // skipped while no offset exists yet, i.e. a fresh empty start)
    val heartbeat =
      if (p.heartbeatPerBatch && p.end.sg.gtid != Vgtid.EmptyGtid)
        Iterator.single(ChangeRecord(
          p.shard, p.keyspace, "", "heartbeat", None, None, None,
          0L, Vgtid(Seq(p.end.sg)).json, Vgtid(Seq(p.end.sg)).json,
          None, p.start.epoch, None, 0L, 0L))
      else Iterator.empty
    (records ++ heartbeat).map(VitessCdc.toInternalRow)
  }

  private var current: InternalRow = _

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false

  override def get(): InternalRow = current
  override def close(): Unit = slice.close()
}
