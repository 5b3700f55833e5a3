package graft.streaming

import com.fasterxml.jackson.databind.ObjectMapper
import graft.core._
import java.util.Base64

/** E3: a raw value failed type conversion (carries the cause; thrown in
  * Fail mode, caught by the Skip-mode record drop). */
final class ConversionFailure(msg: String, cause: Throwable)
    extends RuntimeException(msg, cause)

/** Stream-inferred schema registry: per-(shard, keyspace, table) column
  * metadata, last-writer-wins on every FIELD event (reference:
  * VitessDatabaseSchema.java:64-91). One instance per shard reader —
  * single-threaded by construction. */
final class SchemaRegistry(
    typeModes: ValueConversion.TypeModes = ValueConversion.TypeModes.default) {
  private var tables = Map.empty[TableRef, TableMeta]

  def update(shard: String, f: FieldEvent): TableMeta = {
    val (keyspace, table) = splitTableName(f.table, f.keyspace)
    val ref = TableRef(shard, keyspace, table)
    val decimalPrecise = typeModes.decimal == ValueConversion.DecimalMode.Precise
    val cols = f.fields.map { fd =>
      ColumnMeta.of(
        fd.name,
        GraftType.resolve(
          fd.wireType, fd.columnType, fd.columnLength, fd.decimals,
          f.enumSetStringValues, decimalPrecise),
        fd.flags)
    }
    val meta = TableMeta(ref, cols)
    // repeated identical FIELD events (the server resends one per copy
    // response batch) must return the EXISTING meta: every fresh
    // TableMeta instance would add an identity-keyed row to the reader's
    // table-plan cache — an unbounded leak over a long copy phase
    tables.get(ref) match {
      case Some(prev) if prev == meta => prev
      case _ => tables += ref -> meta; meta
    }
  }

  def get(ref: TableRef): Option[TableMeta] = tables.get(ref)
  def all: Map[TableRef, TableMeta] = tables

  /** Wire table names are `keyspace.table`, or bare when the server runs
    * with exclude-keyspace (reference:
    * VStreamOutputMessageDecoder.java:379-400). */
  def splitTableName(qualified: String, fallbackKeyspace: String): (String, String) = {
    val dot = qualified.indexOf('.')
    if (dot >= 0) (qualified.substring(0, dot), qualified.substring(dot + 1))
    else (fallbackKeyspace, qualified)
  }
}

/** One change record in the engine's stable envelope schema. The payload
  * rides as JSON keyed by column name (design (b) of SURVEY §1.3: one
  * stream, dynamic tables) and is re-typed per table with `from_json`
  * against the registry schema. This is the in-memory row;
  * [[graft.sources.VitessCdc.Schema]] names its DataFrame form
  * (`tsMs` is `ts_ms`, `txId` is `tx_id`, and so on), which both the
  * `vitess-cdc` source and [[CdcPipeline.changeRecords]] emit.
  *
  * `vgtid` is the record's transaction position (the reference's
  * `source.vgtid`, VitessSourceInfoStructMaker.java:36-44);
  * `restartVgtid` is the replay offset — the shard's position at the last
  * transaction-safe boundary before the record's transaction, exactly
  * what the source's offset records if a batch is cut there, so
  * restarting from it replays that transaction inclusively
  * (SourceInfo.java:119-130, VitessOffsetContext.java:92-100).
  *
  * `totalOrder` counts all DML events in the transaction; `collectionOrder`
  * counts per-table within the transaction (reference
  * VitessOrderedTransactionStructMaker.java:39-50 + Debezium's
  * per-collection TransactionContext counters). Both are 1-based. */
final case class ChangeRecord(
    shard: String,
    keyspace: String,
    table: String, // bare table name
    op: String, // c / u / d / ddl / heartbeat / begin / end
    before: Option[String], // JSON object or null
    after: Option[String],
    key: Option[String], // JSON of PK (or first unique key) columns
    tsMs: Long,
    vgtid: String, // this transaction's VGTID JSON (source.vgtid)
    restartVgtid: String, // replay offset: the shard's position before the transaction
    txId: Option[String],
    epoch: Long,
    rank: Option[String], // decimal string (sum can exceed Long)
    totalOrder: Long, // cross-table event order within tx, 1-based
    collectionOrder: Long) // per-table event order within tx, 1-based

/** Turns assembled transactions into envelope records: decodes packed
  * rows via the registry schema, stamps each transaction with its shard
  * step's epoch and its GTID's rank, and emits optional BEGIN/END
  * boundary records (reference: VitessChangeRecordEmitter.java:56-132,
  * VitessOrderedTransactionStructMaker.java:39-50, SourceInfo.java:105-130).
  * One instance per shard reader; [[step]] carries the shard's
  * [[ShardTxStep]] across units, is the only position it tracks, and
  * moves only here, by the rules the driver's offset fold applies to the
  * same lines:
  *
  *  - a transaction's records carry as `restartVgtid` the step's position
  *    before the transaction, and its own VGTID event's JSON as `vgtid`;
  *    the END record carries the transaction's own position (O1/O2);
  *  - a standalone DDL / heartbeat flush carries the step's position as
  *    `vgtid`, `restartVgtid` and `txId`;
  *  - every VGTID the assembler yields, bare ones included, steps it;
  *  - H1 interval heartbeat (`heartbeatIntervalMs` > 0; 0 = NOOP): the
  *    COMMIT of a transaction with a position steps its heartbeat
  *    baseline, and when that moves a baseline already set, a heartbeat
  *    record at the step's position follows the transaction's records
  *    (reference VitessHeartbeatImpl.java:47-77). Event-time driven, so
  *    replay is deterministic, and per transaction, so fully filtered
  *    stretches still heartbeat.
  *
  * `includeSchemaChanges = false` keeps DDL records off the stream.
  * Positions are this shard's own entry, serialized once each. */
final class RecordBuilder(
    registry: SchemaRegistry,
    start: ShardTxStep,
    emitTransactionBoundaries: Boolean = false,
    tableFilter: TableFilter = TableFilter.acceptAll,
    columnRules: ColumnRules = ColumnRules.none,
    convertFailureMode: ConvertFailureMode = ConvertFailureMode.Fail,
    snapshotTableFilter: Option[TableFilter] = None,
    typeModes: ValueConversion.TypeModes = ValueConversion.TypeModes.default,
    includeSchemaChanges: Boolean = true,
    heartbeatIntervalMs: Long = 0L) {

  private val mapper = new ObjectMapper()

  private var current = start

  /** The shard's step as of the last transaction built. */
  def step: ShardTxStep = current

  // the last position serialized: a transaction's restart offset is the
  // previous one's position, so each position is written at most once
  private var jsonAt: ShardGtid = _
  private var jsonOfAt = "[]"

  /** [[step]]'s position as this shard's VGTID JSON; `[]` before it has one. */
  def positionJson: String = {
    if (current.sg != jsonAt) {
      jsonAt = current.sg
      jsonOfAt = if (jsonAt.hasPosition) Vgtid(Seq(jsonAt)).json else "[]"
    }
    jsonOfAt
  }

  def onTransaction(tx: VTransaction): Seq[ChangeRecord] = {
    val out = Vector.newBuilder[ChangeRecord]
    val tsMs = tx.commitTsSec * 1000L
    // the position at the last transaction-safe boundary (O1)
    val restartJson = positionJson

    // Schema updates first — ROW events in the same transaction (copy
    // phase) need them — and every VGTID steps the shard, in feed order.
    tx.events.foreach {
      case f: FieldEvent => { registry.update(tx.shard, f); () }
      case VgtidEvent(_, v) => v.shardGtid(tx.shard).foreach(sg => current = current.onPosition(sg))
      case _ =>
    }

    // a VGTID event that lists only this shard already holds the
    // position's JSON: the next restart offset reuses it
    tx.vgtid.foreach { v =>
      if (current.sg.hasPosition && v.shardGtids == Seq(current.sg)) {
        jsonAt = current.sg
        jsonOfAt = v.json
      }
    }

    val isDml = tx.events.exists(_.isInstanceOf[RowEvent])
    // a flush has no VGTID of its own: it stands at the step's position
    val vgtidJson = tx.vgtid.fold(positionJson)(_.json)
    val txId =
      if (tx.vgtid.isDefined) tx.txId else Option.when(current.sg.hasPosition)(current.sg.gtid)
    val epoch = current.epoch
    val rank = if (isDml) txId.map(Rank.of(_).toString) else None

    if (emitTransactionBoundaries && isDml)
      out += ChangeRecord(tx.shard, tx.keyspace, "", "begin", None, None, None,
        tsMs, vgtidJson, restartJson, txId, epoch, rank, 0L, 0L)

    var totalOrder = 0L
    var perTableOrder = Map.empty[String, Long]
    tx.events.foreach {
      case r: RowEvent =>
        val (keyspace, table) = registry.splitTableName(r.table, r.keyspace)
        // F2 short-circuit: filtered tables skip column materialization
        // entirely (reference VStreamOutputMessageDecoder.java:188-201).
        // F3: during the copy phase (vgtid would trigger VStream copy),
        // the snapshot-table prefix filter additionally restricts which
        // tables are copied (reference Filters.java:39-48,
        // VitessReplicationConnection.java:308-312).
        val copyPhase = tx.vgtid.exists(_.willTriggerVStreamCopy)
        val snapshotOk = !copyPhase || snapshotTableFilter.forall(_.included(keyspace, table))
        if (tableFilter.included(keyspace, table) && snapshotOk) {
        val ref = TableRef(tx.shard, keyspace, table)
        val meta = registry.get(ref).getOrElse(
          throw new IllegalStateException(s"ROW for unknown table $ref (no FIELD seen)"))
        val plan = planFor(meta)
        val qualified = ref.qualified
        r.changes.foreach { change =>
          // E3 Skip mode drops the record on conversion failure; other
          // modes are handled per-column inside decodeValues
          val decoded =
            try {
              val beforeVals = change.before.map(decodeValues(plan, _))
              val afterVals = change.after.map(decodeValues(plan, _))
              Some((beforeVals, afterVals))
            } catch {
              case _: ConversionFailure if convertFailureMode == ConvertFailureMode.Skip =>
                None
            }
          decoded.foreach { case (beforeVals, afterVals) =>
            totalOrder += 1
            val collectionOrder = perTableOrder.getOrElse(qualified, 0L) + 1
            perTableOrder += qualified -> collectionOrder
            // the key extracts from the side already decoded — a row is
            // never decoded twice, and both JSONs stream straight out of
            // a generator with no intermediate tree
            out += ChangeRecord(
              tx.shard, keyspace, table, change.op,
              beforeVals.map(rowJson(plan, _)),
              afterVals.map(rowJson(plan, _)),
              keyFromValues(plan, afterVals.orElse(beforeVals).get),
              tsMs, vgtidJson, restartJson, txId, epoch, rank, totalOrder, collectionOrder)
          }
        }
        }
      case d: DdlEvent if includeSchemaChanges =>
        val ex = DdlMetadata.extract(d.statement)
        val payload = mapper.createObjectNode()
        payload.put("statement", d.statement)
        payload.put("operation", ex.operation)
        payload.put("table", ex.table)
        out += ChangeRecord(tx.shard, d.keyspace, ex.table, "ddl",
          None, Some(mapper.writeValueAsString(payload)), None,
          tsMs, vgtidJson, restartJson, txId, epoch, None, 0L, 0L)
      case _: HeartbeatEvent =>
        out += ChangeRecord(tx.shard, "", "", "heartbeat", None, None, None,
          tsMs, vgtidJson, restartJson, None, epoch, None, 0L, 0L)
      case _ => // BEGIN/COMMIT/FIELD/VGTID/OTHER/COPY_COMPLETED carry no payload
    }

    // COMMIT: all events produced. The END boundary record's offset is
    // this transaction's own position (O2; reference
    // VitessStreamingChangeEventSource.java:109-120).
    if (emitTransactionBoundaries && isDml)
      out += ChangeRecord(tx.shard, tx.keyspace, "", "end", None, None, None,
        tsMs, vgtidJson, positionJson, txId, epoch, rank, totalOrder, 0L)

    // H1: the first commit only seeds the baseline; the heartbeat stands
    // at the step after the commit, like a standalone flush
    if (heartbeatIntervalMs > 0 && tx.vgtid.exists(_.shardGtid(tx.shard).isDefined) &&
      tx.events.lastOption.exists(_.isInstanceOf[CommitEvent])) {
      val baseline = current.hbMs
      current = current.onCommit(tsMs, heartbeatIntervalMs)
      if (baseline != ShardTxStep.NoBaseline && current.hbMs != baseline) {
        val at = positionJson
        out += ChangeRecord(tx.shard, tx.keyspace, "", "heartbeat", None, None, None,
          tsMs, at, at, None, current.epoch, None, 0L, 0L)
      }
    }

    out.result()
  }

  /** Per-schema work done once per [[TableMeta]] instance instead of per
    * cell: the column array, which columns the serializers omit, and the
    * key-column indices. Identity-keyed — the LWW registry swaps the
    * TableMeta object on evolution, so a FIELD change gets a new plan. */
  private final class TablePlan(meta: TableMeta) {
    val ref: TableRef = meta.ref
    val columns: Array[ColumnMeta] = meta.columns.toArray
    // unknown-typed fields are omitted unless include.unknown.datatypes
    // is set (reference default: resolver drops the field rather than
    // emitting an implementation-defined binary form) — EXCEPT primary
    // key columns: the key JSON reads from the decoded values, and
    // omitting a PK column would collapse every row of the table to one
    // key (silent loss through materialize); an opaque-binary key stays
    // distinct
    val dropped: Array[Boolean] = columns.map { col =>
      (col.graftType == GraftType.Unknown && !typeModes.includeUnknown && !col.primaryKey) ||
        columnRules.isExcluded(ref.keyspace, ref.table, col.name)
    }
    val keyIdx: Array[Int] = meta.keyColumns.map(k => columns.indexWhere(_.name == k)).toArray
  }

  private val planCache = new java.util.IdentityHashMap[TableMeta, TablePlan]()
  private def planFor(meta: TableMeta): TablePlan =
    planCache.computeIfAbsent(meta, m => new TablePlan(m))

  private val transformsStrings = !columnRules.isEmpty

  /** Decode one packed row against the table schema into JSON-writable
    * values, one slot per schema column: a boxed number / Boolean /
    * String, Scala null for SQL NULL, or the [[RecordBuilder.Dropped]]
    * sentinel for columns the serializers must omit. Column-count
    * mismatch = hard error (reference:
    * VStreamOutputMessageDecoder.java:303-309). Decoding ONCE into a
    * flat array (instead of a Jackson tree) lets the after JSON and the
    * key JSON both stream straight out of a generator — the envelope
    * build is the decode hot path's biggest cost. */
  private def decodeValues(plan: TablePlan, row: PackedRow): Array[AnyRef] = {
    val raw = row.slice
    val cols = plan.columns
    require(raw.size == cols.length,
      s"row has ${raw.size} columns, schema ${plan.ref} has ${cols.length}")
    val out = new Array[AnyRef](cols.length)
    val it = raw.iterator
    var idx = 0
    while (idx < cols.length) {
      val col = cols(idx)
      val bytes = it.next()
      if (plan.dropped(idx)) {
        out(idx) = RecordBuilder.Dropped
      } else {
      val decoded =
        try ValueConversion.decode(
          col.graftType, bytes.orNull,
          typeModes.uint64, typeModes.binary, typeModes.temporal, typeModes.decimal)
        catch {
          case scala.util.control.NonFatal(e) => convertFailureMode match {
            case ConvertFailureMode.Fail =>
              throw new ConversionFailure(
                s"cannot convert column ${col.name} of ${plan.ref}: ${e.getMessage}", e)
            case ConvertFailureMode.Warn => None // null the column, continue
            case ConvertFailureMode.Skip =>
              throw new ConversionFailure(s"skip record: column ${col.name}", e)
          }
        }
      // zero-date sentinel collapsed on a NOT NULL column → epoch fallback
      // (reference: null only for optional columns), unless the
      // override.datetime.to.nullable mode forces NULL through
      val withFallback =
        if (decoded.isEmpty && bytes.isDefined && !col.optional &&
          !typeModes.datetimeToNullable)
          ValueConversion.epochFallback(col.graftType)
        else decoded
      out(idx) = withFallback match {
        case None => null // SQL NULL
        case Some(v) => v match {
          case s: String =>
            if (transformsStrings)
              columnRules.transformString(plan.ref.keyspace, plan.ref.table, col.name, s)
            else s
          case b: Array[Byte] => Base64.getEncoder.encodeToString(b)
          case bd: BigDecimal => bd.bigDecimal
          case s: Short      => java.lang.Short.valueOf(s)
          case i: Int        => java.lang.Integer.valueOf(i)
          case l: Long       => java.lang.Long.valueOf(l)
          case f: Float      => java.lang.Float.valueOf(f)
          case d: Double     => java.lang.Double.valueOf(d)
          case b: Boolean    => java.lang.Boolean.valueOf(b)
          case d: java.time.LocalDate => d.toString
          case dt: java.time.LocalDateTime => dt.toString
          case other => other.toString
        }
      }
      }
      idx += 1
    }
    out
  }

  private def writeField(
      g: com.fasterxml.jackson.core.JsonGenerator, name: String, v: AnyRef): Unit = v match {
    // the generator emits byte-identical JSON to Jackson's node
    // serializers (ShortNode/LongNode/… all call these writeNumber
    // overloads), so oracle hashes are unaffected by the tree removal
    case null => g.writeNullField(name)
    case s: String => g.writeStringField(name, s)
    case l: java.lang.Long => g.writeNumberField(name, l.longValue())
    case i: java.lang.Integer => g.writeNumberField(name, i.intValue())
    case sh: java.lang.Short => g.writeFieldName(name); g.writeNumber(sh.shortValue())
    case f: java.lang.Float => g.writeNumberField(name, f.floatValue())
    case d: java.lang.Double => g.writeNumberField(name, d.doubleValue())
    case b: java.lang.Boolean => g.writeBooleanField(name, b.booleanValue())
    case bd: java.math.BigDecimal => g.writeNumberField(name, bd)
    case other => g.writeStringField(name, other.toString)
  }

  // One generator over one unsynchronized buffer serves every row and key
  // JSON of this (single-threaded) builder. Each object is written as a
  // root value; with no root separator, flushing after writeEndObject
  // leaves exactly that object in the buffer.
  private val buf = new RecordBuilder.StringBuilderWriter
  private val gen = {
    val g = mapper.getFactory.createGenerator(buf)
    g.setRootValueSeparator(null)
    g
  }

  private def takeJson(): String = {
    gen.flush()
    buf.take()
  }

  /** after/before JSON: every non-dropped column, schema order. */
  private def rowJson(plan: TablePlan, values: Array[AnyRef]): String = {
    val cols = plan.columns
    gen.writeStartObject()
    var i = 0
    while (i < values.length) {
      if (values(i).asInstanceOf[AnyRef] ne RecordBuilder.Dropped)
        writeField(gen, cols(i).name, values(i))
      i += 1
    }
    gen.writeEndObject()
    takeJson()
  }

  /** Key JSON from the ALREADY-decoded values (PK columns are never
    * dropped by the unknown-type rule; a rule-excluded key column
    * serializes as null, as it always has). */
  private def keyFromValues(plan: TablePlan, values: Array[AnyRef]): Option[String] = {
    val idx = plan.keyIdx
    if (idx.isEmpty) return None
    gen.writeStartObject()
    var k = 0
    while (k < idx.length) {
      val i = idx(k)
      val v = values(i)
      if (v.asInstanceOf[AnyRef] eq RecordBuilder.Dropped)
        gen.writeNullField(plan.columns(i).name)
      else writeField(gen, plan.columns(i).name, v)
      k += 1
    }
    gen.writeEndObject()
    Some(takeJson())
  }
}

object RecordBuilder {
  /** Column-omitted sentinel inside a decoded values array. */
  private[streaming] object Dropped

  /** A `Writer` over a plain `StringBuilder`: no locking (unlike
    * `StringWriter`'s `StringBuffer`), and [[take]] empties it for reuse. */
  private final class StringBuilderWriter extends java.io.Writer {
    private val sb = new java.lang.StringBuilder(256)
    override def write(c: Int): Unit = sb.append(c.toChar)
    override def write(cbuf: Array[Char], off: Int, len: Int): Unit = sb.append(cbuf, off, len)
    override def write(str: String, off: Int, len: Int): Unit = sb.append(str, off, off + len)
    override def flush(): Unit = ()
    override def close(): Unit = ()
    def take(): String = { val s = sb.toString; sb.setLength(0); s }
  }
}
