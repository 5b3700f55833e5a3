package graft.sources

import graft.core._
import graft.streaming._
import java.nio.file.NoSuchFileException

/** Per-shard transaction-safe cursor: everything the streaming offset
  * carries for one shard, as of a byte position that is NEVER inside a
  * transaction (so a batch window cut here cannot split a tx).
  *
  *  - `pos` — feed byte position at the safe point
  *  - `step` — the shard's [[ShardTxStep]] there: GTID (incl. copy-phase
  *    lastpk), transaction epoch (A3/A4/A5) and interval-heartbeat
  *    baseline (commit-time ms)
  *  - `schemas` — latest FIELD wire line per table (schema checkpoint)
  */
private[sources] final case class ShardCursor(
    pos: Long,
    step: ShardTxStep,
    schemas: Map[String, String])

/** The transaction-boundary fold over one shard's wire lines: tracks
  * BEGIN/COMMIT nesting, steps the shard's [[ShardTxStep]] over every
  * VGTID line (with the event's own entry for the shard, keyspace
  * included) and every COMMIT of a transaction with a position (the
  * rules `RecordBuilder` applies to the same lines in the partition
  * reader), and checkpoints FIELD (schema) lines — publishing a
  * [[ShardCursor]] only at out-of-transaction line boundaries, so any
  * published cursor is a safe batch cut.
  * Single-threaded use: admission runs one fold per shard per trigger,
  * and the gRPC feeder one per staging file it opens.
  *
  * Prefix dispatch (only VGTID/FIELD/COMMIT lines are JSON-parsed)
  * keeps the fold cheap — most lines in a row-heavy stream are ROW
  * events the fold never parses.
  */
private[sources] final class TxBoundaryFold(
    shard: String,
    seed: ShardCursor,
    heartbeatIntervalMs: Long,
    splitBytes: Long) {
  private var inTx = false
  private var txHasPos = false
  private var step = seed.step
  private var tableSchemas = seed.schemas
  private var moves = 0L
  private var admittedAtSafe = 0L
  private var safeCursor = seed
  private var lastSplitPos = seed.pos
  private var splitAcc = Vector.empty[ShardCursor]

  /** Last transaction-safe cursor (== seed until the first safe line). */
  def safe: ShardCursor = safeCursor

  /** Position changes folded from the seed up to [[safe]]. */
  def admitted: Long = admittedAtSafe

  /** Intra-shard split cursors: one full [[ShardCursor]] roughly every
    * `splitBytes` of folded bytes, always at a transaction-safe boundary
    * — everything a partition reader needs to start mid-shard (position,
    * GTID, epoch, schema checkpoint, heartbeat baseline), the exact
    * contract a batch boundary already has. Dropping a split cursor is
    * always safe (fewer, larger partitions), so consumers may filter
    * freely. */
  def splits: Vector[ShardCursor] = splitAcc

  /** Fold `file`'s lines from this fresh fold's seed position up to `to`
    * (nothing when the feed is gone), stopping after the first line for
    * which `stop(line, safe)` holds; `safe` is the fold's cursor when that
    * line ends outside a transaction. The one read loop of every fold:
    * admission, history resolution and staging-file recovery. */
  def foldFeed(transport: VStreamTransport, file: String, to: Option[Long])(
      stop: (String, Option[ShardCursor]) => Boolean): Unit = {
    val slice = to.flatMap { to =>
      try Some(transport.open(file, safeCursor.pos, to))
      catch { case _: NoSuchFileException => None }
    }
    slice.foreach { sl =>
      try {
        var line = sl.readLine()
        while (line != null) {
          onLine(line, sl.position)
          // a cursor AT the slice position: this line ends outside a tx
          val safe = Option.when(safeCursor.pos == sl.position)(safeCursor)
          line = if (stop(line, safe)) null else sl.readLine()
        }
      } finally sl.close()
    }
  }

  /** Fold one wire line; `posAfter` is the byte position just after it. */
  def onLine(line: String, posAfter: Long): Unit = {
    if (line.startsWith(FeedSlice.BeginPrefix)) { inTx = true; txHasPos = false }
    else if (line.startsWith(FeedSlice.CommitPrefix)) {
      inTx = false
      if (heartbeatIntervalMs > 0 && txHasPos) {
        VEventJson.read(line) match {
          case c: CommitEvent => step = step.onCommit(c.timestampSec * 1000L, heartbeatIntervalMs)
          case _ =>
        }
      }
    } else if (line.startsWith(FeedSlice.FieldPrefix)) {
      VEventJson.read(line) match {
        case f: FieldEvent => tableSchemas += (f.table -> line)
        case _ =>
      }
    } else if (line.startsWith(FeedSlice.VgtidPrefix)) {
      VEventJson.read(line) match {
        case VgtidEvent(_, v) =>
          v.shardGtid(shard).foreach { sg =>
            val from = step.sg
            step = step.onPosition(sg)
            if (inTx) txHasPos = true
            if (step.sg != from) moves += 1
          }
        case _ =>
      }
    }
    if (!inTx) {
      safeCursor = ShardCursor(posAfter, step, tableSchemas)
      admittedAtSafe = moves
      if (safeCursor.pos - lastSplitPos >= splitBytes) {
        splitAcc :+= safeCursor
        lastSplitPos = safeCursor.pos
      }
    }
  }
}
