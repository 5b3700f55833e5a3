package graft.sources

import graft.core._
import graft.streaming._

/** Per-shard transaction-safe cursor: everything the streaming offset
  * carries for one shard, as of a byte position that is NEVER inside a
  * transaction (so a batch window cut here cannot split a tx).
  *
  *  - `pos` — feed byte position at the safe point
  *  - `sg` — shard GTID (incl. copy-phase lastpk) at the safe point
  *  - `epoch` — folded transaction epoch (A3/A4/A5)
  *  - `schemas` — latest FIELD wire line per table (schema checkpoint)
  *  - `hbMs` — interval-heartbeat baseline (commit-time ms)
  *  - `admitted` — transactions admitted beyond the fold's start GTID
  *    (cumulative since the fold was seeded)
  */
private[sources] final case class ShardCursor(
    pos: Long,
    sg: ShardGtid,
    epoch: Long,
    schemas: Map[String, String],
    hbMs: Long,
    admitted: Long)

/** The transaction-boundary fold over one shard's wire lines: tracks
  * BEGIN/COMMIT nesting, folds VGTID position + epoch transitions,
  * checkpoints FIELD (schema) lines, and mirrors the reader's
  * interval-heartbeat baseline rule — publishing a [[ShardCursor]] only
  * at out-of-transaction line boundaries, so any published cursor is a
  * safe batch cut. Single-threaded use: `latestOffset` runs one fold
  * per shard per trigger.
  *
  * Prefix dispatch (only VGTID/FIELD/COMMIT lines are JSON-parsed)
  * keeps the fold cheap — most lines in a row-heavy stream are ROW
  * events the fold never parses.
  */
private[sources] final class TxBoundaryFold(
    shard: String,
    keyspace: String,
    seed: ShardCursor,
    startSg: ShardGtid,
    heartbeatIntervalMs: Long,
    splitBytes: Long) {
  private var inTx = false
  private var txAdmitted = false
  private var lastSg = seed.sg
  private var epoch = seed.epoch
  private var tableSchemas = seed.schemas
  private var hbMs = seed.hbMs
  private var admitted = seed.admitted
  private var safeCursor = seed
  private var lastSplitPos = seed.pos
  private var splitAcc = Vector.empty[ShardCursor]

  /** Last transaction-safe cursor (== seed until the first safe line). */
  def safe: ShardCursor = safeCursor

  /** Intra-shard split cursors: one full [[ShardCursor]] roughly every
    * `splitBytes` of folded bytes, always at a transaction-safe boundary
    * — everything a partition reader needs to start mid-shard (position,
    * GTID, epoch, schema checkpoint, heartbeat baseline), the exact
    * contract a batch boundary already has. Dropping a split cursor is
    * always safe (fewer, larger partitions), so consumers may filter
    * freely. */
  def splits: Vector[ShardCursor] = splitAcc

  /** Fold one wire line; `posAfter` is the byte position just after it. */
  def onLine(line: String, posAfter: Long): Unit = {
    if (line.startsWith(FeedSlice.BeginPrefix)) { inTx = true; txAdmitted = false }
    else if (line.startsWith(FeedSlice.CommitPrefix)) {
      inTx = false
      if (heartbeatIntervalMs > 0 && txAdmitted) {
        VEventJson.read(line) match {
          case c: CommitEvent =>
            val tsMs = c.timestampSec * 1000L
            if (hbMs == Long.MinValue || tsMs - hbMs >= heartbeatIntervalMs) hbMs = tsMs
          case _ =>
        }
      }
      txAdmitted = false
    } else if (line.startsWith(FeedSlice.FieldPrefix)) {
      VEventJson.read(line) match {
        case f: FieldEvent => tableSchemas += (f.table -> line)
        case _ =>
      }
    } else if (line.startsWith(FeedSlice.VgtidPrefix)) {
      VEventJson.read(line) match {
        case VgtidEvent(_, v) =>
          v.shardGtid(shard).foreach { sg =>
            if (sg != lastSg) {
              if (CopyProgress.compare(sg, startSg) > 0) { admitted += 1; txAdmitted = true }
              if (sg.gtid != lastSg.gtid) {
                if (lastSg.gtid != Vgtid.EmptyGtid && lastSg.gtid != Vgtid.CurrentGtid)
                  epoch = EpochProvider.epochForGtid(epoch, lastSg.gtid, sg.gtid)
              }
              lastSg = sg.copy(keyspace = keyspace, shard = shard)
            }
          }
        case _ =>
      }
    }
    if (!inTx) {
      safeCursor = ShardCursor(posAfter, lastSg, epoch, tableSchemas, hbMs, admitted)
      if (safeCursor.pos - lastSplitPos >= splitBytes) {
        splitAcc :+= safeCursor
        lastSplitPos = safeCursor.pos
      }
    }
  }
}
