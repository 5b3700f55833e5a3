package graft.streaming

import graft.core.Vgtid

/** One unit of a shard's feed: a complete BEGIN…COMMIT transaction with
  * the VGTID observed inside it, a bare VGTID between transactions (a
  * position-only unit), or an immediately-flushed DDL / HEARTBEAT / OTHER
  * / FIELD event, which has no VGTID of its own. */
final case class VTransaction(
    shard: String,
    keyspace: String,
    vgtid: Option[Vgtid],
    events: Seq[VEvent],
    commitTsSec: Long) {

  /** The transaction id is this shard's GTID at the transaction's VGTID. */
  def txId: Option[String] = vgtid.flatMap(_.shardGtid(shard)).map(_.gtid)
}

/** Buffers a per-shard event feed into complete transactions, enforcing
  * the reference's ordering invariants (reference:
  * src/main/java/io/debezium/connector/vitess/connection/
  * VitessReplicationConnection.java:128-300):
  *
  *  - a transaction spans BEGIN … COMMIT and may span multiple responses;
  *  - BEGIN while a transaction is open is an error, EXCEPT when the
  *    buffered event sequence is exactly one of the copy-phase restart
  *    patterns `BEGIN,FIELD[,VGTID]` / `COPY_COMPLETED,BEGIN,FIELD[,VGTID]`
  *    (`:171-189`) — then the whole buffer AND the pending vgtid are
  *    dropped (the reference's `reset()`) and the transaction restarts.
  *    A dropped VGTID still moved the shard's position: it rides at the
  *    head of the next unit's events, so a [[RecordBuilder]] steps it;
  *  - COMMIT without an open transaction / duplicate COMMIT is an error
  *    (`:192-203`);
  *  - a DML transaction whose window contained no VGTID event is dropped
  *    with no emission (`:239-245`, "Skipping because no vgtid is found");
  *  - DDL / OTHER / HEARTBEAT outside a transaction flush immediately
  *    (`sendNow`, `:206-218`); a DDL inside an open transaction is kept in
  *    buffer order and emitted with the transaction;
  *  - a bare VGTID between transactions is yielded alone, so every
  *    position reaches the consumer in feed order;
  *  - a trailing unterminated buffer is dropped (never emitted).
  *
  * Pure: single-shard, deterministic, no Spark dependency — it runs
  * inside the source's partition reader (one instance per shard).
  */
object TransactionAssembler {

  def assemble(events: Iterator[VEvent]): Iterator[VTransaction] =
    new Iterator[VTransaction] {
      private var buffer = Vector.empty[VEvent]
      private var inTx = false
      private var txVgtid: Option[Vgtid] = None
      // VGTIDs of dropped copy-phase restart buffers, for the next unit
      private var carried = Vector.empty[VEvent]
      private var pending: Option[VTransaction] = None

      /** The reference permits a duplicate BEGIN only when the buffer is
        * exactly one of the four copy-phase restart shapes
        * (VitessReplicationConnection.java:176-180). */
      private def isCopyPhaseRestartBuffer: Boolean = {
        val kinds = buffer.map {
          case _: BeginEvent         => "BEGIN"
          case _: FieldEvent         => "FIELD"
          case _: VgtidEvent         => "VGTID"
          case _: CopyCompletedEvent => "COPY_COMPLETED"
          case _                     => "?"
        }
        kinds == Seq("BEGIN", "FIELD") ||
        kinds == Seq("BEGIN", "FIELD", "VGTID") ||
        kinds == Seq("COPY_COMPLETED", "BEGIN", "FIELD") ||
        kinds == Seq("COPY_COMPLETED", "BEGIN", "FIELD", "VGTID")
      }

      private def resetTx(): Unit = {
        buffer = Vector.empty
        inTx = false
        txVgtid = None
      }

      private def step(e: VEvent): Option[VTransaction] = e match {
        case b: BeginEvent =>
          if (inTx) {
            if (isCopyPhaseRestartBuffer) { // drop partials + stale vgtid
              carried ++= buffer.collect { case v: VgtidEvent => v }
              resetTx()
            }
            else throw new IllegalStateException(
              s"BEGIN while transaction open on shard ${b.shard} (not a copy-phase restart)")
          }
          inTx = true
          buffer :+= b
          None
        case c: CommitEvent =>
          if (!inTx)
            throw new IllegalStateException(s"COMMIT without BEGIN on shard ${c.shard}")
          val result =
            if (txVgtid.isEmpty) {
              // reference:239-245 — no VGTID in the window, the
              // transaction is dropped; its FIELD events are NOT (the
              // server sends FIELD once per stream per table, so losing
              // the schema here would fail the NEXT transaction's rows
              // with "ROW for unknown table"): flush them alone, like a
              // standalone FIELD
              val kept = carried ++ buffer.collect { case f: FieldEvent => f }
              Option.when(kept.nonEmpty)(VTransaction(c.shard, c.keyspace, None, kept, 0L))
            } else
              Some(VTransaction(c.shard, c.keyspace, txVgtid, carried ++ buffer :+ c, c.timestampSec))
          carried = Vector.empty
          resetTx()
          result
        case v: VgtidEvent =>
          if (inTx) { txVgtid = Some(v.vgtid); buffer :+= v; None }
          else Some(VTransaction(v.shard, "", Some(v.vgtid), Vector(v), 0L)) // position only
        case d: DdlEvent =>
          if (inTx) { buffer :+= d; None } // emitted in order with its tx
          else Some(VTransaction(d.shard, d.keyspace, None, Vector(d), d.timestampSec))
        case h: HeartbeatEvent =>
          if (inTx) { buffer :+= h; None }
          else Some(VTransaction(h.shard, "", None, Vector(h), 0L))
        case o: OtherEvent =>
          if (inTx) { buffer :+= o; None }
          else Some(VTransaction(o.shard, "", None, Vector(o), 0L))
        case f: FieldEvent =>
          if (inTx) { buffer :+= f; None }
          // standalone FIELD still carries a schema update; flush it alone
          else Some(VTransaction(f.shard, f.keyspace, None, Vector(f), 0L))
        case r: RowEvent =>
          if (!inTx)
            throw new IllegalStateException(s"ROW outside transaction on shard ${r.shard}")
          buffer :+= r
          None
        case cc: CopyCompletedEvent =>
          // buffered whether or not a tx is open — it may precede the
          // restarted BEGIN (copy-restart patterns 3/4)
          buffer :+= cc
          None
      }

      def hasNext: Boolean = {
        while (pending.isEmpty && events.hasNext) pending = step(events.next())
        pending.nonEmpty
      }

      def next(): VTransaction = {
        if (!hasNext) throw new NoSuchElementException
        val t = pending.get
        pending = None
        t
      }
    }
}
