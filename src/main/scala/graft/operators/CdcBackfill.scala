package graft.operators

import graft.core.Vgtid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Batch-parallel initial load (SURVEY §2 S5 at 100× scale).
  *
  * The reference's snapshot is the server-driven VStream copy
  * (VitessReplicationConnection.java:135,150-157 — the ONE stream
  * interleaves full table scans with lastpk progress), so initial load
  * throughput is bounded by a single gRPC stream. The Spark-native
  * shape: snapshot the tables with `spark.read` (every executor scans
  * in parallel), record the stream position the snapshot is consistent
  * with, and start the CDC stream exactly there — snapshot and stream
  * meet with no gap and no overlap. The `vitess-cdc` source's `vgtid`
  * option is the handover: its rank-window filter skips every
  * transaction at or before the recorded position, so pre-snapshot
  * history in the feed is never re-delivered (the cdc_copy_backfill
  * gate pins this against the DuckDB oracle).
  *
  * The lastpk-resumable VStream copy (S5's own gate, cdc_copy_phase)
  * remains for deployments that cannot take a consistent batch
  * snapshot; this operator is the scale path when they can.
  */
object CdcBackfill {

  /** Wrap a batch-read table into change-envelope records
    * (VitessCdc.Schema — unionable with the streamed records): op `c`,
    * `after` = the row as JSON, `key` = the primary-key columns, and
    * every record carrying its shard's handover position so consumers
    * see where the snapshot ends and the stream takes over. Callers
    * pre-map column values into the delivered-value domain (e.g.
    * timestamps to epoch micros) if they need byte-identical envelopes;
    * key-based consumers do not. */
  def snapshotRecords(
      rows: DataFrame,
      keyspace: String,
      table: String,
      keyCols: Seq[String],
      shardCol: Column,
      handover: Vgtid): DataFrame = {
    require(handover.shardGtids.nonEmpty, "handover vgtid must carry the shard positions")
    // shard → its LOCAL handover position (what UseLocalVgtid would
    // leave on a streamed record)
    val vmap = map(handover.shardGtids.flatMap(sg =>
      Seq(lit(sg.shard), lit(Vgtid(Seq(sg)).json))): _*)
    val payload = rows.columns.map(col)
    val shard = shardCol.cast("string")
    rows.select(
      shard.as("shard"),
      lit(keyspace).as("keyspace"),
      lit(table).as("table"),
      lit("c").as("op"),
      lit(null).cast("string").as("before"),
      to_json(struct(payload: _*)).as("after"),
      to_json(struct(keyCols.map(col): _*)).as("key"),
      lit(0L).as("ts_ms"),
      // a shard value outside the handover vgtid means the handover was
      // recorded against a different topology (e.g. pre-reshard): a null
      // position here would silently gap or replay pre-snapshot history
      // downstream — exactly the error class this backfill exists to
      // prevent — so fail the job instead
      ColumnGuards.requireNonNull(element_at(vmap, shard),
        concat(lit("backfill row's shard '"), shard,
          lit("' is not covered by the handover vgtid — was it recorded " +
            "against a different (pre-reshard) topology?"))).as("vgtid"),
      ColumnGuards.requireNonNull(element_at(vmap, shard),
        "unreachable: vgtid column raises first").as("restart_vgtid"),
      lit(null).cast("string").as("tx_id"),
      lit(0L).as("epoch"),
      lit(null).cast("string").as("rank"),
      lit(0L).as("total_order"),
      lit(0L).as("collection_order"))
  }
}
