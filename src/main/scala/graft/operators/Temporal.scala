package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Temporal operators over the CDC change log and ordinary timestamped
  * tables: time-travel snapshots, SCD2 history construction, and as-of
  * joins.
  *
  * The reference connector's users land the change stream in a lakehouse
  * and then ask temporal questions of it — "what did the table look like
  * at position T", "give me the full version history of each row",
  * "join each fact to the dimension version that was current at fact
  * time". The reference leaves all three to downstream SQL; here they
  * are first-class Spark operators sharing `Sink`'s change-log ordering
  * ((epoch, rank, total_order), see operators/Sink.scala and
  * /root/reference/src/main/java/io/debezium/connector/vitess/pipeline/txmetadata/VitessOrderedTransactionContext.java:30-76
  * for why that triple is the total order).
  *
  * Scale notes (100 TB): all three operators are one hash shuffle on the
  * row key (no joins at all for snapshot/SCD2; the as-of join is the
  * union+window algorithm, never a range-join explosion). Per-key state
  * inside a window is O(1) — running `last` / `lead` — so partitions
  * stream; nothing collects to the driver.
  */
object Temporal {

  private val rankDec: Column = col("rank").cast(DecimalType(38, 0))

  private def changeRows(records: DataFrame, table: String): DataFrame =
    records.filter(col("table") === table && col("op").isin("c", "u", "d") &&
      col("key").isNotNull)

  /** Time-travel snapshot: the state of `table` as of change-log position
    * (`epoch`, `rank`) inclusive — `Sink.materialize` restricted to the
    * prefix of the log at or before the cutoff. Rows whose latest
    * qualifying op is a delete are absent, exactly as they were at T.
    *
    * One shuffle (the per-key window); the position filter is a plain
    * predicate pushed to the log scan, so a snapshot at an early T reads
    * and ranks only the log prefix.
    */
  def snapshotAt(records: DataFrame, table: String, schema: StructType,
      epoch: Long, rank: Long): DataFrame = {
    // null-rank records (batch-backfill snapshot rows, copy-phase
    // records) are the OLDEST versions within their epoch — the window
    // in latestImage already orders them last (desc nulls-last), and the
    // cutoff must include them too: a bare `rankDec <= rank` is SQL NULL
    // for them, which would silently drop the whole snapshot base from
    // any same-epoch time travel
    val cut = col("epoch") < epoch ||
      (col("epoch") === epoch && (rankDec.isNull || rankDec <= lit(rank)))
    latestImage(records, table, schema, Some(cut))
  }

  /** The ONE definition of "current image per key" over a change log —
    * snapshotAt is this plus a prefix cut, Sink.materialize is this with
    * none; a shared helper so the version order (epoch, rank-decimal,
    * total_order, desc nulls-last) can never drift between them. */
  private[operators] def latestImage(records: DataFrame, table: String,
      schema: StructType, cut: Option[Column]): DataFrame = {
    val w = Window.partitionBy(col("key"))
      .orderBy(col("epoch").desc, rankDec.desc, col("total_order").desc)
    val base = changeRows(records, table)
    cut.fold(base)(base.filter)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "d")
      .select(from_json(col("after"), schema).as("r"))
      .select(col("r.*"))
  }

  /** SCD2 history: one row per (key, version) with its validity interval
    * in change-log POSITION space. A version opens at its own position
    * and closes at the next op's position for the same key (a delete
    * closes the last version without opening one); `valid_to` is null —
    * and `is_current` true — only for a live latest version.
    *
    * A position is the PAIR (epoch, rank): rank restarts when the epoch
    * bumps (failover, reshard — Sink's ordering doc), so a bare rank
    * interval would be incoherent for any key whose versions span a
    * bump ([900, 5) after a failover). Consumers compare positions
    * lexicographically: `(e1, r1) <= (e2, r2)` iff
    * `e1 < e2 OR (e1 = e2 AND r1 <= r2)`. Null-rank records (batch
    * backfill, copy phase — the oldest rows of their epoch, exactly as
    * [[snapshotAt]] orders them) take rank −1 in validity space, below
    * every real GTID sequence: a backfill base version is then visible
    * to ordinary range predicates instead of carrying a SQL-null
    * `valid_from` that no comparison matches, and a version closed BY a
    * null-rank successor closes at (nextEpoch, −1) instead of
    * masquerading as a second `is_current` row.
    *
    * Output: every `schema` field (decoded from the version's after
    * image) plus `version` (1-based per key), `valid_from_epoch`,
    * `valid_from`, `valid_to_epoch`, `valid_to`, `is_current`
    * (`*_epoch` sits beside the rank so single-epoch consumers can keep
    * ignoring it). Single shuffle on key; both windows share the
    * partitioning and sort, so Catalyst plans one Sort + two Window ops
    * back to back.
    */
  def scd2(records: DataFrame, table: String, schema: StructType): DataFrame = {
    val byKey = Window.partitionBy(col("key"))
      .orderBy(col("epoch"), rankDec, col("total_order"))
    // −1 = "before every real rank of the epoch"; lead over the COALESCED
    // value is null only at end-of-key (live), never because the next
    // version happens to be a null-rank backfill row
    val pos = coalesce(rankDec, lit(-1)).cast(LongType)
    val versions = changeRows(records, table)
      .withColumn("valid_to", lead(pos, 1).over(byKey))
      .withColumn("valid_to_epoch", lead(col("epoch"), 1).over(byKey))
      .filter(col("op") =!= "d")
    versions
      .withColumn("version", row_number().over(byKey).cast(LongType))
      .select(
        from_json(col("after"), schema).as("r"),
        col("version"),
        col("epoch").as("valid_from_epoch"),
        pos.as("valid_from"),
        col("valid_to_epoch"),
        col("valid_to"),
        col("valid_to").isNull.as("is_current"))
      .select(col("r.*"), col("version"), col("valid_from_epoch"),
        col("valid_from"), col("valid_to_epoch"), col("valid_to"),
        col("is_current"))
  }

  /** As-of join: for each left row, the payload of the most recent right
    * row with the same key and `rightTime` <= left time (`<` when
    * `strict`); payload columns are null when no right row qualifies.
    *
    * Spark has no ASOF JOIN, and the naive range join explodes to
    * O(|left| x |right-per-key|) candidate pairs. This is the
    * union+window formulation instead: tag both sides, sort each key by
    * (time, side), and carry the latest right payload forward with a
    * running `last` — one hash shuffle on the key, O(1) state per row,
    * no pair explosion regardless of key density. Equal-time ordering
    * between the sides encodes the bound: right-before-left gives <=,
    * left-before-right gives strict <.
    *
    * `right` should be unique per (key, time); equal-(key, time) right
    * rows are tie-broken deterministically by payload hash (last wins).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCols: Seq[String],
      leftTime: String, rightTime: String, payloadCols: Seq[String],
      strict: Boolean = false): DataFrame = {
    require(payloadCols.nonEmpty, "asofJoin needs at least one payload column")
    val payload = struct(payloadCols.map(col): _*)
    // sides sort so that an equal-time right row is visible iff the bound
    // is inclusive
    val (rightSide, leftSide) = if (strict) (1, 0) else (0, 1)
    val r = right
      .filter(col(rightTime).isNotNull)
      // SQL equi-join semantics: a null key matches NOTHING. The window
      // partitioning would otherwise group null-key rows from both
      // sides together and hand left rows the state of other unknown-key
      // rows; dropping null-key RIGHT rows leaves null-key left rows in
      // a partition with no visible payload → null, the join answer
      .filter(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(keyCols.map(col) :+ col(rightTime).as("__t") :+
        payload.as("__asof") :+ lit(rightSide).as("__side"): _*)
    val l = left
      .select(left.columns.map(col) :+ col(leftTime).as("__t") :+
        lit(null).cast(r.schema("__asof").dataType).as("__asof") :+
        lit(leftSide).as("__side"): _*)
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col("__t").asc_nulls_first, col("__side"),
        xxhash64(col("__asof")))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r, allowMissingColumns = true)
      .withColumn("__m", last(col("__asof"), ignoreNulls = true).over(w))
      .filter(col("__side") === leftSide)
      .select(left.columns.map(col) ++ payloadCols.map(p => col(s"__m.$p").as(p)): _*)
  }
}
