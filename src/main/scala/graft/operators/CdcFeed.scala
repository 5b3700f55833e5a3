package graft.operators

import graft.Tables
import graft.core._
import graft.streaming._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic simulated VStream feeds derived from the driver-provided
  * testdata tables, in the VEventJson wire format. Each source row becomes
  * one BEGIN/FIELD/ROW/VGTID/COMMIT transaction on shard `key % nShards`,
  * with per-shard GTID sequence = the row's per-shard rank — so every
  * derived quantity (op, tx id, rank, epoch, restart offset) is
  * expressible as SQL over the original table, giving the CDC operators a
  * DuckDB-checkable oracle.
  *
  * Generation is distributed: a window rank per shard (one shuffle), then
  * a flatMap emitting event JSON on executors.
  */
object CdcFeed extends Serializable {

  val DefaultShards = 4

  /** Spread the wire-render flatMap across the session's cores.
    *
    * Every feed builder ranks rows with a `Window.partitionBy("shard")`,
    * which leaves only `nShards` (4) non-empty partitions — so the
    * expensive stage, the per-event JSON serialization in the flatMap
    * that follows, ran at 4-way parallelism on a 32-core session (guide
    * §2.5: synthetic partitioning with too few distinct values). One
    * round-robin exchange of the narrow ranked rows (a few MB) before
    * the render spreads it over every core; every consumer re-orders by
    * (shard, seq) itself (changeRecords repartitions + sorts, the feed
    * stagings sort within their own partitioning), so feed bytes and
    * semantics are unchanged. */
  private def spreadForRender(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Wave tx-seq offsets (wave 2 = tx + WaveOffset, wave 3 = tx +
    * 2*WaveOffset) and the per-tx FeedLine.seq stride (seq = tx *
    * EventsPerTx + eventIndex). Exposed because gate wave boundaries,
    * time-travel cutoff ranks, and oracle SQL literals in CdcQueries
    * all key off them — one definition, not five scattered copies. */
  val WaveOffset = 10000000L
  val EventsPerTx = 8L

  val OrdersFields: Seq[FieldDef] = Seq(
    FieldDef("o_orderkey", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("o_custkey", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull),
    FieldDef("o_orderstatus", "VARCHAR", "varchar(1)", 1, 0, ColumnFlags.NotNull),
    FieldDef("o_totalprice", "FLOAT64", "double", 22, 2, ColumnFlags.NotNull),
    FieldDef("o_orderdate", "TIMESTAMP", "timestamp", 19, 0, ColumnFlags.NotNull),
    FieldDef("o_orderpriority", "VARCHAR", "varchar(15)", 15, 0, ColumnFlags.NotNull))

  val CustomerFields: Seq[FieldDef] = Seq(
    FieldDef("c_custkey", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("c_name", "VARCHAR", "varchar(25)", 25, 0, ColumnFlags.NotNull),
    FieldDef("c_nationkey", "INT32", "int(11)", 11, 0, ColumnFlags.NotNull),
    FieldDef("c_acctbal", "FLOAT64", "double", 22, 2, ColumnFlags.NotNull),
    FieldDef("c_mktsegment", "VARCHAR", "varchar(10)", 10, 0, ColumnFlags.NotNull))

  /** Events for one single-row transaction. Like real VStream, the FIELD
    * (schema) event is sent only with the shard's first transaction per
    * table — the schema registry is last-writer-wins, so later rows
    * decode against it. */
  private def txEvents(
      shard: String,
      table: String,
      fields: Seq[FieldDef],
      change: RowChange,
      txSeq: Long,
      vgtid: Vgtid,
      withField: Boolean = true): Seq[VEvent] = {
    val begin: Seq[VEvent] = Seq(BeginEvent(shard, "ks"))
    val fld: Seq[VEvent] =
      if (withField) Seq(FieldEvent(shard, "ks", table, fields, enumSetStringValues = false)) else Nil
    begin ++ fld ++ Seq(
      RowEvent(shard, "ks", table, Seq(change)),
      VgtidEvent(shard, vgtid),
      CommitEvent(shard, "ks", 1700000000L + txSeq))
  }

  private def feedLines(shard: String, txSeq: Long, events: Seq[VEvent]): Seq[FeedLine] =
    events.zipWithIndex.map { case (e, i) =>
      FeedLine(shard, txSeq * EventsPerTx + i, VEventJson.write(e)) }

  /** The VGTID emitted with transaction `txSeq` of `shard`: the shard's
    * own position advances; with `multiShard` every other shard is listed
    * at a fixed position (as a real multi-shard VGTID would be). */
  private def vgtidAt(
      shard: String, txSeq: Long, nShards: Int, multiShard: Boolean,
      host: String = "feed", shardNames: Seq[String] = Nil): Vgtid =
    if (!multiShard) Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/$host:1-$txSeq")))
    else {
      // entries carry the ACTUAL shard names: indexing 0..n with
      // range-style shardNames in play would freeze the emitting shard's
      // own position at feed:1-1 under names no consumer looks up
      val names =
        if (shardNames.nonEmpty) shardNames else (0 until nShards).map(_.toString)
      Vgtid(names.map { s =>
        ShardGtid("ks", s, if (s == shard) s"MySQL56/$host:1-$txSeq" else "MySQL56/feed:1-1")
      })
    }

  /** orders → one tx per row. opsMix: orderkey%10==0 → update (status set
    * to "U"), %10==5 → delete, else insert. */
  def orders(
      s: SparkSession,
      d: String,
      nShards: Int = DefaultShards,
      opsMix: Boolean = false,
      multiShardVgtid: Boolean = false,
      decimalPrice: Boolean = false,
      hostFlip: Boolean = false,
      shardNames: Seq[String] = Nil): Dataset[FeedLine] = {
    import s.implicits._
    // decimalPrice: o_totalprice streams as a DECIMAL(12,2) wire column
    // (2-dp text, the values are exact cents) instead of FLOAT64
    val fields =
      if (decimalPrice)
        OrdersFields.updated(3,
          FieldDef("o_totalprice", "DECIMAL", "decimal(12,2)", 12, 2, ColumnFlags.NotNull))
      else OrdersFields
    // shardNames maps the key-modulo shard index to range-style names
    // ("-80", "80-", …) so lineage/epoch gates can use real key ranges
    val shardCol =
      if (shardNames.isEmpty) (col("o_orderkey") % nShards).cast("string")
      else element_at(
        array(shardNames.map(lit): _*), (col("o_orderkey") % nShards).cast("int") + 1)
    val w = Window.partitionBy("shard").orderBy("o_orderkey")
    val src = spreadForRender(Tables.orders(s, d).withColumn("shard", shardCol)
      .withColumn("tx", row_number().over(w).cast("long"))
      // hostFlip: the GTID source UUID changes after the first half of each
      // shard's transactions (a failover) — the epoch must bump exactly
      // there. The per-shard count pass only runs when the flip needs it
      .withColumn("n_tx",
        if (hostFlip) count(lit(1)).over(Window.partitionBy("shard")) else lit(0L))
      .select(
        col("shard"), col("tx"), col("n_tx"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        col("o_orderpriority")))
      .as[(String, Long, Long, Long, Long, String, Double, String, String)]
    src.flatMap { case (shard, tx, nTx, okey, ckey, status, price, odate, prio) =>
      val priceText =
        if (decimalPrice) String.format(java.util.Locale.ROOT, "%.2f", Double.box(price))
        else price.toString
      val row = Seq(okey.toString, ckey.toString, status, priceText, odate, prio)
        .map(Option(_))
      val change =
        if (opsMix && okey % 10 == 0)
          RowChange(
            Some(PackedRow.of(row)),
            Some(PackedRow.of(row.updated(2, Some("U")))))
        else if (opsMix && okey % 10 == 5)
          RowChange(Some(PackedRow.of(row)), None)
        else
          RowChange(None, Some(PackedRow.of(row)))
      val host = if (hostFlip && 2 * tx > nTx) "failover" else "feed"
      feedLines(shard, tx,
        txEvents(shard, "ks.orders", fields, change, tx,
          vgtidAt(shard, tx, nShards, multiShardVgtid, host, shardNames),
          withField = tx == 1))
    }
  }

  /** orders feed whose schema EVOLVES mid-stream (D4 last-writer-wins,
    * reference VitessDatabaseSchema.java:64-91): the first half of each
    * shard's transactions stream the 6-column schema; the first
    * transaction of the second half re-sends FIELD with a trailing
    * `o_comment` column — exactly what a live ALTER TABLE + Vitess
    * schema reload produces — and every later row carries 7 values.
    * Decode must follow the registry's latest schema per shard. */
  def ordersEvolving(s: SparkSession, d: String, nShards: Int = DefaultShards): Dataset[FeedLine] = {
    import s.implicits._
    val evolvedFields = OrdersFields :+
      FieldDef("o_comment", "VARCHAR", "varchar(32)", 32, 0, 0L)
    val w = Window.partitionBy("shard").orderBy("o_orderkey")
    val src = spreadForRender(Tables.orders(s, d)
      .withColumn("shard", (col("o_orderkey") % nShards).cast("string"))
      .withColumn("tx", row_number().over(w).cast("long"))
      .withColumn("n_tx", count(lit(1)).over(Window.partitionBy("shard")))
      .select(
        col("shard"), col("tx"), col("n_tx"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        col("o_orderpriority")))
      .as[(String, Long, Long, Long, Long, String, Double, String, String)]
    src.flatMap { case (shard, tx, nTx, okey, ckey, status, price, odate, prio) =>
      val secondHalf = 2 * tx > nTx
      val base = Seq(okey.toString, ckey.toString, status, price.toString, odate, prio)
      val row = (if (secondHalf) base :+ s"c$okey" else base).map(Option(_))
      val firstOfSecondHalf = secondHalf && 2 * (tx - 1) <= nTx
      feedLines(shard, tx,
        txEvents(shard, "ks.orders",
          if (secondHalf) evolvedFields else OrdersFields,
          RowChange(None, Some(PackedRow.of(row))), tx,
          vgtidAt(shard, tx, nShards, multiShard = false),
          withField = tx == 1 || firstOfSecondHalf))
    }
  }

  /** Multi-version orders feed for the materialization gate: wave 1
    * inserts every row; wave 2 (later tx seqs) updates status to 'X' for
    * orderkey%3==0; wave 3 deletes orderkey%10==5. Final state per key is
    * therefore fully SQL-expressible. */
  def ordersVersioned(s: SparkSession, d: String, nShards: Int = DefaultShards): Dataset[FeedLine] = {
    import s.implicits._
    val w = Window.partitionBy("shard").orderBy("o_orderkey")
    val src = spreadForRender(Tables.orders(s, d)
      .withColumn("shard", (col("o_orderkey") % nShards).cast("string"))
      .withColumn("tx", row_number().over(w).cast("long"))
      .select(
        col("shard"), col("tx"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        col("o_orderpriority")))
      .as[(String, Long, Long, Long, String, Double, String, String)]
    val W2 = WaveOffset // wave offsets keep per-shard tx seq monotone
    val W3 = 2 * WaveOffset
    src.flatMap { case (shard, tx, okey, ckey, status, price, odate, prio) =>
      val row = Seq(okey.toString, ckey.toString, status, price.toString, odate, prio)
        .map(Option(_))
      def mk(txSeq: Long, change: RowChange): Seq[FeedLine] =
        feedLines(shard, txSeq,
          txEvents(shard, "ks.orders", OrdersFields, change, txSeq,
            vgtidAt(shard, txSeq, nShards, multiShard = false), withField = txSeq == 1))
      val insert = mk(tx, RowChange(None, Some(PackedRow.of(row))))
      val update =
        if (okey % 3 == 0)
          mk(tx + W2, RowChange(Some(PackedRow.of(row)), Some(PackedRow.of(row.updated(2, Some("X"))))))
        else Nil
      // the delete's before image reflects the row's CURRENT state (post
      // wave-2 update where one applied), as a real binlog does — delta
      // consumers (incremental aggregate maintenance) depend on before
      // images being consistent with the log, not the original insert
      val current = if (okey % 3 == 0) row.updated(2, Some("X")) else row
      val delete =
        if (okey % 10 == 5) mk(tx + W3, RowChange(Some(PackedRow.of(current)), None))
        else Nil
      insert ++ update ++ delete
    }
  }

  val DocumentsFields: Seq[FieldDef] = Seq(
    FieldDef("doc_id", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
    FieldDef("text", "TEXT", "longtext", 0, 0, ColumnFlags.NotNull),
    FieldDef("lang", "VARCHAR", "varchar(8)", 8, 0, ColumnFlags.NotNull),
    FieldDef("source", "VARCHAR", "varchar(32)", 32, 0, ColumnFlags.NotNull))

  /** Multi-version documents feed (the CDC→corpus composition fixture):
    * wave 1 inserts every document; wave 2 appends an edit-marker suffix
    * to doc_id%3==0; wave 3 deletes doc_id%10==5. The final corpus is
    * fully SQL-expressible over the source table. */
  val DocEditSuffix = " graft update marker"

  def documentsVersioned(s: SparkSession, d: String, nShards: Int = DefaultShards): Dataset[FeedLine] = {
    import s.implicits._
    val w = Window.partitionBy("shard").orderBy("doc_id")
    val src = spreadForRender(Tables.documents(s, d)
      .withColumn("shard", (col("doc_id") % nShards).cast("string"))
      .withColumn("tx", row_number().over(w).cast("long"))
      .select(col("shard"), col("tx"), col("doc_id"), col("text"), col("lang"), col("source")))
      .as[(String, Long, Long, String, String, String)]
    val W2 = WaveOffset // wave offsets keep per-shard tx seq monotone
    val W3 = 2 * WaveOffset
    src.flatMap { case (shard, tx, id, text, lang, source) =>
      val row = Seq(id.toString, text, lang, source).map(Option(_))
      def mk(txSeq: Long, change: RowChange): Seq[FeedLine] =
        feedLines(shard, txSeq,
          txEvents(shard, "ks.documents", DocumentsFields, change, txSeq,
            vgtidAt(shard, txSeq, nShards, multiShard = false), withField = txSeq == 1))
      val insert = mk(tx, RowChange(None, Some(PackedRow.of(row))))
      val update =
        if (id % 3 == 0)
          mk(tx + W2, RowChange(
            Some(PackedRow.of(row)),
            Some(PackedRow.of(row.updated(1, Some(text + DocEditSuffix))))))
        else Nil
      val delete =
        if (id % 10 == 5) mk(tx + W3, RowChange(Some(PackedRow.of(row)), None))
        else Nil
      insert ++ update ++ delete
    }
  }

  /** Fixture for the batch-backfill gate (S5 at scale): wave 1 inserts
    * every orders and customer row — the history a parallel batch
    * snapshot already covers — and wave 2 carries the post-snapshot
    * changes (orders.o_orderstatus→'X' for key%3==0, customer
    * .c_mktsegment→'GRAFT' for key%5==0). Per-shard GTID sequence is
    * strictly monotone across tables and waves, and the returned VGTID
    * is the exact between-waves position: the handover the paired
    * stream starts from. Every wave-2 transaction re-carries FIELD —
    * the way a real VStream re-sends schema to a client attaching at
    * an arbitrary position — so a stream starting at the handover can
    * decode without wave-1 context. */
  def backfillWaves(s: SparkSession, d: String, nShards: Int = DefaultShards)
      : (Dataset[FeedLine], Vgtid) = {
    import s.implicits._
    val B1 = 10000000L // customer history follows orders history (independent of WaveOffset — only needs to exceed the orders tx count)
    val B2 = 20000000L // orders updates (post-snapshot)
    val B3 = 30000000L // customer updates (post-snapshot)
    val wOrd = Window.partitionBy("shard").orderBy("o_orderkey")
    val ord = spreadForRender(Tables.orders(s, d)
      .withColumn("shard", (col("o_orderkey") % nShards).cast("string"))
      .withColumn("tx", row_number().over(wOrd).cast("long"))
      .select(
        col("shard"), col("tx"), col("o_orderkey"), col("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss").as("o_orderdate"),
        col("o_orderpriority")))
      .as[(String, Long, Long, Long, String, Double, String, String)]
      .flatMap { case (shard, tx, okey, ckey, status, price, odate, prio) =>
        val row = Seq(okey.toString, ckey.toString, status, price.toString, odate, prio)
          .map(Option(_))
        val insert = feedLines(shard, tx,
          txEvents(shard, "ks.orders", OrdersFields,
            RowChange(None, Some(PackedRow.of(row))), tx,
            vgtidAt(shard, tx, nShards, multiShard = false), withField = tx == 1))
        val update =
          if (okey % 3 != 0) Nil
          else feedLines(shard, B2 + tx,
            txEvents(shard, "ks.orders", OrdersFields,
              RowChange(Some(PackedRow.of(row)), Some(PackedRow.of(row.updated(2, Some("X"))))),
              B2 + tx, vgtidAt(shard, B2 + tx, nShards, multiShard = false)))
        insert ++ update
      }
    val wCust = Window.partitionBy("shard").orderBy("c_custkey")
    val cust = spreadForRender(Tables.customer(s, d)
      .withColumn("shard", (col("c_custkey") % nShards).cast("string"))
      .withColumn("tx", row_number().over(wCust).cast("long"))
      .select(col("shard"), col("tx"), col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
      .as[(String, Long, Long, String, Int, Double, String)]
      .flatMap { case (shard, tx, key, name, nation, bal, seg) =>
        val row = Seq(key.toString, name, nation.toString, bal.toString, seg).map(Option(_))
        val insert = feedLines(shard, B1 + tx,
          txEvents(shard, "ks.customer", CustomerFields,
            RowChange(None, Some(PackedRow.of(row))), B1 + tx,
            vgtidAt(shard, B1 + tx, nShards, multiShard = false), withField = tx == 1))
        val update =
          if (key % 5 != 0) Nil
          else feedLines(shard, B3 + tx,
            txEvents(shard, "ks.customer", CustomerFields,
              RowChange(Some(PackedRow.of(row)), Some(PackedRow.of(row.updated(4, Some("GRAFT"))))),
              B3 + tx, vgtidAt(shard, B3 + tx, nShards, multiShard = false)))
        insert ++ update
      }
    // the between-waves position: after every shard's last history tx
    // (customer history has the highest wave-1 sequence numbers)
    val custCounts = Tables.customer(s, d)
      .groupBy((col("c_custkey") % nShards).cast("string").as("shard"))
      .count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val handover = Vgtid((0 until nShards).map { i =>
      val sh = i.toString
      ShardGtid("ks", sh, s"MySQL56/feed:1-${B1 + custCounts.getOrElse(sh, 0L)}")
    })
    (ord.unionByName(cust), handover)
  }

  /** customer → insert-only feed (used by the extract-new-record-state
    * gate, full typed round-trip). */
  def customer(s: SparkSession, d: String, nShards: Int = DefaultShards): Dataset[FeedLine] = {
    import s.implicits._
    val w = Window.partitionBy("shard").orderBy("c_custkey")
    val src = spreadForRender(Tables.customer(s, d)
      .withColumn("shard", (col("c_custkey") % nShards).cast("string"))
      .withColumn("tx", row_number().over(w).cast("long"))
      .select(col("shard"), col("tx"), col("c_custkey"), col("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment")))
      .as[(String, Long, Long, String, Int, Double, String)]
    src.flatMap { case (shard, tx, key, name, nation, bal, seg) =>
      val row = Seq(key.toString, name, nation.toString, bal.toString, seg).map(Option(_))
      feedLines(shard, tx,
        txEvents(shard, "ks.customer", CustomerFields, RowChange(None, Some(PackedRow.of(row))), tx,
          vgtidAt(shard, tx, nShards, multiShard = false), withField = tx == 1))
    }
  }

  /** orders + customer interleaved on the same shards (table-filter gate).
    * customer transactions are offset after the orders transactions so
    * per-shard seq ordering stays strict; a `mysql.user` row rides along
    * to exercise the system-schema exclusion. */
  def twoTables(
      s: SparkSession, d: String, nShards: Int = DefaultShards,
      withHeartbeatTable: Boolean = false): Dataset[FeedLine] = {
    import s.implicits._
    val base = 10_000_000L
    val custShifted = customer(s, d, nShards)
      .map(fl => fl.copy(seq = fl.seq + base * 8))
    val sysFields = Seq(
      FieldDef("user", "VARCHAR", "varchar(32)", 32, 0, ColumnFlags.NotNull | ColumnFlags.PriKey))
    val sysTx = (0 until nShards).flatMap { i =>
      val shard = i.toString
      val txSeq = 2 * base
      feedLines(shard, txSeq,
        txEvents(shard, "mysql.user", sysFields,
          RowChange(None, Some(PackedRow.of(Seq(Some("root"))))), txSeq,
          Vgtid(Seq(ShardGtid("mysql", shard, s"MySQL56/feed:1-$txSeq")))))
    }
    // H2: one Vitess heartbeat-table row per shard rides along; filtered
    // out unless the consumer opts in
    val hbFields = Seq(
      FieldDef("ts", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey))
    val hbTx =
      if (!withHeartbeatTable) Nil
      else (0 until nShards).flatMap { i =>
        val shard = i.toString
        val txSeq = 3 * base
        feedLines(shard, txSeq,
          txEvents(shard, "ks.heartbeat", hbFields,
            RowChange(None, Some(PackedRow.of(Seq(Some("1"))))), txSeq,
            Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/feed:1-$txSeq")))))
      }
    orders(s, d, nShards).unionByName(custShifted)
      .unionByName(s.createDataset(sysTx))
      .unionByName(s.createDataset(hbTx))
  }

  /** Global dense rank by `orderCol` as column `tx` (+ `base`), in the
    * scale-correct TWO-PASS shape instead of an unpartitioned window
    * (which funnels the whole table through one task): range-partition
    * on the key, rank within each partition, add broadcast exclusive
    * prefix counts. The ranged data persists across the two passes so
    * both see the SAME sampled range boundaries; values are identical
    * to the single-partition window's, so feed bytes don't change. */
  private def globalSeq(df: DataFrame, orderCol: String, base: Long): DataFrame = {
    val parts = df.sparkSession.sessionState.conf.numShufflePartitions
    Materialize.cached(df.repartitionByRange(parts, col(orderCol))
        .withColumn("__pid", spark_partition_id())) { ranged =>
      val counts: Map[Int, Long] = ranged.groupBy(col("__pid")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val offsets = counts.keys.toSeq.sorted
        .map(pid => (pid, counts.filter(_._1 < pid).values.sum))
      val spark = df.sparkSession
      import spark.implicits._
      val dim = offsets.toDF("__pid", "__off")
      val w = Window.partitionBy(col("__pid")).orderBy(col(orderCol))
      ranged.join(broadcast(dim), Seq("__pid"))
        .withColumn("tx", col("__off") + row_number().over(w).cast("long") + base)
        .drop("__pid", "__off")
        // cut the cached-exchange lineage so the cache can be released
        // without a recompute hazard
        .localCheckpoint()
    }
  }

  /** VStream-copy feed (S5/F3 gate fixture), single shard `s0` — the
    * server copies tables sequentially with lastpk progress in every
    * VGTID, signals COPY_COMPLETED, then switches to streaming:
    *
    *   1. copy of `ks.orders` (o_orderkey%4==0, ascending pk),
    *   2. copy of `ks.customer` (c_custkey%4==0),
    *   3. COPY_COMPLETED,
    *   4. streaming inserts for both tables (key%4==1).
    *
    * Copy-phase FIELDs carry `enumSetStringValues=true` exactly like the
    * real copy phase. With `snapshot.tables` restricted to orders, the
    * customer COPY rows must be dropped while its streaming rows flow. */
  def copyPhase(s: SparkSession, d: String): Dataset[FeedLine] = {
    import s.implicits._
    val shard = "s0"
    val ordFields = Seq(
      FieldDef("o_orderkey", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("o_orderstatus", "VARCHAR", "varchar(1)", 1, 0, 0L))
    val custFields = Seq(
      FieldDef("c_custkey", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("c_mktsegment", "VARCHAR", "varchar(10)", 10, 0, 0L))

    def lastPkVgtid(table: String, pkName: String, pk: Long, gtidSeq: Long): Vgtid = {
      val txt = pk.toString
      Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/feed:1-$gtidSeq", Seq(
        TableLastPk(table,
          Seq(PkField(pkName, "INT64", 63, None)),
          Seq(PkRow(Seq(txt.length.toString),
            java.util.Base64.getEncoder.encodeToString(txt.getBytes("UTF-8")))))))))
    }

    def tx(table: String, fields: Seq[FieldDef], vals: Seq[String], txSeq: Long,
        vgtid: Vgtid, copyLabels: Boolean): Seq[FeedLine] =
      feedLines(shard, txSeq, Seq(
        BeginEvent(shard, "ks"),
        FieldEvent(shard, "ks", s"ks.$table", fields, enumSetStringValues = copyLabels),
        RowEvent(shard, "ks", s"ks.$table",
          Seq(RowChange(None, Some(PackedRow.of(vals.map(Option(_))))))),
        VgtidEvent(shard, vgtid),
        CommitEvent(shard, "ks", 1700000000L + txSeq)))

    def ordSlice(res: Long, base: Long, copy: Boolean) =
      globalSeq(Tables.orders(s, d).filter(col("o_orderkey") % 4 === res),
          "o_orderkey", base)
        .select(col("tx"), col("o_orderkey"), col("o_orderstatus"))
        .as[(Long, Long, String)]
        .flatMap { case (t, okey, status) =>
          val v = if (copy) lastPkVgtid("orders", "o_orderkey", okey, t)
          else Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/feed:1-$t")))
          tx("orders", ordFields, Seq(okey.toString, status), t, v, copyLabels = copy)
        }
    def custSlice(res: Long, base: Long, copy: Boolean) =
      globalSeq(Tables.customer(s, d).filter(col("c_custkey") % 4 === res),
          "c_custkey", base)
        .select(col("tx"), col("c_custkey"), col("c_mktsegment"))
        .as[(Long, Long, String)]
        .flatMap { case (t, ckey, seg) =>
          val v = if (copy) lastPkVgtid("customer", "c_custkey", ckey, t)
          else Vgtid(Seq(ShardGtid("ks", shard, s"MySQL56/feed:1-$t")))
          tx("customer", custFields, Seq(ckey.toString, seg), t, v, copyLabels = copy)
        }
    val copyCompleted = s.createDataset(Seq(
      FeedLine(shard, 2_000_000L * 8, VEventJson.write(CopyCompletedEvent(shard)))))
    // The four slices are independent EAGER constructions (globalSeq runs
    // a sampling pass, a count and a localCheckpoint each); submitting
    // them from a small thread pool overlaps those fixed job latencies —
    // guide §2.6, overlap independent jobs — instead of paying them end
    // to end. Each slice's internal two-pass consistency is per-slice
    // state, untouched by the interleaving.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val (ord0, cust0, ord1, cust1) =
      try {
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        val fs = (
          Future(ordSlice(0, 0L, copy = true)),
          Future(custSlice(0, 1_000_000L, copy = true)),
          Future(ordSlice(1, 3_000_000L, copy = false)),
          Future(custSlice(1, 4_000_000L, copy = false)))
        (Await.result(fs._1, Duration.Inf), Await.result(fs._2, Duration.Inf),
          Await.result(fs._3, Duration.Inf), Await.result(fs._4, Duration.Inf))
      } finally pool.shutdown()
    ord0
      .unionByName(cust0)
      .unionByName(copyCompleted)
      .unionByName(ord1)
      .unionByName(cust1)
  }

  // ------------------------------------------------------------ literal
  /** D7 modes fixture: values whose decoding depends on the handling
    * modes — a negative-wire UINT64 (two's-complement wraparound), raw
    * BLOB bytes, and the temporal family. One insert tx on shard 0. */
  def typeModesMatrix(s: SparkSession): Dataset[FeedLine] = {
    import s.implicits._
    val fields = Seq(
      FieldDef("c_pk", "INT64", "bigint(20)", 20, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("c_u64_neg", "UINT64", "bigint(20) unsigned", 20, 0, 0L),
      FieldDef("c_u64", "UINT64", "bigint(20) unsigned", 20, 0, 0L),
      FieldDef("c_bin", "BLOB", "blob", 0, 0, 0L),
      FieldDef("c_date", "DATE", "date", 10, 0, 0L),
      FieldDef("c_time", "TIME", "time(1)", 10, 1, 0L),
      FieldDef("c_dt", "DATETIME", "datetime", 19, 0, 0L),
      FieldDef("c_ts", "TIMESTAMP", "timestamp", 19, 0, 0L))
    val values = Seq(
      Some("1"), Some("-1"), Some("123"), Some("AB"),
      Some("2020-02-29"), Some("-01:30:15.5"),
      Some("2021-01-02 03:04:05"), Some("2021-01-02 03:04:05"))
    val events = txEvents("0", "ks.modes", fields,
      RowChange(None, Some(PackedRow.of(values))), 1L,
      Vgtid(Seq(ShardGtid("ks", "0", "MySQL56/feed:1-1"))))
    s.createDataset(events.zipWithIndex.map { case (e, i) =>
      FeedLine("0", i.toLong, VEventJson.write(e))
    })
  }

  /** Fixed type-matrix fixture covering the full conversion surface
    * (mirrors the reference's vitess_create_tables.ddl numeric/string/
    * enum/set/time/zero-value tables — see FIXTURES.md). One insert tx on
    * shard 0, then DDL + heartbeat events. */
  def typeMatrix(s: SparkSession): Dataset[FeedLine] = {
    import s.implicits._
    val fields = Seq(
      FieldDef("c_i16", "INT16", "smallint(6)", 6, 0, ColumnFlags.NotNull | ColumnFlags.PriKey),
      FieldDef("c_i32", "INT32", "int(11)", 11, 0, 0L),
      FieldDef("c_i64", "INT64", "bigint(20)", 20, 0, 0L),
      FieldDef("c_u64", "UINT64", "bigint(20) unsigned", 20, 0, 0L),
      FieldDef("c_f32", "FLOAT32", "float", 12, 31, 0L),
      FieldDef("c_f64", "FLOAT64", "double", 22, 31, 0L),
      FieldDef("c_dec", "DECIMAL", "decimal(13,4)", 13, 4, 0L),
      FieldDef("c_txt", "VARCHAR", "varchar(64)", 64, 0, 0L),
      FieldDef("c_json", "JSON", "json", 0, 0, 0L),
      FieldDef("c_enum", "ENUM", "enum('s','m','l')", 0, 0, 0L),
      FieldDef("c_set", "SET", "set('a','b','c')", 0, 0, 0L),
      FieldDef("c_bit1", "BIT", "bit(1)", 1, 0, 0L),
      FieldDef("c_date", "DATE", "date", 10, 0, 0L),
      FieldDef("c_zero_date", "DATE", "date", 10, 0, 0L),
      FieldDef("c_zero_dt_nn", "DATETIME", "datetime", 19, 0, ColumnFlags.NotNull),
      FieldDef("c_time", "TIME", "time(1)", 10, 1, 0L),
      FieldDef("c_dt", "DATETIME", "datetime", 19, 0, 0L),
      FieldDef("c_ts", "TIMESTAMP", "timestamp", 19, 0, 0L))
    val values = Seq(
      Some("-42"), Some("123456"), Some("9123456789"),
      Some("18446744073709551615"), Some("1.5"), Some("3.25"),
      Some("12345.6700"), Some("héllo wörld"), Some("""{"a":1}"""),
      Some("2"), Some("5"), Some("\u0001"),
      Some("2020-02-29"), Some("0000-00-00"), Some("2024-00-00 00:00:00"), Some("-01:30:15.5"),
      Some("2021-01-02 03:04:05"), Some("2021-01-02 03:04:05"))
    val events: Seq[VEvent] =
      txEvents("0", "ks.typetest", fields, RowChange(None, Some(PackedRow.of(values))), 1L,
        Vgtid(Seq(ShardGtid("ks", "0", "MySQL56/feed:1-1")))) ++ Seq(
        DdlEvent("0", "ks", "ALTER TABLE `ks`.`typetest` ADD COLUMN c_new INT", 1700000100L),
        DdlEvent("0", "ks", "/* comment */ CREATE TABLE t_new (id bigint primary key)", 1700000101L),
        HeartbeatEvent("0"))
    s.createDataset(events.zipWithIndex.map { case (e, i) => FeedLine("0", i.toLong, VEventJson.write(e)) })
  }
}
