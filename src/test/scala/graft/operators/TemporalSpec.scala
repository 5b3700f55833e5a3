package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Unit-level semantics of the temporal operators — inclusive vs strict
  * as-of bounds, no-match nulls, SCD2 interval chaining with deletes,
  * and snapshot cutoffs — on data small enough to reason about by hand.
  * (The gates check the same operators at sf scale against DuckDB.)
  */
class TemporalSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("temporal-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def leftDf = {
    val s = spark; import s.implicits._
    Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 30L), (4L, "b", 10L))
      .toDF("id", "k", "t")
  }

  private def rightDf = {
    val s = spark; import s.implicits._
    Seq(("a", 10L, "r10"), ("a", 25L, "r25"), ("c", 1L, "r1"))
      .toDF("k", "rt", "v")
  }

  test("asofJoin inclusive: equal time matches; no earlier row -> null") {
    val out = Temporal.asofJoin(leftDf, rightDf, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> "r10", 2L -> "r10", 3L -> "r25", 4L -> null))
  }

  test("asofJoin strict: equal time is NOT visible") {
    val out = Temporal.asofJoin(leftDf, rightDf, Seq("k"), "t", "rt", Seq("v"),
        strict = true)
      .select("id", "v").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out === Map(1L -> null, 2L -> "r10", 3L -> "r25", 4L -> null))
  }

  test("asofJoin keeps every left row and all left columns") {
    val out = Temporal.asofJoin(leftDf, rightDf, Seq("k"), "t", "rt", Seq("v"))
    assert(out.columns.toSeq === Seq("id", "k", "t", "v"))
    assert(out.count() === leftDf.count())
  }

  // Change-log fixture: key A inserted @1, updated @3, deleted @5;
  // key B inserted @2; key C inserted @4, deleted @6.
  private def log = {
    val s = spark; import s.implicits._
    Seq(
      ("A", "c", 1L, """{"id":"A","x":"a1"}"""),
      ("B", "c", 2L, """{"id":"B","x":"b1"}"""),
      ("A", "u", 3L, """{"id":"A","x":"a2"}"""),
      ("C", "c", 4L, """{"id":"C","x":"c1"}"""),
      ("A", "d", 5L, null: String),
      ("C", "d", 6L, null: String))
      .toDF("key0", "op", "rank0", "after")
      .select(
        concat(lit("""{"id":""""), col("key0"), lit(""""}""")).as("key"),
        col("op"), lit("t").as("table"),
        col("rank0").cast("string").as("rank"),
        lit(0L).as("epoch"), lit(1L).as("total_order"), col("after"))
  }

  private val schema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("id",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("x",
      org.apache.spark.sql.types.StringType)))

  test("snapshotAt honors the rank cutoff including deletes") {
    def snap(r: Long): Map[String, String] =
      Temporal.snapshotAt(log, "t", schema, epoch = 0L, rank = r)
        .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(snap(2L) === Map("A" -> "a1", "B" -> "b1"))
    assert(snap(4L) === Map("A" -> "a2", "B" -> "b1", "C" -> "c1"))
    assert(snap(5L) === Map("B" -> "b1", "C" -> "c1"))
    assert(snap(99L) === Map("B" -> "b1"))
  }

  test("asofJoin: null keys never match (SQL equi semantics), left row kept with null payload") {
    val s = spark; import s.implicits._
    val l = Seq((1L, Option.empty[String], 10L), (2L, Some("a"), 10L))
      .toDF("id", "k", "t")
    val r = Seq((Option.empty[String], 3L, "nullk"), (Some("a"), 5L, "ra"))
      .toDF("k", "rt", "v")
    val out = Temporal.asofJoin(l, r, Seq("k"), "t", "rt", Seq("v"))
      .select("id", "v").collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    // the null-key left row must NOT inherit the null-key right row's state
    assert(out === Map(1L -> null, 2L -> "ra"))
  }

  test("snapshotAt includes null-rank records (the snapshot/copy base) at any cutoff") {
    val s = spark; import s.implicits._
    // epoch-0 backfill rows carry rank = null (CdcBackfill) — they are
    // the oldest versions; a cutoff in the same epoch must not drop keys
    // the stream never touched again
    val base = Seq(
      ("A", "c", null: String, 0L, """{"id":"A","x":"snap_a"}"""),
      ("B", "c", null: String, 0L, """{"id":"B","x":"snap_b"}"""),
      ("A", "u", "3", 1L, """{"id":"A","x":"a2"}"""))
      .toDF("key0", "op", "rank", "total_order", "after")
      .select(
        concat(lit("""{"id":""""), col("key0"), lit(""""}""")).as("key"),
        col("op"), lit("t").as("table"), col("rank"),
        lit(0L).as("epoch"), col("total_order"), col("after"))
    def snap(r: Long): Map[String, String] =
      Temporal.snapshotAt(base, "t", schema, epoch = 0L, rank = r)
        .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    assert(snap(0L) === Map("A" -> "snap_a", "B" -> "snap_b")) // base only
    assert(snap(3L) === Map("A" -> "a2", "B" -> "snap_b"))     // B untouched, still there
  }

  test("scd2 chains intervals, closes on delete, flags only live current") {
    val hist = Temporal.scd2(log, "t", schema)
      .select("id", "x", "version", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getLong(2)) ->
        (r.getString(1), r.getLong(3),
          if (r.isNullAt(4)) -1L else r.getLong(4), r.getBoolean(5)))
      .toMap
    assert(hist === Map(
      ("A", 1L) -> ("a1", 1L, 3L, false),
      ("A", 2L) -> ("a2", 3L, 5L, false),
      ("B", 1L) -> ("b1", 2L, -1L, true),
      ("C", 1L) -> ("c1", 4L, 6L, false)))
  }

  test("scd2 positions are (epoch, rank) pairs: backfill base visible, epoch bump coherent") {
    val s = spark; import s.implicits._
    // key A: epoch-0 BACKFILL base (rank null), epoch-0 update @900,
    // then a failover bumps the epoch and rank RESTARTS: an epoch-1
    // COPY row (rank null) then an epoch-1 update @5
    val base = Seq(
      ("A", "c", null: String, 0L, 1L, """{"id":"A","x":"snap"}"""),
      ("A", "u", "900", 0L, 2L, """{"id":"A","x":"v900"}"""),
      ("A", "u", null: String, 1L, 3L, """{"id":"A","x":"copy1"}"""),
      ("A", "u", "5", 1L, 4L, """{"id":"A","x":"v5"}"""))
      .toDF("key0", "op", "rank", "epoch", "total_order", "after")
      .select(
        concat(lit("""{"id":""""), col("key0"), lit(""""}""")).as("key"),
        col("op"), lit("t").as("table"), col("rank"), col("epoch"),
        col("total_order"), col("after"))
    val hist = Temporal.scd2(base, "t", schema)
      .orderBy("version")
      .select("x", "valid_from_epoch", "valid_from", "valid_to_epoch",
        "valid_to", "is_current")
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -99L else r.getLong(3),
        if (r.isNullAt(4)) -99L else r.getLong(4), r.getBoolean(5)))
    assert(hist.toSeq == Seq(
      // the backfill base opens at (0, -1) — a REAL position every range
      // predicate matches, not a SQL-null hole — and closes at (0, 900)
      ("snap", 0L, -1L, 0L, 900L, false),
      // v900 closes at the NEXT EPOCH's copy row (1, -1): with bare rank
      // intervals this row would have been [900, null) = a second
      // "current" version, and a bare-rank [900, 5) is inverted garbage
      ("v900", 0L, 900L, 1L, -1L, false),
      ("copy1", 1L, -1L, 1L, 5L, false),
      ("v5", 1L, 5L, -99L, -99L, true))) // the ONE live current version
    assert(hist.count(_._6) == 1)
  }
}
