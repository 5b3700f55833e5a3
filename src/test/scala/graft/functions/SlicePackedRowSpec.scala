package graft.functions

import graft.streaming.PackedRow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import graft.tools.SpecErrors.messages
import org.scalatest.funsuite.AnyFunSuite

class SlicePackedRowSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("slice-packed-row-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  test("slices bytes by lengths; -1 is NULL; matches PackedRow.slice") {
    val sp = spark; import sp.implicits._
    val packed = PackedRow.of(Seq(Some("142"), None, Some("x"), Some("")))
    val df = Seq((packed.lengths, packed.values)).toDF("lengths", "values")
      .select(functions.slice_packed_row(col("lengths"), col("values")).as("r"))
    val row = df.first().getSeq[Array[Byte]](0)
    assert(row.size == 4)
    assert(new String(row(0)) == "142")
    assert(row(1) == null)
    assert(new String(row(2)) == "x")
    assert(row(3).length == 0)
  }

  test("generates real code (no CodegenFallback) and evaluates through it") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types._
    val packed = PackedRow.of(Seq(Some("7"), Some("ok")))
    val expr = SlicePackedRow(
      Literal(new GenericArrayData(packed.lengths.toArray), ArrayType(LongType)),
      Literal(packed.values, BinaryType))
    assert(!expr.isInstanceOf[CodegenFallback])
    val code = expr.genCode(new CodegenContext).code.toString
    assert(code.contains("copyOfRange")) // our generated loop, not reflection
    // and the DataFrame path evaluates it end-to-end
    val sp = spark; import sp.implicits._
    val df = Seq((packed.lengths, packed.values)).toDF("lengths", "values")
      .repartition(1)
      .select(functions.slice_packed_row(col("lengths"), col("values")).as("r"))
      .select(element_at(col("r"), 2).cast("string").as("v"))
    assert(df.first().getString(0) == "ok")
  }

  test("truncated packed row fails loudly in BOTH paths; hostile length never truncates to int") {
    val sp = spark; import sp.implicits._
    // lengths claim 5 bytes, 2 arrived — the JVM decoder throws; the
    // SQL-native decode path must match, never zero-pad
    def run(lens: Seq[Long]): Unit =
      Seq((lens, "ab".getBytes("UTF-8"))).toDF("lengths", "values")
        .select(functions.slice_packed_row(col("lengths"), col("values")).as("r"))
        .collect()
    val e1 = intercept[Exception] { run(Seq(5L)) }
    assert(messages(e1).exists(_.contains("corrupt packed row")))
    // a hostile 2^32+5 length must not wrap to 5 and slice "ab" quietly
    val e2 = intercept[Exception] { run(Seq((1L << 32) + 5L)) }
    assert(messages(e2).exists(_.contains("corrupt packed row")))
  }

  test("wrong input types fail at analysis, not at runtime") {
    val sp = spark; import sp.implicits._
    val df = Seq((Seq(1, 2), "ab".getBytes("UTF-8"), Seq(1.0, 2.0), Seq(1.0f))).toDF("ints", "bytes", "dbls", "flts")
    // array<int> lengths: getLong would read across two 4-byte slots
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(functions.slice_packed_row(col("ints"), col("bytes"))).collect()
    }
    // array<double> embeddings: getFloat would misread 8-byte slots
    intercept[org.apache.spark.sql.AnalysisException] {
      df.select(CosineSim(col("dbls"), col("flts"))).collect()
    }
  }

  test("cosine_sim: zero-norm yields 0.0 (never NaN), dim mismatch yields null") {
    val sp = spark; import sp.implicits._
    val df = Seq((
      Seq(0f, 0f), Seq(1f, 2f),     // zero vs real
      Seq(1f, 2f, 3f), Seq(1f, 2f)  // mismatched dims
    )).toDF("z", "a", "b3", "b2")
    val row = df.select(
      CosineSim(col("z"), col("a")).as("zn"),
      CosineSim(col("b3"), col("b2")).as("mm"),
      CosineSim(col("a"), col("a")).as("self")).first()
    assert(row.getDouble(0) == 0.0) // NaN would top every DESC ranking
    assert(row.isNullAt(1))
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-12)
  }

  test("registered as a SQL function (extensions or runtime registration)") {
    graft.GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT cast(element_at(slice_packed_row(array(1L, 2L), cast('abc' as binary)), 2) as string)")
      .first().getString(0)
    assert(out == "bc")
  }

  test("cosine_sim registered as a SQL function") {
    graft.GraftExtensions.register(spark)
    val out = spark.sql(
      "SELECT cosine_sim(array(cast(1.0 as float), cast(0.0 as float)), " +
        "array(cast(1.0 as float), cast(0.0 as float)))")
      .first().getDouble(0)
    assert(math.abs(out - 1.0) < 1e-12)
  }

  test("cosine_sim matches the HOF formulation and generates real code") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    val sp = spark; import sp.implicits._
    val df = Seq((Seq(1.0f, 0.0f, 2.0f), Seq(0.5f, 1.0f, 2.0f))).toDF("a", "b")
    val viaExpr = df.select(CosineSim(col("a"), col("b"))).first().getDouble(0)
    val viaHof = df.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x) /
        (sqrt(aggregate(zip_with(col("a"), col("a"), (x, y) => x.cast("double") * y.cast("double")),
          lit(0.0), (acc, x) => acc + x)) *
          sqrt(aggregate(zip_with(col("b"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
            lit(0.0), (acc, x) => acc + x))))
      .first().getDouble(0)
    assert(viaExpr == viaHof)
    val expr = CosineSim(
      org.apache.spark.sql.GraftColumnBridge.expression(col("a")),
      org.apache.spark.sql.GraftColumnBridge.expression(col("b")))
    assert(!expr.isInstanceOf[CodegenFallback])
  }

  test("null input yields null output") {
    val sp = spark; import sp.implicits._
    val df = Seq((null.asInstanceOf[Seq[Long]], null.asInstanceOf[Array[Byte]]))
      .toDF("lengths", "values")
      .select(functions.slice_packed_row(col("lengths"), col("values")).as("r"))
    assert(df.first().isNullAt(0))
  }
}
