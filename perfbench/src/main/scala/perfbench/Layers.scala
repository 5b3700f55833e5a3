package perfbench

import graft.core.OrderedTxContext
import graft.sources.VtWire
import graft.streaming.{RecordBuilder, SchemaRegistry, TransactionAssembler, VEvent, VEventJson}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The CDC decode path's pure layers, each timed alone on one thread
  * over the hot shard of a `cdc_backlog` feed: the single-threaded
  * baseline beside the all-core `records_per_s` of `cdc_backlog`. */
object Layers {
  private val Reps = 3

  /** Median over `Reps` passes of `work / seconds`, after one warm-up pass. */
  private def rate(name: String, work: Double)(f: => Unit): Double = {
    f
    Stat.median((1 to Reps).map { _ =>
      val t0 = System.nanoTime()
      Trace.span(name)(f)
      work / ((System.nanoTime() - t0) / 1e9)
    })
  }

  def run(spark: SparkSession, hotFile: java.io.File, shard: String): Map[String, Double] = {
    val lines = java.nio.file.Files.readAllLines(hotFile.toPath).toArray(Array.empty[String]).toVector
    var events: Vector[VEvent] = Vector.empty
    val linesPerS = rate("layer.events", lines.size) { events = lines.map(VEventJson.read) }

    val responses = events.grouped(64).map(g => VtWire.encodeVStreamResponse(g)).toVector
    val mb = responses.map(_.length.toLong).sum / 1e6
    var decoded = 0L
    val wireMbPerS = rate("layer.vtwire", mb) {
      decoded = responses.iterator.map(r => VtWire.decodeVStreamResponse(r).size.toLong).sum
    }
    require(decoded == events.size, s"VtWire decoded $decoded events of ${events.size}")

    var txs: Vector[graft.streaming.VTransaction] = Vector.empty
    val txPerS = rate("layer.assembler", 1.0) { txs = TransactionAssembler.assemble(events.iterator).toVector } * txs.size

    var records = 0L
    val recPerS = rate("layer.recordbuilder", 1.0) {
      val rb = new RecordBuilder(new SchemaRegistry(), OrderedTxContext.initial(Seq(shard)))
      records = txs.iterator.map(t => rb.onTransaction(t).size.toLong).sum
    } * records

    // the cdc_sql_decode plan shape over the same ROW lines, as one task
    import spark.implicits._
    val packed = StructType(Seq(StructField("lengths", ArrayType(LongType)), StructField("values", StringType)))
    val rowSchema = StructType(Seq(
      StructField("type", StringType), StructField("shard", StringType), StructField("table", StringType),
      StructField("changes", ArrayType(StructType(Seq(
        StructField("before", packed), StructField("after", packed)))))))
    val rowLines = lines.filter(l => l.startsWith("{\"type\":\"ROW\"") && l.contains("\"table\":\"ks.orders\""))
    val input = spark.createDataset(rowLines).toDF("line").localCheckpoint()
    def colAt(i: Int) = element_at(col("r"), i).cast("string")
    val decode = input.coalesce(1)
      .select(from_json(col("line"), rowSchema).as("e"))
      .select(col("e.shard").as("shard"), explode(col("e.changes")).as("c"))
      .select(col("shard"),
        graft.functions.functions.slice_packed_row(col("c.after.lengths"), unbase64(col("c.after.values"))).as("r"))
      .select(colAt(1).cast(LongType).as("o_orderkey"), colAt(2).cast(LongType).as("o_custkey"),
        colAt(3).as("o_orderstatus"), colAt(4).cast(DecimalType(15, 2)).as("o_totalprice"),
        to_date(colAt(5)).as("o_orderdate"), colAt(6).as("o_orderpriority"), col("shard"))
    val slicePerS = rate("layer.slice_packed_row", rowLines.size.toDouble) {
      decode.write.format("noop").mode("overwrite").save()
    }
    Map(
      "vtwire.decode_mb_per_s" -> wireMbPerS,
      "events.lines_per_s" -> linesPerS,
      "assembler.tx_per_s" -> txPerS,
      "recordbuilder.records_per_s" -> recPerS,
      "slice_packed_row.rows_per_s" -> slicePerS)
  }
}
