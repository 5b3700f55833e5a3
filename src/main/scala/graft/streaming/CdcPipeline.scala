package graft.streaming

import graft.core._
import graft.sources.VitessCdc
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** One line of the simulated VStream feed: a per-shard totally-ordered
  * event in the VEventJson wire format. `seq` orders events within a
  * shard (the gRPC stream order). */
final case class FeedLine(shard: String, seq: Long, line: String)

/** Batch CDC pipeline: event feed → assembled transactions → decoded
  * envelope records, as a distributed Spark operator.
  *
  * Scale design (100 TB / 1000 executors): shards are the unit of
  * parallelism — `repartition($"shard")` hash-distributes shards across
  * executors and `sortWithinPartitions(shard, seq)` restores each shard's
  * binlog order with one shuffle. Each shard's run is then processed
  * sequentially by the same pure state machines the streaming source
  * uses (TransactionAssembler, ShardTxStep, RecordBuilder) — per-shard
  * sequential processing is inherent to CDC (binlog total order per
  * shard), so this is the maximum available parallelism, exactly like
  * the reference's shard→task round-robin (VitessConnector.java:126-133)
  * but elastic.
  * Nothing is collected to the driver; decode happens inside
  * mapPartitions on executors.
  *
  * The output is a change-record DataFrame named and typed by
  * [[VitessCdc.Schema]], exactly as the `vitess-cdc` source delivers it,
  * so every operator over one runs unchanged on the other.
  */
object CdcPipeline {

  def changeRecords(
      spark: SparkSession,
      feed: Dataset[FeedLine],
      emitBoundaries: Boolean = false,
      tableFilter: TableFilter = TableFilter.acceptAll,
      columnRules: ColumnRules = ColumnRules.none,
      convertFailureMode: ConvertFailureMode = ConvertFailureMode.Fail,
      typeModes: ValueConversion.TypeModes = ValueConversion.TypeModes.default): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    feed
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("seq"))
      .mapPartitions { it =>
        processPartition(
          it.buffered, emitBoundaries, tableFilter, columnRules, convertFailureMode, typeModes)
      }
      .toDF(VitessCdc.Schema.fieldNames.toIndexedSeq: _*)
  }

  /** A partition holds one or more complete shards (hash partitioning),
    * sorted by (shard, seq): process each equal-shard run with fresh
    * per-shard state. */
  private[graft] def processPartition(
      buf: BufferedIterator[FeedLine],
      emitBoundaries: Boolean,
      tableFilter: TableFilter,
      columnRules: ColumnRules = ColumnRules.none,
      convertFailureMode: ConvertFailureMode = ConvertFailureMode.Fail,
      typeModes: ValueConversion.TypeModes = ValueConversion.TypeModes.default): Iterator[ChangeRecord] =
    if (!buf.hasNext) Iterator.empty
    else {
      val shard = buf.head.shard
      val run = new Iterator[VEvent] {
        def hasNext: Boolean = buf.hasNext && buf.head.shard == shard
        def next(): VEvent = VEventJson.read(buf.next().line)
      }
      val rb = new RecordBuilder(
        new SchemaRegistry(typeModes), ShardTxStep.fresh(shard), emitBoundaries,
        tableFilter = tableFilter, columnRules = columnRules,
        convertFailureMode = convertFailureMode, typeModes = typeModes)
      // ++ is lazy: the recursive call runs only after this run is drained
      TransactionAssembler.assemble(run).flatMap(rb.onTransaction) ++
        processPartition(buf, emitBoundaries, tableFilter, columnRules, convertFailureMode, typeModes)
    }
}
