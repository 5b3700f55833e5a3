package graft.operators

import graft.core.Vgtid
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Envelope projection + record transforms (SMT equivalents), expressed
  * as a Column algebra over the change-record DataFrame so Catalyst can
  * fold/prune them — no per-record loops.
  *
  * Envelope (reference: Debezium Envelope + VitessSourceInfoStructMaker
  * .java:20-44, VitessSchemaFactory.java:33-44):
  * {{{ key, before, after, source{version, connector, name, ts_ms,
  *     snapshot, db, keyspace, table, shard, vgtid}, op, ts_ms,
  *     transaction{id, total_order, data_collection_order,
  *     transaction_epoch, transaction_rank}, restart_vgtid }}}
  */
object Envelope {
  val Version = "0.2.0-graft"
  val Connector = "vitess"

  /** Change-record DataFrame ([[graft.sources.VitessCdc.Schema]]: the
    * `vitess-cdc` source's or CdcPipeline's output) → nested envelope. */
  def toEnvelope(records: DataFrame, serverName: String = "graft"): DataFrame =
    records.select(
      col("key"),
      col("before"),
      col("after"),
      struct(
        lit(Version).as("version"),
        lit(Connector).as("connector"),
        lit(serverName).as("name"),
        col("ts_ms"),
        lit("false").as("snapshot"),
        col("keyspace").as("db"),
        col("keyspace"),
        col("table"),
        col("shard"),
        col("vgtid")).as("source"),
      col("op"),
      col("ts_ms"),
      when(col("tx_id").isNotNull, struct(
        col("tx_id").as("id"),
        col("total_order"),
        col("collection_order").as("data_collection_order"),
        col("epoch").as("transaction_epoch"),
        col("rank").as("transaction_rank"))).as("transaction"),
      col("restart_vgtid"))
}

/** The reference's four SMTs + ExtractNewRecordState, as DataFrame ops.
  * All are pure column expressions except `useLocalVgtid`, whose JSON
  * rewrite needs a scalar function. */
object Transforms {

  /** T1 RemoveField (reference transforms/RemoveField.java:58-119):
    * drop a field by dotted path — a top-level column or one level into
    * a struct column (the reference's use cases: `source.vgtid`,
    * `transaction.id`). */
  def removeField(df: DataFrame, path: String): DataFrame =
    path.split("\\.", 2) match {
      case Array(top)         => df.drop(top)
      case Array(top, nested) => df.withColumn(top, col(top).dropFields(nested))
    }

  /** T2 ReplaceFieldValue (reference transforms/ReplaceFieldValue
    * .java:75-117): overwrite the field at the dotted path with a
    * constant (default empty string — the documented vgtid-bloat
    * mitigation). */
  def replaceFieldValue(df: DataFrame, path: String, value: String = ""): DataFrame =
    path.split("\\.", 2) match {
      case Array(top) =>
        // the SMT blanks a field's VALUE; silently replacing a struct
        // (or numeric) column with a string literal would change the
        // schema out from under downstream consumers
        val dt = df.schema(top).dataType
        require(dt == org.apache.spark.sql.types.StringType,
          s"replaceFieldValue targets string fields; '$top' is $dt — " +
            "address a leaf field with a nested path instead")
        df.withColumn(top, lit(value))
      case Array(top, nested) => df.withColumn(top, col(top).withField(nested, lit(value)))
    }

  private val localVgtidUdf = udf { (vgtidJson: String, shard: String) =>
    if (vgtidJson == null) null
    else Vgtid.of(vgtidJson).localVgtid(shard).json
  }

  /** T3 UseLocalVgtid (reference transforms/UseLocalVgtid.java:32-82):
    * keep only the record's own shard's entry in `source.vgtid`. */
  def useLocalVgtid(df: DataFrame): DataFrame =
    df.withColumn("source",
      col("source").withField("vgtid",
        localVgtidUdf(col("source.vgtid"), col("source.shard"))))

  /** T4 FilterTransactionTopicRecords (reference transforms/
    * FilterTransactionTopicRecords.java:34-47): drop BEGIN/END boundary
    * records, keep data records. */
  def filterTransactionTopicRecords(df: DataFrame): DataFrame =
    df.filter(!col("op").isin("begin", "end"))

  /** T6 ExtractNewRecordState (upstream Debezium SMT): flatten the
    * envelope to the typed `after` row for a given table schema. */
  def extractNewRecordState(df: DataFrame, schema: StructType): DataFrame =
    df.filter(col("op").isin("c", "u") && col("after").isNotNull)
      .select(from_json(col("after"), schema).as("r"))
      .select(col("r.*"))

  /** T5 CloudEvents conversion (reference converters/VitessCloudEventsMaker
    * .java:31-40): CE id = `name:<server>;vgtid:<vgtid>`, extension
    * attributes = record vgtid + keyspace; data = the envelope payload. */
  def toCloudEvents(env: DataFrame, serverName: String = "graft"): DataFrame =
    env.select(
      concat(lit("name:"), lit(serverName), lit(";vgtid:"), col("source.vgtid")).as("ce_id"),
      concat(lit("/debezium/vitess/"), lit(serverName)).as("ce_source"),
      lit("io.debezium.connector.vitess.DataChangeEvent").as("ce_type"),
      col("source.vgtid").as("iodebeziumvgtid"),
      col("source.keyspace").as("iodebeziumkeyspace"),
      to_json(struct(col("before"), col("after"), col("source"), col("op"), col("ts_ms"))).as("ce_data"))
}
