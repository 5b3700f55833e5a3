package graft.operators

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DecimalType, StructType}

/** S7 sink side: per-table topic routing + partitioned materialization,
  * and the CDC→table upsert that turns a change log into a queryable
  * relational table.
  *
  * Topic naming mirrors TableTopicNamingStrategy.java:111-137: data topic
  * = `<prefix>.<table>` (keyspace and shard dropped), with an optional
  * override prefix that an exclude-regex list can veto per table;
  * schema-change (ddl) records route to the schema-change topic
  * (override or `<prefix>`).
  *
  * Both parquet sinks write through [[EnvelopeParquetFormat]], which
  * plain-encodes the envelope's unique columns.
  */
object Sink {

  final case class TopicConfig(
      prefix: String,
      overridePrefix: Option[String] = None,
      overrideExcludeList: Seq[String] = Nil,
      overrideSchemaChangeTopic: Option[String] = None)

  /** Topic column for a change-record DataFrame (needs `table`,
    * `keyspace`, `op` columns). */
  def topicColumn(cfg: TopicConfig): Column = {
    val fq = concat(col("keyspace"), lit("."), col("table"))
    val excluded =
      if (cfg.overrideExcludeList.isEmpty) lit(false)
      else cfg.overrideExcludeList.map(p => fq.rlike(s"(?i)^(?:$p)$$")).reduce(_ || _)
    val dataPrefix = cfg.overridePrefix match {
      case Some(ov) => when(excluded, lit(cfg.prefix)).otherwise(lit(ov))
      case None     => lit(cfg.prefix)
    }
    when(col("op") === "ddl",
      lit(cfg.overrideSchemaChangeTopic.getOrElse(cfg.prefix)))
      .otherwise(concat(dataPrefix, lit("."), col("table")))
  }

  /** Batch: write the change log partitioned by topic (one directory per
    * topic — the parquet analogue of topic fan-out; partition pruning
    * gives per-topic reads for free). */
  def writeByTopic(records: DataFrame, cfg: TopicConfig, outDir: String): Unit =
    records.withColumn("topic", topicColumn(cfg))
      .write.mode("overwrite").partitionBy("topic")
      .format(classOf[EnvelopeParquetFormat].getName).save(outDir)

  /** Streaming: same fan-out through Spark's NATIVE file sink, which is
    * genuinely exactly-once — committed files are recorded in the
    * sink's `_spark_metadata` log, a retried micro-batch re-commits the
    * same batch id idempotently, and Spark reads of the directory honor
    * the log (orphaned files from a failed attempt are invisible). A
    * foreachBatch append here would duplicate rows on every batch retry
    * (foreachBatch is at-least-once); the built-in sink supports the
    * topic partitionBy directly, so nothing needed hand-rolling. */
  def streamByTopic(
      records: DataFrame,
      cfg: TopicConfig,
      outDir: String,
      checkpoint: String): StreamingQuery =
    records.withColumn("topic", topicColumn(cfg))
      .writeStream
      .format(classOf[EnvelopeParquetFormat].getName)
      .option("checkpointLocation", checkpoint)
      .option("path", outDir)
      .partitionBy("topic")
      .start()

  /** Streaming fan-out to a REAL Kafka broker: the same topic routing as
    * [[streamByTopic]], shaped into the Kafka writer's contract — one
    * `topic` column from [[topicColumn]] (mirroring
    * TableTopicNamingStrategy.java:111-137), the change record's `key`
    * as the message key (so a table's rows keep per-key ordering within
    * a partition, as the reference's converter layout does), and the
    * whole envelope as a JSON `value`. Exactly-once to the extent the
    * Kafka sink provides (at-least-once per epoch with checkpointing).
    *
    * Requires a `key` column on the input (every change record carries
    * one); the routing topic is computed under a reserved name so an
    * input that already has a `topic` column serializes its own field
    * into the JSON value, not the routing target.
    *
    * Compiled but NOT live-tested in this environment: there is no
    * broker and no spark-sql-kafka jar here — the method exists so a
    * deployment with both on the classpath gets the reference's Kafka
    * surface by flipping the sink call, with no other code change. */
  def streamToKafka(
      records: DataFrame,
      cfg: TopicConfig,
      bootstrapServers: String,
      checkpoint: String,
      extraOptions: Map[String, String] = Map.empty): StreamingQuery = {
    require(records.columns.contains("key"),
      "streamToKafka requires a 'key' column (the change record key) on the input")
    ColumnGuards.requireNoReserved(records, "streamToKafka", Set("__topic"))
    val payload = records.columns.map(col)
    val out = records
      .withColumn("__topic", topicColumn(cfg))
      .select(
        col("__topic").as("topic"),
        col("key").cast("string").as("key"),
        to_json(struct(payload: _*)).as("value"))
    extraOptions.foldLeft(
      out.writeStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrapServers)
        .option("checkpointLocation", checkpoint)) {
      case (w, (k, v)) => w.option(k, v)
    }.start()
  }

  /** Incremental aggregate maintenance from a change log (the
    * materialized-view pattern): each change record contributes signed
    * deltas — the `before` side of updates/deletes subtracts from its
    * group, the `after` side of inserts/updates adds to its group — so a
    * grouped SUM/COUNT is maintained from the deltas alone, one pass
    * over the log, NO rescan of the base table and no per-key window.
    * An update that moves a row between groups contributes to both. The
    * maintained aggregate over a complete log equals the aggregate over
    * the materialized final state (groups whose live count reaches 0
    * drop out, as they would in the recomputed result). Money deltas
    * are exact DECIMAL, so +x and −x cancel exactly. */
  def incrementalAgg(
      records: DataFrame, table: String,
      groupField: String, valueField: String): DataFrame =
    aggDeltas(records, table, groupField, valueField)
      .groupBy(col("grp"))
      .agg(sum(col("dn")).as("n_live"), sum(col("dv")).cast(DecimalType(38, 4)).as("total"))
      .filter(col("n_live") > 0)

  /** The raw signed delta rows `(grp, dn, dv)` behind [[incrementalAgg]]
    * — the per-micro-batch unit of maintenance: in a `foreachBatch`
    * consumer each batch contributes only its own deltas (which may be
    * net-negative for a group) and the running aggregate is their sum. */
  def aggDeltas(
      records: DataFrame, table: String,
      groupField: String, valueField: String): DataFrame = {
    def side(json: String, sign: Int) = {
      val ops = if (sign > 0) Seq("c", "u") else Seq("u", "d")
      records
        .filter(col("table") === table && col("op").isin(ops: _*))
        .select(
          get_json_object(col(json), s"$$.$groupField").as("grp"),
          lit(sign.toLong).as("dn"),
          (get_json_object(col(json), s"$$.$valueField")
            .cast(DecimalType(18, 4)) * sign).as("dv"))
    }
    side("after", 1).unionByName(side("before", -1))
  }

  /** CDC→table upsert: the current image per key. Version order is
    * (epoch, rank, total_order) — the ordered-transaction metadata built
    * exactly for this (A2/A3: rank is monotone per shard+epoch). Delegates
    * to the one shared version-order definition (Temporal.latestImage) —
    * snapshotAt is the same operator with a prefix cut. */
  def materialize(records: DataFrame, table: String, schema: StructType): DataFrame =
    Temporal.latestImage(records, table, schema, cut = None)
}

/** Parquet for the change-record envelope: dictionary encoding is off for
  * the columns that are unique per record (`before`, `after`, `key`) or
  * per transaction (`vgtid`, `restart_vgtid`, `tx_id`, `rank`). Their
  * dictionaries never pay: the writer hashes and compares every value
  * into a page dictionary, finds that it does not compress, and falls
  * back to plain encoding. On a backlog drain that hashing was about a
  * quarter of the task CPU. The low-cardinality columns (`shard`,
  * `keyspace`, `table`, `op`, `epoch`) keep their dictionaries.
  *
  * Set per job in [[prepareWrite]], because the streaming file sink
  * builds its Hadoop conf from the session and ignores writer options;
  * the job conf is a per-write copy, so the session conf is untouched.
  * Rows, `_spark_metadata` and read-back are those of plain parquet. */
class EnvelopeParquetFormat extends ParquetFileFormat {
  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    EnvelopeParquetFormat.PlainColumns.foreach { c =>
      job.getConfiguration.setBoolean(s"parquet.enable.dictionary#$c", false)
    }
    super.prepareWrite(sparkSession, job, options, dataSchema)
  }
}

object EnvelopeParquetFormat {
  /** The unique envelope columns, as every change-record frame names
    * them ([[graft.sources.VitessCdc.Schema]]). */
  val PlainColumns: Seq[String] =
    Seq("before", "after", "key", "vgtid", "restart_vgtid", "tx_id", "rank")
}
