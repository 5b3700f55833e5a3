package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated testdata tables (see TESTDATA.md).
  *
  * Each table is a single parquet file per scale factor. At 100 TB these
  * would be multi-file partitioned datasets; all call sites below go
  * through `spark.read.parquet(dir)` which handles both layouts, and all
  * downstream operators rely on Catalyst pushdown (filter + column
  * pruning reach the scan) rather than caching small local copies.
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** `events.ts` arrives in whatever physical type the generator chose
    * for that round — TIMESTAMP(NANOS) (read as LONG via the nanosAsLong
    * legacy flag set in `session`) or TIMESTAMP(MICROS) without UTC
    * adjustment (read as TIMESTAMP_NTZ). Normalize both to a plain
    * microsecond TIMESTAMP interpreting the raw value as a UTC instant
    * (session tz is UTC), so downstream `unix_micros`/window arithmetic
    * and the DuckDB oracle (which reads naive timestamps) agree. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Local session with the settings every entry point shares, its
    * `file:` paths on [[LocalFiles]]. */
  def session(appName: String, cpus: String): SparkSession =
    LocalFiles.on(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
