package graft.operators

import org.apache.spark.sql.DataFrame

/** Parallelism repair for narrow inputs feeding expensive per-row work
  * (guide §2.5 "input skew": one huge unsplittable file — or here one
  * SMALL single-row-group parquet file — plans 1-2 scan tasks, so the
  * explode/UDF chain downstream runs on 2 of 32 cores while the rest
  * idle; a parquet row group is indivisible, so split-size configs
  * cannot widen it).
  *
  * The round-robin repartition is applied ONLY when the frame's planned
  * parallelism cannot fill the cluster — at production scale a corpus
  * scan has thousands of splits, the branch never fires, and no extra
  * corpus-wide shuffle is ever added. The check reads
  * `df.rdd.getNumPartitions`, which runs no job only on an exchange-free
  * plan: with AQE on, a frame whose plan holds an exchange runs its
  * upstream stages as jobs to answer it. Callers must pass exchange-free
  * frames (projected scans or unions of them), as every call site does.
  */
object Scans {

  /** `df` repartitioned round-robin to the session's core count when its
    * planned partition count would leave most cores idle (below half the
    * cores); unchanged otherwise. Use on the narrow (projected) input of
    * an expensive explode/UDF stage, never on a frame that is already
    * corpus-wide. */
  def widenIfNarrow(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val parts = df.rdd.getNumPartitions
    if (parts * 2 <= cores) df.repartition(cores) else df
  }
}
