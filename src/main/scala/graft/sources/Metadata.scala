package graft.sources

import graft.streaming.{FieldEvent, VEventJson}
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession

/** S6 metadata scans against the simulated VStream environment — the
  * analogues of `SHOW VITESS_SHARDS`, `SHOW VITESS_TABLETS` (non-empty
  * shard detection), `SHOW TABLES` and `SHOW DATABASES` (reference:
  * VitessMetadata.java:64-133, 201-216). Shard discovery reads the feed
  * directory on the driver (cheap); table/keyspace discovery scans FIELD
  * events distributively.
  */
object Metadata {

  /** All shards of the feed (SHOW VITESS_SHARDS). Delegates to the
    * transport's listing so shard-discovery rules (the .jsonl layout,
    * the empty-shard rule) live in exactly one place. */
  def shards(feedDir: String): Seq[String] =
    FileFeedTransport(feedDir, excludeEmptyShards = false).listShards().map(_._1)

  /** Shards with at least one event (SHOW VITESS_TABLETS → serving
    * tablets only; F5 empty-shard exclusion). */
  def nonEmptyShards(feedDir: String): Seq[String] =
    FileFeedTransport(feedDir, excludeEmptyShards = true).listShards().map(_._1)

  /** Distinct `keyspace.table` names seen in FIELD events (SHOW
    * TABLES), by distributed full-feed scan — the cold-start form when
    * no checkpoint exists yet. A query that HAS a checkpoint should use
    * the [[tables(feedDir:String,offset:VgtidOffset)*]] overload, which
    * answers from the offset's schemas map plus only post-checkpoint
    * bytes. */
  def tables(spark: SparkSession, feedDir: String): Seq[String] = {
    import spark.implicits._
    // the listed files, not a glob: Spark stats a single path argument
    // for a sink metadata log, and a literal glob fails that stat with a
    // logged FileNotFoundException. A fresh staging dir with no feeds
    // yet answers like shards(): empty
    val files = shards(feedDir).map(sh => Paths.get(feedDir, s"$sh.jsonl").toString)
    if (files.isEmpty) return Nil
    spark.read.textFile(files: _*)
      .filter(_.contains("\"FIELD\""))
      .flatMap { line =>
        // a LIVE feed's final line can be torn mid-append (this scan
        // reads raw text, not FeedSlice): skip what doesn't parse — the
        // completed line is seen whole on the next call
        scala.util.Try(VEventJson.read(line)).toOption match {
          case Some(f: FieldEvent) => Some(f.table)
          case _ => None
        }
      }
      .distinct().collect().toSeq.sorted
  }

  /** SHOW TABLES served from a checkpointed offset: the offset's cursors
    * already hold the latest FIELD line per (shard, table), so the
    * checkpointed prefix of the feed contributes its table list in
    * O(#tables) with ZERO feed bytes read. Only bytes
    * PAST the checkpointed safe positions can name a table the
    * checkpoint has not seen, so the tail — the same O(new bytes) a
    * single micro-batch admits — is the only part scanned; a current
    * offset (positions at end-of-feed) turns the whole call into pure
    * file-size metadata. Tail reads run on the driver like the capped
    * admission fold: bounded by bytes-since-checkpoint, not feed size. */
  def tables(feedDir: String, offset: VgtidOffset): Seq[String] = {
    val fromCheckpoint: Set[String] = offset.cursors.flatMap(_.schemas.keys).toSet
    val tail = Set.newBuilder[String]
    shards(feedDir).foreach { sh =>
      val p = Paths.get(feedDir, s"$sh.jsonl")
      val from = offset.cursor(sh).fold(0L)(_.pos)
      if (Files.size(p) > from) {
        val slice = new FeedSlice(p.toString, from)
        try slice.lines.foreach { line =>
          if (line.contains("\"FIELD\"")) VEventJson.read(line) match {
            case f: FieldEvent => tail += f.table
            case _ =>
          }
        } finally slice.close()
      }
    }
    (fromCheckpoint ++ tail.result()).toSeq.sorted
  }

  /** Distinct keyspaces (SHOW DATABASES). Only dotted `keyspace.table`
    * names contribute — a feed staged with
    * `exclude.keyspace.from.table.name=true` carries bare wire table
    * names, and reporting those AS keyspaces would be wrong, not
    * conservative. */
  def keyspaces(spark: SparkSession, feedDir: String): Seq[String] =
    tables(spark, feedDir).filter(_.contains("."))
      .map(_.split("\\.")(0)).distinct.sorted

  /** SHOW DATABASES from a checkpointed offset — same contract as the
    * checkpointed [[tables]] overload. */
  def keyspaces(feedDir: String, offset: VgtidOffset): Seq[String] =
    tables(feedDir, offset).filter(_.contains("."))
      .map(_.split("\\.")(0)).distinct.sorted

  /** LIKE-pattern escape for metadata queries (reference:
    * VitessMetadata.java:43-57) — one implementation with the vtgate
    * surface's [[GrpcMetadata.escapeLikePattern]]. */
  def escapeLike(s: String): String = GrpcMetadata.escapeLikePattern(s)
}
