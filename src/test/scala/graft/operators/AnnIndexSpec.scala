package graft.operators

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Persisted ANN index: batch-composition invariance, partition pruning
  * of unprobed cells, retry overwrite, and recall of the trained path. */
class AnnIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val sfDir = "/root/testdata/sf0.001"

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("ann-index-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def tmp(prefix: String): String =
    graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory(prefix)).resolve("idx").toString

  test("centroid cache invalidates when the index dir is deleted and rebuilt") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = tmp("graft_ann_ccache")
    val q = emb.filter(col("vec_id") === 0)
    AnnIndex.build(emb.filter(col("vec_id") < 25), dir, nCentroids = 8)
    val before = AnnIndex.probe(q, dir, k = 3).collect().map(_.toSeq).toSeq
    assert(before.nonEmpty) // seeds the process-level centroid cache
    // destroy the index and rebuild AT THE SAME PATH from a different
    // corpus slice: the frozen quantizer changes, so a stale cache entry
    // would probe the wrong cells — the (path, mtime) key must miss
    graft.TempDirs.deleteRecursively(java.nio.file.Paths.get(dir))
    AnnIndex.build(emb.filter(col("vec_id") >= 25 && col("vec_id") < 60),
      dir, nCentroids = 8)
    val after = AnnIndex.probe(q, dir, k = 3).collect().map(_.toSeq).toSeq
    // the rebuilt corpus holds no id < 25, so every neighbor must be new
    assert(after.nonEmpty && after.forall(r => r(2).asInstanceOf[Long] >= 25))
  }

  test("probe through two sequential ingests == probe of a one-shot build") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 5)
    def probeRows(dir: String) =
      AnnIndex.probe(queries, dir, k = 5)
        .orderBy("query_id", "rk")
        .collect().map(_.toSeq).toSeq
    val oneShot = tmp("graft_ann_oneshot")
    AnnIndex.build(emb, oneShot, nCentroids = 8)
    val split = tmp("graft_ann_split")
    // batch 1 holds the first-8-ids centroid source, so the frozen
    // quantizer is identical to the one-shot build's
    AnnIndex.build(emb.filter(col("vec_id") < 25), split, nCentroids = 8)
    AnnIndex.ingest(emb.filter(col("vec_id") >= 25), split, batchId = Some(1L))
    val a = probeRows(oneShot)
    val b = probeRows(split)
    assert(a.nonEmpty && a == b)
  }

  test("probe prunes unprobed cells at the parquet scan") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = tmp("graft_ann_prune")
    AnnIndex.build(emb, dir, nCentroids = 8)
    val plan = AnnIndex.probe(emb.filter(col("vec_id") === 0), dir,
        k = 3, nProbes = 2)
      .queryExecution.executedPlan.toString
    // the cell filter must reach the codes scan as a partition filter,
    // not a post-scan Filter over all cells
    assert(plan.contains("PartitionFilters") &&
      plan.split('\n').exists(l => l.contains("PartitionFilters") && l.contains("cid")))
  }

  test("ingest with a batchId overwrites its own state on retry") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = tmp("graft_ann_retry")
    AnnIndex.build(emb.filter(col("vec_id") < 25), dir, nCentroids = 8)
    val b2 = emb.filter(col("vec_id") >= 25 && col("vec_id") < 40)
    AnnIndex.ingest(b2, dir, batchId = Some(1L))
    AnnIndex.ingest(b2, dir, batchId = Some(1L)) // foreachBatch retry
    val ids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/vectors").select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == ids.distinct) // each vector exactly once
    assert(ids.count(_ >= 25) == 15)
  }

  test("an empty micro-batch ingest leaves the index fully probeable") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = tmp("graft_ann_empty")
    AnnIndex.build(emb.filter(col("vec_id") < 25), dir, nCentroids = 8)
    // streaming routinely delivers empty batches: a batch_<id> dir with
    // only _SUCCESS must not break the explicit-schema reads
    AnnIndex.ingest(emb.filter(col("vec_id") < 0), dir, batchId = Some(1L))
    val rows = AnnIndex.probe(emb.filter(col("vec_id") === 0), dir, k = 3)
      .collect()
    assert(rows.length == 3)
  }

  test("build refuses to overwrite an existing index") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = tmp("graft_ann_exists")
    AnnIndex.build(emb.filter(col("vec_id") < 25), dir, nCentroids = 8)
    val err = intercept[IllegalArgumentException] {
      AnnIndex.build(emb, dir, nCentroids = 8)
    }
    assert(err.getMessage.contains("already exists"))
  }

  test("incremental semDedup == one-shot semDedup restricted to the new ids") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val corpus = emb.filter(col("vec_id") < 25)
    // new batch: the rest, plus exact copies of some corpus vectors
    // under fresh (larger) ids — guaranteed corpus-dup drops
    val fresh = emb.filter(col("vec_id") >= 25)
      .unionByName(corpus.filter(col("vec_id") % 5 === 0)
        .select((col("vec_id") + 1000).as("vec_id"), col("embedding")))
    val dir = tmp("graft_ann_semdedup")
    AnnIndex.build(corpus, dir, nCentroids = 8)
    val inc = AnnIndex.ingestSemDedupBatch(fresh, dir,
        threshold = 0.95, batchId = Some(1L))
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    // ground truth: one-shot semDedup over the union (corpus ids are all
    // smaller, so already-indexed-wins == keep-lowest-id)
    val newIdSet = fresh.select("vec_id").as[Long].collect().toSet
    val oneShot = Similarity.semDedup(corpus.unionByName(fresh), nCentroids = 8,
        threshold = 0.95)
      .select("vec_id", "kept").as[(Long, Boolean)].collect()
      .filter { case (id, _) => newIdSet(id) }.toMap
    assert(inc == oneShot)
    assert(inc.values.exists(!_)) // the injected copies were dropped
    assert(inc.values.exists(identity)) // and real new content survived
    // only survivors entered the index
    val indexed = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/vectors").select("vec_id").as[Long].collect().toSet
    val expectKept = inc.filter(_._2).keySet ++ corpus.select("vec_id").as[Long].collect()
    assert(indexed == expectKept)
  }

  test("incremental semDedup retry: identical decisions, no self-corpus poisoning") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") < 25)
    val fresh = emb.filter(col("vec_id") >= 25 && col("vec_id") < 40)
    val dir = tmp("graft_ann_sem_retry")
    AnnIndex.build(corpus, dir, nCentroids = 8)
    def run() = AnnIndex.ingestSemDedupBatch(fresh, dir,
        threshold = 0.95, batchId = Some(1L))
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    val first = run()
    // a retry must not see its own kept vectors as corpus — that would
    // flip every kept decision to dropped (sim 1.0 against itself)
    val retried = run()
    assert(first == retried && retried.values.exists(identity))
    val ids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/vectors").select("vec_id").as[Long].collect().sorted.toSeq
    assert(ids == ids.distinct) // overwrite, not duplicate
  }

  test("incremental semDedup: large DISTINCT corpus cell still catches non-min dups") {
    val sp = spark; import sp.implicits._
    // 7 pairwise-dissimilar vectors (cos 0.5 between any two) that all
    // land in one cell; hotCellThreshold=4 << cell size. A min-only
    // corpus shortcut would compare a new copy of a NON-min member only
    // against the (dissimilar) min and silently keep the duplicate —
    // the corpus side must scan every same-cell member.
    def vec(perturbDim: Int) =
      Array.tabulate(16)(i => if (i == 0 || i == perturbDim * 2) 1f else 0f)
    val corpus = (1L to 7L).map(i => (i, vec(i.toInt))).toDF("vec_id", "embedding")
    val dir = tmp("graft_ann_sem_hot")
    AnnIndex.build(corpus, dir, nCentroids = 4)
    val dupOfNonMin = Seq((100L, vec(5))).toDF("vec_id", "embedding")
    val novel = Seq((101L, Array.tabulate(16)(i => if (i == 15) 1f else 0f)))
      .toDF("vec_id", "embedding")
    val dec = AnnIndex.ingestSemDedupBatch(dupOfNonMin.unionByName(novel), dir,
        threshold = 0.95, hotCellThreshold = 4, batchId = Some(1L))
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(dec(100L) == false) // exact copy of member 5 caught
    assert(dec(101L) == true)  // orthogonal newcomer kept
  }

  test("tombstoned vectors vanish from probe and stop suppressing new ingests") {
    val sp = spark; import sp.implicits._
    // 12 vectors along 4 orthogonal directions (3 per direction, scaled
    // copies → cosine 1.0 within a direction, 0.0 across)
    def unit(d: Int, scale: Float) =
      Array.tabulate(8)(i => if (i == d * 2) scale else 0f)
    val corpus = (0L until 12L).map(i => (i, unit((i % 4).toInt, 1f + i)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_ann_delete")
    AnnIndex.build(corpus, dir, nCentroids = 4)
    val q = Seq((500L, unit(0, 1f))).toDF("vec_id", "embedding")
    val before = AnnIndex.probe(q, dir, k = 3, nProbes = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(before == Set(0L, 4L, 8L)) // the direction-0 group
    AnnIndex.delete(Seq(4L).toDF("vec_id"), dir)
    val after = AnnIndex.probe(q, dir, k = 3, nProbes = 1)
      .select("neighbor_id").as[Long].collect().toSet
    assert(after == Set(0L, 8L)) // deleted id gone the moment the write lands
    // semantic ingest: a copy is dropped while any direction-0 member
    // lives, and KEPT once all of them are tombstoned — deleted corpus
    // must never suppress new content
    val d1 = AnnIndex.ingestSemDedupBatch(Seq((100L, unit(0, 9f))).toDF("vec_id", "embedding"),
        dir, threshold = 0.95, batchId = Some(1L))
      .select("kept").as[Boolean].head()
    assert(!d1) // ids 0 and 8 still live
    AnnIndex.delete(Seq(0L, 8L, 100L).toDF("vec_id"), dir)
    val d2 = AnnIndex.ingestSemDedupBatch(Seq((101L, unit(0, 9f))).toDF("vec_id", "embedding"),
        dir, threshold = 0.95, batchId = Some(2L))
      .select("kept").as[Boolean].head()
    assert(d2) // every same-direction corpus entry is tombstoned
  }

  test("compaction folds all but the newest batch, purges tombstones, probe unchanged") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val dir = tmp("graft_ann_compact")
    AnnIndex.build(emb.filter(col("vec_id") < 20), dir, nCentroids = 8)
    AnnIndex.ingest(emb.filter(col("vec_id") >= 20 && col("vec_id") < 35), dir, Some(1L))
    AnnIndex.ingest(emb.filter(col("vec_id") >= 35), dir, Some(2L))
    val q = emb.filter(col("vec_id") < 3)
    def probeRows() = AnnIndex.probe(q, dir, k = 5)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    val victim = AnnIndex.probe(q.limit(1), dir, k = 1)
      .select("neighbor_id").as[Long].head()
    AnnIndex.delete(Seq(victim).toDF("vec_id"), dir)
    val before = probeRows()
    def dirs(sub: String) = new java.io.File(s"$dir/$sub").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    assert(dirs("codes") == Seq("batch_1", "batch_2", "batch_seed"))
    // the seed and batch_1 fold into batch_1_c; newest batch_2 survives
    assert(AnnIndex.compact(spark, dir) == 4) // 2 dirs per subtree
    assert(dirs("codes") == Seq("batch_1_c", "batch_2"))
    assert(dirs("vectors") == Seq("batch_1_c", "batch_2"))
    assert(probeRows() == before) // identical through the folded state
    // the tombstoned id is physically gone from the folded vectors
    val folded = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$dir/vectors/batch_1_c").select("vec_id").as[Long].collect().toSet
    assert(!folded.contains(victim))
    // idempotent: only the compact dir + newest remain foldable → no-op
    assert(AnnIndex.compact(spark, dir) == 0)
    // a further ingest re-enables folding (compact + old-newest fold)
    AnnIndex.ingest(emb.filter(col("vec_id") < 5)
      .select((col("vec_id") + 5000).as("vec_id"), col("embedding")), dir, Some(3L))
    assert(AnnIndex.compact(spark, dir) == 4)
    assert(dirs("codes") == Seq("batch_2_c", "batch_3"))
    assert(probeRows().nonEmpty)
  }

  test("REAL foreachBatch streaming loop: semantic dedup across a checkpointed restart") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_stream"))
    val (src, ckpt, outDir, idx) = (s"$base/src", s"$base/ckpt", s"$base/out", s"$base/idx")
    AnnIndex.build(emb.filter(col("vec_id") < 20), idx, nCentroids = 8)
    // three single-file micro-batches; the third injects exact copies of
    // batch-one vectors, so cross-restart corpus state decides them
    emb.filter(col("vec_id") >= 20 && col("vec_id") < 30)
      .coalesce(1).write.mode("append").parquet(src)
    emb.filter(col("vec_id") >= 30 && col("vec_id") < 40)
      .coalesce(1).write.mode("append").parquet(src)
    def startStream() = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        AnnIndex.ingestSemDedupBatch(b, idx, threshold = 0.95, batchId = Some(id))
          .write.mode("append").parquet(outDir)
        ()
      }.start()
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    // new files after a full STOP; the restarted query resumes from the
    // checkpoint and its batchIds continue where the first run left off
    emb.filter(col("vec_id") >= 20 && col("vec_id") < 25)
      .select((col("vec_id") + 7000).as("vec_id"), col("embedding"))
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    val decisions = spark.read.parquet(outDir)
      .select("vec_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(decisions.size == 25) // every streamed vector decided exactly once
    // the injected copies of batch-one vectors (ingested BEFORE the
    // restart) are dropped against the persisted index
    (7020L until 7025L).foreach(id => assert(!decisions(id), s"copy $id kept"))
    assert((20L until 40L).forall(id => decisions(id))) // originals survived
    // and the index state holds exactly the survivors
    val indexed = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$idx/vectors").select("vec_id").as[Long].collect().toSet
    assert(indexed == (0L until 40L).toSet)
  }

  test("REAL streaming probe loop: checkpointed restart + retry never duplicates results") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_probe_stream"))
    val (src, ckpt, outDir, idx) = (s"$base/src", s"$base/ckpt", s"$base/out", s"$base/idx")
    AnnIndex.build(emb.filter(col("vec_id") < 40), idx, nCentroids = 8)
    // two single-file query micro-batches before the restart
    emb.filter(col("vec_id") >= 40 && col("vec_id") < 44)
      .coalesce(1).write.mode("append").parquet(src)
    emb.filter(col("vec_id") >= 44 && col("vec_id") < 48)
      .coalesce(1).write.mode("append").parquet(src)
    def startStream() = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        AnnIndex.probeBatch(b, idx, outDir, id, k = 3)
      }.start()
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    // a third query file lands after a full stop; the restarted query
    // resumes from the checkpoint with the NEXT batchId
    emb.filter(col("vec_id") >= 48 && col("vec_id") < 50)
      .coalesce(1).write.mode("append").parquet(src)
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    // a redelivered batch (same id) must REPLACE its own results
    AnnIndex.probeBatch(
      emb.filter(col("vec_id") >= 48 && col("vec_id") < 50), idx, outDir, 2L, k = 3)
    val streamed = spark.read.option("recursiveFileLookup", "true").parquet(outDir)
      .select("query_id", "rk", "neighbor_id", "sim")
    // every query answered exactly once (k rows each), equal to the
    // one-shot probe of the full query set against the same index
    val oneShot = AnnIndex.probe(
      emb.filter(col("vec_id") >= 40 && col("vec_id") < 50), idx, k = 3)
    assert(streamed.count() == 10 * 3)
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty)
  }

  test("in-flight/crashed ingest staging dirs are invisible to probe, ingest and compact") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val dir = tmp("graft_ann_staging")
    AnnIndex.build(emb.filter(col("vec_id") < 25), dir, nCentroids = 8)
    // simulate a concurrent (or crashed) ingest mid-staging: tmp_ingest_*
    // dirs exist under codes/ and vectors/ but the commit rename has not
    // happened — probes and further batchId ingests must not treat them
    // as loose root-append state (the mixed-layout error) or as batches
    for (sub <- Seq("codes", "vectors")) {
      val d = new java.io.File(s"$dir/$sub/tmp_ingest_batch_9")
      assert(d.mkdirs())
      java.nio.file.Files.write(d.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2))
    }
    val rows = AnnIndex.probe(emb.filter(col("vec_id") === 0), dir, k = 3).collect()
    assert(rows.length == 3)
    AnnIndex.ingest(emb.filter(col("vec_id") >= 25 && col("vec_id") < 30), dir, Some(1L))
    assert(AnnIndex.probe(emb.filter(col("vec_id") === 0), dir, k = 3).count() == 3)
    // compaction sweeps the abandoned staging away with the other leftovers
    AnnIndex.ingest(emb.filter(col("vec_id") >= 30 && col("vec_id") < 35), dir, Some(2L))
    assert(AnnIndex.compact(spark, dir) == 4)
    assert(!new java.io.File(s"$dir/codes/tmp_ingest_batch_9").exists())
  }

  test("rebuild retrains into a fresh dir: probe == fresh build, tombstones carried") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_rebuild"))
    val (v1, v2, fresh) = (s"$base/v1", s"$base/v2", s"$base/fresh")
    // the index grows past its build: 8 cells over a corpus that arrived
    // in two ingests, with takedowns along the way
    AnnIndex.build(emb.filter(col("vec_id") < 25), v1, nCentroids = 8)
    AnnIndex.ingest(emb.filter(col("vec_id") >= 25), v1, Some(1L))
    AnnIndex.delete(Seq(3L, 13L, 23L).toDF("vec_id"), v1)
    // migrate to 16 cells; the old index is only READ
    AnnIndex.rebuild(spark, v1, v2, nCentroids = 16)
    val queries = emb.filter(col("vec_id") < 6)
    def probeRows(dir: String) = AnnIndex.probe(queries, dir, k = 5)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    // the old index still answers (cutover is the caller's switch)
    assert(probeRows(v1).nonEmpty)
    // equivalence: a fresh one-shot build of the surviving corpus at the
    // new nCentroids answers identically
    AnnIndex.build(emb.filter(!col("vec_id").isin(3L, 13L, 23L)), fresh, nCentroids = 16)
    assert(probeRows(v2).nonEmpty && probeRows(v2) == probeRows(fresh))
    // deleted ids are physically gone from the rebuilt store
    val v2Ids = spark.read.option("recursiveFileLookup", "true")
      .parquet(s"$v2/vectors").select("vec_id").as[Long].collect().toSet
    assert(!v2Ids.contains(3L) && !v2Ids.contains(13L) && !v2Ids.contains(23L))
    // lifetime suppression survives the migration: re-ingesting a
    // taken-down id into the REBUILT index must not resurface it
    AnnIndex.ingest(emb.filter(col("vec_id") === 3L), v2, Some(1L))
    val neighbors = AnnIndex.probe(queries, v2, k = 5, nProbes = 16)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!neighbors.contains(3L))
  }

  test("compactTombstones folds delete files to one, behavior byte-identical, crash-safe") {
    val sp = spark; import sp.implicits._
    def unit(dm: Int, scale: Float) =
      Array.tabulate(8)(i => if (i == dm * 2) scale else 0f)
    val corpus = (0L until 12L).map(i => (i, unit((i % 4).toInt, 1f + i)))
      .toDF("vec_id", "embedding")
    val dir = tmp("graft_ann_tomb_compact")
    AnnIndex.build(corpus, dir, nCentroids = 4)
    // three separate takedowns = three appended files (plus a crashed
    // fold's staging leftover, which must be swept not read)
    AnnIndex.delete(Seq(4L).toDF("vec_id"), dir)
    AnnIndex.delete(Seq(8L).toDF("vec_id"), dir)
    AnnIndex.delete(Seq(4L, 5L).toDF("vec_id"), dir) // duplicate id across files
    val crashed = new java.io.File(s"$dir/tombstones/tmp_compact_7")
    assert(crashed.mkdirs())
    val q = Seq((500L, unit(0, 1f))).toDF("vec_id", "embedding")
    def probeRows() = AnnIndex.probe(q, dir, k = 5, nProbes = 1)
      .orderBy("rk").collect().map(_.toSeq).toSeq
    val before = probeRows()
    assert(AnnIndex.compactTombstones(spark, dir) == 3)
    assert(!crashed.exists())
    val entries = new java.io.File(s"$dir/tombstones").listFiles()
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(entries == Seq("compact_1"))
    val dataFiles = new java.io.File(s"$dir/tombstones/compact_1").listFiles()
      .map(_.getName).count(_.endsWith(".parquet"))
    assert(dataFiles == 1) // N delete files -> ONE deduped parquet
    assert(probeRows() == before) // suppression surface unchanged
    // fold is a merge, never a drop: all three ids still suppressed
    val neighbors = AnnIndex.probe(q, dir, k = 12, nProbes = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert((neighbors & Set(4L, 5L, 8L)).isEmpty)
    assert(AnnIndex.compactTombstones(spark, dir) == 0) // idempotent
    // a later takedown re-enables folding: compact_1 + new file -> compact_2
    AnnIndex.delete(Seq(0L).toDF("vec_id"), dir)
    assert(AnnIndex.compactTombstones(spark, dir) == 2)
    val after = new java.io.File(s"$dir/tombstones").listFiles()
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).sorted.toSeq
    assert(after == Seq("compact_2"))
    val alive = AnnIndex.probe(q, dir, k = 12, nProbes = 4)
      .select("neighbor_id").as[Long].collect().toSet
    assert((alive & Set(0L, 4L, 5L, 8L)).isEmpty)
  }

  test("compactProbeResults: fold keeps the reader union, TTL drop expires, newest protected") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_probe_retention"))
    val (idx, outA, outB) = (s"$base/idx", s"$base/outA", s"$base/outB")
    AnnIndex.build(emb.filter(col("vec_id") < 40), idx, nCentroids = 8)
    def qb(lo: Long, hi: Long) = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    def results(out: String) = AnnIndex.readProbeResults(spark, out)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    def dirsOf(out: String) = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    // --- retain mode: batches fold, the reader surface never changes
    for ((lo, id) <- Seq((40L, 0L), (43L, 1L), (46L, 2L)))
      AnnIndex.probeBatch(qb(lo, lo + 3), idx, outA, id, k = 3)
    val before = results(outA)
    assert(before.length == 9 * 3)
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 1L) == 2)
    assert(dirsOf(outA) == Seq("batch_2", "compact_1"))
    assert(results(outA) == before)
    // a later pass folds the prior compact dir in — one compact dir, not a chain
    AnnIndex.probeBatch(qb(49L, 52L), idx, outA, 3L, k = 3)
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 2L) == 1)
    assert(dirsOf(outA) == Seq("batch_3", "compact_2"))
    assert(results(outA).length == 12 * 3)
    // the numerically newest batch never folds, whatever the horizon
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 99L) == 0)
    // --- TTL drop mode: expired results are gone, kept batches untouched
    for ((lo, id) <- Seq((40L, 0L), (43L, 1L), (46L, 2L)))
      AnnIndex.probeBatch(qb(lo, lo + 3), idx, outB, id, k = 3)
    assert(AnnIndex.compactProbeResults(spark, outB, horizonBatchId = 1L,
      retain = false) == 2)
    assert(dirsOf(outB) == Seq("batch_2"))
    val kept = results(outB)
    assert(kept.length == 3 * 3 &&
      kept.map(_.head.asInstanceOf[Long]).toSet == Set(46L, 47L, 48L))
    // --- retention -> TTL policy switch: a prior FOLD expires too, via
    // its _UPTO coverage sidecar (its name carries no batch ids)
    AnnIndex.probeBatch(qb(49L, 52L), idx, outA, 4L, k = 3)
    assert(dirsOf(outA).contains("compact_2")) // covers batches 0..2
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 3L,
      retain = false) == 2) // batch_3 dropped + the fold dropped
    assert(dirsOf(outA) == Seq("batch_4"))
    assert(results(outA).map(_.head.asInstanceOf[Long]).toSet ==
      Set(49L, 50L, 51L))
    // a fold NOT fully past the horizon survives a TTL pass
    AnnIndex.probeBatch(qb(52L, 55L), idx, outA, 5L, k = 3)
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 4L) == 1)
    assert(dirsOf(outA) == Seq("batch_5", "compact_1")) // _UPTO = 4
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 3L,
      retain = false) == 0)
    assert(dirsOf(outA) == Seq("batch_5", "compact_1"))
    // a TTL drop that crashed mid-delete left only the invisible
    // renamed dir: readers never see it, the next pass sweeps it
    val crashed = new java.io.File(s"$outA/tmp_compact_drop_compact_9")
    assert(crashed.mkdirs())
    val beforeCrashSweep = results(outA)
    assert(results(outA) == beforeCrashSweep) // reader surface unaffected
    assert(AnnIndex.compactProbeResults(spark, outA, horizonBatchId = 0L,
      retain = false) == 0)
    assert(!crashed.exists()) // swept with the other tmp_compact_ staging
  }

  test("promote/resolveCurrent: atomic cutover, crash at every point resolves one index") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_promote"))
    val root = base.toString
    AnnIndex.build(emb.filter(col("vec_id") < 30), s"$root/v1", nCentroids = 8)
    // promoting a dir with no built index is refused
    val e0 = intercept[IllegalArgumentException] {
      AnnIndex.promote(spark, root, "v2")
    }
    assert(e0.getMessage.contains("centroids"))
    // ...as is resolving before any promote
    val e1 = intercept[IllegalArgumentException] {
      AnnIndex.resolveCurrent(spark, root)
    }
    assert(e1.getMessage.contains("promote"))
    assert(AnnIndex.promote(spark, root, "v1") == 1L)
    assert(AnnIndex.resolveCurrent(spark, root) == s"$root/v1")
    AnnIndex.build(emb.filter(col("vec_id") < 60), s"$root/v2", nCentroids = 8)
    assert(AnnIndex.promote(spark, root, "v2") == 2L)
    assert(AnnIndex.resolveCurrent(spark, root) == s"$root/v2")
    // crash BEFORE the commit rename: staged tmp pointer is invisible
    val cur = new java.io.File(s"$root/_current")
    java.nio.file.Files.write(cur.toPath.resolve("tmp_v_9"),
      "v1\n".getBytes("UTF-8"))
    assert(AnnIndex.resolveCurrent(spark, root) == s"$root/v2")
    // crash mid-PRUNE: an older pointer file left behind — highest wins
    java.nio.file.Files.write(cur.toPath.resolve("v_1"),
      "v1\n".getBytes("UTF-8"))
    assert(AnnIndex.resolveCurrent(spark, root) == s"$root/v2")
    // the next promote sweeps the crashed staging and prunes old pointers
    assert(AnnIndex.promote(spark, root, "v1") == 3L)
    assert(AnnIndex.resolveCurrent(spark, root) == s"$root/v1")
    assert(cur.listFiles().map(_.getName).filterNot(_.startsWith("."))
      .sorted.toSeq == Seq("v_3"))
  }

  test("checkpointed probe stream spanning a promote: each batch exactly-old or exactly-new") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_cutover_stream"))
    val (root, src, ckpt, outDir) = (s"$base/idxroot", s"$base/src", s"$base/ckpt", s"$base/out")
    // two indexes over DIFFERENT corpora, so old/new answers differ
    AnnIndex.build(emb.filter(col("vec_id") < 30), s"$root/v1", nCentroids = 8)
    AnnIndex.build(emb.filter(col("vec_id") < 60), s"$root/v2", nCentroids = 8)
    AnnIndex.promote(spark, root, "v1")
    def qb(lo: Long, hi: Long) = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    qb(100, 103).coalesce(1).write.mode("append").parquet(src)
    qb(103, 106).coalesce(1).write.mode("append").parquet(src)
    // each micro-batch RESOLVES ONCE, so the whole batch probes one index
    def startStream() = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        AnnIndex.probeBatch(b, AnnIndex.resolveCurrent(spark, root), outDir, id, k = 3)
      }.start()
    val q1 = startStream()
    try q1.processAllAvailable() finally q1.stop()
    AnnIndex.promote(spark, root, "v2") // the cutover
    qb(106, 109).coalesce(1).write.mode("append").parquet(src)
    qb(109, 112).coalesce(1).write.mode("append").parquet(src)
    val q2 = startStream()
    try q2.processAllAvailable() finally q2.stop()
    def oneShot(idx: String, lo: Long, hi: Long) =
      AnnIndex.probe(qb(lo, hi), idx, k = 3)
        .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    def streamed(b: Long, lo: Long, hi: Long) =
      spark.read.parquet(s"$outDir/batch_$b")
        .select("query_id", "rk", "neighbor_id", "sim")
        .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    // pre-promote batches answered by v1, post-promote by v2 — never a mix
    assert(streamed(0, 100, 103) == oneShot(s"$root/v1", 100, 103))
    assert(streamed(1, 103, 106) == oneShot(s"$root/v1", 103, 106))
    assert(streamed(2, 106, 109) == oneShot(s"$root/v2", 106, 109))
    assert(streamed(3, 109, 112) == oneShot(s"$root/v2", 109, 112))
    // and the two indexes genuinely answer differently (the assertion
    // above would be vacuous otherwise)
    assert(oneShot(s"$root/v1", 106, 109) != oneShot(s"$root/v2", 106, 109))
  }

  test("compactProbeResultsByAge: stamped dirs expire by wall clock, unstamped never") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_probe_age"))
    val (idx, out) = (s"$base/idx", s"$base/out")
    AnnIndex.build(emb.filter(col("vec_id") < 40), idx, nCentroids = 8)
    def qb(lo: Long, hi: Long) = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    def dirsOf = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    AnnIndex.probeBatch(qb(40, 43), idx, out, 0L, k = 3, ingestTsMs = Some(1000L))
    AnnIndex.probeBatch(qb(43, 46), idx, out, 1L, k = 3) // UNSTAMPED
    AnnIndex.probeBatch(qb(46, 49), idx, out, 2L, k = 3, ingestTsMs = Some(2000L))
    AnnIndex.probeBatch(qb(49, 52), idx, out, 3L, k = 3, ingestTsMs = Some(3000L))
    // cutoff 2500: batch_0 (1000) and batch_2 (2000) are old enough, but
    // batch_1 has no stamp (age unknown — never expires) and batch_3 is
    // the newest (redelivery protection); default is TTL drop
    assert(AnnIndex.compactProbeResultsByAge(spark, out, cutoffTsMs = 2500L) == 2)
    assert(dirsOf == Seq("batch_1", "batch_3"))
    // readProbeResults surfaces the stamp column (null where unstamped)
    val rows = AnnIndex.readProbeResults(spark, out)
    assert(rows.filter(col("ingest_ts").isNull).count() == 3 * 3)
    assert(rows.filter(col("ingest_ts") === 3000L).count() == 3 * 3)
    // retain mode: expired dirs FOLD (reader union unchanged), and the
    // fold's rows keep their stamps so a later age pass can expire it
    AnnIndex.probeBatch(qb(52, 55), idx, out, 4L, k = 3, ingestTsMs = Some(4000L))
    val before = AnnIndex.readProbeResults(spark, out)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq
    assert(AnnIndex.compactProbeResultsByAge(spark, out, cutoffTsMs = 3500L,
      retain = true) == 1) // batch_3 folds; batch_1 unstamped, batch_4 newest
    assert(dirsOf == Seq("batch_1", "batch_4", "compact_1"))
    assert(AnnIndex.readProbeResults(spark, out)
      .orderBy("query_id", "rk").collect().map(_.toSeq).toSeq == before)
    // the fold expires once EVERY row in it is past the cutoff
    AnnIndex.probeBatch(qb(55, 58), idx, out, 5L, k = 3, ingestTsMs = Some(5000L))
    assert(AnnIndex.compactProbeResultsByAge(spark, out, cutoffTsMs = 4500L) == 2)
    assert(dirsOf == Seq("batch_1", "batch_5")) // fold + batch_4 dropped
    // below-cutoff pass: nothing to do
    assert(AnnIndex.compactProbeResultsByAge(spark, out, cutoffTsMs = 100L) == 0)
  }

  test("compactProbeResultsByAge: a zero-row dir expires only via the direct emptiness probe") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(
      java.nio.file.Files.createTempDirectory("graft_ann_probe_age_empty"))
    val (idx, out) = (s"$base/idx", s"$base/out")
    AnnIndex.build(emb.filter(col("vec_id") < 40), idx, nCentroids = 8)
    def qb(lo: Long, hi: Long) = emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
    def dirsOf = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    AnnIndex.probeBatch(qb(40, 43), idx, out, 0L, k = 3, ingestTsMs = Some(1000L))
    // an EMPTY micro-batch writes a zero-row dir (no row carries a stamp,
    // so the scan's dir-attribution map has no entry for it at all) —
    // the expiry decision must come from the direct per-dir probe, not
    // from equating "unattributed" with "empty"
    AnnIndex.probeBatch(qb(43, 43), idx, out, 1L, k = 3, ingestTsMs = Some(1000L))
    AnnIndex.probeBatch(qb(46, 49), idx, out, 2L, k = 3, ingestTsMs = Some(9000L))
    assert(dirsOf == Seq("batch_0", "batch_1", "batch_2"))
    // batch_0 is past the cutoff, batch_1 is confirmed empty, batch_2 is
    // the newest (redelivery protection)
    assert(AnnIndex.compactProbeResultsByAge(spark, out, cutoffTsMs = 5000L) == 2)
    assert(dirsOf == Seq("batch_2"))
  }

  test("maintain: each threshold crossing triggers exactly its op; below-threshold untouched") {
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_maintain"))
    val (idx, out) = (s"$base/idx", s"$base/out")
    AnnIndex.build(emb.filter(col("vec_id") < 20), idx, nCentroids = 8)
    for (i <- 1 to 3)
      AnnIndex.ingest(
        emb.filter(col("vec_id") >= 20 * i && col("vec_id") < 20 * (i + 1)),
        idx, batchId = Some(i.toLong))
    AnnIndex.delete(emb.filter(col("vec_id") === 5).select("vec_id"), idx)
    AnnIndex.delete(emb.filter(col("vec_id") === 7).select("vec_id"), idx)
    for ((lo, id) <- Seq((80L, 0L), (83L, 1L), (86L, 2L)))
      AnnIndex.probeBatch(emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 3),
        idx, out, id, k = 3)
    def codeDirs = new java.io.File(s"$idx/codes").listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    def outDirs = new java.io.File(out).listFiles()
      .filter(_.isDirectory).map(_.getName).sorted.toSeq
    def tombEntries = new java.io.File(s"$idx/tombstones").listFiles()
      .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith(".")).length
    val (dirs0, outs0, tombs0) = (codeDirs, outDirs, tombEntries)
    assert(dirs0.length == 4 && tombs0 == 2 && outs0.length == 3)
    // --- every threshold comfortably above the signals: a no-op pass
    val lax = AnnIndex.MaintenancePolicy(maxStateDirs = 10,
      maxTombstoneEntries = 10, maxMeanCell = 1e9,
      probeMaxBatchDirs = 10, probeKeepBatches = 1)
    val r0 = AnnIndex.maintain(spark, idx, lax, probeOutDir = Some(out))
    assert(r0 == AnnIndex.MaintenanceReport(0, 0, 0, rebuildDue = false,
      r0.nLive, r0.meanCell))
    assert(codeDirs == dirs0 && outDirs == outs0 && tombEntries == tombs0)
    assert(r0.nLive == 78 && r0.meanCell == 78.0 / 8) // 80 vectors - 2 tombstoned
    // --- state-dir pressure alone: compact() runs, nothing else
    val r1 = AnnIndex.maintain(spark, idx,
      lax.copy(maxStateDirs = 2), probeOutDir = Some(out))
    assert(r1.foldedStateDirs > 0 && r1.foldedTombstoneEntries == 0 &&
      r1.foldedProbeBatches == 0 && !r1.rebuildDue)
    assert(codeDirs.length < dirs0.length && tombEntries == tombs0 && outDirs == outs0)
    // --- tombstone pressure alone: compactTombstones() runs
    val r2 = AnnIndex.maintain(spark, idx,
      lax.copy(maxTombstoneEntries = 1), probeOutDir = Some(out))
    assert(r2.foldedTombstoneEntries == 2 && r2.foldedStateDirs == 0 &&
      r2.foldedProbeBatches == 0)
    assert(tombEntries < tombs0 && outDirs == outs0)
    // --- probe-result pressure alone: retention fold up to newest - keep
    val r3 = AnnIndex.maintain(spark, idx,
      lax.copy(probeMaxBatchDirs = 2), probeOutDir = Some(out))
    assert(r3.foldedProbeBatches > 0 && r3.foldedStateDirs == 0 &&
      r3.foldedTombstoneEntries == 0)
    assert(outDirs.exists(_.startsWith("compact_")) && outDirs.contains("batch_2"))
    // the reader surface survived every pass: all 9 queries still answered
    assert(AnnIndex.readProbeResults(spark, out).count() == 9 * 3)
    // --- mean-cell pressure: rebuild flagged, never auto-run
    val r4 = AnnIndex.maintain(spark, idx,
      lax.copy(maxMeanCell = 1.0), probeOutDir = Some(out))
    assert(r4.rebuildDue && r4.foldedStateDirs == 0)
    assert(new java.io.File(s"$idx/centroids").exists()) // untouched
  }

  test("compact() and compactTombstones() during a LIVE checkpointed probe stream") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val base = graft.TempDirs.reclaimOnExit(java.nio.file.Files.createTempDirectory("graft_ann_compact_probe"))
    val (src, ckpt, outDir, idx) = (s"$base/src", s"$base/ckpt", s"$base/out", s"$base/idx")
    // an index with foldable history: seed + 2 ingests + a tombstone
    AnnIndex.build(emb.filter(col("vec_id") < 20), idx, nCentroids = 8)
    AnnIndex.ingest(emb.filter(col("vec_id") >= 20 && col("vec_id") < 30), idx, Some(1L))
    AnnIndex.ingest(emb.filter(col("vec_id") >= 30 && col("vec_id") < 40), idx, Some(2L))
    AnnIndex.delete(Seq(7L).toDF("vec_id"), idx)
    AnnIndex.delete(Seq(17L).toDF("vec_id"), idx)
    // three single-file query micro-batches; the index is COMPACTED while
    // the stream is mid-flight (between its first and second probes), so
    // later probes read through the folded state + _SUBSUMES sidecars
    for (lo <- Seq(40L, 44L, 48L))
      emb.filter(col("vec_id") >= lo && col("vec_id") < lo + 2)
        .coalesce(1).write.mode("append").parquet(src)
    val q = spark.readStream
      .schema(emb.schema).option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], id: Long) =>
        AnnIndex.probeBatch(b, idx, outDir, id, k = 3)
        if (id == 0L) {
          assert(AnnIndex.compact(spark, idx) == 4)
          assert(AnnIndex.compactTombstones(spark, idx) == 2)
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    val streamed = AnnIndex.readProbeResults(spark, outDir)
      .select("query_id", "rk", "neighbor_id", "sim")
    val oneShot = AnnIndex.probe(
      emb.filter(Seq(40L, 41L, 44L, 45L, 48L, 49L)
        .map(col("vec_id") === _).reduce(_ || _)), idx, k = 3)
    assert(streamed.count() == 6 * 3)
    assert(streamed.exceptAll(oneShot).isEmpty && oneShot.exceptAll(streamed).isEmpty)
    val ns = streamed.select("neighbor_id").as[Long].collect().toSet
    assert(!ns.contains(7L) && !ns.contains(17L)) // tombstones held through the fold
  }

  test("indexStats: occupancy and layout pressure track ingest, deletes and compaction") {
    val sp = spark; import sp.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("embedding"))
    val dir = tmp("graft_ann_stats")
    AnnIndex.build(emb.filter(col("vec_id") < 25), dir, nCentroids = 8)
    AnnIndex.ingest(emb.filter(col("vec_id") >= 25 && col("vec_id") < 30), dir, Some(1L))
    AnnIndex.ingest(emb.filter(col("vec_id") >= 30 && col("vec_id") < 35), dir, Some(2L))
    AnnIndex.delete(Seq(3L).toDF("vec_id"), dir)
    AnnIndex.delete(Seq(26L).toDF("vec_id"), dir)
    val st = AnnIndex.indexStats(spark, dir).head()
    def l(n: String) = st.getLong(st.fieldIndex(n))
    def i(n: String) = st.getInt(st.fieldIndex(n))
    assert(l("n_live") == 33) // 35 ingested - 2 tombstoned
    assert(i("n_cells_total") == 8 && l("n_cells_used") <= 8)
    assert(l("max_cell") >= 1 && l("n_tombstone_ids") == 2)
    // layout pressure: seed + 2 ingests per subtree, 2 appended tombstone files
    assert(i("n_code_dirs") == 3 && i("n_vector_dirs") == 3)
    assert(i("n_tombstone_entries") == 2)
    // per-cell view sums to the live total and carries id ranges
    val cells = AnnIndex.cellStats(spark, dir)
    assert(cells.agg(sum("n_live")).head().getLong(0) == 33)
    // after compaction the DATA signal is unchanged, the LAYOUT one drops
    assert(AnnIndex.compact(spark, dir) == 4)
    assert(AnnIndex.compactTombstones(spark, dir) == 2)
    val st2 = AnnIndex.indexStats(spark, dir).head()
    def l2(n: String) = st2.getLong(st2.fieldIndex(n))
    def i2(n: String) = st2.getInt(st2.fieldIndex(n))
    assert(l2("n_live") == 33 && l2("n_tombstone_ids") == 2)
    assert(i2("n_code_dirs") == 2 && i2("n_vector_dirs") == 2) // fold + protected newest
    assert(i2("n_tombstone_entries") == 1)
  }

  test("trained index (Lloyd) probe reaches recall@5 >= 0.9 vs brute force") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val queries = emb.filter(col("vec_id") < 10)
    val dir = tmp("graft_ann_recall")
    AnnIndex.build(emb, dir, nCentroids = 8, trainIters = 3)
    val approx = AnnIndex.probe(queries, dir, k = 5, nProbes = 4)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = Similarity.cosineTopK(emb, queries, k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (approx & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"recall@5 = $recall")
  }
}
