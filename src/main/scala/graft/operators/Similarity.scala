package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * - `cosineTopK`: brute-force baseline — broadcast the (small) query
  *   set against the corpus, codegen'd zip_with/aggregate dot products,
  *   per-query top-k via window rank. Exact; cost O(|queries|·N) — fine
  *   whenever the query set broadcasts.
  * - `lshTopK`: the scale path — random-hyperplane signatures bucket the
  *   corpus (and multi-probe neighbors), so each query only scores its
  *   own bucket(s): O(N/2^bits · |queries|) comparisons, bucket-join
  *   shape, never a cartesian.
  * - `cosineNearDupPairs`: embedding near-dup detection with the same
  *   bucket-join shape.
  *
  * All arithmetic is double-precision, left-to-right over the vector,
  * so results are deterministic and oracle-comparable.
  */
object Similarity {

  /** Left-to-right double dot product of two float vectors. */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0),
      (acc, x) => acc + x)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Codegen'd fused loop (graft.functions.CosineSim) — same left-to-right
    * double arithmetic as dot/norm, one pass, no lambda interpretation. */
  def cosine(a: Column, b: Column): Column = graft.functions.CosineSim(a, b)

  /** dot/norm cosine with the CosineSim zero-norm → 0.0 contract, for
    * DOUBLE arrays where the float-typed codegen expression does not
    * apply: without the guard a zero-norm side yields NaN, which sorts
    * GREATER than every double and tops every DESC ranking. */
  def cosineGuarded(a: Column, b: Column): Column = {
    val na = norm(a); val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** The top-k entry points take a "broadcast-small by contract" query
    * side (shipped to every executor, and for PQ also collected on the
    * driver). This makes misuse fail fast with a pointer to the right
    * operator instead of OOMing the driver: it counts AT MOST
    * `max`+1 rows (the limit bounds the scan), so the guard is O(max)
    * regardless of how large the offending query side actually is. */
  private[operators] def requireBroadcastSmall(queries: DataFrame, max: Int, op: String): Unit = {
    val overflow = queries.limit(max + 1).count() > max
    require(!overflow,
      s"$op: the query side is broadcast/collected by contract and must hold at most " +
        s"$max rows (raise maxQueries explicitly if the memory budget allows). For an " +
        "all-pairs self-ANN shape use lshTopK or cosineNearDupPairs instead.")
  }

  /** Exact top-k neighbors for each query id (self excluded).
    * `queries` must be broadcast-small (it is sent to every executor). */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxQueries: Int = 10000): DataFrame = {
    requireBroadcastSmall(queries, maxQueries, "cosineTopK")
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("query_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val scored = c.join(q, col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("query_vec"), col("vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Random-hyperplane LSH signature: `bits` sign bits of dot products
    * with deterministic pseudo-random hyperplanes (hash-derived, no RNG
    * state). This is the Catalyst REFERENCE form — the scoring paths use
    * [[hyperplaneSignatureScalar]], whose bit-identical parity to this
    * expression is pinned by spec (the shingle/minhash trade: `bits`
    * interpreted higher-order aggregates per row lose to one tight loop
    * over a precomputed sign matrix). */
  def hyperplaneSignature(vec: Column, bits: Int): Column = {
    val bitCols = (0 until bits).map { b =>
      // hyperplane component j of plane b: in {-1,+1} from xxhash64(b,j)
      val proj = aggregate(
        zip_with(
          vec,
          sequence(lit(0), size(vec) - 1),
          (x, j) => x.cast("double") *
            when(xxhash64(lit(b), j) % 2 === 0, lit(1.0)).otherwise(lit(-1.0))),
        lit(0.0),
        (acc, x) => acc + x)
      when(proj >= 0, lit(1L)).otherwise(lit(0L)) * lit(1L << b)
    }
    bitCols.reduce(_ + _)
  }

  /** Scalar twin of [[hyperplaneSignature]]: same xxhash64(b, j) parity
    * sign (XXH64.hashInt chain, seed 42 — exactly what the Catalyst
    * XxHash64 expression computes over two int children), same
    * left-to-right double accumulation, same >= 0 threshold. The sign
    * matrix depends only on (bits, dim), so it is memoized per task and
    * each row costs one bits×dim multiply-add loop. */
  private[operators] def hyperplaneSignatureScalar(bits: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udf(new (Seq[Float] => Long) with Serializable {
      @transient private var signs: Array[Array[Double]] = _
      def apply(v: Seq[Float]): Long = {
        // Catalyst parity for a NULL vector: zip_with yields null, every
        // per-bit `when` falls to otherwise(0) — signature 0, row kept.
        // An EMPTY vector is the same on the Catalyst side for a
        // different reason (sequence(0,-1) = [0,-1] pads null through
        // zip_with, so proj is NULL and every bit falls to 0) — the
        // scalar loop would instead compute proj = 0.0 >= 0 and set
        // EVERY bit, breaking the bit-identical parity contract
        if (v == null || v.isEmpty) return 0L
        if (signs == null || signs.length == 0 || signs(0).length < v.length) {
          signs = Array.tabulate(bits, v.length) { (b, j) =>
            val h = org.apache.spark.sql.catalyst.expressions.XXH64
              .hashInt(j, org.apache.spark.sql.catalyst.expressions.XXH64.hashInt(b, 42L))
            if (h % 2 == 0) 1.0 else -1.0
          }
        }
        var sig = 0L
        var b = 0
        while (b < bits) {
          val row = signs(b)
          var proj = 0.0
          var j = 0
          while (j < v.length) { proj += v(j).toDouble * row(j); j += 1 }
          if (proj >= 0) sig |= 1L << b
          b += 1
        }
        sig
      }
    })

  /** ANN top-k via LSH buckets: queries meet only corpus vectors in the
    * same bucket (plus multi-probe buckets within Hamming distance
    * `probeHamming` for recall), then exact cosine rescoring within the
    * candidates. With bits=8 and probeHamming=2, a query scans 37 of 256
    * buckets ≈ 14% of the corpus — the fraction shrinks as bits grow with
    * corpus size, which is the 100 TB scale path. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, bits: Int = 8,
      probeHamming: Int = 2,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sigU = hyperplaneSignatureScalar(bits)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .withColumn("bucket", sigU(col("vec")))
    // enumerate the C(bits, 0..probeHamming) masks DIRECTLY — scanning
    // all 2^bits longs for bitCount <= h is O(2^bits) driver work for an
    // O(bits^h)-sized result (16.7M boxed longs for 301 masks at bits=24)
    val masks: Seq[Long] = {
      def combos(start: Int, remaining: Int, acc: Long): Seq[Long] =
        if (remaining == 0) Seq(acc)
        else (start until bits).flatMap(b => combos(b + 1, remaining - 1, acc | (1L << b)))
      (0 to probeHamming).flatMap(h => combos(0, h, 0L)).sorted
    }
    val probes = array(masks.map(lit(_)): _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .withColumn("sig", sigU(col("query_vec")))
      .select(col("query_id"), col("query_vec"),
        explode(transform(probes, m => col("sig").bitwiseXOR(m))).as("bucket"))
    val scored = c.join(q, Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("query_vec"), col("vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .dropDuplicates("query_id", "neighbor_id")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** IVF-Flat ANN: `nCentroids` deterministic sample vectors act as
    * coarse centroids (standard IVF initialization); every corpus vector
    * is assigned to its nearest centroid (one broadcast join — centroids
    * are tiny), and each query probes its `nProbes` closest cells. Only
    * vectors in probed cells are rescored exactly: with C=32/P=4 a query
    * scans ~12% of the corpus, and the fraction shrinks as C grows with
    * corpus size — the 100 TB scale path for low-similarity embedding
    * spaces where hyperplane LSH has no gap to exploit. */
  private def toD(v: Seq[Float]): Array[Double] = {
    val a = new Array[Double](v.length)
    var i = 0; while (i < v.length) { a(i) = v(i).toDouble; i += 1 }
    a
  }

  private def cosD(c: Array[Double], v: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < c.length) {
      val x = c(i); val y = v(i)
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private[operators] def cosTo(c: Array[Double], v: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < c.length) {
      val x = c(i); val y = v(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** (assigned cell, residual = v − centroid) — the IVFADC corpus-side
    * decomposition. Object-level (not a local def) so UDF closures that
    * call it stay serializable: a lifted local def is an instance method
    * and would capture the enclosing object. */
  private def residualOf(cent: Array[(Long, Array[Double])],
      centMap: Map[Long, Array[Double]], v: Seq[Float]): (Long, Array[Double]) = {
    val arr = toD(v)
    val cid = nearestCentroidD(cent, arr)
    val c = centMap(cid)
    val r = new Array[Double](arr.length)
    var i = 0; while (i < arr.length) { r(i) = arr(i) - c(i); i += 1 }
    (cid, r)
  }

  // best seeds from the FIRST centroid, not id 0: an all-NaN cosine row
  // (zero-norm vector) never fires the update, and a fabricated id 0
  // either crashes residualOf's centMap lookup (replay-mode ids are real
  // vec_ids) or silently assigns a nonexistent cell
  private def nearestCentroidD(cent: Array[(Long, Array[Double])], v: Array[Double]): Long = {
    var best = cent(0)._1; var bestSim = Double.MinValue
    cent.foreach { case (cid, c) =>
      val s = cosD(c, v)
      if (s > bestSim || (s == bestSim && cid < best)) { best = cid; bestSim = s }
    }
    best
  }

  private[operators] def nearestCentroid(cent: Array[(Long, Array[Double])], v: Seq[Float]): Long = {
    var best = cent(0)._1; var bestSim = Double.MinValue
    cent.foreach { case (cid, c) =>
      val s = cosTo(c, v)
      if (s > bestSim || (s == bestSim && cid < best)) { best = cid; bestSim = s }
    }
    best
  }

  /** Lloyd's iterations for the IVF coarse quantizer, trained on a
    * deterministic BOUNDED sample — the same contract as [[trainPq]] and
    * the FAISS stance: quantizer training costs one TakeOrdered job
    * (trainRows·dim doubles collected once) at ANY corpus size, never a
    * per-round corpus-wide shuffle. Init is the first `nCentroids`
    * sample vectors in plain id order (reproducible across runs and
    * partitionings); refinement is `iters` local rounds of cosine
    * assignment (identical semantics to the scoring-side
    * nearestCentroid: argmax cosine, ties → lower cid) → mean. Empty
    * clusters keep their previous centroid. */
  /** The ONE coarse-quantizer acquisition (ivfTopK, ivfPqTopK, semDedup,
    * AnnIndex.build all share it): Lloyd-trained when `trainIters` > 0,
    * else the replay rule — the first `nCentroids` vectors in plain id
    * order, byte-for-byte oracle-checkable. Ids are cast to long BEFORE
    * the collect, so an IntegerType id column doesn't ClassCastException
    * the driver while the operator's distributed side (which casts)
    * works fine. */
  private[operators] def coarseCentroids(
      corpus: DataFrame, nCentroids: Int, trainIters: Int,
      idCol: String, vecCol: String, trainRows: Int): Array[(Long, Array[Double])] =
    if (trainIters > 0)
      trainCentroids(corpus, nCentroids, trainIters, idCol, vecCol, trainRows)
    else corpus.orderBy(col(idCol)).limit(nCentroids)
      .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))

  def trainCentroids(corpus: DataFrame, nCentroids: Int, iters: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainRows: Int = 4096): Array[(Long, Array[Double])] = {
    val sample: Array[(Long, Array[Double])] =
      corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(math.max(nCentroids, trainRows))
        .select(col(idCol).cast("long"), col(vecCol).cast("array<float>"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    require(sample.length >= nCentroids, s"corpus must hold at least $nCentroids vectors")
    var cent: Array[(Long, Array[Double])] =
      sample.sortBy(_._1).take(nCentroids).zipWithIndex
        .map { case ((_, v), i) => (i.toLong, v) }
    (1 to iters).foreach { _ =>
      val sums = Array.fill(nCentroids, cent(0)._2.length)(0.0)
      val counts = new Array[Long](nCentroids)
      sample.foreach { case (_, v) =>
        val cid = nearestCentroidD(cent, v).toInt
        counts(cid) += 1
        val s = sums(cid); var i = 0
        while (i < v.length) { s(i) += v(i); i += 1 }
      }
      cent = cent.map { case (cid, old) =>
        val c = cid.toInt
        if (counts(c) == 0) (cid, old)
        else (cid, sums(c).map(_ / counts(c)))
      }
    }
    cent
  }

  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 32, nProbes: Int = 4, trainIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxQueries: Int = 10000, trainRows: Int = 4096): DataFrame = {
    requireBroadcastSmall(queries, maxQueries, "ivfTopK")
    // Centroid matrix is bounded by nCentroids (not data size): collect it
    // once (optionally k-means-refined) and ship it in the scoring
    // closures — the coarse quantizer then runs as a tight per-row loop
    // with no join or shuffle at all.
    val centroids: Array[(Long, Array[Double])] =
      coarseCentroids(corpus, nCentroids, trainIters, idCol, vecCol, trainRows)
    val assignUdf = udf { (v: Seq[Float]) => nearestCentroid(centroids, v) }
    val probeUdf = udf { (v: Seq[Float]) =>
      centroids.map { case (cid, c) => (cosTo(c, v), cid) }
        .sortBy { case (s, cid) => (-s, cid) }
        .take(nProbes).map(_._2)
    }
    val assigned = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
      .withColumn("cid", assignUdf(col("vec")))
    val probes = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
      .withColumn("cid", explode(probeUdf(col("query_vec"))))
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("query_vec"), col("vec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  // ------------------------------------------------ product quantization
  /** PQ codebooks: `codebooks(sub)(code)` is the sub-centroid of
    * subspace `sub` (length `subDim`). */
  final case class PqModel(subDim: Int, codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def codes: Int = codebooks.head.length
  }

  private def nearestCode(book: Array[Array[Double]], v: Array[Double], off: Int): Int = {
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < book.length) {
      val cb = book(c); var d = 0.0; var i = 0
      while (i < cb.length) { val t = cb(i) - v(off + i); d += t * t; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** Train PQ codebooks on a deterministic bounded sample: the first
    * `trainRows` vectors by id-hash order (unbiased w.r.t. content,
    * reproducible across runs and partitionings) are collected once and
    * `iters` Lloyd rounds run locally — the FAISS-style contract where
    * codebook training is bounded by the sample (trainRows·dim doubles),
    * never by corpus size, so it costs one TakeOrdered job at any scale.
    * Empty cells keep their previous sub-centroid.
    *
    * `iters = 0` is the REPLAY mode (same trick as ivfTopK's
    * trainIters=0): the codebooks are slices of the first `codes`
    * vectors in plain id order, so the whole PQ pipeline is
    * SQL-expressible and the ann_pq gate hash-checks against a DuckDB
    * replay; Lloyd refinement (iters > 0) stays the production path,
    * pinned by the recall spec instead. */
  def trainPq(corpus: DataFrame, m: Int, codes: Int, iters: Int,
      trainRows: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding"): PqModel = {
    val sample = (
      if (iters == 0) corpus.orderBy(col(idCol)).limit(codes)
      else corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(math.max(codes, trainRows))
    ).select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(sample.length >= codes, s"corpus must hold at least $codes vectors")
    lloydPq(sample, m, codes, iters)
  }

  /** Local Lloyd rounds over an in-memory sample: books init to the
    * first `codes` sample slices, then assign→mean refinement per
    * subspace. Shared by trainPq (raw vectors) and ivfPqTopK
    * (residuals); cost is bounded by the sample, never the corpus. */
  private def lloydPq(sample: Array[Array[Double]], m: Int, codes: Int, iters: Int): PqModel = {
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val subDim = dim / m
    var books: Array[Array[Array[Double]]] =
      Array.tabulate(m, codes)((sub, c) => sample(c).slice(sub * subDim, (sub + 1) * subDim))
    (1 to iters).foreach { _ =>
      val sums = Array.fill(m, codes, subDim)(0.0)
      val counts = Array.fill(m, codes)(0L)
      sample.foreach { v =>
        var sub = 0
        while (sub < m) {
          val c = nearestCode(books(sub), v, sub * subDim)
          counts(sub)(c) += 1
          val s = sums(sub)(c); var i = 0
          while (i < subDim) { s(i) += v(sub * subDim + i); i += 1 }
          sub += 1
        }
      }
      books = Array.tabulate(m, codes) { (sub, c) =>
        if (counts(sub)(c) == 0) books(sub)(c)
        else sums(sub)(c).map(_ / counts(sub)(c))
      }
    }
    PqModel(subDim, books)
  }

  /** PQ-ANN top-k: corpus vectors compress to `m` code ids; each query
    * precomputes an m×codes dot-product table (asymmetric distance
    * computation), so the candidate scan reads m SMALL INTS per corpus
    * row instead of dim floats — the memory-bandwidth scale path when
    * vectors no longer fit hot storage. The top `candidates` by
    * additive ADC score are rescored with exact cosine. Approximate by
    * contract (like IVF): verified by a recall spec, not an exact
    * oracle. `queries` must be broadcast-small. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 8, codes: Int = 32, candidates: Int = 64, trainIters: Int = 3,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxQueries: Int = 10000): DataFrame = {
    requireBroadcastSmall(queries, maxQueries, "pqTopK")
    val model = trainPq(corpus, m, codes, trainIters, idCol = idCol, vecCol = vecCol)
    val subDim = model.subDim
    val frozen = model.codebooks
    val encodeU = udf { (v: Seq[Float]) =>
      val arr = new Array[Double](v.length)
      var i = 0; while (i < v.length) { arr(i) = v(i).toDouble; i += 1 }
      (0 until frozen.length).map(sub => nearestCode(frozen(sub), arr, sub * subDim)).toArray
    }
    // per-query ADC tables: bounded by |queries|·m·codes, not data
    val qrows = queries.select(col(idCol), col(vecCol)).collect().map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      val table = Array.tabulate(frozen.length, codes) { (sub, c) =>
        val cb = frozen(sub)(c); var dp = 0.0; var i = 0
        while (i < cb.length) { dp += qv(sub * subDim + i) * cb(i); i += 1 }
        dp
      }
      (qid, table)
    }
    // Candidate selection is partial-aggregated: a bounded heap per query
    // per partition keeps only the local top-`candidates` by ADC score, so
    // the exchange ahead of the final per-query rank carries at most
    // partitions·|queries|·candidates rows — never the N·|queries| scored
    // pairs an explode+window would materialize. The heap order (approx
    // desc, neighbor_id asc) is a total order, so distributing the
    // selection per partition is exact, not approximate.
    val ss = corpus.sparkSession
    import ss.implicits._
    val localTop = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), encodeU(col(vecCol)).as("cs"))
      .as[(Long, Seq[Int])]
      .mapPartitions { it =>
        val heaps = qrows.map { case (qid, _) =>
          qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst)
        }
        it.foreach { case (nid, cs) =>
          var qi = 0
          while (qi < qrows.length) {
            val (qid, table) = qrows(qi)
            if (nid != qid) {
              var s = 0.0; var sub = 0
              while (sub < cs.length) { s += table(sub)(cs(sub)); sub += 1 }
              val s9 = round9(s) // the heap must order on the RANK's grid
              val h = heaps(qi)._2
              if (h.size < candidates) h.enqueue((s9, nid))
              else if (worstFirst.gt(h.head, (s9, nid))) { h.dequeue(); h.enqueue((s9, nid)) }
            }
            qi += 1
          }
        }
        heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (s, nid) => (qid, nid, s) } }
      }
      .toDF("query_id", "neighbor_id", "approx")
    adcRescore(corpus, queries, localTop, candidates, k, idCol, vecCol)
  }

  /** IVF×PQ — the composed 100 TB ANN shape: coarse IVF cells prune the
    * scan (only `nProbes` of `nCentroids` cells are visited per query)
    * and PQ compresses what remains (the visited rows are read as `m`
    * small ints, not dim floats). Codebooks are trained on RESIDUALS
    * (vec − assigned centroid), the FAISS IVFADC layout: residuals are
    * centered near zero so a shared codebook quantizes them far better
    * than raw vectors, and the ADC score decomposes exactly as
    * dot(q, v) ≈ dot(q, centroid) + Σ_sub dot(q_sub, book_sub(code)) —
    * the first term is per probed cell, the second is the per-query
    * table lookup. Candidate selection reuses the per-partition bounded
    * heap (exchange carries ≤ partitions·|q|·candidates rows) and the
    * survivors get the exact-cosine rescore.
    *
    * `trainIters = 0` is the REPLAY mode (same contract as ivfTopK /
    * trainPq): centroids are the first `nCentroids` vectors by id and
    * codebooks are subspace slices of the first `codes` RESIDUALS by id,
    * so every stage is SQL-expressible and the ann_ivfpq gate
    * hash-checks a full DuckDB replay. Lloyd refinement (iters > 0) is
    * the production path, pinned by the recall-at-scan-fraction spec. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      nCentroids: Int = 32, nProbes: Int = 4,
      m: Int = 8, codes: Int = 32, candidates: Int = 64, trainIters: Int = 3,
      trainRows: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxQueries: Int = 10000): DataFrame = {
    requireBroadcastSmall(queries, maxQueries, "ivfPqTopK")
    // coarse quantizer: bounded by nCentroids, same contract as ivfTopK
    val centroids: Array[(Long, Array[Double])] =
      coarseCentroids(corpus, nCentroids, trainIters, idCol, vecCol, trainRows)
    val centMap: Map[Long, Array[Double]] = centroids.toMap
    // PQ books over residuals, trained on a deterministic bounded sample
    // (trainRows·dim doubles — never corpus-sized; see trainPq)
    val sample = (
      if (trainIters == 0) corpus.orderBy(col(idCol)).limit(codes)
      else corpus.orderBy(xxhash64(col(idCol)), col(idCol)).limit(math.max(codes, trainRows))
    ).select(col(vecCol)).collect()
      .map(r => residualOf(centroids, centMap, r.getSeq[Float](0))._2)
    require(sample.length >= codes, s"corpus must hold at least $codes vectors")
    val model = lloydPq(sample, m, codes, trainIters)
    val subDim = model.subDim
    val books = model.codebooks
    val encodeU = udf { (v: Seq[Float]) =>
      val (cid, r) = residualOf(centroids, centMap, v)
      (cid, (0 until books.length).map(sub => nearestCode(books(sub), r, sub * subDim)).toArray)
    }
    // per-query probe sets + ADC tables: bounded by |q|·(nProbes + m·codes)
    val qrows = queries.select(col(idCol), col(vecCol)).collect().map { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Float](1).map(_.toDouble).toArray
      val probeIds: Array[Long] = centroids.map { case (cid, c) => (cosD(c, qv), cid) }
        .sortBy { case (s, cid) => (-s, cid) }
        .take(nProbes).map(_._2)
      val centDot: Map[Long, Double] = probeIds.map { cid =>
        val c = centMap(cid); var dp = 0.0; var i = 0
        while (i < c.length) { dp += qv(i) * c(i); i += 1 }
        cid -> dp
      }.toMap
      val table = Array.tabulate(books.length, codes) { (sub, c) =>
        val cb = books(sub)(c); var dp = 0.0; var i = 0
        while (i < cb.length) { dp += qv(sub * subDim + i) * cb(i); i += 1 }
        dp
      }
      (qid, centDot, table)
    }
    val ss = corpus.sparkSession
    import ss.implicits._
    val localTop = corpus
      .select(col(idCol).cast("long").as("neighbor_id"), encodeU(col(vecCol)).as("enc"))
      .select(col("neighbor_id"), col("enc._1").as("cid"), col("enc._2").as("cs"))
      .as[(Long, Long, Seq[Int])]
      .mapPartitions { it =>
        val heaps = qrows.map { case (qid, _, _) =>
          qid -> new scala.collection.mutable.PriorityQueue[(Double, Long)]()(worstFirst)
        }
        it.foreach { case (nid, cid, cs) =>
          var qi = 0
          while (qi < qrows.length) {
            val (qid, centDot, table) = qrows(qi)
            // the IVF pruning: rows outside this query's probed cells are
            // skipped entirely — the scan fraction is Σ|probed cells| / N
            if (nid != qid && centDot.contains(cid)) {
              var s = centDot(cid); var sub = 0
              while (sub < cs.length) { s += table(sub)(cs(sub)); sub += 1 }
              val s9 = round9(s) // the heap must order on the RANK's grid
              val h = heaps(qi)._2
              if (h.size < candidates) h.enqueue((s9, nid))
              else if (worstFirst.gt(h.head, (s9, nid))) { h.dequeue(); h.enqueue((s9, nid)) }
            }
            qi += 1
          }
        }
        heaps.iterator.flatMap { case (qid, h) => h.iterator.map { case (s, nid) => (qid, nid, s) } }
      }
      .toDF("query_id", "neighbor_id", "approx")
    adcRescore(corpus, queries, localTop, candidates, k, idCol, vecCol)
  }

  /** 9-dp half-away-from-zero rounding for the HEAP's order — the same
    * grid [[adcRescore]] ranks on. Cutting candidates on the UNROUNDED
    * score would make the kept set summation-order dependent: two
    * scores tying at 9 dp but 1 ulp apart raw can evict the lower-id
    * candidate locally even though the rounded global order (approx
    * desc, id asc) prefers it. (A float landing exactly ON a 9th-decimal
    * .5 boundary can still round apart from Spark's BigDecimal-based
    * round — the same accepted residual the other fixed-point cuts
    * carry.) */
  @inline private def round9(x: Double): Double = {
    val y = x * 1e9
    (if (y >= 0) math.floor(y + 0.5) else math.ceil(y - 0.5)) / 1e9
  }

  /** Dequeues the WORST kept candidate: lowest score first, highest id on
    * ties — a total order, so per-partition bounded-heap selection merged
    * by the downstream rank is exact, not approximate. */
  private val worstFirst: Ordering[(Double, Long)] = new Ordering[(Double, Long)] {
    def compare(a: (Double, Long), b: (Double, Long)): Int = {
      val c = java.lang.Double.compare(b._1, a._1)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
  }

  /** Shared ADC tail: global top-`candidates` per query by approx score
    * (the window input is the per-partition heap output — at most
    * partitions·|q|·candidates rows), then exact cosine rescoring of the
    * survivors against the joined-back vectors, top-k. */
  private def adcRescore(corpus: DataFrame, queries: DataFrame, localTop: DataFrame,
      candidates: Int, k: Int, idCol: String, vecCol: String): DataFrame = {
    // Round the ADC score to 9 decimals before the candidate rank: the
    // oracle's SQL SUM adds the subspace lookups in an unspecified order,
    // so near-equal candidates could otherwise flip ranks across engines
    // on float non-associativity. Spark's round and DuckDB's round both
    // round half away from zero, so the grids agree.
    val roundedTop = localTop.withColumn("approx", round(col("approx"), 9))
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val cand = roundedTop.withColumn("crk", row_number().over(wA))
      .filter(col("crk") <= candidates)
      .select(col("query_id"), col("neighbor_id"))
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand.join(c, Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("sim", cosine(col("query_vec"), col("vec")))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"), round(col("sim"), 6).as("sim"))
  }

  /** Bottom-`bottomK` embedding outliers by cosine to the corpus
    * centroid — the cheap "drop broken/off-distribution embeddings"
    * filter ahead of ANN indexing. Cosine is scale-invariant, so the
    * per-dimension SUM vector is used as the centroid direction
    * directly: summing as exact DECIMAL makes the centroid independent
    * of partitioning and aggregation order (a double sum is neither),
    * and skips a division that engines scale differently. Shape at
    * scale: one narrow posexplode pass into a dim-sized aggregate (the
    * collect is dim rows, not data), then one scan with the centroid
    * shipped as a literal, and a TakeOrdered bottom-k (per-partition
    * top-k + driver merge of k·partitions rows — never a global sort
    * or a one-partition window). */
  def centroidOutliers(df: DataFrame, bottomK: Int = 20,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val sums = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(sum(col("x").cast("double").cast("decimal(38,10)")).as("s"))
      .collect()
      .sortBy(_.getInt(0))
      .map(_.getDecimal(1).doubleValue())
    // dot/norm composition, not CosineSim: the codegen'd expression reads
    // float elements, while the centroid literal is array<double>. The
    // composition casts per element and accumulates left-to-right — the
    // identical IEEE result. The centroid norm is folded on the driver
    // (same left-to-right sum of squares): the higher-order aggregate
    // over a literal is not constant-folded and would re-run per row.
    val cent = typedLit(sums)
    val centNorm = math.sqrt(sums.foldLeft(0.0)((acc, x) => acc + x * x))
    val v = col(vecCol)
    // zero-norm guard: an all-zero embedding (the canonical broken
    // vector this operator exists to surface) has NaN cosine, and NaN
    // sorts GREATER than every double — it would be silently excluded
    // from the bottom-k instead of leading it. Defined as sim 0.
    val simRaw =
      if (centNorm == 0.0) lit(0.0)
      else when(norm(v) === 0.0, lit(0.0))
        .otherwise(dot(v, cent) / (norm(v) * lit(centNorm)))
    df.select(col(idCol).as("vec_id"), simRaw.as("sim_raw"))
      // a dimension-mismatched vector zip_with-pads with null → null sim;
      // asc sort is nulls-first, so without this guard a broken vector
      // would silently claim a bottom-k slot with sim = null
      .filter(col("sim_raw").isNotNull)
      .orderBy(col("sim_raw").asc, col("vec_id"))
      .limit(bottomK)
      .select(col("vec_id"), round(col("sim_raw"), 6).as("sim"))
  }

  // ------------------------------------------- principal component
  /** Top principal component of the embedding distribution by POWER
    * ITERATION over the corpus scatter matrix — the embedding-space
    * profiling step (dominant direction + its explained-variance share;
    * near-isotropic ⇒ healthy spread, one dominant axis ⇒ collapsed or
    * un-centered embeddings).
    *
    * Scale shape: ONE distributed pass accumulates n, Σx, and the d×d
    * second-moment upper triangle per partition (O(d²) doubles each,
    * map-side combined through treeAggregate — the corpus is never
    * shuffled and never re-scanned per iteration); the `iters` matvec
    * rounds then run on the driver over the tiny d×d scatter
    * S = Σxxᵀ − n·μμᵀ. This is the right split at 100 TB: data passes
    * don't scale with iterations, and the driver work is O(iters·d²).
    *
    * Engine portability: the matrix iterated is the COVARIANCE
    * (scatter/n), rounded HALF_UP to 6 decimals. Normalizing by n first
    * is what keeps the absolute 1e-6 rounding window valid at ANY
    * corpus size: covariance entries stay O(vector scale²) while
    * partition/order resampling perturbs them at ~machine epsilon ×
    * entry magnitude — a raw scatter's entries (and their absolute
    * noise) would instead grow with n until the noise crossed the
    * window. So every engine and every row order iterates the
    * IDENTICAL matrix, and the matvec itself (d-term sums from
    * identical inputs) agrees to ~1e-16 — far inside the 6-decimal
    * output rounding. λ and trace are on the covariance scale
    * (per-vector variance); λ/trace is the scale-free explained share.
    * Seed is the deterministic all-ones/√d vector; `iters` fixed
    * rounds, NOT convergence-tested, so the result is a pinned
    * deterministic computation even when the eigengap is small. */
  /** Result of [[topPrincipalComponent]]: the unit component, its
    * Rayleigh eigenvalue and the matrix trace (both on the covariance
    * scale — λ/trace is the explained-variance share), the corpus mean,
    * and the row count. */
  final case class PcaResult(
      component: Array[Double], lambda: Double, trace: Double,
      mean: Array[Double], n: Long)

  def topPrincipalComponent(
      df: DataFrame, vecCol: String = "embedding", iters: Int = 8)
      : PcaResult = {
    require(iters > 0, s"iters must be positive, got $iters")
    val rows = df.select(col(vecCol).cast("array<double>")).na.drop()
    // (n, Σx, upper-triangle of Σxxᵀ) — fixed-size accumulator
    val (n, sumv, tri) = rows.rdd
      .map(_.getSeq[Double](0).toArray)
      .treeAggregate((0L, null: Array[Double], null: Array[Double]))(
        seqOp = { case ((c, s0, m0), x) =>
          val d = x.length
          val s = if (s0 == null) new Array[Double](d) else s0
          val m = if (m0 == null) new Array[Double](d * (d + 1) / 2) else m0
          require(s.length == d,
            s"dimension mismatch: ${s.length} vs $d — refusing a ragged corpus")
          var i = 0; var k = 0
          while (i < d) {
            s(i) += x(i)
            var j = i
            while (j < d) { m(k) += x(i) * x(j); j += 1; k += 1 }
            i += 1
          }
          (c + 1, s, m)
        },
        combOp = {
          case ((c1, s1, m1), (c2, null, _)) => (c1 + c2, s1, m1)
          case ((c1, null, _), (c2, s2, m2)) => (c1 + c2, s2, m2)
          case ((c1, s1, m1), (c2, s2, m2)) =>
            require(s1.length == s2.length,
              s"dimension mismatch: ${s1.length} vs ${s2.length} — refusing a ragged corpus")
            var i = 0
            while (i < s1.length) { s1(i) += s2(i); i += 1 }
            var k = 0
            while (k < m1.length) { m1(k) += m2(k); k += 1 }
            (c1 + c2, s1, m1)
        })
    require(n > 0, "topPrincipalComponent over an empty corpus")
    val d = sumv.length
    def round6(x: Double): Double =
      java.math.BigDecimal.valueOf(x)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    val mu = sumv.map(_ / n)
    val scatter = Array.ofDim[Double](d, d)
    var i = 0; var k = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val v = round6((tri(k) - n * mu(i) * mu(j)) / n)
        scatter(i)(j) = v; scatter(j)(i) = v
        j += 1; k += 1
      }
      i += 1
    }
    var vvec = Array.fill(d)(1.0 / math.sqrt(d))
    def matvec(v: Array[Double]): Array[Double] = {
      val w = new Array[Double](d)
      var a = 0
      while (a < d) {
        var acc = 0.0; var b = 0
        while (b < d) { acc += scatter(a)(b) * v(b); b += 1 }
        w(a) = acc; a += 1
      }
      w
    }
    (1 to iters).foreach { _ =>
      val w = matvec(vvec)
      val nrm = math.sqrt(w.map(x => x * x).sum)
      require(nrm > 0.0,
        "power iteration collapsed to the zero vector (rank-0 scatter)")
      vvec = w.map(_ / nrm)
    }
    val sv = matvec(vvec)
    val lambda = vvec.zip(sv).map { case (a, b) => a * b }.sum
    val trace = (0 until d).map(a => scatter(a)(a)).sum
    PcaResult(vvec, lambda, trace, mu, n)
  }

  /** All-but-the-top embedding post-processing (Mu & Viswanath,
    * ICLR'18): center on the corpus mean and remove the projection onto
    * the top principal component — x' = (x−μ) − ((x−μ)·c)c — the
    * standard isotropy repair for embedding spaces dominated by a
    * common direction. `outCol` holds the processed array<double>.
    *
    * Scale: one [[topPrincipalComponent]] pass (treeAggregate, O(d²)
    * per partition) to fit μ and c, then ONE narrow codegen'd map with
    * μ/c shipped as literals — nothing shuffles, nothing is collected
    * beyond the d-sized model. */
  def removeTopComponent(
      df: DataFrame, vecCol: String = "embedding", iters: Int = 8,
      outCol: String = "embedding_abt"): DataFrame = {
    val fit = topPrincipalComponent(df, vecCol, iters)
    val muLit = typedLit(fit.mean)
    val cLit = typedLit(fit.component)
    val centered = zip_with(col(vecCol).cast("array<double>"), muLit, (x, m) => x - m)
    ColumnGuards.requireNoReserved(df, "removeTopComponent",
      Set("__centered", "__coef"))
    val out = df.withColumn("__centered", centered)
      .withColumn("__coef",
        aggregate(zip_with(col("__centered"), cLit, (a, b) => a * b),
          lit(0.0), (acc, x) => acc + x))
    // withColumn (not withColumnRenamed): it REPLACES an existing column
    // of the same name, so iterated application (input already carrying
    // outCol_coef) can never produce a duplicate/ambiguous column
    out.withColumn(outCol,
        zip_with(col("__centered"), cLit, (xc, c) => xc - col("__coef") * c))
      .withColumn(outCol + "_coef", col("__coef"))
      .drop("__centered", "__coef")
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold (id_a < id_b),
    * found via the bucket join with two scale bounds:
    *
    *  - signature `bits` scale with corpus size (bits = 0, the default,
    *    targets ≤ `hotBucketThreshold` vectors per random bucket, capped
    *    at 24), so random bucket collisions stay O(1) at any corpus size;
    *  - a bucket still hot after adaptive bits is overwhelmingly a
    *    same-content duplicate cluster (identical vectors share a
    *    signature at ANY width — unlike random collisions, a dup cluster
    *    never disperses as bits grow), so it switches to star pairing
    *    against the bucket minimum: O(K) pairs instead of O(K²), and the
    *    star is exactly what the drop-with-smaller-twin policy needs.
    *
    * Heavy-payload discipline (same as Dedup.lshCandidatePairs): id pairs
    * are formed from (bucket, id) alone; the vectors are joined back per
    * candidate pair, never replicated through the bucket self-join. */
  def cosineNearDupPairs(df: DataFrame, threshold: Double, bits: Int = 0,
      hotBucketThreshold: Int = 64,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // cached: evaluated by the adaptive-bits count and the bucketing
    // pass — each scan of the corpus otherwise re-derives the upstream
    // lineage
    val src = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val pairs = Materialize.cached(src) { src =>
      val useBits =
        if (bits > 0) bits
        else {
          val n = src.count()
          val target = math.max(1L, n / hotBucketThreshold)
          math.min(24, math.max(8, 64 - java.lang.Long.numberOfLeadingZeros(target)))
        }
      val bucketed = src
        .withColumn("bucket", hyperplaneSignatureScalar(useBits)(col("vec")))
        .select(col("bucket"), col("id"))
      val w = Window.partitionBy(col("bucket"))
      val sized = bucketed
        .withColumn("bucket_n", count(lit(1)).over(w))
        .withColumn("bucket_min", min(col("id")).over(w))
      val small = sized.filter(col("bucket_n") <= hotBucketThreshold)
      val a = small.select(col("bucket"), col("id").as("id_a"))
      val b = small.select(col("bucket"), col("id").as("id_b"))
      val smallPairs = a.join(b, Seq("bucket"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
      val hotPairs = sized
        .filter(col("bucket_n") > hotBucketThreshold && col("id") =!= col("bucket_min"))
        .select(col("bucket_min").as("id_a"), col("id").as("id_b"))
      // eager checkpoint of the CANDIDATE pair ids (tiny next to the
      // corpus): it cuts the signature/bucket lineage so the corpus cache
      // can be released, while the cosine scoring below stays lazy — its
      // plan remains inspectable (checkpointing the scored result instead
      // left graft.Explain a bare ExistingRDD scan and executed the whole
      // job at construction). The join-backs re-derive `src` from the raw
      // input — one narrow scan each, no signature recompute.
      smallPairs.unionByName(hotPairs).distinct().localCheckpoint()
    }
    pairs
      .join(src.select(col("id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
      .join(src.select(col("id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
      .withColumn("sim", cosine(col("vec_a"), col("vec_b")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Symmetric per-vector int8 quantization — the embedding STORAGE
    * operator for a corpus-scale index: 4 bytes/dim float32 → 1 byte/dim
    * plus one double scale per vector (4× smaller scans for ANN
    * candidate stages; PQ goes further but is lossy per-subspace — int8
    * keeps per-dimension fidelity). `scale = max|x| / 127`,
    * `q_i = floor(x_i/scale + 0.5)` — explicit floor(+0.5) rather than a
    * round() builtin so every engine computes the identical half-up
    * grid; the extreme element maps to exactly ±127, so no clipping
    * branch exists. The all-zero vector quantizes to scale 0 with a
    * zero code vector.
    *
    * Pure Catalyst (array_max/transform/floor, no UDF), one narrow pass,
    * zero shuffles. The scale is projected FIRST and referenced as a
    * column inside the code transform — higher-order lambdas evaluate
    * their body per element, so inlining the array_max subtree there
    * would cost O(dim²) per row instead of O(dim). Returns
    * `(vec_id, scale, qvec array<byte>)`. */
  def quantizeInt8(df: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      keepVecAs: Option[String] = None): DataFrame = {
    val quantized = df.select(
        col(idCol).as("vec_id"),
        (array_max(transform(col(vecCol), x => abs(x.cast("double")))) / lit(127.0))
          .as("scale"),
        col(vecCol).as("__v"))
      .select(
        col("vec_id"), col("scale"),
        when(col("scale") === 0.0, transform(col("__v"), _ => lit(0).cast("byte")))
          .otherwise(transform(col("__v"),
            x => floor(x.cast("double") / col("scale") + lit(0.5)).cast("byte")))
          .as("qvec"),
        col("__v"))
    // keepVecAs carries the source vector through the same narrow pass —
    // a consumer needing (codes, vector) together (AnnIndex.ingest's
    // cell assignment) must not pay a self-join on id for it
    keepVecAs match {
      case Some(name) => quantized.withColumnRenamed("__v", name)
      case None       => quantized.drop("__v")
    }
  }

  /** Per-vector max reconstruction error of [[quantizeInt8]]:
    * `max_i |x_i − q_i·scale|` — the bound a consumer checks before
    * trusting int8 candidates (≤ scale/2 by construction except the
    * zero-scale case). */
  def int8MaxAbsError(vec: Column, scale: Column, qvec: Column): Column =
    array_max(zip_with(vec, qvec,
      (x, q) => abs(x.cast("double") - q.cast("double") * scale)))

  /** Top-k neighbors scanning the int8-QUANTIZED corpus: approximate
    * cosine over dequantized codes selects `k·rescoreFactor` candidates
    * per query, then ONLY those join back to the float vectors for exact
    * rescoring. The candidate scan reads 1 byte/dim + one scale instead
    * of 4 bytes/dim — the memory-bandwidth win that makes a brute-force
    * candidate pass affordable at corpus scale — and the exact stage
    * touches `|q|·k·rescoreFactor` rows, never the corpus.
    *
    * Deterministic end to end (no training), so the whole pipeline is
    * SQL-replayable: approximate scores are rounded to 9 decimals BEFORE
    * the candidate rank (ties → lower id) to keep the cut robust to
    * summation order. */
  def int8TopK(corpus: DataFrame, queries: DataFrame, k: Int,
      rescoreFactor: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxQueries: Int = 10000): DataFrame = {
    requireBroadcastSmall(queries, maxQueries, "int8TopK")
    val q = broadcast(queries.select(
      col(idCol).as("query_id"), col(vecCol).as("query_vec")))
    val deq = quantizeInt8(corpus, idCol, vecCol)
      .select(col("vec_id").as("neighbor_id"),
        transform(col("qvec"), x => x.cast("double") * col("scale")).as("vec_deq"))
    val wa = Window.partitionBy(col("query_id"))
      .orderBy(col("asim").desc, col("neighbor_id"))
    val cand = deq.join(q, col("neighbor_id") =!= col("query_id"))
      // guarded: a zero-scale corpus vector dequantizes to all zeros —
      // its NaN asim would otherwise claim a candidate slot per query
      .withColumn("asim",
        round(cosineGuarded(col("query_vec"), col("vec_deq")), 9))
      .withColumn("ark", row_number().over(wa))
      .filter(col("ark") <= k * rescoreFactor)
      .select(col("query_id"), col("neighbor_id"))
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("vec")),
        Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .withColumn("sim", cosine(col("query_vec"), col("vec")))
      .withColumn("rk", row_number().over(we))
      .filter(col("rk") <= k)
      .select(col("query_id"), col("rk"), col("neighbor_id"),
        round(col("sim"), 6).as("sim"))
  }

  /** SemDeDup (Abbas et al., arXiv:2303.09540): semantic deduplication by
    * coarse k-means clustering then WITHIN-cluster cosine pruning — a
    * vector is dropped iff some same-cluster vector with a SMALLER id is
    * ≥ `threshold` cosine-similar (keep-lowest-id, the paper's
    * keep-one-per-dup-group policy restricted to clusters). Returns the
    * full decision table `(vec_id, cid, kept)` so corpus filtering is a
    * semi-join on `kept`.
    *
    * Scale contract (the paper's): `nCentroids` grows ∝ corpus size so
    * the expected cluster is constant-sized, making the within-cluster
    * pairing Σs² ≈ N·s̄ — linear, one equi-join shuffle on `cid`, never a
    * cartesian. A cluster still larger than `hotCellThreshold` is
    * overwhelmingly a same-content duplicate pile (random cells are
    * centroid-bounded), so it degrades to star pairing against the
    * cluster minimum — O(s) pairs, and exactly the keep-lowest-id
    * decision for mutually-similar piles. Pair ids are formed from
    * `(cid, id)` alone; vectors join back per candidate pair (the same
    * heavy-payload discipline as [[cosineNearDupPairs]]).
    *
    * `trainIters = 0` is the REPLAY mode shared with [[ivfTopK]]:
    * centroids are the first `nCentroids` vectors in plain id order and
    * assignment is argmax cosine (ties → lower cid), so the whole
    * operator is SQL-expressible and oracle-checked; Lloyd refinement
    * (`trainIters` > 0) is the production quantizer. Similarities are
    * rounded to 6 decimals BEFORE the threshold compare so the decision
    * is robust to summation-order drift. */
  def semDedup(corpus: DataFrame, nCentroids: Int = 32, threshold: Double = 0.95,
      trainIters: Int = 0, hotCellThreshold: Int = 4096,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainRows: Int = 4096): DataFrame = {
    val centroids: Array[(Long, Array[Double])] =
      coarseCentroids(corpus, nCentroids, trainIters, idCol, vecCol, trainRows)
    val assignUdf = udf { (v: Seq[Float]) => nearestCentroid(centroids, v) }
    // cached across the window/pairing passes and the two vector
    // join-backs, then released: the dropped-id set (tiny) is eagerly
    // checkpointed so nothing downstream re-derives the cache, and the
    // final output recomputes the assignment as one narrow pass over the
    // raw corpus
    val dropped = Materialize.cached(corpus
        .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
        .withColumn("cid", assignUdf(col("vec")))) { assigned =>
      val w = Window.partitionBy(col("cid"))
      val sized = assigned
        .select(col("cid"), col("vec_id").as("id"))
        .withColumn("cell_n", count(lit(1)).over(w))
        .withColumn("cell_min", min(col("id")).over(w))
      val small = sized.filter(col("cell_n") <= hotCellThreshold)
      val candPairs = small.select(col("cid"), col("id").as("id_a"))
        .join(small.select(col("cid"), col("id").as("id_b")), Seq("cid"))
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .unionByName(sized
          .filter(col("cell_n") > hotCellThreshold && col("id") =!= col("cell_min"))
          .select(col("cell_min").as("id_a"), col("id").as("id_b")))
      candPairs
        .join(assigned.select(col("vec_id").as("id_a"), col("vec").as("vec_a")), Seq("id_a"))
        .join(assigned.select(col("vec_id").as("id_b"), col("vec").as("vec_b")), Seq("id_b"))
        .filter(round(cosine(col("vec_a"), col("vec_b")), 6) >= threshold)
        .select(col("id_b").as("vec_id"))
        .distinct()
        .localCheckpoint()
    }
    corpus
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"))
      .withColumn("cid", assignUdf(col("vec")))
      .join(dropped.withColumn("is_dropped", lit(true)), Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cid"),
        not(coalesce(col("is_dropped"), lit(false))).as("kept"))
  }
}
