package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.collectTopK
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Scale design: queries are broadcast (small side), the corpus is scanned
  * once; per-partition bounded heaps keep the candidate set k-sized per
  * query so NOTHING quadratic ever shuffles — the shuffle payload is
  * (numPartitions x numQueries x k) rows, then a final per-query top-k.
  */
object Similarity {

  /** Cosine in double precision, left-to-right accumulation (the oracle
    * computes in double too).
    */
  def cosine(a: Seq[Float], b: Seq[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      dot += a(i).toDouble * b(i).toDouble
      na += a(i).toDouble * a(i).toDouble
      nb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    if (na == 0 || nb == 0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact brute-force top-k cosine neighbors for the given query ids.
    * Output: (vec_id, rank, neighbor_id) — rank 1..k by (sim desc,
    * neighbor_id asc) for determinism.
    *
    * Plan shape: the id-pruned query scan (predicate pushed to parquet)
    * broadcasts against ONE corpus scan; scoring runs through the
    * codegen'd `cosine_sim` expression (bit-identical to [[cosine]]), so
    * the corpus vectors are read straight from Tungsten ArrayData and
    * never deserialize to `Seq[Float]`; the final per-query top-k is
    * [[topKNeighbors]]. A NULL id or embedding fails the query
    * ([[vectors]]).
    */
  def bruteKnn(emb: DataFrame, queryIds: Seq[Long], k: Int = 3): DataFrame = {
    val queries = queryVectors(emb, queryIds, "bruteKnn")
      .select(col("vec_id"), col("embedding").as("_qv"))
    val corpus = vectors(emb, "bruteKnn")
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_nv"))
    topKNeighbors(corpus.join(broadcast(queries),
        col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"),
        graft.spark.VectorFunctions.cosineSim(col("_qv"), col("_nv")).as("sim"),
        col("neighbor_id")), k)
  }

  /** `emb` as (vec_id cast to long, embedding), failing the query with an
    * error that names the operator and the id when either is NULL: a NULL
    * id never matches the self-exclusion test and would vanish silently,
    * and a NULL embedding scores a NULL sim, which ranks first under
    * [[topKNeighbors]]' key.
    */
  private def vectors(emb: DataFrame, op: String): DataFrame = {
    val id = col("vec_id").cast("long")
    emb.select(
      when(id.isNull, raise_error(lit(s"$op: NULL vec_id"))).otherwise(id).as("vec_id"),
      when(col("embedding").isNull,
        raise_error(concat(lit(s"$op: NULL embedding for vec_id "), id.cast("string"))))
        .otherwise(col("embedding")).as("embedding"))
  }

  /** [[vectors]] of the `queryIds` rows. The id filter runs on the raw
    * column, below the NULL guard, so it still prunes the parquet scan.
    */
  private def queryVectors(emb: DataFrame, queryIds: Seq[Long], op: String): DataFrame =
    vectors(emb.where(col("vec_id").cast("long").isin(queryIds: _*)), op)

  /** Per-query top-k of `scored` (vec_id, sim, neighbor_id): (vec_id, rank,
    * neighbor_id), rank 1..k by (sim desc, neighbor_id asc), through the
    * bounded `collectTopK` (map-side k-entry buffers, never a corpus-sized
    * window partition). sim stays internal: rank already encodes the
    * order, and a raw double column would make the hash-compare against
    * the oracle flaky.
    */
  private def topKNeighbors(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy("vec_id")
      .agg(collectTopK(struct((-col("sim")).as("neg_sim"), col("neighbor_id")), k).as("nn"))
      .select(col("vec_id"), posexplode(col("nn")))
      .select(col("vec_id"), (col("pos") + 1).as("rank"),
        col("col.neighbor_id").as("neighbor_id"))

  /** md5-derived Rademacher hyperplane component for [[lshAnn]]: ±1 from
    * bit 0 of the first hex char of md5("p:i"). Sign-random-projection LSH
    * (the SimHash family) needs only a symmetric component distribution, and
    * md5 makes the planes — hence the bucket assignment, candidate set, and
    * output — reproducible in ANSI SQL (the q31 DuckDB oracle builds the
    * identical planes from the same md5 calls).
    */
  private[ops] def planeSign(p: Int, i: Int): Double = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$p:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    if (((d(0) >> 4) & 1) == 1) 1.0 else -1.0
  }

  /** LSH-bucketed ANN (md5-derived ±1 hyperplanes, hamming<=maxHamming
    * multiprobe): the scale path. Returns (vec_id, rank, neighbor_id) per
    * query — approximate; recall measured against bruteKnn in tests and the
    * full output hash-gated by the q31 DuckDB oracle.
    */
  def lshAnn(emb: DataFrame, queryIds: Seq[Long], k: Int = 3, planes: Int = 10,
      maxHamming: Int = 2): DataFrame = {
    require(planes >= 1 && planes <= 31,
      "planes in 1..31 (the signature is an Int; 1 << p wraps past 31)")
    val spark = emb.sparkSession
    import spark.implicits._
    // max, not first: planes must cover the longest vector (the oracle
    // builds them from max(len(embedding)) too); shorter vectors just use
    // a prefix of each plane
    val dim = emb.select(max(size(col("embedding")))).first().getInt(0)
    val hyper = Array.tabulate(planes, dim)(planeSign)
    val hB = spark.sparkContext.broadcast(hyper)
    // queries come straight off the id-pruned scan and are signed
    // driver-side, so the corpus-wide signature projection below runs in
    // exactly ONE job (the previous shape materialized it twice: once for
    // the query collect, once for the scan)
    val queries = queryVectors(emb, queryIds, "lshAnn").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => (id, signature(hyper, v), v) }
    val qB = spark.sparkContext.broadcast(queries)

    val scored = vectors(emb, "lshAnn").as[(Long, Seq[Float])].mapPartitions { it =>
      val qs = qB.value
      val h = hB.value
      it.flatMap { case (id, v) =>
        val sig = signature(h, v)
        qs.iterator.collect {
          case (qid, qsig, qv) if qid != id &&
              java.lang.Integer.bitCount(sig ^ qsig) <= maxHamming =>
            (qid, id, cosine(qv, v))
        }
      }
    }.toDF("vec_id", "neighbor_id", "sim")
    // bounded top-k per query, NOT a window: a degenerate corpus (everything
    // in one signature bucket) would make the window partition for one
    // query corpus-sized; the map-side buffers stay at k entries regardless
    topKNeighbors(scored, k)
  }

  /** IVF (inverted-file) ANN — the classic coarse-quantizer scale path:
    * a tiny k-means codebook is trained driver-side on a deterministic
    * sample (the codebook is O(nCentroids x dim) regardless of corpus
    * size), every vector is assigned to its nearest centroid in one narrow
    * pass, and each query scans only its `nProbe` nearest cells. At
    * nProbe == nCentroids this degrades to exact brute force (the recall
    * test exploits that); at 10^12 vectors the scan cost per query drops
    * by ~nCentroids/nProbe with the same per-partition bounded-heap plan
    * as [[bruteKnn]] (nothing quadratic ever shuffles).
    */
  def ivfAnn(emb: DataFrame, queryIds: Seq[Long], k: Int = 3,
      nCentroids: Int = 16, nProbe: Int = 4, iters: Int = 5): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = vectors(emb, "ivfAnn")
    val typed = vecs.as[(Long, Seq[Float])]

    // --- deterministic driver-side sample + seeded k-means. Per-partition
    // bounded take: no full pass over the table (each scan task stops after
    // its quota — at 10^12 rows this reads one row group per file), bounded
    // driver memory (<= ~2048 x dim doubles), deterministic given the
    // (deterministic) file layout, and never empty for a non-empty table —
    // unlike an id-strided filter, which is an extra full scan and breaks
    // on sparse or non-zero-based ids.
    // per-partition quota from file-count METADATA (not .rdd, which would
    // build the whole RDD lineage just to read a partition count), floored
    // at 32 so a many-partitions-per-file layout still yields a usable
    // sample; the limit() is the hard driver-memory bound — whatever the
    // real partitioning turns out to be, at most 4096 rows ever reach the
    // driver, and each scan task stops after its quota (one row group).
    val nFiles = math.max(1, emb.inputFiles.length)
    val perPart = math.max(32, (2048 + nFiles - 1) / nFiles)
    val sample = typed.mapPartitions(_.take(perPart)).limit(4096)
      .collect().map(_._2.map(_.toDouble).toArray)
    require(sample.nonEmpty, "ivfAnn: empty embedding table")
    val dim = sample.head.length
    val rnd = new scala.util.Random(11)
    var centroids = Array.fill(math.min(nCentroids, sample.length))(
      sample(rnd.nextInt(sample.length)).clone())
    def dist2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    def nearest(v: Array[Double], cs: Array[Array[Double]]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cs.length) { val d = dist2(v, cs(c)); if (d < bd) { bd = d; best = c }; c += 1 }
      best
    }
    (1 to iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](dim))
      val counts = new Array[Long](centroids.length)
      sample.foreach { v =>
        val c = nearest(v, centroids)
        counts(c) += 1
        var i = 0
        while (i < dim) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else sums(c).map(_ / counts(c))
      }.toArray
    }
    // --- queries with their nProbe nearest cells: collected straight off
    // the id-pruned parquet scan (pushed filter — never a corpus-wide
    // assignment pass just to find 20 rows), cells probed driver-side from
    // the same centroids. sortBy is stable, so equal distances tie to the
    // lowest cell index, exactly like `nearest`.
    val queries = queryVectors(emb, queryIds, "ivfAnn").as[(Long, Seq[Float])].collect()
      .map { case (qid, qv) =>
        val qd = qv.map(_.toDouble).toArray
        val probes: Seq[Int] = centroids.indices
          .sortBy(c => dist2(qd, centroids(c))).take(nProbe).toList
        (qid, probes, qv)
      }.toSeq

    // --- ONE corpus pass, fully codegen'd: cell assignment through the
    // native `nearest_cell` expression (bit-identical to `nearest`),
    // probe-set membership + scoring against the broadcast query table via
    // the codegen'd `cosine_sim` (bit-identical to [[cosine]]) — the
    // vectors never deserialize to `Seq[Float]`; per-query top-k through
    // [[topKNeighbors]].
    val qDf = broadcast(queries.toDF("vec_id", "_probes", "_qv"))
    val scored = vecs
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("_nv"))
      .withColumn("_cell",
        graft.spark.VectorFunctions.nearestCellCol(col("_nv"), centroids))
      .join(qDf, array_contains(col("_probes"), col("_cell")) &&
        col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"),
        graft.spark.VectorFunctions.cosineSim(col("_qv"), col("_nv")).as("sim"),
        col("neighbor_id"))
    topKNeighbors(scored, k)
  }

  /** Symmetric per-vector int8 quantization — the standard 4x storage /
    * bandwidth compression for an embedding corpus (the floats only come
    * back for the final re-rank). Per vector: scale = max |x_i| (double),
    * q_i = floor(x_i * 127 / scale + 0.5) in [-127, 127]; an all-zero
    * vector quantizes to zeros. Adds `quant` (array<int>) and the maximum
    * per-component reconstruction error as an INTEGER (`max_err_x1e7` =
    * floor(max_i |x_i - q_i*scale/127| * 1e7)) so a cross-engine oracle can
    * hash-compare exactly (all arithmetic in IEEE double with a fixed
    * operation order — both engines produce bit-identical results).
    *
    * Pure column expressions: map-only scan, whole-stage codegen, no
    * shuffle — the plan shape that survives any corpus size.
    */
  def quantizeInt8(emb: DataFrame, embCol: String = "embedding"): DataFrame = {
    val scale = array_max(transform(col(embCol), v => abs(v.cast("double"))))
    def quantOf(s: org.apache.spark.sql.Column) =
      transform(col(embCol), v =>
        when(s === 0d, lit(0))
          .otherwise(floor(v.cast("double") * lit(127d) / s + lit(0.5d)).cast("int")))
    emb
      .withColumn("scale", scale)
      .withColumn("quant", quantOf(col("scale")))
      .withColumn("max_err_x1e7",
        floor(array_max(zip_with(col(embCol), col("quant"),
          (v, q) => abs(v.cast("double") - q.cast("double") * col("scale") / lit(127d))))
          * lit(1e7d)).cast("long"))
  }

  /** Sign-random-projection signature of a vector under md5-derived
    * hyperplanes (see [[planeSign]]): bit p is set iff the dot product
    * with plane p is non-negative. SQL-reproducible by construction.
    */
  private[ops] def signature(h: Array[Array[Double]], v: Seq[Float]): Int = {
    var sig = 0
    var p = 0
    while (p < h.length) {
      var dot = 0.0; var i = 0
      while (i < v.length) { dot += h(p)(i) * v(i); i += 1 }
      if (dot >= 0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  /** All signatures within hamming distance `maxHamming` (0..2 supported)
    * of `sig` over `planes` bits — the multiprobe expansion set, distinct
    * by construction.
    */
  private[ops] def probeSigs(sig: Int, planes: Int, maxHamming: Int): Seq[Int] = {
    require(maxHamming >= 0 && maxHamming <= 2, "maxHamming in 0..2")
    val h0 = Seq(sig)
    val h1 = if (maxHamming >= 1) (0 until planes).map(b => sig ^ (1 << b)) else Nil
    val h2 = if (maxHamming >= 2)
      for (a <- 0 until planes; b <- (a + 1) until planes)
        yield sig ^ (1 << a) ^ (1 << b)
    else Nil
    h0 ++ h1 ++ h2
  }

  /** Large-x-large approximate kNN JOIN: for EVERY row of `left`, the top-k
    * cosine neighbors from `right` — unlike [[bruteKnn]]/[[lshAnn]]/
    * [[ivfAnn]], whose query set is driver-collected, BOTH sides here are
    * distributed tables (the "embed the whole corpus, link every document
    * to its nearest neighbors" workload: semantic dedup candidates, retrieval
    * index construction, cluster seeding).
    *
    * Plan shape, built for 10^12 x 10^12:
    *   1. each side is signed with the same md5-derived hyperplanes as
    *      [[lshAnn]] in one narrow pass (no shuffle);
    *   2. the left side multiprobe-expands to its hamming<=`maxHamming`
    *      signature set (a fixed x(1+planes[+C(planes,2)]) fan-out of
    *      SMALL rows — id + sig + vector);
    *   3. ONE equi-join on the signature brings hamming-adjacent pairs
    *      together (sort-merge/shuffled-hash on an int key; a skewed
    *      signature is an AQE-splittable join key, never a window);
    *   4. candidates reduce per left id through the bounded
    *      [[topKNeighbors]] — partial aggregation keeps every map-side
    *      buffer at k entries, so the second shuffle carries at most k rows
    *      per left id per map task. Nothing in the plan materializes an unbounded
    *      group.
    *
    * Output: (vec_id, rank, neighbor_id), rank 1..k by (sim desc, id asc);
    * left rows with no hamming<=maxHamming candidate are absent (the
    * honest answer for an approximate index miss). Approximate overall;
    * recall is pinned in tests and the full output is hash-gated by the
    * q57 DuckDB oracle, which rebuilds the identical planes from the same
    * md5 calls.
    */
  def knnJoin(left: DataFrame, right: DataFrame, k: Int = 3, planes: Int = 10,
      maxHamming: Int = 2): DataFrame = {
    require(planes >= 1 && planes <= 31,
      "planes in 1..31 (the signature is an Int; 1 << p wraps past 31)")
    val spark = left.sparkSession
    import spark.implicits._
    // max over BOTH sides, not a first row: the planes must cover the
    // longest vector anywhere (a shorter vector uses a prefix of each
    // plane); an empty pair of inputs has an empty answer, not a crash
    val dimRow = left.select(max(size(col("embedding"))).as("d"))
      .unionAll(right.select(max(size(col("embedding"))).as("d")))
      .agg(max(col("d"))).first()
    if (dimRow.isNullAt(0))
      return Seq.empty[(Long, Int, Long)].toDF("vec_id", "rank", "neighbor_id")
    val dim = dimRow.getInt(0)
    val hB = spark.sparkContext.broadcast(Array.tabulate(planes, dim)(planeSign))

    val r = vectors(right, "knnJoin").as[(Long, Seq[Float])]
      .map { case (id, v) => (id, signature(hB.value, v), v) }
      .toDF("r_id", "sig", "r_vec")
    val l = vectors(left, "knnJoin").as[(Long, Seq[Float])]
      .flatMap { case (id, v) =>
        probeSigs(signature(hB.value, v), planes, maxHamming).map(p => (id, p, v))
      }.toDF("l_id", "sig", "l_vec")

    // each right signature equals AT MOST ONE probe of a given left row, so
    // the join emits every hamming<=maxHamming pair exactly once — no dedup.
    // Scoring via the codegen'd cosine_sim expression: pairs are ranked
    // without ever deserializing the vectors (bit-identical to cosine())
    topKNeighbors(l.join(r, Seq("sig"))
      .filter(col("l_id") =!= col("r_id"))
      .select(col("l_id").as("vec_id"),
        graft.spark.VectorFunctions.cosineSim(col("l_vec"), col("r_vec")).as("sim"),
        col("r_id").as("neighbor_id")), k)
  }
}
