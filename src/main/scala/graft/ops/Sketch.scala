package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Deterministic cardinality sketches for corpus accounting at 100-TB
  * scale, where an exact `COUNT(DISTINCT shingle)` is a corpus-wide
  * shuffle of every distinct value and a sketch is one pass with a
  * k-bounded buffer per task.
  *
  * The sketch is KMV (k minimum values, Bar-Yossef et al. 2002 / the
  * theta-sketch family): keep the k smallest DISTINCT 32-bit hash values;
  * the k-th smallest value h_k estimates the distinct count as
  * `(k-1) * 2^32 / h_k`. Everything here is INTEGER arithmetic on the
  * md5-prefix hash the sampling operators already key on
  * ([[Sampling.hash32]] — same spelling, same DuckDB mirror), so a
  * cross-engine oracle can replay the sketch EXACTLY: same hashes, same
  * k-smallest set, same integer division — hash-gateable, unlike
  * HyperLogLog whose estimator is float-rounding-sensitive.
  *
  * Scale shape: one scan, map-side partial aggregation with buffers
  * bounded at k entries BY CONSTRUCTION (the same argument as
  * `GraftColumnBridge.collectTopK`, plus distinctness inside the buffer),
  * a one-row result.
  * The union/intersection estimate combines two one-row sketches — O(k)
  * driver-free column work, no second corpus pass.
  */
object Sketch {

  private val TwoPow32 = 4294967296L

  /** Bounded k-minimum-DISTINCT-values typed [[Aggregator]]: the buffer is
    * a sorted Seq of at most k distinct longs. Spark's bounded top-k
    * (`GraftColumnBridge.collectTopK`) cannot stand in: it keeps
    * duplicates, and KMV's estimator is defined on the set of distinct
    * hash values, so a value seen a billion times must occupy (at most)
    * one slot.
    */
  class KMinDistinctAgg(k: Int)(implicit enc: Encoder[Seq[Long]])
      extends Aggregator[Long, Seq[Long], Seq[Long]] {
    require(k > 0, "k must be positive")
    def zero: Seq[Long] = Vector.empty

    def reduce(b: Seq[Long], a: Long): Seq[Long] =
      if (b.length >= k && b.last <= a) b // saturated fast path: O(1)
      else {
        val (lt, ge) = b.span(_ < a)
        if (ge.nonEmpty && ge.head == a) b // already present
        else ((lt :+ a) ++ ge).take(k)
      }

    def merge(a: Seq[Long], b: Seq[Long]): Seq[Long] =
      mergeDistinct(a, b, k)

    def finish(r: Seq[Long]): Seq[Long] = r
    def bufferEncoder: Encoder[Seq[Long]] = enc
    def outputEncoder: Encoder[Seq[Long]] = enc
  }

  /** sorted-distinct merge of two sorted-distinct seqs, truncated at k */
  private[ops] def mergeDistinct(a: Seq[Long], b: Seq[Long], k: Int): Seq[Long] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    var (i, j) = (0, 0)
    while (out.length < k && (i < a.length || j < b.length)) {
      if (j >= b.length || (i < a.length && a(i) <= b(j))) {
        if (out.isEmpty || out.last != a(i)) out += a(i)
        i += 1
      } else {
        if (out.isEmpty || out.last != b(j)) out += b(j)
        j += 1
      }
    }
    out.toVector
  }

  /** KMV estimate from a sorted-distinct sketch: exact when the sketch
    * holds the whole hash set (n_kept < k), `(k-1) * 2^32 / h_k` (integer
    * division) when saturated.
    */
  private[ops] def estimate(sketch: Seq[Long], k: Int): Long =
    if (sketch.length < k) sketch.length.toLong
    else (k - 1).toLong * TwoPow32 / sketch.last

  /** ONE spelling of the value→hash projection, shared by every sketch
    * entry point so the q98/q99/q104 oracle mirrors cannot drift apart.
    * NULL values are excluded (SQL COUNT(DISTINCT) semantics).
    */
  private def hashCol(valueCol: Column): Column =
    Sampling.hash32(valueCol).as("h")

  /** One-row sorted-distinct `sketch` array over a frame of `h` hash rows.
    * The KMV estimator is undefined at k=1 (numerator k-1 = 0), hence the
    * k >= 2 floor on every entry point.
    */
  private def sketchOfHashes(hashRows: DataFrame, k: Int): DataFrame = {
    require(k >= 2, "KMV estimator is defined for k >= 2")
    val spark = hashRows.sparkSession
    import spark.implicits._
    // typed select (the untyped overload rejects a TypedColumn at runtime)
    hashRows.filter(col("h").isNotNull).as[Long]
      .select(new KMinDistinctAgg(k).toColumn).toDF("sketch")
  }

  /** Finish a one-row sketch frame into the public triple
    * `(n_kept, kth_hash, est_distinct)`; `kth_hash` is -1 when the value
    * universe is smaller than k (the estimate is then EXACT — it is the
    * universe size).
    */
  private def finishSketch(skDf: DataFrame, k: Int): DataFrame = {
    val spark = skDf.sparkSession
    import spark.implicits._
    skDf.select(col("sketch")).as[Seq[Long]]
      .map { sk =>
        (sk.length.toLong, if (sk.length < k) -1L else sk.last, estimate(sk, k))
      }.toDF("n_kept", "kth_hash", "est_distinct")
  }

  /** The raw one-row sketch of `valueCol` (`sketch: array<long>`) — the
    * PERSISTABLE form: sketches of disjoint (or overlapping) corpus slices
    * written as rows of this shape merge losslessly via [[kmvMerge]], so a
    * standing store of per-batch sketch rows IS a running distinct count
    * ([[graft.streaming.StreamingSketch]] builds on exactly this).
    */
  def kmvSketch(df: DataFrame, valueCol: Column, k: Int): DataFrame =
    sketchOfHashes(df.select(hashCol(valueCol)), k)

  /** One-row KMV distinct-count estimate of `valueCol`:
    * `(n_kept, kth_hash, est_distinct)`.
    */
  def kmvDistinct(df: DataFrame, valueCol: Column, k: Int): DataFrame =
    finishSketch(kmvSketch(df, valueCol, k), k)

  /** Incremental form: merge a standing store of sketch rows (any number
    * of rows of [[kmvSketch]] shape — per-batch sketches, per-shard
    * sketches) with a NEW batch of raw values, and return the merged
    * `(n_kept, kth_hash, est_distinct)` over everything the store has seen
    * plus the batch. Correct because each stored row kept the k smallest
    * distinct hashes of its slice: the k smallest of (∪ sketches ∪ batch
    * hashes) equal the k smallest of the underlying union.
    *
    * Scale shape: the store contributes |store rows| × k hash rows (tiny),
    * the batch one scan; ONE bounded aggregation over both — per-ingest
    * cost grows with the batch, never with a re-scan of the corpus.
    */
  def kmvMerge(storeSketches: DataFrame, batch: DataFrame, valueCol: Column,
      k: Int): DataFrame = {
    val storeH = storeSketches.select(explode(col("sketch")).as("h"))
    val batchH = batch.select(hashCol(valueCol))
    finishSketch(sketchOfHashes(storeH.unionByName(batchH), k), k)
  }

  /** KMV set-operation estimates between two corpora (the release-diff
    * question "how much does snapshot B overlap snapshot A?" asked at a
    * scale where the exact answer is a join of everything): builds both
    * sketches, combines the two k-bounded arrays, and returns one row
    * `(n_union_kept, union_kth_hash, est_union, rho, est_intersection)`.
    *
    * The union sketch (k smallest of sketchA ∪ sketchB) is a valid KMV
    * sketch of A ∪ B because each side kept the k smallest of its own
    * universe. `rho` counts union-sketch members present in BOTH side
    * sketches; `est_intersection = rho * est_union / |union sketch|`
    * (integer division) — the standard KMV Jaccard estimator, exact when
    * both universes fit under k.
    */
  def kmvOverlap(dfA: DataFrame, dfB: DataFrame, valueCol: Column, k: Int): DataFrame = {
    val spark = dfA.sparkSession
    import spark.implicits._
    // two one-row frames; the cross join is 1x1 (no skew, no data motion
    // beyond the two k-length arrays)
    val joined = kmvSketch(dfA, valueCol, k).withColumnRenamed("sketch", "ska")
      .crossJoin(kmvSketch(dfB, valueCol, k).withColumnRenamed("sketch", "skb"))
      .as[(Seq[Long], Seq[Long])]
    joined.map { case (ska, skb) =>
      val un = mergeDistinct(ska, skb, k)
      val (sa, sb) = (ska.toSet, skb.toSet)
      val rho = un.count(h => sa.contains(h) && sb.contains(h)).toLong
      val estU = estimate(un, k)
      val estI = if (un.isEmpty) 0L else rho * estU / un.length
      (un.length.toLong, if (un.length < k) -1L else un.last, estU, rho, estI)
    }.toDF("n_union_kept", "union_kth_hash", "est_union", "rho", "est_intersection")
  }

  // --------------------------------------------------------------- count-min

  /** Count-min sketch over a token stream (Cormode & Muthukrishnan 2005):
    * `depth` independent hash rows of `width` counters each; the
    * frequency estimate for a term is the MIN over rows of its counter —
    * an overestimate by construction (collisions only ever ADD), with
    * error bounded by collisions' share of the total mass. The sketch is
    * the table `(seed, bucket, cnt)` with at most depth x width rows.
    *
    * Determinism: bucket = hash32(seed ':' tok) mod width — the same
    * md5-prefix hash every sampling/KMV operator keys on, so a
    * cross-engine oracle replays the sketch exactly. Mergeability:
    * sketches of disjoint corpus slices sum cell-wise (counters are pure
    * sums) — the property that makes this the scale answer to term
    * accounting, where exact per-term counts are a corpus-wide shuffle
    * of every distinct term and this is ONE aggregation bounded at
    * depth x width output rows.
    *
    * Scale shape: one scan, tokens exploded and replicated `depth` ways
    * (a broadcast-nested-loop against a depth-row literal — no shuffle),
    * then ONE groupBy(seed, bucket) whose map-side partials bound every
    * task's buffer at depth x width cells BY CONSTRUCTION.
    */
  def cmsBuild(docs: DataFrame, width: Int = 64, depth: Int = 4,
      textCol: String = "text"): DataFrame = {
    require(width > 0 && depth > 0, "width and depth must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    val seeds = broadcast((0 until depth).toDF("seed"))
    docs.select(explode(TextAnalysis.words(col(textCol))).as("tok"))
      .crossJoin(seeds)
      .select(col("seed"), cmsBucket(col("seed"), col("tok"), width).as("bucket"))
      .groupBy("seed", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Sum-merge [[cmsBuild]] sketches built with the SAME (width, depth)
    * over corpus slices — the tree-reduce step of sketching 100 TB
    * shard-by-shard. EXACT, not approximate-on-approximate: count-min is
    * a linear sketch (every cell is a pure sum), so the merged table
    * equals `cmsBuild` over the concatenated slices bit-for-bit — which
    * is what the q118 oracle states. Unlike [[IndexBuild.mergeShards]]
    * there is no disjointness hazard to guard: overlapping slices simply
    * count their overlap twice, the linear-sum definition. ONE
    * map-side-combined aggregation bounded at depth x width output rows.
    */
  def cmsMerge(sketches: Seq[DataFrame]): DataFrame = {
    require(sketches.nonEmpty, "cmsMerge needs at least one sketch")
    sketches.reduce(_ unionByName _)
      .groupBy("seed", "bucket").agg(sum("cnt").as("cnt"))
  }

  /** Sum-merge [[logHistogram]]s of corpus slices — same linearity
    * argument as [[cmsMerge]] on the quantile sketch: merged histogram ==
    * the histogram of the concatenated slices exactly (q119), so
    * [[histQuantiles]] over shard-merged histograms answers corpus
    * percentiles without any corpus-wide pass. Output bounded by the
    * value DOMAIN (~250 rows for 64-bit), never the corpus.
    */
  def histMerge(hists: Seq[DataFrame]): DataFrame = {
    require(hists.nonEmpty, "histMerge needs at least one histogram")
    hists.reduce(_ unionByName _)
      .groupBy("bucket").agg(sum("cnt").as("cnt"))
  }

  /** the ONE spelling of the count-min cell hash, shared with
    * [[cmsEstimate]] (and mirrored by the q109 oracle): md5-prefix hash
    * of "seed:token", mod width
    */
  private def cmsBucket(seed: Column, tok: Column, width: Int): Column =
    pmod(Sampling.hash32(concat(seed.cast("string"), lit(":"), tok)), lit(width.toLong))

  /** Point-estimate term frequencies from a count-min sketch: for each
    * probe term, look up its cell in every row and take the MIN; a cell
    * with no sketch entry is an exact zero. `est_cnt >= true count`
    * always (pinned by a property test).
    *
    * Scale shape: the sketch is at most depth x width rows — broadcast;
    * probes replicate `depth` ways, ONE broadcast left join, ONE
    * groupBy(term) of a min — no corpus access at all. This is the
    * read path that makes the sketch useful: term-frequency dashboards
    * over 100 TB answered from kilobytes.
    */
  def cmsEstimate(sketch: DataFrame, terms: DataFrame, width: Int = 64,
      depth: Int = 4, termCol: String = "tok"): DataFrame = {
    require(width > 0 && depth > 0, "width and depth must be positive")
    val spark = sketch.sparkSession
    import spark.implicits._
    val seeds = broadcast((0 until depth).toDF("seed"))
    terms.select(col(termCol).as("tok")).crossJoin(seeds)
      .withColumn("bucket", cmsBucket(col("seed"), col("tok"), width))
      .join(broadcast(sketch), Seq("seed", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("est_cnt"))
  }

  // ------------------------------------------------------- log-histogram

  /** Sub-bucketed log2 histogram bucket of a non-negative value — the
    * mergeable quantile sketch's binning rule. v maps through v+1 (so 0
    * is representable); l = floorLog2(v+1); values with l < 2 are exact
    * (buckets 1..3); otherwise bucket = l*4 + (the 2 bits below the
    * leading bit), giving 4 sub-buckets per octave and <= 25% relative
    * width per bucket. All bit-length/shift/mask arithmetic — a
    * cross-engine oracle replays it via `len(bin(x)) - 1` and `>>`/`&`.
    * The v -> v+1 map saturates at Long.MaxValue (ANSI mode would throw
    * on the +1 otherwise), so the single topmost value shares the top
    * bucket with MaxValue-1 — consistent with [[bucketBounds]]'s
    * saturated top-octave ranges.
    */
  private[ops] def logBucket(v: Column): Column = {
    val x = when(v === Long.MaxValue, lit(Long.MaxValue)).otherwise(v + lit(1L))
    val l = (length(bin(x)) - 1).cast("long")
    // call_function: the Scala shiftright/shiftleft wrappers only take a
    // literal Int shift; the SQL functions take a column
    when(l < 2, x).otherwise(
      l * 4 + call_function("shiftright", x, (l - 2).cast("int"))
        .bitwiseAND(lit(3L)))
  }

  /** inclusive [lo, hi] value range (in v-space) covered by a
    * [[logBucket]] id — the deterministic "estimate" a quantile read
    * reports. Bounds SATURATE at Long.MaxValue in the top octaves
    * (l >= 61, values >= ~2^62): there `(sub+5) << sh` would wrap
    * negative, so any bound whose shift would overflow reports
    * Long.MaxValue instead — the full 64-bit non-negative domain is
    * supported, with (at most) the top bucket's bound widened by one.
    */
  private[ops] def bucketBounds(b: Column): (Column, Column) = {
    val l = (b / 4).cast("long") // b >= 0: double-div + truncate == floor
    val sub = pmod(b, lit(4L))
    val sh = (l - 2).cast("int")
    // largest base that shifts without overflow: base <= MaxValue >> sh
    val maxSafe = call_function("shiftright", lit(Long.MaxValue), sh)
    val lo = when(b < 8, b - 1).otherwise(
      when(sub + 4 > maxSafe, lit(Long.MaxValue))
        .otherwise(call_function("shiftleft", sub + 4, sh) - 1))
    val hi = when(b < 8, b - 1).otherwise(
      when(sub + 5 > maxSafe, lit(Long.MaxValue))
        .otherwise(call_function("shiftleft", sub + 5, sh) - 2))
    (lo, hi)
  }

  /** Mergeable log-bucket histogram over a non-negative integer column:
    * `(bucket, cnt)` rows, at most 4 per octave of the value range (a
    * 64-bit domain fits in ~250 rows). Histograms of corpus slices merge
    * by summing counts per bucket — the property exact percentiles lack
    * (q72's exact path is a corpus-wide sort; this is ONE
    * map-side-combined aggregation whose output is bounded by the value
    * DOMAIN, not the corpus).
    */
  def logHistogram(df: DataFrame, valueCol: Column): DataFrame =
    df.select(logBucket(valueCol.cast("long")).as("bucket"))
      .filter(col("bucket").isNotNull)
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))

  /** Percentile reads from a [[logHistogram]]: for each integer
    * percentile p, rank = ceil(p * N / 100) (integer arithmetic — all
    * operands non-negative, so both engines' divisions agree), the
    * answering bucket is the first whose running count reaches the rank,
    * and the report is that bucket's [lo_est, hi_est] value range
    * (true percentile guaranteed inside; width <= 25% of magnitude).
    *
    * Scale shape: the histogram is domain-bounded (~250 rows max for a
    * 64-bit domain), so it is COLLECTED and the rank walk runs driver-side
    * — the ivfAnn/unigramSurprisal bounded-model pattern. The corpus is
    * touched exactly ONCE (the aggregation that built the histogram);
    * the lazy-DataFrame alternative re-executed that aggregation per
    * derived subtree (running count, total, bounds — three corpus scans).
    * All arithmetic is the same integer bit-math as [[bucketBounds]], so
    * a cross-engine oracle replays it exactly.
    */
  def histQuantiles(hist: DataFrame, ps: Seq[Int]): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 1 && p <= 100),
      "percentiles must be in [1, 100]")
    val spark = hist.sparkSession
    import spark.implicits._
    val cells = hist.select(col("bucket").cast("long"), col("cnt").cast("long"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = cells.iterator.map(_._2).sum
    val cum = cells.scanLeft(0L)(_ + _._2).tail
    // same saturation rule as [[bucketBounds]]: a shift that would wrap
    // past Long.MaxValue reports Long.MaxValue (top octaves, l >= 61)
    def bounds(b: Long): (Long, Long) =
      if (b < 8) (b - 1, b - 1)
      else {
        val sh = (b / 4 - 2).toInt
        val maxSafe = Long.MaxValue >> sh
        def sat(base: Long, off: Long): Long =
          if (base > maxSafe) Long.MaxValue else (base << sh) - off
        (sat((b % 4) + 4, 1), sat((b % 4) + 5, 2))
      }
    val rows = ps.distinct.sorted.map { p =>
      val rank = (p.toLong * n + 99) / 100
      val idx = cum.indexWhere(_ >= rank)
      if (idx < 0) (p, rank, None: Option[Long], None: Option[Long], None: Option[Long])
      else {
        val b = cells(idx)._1
        val (lo, hi) = bounds(b)
        (p, rank, Some(b), Some(lo), Some(hi))
      }
    }
    rows.toDF("p", "rank", "bucket", "lo_est", "hi_est")
  }
}
