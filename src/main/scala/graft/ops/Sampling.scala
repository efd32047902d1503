package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.GraftColumnBridge.collectTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Corpus sampling and sharding operators for training-data preparation.
  *
  * Both are deterministic functions of the data (no RNG, no
  * nondeterministic Spark state), so a run is exactly reproducible and
  * cross-engine oracle-checkable.
  */
object Sampling {

  /** The 32-bit md5-prefix hash every deterministic-membership operator in
    * this object keys on ([[stratifiedSample]], [[mixtureSample]],
    * [[assignSplits]], [[upsampleEpochs]]) — and the exact expression the
    * DuckDB oracles replay as `('0x' || substr(md5(x), 1, 8))::BIGINT`.
    * One definition so a change cannot skew one operator's oracle while
    * the others keep passing.
    */
  private[ops] def hash32(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 8), 16, 10).cast("long")

  /** Deterministic stratified Bernoulli sample: keep a row iff the first
    * 32 md5 bits of its id fall below `fraction(stratum) * 2^32`. Strata
    * not in the map get `defaultFraction`. Choosing exact-binary fractions
    * (0.5, 0.25, 0.125, ...) keeps the threshold integer-exact across
    * engines.
    *
    * Scale shape: a single codegen'd filter on the scan — no shuffle, no
    * sampling pass, no driver state; the per-stratum rate is a broadcast
    * map literal. Unlike `df.sample`, membership is a pure function of the
    * id, so re-runs (and incremental extensions of the corpus) keep the
    * same rows.
    */
  def stratifiedSample(df: DataFrame, fractions: Map[String, Double],
      strataCol: String = "lang", idCol: String = "doc_id",
      defaultFraction: Double = 0.0): DataFrame = {
    require(fractions.values.forall(f => f >= 0.0 && f <= 1.0) &&
      defaultFraction >= 0.0 && defaultFraction <= 1.0,
      "fractions must be in [0, 1]")
    val h32 = hash32(col(idCol))
    val frac = coalesce(
      element_at(typedLit(fractions), col(strataCol)), lit(defaultFraction))
    df.filter(h32 < (frac * lit(4294967296L)).cast("long"))
  }

  /** Domain-mixture rebalancing: downsample groups (languages, domains,
    * sources) so the OUTPUT matches a target mixture as closely as
    * downsampling-only allows. The achievable output size is
    * `N = min_g count_g / share_g` over the targeted groups — the binding
    * group keeps everything; group g keeps `rate_g = share_g * N / count_g`
    * of its rows. Groups absent from `targets` are dropped; a targeted
    * group absent from the corpus pins N to 0 (the mixture is unachievable
    * by downsampling — an empty result is the honest answer). Membership
    * uses the same deterministic md5-threshold rule as
    * [[stratifiedSample]], so re-runs and corpus extensions keep the same
    * rows.
    *
    * Scale shape: one column-pruned counting pass (groupBy on the group
    * column with map-side combine; its result — one row per group — is
    * collected to the driver deliberately: the mixture vector is
    * dashboard-sized by definition), then one codegen'd filter scan with
    * the per-group integer thresholds inlined as a map literal. No join,
    * no window, no per-row state.
    */
  def mixtureSample(df: DataFrame, targets: Map[String, Double],
      groupCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    require(targets.nonEmpty && targets.values.forall(_ > 0),
      "targets must be non-empty with positive weights")
    val total = targets.values.sum
    val shares = targets.map { case (g, w) => (g, w / total) }
    val counts = df.filter(col(groupCol).isin(targets.keys.toSeq: _*))
      .groupBy(groupCol).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val nOut = shares.map { case (g, s) => counts.getOrElse(g, 0L).toDouble / s }.min
    // integer thresholds computed once on the driver: floor is exact in
    // IEEE double on both engines, so an ANSI oracle reproduces membership
    val thresholds: Map[String, Long] = shares.map { case (g, s) =>
      val c = counts.getOrElse(g, 0L)
      val rate = if (c == 0) 0.0 else math.min(1.0, s * nOut / c)
      (g, math.floor(rate * 4294967296.0).toLong)
    }
    val h32 = hash32(col(idCol))
    val thr = element_at(typedLit(thresholds), col(groupCol))
    df.filter(thr.isNotNull && h32 < thr)
  }

  /** Leakage-safe deterministic train/val/test split assignment: every row
    * whose `coherenceCol` value matches lands in the SAME split, because
    * the split is a pure function of that value's md5 hash alone — the
    * standard guard against cross-split contamination from same-site
    * boilerplate and templated near-duplicates (split by document and a
    * mirror page trains on the eval set; split by domain and it cannot).
    * Splitting by document is the degenerate `coherenceCol = idCol` case —
    * exactly what [[graft.ops.Dedup.crossSplitLeakage]] audits.
    *
    * `splits` are ordered (name, share) pairs carving [0, 2^32) into
    * cumulative intervals; binary-exact shares (0.75/0.125/0.125) keep the
    * integer thresholds engine-exact so a SQL oracle replays the CASE
    * bit-for-bit. Shares must sum to 1; the last split absorbs the top of
    * the range, so no hash value is ever unassigned.
    *
    * Scale shape: one codegen'd CASE over an md5 prefix — map-only, zero
    * shuffle, no driver state; assignment survives re-runs AND corpus
    * extensions unchanged (a new document of a known domain joins that
    * domain's existing split).
    *
    * A NULL coherence value gets a NULL split — visible and filterable —
    * rather than silently riding the CASE's otherwise-branch into the last
    * (usually eval) split, which would inflate it with a correlated
    * unknown-domain subpopulation.
    */
  def assignSplits(df: DataFrame, splits: Seq[(String, Double)],
      coherenceCol: String = "source", splitCol: String = "split"): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 > 0.0),
      "need at least one split with a positive share")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-12,
      "split shares must sum to 1")
    val h32 = hash32(col(coherenceCol))
    val thresholds = splits.map(_._2).scanLeft(0.0)(_ + _).tail
      .map(c => math.round(c * 4294967296.0))
    // nested CASE, first matching interval wins; last split is the
    // `otherwise` so rounding at the top boundary cannot drop a row
    val assigned = splits.map(_._1).zip(thresholds).init.reverse
      .foldLeft(lit(splits.last._1): Column) {
        case (acc, (name, thr)) => when(h32 < lit(thr), lit(name)).otherwise(acc)
      }
    df.withColumn(splitCol,
      when(col(coherenceCol).isNull, lit(null: String)).otherwise(assigned))
  }

  /** Deterministic EXACT-size per-group sample: exactly `min(k, |group|)`
    * rows per group, the k smallest by `md5(id)` — a uniform pseudo-random
    * but reproducible pick ("give me 10k eval docs per language", seed-free
    * holdout carving). Complements [[stratifiedSample]] (rate-based, size
    * varies with the corpus) when the contract is a COUNT, not a rate.
    *
    * Scale shape: the naive idiom — `row_number() OVER (PARTITION BY g
    * ORDER BY md5(id)) <= k` — sorts the ENTIRE group on one task (a
    * half-the-corpus group is one task's sort). Here each group reduces
    * through a bounded `collectTopK` over (md5, id) instead: partial
    * aggregation caps every map-side buffer at k entries and the shuffle
    * carries at most k rows per group per map task. One shuffle total; no window, no sort.
    * k is assumed selection-sized (the buffer is O(k) PER GROUP PER TASK);
    * for rate-sized extraction use [[stratifiedSample]].
    *
    * Output: (idCol, groupCol) of the kept rows. A NULL id fails the
    * query: its NULL md5 would rank first in every group.
    */
  def exactKSample(df: DataFrame, k: Int, groupCol: String = "lang",
      idCol: String = "doc_id"): DataFrame = {
    val id = col(idCol).cast("long")
    df.select(col(groupCol).cast("string").as("g"), md5(col(idCol).cast("string")).as("h"),
        when(id.isNull, raise_error(lit(s"exactKSample: NULL $idCol"))).otherwise(id).as("id"))
      .groupBy("g").agg(collectTopK(struct(col("h"), col("id")), k).as("picked"))
      .select(explode(col("picked.id")).as(idCol), col("g").as(groupCol))
  }

  /** Epoch-weighted deterministic upsampling — the "wiki x3.5, web x1"
    * repetition step of a training mix: a row in group g with target
    * `epochs(g) = e` is emitted `floor(e)` times plus one more with
    * probability `frac(e)`, decided by the same md5-threshold rule as
    * [[stratifiedSample]] (so re-runs and corpus extensions repeat the
    * same rows). Groups absent from the map pass through at 1 epoch.
    * Output: every kept copy with an `epoch` index column (0-based) so a
    * training reader can tell repetitions apart. `epochs(g) < 1` is
    * fractional downsampling (a row may get 0 copies and vanish) —
    * [[mixtureSample]]'s semantics as a special case.
    *
    * Scale shape: one codegen'd projection + explode — no shuffle, no
    * join, no state; the integer parts and 2^32-scaled fractional
    * thresholds are driver-computed literals (floor is IEEE-exact on both
    * engines, so the oracle reproduces membership bit-for-bit).
    */
  def upsampleEpochs(df: DataFrame, epochs: Map[String, Double],
      groupCol: String = "lang", idCol: String = "doc_id"): DataFrame = {
    require(epochs.nonEmpty && epochs.values.forall(e => e >= 0 && e <= 100),
      "epochs must be non-empty, in [0, 100]")
    val intPart: Map[String, Int] = epochs.map { case (g, e) => (g, e.toInt) }
    val fracThr: Map[String, Long] = epochs.map { case (g, e) =>
      (g, math.floor((e - e.toInt) * 4294967296.0).toLong)
    }
    val h32 = hash32(col(idCol))
    val copies = coalesce(element_at(typedLit(intPart), col(groupCol)), lit(1)) +
      when(h32 < coalesce(element_at(typedLit(fracThr), col(groupCol)), lit(0L)),
        lit(1)).otherwise(lit(0))
    df.withColumn("_copies", copies)
      .withColumn("epoch", explode(
        when(col("_copies") > 0, sequence(lit(0), col("_copies") - 1))
          .otherwise(array().cast("array<int>"))))
      .drop("_copies")
  }

  /** Deterministic global training-order shuffle: every row's 0-based
    * position in md5(id) order — the "shuffle the corpus once, then read
    * sequentially" step before shard packing. Pure function of the ids:
    * re-runs give the same permutation, and it is uniform for any id
    * distribution because md5 is.
    *
    * Scale shape: the same distributed two-pass prefix rank as
    * [[packShards]] (whose scaladoc explains why a global window is NOT
    * the answer): range-partition on the hash, checkpoint the layout,
    * fold per-partition counts into exclusive offsets on the driver
    * (rows = partition count), then a local sort + running counter per
    * partition. No corpus-sized window, one range shuffle total.
    */
  def shuffleOrder(df: DataFrame, idCol: String = "doc_id"): DataFrame =
    exclusivePrefixSum(
      df.select(col(idCol), md5(col(idCol).cast("string")).as("_h"),
        lit(1L).as("_w")),
      sortCols = Seq("_h", idCol))
      .select(col(idCol), col("_off").as("pos"))

  /** Distributed exclusive prefix sum — the shared skeleton of
    * [[shuffleOrder]], [[packShards]] and [[packTokenBlocks]]. The input
    * must carry a non-negative LongType `_w` weight column; rows are laid
    * out in global `sortCols` order (range partition on the FULL sort
    * tuple, local sort on all of them — so a low-cardinality leading
    * column still spreads across partitions, the property
    * [[groupedRank]] depends on) and every row gains `_off` = the
    * sum of `_w` over all preceding rows. [[packShards]]'s scaladoc
    * explains each step: the eager localCheckpoint pins the SAMPLED range
    * bounds so both passes read one materialized layout (a lost block
    * recomputing with different bounds would silently corrupt offsets);
    * the driver folds exactly one row per partition; the running sum is
    * mapPartitions rather than a window because the checkpointed scan
    * reports UnknownPartitioning and `Window.partitionBy(_pid)` would
    * re-shuffle the corpus by a column that IS the partition id.
    * Output: the input columns in order, plus `_off`.
    */
  private def exclusivePrefixSum(df: DataFrame, sortCols: Seq[String]): DataFrame = {
    val base = df
      // range partition on the FULL sort tuple: with a single sort column
      // this is the original behavior; with a composite (e.g. a low-
      // cardinality group column leading a hash) it spreads each group
      // across many partitions while keeping the global concatenated
      // order consistent with the local sort below — the property
      // [[groupedRank]] needs so one skewed group never lands on one task
      .repartitionByRange(sortCols.map(col): _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    val sums = base.groupBy("_pid").agg(sum("_w").as("_s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val offsets: Map[Int, Long] = {
      var acc = 0L
      sums.map { case (pid, s) => val o = (pid, acc); acc += s; o }.toMap
    }
    val pidIdx = base.schema.fieldIndex("_pid")
    val wIdx = base.schema.fieldIndex("_w")
    val keep = base.schema.fields.zipWithIndex.filter(_._1.name != "_pid")
    val keepIdx = keep.map(_._2)
    val outSchema = StructType(
      keep.map(_._1).toSeq :+ StructField("_off", LongType, nullable = false))
    base.sortWithinPartitions(sortCols.map(col): _*)
      .mapPartitions { it =>
        var acc = 0L
        var seeded = false
        it.map { row =>
          if (!seeded) { acc = offsets(row.getInt(pidIdx)); seeded = true }
          val vals = new Array[Any](keepIdx.length + 1)
          var i = 0
          while (i < keepIdx.length) { vals(i) = row.get(keepIdx(i)); i += 1 }
          vals(keepIdx.length) = acc
          acc += row.getLong(wIdx)
          Row.fromSeq(scala.collection.immutable.ArraySeq.unsafeWrapArray(vals))
        }
      }(Encoders.row(outSchema))
  }

  /** Pack documents into contiguous training shards of ~`budget` total
    * weight (tokens, chars, bytes): in global `idCol` order, a document's
    * shard is `floor(exclusive-prefix-sum(weight) / budget)` — the standard
    * greedy concatenation rule (a document may straddle a boundary; the
    * packer's job is contiguity and balance, not exact bins).
    *
    * A naive global window (`Window.orderBy(id)`) collapses the corpus
    * into ONE task. Instead the prefix sum is distributed the classic way:
    *   1. range-partition by id and stamp the partition ordinal, then
    *      eagerly localCheckpoint — range bounds are SAMPLED per-execution,
    *      so both passes must read the same materialized layout; the
    *      checkpoint truncates lineage, turning a lost block into a loud
    *      job failure instead of a silent recompute with different bounds
    *      (which would corrupt the offsets),
    *   2. one tiny job aggregates per-partition weight sums (rows =
    *      partition count) and the driver folds them into exclusive
    *      partition offsets,
    *   3. a local in-partition sort (no Exchange — the checkpoint already
    *      holds the range layout) and a per-partition running sum seeded
    *      from the offset of the row's stamped ordinal.
    * Step 3 is mapPartitions rather than a window: the checkpointed scan
    * reports UnknownPartitioning, so `Window.partitionBy(_pid)` would force
    * Catalyst to re-shuffle the whole corpus by a column that IS the
    * partition id — a full redundant Exchange at 100-TB scale. The running
    * sum is genuine per-partition sequential state, the documented case for
    * dropping below the declarative API. Weights are sizes (non-negative);
    * output rows are 3 integers per doc.
    */
  def packShards(df: DataFrame, budget: Long, idCol: String = "doc_id",
      weightCol: String = "n_chars"): DataFrame = {
    require(budget > 0, "budget must be positive")
    exclusivePrefixSum(
      df.select(col(idCol), col(weightCol).cast("long").as("_w")),
      sortCols = Seq(idCol))
      .select(col(idCol), col("_w").as(weightCol),
        // integer `div` (not /): float division would round at 2^53
        expr(s"_off div ${budget}L").as("shard_id"))
  }

  /** THE token-stream offset table: one row per non-empty document with its
    * whitespace-token count `_w` and the exclusive prefix sum `_off` of all
    * preceding documents' counts in md5(id) stream order. Both
    * [[packTokenBlocks]] (the assignment map) and [[materializeBlocks]]
    * (the block text) derive their block boundaries from THIS table — one
    * definition, because the two outputs only correspond if the stream
    * order, the tokenizer, and the empty-doc filter are identical.
    */
  private def docOffsets(df: DataFrame, textCol: String, idCol: String): DataFrame =
    exclusivePrefixSum(
      df.select(col(idCol), md5(col(idCol).cast("string")).as("_h"),
        size(TextAnalysis.words(col(textCol))).cast("long").as("_w"))
        .filter(col("_w") > 0),
      sortCols = Seq("_h", idCol))

  /** GPT-style fixed-size token-block packing WITH document splitting —
    * the other standard pre-training batching scheme (vs [[packShards]]'s
    * whole-document greedy sharding): the corpus's token stream is laid
    * out in a deterministic shuffled order (md5 of the id, the
    * [[shuffleOrder]] key) and cut into exact `blockSize`-token blocks;
    * a document straddling a boundary is SPLIT, contributing a piece to
    * each block it overlaps. The output is the assignment map — one row
    * per (document, block) piece with the piece's position inside the
    * block and inside the document — integers only, so a cross-engine
    * oracle hash-compares exactly; materializing block text is a join of
    * this map against the token stream.
    *
    * Scale shape: the global token offset is the same distributed
    * exclusive prefix sum as [[packShards]] (range partition on the hash
    * key + eager localCheckpoint pinning the sampled range bounds + one
    * partition-count-sized driver fold + a seeded per-partition running
    * sum — never a global one-task window). The piece expansion is then a
    * pure codegen'd projection + explode: a document of n tokens emits at
    * most n/blockSize + 1 rows. No global sort, no driver state beyond
    * one row per partition.
    *
    * Output: (doc_id, block_id, start_in_block, doc_offset,
    * n_tokens_in_block); empty docs emit nothing.
    */
  def packTokenBlocks(df: DataFrame, blockSize: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    val withOff = docOffsets(df, textCol, idCol)
    // integer `div` keeps the block arithmetic exact on longs (float
    // division would round at 2^53 — real at trillion-token scale)
    val b = lit(blockSize.toLong)
    withOff
      .select(col(idCol).as("doc_id"), col("_w"), col("_off"),
        explode(sequence(expr(s"_off div ${blockSize}L"),
          expr(s"(_off + _w - 1) div ${blockSize}L"))).as("block_id"))
      .select(col("doc_id"), col("block_id"),
        (greatest(col("_off"), col("block_id") * b) - col("block_id") * b)
          .as("start_in_block"),
        (greatest(col("_off"), col("block_id") * b) - col("_off"))
          .as("doc_offset"),
        (least(col("_off") + col("_w"), (col("block_id") + 1) * b)
          - greatest(col("_off"), col("block_id") * b)).as("n_tokens_in_block"))
  }

  /** Materialize the actual training blocks from [[packTokenBlocks]]'s
    * assignment map: each block's token stream re-assembled in order
    * across the documents that contribute to it. This is the terminal
    * artifact a trainer reads — fixed `blockSize`-token sequences (the
    * last block possibly partial), with the contributing-document count
    * riding along for provenance.
    *
    * Scale shape: one posexplode of the corpus token stream + ONE
    * equi-join on doc_id against the ONE-ROW-PER-DOC global-offset table
    * (the same prefix sum [[packTokenBlocks]] uses) — each token meets
    * exactly one offset row, so join volume is O(corpus tokens), never
    * tokens × pieces (joining the piece map instead would make a 1M-token
    * doc enumerate ~tokens²/blockSize pairs in one sort-merge task before
    * the range filter — a straggler at trillion-token scale). The token's
    * block and in-block position are then pure arithmetic on the global
    * position: `g = _off + p`, `block_id = g div B`, `bp = g mod B` —
    * identical to the piece-map algebra (`start_in_block + p - doc_offset`
    * telescopes to `g - block_id*B`). Then ONE groupBy(block_id) whose
    * `collect_list` buffer is bounded by `blockSize` BY CONSTRUCTION —
    * block-sized state, never doc- or corpus-sized. No windows beyond the
    * prefix sum.
    *
    * Output: (block_id, block_text, n_docs, n_tokens).
    */
  def materializeBlocks(df: DataFrame, blockSize: Int,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(blockSize > 0, "blockSize must be positive")
    val ws = TextAnalysis.words(col(textCol))
    val offs = docOffsets(df, textCol, idCol)
      .select(col(idCol).as("doc_id"), col("_off"))
    val toks = df.select(col(idCol).as("doc_id"), posexplode(ws).as(Seq("p", "tok")))
    val b = lit(blockSize.toLong)
    toks.join(offs, Seq("doc_id"))
      .withColumn("g", col("_off") + col("p").cast("long"))
      .select(expr(s"g div ${blockSize}L").as("block_id"),
        (col("g") % b).as("bp"), col("tok"), col("doc_id"))
      .groupBy("block_id")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("bp"), col("tok")))),
          x => x("tok"))).as("block_text"),
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_tokens"))
  }

  /** Fixed-token-window chunking with overlap — the training-example
    * derivation step: each document's word stream is cut into windows of
    * `chunkSize` tokens starting every `stride` tokens (stride < chunkSize
    * gives the usual overlapping context windows), producing one training
    * example per window. Window starts are 0, stride, 2*stride, ...; the
    * last window begins at the smallest multiple of `stride` from which the
    * remaining words fit in one window (so every token lands in at least
    * one chunk and no fully-empty chunk is emitted). Empty docs emit
    * nothing. Deterministic function of the text — re-runs and corpus
    * extensions reproduce identical chunks.
    *
    * Scale shape: pure column expressions — one codegen'd projection
    * builds the per-doc chunk array (transform over a sequence of starts,
    * slice + concat_ws per chunk), one posexplode emits the rows. No
    * shuffle, no window function, no driver state; per-doc cost is
    * O(len * chunks-per-token-overlap), and output cardinality is
    * corpus_tokens / stride — the expected blow-up of overlapped chunking,
    * produced streaming-fashion, never buffered per task.
    *
    * Output: (doc_id, chunk_id, chunk_text, n_chunk_tokens).
    */
  def chunkDocs(df: DataFrame, chunkSize: Int = 64, stride: Int = 48,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(chunkSize > 0 && stride > 0 && stride <= chunkSize,
      "need 0 < stride <= chunkSize")
    val ws = TextAnalysis.words(col(textCol))
    val nw = size(col("w"))
    // number of windows: 1 + ceil(max(nw - chunkSize, 0) / stride)
    val k = (floor((greatest(nw - chunkSize, lit(0)) + lit(stride - 1))
      / lit(stride)) + 1).cast("int")
    df.select(col(idCol).as("doc_id"), ws.as("w"))
      .filter(nw > 0)
      .select(col("doc_id"), col("w"),
        posexplode(transform(sequence(lit(0), k - 1),
          i => concat_ws(" ", slice(col("w"), i * stride + 1, lit(chunkSize)))))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id"), col("chunk_id"), col("chunk_text"),
        least(lit(chunkSize), nw - col("chunk_id") * stride).as("n_chunk_tokens"))
  }

  /** 0-based rank of every row WITHIN its group, rows ordered by
    * md5(id) — the grouped form of [[shuffleOrder]], and the primitive a
    * window `row_number() OVER (PARTITION BY group ORDER BY hash)` states
    * declaratively but executes as one task per group: with a handful of
    * groups over a 10^12-doc corpus (the length-bucket case) that window
    * collapses the whole corpus onto ~5 tasks. Here instead:
    *   1. the [[exclusivePrefixSum]] layout range-partitions on the FULL
    *      (group, hash) tuple, so each group spans many partitions and the
    *      global `_off` is a rank consistent with (group, hash, id) order,
    *   2. one bounded aggregation (one row PER GROUP, map-side combined
    *      over the already-checkpointed layout) finds each group's first
    *      global rank,
    *   3. a broadcast join subtracts it: rank-in-group = _off - base.
    * No task ever holds more than its range slice; group skew is spread by
    * the hash inside the range key.
    *
    * Input must carry `groupCol` and a unique `idCol`; every input column
    * rides through. Output: the input columns plus `_grank` (0-based
    * within-group rank in md5(id) order).
    */
  private[ops] def groupedRank(df: DataFrame, groupCol: String,
      idCol: String): DataFrame = {
    val ranked = exclusivePrefixSum(
      df.withColumn("_h", md5(col(idCol).cast("string")))
        .withColumn("_w", lit(1L)),
      sortCols = Seq(groupCol, "_h", idCol))
    val bases = ranked.groupBy(groupCol).agg(min("_off").as("_base"))
    ranked.join(broadcast(bases), Seq(groupCol))
      .withColumn("_grank", col("_off") - col("_base"))
      .drop("_h", "_w", "_off", "_base")
  }

  /** Length-bucketed batch packing — the padding-efficient batching scheme
    * for models that pad to the longest sequence in a batch (encoder /
    * fine-tune style), complementing [[packTokenBlocks]]'s concatenation
    * scheme: documents are bucketed by token-length boundaries, laid out
    * in deterministic md5(id) order WITHIN each bucket, and cut into
    * fixed-`batchDocs` batches, so every batch holds same-scale documents
    * and the padding waste (`max(len in batch) - len`) stays small.
    * Deterministic end to end — re-runs reproduce the same batches.
    *
    * Scale shape: one codegen'd CASE assigns the bucket (map-only); the
    * within-bucket rank is [[groupedRank]] (distributed — NEVER a
    * per-bucket window, which would put an entire bucket on one task);
    * the final padding column is a genuine window but partitioned by
    * (bucket, batch_id), whose partitions are <= `batchDocs` rows BY
    * CONSTRUCTION — bounded state regardless of corpus size or skew.
    *
    * Output: (doc_id, len_tokens, bucket, batch_id, pad_tokens).
    */
  def bucketBatches(df: DataFrame, batchDocs: Int = 8,
      boundaries: Seq[Int] = Seq(16, 32, 64, 128),
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(batchDocs > 0, "batchDocs must be positive")
    require(boundaries.nonEmpty && boundaries == boundaries.sorted,
      "boundaries must be ascending")
    val len = coalesce(
      size(TextAnalysis.words(col(textCol))).cast("long"), lit(0L))
    val bucket = boundaries.zipWithIndex
      .foldRight(lit(boundaries.length): Column) { case ((b, i), els) =>
        when(col("len_tokens") <= b, lit(i)).otherwise(els)
      }
    val bucketed = df
      .select(col(idCol).as("doc_id"), len.as("len_tokens"))
      .withColumn("bucket", bucket)
    val w = Window.partitionBy("bucket", "batch_id")
    groupedRank(bucketed, "bucket", "doc_id")
      .withColumn("batch_id", expr(s"_grank div ${batchDocs}L"))
      .select(col("doc_id"), col("len_tokens"), col("bucket"), col("batch_id"),
        (max("len_tokens").over(w) - col("len_tokens")).as("pad_tokens"))
  }

  /** Release manifest for a [[packShards]] layout: one row per shard with
    * its document count, total weight, id range, and an order-independent
    * content checksum — the artifact a training run pins so "did the data
    * change under me?" is a manifest diff, not a re-read of 100 TB. The
    * checksum XORs the 32-bit md5-prefix hash of `id:md5(text)` over the
    * shard's documents: XOR commutes, so any partitioning computes the
    * same value, and binding the id to the content hash makes both a
    * content change and a document swap between shards visible (a pure
    * content XOR would cancel identical docs moved in pairs).
    *
    * Scale shape: the shard assignment is [[packShards]]'s distributed
    * prefix sum; the manifest itself is ONE groupBy(shard_id) with
    * map-side partial aggregation — every aggregate (count, sum, min,
    * max, bit_xor) is constant-size per shard, and output cardinality is
    * corpus_weight / budget rows.
    *
    * Output: (shard_id, n_docs, total_chars, min_doc_id, max_doc_id,
    * checksum).
    */
  def shardManifest(df: DataFrame, budget: Long,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    // NULL text weighs 0 (the prefix-sum contract requires non-null _w;
    // the oracle's SUM skips NULLs the same way) and contributes no
    // checksum term (bit_xor skips the NULL _h32 in both engines)
    val weighted = df.select(col(idCol),
      coalesce(length(col(textCol)).cast("long"), lit(0L)).as("_w"),
      hash32(concat(col(idCol).cast("string"), lit(":"), md5(col(textCol))))
        .as("_h32"))
    exclusivePrefixSum(weighted, sortCols = Seq(idCol))
      .select(col(idCol), col("_h32"), col("_w"),
        expr(s"_off div ${budget}L").as("shard_id"))
      .groupBy("shard_id")
      .agg(count(lit(1)).as("n_docs"), sum("_w").as("total_chars"),
        min(col(idCol)).as("min_doc_id"), max(col(idCol)).as("max_doc_id"),
        expr("bit_xor(_h32)").as("checksum"))
  }
}
