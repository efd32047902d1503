package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftColumnBridge.collectTopK
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Inverted-index shard construction: term -> (document frequency, total
  * term frequency, delta-encoded posting list) — the retrieval-side
  * artifact a corpus pipeline emits next to the training shards (BM25
  * retrieval over the corpus, dedup forensics, quality auditing).
  *
  * Scale shape: ONE `groupBy(term, doc_id)` with map-side partials computes
  * per-doc term frequencies, then ONE `groupBy(term)` whose posting buffer
  * is bounded at `maxPostings` entries BY CONSTRUCTION (`collectTopK` over
  * (doc_id, tf): a stopword appearing in every document of a 100-TB corpus
  * reduces to `maxPostings` postings on every map task before anything
  * shuffles, while its exact df/total_tf ride the same aggregation as a
  * count and a sum). No window, no corpus-sized sort,
  * no unbounded `collect_list`: the hot-term problem that kills naive index
  * builders is bounded before the Exchange.
  *
  * Postings are the `maxPostings` SMALLEST doc ids (ascending), gap-encoded
  * (`delta:tf`, delta from the previous doc id, first delta from 0) — the
  * standard compression layout, and deterministic, so the DuckDB oracle can
  * replay it with a ranked window + lag. Truncation is surfaced
  * (`truncated = df > maxPostings`), never silent.
  */
object IndexBuild {

  /** Build the index over `docs` (doc_id numeric, text string).
    * Output: (term, df, total_tf, postings, truncated), postings =
    * "delta:tf,..." over the `maxPostings` smallest doc ids. A NULL doc_id
    * fails the query: it would rank first and break the gap chain.
    */
  def invertedIndex(docs: DataFrame, maxPostings: Int): DataFrame = {
    require(maxPostings > 0, "maxPostings must be positive")
    val id = col("doc_id").cast("long")
    val tf = docs
      .select(when(id.isNull, raise_error(lit("invertedIndex: NULL doc_id"))).otherwise(id)
          .as("doc_id"),
        explode(TextAnalysis.words(col("text"))).as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"))
    // one row per (term, doc_id) in, so df is a plain count
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        collectTopK(struct(col("doc_id"), col("tf")), maxPostings).as("p"))
      .select(col("term"), col("df"), col("total_tf"),
        concat_ws(",", transform(col("p"), (x, i) => concat(
          (x("doc_id") - when(i > 0, col("p")(i - 1)("doc_id")).otherwise(0L)).cast("string"),
          lit(":"), x("tf").cast("string")))).as("postings"),
        (col("df") > maxPostings).cast("int").as("truncated"))
  }

  /** Merge two inverted-index SHARDS built over DISJOINT doc-id sets into
    * the index of their union — the reduce step of a sharded index build
    * (each corpus partition indexes locally with [[invertedIndex]], then
    * shards merge pairwise/treewise instead of re-scanning text). EXACT
    * by the disjointness + smallest-ids invariant: each shard's postings
    * are its own `maxPostings` smallest doc ids, and with disjoint id
    * sets the union's `maxPostings` smallest ids are necessarily among
    * the two retained lists — so decode, merge-sort, re-cap reproduces
    * `invertedIndex(unionCorpus)` bit-for-bit; df/total_tf sum exactly;
    * truncated = merged df > maxPostings. That equality IS the oracle
    * gate (q117 compares the merged shards against the one-shot index).
    *
    * Scale shape: ONE full-outer sort-merge join on the term key (both
    * sides are term-unique aggregates — no row explosion, no skew beyond
    * the term dimension), then a map-only typed merge bounded at
    * 2 x maxPostings decoded entries per term. No corpus re-scan, no
    * window, no second shuffle.
    */
  def mergeShards(a: DataFrame, b: DataFrame, maxPostings: Int): DataFrame = {
    require(maxPostings > 0, "maxPostings must be positive")
    val spark = a.sparkSession
    import spark.implicits._
    def side(df: DataFrame, s: String) =
      df.select(col("term"), col("df").cast("long").as(s"df$s"),
        col("total_tf").cast("long").as(s"tf$s"), col("postings").as(s"p$s"))
    side(a, "_a").join(side(b, "_b"), Seq("term"), "full_outer")
      .as[(String, Option[Long], Option[Long], Option[String],
        Option[Long], Option[Long], Option[String])]
      .map { case (term, dfa, tfa, pa, dfb, tfb, pb) =>
        def decode(p: Option[String]): Array[(Long, Long)] = p match {
          case None => Array.empty
          case Some("") => Array.empty
          case Some(enc) =>
            var prev = 0L
            enc.split(',').map { e =>
              val i = e.indexOf(':')
              val d = e.substring(0, i).toLong + prev
              prev = d
              (d, e.substring(i + 1).toLong)
            }
        }
        val xs = decode(pa); val ys = decode(pb)
        // disjointness contract, enforced where it is observable: a doc id
        // retained by BOTH shards means the shards were built over
        // overlapping corpora — df/total_tf would silently double-count.
        // Fail fast instead (the check is free: the merge walks both
        // sorted lists anyway).
        val n = math.min(maxPostings, xs.length + ys.length)
        val sb = new StringBuilder
        var i = 0; var j = 0; var o = 0; var prev = 0L
        while (o < n) {
          if (i < xs.length && j < ys.length && xs(i)._1 == ys(j)._1)
            throw new IllegalArgumentException(
              s"mergeShards: doc_id ${xs(i)._1} appears in both shards' " +
                s"""postings for term "$term" — shards must cover disjoint """ +
                "doc sets (df/total_tf would double-count)")
          val (d, t) =
            if (j >= ys.length || (i < xs.length && xs(i)._1 <= ys(j)._1)) {
              i += 1; xs(i - 1)
            } else { j += 1; ys(j - 1) }
          if (sb.nonEmpty) sb.append(',')
          sb.append(d - prev).append(':').append(t)
          prev = d
          o += 1
        }
        // continue the disjointness walk to both lists' ENDS once the
        // output cap is reached: an overlap hiding beyond the cap would
        // otherwise silently double-count df/total_tf. Both lists are
        // maxPostings-bounded, so the extra walk is O(maxPostings).
        while (i < xs.length && j < ys.length) {
          if (xs(i)._1 == ys(j)._1)
            throw new IllegalArgumentException(
              s"mergeShards: doc_id ${xs(i)._1} appears in both shards' " +
                s"""postings for term "$term" — shards must cover disjoint """ +
                "doc sets (df/total_tf would double-count)")
          if (xs(i)._1 < ys(j)._1) i += 1 else j += 1
        }
        val df = dfa.getOrElse(0L) + dfb.getOrElse(0L)
        (term, df, tfa.getOrElse(0L) + tfb.getOrElse(0L), sb.toString,
          if (df > maxPostings) 1 else 0)
      }
      .toDF("term", "df", "total_tf", "postings", "truncated")
  }

  /** BM25 top-k retrieval over the corpus in exact integer arithmetic — the
    * query side of [[invertedIndex]] (corpus forensics: find the documents a
    * benchmark phrase or contamination probe scores highest against).
    *
    * The usual IEEE formulation (ln idf, float saturation) is
    * order-of-summation dependent and cannot be oracle-gated, so both
    * factors are quantized exactly ([[TextAnalysis.unigramSurprisal]]'s
    * argument): idf = floorLog2(N) - floorLog2(df) via bit-length
    * arithmetic (whole-bit rarity classes; common terms with df in N's
    * octave contribute 0, exactly idf's job), and the Robertson tf
    * saturation tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)) with k1=1.2, b=0.75
    * evaluated in c1000 fixed point: r_c1000 = dl*N*1000 div L (avgdl =
    * L/N), tf_part_c1000 = 22000*tf*1000 div (10000*tf + 3000 + 9*r_c1000)
    * — integer div only, so scores hash-compare across engines. Per-doc
    * score = sum over matched query terms of idf * tf_part_c1000; output
    * the top `k` by (score desc, doc_id asc), a total order.
    *
    * Scale: per-doc query-term occurrences come from `filter(w, t -> t IN
    * query)` BEFORE the explode — only query-term hits leave the row, the
    * corpus token stream is never materialized. One groupBy(doc_id, term)
    * with map-side partials, a window count over term for df (its input is
    * the query-bounded tf rows), one groupBy(doc_id), and a TakeOrdered(k)
    * — no corpus-wide sort. Corpus stats (N, L) are one separate two-scalar
    * aggregate scan.
    * Int64 headroom: needs N*max(dl)*1000 < 2^63 (~4e8 docs at 2e4 tokens
    * each per index shard — shard the corpus above that).
    */
  def bm25TopK(docs: DataFrame, queryTerms: Seq[String], k: Int = 20,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k > 0, "k must be positive")
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      coalesce(TextAnalysis.words(col(textCol)), array()).as("w"))
    val withDl = base.select(col("doc_id"), size(col("w")).as("dl"),
      filter(col("w"), t => t.isin(queryTerms: _*)).as("qw"))
    val statsRow = withDl.agg(count(lit(1)), sum(col("dl").cast("long"))).first()
    val n = statsRow.getLong(0)
    val l = if (statsRow.isNullAt(1)) 0L else statsRow.getLong(1)
    require(l > 0, "bm25TopK: corpus has no tokens")
    // tf is bounded by (matching docs x |query|), NOT corpus-sized; df is a
    // count over the same rows, so a window over term computes it in this
    // plan: one scan of the corpus, nothing cached
    withDl
      .select(col("doc_id"), col("dl").cast("long").as("dl"),
        explode(col("qw")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy("term")))
      .withColumn("idf_bits",
        (length(bin(lit(n))) - length(bin(col("df")))).cast("long"))
      .withColumn("r_c1000", expr(s"dl * ${n}L * 1000L div ${l}L"))
      .withColumn("c",
        col("idf_bits") *
          expr("22000L * tf * 1000L div (10000L * tf + 3000L + 9L * r_c1000)"))
      .groupBy("doc_id")
      .agg(sum("c").as("score_c1000"), count(lit(1)).as("n_hits"))
      .orderBy(col("score_c1000").desc, col("doc_id"))
      .limit(k)
  }
}
