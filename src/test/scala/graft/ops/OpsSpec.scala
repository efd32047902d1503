package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.SparkTestSession

/** Training-data-pipeline operators: pure-kernel properties plus small
  * end-to-end checks (the sf-scale behavior is gated by the DuckDB oracle
  * queries q14-q22/q31-q33; these tests pin the semantics the oracles
  * can't see — error channels, recall of LSH vs exact, stub decode shape).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("jaccard: identical=1, disjoint=0, known overlap") {
    assert(Dedup.jaccard("a b c d", "a b c d") == 1.0)
    assert(Dedup.jaccard("a b c d e", "v w x y z") == 0.0)
    // shingles(3) of "a b c d": {abc, bcd}; of "a b c e": {abc, bce} -> 1/3
    assert(math.abs(Dedup.jaccard("a b c d", "a b c e") - 1.0 / 3) < 1e-12)
    assert(Dedup.jaccard("a b", "a b") == 1.0) // sub-shingle-length: both empty
  }

  test("minhashLsh finds the planted near-dup pair and nothing else") {
    import spark.implicits._
    val base = (0 until 30).map(i =>
      (i.toLong, (0 until 40).map(j => s"w${i}_$j").mkString(" ")))
    // planted near-dup of doc 0: drop the last word
    val nearDup = (1000L, base.head._2.split(" ").dropRight(1).mkString(" "))
    val docs = (base :+ nearDup).toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs).as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 1000L)))
  }

  test("simhash: near-identical docs have small hamming distance") {
    import spark.implicits._
    val t1 = (0 until 60).map(i => s"tok$i").mkString(" ")
    val t2 = t1.split(" ").dropRight(2).mkString(" ")
    val t3 = (0 until 60).map(i => s"other$i").mkString(" ")
    val out = Dedup.simhash(Seq((1L, t1), (2L, t2), (3L, t3)).toDF("doc_id", "text"))
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(out(1L), out(2L)) < ham(out(1L), out(3L)))
    assert(ham(out(1L), out(2L)) <= 12)
  }

  test("simhash: native one-pass kernel equals the 60-aggregate column form") {
    import spark.implicits._
    // edge cases the kernel must collapse identically: NULL text -> 0,
    // empty / whitespace-only (incl. every char of the whitespace class)
    // -> all 60 bits, multi-byte UTF-8 words, repeated words, single word
    val texts: Seq[String] = Seq(
      null, "", " \t\n\f\r", "one", "one one one", "café naïve 中文",
      "a b c d e f g h", "  leading and trailing  ",
      (0 until 200).map(i => s"w$i").mkString(" "))
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val fast = Dedup.simhash(docs).select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val slow = Dedup.simhashColumns(docs).select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    assert(fast == slow)
    assert(fast(0L) == 0L) // NULL text
    assert(fast(1L) == (1L << 60) - 1) // zero words: every vote ties to 1
    assert(fast(2L) == (1L << 60) - 1)
  }

  test("invertedIndex: gap-encoded postings, exact df/tf, bounded truncation") {
    import spark.implicits._
    // term "x": docs 9, 2, 5 with tf 1, 2, 1 — cap 2 keeps docs {2, 5},
    // gap-encoded "2:2,3:1"; df/total_tf stay exact over all three
    val docs = Seq(
      (2L, "x x alpha"), (5L, "x beta"), (9L, "x gamma"),
      (7L, "alpha alpha"))
      .toDF("doc_id", "text").repartition(3) // force the merge path
    val out = IndexBuild.invertedIndex(docs, maxPostings = 2)
      .as[(String, Long, Long, String, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("x") == ((3L, 4L, "2:2,3:1", 1)))
    assert(out("alpha") == ((2L, 3L, "2:1,5:2", 0)))
    assert(out("beta") == ((1L, 1L, "5:1", 0)))
    assert(out("gamma") == ((1L, 1L, "9:1", 0)))
    assert(out.size == 4)
    // bounded shape: the posting buffer is a partial + final object
    // aggregate, never a window over a term's whole posting list
    val plan = IndexBuild.invertedIndex(docs, maxPostings = 2)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in invertedIndex plan:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final bounded agg in invertedIndex plan:\n$plan")
  }

  test("bm25TopK: hand-computed integer scores, rare-term dominance, miss excluded") {
    import spark.implicits._
    // N=4, L=18, avgdl=4.5; df(dup)=2 -> idf 1, df(vector)=df(stream)=1 -> idf 2
    val docs = Seq(
      (1L, "dup dup dup aa bb"),             // r=1111, tfp=1534, score 1534
      (2L, "dup aa bb cc dd ee ff gg"),      // r=1777, tfp=758,  score 758
      (3L, "aa bb"),                         // no hits -> absent
      (4L, "vector stream aa"))              // r=666, tfp=1158, 2*(2*1158)=4632
      .toDF("doc_id", "text")
    val out = IndexBuild.bm25TopK(docs, Seq("dup", "vector", "stream"), k = 20)
      .as[(Long, Long, Long)].collect().toSeq
    assert(out == Seq((4L, 4632L, 2L), (1L, 1534L, 1L), (2L, 758L, 1L)))
  }

  test("bm25TopK: one plan over docs, nothing cached") {
    import spark.implicits._
    val docs = Seq((1L, "dup aa"), (2L, "dup bb"), (3L, "cc"))
      .toDF("doc_id", "text")
    val plan = IndexBuild.bm25TopK(docs, Seq("dup"), k = 5).queryExecution.optimizedPlan
    assert(plan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.isEmpty, plan)
    // df comes from the same rows as tf, not from a second scan of docs
    assert(plan.collectLeaves().size == 1, plan)
  }

  test("cosine kernel and brute-force knn ranking") {
    assert(math.abs(Similarity.cosine(Seq(1f, 0f), Seq(1f, 0f)) - 1.0) < 1e-6)
    assert(math.abs(Similarity.cosine(Seq(1f, 0f), Seq(0f, 1f))) < 1e-6)
    import spark.implicits._
    val emb = Seq(
      (0L, Seq(1f, 0f, 0f)), (1L, Seq(0.9f, 0.1f, 0f)),
      (2L, Seq(0f, 1f, 0f)), (3L, Seq(-1f, 0f, 0f))
    ).toDF("vec_id", "embedding")
    val knn = Similarity.bruteKnn(emb, Seq(0L), 2)
      .orderBy("rank").select("neighbor_id").as[Long].collect()
    assert(knn.toSeq == Seq(1L, 2L))
  }

  /** 20 clean 4-d vectors plus `extra`, as (vec_id, embedding). */
  private def vecsWith(extra: (Option[Long], Option[Seq[Float]])) = {
    import spark.implicits._
    ((0L until 20L).map(i =>
      (Option(i), Option((0 until 4).map(d => math.sin(i * 7.0 + d).toFloat)))) :+ extra)
      .toDF("vec_id", "embedding")
  }
  private val nullId = (None, Some(Seq(1f, 1f, 1f, 1f)))
  private val nullEmb = (Some(20L), None)

  /** The messages along the cause chain of what `f` throws (a task failure
    * reaches the driver wrapped). */
  private def failure(f: => Any): String = {
    val e = intercept[Exception](f)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString(" | ")
  }

  test("bruteKnn: a NULL vec_id or embedding fails the query, naming the id") {
    assert(failure(Similarity.bruteKnn(vecsWith(nullId), Seq(0L)).collect())
      .contains("bruteKnn: NULL vec_id"))
    assert(failure(Similarity.bruteKnn(vecsWith(nullEmb), Seq(0L)).collect())
      .contains("bruteKnn: NULL embedding for vec_id 20"))
  }

  test("ivfAnn: a NULL vec_id or embedding fails the query, naming the id") {
    def ivf(emb: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAnn(emb, Seq(0L), nCentroids = 2, nProbe = 2).collect()
    assert(failure(ivf(vecsWith(nullId))).contains("ivfAnn: NULL vec_id"))
    assert(failure(ivf(vecsWith(nullEmb))).contains("ivfAnn: NULL embedding for vec_id 20"))
  }

  test("lshAnn: a NULL vec_id or embedding fails the query, naming the id") {
    assert(failure(Similarity.lshAnn(vecsWith(nullId), Seq(0L), planes = 2).collect())
      .contains("lshAnn: NULL vec_id"))
    assert(failure(Similarity.lshAnn(vecsWith(nullEmb), Seq(0L), planes = 2).collect())
      .contains("lshAnn: NULL embedding for vec_id 20"))
  }

  test("knnJoin: a NULL vec_id or embedding on either side fails the query, naming the id") {
    val clean = vecsWith(nullId).filter(col("vec_id").isNotNull)
    for ((bad, msg) <- Seq(nullId -> "knnJoin: NULL vec_id",
        nullEmb -> "knnJoin: NULL embedding for vec_id 20")) {
      assert(failure(Similarity.knnJoin(vecsWith(bad), clean, planes = 2).collect())
        .contains(msg), s"left $msg")
      assert(failure(Similarity.knnJoin(clean, vecsWith(bad), planes = 2).collect())
        .contains(msg), s"right $msg")
    }
  }

  test("ivf ann: full probe is exact; partial probe keeps high recall") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val emb = (0L until 200L).map { id =>
      val base = Array.fill(8)(rnd.nextGaussian().toFloat)
      (id, base.toSeq)
    }.toDF("vec_id", "embedding")
    val queries = 0L until 10L
    val brute = Similarity.bruteKnn(emb, queries, 3)
      .select("vec_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    val full = Similarity.ivfAnn(emb, queries, 3, nCentroids = 8, nProbe = 8)
      .select("vec_id", "rank", "neighbor_id").as[(Long, Int, Long)].collect().toSet
    assert(full == brute) // probing every cell == exact
    val partial = Similarity.ivfAnn(emb, queries, 3, nCentroids = 8, nProbe = 4)
      .select("vec_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val brutePairs = brute.map(t => (t._1, t._3))
    val recall = brutePairs.count(partial.contains).toDouble / brutePairs.size
    assert(recall >= 0.7, s"recall=$recall")
  }

  test("nearest_cell expression matches driver-side nearest-centroid assignment") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val cs = Array.fill(5)(Array.fill(8)(rnd.nextGaussian()))
    val rows = (0L until 100L).map(i => (i, Seq.fill(8)(rnd.nextGaussian().toFloat)))
    // reference spelling: strict-improvement min over squared distance,
    // ties to the LOWEST index, summed over the row vector's length
    def nearest(v: Seq[Float]): Int = {
      var best = 0; var bd = Double.MaxValue
      for (c <- cs.indices) {
        var s = 0.0
        for (i <- v.indices) { val d = v(i).toDouble - cs(c)(i); s += d * d }
        if (s < bd) { bd = s; best = c }
      }
      best
    }
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        graft.spark.VectorFunctions.nearestCellCol(col("embedding"), cs).as("cell"))
      .as[(Long, Int)].collect().toMap
    rows.foreach { case (id, v) => assert(got(id) == nearest(v), s"id=$id") }
  }

  test("bruteKnn/ivfAnn plan shape: codegen kernels + bounded agg, no window") {
    import spark.implicits._
    val emb = (0L until 50L).map(i =>
      (i, (0 until 8).map(d => math.cos(i * 3.0 + d).toFloat))).toDF("vec_id", "embedding")
    val bPlan = Similarity.bruteKnn(emb, 0L until 5L, 3)
      .queryExecution.executedPlan.toString
    assert(!bPlan.contains("Window"), s"window in bruteKnn plan:\n$bPlan")
    assert(bPlan.contains("cosinesimexpr"),
      s"expected codegen cosine kernel in bruteKnn plan:\n$bPlan")
    assert("ObjectHashAggregate".r.findAllIn(bPlan).size >= 2,
      s"expected partial+final bounded agg in bruteKnn plan:\n$bPlan")
    val ivf = Similarity.ivfAnn(emb, 0L until 5L, 3, nCentroids = 4, nProbe = 2)
    val iPlan = ivf.queryExecution.executedPlan.toString
    assert(!iPlan.contains("Window"), s"window in ivfAnn plan:\n$iPlan")
    // the cell kernel is asserted on the ANALYZED plan: over this local
    // test relation ConvertToLocalRelation folds the projection away (a
    // parquet corpus keeps it physical — see plans/r06/q34_ivf_ann_after.txt)
    val iAnalyzed = ivf.queryExecution.analyzed.toString
    assert(iAnalyzed.contains("nearestcellexpr") && iAnalyzed.contains("cosinesimexpr"),
      s"expected codegen cell+cosine kernels in ivfAnn plan:\n$iAnalyzed")
    assert("ObjectHashAggregate".r.findAllIn(iPlan).size >= 2,
      s"expected partial+final bounded agg in ivfAnn plan:\n$iPlan")
  }

  test("embeddingNearDup: recall == exact pairwise cosine on planted universe") {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 100).select("vec_id", "embedding")
    val mutated = base
      .withColumn("embedding", concat(
        array((col("embedding")(0) + lit(0.05f)).cast("float")),
        slice(col("embedding"), lit(2), size(col("embedding")) - 1)))
      .withColumn("vec_id", col("vec_id") + 1000000L)
    val uni = base.unionAll(mutated)
    // exact pairwise cosine, driver-side (universe is 200 vectors)
    val vecs = uni.as[(Long, Seq[Float])].collect()
    val exact = (for {
      i <- vecs.indices; j <- (i + 1) until vecs.length
      (a, va) = vecs(i); (b, vb) = vecs(j)
      if Similarity.cosine(va, vb) >= 0.95
    } yield (math.min(a, b), math.max(a, b))).toSet
    val lsh = Dedup.embeddingNearDup(uni, tau = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.size == 100) // every planted pair, nothing else
    assert(lsh == exact, s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("embeddingNearDup: NaN similarity is rejected, not confirmed (SQL NaN > tau quirk)") {
    import spark.implicits._
    // two identical finite vectors (a true pair) + TWO NaN-corrupted
    // vectors: a NaN component makes every plane dot NaN, so both corrupt
    // vectors signature to 0 in every table — they share a bucket with
    // each other, their candidate pair reaches the verification filter
    // with cosine = NaN, and without the nanvl guard SQL's "NaN > tau"
    // would CONFIRM (3,4) as a near-duplicate
    val docs = Seq(
      (1L, Seq(1f, 2f, 3f, 4f)),
      (2L, Seq(1f, 2f, 3f, 4f)),
      (3L, Seq(Float.NaN, 2f, 3f, 4f)),
      (4L, Seq(Float.NaN, 5f, 6f, 7f))
    ).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(docs, tau = 0.95)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("embeddingNearDup: hot buckets are capped, pair generation never quadratic") {
    import spark.implicits._
    // 100 identical vectors -> one hot bucket per table; uncapped this is
    // C(100,2)=4950 pairs, the cap must bound it to C(maxBucket,2)
    val same = (0L until 100L).map(id => (id, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(same, tau = 0.5, maxBucket = 8).count()
    assert(pairs == 28, s"expected C(8,2)=28 capped pairs, got $pairs")
  }

  test("duplicateClusters: transitive closure labels every doc with its component's min id") {
    import spark.implicits._
    // chain 1-2-3-4, triangle 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = Dedup.duplicateClusters(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("ngramJaccardPairs leaves no cached RDDs behind") {
    import spark.implicits._
    val docs = (0 until 20).map(i =>
      (i.toLong, (0 until 30).map(j => s"w${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet // other suites may cache
    Dedup.ngramJaccardPairs(docs).count()
    // suites share the session and run concurrently — a streaming suite's
    // transient per-micro-batch persist() can appear in this window, so a
    // genuine leak is an entry that STAYS cached, not one that flickers
    val deadline = System.nanoTime() + 10_000_000_000L
    var leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    while (leaked.nonEmpty && System.nanoTime() < deadline) {
      Thread.sleep(200)
      leaked = (spark.sparkContext.getPersistentRDDs.keySet -- before)
        .intersect(leaked) // only entries persisted since `before` AND still cached
    }
    assert(leaked.isEmpty, s"leaked cached RDDs: $leaked")
  }

  test("multimodal: decode errors become rows, not task failures") {
    import spark.implicits._
    val media = Seq(
      Multimodal.MediaIn("d1", "ok.gif", Multimodal.synthBytes("ok.gif")),
      Multimodal.MediaIn("d2", "bad.gif", Array[Byte](1, 2)) // truncated
    ).toDS()
    val out = Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(out(0).decode_error == null && out(0).width >= 64 && out(0).feature.length == 8)
    assert(out(1).decode_error != null && out(1).width == -1)
  }

  test("language id picks the planted gazetteer language") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat and it is warm"),
      (2L, "el gato y la casa de los perros es grande"),
      (3L, "zzz qqq xxx")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "en" && out(2L) == "es" && out(3L) == "und")
  }

  test("pii scrub counts and redacts emails, ips, phones; clean text untouched") {
    import spark.implicits._
    val docs = Seq(
      (1L, "mail a.b+c@x-y.example.com and 192.168.0.1 then call +44 207 9460"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.io c@d.org one ip 10.0.0.7")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs)
      .select("doc_id", "n_emails", "n_ipv4", "n_phones", "text_scrubbed")
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1, 1, 1, "mail <EMAIL> and <IP> then call <PHONE>")))
    assert(out(2L) == ((2L, 0, 0, 0, "no pii here at all")))
    assert(out(3L) == ((3L, 2, 1, 0, "two mails <EMAIL> <EMAIL> one ip <IP>")))
  }

  test("repetition stats: imposed lines, dup/short counts, flag order") {
    import spark.implicits._
    // 8 words -> two identical 4-word lines (11 chars, so also short):
    // dup-heavy wins because the dup branch is checked first
    val dup = "aa bb cc dd aa bb cc dd"
    // 5 words -> lines ["aa bb cc dd", "ee"], both short, no dups
    val short = "aa bb cc dd ee"
    // 8 distinct >=18-char-line words -> 2 long distinct lines -> ok
    val ok = "alpha betaa gamma delta epsil zetaa etaaa theta"
    val docs = Seq((1L, dup), (2L, short), (3L, ""), (4L, ok))
      .toDF("doc_id", "text")
    val out = TextAnalysis.repetitionStats(docs)
      .select("doc_id", "n_lines", "n_dup_lines", "n_short_lines",
        "mean_word_len_x100", "gopher_flag")
      .as[(Long, Int, Int, Int, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 2, 1, 2, 200L, "dup-heavy")))
    assert(out(2L) == ((2L, 2, 0, 2, 200L, "short-line")))
    assert(out(3L) == ((3L, 0, 0, 0, 0L, "ok"))) // empty doc: no flag fires
    assert(out(4L) == ((4L, 2, 0, 0, 500L, "ok")))
  }

  test("minhashLsh: degenerate hot bucket is bounded BEFORE aggregation (plan + behavior)") {
    import spark.implicits._
    // 10,000 identical docs put every band key into ONE bucket. A raw
    // groupBy(bucket).agg(collect_list(id)) materializes all 10k ids in one
    // aggregation buffer before any cap applies — the 100-TB executor-OOM
    // shape. Bounded, the buffer holds <= maxBucket ids (row_number ranks
    // and filters on the same shuffle key first) and pair generation is
    // C(8,2) over the smallest ids, truncation surfaced, never silent.
    val docs = (0L until 10000L).map(id => (id, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashLsh(docs, maxBucket = 8)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("row_number"), plan.take(3000))
    assert(!plan.matches("(?s).*collect_list\\(doc_id.*"),
      "collect_list aggregates the raw unbounded bucket:\n" + plan.take(3000))
    val pairs = out.as[(Long, Long)].collect().toSet
    val expected = (for { a <- 0L until 8L; b <- (a + 1) until 8L } yield (a, b)).toSet
    assert(pairs == expected, s"got ${pairs.size} pairs")
  }

  test("embeddingNearDup: bounded bucket plan (no raw collect_list) and truncated flag exact") {
    import spark.implicits._
    val same = (0L until 100L).map(id => (id, Seq(1f, 2f, 3f, 4f))).toDF("vec_id", "embedding")
    val out = Dedup.embeddingNearDup(same, tau = 0.5, maxBucket = 8)
    val plan = out.queryExecution.optimizedPlan.toString
    assert(plan.contains("row_number"), plan.take(3000))
    assert(!plan.matches("(?s).*collect_list\\(vec_id.*"),
      "collect_list aggregates the raw unbounded bucket:\n" + plan.take(3000))
    val rows = out.as[(Long, Long, Int)].collect()
    assert(rows.length == 28 && rows.forall(_._3 == 1)) // hot bucket -> truncated on every pair
  }

  test("pii scrub: ipv6 counted/redacted; cards counted only when Luhn-valid, always redacted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "host 2001:0db8:85a3:0000:0000:8a2e:0370:7334 pays with 4111111111111111"),
      (2L, "invalid card 4111111111111112 still redacted"),
      (3L, "digits 12345678901234567890 form no card and 1:2:3 no ipv6")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs)
      .select("doc_id", "n_ipv6", "n_cards", "text_scrubbed")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 1, 1, "host <IPV6> pays with <CARD>")))
    assert(out(2L) == ((2L, 0, 0, "invalid card <CARD> still redacted")))
    assert(out(3L) == ((3L, 0, 0, "digits 12345678901234567890 form no card and 1:2:3 no ipv6")))
  }

  test("duplicateClusters: non-numeric ids fail fast instead of silently degenerating") {
    import spark.implicits._
    val pairs = Seq(("D0001", "D0002")).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException](Dedup.duplicateClusters(pairs))
    assert(e.getMessage.contains("numeric ids"))
  }

  test("qualityFilters: ordered flag precedence and exact integer features") {
    import spark.implicits._
    val docs = Seq(
      (1L, "tiny short doc"), // too-short (3 words)
      // 21 words, lorem + brace + ellipsis: too-short passes, boilerplate
      // wins over ellipsis/low-alpha (ordered CASE)
      (2L, "lorem ipsum { " + (0 until 18).map(i => s"w$i").mkString(" ")),
      (3L, (0 until 20).map(i => s"w$i").mkString(" ") + " so ... continued"),
      (4L, "one two three four " + (0 until 30).map(_ => "42").mkString(" ")), // low-alpha
      (5L, (0 until 25).map(i => "w" * (i % 5 + 1)).mkString(" ")) // keep (pure alpha)
    ).toDF("doc_id", "text")
    val out = TextAnalysis.qualityFilters(docs)
      .select("doc_id", "n_words", "alpha_frac_x100", "n_braces", "c4_flag")
      .as[(Long, Int, Long, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L)._5 == "too-short")
    assert(out(2L)._5 == "boilerplate" && out(2L)._4 == 1)
    assert(out(3L)._5 == "ellipsis")
    assert(out(4L)._5 == "low-alpha" && out(4L)._3 == (4L * 100 / 34))
    assert(out(5L)._5 == "keep" && out(5L)._3 == 100L)
  }

  test("incrementalExact: store hits dropped, within-batch first id wins, hash returned") {
    import spark.implicits._
    val seen = Seq("already ingested").toDF("text").select(md5(col("text")).as("text_hash"))
    val batch = Seq(
      (10L, "already ingested"), // in the store -> dropped
      (12L, "fresh doc a"),
      (11L, "fresh doc a"), // within-batch dup: id 11 wins
      (13L, "fresh doc b")
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalExact(batch, seen)
    // skew-safe shape: an aggregation with map-side partial_min, never a
    // window (a hot hash must collapse before the shuffle)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    val ids = out.select("doc_id").as[Long].collect().toSet
    assert(ids == Set(11L, 13L))
    // surviving hashes are exactly the new texts' hashes (appendable to the store)
    val hashes = out.select("text_hash").as[String].collect().toSet
    val expected = Seq("fresh doc a", "fresh doc b")
      .toDF("text").select(md5(col("text"))).as[String].collect().toSet
    assert(hashes == expected)
    // rerunning the same batch against the grown store drops everything
    val grown = seen.unionAll(out.select("text_hash"))
    assert(Dedup.incrementalExact(batch, grown).count() == 0)
  }

  test("webops: host extraction, registered domain, both blocklist forms") {
    import spark.implicits._
    val docs = Seq(
      (1L, "https://A.News.Example.COM/path?q=1"),
      (2L, "http://blocked.org/x"),
      (3L, "ftp://files.example.net:21/pub"),
      (4L, "not a url at all")
    ).toDF("doc_id", "url")
    val hosts = docs.select(col("doc_id"), WebOps.urlHost(col("url")).as("h"),
        WebOps.registeredDomain(WebOps.urlHost(col("url"))).as("d"))
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    assert(hosts(1L) == ((1L, "a.news.example.com", "example.com")))
    assert(hosts(2L) == ((2L, "blocked.org", "blocked.org")))
    assert(hosts(3L) == ((3L, "files.example.net", "example.net"))) // port not part of host
    assert(hosts(4L) == ((4L, "", ""))) // non-URL -> empty, never throws
    val bySeq = WebOps.blocklistFilter(docs, Seq("Blocked.ORG")) // list is case-normalized
    assert(bySeq.select("doc_id").as[Long].collect().toSet == Set(1L, 3L, 4L))
    val byTable = WebOps.blocklistFilter(docs,
      Seq("blocked.org", "files.example.net").toDF("host"), "url")
    assert(byTable.select("doc_id").as[Long].collect().toSet == Set(1L, 4L))
    assert(byTable.columns.toSeq == docs.columns.toSeq) // helper column dropped
  }

  test("sessionize: gap rule incl. the exact-boundary event; single-event session") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val events = Seq(
      (1L, at(0)), (1L, at(10)), // one session (gap 10 < 30)
      (1L, at(40)),              // EXACTLY 30 min later: merges (boundary is inclusive)
      (1L, at(71)),              // 31 min later: strictly beyond the gap -> new session
      (2L, at(5))                // single-event session, duration 0
    ).toDF("user_id", "ts")
    val out = Events.sessionize(events)
      .as[(Long, Long, Long, Long)].collect().toSet
    val e0 = t0.getTime / 1000
    assert(out == Set(
      (1L, e0, 3L, 2400L),         // t0..t0+40min (exact-boundary event merged)
      (1L, e0 + 4260, 1L, 0L),     // t0+71min alone
      (2L, e0 + 300, 1L, 0L)))
  }

  test("decontaminate: planted eval 8-gram flags the doc; eval side broadcasts") {
    import spark.implicits._
    val evalDocs = Seq(
      (100L, "alpha bravo charlie delta echo foxtrot golf hotel india")
    ).toDF("doc_id", "text")
    val docs = Seq(
      // contains eval 8-gram "alpha ... hotel" -> contaminated
      (1L, "xx alpha bravo charlie delta echo foxtrot golf hotel yy"),
      (2L, "totally different words one two three four five six seven eight nine")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(docs, evalDocs, n = 8)
    // the eval side must broadcast: corpus-side scan stays shuffle-free
    // until the per-doc count
    assert(out.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
    val rows = out.select("doc_id", "n_hit_shingles", "contaminated")
      .as[(Long, Long, Int)].collect().map(r => r._1 -> r).toMap
    assert(rows(1L) == ((1L, 1L, 1)))
    assert(rows(2L) == ((2L, 0L, 0)))
  }

  test("quantizeInt8: exact handcrafted values, zero vector, error bound") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1f, -0.5f, 0f)),
      (2L, Seq(0f, 0f, 0f)),
      (3L, Seq(0.3f, 0.7f, -0.2f, 0.05f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizeInt8(emb)
      .select("vec_id", "quant", "max_err_x1e7")
      .as[(Long, Seq[Int], Long)].collect().map(r => r._1 -> r).toMap
    // scale=1: q = floor(127+0.5)=127, floor(-63.5+0.5)=-63, 0
    assert(out(1L)._2 == Seq(127, -63, 0))
    assert(out(2L)._2 == Seq(0, 0, 0) && out(2L)._3 == 0L)
    // symmetric quantization error is at most scale/254 per component
    for ((id, (_, q, err)) <- out) {
      assert(q.forall(v => v >= -127 && v <= 127), s"vec $id out of range")
      val scale = Seq(1f, 0f, 0.7f)(id.toInt - 1).toDouble
      assert(err <= math.floor(scale / 254 * 1e7) + 1, s"vec $id err $err")
    }
  }

  test("topTerms: distinct-per-doc counting and (freq desc, term asc) tie-break") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple apple apple banana"), // apple counts ONCE for this doc
      (2L, "apple cherry"),
      (3L, "banana cherry date"),
      (4L, "cherry epsilon")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topTerms(docs, k = 3).as[(String, Long)].collect().toSeq
    // df: cherry=3, apple=2, banana=2 (ties alphabetic), date=1, epsilon=1
    assert(out == Seq(("cherry", 3L), ("apple", 2L), ("banana", 2L)))
  }

  test("stratifiedSample: deterministic, per-stratum rate, extension-stable") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i =>
      (i, if (i % 2 == 0) "en" else "zz")).toDF("doc_id", "lang")
    val fr = Map("en" -> 0.5)
    val s1 = Sampling.stratifiedSample(docs, fr, defaultFraction = 0.125)
      .select("doc_id").as[Long].collect().toSet
    val s2 = Sampling.stratifiedSample(docs, fr, defaultFraction = 0.125)
      .select("doc_id").as[Long].collect().toSet
    assert(s1 == s2) // pure function of the id: no RNG state
    val en = s1.count(_ % 2 == 0).toDouble / 1000
    val zz = s1.count(_ % 2 == 1).toDouble / 1000
    assert(math.abs(en - 0.5) < 0.06, s"en rate $en")
    assert(math.abs(zz - 0.125) < 0.04, s"zz rate $zz")
    // membership is per-id: sampling a sub-corpus keeps exactly the same ids
    val sub = Sampling.stratifiedSample(
      docs.filter($"doc_id" < 500), fr, defaultFraction = 0.125)
      .select("doc_id").as[Long].collect().toSet
    assert(sub == s1.filter(_ < 500))
    assertThrows[IllegalArgumentException](
      Sampling.stratifiedSample(docs, Map("en" -> 1.5)))
  }

  test("packShards: global exclusive-prefix-sum rule across partitions") {
    import spark.implicits._
    // weights chosen so shards straddle partition boundaries under any
    // range split: 100 docs of weight 7, budget 50 -> shard = floor(7i/50)
    val docs = (0L until 100L).map(i => (i, 7L)).toDF("doc_id", "n_chars")
      .repartition(8) // scrambled input; the op re-range-partitions itself
    val out = Sampling.packShards(docs, budget = 50L)
      .select("doc_id", "shard_id").as[(Long, Long)].collect().toMap
    for (i <- 0L until 100L) assert(out(i) == 7 * i / 50, s"doc $i")
    // every shard except the last holds a contiguous id range
    val byShard = out.groupBy(_._2).view.mapValues(_.keys.toSeq.sorted).toMap
    for ((_, ids) <- byShard) assert(ids == (ids.head to ids.last))
    assertThrows[IllegalArgumentException](Sampling.packShards(docs, 0L))
  }

  test("asofJoin: latest prior match, inclusive boundary, same-ts tie, no-match null") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    val clicks = Seq(
      (10L, 1L, at(100)), // after views 1,2 -> latest is 2
      (11L, 1L, at(10)),  // exactly at view 1's ts -> inclusive match
      (12L, 1L, at(5)),   // before any view -> null
      (13L, 2L, at(50))   // user 2: two views at the SAME ts -> higher id wins
    ).toDF("event_id", "user_id", "ts")
    val views = Seq(
      (1L, 1L, at(10)), (2L, 1L, at(60)),
      (3L, 2L, at(40)), (4L, 2L, at(40))
    ).toDF("event_id", "user_id", "ts")
    val out = Events.asofJoin(clicks, views)
      .as[(Long, Long, Option[Long], Option[Long])].collect()
      .map(r => r._1 -> r).toMap
    assert(out(10L) == ((10L, 1L, Some(2L), Some(40L))))
    assert(out(11L) == ((11L, 1L, Some(1L), Some(0L))))
    assert(out(12L) == ((12L, 1L, None, None)))
    assert(out(13L) == ((13L, 2L, Some(4L), Some(10L))))
  }

  test("paragraphDedup: first (doc,pos) wins, short paras bypass, empty doc survives") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the common header line\nunique body of doc one\n--"),
      (2L, "the common header line\nunique body of doc two\n--"),
      // doc 3 is ALL duplicates of earlier content -> rebuilt empty
      (3L, "the common header line\nunique body of doc one"),
      // doc 4 repeats a paragraph WITHIN itself -> second copy dropped
      (4L, "repeated internal para\nrepeated internal para")
    ).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(docs)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (("the common header line\nunique body of doc one\n--", 3L)))
    // header claimed by doc 1; "--" is short (<10 chars) so it bypasses dedup
    assert(out(2L) == (("unique body of doc two\n--", 2L)))
    assert(out(3L) == (("", 0L)))
    assert(out(4L) == (("repeated internal para", 1L)))
    // ownership is an aggregation, not a window over the raw paragraphs:
    // a hot paragraph must hit map-side partial aggregation, so the
    // optimized plan contains a partial_min, and the only Window is none
    val plan = Dedup.paragraphDedup(docs).queryExecution.optimizedPlan.toString
    assert(!plan.contains("windowspecdefinition"), s"unexpected window in:\n$plan")
  }

  test("resolveDuplicates: best score wins, tie to min id, singletons kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, 100L), (2L, 300L), (3L, 300L), // cluster A: 2 and 3 tie -> 2 wins
      (7L, 50L),                          // singleton
      (8L, 10L), (9L, 20L)                // cluster B: 9 wins
    ).toDF("doc_id", "n_chars")
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (8L, 8L), (9L, 8L))
      .toDF("doc_id", "cluster_id")
    val out = Dedup.resolveDuplicates(docs, clusters)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out(1L) == ((1L, 0)))
    assert(out(2L) == ((1L, 1)))
    assert(out(3L) == ((1L, 0)))
    assert(out(7L) == ((7L, 1))) // untouched by any cluster: own id, kept
    assert(out(8L) == ((8L, 0)))
    assert(out(9L) == ((8L, 1)))
  }

  test("mixtureSample: binding group keeps all, output matches target mixture") {
    import spark.implicits._
    val docs = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
      .toDF("doc_id", "lang")
    // counts: en=de=1000; targets en:de = 3:1 -> de binds (1000/0.25=4000
    // vs en 1000/0.75=1333.3), en keeps 1333.3*0.75=1000 -> ALL of en...
    // use 1:3 instead so en binds and de downsamples to ~333
    val out = Sampling.mixtureSample(docs, Map("en" -> 0.75, "de" -> 0.25))
      .select("doc_id", "lang").as[(Long, String)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(!byLang.contains("xx"), "untargeted group must be dropped")
    assert(byLang("en") == 1000, "binding group keeps everything")
    // de target share 0.25 vs en 0.75 -> expect ~333; md5-Bernoulli noise
    assert(math.abs(byLang("de") - 333) < 60, s"de kept ${byLang("de")}")
    // deterministic: same rows on re-run
    val again = Sampling.mixtureSample(docs, Map("en" -> 0.75, "de" -> 0.25))
      .select("doc_id").as[Long].collect().toSet
    assert(again == out.map(_._1).toSet)
    // a targeted group missing from the corpus -> unachievable -> empty
    assert(Sampling.mixtureSample(docs, Map("en" -> 0.5, "nope" -> 0.5)).count() == 0)
    assertThrows[IllegalArgumentException](
      Sampling.mixtureSample(docs, Map.empty[String, Double]))
  }

  test("incrementalExactBloom: output identical to incrementalExact at any FP rate") {
    import spark.implicits._
    val docs = (0L until 300L).map(i => (i, s"text number ${i % 120}"))
      .toDF("doc_id", "text")
    val seen = docs.filter(col("doc_id") < 100).select(md5(col("text")).as("text_hash"))
    val batch = docs.filter(col("doc_id") >= 100)
    val want = Dedup.incrementalExact(batch, seen)
      .select("doc_id", "text_hash").as[(Long, String)].collect().toSet
    // a deliberately undersized filter saturates -> high REAL fp rate ->
    // the confirm anti-join sees false positives and must pass the truly
    // new rows through unchanged
    val saturated = Dedup.incrementalExactBloom(batch, seen,
        expectedBatchItems = 4, fpp = 0.5)
      .select("doc_id", "text_hash").as[(Long, String)].collect().toSet
    assert(saturated == want)
    // and a well-sized one (most rows take the join-free negative path)
    val sized = Dedup.incrementalExactBloom(batch, seen,
        expectedBatchItems = 1000, fpp = 0.01)
      .select("doc_id", "text_hash").as[(Long, String)].collect().toSet
    assert(sized == want)
    // empty store: everything is definitely-new, nothing joins
    val empty = seen.filter(lit(false))
    assert(Dedup.incrementalExactBloom(batch, empty, 1, 0.01).count() ==
      Dedup.incrementalExact(batch, empty).count())
    // null text: hashes to null, never matches the store, passes through
    // on both paths (and must not NPE the bloom build)
    val withNull = batch.unionAll(
      Seq((9999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    assert(Dedup.incrementalExactBloom(withNull, seen, 1000, 0.01)
      .filter(col("doc_id") === 9999L).count() == 1)
    // an ALL-null batch short-circuits instead of NPEing the builder
    val allNull = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    assert(Dedup.incrementalExactBloom(allNull, seen, 1, 0.01).count() == 1)
    // plan pin: the bloom prune — a NATIVE might_contain predicate, never
    // a ScalaUDF — sits on the STORE side, upstream of the single
    // anti-join, so the store never shuffles whole AND the prune scan
    // stays inside WholeStageCodegen. Parquet-backed inputs — a local
    // relation would constant-fold the deterministic predicate away at
    // optimization time and hide the shape. AQE off so the join node is
    // inspectable before execution; the assertion walks the RIGHT (store)
    // subtree specifically — a filter that migrated to the batch side
    // must fail this, not pass it.
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docsP = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"), col("text"))
      val seenP = docsP.filter(col("doc_id") < 20).select(md5(col("text")).as("text_hash"))
      val exec = Dedup.incrementalExactBloom(docsP.filter(col("doc_id") >= 20), seenP, 1000, 0.01)
        .queryExecution.executedPlan
      val joins = exec.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec
            if j.joinType.toString == "LeftAnti" => j
      }
      assert(joins.size == 1, s"expected one anti-join in:\n$exec")
      val storeSide = joins.head.right.collect {
        case f: org.apache.spark.sql.execution.FilterExec
            if f.condition.exists(
              _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain]) => f
      }
      assert(storeSide.nonEmpty,
        s"native might_contain bloom prune not on the store side of:\n$exec")
      // the prune is codegen'd: no ScalaUDF / BatchEvalPython anywhere
      val udfs = exec.collect { case p => p }.flatMap(p =>
        p.expressions.flatMap(_.collect {
          case u: org.apache.spark.sql.catalyst.expressions.ScalaUDF => u
        }) ++ (if (p.nodeName.contains("BatchEvalPython")) Seq(p) else Nil))
      assert(udfs.isEmpty, s"non-codegen probe survives in:\n$exec")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
  }

  test("mediaCaptionPairs: nearest following text; consecutive media share; trailing is null") {
    import spark.implicits._
    import graft.core.Span
    val docs = Seq(
      ("d1", Seq(Span("text", "intro", null, 0), Span("media", null, "m1", 1),
        Span("media", null, "m2", 2), Span("text", "the caption", null, 3),
        Span("media", null, "m3", 4))),
      ("d2", Seq(Span("text", "only text", null, 0)))
    ).toDF("doc_id", "spans")
    val rows = Multimodal.mediaCaptionPairs(docs)
      .as[(String, String, Option[String])].collect()
    val out = rows.map(t => t._2 -> t._3).toMap
    assert(out == Map("m1" -> Some("the caption"), "m2" -> Some("the caption"),
      "m3" -> None))
    // the media-free doc must contribute no rows at all
    assert(!rows.exists(_._1 == "d2"))
  }

  test("upsampleEpochs: integer part exact, fractional part ~Bernoulli, epoch indices 0-based") {
    import spark.implicits._
    val docs = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else if (i % 3 == 1) "de" else "xx"))
      .toDF("doc_id", "lang")
    val out = Sampling.upsampleEpochs(docs, Map("en" -> 2.5, "de" -> 0.5))
      .select("doc_id", "lang", "epoch").as[(Long, String, Int)].collect()
    val en = out.filter(_._2 == "en")
    // every en doc appears at least twice (epochs 0 and 1), ~half thrice
    assert(en.groupBy(_._1).forall { case (_, rows) =>
      rows.map(_._3).sorted.sameElements(0 until rows.length) && rows.length >= 2 })
    val enThird = en.count(_._3 == 2)
    assert(math.abs(enThird - 500) < 80, s"en third-epoch count $enThird")
    // de at 0.5: ~half survive with exactly one copy
    val de = out.filter(_._2 == "de")
    assert(de.forall(_._3 == 0) && math.abs(de.length - 500) < 80, s"de ${de.length}")
    // untargeted group passes through at exactly 1 epoch
    assert(out.count(_._2 == "xx") == 1000)
    // deterministic on re-run
    val again = Sampling.upsampleEpochs(docs, Map("en" -> 2.5, "de" -> 0.5))
      .select("doc_id", "lang", "epoch").as[(Long, String, Int)].collect()
    assert(again.toSet == out.toSet)
    assertThrows[IllegalArgumentException](
      Sampling.upsampleEpochs(docs, Map("en" -> -1.0)))
  }

  test("shuffleOrder: a permutation of 0..n-1 in md5 order, stable across partitionings") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val out = Sampling.shuffleOrder(docs).as[(Long, Long)].collect()
    assert(out.map(_._2).sorted.sameElements(0L until 500L))
    // matches the declarative rule exactly
    val want = docs.select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .orderBy("h").as[(Long, String)].collect().map(_._1)
      .zipWithIndex.map { case (id, i) => (id, i.toLong) }.toMap
    assert(out.toMap == want)
    // the permutation is a property of the ids, not the physical layout
    val repart = Sampling.shuffleOrder(docs.repartition(7)).as[(Long, Long)].collect()
    assert(repart.toMap == want)
  }

  test("canonicalUrl/urlDedup: tracking params, fragments, case; min-id wins per canon") {
    import spark.implicits._
    val cases = Seq(
      (1L, "HTTPS://A.Example.COM/d/1?utm_source=x&id=2&utm_medium=y#frag",
        "https://a.example.com/d/1?id=2"),
      (2L, "https://a.example.com/d/1?id=2", "https://a.example.com/d/1?id=2"),
      (3L, "http://b.example.com/P?utm_campaign=z", "http://b.example.com/P"),
      (4L, "http://b.example.com/P", "http://b.example.com/P"),
      (5L, "not a url at all", "not a url at all"),
      (6L, "https://c.example.com/x?fbclid=123", "https://c.example.com/x")
    ).toDF("doc_id", "url", "want")
    val got = cases.withColumn("canon", WebOps.canonicalUrl(col("url")))
      .select("doc_id", "canon", "want").as[(Long, String, String)].collect()
    got.foreach { case (id, canon, want) => assert(canon == want, s"doc $id: $canon") }
    // dedup: docs 1+2 collapse (1 wins), 3+4 collapse (3 wins), 5, 6 survive
    val kept = WebOps.urlDedup(cases.drop("want"))
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 5L, 6L))
    // no window in the plan (ownership is an aggregation)
    val plan = WebOps.urlDedup(cases.drop("want")).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in urlDedup plan:\n$plan")
  }

  test("knnJoin: guards — planes out of range throws, empty right is empty not a crash") {
    import spark.implicits._
    val vecs = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f))).toDF("vec_id", "embedding")
    assertThrows[IllegalArgumentException](
      Similarity.knnJoin(vecs, vecs, planes = 32))
    val none = vecs.filter(lit(false))
    assert(Similarity.knnJoin(vecs, none).count() == 0)
    assert(Similarity.knnJoin(none, none).count() == 0)
  }

  test("knnJoin: full-probe at 2 planes equals exact brute force; bounded agg, no window") {
    import spark.implicits._
    val vecs = (0L until 30L).map(i =>
      (i, (0 until 8).map(d => math.sin(i * 17.0 + d).toFloat))).toDF("vec_id", "embedding")
    // planes=2, maxHamming=2 -> every signature probed -> candidate set is
    // all pairs -> must equal brute force exactly
    val kj = Similarity.knnJoin(vecs, vecs, k = 3, planes = 2, maxHamming = 2)
    val brute = Similarity.bruteKnn(vecs, 0L until 30L, 3)
    assert(kj.as[(Long, Int, Long)].collect().toSet ==
      brute.as[(Long, Int, Long)].collect().toSet)
    // scale shape: the per-query top-k is a bounded Aggregator with partial
    // aggregation (two ObjectHashAggregate stages), never a window sort
    val plan = kj.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in knnJoin plan:\n$plan")
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2,
      s"expected partial+final object agg in:\n$plan")
  }

  test("knnJoin: recovers planted near-neighbors (recall >= 0.9); ranks contiguous") {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Seq[Float])]
    // plant 3 near-copies of every 7th vector (same scheme as the lshAnn
    // recall test: a near-copy is what an ANN join must find; the exact
    // top-3 of a RANDOM vector is far away and invisible to any sign-LSH)
    val planted = base.filter(_._1 % 7 == 0).collect().flatMap { case (id, v) =>
      (1 to 3).map { j =>
        val rnd = new scala.util.Random(id * 10 + j)
        (100000L + id * 10 + j, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
      }
    }
    val uni = base.unionAll(planted.toSeq.toDS()).toDF("vec_id", "embedding")
    val left = uni.filter(col("vec_id") % 7 === 0 && col("vec_id") < 100000L)
    val ids = left.select(col("vec_id").cast("long")).as[Long].collect().toSeq
    val brute = Similarity.bruteKnn(uni, ids, 3).as[(Long, Int, Long)].collect()
    val kj = Similarity.knnJoin(left, uni, k = 3).as[(Long, Int, Long)].collect()
    val got = kj.map(t => (t._1, t._3)).toSet
    val want = brute.map(t => (t._1, t._3)).toSet
    val recall = (got & want).size.toDouble / want.size
    assert(recall >= 0.9, s"recall $recall")
    // every returned neighbor list is ranked 1..n contiguously
    kj.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length)) }
  }

  test("exactKSample: exact per-group count, md5-order determinism, small groups intact") {
    import spark.implicits._
    val docs = (0L until 500L).map(i => (i, if (i % 5 == 0) "de" else "en"))
      .toDF("doc_id", "lang")
    val out = Sampling.exactKSample(docs, 25).as[(Long, String)].collect()
    val byLang = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byLang("en").size == 25 && byLang("de").size == 25)
    // deterministic on re-run
    val again = Sampling.exactKSample(docs, 25).as[(Long, String)].collect()
    assert(again.toSet == out.toSet)
    // k larger than a group: the whole group survives, exactly once
    val big = Sampling.exactKSample(docs, 400).as[(Long, String)].collect()
    assert(big.count(_._2 == "de") == 100 && big.count(_._2 == "en") == 400)
    // the pick IS the k smallest md5s (the documented contract)
    val wantEn = docs.filter(col("lang") === "en")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("h"))
      .orderBy("h").limit(25).as[(Long, String)].collect().map(_._1).toSet
    assert(byLang("en") == wantEn)
    // no window, partial aggregation present
    val plan = Sampling.exactKSample(docs, 25).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in exactKSample plan:\n$plan")
  }

  test("distinctiveTerms: tf desc, df asc, term asc; float-free ranking") {
    import spark.implicits._
    val docs = Seq(
      // "alpha" tf=3 but common (df=3); "rare" tf=2 df=1 -> tf wins first,
      // then df breaks the tf=2 tie between "rare" (df=1) and "beta" (df=2)
      (1L, "alpha alpha alpha rare rare beta beta zeta"),
      (2L, "alpha beta common common"),
      (3L, "alpha common")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.distinctiveTerms(docs, k = 3)
      .as[(Long, Int, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    assert(out(1L) == Seq("alpha", "rare", "beta"))
    // doc 2: common tf=2 leads; then the tf=1 tie breaks df asc -> beta
    // (df 2) before alpha (df 3)
    assert(out(2L) == Seq("common", "beta", "alpha"))
    val plan = TextAnalysis.distinctiveTerms(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"window in distinctiveTerms plan:\n$plan")
  }

  test("invertedIndex, exactKSample, distinctiveTerms: a NULL doc_id fails the query") {
    import spark.implicits._
    // a NULL id would rank first in each bounded top-k key
    val docs = Seq((Option(1L), "alpha beta"), (None, "alpha gamma")).toDF("doc_id", "text")
    assert(failure(IndexBuild.invertedIndex(docs, 2).collect())
      .contains("invertedIndex: NULL doc_id"))
    assert(failure(Sampling.exactKSample(docs.withColumn("lang", lit("en")), 1).collect())
      .contains("exactKSample: NULL doc_id"))
    assert(failure(TextAnalysis.distinctiveTerms(docs).collect())
      .contains("distinctiveTerms: NULL doc_id"))
  }

  test("renderInterleaved: sentinel at media positions, order kept, map-only plan") {
    import spark.implicits._
    val docs = Seq(
      ("D1", Seq(
        graft.core.Span("text", "intro words", null, 0),
        graft.core.Span("media", null, "fig1.gif", 1),
        graft.core.Span("text", "caption after", null, 2))),
      ("D2", Seq(graft.core.Span("media", null, "only.png", 0))),
      ("D3", Seq.empty[graft.core.Span])
    ).toDF("doc_id", "spans")
    val out = Multimodal.renderInterleaved(docs)
      .as[(String, String, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out("D1") == (("D1", "intro words <|image|> caption after", 1, 2)))
    assert(out("D2") == (("D2", "<|image|>", 1, 0)))
    assert(out("D3") == (("D3", "", 0, 0)))
    // serialization is a projection: no shuffle, no explode-regroup
    val plan = Multimodal.renderInterleaved(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in renderInterleaved plan:\n$plan")
  }

  test("shingled: docs shorter than n emit no shingles (no ANSI crash); consumers keep every row") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b c d e"), (3L, "")).toDF("doc_id", "text")
    val sh = Dedup.shingled(docs, n = 3).collect()
    assert(sh.forall(_.getLong(0) == 2L), s"short/empty docs produced shingles: ${sh.mkString(",")}")
    // decontaminate still returns EVERY input row, short docs as clean
    val eval = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val dec = Dedup.decontaminate(docs, eval, n = 3)
      .select("doc_id", "contaminated").as[(Long, Int)].collect().toMap
    assert(dec == Map(1L -> 0, 2L -> 1, 3L -> 0))
    // pair ops treat shingle-less docs as never-candidates, not as errors
    assert(Dedup.ngramJaccardPairs(docs, n = 3, tau = 0.5).count() == 0)
  }

  test("duplicatedNgramCoverage: planted overlap coverage exact, clean docs zero") {
    import spark.implicits._
    // doc 1 and doc 2 share words 0..9 (six shared 5-grams); doc 3 disjoint
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " " + (0 until 5).map(i => s"a$i").mkString(" ")),
      (2L, shared + " " + (0 until 5).map(i => s"b$i").mkString(" ")),
      (3L, (0 until 15).map(i => s"c$i").mkString(" ")),
      (4L, "s0 s1 s2"), // shorter than n: no 5-gram can exist, zeros out
      (5L, "")          // empty: zeros out, not a crash (ANSI sequence(0,-1))
    ).toDF("doc_id", "text")
    val out = Dedup.duplicatedNgramCoverage(docs, n = 5)
      .as[(Long, Int, Long, Long)].collect().map(r => r._1 -> r).toMap
    // duplicated 5-grams are those fully inside s0..s9: starts 0..5 -> 6
    // occurrences per doc, covering positions 0..9 -> 10 tokens
    assert(out(1L) == ((1L, 15, 6L, 10L)))
    assert(out(2L) == ((2L, 15, 6L, 10L)))
    assert(out(3L) == ((3L, 15, 0L, 0L)))
    assert(out(4L) == ((4L, 3, 0L, 0L)))
    assert(out(5L) == ((5L, 0, 0L, 0L)))
  }

  test("parseProps: typed field out, malformed/missing/non-integer degrade to null") {
    import spark.implicits._
    val ev = Seq(
      (1L, """{"k": 42}"""),      // clean
      (2L, """{"k": "7"}"""),     // JSON string holding an int -> extract + cast ok
      (3L, """{"k": "abc"}"""),   // non-numeric -> null, not an ANSI cast error
      (4L, """{"other": 1}"""),   // field missing
      (5L, "not json at all"),    // corrupt
      (6L, null.asInstanceOf[String])
    ).toDF("event_id", "props")
    val out = Events.parseProps(ev, field = "k")
      .select("event_id", "k", "props_ok")
      .as[(Long, Option[Long], Boolean)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, Some(42L), true)))
    assert(out(2L) == ((2L, Some(7L), true)))
    assert(out(3L) == ((3L, None, false)))
    assert(out(4L) == ((4L, None, false)))
    assert(out(5L) == ((5L, None, false)))
    assert(out(6L) == ((6L, None, false)))
    // map-only projection: no shuffle in the plan
    val plan = Events.parseProps(ev).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in parseProps plan:\n$plan")
  }

  test("coverage/removal invariant: n_removed == covered_tokens on a collision-rich corpus") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 12).map(i => s"v$i")
    val docs = (1 to 30).map(i =>
      (i.toLong, (0 until 20).map(_ => vocab(rnd.nextInt(12))).mkString(" ")))
      .toDF("doc_id", "text")
    val cov = Dedup.duplicatedNgramCoverage(docs, n = 5)
      .select(col("doc_id"), col("covered_tokens"))
    val rem = Dedup.removeDuplicatedNgrams(docs, n = 5)
      .select(col("doc_id"), col("n_removed"), col("text_deduped"), col("n_tokens"))
    val joined = cov.join(rem, "doc_id")
      .as[(Long, Long, Long, String, Int)].collect()
    assert(joined.length == 30)
    joined.foreach { case (id, covered, removed, deduped, n) =>
      assert(covered == removed, s"doc $id: covered=$covered removed=$removed")
      val kept = deduped.split("\\s+").count(_.nonEmpty)
      assert(kept == n - removed, s"doc $id: kept=$kept n=$n removed=$removed")
    }
    // the seed-42 12-word vocab makes 5-gram collisions near-certain; make
    // sure the corpus actually exercised the removal path
    assert(joined.map(_._3).sum > 0, "corpus produced no duplicated 5-grams")
  }

  test("corpusCard: one-row totals incl. empty docs and cardinalities") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a bb ccc", "en", "web"),
      (2L, "x y", "en", "book"),
      (3L, "", "de", "web")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.corpusCard(docs)
      .as[(Long, Long, Long, Long, Long, Long, Int, Int)].collect()
    assert(out.length == 1)
    assert(out.head == ((3L, 5L, 11L, 2L, 2L, 1L, 3, 0)))
  }

  test("splitSentences: terminal-punct runs split, trailing sentence keeps punct, empty none") {
    import spark.implicits._
    val docs = Seq(
      (1L, "first one. second!? third end."), // trailing '.' has no space after
      (2L, "no punctuation at all"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.splitSentences(docs)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(out == Set(
      (1L, 0, "first one", 2),
      (1L, 1, "second", 1),
      (1L, 2, "third end.", 2),
      (2L, 0, "no punctuation at all", 4)))
    val plan = TextAnalysis.splitSentences(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in splitSentences plan:\n$plan")
  }

  test("lengthPercentiles: nearest-rank exact on a known distribution") {
    import spark.implicits._
    // lengths 1..10, one doc each: p50 -> 5, p90 -> 9, p99 -> 10, p100 -> 10
    val docs = (1 to 10).map(n => (n.toLong, (1 to n).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.lengthPercentiles(docs, Seq(10, 50, 90, 99, 100))
      .as[(Int, Int)].collect().toMap
    assert(out == Map(10 -> 1, 50 -> 5, 90 -> 9, 99 -> 10, 100 -> 10))
  }

  test("packTokenBlocks: exact split pieces in md5 order; stream fully covered") {
    import spark.implicits._
    // md5('1') < md5('3') < md5('2') (c4ca.., eccb.., c81e.. -> actually
    // compute below rather than hard-code the order)
    val docs = Seq(
      (1L, (0 until 5).map(i => s"a$i").mkString(" ")),   // 5 tokens
      (2L, (0 until 7).map(i => s"b$i").mkString(" ")),   // 7 tokens
      (3L, (0 until 4).map(i => s"c$i").mkString(" ")),   // 4 tokens
      (4L, "")                                            // empty -> no rows
    ).toDF("doc_id", "text")
    val out = Sampling.packTokenBlocks(docs, blockSize = 6)
      .as[(Long, Long, Long, Long, Long)].collect()
    // reconstruct the expected layout from the same md5 order
    val order = Seq(1L -> 5L, 2L -> 7L, 3L -> 4L)
      .sortBy { case (id, _) =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString, id)
      }
    var off = 0L
    val expected = order.flatMap { case (id, n) =>
      val pieces = (off / 6 to (off + n - 1) / 6).map { b =>
        val s = math.max(off, b * 6); val e = math.min(off + n, (b + 1) * 6)
        (id, b, s - b * 6, s - off, e - s)
      }
      off += n
      pieces
    }
    assert(out.toSet == expected.toSet)
    // invariants: per-doc pieces sum to the doc's tokens; the stream is
    // gapless (every block before the last holds exactly blockSize tokens)
    val perBlock = out.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val lastBlock = perBlock.keys.max
    perBlock.foreach { case (b, tot) =>
      if (b < lastBlock) assert(tot == 6L, s"block $b not full: $tot") }
  }

  test("packTokenBlocks property: per-doc pieces partition the doc; blocks gapless (200 random docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val lens = (1 to 200).map(i => i.toLong -> rnd.nextInt(40)).toMap
    val docs = lens.toSeq.map { case (id, n) =>
      (id, (0 until n).map(j => s"w${id}_$j").mkString(" ")) }.toDF("doc_id", "text")
    val out = Sampling.packTokenBlocks(docs, blockSize = 17)
      .as[(Long, Long, Long, Long, Long)].collect()
    val totalTokens = lens.values.map(_.toLong).sum
    // global: the pieces cover the whole stream exactly once
    assert(out.map(_._5).sum == totalTokens)
    // per-doc: pieces are contiguous in doc_offset and partition [0, n)
    out.groupBy(_._1).foreach { case (id, pieces) =>
      val sorted = pieces.sortBy(_._4) // by doc_offset
      assert(sorted.head._4 == 0L, s"doc $id first piece offset ${sorted.head._4}")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a._4 + a._5 == b._4, s"doc $id pieces not contiguous")
        case _ =>
      }
      assert(sorted.map(_._5).sum == lens(id).toLong, s"doc $id pieces don't sum")
      // block-local placement stays inside the block
      sorted.foreach { p =>
        assert(p._3 >= 0 && p._3 + p._5 <= 17, s"doc $id piece exceeds block: $p") }
    }
    // per-block: every block before the last is exactly full, ids contiguous
    val perBlock = out.groupBy(_._2).view.mapValues(_.map(_._5).sum).toMap
    val maxB = perBlock.keys.max
    assert(perBlock.keys.toSet == (0L to maxB).toSet, "block ids not contiguous")
    (0L until maxB).foreach(b => assert(perBlock(b) == 17L, s"block $b not full: ${perBlock(b)}"))
    // docs with zero tokens emit nothing
    val emptyIds = lens.filter(_._2 == 0).keySet
    assert(out.forall(p => !emptyIds.contains(p._1)))
  }

  test("unigramSurprisal: hand-computed quantized scores, OOV and empty docs") {
    import spark.implicits._
    // counts: a=5, b=2, c=2; total=9 -> maxS = floorLog2(9) = 3
    // vocab(2) by (cnt desc, tok asc) = {a: 3-floorLog2(5)=1, b: 3-1=2}; OOV c -> 3
    val docs = Seq(
      (1L, "a a a a"), (2L, "a b"), (3L, ""), (4L, "c c b")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramSurprisal(docs, vocabSize = 2)
      .select("doc_id", "n_tokens", "surprisal_sum", "surprisal_c100", "ppl_bucket")
      .as[(Long, Long, Long, Long, String)].collect().sortBy(_._1)
    assert(out === Array(
      (1L, 4L, 4L, 100L, "fluent"),   // 4x s(a)=1; 100*2 <= 300
      (2L, 2L, 3L, 150L, "fluent"),   // s(a)+s(b)=3; 150*2 = 300 <= 300
      (3L, 0L, 0L, 0L, "empty"),
      (4L, 3L, 8L, 266L, "rare")))    // 3+3+2; 266*4 > 900
  }

  test("unigramSurprisal: empty corpus throws; huge vocabSize leaves no OOV") {
    import spark.implicits._
    intercept[IllegalArgumentException] {
      TextAnalysis.unigramSurprisal(Seq((1L, "")).toDF("doc_id", "text"))
    }
    // with the whole vocabulary in-model, every token scores maxS - floorLog2(cnt)
    val docs = Seq((1L, "x y"), (2L, "x")).toDF("doc_id", "text")
    // counts: x=2, y=1; total=3 -> maxS=1; s(x)=1-1=0, s(y)=1-0=1
    val out = TextAnalysis.unigramSurprisal(docs, vocabSize = 100)
      .select("doc_id", "surprisal_sum").as[(Long, Long)].collect().sortBy(_._1)
    assert(out === Array((1L, 1L), (2L, 0L)))
  }

  test("simhashNearDup: exact dups at hamming 0, near dups found, unrelated absent") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    val docs = Seq(
      (1L, base),
      (2L, base),                              // exact dup of 1 -> hamming 0
      (3L, base + " lambda"),                  // near dup: tiny word-set delta
      (4L, "totally different content about ships and harbors and tides"),
      (5L, "")                                 // no words: excluded entirely
    ).toDF("doc_id", "text")
    val out = Dedup.simhashNearDup(docs, maxHamming = 3)
      .as[(Long, Long, Int, Int)].collect()
    val pairs = out.map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)))
    val h12 = out.find(r => r._1 == 1L && r._2 == 2L).get._3
    assert(h12 == 0)
    // every emitted pair respects the verify bound; ids ordered; no doc 5
    out.foreach { case (a, b, h, _) =>
      assert(a < b && h <= 3 && a != 5L && b != 5L)
    }
    // doc 4 shares no band with the near-dup family at hamming <= 3
    assert(!out.exists(r => r._1 == 4L || r._2 == 4L))
  }

  test("dsirWeights: quantized scores, per-side OOV fallback, sign-exact threshold") {
    import spark.implicits._
    // source: 20 junk docs (each junk token cnt 2) + 'alpha beta' + one
    // empty. total source tokens = 42 -> srcMax = floorLog2(42) = 5; source
    // vocab(4) by (cnt desc, tok asc) = junk0, junk1, junk10, junk11 at
    // s = 5 - floorLog2(2) = 4; alpha/beta (and junk5) are source-OOV at 5.
    val junk = (0 until 20).map(i => (100L + i, s"junk$i junk$i"))
    val source = (junk :+ (1L, "alpha beta") :+ (2L, "")).toDF("doc_id", "text")
    // target: alpha=10, beta=10, total 20 -> tgtMax = 4; s(alpha)=s(beta)=4-3=1
    val target = (0 until 10).map(i => (200L + i, "alpha beta")).toDF("doc_id", "text")
    val out = TextAnalysis.dsirWeights(source, target, vocabSize = 4, minC100 = 100L)
      .select("doc_id", "n_tokens", "logw_sum", "selected")
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((2L, 8L, true)))    // 2 x (5 - 1); mean 4.0 >= 1.0
    assert(out(2L) == ((0L, 0L, false)))   // empty docs never selected
    assert(out(100L) == ((2L, 0L, false))) // junk0 in src vocab: 2 x (4 - 4)
    assert(out(105L) == ((2L, 2L, true)))  // junk5 src-OOV: 2 x (5 - 4); >= is inclusive
  }

  test("materializeBlocks: block text re-assembled across doc boundaries in stream order") {
    import spark.implicits._
    val docs = Seq(
      (1L, (0 until 5).map(i => s"a$i").mkString(" ")),
      (2L, (0 until 7).map(i => s"b$i").mkString(" ")),
      (3L, (0 until 4).map(i => s"c$i").mkString(" "))
    ).toDF("doc_id", "text")
    val out = Sampling.materializeBlocks(docs, blockSize = 6)
      .as[(Long, String, Long, Long)].collect().sortBy(_._1)
    // reconstruct the expected stream from the same md5 order
    val stream = Seq(1L -> 5, 2L -> 7, 3L -> 4)
      .sortBy { case (id, _) =>
        (java.security.MessageDigest.getInstance("MD5")
          .digest(id.toString.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString, id)
      }
      .flatMap { case (id, n) =>
        val pfx = Map(1L -> "a", 2L -> "b", 3L -> "c")(id)
        (0 until n).map(i => (id, s"$pfx$i"))
      }
    val expected = stream.grouped(6).zipWithIndex.map { case (g, b) =>
      (b.toLong, g.map(_._2).mkString(" "), g.map(_._1).distinct.size.toLong, g.size.toLong)
    }.toSeq
    assert(out.toSeq == expected, s"got ${out.mkString("; ")}")
    // every block before the last is exactly full
    assert(out.dropRight(1).forall(_._4 == 6L))
    assert(out.map(_._4).sum == 16L)
  }

  test("mediaIntegrity: resolved/orphan/unused statuses; repeated refs aggregated") {
    import spark.implicits._
    val docs = Seq(
      ("D1", Seq(
        graft.core.Span("text", "t", null, 0),
        graft.core.Span("media", null, "a.png", 1),
        graft.core.Span("media", null, "a.png", 2),   // same ref twice
        graft.core.Span("media", null, "gone.png", 3))),
      ("D2", Seq(graft.core.Span("text", "only text", null, 0)))
    ).toDF("doc_id", "spans")
    val media = Seq(
      ("D1", "a.png"), ("D1", "never-referenced.png"), ("D2", "dead.png")
    ).toDF("doc_id", "media_ref")
    val out = Multimodal.mediaIntegrity(docs, media)
      .as[(String, String, Long, String)].collect().toSet
    assert(out == Set(
      ("D1", "a.png", 2L, "resolved"),
      ("D1", "gone.png", 1L, "orphan"),
      ("D1", "never-referenced.png", 0L, "unused"),
      ("D2", "dead.png", 0L, "unused")))
  }

  test("removeDuplicatedNgrams: shared run removed from both docs, clean doc verbatim") {
    import spark.implicits._
    // doc 1 and 2 share words s0..s9 -> positions 0..9 covered in both;
    // doc 3 has no duplicated 5-gram and must come back verbatim
    val shared = (0 until 10).map(i => s"s$i").mkString(" ")
    val docs = Seq(
      (1L, shared + " " + (0 until 5).map(i => s"a$i").mkString(" ")),
      (2L, shared + " " + (0 until 5).map(i => s"b$i").mkString(" ")),
      (3L, (0 until 15).map(i => s"c$i").mkString(" ")),
      (4L, shared), // fully duplicated -> empty text survives as a row
      (5L, "s0 s1 s2"), // shorter than n: comes back VERBATIM, not emptied
      (6L, "")          // empty: survives as an empty row, not a crash
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedNgrams(docs, n = 5)
      .as[(Long, String, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, (0 until 5).map(i => s"a$i").mkString(" "), 15, 10L)))
    assert(out(2L) == ((2L, (0 until 5).map(i => s"b$i").mkString(" "), 15, 10L)))
    assert(out(3L) == ((3L, (0 until 15).map(i => s"c$i").mkString(" "), 15, 0L)))
    assert(out(4L) == ((4L, "", 10, 10L)))
    assert(out(5L) == ((5L, "s0 s1 s2", 3, 0L)))
    assert(out(6L) == ((6L, "", 0, 0L)))
  }

  test("vocabCoverage: top-df vocab with term tie-break; per-doc OOV occurrence counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the the cat"),   // "the" df=2, "cat" df=2, "dog" df=1, "owl" df=1
      (2L, "the cat dog owl owl")
    ).toDF("doc_id", "text")
    // vocabSize=2 -> vocab {cat, the} (df 2 each; tie-break by term keeps
    // both here; "dog"/"owl" df=1 are out)
    val out = TextAnalysis.vocabCoverage(docs, vocabSize = 2)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 3, 0L)))
    assert(out(2L) == ((2L, 5, 3L))) // dog, owl, owl are OOV occurrences
    // vocabSize=3 must pick dog over owl by the term tie-break at df=1
    val out3 = TextAnalysis.vocabCoverage(docs, vocabSize = 3)
      .as[(Long, Int, Long)].collect().map(r => r._1 -> r).toMap
    assert(out3(2L) == ((2L, 5, 2L))) // only the two owl occurrences remain OOV
    // the OOV check is a broadcast anti-join (vocab is driver-bounded), and
    // the vocabulary selection is a TakeOrdered, never a global sort
    val plan = TextAnalysis.vocabCoverage(docs, 2).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"OOV join is not a broadcast anti-join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"vocab selection is not TakeOrdered:\n$plan")
  }

  test("chunkDocs: window starts/contents exact; short doc one chunk; no shuffle") {
    import spark.implicits._
    val w = (0 until 10).map(i => s"w$i")
    val docs = Seq(
      (1L, w.mkString(" ")),  // size 4 stride 3 -> starts 0,3,6 (ceil(6/3)=2 +1)
      (2L, "a b"),            // shorter than one window -> exactly one chunk
      (3L, "")                // empty -> no rows
    ).toDF("doc_id", "text")
    val out = Sampling.chunkDocs(docs, chunkSize = 4, stride = 3)
      .as[(Long, Int, String, Int)].collect().toSet
    assert(out == Set(
      (1L, 0, "w0 w1 w2 w3", 4),
      (1L, 1, "w3 w4 w5 w6", 4),
      (1L, 2, "w6 w7 w8 w9", 4),
      (2L, 0, "a b", 2)))
    // every token is in at least one chunk; last start covers the tail
    val plan = Sampling.chunkDocs(docs, 4, 3).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in chunkDocs plan:\n$plan")
  }

  test("assignSplits: coherence, JVM-replayed hash intervals, no shuffle") {
    import spark.implicits._
    val docs = (0 until 400).map(i => (i.toLong, s"site${i % 37}.example"))
      .toDF("doc_id", "source")
    val out = Sampling.assignSplits(docs,
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .select("doc_id", "source", "split").as[(Long, String, String)].collect()
    // every row of a source lands in ONE split (leakage-safety invariant)
    assert(out.groupBy(_._2).forall(_._2.map(_._3).distinct.length == 1))
    // replay the interval arithmetic independently with JVM md5
    def expected(src: String): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(src.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.take(8), 16)
      if (h < 3221225472L) "train" else if (h < 3758096384L) "val" else "test"
    }
    out.foreach { case (_, src, split) => assert(split == expected(src), src) }
    // all three splits actually occur across 37 domains
    assert(out.map(_._3).distinct.sorted.toSeq == Seq("test", "train", "val"))
    // map-only: a single codegen'd CASE, no shuffle
    val plan = Sampling.assignSplits(docs, Seq("a" -> 0.5, "b" -> 0.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in assignSplits plan:\n$plan")
    // invalid shares fail fast
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(docs, Seq("a" -> 0.5, "b" -> 0.25))
    }
    intercept[IllegalArgumentException] {
      Sampling.assignSplits(docs, Seq.empty)
    }
    // NULL coherence -> NULL split (never silently the last/eval split)
    val withNull = Seq((1L, "site.example"), (2L, null)).toDF("doc_id", "source")
    val nulled = Sampling.assignSplits(withNull,
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125))
      .select("doc_id", "split").as[(Long, Option[String])].collect().toMap
    assert(nulled(1L).isDefined && nulled(2L).isEmpty)
  }

  test("crossSplitLeakage: only pairs straddling splits survive") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L), (5L, 6L)).toDF("doc_a", "doc_b")
    val assign = Seq(
      (1L, "train"), (2L, "val"),   // leaked
      (3L, "train"), (4L, "train"), // same split - fine
      (5L, "test"), (6L, "train")   // leaked
    ).toDF("doc_id", "split")
    val out = Dedup.crossSplitLeakage(pairs, assign)
      .as[(Long, Long, String, String)].collect().toSet
    assert(out == Set((1L, 2L, "train", "val"), (5L, 6L, "test", "train")))
    // re-audit: the audit's own output is a valid pair list for a NEW
    // assignment (stale split_a/split_b must not make the join ambiguous)
    val reassigned = Seq((1L, "train"), (2L, "train"), (5L, "val"), (6L, "train"))
      .toDF("doc_id", "split")
    val again = Dedup.crossSplitLeakage(
      Dedup.crossSplitLeakage(pairs, assign), reassigned)
      .as[(Long, Long, String, String)].collect().toSet
    assert(again == Set((5L, 6L, "val", "train")))
  }

  test("scrubSpans: text spans redacted in place, media spans and offsets untouched") {
    import spark.implicits._
    val spans = Seq(
      ("text", "mail bob@x.example or call +1 555 0142 now", null, 0),
      ("media", null, "img0.png", 1),
      ("text", "from 10.0.0.1 card 4111111111111111 end", null, 2),
      ("text", "clean text, no pii", null, 3))
    val docs = Seq(("d1", spans)).toDF("doc_id", "raw")
      .withColumn("spans", transform(col("raw"), s => struct(
        s("_1").as("kind"), s("_2").as("text"),
        s("_3").as("media_ref"), s("_4").as("offset"))))
      .select("doc_id", "spans")
    val out = Multimodal.scrubSpans(docs)
      .select(col("doc_id"), col("n_pii"), explode(col("spans")).as("s"))
      .select(col("s.kind"), col("s.text"), col("s.media_ref"), col("s.offset"),
        col("n_pii"))
      .as[(String, String, String, Int, Int)].collect().toSeq
    assert(out == Seq(
      ("text", "mail <EMAIL> or call <PHONE> now", null, 0, 4),
      ("media", null, "img0.png", 1, 4),
      ("text", "from <IP> card <CARD> end", null, 2, 4),
      ("text", "clean text, no pii", null, 3, 4)))
    // map-only: no shuffle in the plan
    val plan = Multimodal.scrubSpans(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in scrubSpans plan:\n$plan")
  }

  test("sourceDupStats: clone families localized to their source") {
    import spark.implicits._
    val docs = Seq(
      ("mirror.example", "same text"),
      ("mirror.example", "same text"),
      ("mirror.example", "same text"),
      ("mirror.example", "unique a"),
      ("healthy.example", "unique b"),
      ("healthy.example", "unique c"),
      // identical text on ANOTHER source is NOT a within-source dup
      ("healthy.example", "same text"),
      // NULL-text rows (failed extractions) never form a clone family
      ("healthy.example", null),
      ("healthy.example", null)
    ).toDF("source", "text")
    val out = WebOps.sourceDupStats(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(
      ("mirror.example", 4L, 2L, 3L, 3L),
      ("healthy.example", 3L, 3L, 0L, 1L)))
  }

  test("corpusDiff: all four statuses, null-text rows compared null-safely") {
    import spark.implicits._
    val v1 = Seq(
      (1L, "same"), (2L, "old text"), (3L, "gone"),
      (4L, null), (5L, null)
    ).toDF("doc_id", "text")
    val v2 = Seq(
      (1L, "same"), (2L, "new text"),
      (4L, null),            // null == null -> unchanged
      (5L, "was null"),      // null -> text -> changed
      (6L, "brand new")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.corpusDiff(v1, v2)
      .as[(Long, String)].collect().toMap
    assert(out == Map(
      1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "unchanged", 5L -> "changed", 6L -> "added"))
  }

  test("langTokenBudget: hand-computed integer volumes per language") {
    import spark.implicits._
    val docs = Seq(
      ("en", "one two three"),   // 13 chars, 3 ws tokens, 3 bpe tokens
      ("en", "a, b!"),           // 5 chars, 2 ws, 4 bpe (a , b !)
      ("de", "ein wort"),        // 8 chars, 2 ws, 2 bpe
      ("de", null)               // failed extraction: excluded entirely
    ).toDF("lang", "text")
    val out = TextAnalysis.langTokenBudget(docs)
      .as[(String, Long, Long, Long, Long)].collect().toSet
    assert(out == Set(("en", 2L, 18L, 5L, 7L), ("de", 1L, 8L, 2L, 2L)))
  }

  test("crossSplitLeakage: domain-coherent splits leak nothing, per-doc splits do") {
    import spark.implicits._
    // near-dup twins always share the domain (the real-world shape: a
    // mirror page lives on the same or a sister site)
    val docs = (0 until 50).flatMap { i =>
      val text = (0 until 30).map(j => s"w${i}_$j").mkString(" ")
      Seq((i.toLong, s"site$i.example", text),
        (i + 1000L, s"site$i.example", text.split(" ").dropRight(1).mkString(" ")))
    }.toDF("doc_id", "source", "text")
    val pairs = Dedup.ngramJaccardPairs(docs).select("doc_a", "doc_b")
    val byDomain = Sampling.assignSplits(docs,
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      coherenceCol = "source").select("doc_id", "split")
    assert(Dedup.crossSplitLeakage(pairs, byDomain).isEmpty)
    val byDoc = Sampling.assignSplits(docs,
      Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      coherenceCol = "doc_id").select("doc_id", "split")
    assert(Dedup.crossSplitLeakage(pairs, byDoc).count() > 0)
  }

  test("groupedRank: per-group md5 rank, all columns ride, skewed group never a window") {
    import spark.implicits._
    // group 'big' holds 90% of rows — the skew a per-group window would
    // put on one task
    val rows = (0L until 200L).map(i =>
      (i, if (i % 10 == 0) s"g${i % 3}" else "big", s"payload$i"))
    val df = rows.toDF("id", "grp", "payload").repartition(7)
    val out = Sampling.groupedRank(df, "grp", "id")
      .select("grp", "id", "payload", "_grank")
      .as[(String, Long, String, Long)].collect()
    // expected: within each group, 0-based rank in md5(id) order
    val want = rows.groupBy(_._2).flatMap { case (g, rs) =>
      rs.map(_._1).sortBy(i => md5Hex(i.toString))
        .zipWithIndex.map { case (id, r) => ((g, id), r.toLong) }
    }
    for (((g, id), r) <- want)
      assert(out.find(o => o._1 == g && o._2 == id).get._4 == r, s"($g,$id)")
    // payload column rode through untouched
    assert(out.forall(o => o._3 == s"payload${o._2}"))
  }

  test("bucketBatches: bucket boundaries, fixed-size md5-order batches, exact padding") {
    import spark.implicits._
    // token counts straddling every boundary (16/32/64/128), incl. empty
    val docs = (0L until 120L).map { i =>
      val n = (i * 3 % 140).toInt
      (i, Seq.fill(n)("w").mkString(" "))
    }.toDF("doc_id", "text").repartition(9)
    val out = Sampling.bucketBatches(docs, batchDocs = 4)
      .select("doc_id", "len_tokens", "bucket", "batch_id", "pad_tokens")
      .as[(Long, Long, Int, Long, Long)].collect()
    def bucketOf(n: Long) =
      if (n <= 16) 0 else if (n <= 32) 1 else if (n <= 64) 2 else if (n <= 128) 3 else 4
    val lens = (0L until 120L).map(i => i -> (i * 3 % 140)).toMap
    assert(out.length == 120)
    for ((id, len, b, _, _) <- out) {
      assert(len == lens(id)); assert(b == bucketOf(len))
    }
    // within each bucket: batch = floor(md5-rank / 4)
    for ((b, rows) <- out.groupBy(_._3)) {
      val ranked = rows.map(_._1).sortBy(i => md5Hex(i.toString)).zipWithIndex.toMap
      for ((id, _, _, batch, _) <- rows)
        assert(batch == ranked(id) / 4, s"doc $id bucket $b")
      // pad = batch max - len, exactly
      for ((_, brows) <- rows.groupBy(_._4)) {
        val mx = brows.map(_._2).max
        assert(brows.forall(r => r._5 == mx - r._2))
      }
    }
    // exactly ONE window in the plan (the bounded per-batch pad) — the
    // per-bucket rank must NOT be a window (it would put a whole bucket
    // on one task)
    val plan = Sampling.bucketBatches(docs, batchDocs = 4)
      .queryExecution.executedPlan.toString
    assert(plan.sliding(7).count(_ == "Window ") <= 1, s"extra Window in:\n$plan")
    assertThrows[IllegalArgumentException](Sampling.bucketBatches(docs, 0))
    assertThrows[IllegalArgumentException](
      Sampling.bucketBatches(docs, 4, boundaries = Seq(32, 16)))
  }

  test("shardManifest: layout-independent, content-sensitive, closed-form stats") {
    import spark.implicits._
    val docs = (0L until 80L).map(i => (i, "x" * 25)).toDF("doc_id", "text")
    val m1 = Sampling.shardManifest(docs, budget = 100L)
      .orderBy("shard_id").collect().map(_.toSeq)
    // physical layout doesn't change the manifest (XOR commutes)
    val m2 = Sampling.shardManifest(docs.repartition(11), budget = 100L)
      .orderBy("shard_id").collect().map(_.toSeq)
    assert(m1.toSeq == m2.toSeq)
    // closed form: 80 docs x 25 chars, budget 100 -> shard = floor(25i/100),
    // 4 docs per shard, contiguous ids
    assert(m1.length == 20)
    for ((row, s) <- m1.zipWithIndex) {
      assert(row(0) == s.toLong); assert(row(1) == 4L); assert(row(2) == 100L)
      assert(row(3) == s * 4L && row(4) == s * 4L + 3)
    }
    // a same-length content change flips exactly its own shard's checksum
    val tweaked = docs.withColumn("text",
      when(col("doc_id") === 42L, lit("y" * 25)).otherwise(col("text")))
    val m3 = Sampling.shardManifest(tweaked, budget = 100L)
      .orderBy("shard_id").collect().map(_.toSeq)
    val diff = m1.zip(m3).zipWithIndex.filter { case ((a, b), _) => a != b }
    assert(diff.map(_._2).toSeq == Seq(10)) // doc 42 lives in shard 10
    // and a swap of two docs' ids between shards flips both checksums
    val swapped = docs.withColumn("text",
      when(col("doc_id") === 0L, lit("z" * 25))
        .when(col("doc_id") === 79L, lit("x" * 25)).otherwise(col("text")))
    val m4 = Sampling.shardManifest(swapped, budget = 100L)
      .orderBy("shard_id").collect().map(_.toSeq)
    assert(m1.head != m4.head)
    // NULL text weighs 0 and adds no checksum term — no NPE in the
    // prefix sum (its _w contract is non-null)
    val withNull = docs.unionAll(
      Seq((999L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val mN = Sampling.shardManifest(withNull, budget = 100L)
      .orderBy("shard_id").collect()
    assert(mN.map(_.getLong(1)).sum == 81L)
  }

  test("removeFrequentLines: >maxDocFreq removed everywhere, short lines bypass, order kept") {
    import spark.implicits._
    // 'NAV MENU HOME ABOUT' in 3 docs (removed: > 2), 'rare shared line x'
    // in 2 (kept), '--' short and in all (kept: bypasses), uniques kept
    val docs = Seq(
      (1L, "NAV MENU HOME ABOUT\nunique one alpha beta\n--"),
      (2L, "NAV MENU HOME ABOUT\nrare shared line x\n--"),
      (3L, "NAV MENU HOME ABOUT\nrare shared line x\n--"),
      (4L, "unique four gamma delta\n--")).toDF("doc_id", "text")
    val out = Dedup.removeFrequentLines(docs, maxDocFreq = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(out(1L) == (("unique one alpha beta\n--", 1L)))
    assert(out(2L) == (("rare shared line x\n--", 1L)))
    assert(out(3L) == (("rare shared line x\n--", 1L)))
    assert(out(4L) == (("unique four gamma delta\n--", 0L)))
    // a doc made ENTIRELY of boilerplate comes back empty, not missing
    val all = docs.unionAll(Seq((5L, "NAV MENU HOME ABOUT")).toDF("doc_id", "text"))
    val o5 = Dedup.removeFrequentLines(all, maxDocFreq = 2)
      .filter(col("doc_id") === 5L).as[(Long, String, Long)].head()
    assert(o5 == ((5L, "", 1L)))
    // df is DISTINCT docs: the same line twice in ONE doc doesn't count as 2
    val twice = Seq(
      (1L, "dup line in one doc\ndup line in one doc"),
      (2L, "dup line in one doc\nother content here")).toDF("doc_id", "text")
    val t = Dedup.removeFrequentLines(twice, maxDocFreq = 2)
      .as[(Long, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(t(1L) == 0L && t(2L) == 0L)
    // NULL text: zero lines, zero removed, empty rebuild — never NULL math
    val withNull = docs.unionAll(
      Seq((9L, null.asInstanceOf[String])).toDF("doc_id", "text"))
    val n9 = Dedup.removeFrequentLines(withNull, maxDocFreq = 2)
      .filter(col("doc_id") === 9L).as[(Long, String, Long)].head()
    assert(n9 == ((9L, "", 0L)))
    assertThrows[IllegalArgumentException](Dedup.removeFrequentLines(docs, 0))
  }

  test("termDrift: df is distinct-per-doc, deltas exact, (|delta| desc, term) order") {
    import spark.implicits._
    val old = Seq(
      (1L, "apple banana banana"), // banana df 1 despite tf 2
      (2L, "apple cherry"),
      (3L, "apple date")).toDF("doc_id", "text")
    val nw = Seq(
      (1L, "banana banana"), // apple dropped here
      (2L, "cherry cherry fig"),
      (3L, "fig date")).toDF("doc_id", "text")
    val out = TextAnalysis.termDrift(old, nw, k = 3)
      .as[(String, Long, Long, Long)].collect()
    // deltas: apple 3->0 = -3, fig 0->2 = +2, everything else |1| or 0
    assert(out(0) == (("apple", 3L, 0L, -3L)))
    assert(out(1) == (("fig", 0L, 2L, 2L)))
    // rank 3: ties at |delta|=0? no — banana 1->1 (0), cherry 1->1 (0),
    // date 1->1 (0) — all zero; no |1| rows, so term asc decides: banana
    assert(out(2) == (("banana", 1L, 1L, 0L)))
    assertThrows[IllegalArgumentException](TextAnalysis.termDrift(old, nw, 0))
  }

  test("incrementalMinhash: near-dups and copies match min store id; novel and shingle-less pass") {
    import spark.implicits._
    def t(p: String, n: Int) = (0 until n).map(j => s"${p}_$j").mkString(" ")
    val store = ((0L until 30L).map(i => (i, t(s"s$i", 30)))
      :+ (40L, t("twin", 30)) :+ (41L, t("twin", 30)) // identical store twins
      :+ (50L, "only two")).toDF("doc_id", "text")    // shingle-less store doc
    val batch = Seq(
      (1000L, t("s0", 29)),   // drop-last-word near-dup of store 0
      (1001L, t("s5", 30)),   // exact copy of store 5
      (1002L, t("twin", 30)), // matches both twins -> dup_of = min = 40
      (2000L, t("novel", 30)),// novel
      (2001L, "only two"),    // shingle-less: NEVER a candidate, even vs store 50
      (2002L, null.asInstanceOf[String]) // NULL text: signs nothing, no NPE
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(batch, Dedup.signBands(store), store)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(1000L -> ((0L, 0)), 1001L -> ((5L, 0)), 1002L -> ((40L, 0))))
  }

  test("incrementalMinhash: hot store bucket capped, overflow surfaces as truncated=1") {
    import spark.implicits._
    def t(p: String, n: Int) = (0 until n).map(j => s"${p}_$j").mkString(" ")
    // 30 identical store docs share every band bucket; cap at 8 keeps the
    // 8 smallest ids per bucket and marks the bucket overflowed
    val store = (0L until 30L).map(i => (i, t("same", 30))).toDF("doc_id", "text")
    val batch = Seq((100L, t("same", 30))).toDF("doc_id", "text")
    val out = Dedup.incrementalMinhash(
        batch, Dedup.signBands(store), store, maxBucket = 8)
      .as[(Long, Long, Int)].collect()
    assert(out.toSeq == Seq((100L, 0L, 1))) // min SURVIVING id, flagged
  }

  test("domainQuality: 50% fluent bar, minDocs guard, exact bucket counts") {
    import spark.implicits._
    val fluent = "the of and to a in is that it for x1 x2 x3 x4 x5 x6" // 16 toks, 10 stop
    val listy = (1 to 16).map(i => s"item$i").mkString(" ")            // 16 toks, 0 stop
    val docs = (
      (1 to 4).map(i => (i.toLong, if (i <= 3) fluent else listy, "good.com")) ++
      (1 to 4).map(i => (10L + i, if (i <= 1) fluent else listy, "junk.com")) ++
      Seq((20L, "hi", "tiny.com"), (21L, listy, "tiny.com"))
    ).toDF("doc_id", "text", "source")
    val out = WebOps.domainQuality(docs, minDocs = 3)
      .as[(String, Long, Long, Long, Long, Int)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5, r._6))).toMap
    assert(out("good.com") == ((4L, 3L, 0L, 1L, 0))) // 3/4 fluent -> clear
    assert(out("junk.com") == ((4L, 1L, 0L, 3L, 1))) // 1/4 fluent -> blocked
    assert(out("tiny.com") == ((2L, 0L, 1L, 1L, 0))) // under minDocs -> never
    assertThrows[IllegalArgumentException](WebOps.domainQuality(docs, 0))
  }

  test("dedupMediaPayloads: dup payloads re-point to min ref; orphans, no-media, empty survive") {
    import spark.implicits._
    import graft.core.Span
    val docs = Seq(
      ("d1", Seq(Span("text", "hello", null, 0), Span("media", null, "m1", 1),
        Span("media", null, "m2", 2))),
      ("d2", Seq(Span("media", null, "m3", 0))),
      ("d3", Seq.empty[Span]),
      ("d4", Seq(Span("text", "only text", null, 0),
        Span("media", null, "orphan", 1)))
    ).toDF("doc_id", "spans")
    val media = Seq(("m1", "h1"), ("m2", "h2"), ("m3", "h1"))
      .toDF("media_ref", "content_hash")
    val out = Multimodal.dedupMediaPayloads(docs, media)
      .as[(String, Seq[Span], Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("d1") == ((Seq(Span("text", "hello", null, 0),
      Span("media", null, "m1", 1), Span("media", null, "m2", 2)), 0L)))
    assert(out("d2") == ((Seq(Span("media", null, "m1", 0)), 1L))) // m3 -> m1
    assert(out("d3") == ((Seq.empty[Span], 0L)))                   // empty rides
    assert(out("d4") == ((Seq(Span("text", "only text", null, 0),
      Span("media", null, "orphan", 1)), 0L)))                     // orphan kept
  }

  test("bucketBatches property: full batches, nonneg pad, every doc once (300 random docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val lens = (1 to 300).map(i => i.toLong -> rnd.nextInt(150)).toMap
    val docs = lens.toSeq.map { case (id, n) =>
      (id, Seq.fill(n)("w").mkString(" ")) }.toDF("doc_id", "text").repartition(13)
    val out = Sampling.bucketBatches(docs, batchDocs = 8)
      .as[(Long, Long, Int, Long, Long)].collect()
    // every doc exactly once
    assert(out.map(_._1).toSet == lens.keySet && out.length == 300)
    for ((b, rows) <- out.groupBy(_._3)) {
      // batch ids contiguous from 0; all full except possibly the highest
      val byBatch = rows.groupBy(_._4)
      val maxBatch = byBatch.keys.max
      assert(byBatch.keys.toSet == (0L to maxBatch).toSet, s"bucket $b gap")
      for ((batch, brows) <- byBatch) {
        if (batch < maxBatch) assert(brows.length == 8, s"bucket $b batch $batch not full")
        // pad = batch max - len, never negative, zero for the max doc
        val mx = brows.map(_._2).max
        assert(brows.forall(r => r._5 == mx - r._2 && r._5 >= 0))
      }
    }
    // the physical layout doesn't change the assignment
    val again = Sampling.bucketBatches(docs.repartition(3), batchDocs = 8)
      .as[(Long, Long, Int, Long, Long)].collect()
    assert(again.map(r => r._1 -> ((r._3, r._4))).toMap ==
      out.map(r => r._1 -> ((r._3, r._4))).toMap)
  }

  test("normalizeForDedup/exactNormalized: case, punct, whitespace variants collapse") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello world"), (3L, "HELLO   world..."),
      (4L, "different doc")).toDF("doc_id", "text")
    val out = Dedup.exactNormalized(docs)
      .as[(String, Long, Long)].collect().map(r => (r._2, r._3)).toSet
    assert(out == Set((3L, 1L), (1L, 4L))) // the three variants fused, min id 1
  }

  test("curate: every doc exactly once with its fate; stage order; splits only on kept") {
    import spark.implicits._
    val fluent = "the of and to a in is that it for w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val fw = fluent.split(" ")
    val docs = Seq(
      (1L, fluent, "a.com"),                               // kept (family winner: longest)
      (2L, fw.dropRight(1).mkString(" "), "a.com"),        // near_dup of 1
      (3L, fluent.toUpperCase + "!!!", "a.com"),           // exact_dup of 1 (normalized)
      (4L, "tiny short doc", "b.com"),                     // low_quality (3 tokens)
      (5L, null.asInstanceOf[String], "b.com"),            // empty
      (6L, (1 to 20).map(i => s"solo$i").mkString(" "), null) // kept, null source -> null split
    ).toDF("doc_id", "text", "source")
    val out = Curate.curate(docs)
      .as[(Long, String, String, String)].collect().map(r => r._1 -> r).toMap
    assert(out.size == 6)
    assert(out(1L)._2 == "kept" && out(1L)._3 != null && out(1L)._4 == fluent)
    assert(out(2L)._2 == "near_dup" && out(2L)._3 == null && out(2L)._4 == null)
    assert(out(3L)._2 == "exact_dup")
    assert(out(4L)._2 == "low_quality")
    assert(out(5L)._2 == "empty")
    assert(out(6L)._2 == "kept" && out(6L)._3 == null) // null coherence -> null split
    // numeric-id contract: a non-castable id fails fast, never vanishes
    val stringIds = Seq(("D007", "some text here", "a.com"))
      .toDF("doc_id", "text", "source")
    assertThrows[IllegalArgumentException](Curate.curate(stringIds).collect())
  }

  test("incrementalEmbeddingNearDup: min store match, novel pass, hot bucket flagged") {
    import spark.implicits._
    def oneHot(i: Int, eps: (Int, Float)*) = {
      val a = Array.fill(8)(0f); a(i) = 1f; eps.foreach { case (j, v) => a(j) = v }; a.toSeq
    }
    val twin = Seq(1f, 1f, 0f, 0f, 0f, 0f, 0f, 0f)
    val store = ((0 until 8).map(i => (i.toLong, oneHot(i)))
      :+ (40L, twin) :+ (41L, twin)).toDF("vec_id", "embedding")
    val batch = Seq(
      (100L, oneHot(0, 1 -> 0.05f)), // near-dup of store 0 (cos ~0.9988)
      (101L, oneHot(5)),             // exact copy of store 5
      (102L, twin),                  // matches both twins -> min id 40
      (200L, Seq.fill(8)(0.354f))    // ~equidistant from all: max cos ~0.5 -> novel
    ).toDF("vec_id", "embedding")
    val out = Dedup.incrementalEmbeddingNearDup(
        batch, Dedup.signEmbeddings(store), store)
      .as[(Long, Long, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(100L -> ((0L, 0)), 101L -> ((5L, 0)), 102L -> ((40L, 0))))
    // degenerate hot store bucket: capped at 8, overflow -> truncated=1
    val hot = (0L until 30L).map(i => (i, oneHot(2))).toDF("vec_id", "embedding")
    val hotOut = Dedup.incrementalEmbeddingNearDup(
        Seq((500L, oneHot(2))).toDF("vec_id", "embedding"),
        Dedup.signEmbeddings(hot), hot, maxBucket = 8)
      .as[(Long, Long, Int)].collect()
    assert(hotOut.toSeq == Seq((500L, 0L, 1)))
  }

  test("incrementalEmbeddingNearDup edges: empty batch, empty store, NULL embedding, dim mismatch") {
    import spark.implicits._
    def oneHot(i: Int) = { val a = Array.fill(8)(0f); a(i) = 1f; a.toSeq }
    val store = (0 until 4).map(i => (i.toLong, oneHot(i))).toDF("vec_id", "embedding")
    val storeSig = Dedup.signEmbeddings(store)
    // empty micro-batch (routine in continuous ingest): empty result, no
    // driver error from the dim probe
    val empty = spark.emptyDataset[(Long, Seq[Float])].toDF("vec_id", "embedding")
    assert(Dedup.incrementalEmbeddingNearDup(empty, storeSig, store).count() == 0)
    // empty STORE (very first micro-batch of an ingest): nothing can be a
    // duplicate — empty result, not a probe crash
    assert(Dedup.incrementalEmbeddingNearDup(
      Seq((9L, oneHot(0))).toDF("vec_id", "embedding"),
      storeSig.filter(lit(false)), store.filter(lit(false))).count() == 0)
    // NULL embedding: signBands parity — emits no signature rows, never a
    // candidate, never an NPE (even as the batch's FIRST row)
    val withNull = Seq((8L, null.asInstanceOf[Seq[Float]]), (9L, oneHot(1)))
      .toDF("vec_id", "embedding")
    val out = Dedup.incrementalEmbeddingNearDup(withNull, storeSig, store)
      .as[(Long, Long, Int)].collect()
    assert(out.toSeq == Seq((9L, 1L, 0)))
    // batch/store dimensionality mismatch fails LOUDLY (random bucketing +
    // prefix-cosine verification would otherwise lose recall silently)
    val wrongDim = Seq((7L, Seq.fill(16)(1f))).toDF("vec_id", "embedding")
    val ex = intercept[Exception](
      Dedup.incrementalEmbeddingNearDup(wrongDim, storeSig, store).collect())
    assert(ex.getMessage != null || ex.getCause != null)
  }

  test("ngramRepetition: hand-computed stats, tie-break, NULL text, short doc") {
    import spark.implicits._
    // "x y x y x z": 2-grams [x y, y x, x y, y x, x z] -> total 5, distinct 3,
    // dup 4 (both doubled grams, first occurrences included), top tie (x y, y x)
    // resolves lexicographically to "x y" (3 chars).
    // 3-grams [x y x, y x y, x y x, y x z] -> total 4, distinct 3, dup 2,
    // top "x y x" (5 chars). total_chars = 11.
    val docs = Seq(
      (1L, "x y x y x z"),
      (2L, null.asInstanceOf[String]), // NULL text -> all-zero rows
      (3L, "a"),                       // < n words -> all-zero rows
      // non-BMP: U+1D11E is ONE codepoint (two UTF-16 units); char counts
      // must be codepoints to match Spark/DuckDB length() semantics
      (4L, "𝄞x 𝄞x")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.ngramRepetition(docs)
      .as[(Long, Int, Int, Int, Int, Int, Int, Int)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    assert(out.size == 8) // every doc appears once per n
    assert(out((1L, 2)) == ((1L, 2, 11, 5, 3, 4, 2, 3)))
    assert(out((1L, 3)) == ((1L, 3, 11, 4, 3, 2, 2, 5)))
    assert(out((2L, 2)) == ((2L, 2, 0, 0, 0, 0, 0, 0)))
    assert(out((3L, 2)) == ((3L, 2, 1, 0, 0, 0, 0, 0)))
    assert(out((3L, 3)) == ((3L, 3, 1, 0, 0, 0, 0, 0)))
    // 5 codepoints total; one 2-gram "(g)x (g)x" of 5 codepoints
    assert(out((4L, 2)) == ((4L, 2, 5, 1, 1, 0, 1, 5)))
  }

  test("yieldCurve: per-score groups and cumulative survivors") {
    import spark.implicits._
    val scored = Seq(
      (1L, Some(10), 100), (2L, Some(10), 50), (3L, Some(20), 30),
      (4L, Some(5), 7),
      (5L, None, 999) // NULL score: unscoreable, survives no cut -> excluded
    ).toDF("doc_id", "score_c", "w")
    val out = TextAnalysis.yieldCurve(scored, "score_c", "w")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1)
    // ascending score, cumulative = everything at or below the threshold
    assert(out.toSeq == Seq(
      (5L, 1L, 7L, 1L, 7L),
      (10L, 2L, 150L, 3L, 157L),
      (20L, 1L, 30L, 4L, 187L)))
  }

  test("clusterSizeHistogram: exact family sizes and removal yield") {
    import spark.implicits._
    // clusters: {1,2} size 2, {3,4,5} size 3, {6,7} size 2
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L), (5L, 3L),
      (6L, 6L), (7L, 6L)).toDF("doc_id", "cluster_id")
    val out = Dedup.clusterSizeHistogram(clusters)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out == Map(2L -> ((2L, 2L)), 3L -> ((1L, 2L))))
  }

  test("dedupMediaPayloads: multi-hash ref resolves to one min canonical; NULL spans stay NULL") {
    import spark.implicits._
    import graft.core.Span
    val docs = Seq(
      ("d1", Seq(Span("media", null, "m2", 0))),
      ("d2", null.asInstanceOf[Seq[Span]])
    ).toDF("doc_id", "spans")
    // m2 appears under two hashes (re-ingested payload): h2's canon is m2
    // itself, hX's canon is m0 -> ONE mapping row, min canonical m0
    val media = Seq(("m2", "h2"), ("m2", "hX"), ("m0", "hX"))
      .toDF("media_ref", "content_hash")
    val out = Multimodal.dedupMediaPayloads(docs, media)
      .as[(String, Seq[Span], Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(out("d1") == ((Seq(Span("media", null, "m0", 0)), 1L))) // no fan-out
    assert(out("d2")._1 == null && out("d2")._2 == 0L) // NULL preserved
  }

  test("captionContrastiveNegatives: cyclic md5-order neighbor, wrap, same-doc flag") {
    import spark.implicits._
    val pairs = Seq(
      ("d1", "m1", "cap one"), ("d1", "m2", "cap two"),
      ("d2", "m3", "cap three"), ("d3", "m4", null),
      ("d2", "m3", "cap zero") // dup (doc, ref): min caption wins, no fan-out
    ).toDF("doc_id", "media_ref", "caption")
    val out = Multimodal.captionContrastiveNegatives(pairs)
      .as[(String, String, String, String, Int)].collect()
    assert(out.length == 3) // null caption excluded, dup pair collapsed
    // expected: cyclic next in md5(md5(doc)||md5(ref)) order
    val ordered = Seq(("d1", "m1", "cap one"), ("d1", "m2", "cap two"),
      ("d2", "m3", "cap three")).sortBy(p => md5Hex(md5Hex(p._1) + md5Hex(p._2)))
    val want = ordered.zipWithIndex.map { case ((d, m, c), i) =>
      val (nd, _, nc) = ordered((i + 1) % 3)
      (d, m, c, nc, if (d == nd) 1 else 0)
    }.toSet
    assert(out.toSet == want)
  }

  test("frameSample: stride selection, take-all path, error side-channel") {
    import spark.implicits._
    val payload = Multimodal.synthBytes("vid1") // byte 2 determines n_frames
    val nFrames = 8 + (payload(2) & 0x7f)
    val media = Seq(
      Multimodal.MediaIn("d1", "vid1", payload),
      Multimodal.MediaIn("d2", "bad", Array[Byte](1, 2)) // truncated -> error row
    ).toDS()
    val out = Multimodal.frameSample(media, k = 5).collect()
    val ok = out.filter(_.decode_error == null)
    assert(ok.length == 5 && ok.forall(_.n_frames == nFrames))
    // evenly spaced integer stride, strictly increasing, exact byte values
    assert(ok.sortBy(_.sample_rank).map(_.frame_idx).toSeq ==
      (0 until 5).map(i => i * nFrames / 5))
    assert(ok.forall(f => f.frame_byte == (payload(f.frame_idx % payload.length) & 0xff)))
    val err = out.filter(_.decode_error != null)
    assert(err.length == 1 && err.head.media_ref == "bad" && err.head.n_frames == -1)
    // take-all path: k >= n_frames emits every frame in order
    val all = Multimodal.frameSample(media.filter(_.media_ref == "vid1"), k = 1000)
      .collect().sortBy(_.sample_rank)
    assert(all.length == nFrames && all.map(_.frame_idx).toSeq == (0 until nFrames))
  }

  test("resizePlan: pass-through, integer aspect fit, floor at 1, error rows NULL") {
    import spark.implicits._
    val feats = Seq(
      ("d1", "a", 80, 96),    // inside the box: pass-through
      ("d2", "b", 191, 100),  // landscape: long side -> 96, short floors
      ("d3", "c", 100, 191),  // portrait
      ("d4", "d", -1, -1)     // decode-error row -> NULL out dims
    ).toDF("doc_id", "media_ref", "width", "height")
    val out = Multimodal.resizePlan(feats, maxDim = 96)
      .select("doc_id", "out_width", "out_height")
      .as[(String, Option[Int], Option[Int])].collect().sortBy(_._1)
    assert(out(0) == (("d1", Some(80), Some(96))))
    assert(out(1) == (("d2", Some(96), Some(100 * 96 / 191))))
    assert(out(2) == (("d3", Some(100 * 96 / 191), Some(96))))
    assert(out(3) == (("d4", None, None)))
  }

  test("bpePairStats: counts, tie-break cut, short and NULL docs contribute nothing") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),  // pairs: a b, b a, a b, b c
      (2L, "a"),          // single token: nothing
      (3L, null.asInstanceOf[String]),
      (4L, "b c")         // one pair: b c
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bpePairStats(docs, k = 2)
      .as[(String, Long)].collect().toSeq
    // counts: "a b" 2, "b c" 2, "b a" 1; top-2 cut by (count desc, pair asc)
    assert(out == Seq(("a b", 2L), ("b c", 2L)))
    // the tokenization must appear ONCE in the optimized plan: if
    // CollapseProject inlined _toks into the pair lambda, the regexp would
    // re-execute per pair index (quadratic per doc). repartition blocks
    // ConvertToLocalRelation from folding the regexp away entirely
    val plan = TextAnalysis.bpePairStats(docs.repartition(1), k = 2)
      .queryExecution.optimizedPlan.toString
    assert(plan.split("regexp_extract_all", -1).length - 1 == 1, plan)
  }

  test("termFrequencySpectrum: hand-computed frequency of frequencies") {
    import spark.implicits._
    // terms: a x3, b x2, c x2, d x1, e x1, f x1 -> spectrum {1:3, 2:2, 3:1}
    val docs = Seq(
      (1L, "a b c a"), (2L, "a b c d"), (3L, "e f"),
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.termFrequencySpectrum(docs)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(1L -> 3L, 2L -> 2L, 3L -> 1L))
  }

  test("bpeTrain: merge order, ties, greedy non-overlap, early stop") {
    import spark.implicits._
    // words: low x3, lower x1, aaa x2. Round-by-round (count desc, lhs,
    // rhs): (a,a)=4 ties (l,o)=4 and (o,w)=4 -> lexicographic; "aaa"
    // merges greedily to [aa, a]; training dries up after 6 merges.
    val docs = Seq((1L, "low low low lower aaa aaa")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeTrain(docs, nMerges = 10)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1, "a", "a", 4L), (2, "l", "o", 4L), (3, "lo", "w", 4L),
      (4, "aa", "a", 2L), (5, "e", "r", 1L), (6, "low", "er", 1L)))
  }

  test("bpeTrain: maxWords cap keeps the top words deterministically") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower aaa aaa")).toDF("doc_id", "text")
    // cap at 1 word: only "low" (count 3) survives the (count desc, term) cut
    val out = TextAnalysis.bpeTrain(docs, nMerges = 2, maxWords = 1)
      .as[(Int, String, String, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1, "l", "o", 3L), (2, "lo", "w", 3L)))
  }

  test("kmvMerge: store-of-sketches plus batch equals one sketch over the union") {
    import spark.implicits._
    val vals = (0 until 300).map(i => s"val$i")
    val (s1, s2, batch) = (vals.take(100), vals.slice(80, 200), vals.drop(180))
    val store = Sketch.kmvSketch(s1.toDF("v"), col("v"), 16)
      .unionByName(Sketch.kmvSketch(s2.toDF("v"), col("v"), 16))
    val merged = Sketch.kmvMerge(store, batch.toDF("v"), col("v"), 16)
      .as[(Long, Long, Long)].head()
    val direct = Sketch.kmvDistinct(vals.toDF("v"), col("v"), 16)
      .as[(Long, Long, Long)].head()
    assert(merged == direct)
  }

  test("bpeEncode: merge chaining, counts, NULL/empty docs, zero shuffle") {
    import spark.implicits._
    val merges = Seq(("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"))
    val docs = Seq(
      (1L, "the then in an"), // the->1, the|n->2, in->1, an->1
      (2L, null.asInstanceOf[String]),
      (3L, "   "),
      (4L, "xyz")) // no merges apply: 3 symbols
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeEncode(docs, merges)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq(
      (1L, 4L, 11L, 5L),
      (2L, 0L, 0L, 0L),
      (3L, 0L, 0L, 0L),
      (4L, 1L, 3L, 3L)))
    val plan = TextAnalysis.bpeEncode(docs, merges)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"shuffle in bpeEncode plan:\n$plan")
  }

  test("bpeEncode: lhs == rhs merges are greedy left-to-right non-overlapping") {
    import spark.implicits._
    val docs = Seq((1L, "aaaaa aaaa")).toDF("doc_id", "text")
    // aaaaa -> aa aa a (3); aaaa -> aa aa (2)
    val out = TextAnalysis.bpeEncode(docs, Seq(("a", "a")))
      .as[(Long, Long, Long, Long)].head()
    assert(out == ((1L, 2L, 9L, 5L)))
  }

  test("bpeEncode: greedy equals the oracle's double-replace fixpoint for lhs != rhs") {
    import spark.implicits._
    // the exact construction the q106 oracle uses, run in-process over
    // adversarial words (adjacent pattern chains that pass one of replace
    // misses), including merge interaction through earlier outputs
    val merges = Seq(("a", "b"), ("ab", "c"), ("e", "r"))
    def replayOracle(word: String): Int = {
      var s = "|" + word.map(_.toString).mkString("|") + "|"
      merges.foreach { case (l, r) =>
        val pat = s"|$l|$r|"; val rep = s"|$l$r|"
        s = s.replace(pat, rep).replace(pat, rep)
      }
      s.count(_ == '|') - 1
    }
    val rnd = new scala.util.Random(20260820)
    val alphabet = "abcer"
    val words = (0 until 400).map(_ =>
      (1 to (1 + rnd.nextInt(12))).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString) ++
      Seq("ababab", "abababab", "abcabc", "aabbcc", "ababcer", "abcababc")
    val docs = words.zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, merges)
      .select("doc_id", "n_bpe_tokens").as[(Long, Long)].collect().toMap
    words.zipWithIndex.foreach { case (w, i) =>
      assert(got(i.toLong) == replayOracle(w).toLong,
        s"greedy vs replace-fixpoint diverged on '$w'")
    }
  }

  test("bpeEncode: composes with bpeTrain's merge table") {
    import spark.implicits._
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val trained = TextAnalysis.bpeTrain(docs, nMerges = 2)
      .as[(Int, String, String, Long)].collect().sortBy(_._1)
      .map(m => (m._2, m._3)).toSeq
    val out = TextAnalysis.bpeEncode(docs, trained)
      .select("n_bpe_tokens").as[Long].head()
    // merges learned: (l,o)x5 then (lo,w)x5 -> low=1 sym, lower=3, newest=6
    assert(trained == Seq(("l", "o"), ("lo", "w")))
    assert(out == (1 + 1 + 1 + 3 + 3 + 6).toLong)
  }

  test("bpeFertility: per-language rollup with und docs counted") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat of the house is that it for a"), // en: 10 words
      (2L, "zz yy"), // und
      (3L, null.asInstanceOf[String])) // und, zero words
      .toDF("doc_id", "text")
    val out = TextAnalysis.bpeFertility(docs, Seq(("t", "h"), ("th", "e")))
      .as[(String, Long, Long, Long)].collect().sortBy(_._1).toSeq
    // doc1: the->1, cat->3, of->2, the->1, house->5, is->2, that->3 (th,a,t), it->2, for->3, a->1 = 23
    assert(out == Seq(
      ("en", 1L, 10L, 23L),
      ("und", 2L, 2L, 4L)))
  }

  test("boundedBuckets stress: one bucket 780x over cap completes, exact cap + truncated=1") {
    import spark.implicits._
    // 50,000 IDENTICAL docs collapse every one of the 16 band keys into a
    // single bucket holding all 50k ids — ~780x the 64-id cap, the
    // executor-OOM shape a raw groupBy+collect_list would hit at corpus
    // scale. Contract under that skew: the job COMPLETES with a bounded
    // aggregation buffer (row_number ranks and drops rows on the same
    // shuffle key BEFORE any collect_list, so no buffer ever holds more
    // than maxBucket ids), the surviving ids are exactly the smallest 64,
    // and the overflow is surfaced as truncated=1 — never silent.
    val docs = (0L until 50000L).map(id => (id, "aa bb cc dd ee ff gg hh"))
      .toDF("doc_id", "text").repartition(8)
    val buckets = Dedup.boundedBuckets(Dedup.signBands(docs), "doc_id", maxBucket = 64)
    val plan = buckets.queryExecution.optimizedPlan.toString
    assert(plan.contains("row_number"), plan.take(3000))
    assert(!plan.matches("(?s).*collect_list\\(doc_id.*"),
      "collect_list aggregates the raw unbounded bucket:\n" + plan.take(3000))
    val rows = buckets.select("ids", "truncated").as[(Seq[Long], Int)].collect()
    assert(rows.length == 16, s"expected one capped row per band, got ${rows.length}")
    assert(rows.forall { case (ids, tr) => ids == (0L until 64L) && tr == 1 },
      rows.take(2).mkString("; "))
    // end-to-end through the verified-pairs consumer: C(64,2) pairs of the
    // smallest ids, nothing else, no failure
    assert(Dedup.minhashLsh(docs).count() == 64L * 63 / 2)
  }

  test("removeDuplicatedCharRuns: cross-token boilerplate excised exactly; self-repeat; short/null intact") {
    import spark.implicits._
    val boiler = "XCOPYRIGHT-2026-CORPX" // 21 chars, repeated across docs 1 and 2
    val docs = Seq(
      (1L, "unique-one " + boiler + " tail-one"),
      (2L, "second-prefix " + boiler + " second-tail"),
      (3L, "totally unrelated text here"),
      (4L, "ABCDEFGHIJABCDEFGHIJ"), // within-doc period-10 self-repeat
      (5L, "tiny"),                 // shorter than l: untouchable
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedCharRuns(docs, l = 10)
      .as[(Long, String, Long, Long)].collect().map(r => r._1 -> r).toMap
    // the repeated run is boiler PLUS its flanking spaces (both docs have
    // space-boiler-space, so windows straddling onto either space repeat
    // too — exactly the mid-token-boundary sensitivity this operator adds
    // over the word-n-gram pass); the distinct prefix/tail chars survive
    assert(out(1L) == ((1L, "unique-onetail-one", 41L, 23L)), out(1L).toString)
    assert(out(2L) == ((2L, "second-prefixsecond-tail", 47L, 23L)), out(2L).toString)
    assert(out(3L) == ((3L, "totally unrelated text here", 27L, 0L)))
    // window 1 == window 11 -> covered [1,10] + [11,20] = the whole doc
    assert(out(4L) == ((4L, "", 20L, 20L)))
    assert(out(5L) == ((5L, "tiny", 4L, 0L)))
    assert(out(6L) == ((6L, "", 0L, 0L)))
  }

  test("curateIncremental: store-first fates; store append is replay-idempotent") {
    import spark.implicits._
    def words(i: Int): String = (0 until 20).map(j => s"w${i}_$j").mkString(" ")
    def oneHot(i: Int, sign: Float): Seq[Float] =
      Seq.tabulate(8)(d => if (d == i % 8) sign else 0f)

    // standing corpus: 10 long unique-vocabulary docs + their stores
    val store = (0 until 10).map(i => (i.toLong, words(i))).toDF("doc_id", "text")
    val hashStore = store.select(md5(Dedup.normalizeForDedup(col("text"))).as("text_hash"))
    val sigStore = Dedup.signBands(store)
    val embStore = (0 until 10).map(i => (i.toLong, oneHot(i, 1f))).toDF("vec_id", "embedding")
    val embSigStore = Dedup.signEmbeddings(embStore)

    // today's batch: one doc per fate
    val batch = Seq(
      (100L, words(0)),                                        // exact store copy
      (101L, words(1).toUpperCase + "!!!"),                    // normalized store copy
      (102L, words(50)), (103L, words(50)),                    // within-batch mirror: 102 wins
      (104L, words(2).split(" ").dropRight(1).mkString(" ")),  // near-dup of store 2
      (105L, words(51)),                                       // family winner (longer)
      (106L, words(51).split(" ").dropRight(1).mkString(" ")), // within-batch near-dup loser
      (107L, "tiny text"),                                     // low quality
      (108L, null.asInstanceOf[String]),                       // empty
      (109L, "contact bob@example.com " + words(52)),          // kept, scrubbed
      (110L, words(53))                                        // emb-dup of store vec 5
    ).toDF("doc_id", "text").withColumn("source", concat(lit("src"), col("doc_id") % 3))
    val batchEmb = Seq(110L -> Seq(0.05f, 0f, 0f, 0f, 0f, 1f, 0f, 0f))
      .toDF("vec_id", "embedding")
      .unionAll((100L to 109L).map(i => (i, oneHot(i.toInt, -1f))).toDF("vec_id", "embedding"))

    val r1 = Curate.curateIncremental(batch, hashStore, sigStore, store,
      expectedBatchItems = 16, batchEmb = Some(batchEmb),
      embSigStore = Some(embSigStore), embStoreVecs = Some(embStore))
    val fates1 = r1.docs.select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(fates1 == Map(
      100L -> "exact_dup", 101L -> "exact_dup", 102L -> "kept",
      103L -> "exact_dup", 104L -> "near_dup", 105L -> "kept",
      106L -> "near_dup", 107L -> "low_quality", 108L -> "empty",
      109L -> "kept", 110L -> "emb_dup"), fates1.toString)
    val kept109 = r1.docs.filter(col("doc_id") === 109L).select("text").as[String].head()
    assert(kept109.startsWith("contact <EMAIL> "), kept109)
    assert(r1.docs.filter(col("status") === "kept").filter(col("split").isNull).isEmpty)
    assert(r1.textDelta.select("doc_id").as[Long].collect().toSet == Set(102L, 105L, 109L))
    assert(r1.hashDelta.count() == 3 && r1.embVecDelta.get.count() == 3)

    // append the deltas and REPLAY the identical batch: every former
    // keeper is now an exact store hit, every other fate is unchanged
    // (106 flips from within-batch to vs-store near-dup — same status),
    // and nothing new enters the store
    val r2 = Curate.curateIncremental(batch,
      hashStore.unionAll(r1.hashDelta.select("text_hash")), sigStore.unionAll(r1.sigDelta),
      store.unionAll(r1.textDelta),
      expectedBatchItems = 16, batchEmb = Some(batchEmb),
      embSigStore = Some(embSigStore.unionAll(r1.embSigDelta.get)),
      embStoreVecs = Some(embStore.unionAll(r1.embVecDelta.get)))
    val fates2 = r2.docs.select("doc_id", "status").as[(Long, String)].collect().toMap
    assert(fates2 == fates1.map { case (id, st) =>
      id -> (if (st == "kept") "exact_dup" else st) }, fates2.toString)
    assert(r2.hashDelta.isEmpty && r2.sigDelta.isEmpty && r2.textDelta.isEmpty)
    assert(r2.embSigDelta.get.isEmpty && r2.embVecDelta.get.isEmpty)
  }

  test("removeDuplicatedCharRuns property: length bookkeeping exact; doubled docs vanish; unique corpus untouched (100 random docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    // random texts over a tiny alphabet -> plenty of natural stride-1
    // repeats; every third doc is committed twice under two ids so its
    // FULL text is corpus-duplicated
    val base = (0 until 100).map { i =>
      val len = 30 + rnd.nextInt(120)
      (i.toLong, (0 until len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString)
    }
    val docs = (base ++ base.filter(_._1 % 3 == 0)
      .map { case (id, t) => (id + 1000L, t) }).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedCharRuns(docs, l = 12)
      .as[(Long, String, Long, Long)].collect()
    assert(out.length == 134)
    // bookkeeping: n_chars - n_removed == len(text_deduped), bounds sane
    assert(out.forall { case (_, t, n, r) => n - r == t.length && r >= 0 && r <= n })
    // a doc whose text exists verbatim under another id is fully covered
    // (every window of it occurs >= twice) -> comes back empty, both copies
    val doubledIds = base.filter(_._1 % 3 == 0).flatMap(p => Seq(p._1, p._1 + 1000L)).toSet
    assert(out.filter(o => doubledIds(o._1)).forall(_._2.isEmpty))
    // a corpus of globally-unique texts with no internal repeats under l
    // comes back verbatim: disjoint alphabets per doc, aperiodic content
    val unique = (0 until 20).map(i =>
      (i.toLong, (0 until 50).map(j => ('a' + (i * 7 + j * j) % 26).toChar).mkString + s"#$i"))
      .toDF("doc_id", "text")
    val u = Dedup.removeDuplicatedCharRuns(unique, l = 40)
      .as[(Long, String, Long, Long)].collect()
    assert(u.length == 20 && u.forall(_._4 == 0L), u.filter(_._4 > 0).mkString("; "))
  }

  test("mergeShards: merged shards == one-shot index; truncation and one-sided terms exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vocab = Seq("alpha", "beta", "gamma", "hot", "rare")
    // 'hot' in every doc (forces truncation at cap 4), 'rare' only in the
    // second shard, the rest random — 12 docs split into disjoint halves
    val docs = (0 until 12).map { i =>
      val ws = Seq("hot") ++ (0 until 6).map(_ => vocab(rnd.nextInt(3))) ++
        (if (i >= 6 && i % 3 == 0) Seq("rare") else Seq.empty)
      (i.toLong, ws.mkString(" "))
    }.toDF("doc_id", "text")
    val cap = 4
    val merged = IndexBuild.mergeShards(
      IndexBuild.invertedIndex(docs.filter(col("doc_id") < 6), cap),
      IndexBuild.invertedIndex(docs.filter(col("doc_id") >= 6), cap), cap)
      .as[(String, Long, Long, String, Int)].collect().toSet
    val oneShot = IndexBuild.invertedIndex(docs, cap)
      .as[(String, Long, Long, String, Int)].collect().toSet
    assert(merged == oneShot, s"merged=$merged\noneShot=$oneShot")
    val hot = merged.find(_._1 == "hot").get
    assert(hot._2 == 12L && hot._5 == 1 && hot._4.split(",").length == cap)
    assert(merged.find(_._1 == "rare").get._5 == 0)
    // overlapping shards violate the disjointness contract -> fail fast,
    // never silently double-counted df
    val e = intercept[org.apache.spark.SparkException] {
      IndexBuild.mergeShards(
        IndexBuild.invertedIndex(docs.filter(col("doc_id") < 8), cap),
        IndexBuild.invertedIndex(docs.filter(col("doc_id") >= 6), cap), cap).count()
    }
    assert(e.getMessage.contains("disjoint") ||
      Option(e.getCause).exists(_.getMessage.contains("disjoint")), e.getMessage.take(500))
  }

  test("incrementalSimhash: exact copy at hamming 0; mutation matches iff within 3 bits; novel absent") {
    import spark.implicits._
    val store = (0 until 20).map(i =>
      (i.toLong, (0 until 40).map(j => s"s${i}_$j").mkString(" "))).toDF("doc_id", "text")
    val storeSims = Dedup.simhash(store).select("doc_id", "simhash")
    val mutated = store.filter(col("doc_id") === 5L)
      .select(lit(101L).as("doc_id"),
        concat(col("text"), lit(" extraword")).as("text"))
    val batch = store.filter(col("doc_id") === 3L)
      .select(lit(100L).as("doc_id"), col("text"))     // exact copy of store 3
      .unionAll(mutated)                               // one-word append to store 5
      .unionAll(Seq((102L, (0 until 40).map(j => s"novel_$j").mkString(" ")))
        .toDF("doc_id", "text"))                       // unrelated
    val out = Dedup.incrementalSimhash(batch, storeSims)
      .as[(Long, Long, Int, Int)].collect().map(r => r._1 -> r).toMap
    assert(out(100L) == ((100L, 3L, 0, 0)))
    // the mutation's distance is deterministic: compute it independently
    // and assert presence/absence accordingly (pigeonhole recall is exact)
    val sims = Dedup.simhash(batch.unionAll(store))
      .select("doc_id", "simhash").as[(Long, Long)].collect().toMap
    val d = java.lang.Long.bitCount(sims(101L) ^ sims(5L))
    if (d <= 3) assert(out(101L) == ((101L, 5L, d, 0)), s"d=$d ${out.get(101L)}")
    else assert(!out.contains(101L), s"d=$d")
    assert(!out.contains(102L))
  }

  test("daily ingest e2e: curateIncremental + SnapshotTable stores + maintain across three days") {
    import spark.implicits._
    import graft.spark.{Pipeline, SnapshotTable}
    def words(i: Int): String = (0 until 20).map(j => s"d${i}_$j").mkString(" ")
    val root = java.nio.file.Files.createTempDirectory("graft-ingest").toString
    val (hashDir, sigDir, textDir) = (s"$root/hash", s"$root/sig", s"$root/text")
    def stores() = (
      SnapshotTable.read(spark, hashDir)
        .getOrElse(Seq.empty[String].toDF("text_hash")),
      SnapshotTable.read(spark, sigDir)
        .getOrElse(Seq.empty[(Long, Long)].toDF("doc_id", "bucket")),
      SnapshotTable.read(spark, textDir)
        .getOrElse(Seq.empty[(Long, String)].toDF("doc_id", "text")))
    def ingest(batch: org.apache.spark.sql.DataFrame) = {
      val (h, sg, tx) = stores()
      val r = Curate.curateIncremental(batch, h, sg, tx, expectedBatchItems = 16)
      SnapshotTable.commit(r.hashDelta, hashDir)
      SnapshotTable.commit(r.sigDelta, sigDir)
      SnapshotTable.commit(r.textDelta, textDir)
      r.docs.select("doc_id", "status").as[(Long, String)].collect().toMap
    }

    // day 1 against EMPTY stores (the very first crawl needs no bootstrap)
    val day1 = Seq(
      (1L, words(1)), (2L, words(2)), (3L, words(3)), (4L, words(4)),
      (5L, words(1)),   // within-batch exact dup of 1
      (6L, "too short") // low quality, never enters the store
    ).toDF("doc_id", "text").withColumn("source", concat(lit("s"), col("doc_id") % 2))
    assert(ingest(day1) == Map(1L -> "kept", 2L -> "kept", 3L -> "kept",
      4L -> "kept", 5L -> "exact_dup", 6L -> "low_quality"))
    assert(SnapshotTable.committedRows(spark, hashDir) == 4)

    // day 2: yesterday's keepers police today's crawl
    val day2 = Seq(
      (11L, words(2)),                                       // exact dup vs store
      (12L, words(3).split(" ").dropRight(1).mkString(" ")), // near dup vs store
      (13L, words(13)),                                      // novel -> kept
      (14L, "too short")                                     // same fate as day 1, still not stored
    ).toDF("doc_id", "text").withColumn("source", concat(lit("s"), col("doc_id") % 2))
    assert(ingest(day2) == Map(11L -> "exact_dup", 12L -> "near_dup",
      13L -> "kept", 14L -> "low_quality"))
    assert(SnapshotTable.committedRows(spark, hashDir) == 5)
    assert(SnapshotTable.read(spark, sigDir).get.count() == 5 * 16) // 16 bands per keeper

    // housekeeping between runs: compact the one-row-per-key stores (hash
    // keyed by text_hash, texts by doc_id) and vacuum the append-only band
    // store (its live manifest references every file -> no data loss)
    val before = stores() match { case (h, sg, tx) =>
      (h.select("text_hash").as[String].collect().toSet,
        sg.as[(Long, Long)].collect().toSet,
        tx.as[(Long, String)].collect().toSet) }
    Pipeline.maintain(spark, hashDir, keyCol = "text_hash", olderThanMs = 0)
    Pipeline.maintain(spark, textDir, olderThanMs = 0)
    SnapshotTable.vacuum(spark, sigDir, keepLast = 1, olderThanMs = 0)
    assert(stores() match { case (h, sg, tx) =>
      h.select("text_hash").as[String].collect().toSet == before._1 &&
        sg.as[(Long, Long)].collect().toSet == before._2 &&
        tx.as[(Long, String)].collect().toSet == before._3 })

    // day 3 = day 2 replayed against the maintained stores: every former
    // keeper is now a store hit, nothing new enters any store
    assert(ingest(day2) == Map(11L -> "exact_dup", 12L -> "near_dup",
      13L -> "exact_dup", 14L -> "low_quality"))
    assert(SnapshotTable.committedRows(spark, hashDir) == 5)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
}
