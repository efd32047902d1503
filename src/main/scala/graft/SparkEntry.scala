package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.ExtractedDoc
import graft.gen.{SpanGen, Synth}
import graft.ops.{Dedup, IndexBuild, Multimodal, Sampling, Similarity, Sketch, TextAnalysis, WebOps}
import graft.spark.{Checker, Pipeline, TextFunctions}

/** Driver contract: every operator of SURVEY.md §2 surfaces here as a named
  * query, with an ANSI-SQL DuckDB oracle over the same parquet tables
  * wherever the semantics are SQL-expressible. The synthetic span corpus is
  * a closed-form function of `documents` rows (gen.Synth), so the oracles
  * state the EXPECTED extraction output directly — the whole
  * parse -> clean -> extract path must reproduce them.
  */
object SparkEntry {

  val IndexDate: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  // ---------------------------------------------------------------- helpers

  /** Extraction of the well-formed corpus restricted to formats (pushed to
    * the parquet scan via the doc_id % 10 predicate before synthesis).
    */
  private def extractFmt(s: SparkSession, dir: String, codes: Seq[Int]): DataFrame = {
    import s.implicits._
    // column-expression filter BEFORE the typed map so it reaches the
    // parquet scan as a pushed predicate (a lambda filter would not).
    // The repartition unlocks scan-decoupled parallelism for the
    // CPU-heavy synth+extract downstream: the base parquet is a single
    // row group, so byte-based splits give the whole corpus to ~1 task
    // (guide §2.5 "input skew: repartition right after the read") — the
    // shuffle moves only the tiny pre-synthesis text rows, and the core
    // count derives from the session (scale-adaptive), not a constant.
    // Output-invisible: extraction is a pure per-row function and no
    // declared query selects the physical part_id column.
    val docs = SpanGen.documents(s, dir)
      .where(pmod(col("doc_id"), lit(10)).isin(codes: _*))
      .repartition(s.sparkContext.defaultParallelism)
      .map(r => Synth.doc(r.doc_id, r.text, r.source))
    val checked = docs.toDF()
      .withColumn("update_reason", lit("NOT_EXTRACTED_BEFORE"))
      .withColumn("route", when(col("format") === "pdf", "PDF").otherwise("Standard"))
    Pipeline.extractStageNative(checked, IndexDate, "verify")
  }

  private def spansOf(df: DataFrame): DataFrame =
    df.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("s.offset").as("span_offset"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))

  /** duplicate-detection universe: docs id<200 plus near-identical mutations
    * (last word dropped) at id+1000000.
    */
  private def dedupUniverse(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 200).select("doc_id", "text")
    val words = ops.TextAnalysis.words(col("text"))
    val mutated = base
      .withColumn("text", concat_ws(" ", slice(words, lit(1), size(words) - 1)))
      .withColumn("doc_id", col("doc_id") + 1000000L)
    base.unionAll(mutated)
  }

  /** chain-mutation universe shared by the cluster-family gates: docs
    * id < 60 plus drop-1-word (+1e6) and drop-2-word (+2e6) mutations, so
    * transitive closure is exercised (base<->m2 connects through m1).
    */
  private def chainUniverse(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 60).select("doc_id", "text")
    val words = ops.TextAnalysis.words(col("text"))
    def dropK(k: Int, off: Long) = base
      .withColumn("text", concat_ws(" ", slice(words, lit(1), size(words) - k)))
      .withColumn("doc_id", col("doc_id") + off)
    base.unionAll(dropK(1, 1000000L)).unionAll(dropK(2, 2000000L))
  }

  /** A deliberately quadratic verification subtree shared by several gates,
    * built once per (session, dir): the frame is `localCheckpoint`ed and
    * registered as a temp view in the session's own catalog, so a second
    * gate reads the view instead of re-running the planted-universe
    * `ngramJaccardPairs` scan (rebuilding it per gate made q55/q79/q92 3-9x
    * slower at sf0.1 on a 4-CPU host), and the checkpoint lives and dies
    * with the session. A new session (`spark.newSession()`) starts cold.
    */
  private def shared(s: SparkSession, dir: String, name: String)(build: => DataFrame): DataFrame = {
    val view = s"graft_shared_${name}_" +
      java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8")).toString.replace("-", "")
    if (!s.catalog.tableExists(view)) build.localCheckpoint(eager = true).createOrReplaceTempView(view)
    s.table(view)
  }

  /** shared q15/q79 subtree: Jaccard pair verification over [[dedupUniverse]]. */
  private def dedupUniversePairs(s: SparkSession, dir: String): DataFrame =
    shared(s, dir, "dedup_universe_pairs")(Dedup.ngramJaccardPairs(dedupUniverse(s, dir)))

  /** shared q36/q55/q92 subtree: connected components over [[chainUniverse]] pairs. */
  private def chainClusters(s: SparkSession, dir: String): DataFrame =
    shared(s, dir, "chain_clusters")(
      Dedup.duplicateClusters(Dedup.ngramJaccardPairs(chainUniverse(s, dir))))

  /** First-component +0.05 float perturbation — the load-bearing half of a
    * cross-engine contract: it must stay bit-identical to the oracle's
    * `list_concat([(embedding[1] + 0.05::FLOAT)::FLOAT], embedding[2:])`,
    * so every near-dup universe (q33/q41 family, q95) plants mutations
    * through this ONE helper.
    */
  private def perturbFirstComponent(df: DataFrame): DataFrame =
    df.withColumn("embedding", concat(
      array((col("embedding")(0) + lit(0.05f)).cast("float")),
      slice(col("embedding"), lit(2), size(col("embedding")) - 1)))

  /** embedding near-dup universe: base vectors (vec_id < 200) plus planted
    * near-duplicates at id+1000000 (first component +0.05, float arithmetic
    * — bit-identical to the oracle's `(embedding[1] + 0.05::FLOAT)::FLOAT`).
    */
  private def embNearDupUniverse(s: SparkSession, dir: String): DataFrame = {
    val base = s.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 200).select("vec_id", "embedding")
    val mutated = perturbFirstComponent(base)
      .withColumn("vec_id", col("vec_id") + 1000000L)
    base.unionAll(mutated)
  }

  // ------------------------------------------------------------ entry point

  /** Flagship: the full pipeline (checker join -> needs-update filter ->
    * FORCE_TO_SEND recovery -> extraction) on the checker corpus.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val input = SpanGen.checkerDocs(spark, dir).toDF()
    val prev = SpanGen.prevState(spark, dir)
    Pipeline.run(spark, input, prev, prevExtracted = None,
      IndexDate, runId = "entry").toDF()
  }

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- extraction per format (E1-E11) ---
    "q01_extract_txt" -> ((s, dir) =>
      extractFmt(s, dir, Seq(0, 1, 2)).select("doc_id", "fulltext")),

    "q02_extract_xml" -> ((s, dir) =>
      extractFmt(s, dir, Seq(3, 4)).select("doc_id", "fulltext", "acknowledgements")),

    "q03_extract_xml_lists" -> ((s, dir) =>
      extractFmt(s, dir, Seq(3, 4)).toDF()
        .select(col("doc_id"), col("dataset")(0).as("dataset_ref"), col("facility")(0).as("facility_ref"))),

    "q04_extract_elsevier" -> ((s, dir) =>
      extractFmt(s, dir, Seq(5)).select("doc_id", "fulltext", "acknowledgements")),

    "q05_extract_tei" -> ((s, dir) =>
      extractFmt(s, dir, Seq(6)).select("doc_id", "fulltext", "acknowledgements")),

    "q06_extract_html" -> ((s, dir) =>
      extractFmt(s, dir, Seq(7)).select("doc_id", "fulltext")),

    "q07_extract_pdf" -> ((s, dir) =>
      extractFmt(s, dir, Seq(8, 9)).select("doc_id", "fulltext")),

    // --- interleaved span model (the graft invariant) ---
    "q08_spans_xml" -> ((s, dir) => spansOf(extractFmt(s, dir, Seq(3, 4)))),

    "q09_spans_pdf" -> ((s, dir) => spansOf(extractFmt(s, dir, Seq(8, 9)))),

    // --- multi-file concatenation (S4/A2) ---
    "q10_multipart_txt" -> ((s, dir) => {
      import s.implicits._
      val docs = SpanGen.multipartTxtDocs(s, dir)
      val checked = docs.toDF()
        .withColumn("update_reason", lit("NOT_EXTRACTED_BEFORE"))
        .withColumn("route", lit("Standard"))
      Pipeline.extractStageNative(checked, IndexDate, "verify").select("doc_id", "fulltext")
    }),

    // --- checker (C1-C9 / A1) ---
    "q11_checker_reasons" -> ((s, dir) =>
      Checker.classify(SpanGen.checkerDocs(s, dir).toDF(), SpanGen.prevState(s, dir))
        .select("doc_id", "update_reason", "route")),

    "q12_checker_counts" -> ((s, dir) =>
      Checker.filterNeedsUpdate(
        Checker.classify(SpanGen.checkerDocs(s, dir).toDF(), SpanGen.prevState(s, dir)))
        .groupBy("update_reason", "route").agg(count(lit(1)).as("n"))),

    // --- checkpoint/resume (S6/Q2) ---
    "q13_resume" -> ((s, dir) => {
      val input = SpanGen.docs(s, dir).toDF()
      val committed = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") % 3 === 0)
        .select(format_string("D%09d", col("doc_id")).as("doc_id"))
      Pipeline.resume(input, committed).select("doc_id")
    }),

    // --- dedup family ---
    "q14_dedup_exact" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val uni = base.unionAll(base.withColumn("doc_id", col("doc_id") + 10000000L))
      Dedup.exact(uni)
    }),

    "q15_dedup_jaccard" -> ((s, dir) =>
      dedupUniversePairs(s, dir).select("doc_a", "doc_b")),

    // normalization-aware exact dedup: uppercase + punctuation mirror
    // copies collapse to their source's group (the raw-byte hash misses
    // them); q14's output shape over the canonical form
    "q93_dedup_normalized" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 100).select("doc_id", "text")
      val uni = base.unionAll(base
        .withColumn("text", concat(upper(col("text")), lit("!!!")))
        .withColumn("doc_id", col("doc_id") + 1000000L))
      Dedup.exactNormalized(uni)
    }),

    "q16_dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLsh(dedupUniverse(s, dir)).select("doc_a", "doc_b")),

    // near-dup graph -> connected components -> canonical representative:
    // chained mutations (drop 1 / drop 2 words) form multi-hop clusters, so
    // transitive closure is actually exercised (short docs lose the
    // base<->m2 edge but stay connected through m1)
    "q36_dup_clusters" -> ((s, dir) => chainClusters(s, dir)),

    // the one-call curation capstone over a universe planting every fate:
    // chain mutations (near_dup), upper+punct mirrors (exact_dup),
    // naturally short docs (low_quality), planted PII on %7 (scrubbed in
    // the kept output), domain-coherent splits on source
    "q94_curate" -> ((s, dir) => {
      val raw = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 60).select("doc_id", "text", "source")
      val base = raw.withColumn("text",
        when(col("doc_id") % 7 === 0,
          concat(lit("contact bob@example.com "), col("text")))
          .otherwise(col("text")))
      val words = ops.TextAnalysis.words(col("text"))
      def dropK(k: Int, off: Long) = base
        .withColumn("text", concat_ws(" ", slice(words, lit(1), size(words) - k)))
        .withColumn("doc_id", col("doc_id") + off)
      val mirror = base.filter(col("doc_id") < 30)
        .withColumn("text", concat(upper(col("text")), lit("!!!")))
        .withColumn("doc_id", col("doc_id") + 3000000L)
      val uni = base.unionAll(dropK(1, 1000000L)).unionAll(dropK(2, 2000000L))
        .unionAll(mirror)
      graft.ops.Curate.curate(uni)
    }),

    // cluster-size histogram over the q36 chain universe: how many dup
    // families at each size, and the keep-one-per-cluster removal yield
    "q92_cluster_histogram" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(chainClusters(s, dir))),

    "q17_simhash" -> ((s, dir) =>
      Dedup.simhash(s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))
        .select("doc_id", "simhash")),

    // --- similarity search ---
    "q18_knn_cosine" -> ((s, dir) =>
      Similarity.bruteKnn(s.read.parquet(s"$dir/embeddings.parquet"), 0L until 20L, 3)),

    // IVF at nProbe == nCentroids is exact -> shares the brute-force oracle;
    // the partial-probe approximation is recall-tested in OpsSpec
    "q34_ivf_ann" -> ((s, dir) =>
      Similarity.ivfAnn(s.read.parquet(s"$dir/embeddings.parquet"), 0L until 20L, 3,
        nCentroids = 16, nProbe = 16)),

    // --- text analysis ---
    "q19_lang_id" -> ((s, dir) =>
      TextAnalysis.langId(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "lang_pred")),

    "q20_quality" -> ((s, dir) =>
      TextAnalysis.quality(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "n_tokens", "n_chars_obs", "long_tokens", "stop_hits", "quality_bucket")),

    "q21_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "ws_tokens", "bpe_tokens")),

    "q22_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "fingerprint")),

    // --- scalar kernels as native SQL functions (E8/E9, §2.7) ---
    "q25_clean_text" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextFunctions.cleanText(
          concat(lit("A\u0001B\u00a0"), col("text"), lit(" "), lit("x" * 150)))
          .as("cleaned"))),

    // samples across the full 1881-entry table: HTML core (with the
    // reference's no-amp/no-lt quirk), numeric/unknown removal, and the
    // ISO/SGML tail (isogrk Omega, isoamsa angmsd, isocyr1 Pcy, and the
    // combining-pair value of nsubseteqq)
    "q26_convert_entities" -> ((s, dir) =>
      s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), TextFunctions.convertEntities(
          concat(lit("&amp;A &lt;b&gt; &#65; &bogus; &Omega; &angmsd; &Pcy; &nsubseteqq; "), col("text")))
          .as("converted"))),

    // --- facility NER side stage (E13) ---
    "q24_facility_ner" -> ((s, dir) =>
      graft.ops.FacilityNer.identify(extractFmt(s, dir, Seq(3, 4)))
        .select(col("doc_id"), explode(col("facilities")).as("facility_ner"))),

    // --- counter metrics / summary (A5) ---
    "q23_format_media_stats" -> ((s, dir) => {
      val ex = extractFmt(s, dir, 0 to 9)
      ex.groupBy("format")
        .agg(count(lit(1)).as("n_docs"),
          sum(size(filter(col("spans"), x => x.getField("kind") === "media"))).as("n_media"))
    }),

    // --- sink-time counter metrics as data (A5: observe() rides the sink
    //     action, no second pass; the returned table is the metrics table) ---
    "q35_sink_metrics" -> ((s, dir) => {
      val input = SpanGen.checkerDocs(s, dir).toDF()
      val prev = SpanGen.prevState(s, dir)
      val out = Pipeline.run(s, input, prev, None, IndexDate, "q35").toDF()
      val (observed, obs) = Pipeline.observeMetrics(out)
      val sink = java.nio.file.Files.createTempDirectory("graft-q35").toString
      observed.write.mode("overwrite").parquet(s"$sink/out")
      Pipeline.metricsFrame(s, obs.get)
    }),

    "q30_pipeline_full" -> ((s, dir) => {
      val input = SpanGen.checkerDocs(s, dir).toDF()
      val prev = SpanGen.prevState(s, dir)
      Pipeline.run(s, input, prev, None, IndexDate, "q30").toDF()
        .select("doc_id", "update_reason", "fulltext", "error")
    }),

    // md5-derived hyperplanes make the bucket assignment (and so the
    // candidate set and ranking) reproducible in the SQL oracle
    "q31_ann_lsh" -> ((s, dir) =>
      Similarity.lshAnn(s.read.parquet(s"$dir/embeddings.parquet"), 0L until 20L, 3)),

    // md5-derived synthetic payloads make width/height closed-form in SQL
    "q32_multimodal_features" -> ((s, dir) => {
      val media = Multimodal.mediaTable(extractFmt(s, dir, Seq(3, 4, 7, 8, 9)))
      Multimodal.extractFeatures(media).toDF()
        .select("doc_id", "media_ref", "width", "height", "n_bytes")
    }),

    // stateful streaming assembly run in BATCH mode (same code path as the
    // stream; cross-batch arrival is covered by MultipartStreamingSpec).
    // Parts are emitted OUT OF ORDER (index 1 before 0) so the gated output
    // pins arrival-order independence.
    "q37_multipart_assembly" -> ((s, dir) => {
      import s.implicits._
      val parts = s.read.parquet(s"$dir/documents.parquet")
        .filter(pmod(col("doc_id"), lit(10)) < 2)
        .select(col("doc_id"), col("text")).as[(Long, String)]
        .flatMap { case (id, text) =>
          val (a, b) = Synth.splitWords(text)
          val key = Synth.key(id)
          Seq(
            graft.streaming.MultipartAssembly.PartRow(key, "txt", "ADS", Synth.sourcePath(id), 1, 2, b),
            graft.streaming.MultipartAssembly.PartRow(key, "txt", "ADS", Synth.sourcePath(id), 0, 2, a))
        }
      graft.streaming.MultipartAssembly.assemble(parts).toDF()
        .select(col("doc_id"), col("complete"),
          col("spans")(0)("text").as("part0"), col("spans")(1)("text").as("part1"))
    }),

    // event-time windowed counters in BATCH mode (watermark is a no-op on
    // batch; streaming finalization is covered by MultipartStreamingSpec).
    // Window starts surface as epoch seconds to keep the compare numeric.
    "q38_windowed_metrics" -> ((s, dir) => {
      val d = SpanGen.docs(s, dir).toDF()
        .withColumn("error",
          when(pmod(expr("cast(substring(doc_id, 2) as long)"), lit(31)) === 0, lit("planted"))
            .otherwise(lit(null).cast("string")))
        .select(col("format"), col("error"), col("src_mtime").as("event_time"))
      graft.streaming.StreamingMetrics.windowedMetrics(d, "event_time", "1 day", "1 minute")
        .select(unix_timestamp(col("window_start")).as("window_start_epoch"),
          col("format"), col("n_extracted"), col("n_errored"))
    }),

    // PII planted deterministically from doc_id on ~1/7 of docs: the scrub
    // must count and redact exactly what the oracle plants with the same
    // arithmetic (patterns restricted to Java-regex/RE2-agreeing constructs).
    // The planted card digits vary with doc_id so Luhn validity differs per
    // doc (~1/10 pass), and every 14th doc also gets the classic Luhn-valid
    // test PAN — both branches of the post-filter are oracle-gated.
    "q39_pii_scrub" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
              lit("@mail.example.org or +1 555 0142 from 10.0.0."),
              (col("doc_id") % 256).cast("string"),
              lit(" via 2001:0db8:0000:0000:0000:0000:0000:"),
              (col("doc_id") % 9999).cast("string"),
              lit(" card "),
              lpad(((col("doc_id") * 37) % 10000).cast("string"), 16, "4"),
              when(col("doc_id") % 14 === 0, lit(" and 4111111111111111"))
                .otherwise(lit(""))))
            .otherwise(col("text")))
      TextAnalysis.piiScrub(planted)
        .select("doc_id", "n_emails", "n_ipv4", "n_ipv6", "n_phones", "n_cards",
          "text_scrubbed")
    }),

    // repetition/structure quality stats over deterministically imposed
    // 4-word lines; ~1/11 docs get a planted duplicate leading line pair so
    // the dup-heavy branch is exercised
    "q40_gopher_repetition" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text",
          when(col("doc_id") % 11 === 0,
            concat(lit("lorem ipsum dolor sit lorem ipsum dolor sit "), col("text")))
            .otherwise(col("text")))
      TextAnalysis.repetitionStats(planted)
        .select("doc_id", "n_lines", "n_dup_lines", "n_short_lines",
          "mean_word_len_x100", "gopher_flag")
    }),

    // planted universe: base vectors (cosine <= ~0.44 pairwise on the
    // synthetic corpus) + per-base near-duplicates (first component +0.05 in
    // FLOAT arithmetic, cosine ~0.9999), so tau=0.95 separates cleanly and
    // the exact pairwise-cosine oracle pins both recall AND precision
    "q33_embedding_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDup(embNearDupUniverse(s, dir), tau = 0.95)
        .select("id_a", "id_b")),

    // incremental embedding near-dup vs a signature store: planted
    // float-exact near-dups of store vectors at +1000000, novel vectors at
    // +2000000, exact copies at +3000000; the store enters as its
    // precomputed signEmbeddings table
    "q95_incremental_emb_neardup" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select("vec_id", "embedding")
      val store = emb.filter(col("vec_id") < 150)
      val batch = perturbFirstComponent(emb.filter(col("vec_id") < 50))
        .withColumn("vec_id", col("vec_id") + 1000000L)
        .unionAll(emb.filter(col("vec_id").between(300, 349))
          .withColumn("vec_id", col("vec_id") + 2000000L))
        .unionAll(emb.filter(col("vec_id").between(100, 119))
          .withColumn("vec_id", col("vec_id") + 3000000L))
      Dedup.incrementalEmbeddingNearDup(batch, Dedup.signEmbeddings(store), store)
    }),

    // Gopher n-gram repetition signals for n in {2, 3}: all-integer stats
    // per (doc, n). The synthetic text repeats a small vocabulary, so the
    // natural duplication exercises every column without planting
    // synthetic repeats into the fixture
    "q96_ngram_repetition" -> ((s, dir) =>
      TextAnalysis.ngramRepetition(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") < 150).select("doc_id", "text"))
        .select("doc_id", "n", "total_chars", "total_ngrams",
          "distinct_ngrams", "dup_occurrences", "top_occurrences",
          "top_ngram_chars")),

    // quality-threshold yield curve over the q77 surprisal scores: one row
    // per distinct quantized score with survivors-at-threshold cumulative
    // counts (docs and token weight) — all integers
    "q97_yield_curve" -> ((s, dir) => {
      val scored = TextAnalysis.unigramSurprisal(
        s.read.parquet(s"$dir/documents.parquet"), vocabSize = 16)
      TextAnalysis.yieldCurve(scored, "surprisal_c100", "n_tokens")
        .select("score", "n_docs", "weight", "cum_docs", "cum_weight")
    }),

    // KMV distinct-count sketch over corpus 3-gram shingles (k=64): the
    // integer estimator is replayed bit-exactly by the oracle — shingle
    // cardinality far exceeds k, so the saturated (estimation) path is the
    // one gated; the exact under-k path is pinned in SketchSpec
    "q98_kmv_distinct" -> ((s, dir) =>
      Sketch.kmvDistinct(
        Dedup.shingled(s.read.parquet(s"$dir/documents.parquet"), n = 3),
        col("shingle"), k = 64)
        .select("n_kept", "kth_hash", "est_distinct")),

    // KMV union/intersection estimate between two overlapping corpus
    // slices (doc_id % 2 vs % 3 — the % 6 docs are shared), valued on the
    // doc TEXT so planted exact-dups also collide across slices
    "q99_kmv_overlap" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Sketch.kmvOverlap(
        docs.filter(pmod(col("doc_id"), lit(2)) === 0),
        docs.filter(pmod(col("doc_id"), lit(3)) === 0),
        col("text"), k = 64)
        .select("n_union_kept", "union_kth_hash", "est_union", "rho",
          "est_intersection")
    }),

    // deterministic frame sampling (k=5) over the q32 media universe: the
    // stub container always probes >= 8 frames, so the gated path is the
    // evenly-spaced integer stride; the take-all path is pinned in a spec
    "q100_frame_sample" -> ((s, dir) =>
      Multimodal.frameSample(
        Multimodal.mediaTable(extractFmt(s, dir, Seq(3, 4, 7, 8, 9))), k = 5)
        .toDF()
        .select("doc_id", "media_ref", "n_frames", "sample_rank",
          "frame_idx", "frame_byte")),

    // integer aspect-preserving resize planning (fit into 96x96) over the
    // q32 decoded dimensions — pure column arithmetic, oracle-exact
    "q101_resize_plan" -> ((s, dir) =>
      Multimodal.resizePlan(
        Multimodal.extractFeatures(
          Multimodal.mediaTable(extractFmt(s, dir, Seq(3, 4, 7, 8, 9)))).toDF(),
        maxDim = 96)
        .select("doc_id", "media_ref", "width", "height",
          "out_width", "out_height")),

    // top-32 adjacent BPE-token pairs corpus-wide (the first tokenizer
    // merge decision); (count desc, pair asc) is a total order so the cut
    // is deterministic on both engines
    "q102_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairStats(
        s.read.parquet(s"$dir/documents.parquet"), k = 32)
        .select("pair", "n_occurrences")),

    // term-frequency spectrum (frequency of frequencies — the Good-Turing
    // input and Zipf-health fingerprint): two cascaded aggs, all integers
    "q103_term_spectrum" -> ((s, dir) =>
      TextAnalysis.termFrequencySpectrum(
        s.read.parquet(s"$dir/documents.parquet"))
        .select("occurrences", "n_terms")),

    // incremental KMV: a store of two per-slice sketch rows merged with a
    // raw batch slice — the merged estimate must equal what the oracle
    // computes from the three k-smallest-distinct sets
    "q104_kmv_merge" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val store = Sketch.kmvSketch(
          docs.filter(pmod(col("doc_id"), lit(4)) === 0), col("text"), 64)
        .unionByName(Sketch.kmvSketch(
          docs.filter(pmod(col("doc_id"), lit(4)) === 2), col("text"), 64))
      Sketch.kmvMerge(store,
        docs.filter(pmod(col("doc_id"), lit(3)) === 0), col("text"), 64)
        .select("n_kept", "kth_hash", "est_distinct")
    }),

    // BPE training gated at its first merge (the slice ANSI SQL can
    // state: the top weighted char pair over the word table); the
    // multi-merge loop, tie-breaks, greedy non-overlap application and
    // the maxWords cap are pinned in OpsSpec
    "q105_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(
        s.read.parquet(s"$dir/documents.parquet"), nMerges = 1,
        maxWords = 4096)
        .select("rank", "lhs", "rhs", "pair_count")),

    // hot-bucket truncation semantics, hash-gated: 50 identical vectors put
    // every table's bucket over maxBucket=8, so the bounded aggregation must
    // keep exactly the 8 SMALLEST ids (ascending cap), emit all C(8,2) pairs
    // with truncated=1, and nothing else — closed-form for the oracle
    "q41_neardup_capped_bucket" -> ((s, dir) => {
      val uni = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < 50)
        .select(col("vec_id"),
          transform(sequence(lit(1), lit(8)), i => i.cast("float")).as("embedding"))
      Dedup.embeddingNearDup(uni, tau = 0.5, maxBucket = 8)
        .select("id_a", "id_b", "truncated")
    }),

    // same property for the MinHash path: 50 identical docs -> one hot
    // bucket per band; capped pair generation + exact-Jaccard verification
    // must yield exactly the pairs over the 8 smallest doc ids
    "q42_minhash_capped_bucket" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") < 50)
        .select(col("doc_id"),
          lit("alpha beta gamma delta epsilon zeta eta theta").as("text"))
      Dedup.minhashLsh(docs, maxBucket = 8).select("doc_a", "doc_b")
    }),

    // C4-style filters over planted defects: %13==0 boilerplate (lorem +
    // brace + ellipsis — ordered CASE picks boilerplate), %13==1 digit-
    // flooded (low-alpha), %13==2 three words (too-short), %13==3 ellipsis
    // only; everything else keeps. Features are integers so the compare is
    // hash-exact.
    "q43_quality_filters" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("text",
          when(col("doc_id") % 13 === 0,
            concat(lit("lorem ipsum obj { var } ... "), col("text")))
            .when(col("doc_id") % 13 === 1,
              concat(lit("one two three four "),
                concat_ws(" ", transform(sequence(lit(1), lit(30)),
                  i => (col("doc_id") * i).cast("string")))))
            .when(col("doc_id") % 13 === 2, lit("tiny short doc"))
            .when(col("doc_id") % 13 === 3, concat(col("text"), lit(" wait ... more")))
            .otherwise(col("text")))
      TextAnalysis.qualityFilters(planted)
        .select("doc_id", "n_words", "n_alpha_words", "alpha_frac_x100",
          "n_braces", "n_ellipsis", "has_lorem", "c4_flag")
    }),

    // incremental-ingest dedup: store = hashes of docs < 200; batch = docs
    // >= 200 plus re-keyed copies of 100-149 (already in the store -> all
    // dropped) and of 200-219 (within-batch duplicates -> first id wins)
    "q44_incremental_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val seen = docs.filter(col("doc_id") < 200)
        .select(md5(col("text")).as("text_hash"))
      val batch = docs.filter(col("doc_id") >= 200)
        .unionAll(docs.filter(col("doc_id").between(100, 149))
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionAll(docs.filter(col("doc_id").between(200, 219))
          .withColumn("doc_id", col("doc_id") + 2000000L))
      Dedup.incrementalExact(batch, seen).select("doc_id", "text_hash")
    }),

    // the Bloom-prefiltered variant over the SAME planted universe: the
    // filter only routes rows between the direct path and the confirm
    // anti-join, so the output — and the oracle — are exactly q44's
    "q60_incremental_dedup_bloom" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val seen = docs.filter(col("doc_id") < 200)
        .select(md5(col("text")).as("text_hash"))
      val batch = docs.filter(col("doc_id") >= 200)
        .unionAll(docs.filter(col("doc_id").between(100, 149))
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionAll(docs.filter(col("doc_id").between(200, 219))
          .withColumn("doc_id", col("doc_id") + 2000000L))
      Dedup.incrementalExactBloom(batch, seen, expectedBatchItems = 400)
        .select("doc_id", "text_hash")
    }),

    // URL/domain curation: deterministic per-source URLs, two hosts
    // blocklisted (codegen'd IN predicate), per-host + registered-domain
    // counts
    "q45_domain_stats" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("url",
          concat(lit("https://"), col("source"), lit(".example.com/d/"), col("doc_id")))
      val kept = WebOps.blocklistFilter(docs, Seq("src3.example.com", "src7.example.com"))
      WebOps.domainCounts(kept)
        .withColumn("domain", WebOps.registeredDomain(col("host")))
        .select("host", "domain", "n_docs")
    }),

    // corpus document frequency: top-20 terms by distinct-doc count,
    // (doc_freq desc, term asc) tie-break makes the top-k set exact
    "q46_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(s.read.parquet(s"$dir/documents.parquet"), k = 20)),

    // streaming first-arrival dedup in its BATCH statement (the stream's
    // convergence point; cross-micro-batch behavior is covered by
    // StreamingDedupSpec): planted re-arrivals of docs < 100 at +10 min
    // event time must all be dropped
    "q47_streaming_dedup" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("event_time",
          expr("timestampadd(SECOND, doc_id % 3600, timestamp'2020-01-01 00:00:00')"))
        .select("doc_id", "text", "event_time")
      val redelivered = base.filter(col("doc_id") < 100)
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .withColumn("event_time", col("event_time") + expr("INTERVAL 10 MINUTES"))
      graft.streaming.StreamingDedup.firstArrival(base.unionAll(redelivered))
        .select("doc_id")
    }),

    // symmetric int8 quantization, integer-valued outputs (quant vector +
    // floor(max reconstruction error * 1e7)) with a fixed double operation
    // order, so the oracle reproduces every component bit-for-bit. The quant
    // vector is serialized to a CSV string: the driver's pandas comparison
    // harness cannot sort/hash an array-typed column (r4 q48 err), so gated
    // outputs must stay scalar — same values, hashable encoding.
    "q48_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(s.read.parquet(s"$dir/embeddings.parquet"))
        .select(col("vec_id"),
          array_join(col("quant").cast("array<string>"), ",").as("quant_csv"),
          col("max_err_x1e7"))),

    // native session_window aggregation over the events table (30-minute
    // gap); integer outputs keyed by (user, session start)
    "q50_sessionize" -> ((s, dir) =>
      graft.ops.Events.sessionize(s.read.parquet(s"$dir/events.parquet"))
        .select("user_id", "session_start_epoch", "n_events", "duration_sec")),

    // benchmark decontamination: eval set = every 29th doc's text; those
    // docs (and any incidental 8-gram collision, deterministically the same
    // in both engines) must flag as contaminated
    "q49_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val evalSet = docs.filter(col("doc_id") % 29 === 0)
      Dedup.decontaminate(docs, evalSet, n = 8)
        .select("doc_id", "n_hit_shingles", "contaminated")
    }),

    // deterministic hash-Bernoulli sample stratified by language; the
    // exact-binary fractions make the md5-threshold integer-exact in both
    // engines (en keeps 1/2, de 1/4, everything else 1/8)
    "q51_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedSample(
        s.read.parquet(s"$dir/documents.parquet"),
        Map("en" -> 0.5, "de" -> 0.25), strataCol = "lang",
        idCol = "doc_id", defaultFraction = 0.125)
        .select("doc_id", "lang")),

    // token-budget shard packing: shard = floor(exclusive prefix sum of
    // n_chars in doc_id order / 10k) via the distributed two-pass prefix
    // sum (range partition -> per-partition offsets -> local running sum)
    "q52_pack_shards" -> ((s, dir) =>
      Sampling.packShards(
        s.read.parquet(s"$dir/documents.parquet"), budget = 10000L)
        .select("doc_id", "n_chars", "shard_id")),

    // corpus-level paragraph dedup: planted 3-line docs where line 1 is a
    // shared header on even ids and line 3 a shared footer on ids %3==0 —
    // each shared line must survive only at its first (doc_id, pos)
    // occurrence, and the 3-line structure makes the rebuilt text +
    // kept-count closed-form for the oracle
    "q54_paragraph_dedup" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat_ws("\n",
          when(col("doc_id") % 2 === 0,
            lit("shared header boilerplate menu home about contact"))
            .otherwise(substring(col("text"), 1, 50)),
          substring(col("text"), 51, 50),
          when(col("doc_id") % 3 === 0,
            lit("copyright footer all rights reserved"))
            .otherwise(substring(col("text"), 101, 50))).as("text"))
      Dedup.paragraphDedup(planted).select("doc_id", "text", "n_paras_kept")
    }),

    // cluster resolution policy (longest text wins its cluster, ties to
    // min id) over the SHARED chain clustering (the q36 memoized subtree —
    // one quadratic scan per run instead of a second private one), plus
    // unmutated docs 60-79 that appear in no cluster so the
    // unclustered-singleton branch stays exercised
    "q55_resolve_dups" -> ((s, dir) => {
      val uni = chainUniverse(s, dir)
        .unionAll(s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id").between(60, 79)).select("doc_id", "text"))
        .withColumn("n_chars", length(col("text")))
      Dedup.resolveDuplicates(uni, chainClusters(s, dir))
        .select("doc_id", "cluster_id", "keep")
    }),

    // domain-mixture rebalancing toward en:de:fr = 2:1:1 — en is the
    // binding group at the synthetic corpus's lang distribution; thresholds
    // are driver-computed doubles whose floor the oracle reproduces exactly
    "q56_mixture_sample" -> ((s, dir) =>
      Sampling.mixtureSample(
        s.read.parquet(s"$dir/documents.parquet"),
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))
        .select("doc_id", "lang")),

    // large-x-large ANN join: every 7th vector joined to its top-3
    // approximate neighbors in the full table — sign both sides with the
    // q31 md5 planes, multiprobe the left to hamming<=2, ONE signature
    // equi-join, bounded collectTopK per left id (no window, no driver collect)
    "q57_knn_join" -> ((s, dir) => {
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
      Similarity.knnJoin(emb.filter(col("vec_id") % 7 === 0), emb)
        .select("vec_id", "rank", "neighbor_id")
    }),

    // exact-count per-language sample: the 40 smallest md5(doc_id) per
    // lang via bounded top-k aggregation (never a per-group window sort)
    "q58_exactk_sample" -> ((s, dir) =>
      Sampling.exactKSample(
        s.read.parquet(s"$dir/documents.parquet"), 40)
        .select("doc_id", "lang")),

    // float-free tf-idf: top-3 terms per doc by (tf desc, df asc, term) —
    // the lexicographic integer ranking is exactly oracle-reproducible
    "q59_distinctive_terms" -> ((s, dir) =>
      TextAnalysis.distinctiveTerms(
        s.read.parquet(s"$dir/documents.parquet"), 3)
        .select("doc_id", "rank", "term", "tf", "df")),

    // epoch-weighted repetition: en x2.5 (2 guaranteed + Bernoulli(0.5)),
    // de x0.5 (fractional downsample), others pass through at 1
    "q61_upsample_epochs" -> ((s, dir) =>
      Sampling.upsampleEpochs(
        s.read.parquet(s"$dir/documents.parquet"), Map("en" -> 2.5, "de" -> 0.5))
        .select("doc_id", "lang", "epoch")),

    // URL canonicalization + dedup: scheme/host case, tracking params and
    // fragments collapse ids sharing (source, doc_id % 300, real query);
    // the oracle replays the identical regexp_replace chain in RE2
    "q62_url_dedup" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .withColumn("url", concat(
          when(col("doc_id") % 2 === 0, lit("HTTPS://")).otherwise(lit("https://")),
          col("source"), lit(".Example.COM/d/"), (col("doc_id") % 300).cast("string"),
          when(col("doc_id") % 4 === 0, lit("?utm_source=x&utm_medium=y"))
            .when(col("doc_id") % 4 === 1, lit("?id=7&utm_campaign=z#frag"))
            .when(col("doc_id") % 4 === 2, lit("#section2"))
            .otherwise(lit(""))))
        .select("doc_id", "url")
      WebOps.urlDedup(docs).select("doc_id", "url", "canon_url")
    }),

    // deterministic global training-order shuffle: 0-based rank in
    // md5(doc_id) order via the distributed two-pass prefix rank
    "q63_shuffle_order" -> ((s, dir) =>
      Sampling.shuffleOrder(s.read.parquet(s"$dir/documents.parquet"))
        .select("doc_id", "pos")),

    // multimodal training pairs off the interleaved span model: each media
    // span paired with its nearest following text span (q08/q09 layouts
    // make the expected pairs closed-form: xml figures caption to 'NOTES k',
    // the pdf image to the second text run when it exists)
    "q64_media_captions" -> ((s, dir) =>
      Multimodal.mediaCaptionPairs(extractFmt(s, dir, Seq(3, 4, 8, 9)))
        .select("doc_id", "media_ref", "caption")),

    // contrastive negatives for the caption pairs: next caption in
    // md5(pair) order, last wraps to first, same-doc collisions flagged
    "q91_caption_negatives" -> ((s, dir) =>
      Multimodal.captionContrastiveNegatives(
        Multimodal.mediaCaptionPairs(extractFmt(s, dir, Seq(3, 4, 8, 9))))),

    // interleaved-sequence rendering: one training string per doc, media
    // spans as a sentinel token, span order preserved (map-only projection)
    "q65_render_interleaved" -> ((s, dir) =>
      Multimodal.renderInterleaved(extractFmt(s, dir, Seq(3, 4, 8, 9)))
        .select("doc_id", "training_text", "n_media", "n_text_spans")),

    // corpus-duplicated 5-gram occurrence + token-coverage counts over the
    // near-dup universe (the substring-dedup measurement of Lee et al.)
    "q66_dup_ngram_coverage" -> ((s, dir) =>
      Dedup.duplicatedNgramCoverage(dedupUniverse(s, dir), n = 5)
        .select("doc_id", "n_tokens", "n_dup_ngrams", "covered_tokens")),

    // substring-dedup removal: rebuild text with corpus-duplicated-5-gram
    // tokens removed (the action half of q66, over the same universe)
    "q69_substring_dedup" -> ((s, dir) =>
      Dedup.removeDuplicatedNgrams(dedupUniverse(s, dir), n = 5)
        .select("doc_id", "text_deduped", "n_tokens", "n_removed")),

    // OOV-vs-corpus-top-64-vocabulary counts (float-free perplexity proxy)
    "q67_vocab_coverage" -> ((s, dir) =>
      TextAnalysis.vocabCoverage(
        s.read.parquet(s"$dir/documents.parquet"), vocabSize = 64)
        .select("doc_id", "n_tokens", "n_oov")),

    // overlapped fixed-token-window chunking (32-token windows, stride 24)
    "q68_chunk_windows" -> ((s, dir) =>
      Sampling.chunkDocs(
        s.read.parquet(s"$dir/documents.parquet"), chunkSize = 32, stride = 24)
        .select("doc_id", "chunk_id", "chunk_text", "n_chunk_tokens")),

    // materialized training blocks: q71's assignment map joined back to
    // the token stream, one row per 64-token block
    "q76_materialize_blocks" -> ((s, dir) =>
      Sampling.materializeBlocks(
        s.read.parquet(s"$dir/documents.parquet"), blockSize = 64)
        .select("block_id", "block_text", "n_docs", "n_tokens")),

    // CCNet-style unigram-LM quality score in exact integer arithmetic
    // (quantized surprisal via bit-length, no IEEE log): vocabSize 16 of a
    // 31-token synthetic vocabulary so in-vocab AND OOV paths both score
    "q77_unigram_surprisal" -> ((s, dir) =>
      TextAnalysis.unigramSurprisal(
        s.read.parquet(s"$dir/documents.parquet"), vocabSize = 16)
        .select("doc_id", "n_tokens", "surprisal_sum", "surprisal_c100",
          "ppl_bucket")),

    // leakage-safe deterministic splits: every doc of a source lands in
    // the same split (split = pure function of md5(source))
    "q78_assign_splits" -> ((s, dir) =>
      Sampling.assignSplits(
        s.read.parquet(s"$dir/documents.parquet"),
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
        coherenceCol = "source")
        .select("doc_id", "source", "split")),

    // the audit that motivates q78's coherence key: per-DOCUMENT splits
    // over the near-dup universe leak mutated twins across splits
    "q79_split_leakage" -> ((s, dir) => {
      val uni = dedupUniverse(s, dir)
      val assign = Sampling.assignSplits(uni,
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
        coherenceCol = "doc_id")
      Dedup.crossSplitLeakage(
        dedupUniversePairs(s, dir).select("doc_a", "doc_b"),
        assign.select("doc_id", "split"))
    }),

    // span-aware PII scrub over the interleaved model: PII planted into the
    // NOTES span (offset 3), redacted in place; media spans + offsets
    // untouched; n_pii counted over the original text spans
    "q80_scrub_spans" -> ((s, dir) => {
      val planted = extractFmt(s, dir, Seq(3, 4)).withColumn("spans",
        transform(col("spans"), sp => struct(
          sp("kind").as("kind"),
          when(sp("kind") === "text" && sp("offset") === 3,
            concat(lit("contact bob@example.com from 10.0.0.1 card 4111111111111111 "),
              sp("text"))).otherwise(sp("text")).as("text"),
          sp("media_ref").as("media_ref"),
          sp("offset").as("offset"))))
      Multimodal.scrubSpans(planted)
        .select(col("doc_id"), col("n_pii"), posexplode(col("spans")).as(Seq("pos", "sp")))
        .select(col("doc_id"), col("sp.offset").as("span_offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"),
          col("sp.media_ref").as("media_ref"), col("n_pii"))
    }),

    // per-source exact-dup stats over a universe with planted clone
    // families (every 5th doc duplicated into its own source)
    "q81_source_dup_stats" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "source", "text")
      val clones = base.filter(col("doc_id") % 5 === 0)
      WebOps.sourceDupStats(base.unionAll(clones))
    }),

    // corpus snapshot diff: v2 drops every 7th doc, edits every 5th
    // survivor, adds a re-keyed clone of every 11th
    "q82_corpus_diff" -> ((s, dir) => {
      val v1 = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 5 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionAll(v1.filter(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      TextAnalysis.corpusDiff(v1, v2)
    }),

    // per-language token budgets (integer volumes for mixture planning)
    "q83_lang_token_budget" -> ((s, dir) =>
      TextAnalysis.langTokenBudget(s.read.parquet(s"$dir/documents.parquet"))),

    // length-bucketed batch packing: deterministic md5-order batches within
    // token-length buckets + per-doc padding waste (distributed grouped
    // rank — never a per-bucket window)
    "q84_bucket_batches" -> ((s, dir) =>
      Sampling.bucketBatches(s.read.parquet(s"$dir/documents.parquet"))),

    // shard release manifest: counts, weights, id range and an
    // order-independent XOR content checksum per packShards shard
    "q88_shard_manifest" -> ((s, dir) =>
      Sampling.shardManifest(
        s.read.parquet(s"$dir/documents.parquet"), budget = 10000L)),

    // corpus-frequency boilerplate removal over the q54 planted universe
    // (header on even ids, footer on ids %3==0 — both in >2 docs, so both
    // are removed from EVERY doc, unlike q54's keep-one-owner rule)
    "q85_remove_frequent_lines" -> ((s, dir) => {
      val planted = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), concat_ws("\n",
          when(col("doc_id") % 2 === 0,
            lit("shared header boilerplate menu home about contact"))
            .otherwise(substring(col("text"), 1, 50)),
          substring(col("text"), 51, 50),
          when(col("doc_id") % 3 === 0,
            lit("copyright footer all rights reserved"))
            .otherwise(substring(col("text"), 101, 50))).as("text"))
      Dedup.removeFrequentLines(planted)
        .select("doc_id", "text", "n_lines_removed")
    }),

    // incremental near-dup vs a signature store: batch = drop-1-word
    // mutations of store docs at +1000000 (near-dups), novel docs 300-349
    // at +2000000 (no match), exact copies of store docs 100-119 at
    // +3000000 (jaccard 1) — dup_of = min matching store id; the store
    // enters as its precomputed signBands table, never re-signed text
    "q87_incremental_minhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val words = ops.TextAnalysis.words(col("text"))
      val store = docs.filter(col("doc_id") < 150)
      val batch = docs.filter(col("doc_id") < 50)
        .withColumn("text", concat_ws(" ", slice(words, lit(1), size(words) - 1)))
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .unionAll(docs.filter(col("doc_id").between(300, 349))
          .withColumn("doc_id", col("doc_id") + 2000000L))
        .unionAll(docs.filter(col("doc_id").between(100, 119))
          .withColumn("doc_id", col("doc_id") + 3000000L))
      Dedup.incrementalMinhash(batch, Dedup.signBands(store), store)
    }),

    // domain quality rollup + blocklist induction: even-id docs (= the
    // even-numbered sources, since source = doc_id % 20) gain a stopword
    // prefix making them fluent -> those domains clear the 50% bar; odd
    // sources stay mostly non-fluent -> blocked; a 2-doc 'tinysrc' domain
    // is 0% fluent but under minDocs -> never blocked
    "q89_domain_quality" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source")
      val planted = base.withColumn("text",
        when(col("doc_id") % 2 === 0,
          concat(lit("the of and to a in is that it for the of and to a in is that it for "),
            col("text"))).otherwise(col("text")))
        .unionAll(base.filter(col("doc_id") < 2)
          .select(col("doc_id") + 1000000L, lit("tiny corpus page"), lit("tinysrc")))
      WebOps.domainQuality(planted)
    }),

    // storage-level media dedup: a.gif payloads collide in 16 md5-prefix
    // groups (re-hosted copies), b.gif payloads are unique — duplicate
    // refs re-point at the group's min ref, span order and text untouched
    "q90_dedup_media" -> ((s, dir) => {
      val ext = extractFmt(s, dir, Seq(3, 4))
      val refs = ext.select(explode(col("spans")).as("sp"))
        .filter(col("sp.kind") === "media")
        .select(col("sp.media_ref").as("media_ref")).distinct()
      val media = refs.withColumn("content_hash",
        md5(when(col("media_ref").endsWith("a.gif"),
          concat(lit("payload-a-"), substring(md5(col("media_ref")), 1, 1)))
          .otherwise(concat(lit("payload-b-"), col("media_ref")))))
      Multimodal.dedupMediaPayloads(ext, media)
        .select(col("doc_id"), col("n_repointed"),
          posexplode(col("spans")).as(Seq("pos", "sp")))
        .select(col("doc_id"), col("sp.offset").as("span_offset"),
          col("sp.kind").as("kind"), col("sp.text").as("text"),
          col("sp.media_ref").as("media_ref"), col("n_repointed"))
    }),

    // vocabulary drift between two snapshots: docs %5==0 dropped, docs
    // %7!=0 kept verbatim, %7==0 survivors gain a planted token — the
    // planted term and the dropped docs' vocabulary dominate the deltas
    "q86_term_drift" -> ((s, dir) => {
      val v1 = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val v2 = v1.filter(col("doc_id") % 5 =!= 0)
        .withColumn("text", when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" zeitgeist"))).otherwise(col("text")))
      TextAnalysis.termDrift(v1, v2)
    }),

    // corpus datacard: one-row release summary, all integers
    "q74_corpus_card" -> ((s, dir) =>
      TextAnalysis.corpusCard(s.read.parquet(s"$dir/documents.parquet"))
        .select("n_docs", "n_tokens", "n_chars", "n_langs", "n_sources",
          "n_empty_docs", "max_doc_tokens", "min_doc_tokens")),

    // sentence splitting over planted terminal punctuation (the corpus
    // text has none, so every 'batch' gains a period first)
    "q75_split_sentences" -> ((s, dir) =>
      TextAnalysis.splitSentences(
        s.read.parquet(s"$dir/documents.parquet")
          .withColumn("text", regexp_replace(col("text"), "\\bbatch\\b", "batch.")))
        .select("doc_id", "sent_id", "sentence", "n_words")),

    // JSON props extraction with a malformed side-channel: every tenth
    // event's payload corrupted to exercise the error path
    "q73_parse_props" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("props",
          when(col("event_id") % 10 === 0, lit("garbage")).otherwise(col("props")))
      graft.ops.Events.parseProps(ev, field = "k")
        .select(col("event_id"), col("event_type"), col("k"),
          col("props_ok").cast("int").as("props_ok"))
    }),

    // exact nearest-rank corpus length percentiles (profiling pass)
    "q72_length_percentiles" -> ((s, dir) =>
      TextAnalysis.lengthPercentiles(
        s.read.parquet(s"$dir/documents.parquet"),
        percentiles = Seq(25, 50, 75, 90, 99))
        .select("percentile", "n_tokens")),

    // GPT-style token-block packing: 64-token blocks over the md5-shuffled
    // global token stream, docs split at block boundaries
    "q71_pack_token_blocks" -> ((s, dir) =>
      Sampling.packTokenBlocks(
        s.read.parquet(s"$dir/documents.parquet"), blockSize = 64)
        .select("doc_id", "block_id", "start_in_block", "doc_offset",
          "n_tokens_in_block")),

    // media referential integrity: span refs vs a payload table with
    // planted orphans (b.gif payloads dropped) and unused rows (extra-
    // prefixed pdf payloads added)
    "q70_media_integrity" -> ((s, dir) => {
      val ext = extractFmt(s, dir, Seq(3, 4, 8, 9))
      val refs = ext.select(col("doc_id"), explode(col("spans")).as("sp"))
        .filter(col("sp.kind") === "media")
        .select(col("doc_id"), col("sp.media_ref").as("media_ref"))
      val media = refs.filter(!col("media_ref").endsWith("b.gif"))
        .unionAll(refs.filter(col("media_ref").startsWith("pimg"))
          .select(col("doc_id"), concat(lit("extra-"), col("media_ref")).as("media_ref")))
      Multimodal.mediaIntegrity(ext, media)
        .select("doc_id", "media_ref", "n_span_refs", "status")
    }),

    // as-of join: each click attributed to the user's latest view at or
    // before it (union + running last-non-null window; single shuffle)
    "q53_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.ops.Events.asofJoin(
        ev.filter(col("event_type") === "click"),
        ev.filter(col("event_type") === "view"))
        .select("event_id", "user_id", "matched_event_id", "gap_sec")
    }),

    // BPE encode with a FIXED literal merge list (all lhs != rhs, so the
    // greedy kernel is confluent and the oracle's delimiter-guarded
    // double-replace chain reaches the same fixpoint — see bpeEncode's
    // scaladoc); the encode-of-trained-merges composition and lhs == rhs
    // behavior are pinned in OpsSpec
    "q106_bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(
        s.read.parquet(s"$dir/documents.parquet"), bpeMerges)
        .select("doc_id", "n_words", "n_sym_chars", "n_bpe_tokens")),

    // tokenizer fertility by predicted language under the same merge list
    "q107_bpe_fertility" -> ((s, dir) =>
      TextAnalysis.bpeFertility(
        s.read.parquet(s"$dir/documents.parquet"), bpeMerges)
        .select("lang_pred", "n_docs", "n_words", "n_bpe_tokens")),

    // DSIR-style importance weights: target model = the English subset;
    // vocabSize 16 keeps the oracle's model subqueries tractable;
    // minC100 = 50 (mean per-token logw >= 0.5) exercises the sign-safe
    // multiplicative threshold
    "q108_dsir_weights" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      TextAnalysis.dsirWeights(docs, docs.filter(col("lang") === "en"),
        vocabSize = 16, minC100 = 50L)
        .select(col("doc_id"), col("n_tokens"), col("logw_sum"),
          col("selected").cast("int").as("selected"))
    }),

    // count-min sketch (w=64, d=4) probed at the exact top-10 terms;
    // est_cnt >= true_cnt by construction (collisions only ever add)
    "q109_cms_estimate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // 10-row truth table localCheckpointed so its corpus-wide aggregation
      // runs once, not once per consumer (probe set + final join)
      val exact = docs
        .select(explode(TextAnalysis.words(col("text"))).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
        .orderBy(col("true_cnt").desc, col("tok")).limit(10)
        .localCheckpoint()
      Sketch.cmsEstimate(Sketch.cmsBuild(docs, 64, 4), exact, 64, 4)
        .join(exact, Seq("tok"))
        .select("tok", "true_cnt", "est_cnt")
    }),

    // mergeable log-histogram percentiles over document length: each read
    // reports the [lo, hi] value range of the answering bucket
    "q110_hist_quantiles" -> ((s, dir) =>
      Sketch.histQuantiles(
        Sketch.logHistogram(
          s.read.parquet(s"$dir/documents.parquet"), col("n_chars")),
        Seq(50, 90, 99))
        .select(col("p").cast("long").as("p"), col("rank"), col("bucket"),
          col("lo_est"), col("hi_est"))),

    // exact-dup planted pairs surface at hamming 0; maxHamming 3 is the
    // 4-band guarantee bound
    "q111_simhash_neardup" -> ((s, dir) =>
      Dedup.simhashNearDup(
        s.read.parquet(s"$dir/documents.parquet"), maxHamming = 3, maxBucket = 64)
        .select("doc_a", "doc_b", "hamming", "truncated")),

    // inverted-index shard: per-term df / total_tf and a gap-encoded
    // posting list over the 16 smallest doc ids; the hot-term posting
    // buffer is bounded BY CONSTRUCTION (collectTopK) on every map task
    // before the term shuffle — exact df/total_tf ride the same
    // aggregation as a count and a sum and feed the truncated flag
    "q112_inverted_index" -> ((s, dir) =>
      IndexBuild.invertedIndex(
        s.read.parquet(s"$dir/documents.parquet"), maxPostings = 16)
        .select("term", "df", "total_tf", "postings", "truncated")),

    // BM25 top-20 in exact integer arithmetic: bit-length idf (the rare
    // term 'dup' dominates; corpus-common query terms land idf 0, which is
    // idf doing its job) x c1000 fixed-point Robertson saturation
    "q113_bm25" -> ((s, dir) =>
      IndexBuild.bm25TopK(
        s.read.parquet(s"$dir/documents.parquet"),
        queryTerms = Seq("dup", "vector", "stream"), k = 20)
        .select("doc_id", "score_c1000", "n_hits")),

    // the incremental curation capstone — one ingest batch against planted
    // standing stores, every fate exercised: store exact re-deliveries
    // (100-119 @ +4e6), within-batch mirrors (upper+'!!!' @ +3e6), store
    // near-dups (drop-1 of 0-29 @ +2e6), within-batch near-dup families
    // (drop-1 of 200-229 @ +1e6), semantic near-dups whose TEXT is novel
    // (260-279 @ +5e6 carrying perturbed copies of store vectors 60-79),
    // PII planted on %7 for kept-scrub coverage; all other batch docs ride
    // novel vectors 300-349 (the q95 no-match family)
    "q114_curate_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select("doc_id", "text", "source")
      val emb = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
      val store = docs.filter(col("doc_id") < 150).select("doc_id", "text")
      val hashStore = store
        .select(md5(Dedup.normalizeForDedup(col("text"))).as("text_hash"))
      val sigStore = Dedup.signBands(store)
      val embStore = emb.filter(col("vec_id") < 150)
      val embSigStore = Dedup.signEmbeddings(embStore)

      val b0 = docs.filter(col("doc_id").between(200, 259))
        .withColumn("text",
          when(col("doc_id") % 7 === 0,
            concat(lit("contact bob@example.com "), col("text")))
            .otherwise(col("text")))
      val w = ops.TextAnalysis.words(col("text"))
      val batch = b0
        .unionAll(b0.filter(col("doc_id") < 230)
          .withColumn("text", concat_ws(" ", slice(w, lit(1), size(w) - 1)))
          .withColumn("doc_id", col("doc_id") + 1000000L))
        .unionAll(b0.filter(col("doc_id") < 220)
          .withColumn("text", concat(upper(col("text")), lit("!!!")))
          .withColumn("doc_id", col("doc_id") + 3000000L))
        .unionAll(docs.filter(col("doc_id").between(100, 119))
          .withColumn("doc_id", col("doc_id") + 4000000L))
        .unionAll(docs.filter(col("doc_id") < 30)
          .withColumn("text", concat_ws(" ", slice(w, lit(1), size(w) - 1)))
          .withColumn("doc_id", col("doc_id") + 2000000L))
        .unionAll(docs.filter(col("doc_id").between(260, 279))
          .withColumn("doc_id", col("doc_id") + 5000000L))

      val batchEmb = perturbFirstComponent(
          emb.filter(col("vec_id").between(60, 79)))
        .withColumn("vec_id", col("vec_id") + 5000200L)
        .unionAll(batch.filter(!col("doc_id").between(5000260L, 5000279L))
          .select(col("doc_id").as("vec_id"),
            (pmod(col("doc_id"), lit(50)) + 300).as("k"))
          .join(emb.select(col("vec_id").as("k"), col("embedding")), Seq("k"))
          .select("vec_id", "embedding"))

      graft.ops.Curate.curateIncremental(batch, hashStore, sigStore, store,
        expectedBatchItems = 400, batchEmb = Some(batchEmb),
        embSigStore = Some(embSigStore), embStoreVecs = Some(embStore)).docs
    }),

    // linear-sketch merges: slice sketches sum-merged must equal the
    // one-shot sketch over the union — the exactness claim of the
    // tree-reduce path, stated directly by oracles built over the union
    "q118_cms_merge" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Sketch.cmsMerge(Seq(
        Sketch.cmsBuild(docs.filter(col("doc_id") < 150)),
        Sketch.cmsBuild(docs.filter(col("doc_id").between(150, 299)))))
        .select("seed", "bucket", "cnt")
    }),

    "q119_hist_merge" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      Sketch.histMerge(Seq(
        Sketch.logHistogram(docs.filter(col("doc_id") < 150), col("n_chars")),
        Sketch.logHistogram(docs.filter(col("doc_id").between(150, 299)), col("n_chars"))))
        .select("bucket", "cnt")
    }),

    // sharded index build: two shards over disjoint halves, merged —
    // exact vs the one-shot index over the union (the disjointness +
    // smallest-ids invariant makes the merge lossless), which is what
    // the oracle states
    "q117_merge_index_shards" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      IndexBuild.mergeShards(
        IndexBuild.invertedIndex(docs.filter(col("doc_id") < 150), 16),
        IndexBuild.invertedIndex(docs.filter(col("doc_id").between(150, 299)), 16),
        16)
        .select("term", "df", "total_tf", "postings", "truncated")
    }),

    // incremental SimHash vs a standing signature store: exact copies of
    // store docs (hamming 0 by construction), drop-1-word mutations
    // (matched wherever the deterministic simhash lands within 3 bits),
    // novel docs — min-store-id + closest-distance per matched batch doc;
    // the store enters as its precomputed (doc_id, simhash) table
    "q116_incremental_simhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      val w = ops.TextAnalysis.words(col("text"))
      val store = docs.filter(col("doc_id") < 150)
      val batch = docs.filter(col("doc_id").between(100, 119))
        .withColumn("doc_id", col("doc_id") + 1000000L)
        .unionAll(docs.filter(col("doc_id") < 30)
          .withColumn("text", concat_ws(" ", slice(w, lit(1), size(w) - 1)))
          .withColumn("doc_id", col("doc_id") + 2000000L))
        .unionAll(docs.filter(col("doc_id").between(300, 349))
          .withColumn("doc_id", col("doc_id") + 3000000L))
      Dedup.incrementalSimhash(batch, Dedup.simhash(store))
        .select("doc_id", "dup_of", "min_hamming", "truncated")
    }),

    // char-granularity ExactSubstr dedup: a boilerplate license line
    // planted on every %3 doc repeats corpus-wide at stride 1, so the
    // covered union (the passage plus any repeated flank) is excised
    // exactly even across token boundaries; the synthetic vocabulary's
    // natural >=25-char stride-1 repeats dedup identically in both engines
    "q115_char_dedup" -> ((s, dir) =>
      Dedup.removeDuplicatedCharRuns(
        s.read.parquet(s"$dir/documents.parquet")
          .filter(col("doc_id") < 40)
          .withColumn("text",
            when(col("doc_id") % 3 === 0,
              concat(col("text"),
                lit(" (c) 2026 Example Corp All rights reserved worldwide")))
              .otherwise(col("text")))
          .select("doc_id", "text"),
        l = 25))
  )

  /** q106/q107's fixed merge list. Every pair has lhs != rhs (the
    * oracle-replayability precondition — [[graft.ops.TextAnalysis.bpeEncode]])
    * and applies in rank order, later merges consuming earlier outputs
    * ("th"+"e") exactly as a trained merge table would.
    */
  private val bpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("a", "n"), ("e", "r"), ("o", "n"))

  // ----------------------------------------------------------------- oracles

  /** cleaned text: whitespace-collapse + drop >=100-char tokens (the E8
    * kernel restricted to the ASCII synthetic corpus, where NFKC/translate
    * are identities). The whitespace class is explicit like WORDS' (RE2 \s
    * omits U+000B); the kernel's full Python-style predicate additionally
    * covers non-ASCII whitespace the synthetic corpus never contains.
    */
  private val C =
    """array_to_string(list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), w -> len(w) > 0 AND len(w) < 100), ' ')"""
  private val K = "printf('D%09d', doc_id)"
  private val W0 = "split_part(text, ' ', 1)"
  // the oracle-side mirror of ops.TextAnalysis.words — whitespace class is
  // explicit (Java \s == [ \t\n\x0B\f\r]; RE2 \s omits \x0B) so both engines
  // tokenize identically on EVERY input; change in lockstep with words()
  private val WORDS = """list_filter(regexp_split_to_array(text, '[ \t\n\x0b\f\r]+'), w -> len(w) > 0)"""

  /** q77's oracle, hoisted so q97's yield curve can restate it as a
    * subquery — ONE mirror of the unigram-LM scoring chain (floor-log2
    * surprisal quantized to c100), never two copies to drift.
    */
  private lazy val surprisalSql: String =
    s"""WITH toks AS (SELECT doc_id, unnest($WORDS) AS tok FROM documents),
        counts AS (SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY tok),
        tot AS (SELECT len(bin(sum(cnt)::BIGINT)) - 1 AS maxs FROM counts),
        vocab AS (SELECT tok, (SELECT maxs FROM tot) - (len(bin(cnt)) - 1) AS s
                  FROM counts ORDER BY cnt DESC, tok LIMIT 16),
        per AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
                       sum(coalesce(v.s, (SELECT maxs FROM tot)))::BIGINT AS surprisal_sum
                FROM toks t LEFT JOIN vocab v USING (tok) GROUP BY t.doc_id),
        sc AS (SELECT d.doc_id,
                      coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
                      coalesce(p.surprisal_sum, 0)::BIGINT AS surprisal_sum,
                      (CASE WHEN coalesce(p.n_tokens, 0) > 0
                            THEN (p.surprisal_sum * 100) // p.n_tokens
                            ELSE 0 END)::BIGINT AS surprisal_c100
               FROM documents d LEFT JOIN per p USING (doc_id))
        SELECT doc_id, n_tokens, surprisal_sum, surprisal_c100,
               CASE WHEN n_tokens = 0 THEN 'empty'
                    WHEN surprisal_c100 * 2 <= (SELECT maxs FROM tot) * 100 THEN 'fluent'
                    WHEN surprisal_c100 * 4 <= (SELECT maxs FROM tot) * 300 THEN 'mid'
                    ELSE 'rare' END AS ppl_bucket
        FROM sc"""

  // the oracle-side mirror of ops.TextAnalysis.BpeTokenRe (same lockstep rule)
  private val BPE = """[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0b\f\r]"""

  /** oracle-side mirror of ops.Dedup.normalizeForDedup (same lockstep
    * rule): lower, squash non-alnum runs to one space ('g' — Spark's
    * regexp_replace is global by default), trim.
    */
  private def normSql(e: String) =
    s"trim(regexp_replace(lower($e), '[^a-z0-9]+', ' ', 'g'))"

  private def xmlFulltext =
    s"'I. INTRODUCTION ' || $C || ' Manual Entry 1 TABLE ' || $K || '. CAP ' || $K || ' NOTES ' || $K || chr(10) || 'APPENDIX ' || $K || ' APP ' || $W0"

  // oracle-side mirrors of ops.TextAnalysis's PII patterns + chain (q39/q80)
  private val PiiEmail = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  private val PiiIpv4 = """[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"""
  private val PiiIpv6 = """\b[0-9A-Fa-f]{1,4}(?::[0-9A-Fa-f]{1,4}){7}\b"""
  private val PiiPhone = """\+[0-9]{1,2} [0-9]{3} [0-9]{4}"""
  private val PiiCard = """\b[0-9]{13,16}\b"""
  private val LuhnDigit =
    """CASE WHEN i % 2 = 0
         THEN CASE WHEN substr(c, (len(c)-i+1)::INT, 1)::INT * 2 > 9
                   THEN substr(c, (len(c)-i+1)::INT, 1)::INT * 2 - 9
                   ELSE substr(c, (len(c)-i+1)::INT, 1)::INT * 2 END
         ELSE substr(c, (len(c)-i+1)::INT, 1)::INT END"""

  /** the scrubPii chain over any SQL string expression (order matters) */
  private def scrubSql(e: String) =
    s"""regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace($e,
        '$PiiEmail', '<EMAIL>', 'g'),
        '$PiiIpv6', '<IPV6>', 'g'),
        '$PiiIpv4', '<IP>', 'g'),
        '$PiiPhone', '<PHONE>', 'g'),
        '$PiiCard', '<CARD>', 'g')"""

  /** the piiCount total (cards Luhn-gated) over any SQL string expression */
  private def piiCountSql(e: String) =
    s"""(len(regexp_extract_all($e, '$PiiEmail'))
       + len(regexp_extract_all($e, '$PiiIpv4'))
       + len(regexp_extract_all($e, '$PiiIpv6'))
       + len(regexp_extract_all($e, '$PiiPhone'))
       + len(list_filter(regexp_extract_all($e, '$PiiCard'),
           c -> list_sum(list_transform(generate_series(1, len(c)),
                  i -> $LuhnDigit)) % 10 = 0)))"""

  private def elsevierFulltext =
    s"'1 Introduction ' || $C || ' Acknowledgments THANK YOU ' || source || ' Appendix A APP ' || $W0"

  private def teiFulltext = s"'Intro ' || $C || ' ACK ' || source"

  private def htmlFulltext =
    s"'TITLE ' || $K || ' PRE ' || $K || ' JOURNAL ' || $C || ' Table ' || $K || ': ONLY IN TABLE ' || $K || ' CELL ' || $K || ' COPYRIGHT ' || $K"

  private val checkerCase =
    """CASE
      WHEN doc_id % 23 = 0 THEN 'IGNORE_NON_EXISTENT_FT_SOURCE'
      WHEN doc_id % 17 = 0 THEN 'IGNORE_ZERO_BYTE_FT_SOURCE'
      WHEN doc_id % 13 = 0 THEN 'FORCE_TO_EXTRACT'
      WHEN doc_id % 13 = 1 THEN 'FORCE_TO_SEND'
      WHEN doc_id % 7 = 0 THEN 'NOT_EXTRACTED_BEFORE'
      WHEN doc_id % 7 = 5 THEN 'STALE_META'
      WHEN doc_id % 7 = 6 THEN 'MISSING_FULL_TEXT'
      WHEN doc_id % 7 = 2 THEN 'DIFFERING_FULL_TEXT'
      WHEN doc_id % 7 = 3 THEN 'STALE_CONTENT'
      WHEN doc_id % 7 = 4 THEN 'STALE_CONTENT'
      ELSE NULL END"""

  private val routeCase = "CASE WHEN doc_id % 10 IN (8, 9) THEN 'PDF' ELSE 'Standard' END"

  private val knnSql =
    """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 20),
       s AS (SELECT qid, e.vec_id AS nid, list_cosine_similarity(qe, e.embedding::DOUBLE[]) AS sim
             FROM q, embeddings e WHERE e.vec_id <> qid)
       SELECT qid AS vec_id, r AS rank, nid AS neighbor_id
       FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r FROM s) t
       WHERE r <= 3"""

  private val dedupUniverseSql =
    s"""(SELECT doc_id, text FROM documents WHERE doc_id < 200
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id,
               array_to_string(w[1:len(w)-1], ' ') AS text
        FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id < 200))"""

  /** pairwise n-gram Jaccard >= 0.85 over any inline universe relation */
  private def jaccardPairsOver(uni: String) =
    s"""WITH uni AS $uni,
      toks AS (SELECT doc_id, list_filter(regexp_split_to_array(text, '[ \\t\\n\\x0b\\f\\r]+'), w -> len(w) > 0) AS w FROM uni),
      sh AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(w) - 2, 0)),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM toks),
      sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
      SELECT doc_a, doc_b FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.85"""

  private val jaccardPairsSql = jaccardPairsOver(dedupUniverseSql)

  /** chained-mutation universe for cluster resolution: base + drop-1 + drop-2 */
  private val chainUniverseSql =
    s"""(SELECT doc_id, text FROM documents WHERE doc_id < 60
        UNION ALL
        SELECT doc_id + 1000000, array_to_string(w[1:len(w)-1], ' ')
        FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id < 60)
        UNION ALL
        SELECT doc_id + 2000000, array_to_string(w[1:len(w)-2], ' ')
        FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id < 60))"""

  def oracleSql: Map[String, String] = Map(
    "q01_extract_txt" ->
      s"SELECT $K AS doc_id, $C AS fulltext FROM documents WHERE doc_id % 10 < 3",

    "q02_extract_xml" ->
      s"""SELECT $K AS doc_id, $xmlFulltext AS fulltext,
          'Acknowledgments THANKS TO ' || source || '. FAC' || (doc_id % 5) AS acknowledgements
          FROM documents WHERE doc_id % 10 IN (3, 4)""",

    "q03_extract_xml_lists" ->
      s"""SELECT $K AS doc_id, 'DS/' || $K || '/a' AS dataset_ref,
          'FAC' || (doc_id % 5) AS facility_ref
          FROM documents WHERE doc_id % 10 IN (3, 4)""",

    "q04_extract_elsevier" ->
      s"""SELECT $K AS doc_id, $elsevierFulltext AS fulltext,
          'Acknowledgments THANK YOU ' || source AS acknowledgements
          FROM documents WHERE doc_id % 10 = 5""",

    "q05_extract_tei" ->
      s"""SELECT $K AS doc_id, $teiFulltext AS fulltext,
          'ACK ' || source AS acknowledgements
          FROM documents WHERE doc_id % 10 = 6""",

    "q06_extract_html" ->
      s"""SELECT $K AS doc_id, $htmlFulltext AS fulltext
          FROM documents WHERE doc_id % 10 = 7""",

    "q07_extract_pdf" ->
      s"SELECT $K AS doc_id, $C AS fulltext FROM documents WHERE doc_id % 10 IN (8, 9)",

    "q08_spans_xml" ->
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id % 10 IN (3, 4))
          SELECT $K AS doc_id, 0 AS span_offset, 'text' AS kind,
                 'I. INTRODUCTION ' || $C || ' Manual Entry 1 TABLE ' || $K || '. CAP ' || $K AS text,
                 NULL AS media_ref FROM d
          UNION ALL SELECT $K, 1, 'media', NULL, 'fig' || $K || 'a.gif' FROM d
          UNION ALL SELECT $K, 2, 'media', NULL, 'fig' || $K || 'b.gif' FROM d
          UNION ALL SELECT $K, 3, 'text', 'NOTES ' || $K, NULL FROM d
          UNION ALL SELECT $K, 4, 'text', 'APPENDIX ' || $K || ' APP ' || $W0, NULL FROM d""",

    "q09_spans_pdf" ->
      s"""WITH d AS (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id % 10 IN (8, 9)),
          k AS (SELECT doc_id, w, (len(w) + 1) // 2 AS h FROM d)
          SELECT $K AS doc_id, 0 AS span_offset, 'text' AS kind,
                 array_to_string(w[1:h], ' ') AS text, NULL AS media_ref FROM k
          UNION ALL SELECT $K, 1, 'media', NULL, 'pimg' || $K || '.png' FROM k
          UNION ALL SELECT $K, 2, 'text', array_to_string(w[h+1:len(w)], ' '), NULL
          FROM k WHERE len(w) > h""",

    "q10_multipart_txt" ->
      s"SELECT $K AS doc_id, $C AS fulltext FROM documents WHERE doc_id % 10 < 2",

    "q11_checker_reasons" ->
      s"""SELECT $K AS doc_id, $checkerCase AS update_reason, $routeCase AS route
          FROM documents""",

    "q12_checker_counts" ->
      s"""SELECT update_reason, route, count(*) AS n FROM (
            SELECT $checkerCase AS update_reason, $routeCase AS route FROM documents) t
          WHERE update_reason IN ('MISSING_FULL_TEXT','DIFFERING_FULL_TEXT','STALE_CONTENT',
            'STALE_META','NOT_EXTRACTED_BEFORE','FORCE_TO_EXTRACT','FORCE_TO_SEND')
          GROUP BY 1, 2""",

    "q13_resume" ->
      s"SELECT $K AS doc_id FROM documents WHERE doc_id % 3 <> 0",

    "q14_dedup_exact" ->
      """WITH uni AS (SELECT doc_id, text FROM documents
           UNION ALL SELECT doc_id + 10000000, text FROM documents)
         SELECT md5(text) AS text_hash, count(*) AS n_docs, min(doc_id) AS canonical_id
         FROM uni GROUP BY 1""",

    // same canonical form stated in RE2 via the shared normSql mirror
    "q93_dedup_normalized" ->
      s"""WITH uni AS (SELECT doc_id, text FROM documents WHERE doc_id < 100
           UNION ALL
           SELECT doc_id + 1000000, upper(text) || '!!!'
           FROM documents WHERE doc_id < 100)
         SELECT md5(${normSql("text")}) AS text_hash,
                count(*) AS n_docs, min(doc_id) AS canonical_id
         FROM uni GROUP BY 1""",

    "q15_dedup_jaccard" -> jaccardPairsSql,

    "q16_dedup_minhash_lsh" -> jaccardPairsSql,

    // connected components as a recursive CTE: every doc in the pair graph
    // labeled with the min doc_id reachable from it
    "q36_dup_clusters" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsOver(chainUniverseSql)}),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
          reach(id, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
          SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1""",

    // the full curation chain restated: normalized-hash ownership ->
    // exact 3-gram jaccard pairs over survivors -> recursive-CTE
    // components -> longest-text-wins resolution -> short gate -> scrub +
    // split hash. Every input doc appears exactly once with its fate.
    "q94_curate" ->
      s"""WITH RECURSIVE
          b0 AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 'contact bob@example.com ' || text
                        ELSE text END AS text, source
                 FROM documents WHERE doc_id < 60),
          tk0 AS (SELECT doc_id, $WORDS AS w, source FROM b0),
          uni AS (
            SELECT doc_id, text, source FROM b0
            UNION ALL SELECT doc_id + 1000000, array_to_string(w[1:len(w)-1], ' '), source FROM tk0
            UNION ALL SELECT doc_id + 2000000, array_to_string(w[1:len(w)-2], ' '), source FROM tk0
            UNION ALL SELECT doc_id + 3000000, upper(text) || '!!!', source
                      FROM b0 WHERE doc_id < 30),
          nrm AS (SELECT doc_id, text, source,
                    md5(${normSql("text")}) AS h
                  FROM uni),
          own AS (SELECT h, min(doc_id) AS own FROM nrm WHERE h IS NOT NULL GROUP BY 1),
          ex AS (SELECT nrm.doc_id FROM nrm JOIN own ON nrm.h = own.h
                 WHERE nrm.doc_id <> own.own),
          s1 AS (SELECT nrm.doc_id, nrm.text, nrm.source FROM nrm
                 JOIN own ON nrm.h = own.h AND nrm.doc_id = own.own),
          toks AS (SELECT doc_id, $WORDS AS w FROM s1),
          sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM toks),
          sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          pairs AS (SELECT doc_a, doc_b FROM inter
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.85),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
          reach(id, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
          rn AS (SELECT s1.doc_id,
                   row_number() OVER (PARTITION BY cl.cluster_id
                     ORDER BY len(s1.text) DESC, s1.doc_id) AS r
                 FROM s1 JOIN cl USING (doc_id)),
          nd AS (SELECT doc_id FROM rn WHERE r > 1),
          s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
          lowq AS (SELECT doc_id FROM s2 WHERE len($WORDS) < 16),
          s3 AS (SELECT * FROM s2 WHERE len($WORDS) >= 16),
          kept AS (SELECT doc_id,
                     CASE WHEN source IS NULL THEN NULL
                          WHEN ('0x' || substr(md5(source), 1, 8))::BIGINT < 3221225472 THEN 'train'
                          WHEN ('0x' || substr(md5(source), 1, 8))::BIGINT < 3758096384 THEN 'val'
                          ELSE 'test' END AS split,
                     ${scrubSql("text")} AS text
                   FROM s3)
          SELECT doc_id, 'exact_dup' AS status, NULL AS split, NULL AS text FROM ex
          UNION ALL SELECT doc_id, 'near_dup', NULL, NULL FROM nd
          UNION ALL SELECT doc_id, 'low_quality', NULL, NULL FROM lowq
          UNION ALL SELECT doc_id, 'kept', split, text FROM kept""",

    // the q36 clustering folded to one row per family size
    "q92_cluster_histogram" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsOver(chainUniverseSql)}),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
          reach(id, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          cl AS (SELECT id, min(label) AS cluster_id FROM reach GROUP BY 1),
          sz AS (SELECT cluster_id, count(*) AS cluster_size FROM cl GROUP BY 1)
          SELECT cluster_size, count(*) AS n_clusters,
                 (count(*) * (cluster_size - 1))::BIGINT AS n_docs_removable
          FROM sz GROUP BY 1""",

    "q17_simhash" -> simhashSql,

    "q34_ivf_ann" -> knnSql,

    "q18_knn_cosine" -> knnSql,

    "q19_lang_id" -> langIdSql,

    "q20_quality" ->
      s"""SELECT doc_id, len($WORDS) AS n_tokens, len(text) AS n_chars_obs,
          len(list_filter($WORDS, w -> len(w) >= 15)) AS long_tokens,
          len(list_filter($WORDS, w -> list_contains(['the','of','and','to','a','in','is','that','it','for'], w))) AS stop_hits,
          CASE WHEN len($WORDS) < 16 THEN 'short'
               WHEN len(list_filter($WORDS, w -> list_contains(['the','of','and','to','a','in','is','that','it','for'], w))) * 10 >= len($WORDS) THEN 'fluent'
               ELSE 'list-like' END AS quality_bucket
          FROM documents""",

    "q21_token_counts" ->
      s"""SELECT doc_id, len($WORDS) AS ws_tokens,
          len(regexp_extract_all(text, '$BPE')) AS bpe_tokens
          FROM documents""",

    "q22_fingerprint" ->
      s"""SELECT doc_id,
          CASE WHEN len($WORDS) >= 5
            THEN list_aggregate(list_transform(generate_series(1, len($WORDS) - 4),
                   i -> md5(array_to_string(list_slice($WORDS, i, i + 4), ' '))), 'min')
            ELSE md5(text) END AS fingerprint
          FROM documents""",

    // corpus assumption (deliberate): the synthetic `text` is pure ASCII with
    // no control chars and no >=100-char tokens EXCEPT the ones the query
    // plants, so translate/NFKC are identities on it and the oracle reduces
    // to whitespace-collapse + trimwords; the planted prefix/suffix exercise
    // the non-identity paths (control delete, nbsp->space, long-token drop)
    "q25_clean_text" ->
      s"SELECT doc_id, 'AB ' || $C AS cleaned FROM documents",

    // oracle states the expected conversion directly (amp/lt deleted per the
    // reference table, gt kept, numeric+unknown removed, exotic names from
    // the ISO sets mapped); corpus assumption: `text` itself contains no
    // `&...;` sequences (the synthetic corpus is entity-free by construction,
    // so the appended literal is the only converted material)
    "q26_convert_entities" ->
      ("SELECT doc_id, 'A b>   ' || chr(937) || ' ' || chr(8737) || ' ' || chr(1055) || ' ' || " +
        "chr(10949) || chr(824) || ' ' || text AS converted FROM documents"),

    "q24_facility_ner" ->
      s"""SELECT $K AS doc_id, 'FAC' || (doc_id % 5) AS facility_ner
          FROM documents WHERE doc_id % 10 IN (3, 4)""",

    // END-TO-END oracle: the full pipeline (checker join -> needs-update
    // filter -> dispatch -> extraction) is closed-form on the synthetic
    // corpus — update_reason from the planted state families, fulltext from
    // the per-format formulas (q01-q07), no errors on well-formed docs
    "q30_pipeline_full" ->
      s"""SELECT $K AS doc_id, update_reason,
            CASE WHEN doc_id % 10 < 3 THEN $C
                 WHEN doc_id % 10 IN (3, 4) THEN $xmlFulltext
                 WHEN doc_id % 10 = 5 THEN $elsevierFulltext
                 WHEN doc_id % 10 = 6 THEN $teiFulltext
                 WHEN doc_id % 10 = 7 THEN $htmlFulltext
                 ELSE $C END AS fulltext,
            NULL::VARCHAR AS error
          FROM (SELECT *, $checkerCase AS update_reason FROM documents) t
          WHERE update_reason IN ('MISSING_FULL_TEXT','DIFFERING_FULL_TEXT','STALE_CONTENT',
            'STALE_META','NOT_EXTRACTED_BEFORE','FORCE_TO_EXTRACT','FORCE_TO_SEND')""",

    // assembly restores splitWords' halves in part order regardless of
    // arrival order; single-word docs yield an empty second part
    "q37_multipart_assembly" ->
      s"""WITH d AS (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id % 10 < 2),
          k AS (SELECT doc_id, w, (len(w) + 1) // 2 AS h FROM d)
          SELECT $K AS doc_id, true AS complete,
                 array_to_string(w[1:h], ' ') AS part0,
                 array_to_string(w[h+1:len(w)], ' ') AS part1
          FROM k""",

    // src_mtime = 2020-01-01 + (doc_id % 100) days is day-aligned, so each
    // doc's 1-day window starts at its own mtime; counts split by the
    // planted error family (doc_id % 31 == 0)
    "q38_windowed_metrics" ->
      """SELECT epoch(TIMESTAMP '2020-01-01 00:00:00' + INTERVAL ((doc_id % 100)) DAY)::BIGINT AS window_start_epoch,
                CASE WHEN doc_id % 10 IN (0,1) THEN 'txt' WHEN doc_id % 10 = 2 THEN 'ocr'
                     WHEN doc_id % 10 IN (3,4,5) THEN 'xml' WHEN doc_id % 10 = 6 THEN 'teixml'
                     WHEN doc_id % 10 = 7 THEN 'html' ELSE 'pdf' END AS format,
                sum(CASE WHEN doc_id % 31 = 0 THEN 0 ELSE 1 END)::BIGINT AS n_extracted,
                sum(CASE WHEN doc_id % 31 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_errored
         FROM documents GROUP BY 1, 2""",

    // same planted-PII arithmetic, same regexes (constructs chosen to agree
    // between Java regex and RE2 incl. ASCII \b), same email -> ipv6 ->
    // ipv4 -> phone -> card redaction order; n_cards applies the SAME Luhn
    // post-filter (double every second digit from the right, -9 on
    // overflow, sum % 10 == 0) as TextAnalysis.luhnValid
    "q39_pii_scrub" ->
      s"""WITH p AS (
            SELECT doc_id, CASE WHEN doc_id % 7 = 0
              THEN text || ' reach user' || doc_id::VARCHAR ||
                   '@mail.example.org or +1 555 0142 from 10.0.0.' || (doc_id % 256)::VARCHAR ||
                   ' via 2001:0db8:0000:0000:0000:0000:0000:' || (doc_id % 9999)::VARCHAR ||
                   ' card ' || lpad(((doc_id * 37) % 10000)::VARCHAR, 16, '4') ||
                   CASE WHEN doc_id % 14 = 0 THEN ' and 4111111111111111' ELSE '' END
              ELSE text END AS t
            FROM documents)
          SELECT doc_id,
            len(regexp_extract_all(t, '$PiiEmail')) AS n_emails,
            len(regexp_extract_all(t, '$PiiIpv4')) AS n_ipv4,
            len(regexp_extract_all(t, '$PiiIpv6')) AS n_ipv6,
            len(regexp_extract_all(t, '$PiiPhone')) AS n_phones,
            len(list_filter(regexp_extract_all(t, '$PiiCard'),
              c -> list_sum(list_transform(generate_series(1, len(c)),
                     i -> $LuhnDigit)) % 10 = 0)) AS n_cards,
            ${scrubSql("t")} AS text_scrubbed
          FROM p""",

    // identical 4-word line derivation (1-based inclusive list slices
    // truncate at the end in both engines); integer stats; same CASE order
    "q40_gopher_repetition" ->
      s"""WITH p AS (
            SELECT doc_id, CASE WHEN doc_id % 11 = 0
              THEN 'lorem ipsum dolor sit lorem ipsum dolor sit ' || text
              ELSE text END AS text
            FROM documents),
          w AS (SELECT doc_id, $WORDS AS ws FROM p),
          l AS (SELECT doc_id, ws,
                 CASE WHEN len(ws) > 0 THEN
                   list_transform(generate_series(1, ((len(ws) + 3) // 4)::INT),
                     i -> array_to_string(ws[(i-1)*4+1 : (i-1)*4+4], ' '))
                 ELSE [] END AS lines
                FROM w)
          SELECT doc_id,
            len(lines) AS n_lines,
            len(lines) - len(list_distinct(lines)) AS n_dup_lines,
            len(list_filter(lines, x -> len(x) < 18)) AS n_short_lines,
            CASE WHEN len(ws) > 0
              THEN ((list_sum(list_transform(ws, x -> len(x))) * 100) // len(ws))::BIGINT
              ELSE 0 END AS mean_word_len_x100,
            CASE WHEN len(lines) > 0 AND (len(lines) - len(list_distinct(lines))) * 20 >= len(lines) THEN 'dup-heavy'
                 WHEN len(lines) > 0 AND len(list_filter(lines, x -> len(x) < 18)) * 2 >= len(lines) THEN 'short-line'
                 ELSE 'ok' END AS gopher_flag
          FROM l""",

    // the SAME sign-random-projection planes as Similarity.lshAnn, built
    // from the same md5 calls (planeSign: bit 0 of the first hex char of
    // md5("p:i") -> ±1), so bucket signatures — and therefore the
    // hamming<=2 candidate set and the final ranking — are identical
    "q31_ann_lsh" -> lshAnnSql,

    // the stub decoder reads width/height from payload bytes 0/1, and the
    // payload is md5(ref||':0')-prefixed, so both are closed-form here; the
    // media-ref universe mirrors the q08/q09 span oracles per format
    "q32_multimodal_features" ->
      s"""WITH refs AS (
            SELECT $K AS doc_id, 'fig' || $K || 'a.gif' AS media_ref FROM documents WHERE doc_id % 10 IN (3, 4)
            UNION ALL SELECT $K, 'fig' || $K || 'b.gif' FROM documents WHERE doc_id % 10 IN (3, 4)
            UNION ALL SELECT $K, 'img' || $K || '.gif' FROM documents WHERE doc_id % 10 = 7
            UNION ALL SELECT $K, 'pimg' || $K || '.png' FROM documents WHERE doc_id % 10 IN (8, 9))
          SELECT doc_id, media_ref,
            64 + (('0x' || substr(md5(media_ref || ':0'), 1, 2))::INT & 127) AS width,
            64 + (('0x' || substr(md5(media_ref || ':0'), 3, 2))::INT & 127) AS height,
            256::BIGINT AS n_bytes
          FROM refs""",

    // exact pairwise cosine over the same planted universe (mutation in
    // FLOAT arithmetic to match the Spark side bit-for-bit; comparison in
    // DOUBLE like Similarity.cosine). Planted pairs sit at ~0.9999, all
    // other pairs at <= ~0.44 — far from tau on both sides.
    "q33_embedding_neardup" ->
      """WITH base AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 200),
         mut AS (SELECT vec_id + 1000000 AS vec_id,
                 list_concat([(embedding[1] + 0.05::FLOAT)::FLOAT], embedding[2:]) AS embedding FROM base),
         uni AS (SELECT * FROM base UNION ALL SELECT * FROM mut)
         SELECT a.vec_id AS id_a, b.vec_id AS id_b
         FROM uni a JOIN uni b ON a.vec_id < b.vec_id
         WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.95""",

    // directed exact-cosine restatement (LSH recall ~1 on the planted
    // separations, every candidate exact-verified); truncated = constant
    // 0 here (store buckets far under maxBucket — the overflow path is
    // pinned by the degenerate-bucket ScalaTest)
    "q95_incremental_emb_neardup" ->
      """WITH store AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 150),
         batch AS (
           SELECT vec_id + 1000000 AS vec_id,
                  list_concat([(embedding[1] + 0.05::FLOAT)::FLOAT], embedding[2:]) AS embedding
           FROM embeddings WHERE vec_id < 50
           UNION ALL
           SELECT vec_id + 2000000, embedding FROM embeddings WHERE vec_id BETWEEN 300 AND 349
           UNION ALL
           SELECT vec_id + 3000000, embedding FROM embeddings WHERE vec_id BETWEEN 100 AND 119)
         SELECT b.vec_id AS vec_id, min(s.vec_id) AS dup_of, 0 AS truncated
         FROM batch b JOIN store s
           ON list_cosine_similarity(b.embedding::DOUBLE[], s.embedding::DOUBLE[]) >= 0.95
         GROUP BY 1""",

    // same n-gram derivation as the Spark kernel (WORDS split, space-joined
    // windows), same tie-break (max count, then lexicographically smallest
    // n-gram — byte order == Java code-unit order on this ASCII corpus);
    // docs with < n words keep their all-zero row via the left join
    "q96_ngram_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $WORDS AS w,
                 coalesce(length(text), 0) AS total_chars
               FROM documents WHERE doc_id < 150),
          ns AS (SELECT unnest([2, 3]) AS n),
          grams AS (SELECT doc_id, n, total_chars,
                      list_transform(generate_series(1, greatest(len(w) - n + 1, 0)),
                        i -> array_to_string(w[i:i+n-1], ' ')) AS gs
                    FROM toks CROSS JOIN ns),
          cnt AS (SELECT doc_id, n, g, count(*)::BIGINT AS c
                  FROM (SELECT doc_id, n, unnest(gs) AS g FROM grams)
                  GROUP BY 1, 2, 3),
          per AS (SELECT doc_id, n, count(*)::BIGINT AS distinct_ngrams,
                    coalesce(sum(c) FILTER (WHERE c > 1), 0)::BIGINT AS dup_occurrences,
                    max(c)::BIGINT AS top_occurrences,
                    length(first(g ORDER BY c DESC, g))::BIGINT AS top_ngram_chars
                  FROM cnt GROUP BY 1, 2)
          SELECT g.doc_id, g.n, g.total_chars::BIGINT AS total_chars,
                 len(g.gs)::BIGINT AS total_ngrams,
                 coalesce(p.distinct_ngrams, 0) AS distinct_ngrams,
                 coalesce(p.dup_occurrences, 0) AS dup_occurrences,
                 coalesce(p.top_occurrences, 0) AS top_occurrences,
                 coalesce(p.top_ngram_chars, 0) AS top_ngram_chars
          FROM grams g LEFT JOIN per p USING (doc_id, n)""",

    // the q77 scoring chain restated as a subquery, then a plain grouped
    // cumulative sum over the quantized score domain
    "q97_yield_curve" ->
      s"""WITH sc AS ($surprisalSql),
          per AS (SELECT surprisal_c100 AS score, count(*)::BIGINT AS n_docs,
                    sum(n_tokens)::BIGINT AS weight
                  FROM sc GROUP BY 1)
          SELECT score, n_docs, weight,
            (sum(n_docs) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_docs,
            (sum(weight) OVER (ORDER BY score
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_weight
          FROM per""",

    // the KMV sketch replayed exactly: same WORDS 3-gram shingles, same
    // 32-bit md5-prefix hash (the hash32 mirror every sampling oracle
    // uses), same k-smallest-distinct set, same integer estimator
    // (k-1) * 2^32 // h_k
    "q98_kmv_distinct" ->
      s"""WITH toks AS (SELECT doc_id, $WORDS AS w FROM documents),
          sh AS (SELECT DISTINCT w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
                 FROM (SELECT w, unnest(generate_series(1, greatest(len(w) - 2, 0))) AS i
                       FROM toks)),
          h AS (SELECT DISTINCT ('0x' || substr(md5(s), 1, 8))::BIGINT AS hv FROM sh),
          kk AS (SELECT hv FROM h ORDER BY hv LIMIT 64),
          st AS (SELECT count(*)::BIGINT AS n, max(hv) AS kth FROM kk)
          SELECT n AS n_kept,
                 (CASE WHEN n < 64 THEN -1 ELSE kth END)::BIGINT AS kth_hash,
                 (CASE WHEN n < 64 THEN n
                       ELSE (63 * 4294967296) // kth END)::BIGINT AS est_distinct
          FROM st""",

    // same two slices, same per-side k-smallest-distinct sketches, union
    // sketch = k smallest of the two sketch sets, rho = union-sketch
    // members present in BOTH sides, integer estimators as in the Spark op
    "q99_kmv_overlap" ->
      """WITH a AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
                    FROM documents WHERE doc_id % 2 = 0 AND text IS NOT NULL),
          b AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
                FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
          ka AS (SELECT h FROM a ORDER BY h LIMIT 64),
          kb AS (SELECT h FROM b ORDER BY h LIMIT 64),
          un AS (SELECT h FROM (SELECT h FROM ka UNION SELECT h FROM kb) ORDER BY h LIMIT 64),
          st AS (SELECT count(*)::BIGINT AS n, max(h) AS kth,
                   count(*) FILTER (WHERE h IN (SELECT h FROM ka)
                                      AND h IN (SELECT h FROM kb))::BIGINT AS rho
                 FROM un),
          est AS (SELECT n, kth, rho,
                    (CASE WHEN n < 64 THEN n
                          ELSE (63 * 4294967296) // kth END)::BIGINT AS est_union
                  FROM st)
          SELECT n AS n_union_kept,
                 (CASE WHEN n < 64 THEN -1 ELSE kth END)::BIGINT AS union_kth_hash,
                 est_union,
                 rho,
                 (CASE WHEN n = 0 THEN 0
                       ELSE (rho * est_union) // n END)::BIGINT AS est_intersection
          FROM est""",

    // stub container probe replayed: n_frames from payload byte 2 (md5
    // block 0, hex offset 5), evenly-spaced integer stride i*n//5, frame
    // byte at payload position frame_idx (block idx//16, offset idx%16) —
    // n_frames >= 8 > 5 always, so the stride branch is the whole universe
    "q100_frame_sample" ->
      s"""WITH refs AS (
            SELECT $K AS doc_id, 'fig' || $K || 'a.gif' AS media_ref FROM documents WHERE doc_id % 10 IN (3, 4)
            UNION ALL SELECT $K, 'fig' || $K || 'b.gif' FROM documents WHERE doc_id % 10 IN (3, 4)
            UNION ALL SELECT $K, 'img' || $K || '.gif' FROM documents WHERE doc_id % 10 = 7
            UNION ALL SELECT $K, 'pimg' || $K || '.png' FROM documents WHERE doc_id % 10 IN (8, 9)),
          fr AS (SELECT doc_id, media_ref,
                   8 + (('0x' || substr(md5(media_ref || ':0'), 5, 2))::INT & 127) AS n_frames
                 FROM refs),
          idx AS (SELECT doc_id, media_ref, n_frames,
                    unnest(generate_series(0, 4)) AS sample_rank
                  FROM fr),
          sampled AS (SELECT *, (sample_rank * n_frames) // 5 AS frame_idx FROM idx)
          SELECT doc_id, media_ref, n_frames::INT AS n_frames,
                 sample_rank::INT AS sample_rank, frame_idx::INT AS frame_idx,
                 ('0x' || substr(md5(media_ref || ':' || (frame_idx // 16)),
                    (frame_idx % 16) * 2 + 1, 2))::INT AS frame_byte
          FROM sampled""",

    // q32's dimension derivation + the integer aspect-fit arithmetic
    // (dim * 96 // longest, floored at 1; <= 96 passes through)
    "q101_resize_plan" ->
      s"""WITH refs AS (
            SELECT $K AS doc_id, 'fig' || $K || 'a.gif' AS media_ref FROM documents WHERE doc_id % 10 IN (3, 4)
            UNION ALL SELECT $K, 'fig' || $K || 'b.gif' FROM documents WHERE doc_id % 10 IN (3, 4)
            UNION ALL SELECT $K, 'img' || $K || '.gif' FROM documents WHERE doc_id % 10 = 7
            UNION ALL SELECT $K, 'pimg' || $K || '.png' FROM documents WHERE doc_id % 10 IN (8, 9)),
          dims AS (SELECT doc_id, media_ref,
                     64 + (('0x' || substr(md5(media_ref || ':0'), 1, 2))::INT & 127) AS width,
                     64 + (('0x' || substr(md5(media_ref || ':0'), 3, 2))::INT & 127) AS height
                   FROM refs)
          SELECT doc_id, media_ref, width, height,
            (CASE WHEN greatest(width, height) <= 96 THEN width
                  ELSE greatest((width * 96) // greatest(width, height), 1) END)::INT AS out_width,
            (CASE WHEN greatest(width, height) <= 96 THEN height
                  ELSE greatest((height * 96) // greatest(width, height), 1) END)::INT AS out_height
          FROM dims""",

    // same BPE tokenization, adjacent pairs space-joined (tokens never
    // contain whitespace), (count desc, pair asc) total order, LIMIT 32
    "q102_bpe_pairs" ->
      s"""WITH toks AS (SELECT regexp_extract_all(text, '$BPE') AS t
                        FROM documents WHERE text IS NOT NULL),
          pairs AS (SELECT unnest(list_transform(
                      generate_series(1, greatest(len(t) - 1, 0)),
                      i -> t[i] || ' ' || t[i+1])) AS pair
                    FROM toks)
          SELECT pair, count(*)::BIGINT AS n_occurrences
          FROM pairs GROUP BY pair
          ORDER BY n_occurrences DESC, pair LIMIT 32""",

    // same WORDS tokenization, term counts, then the count-of-counts
    "q103_term_spectrum" ->
      s"""WITH toks AS (SELECT unnest($WORDS) AS term FROM documents),
          tc AS (SELECT term, count(*)::BIGINT AS occurrences FROM toks GROUP BY term)
          SELECT occurrences, count(*)::BIGINT AS n_terms
          FROM tc GROUP BY occurrences""",

    // the two store slices enter as their k-smallest-distinct sketch
    // sets, the batch as its full distinct hash set; merged = k smallest
    // of the union, same integer estimator as q98
    "q104_kmv_merge" ->
      """WITH h0 AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
                     FROM documents WHERE doc_id % 4 = 0 AND text IS NOT NULL),
          h2 AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
                 FROM documents WHERE doc_id % 4 = 2 AND text IS NOT NULL),
          hb AS (SELECT DISTINCT ('0x' || substr(md5(text), 1, 8))::BIGINT AS h
                 FROM documents WHERE doc_id % 3 = 0 AND text IS NOT NULL),
          k0 AS (SELECT h FROM h0 ORDER BY h LIMIT 64),
          k2 AS (SELECT h FROM h2 ORDER BY h LIMIT 64),
          un AS (SELECT h FROM (SELECT h FROM k0 UNION SELECT h FROM k2
                                UNION SELECT h FROM hb) ORDER BY h LIMIT 64),
          st AS (SELECT count(*)::BIGINT AS n, max(h) AS kth FROM un)
          SELECT n AS n_kept,
                 (CASE WHEN n < 64 THEN -1 ELSE kth END)::BIGINT AS kth_hash,
                 (CASE WHEN n < 64 THEN n
                       ELSE (63 * 4294967296) // kth END)::BIGINT AS est_distinct
          FROM st""",

    // BPE first merge: word-frequency table (count desc, term asc LIMIT
    // 4096 — same deterministic cut), overlapping adjacent char pairs
    // weighted by word count, (pair_count desc, lhs, rhs) total order
    "q105_bpe_train" ->
      s"""WITH toks AS (SELECT unnest($WORDS) AS term FROM documents),
          wc AS (SELECT term, count(*)::BIGINT AS c FROM toks
                 GROUP BY term ORDER BY c DESC, term LIMIT 4096),
          pos AS (SELECT term, c, unnest(generate_series(1, length(term) - 1)) AS i
                  FROM wc),
          pr AS (SELECT substr(term, i, 1) AS lhs, substr(term, i + 1, 1) AS rhs, c
                 FROM pos)
          SELECT 1 AS rank, lhs, rhs, sum(c)::BIGINT AS pair_count
          FROM pr GROUP BY lhs, rhs
          ORDER BY pair_count DESC, lhs, rhs LIMIT 1""",

    // closed-form truncation oracle: the capped bucket keeps the 8 SMALLEST
    // of the 50 identical vectors (ids 0..7), all pairs verified at cosine
    // 1.0, truncated exact (bucket size 50 > 8)
    "q41_neardup_capped_bucket" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b, 1 AS truncated
         FROM (SELECT vec_id FROM embeddings WHERE vec_id < 8) a
         JOIN (SELECT vec_id FROM embeddings WHERE vec_id < 8) b ON a.vec_id < b.vec_id""",

    // MinHash path, same property: pairs over the 8 smallest doc ids only
    "q42_minhash_capped_bucket" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         FROM (SELECT doc_id FROM documents WHERE doc_id < 8) a
         JOIN (SELECT doc_id FROM documents WHERE doc_id < 8) b ON a.doc_id < b.doc_id""",

    // expected counters: per-format needs-update cardinality, zero errors on
    // the well-formed corpus (error isolation is pinned by PipelineSpec)
    "q35_sink_metrics" ->
      s"""SELECT format, count(*) AS n_extracted, 0::BIGINT AS n_errored FROM (
            SELECT CASE WHEN doc_id % 10 IN (0,1) THEN 'txt' WHEN doc_id % 10 = 2 THEN 'ocr'
                        WHEN doc_id % 10 IN (3,4,5) THEN 'xml' WHEN doc_id % 10 = 6 THEN 'teixml'
                        WHEN doc_id % 10 = 7 THEN 'html' ELSE 'pdf' END AS format,
                   $checkerCase AS update_reason
            FROM documents) t
          WHERE update_reason IN ('MISSING_FULL_TEXT','DIFFERING_FULL_TEXT','STALE_CONTENT',
            'STALE_META','NOT_EXTRACTED_BEFORE','FORCE_TO_EXTRACT','FORCE_TO_SEND')
          GROUP BY 1""",

    // same planting arithmetic, same anchored-char-class regexes, same
    // length-difference brace/ellipsis counts, same ORDERED flag CASE
    "q43_quality_filters" ->
      s"""WITH p AS (
            SELECT doc_id, CASE
              WHEN doc_id % 13 = 0 THEN 'lorem ipsum obj { var } ... ' || text
              WHEN doc_id % 13 = 1 THEN 'one two three four ' ||
                array_to_string(list_transform(generate_series(1, 30), i -> (doc_id * i)::VARCHAR), ' ')
              WHEN doc_id % 13 = 2 THEN 'tiny short doc'
              WHEN doc_id % 13 = 3 THEN text || ' wait ... more'
              ELSE text END AS text
            FROM documents),
          f AS (SELECT doc_id, text, $WORDS AS ws FROM p),
          g AS (SELECT doc_id,
                  len(ws) AS n_words,
                  len(list_filter(ws, w -> regexp_matches(w, '^[A-Za-z]+$$'))) AS n_alpha_words,
                  CASE WHEN len(ws) > 0
                    THEN ((len(list_filter(ws, w -> regexp_matches(w, '^[A-Za-z]+$$'))) * 100) // len(ws))::BIGINT
                    ELSE 0 END AS alpha_frac_x100,
                  len(text) - len(regexp_replace(text, '\\{', '', 'g')) AS n_braces,
                  ((len(text) - len(regexp_replace(text, '\\.\\.\\.', '', 'g'))) // 3)::INT AS n_ellipsis,
                  CASE WHEN contains(text, 'lorem ipsum') THEN 1 ELSE 0 END AS has_lorem
                FROM f)
          SELECT doc_id, n_words, n_alpha_words, alpha_frac_x100, n_braces, n_ellipsis, has_lorem,
            CASE WHEN n_words < 20 THEN 'too-short'
                 WHEN has_lorem = 1 OR n_braces > 0 THEN 'boilerplate'
                 WHEN n_ellipsis > 0 THEN 'ellipsis'
                 WHEN alpha_frac_x100 < 80 THEN 'low-alpha'
                 ELSE 'keep' END AS c4_flag
          FROM g""",

    // md5 hex agrees between engines; first-id-per-hash within the batch,
    // then anti-join against the store's distinct hashes
    "q44_incremental_dedup" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 200),
         batch AS (
           SELECT doc_id, text FROM documents WHERE doc_id >= 200
           UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id BETWEEN 100 AND 149
           UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id BETWEEN 200 AND 219),
         dd AS (SELECT doc_id, md5(text) AS text_hash,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM batch)
         SELECT doc_id, text_hash FROM dd
         WHERE rn = 1 AND text_hash NOT IN (SELECT h FROM seen)""",

    // the Bloom prefilter is output-invisible by construction: same oracle
    // as q44
    "q60_incremental_dedup_bloom" ->
      """WITH seen AS (SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id < 200),
         batch AS (
           SELECT doc_id, text FROM documents WHERE doc_id >= 200
           UNION ALL SELECT doc_id + 1000000, text FROM documents WHERE doc_id BETWEEN 100 AND 149
           UNION ALL SELECT doc_id + 2000000, text FROM documents WHERE doc_id BETWEEN 200 AND 219),
         dd AS (SELECT doc_id, md5(text) AS text_hash,
                row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn FROM batch)
         SELECT doc_id, text_hash FROM dd
         WHERE rn = 1 AND text_hash NOT IN (SELECT h FROM seen)""",

    // same host-extraction regex, same blocklist, same two-label domain rule
    "q45_domain_stats" ->
      """WITH u AS (
           SELECT lower(regexp_extract('https://' || source || '.example.com/d/' || doc_id::VARCHAR,
             '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host
           FROM documents),
         k AS (SELECT host FROM u WHERE host NOT IN ('src3.example.com', 'src7.example.com')),
         c AS (SELECT host, count(*) AS n_docs FROM k GROUP BY 1)
         SELECT host,
           CASE WHEN len(string_split(host, '.')) >= 2
             THEN string_split(host, '.')[-2] || '.' || string_split(host, '.')[-1]
             ELSE host END AS domain,
           n_docs
         FROM c""",

    "q46_top_terms" ->
      s"""SELECT term, count(*) AS doc_freq
          FROM (SELECT doc_id, unnest(list_distinct($WORDS)) AS term FROM documents) t
          GROUP BY term ORDER BY doc_freq DESC, term LIMIT 20""",

    // first arrival per content hash by (event time, id) — the stream's
    // convergence semantics stated as a window
    "q47_streaming_dedup" ->
      """WITH base AS (
           SELECT doc_id, text,
             TIMESTAMP '2020-01-01 00:00:00' + INTERVAL ((doc_id % 3600)) SECOND AS et
           FROM documents),
         uni AS (SELECT * FROM base
                 UNION ALL
                 SELECT doc_id + 1000000, text, et + INTERVAL 10 MINUTE FROM base WHERE doc_id < 100),
         r AS (SELECT doc_id,
               row_number() OVER (PARTITION BY md5(text) ORDER BY et, doc_id) AS rn FROM uni)
         SELECT doc_id FROM r WHERE rn = 1""",

    // identical arithmetic and operation order in IEEE double: scale =
    // list_max(abs), q = floor(v*127/s + 0.5), err = abs(v - q*s/127);
    // quant serialized to CSV so the driver harness can sort/hash the row
    "q48_quantize_int8" ->
      """WITH b AS (
           SELECT vec_id, embedding,
             list_max(list_transform(embedding, v -> abs(v::DOUBLE))) AS s
           FROM embeddings),
         q AS (
           SELECT vec_id, embedding, s,
             list_transform(embedding, v -> CASE WHEN s = 0 THEN 0
               ELSE floor(v::DOUBLE * 127 / s + 0.5)::INT END) AS quant
           FROM b)
         SELECT vec_id,
           array_to_string(quant, ',') AS quant_csv,
           floor(list_max(list_transform(generate_series(1, len(embedding)),
             i -> abs(embedding[i]::DOUBLE - quant[i]::DOUBLE * s / 127))) * 10000000)::BIGINT
             AS max_err_x1e7
         FROM q""",

    // the same gap rule at microsecond precision: a new session starts only
    // when the inter-event gap STRICTLY exceeds 30 min (Spark's
    // session_window merges an event landing exactly on previous + gap —
    // pinned by the exact-boundary unit test)
    "q50_sessionize" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events),
         l AS (SELECT *, lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) AS prev FROM e),
         n AS (SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS is_new FROM l),
         s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid FROM n)
         SELECT user_id,
           (min(us) // 1000000)::BIGINT AS session_start_epoch,
           count(*) AS n_events,
           ((max(us) - min(us)) // 1000000)::BIGINT AS duration_sec
         FROM s GROUP BY user_id, sid""",

    // same 8-gram shingle derivation as the Spark side (distinct per doc),
    // eval side = every 29th doc, per-doc hit counts via broadcast-shaped
    // semi-join restated as a plain SQL join
    "q49_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $WORDS AS w FROM documents),
          sh AS (SELECT doc_id, unnest(list_distinct(
                   list_transform(generate_series(1, greatest(len(w) - 7, 0)),
                     i -> array_to_string(w[i : i+7], ' ')))) AS shingle
                 FROM toks),
          ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 29 = 0),
          hits AS (SELECT s.doc_id, count(*) AS n_hit_shingles
                   FROM sh s JOIN ev USING (shingle) GROUP BY 1)
          SELECT d.doc_id, coalesce(h.n_hit_shingles, 0) AS n_hit_shingles,
            CASE WHEN coalesce(h.n_hit_shingles, 0) > 0 THEN 1 ELSE 0 END AS contaminated
          FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""",

    "q23_format_media_stats" ->
      """SELECT CASE WHEN doc_id % 10 IN (0,1) THEN 'txt' WHEN doc_id % 10 = 2 THEN 'ocr'
                     WHEN doc_id % 10 IN (3,4,5) THEN 'xml' WHEN doc_id % 10 = 6 THEN 'teixml'
                     WHEN doc_id % 10 = 7 THEN 'html' ELSE 'pdf' END AS format,
                count(*) AS n_docs,
                sum(CASE WHEN doc_id % 10 IN (3,4) THEN 2 WHEN doc_id % 10 IN (7,8,9) THEN 1 ELSE 0 END)::BIGINT AS n_media
         FROM documents GROUP BY 1""",

    // same md5-threshold rule: first 32 md5 bits of the id below
    // fraction * 2^32; the fractions are exact binary so the threshold is
    // the same integer in both engines
    "q51_stratified_sample" ->
      """SELECT doc_id, lang FROM documents
         WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT <
           (CASE lang WHEN 'en' THEN 0.5 WHEN 'de' THEN 0.25 ELSE 0.125 END
            * 4294967296)::BIGINT""",

    // the global exclusive prefix sum the two-pass distributed version
    // computes, restated as one window (fine at oracle scale)
    "q52_pack_shards" ->
      """SELECT doc_id, n_chars,
           (coalesce(sum(n_chars) OVER (ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            // 10000)::BIGINT AS shard_id
         FROM documents""",

    // the same first-(doc_id,pos)-wins rule stated as a window over the
    // paragraph hash; short (<10 char) paragraphs bypass dedup; docs whose
    // every paragraph was claimed elsewhere come back empty via the left
    // join, exactly like the Spark plan
    "q54_paragraph_dedup" ->
      """WITH d AS (
           SELECT doc_id, concat_ws(chr(10),
             CASE WHEN doc_id % 2 = 0 THEN 'shared header boilerplate menu home about contact'
                  ELSE substr(text, 1, 50) END,
             substr(text, 51, 50),
             CASE WHEN doc_id % 3 = 0 THEN 'copyright footer all rights reserved'
                  ELSE substr(text, 101, 50) END) AS text
           FROM documents),
         p AS (
           SELECT doc_id, unnest(generate_series(1, len(parts))) - 1 AS pos,
                  unnest(parts) AS para
           FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d)),
         keep AS (
           SELECT doc_id, pos, para FROM (
             SELECT doc_id, pos, para,
               row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos) AS rn
             FROM p WHERE len(para) >= 10) WHERE rn = 1
           UNION ALL
           SELECT doc_id, pos, para FROM p WHERE len(para) < 10),
         reb AS (
           SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text,
                  count(*) AS n_paras_kept
           FROM keep GROUP BY doc_id)
         SELECT d.doc_id, coalesce(reb.text, '') AS text,
                coalesce(reb.n_paras_kept, 0) AS n_paras_kept
         FROM d LEFT JOIN reb USING (doc_id)""",

    // clusters from the recursive CTE, winner = max text length then min
    // id; docs outside the pair graph keep trivially as their own cluster
    "q55_resolve_dups" ->
      s"""WITH RECURSIVE pairs AS (${jaccardPairsOver(chainUniverseSql)}),
          docs AS (SELECT * FROM $chainUniverseSql
                   UNION ALL SELECT doc_id, text FROM documents
                   WHERE doc_id BETWEEN 60 AND 79),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
          reach(id, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          lab AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
          r AS (SELECT d.doc_id, l.cluster_id,
                  row_number() OVER (PARTITION BY l.cluster_id
                                     ORDER BY len(d.text) DESC, d.doc_id) AS rn
                FROM lab l JOIN docs d USING (doc_id))
          SELECT doc_id, cluster_id, CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep FROM r
          UNION ALL
          SELECT doc_id, doc_id AS cluster_id, 1 AS keep FROM docs
          WHERE doc_id NOT IN (SELECT doc_id FROM lab)""",

    // identical rate derivation in IEEE double: N = min(count/share) over
    // the targeted groups, rate = least(1, share*N/count), membership =
    // first 32 md5 bits below floor(rate * 2^32)
    "q56_mixture_sample" ->
      """WITH c AS (SELECT lang, count(*)::DOUBLE AS n FROM documents
                    WHERE lang IN ('en','de','fr') GROUP BY lang),
         s AS (SELECT lang, CASE lang WHEN 'en' THEN 0.5 ELSE 0.25 END AS share, n FROM c),
         m AS (SELECT min(n / share) AS nout FROM s),
         r AS (SELECT lang, least(1.0, share * (SELECT nout FROM m) / n) AS rate FROM s)
         SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
         WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::BIGINT
               < floor(r.rate * 4294967296)::BIGINT""",

    // same planes/signature/candidate construction as q31, left side =
    // every 7th vector; the Spark multiprobe equi-join emits exactly the
    // hamming<=2 pairs this bit_count join does
    "q57_knn_join" -> annTop3Sql("q.vec_id % 7 = 0"),

    // identical copy-count derivation: integer part by CASE, fractional
    // part by the 2^32-scaled md5 threshold (floor exact in IEEE double)
    "q61_upsample_epochs" ->
      """WITH p AS (
           SELECT doc_id, lang,
             CASE lang WHEN 'en' THEN 2 WHEN 'de' THEN 0 ELSE 1 END
               + CASE WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT <
                      CASE lang WHEN 'en' THEN floor(0.5 * 4294967296)::BIGINT
                                WHEN 'de' THEN floor(0.5 * 4294967296)::BIGINT
                                ELSE 0 END
                 THEN 1 ELSE 0 END AS copies
           FROM documents)
         SELECT doc_id, lang, unnest(generate_series(0, copies - 1)) AS epoch
         FROM p WHERE copies > 0""",

    // the same regexp_replace chain replayed in RE2 ('g' = Spark's
    // replace-all), then first-id-wins per canonical key
    "q62_url_dedup" ->
      """WITH u AS (
           SELECT doc_id,
             (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://' ELSE 'https://' END)
               || source || '.Example.COM/d/' || (doc_id % 300)::VARCHAR ||
             (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=x&utm_medium=y'
                   WHEN doc_id % 4 = 1 THEN '?id=7&utm_campaign=z#frag'
                   WHEN doc_id % 4 = 2 THEN '#section2' ELSE '' END) AS url
           FROM documents),
         c AS (
           SELECT doc_id, url,
             regexp_replace(
               regexp_replace(
                 regexp_replace(
                   regexp_replace(url, '#.*$', '', 'g'),
                   '(utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*&', '', 'g'),
                 '[?&](utm_[A-Za-z0-9_]+|fbclid|gclid)=[^&#]*$', '', 'g'),
               '\?$', '', 'g') AS s4
           FROM u),
         k AS (
           SELECT doc_id, url,
             lower(regexp_extract(s4, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1))
               || substr(s4, len(regexp_extract(s4, '^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)', 1)) + 1)
               AS canon_url
           FROM c)
         SELECT doc_id, url, canon_url FROM (
           SELECT doc_id, url, canon_url,
             row_number() OVER (PARTITION BY canon_url ORDER BY doc_id) AS rn
           FROM k) t WHERE rn = 1""",

    // the declarative statement of the same rank (ties impossible: md5 of
    // distinct ids is injective here, doc_id breaks any residual tie)
    "q63_shuffle_order" ->
      """SELECT doc_id,
           row_number() OVER (ORDER BY md5(doc_id::VARCHAR), doc_id) - 1 AS pos
         FROM documents""",

    // closed-form from the q08/q09 span layouts: both xml figures sit
    // before the 'NOTES k' text span; the pdf image's following text is
    // the second half-run, which exists only when the word list splits
    "q64_media_captions" ->
      s"""WITH dx AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (3, 4)),
          dp AS (SELECT doc_id, w, (len(w) + 1) // 2 AS h
                 FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id % 10 IN (8, 9)) t)
          SELECT $K AS doc_id, 'fig' || $K || 'a.gif' AS media_ref,
                 'NOTES ' || $K AS caption FROM dx
          UNION ALL SELECT $K, 'fig' || $K || 'b.gif', 'NOTES ' || $K FROM dx
          UNION ALL SELECT $K, 'pimg' || $K || '.png',
                 CASE WHEN len(w) > h THEN array_to_string(w[h+1:len(w)], ' ')
                      ELSE NULL END
          FROM dp""",

    // q64's pairs (null captions excluded) in md5(pair) order; negative =
    // next caption, cyclic; the window restatement is oracle-scale only —
    // the Spark plan is the distributed prefix rank + one equi-join
    "q91_caption_negatives" ->
      s"""WITH dx AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (3, 4)),
          dp AS (SELECT doc_id, w, (len(w) + 1) // 2 AS h
                 FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id % 10 IN (8, 9)) t),
          pairs AS (
            SELECT $K AS doc_id, 'fig' || $K || 'a.gif' AS media_ref,
                   'NOTES ' || $K AS caption FROM dx
            UNION ALL SELECT $K, 'fig' || $K || 'b.gif', 'NOTES ' || $K FROM dx
            UNION ALL SELECT $K, 'pimg' || $K || '.png',
                   CASE WHEN len(w) > h THEN array_to_string(w[h+1:len(w)], ' ')
                        ELSE NULL END
            FROM dp),
          uniq AS (SELECT doc_id, media_ref, min(caption) AS caption
                   FROM pairs WHERE caption IS NOT NULL GROUP BY 1, 2),
          r AS (SELECT doc_id, media_ref, caption,
                  row_number() OVER (ORDER BY md5(md5(doc_id) || md5(media_ref)),
                                     md5(doc_id) || md5(media_ref)) - 1 AS pos,
                  count(*) OVER () AS n
                FROM uniq)
          SELECT a.doc_id, a.media_ref, a.caption, b.caption AS neg_caption,
                 (a.doc_id = b.doc_id)::INT AS same_doc
          FROM r a JOIN r b ON b.pos = (a.pos + 1) % a.n""",

    // the contract stated directly: the 40 smallest md5(doc_id) per lang
    // (row_number form; the Spark plan gets there without any window)
    "q58_exactk_sample" ->
      """SELECT doc_id, lang FROM (
           SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
               ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
           FROM documents) t WHERE rn <= 40""",

    // identical float-free ranking: tf per (doc, term), df cascaded off tf,
    // top-3 by (tf desc, df asc, term asc)
    "q59_distinctive_terms" ->
      s"""WITH t AS (SELECT doc_id, unnest($WORDS) AS term FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY 1, 2),
         df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
                 row_number() OVER (PARTITION BY tf.doc_id
                   ORDER BY tf.tf DESC, df.df ASC, tf.term) AS rn
               FROM tf JOIN df USING (term))
         SELECT doc_id, rn AS rank, term, tf, df FROM r WHERE rn <= 3""",

    // identical union + running-last formulation; NULLS FIRST matches
    // Spark's ascending default, views (side 0) sort before clicks (side 1)
    // at equal timestamps so an exactly-simultaneous view matches
    "q53_asof_join" ->
      """WITH u AS (
           SELECT user_id, epoch_us(ts) AS us, 1 AS side, event_id AS lid,
                  NULL::BIGINT AS rid
           FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, epoch_us(ts), 0, NULL, event_id
           FROM events WHERE event_type = 'view'
         ), w AS (
           SELECT *,
             last_value(rid IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, side, rid NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_rid,
             last_value(CASE WHEN rid IS NOT NULL THEN us END IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY us, side, rid NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m_us
           FROM u
         )
         SELECT lid AS event_id, user_id, m_rid AS matched_event_id,
           ((us - m_us) // 1000000)::BIGINT AS gap_sec
         FROM w WHERE side = 1""",

    // closed-form from the q08/q09 span layouts: xml spans render as
    // text-sentinel-sentinel-text-text, pdf as text-sentinel[-text]
    "q65_render_interleaved" ->
      s"""WITH dx AS (SELECT * FROM documents WHERE doc_id % 10 IN (3, 4)),
          dp AS (SELECT doc_id, w, (len(w) + 1) // 2 AS h
                 FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id % 10 IN (8, 9)) t)
          SELECT $K AS doc_id,
                 'I. INTRODUCTION ' || $C || ' Manual Entry 1 TABLE ' || $K || '. CAP ' || $K ||
                 ' <|image|> <|image|> NOTES ' || $K || ' APPENDIX ' || $K || ' APP ' || $W0
                   AS training_text,
                 2 AS n_media, 3 AS n_text_spans
          FROM dx
          UNION ALL
          SELECT $K,
                 array_to_string(w[1:h], ' ') || ' <|image|>' ||
                 CASE WHEN len(w) > h THEN ' ' || array_to_string(w[h+1:len(w)], ' ') ELSE '' END,
                 1, CASE WHEN len(w) > h THEN 2 ELSE 1 END
          FROM dp""",

    // identical positioned-shingle derivation: 5-gram occurrences with a
    // corpus count > 1, their distinct count and distinct covered positions
    "q66_dup_ngram_coverage" ->
      s"""WITH uni AS $dedupUniverseSql,
          toks AS (SELECT doc_id, $WORDS AS w FROM uni),
          idx AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i FROM toks),
          occ AS (SELECT doc_id, i - 1 AS i,
                    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sh
                  FROM idx),
          dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) > 1),
          pos AS (SELECT o.doc_id, o.i, unnest(generate_series(o.i, o.i + 4)) AS p
                  FROM occ o JOIN dup USING (sh)),
          st AS (SELECT doc_id, count(DISTINCT i) AS n_dup_ngrams,
                        count(DISTINCT p) AS covered_tokens
                 FROM pos GROUP BY 1)
          SELECT doc_id, len(w) AS n_tokens,
                 coalesce(st.n_dup_ngrams, 0) AS n_dup_ngrams,
                 coalesce(st.covered_tokens, 0) AS covered_tokens
          FROM toks LEFT JOIN st USING (doc_id)""",

    // same piece derivation as q71, joined back to the positioned token
    // stream and re-assembled per block in bp order
    "q76_materialize_blocks" ->
      s"""WITH toks AS (SELECT doc_id, $WORDS AS w FROM documents
                        WHERE len($WORDS) > 0),
          o AS (SELECT doc_id, len(w) AS n, w,
                  coalesce(sum(len(w)) OVER (ORDER BY md5(doc_id::VARCHAR), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
                FROM toks),
          b AS (SELECT doc_id, off, n,
                  unnest(generate_series(off // 64, (off + n - 1) // 64)) AS block_id
                FROM o),
          pieces AS (SELECT doc_id, block_id,
                       greatest(off, block_id * 64) - block_id * 64 AS start_in_block,
                       greatest(off, block_id * 64) - off AS doc_offset,
                       least(off + n, (block_id + 1) * 64)
                         - greatest(off, block_id * 64) AS n_tokens_in_block
                     FROM b),
          tok AS (SELECT doc_id, p - 1 AS p, w[p] AS tok
                  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM toks)),
          j AS (SELECT pc.block_id,
                  pc.start_in_block + t.p - pc.doc_offset AS bp, t.tok, t.doc_id
                FROM pieces pc JOIN tok t ON t.doc_id = pc.doc_id
                WHERE t.p >= pc.doc_offset
                  AND t.p < pc.doc_offset + pc.n_tokens_in_block)
          SELECT block_id, string_agg(tok, ' ' ORDER BY bp) AS block_text,
                 count(DISTINCT doc_id) AS n_docs, count(*) AS n_tokens
          FROM j GROUP BY 1""",

    // identical model: floorLog2 replayed as len(bin(n))-1 (bin() agrees
    // between engines for positive integers: no leading zeros), identical
    // deterministic vocabulary cut (count desc, token asc LIMIT 16), and
    // integer division (both positive, so // and div agree)
    "q77_unigram_surprisal" -> surprisalSql,

    // identical hash intervals: md5(source) 32-bit prefix against the
    // cumulative binary-exact thresholds (0.75 / 0.875 of 2^32)
    "q78_assign_splits" ->
      """SELECT doc_id, source,
           CASE WHEN source IS NULL THEN NULL
                WHEN h < 3221225472 THEN 'train'
                WHEN h < 3758096384 THEN 'val'
                ELSE 'test' END AS split
         FROM (SELECT doc_id, source,
                 ('0x' || substr(md5(source), 1, 8))::BIGINT AS h
               FROM documents)""",

    // identical pair list (q15's jaccard SQL) x identical per-doc split
    // hash; leaked = the two sides' splits differ
    "q79_split_leakage" ->
      s"""WITH pairs AS ($jaccardPairsSql),
          asg AS (SELECT doc_id,
                    CASE WHEN h < 3221225472 THEN 'train'
                         WHEN h < 3758096384 THEN 'val'
                         ELSE 'test' END AS split
                  FROM (SELECT doc_id,
                          ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::BIGINT AS h
                        FROM $dedupUniverseSql u))
          SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
          FROM pairs p
          JOIN asg a ON a.doc_id = p.doc_a
          JOIN asg b ON b.doc_id = p.doc_b
          WHERE a.split <> b.split""",

    // q08's closed-form spans with the same plant on span 3, the same
    // scrub chain replayed over every text span, and the Luhn-gated count
    // totalled over the original (planted) text spans
    "q80_scrub_spans" ->
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id % 10 IN (3, 4)),
          t AS (SELECT $K AS doc_id,
                  'I. INTRODUCTION ' || $C || ' Manual Entry 1 TABLE ' || $K || '. CAP ' || $K AS s0,
                  'contact bob@example.com from 10.0.0.1 card 4111111111111111 NOTES ' || $K AS s3,
                  'APPENDIX ' || $K || ' APP ' || $W0 AS s4
                FROM d),
          n AS (SELECT doc_id, s0, s3, s4,
                  ${piiCountSql("s0")} + ${piiCountSql("s3")} + ${piiCountSql("s4")} AS n_pii
                FROM t)
          SELECT doc_id, 0 AS span_offset, 'text' AS kind,
                 ${scrubSql("s0")} AS text, NULL AS media_ref, n_pii FROM n
          UNION ALL SELECT doc_id, 1, 'media', NULL, 'fig' || doc_id || 'a.gif', n_pii FROM n
          UNION ALL SELECT doc_id, 2, 'media', NULL, 'fig' || doc_id || 'b.gif', n_pii FROM n
          UNION ALL SELECT doc_id, 3, 'text', ${scrubSql("s3")}, NULL, n_pii FROM n
          UNION ALL SELECT doc_id, 4, 'text', ${scrubSql("s4")}, NULL, n_pii FROM n""",

    // identical clone plant + two-level aggregation over (source, md5(text))
    "q81_source_dup_stats" ->
      """WITH uni AS (SELECT source, text FROM documents
                      UNION ALL
                      SELECT source, text FROM documents WHERE doc_id % 5 = 0),
          g AS (SELECT source, md5(text) AS h, count(*) AS c
                FROM uni WHERE text IS NOT NULL GROUP BY 1, 2)
          SELECT source,
                 sum(c)::BIGINT AS n_docs,
                 count(*) AS n_distinct_texts,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END)::BIGINT AS n_dup_docs,
                 max(c)::BIGINT AS max_copies
          FROM g GROUP BY source""",

    // identical v2 derivation + full-outer join with null-safe hash compare
    "q82_corpus_diff" ->
      """WITH o AS (SELECT doc_id, md5(text) AS h, 1 AS po FROM documents),
          n0 AS (SELECT doc_id,
                   CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text
                 FROM documents WHERE doc_id % 7 <> 0
                 UNION ALL
                 SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 11 = 0),
          n AS (SELECT doc_id, md5(text) AS h, 1 AS pn FROM n0)
          SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                 CASE WHEN o.po IS NULL THEN 'added'
                      WHEN n.pn IS NULL THEN 'removed'
                      WHEN o.h IS NOT DISTINCT FROM n.h THEN 'unchanged'
                      ELSE 'changed' END AS status
          FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id""",

    // identical integer volumes; same explicit whitespace class + BPE regex
    "q83_lang_token_budget" ->
      s"""SELECT lang, count(*) AS n_docs,
            sum(len(text))::BIGINT AS n_chars,
            sum(len($WORDS))::BIGINT AS n_ws_tokens,
            sum(len(regexp_extract_all(text, '$BPE')))::BIGINT AS n_bpe_tokens
          FROM documents WHERE text IS NOT NULL GROUP BY lang""",

    // the same bucket CASE / within-bucket md5 rank / fixed-size batch cut
    // / per-batch max, restated as windows (fine at oracle scale; the
    // Spark plan replaces the per-bucket window with the distributed
    // grouped rank)
    "q84_bucket_batches" ->
      s"""WITH t AS (SELECT doc_id, coalesce(len($WORDS), 0)::BIGINT AS len_tokens
                     FROM documents),
          b AS (SELECT doc_id, len_tokens,
                  CASE WHEN len_tokens <= 16 THEN 0 WHEN len_tokens <= 32 THEN 1
                       WHEN len_tokens <= 64 THEN 2 WHEN len_tokens <= 128 THEN 3
                       ELSE 4 END AS bucket FROM t),
          r AS (SELECT doc_id, len_tokens, bucket,
                  (row_number() OVER (PARTITION BY bucket
                     ORDER BY md5(doc_id::VARCHAR), doc_id) - 1) // 8 AS batch_id
                FROM b)
          SELECT doc_id, len_tokens, bucket, batch_id,
                 (max(len_tokens) OVER (PARTITION BY bucket, batch_id)
                  - len_tokens)::BIGINT AS pad_tokens
          FROM r""",

    // the same shard cut as q52 (exclusive prefix sum over len(text) in
    // doc_id order / 10k) + one group-by with an order-independent XOR of
    // the 32-bit md5-prefix hash of 'id:md5(text)'
    "q88_shard_manifest" ->
      """WITH s AS (SELECT doc_id, len(text)::BIGINT AS w,
               ('0x' || substr(md5(doc_id::VARCHAR || ':' || md5(text)), 1, 8))::BIGINT AS h32,
               (coalesce(sum(len(text)) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                // 10000)::BIGINT AS shard_id
             FROM documents)
         SELECT shard_id, count(*) AS n_docs, sum(w)::BIGINT AS total_chars,
                min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id,
                bit_xor(h32) AS checksum
         FROM s GROUP BY shard_id""",

    // same planted universe as q54; lines in >2 distinct docs removed
    // everywhere, short lines bypass, docs rebuilt in line order
    "q85_remove_frequent_lines" ->
      """WITH d AS (
           SELECT doc_id, concat_ws(chr(10),
             CASE WHEN doc_id % 2 = 0 THEN 'shared header boilerplate menu home about contact'
                  ELSE substr(text, 1, 50) END,
             substr(text, 51, 50),
             CASE WHEN doc_id % 3 = 0 THEN 'copyright footer all rights reserved'
                  ELSE substr(text, 101, 50) END) AS text
           FROM documents),
         p AS (
           SELECT doc_id, unnest(generate_series(1, len(parts))) - 1 AS pos,
                  unnest(parts) AS line
           FROM (SELECT doc_id, string_split(text, chr(10)) AS parts FROM d)),
         freq AS (
           SELECT md5(line) AS h FROM p WHERE len(line) >= 10
           GROUP BY 1 HAVING count(DISTINCT doc_id) > 2),
         keep AS (
           SELECT doc_id, pos, line FROM p
           WHERE len(line) < 10 OR md5(line) NOT IN (SELECT h FROM freq)),
         reb AS (
           SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text,
                  count(*) AS n_kept
           FROM keep GROUP BY doc_id),
         orig AS (SELECT doc_id, len(string_split(text, chr(10)))::BIGINT AS n0 FROM d)
         SELECT orig.doc_id, coalesce(reb.text, '') AS text,
                (orig.n0 - coalesce(reb.n_kept, 0))::BIGINT AS n_lines_removed
         FROM orig LEFT JOIN reb USING (doc_id)""",

    // directed exact-jaccard restatement (LSH recall ~1 at these params,
    // and every candidate is exact-verified, so the verified output IS
    // the exact batch x store jaccard match list), min store id per doc.
    // truncated is the constant 0 here because every planted store bucket
    // holds far fewer than maxBucket ids — the overflow path is pinned by
    // the degenerate-bucket ScalaTest instead
    "q87_incremental_minhash" ->
      s"""WITH store AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
          batch AS (
            SELECT doc_id + 1000000 AS doc_id,
                   array_to_string(w[1:len(w)-1], ' ') AS text
            FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id < 50)
            UNION ALL
            SELECT doc_id + 2000000 AS doc_id, text FROM documents
            WHERE doc_id BETWEEN 300 AND 349
            UNION ALL
            SELECT doc_id + 3000000 AS doc_id, text FROM documents
            WHERE doc_id BETWEEN 100 AND 119),
          bt AS (SELECT doc_id, $WORDS AS w FROM batch),
          st AS (SELECT doc_id, $WORDS AS w FROM store),
          bsh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(w) - 2, 0)),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM bt),
          ssh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(w) - 2, 0)),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM st),
          bsz AS (SELECT doc_id, count(*) AS sz FROM bsh GROUP BY 1),
          ssz AS (SELECT doc_id, count(*) AS sz FROM ssh GROUP BY 1),
          inter AS (SELECT b.doc_id AS doc_id, s.doc_id AS store_id, count(*) AS c
                    FROM bsh b JOIN ssh s ON b.shingle = s.shingle GROUP BY 1, 2)
          SELECT inter.doc_id AS doc_id, min(store_id) AS dup_of,
                 0 AS truncated
          FROM inter
          JOIN bsz ON bsz.doc_id = inter.doc_id
          JOIN ssz ON ssz.doc_id = inter.store_id
          WHERE c * 1.0 / (bsz.sz + ssz.sz - c) >= 0.85
          GROUP BY inter.doc_id""",

    // q20's exact quality CASE per doc, grouped by source; blocked =
    // integer half test gated on minDocs=3
    "q89_domain_quality" ->
      s"""WITH d AS (
            SELECT source,
                   CASE WHEN doc_id % 2 = 0
                        THEN 'the of and to a in is that it for the of and to a in is that it for ' || text
                        ELSE text END AS text
            FROM documents
            UNION ALL
            SELECT 'tinysrc' AS source, 'tiny corpus page' AS text
            FROM documents WHERE doc_id < 2),
          q AS (
            SELECT source,
              CASE WHEN len($WORDS) < 16 THEN 'short'
                   WHEN len(list_filter($WORDS, w -> list_contains(['the','of','and','to','a','in','is','that','it','for'], w))) * 10 >= len($WORDS) THEN 'fluent'
                   ELSE 'list-like' END AS b
            FROM d)
          SELECT source AS domain, count(*) AS n_docs,
                 sum(CASE WHEN b = 'fluent' THEN 1 ELSE 0 END)::BIGINT AS n_fluent,
                 sum(CASE WHEN b = 'short' THEN 1 ELSE 0 END)::BIGINT AS n_short,
                 sum(CASE WHEN b = 'list-like' THEN 1 ELSE 0 END)::BIGINT AS n_listlike,
                 (count(*) >= 3 AND
                  sum(CASE WHEN b = 'fluent' THEN 1 ELSE 0 END) * 2 < count(*))::INT AS blocked
          FROM q GROUP BY 1""",

    // q80's span layout (minus the pii plant) with a-figure refs replaced
    // by their payload group's min ref; payload groups = md5-prefix of the
    // ref for a.gif (16 collision groups), unique for b.gif
    "q90_dedup_media" ->
      s"""WITH d AS (SELECT * FROM documents WHERE doc_id % 10 IN (3, 4)),
          t AS (SELECT $K AS doc_id,
                  'I. INTRODUCTION ' || $C || ' Manual Entry 1 TABLE ' || $K || '. CAP ' || $K AS s0,
                  'NOTES ' || $K AS s3,
                  'APPENDIX ' || $K || ' APP ' || $W0 AS s4
                FROM d),
          refs AS (SELECT 'fig' || doc_id || 'a.gif' AS ref FROM t
                   UNION ALL
                   SELECT 'fig' || doc_id || 'b.gif' AS ref FROM t),
          m AS (SELECT ref,
                  md5(CASE WHEN ref LIKE '%a.gif'
                           THEN 'payload-a-' || substr(md5(ref), 1, 1)
                           ELSE 'payload-b-' || ref END) AS h
                FROM refs),
          canon AS (SELECT h, min(ref) AS cref FROM m GROUP BY 1),
          mp AS (SELECT ref, cref FROM m JOIN canon USING (h)),
          j AS (SELECT t.*, ma.cref AS ca, mb.cref AS cb,
                  ((CASE WHEN ma.cref <> 'fig' || t.doc_id || 'a.gif' THEN 1 ELSE 0 END)
                 + (CASE WHEN mb.cref <> 'fig' || t.doc_id || 'b.gif' THEN 1 ELSE 0 END))::BIGINT AS n_repointed
                FROM t
                JOIN mp ma ON ma.ref = 'fig' || t.doc_id || 'a.gif'
                JOIN mp mb ON mb.ref = 'fig' || t.doc_id || 'b.gif')
          SELECT doc_id, 0 AS span_offset, 'text' AS kind, s0 AS text,
                 NULL AS media_ref, n_repointed FROM j
          UNION ALL SELECT doc_id, 1, 'media', NULL, ca, n_repointed FROM j
          UNION ALL SELECT doc_id, 2, 'media', NULL, cb, n_repointed FROM j
          UNION ALL SELECT doc_id, 3, 'text', s3, NULL, n_repointed FROM j
          UNION ALL SELECT doc_id, 4, 'text', s4, NULL, n_repointed FROM j""",

    // document frequency per snapshot (distinct per doc), full-outer join,
    // top-k by (|delta| desc, term asc) — a deterministic total order
    "q86_term_drift" ->
      s"""WITH o AS (
            SELECT term, count(*) AS df_old
            FROM (SELECT doc_id, unnest(list_distinct($WORDS)) AS term FROM documents) t
            GROUP BY 1),
          v2 AS (
            SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' zeitgeist'
                                ELSE text END AS text
            FROM documents WHERE doc_id % 5 != 0),
          n AS (
            SELECT term, count(*) AS df_new
            FROM (SELECT doc_id, unnest(list_distinct($WORDS)) AS term FROM v2) t
            GROUP BY 1),
          j AS (
            SELECT coalesce(o.term, n.term) AS term,
                   coalesce(df_old, 0)::BIGINT AS df_old,
                   coalesce(df_new, 0)::BIGINT AS df_new
            FROM o FULL OUTER JOIN n ON o.term = n.term)
          SELECT term, df_old, df_new, (df_new - df_old)::BIGINT AS delta
          FROM j ORDER BY abs(df_new - df_old) DESC, term ASC LIMIT 20""",

    // identical one-pass totals (sums cast: DuckDB sums to HUGEINT)
    "q74_corpus_card" ->
      s"""SELECT count(*) AS n_docs,
                 sum(len($WORDS))::BIGINT AS n_tokens,
                 sum(len(text))::BIGINT AS n_chars,
                 count(DISTINCT lang) AS n_langs,
                 count(DISTINCT source) AS n_sources,
                 sum(CASE WHEN len($WORDS) = 0 THEN 1 ELSE 0 END)::BIGINT AS n_empty_docs,
                 max(len($WORDS)) AS max_doc_tokens,
                 min(len($WORDS)) AS min_doc_tokens
          FROM documents""",

    // identical segmentation: RE2 split on the same pattern after the
    // same planted-punctuation rewrite
    "q75_split_sentences" ->
      """WITH d AS (SELECT doc_id,
                      regexp_replace(text, '\bbatch\b', 'batch.', 'g') AS text
                    FROM documents),
          s AS (SELECT doc_id,
                  list_filter(regexp_split_to_array(text, '[.!?]+[ \t\n\x0b\f\r]+'),
                    x -> len(x) > 0) AS sents
                FROM d),
          e AS (SELECT doc_id, p - 1 AS sent_id, sents[p] AS sentence
                FROM (SELECT doc_id, sents,
                        unnest(generate_series(1, len(sents))) AS p FROM s))
          SELECT doc_id, sent_id, sentence,
                 len(list_filter(regexp_split_to_array(sentence, '[ \t\n\x0b\f\r]+'),
                   w -> len(w) > 0)) AS n_words
          FROM e""",

    // identical extraction: json field '$.k' as BIGINT, null on corrupt
    // JSON or non-integer field
    "q73_parse_props" ->
      """WITH e AS (SELECT event_id, event_type,
                      CASE WHEN event_id % 10 = 0 THEN 'garbage' ELSE props END AS props
                    FROM events),
          p AS (SELECT event_id, event_type,
                  CASE WHEN json_valid(props)
                       THEN try_cast(json_extract_string(props, '$.k') AS BIGINT) END AS k
                FROM e)
          SELECT event_id, event_type, k,
                 CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END AS props_ok
          FROM p""",

    // identical nearest-rank derivation over the length histogram
    "q72_length_percentiles" ->
      s"""WITH h AS (SELECT len($WORDS) AS n_tokens, count(*) AS cnt
                     FROM documents GROUP BY 1),
          c AS (SELECT n_tokens,
                  sum(cnt) OVER (ORDER BY n_tokens) AS cum,
                  sum(cnt) OVER () AS total FROM h),
          p AS (SELECT unnest([25, 50, 75, 90, 99]) AS percentile)
          SELECT p.percentile, min(c.n_tokens) AS n_tokens
          FROM p JOIN c ON c.cum * 100 >= c.total * p.percentile
          GROUP BY 1""",

    // identical layout derivation: exclusive prefix sum over the md5
    // order, block pieces via generate_series; integers throughout
    "q71_pack_token_blocks" ->
      s"""WITH toks AS (SELECT doc_id, len($WORDS) AS n FROM documents
                        WHERE len($WORDS) > 0),
          o AS (SELECT doc_id, n,
                  coalesce(sum(n) OVER (ORDER BY md5(doc_id::VARCHAR), doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS off
                FROM toks),
          b AS (SELECT doc_id, n, off,
                  unnest(generate_series(off // 64, (off + n - 1) // 64)) AS block_id
                FROM o)
          SELECT doc_id, block_id,
                 greatest(off, block_id * 64) - block_id * 64 AS start_in_block,
                 greatest(off, block_id * 64) - off AS doc_offset,
                 least(off + n, (block_id + 1) * 64)
                   - greatest(off, block_id * 64) AS n_tokens_in_block
          FROM b""",

    // closed-form from the span layouts + the planted payload table:
    // xml a.gif resolved / b.gif orphan; pdf png resolved / extra- unused
    "q70_media_integrity" ->
      s"""WITH dx AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (3, 4)),
          dp AS (SELECT doc_id FROM documents WHERE doc_id % 10 IN (8, 9))
          SELECT $K AS doc_id, 'fig' || $K || 'a.gif' AS media_ref,
                 1::BIGINT AS n_span_refs, 'resolved' AS status FROM dx
          UNION ALL SELECT $K, 'fig' || $K || 'b.gif', 1, 'orphan' FROM dx
          UNION ALL SELECT $K, 'pimg' || $K || '.png', 1, 'resolved' FROM dp
          UNION ALL SELECT $K, 'extra-pimg' || $K || '.png', 0, 'unused' FROM dp""",

    // identical removal derivation: covered positions from duplicated
    // 5-grams, kept tokens re-joined in position order
    "q69_substring_dedup" ->
      s"""WITH uni AS $dedupUniverseSql,
          toks AS (SELECT doc_id, $WORDS AS w FROM uni),
          idx AS (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w) - 4, 0))) AS i FROM toks),
          occ AS (SELECT doc_id, i - 1 AS i,
                    w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3] || ' ' || w[i+4] AS sh
                  FROM idx),
          dup AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) > 1),
          cov AS (SELECT DISTINCT o.doc_id, unnest(generate_series(o.i, o.i + 4)) AS p
                  FROM occ o JOIN dup USING (sh)),
          tok AS (SELECT doc_id, p - 1 AS p, w[p] AS tok
                  FROM (SELECT doc_id, w, unnest(generate_series(1, len(w))) AS p FROM toks)),
          kept AS (SELECT t.doc_id, t.p, t.tok FROM tok t
                   WHERE NOT EXISTS (SELECT 1 FROM cov c WHERE c.doc_id = t.doc_id AND c.p = t.p)),
          agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS text_deduped,
                         count(*) AS n_kept
                  FROM kept GROUP BY 1)
          SELECT t.doc_id, coalesce(a.text_deduped, '') AS text_deduped,
                 len(w) AS n_tokens, len(w) - coalesce(a.n_kept, 0) AS n_removed
          FROM toks t LEFT JOIN agg a USING (doc_id)""",

    // vocabulary = corpus top-64 terms by document frequency (df desc, term
    // asc); per-doc OOV token-occurrence counts
    "q67_vocab_coverage" ->
      s"""WITH toks AS (SELECT doc_id, unnest($WORDS) AS term FROM documents),
          dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
          vocab AS (SELECT term FROM dfreq ORDER BY df DESC, term LIMIT 64),
          oov AS (SELECT doc_id, count(*) AS n_oov FROM toks
                  WHERE term NOT IN (SELECT term FROM vocab) GROUP BY 1)
          SELECT d.doc_id, len($WORDS) AS n_tokens, coalesce(o.n_oov, 0) AS n_oov
          FROM documents d LEFT JOIN oov o USING (doc_id)""",

    // identical window derivation: starts every 24 tokens, 32-token windows,
    // last window starts at the first stride multiple that fits the tail
    "q68_chunk_windows" ->
      s"""WITH toks AS (SELECT doc_id, $WORDS AS w FROM documents),
          k AS (SELECT doc_id, w, (greatest(len(w) - 32, 0) + 23) // 24 + 1 AS k
                FROM toks WHERE len(w) > 0),
          c AS (SELECT doc_id, w, unnest(generate_series(0, k - 1)) AS chunk_id FROM k)
          SELECT doc_id, chunk_id,
                 array_to_string(w[chunk_id*24 + 1 : chunk_id*24 + 32], ' ') AS chunk_text,
                 least(32, len(w) - chunk_id*24) AS n_chunk_tokens
          FROM c""",

    // the greedy merge kernel replayed as a delimiter-guarded replace
    // chain: each word renders as '|c|h|a|r|s|', each merge applies as two
    // replace passes (lhs != rhs makes occurrences disjoint, so the
    // fixpoint equals the greedy result and pass two reaches it); token
    // count = pipes - 1. '|' never collides with the corpus alphabet —
    // WORDS tokens are whitespace-free but pipes in exotic corpora would
    // need a different guard.
    "q106_bpe_encode" ->
      s"""WITH d AS (SELECT doc_id, coalesce($WORDS, CAST([] AS VARCHAR[])) AS w
                     FROM documents),
          enc AS (SELECT doc_id, w,
                    list_transform(w, x -> ${bpeEncSql("x")}) AS e
                  FROM d)
          SELECT doc_id, len(w)::BIGINT AS n_words,
                 coalesce(list_aggregate(list_transform(w, x -> length(x)), 'sum'), 0)::BIGINT AS n_sym_chars,
                 coalesce(list_aggregate(list_transform(e, s ->
                   length(s) - length(replace(s, '|', '')) - 1), 'sum'), 0)::BIGINT AS n_bpe_tokens
          FROM enc""",

    // the q106 chain rolled up under the q19 language CASE
    "q107_bpe_fertility" ->
      s"""WITH lang AS ($langIdSql),
          d AS (SELECT doc_id, coalesce($WORDS, CAST([] AS VARCHAR[])) AS w
                FROM documents),
          enc AS (SELECT doc_id, len(w)::BIGINT AS n_words,
                    coalesce(list_aggregate(list_transform(w, x ->
                      length(${bpeEncSql("x")}) - length(replace(${bpeEncSql("x")}, '|', '')) - 1),
                      'sum'), 0)::BIGINT AS n_bpe_tokens
                  FROM d)
          SELECT l.lang_pred, count(*)::BIGINT AS n_docs,
                 sum(e.n_words)::BIGINT AS n_words,
                 sum(e.n_bpe_tokens)::BIGINT AS n_bpe_tokens
          FROM lang l JOIN enc e USING (doc_id)
          GROUP BY l.lang_pred""",

    // two unigram models in the same quantized log-space as q77 (source =
    // all docs, target = lang 'en'), per-side OOV fallback, score =
    // sum(s_src - s_tgt); selection spelled multiplicatively (sign-exact
    // in both engines)
    "q108_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, unnest($WORDS) AS tok FROM documents),
          sc AS (SELECT tok, count(*)::BIGINT AS cnt FROM toks GROUP BY tok),
          st AS (SELECT len(bin(sum(cnt)::BIGINT)) - 1 AS maxs FROM sc),
          sv AS (SELECT tok, (SELECT maxs FROM st) - (len(bin(cnt)) - 1) AS s
                 FROM sc ORDER BY cnt DESC, tok LIMIT 16),
          tt AS (SELECT unnest($WORDS) AS tok FROM documents WHERE lang = 'en'),
          tc AS (SELECT tok, count(*)::BIGINT AS cnt FROM tt GROUP BY tok),
          tto AS (SELECT len(bin(sum(cnt)::BIGINT)) - 1 AS maxs FROM tc),
          tv AS (SELECT tok, (SELECT maxs FROM tto) - (len(bin(cnt)) - 1) AS s
                 FROM tc ORDER BY cnt DESC, tok LIMIT 16),
          per AS (SELECT t.doc_id, count(*)::BIGINT AS n_tokens,
                    sum(coalesce(v1.s, (SELECT maxs FROM st))
                      - coalesce(v2.s, (SELECT maxs FROM tto)))::BIGINT AS logw_sum
                  FROM toks t LEFT JOIN sv v1 USING (tok) LEFT JOIN tv v2 USING (tok)
                  GROUP BY t.doc_id)
          SELECT d.doc_id,
                 coalesce(p.n_tokens, 0)::BIGINT AS n_tokens,
                 coalesce(p.logw_sum, 0)::BIGINT AS logw_sum,
                 (CASE WHEN coalesce(p.n_tokens, 0) > 0
                        AND coalesce(p.logw_sum, 0) * 100 >= 50 * coalesce(p.n_tokens, 0)
                       THEN 1 ELSE 0 END)::INT AS selected
          FROM documents d LEFT JOIN per p USING (doc_id)""",

    // the identical cell hash (md5-prefix of 'seed:tok' mod width), depth 4
    // rows, min-over-rows read at the exact top-10 terms
    "q109_cms_estimate" ->
      s"""WITH toks AS (SELECT unnest($WORDS) AS tok FROM documents),
          exact AS (SELECT tok, count(*)::BIGINT AS true_cnt FROM toks
                    GROUP BY tok ORDER BY true_cnt DESC, tok LIMIT 10),
          seeds AS (SELECT unnest(generate_series(0, 3)) AS seed),
          cells AS (SELECT seed,
                      ('0x' || substr(md5(seed::VARCHAR || ':' || tok), 1, 8))::BIGINT % 64 AS bucket,
                      count(*)::BIGINT AS cnt
                    FROM toks CROSS JOIN seeds GROUP BY seed, bucket),
          probe AS (SELECT e.tok, e.true_cnt, s.seed,
                      ('0x' || substr(md5(s.seed::VARCHAR || ':' || e.tok), 1, 8))::BIGINT % 64 AS bucket
                    FROM exact e CROSS JOIN seeds s)
          SELECT p.tok, p.true_cnt,
                 min(coalesce(c.cnt, 0))::BIGINT AS est_cnt
          FROM probe p LEFT JOIN cells c ON p.seed = c.seed AND p.bucket = c.bucket
          GROUP BY p.tok, p.true_cnt""",

    // the identical bit-length binning (4 sub-buckets per octave), running
    // count over the bounded bucket table, rank = ceil(p*N/100) in integer
    // arithmetic, answering bucket's [lo, hi] shifted back to v-space
    "q110_hist_quantiles" ->
      """WITH hb AS (SELECT CASE WHEN len(bin(n_chars + 1)) - 1 < 2 THEN n_chars + 1
                                 ELSE (len(bin(n_chars + 1)) - 1) * 4
                                      + (((n_chars + 1) >> (len(bin(n_chars + 1)) - 3)) & 3)
                            END AS bucket FROM documents),
          hist AS (SELECT bucket, count(*)::BIGINT AS cnt FROM hb GROUP BY bucket),
          cum AS (SELECT bucket, sum(cnt) OVER (ORDER BY bucket) AS cum FROM hist),
          tot AS (SELECT sum(cnt)::BIGINT AS n FROM hist),
          ranks AS (SELECT p::BIGINT AS p,
                      ((p * (SELECT n FROM tot) + 99) // 100)::BIGINT AS rank
                    FROM (SELECT unnest([50, 90, 99]) AS p)),
          ans AS (SELECT r.p, r.rank, min(c.bucket)::BIGINT AS bucket
                  FROM ranks r LEFT JOIN cum c ON c.cum >= r.rank
                  GROUP BY r.p, r.rank)
          SELECT p, rank, bucket,
            (CASE WHEN bucket < 8 THEN bucket
                  ELSE (bucket % 4 + 4) << (bucket // 4 - 2) END - 1)::BIGINT AS lo_est,
            (CASE WHEN bucket < 8 THEN bucket
                  ELSE ((bucket % 4 + 5) << (bucket // 4 - 2)) - 1 END - 1)::BIGINT AS hi_est
          FROM ans""",

    // the identical 60-bit simhash (q17's oracle), four 15-bit bands,
    // the same smallest-64-ids-per-bucket cap with an exact truncated
    // flag, hamming verified via bit_count(xor)
    "q111_simhash_neardup" ->
      s"""WITH sims AS ($simhashSql),
          bands AS (SELECT doc_id,
                      b * (1::BIGINT << 60) + ((simhash >> (15 * b)) & 32767) AS bucket
                    FROM sims, (SELECT unnest([0, 1, 2, 3]) AS b) bb),
          r AS (SELECT doc_id, bucket,
                  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
                FROM bands),
          tr AS (SELECT bucket, (CASE WHEN max(rn) > 64 THEN 1 ELSE 0 END)::INT AS tflag
                 FROM r GROUP BY bucket),
          capped AS (SELECT doc_id, bucket FROM r WHERE rn <= 64),
          cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     max(t.tflag)::INT AS truncated
                   FROM capped a JOIN capped b USING (bucket)
                   JOIN tr t USING (bucket)
                   WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
          SELECT c.doc_a, c.doc_b,
                 bit_count(xor(sa.simhash, sb.simhash))::INT AS hamming,
                 c.truncated
          FROM cand c
          JOIN sims sa ON sa.doc_id = c.doc_a
          JOIN sims sb ON sb.doc_id = c.doc_b
          WHERE bit_count(xor(sa.simhash, sb.simhash)) <= 3""",

    // same WORDS tokenization; postings = the 16 smallest doc ids per term
    // as delta:tf gaps (first delta from 0), df/total_tf exact over ALL
    // postings, truncated when df exceeds the cap
    "q112_inverted_index" ->
      s"""WITH tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                      FROM (SELECT doc_id, unnest($WORDS) AS term FROM documents)
                      GROUP BY 1, 2),
          r AS (SELECT term, doc_id, tf,
                  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
                  lag(doc_id, 1, 0) OVER (PARTITION BY term ORDER BY doc_id) AS prev
                FROM tf)
          SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf,
            string_agg(CASE WHEN rn <= 16
                         THEN (doc_id - prev)::VARCHAR || ':' || tf::VARCHAR END,
                       ',' ORDER BY doc_id) AS postings,
            (CASE WHEN count(*) > 16 THEN 1 ELSE 0 END)::INT AS truncated
          FROM r GROUP BY term""",

    // same WORDS tokenization; idf = bit-length log2 (q77's quantization
    // argument), tf saturation in c1000 fixed point with k1=1.2, b=0.75 —
    // integer div only, so the top-20 cut is a deterministic total order
    "q113_bm25" ->
      s"""WITH b AS (SELECT doc_id, coalesce($WORDS, []) AS w FROM documents),
          d2 AS (SELECT doc_id, len(w) AS dl,
                   list_filter(w, t -> t IN ('dup', 'vector', 'stream')) AS qw
                 FROM b),
          stats AS (SELECT count(*)::BIGINT AS n, sum(dl)::BIGINT AS l FROM d2),
          tok AS (SELECT doc_id, dl, unnest(qw) AS term FROM d2),
          tf AS (SELECT doc_id, dl::BIGINT AS dl, term, count(*)::BIGINT AS tf
                 FROM tok GROUP BY 1, 2, 3),
          dfs AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
          sc AS (SELECT t.doc_id,
                   (len(bin(s.n)) - len(bin(d.df)))::BIGINT *
                     ((22000 * t.tf * 1000) //
                      (10000 * t.tf + 3000 + 9 * ((t.dl * s.n * 1000) // s.l))) AS c
                 FROM tf t JOIN dfs d USING (term) CROSS JOIN stats s)
          SELECT doc_id, sum(c)::BIGINT AS score_c1000,
                 count(*)::BIGINT AS n_hits
          FROM sc GROUP BY doc_id
          ORDER BY score_c1000 DESC, doc_id LIMIT 20""",

    // the incremental curation chain restated store-first: normalized-hash
    // ownership + store-hash membership -> exact 3-gram jaccard vs the
    // store -> embedding cosine vs the store -> q94's within-batch
    // machinery (pairs, recursive-CTE components, longest-wins resolution,
    // short gate, scrub + split hash) over what is genuinely novel
    "q114_curate_incremental" ->
      s"""WITH RECURSIVE
          sn AS (SELECT md5(${normSql("text")}) AS h FROM documents WHERE doc_id < 150),
          st_tk AS (SELECT doc_id, $WORDS AS w, source FROM documents WHERE doc_id < 30),
          b0 AS (SELECT doc_id,
                   CASE WHEN doc_id % 7 = 0 THEN 'contact bob@example.com ' || text
                        ELSE text END AS text, source
                 FROM documents WHERE doc_id BETWEEN 200 AND 259),
          tk0 AS (SELECT doc_id, $WORDS AS w, source FROM b0),
          batch AS (
            SELECT doc_id, text, source FROM b0
            UNION ALL SELECT doc_id + 1000000, array_to_string(w[1:len(w)-1], ' '), source
                      FROM tk0 WHERE doc_id < 230
            UNION ALL SELECT doc_id + 3000000, upper(text) || '!!!', source
                      FROM b0 WHERE doc_id < 220
            UNION ALL SELECT doc_id + 4000000, text, source FROM documents
                      WHERE doc_id BETWEEN 100 AND 119
            UNION ALL SELECT doc_id + 2000000, array_to_string(w[1:len(w)-1], ' '), source
                      FROM st_tk
            UNION ALL SELECT doc_id + 5000000, text, source FROM documents
                      WHERE doc_id BETWEEN 260 AND 279),
          nrm AS (SELECT doc_id, text, source, md5(${normSql("text")}) AS h FROM batch),
          own AS (SELECT h, min(doc_id) AS own FROM nrm GROUP BY 1),
          ex AS (SELECT nrm.doc_id FROM nrm JOIN own USING (h) WHERE nrm.doc_id <> own.own
                 UNION SELECT nrm.doc_id FROM nrm WHERE h IN (SELECT h FROM sn)),
          s1 AS (SELECT doc_id, text, source FROM nrm
                 WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
          s1sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(w) - 2, 0)),
                     i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
                   FROM (SELECT doc_id, $WORDS AS w FROM s1)),
          ssh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                    generate_series(1, greatest(len(w) - 2, 0)),
                    i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle
                  FROM (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id < 150)),
          bsz AS (SELECT doc_id, count(*) AS sz FROM s1sh GROUP BY 1),
          ssz AS (SELECT doc_id, count(*) AS sz FROM ssh GROUP BY 1),
          sint AS (SELECT b.doc_id AS doc_id, s.doc_id AS sid, count(*) AS c
                   FROM s1sh b JOIN ssh s ON b.shingle = s.shingle GROUP BY 1, 2),
          ndst AS (SELECT DISTINCT sint.doc_id FROM sint
                   JOIN bsz ON bsz.doc_id = sint.doc_id
                   JOIN ssz ON ssz.doc_id = sint.sid
                   WHERE c * 1.0 / (bsz.sz + ssz.sz - c) >= 0.85),
          s2 AS (SELECT * FROM s1 WHERE doc_id NOT IN (SELECT doc_id FROM ndst)),
          bemb AS (
            SELECT d.doc_id + 5000000 AS vid,
                   list_concat([(e.embedding[1] + 0.05::FLOAT)::FLOAT], e.embedding[2:]) AS embedding
            FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id - 200
            WHERE d.doc_id BETWEEN 260 AND 279
            UNION ALL
            SELECT b.doc_id AS vid, e.embedding
            FROM batch b JOIN embeddings e ON e.vec_id = 300 + (b.doc_id % 50)
            WHERE b.doc_id NOT BETWEEN 5000260 AND 5000279),
          edup AS (SELECT DISTINCT s2.doc_id FROM s2
                   JOIN bemb ON bemb.vid = s2.doc_id
                   JOIN embeddings st ON st.vec_id < 150
                     AND list_cosine_similarity(bemb.embedding::DOUBLE[], st.embedding::DOUBLE[]) >= 0.95),
          s3 AS (SELECT * FROM s2 WHERE doc_id NOT IN (SELECT doc_id FROM edup)),
          toks AS (SELECT doc_id, $WORDS AS w FROM s3),
          sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                   generate_series(1, greatest(len(w) - 2, 0)),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))) AS shingle FROM toks),
          sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
          inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
                    FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY 1, 2),
          pairs AS (SELECT doc_a, doc_b FROM inter
                    JOIN sizes sa ON sa.doc_id = doc_a
                    JOIN sizes sb ON sb.doc_id = doc_b
                    WHERE c * 1.0 / (sa.sz + sb.sz - c) >= 0.85),
          edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
                    UNION SELECT doc_b, doc_a FROM pairs),
          reach(id, label) AS (
            SELECT DISTINCT src, src FROM edges
            UNION
            SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
          cl AS (SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY 1),
          rn AS (SELECT s3.doc_id,
                   row_number() OVER (PARTITION BY cl.cluster_id
                     ORDER BY len(s3.text) DESC, s3.doc_id) AS r
                 FROM s3 JOIN cl USING (doc_id)),
          nd AS (SELECT doc_id FROM rn WHERE r > 1),
          s4 AS (SELECT * FROM s3 WHERE doc_id NOT IN (SELECT doc_id FROM nd)),
          lowq AS (SELECT doc_id FROM s4 WHERE len($WORDS) < 16),
          s5 AS (SELECT * FROM s4 WHERE len($WORDS) >= 16),
          kept AS (SELECT doc_id,
                     CASE WHEN source IS NULL THEN NULL
                          WHEN ('0x' || substr(md5(source), 1, 8))::BIGINT < 3221225472 THEN 'train'
                          WHEN ('0x' || substr(md5(source), 1, 8))::BIGINT < 3758096384 THEN 'val'
                          ELSE 'test' END AS split,
                     ${scrubSql("text")} AS text
                   FROM s5)
          SELECT doc_id, 'exact_dup' AS status, NULL AS split, NULL AS text FROM ex
          UNION ALL SELECT doc_id, 'near_dup', NULL, NULL FROM ndst
          UNION ALL SELECT doc_id, 'emb_dup', NULL, NULL FROM edup
          UNION ALL SELECT doc_id, 'near_dup', NULL, NULL FROM nd
          UNION ALL SELECT doc_id, 'low_quality', NULL, NULL FROM lowq
          UNION ALL SELECT doc_id, 'kept', split, text FROM kept""",

    // the q109 cells CTE over the union corpus — merged slice sketches
    // must reproduce it cell-for-cell (linearity)
    "q118_cms_merge" ->
      s"""WITH toks AS (SELECT unnest($WORDS) AS tok FROM documents WHERE doc_id < 300),
          seeds AS (SELECT unnest(generate_series(0, 3)) AS seed)
          SELECT seed,
                 ('0x' || substr(md5(seed::VARCHAR || ':' || tok), 1, 8))::BIGINT % 64 AS bucket,
                 count(*)::BIGINT AS cnt
          FROM toks CROSS JOIN seeds GROUP BY seed, bucket""",

    // the q110 binning over the union corpus — merged slice histograms
    // must reproduce it bucket-for-bucket
    "q119_hist_merge" ->
      """SELECT CASE WHEN len(bin(n_chars + 1)) - 1 < 2 THEN n_chars + 1
                     ELSE (len(bin(n_chars + 1)) - 1) * 4
                          + (((n_chars + 1) >> (len(bin(n_chars + 1)) - 3)) & 3)
                END AS bucket, count(*)::BIGINT AS cnt
         FROM documents WHERE doc_id < 300 GROUP BY 1""",

    // merged shards == the one-shot q112 construction over the union
    // corpus (docs < 300) — the merge's losslessness is the claim under
    // test, so the oracle is deliberately merge-free
    "q117_merge_index_shards" ->
      s"""WITH tf AS (SELECT term, doc_id, count(*)::BIGINT AS tf
                      FROM (SELECT doc_id, unnest($WORDS) AS term FROM documents
                            WHERE doc_id < 300)
                      GROUP BY 1, 2),
          r AS (SELECT term, doc_id, tf,
                  row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
                  lag(doc_id, 1, 0) OVER (PARTITION BY term ORDER BY doc_id) AS prev
                FROM tf)
          SELECT term, count(*)::BIGINT AS df, sum(tf)::BIGINT AS total_tf,
            string_agg(CASE WHEN rn <= 16
                         THEN (doc_id - prev)::VARCHAR || ':' || tf::VARCHAR END,
                       ',' ORDER BY doc_id) AS postings,
            (CASE WHEN count(*) > 16 THEN 1 ELSE 0 END)::INT AS truncated
          FROM r GROUP BY term""",

    // the incremental simhash chain restated: store bands capped at 64
    // per bucket (row_number, flag exact), one bucket join, exact
    // bit_count verify, min-store-id / min-hamming / OR-truncated per
    // matched batch doc — q111's capped structure on the batch-vs-store
    // shape
    "q116_incremental_simhash" ->
      s"""WITH st AS (SELECT doc_id, text FROM documents WHERE doc_id < 150),
          b0 AS (SELECT doc_id, $WORDS AS w FROM documents WHERE doc_id < 30),
          batch AS (
            SELECT doc_id + 1000000 AS doc_id, text FROM documents
            WHERE doc_id BETWEEN 100 AND 119
            UNION ALL SELECT doc_id + 2000000, array_to_string(w[1:len(w)-1], ' ') FROM b0
            UNION ALL SELECT doc_id + 3000000, text FROM documents
            WHERE doc_id BETWEEN 300 AND 349),
          ssims AS (${simhashOver("st")}),
          bsims AS (${simhashOver("batch")}),
          sbands AS (SELECT doc_id,
                       b * (1::BIGINT << 60) + ((simhash >> (15 * b)) & 32767) AS bucket
                     FROM ssims, (SELECT unnest([0, 1, 2, 3]) AS b) bb),
          bbands AS (SELECT doc_id,
                       b * (1::BIGINT << 60) + ((simhash >> (15 * b)) & 32767) AS bucket
                     FROM bsims, (SELECT unnest([0, 1, 2, 3]) AS b) bb),
          r AS (SELECT doc_id, bucket,
                  row_number() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
                FROM sbands),
          tr AS (SELECT bucket, (CASE WHEN max(rn) > 64 THEN 1 ELSE 0 END)::INT AS tflag
                 FROM r GROUP BY bucket),
          cand AS (SELECT b.doc_id AS doc_id, s.doc_id AS store_id,
                     max(t.tflag)::INT AS tfl
                   FROM bbands b
                   JOIN (SELECT doc_id, bucket FROM r WHERE rn <= 64) s USING (bucket)
                   JOIN tr t USING (bucket) GROUP BY 1, 2),
          ver AS (SELECT c.doc_id, c.store_id,
                    bit_count(xor(bs.simhash, ss.simhash))::INT AS h, c.tfl
                  FROM cand c
                  JOIN bsims bs ON bs.doc_id = c.doc_id
                  JOIN ssims ss ON ss.doc_id = c.store_id
                  WHERE bit_count(xor(bs.simhash, ss.simhash)) <= 3)
          SELECT doc_id, min(store_id) AS dup_of, min(h) AS min_hamming,
                 max(tfl)::INT AS truncated
          FROM ver GROUP BY doc_id""",

    // char-granularity ExactSubstr restated per-position: every 25-char
    // window occurring > once anywhere marks its 25 positions covered;
    // the output is the uncovered characters in order
    "q115_char_dedup" ->
      """WITH docs AS (SELECT doc_id,
               CASE WHEN doc_id % 3 = 0
                    THEN text || ' (c) 2026 Example Corp All rights reserved worldwide'
                    ELSE text END AS text
             FROM documents WHERE doc_id < 40),
          g AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(text) - 24),
                    i -> {'pos': i, 'gram': substr(text, i, 25)})) AS u
                FROM docs WHERE len(text) >= 25),
          g2 AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g),
          dup AS (SELECT gram FROM g2 GROUP BY 1 HAVING count(*) > 1),
          cov AS (SELECT DISTINCT doc_id, p FROM (
                    SELECT g2.doc_id, unnest(generate_series(pos, pos + 24)) AS p
                    FROM g2 JOIN dup USING (gram))),
          ch AS (SELECT doc_id, unnest(generate_series(1, len(text))) AS i, text FROM docs),
          keptc AS (SELECT ch.doc_id, ch.i, substr(ch.text, ch.i::INT, 1) AS c
                    FROM ch LEFT JOIN cov ON cov.doc_id = ch.doc_id AND cov.p = ch.i
                    WHERE cov.doc_id IS NULL),
          agg AS (SELECT doc_id, string_agg(c, '' ORDER BY i) AS text_deduped
                  FROM keptc GROUP BY 1)
          SELECT d.doc_id, coalesce(a.text_deduped, '') AS text_deduped,
                 len(d.text)::BIGINT AS n_chars,
                 (len(d.text) - len(coalesce(a.text_deduped, '')))::BIGINT AS n_removed
          FROM docs d LEFT JOIN agg a USING (doc_id)"""
  )

  /** the q106/q107 encode expression over a word column `x`: codepoint
    * split, pipe-delimited render, then two `replace` passes per merge in
    * rank order (fixpoint = greedy, given lhs != rhs — see
    * [[graft.ops.TextAnalysis.bpeEncode]])
    */
  private def bpeEncSql(x: String): String = {
    val rendered =
      s"'|' || array_to_string(list_transform(generate_series(1, length($x)), i -> $x[i]), '|') || '|'"
    bpeMerges.foldLeft(rendered) { case (s, (a, b)) =>
      val pat = s"'|$a|$b|'"
      val rep = s"'|$a$b|'"
      s"replace(replace($s, $pat, $rep), $pat, $rep)"
    }
  }

  /** lang-id oracle: argmax over the same stopword gazetteers, declaration-
    * order tie-break.
    */
  private def langIdSql: String = {
    val hits = TextAnalysis.stopwords.map { case (lang, list) =>
      val arr = list.map(w => s"'$w'").mkString("[", ",", "]")
      s"len(list_filter($WORDS, w -> list_contains($arr, w))) AS hits_$lang"
    }.mkString(", ")
    val langs = TextAnalysis.stopwords.map(_._1)
    val maxExpr = langs.map(l => s"hits_$l").reduce((a, b) => s"greatest($a, $b)")
    val caseExpr = langs.map(l => s"WHEN hits_$l = m AND m > 0 THEN '$l'").mkString(" ")
    s"""SELECT doc_id, CASE $caseExpr ELSE 'und' END AS lang_pred
        FROM (SELECT doc_id, $maxExpr AS m, * EXCLUDE (doc_id)
              FROM (SELECT doc_id, $hits FROM documents) z) y"""
  }

  /** LSH-ANN oracle: rebuilds Similarity.lshAnn's md5-derived ±1 hyperplanes
    * (planeSign), signs every vector, and ranks cosine within the
    * hamming<=2 candidate set — the identical bucket/candidate/rank
    * semantics in ANSI SQL.
    */
  /** shared md5-plane sign-LSH candidate SQL: top-3 by cosine among the
    * hamming<=2 signature neighborhood, for the query rows selected by
    * `leftPred` — the same construction serves q31 (driver-collected query
    * set) and q57 (distributed left side): both sides compute the identical
    * candidate rule, so one oracle body covers both plans.
    */
  private def annTop3Sql(leftPred: String): String =
    s"""WITH planes AS (
         SELECT p, list_transform(generate_series(1, (SELECT max(len(embedding)) FROM embeddings)),
           i -> CASE WHEN ('0x' || substr(md5(p::VARCHAR || ':' || (i - 1)::VARCHAR), 1, 1))::INT & 1 = 1
                THEN 1.0 ELSE -1.0 END) AS sgn
         FROM generate_series(0, 9) AS t(p)),
       sigs AS (
         SELECT e.vec_id, e.embedding,
                sum(CASE WHEN list_dot_product(p.sgn, e.embedding::DOUBLE[]) >= 0
                    THEN (1::BIGINT << p.p) ELSE 0 END) AS sig
         FROM embeddings e CROSS JOIN planes p GROUP BY 1, 2),
       cand AS (
         SELECT q.vec_id AS qid, s.vec_id AS nid,
                list_cosine_similarity(q.embedding::DOUBLE[], s.embedding::DOUBLE[]) AS sim
         FROM sigs q JOIN sigs s
           ON s.vec_id <> q.vec_id AND bit_count(xor(q.sig, s.sig)) <= 2
         WHERE $leftPred)
       SELECT qid AS vec_id, r AS rank, nid AS neighbor_id
       FROM (SELECT qid, nid, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS r FROM cand) t
       WHERE r <= 3"""

  private def lshAnnSql: String = annTop3Sql("q.vec_id < 20")

  /** simhash oracle: identical md5-derived 60-bit word hashes, bit votes. */
  private def simhashSql: String = simhashOver("documents")

  /** the q17 simhash construction over any relation with (doc_id, text) —
    * docs with zero words drop out of the unnest, mirroring the Spark
    * side's words>0 filter on every consumer
    */
  private def simhashOver(rel: String): String = {
    val h = "('0x' || substr(md5(w), 1, 15))::BIGINT"
    val bitSums = (0 until 60).map(j =>
      s"CASE WHEN sum(CASE WHEN ($h >> $j) & 1 = 1 THEN 1 ELSE -1 END) >= 0 THEN (1::BIGINT << $j) ELSE 0 END")
      .mkString(" + ")
    s"""SELECT doc_id, ($bitSums) AS simhash
        FROM (SELECT doc_id, unnest($WORDS) AS w FROM $rel) t
        GROUP BY doc_id"""
  }
}
