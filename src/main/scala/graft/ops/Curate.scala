package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The result of one [[Curate.curateIncremental]] ingest batch: the fate of
  * every batch document, plus the store-append deltas that make the NEXT
  * batch's dedup see this batch's keepers. The deltas cover KEPT documents
  * only — dropped docs never enter the store, and a re-delivered copy of a
  * dropped doc deterministically re-derives the same fate (the operators
  * are pure functions of batch + store). All four text-side deltas are
  * derived from the ORIGINAL batch text (not the scrubbed release text):
  * future re-deliveries arrive raw, so the store must fingerprint raw.
  *
  * Append contract (what a daily-ingest driver does after each batch):
  * hashDelta -> the exact-hash store, (doc_id, text_hash): the batch reads
  * only `text_hash`, and the doc id lets a replay tell which store rows
  * its own earlier attempt left ([[graft.streaming.StreamingCurate]]);
  * sigDelta -> the MinHash band store,
  * textDelta -> the verification text relation, embSigDelta/embVecDelta ->
  * the embedding LSH store (present only when the batch carried
  * embeddings). Appending is replay-idempotent: re-running the SAME batch
  * against the appended stores keeps nothing (every former keeper is now
  * an exact store hit) and produces empty deltas.
  */
final case class IncrementalCuration(
    docs: DataFrame,
    hashDelta: DataFrame,
    sigDelta: DataFrame,
    textDelta: DataFrame,
    embSigDelta: Option[DataFrame],
    embVecDelta: Option[DataFrame])

/** One-call corpus curation — the composition a release pipeline actually
  * runs, wired from the individually-gated operators so "switch to this
  * library" is one function, not a page of glue:
  *
  *   1. normalization-aware EXACT dedup ([[Dedup.normalizeForDedup]]):
  *      case/punctuation mirror copies collapse to the minimum id; losers
  *      exit as `exact_dup`, NULL-text rows as `empty`,
  *   2. NEAR-dup resolution over the survivors: [[Dedup.minhashLsh]]
  *      pairs -> [[Dedup.duplicateClusters]] components ->
  *      [[Dedup.resolveDuplicates]] best-text-wins; cluster losers exit
  *      as `near_dup`,
  *   3. quality gate: [[TextAnalysis.quality]]'s `short` bucket exits as
  *      `low_quality` (the fluent/list-like distinction is kept data —
  *      downstream mixture planning consumes it, the gate does not),
  *   4. release prep for the keepers: [[TextAnalysis.scrubPii]] redaction
  *      and [[Sampling.assignSplits]] leakage-safe splits (coherence by
  *      `coherenceCol`, so near-dup families sharing a domain land in one
  *      split).
  *
  * Every input document comes back exactly once with its fate:
  * (doc_id, status, split, text) — status in {kept, exact_dup, near_dup,
  * low_quality, empty}; split and the scrubbed text are non-null only for
  * `kept`. The stage order is load-bearing: exact dedup first (cheap,
  * shrinks the costly near-dup stage), resolution before the quality gate
  * (the resolver prefers the LONGEST family member, which the gate then
  * judges).
  *
  * Scale shape: each stage is the already-audited plan of its operator;
  * the stage-1 tagged table is eagerly localCheckpointed because every
  * status branch and all three survivor consumers (pair mining,
  * resolution, the keep join) would otherwise re-execute the corpus-wide
  * ownership aggregation + join. Numeric-id contract inherited from
  * [[Dedup.duplicateClusters]] and enforced the same way (fail fast, never
  * silently drop).
  */
object Curate {

  def curate(docs: DataFrame,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      tau: Double = 0.85, coherenceCol: String = "source"): DataFrame = {
    val base = docs.select(expr("try_cast(doc_id AS BIGINT)").as("doc_id"),
      col("text"), col(coherenceCol).as("_coh"))
    val withNorm = base.withColumn("_h",
      md5(Dedup.normalizeForDedup(col("text"))))
    val owners = withNorm.filter(col("_h").isNotNull)
      .groupBy("_h").agg(min("doc_id").as("_own"))
    // checkpoint the TAGGED table once: all three status branches AND the
    // survivor set derive from it, and without the pin each branch would
    // re-execute the corpus-wide ownership aggregation + join
    val tagged = withNorm.join(owners, Seq("_h"), "left").localCheckpoint()
    // numeric-id contract (inherited from duplicateClusters), enforced the
    // same way: a NULL-casting id would silently vanish from every status
    // branch below (both =!= and === are NULL against a NULL id) — fail
    // fast instead. One bounded scan of the already-materialized table.
    if (!tagged.filter(col("doc_id").isNull).isEmpty)
      throw new IllegalArgumentException(
        "curate requires numeric doc ids (try_cast to BIGINT returned NULL " +
          "for some rows); strip any prefix before calling")
    val empties = tagged.filter(col("_h").isNull)
      .select(col("doc_id"), lit("empty").as("status"))
    val exactDups = tagged
      .filter(col("_h").isNotNull && col("doc_id") =!= col("_own"))
      .select(col("doc_id"), lit("exact_dup").as("status"))
    val surv1 = tagged
      .filter(col("_h").isNotNull && col("doc_id") === col("_own"))
      .select("doc_id", "text", "_coh")

    val clusters = Dedup.duplicateClusters(Dedup.minhashLsh(surv1, tau = tau))
    val resolved = Dedup.resolveDuplicates(
      surv1.withColumn("n_chars", length(col("text"))), clusters)
    val t2 = surv1.join(resolved.select("doc_id", "keep"), Seq("doc_id"))
    val nearDups = t2.filter(col("keep") === 0)
      .select(col("doc_id"), lit("near_dup").as("status"))
    val surv2 = t2.filter(col("keep") === 1).select("doc_id", "text", "_coh")

    val judged = TextAnalysis.quality(surv2)
    val lowQuality = judged.filter(col("quality_bucket") === "short")
      .select(col("doc_id"), lit("low_quality").as("status"))
    val keepers = judged.filter(col("quality_bucket") =!= "short")
      .select("doc_id", "text", "_coh")

    val kept = Sampling.assignSplits(keepers, splits, coherenceCol = "_coh")
      .select(col("doc_id"), lit("kept").as("status"), col("split"),
        TextAnalysis.scrubPii(col("text")).as("text"))

    val nullS = lit(null).cast("string")
    Seq(empties, exactDups, nearDups, lowQuality)
      .map(_.withColumn("split", nullS).withColumn("text", nullS))
      .reduce(_ unionByName _)
      .unionByName(kept)
  }

  /** The daily-crawl shape of [[curate]]: curate one ingest batch AGAINST
    * THE STANDING CORPUS STORES, then among itself — composed from the
    * individually-gated incremental operators, store stages first because
    * the store is the durable corpus and always wins over any within-batch
    * resolution:
    *
    *   1. `empty`: NULL-text rows exit immediately,
    *   2. `exact_dup`: [[Dedup.incrementalExactBloom]] over the NORMALIZED
    *      text hash — covers both "already in the store" (batch hashes
    *      Bloom-summarized, store pruned map-side, one anti-join) and
    *      "within-batch mirror copy" (first id wins) in its one pass,
    *   3. `near_dup` (vs store): [[Dedup.incrementalMinhash]] joins the
    *      survivors' fresh band signatures against the standing signature
    *      store — the store is never re-signed — and exact-Jaccard-verifies
    *      each capped candidate,
    *   4. `emb_dup` (vs store, only when the batch carries embeddings):
    *      [[Dedup.incrementalEmbeddingNearDup]] against the standing
    *      hyperplane-LSH store — semantic near-copies whose TEXT is novel,
    *   5. everything still standing goes through the batch [[curate]] for
    *      within-batch near-dup resolution, the quality gate, PII scrub
    *      and leakage-safe split assignment — same statuses, same plans.
    *
    * Every batch doc comes back exactly once in `docs` with status in
    * {empty, exact_dup, near_dup, emb_dup, low_quality, kept}; the deltas
    * ([[IncrementalCuration]]) are what the driver appends to the stores
    * so tomorrow's batch sees today's keepers.
    *
    * Store contracts: `hashStore` holds `text_hash` =
    * `md5(normalizeForDedup(text))` of every stored doc (the column
    * [[IncrementalCuration.hashDelta]] emits beside `doc_id`; other columns
    * are ignored); `sigStore` is the accumulated [[Dedup.signBands]] table
    * over raw stored text; `storeTexts` is (doc_id, text) for candidate
    * verification; the embedding stores mirror [[Dedup.signEmbeddings]] /
    * (vec_id, embedding) with vec_id == doc_id. Batch ids must be numeric
    * (fail-fast, inherited from [[curate]]); embedding stage parameters
    * (`tables`/`planesPerTable`) must match the ones the store was signed
    * with — the plane family is seed-deterministic, so equal parameters
    * mean equal planes.
    *
    * Scale shape: the tagged batch is localCheckpointed ONCE (every status
    * branch and every stage consumes it; without the pin each branch
    * re-executes the upstream batch scan); each store stage is the
    * already-audited plan of its operator (Bloom-pruned anti-join, capped
    * store-side buckets, bounded candidate joins); matched-id frames are
    * candidate-sized and anti-join on the unique doc_id; the deltas are
    * keeper-sized projections of the checkpointed batch. Nothing scans a
    * store more than once per stage, and no store text is ever re-signed.
    */
  def curateIncremental(batch: DataFrame,
      hashStore: DataFrame, sigStore: DataFrame, storeTexts: DataFrame,
      expectedBatchItems: Long,
      batchEmb: Option[DataFrame] = None,
      embSigStore: Option[DataFrame] = None,
      embStoreVecs: Option[DataFrame] = None,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      tau: Double = 0.85, embTau: Double = 0.95,
      coherenceCol: String = "source",
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      tables: Int = 6, planesPerTable: Int = 8,
      maxBucket: Int = 64): IncrementalCuration = {
    val embStage = batchEmb.isDefined
    require(!embStage || (embSigStore.isDefined && embStoreVecs.isDefined),
      "curateIncremental: batchEmb requires embSigStore and embStoreVecs")

    val base = batch.select(expr("try_cast(doc_id AS BIGINT)").as("doc_id"),
        col("text"), col(coherenceCol).as("_coh"))
      .localCheckpoint()
    if (!base.filter(col("doc_id").isNull).isEmpty)
      throw new IllegalArgumentException(
        "curateIncremental requires numeric doc ids (try_cast to BIGINT " +
          "returned NULL for some rows); strip any prefix before calling")

    val empties = base.filter(col("text").isNull)
      .select(col("doc_id"), lit("empty").as("status"))
    val nonEmpty = base.filter(col("text").isNotNull)

    // stage 2: exact, store + within-batch in one gated pass over the
    // NORMALIZED text (the store holds normalized hashes — see contract)
    val surv1 = Dedup.incrementalExactBloom(
        nonEmpty.withColumn("_norm", Dedup.normalizeForDedup(col("text"))),
        hashStore, expectedBatchItems, textCol = "_norm")
      .select("doc_id", "text", "_coh")
      .localCheckpoint() // consumed by the exact-dup anti-join + 3 stages
    val exactDups = nonEmpty
      .join(surv1.select("doc_id"), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), lit("exact_dup").as("status"))

    // stage 3: near-dup against the standing MinHash store. The hit list
    // is consumed by THREE downstream branches (the near_dup rows, the
    // surv2 join and the surv2 anti-join) — without the lazy checkpoint
    // each branch would re-run the whole store-signature scan + candidate
    // verify; pinned, the store is scanned once per stage and the pin is
    // candidate-sized (bounded by batch x bands x maxBucket)
    val storeHits = Dedup.incrementalMinhash(surv1, sigStore, storeTexts,
        n, bands, rowsPerBand, tau, maxBucket)
      .select("doc_id")
      .localCheckpoint(eager = false)
    val nearDups = surv1.join(storeHits, Seq("doc_id"))
      .select(col("doc_id"), lit("near_dup").as("status"))
    val surv2 = surv1.join(storeHits, Seq("doc_id"), "left_anti")

    // stage 4: semantic near-dup against the standing embedding store —
    // same two-consumer shape, same candidate-sized pin
    val (embDups, surv3) =
      if (!embStage) (None, surv2)
      else {
        val emb = batchEmb.get.select(col("vec_id").cast("long").as("vec_id"),
          col("embedding"))
        val hits = Dedup.incrementalEmbeddingNearDup(
            emb.join(surv2.select(col("doc_id").as("vec_id")), Seq("vec_id")),
            embSigStore.get, embStoreVecs.get, embTau, tables, planesPerTable,
            maxBucket)
          .select(col("vec_id").as("doc_id"))
          .localCheckpoint(eager = false)
        (Some(surv2.join(hits, Seq("doc_id"))
            .select(col("doc_id"), lit("emb_dup").as("status"))),
          surv2.join(hits, Seq("doc_id"), "left_anti"))
      }

    // stage 5: the batch path over what is genuinely novel
    val curated = curate(
      surv3.withColumnRenamed("_coh", coherenceCol), splits, tau, coherenceCol)

    // lazy pin on the full fate table: it has up to six consumers (the
    // caller's action on `docs` plus the five delta projections below) and
    // the post-checkpoint curate subtree (pair mining, resolution, scrub)
    // would otherwise re-execute per consumer; materialized it is
    // batch-sized — the same order as the stage-1 pin
    val nullS = lit(null).cast("string")
    val docs = (Seq(empties, exactDups, nearDups) ++ embDups.toSeq)
      .map(_.withColumn("split", nullS).withColumn("text", nullS))
      .reduce(_ unionByName _)
      .unionByName(curated)
      .localCheckpoint(eager = false)

    // store deltas: the keepers' ORIGINAL text, fingerprinted exactly the
    // way the stores expect to be probed next batch
    val keptIds = docs.filter(col("status") === "kept").select("doc_id")
    val keptDocs = base.join(keptIds, Seq("doc_id")).select("doc_id", "text")
    val hashDelta = keptDocs
      .select(col("doc_id"), md5(Dedup.normalizeForDedup(col("text"))).as("text_hash"))
    val sigDelta = Dedup.signBands(keptDocs, n, bands, rowsPerBand)
    val (embSigDelta, embVecDelta) =
      if (!embStage) (None, None)
      else {
        val keptVecs = batchEmb.get
          .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
          .join(keptIds.select(col("doc_id").as("vec_id")), Seq("vec_id"))
        (Some(Dedup.signEmbeddings(keptVecs, tables, planesPerTable)),
          Some(keptVecs))
      }
    IncrementalCuration(docs, hashDelta, sigDelta, keptDocs,
      embSigDelta, embVecDelta)
  }
}
