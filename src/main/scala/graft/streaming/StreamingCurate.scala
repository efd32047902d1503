package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Curate

/** The curation capstone as a CONTINUOUS ingest stage — the streaming
  * realization of [[graft.ops.Curate.curateIncremental]]'s daily-crawl
  * contract: every micro-batch is curated against the standing corpus
  * stores (exact hash, MinHash band signatures, verification texts), every
  * document's fate is written per batch, and the keepers' fingerprints are
  * appended so the NEXT micro-batch dedups against them. The stores live
  * on disk (parquet dirs under `storeDir`), not in streaming state: the
  * store IS the state, unbounded by design, and a restart resumes from
  * the data with no checkpointed aggregation to rebuild.
  *
  * Delivery semantics are [[StreamingDedup.nearDupIngest]]'s, through the
  * same [[IngestStores]] machinery: batch-content-keyed partitions make
  * replays overwrite themselves with identical deterministic bytes; the
  * store reads exclude the batch's own partition so a replay cannot mark
  * itself duplicate; real store read failures fail the batch (Spark
  * retries) instead of silently releasing duplicates.
  *
  * Outputs per micro-batch, each under `batch=<id>-<contentKey>`:
  * `outDir` — (doc_id, status, split, text): every batch doc exactly once,
  * status in {kept, exact_dup, near_dup, low_quality, empty}, scrubbed
  * release text + leakage-safe split for the keepers; `storeDir/hash`,
  * `storeDir/sig`, `storeDir/texts` — the keeper deltas. The embedding
  * modality stays batch-side ([[graft.ops.Curate.curateIncremental]]'s
  * optional stores): a stream carrying embeddings composes the same way,
  * it just needs its vec store dirs threaded through.
  *
  * Scale shape per batch: the already-audited curateIncremental plan
  * (Bloom-pruned exact anti-join, bucket-capped store candidates, the
  * batch curate over genuine novelty) — per-ingest cost grows with the
  * batch and the candidate count, never with a re-hash of the corpus.
  */
object StreamingCurate {

  def curateIngest(docs: DataFrame, storeDir: String, outDir: String,
      checkpointDir: String,
      splits: Seq[(String, Double)] =
        Seq("train" -> 0.75, "val" -> 0.125, "test" -> 0.125),
      tau: Double = 0.85, coherenceCol: String = "source",
      expectedBatchItems: Long = 1000000L,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      maxBucket: Int = 64): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val part = IngestStores.partitionKey(batch, batchId, Seq("doc_id", "text"))
        val hashStore = IngestStores.readScoped(batch, s"$storeDir/hash", part,
          Seq("text_hash"), Seq.empty[String].toDF("text_hash"))
        val sigStore = IngestStores.readScoped(batch, s"$storeDir/sig", part,
          Seq("doc_id", "bucket"), Seq.empty[(Long, Long)].toDF("doc_id", "bucket"))
        val storeTexts = IngestStores.readScoped(batch, s"$storeDir/texts", part,
          Seq("doc_id", "text"), Seq.empty[(Long, String)].toDF("doc_id", "text"))
        val r = Curate.curateIncremental(batch, hashStore, sigStore, storeTexts,
          expectedBatchItems, splits = splits, tau = tau,
          coherenceCol = coherenceCol, n = n, bands = bands,
          rowsPerBand = rowsPerBand, maxBucket = maxBucket)
        r.docs.write.mode("overwrite").parquet(s"$outDir/batch=$part")
        r.hashDelta.write.mode("overwrite").parquet(s"$storeDir/hash/batch=$part")
        r.sigDelta.write.mode("overwrite").parquet(s"$storeDir/sig/batch=$part")
        r.textDelta.write.mode("overwrite").parquet(s"$storeDir/texts/batch=$part")
        ()
      }
      .start()
  }
}
