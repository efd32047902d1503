package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Curate
import graft.spark.{Pipeline, SnapshotTable}

/** The curation capstone as a CONTINUOUS ingest stage — the streaming
  * realization of [[graft.ops.Curate.curateIncremental]]'s daily-crawl
  * contract: every micro-batch is curated against the standing corpus
  * stores (exact hash, MinHash band signatures, verification texts), every
  * document's fate is committed per batch, and the keepers' fingerprints are
  * appended so the NEXT micro-batch dedups against them. The stores live
  * on disk (tables under `storeDir`), not in streaming state: the
  * store IS the state, unbounded by design, and a restart resumes from
  * the data with no checkpointed aggregation to rebuild.
  *
  * Delivery semantics are [[StreamingDedup.nearDupIngest]]'s, with
  * `outDir` as the output: every table is a [[graft.spark.SnapshotTable]],
  * the batch is resumed against the output, so a doc gets one fate however
  * often it is delivered, and the output commit is the batch's commit
  * point.
  *
  * Tables, read with `SnapshotTable.read`: `outDir` — (doc_id, status,
  * split, text): every batch doc exactly once, status in {kept, exact_dup,
  * near_dup, low_quality, empty}, scrubbed release text + leakage-safe
  * split for the keepers; `storeDir/hash`, `storeDir/sig`,
  * `storeDir/texts` — the keeper deltas. The embedding
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
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val todo = SnapshotTable.read(spark, outDir).fold(batch)(Pipeline.resume(batch, _))
        def store(name: String, empty: => DataFrame) =
          SnapshotTable.read(spark, s"$storeDir/$name").fold(empty)(Pipeline.resume(_, todo))
        val r = Curate.curateIncremental(todo,
          store("hash", Seq.empty[(Long, String)].toDF("doc_id", "text_hash")),
          store("sig", Seq.empty[(Long, Long)].toDF("doc_id", "bucket")),
          store("texts", Seq.empty[(Long, String)].toDF("doc_id", "text")),
          expectedBatchItems, splits = splits, tau = tau,
          coherenceCol = coherenceCol, n = n, bands = bands,
          rowsPerBand = rowsPerBand, maxBucket = maxBucket)
        SnapshotTable.commitNew(r.hashDelta, s"$storeDir/hash", "doc_id")
        SnapshotTable.commitNew(r.sigDelta, s"$storeDir/sig", "doc_id")
        SnapshotTable.commitNew(r.textDelta, s"$storeDir/texts", "doc_id")
        SnapshotTable.commit(r.docs, outDir)
        ()
      }
      .start()
  }
}
