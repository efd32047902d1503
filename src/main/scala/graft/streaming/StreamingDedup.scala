package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Dedup
import graft.spark.{Pipeline, SnapshotTable}

/** Exact content dedup as a STREAMING stage — the continuous analog of
  * `ops.Dedup.incrementalExact` for a pipeline whose corpus arrives as an
  * unbounded stream (the reference consumes a queue, adsft/app.py; a crawl
  * pipeline sees the same doc from many seeds).
  *
  * The streaming form keys state by content hash and emits only the FIRST
  * arrival. `dropDuplicatesWithinWatermark` bounds that state by event
  * time: a hash older than (max event time - delay) is evicted, so state
  * is O(docs per watermark window), not O(corpus) — the property that
  * lets the stage run forever. The trade is the dedup horizon: re-arrivals
  * farther apart than the delay pass through, and the downstream
  * idempotent sink (anti-join against the snapshot table) absorbs them.
  */
object StreamingDedup {

  /** Streaming first-arrival dedup on md5(text). `docs` must be a
    * streaming DataFrame carrying `textCol` and event column `tsCol`.
    */
  def dedupStream(docs: DataFrame, textCol: String = "text",
      tsCol: String = "event_time", watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("text_hash", md5(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Batch-mode statement of the same semantics (what the stream converges
    * to when arrivals respect event-time order): keep, per content hash,
    * the earliest row by (event time, id). Expressed as
    * `min(struct(ts, id, rest…))` per hash — an aggregation with map-side
    * partial aggregation, not a window — so a hot hash collapses on the
    * map side instead of landing as one giant window partition on a single
    * task. Deterministic (ids unique), so an oracle can replay it and
    * reruns are idempotent.
    */
  def firstArrival(docs: DataFrame, textCol: String = "text",
      tsCol: String = "event_time", idCol: String = "doc_id"): DataFrame = {
    val hashed = docs.withColumn("text_hash", md5(col(textCol)))
    val rest = hashed.columns.filterNot(_ == "text_hash")
    val ordered = Seq(tsCol, idCol) ++ rest.filterNot(c => c == tsCol || c == idCol)
    hashed
      .groupBy("text_hash")
      .agg(min(struct(ordered.map(col): _*)).as("_row"))
      .select(rest.map(c => col(s"_row.$c").as(c)) :+ col("text_hash"): _*)
  }

  /** Continuous NEAR-dup ingest — the streaming realization of
    * [[graft.ops.Dedup.incrementalMinhash]]'s batch-vs-store contract:
    * every micro-batch is checked against the standing band-signature
    * store, only the novel documents are released, and the novel docs'
    * signatures + texts are appended to the store so the NEXT batch
    * dedups against them. The store lives on disk (tables under
    * `storeDir`), not in streaming state: the store IS the state, it is
    * unbounded by design (the corpus grows), and a restart resumes from
    * the data with no checkpointed aggregation to rebuild.
    *
    * Delivery semantics: `keptDir` and the stores are
    * [[graft.spark.SnapshotTable]]s, and rows land only through
    * `SnapshotTable.commit`. The batch is first resumed against `keptDir`
    * ([[graft.spark.Pipeline.resume]]). Store reads then drop the rows of
    * that to-do set: only a crashed earlier attempt at this batch can have
    * left them, and a replay must not mark itself duplicate. The store
    * deltas commit first, each only with the doc ids its store does not
    * hold yet, and `keptDir` last, so its commit is the batch's commit
    * point: a replayed batch or a fresh-checkpoint restart over the same
    * tables commits nothing new. A real store read failure fails the batch
    * (Spark retries); only a store with no committed snapshot reads as
    * empty.
    *
    * Within-batch near-dup pairs pass through (the horizon is
    * batch-vs-STORE, mirroring [[dedupStream]]'s watermark trade);
    * chain them with [[dedupStream]] or a batch
    * [[graft.ops.Dedup.minhashLsh]] pass when within-batch matters.
    *
    * Scale shape per batch: the batch is signed once (O(batch) typed
    * map); the store contributes its persisted signature table (one scan,
    * bucket-capped) and a candidate-sized text lookup — per-ingest cost
    * grows with the batch and the candidate count, never with a re-sign
    * of the corpus.
    */
  def nearDupIngest(docs: DataFrame, storeDir: String, keptDir: String,
      checkpointDir: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4,
      tau: Double = 0.85, maxBucket: Int = 64): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        val todo = SnapshotTable.read(spark, keptDir).fold(batch)(Pipeline.resume(batch, _))
        def store(name: String, empty: => DataFrame) =
          SnapshotTable.read(spark, s"$storeDir/$name").fold(empty)(Pipeline.resume(_, todo))
        val dups = Dedup.incrementalMinhash(todo,
          store("sig", Seq.empty[(Long, Long)].toDF("doc_id", "bucket")),
          store("texts", Seq.empty[(Long, String)].toDF("doc_id", "text")),
          n, bands, rowsPerBand, tau, maxBucket)
        val novel = todo
          .join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
          .localCheckpoint() // three consumers below; pin one evaluation
        SnapshotTable.commitNew(Dedup.signBands(novel, n, bands, rowsPerBand),
          s"$storeDir/sig", "doc_id")
        SnapshotTable.commitNew(novel.selectExpr("cast(doc_id as long) as doc_id", "text"),
          s"$storeDir/texts", "doc_id")
        SnapshotTable.commit(novel, keptDir)
        ()
      }
      .start()
  }
}
