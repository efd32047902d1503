package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Sketch

/** Continuous distinct-count accounting — the streaming realization of
  * [[graft.ops.Sketch.kmvMerge]]'s store contract: every micro-batch
  * writes ITS OWN one-row KMV sketch to a standing store directory, and
  * the running "how many distinct values has this stream ever seen?"
  * estimate is computed ON READ by merging all stored sketch rows
  * (KMV sketches merge losslessly, so read-time merge ≡ one sketch over
  * the whole history).
  *
  * Unlike [[StreamingDedup.nearDupIngest]] — whose per-batch output
  * depends on the store state at processing time — a batch's sketch is a
  * pure function of the batch's OWN content, so replay idempotence needs
  * no own-partition exclusion: a replayed batch rewrites its directory
  * with identical bytes no matter what else landed in the store since.
  * The batch-id + content-XOR partition key
  * ([[IngestStores.partitionKey]] over `valueCol`) is kept anyway so a
  * fresh-checkpoint restart (batch ids reset over different content)
  * lands on new directories instead of overwriting prior runs'.
  *
  * Scale shape per batch: one scan of the batch, a k-bounded aggregation,
  * a one-row write. Read-side cost is |batches| × k hash values — a
  * dashboard read, never a corpus scan.
  */
object StreamingSketch {

  /** Start the ingest: each micro-batch's sketch of `valueCol` lands at
    * `storeDir/batch=<id>-<contentKey>`.
    */
  def distinctIngest(docs: DataFrame, storeDir: String, checkpointDir: String,
      valueCol: String = "text", k: Int = 256): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val part = IngestStores.partitionKey(batch, batchId, Seq(valueCol))
        Sketch.kmvSketch(batch, col(valueCol), k)
          .write.mode("overwrite")
          .parquet(s"$storeDir/batch=$part")
        ()
      }
      .start()
  }

  /** Read the running estimate from a store directory: one row
    * `(n_kept, kth_hash, est_distinct)` over everything ever ingested.
    * A MISSING directory is an empty history (0 distinct); any real read
    * failure propagates — a swallowed error would silently report an
    * undercount.
    */
  def readDistinct(spark: SparkSession, storeDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val p = new org.apache.hadoop.fs.Path(storeDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val store =
      if (!fs.exists(p)) Seq.empty[Seq[Long]].toDF("sketch")
      else spark.read.parquet(storeDir).select("sketch")
    // an empty batch frame: kmvMerge's batch side contributes no hashes
    Sketch.kmvMerge(store, Seq.empty[String].toDF("v"), col("v"), k)
  }
}
