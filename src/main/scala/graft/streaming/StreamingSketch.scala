package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ops.Sketch
import graft.spark.SnapshotTable

/** Continuous distinct-count accounting — the streaming realization of
  * [[graft.ops.Sketch.kmvMerge]]'s store contract: every micro-batch
  * commits ITS OWN one-row KMV sketch to a standing store table, and
  * the running "how many distinct values has this stream ever seen?"
  * estimate is computed ON READ by merging all stored sketch rows
  * (KMV sketches merge losslessly, so read-time merge ≡ one sketch over
  * the whole history).
  *
  * Unlike [[StreamingDedup.nearDupIngest]] — whose per-batch output
  * depends on the store state at processing time — a batch's sketch is a
  * pure function of the batch's OWN content, so the sketch array itself
  * is the commit key: the store is a [[graft.spark.SnapshotTable]], and a
  * batch commits its sketch only when the store does not hold that array
  * yet. A replayed batch or a fresh-checkpoint restart over the same
  * content commits nothing; a batch whose sketch equals a stored one adds
  * no hash the merge would not ignore anyway.
  *
  * Scale shape per batch: one scan of the batch, a k-bounded aggregation,
  * a one-row commit. Read-side cost is |batches| × k hash values — a
  * dashboard read, never a corpus scan.
  */
object StreamingSketch {

  /** Start the ingest: each micro-batch's sketch of `valueCol` is
    * committed to the `storeDir` table, unless it already holds it.
    */
  def distinctIngest(docs: DataFrame, storeDir: String, checkpointDir: String,
      valueCol: String = "text", k: Int = 256): StreamingQuery = {
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        SnapshotTable.commitNew(Sketch.kmvSketch(batch, col(valueCol), k), storeDir, "sketch")
        ()
      }
      .start()
  }

  /** Read the running estimate from a store directory: one row
    * `(n_kept, kth_hash, est_distinct)` over everything ever ingested.
    * A store with no committed snapshot is an empty history (0 distinct);
    * any real read failure propagates — a swallowed error would silently
    * report an undercount.
    */
  def readDistinct(spark: SparkSession, storeDir: String, k: Int): DataFrame = {
    import spark.implicits._
    val store = SnapshotTable.read(spark, storeDir)
      .getOrElse(Seq.empty[Seq[Long]].toDF("sketch"))
    // an empty batch frame: kmvMerge's batch side contributes no hashes
    Sketch.kmvMerge(store, Seq.empty[String].toDF("v"), col("v"), k)
  }
}
