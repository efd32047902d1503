package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Sketch
import graft.spark.{SnapshotTable, SparkTestSession}

/** Continuous KMV distinct accounting: per-batch sketches accumulate in
  * the store table and the read-side merge equals one batch sketch over
  * the full history; a replayed sketch commits nothing.
  * The batch form of the merge (kmvMerge) is oracle-gated as q104; these
  * tests pin the cross-micro-batch and restart behavior the oracle can't
  * see.
  */
class StreamingSketchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("per-batch sketches merge to the whole-history distinct estimate") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sketchstream").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"; val cp = s"$tmp/cp"
    // k=8 over 60 distinct texts: the saturated estimator path, with
    // cross-wave duplicates that must not inflate the estimate
    val wave1 = (0 until 30).map(i => (i.toLong, s"body number $i"))
    val wave2 = (20 until 60).map(i => (i.toLong, s"body number $i"))
    wave1.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(100)
    wave2.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)

    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingSketch.distinctIngest(stream, store, cp, k = 8)
    try q.processAllAvailable() finally q.stop()

    val got = StreamingSketch.readDistinct(spark, store, k = 8)
      .as[(Long, Long, Long)].head()
    val want = Sketch.kmvDistinct(
      (0 until 60).map(i => s"body number $i").toDF("text"), col("text"), 8)
      .as[(Long, Long, Long)].head()
    assert(got == want)
    assert(got._1 == 8L) // saturated

    // a fresh-checkpoint rerun over the same input replays the same batch
    // content: the same sketches, so the store commits nothing
    val history = SnapshotTable.history(spark, store)
    assert(history.size == 2)
    val q2 = StreamingSketch.distinctIngest(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir),
      store, s"$tmp/cp2", k = 8)
    try q2.processAllAvailable() finally q2.stop()
    assert(new java.io.File(s"$tmp/cp2/commits/1").exists()) // both batches ran again
    assert(SnapshotTable.history(spark, store) == history)
    assert(StreamingSketch.readDistinct(spark, store, k = 8)
      .as[(Long, Long, Long)].head() == want)
  }

  test("a fresh-checkpoint batch that differs only in a null value commits no new sketch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sketchnull").toString
    val store = s"$tmp/store"
    // two one-batch runs, each on its own checkpoint, so both are batch 0
    def ingest(name: String, rows: Seq[(Long, String)]): Unit = {
      val inDir = s"$tmp/in-$name"
      rows.toDF("doc_id", "text").coalesce(1).write.parquet(inDir)
      val q = StreamingSketch.distinctIngest(
        spark.readStream.schema(spark.read.parquet(inDir).schema).parquet(inDir),
        store, s"$tmp/cp-$name", k = 8)
      try q.processAllAvailable() finally q.stop()
    }
    ingest("a", Seq((1L, "alpha"), (2L, "beta")))
    ingest("b", Seq((1L, "alpha"), (2L, "beta"), (3L, null)))
    // a null has no hash: both batches have one sketch, committed once,
    // and the estimate counts the two non-null values
    assert(new java.io.File(s"$tmp/cp-b/commits/0").exists())
    assert(SnapshotTable.history(spark, store).size == 1)
    assert(SnapshotTable.committedRows(spark, store) == 1)
    assert(StreamingSketch.readDistinct(spark, store, k = 8)
      .as[(Long, Long, Long)].head() == ((2L, -1L, 2L)))
  }

  test("missing store reads as zero distinct") {
    import spark.implicits._
    val out = StreamingSketch.readDistinct(
      spark, "/tmp/graft-no-such-sketch-store", k = 8)
      .as[(Long, Long, Long)].head()
    assert(out == ((0L, -1L, 0L)))
  }
}
