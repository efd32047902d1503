package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.spark.{SnapshotTable, SparkTestSession}

/** Streaming first-arrival dedup: state bounded by the event-time
  * watermark, exactly-one emission per content hash across micro-batches.
  * The batch statement of the same semantics (firstArrival) is oracle-gated
  * as q47; these tests pin what the oracle can't see — cross-micro-batch
  * arrival and agreement between the two forms.
  */
class StreamingDedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: Long) = new Timestamp(1577836800000L + s * 1000L) // 2020-01-01 UTC + s

  test("duplicates across micro-batches are emitted exactly once") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ddstream").toString
    val inDir = s"$tmp/in"; val cpDir = s"$tmp/cp"
    // wave 1: docs 0-9; wave 2: redeliveries of 0-4 (same text, later event
    // time, new ids) plus new docs 10-14. One file per wave/trigger.
    val wave1 = (0 until 10).map(i => (i.toLong, s"text body $i", ts(i)))
    val wave2 = (0 until 5).map(i => (i + 1000L, s"text body $i", ts(i + 60))) ++
      (10 until 15).map(i => (i.toLong, s"text body $i", ts(i)))
    wave1.toDF("doc_id", "text", "event_time").coalesce(1)
      .write.mode("append").parquet(inDir)
    Thread.sleep(100)
    wave2.toDF("doc_id", "text", "event_time").coalesce(1)
      .write.mode("append").parquet(inDir)

    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingDedup.dedupStream(stream, watermarkDelay = "10 minutes")
      .writeStream.format("memory").queryName("dd_stream")
      .option("checkpointLocation", cpDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    SparkTestSession.drain(q)

    val out = spark.table("dd_stream")
    // 15 distinct texts, each exactly once; the 5 redeliveries are dropped
    assert(out.count() == 15)
    assert(out.select("text_hash").distinct().count() == 15)
    assert(out.filter(col("doc_id") >= 1000L).count() == 0) // first arrival won
  }

  private def nt(p: String) = (0 until 30).map(j => s"${p}_$j").mkString(" ")

  // wave 1: docs 0-9. wave 2: drop-last-word NEAR-dups of 0-4 under new
  // ids (must be dropped against the store built by wave 1) + new 10-14.
  private val ndWave1 = (0 until 10).map(i => (i.toLong, nt(s"w$i")))
  private val ndWave2 = (0 until 5).map(i =>
      (1000L + i, nt(s"w$i").split(" ").dropRight(1).mkString(" "))) ++
    (10 until 15).map(i => (i.toLong, nt(s"w$i")))

  /** Appends wave `i` as one input file. FileStreamSource orders by mtime
    * (ties broken arbitrarily): the mtime sets the wave order EXPLICITLY so
    * the tests are deterministic on any filesystem's timestamp granularity.
    */
  private def dump(inDir: String, i: Int, w: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    val before = Option(new java.io.File(inDir).list()).map(_.toSet).getOrElse(Set.empty)
    w.toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    new java.io.File(inDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && !before(f.getName))
      .foreach(_.setLastModified(1700000000000L + i * 60000L))
  }

  /** One file per micro-batch; returns the query after it ended. */
  private def nearDupIngest(inDir: String, store: String, kept: String,
      cp: String): org.apache.spark.sql.streaming.StreamingQuery = {
    import spark.implicits._
    val stream = spark.readStream.schema(Seq.empty[(Long, String)].toDF("doc_id", "text").schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingDedup.nearDupIngest(stream, store, kept, cp)
    try q.processAllAvailable() finally q.stop()
    q
  }

  private def histories(store: String, kept: String) =
    Seq(kept, s"$store/sig", s"$store/texts").map(SnapshotTable.history(spark, _))

  /** Every doc of 0-14 kept once, one text row and 16 band rows each. */
  private def assertKept(store: String, kept: String): Unit = {
    import spark.implicits._
    val out = SnapshotTable.read(spark, kept).get
    assert(out.select("doc_id").as[Long].collect().toSet == (0L until 15L).toSet)
    assert(out.count() == 15)
    assert(SnapshotTable.committedRows(spark, s"$store/texts") == 15)
    assert(SnapshotTable.read(spark, s"$store/sig").get
      .select("doc_id").distinct().count() == 15)
    assert(SnapshotTable.committedRows(spark, s"$store/sig") == 15 * 16)
  }

  test("nearDupIngest: later micro-batches near-dedup against the accumulated store") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndstream").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val kept = s"$tmp/kept"; val cp = s"$tmp/cp"
    dump(inDir, 0, ndWave1); dump(inDir, 1, ndWave2)
    nearDupIngest(inDir, store, kept, cp)

    val out = SnapshotTable.read(spark, kept).get
    assert(out.select("doc_id").as[Long].collect().toSet == (0L until 15L).toSet)
    // the store accumulated signatures and texts for every kept doc
    assert(SnapshotTable.read(spark, s"$store/texts").get.count() == 15)
    assert(SnapshotTable.read(spark, s"$store/sig").get.select("doc_id").distinct().count() == 15)

    // FULL REPLAY (fresh checkpoint, same store/kept tables — the crash-
    // recovery worst case): each batch is resumed against the kept table,
    // its store reads drop the rows of the docs it still has to do, and
    // no table gets a new snapshot
    val history = histories(store, kept)
    nearDupIngest(inDir, store, kept, s"$tmp/cp2")
    assert(new java.io.File(s"$tmp/cp2/commits/1").exists())
    assert(histories(store, kept) == history)
    val replayed = SnapshotTable.read(spark, kept).get
    assert(replayed.select("doc_id").as[Long].collect().toSet == (0L until 15L).toSet)
    assert(replayed.count() == 15)
    assert(SnapshotTable.read(spark, s"$store/texts").get.count() == 15)
  }

  test("nearDupIngest replay: the last batch replayed under its checkpoint commits nothing new") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndreplay").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val kept = s"$tmp/kept"; val cp = s"$tmp/cp"
    dump(inDir, 0, ndWave1); dump(inDir, 1, ndWave2)
    nearDupIngest(inDir, store, kept, cp)
    val history = histories(store, kept)
    assert(history.forall(_.size == 2), history) // each table: one snapshot per wave
    // drop the last batch's commit record: the restart replays that batch
    val last = new java.io.File(s"$cp/commits").list().filter(_.forall(_.isDigit)).map(_.toInt).max
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(s"$cp/commits/$n").delete())
    nearDupIngest(inDir, store, kept, cp)
    assert(new java.io.File(s"$cp/commits/$last").exists()) // the batch did run again
    assert(histories(store, kept) == history)
    assertKept(store, kept)
  }

  test("nearDupIngest crash: store deltas committed without the kept rows give the uncrashed fates") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndcrash").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val kept = s"$tmp/kept"; val cp = s"$tmp/cp"
    dump(inDir, 0, ndWave1)
    nearDupIngest(inDir, store, kept, cp)
    // wave 2's attempt dies after its store commits, before the kept
    // commit: commit its deltas by hand, exactly as the stage derives them
    val w2 = ndWave2.toDF("doc_id", "text")
    val dups = graft.ops.Dedup.incrementalMinhash(w2,
      SnapshotTable.read(spark, s"$store/sig").get, SnapshotTable.read(spark, s"$store/texts").get)
    val novel = w2.join(dups.select("doc_id"), Seq("doc_id"), "left_anti")
    assert(novel.count() == 5)
    SnapshotTable.commit(graft.ops.Dedup.signBands(novel), s"$store/sig")
    SnapshotTable.commit(novel, s"$store/texts")
    val storeHistory = histories(store, kept).tail
    // the restart runs wave 2: its own store rows must not mark it duplicate
    dump(inDir, 1, ndWave2)
    nearDupIngest(inDir, store, kept, cp)
    assert(new java.io.File(s"$cp/commits/1").exists())
    assertKept(store, kept)
    assert(histories(store, kept).tail == storeHistory) // the stores held every key
  }

  test("nearDupIngest: a store whose pointer names a missing manifest fails the batch") {
    import org.apache.spark.sql.streaming.StreamingQueryException
    val tmp = java.nio.file.Files.createTempDirectory("graft-ndfail").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"; val kept = s"$tmp/kept"
    dump(inDir, 0, ndWave1)
    // a sig store whose live manifest is gone: a real read failure, which
    // must fail the batch instead of reading as an empty store
    new java.io.File(s"$store/sig").mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$store/sig/_current"),
      "manifest-000000-gone.tsv\n".getBytes("UTF-8"))
    // a texts dir with no _current has no committed snapshot: empty store
    new java.io.File(s"$store/texts").mkdirs()
    val e = intercept[StreamingQueryException](nearDupIngest(inDir, store, kept, s"$tmp/cp"))
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[java.io.FileNotFoundException] &&
      c.getMessage.contains("manifest-000000-gone.tsv")), causes)
    assert(SnapshotTable.history(spark, kept).isEmpty) // nothing committed

    // the same input once the sig dir has no pointer either: both stores
    // read as empty and every wave-1 doc is kept
    new java.io.File(s"$store/sig/_current").delete()
    val q = nearDupIngest(inDir, store, kept, s"$tmp/cp2")
    assert(q.exception.isEmpty)
    assert(SnapshotTable.committedRows(spark, kept) == 10)
  }

  test("batch firstArrival agrees with the streaming output set") {
    import spark.implicits._
    val rows = ((0 until 10).map(i => (i.toLong, s"text body $i", ts(i))) ++
      (0 until 5).map(i => (i + 1000L, s"text body $i", ts(i + 60))) ++
      (10 until 15).map(i => (i.toLong, s"text body $i", ts(i))))
      .toDF("doc_id", "text", "event_time")
    val out = StreamingDedup.firstArrival(rows)
    // skew-safe shape: map-side partial aggregation, no window partition
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("partial_min"), plan.take(2000))
    assert(!plan.contains("Window"), plan.take(2000))
    val survivors = out.select("doc_id").as[Long].collect().toSet
    assert(survivors == (0 until 15).map(_.toLong).toSet)
  }

  test("firstArrival tie-breaks equal event times by id (idempotent reruns)") {
    import spark.implicits._
    val rows = Seq(
      (7L, "same text", ts(5)),
      (3L, "same text", ts(5)), // equal ts: smaller id wins
      (9L, "other", ts(1)))
      .toDF("doc_id", "text", "event_time")
    val survivors = StreamingDedup.firstArrival(rows)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(3L, 9L))
  }
}
