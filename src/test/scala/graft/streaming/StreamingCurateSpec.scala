package graft.streaming

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Curate
import graft.spark.{SnapshotTable, SparkTestSession}

/** The streaming curation capstone: micro-batches curated against the
  * accumulated corpus stores, keeper deltas appended, every table a
  * replay-idempotent snapshot table — the continuous form of the batch
  * contract gated by q114 and the three-day e2e in OpsSpec.
  */
class StreamingCurateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def t(p: String) = (0 until 20).map(j => s"${p}_$j").mkString(" ")

  // wave 1 bootstraps empty stores: 1-4 kept, 5 an exact mirror of 1,
  // 6 low-quality. wave 2 is policed by wave 1's keepers: 11 exact copy
  // of 2, 12 near-dup (drop-1) of 3, 13 novel, 14 low-quality.
  private val wave1 = Seq(
    (1L, t("a")), (2L, t("b")), (3L, t("c")), (4L, t("d")),
    (5L, t("a")), (6L, "too short"))
  private val wave2 = Seq(
    (11L, t("b")), (12L, t("c").split(" ").dropRight(1).mkString(" ")),
    (13L, t("n")), (14L, "tiny too"))
  private val expected = Map(
    1L -> "kept", 2L -> "kept", 3L -> "kept", 4L -> "kept",
    5L -> "exact_dup", 6L -> "low_quality",
    11L -> "exact_dup", 12L -> "near_dup", 13L -> "kept", 14L -> "low_quality")

  private def frame(w: Seq[(Long, String)]) = {
    import spark.implicits._
    w.toDF("doc_id", "text").withColumn("source", concat(lit("s"), col("doc_id") % 2))
  }

  /** Appends wave `i` as one input file; the mtime pins the wave order
    * regardless of filesystem mtime granularity.
    */
  private def dump(inDir: String, i: Int, w: Seq[(Long, String)]): Unit = {
    val before = Option(new java.io.File(inDir).list()).map(_.toSet).getOrElse(Set.empty)
    frame(w).coalesce(1).write.mode("append").parquet(inDir)
    new java.io.File(inDir).listFiles()
      .filter(f => f.getName.startsWith("part-") && !before(f.getName))
      .foreach(_.setLastModified(1700000000000L + i * 60000L))
  }

  /** One file per micro-batch, processed to the end of the input. */
  private def ingest(inDir: String, store: String, out: String, cp: String): Unit = {
    val stream = spark.readStream.schema(frame(Nil).schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingCurate.curateIngest(stream, store, out, cp)
    try q.processAllAvailable() finally q.stop()
  }

  private def tables(store: String, out: String) =
    Seq(out, s"$store/hash", s"$store/sig", s"$store/texts")

  private def histories(store: String, out: String) =
    tables(store, out).map(SnapshotTable.history(spark, _))

  private def fates(out: String): Map[Long, String] = {
    import spark.implicits._
    val rows = SnapshotTable.read(spark, out).get.select("doc_id", "status")
      .as[(Long, String)].collect()
    assert(rows.length == rows.map(_._1).distinct.length, rows.toSeq) // one fate per doc
    rows.toMap
  }

  /** Keepers (and only keepers) entered every store, one row set each. */
  private def assertStores(store: String, keepers: Set[Long]): Unit = {
    import spark.implicits._
    assert(SnapshotTable.committedRows(spark, s"$store/hash") == keepers.size)
    assert(SnapshotTable.committedRows(spark, s"$store/texts") == keepers.size)
    assert(SnapshotTable.read(spark, s"$store/texts").get.select("doc_id")
      .as[Long].collect().toSet == keepers)
    val sig = SnapshotTable.read(spark, s"$store/sig").get
    assert(sig.select("doc_id").distinct().count() == keepers.size)
    assert(SnapshotTable.committedRows(spark, s"$store/sig") == keepers.size * 16) // 16 bands
  }

  test("curateIngest: fates per micro-batch; keepers police later batches; full replay idempotent") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-scur").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val out = s"$tmp/out"; val cp = s"$tmp/cp"
    // wave 3 re-sends doc 1 with its text: it already has a fate, and
    // keeps that one
    dump(inDir, 0, wave1); dump(inDir, 1, wave2); dump(inDir, 2, Seq((1L, t("a"))))
    ingest(inDir, store, out, cp)
    assert(new java.io.File(s"$cp/commits/2").exists())

    assert(fates(out) == expected, fates(out).toString)
    assert(SnapshotTable.read(spark, out).get.count() == expected.size)
    assert(SnapshotTable.committedRows(spark, s"$store/hash") == 5)
    assertStores(store, Set(1L, 2L, 3L, 4L, 13L))
    // kept rows carry a split + scrubbed text, dropped rows carry neither
    val keptRows = SnapshotTable.read(spark, out).get.filter(col("status") === "kept")
    assert(keptRows.filter(col("split").isNull || col("text").isNull).isEmpty)

    // FULL REPLAY with a fresh checkpoint over the same store/out tables:
    // every doc already has its fate, so no table gets a new snapshot
    val history = histories(store, out)
    ingest(inDir, store, out, s"$tmp/cp2")
    assert(new java.io.File(s"$tmp/cp2/commits/2").exists())
    assert(histories(store, out) == history)
    assert(fates(out) == expected)
    assert(SnapshotTable.committedRows(spark, s"$store/hash") == 5)
    assert(SnapshotTable.committedRows(spark, s"$store/texts") == 5)
  }

  test("curateIngest replay: the last batch replayed under its checkpoint commits nothing new") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-screplay").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val out = s"$tmp/out"; val cp = s"$tmp/cp"
    dump(inDir, 0, wave1); dump(inDir, 1, wave2)
    ingest(inDir, store, out, cp)
    val history = histories(store, out)
    assert(history.forall(_.size == 2), history) // each table: one snapshot per wave
    // drop the last batch's commit record: the restart replays that batch
    val last = new java.io.File(s"$cp/commits").list().filter(_.forall(_.isDigit)).map(_.toInt).max
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(s"$cp/commits/$n").delete())
    ingest(inDir, store, out, cp)
    assert(new java.io.File(s"$cp/commits/$last").exists()) // the batch did run again
    assert(histories(store, out) == history)
    assert(fates(out) == expected)
    assertStores(store, Set(1L, 2L, 3L, 4L, 13L))
  }

  test("curateIngest crash: store deltas committed without the output give the uncrashed fates") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-sccrash").toString
    val inDir = s"$tmp/in"; val store = s"$tmp/store"
    val out = s"$tmp/out"; val cp = s"$tmp/cp"
    dump(inDir, 0, wave1)
    ingest(inDir, store, out, cp)
    // wave 2's attempt dies after its store commits, before the output
    // commit: commit its deltas by hand, exactly as the stage derives them
    val r = Curate.curateIncremental(frame(wave2),
      SnapshotTable.read(spark, s"$store/hash").get,
      SnapshotTable.read(spark, s"$store/sig").get,
      SnapshotTable.read(spark, s"$store/texts").get, 1000000L)
    SnapshotTable.commit(r.hashDelta, s"$store/hash")
    SnapshotTable.commit(r.sigDelta, s"$store/sig")
    SnapshotTable.commit(r.textDelta, s"$store/texts")
    val storeHistory = histories(store, out).tail
    // the restart runs wave 2: its own store rows must not mark it duplicate
    dump(inDir, 1, wave2)
    ingest(inDir, store, out, cp)
    assert(new java.io.File(s"$cp/commits/1").exists())
    assert(fates(out) == expected, fates(out).toString)
    assertStores(store, Set(1L, 2L, 3L, 4L, 13L))
    assert(histories(store, out).tail == storeHistory) // the stores held every key
  }
}
