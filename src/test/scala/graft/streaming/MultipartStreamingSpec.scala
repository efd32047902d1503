package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Dispatcher, Doc}
import graft.gen.Synth
import graft.spark.{SnapshotTable, SparkTestSession, StreamingPipeline}
import graft.streaming.MultipartAssembly.PartRow

/** Stateful streaming assembly (flatMapGroupsWithState) and watermarked
  * windowed metrics: the Structured-Streaming re-expressions of the
  * reference's multi-file concat (utils.py:286-312) and counter reporting
  * (writer.py:240-253).
  */
class MultipartStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** The txt corpus cut into 2 parts per doc, as independent part events. */
  private def partRows(limit: Int): Seq[PartRow] = {
    import spark.implicits._
    spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 10 < 2).limit(limit)
      .select("doc_id", "text", "source").as[(Long, String, String)].collect()
      .toSeq.flatMap { case (id, text, source) =>
        val (a, b) = Synth.splitWords(text)
        val key = Synth.key(id)
        Seq(
          PartRow(key, "txt", "ADS", Synth.sourcePath(id), 0, 2, a),
          PartRow(key, "txt", "ADS", Synth.sourcePath(id), 1, 2, b))
      }
  }

  test("batch-mode assembly == Dispatcher's multi-part merge (A2 equivalence)") {
    import spark.implicits._
    val parts = partRows(30)
    // shuffle part order: assembly must be arrival-order independent
    val shuffled = new scala.util.Random(5).shuffle(parts)
    val assembled = MultipartAssembly.assemble(shuffled.toDS()).collect()
      .map(a => a.doc_id -> a).toMap
    assert(assembled.values.forall(_.complete))
    val byId = parts.groupBy(_.doc_id)
    for ((id, ps) <- byId) {
      val a = assembled(id)
      // spans ordered by part_index regardless of arrival order
      assert(a.spans.map(_.text) == ps.sortBy(_.part_index).map(_.text))
      // extraction of the assembled doc == extraction of the batch
      // multipart doc built directly (the A2 path)
      val streamedDoc = Doc(a.doc_id, a.format, a.provider, a.source_path,
        a.spans, null, null)
      val numericId = id.stripPrefix("D").toLong
      val row = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id") === numericId).select("text", "source")
        .as[(String, String)].head()
      val batchDoc = Synth.multipartDoc(numericId, row._1, row._2)
      assert(Dispatcher.extract(streamedDoc) == Dispatcher.extract(batchDoc))
    }
  }

  test("streaming assembly: parts arriving in different micro-batches complete exactly once") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-mpstream").toString
    val inDir = s"$tmp/in"; val cpDir = s"$tmp/cp"
    val parts = partRows(20)
    // wave 1: every SECOND part (index 1) first — no doc can complete yet;
    // wave 2: the first parts. One file per wave, one file per trigger.
    parts.filter(_.part_index == 1).toDS().coalesce(1)
      .write.mode("append").parquet(inDir)
    Thread.sleep(100)
    parts.filter(_.part_index == 0).toDS().coalesce(1)
      .write.mode("append").parquet(inDir)

    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir).as[PartRow]
    val q = MultipartAssembly.assemble(stream).writeStream
      .format("memory").queryName("mp_assembled")
      .option("checkpointLocation", cpDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    SparkTestSession.drain(q)

    val out = spark.table("mp_assembled")
    assert(out.count() == 20) // one row per doc, emitted exactly once
    assert(out.filter(!col("complete")).count() == 0)
    // equals batch-mode assembly over the same parts
    val batch = MultipartAssembly.assemble(parts.toDS())
      .select(col("doc_id"), col("spans.text").as("texts"))
    val streamed = out.select(col("doc_id"), col("spans.text").as("texts"))
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("state transition is pure and timeout flush reports missing parts") {
    val p0 = PartRow("D1", "txt", "ADS", "/s/D1.txt", 0, 3, "alpha")
    val p2 = PartRow("D1", "txt", "ADS", "/s/D1.txt", 2, 3, "gamma")
    val dup = p2.copy(text = "OTHER") // redelivery: first wins
    val buf = MultipartAssembly.fold(None, Iterator(p2, p0, dup)).get
    assert(buf.got == Map(0 -> "alpha", 2 -> "gamma"))
    assert(MultipartAssembly.tryEmit("D1", buf).isEmpty) // part 1 missing
    val flushed = MultipartAssembly.flush("D1", buf)
    assert(!flushed.complete && flushed.missing == Seq(1))
    assert(flushed.spans.map(_.text) == Seq("alpha", "gamma"))
    // completing the set emits with ordered spans
    val full = MultipartAssembly.fold(Some(buf),
      Iterator(p0.copy(part_index = 1, text = "beta"))).get
    val done = MultipartAssembly.tryEmit("D1", full).get
    assert(done.complete && done.spans.map(_.text) == Seq("alpha", "beta", "gamma"))
  }

  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** Three waves of part files for 20 two-part docs: all second parts,
    * then the first parts of every doc but one (the stuck doc, whose
    * part 0 never arrives), then an unrelated single-part doc. Returns the
    * parts and the stuck doc's id.
    */
  private def writePartWaves(inDir: String): (Seq[PartRow], String) = {
    import spark.implicits._
    val parts = partRows(20)
    val stuckId = parts.head.doc_id
    // wave 1: all second parts — nothing can complete yet
    parts.filter(_.part_index == 1).toDS().coalesce(1)
      .write.mode("append").parquet(inDir)
    Thread.sleep(100)
    // wave 2: first parts for every doc but the stuck one; the stuck doc's
    // 1 ms processing-time timeout has expired by this batch, so it is
    // flushed next to the 19 docs this batch completes
    parts.filter(p => p.part_index == 0 && p.doc_id != stuckId).toDS().coalesce(1)
      .write.mode("append").parquet(inDir)
    Thread.sleep(100)
    // wave 3: an unrelated single-part doc
    Seq(PartRow("D9999991", "txt", "ADS", "/s/D9999991.txt", 0, 1, "tail doc words here"))
      .toDS().coalesce(1).write.mode("append").parquet(inDir)
    (parts, stuckId)
  }

  /** runParts with the 1 ms incomplete timeout, one file per micro-batch,
    * on a ProcessingTime trigger (a timeout rules out AvailableNow). Such a
    * query never ends on its own: it runs until `outDir` holds `rows`
    * committed rows and `done` holds, then until one more batch has gone
    * through the checkpoint (so the batch that committed them has written
    * its sidecar row too), and is then stopped, all within a deadline.
    * Returns the stopped query.
    */
  private def runPartsUntil(inDir: String, outDir: String, cpDir: String, rows: Long)(
      done: StreamingQuery => Boolean = _ => true): StreamingQuery = {
    val prev = graft.gen.SpanGen.prevState(spark, dir).limit(0) // all NOT_EXTRACTED_BEFORE
    val q = StreamingPipeline.runParts(spark, inDir, outDir, cpDir, prev, ts,
      incompleteTimeoutMs = Some(1L),
      trigger = Trigger.ProcessingTime("100 milliseconds"),
      maxFilesPerTrigger = Some(1))
    val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    def await(what: String)(cond: => Boolean): Unit =
      while (!cond) {
        q.exception.foreach(e => throw e)
        assert(System.nanoTime() < deadline, s"$what within 60 s")
        Thread.sleep(100)
      }
    def lastCommit = Option(new java.io.File(s"$cpDir/commits").list()).toSeq.flatten
      .filter(_.forall(_.isDigit)).map(_.toInt).maxOption.getOrElse(-1)
    try {
      await(s"$rows rows committed")(SnapshotTable.committedRows(spark, outDir) >= rows && done(q))
      val last = lastCommit
      await("one more batch checkpointed")(lastCommit > last)
    } finally q.stop()
    assert(!q.isActive)
    q
  }

  /** doc_id -> the snapshot that first committed it. */
  private def firstSnapshot(outDir: String): Map[String, Long] = {
    import spark.implicits._
    SnapshotTable.history(spark, outDir).map(_._1).foldLeft(Map.empty[String, Long]) { (m, s) =>
      val ids = SnapshotTable.readAt(spark, outDir, s).get.select("doc_id").as[String].collect()
      m ++ ids.filterNot(m.contains).map(_ -> s)
    }
  }

  test("runParts: assembly -> extraction -> sink under one checkpoint, incomplete docs to error channel") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-runparts").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cpDir = s"$tmp/cp"
    val (parts, stuckId) = writePartWaves(inDir)
    runPartsUntil(inDir, outDir, cpDir, rows = 21)()

    val out = SnapshotTable.read(spark, outDir).get
    // 19 two-part docs + 1 single-part doc extracted; the stuck doc flushed
    // as ONE incomplete error row; everything exactly once
    assert(out.count() == 21, s"got ${out.count()} rows")
    assert(out.select("doc_id").distinct().count() == 21)
    val errs = out.filter(col("error").isNotNull)
      .select("doc_id", "error", "lineage").as[(String, String, String)].collect()
    assert(errs.map(_._1).toSeq == Seq(stuckId), errs.mkString(", "))
    assert(errs.head._2.contains("multipart incomplete"))
    val good = out.filter(col("error").isNull)
    assert(good.count() == 20)
    assert(good.filter(length(col("fulltext")) > 0).count() == 20)
    // the incomplete row landed in the same snapshot as the rows its batch
    // extracted, and that batch's sidecar row counts it as errored
    val batchRun = errs.head._3.stripSuffix(s"/$stuckId")
    val sameBatch = good.filter(col("lineage").startsWith(s"$batchRun/"))
      .select("doc_id").as[String].collect()
    assert(sameBatch.nonEmpty, s"$batchRun extracted nothing")
    val snap = firstSnapshot(outDir)
    assert(sameBatch.forall(id => snap(id) == snap(stuckId)), snap)
    val sidecar = spark.read.parquet(s"$outDir/metrics")
      .select("run_id", "format", "n_extracted", "n_errored", "snapshot_id")
      .as[(String, String, Long, Long, Long)].collect()
    assert(sidecar.forall(_._1.startsWith("parts-")), sidecar.mkString(", "))
    assert(sidecar.toSeq.contains((batchRun, "txt", sameBatch.length.toLong, 1L, snap(stuckId))),
      sidecar.mkString(", "))
    assert(sidecar.map(_._4).sum == 1L && sidecar.map(_._3).sum == 20L)
    // extraction equivalence: the streamed path produces the same fulltext
    // as the batch pipeline over batch-assembled docs for a sample doc
    val sample = parts.filter(p => p.doc_id != stuckId).head.doc_id
    val numericId = sample.stripPrefix("D").toLong
    val row = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") === numericId).select("text", "source")
      .as[(String, String)].head()
    val expectFt = Dispatcher.extract(Synth.multipartDoc(numericId, row._1, row._2))
      .toOption.get.fulltext
    val gotFt = good.filter(col("doc_id") === sample)
      .select("fulltext").as[String].head()
    assert(gotFt == expectFt)
  }

  test("runParts replay: a replayed batch that flushed an incomplete doc does not commit its error row again") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-partsreplay").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cpDir = s"$tmp/cp"
    val (_, stuckId) = writePartWaves(inDir)
    runPartsUntil(inDir, outDir, cpDir, rows = 21)()
    val history = SnapshotTable.history(spark, outDir)
    val lineage = SnapshotTable.read(spark, outDir).get
      .filter(col("doc_id") === stuckId).select("lineage").as[String].head()
    val b = lineage.stripPrefix("parts-").stripSuffix(s"/$stuckId").toInt

    // rewind the checkpoint to just before batch b committed: the restart
    // replays batch b from its offsets (same batch timestamp, so the same
    // timeout flush), then plans the batches after it anew
    def batchFiles(sub: String) = new java.io.File(s"$cpDir/$sub").listFiles().toSeq
      .map(f => f -> f.getName.stripPrefix(".").stripSuffix(".crc"))
      .collect { case (f, n) if n.nonEmpty && n.forall(_.isDigit) => (f, n.toInt) }
    batchFiles("commits").foreach { case (f, n) => if (n >= b) f.delete() }
    batchFiles("offsets").foreach { case (f, n) => if (n > b) f.delete() }
    runPartsUntil(inDir, outDir, cpDir, rows = 21) { _ =>
      new java.io.File(s"$cpDir/commits/${b + 1}").exists()
    }

    // the replay committed nothing: its extracted docs were already done,
    // and the incomplete doc's error row is final, so it stays the one
    // committed row of that doc
    assert(SnapshotTable.history(spark, outDir) == history)
    val out = SnapshotTable.read(spark, outDir).get
    assert(out.count() == 21 && out.select("doc_id").distinct().count() == 21)
    val current = SnapshotTable.readCurrent(spark, outDir).get.filter(col("doc_id") === stuckId)
      .select("error").as[String].collect()
    assert(current.length == 1 && current.head.contains("multipart incomplete"))
  }

  test("runParts: an idle batch after the drain runs no write command") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.DataWritingCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    import scala.jdk.CollectionConverters._
    val tmp = java.nio.file.Files.createTempDirectory("graft-partsidle").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cpDir = s"$tmp/cp"
    val sentinel = s"$tmp/sentinel"
    writePartWaves(inDir)
    // the batch ids (from the `parts-<batchId>` run id) of the write
    // commands into outDir; the sentinel write, posted after the query
    // stops, marks that every earlier event has been delivered
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    @volatile var sentinelSeen = false
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.logical.exists(_.isInstanceOf[DataWritingCommand])) {
          val plan = qe.logical.toString
          if (plan.contains(sentinel)) sentinelSeen = true
          else if (plan.contains(outDir))
            "parts-(\\d+)".r.findAllMatchIn(plan).foreach(m => writes.add(m.group(1).toLong))
        }
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // batches after the last one that read input
    def idle(q: StreamingQuery): Seq[Long] = {
      val progress = q.recentProgress.toSeq
      val lastInput = progress.filter(_.numInputRows > 0).map(_.batchId).maxOption.getOrElse(-1L)
      progress.filter(p => p.batchId > lastInput && p.numInputRows == 0).map(_.batchId)
    }
    // registered before the query starts: the stream runs on a clone of
    // the session, which copies the listeners it has at that moment
    spark.listenerManager.register(listener)
    try {
      val q = runPartsUntil(inDir, outDir, cpDir, rows = 21)(idle(_).nonEmpty)
      spark.range(1).write.parquet(sentinel)
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!sentinelSeen) {
        assert(System.nanoTime() < deadline, "sentinel write delivered within 30 s")
        Thread.sleep(50)
      }
      val idleBatches = idle(q)
      val written = writes.asScala.toSet
      assert(idleBatches.nonEmpty && written.nonEmpty, s"idle $idleBatches, written $written")
      assert(idleBatches.forall(b => !written.contains(b)),
        s"idle batches $idleBatches ran write commands (batches $written)")
    } finally spark.listenerManager.unregister(listener)
  }

  test("runParts rejects an incomplete timeout under an AvailableNow trigger") {
    val e = intercept[IllegalArgumentException](StreamingPipeline.runParts(
      spark, "/nonexistent", "/nonexistent", "/nonexistent", spark.emptyDataFrame, ts,
      incompleteTimeoutMs = Some(1L)))
    assert(e.getMessage.contains("AvailableNow"))
  }

  test("windowed metrics: watermark finalizes old windows, state stays bounded") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-wm").toString
    val inDir = s"$tmp/in"; val cpDir = s"$tmp/cp"
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // early window [10:00,10:05): 2 xml ok + 1 pdf error
    val early = Seq(
      ("xml", null: String, ts("2026-01-01 10:00:30")),
      ("xml", null: String, ts("2026-01-01 10:01:00")),
      ("pdf", "boom", ts("2026-01-01 10:02:00")))
    // watermark pushers (10:20 - 1 min delay = 10:19 >> 10:05): two waves so
    // a batch RUNS AFTER the watermark has advanced and flushes the window
    val push1 = Seq(("txt", null: String, ts("2026-01-01 10:20:00")))
    val push2 = Seq(("txt", null: String, ts("2026-01-01 10:21:00")))
    for (wave <- Seq(early, push1, push2)) {
      wave.toDF("format", "error", "event_time").coalesce(1)
        .write.mode("append").parquet(inDir)
      Thread.sleep(100)
    }
    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val q = StreamingMetrics
      .windowedMetrics(stream, "event_time", "5 minutes", "1 minute")
      .writeStream.format("memory").queryName("wm_metrics")
      .option("checkpointLocation", cpDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    SparkTestSession.drain(q)

    val out = spark.table("wm_metrics")
      .select("window_start", "format", "n_extracted", "n_errored")
      .as[(java.sql.Timestamp, String, Long, Long)].collect().toSet
    // the early window finalized and flushed with the right counts; the
    // pusher windows are NOT final (watermark never passed them)
    assert(out.contains((ts("2026-01-01 10:00:00"), "xml", 2L, 0L)), s"got $out")
    assert(out.contains((ts("2026-01-01 10:00:00"), "pdf", 0L, 1L)), s"got $out")
    assert(!out.exists(_._1.after(ts("2026-01-01 10:05:00"))), s"got $out")
  }
}
