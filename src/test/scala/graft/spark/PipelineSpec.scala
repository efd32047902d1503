package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Span
import graft.gen.{SpanGen, Synth}
import graft.spark.SparkTestSession.drain

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = Sessions.builder(4, "graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Waits for an AvailableNow query to end on its own, and stops it
    * either way, so no query outlives its test.
    */
  def drain(q: StreamingQuery): Unit = {
    import org.scalatest.Assertions.assert
    try assert(q.awaitTermination(120000), "the AvailableNow query did not terminate")
    finally q.stop()
    assert(!q.isActive)
  }
}

class PipelineSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  test("end-to-end pipeline: checker families route and extract correctly") {
    val input = SpanGen.checkerDocs(spark, dir).toDF()
    val prev = SpanGen.prevState(spark, dir)
    val out = Pipeline.run(spark, input, prev, None, ts, "t1").toDF().cache()

    // reasons present exactly per the planted families
    val reasons = out.select("doc_id", "update_reason").collect()
      .map(r => (r.getString(0).drop(1).toLong, r.getString(1))).toMap
    reasons.foreach { case (id, reason) =>
      val expected =
        if (id % 23 == 0 || id % 17 == 0) null // must have been dropped
        else if (id % 13 == 0) "FORCE_TO_EXTRACT"
        else if (id % 13 == 1) "FORCE_TO_SEND"
        else if (id % 7 == 0) "NOT_EXTRACTED_BEFORE"
        else if (id % 7 == 5) "STALE_META"
        else if (id % 7 == 6) "MISSING_FULL_TEXT"
        else if (id % 7 == 2) "DIFFERING_FULL_TEXT"
        else if (id % 7 == 3 || id % 7 == 4) "STALE_CONTENT"
        else null
      assert(reason == expected, s"doc $id")
    }
    // ignored docs never reach the output
    assert(!reasons.keys.exists(id => id % 23 == 0 || id % 17 == 0))
    // fresh un-forced docs are skipped
    assert(!reasons.keys.exists(id =>
      id % 7 == 1 && id % 13 > 1 && id % 17 != 0 && id % 23 != 0))
    // no extraction errors on the well-formed corpus
    assert(out.filter(col("error").isNotNull).count() == 0)
  }

  test("span-sequence equality: XML doc spans match the synthesized expectation exactly") {
    import spark.implicits._
    val row = SpanGen.documents(spark, dir).filter(_.doc_id % 10 == 3).head()
    val doc = Synth.doc(row.doc_id, row.text, row.source)
    val r = graft.core.Dispatcher.extract(doc).toOption.get
    val k = Synth.key(row.doc_id)
    val clean = graft.core.CleanText.run(row.text)
    val w0 = Synth.firstWord(row.text)
    val expected = Vector(
      Span("text", s"I. INTRODUCTION $clean Manual Entry 1 TABLE $k. CAP $k", null, 0),
      Span("media", null, s"fig${k}a.gif", 1),
      Span("media", null, s"fig${k}b.gif", 2),
      Span("text", s"NOTES $k", null, 3),
      Span("text", s"APPENDIX $k APP $w0", null, 4))
    assert(r.spans == expected)
  }

  test("run() plans exactly one leaf per input") {
    val input = SpanGen.checkerDocs(spark, dir).toDF()
    val prev = SpanGen.prevState(spark, dir)
    // one leaf for the input and one for the checker state: the extract
    // stage re-executes no part of the scan + join subtree
    val leaves = Pipeline.run(spark, input, prev, None, ts, "ps")
      .queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.size == 2, leaves.mkString("\n"))
  }

  test("native extract stage == Dispatcher.extract per row") {
    import spark.implicits._
    val docs = SpanGen.docs(spark, dir).collect().toSeq
    val in = docs.toDF()
      .withColumn("update_reason", lit("NOT_EXTRACTED_BEFORE"))
      .withColumn("route", lit("Standard"))
    val native = Pipeline.extractStageNative(in, ts, "x")
      .select("doc_id", "spans", "fulltext", "acknowledgements", "dataset", "facility", "error")
      .as[(String, Seq[Span], String, String, Seq[String], Seq[String], String)]
      .collect().map(r => r._1 -> r).toMap
    assert(native.size == docs.size)
    docs.foreach { d =>
      val expected = graft.core.Dispatcher.extract(d) match {
        case Right(r) => (d.doc_id, r.spans, r.fulltext, r.acknowledgements,
          r.dataset, r.facility, null)
        case Left(err) => (d.doc_id, Seq.empty, null, null, Seq.empty, Seq.empty, err)
      }
      assert(native(d.doc_id) == expected, d.doc_id)
    }
  }

  test("url-only http rows fetch source_path like Dispatcher.extract (200 and 404)") {
    import spark.implicits._
    import com.sun.net.httpserver.HttpServer
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def serve(path: String, status: Int, body: String): Unit =
      server.createContext(path, ex => {
        val bytes = body.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        ex.sendResponseHeaders(status, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
        ex.close()
      }): Unit
    serve("/ok", 200, "served   body  " + "x" * 150)
    serve("/missing", 404, "nope")
    server.start()
    try {
      val base = s"http://127.0.0.1:${server.getAddress.getPort}"
      val docs = Seq("H1" -> s"$base/ok", "H2" -> s"$base/missing").map { case (id, url) =>
        graft.core.Doc(id, "http", "p", url, Seq.empty, null, null)
      }
      val out = Pipeline.extractStageNative(
          docs.toDF().withColumn("update_reason", lit("NOT_EXTRACTED_BEFORE")), ts, "h")
        .select("doc_id", "spans", "fulltext", "error")
        .as[(String, Seq[Span], String, String)].collect().map(r => r._1 -> r).toMap
      val ok = graft.core.Dispatcher.extract(docs.head).toOption.get
      assert(ok.fulltext == "served body")
      assert(out("H1") == (("H1", ok.spans, ok.fulltext, null)))
      assert(out("H2") == (("H2", Seq.empty, null, "Status code not 200: 404")))
    } finally server.stop(0)
  }

  test("graft_extract with the wrong number of arguments is an AnalysisException") {
    ExtractDocExpr.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT graft_extract('D1')").queryExecution.analyzed)
    assert(e.getMessage.contains("graft_extract"), e.getMessage)
    // the builder GraftExtensions injects is the same checked one
    intercept[org.apache.spark.sql.AnalysisException](
      ExtractDocExpr.build(Seq.fill(4)(org.apache.spark.sql.catalyst.expressions.Literal("x"))))
  }

  test("lineage is deterministic across runs and partitionings") {
    import spark.implicits._
    val docs = SpanGen.docs(spark, dir).toDF()
      .withColumn("update_reason", lit("NOT_EXTRACTED_BEFORE"))
      .withColumn("route", lit("Standard"))
    def lineages(parts: Int) =
      Pipeline.extractStageNative(docs.repartition(parts, col("doc_id")), ts, "L")
        .select("doc_id", "lineage").as[(String, String)].collect().toSet
    val a = lineages(2)
    val b = lineages(7) // different physical layout, same logical rows
    assert(a == b)
    assert(a.forall { case (id, lin) => lin == s"L/$id" })
  }

  test("resume: partial output + anti-join rerun = full output, no duplicates") {
    val input = SpanGen.docs(spark, dir).toDF().limit(100).cache()
    val prev = SpanGen.prevState(spark, dir)
    val full = Pipeline.run(spark, input, prev, None, ts, "t4").toDF()
      .select("doc_id").cache()
    val committed = full.limit(40).cache()
    val resumedInput = Pipeline.resume(input, committed)
    val resumed = Pipeline.run(spark, resumedInput, prev, None, ts, "t4b").toDF().select("doc_id")
    val union = committed.unionAll(resumed)
    assert(union.count() == full.count())
    assert(union.distinct().count() == union.count())
    assert(union.exceptAll(full).count() == 0)
  }

  test("FORCE_TO_SEND recovers prior extraction without re-extracting (reader.py:54-101)") {
    import spark.implicits._
    // doc 14 is id%13==1 (FORCE_TO_SEND) and id%7==0
    val input = SpanGen.checkerDocs(spark, dir).toDF().filter(col("doc_id") === "D000000014")
    val prev = SpanGen.prevState(spark, dir)
    val prevOut = Seq(("D000000014", Seq(Span("text", "RECOVERED BODY", null, 0)),
      "RECOVERED BODY", "RECOVERED ACK", Seq.empty[String], Seq.empty[String]))
      .toDF("doc_id", "spans", "fulltext", "acknowledgements", "dataset", "facility")
    val out = Pipeline.run(spark, input, prev, Some(prevOut), ts, "t5").toDF().collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("fulltext") == "RECOVERED BODY")
    assert(out.head.getAs[String]("lineage").contains("recovered"))
  }

  test("sink-time metrics: per-format counters ride the sink action, errors isolated (A5)") {
    import spark.implicits._
    val good = SpanGen.docs(spark, dir).toDF().limit(20)
    // one rejected-format doc -> C8 error side-channel, counted under `other`
    val bad = Seq(("DBAD", "weird", "synthetic", "/x/y.weird",
        Seq(Span("text", "payload", null, 0)), "", Synth.srcMtime(0)))
      .toDF("doc_id", "format", "provider", "source_path", "spans", "update_flag", "src_mtime")
    val docs = good.unionByName(bad, allowMissingColumns = true)
      .withColumn("update_reason", lit("NOT_EXTRACTED_BEFORE"))
      .withColumn("route", lit("Standard"))
    val out = Pipeline.extractStageNative(docs, ts, "m")
    val (observed, obs) = Pipeline.observeMetrics(out)
    val tmp = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    observed.write.mode("overwrite").parquet(tmp)
    val metrics = Pipeline.metricsFrame(spark, obs.get)
      .as[(String, Long, Long)].collect().map(t => t._1 -> ((t._2, t._3))).toMap
    assert(metrics("other") == ((0L, 1L))) // the bad doc errored, nothing else
    assert(metrics.filter(_._1 != "other").values.map(_._2).sum == 0L)
    assert(metrics.values.map(t => t._1 + t._2).sum == 21L)
    // counters agree with the written output (same action, no second pass)
    val written = spark.read.parquet(tmp)
    assert(written.filter(col("error").isNotNull).count() == 1)
    assert(written.count() == 21)
  }

  private def committed(outDir: String) = SnapshotTable.read(spark, outDir).get

  private def runIds(outDir: String): Set[String] = {
    import spark.implicits._
    spark.read.parquet(s"$outDir/metrics").select("run_id").as[String].collect().toSet
  }

  /** Streams 60 checker docs in three input files, one per micro-batch
    * (`maxFilesPerTrigger = 1`), into a fresh table; returns (inDir,
    * outDir, cpDir).
    */
  private def streamThreeBatches(name: String): (String, String, String) = {
    val tmp = java.nio.file.Files.createTempDirectory(name).toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cpDir = s"$tmp/cp"
    SpanGen.checkerDocs(spark, dir).toDF().limit(60).repartition(3).write.parquet(inDir)
    drain(StreamingPipeline.run(spark, inDir, outDir, cpDir,
      SpanGen.prevState(spark, dir), ts, maxFilesPerTrigger = Some(1)))
    (inDir, outDir, cpDir)
  }

  /** Every committed row is the only one of its doc, raw history included. */
  private def assertOneRowPerDoc(outDir: String): Unit = {
    val all = committed(outDir)
    assert(all.count() == all.select("doc_id").distinct().count())
    assert(SnapshotTable.readCurrent(spark, outDir).get.count() == all.count())
  }

  test("streaming backpressure: maxFilesPerTrigger=1 bounds each micro-batch (Q3)") {
    val (inDir, outDir, cpDir) = streamThreeBatches("graft-bp")
    assert(new java.io.File(inDir).listFiles().count(_.getName.endsWith(".parquet")) >= 3)
    // one file per trigger -> at least 3 committed micro-batches; each one
    // that extracted something is its own snapshot with its own sidecar rows
    val batches = new java.io.File(s"$cpDir/commits").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(batches >= 3, s"expected >=3 micro-batches, got $batches")
    val ids = runIds(outDir)
    assert(ids.size == SnapshotTable.history(spark, outDir).size)
    assert(ids.forall(_.startsWith("stream-")), ids)
    // and the chunked result equals the batch run
    val streamed = committed(outDir).select("doc_id", "fulltext")
    val batch = Pipeline.run(spark, spark.read.parquet(inDir), SpanGen.prevState(spark, dir),
      None, ts, "bp").toDF().select("doc_id", "fulltext")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming redelivery dedup: re-enqueued docs extract once under one checkpoint") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-ddpipe").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cpDir = s"$tmp/cp"
    val input = SpanGen.checkerDocs(spark, dir).toDF().limit(40).cache()
    // wave 1: 40 docs with 10 of them REDELIVERED verbatim in the same file
    // (so in the same micro-batch, where only the dedup can catch them);
    // wave 2 (a later micro-batch): 15 of them redelivered again — the
    // at-least-once upstream retry shape
    input.unionAll(input.limit(10)).coalesce(1).write.mode("append").parquet(inDir)
    Thread.sleep(100)
    input.limit(15).coalesce(1).write.mode("append").parquet(inDir)
    val prev = SpanGen.prevState(spark, dir)
    drain(StreamingPipeline.run(spark, inDir, outDir, cpDir, prev, ts,
      maxFilesPerTrigger = Some(1),
      dedupWithin = Some("1 hour")))
    val streamed = committed(outDir).select("doc_id", "fulltext")
    // exactly the single-delivery batch result: nothing extracted twice
    assert(streamed.count() == streamed.select("doc_id").distinct().count())
    val batch = Pipeline.run(spark, input, prev, None, ts, "dd")
      .toDF().select("doc_id", "fulltext")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming foreachBatch produces the same rows as the batch pipeline") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-stream").toString
    val inDir = s"$tmp/in"; val outDir = s"$tmp/out"; val cpDir = s"$tmp/cp"
    val input = SpanGen.checkerDocs(spark, dir).toDF().limit(80)
    input.write.parquet(inDir)
    val prev = SpanGen.prevState(spark, dir)
    drain(StreamingPipeline.run(spark, inDir, outDir, cpDir, prev, ts))
    val streamed = committed(outDir).select("doc_id", "fulltext")
    val batch = Pipeline.run(spark, spark.read.parquet(inDir), prev, None, ts, "t6")
      .toDF().select("doc_id", "fulltext")
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming replay: a batch replayed under its checkpoint commits nothing new") {
    val (inDir, outDir, cpDir) = streamThreeBatches("graft-replay")
    val history = SnapshotTable.history(spark, outDir)
    val rows = committed(outDir).count()
    // drop the last batch's commit record: the restart replays that batch
    val last = new java.io.File(s"$cpDir/commits").list().filter(_.forall(_.isDigit)).map(_.toInt).max
    Seq(s"$last", s".$last.crc").foreach(n => new java.io.File(s"$cpDir/commits/$n").delete())
    drain(StreamingPipeline.run(spark, inDir, outDir, cpDir,
      SpanGen.prevState(spark, dir), ts, maxFilesPerTrigger = Some(1)))
    assert(new java.io.File(s"$cpDir/commits/$last").exists()) // the batch did run again
    assert(SnapshotTable.history(spark, outDir) == history)
    assert(committed(outDir).count() == rows)
    assertOneRowPerDoc(outDir)
  }

  test("streaming fresh checkpoint: a restart over the same input and table commits nothing new") {
    val (inDir, outDir, cpDir) = streamThreeBatches("graft-freshcp")
    val history = SnapshotTable.history(spark, outDir)
    val rows = committed(outDir).count()
    drain(StreamingPipeline.run(spark, inDir, outDir, s"$cpDir-fresh",
      SpanGen.prevState(spark, dir), ts, maxFilesPerTrigger = Some(1)))
    assert(new java.io.File(s"$cpDir-fresh/commits/0").exists())
    assert(SnapshotTable.history(spark, outDir) == history)
    assert(committed(outDir).count() == rows)
    assertOneRowPerDoc(outDir)
  }
}

class CheckerSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("format derivation from source path (checker.py:260-263)") {
    import spark.implicits._
    val df = Seq("/a/b/x.PDF", "/a/b/y.tar.xml", "http://host/doc", "/a/noext")
      .toDF("source_path")
      .select(Checker.deriveFormat(col("source_path")).as("f"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("pdf", "xml", "http", ""))
  }

  test("zero-byte guard truth table: null spans, then no non-empty text (checker.py:239-248)") {
    import spark.implicits._
    def doc(id: String, flag: String, spans: Seq[Span]) =
      graft.core.Doc(id, "txt", "ADS", s"/s/$id.txt", spans, flag, null)
    def raw(t: String) = Span("raw", t, null, 0)
    val input = Seq(
      doc("null", null, null),
      doc("empty", null, Seq.empty),
      doc("nullElem", null, Seq(null)),
      doc("nullText", null, Seq(raw(null))),
      doc("emptyText", null, Seq(raw(""))),
      doc("oneText", null, Seq(raw(""), null, Span("image", null, "1:1:1", 1), raw("x"), raw(""))),
      doc("forced", "FORCE_TO_EXTRACT", Seq(raw("x"), raw(null)))).toDF()
    val prev = Seq.empty[Synth.PrevState].toDF()
    val got = Checker.classify(input, prev).select("doc_id", "update_reason").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map(
      "null" -> "IGNORE_NON_EXISTENT_FT_SOURCE",
      "empty" -> "IGNORE_ZERO_BYTE_FT_SOURCE",
      "nullElem" -> "IGNORE_ZERO_BYTE_FT_SOURCE",
      "nullText" -> "IGNORE_ZERO_BYTE_FT_SOURCE",
      "emptyText" -> "IGNORE_ZERO_BYTE_FT_SOURCE",
      "oneText" -> "NOT_EXTRACTED_BEFORE",
      "forced" -> "FORCE_TO_EXTRACT"))
  }

  test("facility NER: gazetteer matches deduped across fulltext+ack (ner.py:19-38)") {
    import spark.implicits._
    val df = Seq(("d1", "saw FAC3 and FAC12 here", "thanks FAC3")).toDF("doc_id", "fulltext", "acknowledgements")
    val out = graft.ops.FacilityNer.identify(df).collect().head
    assert(out.getSeq[String](1) == Seq("FAC12", "FAC3"))
  }
}

class OpsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"

  test("minhash-LSH finds every planted near-duplicate pair (recall vs exact jaccard)") {
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") < 100).select("doc_id", "text")
    val words = filter(split(col("text"), "\\s+"), w => length(w) > 0)
    val mutated = base
      .withColumn("text", concat_ws(" ", slice(words, lit(1), size(words) - 1)))
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val uni = base.unionAll(mutated)
    val exact = graft.ops.Dedup.ngramJaccardPairs(uni).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = graft.ops.Dedup.minhashLsh(uni).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh == exact, s"missing=${(exact -- lsh).take(5)} extra=${(lsh -- exact).take(5)}")
  }

  test("LSH ANN finds planted near-neighbors (recall >= 0.9 where neighbors exist)") {
    import spark.implicits._
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id").cast("long"), col("embedding")).as[(Long, Seq[Float])]
    // plant 3 near-copies of each query vector (tiny deterministic noise)
    val planted = base.filter(_._1 < 10L).collect().flatMap { case (id, v) =>
      (1 to 3).map { j =>
        val rnd = new scala.util.Random(id * 10 + j)
        (100000L + id * 10 + j, v.map(x => x + 0.01f * rnd.nextGaussian().toFloat))
      }
    }
    val uni = base.unionAll(planted.toSeq.toDS()).toDF("vec_id", "embedding")
    val brute = graft.ops.Similarity.bruteKnn(uni, 0L until 10L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lsh = graft.ops.Similarity.lshAnn(uni, 0L until 10L, 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // brute top-3 are exactly the planted near-copies; LSH must recover them
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.9, s"recall=$recall brute=${brute.take(6)} lsh=${lsh.take(6)}")
  }

  test("multimodal feature extraction is deterministic and error-isolating") {
    import spark.implicits._
    val media = Seq(
      graft.ops.Multimodal.MediaIn("d1", "fig1.gif", graft.ops.Multimodal.synthBytes("fig1.gif")),
      graft.ops.Multimodal.MediaIn("d2", "bad", Array[Byte](1, 2)) // truncated -> error row
    ).toDS()
    val feats = graft.ops.Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats(0).decode_error == null && feats(0).width >= 64 && feats(0).feature.length == 8)
    assert(feats(1).decode_error != null && feats(1).width == -1)
    // deterministic across runs
    val again = graft.ops.Multimodal.extractFeatures(media).collect().sortBy(_.doc_id)
    assert(feats(0).feature.toSeq == again(0).feature.toSeq)
  }
}
