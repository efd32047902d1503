package graft.spark

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.SpanGen

/** The iceberg-shaped sink: atomic manifest commits, crash invisibility,
  * exactly-once resume, metadata-only lineage (reference semantics
  * adsft/writer.py:40-156 re-expressed as table-level snapshots).
  */
class SnapshotTableSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val dir = "/root/testdata/sf0.001"
  private val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  private def tmpTable(): String =
    java.nio.file.Files.createTempDirectory("graft-snap").toString + "/t"

  test("kill-mid-write: stray data files are invisible; rerun is exactly-once") {
    import spark.implicits._
    val table = tmpTable()
    val input = SpanGen.docs(spark, dir).toDF().cache()
    val prev = SpanGen.prevState(spark, dir)

    // run 1 commits a 40-doc input slice (the checker legitimately drops
    // ignored/fresh docs, so the committed count is <= 40)
    val slice = input.limit(40).cache()
    Pipeline.runCommitted(spark, slice, prev, None, ts, "r1", table)
    val afterR1 = SnapshotTable.read(spark, table).get.select("doc_id").as[String].collect().toSet
    assert(afterR1.nonEmpty && afterR1.size <= 40)

    // a job dies AFTER writing data files but BEFORE the manifest swap:
    // exactly what SnapshotTable.append does in step 1 with no step 3/4
    Pipeline.run(spark, input, prev, None, ts, "crashed").toDF()
      .write.parquet(s"$table/data/${java.util.UUID.randomUUID()}")

    // the committed view is unchanged — stray files are invisible
    val afterCrash = SnapshotTable.read(spark, table).get.select("doc_id").as[String].collect().toSet
    assert(afterCrash == afterR1)

    // rerun over the FULL input: resume anti-join extracts only the rest
    Pipeline.runCommitted(spark, input, prev, None, ts, "r2", table)
    val full = SnapshotTable.read(spark, table).get.select("doc_id").as[String].collect().toSeq
    val expected = Pipeline.run(spark, input, prev, None, ts, "all")
      .toDF().select("doc_id").as[String].collect().toSet
    assert(full.toSet == expected)
    assert(full.size == full.toSet.size, "duplicate doc_ids after rerun")

    // a third run: the checker re-examines skipped docs (reference
    // semantics — a doc can become stale later) but extracts nothing new,
    // so NO new snapshot is created and the table is unchanged
    val r3 = Pipeline.runCommitted(spark, input, prev, None, ts, "r3", table)
    assert(r3 == 1L) // still the r2 snapshot
    assert(SnapshotTable.read(spark, table).get.select("doc_id").as[String]
      .collect().toSet == full.toSet)

    // the metrics sidecar accumulated one row set per committing run and
    // its counters reconcile with the committed table
    val metrics = spark.read.parquet(s"$table/metrics")
    assert(metrics.select("run_id").as[String].collect().toSet == Set("r1", "r2"))
    val totalCounted = metrics.select((col("n_extracted") + col("n_errored")).as("n"))
      .as[Long].collect().sum
    assert(totalCounted == full.size.toLong)
    input.unpersist(): Unit
  }

  test("error rows are retried on rerun; a later success supersedes in readCurrent") {
    import spark.implicits._
    val table = tmpTable()
    val prev = SpanGen.prevState(spark, dir)
    // ids 7 and 28: both NOT_EXTRACTED_BEFORE (%7==0), no force flags, not
    // zero-byte/missing — guaranteed to reach the extract stage
    val good = SpanGen.docs(spark, dir).toDF()
      .filter(col("doc_id").isin("D000000007", "D000000028"))
    // doc 28 arrives with a format outside the accepted whitelist -> C8
    // error side-channel row
    val broken = good.withColumn("format",
      when(col("doc_id") === "D000000028", lit("weird")).otherwise(col("format")))

    assert(Pipeline.runCommitted(spark, broken, prev, None, ts, "e1", table) == 0L)
    val raw1 = SnapshotTable.read(spark, table).get
    assert(raw1.count() == 2)
    assert(raw1.filter(col("error").isNotNull).select("doc_id").as[String]
      .collect().toSeq == Seq("D000000028"))

    // rerun with the SAME broken input: the failed doc is retried (the
    // reference's skip-if-written skips only written fulltext) — a new
    // snapshot commits, the success row is NOT re-extracted
    assert(Pipeline.runCommitted(spark, broken, prev, None, ts, "e2", table) == 1L)
    assert(SnapshotTable.read(spark, table).get.count() == 3)

    // the source is fixed -> the retry succeeds; merge-on-read yields one
    // CURRENT row per doc, both successful (the old error rows superseded)
    assert(Pipeline.runCommitted(spark, good, prev, None, ts, "e3", table) == 2L)
    val cur = SnapshotTable.readCurrent(spark, table).get
    assert(cur.count() == 2)
    assert(cur.filter(col("error").isNotNull).count() == 0)
    assert(SnapshotTable.read(spark, table).get.count() == 4) // raw history intact

    // fully-committed table: a rerun finds nothing to do, returns -1, and
    // does not advance table history
    assert(Pipeline.runCommitted(spark, good, prev, None, ts, "e4", table) == -1L)
    assert(SnapshotTable.lineage(spark, table).map(_.snapshot).max == 2L)
    // metrics sidecar: one batch per committing run, none for the no-op
    val metrics = spark.read.parquet(s"$table/metrics")
    assert(metrics.select("run_id").as[String].collect().toSet == Set("e1", "e2", "e3"))
  }

  test("manifest lineage: per-file footer row counts sum to the table count") {
    import spark.implicits._
    val table = tmpTable()
    val df = (0 until 100).map(i => (s"D$i", i)).toDF("doc_id", "v").repartition(4)
    SnapshotTable.commit(df, table)
    val entries = SnapshotTable.lineage(spark, table)
    assert(entries.nonEmpty)
    assert(entries.forall(_.bytes > 0))
    assert(entries.map(_.rows).sum == 100)
    assert(SnapshotTable.committedRows(spark, table) == 100)
    assert(SnapshotTable.read(spark, table).get.count() == 100)
  }

  test("append accumulates snapshots; overwrite replaces") {
    import spark.implicits._
    val table = tmpTable()
    val a = Seq(("a", 1)).toDF("doc_id", "v")
    val b = Seq(("b", 2)).toDF("doc_id", "v")
    assert(SnapshotTable.commit(a, table) == 0L)
    assert(SnapshotTable.commit(b, table) == 1L)
    assert(SnapshotTable.read(spark, table).get.select("doc_id").as[String].collect().toSet == Set("a", "b"))
    assert(SnapshotTable.overwrite(b, table) == 2L)
    assert(SnapshotTable.read(spark, table).get.select("doc_id").as[String].collect().toSet == Set("b"))
  }

  test("read before any commit is None") {
    assert(SnapshotTable.read(spark, tmpTable()).isEmpty)
  }

  test("legacy 3-field manifests stay readable and appendable") {
    import spark.implicits._
    val table = tmpTable()
    // write a table the modern way, then rewrite its manifest in the legacy
    // (path \t rows \t bytes) format a pre-snapshot-column writer produced
    SnapshotTable.commit(Seq(("a", 1), ("b", 2)).toDF("doc_id", "v"), table)
    val manifestsDir = new java.io.File(s"$table/manifests")
    val manifest = manifestsDir.listFiles().filter(_.getName.startsWith("manifest-")).head
    val legacy = scala.io.Source.fromFile(manifest)
    val lines = try legacy.getLines().toSeq finally legacy.close()
    val w = new java.io.PrintWriter(manifest)
    try lines.filter(_.nonEmpty).foreach { l =>
      w.println(l.split('\t').take(3).mkString("\t"))
    } finally w.close()

    // readable: entries attribute to the manifest's own snapshot id
    assert(SnapshotTable.read(spark, table).get.count() == 2)
    assert(SnapshotTable.lineage(spark, table).forall(_.snapshot == 0L))
    assert(SnapshotTable.readCurrent(spark, table).get.count() == 2)
    // appendable: the next commit writes the modern format on top
    assert(SnapshotTable.commit(Seq(("c", 3)).toDF("doc_id", "v"), table) == 1L)
    assert(SnapshotTable.read(spark, table).get.count() == 3)
    assert(SnapshotTable.lineage(spark, table).map(_.snapshot).toSet == Set(0L, 1L))
  }

  test("compact folds retry history into one snapshot; view unchanged; lineage preserved") {
    import spark.implicits._
    val table = tmpTable()
    // three appends with overlapping keys: b is superseded twice, c once
    SnapshotTable.commit(Seq(("a", 1), ("b", 1)).toDF("doc_id", "v"), table)
    SnapshotTable.commit(Seq(("b", 2), ("c", 2)).toDF("doc_id", "v"), table)
    SnapshotTable.commit(Seq(("c", 3), ("d", 3)).toDF("doc_id", "v"), table)
    val before = SnapshotTable.readCurrent(spark, table).get
      .as[(String, Int)].collect().toSet
    assert(before == Set(("a", 1), ("b", 2), ("c", 3), ("d", 3)))

    val snap = SnapshotTable.compact(spark, table)
    assert(snap == 3L)
    // view identical, now served from a single snapshot's files
    assert(SnapshotTable.readCurrent(spark, table).get
      .as[(String, Int)].collect().toSet == before)
    assert(SnapshotTable.lineage(spark, table).map(_.snapshot).toSet == Set(3L))
    assert(SnapshotTable.committedRows(spark, table) == 4)
    // manifest history (the lineage record) is preserved on disk
    val manifests = new java.io.File(s"$table/manifests").listFiles()
      .filter(_.getName.startsWith("manifest-")).map(_.getName).sorted
    assert(manifests.length == 4)
    // an already-compact table is a no-op
    assert(SnapshotTable.compact(spark, table) == -1L)
    assert(SnapshotTable.lineage(spark, table).map(_.snapshot).toSet == Set(3L))
  }

  test("concurrent commit is detected: stale-parent pointer swap refuses to clobber") {
    import spark.implicits._
    val table = tmpTable()
    SnapshotTable.commit(Seq(("a", 1)).toDF("doc_id", "v"), table)
    val hfs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // writer A read its base state here...
    val staleBase = Some(scala.io.Source.fromFile(s"$table/_current").mkString.trim)
    // ...then writer B commits and advances the pointer
    SnapshotTable.commit(Seq(("b", 2)).toDF("doc_id", "v"), table)
    // writer A's swap against the stale parent must refuse, not clobber
    val e = intercept[java.util.ConcurrentModificationException](
      SnapshotTable.swapPointer(hfs, table, staleBase, "manifest-000009-x.tsv"))
    assert(e.getMessage.contains("conflict"))
    // the table still reflects writer B's commit
    assert(SnapshotTable.read(spark, table).get.count() == 2)
    // and a correctly-based swap succeeds (what a retry would do)
    val freshBase = Some(scala.io.Source.fromFile(s"$table/_current").mkString.trim)
    SnapshotTable.swapPointer(hfs, table, freshBase, freshBase.get)
    assert(SnapshotTable.read(spark, table).get.count() == 2)
  }

  test("compact pins the base it READ: a commit landing during the rewrite makes it refuse") {
    import spark.implicits._
    val table = tmpTable()
    SnapshotTable.commit(Seq(("a", 1)).toDF("doc_id", "v"), table)
    SnapshotTable.commit(Seq(("b", 2)).toDF("doc_id", "v"), table)
    // compact's exact sequence, interleaved: capture base + view, then a
    // concurrent commit advances the pointer DURING the rewrite, then the
    // rewrite commits against the stale base -> must refuse, not clobber
    val hfs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = Some(scala.io.Source.fromFile(s"$table/_current").mkString.trim)
    val view = SnapshotTable.readCurrent(spark, table).get
    SnapshotTable.commit(Seq(("c", 3)).toDF("doc_id", "v"), table) // concurrent writer
    intercept[java.util.ConcurrentModificationException](
      SnapshotTable.append(view, table, replace = true, baseOverride = Some(base)))
    // the concurrent commit's rows are still in the table
    assert(SnapshotTable.read(spark, table).get.count() == 3)
    // retrying the compact on the new base succeeds and keeps all rows
    assert(SnapshotTable.compact(spark, table) == 3L)
    assert(SnapshotTable.readCurrent(spark, table).get
      .as[(String, Int)].collect().toSet == Set(("a", 1), ("b", 2), ("c", 3)))
  }

  test("time travel: readAt reproduces each commit's view from metadata alone") {
    import spark.implicits._
    val table = tmpTable()
    SnapshotTable.commit(Seq(("a", 1)).toDF("doc_id", "v"), table) // snapshot 0
    SnapshotTable.commit(Seq(("b", 2)).toDF("doc_id", "v"), table) // snapshot 1
    SnapshotTable.overwrite(Seq(("c", 3)).toDF("doc_id", "v"), table) // snapshot 2
    assert(SnapshotTable.history(spark, table).map(_._1) == Seq(0L, 1L, 2L))
    def at(id: Long) = SnapshotTable.readAt(spark, table, id).get
      .as[(String, Int)].collect().toSet
    assert(at(0) == Set(("a", 1)))
    assert(at(1) == Set(("a", 1), ("b", 2)))
    assert(at(2) == Set(("c", 3)))
    // the live read IS the newest snapshot's view
    assert(SnapshotTable.read(spark, table).get.as[(String, Int)].collect().toSet == at(2))
    assert(SnapshotTable.readAt(spark, table, 99).isEmpty)
  }

  test("vacuum reclaims unreferenced files/manifests but never the retained horizon") {
    import spark.implicits._
    val table = tmpTable()
    SnapshotTable.commit(Seq(("a", 1)).toDF("doc_id", "v"), table) // snapshot 0
    SnapshotTable.commit(Seq(("b", 2)).toDF("doc_id", "v"), table) // snapshot 1
    SnapshotTable.overwrite(Seq(("c", 3)).toDF("doc_id", "v"), table) // snapshot 2

    // age guard: nothing is old enough -> nothing deleted, history intact
    assert(SnapshotTable.vacuum(spark, table, keepLast = 1,
      olderThanMs = 3600L * 1000) == ((0, 0)))
    assert(SnapshotTable.history(spark, table).size == 3)

    // keepLast=2: manifest 0 dropped, but its files survive because
    // manifest 1 (retained) still references them — readAt(1) intact
    val (f2, m2) = SnapshotTable.vacuum(spark, table, keepLast = 2, olderThanMs = 0)
    assert(m2 == 1 && f2 == 0)
    assert(SnapshotTable.readAt(spark, table, 0).isEmpty)
    assert(SnapshotTable.readAt(spark, table, 1).get
      .as[(String, Int)].collect().toSet == Set(("a", 1), ("b", 2)))

    // keepLast=1: only the live overwrite snapshot survives; the a/b data
    // files are now unreferenced and reclaimed, the live view untouched
    val (f1, m1) = SnapshotTable.vacuum(spark, table, keepLast = 1, olderThanMs = 0)
    assert(m1 == 1 && f1 >= 2)
    assert(SnapshotTable.readAt(spark, table, 1).isEmpty)
    assert(SnapshotTable.read(spark, table).get
      .as[(String, Int)].collect().toSet == Set(("c", 3)))
    assert(SnapshotTable.readCurrent(spark, table).get
      .as[(String, Int)].collect().toSet == Set(("c", 3)))
    // appends keep working on the vacuumed table
    SnapshotTable.commit(Seq(("d", 4)).toDF("doc_id", "v"), table)
    assert(SnapshotTable.read(spark, table).get.count() == 2)
  }

  test("commit lock: fresh foreign lock blocks with clear error; stale lock broken by age; lock always released") {
    import spark.implicits._
    val table = tmpTable()
    SnapshotTable.commit(Seq(("a", 1)).toDF("doc_id", "v"), table)
    val lockFile = new java.io.File(s"$table/_commit.lock")
    // a normal commit never leaves its lock behind
    assert(!lockFile.exists())
    val hfs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = Some(scala.io.Source.fromFile(s"$table/_current").mkString.trim)

    // another writer is mid-commit RIGHT NOW (mtime pinned ahead so the
    // short test timeout cannot age it into staleness): acquisition times
    // out loudly and the foreign lock is left in place
    assert(lockFile.createNewFile())
    assert(lockFile.setLastModified(System.currentTimeMillis() + 600000))
    val e = intercept[IllegalStateException] {
      SnapshotTable.swapPointer(hfs, table, base, "manifest-zzz.tsv", lockTimeoutMs = 300)
    }
    assert(e.getMessage.contains("commit lock"))
    assert(lockFile.exists()) // a live foreign lock is never deleted

    // the writer crashed: its lock ages past the bound and is broken
    assert(lockFile.setLastModified(System.currentTimeMillis() - 120000))
    SnapshotTable.commit(Seq(("b", 2)).toDF("doc_id", "v"), table)
    assert(!lockFile.exists())
    assert(SnapshotTable.read(spark, table).get.count() == 2)

    // the conflict-detection path releases the lock too
    assert(lockFile.createNewFile() &&
      lockFile.setLastModified(System.currentTimeMillis() - 120000))
    intercept[java.util.ConcurrentModificationException] {
      SnapshotTable.swapPointer(hfs, table, Some("manifest-stale"), "manifest-zzz.tsv")
    }
    assert(!lockFile.exists())
  }

  test("Pipeline.maintain: run -> retry -> compact+vacuum leaves one snapshot, view unchanged") {
    import spark.implicits._
    val table = tmpTable()
    val prev = SpanGen.prevState(spark, dir)
    // same planted retry history as the supersede test: doc 28 errors on
    // run 1, is retried on run 2, succeeds from the fixed source on run 3
    val good = SpanGen.docs(spark, dir).toDF()
      .filter(col("doc_id").isin("D000000007", "D000000028"))
    val broken = good.withColumn("format",
      when(col("doc_id") === "D000000028", lit("weird")).otherwise(col("format")))
    Pipeline.runCommitted(spark, broken, prev, None, ts, "m1", table)
    Pipeline.runCommitted(spark, broken, prev, None, ts, "m2", table)
    Pipeline.runCommitted(spark, good, prev, None, ts, "m3", table)
    val before = SnapshotTable.readCurrent(spark, table).get
      .select("doc_id", "fulltext", "error").as[(String, String, String)]
      .collect().toSet
    assert(before.size == 2 && before.forall(_._3 == null))
    assert(SnapshotTable.lineage(spark, table).map(_.snapshot).toSet == Set(0L, 1L, 2L))

    // the one-call scheduler entry point (horizon 0 = single-writer test)
    val (snap, files, manifests) = Pipeline.maintain(spark, table, olderThanMs = 0)
    assert(snap == 3L)
    assert(manifests == 3 && files >= 3, s"deleted ($files, $manifests)")
    // the merge-on-read view is byte-identical, now served from the ONE
    // compacted snapshot's files; history beyond it is gone
    assert(SnapshotTable.readCurrent(spark, table).get
      .select("doc_id", "fulltext", "error").as[(String, String, String)]
      .collect().toSet == before)
    assert(SnapshotTable.lineage(spark, table).map(_.snapshot).toSet == Set(3L))
    assert(SnapshotTable.history(spark, table).map(_._1) == Seq(3L))
    // maintain again: already compact, nothing left to reclaim
    assert(Pipeline.maintain(spark, table, olderThanMs = 0) == ((-1L, 0, 0)))
    // and ingest keeps working on the maintained table
    assert(Pipeline.runCommitted(spark, good, prev, None, ts, "m4", table) == -1L)
  }

  /** Docs 7 and 28 reach the extract stage; doc 28 in an unaccepted
    * format becomes an error row (the planted inputs of the retry test).
    */
  private def twoDocs(broken: Boolean) = {
    val good = SpanGen.docs(spark, dir).toDF()
      .filter(col("doc_id").isin("D000000007", "D000000028"))
    if (!broken) good
    else good.withColumn("format",
      when(col("doc_id") === "D000000028", lit("weird")).otherwise(col("format")))
  }

  test("a zero-row append creates no snapshot and leaves no data directory, on a fresh table too") {
    import spark.implicits._
    val table = tmpTable()
    val empty = Seq.empty[(String, Int)].toDF("doc_id", "v")
    def dataDirs = Option(new java.io.File(s"$table/data").list()).map(_.length).getOrElse(0)
    assert(SnapshotTable.commit(empty, table) == -1L)
    assert(SnapshotTable.read(spark, table).isEmpty && dataDirs == 0)
    assert(SnapshotTable.commit(Seq(("a", 1)).toDF("doc_id", "v"), table) == 0L)
    assert(SnapshotTable.commit(empty, table) == 0L)
    assert(SnapshotTable.history(spark, table).map(_._1) == Seq(0L) && dataDirs == 1)
    // an overwrite with zero rows still empties the table
    assert(SnapshotTable.overwrite(empty, table) == 1L)
    assert(SnapshotTable.read(spark, table).get.count() == 0)
  }

  test("runCommitted on empty input and a fresh table: -1, no pointer, snapshot or sidecar") {
    val table = tmpTable()
    val prev = SpanGen.prevState(spark, dir)
    assert(Pipeline.runCommitted(spark, twoDocs(broken = false).filter(lit(false)), prev,
      None, ts, "z1", table) == -1L)
    assert(!new java.io.File(s"$table/_current").exists())
    assert(SnapshotTable.history(spark, table).isEmpty)
    assert(!new java.io.File(s"$table/metrics").exists())
    assert(Option(new java.io.File(s"$table/data").list()).forall(_.isEmpty))
  }

  test("a rerun against a committed table is one SQL execution and no job outside it") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val table = tmpTable()
    val prev = SpanGen.prevState(spark, dir)
    val input = twoDocs(broken = true)
    assert(Pipeline.runCommitted(spark, input, prev, None, ts, "j1", table) == 0L)
    // the rerun retries doc 28: it reads the table, resumes, extracts and
    // commits. A schema-inference job (SnapshotTable.read) runs outside any
    // SQL execution; an emptiness pre-pass (todo.isEmpty) and a Spark-written
    // sidecar would each be a root SQL execution of their own. A job group
    // keeps work from other threads of the shared session out of the count.
    val group = s"graft-jobcount-${java.util.UUID.randomUUID()}"
    val executions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val jobsOutside = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        if (props.exists(_.getProperty("spark.jobGroup.id") == group) &&
            props.forall(_.getProperty("spark.sql.execution.id") == null))
          jobsOutside.incrementAndGet(): Unit
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) &&
            s.rootExecutionId.forall(_ == s.executionId) =>
          executions.add(s.description): Unit
        case _ =>
      }
    }
    org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "runCommitted rerun")
    try {
      assert(Pipeline.runCommitted(spark, input, prev, None, ts, "j2", table) == 1L)
      org.apache.spark.ListenerBusBridge.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobsOutside.get == 0, "jobs outside any SQL execution")
    assert(executions.size == 1, s"root SQL executions: $executions")
  }

  test("the driver-written metrics sidecar reads back beside a Spark-written one") {
    import org.apache.spark.sql.Row
    val table = tmpTable()
    val prev = SpanGen.prevState(spark, dir)
    assert(Pipeline.runCommitted(spark, twoDocs(broken = true), prev, None, ts, "new", table) == 0L)
    // a sidecar file as a Spark job wrote it for an older run
    Pipeline.metricsFrame(spark, Map("x_pdf" -> 3L, "e_other" -> 1L))
      .withColumn("snapshot_id", lit(7L))
      .withColumn("run_id", lit("old"))
      .coalesce(1).write.mode("append").parquet(s"$table/metrics")
    val files = new java.io.File(s"$table/metrics").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    assert(files.length == 2)
    val byRun = files.map { f =>
      val df = spark.read.parquet(f.getPath)
      df.select("run_id").distinct().collect().map(_.getString(0)).toSeq -> (f, df.schema)
    }.toMap
    val Seq((driverFile, driverSchema), (sparkFile, sparkSchema)) = Seq(byRun(Seq("new")), byRun(Seq("old")))
    assert(driverSchema == sparkSchema)
    def footer(f: java.io.File) = {
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath), spark.sparkContext.hadoopConfiguration))
      try {
        val meta = reader.getFileMetaData
        (meta.getSchema, meta.getKeyValueMetaData.get(SnapshotTable.SparkRowMetadataKey))
      } finally reader.close()
    }
    assert(footer(driverFile) == footer(sparkFile))
    assert(footer(driverFile)._2 == Pipeline.SidecarSchema.json)
    assert(spark.read.parquet(s"$table/metrics").collect().toSet == Set(
      Row("html", 1L, 0L, 0L, "new"), Row("other", 0L, 1L, 0L, "new"),
      Row("pdf", 3L, 0L, 7L, "old"), Row("other", 0L, 1L, 7L, "old")))
  }

  test("readCurrent resolves same-snapshot duplicate keys deterministically") {
    import spark.implicits._
    val table = tmpTable()
    // one commit, duplicate key within it, spread over several files
    SnapshotTable.commit(
      Seq(("a", 1), ("a", 2), ("a", 3), ("b", 9)).toDF("doc_id", "v").repartition(4),
      table)
    val picks = (1 to 3).map { _ =>
      SnapshotTable.readCurrent(spark, table).get
        .filter(col("doc_id") === "a").as[(String, Int)].collect().toSeq
    }
    assert(picks.forall(_.length == 1))
    assert(picks.distinct.length == 1, s"nondeterministic pick across reads: $picks")
  }
}
