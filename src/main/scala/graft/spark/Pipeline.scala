package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.core.ExtractedDoc

/** The extraction pipeline (reference lifecycle run.py -> checker -> extract
  * -> write, SURVEY.md §3.1), as one logical Spark plan:
  *
  *   read -> [checker join] -> filter -> graft_extract -> sink (+ lineage, metrics)
  *
  * Shuffles come only from the joins (the checker state join, plus the
  * resume and FORCE_TO_SEND recovery joins when used; none when both sides
  * are bucketed on doc_id). Extraction is a native Catalyst expression
  * evaluated in place: narrow, row-at-a-time, never a materialized partition.
  */
object Pipeline {

  /** The accepted-format universe (reference ACCEPTED_FORMATS,
    * adsft/extraction.py:1207) — the counter dimensions of the metrics table.
    */
  val ObservedFormats: Seq[String] =
    Seq("txt", "ocr", "xml", "teixml", "html", "pdf", "http", "pdf-grobid")

  /** Counter metrics AT SINK TIME via the Observation API (SURVEY A5,
    * reference writer.py:240-253 / run.py:102-117): per-format
    * extracted/errored counters are computed inside the SAME action that
    * writes the output — no second pass over the data and no extra job.
    * Call [[metricsFrame]] with `obs.get` after the sink action completes;
    * [[runCommitted]] writes the same rows to its sidecar from the driver.
    */
  def observeMetrics(out: DataFrame): (DataFrame, Observation) = {
    val obs = Observation()
    val known = col("format").isin(ObservedFormats: _*)
    val aggs = ObservedFormats.map(f => col("format") === f)
      .zip(ObservedFormats)
      .flatMap { case (pred, f) =>
        Seq(
          sum(when(pred && col("error").isNull, 1L).otherwise(0L)).as(s"x_$f"),
          sum(when(pred && col("error").isNotNull, 1L).otherwise(0L)).as(s"e_$f"))
      } ++ Seq(
        // rejected-format rows (C8 error side-channel) land in `other`
        sum(when(!known && col("error").isNull, 1L).otherwise(0L)).as("x_other"),
        sum(when(!known && col("error").isNotNull, 1L).otherwise(0L)).as("e_other"),
        count(lit(1)).as("n_rows"))
    (out.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** Observed counters as a queryable table: one row per format that
    * produced output, (format, n_extracted, n_errored).
    */
  def metricsFrame(spark: SparkSession, m: Map[String, Any]): DataFrame = {
    import spark.implicits._
    metricsRows(m).toDF("format", "n_extracted", "n_errored")
  }

  /** The rows of [[metricsFrame]]: (format, n_extracted, n_errored). */
  private[spark] def metricsRows(m: Map[String, Any]): Seq[(String, Long, Long)] = {
    def cnt(k: String): Long =
      m.get(k).flatMap(Option(_)).map(_.asInstanceOf[Long]).getOrElse(0L)
    (ObservedFormats :+ "other").flatMap { f =>
      val x = cnt(s"x_$f"); val e = cnt(s"e_$f")
      if (x + e > 0) Some((f, x, e)) else None
    }
  }

  /** Schema of the `metrics/` sidecar of [[runCommitted]]: the
    * [[metricsFrame]] columns plus the run's snapshot and run ids.
    */
  private[spark] val SidecarSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("n_extracted", LongType, nullable = false),
    StructField("n_errored", LongType, nullable = false),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("run_id", StringType, nullable = false)))

  /** Appends one run's sidecar rows to `dir` as a single parquet file,
    * written on the driver (no Spark job) in the layout a Spark write of
    * [[SidecarSchema]] produces: the same parquet schema and the same row
    * metadata, so `spark.read.parquet(dir)` reads it beside Spark-written
    * files. The file is written under a `_` name, which readers skip, and
    * renamed into place. Writes nothing when there are no rows.
    */
  private def writeSidecar(spark: SparkSession, dir: String,
      rows: Seq[(String, Long, Long)], snapshotId: Long, runId: String): Unit =
    if (rows.nonEmpty) {
      import org.apache.hadoop.fs.Path
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.hadoop.metadata.CompressionCodecName
      import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
      val conf = spark.sparkContext.hadoopConfiguration
      val name = s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"
      val (tmp, dest) = (new Path(dir, s"_$name"), new Path(dir, name))
      val schema = new SparkToParquetSchemaConverter(spark.sessionState.conf).convert(SidecarSchema)
      val writer = ExampleParquetWriter.builder(tmp).withConf(conf).withType(schema)
        .withCompressionCodec(CompressionCodecName.SNAPPY)
        .withExtraMetaData(java.util.Map.of(
          SnapshotTable.SparkRowMetadataKey, SidecarSchema.json,
          "org.apache.spark.version", org.apache.spark.SPARK_VERSION_SHORT))
        .build()
      val groups = new SimpleGroupFactory(schema)
      try rows.foreach { case (format, extracted, errored) =>
        writer.write(groups.newGroup()
          .append("format", format).append("n_extracted", extracted)
          .append("n_errored", errored).append("snapshot_id", snapshotId)
          .append("run_id", runId))
      } finally writer.close()
      if (!tmp.getFileSystem(conf).rename(tmp, dest))
        throw new java.io.IOException(s"metrics sidecar rename failed: $tmp -> $dest")
    }

  /** The extract stage: the [[ExtractDocExpr]] Catalyst expression runs
    * extraction without leaving Tungsten row format (no object encoder on
    * either side). Output schema matches ExtractedDoc. Errors become rows in
    * the error side-channel (`error` column non-null) rather than task
    * failures — the reference's error-handler-queue semantics
    * (docs/Overview.md:173-175). `df` needs the columns doc_id, format,
    * provider, source_path (the URL a payload-less `http` doc is fetched
    * from), spans and update_reason. `pdf-grobid` rows become error rows,
    * the reference's own disabled-Grobid default (config.py:8).
    */
  def extractStageNative(df: DataFrame, indexDate: java.sql.Timestamp,
      runId: String): DataFrame = {
    ExtractDocExpr.register(df.sparkSession)
    df.withColumn("_ex", expr("graft_extract(doc_id, format, provider, spans, source_path)"))
      .select(
        col("doc_id"),
        col("_ex.spans").as("spans"),
        col("_ex.fulltext").as("fulltext"),
        col("_ex.acknowledgements").as("acknowledgements"),
        col("_ex.dataset").as("dataset"),
        col("_ex.facility").as("facility"),
        col("update_reason"),
        lit(indexDate).as("index_date"),
        col("format"),
        spark_partition_id().as("part_id"),
        // lineage is a pure function of (runId, doc_id): stable under task
        // retry, AQE re-planning, and repartitioning — a counter-based id
        // (monotonically_increasing_id or a partition-local seq) can assign
        // the same logical row a different id on retry. part_id (above)
        // records physical placement separately.
        concat_ws("/", lit(runId), col("doc_id")).as("lineage"),
        col("_ex.error").as("error"))
  }

  /** Checkpoint/resume: drop inputs whose doc_id already committed to the
    * output table (reference FORCE_TO_SEND skip-if-written semantics,
    * adsft/writer.py:152-156, re-expressed as an anti-join — idempotent
    * at partition granularity because parquet/iceberg commits are atomic).
    */
  def resume(input: DataFrame, committed: DataFrame): DataFrame =
    input.join(committed.select("doc_id"), Seq("doc_id"), "left_anti")

  /** Production sink path: resume against the committed snapshot, extract
    * only what is missing, commit the increment atomically. A job killed
    * mid-write leaves stray data files no reader sees (SnapshotTable), so
    * rerunning this is exactly-once at table granularity — the Spark-native
    * equivalent of the reference's skip-if-written + temp-file-commit
    * (adsft/writer.py:40-156). Returns the new snapshot id, -1 when
    * everything was already committed, or the current snapshot id when the
    * checker dropped every remaining doc.
    *
    * One run is one Spark write job plus its broadcast builds and shuffle
    * stages: reading the committed table infers no schema
    * ([[SnapshotTable.read]]), whether anything was left to extract is an
    * observed count on the same action rather than an emptiness pre-pass,
    * and the `metrics/` sidecar (one row per format: [[SidecarSchema]]) is
    * written from the driver after the pointer swap.
    */
  def runCommitted(spark: SparkSession, input: DataFrame, prevState: DataFrame,
      prevExtracted: Option[DataFrame], indexDate: java.sql.Timestamp,
      runId: String, tableDir: String): Long =
    commitRun(spark, input, None, prevState, prevExtracted, indexDate, runId, tableDir)

  /** [[runCommitted]], plus `errorRows`: final error rows in [[ExtractedDoc]]
    * shape, rejected before extraction (a multi-part doc flushed
    * incomplete), committed in the same snapshot and counted in the sidecar.
    * Re-extracting cannot change them, so they are resumed against every
    * committed row of their doc: a replay does not commit them again, and
    * they never supersede a committed success.
    */
  private[spark] def commitRun(spark: SparkSession, input: DataFrame,
      errorRows: Option[DataFrame], prevState: DataFrame,
      prevExtracted: Option[DataFrame], indexDate: java.sql.Timestamp,
      runId: String, tableDir: String): Long = {
    val committed = SnapshotTable.read(spark, tableDir)
    val todo = committed match {
      // only SUCCESSFULLY extracted rows count as done: the reference's
      // skip-if-written protocol skips written fulltext only
      // (adsft/writer.py:152-156), so error-channel rows are retried on
      // every rerun; a later success supersedes the old error row in the
      // [[SnapshotTable.readCurrent]] merge-on-read view
      case Some(done) => resume(input, done.filter(col("error").isNull))
      case None => input
    }
    // the todo count and the counters ride the sink action itself (observe
    // = zero extra passes); an empty todo commits zero rows, a no-op append
    val todoObs = Observation()
    val out = run(spark, todo.observe(todoObs, count(lit(1)).as("n")), prevState,
      prevExtracted, indexDate, runId).toDF()
    val rows = errorRows.fold(out)(errs => out.unionByName(committed.fold(errs)(resume(errs, _))))
    val (observed, obs) = observeMetrics(rows)
    val snapshotId = SnapshotTable.commit(observed, tableDir)
    // -1 only when neither a doc to extract nor an error row was left
    if (todoObs.get("n") == 0L && obs.get("n_rows") == 0L) -1L
    else {
      writeSidecar(spark, s"$tableDir/metrics", metricsRows(obs.get), snapshotId, runId)
      snapshotId
    }
  }

  /** One-call table maintenance — the housekeeping a long-lived extraction
    * table needs between [[runCommitted]] invocations, surfaced through the
    * pipeline API so a scheduler job never reaches into [[SnapshotTable]]
    * directly:
    *
    *   1. [[SnapshotTable.compact]] folds the retry/supersede append
    *      history into a single overwrite snapshot, so the
    *      [[SnapshotTable.readCurrent]] merge-on-read cost stops growing
    *      with the number of ingest runs;
    *   2. [[SnapshotTable.vacuum]] drops manifests beyond the `keepLast`
    *      retention horizon and reclaims data files no retained manifest
    *      references. The `olderThanMs` age guard (Iceberg's orphan-file
    *      rule) is what makes this safe next to an in-flight writer:
    *      files written but not yet pointer-swapped are younger than any
    *      sane horizon, so they are never eaten.
    *
    * Both halves keep the live view byte-identical: compact refuses (and
    * this method rethrows) if a concurrent commit lands mid-rewrite, and
    * vacuum never touches the newest `keepLast` snapshots. Time travel
    * ([[SnapshotTable.readAt]]) beyond the horizon is the one thing
    * traded away — that is the point of retention.
    *
    * Returns (compacted snapshot id or -1 when already compact,
    * data files deleted, manifests deleted).
    */
  def maintain(spark: SparkSession, tableDir: String, keepLast: Int = 1,
      olderThanMs: Long = 7L * 24 * 3600 * 1000,
      keyCol: String = "doc_id"): (Long, Int, Int) = {
    val snap = SnapshotTable.compact(spark, tableDir, keyCol)
    val (files, manifests) =
      SnapshotTable.vacuum(spark, tableDir, keepLast, olderThanMs)
    (snap, files, manifests)
  }

  /** Full batch run: classify -> filter -> recover-or-extract -> extraction.
    * `prevExtracted` (the previous output snapshot) serves FORCE_TO_SEND
    * recovery (adsft/extraction.py:1212-1220): recovered rows are passed
    * through without re-extraction when prior fulltext exists.
    *
    * No re-shuffle before the extract stage: the input is a byte-split scan
    * (parquet tasks hold at most maxPartitionBytes of payload; a row too
    * large to share a split gets a task to itself) and extraction cost is
    * about linear in payload bytes, so the scan already bounds per-task cost.
    */
  def run(spark: SparkSession, input: DataFrame, prevState: DataFrame,
      prevExtracted: Option[DataFrame], indexDate: java.sql.Timestamp,
      runId: String): Dataset[ExtractedDoc] = {
    import spark.implicits._

    val checked = Checker.filterNeedsUpdate(Checker.classify(input, prevState))

    val (toExtract, recovered) = prevExtracted match {
      case Some(prevOut) =>
        val fts = checked.filter(col("update_reason") === "FORCE_TO_SEND")
        val rec = fts.alias("c").join(
            prevOut.alias("o"),
            col("c.doc_id") === col("o.doc_id"), "inner")
          .filter(col("o.fulltext").isNotNull && length(col("o.fulltext")) > 0)
          .select(col("c.doc_id"), col("o.spans"), col("o.fulltext"),
            col("o.acknowledgements"), col("o.dataset"), col("o.facility"),
            col("c.update_reason"),
            lit(indexDate).as("index_date"), col("c.format"),
            lit(-1).as("part_id"), lit(s"$runId/recovered").as("lineage"),
            lit(null).cast("string").as("error"))
          .as[ExtractedDoc]
        val rest = checked.join(
          rec.select(col("doc_id")), Seq("doc_id"), "left_anti")
        (rest, Some(rec))
      case None => (checked, None)
    }

    val extracted = extractStageNative(toExtract, indexDate, runId).as[ExtractedDoc]
    recovered.map(extracted.unionAll).getOrElse(extracted)
  }
}
