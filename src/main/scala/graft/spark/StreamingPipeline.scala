package graft.spark

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.streaming.MultipartAssembly

/** Continuous operation. The reference's "streaming" is Celery queues — no
  * event time, no watermarks, at-least-once with one retry
  * (docs/Overview.md:173-175, adsft/tasks.py:21-27). The Spark-native
  * re-expression is Structured Streaming over the input table, each
  * micro-batch committed by the batch path, [[Pipeline.runCommitted]], as
  * one snapshot of the [[SnapshotTable]] at `outDir` with its sidecar rows
  * (run id `stream-<batchId>` / `parts-<batchId>`). Through the resume
  * anti-join, a batch replayed after a crash, or a fresh checkpoint over
  * the same input and table, commits nothing new. Read the output with
  * [[SnapshotTable.read]] or [[SnapshotTable.readCurrent]].
  */
object StreamingPipeline {

  /** File-source stream of input docs -> extraction -> snapshot commit.
    * `Trigger.AvailableNow` drains what exists and stops (the bulk-ingest
    * run.py mode); pass a ProcessingTime trigger for continuous service.
    *
    * `dedupWithin`: when set, an upstream at-least-once producer's
    * redeliveries (same doc_id + spans, re-enqueued by a retry — the
    * reference's one-retry Celery queue, tasks.py:21-27) are suppressed
    * BEFORE extraction by a watermark-bounded first-arrival dedup keyed on
    * md5 of (keys in `dedupKey`), with the dedup state checkpointed
    * alongside the source offsets — one recovery domain. State is O(docs
    * per watermark window). Only this dedup catches redeliveries within one
    * micro-batch; ones in later batches also meet the resume anti-join,
    * the end-to-end idempotence backstop.
    */
  def run(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, prevState: DataFrame,
      indexDate: java.sql.Timestamp,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      dedupWithin: Option[String] = None,
      dedupKey: Seq[String] = Seq("doc_id", "spans"),
      dedupEventCol: String = "src_mtime"): StreamingQuery = {
    val raw = source(spark, inputDir, maxFilesPerTrigger)
    val stream = dedupWithin match {
      case None => raw
      case Some(delay) =>
        raw
          .withColumn("_dedup_hash", md5(to_json(struct(dedupKey.map(col): _*))))
          .withWatermark(dedupEventCol, delay)
          .dropDuplicatesWithinWatermark("_dedup_hash")
          .drop("_dedup_hash")
    }

    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        Pipeline.runCommitted(batch.sparkSession, batch, prevState, None,
          indexDate, runId = s"stream-$batchId", outDir)
        ()
      }
      .start()
  }

  /** Continuous multi-part ingestion: part events -> stateful assembly
    * ([[graft.streaming.MultipartAssembly]]) -> checker -> extraction ->
    * snapshot commit, under ONE checkpoint. The reference consumes
    * multi-file links rows inside its pipeline proper (utils.py:286-312
    * feeding extraction.py:1242-1256) but assumes all parts are on disk;
    * here parts may arrive across micro-batches and out of order, and the
    * assembly state is checkpointed alongside the source offsets.
    *
    * Documents the timeout flushes as INCOMPLETE (missing parts after
    * `incompleteTimeoutMs` with no progress) skip extraction: they become
    * final error rows — the streaming analog of the reference's "not all
    * files found" IOError (utils.py:301-305) — in the same snapshot as the
    * batch's extracted rows, counted as errored in its sidecar row, and
    * never committed again by a replay ([[Pipeline.commitRun]]).
    *
    * A timeout needs a ProcessingTime trigger, and is rejected under
    * `Trigger.AvailableNow()` with an IllegalArgumentException: with a
    * processing-time timeout Spark runs another batch after every batch to
    * look for expired documents, so an AvailableNow query would never end.
    */
  def runParts(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, prevState: DataFrame,
      indexDate: java.sql.Timestamp,
      incompleteTimeoutMs: Option[Long] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    require(incompleteTimeoutMs.isEmpty || trigger != Trigger.AvailableNow(),
      "runParts: incompleteTimeoutMs needs a ProcessingTime trigger; with a processing-time " +
        "timeout Spark keeps starting batches, so an AvailableNow query would never end")
    import spark.implicits._
    val parts = source(spark, inputDir, maxFilesPerTrigger).as[MultipartAssembly.PartRow]

    MultipartAssembly.assemble(parts, incompleteTimeoutMs).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: Dataset[MultipartAssembly.AssembledDoc], batchId: Long) =>
        // the batch is a scan of the stateful assembly's uncached RDD: the
        // pin lets the count and both branches below share one run of it.
        // With a timeout, Spark starts a batch every trigger interval to look
        // for expired documents; such an idle batch has nothing to commit,
        // so it ends at the count instead of running the whole commit body
        batch.persist()
        try {
          if (batch.count() > 0) {
            val runId = s"parts-$batchId"
            val docs = batch.toDF()
            val complete = docs.filter(col("complete")).select(
              col("doc_id"), col("format"), col("provider"), col("source_path"),
              col("spans"), lit(null).cast("string").as("update_flag"),
              lit(indexDate).as("src_mtime"))
            // incomplete (timeout-flushed) docs: error rows, ExtractedDoc-shaped
            val incomplete = docs.filter(!col("complete")).select(col("doc_id"), col("spans"),
              lit(null).cast("string").as("fulltext"), lit(null).cast("string").as("acknowledgements"),
              lit(Array.empty[String]).as("dataset"), lit(Array.empty[String]).as("facility"),
              lit(null).cast("string").as("update_reason"), lit(indexDate).as("index_date"),
              col("format"), lit(-1).as("part_id"),
              concat_ws("/", lit(runId), col("doc_id")).as("lineage"),
              concat(lit("multipart incomplete: missing parts "), to_json(col("missing"))).as("error"))
            Pipeline.commitRun(batch.sparkSession, complete, Some(incomplete),
              prevState, None, indexDate, runId, outDir)
          }
        } finally batch.unpersist()
        ()
      }
      .start()
  }

  /** Parquet file stream over `inputDir`; `maxFilesPerTrigger` is backpressure
    * (the reference producer stops past max_queue_size, run.py:107-109).
    */
  private def source(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.schema(spark.read.parquet(inputDir).schema)
    maxFilesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(inputDir)
  }
}
