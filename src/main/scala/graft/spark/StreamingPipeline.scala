package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous operation. The reference's "streaming" is Celery queues — no
  * event time, no watermarks, at-least-once with one retry
  * (docs/Overview.md:173-175, adsft/tasks.py:21-27). The Spark-native
  * re-expression is Structured Streaming over the input table with the SAME
  * batch body per micro-batch (foreachBatch), which gives exactly-once sink
  * semantics per batch plus checkpointed offsets — strictly stronger than
  * the reference's retry queue.
  */
object StreamingPipeline {

  /** File-source stream of input docs -> extraction -> parquet append.
    * `Trigger.AvailableNow` drains what exists and stops (the bulk-ingest
    * run.py mode); pass a ProcessingTime trigger for continuous service.
    *
    * `dedupWithin`: when set, an upstream at-least-once producer's
    * redeliveries (same doc_id + spans, re-enqueued by a retry — the
    * reference's one-retry Celery queue, tasks.py:21-27) are suppressed
    * BEFORE extraction by a watermark-bounded first-arrival dedup keyed on
    * md5 of (keys in `dedupKey`), with the dedup state checkpointed
    * alongside the source offsets — one recovery domain. State is O(docs
    * per watermark window); redeliveries farther apart than the delay fall
    * through to the sink-side anti-join, which stays the end-to-end
    * idempotence backstop.
    */
  def run(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, prevState: DataFrame,
      indexDate: java.sql.Timestamp,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None,
      dedupWithin: Option[String] = None,
      dedupKey: Seq[String] = Seq("doc_id", "spans"),
      dedupEventCol: String = "src_mtime"): StreamingQuery = {
    import org.apache.spark.sql.functions._

    val schema = spark.read.parquet(inputDir).schema
    val reader = spark.readStream.schema(schema)
    // backpressure: the reference producer stops enqueueing past
    // max_queue_size (run.py:107-109); the streaming analog bounds batch size
    val raw = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(inputDir)

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
        // deterministic per-batch directory + overwrite => REPLAY-IDEMPOTENT
        // sink: if the driver dies after this write but before the batch
        // commits to the checkpoint, the replayed batch overwrites its own
        // output instead of appending duplicates (a bare mode("append") here
        // is only at-least-once). Readers see a batch=<id> partition column.
        Pipeline.run(batch.sparkSession, batch, prevState, None,
            indexDate, runId = s"stream-$batchId")
          .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .start()
  }

  /** Continuous multi-part ingestion: part events -> stateful assembly
    * ([[graft.streaming.MultipartAssembly]]) -> checker -> extraction ->
    * sink, under ONE checkpoint. The reference consumes multi-file links
    * rows inside its pipeline proper (utils.py:286-312 feeding
    * extraction.py:1242-1256) but assumes all parts are on disk; here parts
    * may arrive across micro-batches and out of order, the assembly state is
    * checkpointed alongside the source offsets, and exactly-once emission of
    * each assembled doc carries through to the sink via foreachBatch.
    *
    * Documents the timeout flushes as INCOMPLETE (missing parts after
    * `incompleteTimeoutMs` with no progress) skip extraction and land in the
    * error side-channel — the streaming analog of the reference's "not all
    * files found" IOError (utils.py:301-305).
    */
  def runParts(spark: SparkSession, inputDir: String, outDir: String,
      checkpointDir: String, prevState: DataFrame,
      indexDate: java.sql.Timestamp,
      incompleteTimeoutMs: Option[Long] = None,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val schema = spark.read.parquet(inputDir).schema
    val reader = spark.readStream.schema(schema)
    val parts = maxFilesPerTrigger
      .map(n => reader.option("maxFilesPerTrigger", n))
      .getOrElse(reader)
      .parquet(inputDir)
      .as[graft.streaming.MultipartAssembly.PartRow]

    val assembled = graft.streaming.MultipartAssembly.assemble(parts, incompleteTimeoutMs)

    assembled.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[graft.streaming.MultipartAssembly.AssembledDoc],
         batchId: Long) =>
        // the body consumes the batch through TWO branches (complete /
        // incomplete) — persist so the stateful assembly subtree executes
        // once per micro-batch, not once per branch
        batch.persist()
        try {
          val s = batch.sparkSession
          val docs = batch.toDF()
            .withColumn("update_flag", lit(null).cast("string"))
            .withColumn("src_mtime", lit(indexDate))
          val complete = docs.filter(col("complete"))
            .select("doc_id", "format", "provider", "source_path", "spans",
              "update_flag", "src_mtime")
          val out = Pipeline.run(s, complete, prevState, None, indexDate,
            runId = s"parts-$batchId").toDF()
          // incomplete (timeout-flushed) docs: error rows, ExtractedDoc-shaped
          val incomplete = docs.filter(!col("complete")).select(
            col("doc_id"),
            col("spans"),
            lit(null).cast("string").as("fulltext"),
            lit(null).cast("string").as("acknowledgements"),
            lit(Array.empty[String]).as("dataset"),
            lit(Array.empty[String]).as("facility"),
            lit(null).cast("string").as("update_reason"),
            lit(indexDate).as("index_date"),
            col("format"),
            lit(-1).as("part_id"),
            concat_ws("/", lit(s"parts-$batchId"), col("doc_id")).as("lineage"),
            concat(lit("multipart incomplete: missing parts "),
              to_json(col("missing"))).as("error"))
          // replay-idempotent sink: deterministic per-batch dir + overwrite
          // (cf. run() above) — a batch replayed after a pre-checkpoint
          // crash overwrites its own output, never duplicates it
          out.unionByName(incomplete)
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        } finally batch.unpersist()
      }
      .start()
  }
}
