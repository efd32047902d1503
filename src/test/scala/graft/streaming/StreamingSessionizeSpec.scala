package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Events
import graft.spark.SparkTestSession

/** Pins the scaladoc claim on [[graft.ops.Events.sessionize]]: the SAME
  * groupBy(session_window) plan runs unchanged as a streaming aggregation
  * under a watermark, and the finalized streaming sessions equal the batch
  * statement over the same rows. The batch form is oracle-gated as q50;
  * this covers what the oracle can't see — watermark finalization and
  * cross-micro-batch session merging.
  */
class StreamingSessionizeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def ts(s: Long) = new Timestamp(1577836800000L + s * 1000L) // 2020-01-01 UTC + s

  test("streaming session_window finalizes sessions past the watermark; equals batch") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft-sessstream").toString
    val inDir = s"$tmp/in"; val cpDir = s"$tmp/cp"
    // user 1: one session split ACROSS micro-batches (0,10 | 20), then a
    // second session at 200; user 2: a single event. The punctuation event
    // (user 99, far future) advances the watermark past every other
    // session's close so append mode emits them; its own session stays
    // open and must NOT be emitted.
    val wave1 = Seq((1L, ts(0)), (1L, ts(10)), (2L, ts(50)))
    val wave2 = Seq((1L, ts(20)), (1L, ts(200)), (99L, ts(100000)))
    wave1.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(inDir)
    val seen = new scala.collection.mutable.HashSet[String]
    java.nio.file.Files.list(java.nio.file.Paths.get(inDir)).iterator()
      .forEachRemaining(p => { seen += p.toString; () })
    wave2.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(inDir)
    // FileStreamSource orders files by modification time; an mtime TIE
    // between the waves could process the watermark-punctuation file
    // first and drop wave1 as late data. Pin the order explicitly.
    java.nio.file.Files.list(java.nio.file.Paths.get(inDir)).iterator()
      .forEachRemaining { p =>
        if (!seen.contains(p.toString))
          java.nio.file.Files.setLastModifiedTime(p,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() + 10000))
      }

    val schema = spark.read.parquet(inDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .withWatermark("ts", "1 minute")
    val q = Events.sessionize(stream, gap = "30 seconds")
      .writeStream.format("memory").queryName("sess_stream")
      .option("checkpointLocation", cpDir)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    SparkTestSession.drain(q)

    val got = spark.table("sess_stream")
      .as[(Long, Long, Long, Long)].collect().toSet
    val base = 1577836800L
    assert(got == Set(
      (1L, base, 3L, 20L),        // 0,10,20 merged across micro-batches
      (1L, base + 200, 1L, 0L),   // second session after the 30 s gap
      (2L, base + 50, 1L, 0L)),   // user 2 singleton; user 99 still open
      s"streaming sessions: $got")

    // batch statement over the same rows, restricted to sessions the
    // final watermark (100000 - 60) had closed
    val batch = Events.sessionize(
      (wave1 ++ wave2).toDF("user_id", "ts"), gap = "30 seconds")
      .filter(col("session_start_epoch") + col("duration_sec") < base + 100000 - 60)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(batch == got, s"batch=$batch streaming=$got")
  }
}
