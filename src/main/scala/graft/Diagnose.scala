package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.{SpanGen, Synth}
import graft.spark.{Pipeline, Sessions}

/** Single-document diagnostic entry point (reference `run.py --diagnose`,
  * run.py:119-127,205-224): runs ONE document through the exact production
  * pipeline code path — checker classification, dispatch, extraction — on a
  * local session and prints every stage's view of it. Usage:
  *
  *   sbt "runMain graft.Diagnose 14 [/root/testdata/sf0.001]"
  *
  * The doc is synthesized deterministically from the documents table row
  * (same generator the verify/bench corpora use), mirroring the reference's
  * eager/sync Celery mode: identical code, one row, one process.
  */
object Diagnose {

  /** Build the full diagnostic report for one doc id. Pure apart from the
    * Spark job — unit-testable (DiagnoseSpec) and printable (main).
    */
  def report(spark: SparkSession, sfDir: String, docId: Long): String = {
    import spark.implicits._
    val row = SpanGen.documents(spark, sfDir).filter(col("doc_id") === docId).collect()
      .headOption.getOrElse(sys.error(s"doc_id $docId not in $sfDir/documents.parquet"))

    val input = Seq(Synth.checkerDoc(docId, row.text, row.source)).toDF()
    val prev = SpanGen.prevState(spark, sfDir).filter(col("doc_id") === Synth.key(docId))
    val classified = graft.spark.Checker.classify(input, prev)
      .select("doc_id", "format", "provider", "update_reason", "route")
      .collect().headOption

    val sb = new StringBuilder
    sb.append(s"doc_id:        ${Synth.key(docId)}\n")
    classified match {
      case None => sb.append("checker:       (no classification row)\n")
      case Some(c) =>
        sb.append(s"format:        ${c.getAs[String]("format")}\n")
        sb.append(s"provider:      ${c.getAs[String]("provider")}\n")
        sb.append(s"update_reason: ${c.getAs[String]("update_reason")}\n")
        sb.append(s"route:         ${c.getAs[String]("route")}\n")
    }

    val out = Pipeline.run(spark, input, prev, None,
      java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), s"diagnose-$docId").toDF()
      .collect().headOption
    out match {
      case None =>
        sb.append("result:        SKIPPED (checker dropped the doc — up to date or ignored)\n")
      case Some(r) =>
        val err = r.getAs[String]("error")
        if (err != null) sb.append(s"error:         $err\n")
        sb.append(s"lineage:       ${r.getAs[String]("lineage")}\n")
        val spans = r.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("spans")
        sb.append(s"spans (${spans.size}):\n")
        spans.foreach { s =>
          val kind = s.getAs[String]("kind")
          val text = Option(s.getAs[String]("text")).map(t =>
            if (t.length > 80) t.take(77) + "..." else t).getOrElse("")
          val ref = Option(s.getAs[String]("media_ref")).getOrElse("")
          sb.append(f"  [${s.getAs[Int]("offset")}%3d] $kind%-6s ${if (kind == "media") ref else text}\n")
        }
        sb.append(s"fulltext (${Option(r.getAs[String]("fulltext")).fold(0)(_.length)} chars): " +
          s"${Option(r.getAs[String]("fulltext")).map(_.take(120)).getOrElse("")}\n")
        sb.append(s"acknowledgements: ${Option(r.getAs[String]("acknowledgements")).getOrElse("")}\n")
        sb.append(s"dataset:       ${r.getAs[scala.collection.Seq[String]]("dataset").mkString(", ")}\n")
        sb.append(s"facility:      ${r.getAs[scala.collection.Seq[String]]("facility").mkString(", ")}\n")
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Diagnose <doc_id> [sfDir]")
    val docId = args(0).toLong
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val spark = Sessions.builder(2, "graft-diagnose").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(report(spark, sfDir, docId))
    spark.stop()
  }
}
