package perfbench

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Doc
import graft.gen.Synth

/** The extraction workloads' input: a seeded Synth corpus of `n` documents
  * with ids 0 until n, written once per (seed, n, version) in the production
  * layout (input and previous-state tables bucketed by doc_id, one file per
  * bucket, so the checker join plans no exchange).
  *
  * The seed draws each document's text from the seed's `documents` table
  * and places the mega-docs (text x100, about 1 in 997) and the documents
  * `daily_rerun` treats as new (1 in 20). Formats and checker families
  * follow the id rules of [[graft.gen.Synth]], so every (format, reason)
  * count has a closed form ([[Corpus.expectedCounts]]).
  */
final case class Corpus(seed: Long, n: Long, base: Array[(String, String)]) {
  import Corpus._

  def text(id: Long): String = {
    val (t, _) = base(draw(seed, Salt.Text, id, base.length))
    if (isMega(id)) (t + " ") * 100 else t
  }
  def source(id: Long): String = base(draw(seed, Salt.Text, id, base.length))._2
  def isMega(id: Long): Boolean = draw(seed, Salt.Mega, id, 997) == 0
  def isNew(id: Long): Boolean = draw(seed, Salt.New, id, 20) == 0
  def doc(id: Long): Doc = Synth.checkerDoc(id, text(id), source(id))
}

object Corpus {
  val Version = "corpus-v1"
  val Buckets = 32

  object Salt { val Text = 0x7E47L; val Mega = 0x3E6AL; val New = 0x4E3DL }

  /** splitmix64 of (seed, salt, id), reduced to [0, mod). */
  def draw(seed: Long, salt: Long, id: Long, mod: Int): Int = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    ((z >>> 1) % mod).toInt
  }

  def baseRows(spark: SparkSession, tables: String): Array[(String, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$tables/documents.parquet")
      .select(col("doc_id"), col("text"), col("source")).as[(Long, String, String)]
      .collect().sortBy(_._1).map { case (_, t, s) => (t, s) }
  }

  /** The checker's verdict for id, written from Synth's id rules (not by
    * calling the program): None when the document is not extracted.
    */
  def expectedReason(id: Long): Option[String] =
    if (id % 23 == 0 || id % 17 == 0) None // missing / zero-byte source
    else if (id % 13 == 0) Some("FORCE_TO_EXTRACT")
    else if (id % 13 == 1) Some("FORCE_TO_SEND")
    else (id % 7).toInt match {
      case 0 => Some("NOT_EXTRACTED_BEFORE")
      case 1 => None // fresh
      case 2 => Some("DIFFERING_FULL_TEXT")
      case 3 | 4 => Some("STALE_CONTENT")
      case 5 => Some("STALE_META")
      case _ => Some("MISSING_FULL_TEXT")
    }

  def expectedFormat(id: Long): String = (id % 10).toInt match {
    case 0 | 1 => "txt"
    case 2 => "ocr"
    case 3 | 4 | 5 => "xml"
    case 6 => "teixml"
    case 7 => "html"
    case _ => "pdf"
  }

  /** Expected committed rows per (format, update_reason) over the ids kept. */
  def expectedCounts(n: Long, keep: Long => Boolean): Map[(String, String), Long] = {
    val m = scala.collection.mutable.Map.empty[(String, String), Long]
    var id = 0L
    while (id < n) {
      if (keep(id)) expectedReason(id).foreach { r =>
        val k = (expectedFormat(id), r)
        m(k) = m.getOrElse(k, 0L) + 1
      }
      id += 1
    }
    m.toMap
  }

  private def tag(c: Corpus): String = s"$Version seed=${c.seed} n=${c.n} buckets=$Buckets"

  /** Whether `dir` holds the tables of a corpus like `c`. */
  def ready(dir: String, c: Corpus): Boolean = Harness.readText(s"$dir/marker").contains(tag(c))

  /** Write (or reuse) the bucketed input/prev tables of `c` under `dir`. */
  def materialize(spark: SparkSession, c: Corpus, dir: String): Unit = {
    import spark.implicits._
    if (ready(dir, c)) return
    Harness.deleteRec(new java.io.File(dir))
    val cb = spark.sparkContext.broadcast(c)
    val ids = spark.range(0L, c.n, 1L, 16)
    val docs = ids.map(i => cb.value.doc(i)).toDF()
    val prev = ids.flatMap(i => Synth.prevState(i)).toDF()
    for ((df, sub) <- Seq((docs, "input"), (prev, "prev"))) {
      // one task per bucket: the writer hashes like the repartition, so every
      // bucket is ONE sorted file (required by the trusted-order setting)
      df.repartition(Buckets, col("doc_id"))
        .write.bucketBy(Buckets, "doc_id").sortBy("doc_id")
        .option("path", s"$dir/$sub").mode(SaveMode.Overwrite)
        .saveAsTable(s"perfbench_gen_$sub")
      spark.sql(s"DROP TABLE perfbench_gen_$sub")
      Harness.writeText(s"$dir/$sub.ddl", spark.read.parquet(s"$dir/$sub").schema.toDDL)
    }
    cb.destroy()
    Harness.writeText(s"$dir/marker", tag(c))
  }

  /** Register the corpus tables in this session's catalog; returns (input, prev). */
  def register(spark: SparkSession, dir: String, prefix: String): (DataFrame, DataFrame) = {
    for (sub <- Seq("input", "prev")) {
      val ddl = Harness.readText(s"$dir/$sub.ddl").get
      spark.sql(s"DROP TABLE IF EXISTS ${prefix}_$sub")
      spark.sql(
        s"""CREATE TABLE ${prefix}_$sub ($ddl) USING parquet
            CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $Buckets BUCKETS
            LOCATION '$dir/$sub'""")
    }
    val in = spark.table(s"${prefix}_input")
    val prev = spark.table(s"${prefix}_prev")
    in.queryExecution.analyzed
    prev.queryExecution.analyzed
    (in, prev)
  }

  // ------------------------------------------------------ table pre-states

  private def listRel(root: java.io.File): Set[String] = {
    def walk(f: java.io.File, rel: String): Seq[String] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(c => walk(c, s"$rel/${c.getName}")) :+ rel
      else Seq(rel)
    if (root.exists()) walk(root, "").toSet else Set.empty
  }

  /** Remember the table's current files and pointer as its pre-state. */
  def saveState(tableDir: String): Unit = {
    val root = new java.io.File(tableDir)
    Harness.writeText(s"$tableDir.state", listRel(root).toSeq.sorted.mkString("\n"))
    Harness.writeText(s"$tableDir.current", Harness.readText(s"$tableDir/_current").get)
  }

  /** Put the table back to the saved pre-state: drop every file a later
    * commit added and restore the pointer.
    */
  def resetState(tableDir: String): Unit = {
    val keep = Harness.readText(s"$tableDir.state").get.split('\n').toSet
    val root = new java.io.File(tableDir)
    for (rel <- listRel(root).toSeq.sortBy(-_.length) if !keep(rel))
      Harness.deleteRec(new java.io.File(root, rel))
    Harness.writeText(s"$tableDir/_current", Harness.readText(s"$tableDir.current").get)
  }
}
