package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, udf}

import graft.SparkEntry
import graft.core.{Dispatcher, Span}
import graft.spark.{Pipeline, SnapshotTable}

import Harness._

/** The graft benchmark's JVM side: one workload per call.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <tables dir> <cpus>
  *
  * Prints progress to stderr and, as its last stdout line,
  * `PERFBENCH_RESULT {json}` with the metrics, the number of operations
  * attempted and failed, and each output check. `perfbench/run.py` is the
  * command to use; it builds this, makes the tables and adds the oracle
  * check of the query outputs the traced run writes.
  */
object Main {

  val IndexDate: java.sql.Timestamp = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")

  /** Documents in the workloads' corpus. */
  val CorpusDocs = 40000L

  /** Set-ups per run (setup_s is their median), untimed jobs before them,
    * and the fewest timed jobs.
    */
  val SetupReps = 3
  val JitJobs = 1
  val MinJobs = 3

  /** The roadmap's target queries the traced run times for graft.ops: its
    * plan-layer items (the extractFmt repartition: q08, q70; the typed
    * distinctiveTerms: q59; multimodal row plumbing: q100; the bm25 cache:
    * q113; job fusion: q114).
    */
  val OpsQueries: Seq[String] = Seq(
    "q08_spans_xml", "q59_distinctive_terms", "q70_media_integrity", "q100_frame_sample",
    "q113_bm25", "q114_curate_incremental")

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, tables: String, cpus: Int)

  // ---------------------------------------------------------------- results

  val metrics = mutable.LinkedHashMap.empty[String, Double]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
    log(s"check $name: ${if (ok) "ok" else "FAILED " + detail}")
  }

  private val t00 = now()
  def log(msg: String): Unit = System.err.println(f"[perfbench +${secSince(t00)}%.1fs] $msg")

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4), args(5), args(6).toInt)
    require(Set("cold_extract", "daily_rerun").contains(o.workload), s"unknown workload ${o.workload}")
    run(o)
    val ms = metrics.map { case (k, v) => s"${jstr(k)}:${jnum(v)}" }.mkString("{", ",", "}")
    val cs = checks.map { case (n, ok, d) => s"""{"name":${jstr(n)},"ok":$ok,"detail":${jstr(d)}}""" }
      .mkString("[", ",", "]")
    println(s"""PERFBENCH_RESULT {"attempted":$attempted,"failed":$failed,"metrics":$ms,"checks":$cs,""" +
      s""""spark_version":${jstr(org.apache.spark.SPARK_VERSION)}}""")
  }

  def run(o: Opts): Unit = {
    val daily = o.workload == "daily_rerun"
    // untimed input generation, cached by (seed, size, version) under the
    // seed's directory, which run.py keeps for the two most recent seeds
    val gen = session(o.cpus, o.work)
    val corpus = Corpus(o.seed, CorpusDocs, Corpus.baseRows(gen, o.tables))
    val mainDir = s"${o.work}/inputs/seed-${o.seed}/main-$CorpusDocs"
    val (_, genT) = time(Corpus.materialize(gen, corpus, mainDir))
    val (in0, prev0) = Corpus.register(gen, mainDir, "gen")
    // daily_rerun's pre-state: the corpus committed except its new docs
    val tableDir = if (daily) s"$mainDir/daily-table" else s"${o.work}/run/cold-table"
    if (daily) {
      val tag = s"${Corpus.Version} daily pre-state dir=$tableDir"
      if (!readText(s"$tableDir.marker").contains(tag)) {
        deleteRec(new java.io.File(tableDir))
        val isNew = udf((id: String) => corpus.isNew(id.drop(1).toLong))
        Pipeline.runCommitted(gen, in0.filter(!isNew(col("doc_id"))), prev0, None, IndexDate,
          "pre", tableDir)
        Corpus.saveState(tableDir)
        writeText(s"$tableDir.marker", tag)
      }
    }
    log(f"inputs ready in $genT%.1f s (${corpus.n} docs)")
    val reset: () => Unit =
      if (daily) () => Corpus.resetState(tableDir)
      else () => deleteRec(new java.io.File(tableDir))
    // bring the fresh JVM's compiled code closer to steady state: untimed
    // jobs before the set-ups, which each end with one more
    for (_ <- 1 to JitJobs) {
      reset()
      Pipeline.runCommitted(gen, in0, prev0, None, IndexDate, "jit", tableDir)
    }
    gen.stop()

    // set-ups: session build, table registration and one untimed job of the
    // workload itself; the last session stays open
    var spark: SparkSession = null
    var input, prev: DataFrame = null
    val setups = (1 to SetupReps).map { i =>
      if (spark != null) spark.stop()
      val (_, s) = time {
        spark = session(o.cpus, o.work)
        val (in, p) = Corpus.register(spark, mainDir, "bench")
        input = in; prev = p
        reset()
        Pipeline.runCommitted(spark, input, prev, None, IndexDate, "warm", tableDir)
      }
      log(f"setup $i: $s%.2f s")
      s
    }
    metrics("setup_s") = median(setups)

    val stats = new TaskStats
    val plans = new PlanStats
    val tracer = new Tracer(o.trace)
    def job(): Double = {
      reset()
      time(tracer("runCommitted")(
        Pipeline.runCommitted(spark, input, prev, None, IndexDate, "bench", tableDir)))._2
    }

    // timed jobs; the traced run alternates listener-on and listener-off
    // jobs to price the tracing
    val jobs, untraced = mutable.ArrayBuffer.empty[Double]
    val t0 = now()
    var n = 0
    while (n < MinJobs || secSince(t0) < o.seconds) {
      if (o.trace && n % 2 == 0) {
        spark.sparkContext.addSparkListener(stats)
        spark.listenerManager.register(plans)
        jobs += job()
        spark.sparkContext.removeSparkListener(stats)
        spark.listenerManager.unregister(plans)
      } else if (o.trace) untraced += job()
      else jobs += job()
      attempted += 1
      n += 1
    }
    log(s"jobs: ${(jobs ++ untraced).map(x => f"$x%.2f").mkString(" ")}")
    val docs = corpus.n.toDouble
    metrics("docs_per_s") = docs / median(jobs.toSeq)

    outputChecks(spark, corpus, tableDir, daily)

    if (o.trace) {
      val untracedS = median(untraced.toSeq)
      metrics("trace.overhead_docs_per_s") = docs / untracedS - docs / median(jobs.toSeq)
      traceLayers(o, Layers.Job(spark, input, prev, tableDir, reset), corpus, daily, stats,
        plans, tracer, untracedS)
      opsProbe(o, spark, stats, tracer)
      tracer.write(s"${o.work}/trace-${o.workload}-${o.seed}.jsonl")
    }
    reset()
    spark.stop()
    deleteRec(new java.io.File(s"${o.work}/run"))
  }

  /** Output checks on the state the last timed job left (untimed). */
  def outputChecks(spark: SparkSession, c: Corpus, tableDir: String, daily: Boolean): Unit = {
    val table = SnapshotTable.read(spark, tableDir).get
    val got = table.groupBy("format", "update_reason").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val want = Corpus.expectedCounts(c.n, _ => true)
    check("counts_by_format_reason", got == want,
      s"expected ${want.toSeq.sorted.take(6)} got ${got.toSeq.sorted.take(6)}")
    val errors = table.filter(col("error").isNotNull).count()
    check("no_error_rows", errors == 0, s"$errors rows in the error channel")

    // spans of a seeded sample against a direct kernel call
    val extracted = (0L until c.n).filter(id => Corpus.expectedReason(id).isDefined &&
      (!daily || c.isNew(id)))
    val sample = new scala.util.Random(c.seed).shuffle(extracted).take(200).map(c.doc)
    val rows = table.filter(col("doc_id").isin(sample.map(_.doc_id): _*))
      .select("doc_id", "spans").collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1).map(s =>
        Span(s.getString(0), s.getString(1), s.getString(2), s.getInt(3))).toVector).toMap
    val bad = sample.filter { d =>
      val want = Dispatcher.extract(d).map(_.spans).getOrElse(Vector.empty)
      !rows.get(d.doc_id).contains(want)
    }
    check("spans_equal_kernel", bad.isEmpty,
      s"${bad.size} of ${sample.size} sampled docs differ, e.g. ${bad.take(3).map(_.doc_id)}")

    if (daily) {
      val hist = SnapshotTable.history(spark, tableDir)
      val newId = hist.last._1
      val newRows = SnapshotTable.lineage(spark, tableDir).filter(_.snapshot == newId).map(_.rows).sum
      val wantNew = Corpus.expectedCounts(c.n, c.isNew).values.sum
      val distinct = table.select("doc_id").distinct().count()
      check("daily_commits_new_rows_once",
        hist.size == 2 && newRows == wantNew && distinct == table.count(),
        s"snapshots=${hist.size} new_rows=$newRows want=$wantNew distinct=$distinct")
    }
  }

  /** The extraction layers of the traced run over the workload's job. */
  def traceLayers(o: Opts, j: Layers.Job, c: Corpus, daily: Boolean, stats: TaskStats,
      plans: PlanStats, tracer: Tracer, jobS: Double): Unit = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val spark = j.spark
    // listener and plan totals of one traced job
    spark.sparkContext.addSparkListener(stats)
    spark.listenerManager.register(plans)
    Layers.perJob(spark, stats, plans, out) {
      j.reset()
      tracer("runCommitted")(Pipeline.runCommitted(spark, j.input, j.prev, None, IndexDate, "trace", j.tableDir))
    }
    spark.listenerManager.unregister(plans)
    Layers.taskCpu(j, stats, out)
    spark.sparkContext.removeSparkListener(stats)

    // the kernel sees what the job extracts: every doc due on cold_extract,
    // the new ones on daily_rerun
    val kernelIds = (0L until c.n).filter(id => Corpus.expectedReason(id).isDefined && (!daily || c.isNew(id)))
    val sample = new scala.util.Random(c.seed + 1).shuffle(kernelIds).take(3000).map(c.doc).toIndexedSeq
    val nt = tracer("core")(Layers.core(sample, o.cpus, out))
    tracer("expr")(Layers.expr(j, nt, out))
    val self = Layers.ladder(j, nt, tracer, out)
    val total = self.map(_._2).sum
    for ((layer, s) <- self) out(s"self_s.$layer") = s
    out("trace.ladder_vs_job") = total / jobS
    log(f"layer self times (${o.workload}, ${c.n} docs, job $jobS%.2f s untraced):")
    for ((layer, s) <- self) log(f"  $layer%-12s $s%7.3f s  ${100 * s / total}%5.1f %%")
    metrics ++= out
  }

  /** q114's oracle, a recursive CTE, does not finish in DuckDB within a
    * run's time on a 4-CPU host (out of memory at 12 GB, over 200 s at a
    * 3 GB limit); the repository's own oracle gate covers it.
    */
  val Unchecked: Set[String] = Set("q114_curate_incremental")

  /** graft.ops: each target query once untimed (its output written for the
    * oracle check, the way the repository's correctness dump writes it),
    * then once timed as `.count()` with its job and task counts. q114, not
    * checked, runs only the timed call, so its time includes its first-run
    * cost.
    */
  def opsProbe(o: Opts, spark: SparkSession, stats: TaskStats, tracer: Tracer): Unit = {
    val outDir = s"${o.work}/query-out"
    deleteRec(new java.io.File(outDir))
    spark.sparkContext.addSparkListener(stats)
    var jobs, tasks = 0L
    for (name <- OpsQueries) {
      val fn = SparkEntry.queries(name)
      if (!Unchecked(name)) fn(spark, o.tables).coalesce(1).write.parquet(s"$outDir/$name")
      drain(spark); stats.reset()
      val t = time(tracer(s"query.$name")(fn(spark, o.tables).count()))._2
      drain(spark)
      attempted += 1
      jobs += stats.jobs.get; tasks += stats.tasks.get
      val short = name.takeWhile(_ != '_')
      metrics(s"ops.query_s.$short") = t
      if (short == "q114") metrics("ops.jobs.q114") = stats.jobs.get.toDouble
    }
    spark.sparkContext.removeSparkListener(stats)
    metrics("ops.jobs") = jobs.toDouble
    metrics("ops.tasks") = tasks.toDouble
    val sqls = OpsQueries.filterNot(Unchecked).map(n => s"${jstr(n)}:${jstr(SparkEntry.oracleSql(n))}")
    writeText(s"$outDir/oracle_sql.json", sqls.mkString("{", ",", "}"))
  }
}
