package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.core.{Dispatcher, Doc}
import graft.spark.{Checker, Pipeline, SnapshotTable}

import Harness._

/** Per-layer measurements of the traced run. Every layer is timed from
  * outside, through its public functions: the kernel by direct
  * `Dispatcher.extract` calls, the Spark layers by a ladder of actions that
  * add one layer at a time in the order `runCommitted` applies them (scan,
  * resume, checker, extract, sink and commit). A layer's self time is the
  * step it adds to the ladder, so the self times add up to the full job.
  */
object Layers {

  /** The kernel formats as the metrics name them, by Synth's `id % 10`. */
  val KernelFormats: Seq[(String, Set[Int])] = Seq(
    "txt" -> Set(0, 1), "ocr" -> Set(2), "jats" -> Set(3, 4), "elsevier" -> Set(5),
    "tei" -> Set(6), "html" -> Set(7), "pdf" -> Set(8, 9))

  private def idOf(d: Doc): Long = d.doc_id.drop(1).toLong

  private def bytesOf(d: Doc): Long =
    d.spans.iterator.map(s => if (s.text == null) 0L else s.text.length.toLong).sum

  /** Extract docs round-robin on `threads` threads for about `quotaSec`;
    * returns (docs, bytes, seconds).
    */
  def kernelLoop(docs: IndexedSeq[Doc], threads: Int, quotaSec: Double): (Long, Long, Double) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val next = new java.util.concurrent.atomic.AtomicLong
      val deadline = now() + (quotaSec * 1e9).toLong
      val t0 = now()
      val fs = (0 until threads).map { _ =>
        pool.submit(new java.util.concurrent.Callable[(Long, Long)] {
          def call(): (Long, Long) = {
            var n = 0L; var b = 0L
            while (now() < deadline) {
              val d = docs((next.getAndIncrement() % docs.length).toInt)
              if (Dispatcher.extract(d).isLeft) throw new IllegalStateException(s"kernel error on ${d.doc_id}")
              n += 1; b += bytesOf(d)
            }
            (n, b)
          }
        })
      }
      val rs = fs.map(_.get())
      (rs.map(_._1).sum, rs.map(_._2).sum, secSince(t0))
    } finally pool.shutdown()
  }

  /** graft.core: per-format single-thread cost, 1 and n thread rates over
    * the workload's mix. Returns the n-thread docs/s for later use.
    */
  def core(sample: IndexedSeq[Doc], cpus: Int, out: mutable.Map[String, Double]): Double = {
    kernelLoop(sample, cpus, 1.0) // JIT warm-up
    for ((name, codes) <- KernelFormats) {
      val docs = sample.filter(d => codes.contains((idOf(d) % 10).toInt))
      val (n, _, s) = kernelLoop(docs, 1, 0.2)
      out(s"core.us_per_doc.$name") = s * 1e6 / n
    }
    val (n1, _, s1) = kernelLoop(sample, 1, 0.5)
    val (nn, bn, sn) = kernelLoop(sample, cpus, 0.5)
    out("core.docs_per_s.1t") = n1 / s1
    out("core.docs_per_s.nt") = nn / sn
    out("core.mb_per_s") = bn / sn / 1e6
    nn / sn
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Fastest of `reps` timings: the cost of the work without the noise
    * another process adds.
    */
  private def best(reps: Int)(body: => Unit): Double = (1 to reps).map(_ => time(body)._2).min

  final case class Job(spark: SparkSession, input: DataFrame, prev: DataFrame,
      tableDir: String, reset: () => Unit)

  /** What runCommitted extracts: the input minus committed successes. */
  private def todo(j: Job): DataFrame = SnapshotTable.read(j.spark, j.tableDir) match {
    case Some(c) => Pipeline.resume(j.input, c.filter(col("error").isNull))
    case None => j.input
  }

  /** runCommitted composed from its public parts, each call a span, less
    * the observation and its metrics sidecar: the job that prices them.
    */
  def composedJob(j: Job, tr: Tracer): Long = tr("job.composed") {
    val in = tr("resume")(todo(j))
    val out = tr("run")(Pipeline.run(j.spark, in, j.prev, None, Main.IndexDate, "composed").toDF())
    tr("commit")(SnapshotTable.commit(out, j.tableDir))
  }

  /** The layer ladder over one job; fills `out` and returns the self time
    * of each layer, in job order.
    */
  def ladder(j: Job, kernelNt: Double, tr: Tracer, out: mutable.Map[String, Double]): Seq[(String, Double)] = {
    val s = j.spark
    j.reset()
    val scan = tr("ladder.scan")(best(2)(noop(j.input)))
    // cold_extract has no committed snapshot, so runCommitted skips resume
    val resumes = SnapshotTable.read(s, j.tableDir).isDefined
    val resumeT = if (resumes) tr("ladder.resume")(best(2)(noop(todo(j)))) else scan
    out("resume.rows_out") = todo(j).count().toDouble
    val checked = Checker.filterNeedsUpdate(Checker.classify(todo(j), j.prev))
    val checkerT = tr("ladder.checker")(best(2)(noop(checked)))
    val rows = checked.count()
    out("checker.rows_out") = rows.toDouble
    val extractT = tr("ladder.extract")(best(2)(noop(
      Pipeline.run(s, todo(j), j.prev, None, Main.IndexDate, "ladder").toDF())))
    val fullT = tr("ladder.full")((1 to 2).map { _ =>
      j.reset()
      time(Pipeline.runCommitted(s, j.input, j.prev, None, Main.IndexDate, "ladder", j.tableDir))._2
    }.min)
    val newId = SnapshotTable.history(s, j.tableDir).last._1
    val files = SnapshotTable.lineage(s, j.tableDir).filter(_.snapshot == newId)
    out("commit.files") = files.size.toDouble
    out("commit.bytes_out") = files.map(_.bytes).sum.toDouble
    out("snapshot.read_s") = tr("ladder.snapshot_read")(best(2)(noop(SnapshotTable.read(s, j.tableDir).get)))
    val plain = tr("ladder.no_observe")((1 to 2).map { _ =>
      j.reset(); time(composedJob(j, tr))._2
    }.min)
    out("observe.overhead_s") = fullT - plain
    j.reset()

    out("scan.s") = scan
    out("resume.s") = resumeT - scan
    out("checker.s") = checkerT - resumeT
    out("commit.s") = fullT - extractT
    val kernel = math.min(extractT - checkerT, rows / kernelNt)
    Seq("scan" -> scan, "resume" -> (resumeT - scan), "checker" -> (checkerT - resumeT),
      "kernel" -> kernel, "expr" -> (extractT - checkerT - kernel), "sink_commit" -> (fullT - extractT))
  }

  /** Task-side cost of scanning and of the checker, from the listener. */
  def taskCpu(j: Job, stats: TaskStats, out: mutable.Map[String, Double]): Unit = {
    j.reset()
    def cpuOf(df: DataFrame): Double = {
      drain(j.spark); stats.reset()
      noop(df)
      drain(j.spark)
      stats.cpuNs.get / 1e9
    }
    out("scan.task_cpu_s") = cpuOf(j.input)
    out("scan.mb") = j.input.inputFiles.map(f => new java.io.File(new java.net.URI(f)).length).sum / 1e6
    out("checker.task_cpu_s") = cpuOf(Checker.filterNeedsUpdate(Checker.classify(todo(j), j.prev)))
  }

  /** ExtractDocExpr through graft_extract over cached checked rows into a
    * noop sink; the overhead is what it costs per doc beyond the kernel.
    */
  def expr(j: Job, kernelNt: Double, out: mutable.Map[String, Double]): Unit = {
    j.reset()
    val cached = Checker.filterNeedsUpdate(Checker.classify(todo(j), j.prev)).cache()
    val rows = cached.count()
    val t = best(2)(noop(Pipeline.extractStageNative(cached, Main.IndexDate, "expr")))
    cached.unpersist(blocking = true)
    out("expr.s") = t
    out("expr.overhead_us_per_doc") = t * 1e6 / rows - 1e6 / kernelNt
  }

  /** Listener, plan and JVM totals of one call of `body`. */
  def perJob(spark: SparkSession, stats: TaskStats, plans: PlanStats,
      out: mutable.Map[String, Double])(body: => Unit): Unit = {
    drain(spark); stats.reset(); plans.reset()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
    pools.forEach(_.resetPeakUsage())
    val gcBefore = gcSeconds()
    body
    drain(spark)
    out("driver.jobs") = stats.jobs.get.toDouble
    out("driver.stages") = stats.stages.get.toDouble
    out("driver.tasks") = stats.tasks.get.toDouble
    out("spark.task_run_s") = stats.runNs.get / 1e9
    out("spark.task_cpu_s") = stats.cpuNs.get / 1e9
    out("spark.scheduler_delay_s") = stats.delayMs.get / 1e3
    out("spark.shuffle_write_mb") = stats.shuffleWrite.get / 1e6
    out("spark.shuffle_read_mb") = stats.shuffleRead.get / 1e6
    out("spark.task_skew") = stats.skew
    out("jvm.gc_s") = gcSeconds() - gcBefore
    var heap = 0L
    pools.forEach { p =>
      if (p.getType == java.lang.management.MemoryType.HEAP) heap += p.getPeakUsage.getUsed
    }
    out("jvm.heap_peak_mb") = heap / 1e6
    out("plan.scan_s") = plans.scanS.sum
    out("plan.codegen_s") = plans.codegenS.sum
    out("plan.join_rows") = plans.joinRows.get.toDouble
    out("plan.write_commit_s") = plans.writeCommitS.sum
  }

  def gcSeconds(): Double = {
    var ms = 0L
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .forEach(b => ms += math.max(0L, b.getCollectionTime))
    ms / 1e3
  }
}
