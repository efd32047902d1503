package perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.util.QueryExecutionListener

/** Session, timing and measurement helpers shared by every workload. */
object Harness {

  def now(): Long = System.nanoTime()
  def secSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def time[A](body: => A): (A, Double) = {
    val t0 = now()
    val a = body
    (a, secSince(t0))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** One local-mode session with the settings of the repository's own bench
    * session (AQE with size-based coalescing, trusted bucket order), and
    * every file it writes kept under `work`.
    */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", 4 * cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  def writeText(path: String, s: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.print(s) finally w.close()
  }

  def readText(path: String): Option[String] = {
    val f = new java.io.File(path)
    if (!f.isFile) None
    else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try Some(src.mkString) finally src.close()
    }
  }

  // ------------------------------------------------------------------ spans

  final case class Span(id: Int, name: String, parent: Int, start: Long, end: Long) {
    def sec: Double = (end - start) / 1e9
  }

  /** In-memory span recorder. Disabled, it runs the body and records
    * nothing, so the untraced run pays no tracing cost.
    */
  final class Tracer(val enabled: Boolean) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private var stack = List(0)

    def apply[A](name: String)(body: => A): A =
      if (!enabled) body
      else {
        val id = spans.length + 1
        val parent = stack.head
        stack = id :: stack
        val t0 = now()
        try body
        finally {
          stack = stack.tail
          spans += Span(id, name, parent, t0, now())
        }
      }

    def write(path: String): Unit = writeText(path, spans.map { s =>
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"start_ns":${s.start},"end_ns":${s.end}}"""
    }.mkString("", "\n", "\n"))
  }

  // --------------------------------------------------------- task listener

  /** Driver-side totals of jobs, stages, tasks and task metrics between
    * `reset()` calls, plus task durations per stage for the skew ratio.
    */
  final class TaskStats extends SparkListener {
    val jobs, stages, tasks = new AtomicLong
    val runNs, cpuNs, delayMs, shuffleWrite, shuffleRead = new AtomicLong
    private val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(): Unit }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        runNs.addAndGet(m.executorRunTime * 1000000L)
        cpuNs.addAndGet(m.executorCpuTime)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        // scheduler delay as Spark's UI derives it: wall time of the task
        // not spent running, deserializing or sending its result
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime
        delayMs.addAndGet(math.max(0L, delay))
      }
      durations.synchronized {
        durations.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += info.duration
      }
    }

    def reset(): Unit = {
      Seq(jobs, stages, tasks, runNs, cpuNs, delayMs, shuffleWrite, shuffleRead)
        .foreach(_.set(0))
      durations.synchronized(durations.clear())
    }

    /** max / median task time of the stage with the most task time. */
    def skew: Double = durations.synchronized {
      if (durations.isEmpty) 1.0
      else {
        val ds = durations.values.maxBy(_.sum).map(_.toDouble).toSeq
        val med = median(ds)
        if (med <= 0) 1.0 else ds.max / med
      }
    }
  }

  /** The listener bus is asynchronous; wait until it has delivered every
    * event posted so far.
    */
  def drain(spark: SparkSession): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus): Unit
  }

  // ---------------------------------------------------- executed-plan metrics

  /** Sums SQLMetrics of every executed plan an action finishes while
    * attached (adaptive plans included, read after the action).
    */
  final class PlanStats extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val scanS, codegenS, writeCommitS = new DoubleAdder
    val joinRows = new AtomicLong
    // a write reaches the listener through more than one execution that
    // share plan nodes; each node counts once
    private val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

    private def sec(m: SQLMetric): Double = m.metricType match {
      case "timing" => m.value / 1e3
      case "nsTiming" => m.value / 1e9
      case _ => 0.0
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // nested whole-stage pipelines overlap in time: count the longest
      var pipeline = 0.0
      foreach(qe.executedPlan) { p: SparkPlan =>
        if (seen.add(p.id)) {
          val name = p.nodeName
          if (name.contains("Scan")) p.metrics.get("scanTime").foreach(m => scanS.add(sec(m)))
          if (name.startsWith("WholeStageCodegen"))
            p.metrics.get("pipelineTime").foreach(m => pipeline = math.max(pipeline, sec(m)))
          if (name.contains("Join")) p.metrics.get("numOutputRows").foreach(m => joinRows.addAndGet(m.value))
          p match {
            case w: DataWritingCommandExec =>
              Seq("taskCommitTime", "jobCommitTime").foreach(k => w.cmd.metrics.get(k).foreach(m => writeCommitS.add(sec(m))))
            case _ =>
          }
        }
      }
      codegenS.add(pipeline)
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

    def reset(): Unit = {
      scanS.reset(); codegenS.reset(); writeCommitS.reset(); joinRows.set(0); seen.clear()
    }
  }

  // ------------------------------------------------------------------- json

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
