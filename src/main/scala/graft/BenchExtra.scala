package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Extra (non-frozen) measurement harness for optimization work — the
  * driver's bench ([[Bench]]) is frozen, so all exploratory measurement
  * lives here, per the guide's "measure first" rule (§1).
  *
  * For each named query (args; default all, sorted — the same order and
  * `.count()` action `Bench.runQueryProfile` uses) it reports seconds plus
  * the scheduling footprint (jobs / stages / tasks launched by the query):
  * the fixed-overhead diagnosis for tiny verification universes, where task
  * count, not bytes, dominates.
  *
  * Env knobs:
  *   SPARK_GRAFT_SF_DIR   (default /root/testdata/sf0.1)
  *   SPARK_GRAFT_CPUS     (default 32) — session master, like Bench
  *   SPARK_GRAFT_EXTRA_REPEATS (default 1) — repeat the whole list N times,
  *     each in a new session (`newSession()`), so every repeat builds the
  *     gates' shared subtrees cold, like a fresh driver run
  *   SPARK_GRAFT_EXTRA_MODE    count | noop  (action used per query)
  *   SPARK_GRAFT_EXTRA_PLAN_DIR  if set, writes <query>.txt formatted plans
  *
  * Output: one line per query `EXTRAQ <name> <sec> jobs=<n> stages=<n>
  * tasks=<n>` and a final compact JSON summary line.
  */
object BenchExtra {

  /** Counts scheduling events between `reset()` calls (driver-side only). */
  private final class FootprintListener extends SparkListener {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val stages = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(): Unit }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(): Unit }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = { tasks.incrementAndGet(): Unit }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val repeats = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPEATS", "1").toInt
    val mode = sys.env.getOrElse("SPARK_GRAFT_EXTRA_MODE", "count")
    val planDir = sys.env.get("SPARK_GRAFT_EXTRA_PLAN_DIR")
    val spark = BenchCore.session(cpus)
    val listener = new FootprintListener
    spark.sparkContext.addSparkListener(listener)
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    planDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))

    for (rep <- 1 to repeats) {
      val session = spark.newSession() // cold: no shared subtree views yet
      for (name <- names; fn <- SparkEntry.queries.get(name)) {
        spark.sparkContext.setJobDescription(name)
        // plans are dumped pre-run (pre-AQE shape, like explain())
        planDir.foreach { d =>
          val txt =
            try fn(session, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
            catch { case e: Throwable => s"explain failed: ${e.getMessage}" }
          val w = new java.io.PrintWriter(s"$d/$name.txt")
          try w.print(txt) finally w.close()
        }
        // settle listener events from plan building (the bus is async and
        // private[spark]; a short drain pause is accurate enough here)
        Thread.sleep(150)
        listener.reset()
        val t0 = System.nanoTime()
        try {
          val df = fn(session, sfDir)
          if (mode == "noop") df.write.format("noop").mode("overwrite").save()
          else df.count(): Unit
        } catch { case e: Throwable => System.err.println(s"[extra] $name FAILED: $e") }
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(150) // drain the async listener bus before reading counts
        times(name) = sec
        println(f"EXTRAQ $name $sec%.3f jobs=${listener.jobs.get} stages=${listener.stages.get} tasks=${listener.tasks.get} rep=$rep")
        System.out.flush()
        spark.sparkContext.setJobDescription(null)
      }
    }
    val qs = times.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(f"""{"harness":"BenchExtra","mode":"$mode","sf":"$sfDir","cpus":$cpus,"total_sec":${times.values.sum}%.1f,"queries":$qs}""")
    spark.stop()
  }
}
