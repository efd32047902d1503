package graft

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.Synth
import graft.spark.{Pipeline, Sessions}

/** Shared pieces of the benchmark harness, used by both the coordinating
  * [[Bench]] main and the per-level forked [[BenchLevel]] main (one JVM per
  * parallelism level, CPU-pinned with `taskset`, so GC/compiler/IO thread
  * pools and `availableProcessors` all size to the level under test — the
  * faithful proxy for an N-core executor container).
  */
private[graft] object BenchCore {

  /** Bucket count of the production table layout (see [[registerTables]]). */
  val Buckets = 128

  /** The input is always the bucketed layout; the frozen [[Bench]] reads this. */
  val bucketed = true

  /** tmpfs when it has headroom, the default temp dir otherwise — the bench
    * must run on a stock container where /dev/shm may be tiny or absent.
    */
  def fastDir(sub: String): String = {
    val shm = new java.io.File("/dev/shm")
    val base =
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace > (8L << 30)) "/dev/shm"
      else System.getProperty("java.io.tmpdir", "/tmp")
    s"$base/$sub"
  }

  /** [[Sessions]]' profile plus the bucketed-layout settings of the bench input. */
  def session(cores: Int): SparkSession = {
    val s = Sessions.builder(cores, s"graft-bench-$cores")
      // local-bench input is ~a GB: size splits so read parallelism >= cores
      // at every level (a real cluster's input has plenty of splits).
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      // shuffle/spill on tmpfs when available: the sandbox /tmp is a virtual
      // disk with high-variance latency that would otherwise dominate
      .config("spark.local.dir", fastDir("graft-spark-local"))
      // trust the bucket files' SORTED BY order: writeInput guarantees ONE
      // file per bucket (repartition(numBuckets) before bucketBy), which is
      // the precondition for this flag — it removes both Sort nodes from the
      // state sort-merge join, leaving scan -> merge -> extract -> sink
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (table name, subdirectory) for the four bench tables: the full
    * amplified pair plus the ~1/100-scale warm pair with the IDENTICAL
    * bucketed layout (the JIT warmup runs the same zero-exchange plan the
    * timed run uses, but decodes 1/100 of the bytes — the full input has one
    * row group per bucket file, so no predicate can prune the decode).
    */
  val tables: Seq[(String, String)] = Seq(
    ("graft_bench_input", "input"), ("graft_bench_prev", "prev"),
    ("graft_bench_warm_input", "warm_input"), ("graft_bench_warm_prev", "warm_prev"))

  /** Precondition guard for `spark.sql.legacy.bucketedTableScan.outputOrdering`
    * (set in [[session]]): the flag trusts each bucket's SORTED BY order,
    * which only holds when every bucket is exactly ONE file — with several
    * files per bucket the scan concatenates sorted runs WITHOUT merging and
    * the Sort-free sort-merge join silently returns wrong results (that is
    * why the flag is `legacy`). writeInput guarantees the invariant
    * (repartition(Buckets) on the bucket key before bucketBy); this check
    * makes a violation fail loudly at registration instead.
    */
  private def assertOneFilePerBucket(dir: String): Unit = {
    val bucketId = "_(\\d{5})\\.".r
    val ids = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .flatMap(f => bucketId.findFirstMatchIn(f.getName).map(_.group(1)))
    val dups = ids.groupBy(identity).collect { case (id, fs) if fs.length > 1 => id }
    require(dups.isEmpty,
      s"bucketed table at $dir has multiple files per bucket (${dups.take(3).mkString(", ")}): " +
        "spark.sql.legacy.bucketedTableScan.outputOrdering would produce WRONG join " +
        s"results — rewrite the table with repartition($Buckets, key) before bucketBy")
  }

  /** Re-register the bucketed tables in a fresh session's in-memory catalog
    * (the warehouse data survives sessions and JVMs; the catalog entries do
    * not — a production deployment gets this from the real table catalog).
    * The DDL is derived from the parquet files themselves and cached next to
    * the data (`<sub>.ddl`): schema inference over 128 bucket files cost each
    * forked level JVM tens of seconds of its untimed setup; any JVM can still
    * register without the cache, just slower.
    */
  def registerTables(spark: SparkSession, path: String): Unit = {
    for ((name, sub) <- tables) {
      assertOneFilePerBucket(s"$path/$sub")
      val ddlFile = new java.io.File(s"$path/$sub.ddl")
      val ddl =
        if (ddlFile.isFile) {
          val src = scala.io.Source.fromFile(ddlFile)
          try src.mkString.trim finally src.close()
        } else {
          val d = spark.read.parquet(s"$path/$sub").schema.toDDL
          val w = new java.io.PrintWriter(ddlFile)
          try w.print(d) finally w.close()
          d
        }
      spark.sql(s"DROP TABLE IF EXISTS $name")
      spark.sql(
        s"""CREATE TABLE $name ($ddl) USING parquet
            CLUSTERED BY (doc_id) SORTED BY (doc_id) INTO $Buckets BUCKETS
            LOCATION '$path/$sub'""")
    }
  }

  /** One timed end-to-end run; returns (docsWritten, seconds). The timed
    * region covers the pipeline (scan -> join -> extract -> sink); the
    * catalog-metadata step (table registration, file listing, schema read)
    * happens before t0 — a production job gets all three from the table
    * catalog, not per-query. `warm = true` runs over the 1/100-scale warm
    * table pair instead (untimed JIT warmup in a cold level JVM). Three
    * bounded-warmup designs failed before it: `limit()` plans a GlobalLimit
    * that coalesces to one partition (24k docs ran single-threaded, ~270 s);
    * `pmod(hash(doc_id), d) === 0` cannot push down, so it scanned the full
    * 3.6 M-doc input (~150 s per fork); a `doc_id < cutoff` range predicate
    * pushes down but prunes nothing because every bucket file is a single
    * row group. A same-layout small table pair decodes 1/100 of the bytes
    * while compiling the identical zero-exchange bucketed-join plan.
    * `path` and `parts` are unused: the tables come from the catalog
    * ([[registerTables]]) and the pipeline's parallelism is the scan's split
    * count. They stay because the frozen [[Bench]] passes them.
    */
  def runPipelineOnce(spark: SparkSession, path: String, outPath: String,
      parts: Int, warm: Boolean = false): (Long, Double) = {
    val pre = if (warm) "warm_" else ""
    val input = spark.table(s"graft_bench_${pre}input")
    val prev = spark.table(s"graft_bench_${pre}prev")
    input.queryExecution.analyzed // force listing+schema resolution pre-t0
    prev.queryExecution.analyzed
    val t0 = System.nanoTime()
    Pipeline.run(spark, input, prev, None,
        java.sql.Timestamp.valueOf("2026-01-01 00:00:00"), "bench")
      .write.mode(SaveMode.Overwrite).parquet(outPath)
    val sec = (System.nanoTime() - t0) / 1e9
    (spark.read.parquet(outPath).count(), sec)
  }

  /** Spark-free kernel scaling probe: the same extraction kernel the
    * pipeline runs, on an in-memory doc mix, at the given thread counts.
    * This measures the HOST ceiling (VM CPU throttling, memory bandwidth,
    * GC) — the upper bound any Spark job in this JVM can scale to. Inside a
    * CPU-pinned level JVM it measures the pinned ceiling for that level.
    */
  def kernelProbe(threads: Seq[Int], quotaSec: Double = 4.0, draws: Int = 3): Map[Int, Double] = {
    val words = Array("the", "fast", "key", "order", "sort", "table", "scan",
      "merge", "part", "window", "small", "hash", "join", "batch", "stream")
    val docs = (0 until 60000).map { i =>
      val rnd = new scala.util.Random(i)
      val text = Array.fill(40 + rnd.nextInt(40))(words(rnd.nextInt(words.length))).mkString(" ")
      Synth.doc(i.toLong, text, s"src$i")
    }.toArray
    // time-quota measurement: every run lasts ~quotaSec regardless of thread
    // count, so each sample spans the same exposure to the host's CPU-burst
    // throttling (a fixed doc count would let high-thread runs dodge bursts
    // that low-thread runs must absorb)
    def run(t: Int): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(t)
      val idx = new java.util.concurrent.atomic.AtomicLong(0)
      val deadline = System.nanoTime() + (quotaSec * 1e9).toLong
      val t0 = System.nanoTime()
      val tasks = (0 until t).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var n = 0L
            while (System.nanoTime() < deadline) {
              val i = idx.getAndIncrement()
              graft.core.Dispatcher.extract(docs((i % docs.length).toInt))
              n += 1
            }
            n
          }
        })
      }
      val total = tasks.map(_.get().longValue).sum
      pool.shutdown()
      total / ((System.nanoTime() - t0) / 1e9)
    }
    run(32) // warmup (JIT)
    val out = scala.collection.mutable.Map.empty[Int, Double]
    for (_ <- 1 to draws; t <- threads)
      out(t) = math.max(out.getOrElse(t, 0.0), run(t))
    out.toMap
  }

  /** 256 MiB shared read array for the bandwidth probe (far beyond LLC, so
    * every pass streams from DRAM). Allocated lazily — only probe runs pay.
    */
  private lazy val bwArr: Array[Long] = Array.tabulate(1 << 25)(i => i.toLong)

  /** Memory-bandwidth scaling probe (GB/s at each thread count). The kernel
    * probe above is cache-resident and measures the host's CPU ceiling; the
    * pipeline STREAMS parquet bytes, so on a bandwidth-contended host its
    * scaling ceiling is the DRAM-bandwidth ratio, not the CPU ratio. Both
    * are published so the pipeline's pair efficiency can be judged against
    * the ceiling that actually binds. Time-quota design as kernelProbe.
    */
  def bandwidthProbe(threads: Seq[Int], quotaSec: Double = 2.0, draws: Int = 2): Map[Int, Double] = {
    val arr = bwArr
    val sink = new java.util.concurrent.atomic.AtomicLong(0)
    def run(t: Int): Double = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(t)
      val deadline = System.nanoTime() + (quotaSec * 1e9).toLong
      val t0 = System.nanoTime()
      val tasks = (0 until t).map { k =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            var bytes = 0L
            var i = (arr.length.toLong * k / t).toInt
            var sum = 0L
            while (System.nanoTime() < deadline) {
              var j = 0
              while (j < (1 << 20)) {
                sum += arr(i)
                i += 1; if (i >= arr.length) i = 0
                j += 1
              }
              bytes += (1L << 20) * 8
            }
            sink.addAndGet(sum) // defeat dead-code elimination
            bytes
          }
        })
      }
      val total = tasks.map(_.get().longValue).sum
      pool.shutdown()
      total / ((System.nanoTime() - t0) / 1e9) / 1e9
    }
    run(threads.head) // JIT + page-touch warmup
    val out = scala.collection.mutable.Map.empty[Int, Double]
    for (_ <- 1 to draws; t <- threads)
      out(t) = math.max(out.getOrElse(t, 0.0), run(t))
    out.toMap
  }

  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }
}

/** Per-level benchmark child: ONE parallelism level in its own JVM, meant to
  * be launched under `taskset -c 0-(N-1)` so the JVM genuinely has N cores
  * (GC threads, JIT compiler threads, netty pools, `availableProcessors`).
  * Running all levels inside one 32-core JVM lets a `local[2]` run park its
  * GC and compiler work on 30 idle cores — inflating the 2-core rate and
  * understating the measured 2->8 scaling.
  *
  * args: <cores> <workPath> [pinBase] [mode]
  *   pinBase — first CPU of the pinned range (default 0); lets two level
  *   JVMs run simultaneously on DISJOINT core sets (paired-draw protocol).
  *   mode "loop" — instead of one timed run, repeat timed runs until killed,
  *   emitting one GRAFT_LEVEL_RUN line each (no probes, no RESULT).
  *
  * stdout (mode once):
  *   `GRAFT_LEVEL_REGION <epochStartMs> <epochEndMs>`
  *   `GRAFT_LEVEL_RESULT <docsWritten> <seconds> <kernelDocsPerSec> <bandwidthGBs>`
  * stdout (mode loop), per iteration:
  *   `GRAFT_LEVEL_RUN <epochStartMs> <epochEndMs> <docsWritten> <seconds>`
  */
object BenchLevel {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    def mark(msg: String): Unit =
      System.err.println(f"[level ${args(0)}] +${(System.nanoTime() - t0) / 1e9}%.0fs $msg")
    val cores = args(0).toInt
    val work = args(1)
    val pinBase = args.lift(2).map(_.toInt).getOrElse(0)
    val loop = args.lift(3).contains("loop")
    mark("JVM up, building session")
    val spark = BenchCore.session(cores)
    mark("session up, registering tables")
    BenchCore.registerTables(spark, work)
    mark("tables registered, warmup")
    // untimed JIT warmup on a bounded slice (cold JVM: codegen + kernel),
    // still UNPINNED — warmup compiles the same code the timed run uses,
    // and running it on the full host keeps fork overhead low
    BenchCore.runPipelineOnce(spark, work, s"$work/wout$cores", cores, warm = true)
    val pinRange = s"$pinBase-${pinBase + cores - 1}"
    mark(s"warmup done, pinning to $pinRange")
    // physically pin the WHOLE JVM (all threads) to the level's cores for
    // the measured region; pool sizes were right from birth via
    // -XX:ActiveProcessorCount, so this only takes the hardware away
    val pid = ProcessHandle.current().pid.toString
    new ProcessBuilder("taskset", "-apc", pinRange, pid)
      .redirectErrorStream(true).redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .start().waitFor()
    // short pinned settle pass: lets in-flight background C2 compilation
    // drain off the measured cores before t0
    BenchCore.runPipelineOnce(spark, work, s"$work/sout$cores", cores, warm = true)
    mark("pinned settle done, timed run")
    if (loop) {
      // paired-draw worker: keep producing timed samples (with wall-clock
      // endpoints) until the coordinator kills this process
      var i = 0
      while (i < 1000) {
        val s = System.currentTimeMillis()
        val (n, sec) = BenchCore.runPipelineOnce(spark, work, s"$work/out${cores}loop", cores)
        println(f"GRAFT_LEVEL_RUN $s ${System.currentTimeMillis()} $n $sec%.3f")
        System.out.flush()
        i += 1
      }
    } else {
      val s = System.currentTimeMillis()
      val (n, sec) = BenchCore.runPipelineOnce(spark, work, s"$work/out$cores", cores)
      val e = System.currentTimeMillis()
      mark(f"timed run done ($sec%.1f s), probes")
      // pinned ceilings for this level (same CPU set, sized pools): CPU-bound
      // kernel rate and DRAM-bandwidth rate
      val kernelRate = BenchCore.kernelProbe(Seq(cores), quotaSec = 3.0).getOrElse(cores, 0.0)
      val bwRate = BenchCore.bandwidthProbe(Seq(cores)).getOrElse(cores, 0.0)
      println(s"GRAFT_LEVEL_REGION $s $e")
      println(f"GRAFT_LEVEL_RESULT $n $sec%.3f $kernelRate%.1f $bwRate%.2f")
      System.out.flush()
      spark.stop()
    }
  }
}
