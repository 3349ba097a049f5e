package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side, launched by `perfbench/run.py`:
  *
  *   BenchMain --workload W --input DIR --work DIR --result FILE
  *             --seconds S --trace 0|1 --cores N
  *
  * Creates one `local[N]` session, sets the workload up (inputs and
  * one warm-up operation), then runs its operation from one client
  * thread for S seconds: at least once, and no further operation that
  * would end past S (with `--trace 1`: half the time untraced, half
  * traced, the traced half recording spans). Outputs are checked
  * outside the timed spans. Writes raw samples, checks and facts as one
  * JSON object to FILE; run.py turns them into the benchmark's metrics.
  */
object BenchMain {

  case class Op(i: Int, ms: Double, stolen: Double, ok: Boolean, key: String, error: String,
                detail: Map[String, Any], spark: Option[(SparkCounters#Totals, Double)])

  /** (busy, stolen) CPU jiffies of the whole machine, from /proc/stat;
    * stolen is the time the hypervisor did not run a vCPU that wanted
    * to run.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (v(0) + v(1) + v(2) + v(5) + v(6), if (v.length > 7) v(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    new java.io.File(work).mkdirs()

    val spark = graft.GraftSession.builder(cores)
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()
    val counters = new SparkCounters(spark.sparkContext)
    spark.sparkContext.addSparkListener(counters)

    val wl = Workload(workload, spark, opt("input"), work)
    val setupS = {
      val t0 = System.nanoTime()
      wl.setup()
      (System.nanoTime() - t0) / 1e9
    }

    var next = 0
    /** Runs operations until the next one would end past the deadline
      * (judged by the last one's duration); always at least one.
      */
    def loop(sec: Double, tr: Tracer): Seq[Op] = {
      val ops = mutable.ArrayBuffer.empty[Op]
      val deadline = System.nanoTime() + (sec * 1e9).toLong
      var lastNs = 0L
      while (ops.isEmpty || System.nanoTime() + lastNs <= deadline) {
        val started = System.nanoTime()
        val i = next
        next += 1
        tr.traceId = i
        var error = ""
        val prepared = try { wl.before(i); true } catch { case e: Throwable => error = msg(e); false }
        val s0 = if (tr.enabled) Some(counters.snapshot()) else None
        val cpu0 = cpuJiffies()
        val t0 = System.nanoTime()
        val ran = prepared && (try { tr.span("op")(wl.run(i, tr)); true }
          catch { case e: Throwable => error = msg(e); false })
        val ms = wl.timedMs.filter(_ => ran).getOrElse((System.nanoTime() - t0) / 1e6)
        val cpu1 = cpuJiffies()
        val busy = cpu1._1 - cpu0._1
        val stole = cpu1._2 - cpu0._2
        val stolen = if (busy + stole > 0) stole.toDouble / (busy + stole) else 0.0
        val delta = s0.map { a =>
          val b = counters.snapshot()
          (b - a, counters.skew(a, b))
        }
        val ok = ran && (try wl.after(i, tr.enabled)
          catch { case e: Throwable => error = msg(e); false })
        ops += Op(i, ms, stolen, ok, wl.key(i), error, if (ran) wl.detail else Map.empty, delta)
        lastNs = System.nanoTime() - started
      }
      ops.toSeq
    }

    // a traced run splits its time between an untraced and a traced half
    val untraced = loop(if (trace) seconds / 2 else seconds, new Tracer(false, counters))
    val tracer = new Tracer(trace, counters)
    val traced = if (trace) loop(seconds / 2, tracer) else Nil
    val checks =
      try wl.finalChecks()
      catch { case e: Throwable => Seq(("final_checks", false, msg(e))) }
    val facts =
      try wl.facts
      catch { case e: Throwable => Map("facts_error" -> msg(e)) }
    if (trace) tracer.write(s"$work/trace.jsonl")
    val layers = tracer.byLayer

    val result = Json.obj(
      "workload" -> workload,
      "cores" -> cores,
      "spark_version" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "session_ready_ms" -> sessionReadyMs,
      "setup_s" -> setupS,
      "ops" -> untraced.map(opJson(_, Map.empty)),
      "traced_ops" -> traced.map(o => opJson(o, layers.getOrElse(o.i, Map.empty))),
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "facts" -> facts,
      "peak_rss_kb" -> vmHwmKb())
    val w = new java.io.PrintWriter(opt("result"), "UTF-8")
    try w.println(result) finally w.close()
    spark.stop()
  }

  private def msg(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(500)

  private def opJson(o: Op, layers: Map[String, (Double, Map[String, Double], Long)]): Map[String, Any] = {
    val base = Map[String, Any]("i" -> o.i, "ms" -> o.ms, "stolen" -> o.stolen,
      "ok" -> o.ok, "key" -> o.key,
      "error" -> o.error, "detail" -> o.detail)
    o.spark.fold(base) { case (t, skew) =>
      base ++ Map(
        "spark" -> Map(
          "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
          "task_failures" -> t.taskFailures, "task_s" -> t.taskMs / 1e3,
          "task_cpu_s" -> t.taskCpuNs / 1e9, "gc_s" -> t.gcMs / 1e3,
          "task_wait_s" -> t.taskWaitMs / 1e3,
          "shuffle_write_bytes" -> t.shuffleWriteBytes,
          "shuffle_read_bytes" -> t.shuffleReadBytes,
          "shuffle_records" -> t.shuffleRecords, "spill_bytes" -> t.spillBytes,
          "input_bytes" -> t.inputBytes, "output_bytes" -> t.outputBytes,
          "stored_block_bytes" -> t.storedBlockBytes,
          "codegen_compiles" -> t.codegenCompiles,
          "codegen_compile_ms" -> t.codegenNs / 1e6,
          "task_skew" -> skew),
        "layers" -> layers.map { case (name, (self, counts, jobs)) =>
          name -> Map("self_s" -> self, "jobs" -> jobs, "counts" -> counts)
        })
    }
  }

  /** Peak resident set size of this process (VmHWM), in KiB. */
  private def vmHwmKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: Throwable => 0L }
}
