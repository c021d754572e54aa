package titlebench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark process: set up, run the timed phase, check the outputs
  * and write the raw samples to `--out`; `run.py` turns them into metrics.
  * Everything it writes goes under `--work` and the two output files.
  *
  * {{{
  * Main --workload std_expr --inputs DIR --work DIR --out FILE
  *      --seconds 10 --trace 0 --threads 2 [--trace-out FILE]
  * }}}
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val traced = a.getOrElse("trace", "0") == "1"
    val threads = a("threads").toInt
    val work = a("work")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("titlebench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    log(s"session up ${System.currentTimeMillis() - jvmStartMs} ms after JVM start")
    val sc = spark.sparkContext
    val trace = if (traced) Some(new Trace) else None
    trace.foreach { t => sc.addSparkListener(t); t.recording = true }

    // reading the generated inputs is input generation, not set-up
    val loadT0 = System.nanoTime()
    val w: Workload = workload match {
      case "std_expr" => new StdWorkload(spark, a("inputs"), work, viaJoin = false, trace)
      case "std_join" => new StdWorkload(spark, a("inputs"), work, viaJoin = true, trace)
      case "bm25_ingest" => new Bm25Workload(spark, a("inputs"), work, trace)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val loadMs = (System.nanoTime() - loadT0) / 1e6
    log(f"inputs loaded in $loadMs%.0f ms")
    w.setup()
    val setupMs = System.currentTimeMillis() - jvmStartMs - loadMs
    log(f"set-up done: $setupMs%.0f ms")

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "threads" -> threads,
      "setup_ms" -> setupMs, "input_load_ms" -> loadMs,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString)

    val ops = mutable.ArrayBuffer.empty[OpSpan]
    val failures = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    def more(i: Int) = w.scheduledOps.fold(System.nanoTime() < deadline || i < 2)(i < _)
    var i = 0
    while (more(i)) {
      // the traced run alternates traced and untraced cycles, so the
      // tracing overhead is measured on the same ops in the same run
      val tracedOp = traced && (i / w.cycleLength) % 2 == 0
      trace.foreach(_.recording = tracedOp)
      sc.setJobGroup(Trace.group(i), s"titlebench op $i", interruptOnCancel = false)
      val m0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val (kind, rows, ok) =
        try { val (k, r) = w.op(i); (k, r, true) }
        catch { case e: Exception =>
          failures += s"op $i: ${e.getClass.getName}: ${e.getMessage}"
          ("failed", 0L, false)
        }
      ops += OpSpan(i, kind, t0, System.nanoTime(), m0, System.currentTimeMillis(),
        rows, tracedOp, ok)
      sc.clearJobGroup()
      trace.foreach(_.drain(quietMs = 30))
      i += 1
    }
    trace.foreach(_.recording = false)
    log(s"timed phase: ${ops.length} ops")
    out("peak_rss_kb") = peakRssKb()
    val (checksRun, checkFails) =
      try w.check()
      catch { case e: Exception => (1, Seq(s"check threw ${e.getClass.getName}: ${e.getMessage}")) }
    log("checks done")
    val extra = w.extra()
    out("ops") = ops.map(o => Map("kind" -> o.kind, "dur_ns" -> o.durNs,
      "rows" -> o.rows, "ok" -> o.ok, "traced" -> o.traced))
    out("op_failures") = failures
    out("checks_run") = checksRun
    out("check_failures") = checkFails
    out ++= extra
    trace.foreach { t =>
      t.drain()
      out("per_layer") = sparkMetrics(t, ops.toSeq) ++
        w.layerMetrics(ops.toSeq, extra) ++
        Map("trace.overhead_pct" -> overheadPct(ops.toSeq, w.mainKind))
      a.get("trace-out").foreach(p => writeJson(p, dump(t, ops.toSeq)))
    }
    writeJson(a("out"), out)
    spark.stop()
    System.exit(0) // a lingering non-daemon thread must not keep the JVM up
  }

  private val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** A progress line on stderr, stamped with the time since JVM start. */
  def log(msg: String): Unit =
    System.err.println(s"[titlebench +${System.currentTimeMillis() - t0Ms} ms] $msg")

  /** Peak resident set of this process (VmHWM), in kB. */
  private def peakRssKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)

  /** Traced vs untraced median latency of the workload's main op, in %. */
  private def overheadPct(ops: Seq[OpSpan], kind: String): Double = {
    val main = ops.filter(o => o.ok && o.kind == kind)
    val on = median(main.filter(_.traced).map(_.durNs.toDouble))
    val off = median(main.filterNot(_.traced).map(_.durNs.toDouble))
    if (off == 0.0) 0.0 else (on / off - 1.0) * 100.0
  }

  /** Spark-engine metrics per traced op, from the listener's spans. */
  private def sparkMetrics(t: Trace, ops: Seq[OpSpan]): Map[String, Double] = {
    val traced = ops.filter(o => o.traced && o.ok)
    val n = math.max(1, traced.length).toDouble
    val perOp = traced.map { o =>
      val js = t.jobsOf(o)
      val ss = t.stagesOf(js)
      val inJobs = Trace.covered(o.startMs, o.endMs, js.map(j => (j.startMs, j.endMs)))
      (js.length, ss, (o.endMs - o.startMs) - inJobs)
    }
    def sum(f: StageSpan => Long): Double = perOp.map(_._2.map(f).sum).sum.toDouble
    Map(
      "spark.jobs_per_op" -> perOp.map(_._1).sum / n,
      "spark.stages_per_op" -> perOp.map(_._2.length).sum / n,
      "spark.tasks_per_op" -> sum(_.numTasks.toLong) / n,
      "spark.driver_ms_per_op" -> perOp.map(_._3).sum / n,
      "spark.executor_cpu_ms_per_op" -> sum(_.cpuNs) / 1e6 / n,
      "spark.gc_ms_per_op" -> sum(_.gcMs) / n,
      "spark.shuffle_write_bytes_per_op" -> sum(_.shuffleWriteBytes) / n,
      "spark.shuffle_read_bytes_per_op" -> sum(_.shuffleReadBytes) / n,
      "spark.spill_bytes_per_op" -> sum(_.spillBytes) / n,
      "spark.input_rows_per_op" -> sum(_.inputRows) / n,
      "spark.task_failures" -> t.taskFailures.toDouble)
  }

  /** Every span of the traced run: ops, their jobs and stages, kernels. */
  private def dump(t: Trace, ops: Seq[OpSpan]): Map[String, Any] = Map(
    "ops" -> ops.map { o =>
      val js = t.jobsOf(o)
      Map("id" -> o.id, "kind" -> o.kind, "start_ms" -> o.startMs, "dur_ns" -> o.durNs,
        "rows" -> o.rows, "traced" -> o.traced, "ok" -> o.ok,
        "jobs" -> js.map(j => Map("job" -> j.jobId, "start_ms" -> j.startMs,
          "end_ms" -> j.endMs, "failed" -> j.failed,
          "stages" -> t.stagesOf(Seq(j)).map(s => Map("stage" -> s.stageId,
            "attempt" -> s.attempt, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
            "tasks" -> s.numTasks, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
            "shuffle_write_bytes" -> s.shuffleWriteBytes,
            "shuffle_read_bytes" -> s.shuffleReadBytes, "spill_bytes" -> s.spillBytes,
            "input_rows" -> s.inputRows, "output_bytes" -> s.outputBytes,
            "failed" -> s.failed)))))
    },
    "kernels" -> t.kernels.map(k => Map("name" -> k.name, "parent" -> k.parent,
      "start_ns" -> k.startNs, "dur_ns" -> (k.endNs - k.startNs), "items" -> k.items)))

  private def toJava(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: scala.collection.Iterable[_] => s.map(toJava).toSeq.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case other => other
  }

  private def writeJson(path: String, v: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper()
      .writeValue(new java.io.File(path), toJava(v))
}
