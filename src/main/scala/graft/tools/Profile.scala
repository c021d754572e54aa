package graft.tools

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Bench, SparkEntry}

/** The per-query execution profile: one record per query run.
  *
  * A run timed through [[run]] is split into CONSTRUCT (the query
  * function: eager driver work such as snapshot resolves, bounded
  * collects and cap-check takes, each a Spark job launched before the
  * frame is acted on) and EXEC (the noop materialization of the frame).
  * As a `SparkListener` this class keeps every job and completed-stage
  * event. A job belongs to the run whose time window holds its start,
  * never to a job group: pooled Future threads carry stale inherited
  * local properties. A stage belongs to the first job that lists it.
  * Windows follow one another, so a query must await every background
  * future it starts before it returns (graft.operators.Concurrent).
  *
  * Events arrive on the listener bus asynchronously: call [[records]]
  * or [[write]] only after the bus has drained (`spark.stop()` drains
  * it).
  *
  * `graft.Bench` records every run through one instance, warmups
  * included, and writes the records to `target/bench_profile.jsonl`.
  * The CLI
  * {{{
  *   SPARK_GRAFT_SF_DIR=<dir> runMain graft.tools.Profile <q-prefix>… [reps=5]
  * }}}
  * uses the bench session (`Bench.session`), warms up as the bench does,
  * runs each matching query `reps` times and prints every record as a
  * JSON line, then every query's run times with their min and median.
  */
final class Profile extends SparkListener {
  import Profile._

  private val jobs = mutable.ArrayBuffer.empty[JobEvent]
  private val jobById = mutable.Map.empty[Int, JobEvent]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val windows = mutable.ArrayBuffer.empty[Window]
  private val runsOf = mutable.Map.empty[String, Int].withDefaultValue(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobEvent(e.jobId, e.time, e.stageIds, callSite(e.stageInfos))
    jobs += j
    jobById(j.id) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += stageOf(e.stageInfo) }

  /** Runs `query` once: construct = `build`, exec = a noop write of its
    * frame. Full materialization through a noop sink produces every
    * column and runs every operator (UDFs included); a bare `count()`
    * would let Catalyst prune deterministic projections. A failure ends
    * the run and is recorded with it, never thrown. `phase` tags the
    * record: the bench's pass (warmup, build, first, retime,
    * adjudicate) or the CLI's (warmup, build, rep). */
  def run(query: String, phase: String)(build: => DataFrame): Run =
    record(query, _ => phase)(build)

  /** A query's first timed run: [[run]], except that a run that called
    * `Queries.cachedLayout` or `Queries.runOnce` may have built a
    * one-time layout or run a one-time step, so it is
    * recorded as `build` and, unless it failed, the query runs again
    * under `phase`. The returned run never times a layout build. */
  def firstRun(query: String, phase: String)(build: => DataFrame): Run = {
    val r = record(query, touched => if (touched) "build" else phase)(build)
    if (r.touchedLayout && r.error.isEmpty) run(query, phase)(build) else r
  }

  private def record(query: String, phase: Boolean => String)(
      build: => DataFrame): Run = {
    val layoutCalls = graft.Queries.layoutCalls
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var t1 = -1L
    var midMs = -1L
    val error =
      try {
        val df = build
        t1 = System.nanoTime()
        midMs = System.currentTimeMillis()
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case e: Throwable => Some(e) }
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    if (t1 < 0) { t1 = t2; midMs = endMs }
    val touched = graft.Queries.layoutCalls != layoutCalls
    synchronized {
      runsOf(query) += 1
      windows += Window(query, runsOf(query), phase(touched), startMs, midMs,
        endMs, t1 - t0, t2 - t1, error.map(_.toString))
    }
    Run(t1 - t0, t2 - t1, error, touched)
  }

  /** One record per run, in run order. */
  def records: Seq[Record] = synchronized {
    // the last window opened at or before the job's start (a start on
    // the millisecond two windows share goes to the later run)
    val windowOf: Map[Int, Int] = jobs.flatMap { j =>
      val i = windows.lastIndexWhere(_.startMs <= j.startMs)
      if (i >= 0 && j.startMs <= windows(i).endMs) Some(j.id -> i) else None
    }.toMap
    val jobOfStage: Map[Int, JobEvent] =
      jobs.reverseIterator.flatMap(j => j.stageIds.map(_ -> j)).toMap
    val jobsIn = jobs.groupBy(j => windowOf.getOrElse(j.id, -1))
    val stagesIn = stages.groupBy(s =>
      jobOfStage.get(s.id).flatMap(j => windowOf.get(j.id)).getOrElse(-1))
    windows.indices.map { i =>
      val w = windows(i)
      // a construct job ends before the frame is returned; an exec job
      // starts after it
      def construct(j: JobEvent) =
        j.startMs < w.midMs || (j.endMs >= 0 && j.endMs <= w.midMs)
      val ss = stagesIn.getOrElse(i, Nil).toSeq.map { s =>
        val j = jobOfStage(s.id)
        s.copy(job = j.id, construct = construct(j))
      }
      val js = jobsIn.getOrElse(i, Nil).toSeq.map { j =>
        Job(j.id, construct(j), j.startMs - w.startMs,
          if (j.endMs < 0) -1L else j.endMs - j.startMs,
          ss.filter(_.job == j.id).map(_.tasks).sum, j.site)
      }
      def part(c: Boolean, ns: Long) = {
        val pss = ss.filter(_.construct == c)
        Part(ns / 1e9, js.count(_.construct == c), pss.size,
          pss.map(_.tasks).sum)
      }
      Record(w.query, w.run, w.phase, part(true, w.constructNs),
        part(false, w.execNs), w.error, js, ss,
        ss.sortBy(-_.cpuMs).take(3))
    }.toSeq
  }

  /** Writes [[records]] to `path` as JSON lines, replacing the file. */
  def write(path: java.nio.file.Path): Unit = {
    Option(path.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(path, records.map(json).asJava)
  }
}

object Profile {
  /** One run's split: `seconds` is construct plus exec, the time the
    * bench reports. `touchedLayout`: the run called
    * `Queries.cachedLayout` or `Queries.runOnce`, a hit or a build. */
  final case class Run(constructNs: Long, execNs: Long,
      error: Option[Throwable], touchedLayout: Boolean) {
    def seconds: Double = (constructNs + execNs) / 1e9
  }
  /** One side of a run: its seconds, and the jobs, stages and tasks it
    * ran. */
  final case class Part(seconds: Double, jobs: Int, stages: Int, tasks: Int)
  /** `startMs` is the offset from the run's start; `site` is the first
    * graft frame that submitted the job. */
  final case class Job(id: Int, construct: Boolean, startMs: Long,
      runMs: Long, tasks: Int, site: String)
  /** Task metrics summed over the stage's tasks; `name` is its
    * `rddInfos` chain. */
  final case class Stage(id: Int, job: Int, construct: Boolean,
      name: String, tasks: Int, runMs: Long, cpuMs: Long, gcMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long, spillBytes: Long,
      peakExecMemBytes: Long)
  final case class Record(query: String, run: Int, phase: String,
      construct: Part, exec: Part, error: Option[String], jobs: Seq[Job],
      stages: Seq[Stage], topCpuStages: Seq[Stage])

  private final class JobEvent(val id: Int, val startMs: Long,
      val stageIds: Seq[Int], val site: String) {
    var endMs = -1L
  }
  private final case class Window(query: String, run: Int, phase: String,
      startMs: Long, midMs: Long, endMs: Long, constructNs: Long,
      execNs: Long, error: Option[String])

  /** A new profile listening on `spark`'s context. */
  def attach(spark: SparkSession): Profile = {
    val p = new Profile
    spark.sparkContext.addSparkListener(p)
    p
  }

  def json(r: Record): String =
    org.json4s.jackson.Serialization.write(r)(org.json4s.DefaultFormats)

  private def callSite(infos: Seq[StageInfo]): String =
    infos.iterator.flatMap(_.details.linesIterator).map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.Bench") &&
        !l.startsWith("graft.tools.Profile"))
      .getOrElse("?")

  private def stageOf(si: StageInfo): Stage = {
    val m = si.taskMetrics
    Stage(si.stageId, -1, construct = false,
      si.rddInfos.map(_.name).distinct.mkString(">"), si.numTasks,
      m.executorRunTime, m.executorCpuTime / 1000000L, m.jvmGCTime,
      m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.peakExecutionMemory)
  }

  def main(args: Array[String]): Unit = {
    val (names, rest) = args.partition(_.startsWith("q"))
    val reps = rest.headOption.map(_.toInt).getOrElse(5)
    require(names.nonEmpty && reps >= 1,
      "usage: graft.tools.Profile <q-prefix>… [reps >= 1, default 5]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the bench corpus directory"))
    val spark = Bench.session()
    val profile = attach(spark)
    val all = SparkEntry.registry.sortBy(_.name)
    val qs = all.filter(q => names.exists(q.name.startsWith))
    // the bench's warmup: the first query once, and a first run that
    // builds a layout is not a rep (firstRun)
    all.headOption.foreach(q =>
      profile.run(q.name, "warmup")(q.build(spark, sfDir)))
    val timed = qs.map { q =>
      def rep = q.build(spark, sfDir)
      q.name -> (profile.firstRun(q.name, "rep")(rep) +:
        (2 to reps).map(_ => profile.run(q.name, "rep")(rep))).map(_.seconds)
    }
    spark.stop()
    profile.records.foreach(r => println(json(r)))
    timed.foreach { case (n, s) =>
      val sorted = s.sorted
      println(f"[profile] $n: " + s.map(x => f"$x%.2f").mkString(" ") +
        f" | min=${sorted.head}%.2f median=${sorted(sorted.length / 2)}%.2f")
    }
  }
}
