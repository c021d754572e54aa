package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.ListenerBus
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Profile

/** [[Profile]]'s per-run records, checked against ground truth: the test
  * runs each query under its own job group on this thread (no pooled
  * threads involved), so the group a job carries names the query that
  * really ran it. Profile itself never reads job groups. */
class ProfileSpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  private val queries: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
    // purely lazy: every job runs in the noop write
    "lazy" -> (() => spark.range(0, 400000, 1, 4)
      .selectExpr("id % 97 AS k", "sha2(CAST(id AS STRING), 256) AS h")
      .groupBy("k").agg(org.apache.spark.sql.functions.max("h"))),
    // an eager driver collect while the frame is built
    "eager" -> { () =>
      val n = spark.range(0, 5000, 1, 2).filter("id % 3 = 0").count()
      spark.range(0, n, 1, 2).selectExpr("id * 2 AS x")
    },
    "failing" -> (() => spark.range(0, 100, 1, 2)
      .selectExpr("raise_error(concat('profile boom ', CAST(id AS STRING)))")))

  /** (query → its run, its record, the jobs and stages its group ran). */
  private lazy val fixture = {
    val groupOfJob = mutable.Map.empty[Int, String]
    val jobOfStage = mutable.Map.empty[Int, Int]
    val tasksOfStage = mutable.Map.empty[Int, Int]
    val truth = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(g => groupOfJob(e.jobId) = g)
        e.stageIds.foreach(s => jobOfStage.getOrElseUpdate(s, e.jobId))
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        synchronized { tasksOfStage(e.stageInfo.stageId) = e.stageInfo.numTasks }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(truth)
    val profile = Profile.attach(spark)
    val runs = try queries.map { case (name, build) =>
      sc.setJobGroup(name, name)
      val t0 = System.nanoTime()
      val run = profile.run(name, "test")(build())
      name -> (run, (System.nanoTime() - t0) / 1e9)
    }.toMap
    finally {
      sc.clearJobGroup()
      ListenerBus.drain(spark)
      sc.removeSparkListener(profile)
      sc.removeSparkListener(truth)
    }
    val records = profile.records.map(r => r.query -> r).toMap
    val groupJobs = groupOfJob.groupMap(_._2)(_._1).map { case (g, js) => g -> js.toSet }
    val groupStages = tasksOfStage.keySet.groupBy(s =>
      jobOfStage.get(s).flatMap(groupOfJob.get).getOrElse(""))
    (runs, records, groupJobs, groupStages, tasksOfStage.toMap)
  }

  test("firstRun records a run that touched a cached layout as build and runs it again") {
    val profile = Profile.attach(spark)
    def first(name: String) = profile.firstRun(name, "first")(
      SparkEntry.queries(name)(spark, SparkSuiteBase.sfDir))
    try {
      assert(first("q104_zorder_lake").touchedLayout)
      assert(!first("q01_scan_filter_project").touchedLayout)
      ListenerBus.drain(spark)
      assert(profile.records.map(r => (r.query, r.phase)) == Seq(
        ("q104_zorder_lake", "build"), ("q104_zorder_lake", "first"),
        ("q01_scan_filter_project", "first")))
    } finally spark.sparkContext.removeSparkListener(profile)
  }

  test("every job, stage and task lands in the record of the query that ran it") {
    val (_, records, groupJobs, groupStages, tasksOfStage) = fixture
    assert(records.keySet == queries.map(_._1).toSet)
    queries.map(_._1).foreach { q =>
      val r = records(q)
      assert(r.jobs.map(_.id).toSet == groupJobs.getOrElse(q, Set.empty), q)
      assert(r.stages.map(_.id).toSet == groupStages.getOrElse(q, Set.empty), q)
      val truthTasks = groupStages.getOrElse(q, Set.empty).toSeq.map(tasksOfStage).sum
      assert(r.construct.tasks + r.exec.tasks == truthTasks, q)
      assert(r.jobs.map(_.tasks).sum == truthTasks, q)
    }
  }

  test("construct plus exec is the run's wall time") {
    val (runs, records, _, _, _) = fixture
    runs.foreach { case (q, (run, outerWall)) =>
      val r = records(q)
      assert(math.abs(r.construct.seconds + r.exec.seconds - run.seconds) < 1e-9, q)
      assert(run.seconds <= outerWall && outerWall - run.seconds < 0.05, q)
    }
  }

  test("an eager driver collect is counted as construct work; a lazy " +
      "query constructs with no job") {
    val (_, records, _, _, _) = fixture
    assert(records("eager").construct.jobs > 0)
    assert(records("eager").exec.jobs > 0)
    assert(records("lazy").construct.jobs == 0)
    assert(records("lazy").construct.stages == 0)
    assert(records("lazy").exec.jobs > 0)
  }

  test("stages carry CPU time and the top stage by CPU is named") {
    val r = fixture._2("lazy")
    assert(r.stages.map(_.cpuMs).sum > 0)
    assert(r.topCpuStages.nonEmpty && r.topCpuStages.size <= 3)
    assert(r.topCpuStages.head.cpuMs == r.stages.map(_.cpuMs).max)
    assert(r.topCpuStages.head.name.nonEmpty)
  }

  test("a query that throws still yields a record carrying its error") {
    val (runs, records, _, _, _) = fixture
    assert(runs("failing")._1.error.isDefined)
    assert(records("failing").error.exists(_.contains("profile boom")))
    assert(records("lazy").error.isEmpty && records("eager").error.isEmpty)
    assert(Profile.json(records("failing")).contains("profile boom"))
  }
}
