package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Bm25
import graft.sources.{AsOf, Generations, Snapshots}

/** Timestamp + named-tag time travel (r17, r16 verdict directive 4):
  * `AsOf.Commits` counts commits, so an enabled auto-compaction cadence
  * SHIFTS fixed depths — these selectors name a state without commit
  * arithmetic. Contract:
  *
  *  - every manifest row carries a wall-clock `ts`;
  *    `AsOf.At(t)` resolves the newest commit recorded at or
  *    before `t` (max commit id among qualifying rows — ids stay the
  *    total order, the clock is the name);
  *  - `tagSnapshot(name)` pins the current (or `back`-deep) commit
  *    under a name; `AsOf.Tag(name)` resolves it; tags survive
  *    compactLog's view flips AND pin their commit against log
  *    retention (the Iceberg tag contract);
  *  - compactLog never re-seeds the next commit id BACKWARDS (r16
  *    ADVICE: a regressed id could be re-minted, breaking the
  *    later-ids-never-reused invariant);
  *  - the file-log reads behind every resolve push member/commit
  *    filters INTO the parquet scan (r17 directive 3);
  *  - `auditUnrecorded` names directory files absent from the file log
  *    before a compaction's base manifest heals them (directive 6);
  *  - a pre-r17 manifest (no ts column) migrates one-time at the next
  *    record(); legacy rows read as ts = NULL and never resolve by
  *    timestamp.
  */
class TimeTravelSelectorsSpec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  private val corpus: Seq[(Long, String)] = (0L until 80L).map { i =>
    (i, s"shared filler terms rare${i % 8} and token doc$i")
  }
  private val qs = Seq((1L, "rare3"), (2L, "rare5"), (3L, "filler"))

  private def probe(tbl: String,
      asOf: AsOf = AsOf.Live): Seq[(Long, Long, Long, Long)] =
    Bm25.topKAgainstIndex(qs.toDF("qid", "term"), tbl, k = 100, asOf = asOf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** build(evens) → append(odds, auto-compact ON — inserts a cadence
    * commit) → tag → delete. Shared by the selector tests. */
  private lazy val fixture: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttsel").toString
    val tbl = "g_ttsel_bm25"
    Bm25.buildIndex(corpus.filter(_._1 % 2 == 0).toDF("doc_id", "text"),
      "doc_id", "text", tbl, s"$dir/idx", nDirs = 4)
    Bm25.appendToIndex(corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      "doc_id", "text", tbl, autoCompactAfter = 1)
    Snapshots.tagSnapshot(spark, tbl, "pre_takedown")
    Thread.sleep(5L)
    Bm25.deleteFromIndex(spark, tbl,
      corpus.filter(_._1 % 7 == 3).map(t => Tuple1(t._1)).toDF("id"))
    tbl
  }

  test("asOfTimestamp resolves by wall clock, stable under the " +
      "auto-compaction cadence; at most one selector may be set") {
    val tbl = fixture
    // history: build(0), append(1), compact(2 — the cadence commit),
    // delete(3); a naive "one back" by clock must land on the compact
    val hist = Snapshots.history(spark, tbl)
      .select($"commit_id", $"op", $"ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(hist.map(_._2).toSeq ==
      Seq("delete", "compact", "append", "build"))
    val tsDelete = hist.head._3
    val preDelete = probe(tbl, AsOf.Commits(1)) // the compact commit's state
    assert(probe(tbl, AsOf.At(tsDelete - 1L)) == preDelete,
      "ts(delete)−1 must serve the newest pre-delete state")
    assert(probe(tbl, AsOf.At(System.currentTimeMillis())) == probe(tbl),
      "a now-or-later timestamp pins the newest commit")
    // the compact state == the append state (layout-only rewrite), and
    // both differ from the post-delete ranking — the selector really
    // crossed the takedown
    assert(preDelete != probe(tbl))
    intercept[IllegalArgumentException] {
      Snapshots.backForTimestamp(spark, tbl, hist.last._3 - 10000L)
    }
    // selectors are mutually exclusive by type: one AsOf value names
    // one state
  }

  test("asOfTag resolves the pinned commit by name; unknown tags are " +
      "a loud error naming the known tags") {
    val tbl = fixture
    assert(probe(tbl, AsOf.Tag("pre_takedown")) == probe(tbl, AsOf.Commits(1)),
      "the tag minted before the delete must serve the pre-delete state")
    val e = intercept[IllegalArgumentException] {
      probe(tbl, AsOf.Tag("no_such_tag"))
    }
    assert(e.getMessage.contains("pre_takedown"))
    intercept[IllegalArgumentException] {
      Snapshots.tagSnapshot(spark, tbl, "bad name!")
    }
  }

  test("a probe whose snapshot resolve AND cap-check take both throw " +
      "reports both errors and leaves no resolve job running") {
    val tbl = fixture
    val failing = org.apache.spark.sql.functions.udf { (t: String) =>
      if (t == "rare5") throw new IllegalStateException("query batch broke")
      t
    }
    val queries = qs.toDF("qid", "raw")
      .select($"qid", failing($"raw").as("term"))
    val thrown = intercept[Throwable] {
      Bm25.topKAgainstIndex(queries, tbl, k = 10,
        asOf = AsOf.Tag("no_such_tag"))
    }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    val messages = (thrown +: thrown.getSuppressed.toSeq)
      .flatMap(chain).flatMap(t => Option(t.getMessage))
    assert(messages.exists(_.contains("no_such_tag")),
      s"the resolve failure was lost: $messages")
    assert(messages.exists(_.contains("query batch broke")),
      s"the take failure was lost: $messages")
    org.apache.spark.sql.graft.ListenerBus.drain(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
  }

  test("compactLog preserves tags across its view flip, PINS the " +
      "tagged commit against retention, and never regresses the next " +
      "commit id (r16 ADVICE)") {
    val tbl = fixture
    val tagged = Snapshots.tags(spark, tbl)("pre_takedown")
    val maxBefore = Snapshots.history(spark, tbl)
      .select($"commit_id").head().getLong(0)
    // keepCommits = 1 would drop everything below the delete commit —
    // but the tag pins commit 2, so commits ≥ 2 must survive
    Snapshots.compactLog(spark, tbl, keepCommits = 1)
    assert(Snapshots.tags(spark, tbl).get("pre_takedown").contains(tagged),
      "the tag must survive the compactLog view flip")
    assert(probe(tbl, AsOf.Tag("pre_takedown")) == probe(tbl, AsOf.Commits(1)),
      "the tagged state must stay resolvable after log retention")
    // new commits mint strictly increasing ids (no reuse after the fold)
    Bm25.deleteFromIndex(spark, tbl,
      corpus.filter(_._1 % 11 == 5).map(t => Tuple1(t._1)).toDF("id"))
    val ids = Snapshots.history(spark, tbl)
      .select($"commit_id").collect().map(_.getLong(0)).toSeq
    assert(ids.head > maxBefore,
      s"post-compaction commits must extend the id sequence: $ids")
    assert(ids == ids.sorted.reverse && ids.distinct == ids,
      s"commit ids must stay strictly monotonic: $ids")
    // dropping the tag releases the pin
    Snapshots.dropTag(spark, tbl, "pre_takedown")
    assert(!Snapshots.tags(spark, tbl).contains("pre_takedown"))
  }

  test("the resolve-time file-log read pushes member + commit filters " +
      "into the parquet scan (r17 directive 3)") {
    val tbl = fixture
    val lf = Snapshots.logFilesTable(tbl)
    val df = Snapshots.memberLogRows(spark, lf,
      Seq(s"${tbl}_postings"), 2L)
    val scans = df.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.nonEmpty)
    val pushed = scans.map(_.metadata.getOrElse("PushedFilters", "")).mkString
    assert(pushed.contains("member") && pushed.contains("commit_id"),
      s"member/commit_id must reach the scan as pushed filters: $pushed")
  }

  test("auditUnrecorded names directory files the file log does not " +
      "track, and the next compaction's base manifest heals them " +
      "(r17 directive 6)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttsel_aud").toString
    val tbl = "g_ttsel_aud"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    // plant a data file the snapshot log never saw (an append that
    // bypassed the log / a pre-recovery crash artifact)
    val gen = Generations.current(spark, s"${tbl}_postings")
    val root = new org.apache.hadoop.fs.Path(Generations.location(spark, gen))
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val existing = fs.listStatus(root).filter(_.isDirectory).head
    val src = fs.listStatus(existing.getPath)
      .filter(_.getPath.getName.startsWith("part-")).head.getPath
    val planted = new org.apache.hadoop.fs.Path(existing.getPath,
      "part-planted-deadbeef.parquet")
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, planted, false,
      spark.sessionState.newHadoopConf())
    val found = Snapshots.auditUnrecorded(spark, tbl,
      Seq(s"${tbl}_postings"))
    assert(found.get(s"${tbl}_postings").exists(_.exists(
        _.contains("part-planted-deadbeef"))),
      s"the audit must name the planted file: $found")
    // the compaction rewrite (which runs the same audit on entry)
    // opens a fresh base manifest over exactly the directory's files
    Bm25.compactIndex(spark, tbl)
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_postings").isEmpty,
      "the rewrite's base manifest must heal the log")
  }

  test("a pre-r17 manifest (no ts column) migrates one-time at the " +
      "next record(); legacy rows never resolve by timestamp") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ttsel_leg").toString
    val tbl = "g_ttsel_leg"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    // forge the legacy shape: same rows, no ts column
    val live = Snapshots.logTable(tbl)
    val legacyRows = spark.table(live)
      .select($"commit_id", $"op", $"revertible", $"members")
    val legacyDir = s"$dir/legacy_log"
    legacyRows.coalesce(1).write.parquet(legacyDir)
    spark.sql(s"DROP TABLE $live")
    spark.sql(s"CREATE TABLE $live USING parquet LOCATION '$legacyDir'")
    val e = intercept[IllegalArgumentException] {
      Snapshots.backForTimestamp(spark, tbl, System.currentTimeMillis())
    }
    assert(e.getMessage.contains("wall-clock"))
    // the next maintenance op migrates (ts = NULL on legacy rows) and
    // stamps its own commit
    Bm25.deleteFromIndex(spark, tbl,
      corpus.filter(_._1 % 9 == 1).map(t => Tuple1(t._1)).toDF("id"))
    val rows = Snapshots.history(spark, tbl)
      .select($"commit_id", $"ts").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
    assert(rows.length == 2 && rows.head._2.isDefined && rows.last._2.isEmpty,
      s"legacy rows carry NULL ts, new commits a real stamp: ${rows.toSeq}")
    // a timestamp at the new commit resolves it; commit-depth reads of
    // the legacy commit still work
    assert(probe(tbl, AsOf.At(rows.head._2.get)) == probe(tbl))
    assert(probe(tbl, AsOf.Commits(1)).nonEmpty)
  }
}
