package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Dedup, Knn}
import graft.sources.{AsOf, Generations, Snapshots}

/** The family snapshot log + time-travel contract
  * ([[graft.sources.Snapshots]], round 14 third session):
  *
  *  - every maintenance op appends ONE manifest row recording the
  *    generation each member table serves when the op finishes, with
  *    its revertibility (fresh-generation rewrites yes; in-place file
  *    appends no);
  *  - `topKAgainstIndex(asOf = AsOf.Commits(n))` serves the index exactly as
  *    it was n maintenance commits ago — the rollback read for a bad
  *    takedown ("serve yesterday's index while we fix it");
  *  - stepping ACROSS a non-revertible commit refuses loudly (the
  *    prior state is not reconstructable from retained generations);
  *  - a retired generation (vacuum / later maintenance) is NAMED in an
  *    error instead of producing a partial read.
  */
class SnapshotsSpec extends AnyFunSuite {
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

  test("BM25 lifecycle writes one manifest per op with the right " +
      "revertibility; asOf probes replay each recorded state") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_bm25").toString
    val tbl = "g_snap_bm25"
    val evens = corpus.filter(_._1 % 2 == 0)
    Bm25.buildIndex(evens.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val atBuild = probe(tbl)
    Bm25.appendToIndex(corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    val atAppend = probe(tbl)
    Bm25.deleteFromIndex(spark, tbl,
      corpus.filter(_._1 % 7 == 3).map(t => Tuple1(t._1)).toDF("id"))
    val atDelete = probe(tbl)

    val hist = Snapshots.history(spark, tbl)
      .select("commit_id", "op", "revertible").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2))).toSeq
    assert(hist == Seq((2L, "delete", true), (1L, "append", false),
      (0L, "build", true)))

    // asOf = 0 is the live read
    assert(probe(tbl, AsOf.Live) == atDelete)
    // asOf = 1 replays the pre-delete (post-append) state exactly
    assert(probe(tbl, AsOf.Commits(1)) == atAppend)
    assert(atAppend != atDelete, "the delete must have changed the ranking")
    // stepping ACROSS the in-place append serves the build-time state
    // exactly: the build commit's FILE MANIFEST pins the postings read
    // to the files present then, un-seeing the appended ones (round 15
    // — the r14 contract refused here)
    assert(atBuild != atAppend) // (sanity: the crossed state really differs)
    assert(probe(tbl, AsOf.Commits(2)) == atBuild,
      "asOf=2 must cross the append commit via the file manifest and " +
        "serve the build-time ranking exactly")
    // ... because the resolved state pins the postings member to the
    // build commit's files instead of naming the generation table, whose
    // directory also holds the appended files
    val atBuildState = Snapshots.resolveStateAsOf(spark, tbl, 2)
    val postingsAtBuild = atBuildState(s"${tbl}_postings")
    assert(postingsAtBuild.gen == Generations.current(spark, s"${tbl}_postings"),
      "the append added files to the build's postings generation in place")
    assert(postingsAtBuild.files.exists(_.nonEmpty),
      "the build-time postings must be pinned to a file list")
    assert(postingsAtBuild.read(spark).count() <
        spark.table(s"${tbl}_postings").count(),
      "the build-time postings read must leave out the appended files")
    // a LEGACY manifest (no per-commit file log) still refuses loudly
    val lf = Snapshots.logFilesTable(tbl)
    val lfLoc = Generations.location(spark, lf)
    spark.sql(s"DROP TABLE IF EXISTS $lf")
    try {
      val e2 = intercept[IllegalStateException] { probe(tbl, AsOf.Commits(2)) }
      assert(e2.getMessage.contains("commit 1") &&
        e2.getMessage.contains("file log"))
    } finally {
      // restore the file log (other asserts in this suite reuse the index)
      spark.sql(s"CREATE TABLE $lf (commit_id BIGINT, member STRING, " +
        s"gen STRING, kind STRING, files ARRAY<STRING>) USING parquet " +
        s"LOCATION '$lfLoc'")
    }
    // history deeper than recorded refuses
    intercept[IllegalArgumentException] { probe(tbl, AsOf.Commits(3)) }
  }

  test("a compaction folds the delete but asOf=1 still serves the " +
      "pre-compaction (tombstoned) state; vacuum makes it a NAMED error") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_cpt").toString
    val tbl = "g_snap_cpt"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    Bm25.deleteFromIndex(spark, tbl,
      corpus.filter(_._1 % 5 == 2).map(t => Tuple1(t._1)).toDF("id"))
    val atDelete = probe(tbl)
    Bm25.compactIndex(spark, tbl)
    // rankings are invariant across the fold (q170's contract), and the
    // asOf=1 replay of the pre-compaction state must agree
    assert(probe(tbl) == atDelete)
    assert(probe(tbl, AsOf.Commits(1)) == atDelete)
    // reclaim the superseded postings generation, then the asOf read
    // must fail NAMING the retired generation, never partially read
    Generations.vacuum(spark, s"${tbl}_postings")
    val e = intercept[IllegalStateException] { probe(tbl, AsOf.Commits(1)) }
    assert(e.getMessage.contains("retired"))
  }

  test("IVF time travel: asOf=1 after a delete serves the pre-delete " +
      "neighbor set") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_ivftt").toString
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat).toSeq))
    val tbl = "g_snap_ivftt"
    Knn.writeIvfIndex(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      tbl, s"$dir/ivf", nCells = 4)
    def probe(asOf: AsOf) = Knn.ivfTopKAgainstIndex(
        vecs.filter(_._1 < 5).toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 10, asOf = asOf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val pre = probe(AsOf.Live)
    Knn.deleteFromIvfIndex(spark, tbl,
      vecs.map(_._1).filter(_ % 3 == 1).toDF("id"))
    val post = probe(AsOf.Live)
    assert(post != pre, "the delete must change the neighbor set")
    assert(probe(AsOf.Commits(1)) == pre,
      "asOf=1 must serve the pre-delete neighbor set exactly")
  }

  test("MinHash time travel: asOf=1 after a delete classifies against " +
      "the pre-delete history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_mhtt").toString
    def doc(i: Long) = s"history document number $i with common filler"
    val tbl = "g_snap_mhtt"
    Dedup.writeMinhashIndex((0L until 30L).map(i => (i, doc(i)))
        .toDF("doc_id", "text"),
      "doc_id", "text", tbl, s"$dir/mh", numBuckets = 4)
    // replay exact copies of history docs 0..9 as a new batch
    val replay = (0L until 10L).map(i => (1000L + i, doc(i)))
      .toDF("doc_id", "text")
    def cls(asOf: AsOf) = Dedup.minhashIncrementalAgainstIndex(
        replay, tbl, "doc_id", "text", asOf = asOf)
      .select($"doc_id", $"status", $"n_hist_dups").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    val pre = cls(AsOf.Live)
    assert(pre.forall(_._2 == "dup_history"))
    Dedup.deleteFromMinhashIndex(spark, tbl,
      (0L until 10L).filter(_ % 2 == 0).toDF("id"))
    val post = cls(AsOf.Live)
    assert(post.count(_._2 == "new") == 5,
      s"evens' twins tombstoned => their replays classify new: $post")
    assert(cls(AsOf.Commits(1)) == pre,
      "asOf=1 must classify against the full pre-delete history")
  }

  test("snapshot-log retention: compactLog folds the per-commit files " +
      "to one and bounds history; recording continues monotonic after " +
      "(r15 directive 8)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_ret").toString
    val tbl = "g_snap_logret"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    // 4 more commits → 5 manifest files (one per commit)
    (0 until 4).foreach { i =>
      Bm25.deleteFromIndex(spark, tbl, Seq(Tuple1(i.toLong)).toDF("id"))
    }
    def dataFiles(table: String): Int = {
      val root = new org.apache.hadoop.fs.Path(
        Generations.location(spark, table))
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(root).count(s => s.isFile &&
        !s.getPath.getName.startsWith("_") &&
        !s.getPath.getName.startsWith("."))
    }
    val logLive = Snapshots.logTable(tbl)
    assert(dataFiles(logLive) == 5,
      "one manifest file per commit before compaction")
    Snapshots.compactLog(spark, tbl, keepCommits = 2)
    // ONE file, exactly the newest 2 manifests, newest first
    assert(dataFiles(Generations.current(spark, logLive)) == 1,
      "compactLog must fold the log to one file")
    val hist = Snapshots.history(spark, tbl)
      .select("commit_id", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(hist == Seq((4L, "delete"), (3L, "delete")),
      s"history reaches exactly keepCommits after the fold: $hist")
    // within retention resolves; beyond refuses with the usual error
    assert(Snapshots.resolveStateAsOf(spark, tbl, 1).nonEmpty)
    intercept[IllegalArgumentException] {
      Snapshots.resolveStateAsOf(spark, tbl, 2)
    }
    // recording continues, ids stay monotonic past the fold
    Bm25.deleteFromIndex(spark, tbl, Seq(Tuple1(99L)).toDF("id"))
    val afterIds = Snapshots.history(spark, tbl)
      .select("commit_id").collect().map(_.getLong(0)).toSeq
    assert(afterIds == Seq(5L, 4L, 3L),
      s"post-compaction commits append with monotonic ids: $afterIds")
  }

  test("compactLog preserves the kept commits' FILE manifests: time " +
      "travel across an append still serves after the fold") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_lfc").toString
    val tbl = "g_snap_logfold"
    val evens = corpus.filter(_._1 % 2 == 0)
    Bm25.buildIndex(evens.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val atBuild = probe(tbl)
    Bm25.appendToIndex(corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    Bm25.deleteFromIndex(spark, tbl,
      corpus.filter(_._1 % 7 === 3).map(t => Tuple1(t._1)).toDF("id"))
    // fold both logs, keeping the full history — one file each, every
    // manifest (and its file rows) intact
    Snapshots.compactLog(spark, tbl, keepCommits = 3)
    assert(probe(tbl, AsOf.Commits(2)) == atBuild,
      "the build commit's file manifest must survive the log fold — " +
        "time travel across the append still serves the build state")
    // and a bounded fold truncates file rows WITH their manifests
    Snapshots.compactLog(spark, tbl, keepCommits = 1)
    intercept[IllegalArgumentException] { probe(tbl, AsOf.Commits(2)) }
  }

  test("the file-pinned historical read keeps partition pruning (the " +
      "schema-normalizing cast must not defeat it)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_prune").toString
    val tbl = "g_snap_prune"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    Bm25.appendToIndex(
      corpus.map { case (i, t) => (1000L + i, t) }.toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    val st = Snapshots.resolveStateAsOf(spark, tbl, 1)(s"${tbl}_postings")
    assert(st.files.exists(_.nonEmpty), "postings must be file-pinned")
    val plan = st.read(spark).filter(col("tb") === 1L)
      .queryExecution.executedPlan.toString
    // the explicit-file scan must still prune tb directories at planning:
    // unwrap-cast turns the filter on the normalized bigint column back
    // into a partition filter on the discovered int column
    assert(plan.contains("PartitionFilters") && !plan
        .split("\n").filter(_.contains("PartitionFilters")).head
        .contains("PartitionFilters: []"),
      s"tb filter must reach PartitionFilters on the pinned read:\n$plan")
  }

  test("the file log records O(batch) ADD deltas per append — one base " +
      "at build, one add row per append, nothing for deletes (r16: the " +
      "incremental add-file log)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_delta").toString
    val tbl = "g_snap_delta"
    Bm25.buildIndex(corpus.filter(_._1 < 20).toDF("doc_id", "text"),
      "doc_id", "text", tbl, s"$dir/idx", nDirs = 4)
    val states = scala.collection.mutable.ArrayBuffer(probe(tbl))
    (0 until 3).foreach { i =>
      Bm25.appendToIndex(
        corpus.filter(t => t._1 >= 20 + i * 20 && t._1 < 40 + i * 20)
          .toDF("doc_id", "text"), "doc_id", "text", tbl)
      states += probe(tbl)
    }
    Bm25.deleteFromIndex(spark, tbl, Seq(Tuple1(3L)).toDF("id"))
    val rows = spark.table(Snapshots.logFilesTable(tbl))
      .select("commit_id", "kind", "files").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2).length))
      .sortBy(_._1).toSeq
    // exactly one base (the build), one add per append, NOTHING for the
    // delete commit (its tracked member is untouched) — the shape that
    // keeps the log O(commits + batch files), never O(commits × files)
    assert(rows.map(_._2) == Seq("base", "add", "add", "add"),
      s"delta log shape: $rows")
    assert(rows.map(_._1) == Seq(0L, 1L, 2L, 3L), s"delta log ids: $rows")
    val baseN = rows.head._3
    assert(rows.tail.forall(r => r._3 <= baseN),
      s"each append's add row must hold only ITS batch's files (never " +
        s"the cumulative list): $rows")
    // and the folds reconstruct the historical states exactly within
    // the retention window (each append flips the dfs generation, and
    // retention keeps ONE superseded generation per member — so two
    // commits back is the guaranteed-servable depth)
    assert(probe(tbl, AsOf.Commits(1)) == states(3),
      "asOf=1 must fold base+adds to the pre-delete state")
    assert(probe(tbl, AsOf.Commits(2)) == states(2),
      "asOf=2 must fold base+adds to the post-second-append state")
    // deeper targets a retired dfs generation: loudly NAMED, never a
    // partial read (the Delta VACUUM trade, per the retention contract)
    val retired = intercept[IllegalStateException] { probe(tbl, AsOf.Commits(4)) }
    assert(retired.getMessage.contains("retired"))
    // addsSinceBase counts the growth for the auto-compaction trigger
    assert(Snapshots.addsSinceBase(spark, tbl, s"${tbl}_postings") == 3L)
    // ... and a compaction resets it with a fresh base
    Bm25.compactIndex(spark, tbl)
    assert(Snapshots.addsSinceBase(spark, tbl, s"${tbl}_postings") == 0L)
    val afterCompact = spark.table(Snapshots.logFilesTable(tbl))
      .filter(col("commit_id") === 5L).select("kind").collect()
      .map(_.getString(0)).toSeq
    assert(afterCompact == Seq("base"),
      "a generation flip must open a fresh base manifest")
  }

  test("per-member version-skew refusal: a tracked member with no base " +
      "at or before the target refuses across an append instead of " +
      "leaking later files (r15 ADVICE)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_skew").toString
    val tbl = "g_snap_skew"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    Bm25.appendToIndex(
      corpus.map { case (i, t) => (1000L + i, t) }.toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    // simulate version skew: strip the member's BASE row (as if the
    // build predated file tracking) while keeping the append's add row
    val lf = Snapshots.logFilesTable(tbl)
    val loc = Generations.location(spark, lf)
    val kept = spark.table(lf).filter(col("kind") =!= "base").collect()
    val schema = spark.table(lf).schema
    spark.sql(s"DROP TABLE $lf")
    Generations.delete(spark, loc)
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(kept: _*)), schema)
      .coalesce(1).write.format("parquet").option("path", loc)
      .saveAsTable(lf)
    val e = intercept[IllegalStateException] { probe(tbl, AsOf.Commits(1)) }
    assert(e.getMessage.contains(s"${tbl}_postings") &&
      e.getMessage.contains("no base file manifest"),
      s"must refuse NAMING the unreconstructable member: ${e.getMessage}")
  }

  test("unrecordedFiles audits the crash window between an append's " +
      "file moves and its snapshot record; a generation rewrite heals " +
      "the log (r16)") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_audit").toString
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 23 + d * 7).toFloat).toSeq))
    val tbl = "g_snap_audit"
    Knn.writeIvfIndex(vecs.filter(_._1 % 2 == 0).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tbl, s"$dir/ivf", nCells = 4)
    Knn.appendToIvfIndex(
      vecs.filter(_._1 % 2 == 1).toDF("vec_id", "embedding"),
      "vec_id", "embedding", tbl)
    // clean lifecycle: the directory and the folded log agree
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_cells").isEmpty)
    // simulate the crash: the batch's files moved in, but the snapshot
    // record never landed — strip the append's add row from the log
    val lf = Snapshots.logFilesTable(tbl)
    val loc = Generations.location(spark, lf)
    val kept = spark.table(lf).filter(col("kind") === "base").collect()
    val schema = spark.table(lf).schema
    spark.sql(s"DROP TABLE $lf")
    Generations.delete(spark, loc)
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(kept: _*)), schema)
      .coalesce(1).write.format("parquet").option("path", loc)
      .saveAsTable(lf)
    val missing = Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_cells")
    assert(missing.nonEmpty,
      "the audit must surface the directory-ahead-of-log divergence")
    assert(missing.forall(_.startsWith("cell=")),
      s"unrecorded entries are generation-relative data files: $missing")
    // live probes read the directory and are unaffected throughout
    val live = Knn.ivfTopKAgainstIndex(
        vecs.filter(_._1 < 3).toDF("vec_id", "embedding"), tbl,
        "vec_id", "embedding", k = 5)
      .collect()
    assert(live.nonEmpty)
    // the documented repair: any generation rewrite opens a fresh BASE
    // manifest (full list of what it just wrote) — log healed
    Knn.compactIvfIndex(spark, tbl)
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_cells").isEmpty,
      "a compaction's base manifest must reconcile the log with disk")
  }

  test("a legacy (r15, full-list) file log migrates one-time to the " +
      "delta schema and keeps serving history") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_mig").toString
    val tbl = "g_snap_mig"
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val atBuild = probe(tbl)
    // rewrite the file log in the r15 shape: (commit_id, member, files)
    // full-list rows, no gen/kind columns
    val lf = Snapshots.logFilesTable(tbl)
    val loc = Generations.location(spark, lf)
    val legacyRows = spark.table(lf)
      .select(col("commit_id"), col("member"), col("files")).collect()
    val legacySchema = spark.table(lf)
      .select(col("commit_id"), col("member"), col("files")).schema
    spark.sql(s"DROP TABLE $lf")
    Generations.delete(spark, loc)
    spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](
          java.util.Arrays.asList(legacyRows: _*)), legacySchema)
      .coalesce(1).write.format("parquet").option("path", loc)
      .saveAsTable(lf)
    assert(!spark.table(lf).columns.contains("kind"))
    // the next maintenance op migrates the log in place...
    Bm25.deleteFromIndex(spark, tbl, Seq(Tuple1(3L)).toDF("id"))
    assert(spark.table(lf).columns.contains("kind"),
      "record() must migrate a legacy file log to the delta schema")
    // ...and history still serves: asOf=1 targets the build commit,
    // whose legacy full-list row reads as a base manifest
    assert(probe(tbl, AsOf.Commits(1)) == atBuild,
      "legacy full-list rows must keep serving as base manifests")
    // appends after migration open with a fresh base (the legacy gen is
    // unknown), then deltas take over
    Bm25.appendToIndex(
      corpus.map { case (i, t) => (2000L + i, t) }.toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    val kinds = spark.table(lf).select("commit_id", "kind").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1).toSeq
    assert(kinds.last._2 == "base" || kinds.count(_._2 == "base") >= 2,
      s"post-migration appends must be anchored by a fresh base: $kinds")
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_postings").isEmpty)
  }

  test("IVF and MinHash maintenance record manifests too (family " +
      "symmetry of the log)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap_sym").toString
    val vecs = (0L until 40L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 31 + d).toFloat).toSeq))
    Knn.writeIvfIndex(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      "g_snap_ivf", s"$dir/ivf", nCells = 4)
    Knn.appendToIvfIndex(
      (100L until 110L).map(i =>
        (i, Array.tabulate(8)(d => math.cos(i + d).toFloat).toSeq))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", "g_snap_ivf")
    val ivfHist = Snapshots.history(spark, "g_snap_ivf")
      .select("op", "revertible").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(ivfHist == Seq(("append", false), ("build", true)))

    val docs = (0L until 30L).map(i => (i, s"minhash history doc $i payload"))
    Dedup.writeMinhashIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      "g_snap_mh", s"$dir/mh", numBuckets = 4)
    Dedup.compactMinhashIndex(spark, "g_snap_mh")
    val mhHist = Snapshots.history(spark, "g_snap_mh")
      .select("op", "revertible").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(mhHist == Seq(("compact", true), ("build", true)))
    // the manifests resolve: every recorded member generation exists
    val m = Snapshots.resolveStateAsOf(spark, "g_snap_mh", 1)
    assert(m.keySet == Set("g_snap_mh_sigs", "g_snap_mh_buckets",
      "g_snap_mh_meta", "g_snap_mh_deletes"))
    m.values.foreach(_.read(spark))
  }
}
