package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.operators.{Bm25, Dedup, Knn}
import graft.sources.{AsOf, Generations, PendingAppend, Snapshots}

/** Self-healing append crash recovery through the one
  * [[PendingAppend]] protocol (IVF and MinHash here; BM25's commit-window
  * crash cases live in `ConcurrentMaintenanceSpec`, its stage-residue
  * and legacy-sidecar cases below), so a crash between the staged file
  * moves and the snapshot record never silently truncates historical
  * reads.
  * Each crash half must recover to BIT-EQUALITY with a clean append:
  *
  *  - before the commit marker → roll BACK (stages + sidecar deleted,
  *    index untouched, re-running the batch lands cleanly);
  *  - after the marker (nothing moved / everything moved but not
  *    recorded) → roll FORWARD (moves replayed idempotently, snapshot
  *    commit recorded so the add-file log sees the batch);
  *  - after recovery, `Snapshots.unrecordedFiles` is EMPTY — the crash
  *    window that used to leave the directory ahead of the log is
  *    closed — and recovery is idempotent (a second call is a no-op).
  */
class PendingAppendSpec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  /** 60 vectors in 3 well-separated clusters (4-dim), deterministic. */
  private def vecs: DataFrame = (0L until 60L).map { i =>
    val c = (i % 3).toInt
    val v = Array.fill(4)(0.0f)
    v(c) = 1.0f
    v(3) = i.toFloat / 100f
    (i, v.toSeq)
  }.toDF("vec_id", "embedding")

  private def knnRows(tbl: String,
      asOf: AsOf = AsOf.Live): Seq[(Long, Int, Long, Double)] =
    Knn.ivfTopKAgainstIndex(vecs.filter($"vec_id" < 5), tbl,
        "vec_id", "embedding", k = 3, asOf = asOf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  private def sq8Rows(tbl: String): Seq[(Long, Int, Long)] =
    Knn.ivfTopKAgainstIndexSq8(vecs.filter($"vec_id" < 5), tbl,
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq

  private def ivfCrashCase(tag: String, crashAt: String,
      forward: Boolean): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ivfcr_$tag").toString
    val tbl = s"g_ivfcr_$tag"
    val (evens, odds) =
      (vecs.filter($"vec_id" % 2 === 0), vecs.filter($"vec_id" % 2 === 1))
    Knn.writeIvfIndex(evens, "vec_id", "embedding", tbl, s"$dir/idx",
      nCells = 4)
    val atBuild = knnRows(tbl)
    PendingAppend.testCrashPoint = crashAt
    val e = intercept[RuntimeException] {
      Knn.appendToIvfIndex(odds, "vec_id", "embedding", tbl)
    }
    assert(e.getMessage.contains("simulated crash"))
    // the dead JVM's successor: ANY maintenance op (or the explicit
    // call) replays the decision from the sidecar + marker
    Knn.recoverPendingAppend(spark, tbl)
    if (!forward) {
      // rolled BACK: index untouched, nothing recorded, re-run lands
      assert(knnRows(tbl) == atBuild, "rollback must leave the index untouched")
      val ops = Snapshots.history(spark, tbl)
        .select("op").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("build"), s"a rollback records nothing: $ops")
      Knn.appendToIvfIndex(odds, "vec_id", "embedding", tbl)
    } else {
      val ops = Snapshots.history(spark, tbl)
        .select("op").collect().map(_.getString(0)).toSeq
      assert(ops.contains("append-recovery"),
        s"roll-forward must be a recorded commit: $ops")
      // time travel ACROSS the recovered append serves the build state
      assert(knnRows(tbl, AsOf.Commits(1)) == atBuild,
        "history must step back across the recovered append")
    }
    // either way the final state equals one clean build+append
    val ref = s"g_ivfcr_${tag}_ref"
    Knn.writeIvfIndex(evens, "vec_id", "embedding", ref, s"$dir/ref",
      nCells = 4)
    Knn.appendToIvfIndex(odds, "vec_id", "embedding", ref)
    assert(knnRows(tbl) == knnRows(ref),
      s"recovery after a $crashAt crash must equal a clean append")
    // the closed window: directory and file log agree
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_cells").isEmpty,
      "no file may be present in the directory but absent from the log")
    // idempotent: a second recovery is a no-op
    val histBefore = Snapshots.history(spark, tbl).count()
    Knn.recoverPendingAppend(spark, tbl)
    assert(Snapshots.history(spark, tbl).count() == histBefore)
  }

  test("IVF append crash BEFORE the commit marker rolls BACK: index " +
      "untouched, re-run equals a clean append (r17 directive 1)") {
    ivfCrashCase("intent", "pending.afterIntent", forward = false)
  }

  test("IVF append crash AFTER the marker, before any move, rolls " +
      "FORWARD to bit-equality with a clean append") {
    ivfCrashCase("marker", "pending.afterMarker", forward = true)
  }

  test("IVF append crash after the moves but before the snapshot " +
      "record rolls FORWARD with the commit recorded") {
    ivfCrashCase("move", "pending.afterMove", forward = true)
  }

  test("IVF append crash recovery covers the SQ8 replica: both members " +
      "roll forward as one batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcr_q8").toString
    val tbl = "g_ivfcr_q8"
    val (evens, odds) =
      (vecs.filter($"vec_id" % 2 === 0), vecs.filter($"vec_id" % 2 === 1))
    Knn.writeIvfIndex(evens, "vec_id", "embedding", tbl, s"$dir/idx",
      nCells = 4)
    Knn.quantizeIvfIndex(spark, tbl)
    PendingAppend.testCrashPoint = "pending.afterMarker"
    intercept[RuntimeException] {
      Knn.appendToIvfIndex(odds, "vec_id", "embedding", tbl)
    }
    Knn.recoverPendingAppend(spark, tbl)
    val ref = "g_ivfcr_q8_ref"
    Knn.writeIvfIndex(evens, "vec_id", "embedding", ref, s"$dir/ref",
      nCells = 4)
    Knn.quantizeIvfIndex(spark, ref)
    Knn.appendToIvfIndex(odds, "vec_id", "embedding", ref)
    assert(knnRows(tbl) == knnRows(ref))
    assert(sq8Rows(tbl) == sq8Rows(ref),
      "the SQ8 replica's staged batch must roll forward with the cells")
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_cells").isEmpty)
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_cells_q8").isEmpty)
  }

  // ----------------------------------------------------------- minhash

  private def doc(i: Long) =
    s"minhash corpus sentence number $i with shared filler words"

  private def mhStatuses(tbl: String, ids: Seq[Long]): Map[Long, String] =
    Dedup.minhashIncrementalAgainstIndex(
        ids.map(i => (i + 5000L, doc(i))).toDF("doc_id", "text"),
        tbl, "doc_id", "text")
      .select($"doc_id", $"status").collect()
      .map(r => (r.getLong(0) - 5000L, r.getString(1))).toMap

  private def mhCrashCase(tag: String, crashAt: String,
      forward: Boolean): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_mhcr_$tag").toString
    val tbl = s"g_mhcr_$tag"
    val hist = (0L until 20L).map(i => (i, doc(i)))
    val batch = (100L until 110L).map(i => (i, doc(i)))
    Dedup.writeMinhashIndex(hist.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", numBuckets = 4)
    PendingAppend.testCrashPoint = crashAt
    val e = intercept[RuntimeException] {
      Dedup.ingestAgainstIndex(batch.toDF("doc_id", "text"), tbl,
        "doc_id", "text").collect()
    }
    assert(e.getMessage.contains("simulated crash"))
    Dedup.recoverPendingAppend(spark, tbl)
    if (!forward) {
      // rolled BACK: the batch left no trace — replays of its docs
      // match only when the batch is re-ingested
      assert(mhStatuses(tbl, batch.map(_._1)).values.forall(_ == "new"),
        "rollback must leave the history without the batch")
      val ops = Snapshots.history(spark, tbl)
        .select("op").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("build"), s"a rollback records nothing: $ops")
      Dedup.ingestAgainstIndex(batch.toDF("doc_id", "text"), tbl,
        "doc_id", "text").collect()
    } else {
      val ops = Snapshots.history(spark, tbl)
        .select("op").collect().map(_.getString(0)).toSeq
      assert(ops.contains("append-recovery"),
        s"roll-forward must be a recorded commit: $ops")
    }
    // the grown history classifies replays of BOTH halves as dups,
    // exactly like a clean build+ingest
    val ref = s"g_mhcr_${tag}_ref"
    Dedup.writeMinhashIndex(hist.toDF("doc_id", "text"), "doc_id", "text",
      ref, s"$dir/ref", numBuckets = 4)
    Dedup.ingestAgainstIndex(batch.toDF("doc_id", "text"), ref,
      "doc_id", "text").collect()
    val ids = hist.map(_._1) ++ batch.map(_._1)
    assert(mhStatuses(tbl, ids) == mhStatuses(ref, ids),
      s"recovery after a $crashAt crash must equal a clean ingest")
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_sigs").isEmpty)
    assert(Snapshots.unrecordedFiles(spark, tbl, s"${tbl}_buckets").isEmpty)
    val histBefore = Snapshots.history(spark, tbl).count()
    Dedup.recoverPendingAppend(spark, tbl)
    assert(Snapshots.history(spark, tbl).count() == histBefore)
  }

  test("MinHash ingest crash BEFORE the commit marker rolls BACK and " +
      "the re-run equals a clean ingest") {
    mhCrashCase("intent", "pending.afterIntent", forward = false)
  }

  test("MinHash ingest crash AFTER the marker rolls FORWARD: both " +
      "bucketed tables complete, snapshot recorded") {
    mhCrashCase("marker", "pending.afterMarker", forward = true)
  }

  // -------------------------------------------------------------- bm25

  private def bmDocs: Seq[(Long, String)] =
    (0L until 60L).map(i => (i, s"shared words rare${i % 6} doc$i"))

  private def bmRows(tbl: String): Seq[(Long, Long, Long, Long)] =
    Bm25.topKAgainstIndex(Seq((1L, "rare1"), (2L, "rare4"), (3L, "words"))
        .toDF("qid", "term"), tbl, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  private def stageDirs(anchor: String): Seq[String] = {
    val parent = new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, anchor)).getParent
    parent.getFileSystem(spark.sessionState.newHadoopConf())
      .listStatus(parent).map(_.getPath.getName)
      .filter(_.contains("__stage")).toSeq
  }

  test("recovery sweeps orphan stage directories (a crash during the " +
      "staged write, before any sidecar)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcr_orph").toString
    // plant a stage directory no intent references beside `anchor`,
    // recover, and check it is reclaimed with the live index untouched
    def sweeps(anchor: String, partDir: String, rows: () => Seq[Product],
        recover: () => Unit): Unit = {
      val orphan = new org.apache.hadoop.fs.Path(
        Generations.basePath(spark, anchor) + "__stagedeadbeef")
      val fs = orphan.getFileSystem(spark.sessionState.newHadoopConf())
      fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, partDir))
      val before = rows()
      recover()
      assert(!fs.exists(orphan), s"the orphan stage beside $anchor must be reclaimed")
      assert(rows() == before, "the live index is untouched")
    }
    val tbl = "g_ivfcr_orph"
    Knn.writeIvfIndex(vecs, "vec_id", "embedding", tbl, s"$dir/idx",
      nCells = 4)
    sweeps(s"${tbl}_cells", "cell=0", () => knnRows(tbl),
      () => Knn.recoverPendingAppend(spark, tbl))
    val bm = "g_bmcr_orph"
    Bm25.buildIndex(bmDocs.toDF("doc_id", "text"), "doc_id", "text", bm,
      s"$dir/bm", nDirs = 4)
    sweeps(s"${bm}_postings", "tb=0", () => bmRows(bm),
      () => Bm25.recoverPendingAppend(spark, bm))
  }

  test("a BM25 append whose staged write throws leaves no stage " +
      "directory behind; the index is unchanged and the re-run lands") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bmcr_fail").toString
    val tbl = "g_bmcr_fail"
    val (base, batch) = bmDocs.partition(_._1 % 2 == 0)
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", tbl,
      s"$dir/idx", nDirs = 4)
    val before = bmRows(tbl)
    val poisoned = org.apache.spark.sql.functions.udf((id: Long, t: String) =>
      if (id == 31L) throw new RuntimeException("poisoned row") else t)
    // the row must fail inside the write JOB, after its output directory
    // exists: the repartition keeps the optimizer from folding the UDF
    // over the local rows on the driver, and without adaptive execution
    // the shuffle feeding the write runs inside that job
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val e = try intercept[Exception] {
      Bm25.appendToIndex(batch.toDF("doc_id", "text").repartition(2)
          .withColumn("text", poisoned($"doc_id", $"text")),
        "doc_id", "text", tbl)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("poisoned row")),
      s"the append must fail on the poisoned row, got: $e")
    assert(stageDirs(s"${tbl}_postings").isEmpty,
      s"a failed staged write must leave no stage: ${stageDirs(s"${tbl}_postings")}")
    assert(bmRows(tbl) == before, "the failed append must leave the index untouched")
    val ops = Snapshots.history(spark, tbl)
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("build"), s"a failed append records nothing: $ops")
    Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    val ref = "g_bmcr_fail_ref"
    Bm25.buildIndex(bmDocs.toDF("doc_id", "text"), "doc_id", "text", ref,
      s"$dir/ref", nDirs = 4)
    assert(bmRows(tbl) == bmRows(ref), "the re-run must equal a clean build")
  }

  /** Build a family's index over half the corpus, crash an append of
    * the other half past its commit marker (files moved in, snapshot not
    * recorded), then REBUILD over the whole corpus: the rebuild must
    * finish the crashed append first, so a later recovery is a no-op and
    * the index equals a clean build. Without that, the rebuild's flip
    * strands the append's marker on a superseded generation and every
    * later maintenance op refuses. */
  private def rebuildOverCrashCase[R](tag: String,
      build: (String, String, Boolean) => Unit, append: String => Unit,
      recover: String => Unit, rows: String => R): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_rebuild_$tag").toString
    val tbl = s"g_rebuild_$tag"
    build(tbl, s"$dir/idx", false)
    PendingAppend.testCrashPoint = "pending.afterMove"
    intercept[RuntimeException](append(tbl))
    build(tbl, s"$dir/idx", true)
    val histBefore = Snapshots.history(spark, tbl).count()
    recover(tbl)
    assert(Snapshots.history(spark, tbl).count() == histBefore,
      "no pending append may survive the rebuild")
    val ref = s"g_rebuild_${tag}_ref"
    build(ref, s"$dir/ref", true)
    assert(rows(tbl) == rows(ref), "the rebuild must equal a clean build")
  }

  test("a BM25 rebuild over an append that crashed past its commit " +
      "marker finishes that append first; recovery stays a no-op after") {
    val (base, batch) = bmDocs.partition(_._1 % 2 == 0)
    rebuildOverCrashCase("bm25",
      (t, path, whole) => Bm25.buildIndex(
        (if (whole) bmDocs else base).toDF("doc_id", "text"), "doc_id",
        "text", t, path, nDirs = 4),
      t => Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id",
        "text", t),
      t => Bm25.recoverPendingAppend(spark, t), bmRows)
  }

  test("an IVF rebuild over an append that crashed past its commit " +
      "marker finishes that append first; recovery stays a no-op after") {
    rebuildOverCrashCase("ivf",
      (t, path, whole) => Knn.writeIvfIndex(
        if (whole) vecs else vecs.filter($"vec_id" % 2 === 0), "vec_id",
        "embedding", t, path, nCells = 4),
      t => Knn.appendToIvfIndex(vecs.filter($"vec_id" % 2 === 1),
        "vec_id", "embedding", t),
      t => Knn.recoverPendingAppend(spark, t), knnRows(_))
  }

  test("a MinHash rebuild over an ingest that crashed past its commit " +
      "marker finishes that ingest first; recovery stays a no-op after") {
    val hist = (0L until 20L).map(i => (i, doc(i)))
    val batch = (100L until 110L).map(i => (i, doc(i)))
    rebuildOverCrashCase("mh",
      (t, path, whole) => Dedup.writeMinhashIndex(
        (if (whole) hist ++ batch else hist).toDF("doc_id", "text"),
        "doc_id", "text", t, path, numBuckets = 4),
      t => Dedup.ingestAgainstIndex(batch.toDF("doc_id", "text"), t,
        "doc_id", "text").collect(),
      t => Dedup.recoverPendingAppend(spark, t),
      t => mhStatuses(t, hist.map(_._1) ++ batch.map(_._1)))
  }

  /** The messages `logger` emits at WARN or above while `body` runs. */
  private def warnings(logger: String)(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    val log = org.apache.logging.log4j.LogManager.getLogger(logger)
      .asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new org.apache.logging.log4j.core.appender.AbstractAppender(
        "graft-warn-capture", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          seen.add(e.getMessage.getFormattedMessage)
    }
    val level = log.getLevel
    capture.start()
    log.addAppender(capture)
    log.setLevel(org.apache.logging.log4j.Level.WARN)
    try body
    finally {
      log.removeAppender(capture)
      log.setLevel(level)
      capture.stop()
    }
    seen.toArray(Array.empty[String]).toSeq
  }

  test("a roll-forward warns about true orphan stages only: the batch's " +
      "own cleaned stage is never reported, a planted orphan is swept") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ivfcr_orphlog").toString
    val tbl = "g_ivfcr_orphlog"
    Knn.writeIvfIndex(vecs.filter($"vec_id" % 2 === 0), "vec_id",
      "embedding", tbl, s"$dir/idx", nCells = 4)
    PendingAppend.testCrashPoint = "pending.afterMarker"
    intercept[RuntimeException] {
      Knn.appendToIvfIndex(vecs.filter($"vec_id" % 2 === 1), "vec_id",
        "embedding", tbl)
    }
    val batchStages = stageDirs(s"${tbl}_cells")
    assert(batchStages.nonEmpty, "the crashed batch left its stage")
    val orphan = new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, s"${tbl}_cells") + "__stagedeadbeef")
    val fs = orphan.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(orphan, "cell=0"))
    val warned = warnings("graft.sources.PendingAppend$") {
      Knn.recoverPendingAppend(spark, tbl)
    }
    assert(warned.exists(_.contains("rolling FORWARD")), warned)
    val orphanWarnings = warned.filter(_.contains("orphan stage directory"))
    assert(orphanWarnings.length == 1 &&
        orphanWarnings.head.contains(orphan.getName),
      s"only the planted orphan may be reported (batch stages " +
        s"$batchStages): $orphanWarnings")
    assert(!fs.exists(orphan), "the planted orphan is swept")
    assert(stageDirs(s"${tbl}_cells").isEmpty, "no stage survives recovery")
  }

  test("a BM25 index holding a sidecar in the pre-PendingAppend format " +
      "refuses recovery loudly, naming the file and the repair") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bmcr_legacy").toString
    val tbl = "g_bmcr_legacy"
    val (base, batch) = bmDocs.partition(_._1 % 2 == 0)
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text", tbl,
      s"$dir/idx", nDirs = 4)
    // the residue the previous build left after a crashed append
    val parent = new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, s"${tbl}_postings")).getParent
    val legacy = new org.apache.hadoop.fs.Path(parent, "_pending_append_old1")
    val fs = legacy.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(legacy, true)
    out.write((s"stage=$parent/postings__stageold1\nn=5\nsumdl=25\n" +
      "file=tb=0/ghost.parquet\n").getBytes("UTF-8"))
    out.close()
    val e = intercept[IllegalStateException](Bm25.recoverPendingAppend(spark, tbl))
    assert(e.getMessage.contains("_pending_append_old1"), e.getMessage)
    assert(e.getMessage.contains("previous build") &&
      e.getMessage.contains("rebuild the index"), e.getMessage)
    // every maintenance op recovers first, so an append refuses too
    intercept[IllegalStateException] {
      Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    }
    assert(fs.exists(legacy), "the legacy sidecar is left for the old build")
  }
}
