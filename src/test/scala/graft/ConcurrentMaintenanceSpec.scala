package graft

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Dedup}
import graft.sources.{AsOf, ConcurrentMaintenanceException, Generations, PendingAppend, Tombstones}

/** The multi-writer contract of index maintenance (round 14, third
  * session — the "operational concurrency" gap the r13 verdict named):
  *
  *  1. maintenance ops on one index family SERIALIZE within the JVM
  *     ([[Generations.withMaintenanceLock]]) — two concurrent appends /
  *     deletes / ingests both land, none is lost to a read-merge-write
  *     race (previously documented as "can lose one batch");
  *  2. a writer that bypasses the lock (another JVM sharing the
  *     metastore — simulated here by driving reserve/commit directly)
  *     is detected by the CAS commit: the loser aborts LOUDLY with
  *     [[ConcurrentMaintenanceException]], its generation is dropped,
  *     and the winner's commit is untouched — never a silent clobber;
  *  3. [[Generations.reserve]] hands racing writers DISTINCT generation
  *     names and paths (the old nextGenTable pattern gave both the same
  *     name, so the second write overwrote the first's files);
  *  4. retirement never touches a generation NEWER than the superseded
  *     one — a concurrent writer's in-flight reservation survives other
  *     writers' commits and loses its own CAS cleanly instead of having
  *     files deleted under a running write job.
  */
class ConcurrentMaintenanceSpec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  private def inThreads(bodies: (() => Unit)*): Seq[Option[Throwable]] = {
    val start = new CountDownLatch(1)
    val errs = new Array[Option[Throwable]](bodies.length)
    val ts = bodies.zipWithIndex.map { case (b, i) =>
      val t = new Thread(() => {
        start.await()
        errs(i) = try { b(); None } catch { case e: Throwable => Some(e) }
      })
      t.start(); t
    }
    start.countDown()
    ts.foreach(_.join(300000))
    errs.toSeq
  }

  private def bmRows(table: String, terms: Seq[(Long, String)]): Seq[(Long, Long, Long, Long)] =
    Bm25.topKAgainstIndex(terms.toDF("qid", "term"), table, k = 100)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("concurrent BM25 appends on one index both land; result equals " +
      "a fresh build over the union") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_bm25").toString
    val docs = (0L until 90L).map { i =>
      (i, s"shared words plus rare${i % 9} marker doc$i")
    }
    val (base, b1, b2) =
      (docs.filter(_._1 % 3 == 0), docs.filter(_._1 % 3 == 1),
        docs.filter(_._1 % 3 == 2))
    val tbl = "g_conc_bm25"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val errs = inThreads(
      () => Bm25.appendToIndex(b1.toDF("doc_id", "text"), "doc_id", "text", tbl),
      () => Bm25.appendToIndex(b2.toDF("doc_id", "text"), "doc_id", "text", tbl))
    assert(errs.forall(_.isEmpty), s"concurrent appends must both succeed: $errs")
    // reference: one fresh build over the whole corpus
    val ref = "g_conc_bm25_ref"
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      ref, s"$dir/ref", nDirs = 4)
    val qs = Seq((1L, "rare4"), (2L, "marker"), (3L, "rare7"))
    assert(bmRows(tbl, qs) == bmRows(ref, qs),
      "both concurrent batches must be fully merged (df, N, Σdl and postings)")
  }

  test("concurrent tombstone adds merge both id batches (no lost delete)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_del").toString
    val docs = (0L until 40L).map(i => (i, s"common text rare${i % 5} doc$i"))
    val tbl = "g_conc_del_bm25"
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val errs = inThreads(
      () => Bm25.deleteFromIndex(spark,
        tbl, docs.filter(_._1 % 4 == 0).map(_._1).toDF("id")),
      () => Bm25.deleteFromIndex(spark,
        tbl, docs.filter(_._1 % 4 == 1).map(_._1).toDF("id")))
    assert(errs.forall(_.isEmpty), s"concurrent deletes must both succeed: $errs")
    val expected = docs.map(_._1).filter(i => i % 4 == 0 || i % 4 == 1).toSet
    val got = spark.table(Tombstones.tableName(tbl))
      .collect().map(_.getLong(0)).toSet
    assert(got == expected,
      "the tombstone list must hold the UNION of both concurrent batches")
  }

  test("CAS commit: a bypassing concurrent writer loses loudly, the " +
      "winner's generation survives, the loser's is dropped") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_cas").toString
    val live = "g_conc_cas"
    def writeGen(gen: String, tag: String): Unit = {
      // no DROP: the reserve claim is held continuously, overwrite
      // replaces the placeholder (the round-15 contract)
      Seq((1L, tag)).toDF("id", "tag")
        .write.format("parquet")
        .option("path", Generations.genPath(s"$dir/t", gen))
        .mode("overwrite").saveAsTable(gen)
    }
    val g0 = Generations.reserve(spark, live)
    writeGen(g0, "base")
    Generations.commit(spark, live, g0, None)
    // writer A observes the base and reserves — but stalls before commit
    val baseA = Generations.currentOpt(spark, live)
    val gA = Generations.reserve(spark, live)
    writeGen(gA, "loser")
    // writer B (same base) reserves, and reserve must hand it a
    // DIFFERENT generation name/path than A's in-flight one
    val baseB = Generations.currentOpt(spark, live)
    val gB = Generations.reserve(spark, live)
    assert(gA != gB, "racing reservations must never share a name")
    writeGen(gB, "winner")
    Generations.commit(spark, live, gB, baseB)
    // A wakes up and commits into a world that moved: loud abort
    val e = intercept[ConcurrentMaintenanceException] {
      Generations.commit(spark, live, gA, baseA)
    }
    assert(e.getMessage.contains(gA))
    assert(Generations.current(spark, live) == gB,
      "the winner's flip must be untouched by the loser's abort")
    assert(!spark.catalog.tableExists(gA),
      "the loser's generation registration must be dropped on abort")
    assert(spark.table(live).select($"tag").head().getString(0) == "winner")
  }

  test("retirement skips in-flight reservations newer than the " +
      "superseded generation") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_ret").toString
    val live = "g_conc_ret"
    def writeGen(gen: String, tag: String): Unit = {
      // no DROP: the reserve claim is held continuously, overwrite
      // replaces the placeholder (the round-15 contract)
      Seq((1L, tag)).toDF("id", "tag")
        .write.format("parquet")
        .option("path", Generations.genPath(s"$dir/t", gen))
        .mode("overwrite").saveAsTable(gen)
    }
    val g0 = Generations.reserve(spark, live)
    writeGen(g0, "g0")
    Generations.commit(spark, live, g0, None)
    val base1 = Generations.currentOpt(spark, live)
    val g1 = Generations.reserve(spark, live)
    writeGen(g1, "g1")
    Generations.commit(spark, live, g1, base1) // g0 retained (superseded)
    // an in-flight reservation from a concurrent writer...
    val inflight = Generations.reserve(spark, live)
    // ...and another writer that commits while it is pending
    val base2 = Generations.currentOpt(spark, live)
    val g3 = Generations.reserve(spark, live)
    assert(g3 != inflight)
    writeGen(g3, "g3")
    Generations.commit(spark, live, g3, base2)
    assert(spark.catalog.tableExists(inflight),
      "a newer in-flight reservation must survive another writer's commit")
    assert(!spark.catalog.tableExists(g0),
      "generations older than the superseded one are retired as before")
    assert(spark.catalog.tableExists(g1),
      "the superseded generation is retained for in-flight readers")
  }

  test("vacuum queues behind an in-flight maintenance op: a live " +
      "writer's reservation is never deleted mid-write (r15 directive 3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_vac_fam").toString
    // member-name shape: familyOf strips _postings, so vacuum contends
    // on the same lock every maintenance op of family g_vac_fam takes
    val live = "g_vac_fam_postings"
    def writeGen(gen: String, tag: String): Unit =
      Seq((1L, tag)).toDF("id", "tag")
        .write.format("parquet")
        .option("path", Generations.genPath(s"$dir/t", gen))
        .mode("overwrite").saveAsTable(gen)
    val g0 = Generations.reserve(spark, live)
    writeGen(g0, "g0")
    Generations.commit(spark, live, g0, None)
    @volatile var vacuumDone = false
    @volatile var reservedGen: String = null
    val lockHeld = new CountDownLatch(1)
    val writer = new Thread(() =>
      Generations.withMaintenanceLock("g_vac_fam") {
        val base = Generations.currentOpt(spark, live)
        reservedGen = Generations.reserve(spark, live)
        lockHeld.countDown()
        Thread.sleep(2000) // hold the reservation with the lock held
        writeGen(reservedGen, "g1")
        Generations.commit(spark, live, reservedGen, base)
      })
    writer.start()
    lockHeld.await()
    val vac = new Thread(() => {
      Generations.vacuum(spark, live)
      vacuumDone = true
    })
    vac.start()
    Thread.sleep(800)
    assert(!vacuumDone,
      "vacuum must BLOCK on the family maintenance lock while a writer " +
        "is in flight (the old behavior deleted its reservation here)")
    assert(spark.catalog.tableExists(reservedGen),
      "the in-flight reservation must survive a concurrent vacuum call")
    writer.join(300000); vac.join(300000)
    assert(vacuumDone)
    assert(Generations.current(spark, live) == reservedGen,
      "the writer's commit must land after the queued vacuum")
    assert(spark.table(live).select($"tag").head().getString(0) == "g1")
    assert(!spark.catalog.tableExists(g0),
      "the queued vacuum (running after the writer) reclaims the " +
        "superseded generation as usual")
  }

  test("retryOnConcurrentMaintenance: two racing cross-JVM-style " +
      "writers both land without manual intervention (r15 directive 4)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_retry_cas").toString
    val live = "g_retry_cas"
    def writeRows(gen: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("id", "tag")
        .write.format("parquet")
        .option("path", Generations.genPath(s"$dir/t", gen))
        .mode("overwrite").saveAsTable(gen)
    val g0 = Generations.reserve(spark, live)
    writeRows(g0, Seq((0L, "base")))
    Generations.commit(spark, live, g0, None)
    // a read-merge-write maintenance body that deliberately BYPASSES the
    // family lock (the cross-JVM simulation): without retry, one of two
    // racers aborts with ConcurrentMaintenanceException and its batch is
    // dropped; wrapped, the loser re-runs against the winner's state
    def addRow(id: Long, tag: String): Unit =
      Generations.retryOnConcurrentMaintenance() {
        val base = Generations.currentOpt(spark, live)
        val cur = spark.table(Generations.current(spark, live))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        val gN = Generations.reserve(spark, live)
        writeRows(gN, cur :+ (id -> tag))
        Thread.sleep(400) // widen the race window so the CAS must decide
        Generations.commit(spark, live, gN, base)
      }
    val errs = inThreads(
      () => addRow(1L, "a"),
      () => addRow(2L, "b"))
    assert(errs.forall(_.isEmpty),
      s"both retried writers must land: $errs")
    val got = spark.table(live).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set(0L -> "base", 1L -> "a", 2L -> "b"),
      s"the final state must hold BOTH batches merged, got $got")
  }

  test("a BM25 append that loses a cross-JVM dfs race leaves the index " +
      "UNCHANGED (staged postings) and lands on retry (r15 ADVICE 3)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stage_app").toString
    val docs = (0L until 60L).map(i => (i, s"shared words rare${i % 6} doc$i"))
    val (base, batch) = (docs.filter(_._1 % 2 == 0), docs.filter(_._1 % 2 == 1))
    val tbl = "g_stage_app"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    def postingFiles(): Set[String] = {
      val root = new org.apache.hadoop.fs.Path(
        Generations.location(spark, Generations.current(spark, s"${tbl}_postings")))
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val it = fs.listFiles(root, true)
      val out = scala.collection.mutable.Set.empty[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.startsWith("part-")) out += f.getPath.toString
      }
      out.toSet
    }
    val before = postingFiles()
    // a cross-JVM-style racer: flips the dfs member to an identical COPY
    // (a no-op competing commit) OUTSIDE the family lock, inside the
    // append's stage-write window — the append's dfs CAS must then lose.
    // The competing generation is FULLY PREPARED up front so the racing
    // commit itself is one ~ms catalog op, and it triggers the moment
    // the append's staging directory appears (which is after the append
    // observed its dfs base and long before its own CAS) — the race is
    // decided deterministically.
    val dGen0 = Generations.ensureGen(spark, s"${tbl}_dfs")
    val copy = spark.table(dGen0).collect()
    val nextRacer = Generations.reserve(spark, s"${tbl}_dfs")
    spark.createDataFrame(
        spark.sparkContext.parallelize(copy.toSeq, 1),
        spark.table(dGen0).schema)
      .write.format("parquet")
      .option("path", Generations.genPath(
        Generations.basePath(spark, s"${tbl}_dfs"), nextRacer))
      .mode("overwrite").saveAsTable(nextRacer)
    val racer = new Thread(() => {
      val parent = new java.io.File(s"$dir/idx")
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (System.nanoTime() < deadline &&
          !Option(parent.listFiles()).exists(_.exists(
            _.getName.startsWith("postings__stage"))))
        Thread.sleep(10)
      Generations.commit(spark, s"${tbl}_dfs", nextRacer, Some(dGen0))
    })
    racer.start()
    val e = intercept[ConcurrentMaintenanceException] {
      Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    }
    racer.join(300000)
    assert(e.getMessage.contains("moved"))
    assert(postingFiles() == before,
      "a lost dfs race must leave the postings generation byte-identical " +
        "(the staged files were deleted, never moved in)")
    // the op is retryable: wrapped, it lands against the new state
    Generations.retryOnConcurrentMaintenance() {
      Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    }
    // final ranking equals a fresh build over the union
    val ref = "g_stage_app_ref"
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      ref, s"$dir/ref", nDirs = 4)
    val qs = Seq((1L, "rare2"), (2L, "rare5"), (3L, "words"))
    assert(bmRows(tbl, qs) == bmRows(ref, qs),
      "the retried append must fully merge the batch")
  }

  test("concurrent MinHash ingests on one index both grow the history") {
    val dir = java.nio.file.Files.createTempDirectory("graft_conc_mh").toString
    def doc(i: Long) = s"minhash corpus sentence number $i with shared filler words"
    val hist = (0L until 20L).map(i => (i, doc(i)))
    val tbl = "g_conc_mh"
    Dedup.writeMinhashIndex(hist.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", numBuckets = 4)
    val b1 = (100L until 110L).map(i => (i, doc(i)))
    val b2 = (200L until 210L).map(i => (i, doc(i)))
    val errs = inThreads(
      () => { Dedup.ingestAgainstIndex(b1.toDF("doc_id", "text"), tbl,
        "doc_id", "text").collect(); () },
      () => { Dedup.ingestAgainstIndex(b2.toDF("doc_id", "text"), tbl,
        "doc_id", "text").collect(); () })
    assert(errs.forall(_.isEmpty), s"concurrent ingests must both succeed: $errs")
    // exact copies of BOTH batches must now classify dup_history — the
    // race the lock closes is one batch's signatures vanishing from the
    // index (lost append)
    val replay = (b1 ++ b2).map { case (i, t) => (i + 1000L, t) }
    val statuses = Dedup.minhashIncrementalAgainstIndex(
        replay.toDF("doc_id", "text"), tbl, "doc_id", "text")
      .select($"doc_id", $"status").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(statuses.values.forall(_ == "dup_history"),
      s"every replayed doc must match the grown history, got $statuses")
  }

  // ---- append crash recovery (r15 directive 4) ----------------------

  private def crashRecoveryCase(tag: String, crashAt: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_crash_$tag").toString
    val docs = (0L until 60L).map(i => (i, s"shared words rare${i % 6} doc$i"))
    val (base, batch) = (docs.filter(_._1 % 2 == 0), docs.filter(_._1 % 2 == 1))
    val tbl = s"g_crash_$tag"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    PendingAppend.testCrashPoint = crashAt
    val e = intercept[RuntimeException] {
      Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    }
    assert(e.getMessage.contains("simulated crash"))
    // the dead JVM's successor: ANY maintenance op (or the explicit
    // call) completes the append from its PendingAppend intent
    Bm25.recoverPendingAppend(spark, tbl)
    val ref = s"g_crash_${tag}_ref"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      ref, s"$dir/ref", nDirs = 4)
    Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", ref)
    val qs = Seq((1L, "rare1"), (2L, "rare4"), (3L, "words"))
    assert(bmRows(tbl, qs) == bmRows(ref, qs),
      s"recovery after a $crashAt crash must equal a clean append")
    // bounds applied exactly once (n = |base| + |batch|, Σdl matched)
    val b = spark.table(s"${tbl}_bounds").collect()(0)
    val bRef = spark.table(s"${ref}_bounds").collect()(0)
    assert((b.getLong(0), b.getLong(1)) == (bRef.getLong(0), bRef.getLong(1)),
      "the bounds delta must apply exactly once under recovery")
    // the recovery is a RECORDED commit, so the add-file log saw the
    // batch — time travel across it serves the build-time state
    val ops = graft.sources.Snapshots.history(spark, tbl)
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops.contains("append-recovery"), s"recovery must be recorded: $ops")
    val baseOnly = s"g_crash_${tag}_base"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      baseOnly, s"$dir/base", nDirs = 4)
    assert(
      Bm25.topKAgainstIndex(qs.toDF("qid", "term"), tbl, k = 100,
          asOf = AsOf.Commits(1))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Bm25.topKAgainstIndex(qs.toDF("qid", "term"), baseOnly, k = 100)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq,
      "time travel across the recovered append must serve the build state")
    // recovery is idempotent: a second call is a no-op
    val histBefore = graft.sources.Snapshots.history(spark, tbl).count()
    Bm25.recoverPendingAppend(spark, tbl)
    assert(graft.sources.Snapshots.history(spark, tbl).count() == histBefore)
  }

  test("a crash between the dfs commit and the staged move rolls " +
      "FORWARD: recovery equals a clean append (r15 directive 4)") {
    crashRecoveryCase("dfsc", "bm25.append.afterDfsCommit")
  }

  test("a crash between the staged move and the bounds delta rolls " +
      "FORWARD with the bounds applied exactly once") {
    crashRecoveryCase("move", "pending.afterMove")
  }

  test("a pending sidecar whose df merge never committed rolls BACK: " +
      "stage and sidecar deleted, index untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft_crash_rb").toString
    val docs = (0L until 40L).map(i => (i, s"shared words rare${i % 4} doc$i"))
    val tbl = "g_crash_rb"
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val qs = Seq((1L, "rare2"), (2L, "words"))
    val before = bmRows(tbl, qs)
    // manufacture the crash-before-commit residue: a stage dir and a
    // pending intent, with NO batch tag on the current dfs generation
    val stage = new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, s"${tbl}_postings") + "__stagedead1")
    val fs = stage.getFileSystem(spark.sessionState.newHadoopConf())
    fs.mkdirs(new org.apache.hadoop.fs.Path(stage, "tb=0"))
    PendingAppend.writeIntent(spark, s"${tbl}_postings", "dead1",
      Seq(PendingAppend.StagedMember(s"${tbl}_postings",
        Generations.current(spark, s"${tbl}_postings"), "partitioned",
        stage.toString, Seq("tb=0/ghost.parquet"))))
    Bm25.recoverPendingAppend(spark, tbl)
    assert(!fs.exists(stage), "the dead stage must be reclaimed")
    assert(!PendingAppend.intentExists(spark, s"${tbl}_postings", "dead1"),
      "the sidecar must be reclaimed")
    assert(bmRows(tbl, qs) == before, "the index must be untouched")
    val ops = graft.sources.Snapshots.history(spark, tbl)
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops == Seq("build"), s"a rollback records nothing: $ops")
  }

  // ---- cross-JVM maintenance lease (r15 directive 4) -----------------

  test("the maintenance lease blocks behind a live foreign holder and " +
      "breaks an expired one; timeout fails loudly naming the holder") {
    def foreignLease(family: String, ttlMs: Long): Unit =
      spark.sql(s"CREATE TABLE ${family}__lease (graft_lease INT) USING " +
        s"parquet TBLPROPERTIES ('graft.lease_owner' = 'other-jvm', " +
        s"'graft.lease_expiry' = '${System.currentTimeMillis() + ttlMs}')")
    // expired foreign lease: broken immediately, op proceeds
    foreignLease("g_lease_a", ttlMs = -1000L)
    var ran = false
    Generations.withMaintenanceLock("g_lease_a") { ran = true }
    assert(ran)
    assert(!spark.catalog.tableExists("g_lease_a__lease"),
      "the lease must be released after the op")
    // live foreign lease expiring in ~2s: the waiter polls, breaks it at
    // expiry, and proceeds — elapsed covers the wait
    foreignLease("g_lease_b", ttlMs = 2000L)
    val t0 = System.nanoTime()
    Generations.withMaintenanceLock("g_lease_b") {}
    val waitedMs = (System.nanoTime() - t0) / 1000000L
    assert(waitedMs >= 1500L,
      s"the op must have waited for the foreign lease to expire: ${waitedMs}ms")
    // live foreign lease far from expiry + short wait budget: loud throw
    foreignLease("g_lease_c", ttlMs = 600000L)
    spark.conf.set("spark.graft.lease.waitSeconds", "1")
    try {
      val e = intercept[ConcurrentMaintenanceException] {
        Generations.withMaintenanceLock("g_lease_c") {}
      }
      assert(e.getMessage.contains("g_lease_c"))
    } finally {
      spark.conf.unset("spark.graft.lease.waitSeconds")
      spark.sql("DROP TABLE IF EXISTS g_lease_c__lease")
    }
  }

  test("the rename-based lease break is atomic: two racing breakers of " +
      "one expired lease admit exactly one claimant (r17 directive 2)") {
    val fam = "g_lease_race"
    spark.sql(s"CREATE TABLE ${fam}__lease (graft_lease INT) USING " +
      s"parquet TBLPROPERTIES ('graft.lease_owner' = 'dead-jvm', " +
      s"'graft.lease_expiry' = '${System.currentTimeMillis() - 5000L}')")
    // both threads bypass the in-JVM monitor (the cross-JVM simulation)
    // and race the break+create; the rename tie-break admits ONE — the
    // loser observes a LIVE lease and, with a 1 s wait budget, fails
    // loudly instead of double-holding
    spark.conf.set("spark.graft.lease.waitSeconds", "1")
    try {
      val errs = inThreads(
        () => Generations.acquireLease(spark, fam),
        () => Generations.acquireLease(spark, fam))
      val failures = errs.flatten
      assert(failures.length == 1,
        s"exactly one racer must lose (hold a live lease loudly): $errs")
      assert(failures.head.isInstanceOf[ConcurrentMaintenanceException])
      assert(spark.catalog.tableExists(s"${fam}__lease"),
        "the winner's lease must exist")
      // the winner's entry carries THIS JVM's owner id (both racers
      // share it here; the point is the entry survived both breaks)
      val owner = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${fam}__lease"))
        .properties.get("graft.lease_owner")
      assert(owner.isDefined && owner.get != "dead-jvm")
      // no broken/released residue entries linger
      val residue = spark.sessionState.catalog
        .listTables("default", s"${fam}__lease_*")
      assert(residue.isEmpty, s"no residue entries may linger: $residue")
    } finally {
      spark.conf.unset("spark.graft.lease.waitSeconds")
      Generations.releaseLease(spark, fam)
      spark.sql(s"DROP TABLE IF EXISTS ${fam}__lease")
    }
  }

  test("release is owner-conditional: a lease re-claimed by another " +
      "JVM survives the stale holder's release (r17 directive 2)") {
    val fam = "g_lease_stale"
    // the 'new holder' (another JVM) owns the lease now — the stale
    // holder's release must leave it untouched
    spark.sql(s"CREATE TABLE ${fam}__lease (graft_lease INT) USING " +
      s"parquet TBLPROPERTIES ('graft.lease_owner' = 'new-holder-jvm', " +
      s"'graft.lease_expiry' = '${System.currentTimeMillis() + 600000L}')")
    try {
      Generations.releaseLease(spark, fam) // we are the stale holder
      assert(spark.catalog.tableExists(s"${fam}__lease"),
        "the new holder's lease must survive a stale release")
      val owner = spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${fam}__lease"))
        .properties.get("graft.lease_owner")
      assert(owner.contains("new-holder-jvm"),
        "the surviving lease must still be the new holder's")
    } finally spark.sql(s"DROP TABLE IF EXISTS ${fam}__lease")
  }

  test("a BM25 append rolled BACK by a foreign recovery mid-op aborts " +
      "loudly before its df commit; the index is untouched and the " +
      "re-run lands (r16 ADVICE — the lease-TTL-outrun window)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_outrun_rb").toString
    val docs = (0L until 60L).map(i => (i, s"shared words rare${i % 6} doc$i"))
    val (base, batch) = (docs.filter(_._1 % 2 == 0), docs.filter(_._1 % 2 == 1))
    val tbl = "g_outrun_rb"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    val before = bmRows(tbl, Seq((1L, "rare2"), (2L, "words")))
    // the foreign recoverer fires at the exact interleaving point: the
    // sidecar is down, the df merge not yet committed → recovery rolls
    // the batch BACK (this simulates another JVM breaking the expired
    // lease and running recovery while this op is still alive)
    Bm25.testAfterPendingHook = () => Bm25.recoverPendingAppend(spark, tbl)
    val e = intercept[IllegalStateException] {
      Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    }
    assert(e.getMessage.contains("rolled the batch back"),
      s"the outrun append must abort loudly, got: ${e.getMessage}")
    assert(bmRows(tbl, Seq((1L, "rare2"), (2L, "words"))) == before,
      "the aborted append must leave the index untouched")
    // re-running the batch lands cleanly
    Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    val ref = "g_outrun_rb_ref"
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      ref, s"$dir/ref", nDirs = 4)
    val qs2 = Seq((1L, "rare2"), (2L, "rare5"), (3L, "words"))
    assert(bmRows(tbl, qs2) == bmRows(ref, qs2))
  }

  test("a BM25 append completed by a foreign recovery mid-op finishes " +
      "as a success with the bounds applied exactly once (r16 ADVICE)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_outrun_ff").toString
    val docs = (0L until 60L).map(i => (i, s"shared words rare${i % 6} doc$i"))
    val (base, batch) = (docs.filter(_._1 % 2 == 0), docs.filter(_._1 % 2 == 1))
    val tbl = "g_outrun_ff"
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 4)
    // the foreign recoverer fires right AFTER the df commit: it sees
    // the committed tag and rolls the batch FORWARD to completion —
    // the live op must then detect the vanished sidecar and finish
    // WITHOUT double-moving, double-counting bounds, or double-recording
    Bm25.testAfterDfsCommitHook = () => Bm25.recoverPendingAppend(spark, tbl)
    Bm25.appendToIndex(batch.toDF("doc_id", "text"), "doc_id", "text", tbl)
    val ref = "g_outrun_ff_ref"
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      ref, s"$dir/ref", nDirs = 4)
    val qs2 = Seq((1L, "rare2"), (2L, "rare5"), (3L, "words"))
    assert(bmRows(tbl, qs2) == bmRows(ref, qs2),
      "the recovered append must equal a clean build over the union")
    val b = spark.table(s"${tbl}_bounds").collect()(0)
    val bRef = spark.table(s"${ref}_bounds").collect()(0)
    assert((b.getLong(0), b.getLong(1)) == (bRef.getLong(0), bRef.getLong(1)),
      "the bounds delta must apply exactly once across both writers")
    val ops = graft.sources.Snapshots.history(spark, tbl)
      .select("op").collect().map(_.getString(0)).toSeq
    assert(ops.count(o => o == "append" || o == "append-recovery") == 1,
      s"exactly one recorded append commit: $ops")
  }

  test("the lease is reentrant per family, held across the nested body, " +
      "and released on exception") {
    Generations.withMaintenanceLock("g_lease_re") {
      assert(spark.catalog.tableExists("g_lease_re__lease"),
        "the lease table is the claim")
      Generations.withMaintenanceLock("g_lease_re") {
        assert(spark.catalog.tableExists("g_lease_re__lease"))
      }
      // the nested exit must NOT have released the outer hold
      assert(spark.catalog.tableExists("g_lease_re__lease"))
    }
    assert(!spark.catalog.tableExists("g_lease_re__lease"))
    intercept[RuntimeException] {
      Generations.withMaintenanceLock("g_lease_ex") {
        throw new RuntimeException("boom")
      }
    }
    assert(!spark.catalog.tableExists("g_lease_ex__lease"),
      "the lease must be released when the body throws")
  }
}
