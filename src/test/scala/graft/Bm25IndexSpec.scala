package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Bm25
import graft.sources.Snapshots

/** Contract battery for the persisted BM25 serving index (q155,
  * `Bm25.buildIndex` + `topKAgainstIndex`): the index shape must rank
  * bit-identically to the batch shape at `maxDf = ∞` (on a constructed
  * corpus AND on the live sf0.001 q152 batch), and the `maxDf`
  * common-term bound must drop exactly the over-frequent terms from
  * scoring — the declared-lossy stopword prune. */
class Bm25IndexSpec extends AnyFunSuite {
  import SparkSuiteBase.{spark, sfDir}
  import spark.implicits._

  private def buildIdx(docs: Seq[(Long, String)], table: String): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$table").toString
    Bm25.buildIndex(docs.toDF("doc_id", "text"), "doc_id", "text",
      table, s"$dir/idx", nDirs = 4)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  // "the" appears in every doc (the stopword); distinguishing terms are rare
  private val corpus: Seq[(Long, String)] = (0L until 60L).map { i =>
    val rare = s"rare${i % 7}"
    (i, s"the common filler words and the $rare token doc$i")
  }

  test("index shape == batch shape at maxDf = ∞ (constructed corpus)") {
    buildIdx(corpus, "g_bm25_spec_eq")
    val queries = Seq((1L, "the"), (1L, "rare3"), (2L, "rare5"), (3L, "doc11"))
      .toDF("qid", "term")
    val batch = rows(Bm25.topK(corpus.toDF("doc_id", "text"),
      "doc_id", "text", queries, k = 5))
    val viaIndex = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_eq", k = 5))
    assert(viaIndex == batch)
    assert(batch.nonEmpty)
  }

  test("q155 (index) == q152 (batch) on the live sf0.001 corpus") {
    val batch = rows(SparkEntry.queries("q152_bm25_topk")(spark, sfDir))
    val viaIndex = rows(SparkEntry.queries("q155_bm25_index_topk")(spark, sfDir))
    assert(viaIndex == batch)
    assert(batch.nonEmpty)
  }

  test("appendToIndex: build-half + append-half ranks identically to a " +
      "full build AND to the batch shape") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_append").toString
    Bm25.buildIndex(corpus.filter(_._1 % 2 == 0).toDF("doc_id", "text"),
      "doc_id", "text", "g_bm25_spec_app", s"$dir/idx", nDirs = 4)
    Bm25.appendToIndex(corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      "doc_id", "text", "g_bm25_spec_app")
    buildIdx(corpus, "g_bm25_spec_full")
    val queries = Seq((1L, "the"), (1L, "rare3"), (2L, "rare5"), (3L, "doc11"))
      .toDF("qid", "term")
    val appended = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_app", k = 60))
    assert(appended == rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_full", k = 60)))
    assert(appended == rows(Bm25.topK(corpus.toDF("doc_id", "text"),
      "doc_id", "text", queries, k = 60)))
    assert(appended.nonEmpty)
    // df merged additively: "the" is in every doc across both halves
    assert(spark.table("g_bm25_spec_app_dfs").filter($"term" === "the")
      .select($"df").collect()(0).getLong(0) === 60L)
    // bounds merged additively
    val b = spark.table("g_bm25_spec_app_bounds").collect()(0)
    assert(b.getLong(0) === 60L)
  }

  test("compactIndex: one file per directory afterwards, ranking and " +
      "tables bit-identical, generations swap cleanly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_cpt").toString
    Bm25.buildIndex(corpus.filter(_._1 % 2 == 0).toDF("doc_id", "text"),
      "doc_id", "text", "g_bm25_spec_cpt", s"$dir/idx", nDirs = 4)
    Bm25.appendToIndex(corpus.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      "doc_id", "text", "g_bm25_spec_cpt")
    val queries = Seq((1L, "the"), (1L, "rare3"), (2L, "rare5"), (3L, "doc11"))
      .toDF("qid", "term")
    val before = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_cpt", k = 60))
    val postingsBefore = spark.table("g_bm25_spec_cpt_postings")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    def filesPerDir(name: String): Map[String, Int] = {
      // Generations.location resolves the live VIEW to its current
      // generation table's path
      val loc = java.net.URI.create(
        graft.sources.Generations.location(spark, name)).getPath
      new java.io.File(loc).listFiles().filter(_.getName.startsWith("tb="))
        .map(d => d.getName ->
          d.listFiles().count(_.getName.endsWith(".parquet"))).toMap
    }
    // the append left ≥ 2 files in at least one directory ("the" is in
    // every doc of both halves, so its dir certainly has both batches)
    assert(filesPerDir("g_bm25_spec_cpt_postings").values.max >= 2)
    Bm25.compactIndex(spark, "g_bm25_spec_cpt")
    // layout: exactly one term-sorted file per touched directory
    assert(filesPerDir("g_bm25_spec_cpt_postings").values.forall(_ == 1))
    assert(filesPerDir("g_bm25_spec_cpt_dfs").values.forall(_ == 1))
    // rows and ranking untouched; old generation deleted
    assert(spark.table("g_bm25_spec_cpt_postings")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq == postingsBefore)
    assert(rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_cpt", k = 60))
      == before)
    // RETENTION: the superseded generation survives the flip (probes
    // that resolved the live view just before the commit keep their
    // files) and is deleted by the NEXT maintenance commit
    assert(new java.io.File(s"$dir/idx/postings").exists(),
      "superseded postings generation must be retained until the next commit")
    // a second compaction flips generations again, idempotently — and
    // retires the generation superseded two commits ago
    Bm25.compactIndex(spark, "g_bm25_spec_cpt")
    assert(rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_cpt", k = 60))
      == before)
    assert(!new java.io.File(s"$dir/idx/postings").exists(),
      "generation superseded two commits ago must be deleted")
    assert(new java.io.File(s"$dir/idx/postings__g1").exists(),
      "immediately-previous generation must be retained")
  }

  test("WAND prune (default) == prune=false exact scan, row-for-row, on a " +
      "randomized tf/dl corpus — fresh, appended, and at every k") {
    // varied doc lengths and repeated tokens stress the (max_tf, min_dl)
    // monotone bound; common terms dominate so the floor actually prunes
    val rnd = new scala.util.Random(13)
    val vocab = Seq("the", "of", "and", "data", "spark") ++
      (0 until 40).map(i => s"t$i")
    val docs = (0L until 300L).map { i =>
      val len = 3 + rnd.nextInt(25)
      (i, (0 until len).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_wand").toString
    Bm25.buildIndex(docs.filter(_._1 % 2 == 0).toDF("doc_id", "text"),
      "doc_id", "text", "g_bm25_spec_wand", s"$dir/idx", nDirs = 4)
    val queries = ((1L to 20L).flatMap { q =>
      val nt = 1 + rnd.nextInt(4)
      (0 until nt).map(_ => (q, vocab(rnd.nextInt(vocab.length))))
    } :+ (21L -> "the") :+ (21L -> "of") // all-stopword query
      :+ (22L -> "zzz-oov")).distinct    // no postings at all
      .toDF("qid", "term")
    for (k <- Seq(1, 3, 10)) {
      val pruned = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_wand",
        k = k, pruneMinPostings = 0L, pruneMinMaxDf = 0L))
      val exact = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_wand",
        k = k, prune = false))
      assert(pruned == exact, s"WAND prune lost rows at k=$k")
      // the essential-terms candidate semi-join FORCED on (it only
      // engages at corpus scale by default) — must also be lossless
      val semi = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_wand",
        k = k, pruneMinPostings = 0L, pruneMinMaxDf = 0L, semiJoinMinPrunable = 0L))
      assert(semi == exact, s"candidate semi-join lost rows at k=$k")
      assert(pruned.nonEmpty)
    }
    // bounds stay valid across an append (df sums, max_tf/min_dl merge)
    Bm25.appendToIndex(docs.filter(_._1 % 2 == 1).toDF("doc_id", "text"),
      "doc_id", "text", "g_bm25_spec_wand")
    val pruned = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_wand",
      k = 4, pruneMinPostings = 0L, pruneMinMaxDf = 0L))
    assert(pruned == rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_wand",
      k = 4, prune = false)))
    // and both equal the batch shape over the full corpus
    assert(pruned == rows(Bm25.topK(docs.toDF("doc_id", "text"),
      "doc_id", "text", queries, k = 4)))
  }

  test("maxDf drops exactly the over-frequent terms from scoring (lossy, declared)") {
    buildIdx(corpus, "g_bm25_spec_maxdf")
    // q1 mixes the stopword with a rare term; q2 is stopword-only
    val queries = Seq((1L, "the"), (1L, "rare2"), (2L, "the")).toDF("qid", "term")
    val unbounded = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_maxdf", k = 60))
    // df("the") = 60 > 10 >= df(rare2); the bound excludes "the" entirely
    val bounded = rows(Bm25.topKAgainstIndex(queries, "g_bm25_spec_maxdf",
      k = 60, maxDf = 10L))
    // q2 (stopword-only) loses all candidates; q1 keeps only rare2's docs
    assert(unbounded.exists(_._1 == 2L))
    assert(!bounded.exists(_._1 == 2L))
    val q1Docs = bounded.filter(_._1 == 1L).map(_._3).toSet
    val rare2Docs = corpus.filter(_._2.contains("rare2 ")).map(_._1).toSet
    assert(q1Docs == rare2Docs,
      s"q1 candidates must be exactly rare2's postings, got $q1Docs vs $rare2Docs")
    // and the bounded scores equal a batch run against a corpus-equivalent
    // query with the stopword removed (score EXCLUDES the dropped term)
    val noStop = rows(Bm25.topK(corpus.toDF("doc_id", "text"), "doc_id", "text",
      Seq((1L, "rare2")).toDF("qid", "term"), k = 60))
    assert(bounded.filter(_._1 == 1L) == noStop)
  }

  test("a probe on an empty-tombstone index plans ZERO bookkeeping Spark " +
      "jobs — the job count is pinned (r15 directive 5)") {
    buildIdx(corpus, "g_bm25_spec_jobs")
    val queries = Seq((1L, "rare3"), (2L, "rare5")).toDF("qid", "term")
    // warm one probe (listings, codegen) so the counted run is steady
    Bm25.topKAgainstIndex(queries, "g_bm25_spec_jobs", k = 5).collect()
    val jobs = jobsOf {
      Bm25.topKAgainstIndex(queries, "g_bm25_spec_jobs", k = 5).collect()
    }
    // The steady probe of this 2-query batch (fanout far below
    // spreadMinFanout, so the straight path finishes on the driver) runs
    // THREE jobs: the 1-row bounds collect, the dir-pruned dfs stats
    // collect and the one contribution collect. The batch is a local
    // relation, so the cap-check take runs none, and df, n and Σdl ride
    // as literals, so no broadcast build runs either. Pinning the
    // measured number makes any future per-probe bookkeeping job (the
    // count()-for-the-cap regression, a max-scan on a log, a broadcast of
    // driver-local rows) a test failure instead of a silent serving-path
    // tax.
    assert(jobs <= 3,
      s"steady probe must stay within the measured 3 jobs, got $jobs")
  }

  test("appends pay for the batch, not the bookkeeping: a plain append " +
      "runs at most 11 Spark jobs and a compacting one at most 19") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bm25_appjobs").toString
    val table = "g_bm25_spec_appjobs"
    Bm25.buildIndex(corpus.filter(_._1 < 20).toDF("doc_id", "text"),
      "doc_id", "text", table, s"$dir/idx", nDirs = 4)
    def append(lo: Long): Int = jobsOf {
      Bm25.appendToIndex(
        corpus.filter(t => t._1 >= lo && t._1 < lo + 20).toDF("doc_id", "text"),
        "doc_id", "text", table, autoCompactAfter = 2)
    }
    val plain = append(20L)
    val compacting = append(40L)
    assert(Snapshots.history(spark, table).select("op").collect()
      .map(_.getString(0)).toSeq == Seq("compact", "append", "append", "build"))
    // Measured: 10 and 17 jobs. A plain append runs the bounds read, the
    // staged postings write, the batch bounds aggregate, the one-exchange
    // dfs merge, the bounds write and the two snapshot-log appends; the
    // adds-since-base check is a catalog read. The compaction adds the
    // unrecorded-files audit, the postings rewrite and its two log
    // appends, and no dfs rewrite. A log scan on the trigger, a second
    // bounds read or a second dfs exchange breaks the pin.
    assert(plain <= 11 && compacting <= 19,
      s"appends must stay within 11 (plain) and 19 (compacting) jobs, got " +
        s"$plain and $compacting")
  }

  /** Spark jobs started while `body` runs. Listener delivery is async;
    * the JobStart events of the jobs `body` ran are in flight at most
    * briefly. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(500)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }
}
