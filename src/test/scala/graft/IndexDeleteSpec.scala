package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame

import graft.operators.{Bm25, Dedup, Knn}
import graft.sources.AsOf

/** Contract battery for tombstone DELETEs across all three persisted
  * index families (q170/q171/q172) and the metadata-filtered IVF probe
  * (q173):
  *
  *  - a delete takes effect IMMEDIATELY (tombstoned ids leave every
  *    result) without rewriting index data;
  *  - BM25 semantics: statistics stay historical, so surviving docs'
  *    SCORES are unchanged by a delete — the post-delete ranking is
  *    exactly the pre-delete score list minus tombstoned docs,
  *    re-ranked (and the WAND path stays lossless over the filtered
  *    postings);
  *  - compaction FOLDS tombstones (rows physically dropped, list
  *    reset) without moving any ranking;
  *  - IVF rebuild-after-delete retrains on the survivors and equals a
  *    fresh build over them bit-for-bit;
  *  - the filtered probe ranks qualifying candidates only, against the
  *    unmodified index.
  */
class IndexDeleteSpec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  // ---------------------------------------------------------------- BM25

  /** 40 docs over a tiny shared vocabulary so every query matches many
    * docs and deletes visibly reshuffle ranks. */
  private def bmDocs: DataFrame = (0L until 40L).map { i =>
    val common = "alpha beta"
    val grp = s"g${i % 4} " * ((i % 3) + 1).toInt
    (i, s"$common $grp tok$i")
  }.toDF("doc_id", "text")

  private def bmQueries: DataFrame =
    Seq((0L, "alpha"), (0L, "g0"), (1L, "beta"), (1L, "g1"), (2L, "g2"))
      .toDF("qid", "term")

  private def bmRows(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** Re-rank a full (qid, rank, doc_id, score) list after removing the
    * tombstoned docs — the published delete semantics (scores frozen,
    * ranks recomputed over survivors). */
  private def reRank(rows: Seq[(Long, Long, Long, Long)],
      deleted: Long => Boolean, k: Int): Seq[(Long, Long, Long, Long)] =
    rows.filterNot(r => deleted(r._3))
      .groupBy(_._1).toSeq.flatMap { case (qid, rs) =>
        rs.sortBy(r => (-r._4, r._3)).take(k).zipWithIndex
          .map { case (r, i) => (qid, i + 1L, r._3, r._4) }
      }.sortBy(t => (t._1, t._2))

  test("bm25: delete = pre-delete scores minus tombstoned docs, re-ranked; " +
      "WAND and exact paths agree over the filtered postings") {
    val tbl = "g_bm25_delspec"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl, s"${tmp("graft_bm25del")}/idx",
      nDirs = 4)
    // full score list before any delete (k big enough to rank every match)
    val before = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    val deleted: Long => Boolean = id => id % 5 == 1
    Bm25.deleteFromIndex(spark, tbl,
      bmDocs.filter($"doc_id" % 5 === 1).select($"doc_id"))
    val after = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    assert(after.nonEmpty && after == reRank(before, deleted, k = 100))
    assert(after.forall(r => !deleted(r._3)))
    // top-k agreement between the straight path and the WAND path with
    // every gate forced open — θ comes from filtered floor postings and
    // the essential semi-join candidates from filtered lists, so the
    // losslessness argument must survive deletes
    val exact = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 3,
      prune = false))
    val wand = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 3,
      prune = true, pruneMinPostings = 0L, pruneMinMaxDf = 0L,
      semiJoinMinPrunable = 0L))
    assert(exact.nonEmpty && wand == exact)
    assert(exact == reRank(before, deleted, k = 3))
  }

  test("bm25: compaction folds tombstones physically, resets the list, " +
      "and moves no ranking; a second delete then rides the anti-join") {
    val tbl = "g_bm25_delfold"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl, s"${tmp("graft_bm25fold")}/idx",
      nDirs = 4)
    Bm25.deleteFromIndex(spark, tbl,
      bmDocs.filter($"doc_id" % 5 === 1).select($"doc_id"))
    val viaAntiJoin = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    Bm25.compactIndex(spark, tbl)
    // fold is physical: no tombstoned doc row survives in the postings
    val residentIds = spark.table(s"${tbl}_postings").select($"doc_id")
      .distinct().collect().map(_.getLong(0)).toSet
    assert(residentIds.nonEmpty && !residentIds.exists(_ % 5 == 1))
    // the list is reset
    assert(spark.table(s"${tbl}_deletes").isEmpty)
    // ranking invariance across the fold (statistics were frozen)
    val viaFold = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    assert(viaFold == viaAntiJoin)
    // a second batch after the fold is served by the anti-join again
    Bm25.deleteFromIndex(spark, tbl,
      bmDocs.filter($"doc_id" % 5 === 2).select($"doc_id"))
    val after2 = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    assert(after2.nonEmpty && after2.forall(r => r._3 % 5 != 1 && r._3 % 5 != 2))
  }

  test("bm25: re-deleting is idempotent; an id re-appended before the " +
      "folding compaction stays invisible (the documented contract)") {
    val tbl = "g_bm25_delre"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl, s"${tmp("graft_bm25re")}/idx",
      nDirs = 4)
    Bm25.deleteFromIndex(spark, tbl, Seq(7L).toDF("doc_id"))
    val once = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    Bm25.deleteFromIndex(spark, tbl, Seq(7L).toDF("doc_id"))
    assert(spark.table(s"${tbl}_deletes").count() == 1L)
    assert(bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100)) == once)
    // re-append doc 7 with fresh text: still tombstoned until a compact
    Bm25.appendToIndex(Seq((7L, "alpha beta g0 revived")).toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    val probed = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    assert(!probed.exists(_._3 == 7L))
  }

  test("bm25: a time-travel probe over a tombstone generation laid out in " +
      "a partition directory still excludes the deleted docs") {
    val tbl = "g_bm25_delpart"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl, s"${tmp("graft_bm25part")}/idx",
      nDirs = 4)
    Bm25.deleteFromIndex(spark, tbl,
      bmDocs.filter($"doc_id" % 5 === 1).select($"doc_id"))
    Bm25.appendToIndex(Seq((100L, "alpha g0 fresh")).toDF("doc_id", "text"),
      "doc_id", "text", tbl)
    // AsOf.Commits(1): after the delete, before the append
    def historical(): Seq[(Long, Long, Long, Long)] =
      bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100,
        asOf = AsOf.Commits(1)))
    val flat = historical()
    assert(flat.nonEmpty && flat.forall(_._3 % 5 != 1) && !flat.exists(_._3 == 100L))
    // move the deletes generation's data files one level down, as a
    // partitioned writer lays them out: the table still reads every id
    val gen = graft.sources.Generations.current(spark, s"${tbl}_deletes")
    val loc = new org.apache.hadoop.fs.Path(
      graft.sources.Generations.location(spark, gen))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    val part = new org.apache.hadoop.fs.Path(loc, "bucket=0")
    fs.mkdirs(part)
    fs.listStatus(loc).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .foreach(s => assert(fs.rename(s.getPath, new org.apache.hadoop.fs.Path(part,
        s.getPath.getName))))
    spark.catalog.refreshTable(gen)
    assert(spark.table(gen).count() == 8L)
    assert(historical() == flat)
  }

  test("bm25: the over-cap distributed fallback respects tombstones " +
      "(identical rows to the serving-shape probe)") {
    val tbl = "g_bm25_delcap"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl, s"${tmp("graft_bm25cap")}/idx",
      nDirs = 4)
    Bm25.deleteFromIndex(spark, tbl,
      bmDocs.filter($"doc_id" % 5 === 1).select($"doc_id"))
    val serving = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    // maxBatchPairs = 0 forces the fully-distributed fallback — the
    // anti-join must ride that path too
    val fallback = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100,
      maxBatchPairs = 0L))
    assert(fallback.nonEmpty && fallback == serving)
    assert(fallback.forall(_._3 % 5 != 1))
  }

  test("bm25: probes hammering the live index during a delete see the " +
      "pre- or post-delete ranking, never an error or a partial list; " +
      "during the fold they see exactly the post-delete ranking") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    import java.util.concurrent.ConcurrentLinkedQueue
    // twin index: same corpus + delete, run sequentially, to learn the
    // exact post-delete expectation before the concurrent phase
    val twin = "g_bm25_delconc_twin"
    Bm25.buildIndex(bmDocs, "doc_id", "text", twin,
      s"${tmp("graft_bm25conc_t")}/idx", nDirs = 4)
    Bm25.deleteFromIndex(spark, twin,
      bmDocs.filter($"doc_id" % 5 === 1).select($"doc_id"))
    val expectedPost = bmRows(Bm25.topKAgainstIndex(bmQueries, twin, k = 100))

    val tbl = "g_bm25_delconc"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl,
      s"${tmp("graft_bm25conc")}/idx", nDirs = 4)
    val expectedPre = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
    assert(expectedPre != expectedPost)

    val stop = new AtomicBoolean(false)
    val probed = new AtomicInteger(0)
    val failures = new ConcurrentLinkedQueue[Throwable]()
    val valid = Set(expectedPre, expectedPost)
    val hammer = new Thread(() => {
      while (!stop.get()) {
        try {
          val got = bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100))
          assert(valid(got),
            s"probe observed a state that is neither pre- nor post-delete")
          probed.incrementAndGet()
        } catch { case t: Throwable => failures.add(t); stop.set(true) }
      }
    })
    hammer.start()
    try {
      Bm25.deleteFromIndex(spark, tbl,
        bmDocs.filter($"doc_id" % 5 === 1).select($"doc_id"))
      // after the delete flip, every probe must be post-delete — the
      // fold (compaction) must be invisible to all of them
      Bm25.compactIndex(spark, tbl)
      val deadline = System.nanoTime() + 3000000000L
      while (probed.get() < 3 && System.nanoTime() < deadline && !stop.get())
        Thread.sleep(20)
    } finally { stop.set(true); hammer.join(30000) }
    assert(failures.isEmpty,
      s"concurrent probe failed during delete/fold: ${failures.peek()}")
    assert(probed.get() >= 1, "hammer thread never completed a probe")
    assert(bmRows(Bm25.topKAgainstIndex(bmQueries, tbl, k = 100)) == expectedPost)
  }

  test("bm25: the update recipe (delete → compact-fold → re-append v2) " +
      "retrieves the new version and never the old one") {
    val tbl = "g_bm25_updspec"
    Bm25.buildIndex(bmDocs, "doc_id", "text", tbl, s"${tmp("graft_bm25upd")}/idx",
      nDirs = 4)
    val upd = bmDocs.filter($"doc_id" === 7L)
    Bm25.deleteFromIndex(spark, tbl, upd.select($"doc_id"))
    Bm25.compactIndex(spark, tbl) // fold + tombstone reset: ids are NEW again
    // v2 REPLACES the body (drops the old tok7 marker, adds freshterm)
    Bm25.appendToIndex(
      upd.select($"doc_id",
        org.apache.spark.sql.functions.lit("alpha beta freshterm").as("text")),
      "doc_id", "text", tbl)
    // a v2-only term retrieves exactly the updated doc
    val v2 = bmRows(Bm25.topKAgainstIndex(
      Seq((0L, "freshterm")).toDF("qid", "term"), tbl, k = 10))
    assert(v2.map(_._3) == Seq(7L))
    // doc 7's v1-era tok7 no longer matches it (old postings folded away)
    val v1tok = bmRows(Bm25.topKAgainstIndex(
      Seq((0L, "tok7")).toDF("qid", "term"), tbl, k = 10))
    assert(!v1tok.exists(_._3 == 7L) || v1tok.isEmpty)
    // statistics merged additively: N = 40 docs + 1 re-appended version
    val bounds = spark.table(s"${tbl}_bounds").collect()(0)
    assert(bounds.getLong(0) == 41L)
  }

  // ------------------------------------------------------------- MinHash

  private def mhWords(group: String, n: Int): IndexedSeq[String] =
    (0 until n).map(i => s"${group}w$i")

  test("bm25: a stream delete is the family delete — a recorded delete " +
      "commit, so an incremental read across it refuses unless " +
      "ignoreDeletes") {
    val dir = tmp("graft_del_stream")
    val tbl = "g_del_stream"
    Bm25.buildIndex(bmDocs.filter($"doc_id" < 30L), "doc_id", "text", tbl,
      s"$dir/idx", nDirs = 4)
    Bm25.appendToIndex(bmDocs.filter($"doc_id" >= 30L), "doc_id", "text",
      tbl)
    val doomed = Seq(3L, 31L).toDF("doc_id")
    doomed.coalesce(1).write.parquet(s"$dir/in")
    graft.streaming.StreamingOps.indexDeleteStream(
        spark.readStream.schema(doomed.schema).parquet(s"$dir/in"),
        tbl, Bm25.family, s"$dir/ckpt",
        trigger = Some(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      .awaitTermination()
    val hist = graft.sources.Snapshots.history(spark, tbl)
      .select("commit_id", "op").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq // newest first
    assert(hist.map(_._2) == Seq("delete", "append", "build"),
      s"the stream delete must be the newest commit: $hist")
    val (build, latest) = (hist.last._1, hist.head._1)
    val e = intercept[IllegalStateException] {
      Bm25.docsAddedBetween(spark, tbl, build, latest).collect()
    }
    assert(e.getMessage.contains("delete commit"), e.getMessage)
    assert(Bm25.docsAddedBetween(spark, tbl, build, latest,
        ignoreDeletes = true).as[Long].collect().sorted.toSeq ==
      (30L until 40L), "ignoreDeletes reads the appended ids anyway")
    assert(Bm25.topKAgainstIndex(bmQueries, tbl, k = 40)
      .filter($"doc_id".isin(3L, 31L)).isEmpty,
      "the stream-deleted docs leave every ranking")
  }

  test("minhash: delete == probing a history that never held the docs; " +
      "compaction folds physically and resets the list") {
    val a = mhWords("a", 50)
    val b = mhWords("b", 50)
    val history = Seq(
      0L -> a.mkString(" "),  // will be tombstoned
      2L -> b.mkString(" "),
      4L -> mhWords("h", 50).mkString(" "))
    val incoming = Seq(
      1L -> a.mkString(" "),  // matches ONLY the tombstoned doc 0
      3L -> b.mkString(" "),  // matches surviving doc 2
      5L -> mhWords("f", 50).mkString(" "))
    val tbl = "g_mh_delspec"
    Dedup.writeMinhashIndex(history.toDF("doc_id", "text"), "doc_id", "text",
      tbl, s"${tmp("graft_mhdel")}/idx", numBuckets = 4)
    Dedup.deleteFromMinhashIndex(spark, tbl, Seq(0L).toDF("doc_id"))
    def probe(): Seq[(Long, String, Long)] =
      Dedup.minhashIncrementalAgainstIndex(
        incoming.toDF("doc_id", "text"), tbl, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        .sortBy(_._1).toSeq
    val viaIndex = probe()
    // == the stateless probe against the survivor history
    val stateless = Dedup.minhashIncremental(
        incoming.toDF("doc_id", "text"),
        history.filter(_._1 != 0L).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    assert(viaIndex == stateless)
    // the doc-1 match flipped to new (its only twin is tombstoned)
    assert(viaIndex == Seq((1L, "new", 0L), (3L, "dup_history", 1L),
      (5L, "new", 0L)))
    // fold: compaction drops the dead rows from BOTH tables and resets
    Dedup.compactMinhashIndex(spark, tbl)
    assert(!spark.table(s"${tbl}_sigs").select($"id")
      .collect().map(_.getLong(0)).contains(0L))
    assert(!spark.table(s"${tbl}_buckets").select($"id")
      .collect().map(_.getLong(0)).contains(0L))
    assert(spark.table(s"${tbl}_deletes").isEmpty)
    assert(probe() == viaIndex)
  }

  // ----------------------------------------------------------------- IVF

  /** 60 vectors in 3 well-separated clusters (the IvfIndexSpec corpus). */
  private def ivfCorpus: DataFrame = (0L until 60L).map { i =>
    val c = (i % 3).toInt
    val v = Array.fill(4)(0.0f)
    v(c) = 1.0f
    v(3) = i.toFloat / 100f
    (i, v.toSeq)
  }.toDF("vec_id", "embedding")

  private def ivfVecs: IndexedSeq[(Long, Array[Double])] = ivfCorpus.collect()
    .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    .sortBy(_._1).toIndexedSeq

  private def ivfRows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  test("ivf: delete == the mirror's candidate-filter contract; compaction " +
      "folds physically; rebuild-after-delete == fresh build on survivors") {
    val tbl = "g_ivf_delspec"
    Knn.writeIvfIndex(ivfCorpus, "vec_id", "embedding", tbl,
      s"${tmp("graft_ivfdel")}/idx", nCells = 4)
    Knn.deleteFromIvfIndex(spark, tbl,
      ivfCorpus.filter($"vec_id" % 4 === 1).select($"vec_id"))
    def probe(): Seq[(Long, Int, Long, Double)] = ivfRows(
      Knn.ivfTopKAgainstIndex(ivfCorpus.filter($"vec_id" < 5), tbl,
        "vec_id", "embedding", k = 3))
    val viaIndex = probe()
    val expected = IvfMirror.recompute(ivfVecs, maxQid = 5L, k = 3,
      nCells = 4, candidateFilter = _ % 4 != 1).sortBy(t => (t._1, t._2))
    assert(viaIndex.nonEmpty && viaIndex == expected)
    assert(viaIndex.forall(_._3 % 4 != 1))
    // fold: cells table drops the dead rows, list resets, probe unmoved
    Knn.compactIvfIndex(spark, tbl)
    val resident = spark.table(s"${tbl}_cells").select($"id")
      .collect().map(_.getLong(0)).toSet
    assert(resident.nonEmpty && !resident.exists(_ % 4 == 1))
    assert(spark.table(s"${tbl}_deletes").isEmpty)
    assert(probe() == viaIndex)
    // rebuild after a SECOND delete retrains on survivors — equal to a
    // fresh build over them, bit for bit
    Knn.deleteFromIvfIndex(spark, tbl,
      ivfCorpus.filter($"vec_id" % 4 === 2).select($"vec_id"))
    Knn.rebuildIvfIndex(spark, tbl, nCells = 4)
    assert(spark.table(s"${tbl}_deletes").isEmpty)
    val survivors = ivfCorpus.filter($"vec_id" % 4 =!= 1 && $"vec_id" % 4 =!= 2)
    val fresh = "g_ivf_delspec_fresh"
    Knn.writeIvfIndex(survivors, "vec_id", "embedding", fresh,
      s"${tmp("graft_ivffresh")}/idx", nCells = 4)
    val queries = ivfCorpus.filter($"vec_id" < 5)
    assert(ivfRows(Knn.ivfTopKAgainstIndex(queries, tbl,
        "vec_id", "embedding", k = 3)) ==
      ivfRows(Knn.ivfTopKAgainstIndex(queries, fresh,
        "vec_id", "embedding", k = 3)))
  }

  test("ivf: filtered probe ranks qualifying candidates only, index untouched") {
    val tbl = "g_ivf_filspec"
    Knn.writeIvfIndex(ivfCorpus, "vec_id", "embedding", tbl,
      s"${tmp("graft_ivffil")}/idx", nCells = 4)
    val got = ivfRows(Knn.ivfTopKAgainstIndex(
      ivfCorpus.filter($"vec_id" < 5), tbl, "vec_id", "embedding", k = 3,
      candidateFilter = Some(org.apache.spark.sql.functions.col("id") % 2 === 0)))
    val expected = IvfMirror.recompute(ivfVecs, maxQid = 5L, k = 3,
      nCells = 4, candidateFilter = _ % 2 == 0).sortBy(t => (t._1, t._2))
    assert(got.nonEmpty && got == expected)
    assert(got.forall(_._3 % 2 == 0))
    // the unfiltered probe of the same index still sees everything
    val unfiltered = ivfRows(Knn.ivfTopKAgainstIndex(
      ivfCorpus.filter($"vec_id" < 5), tbl, "vec_id", "embedding", k = 3))
    assert(unfiltered == IvfMirror.recompute(ivfVecs, maxQid = 5L, k = 3,
      nCells = 4).sortBy(t => (t._1, t._2)))
  }
}
