package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Dedup, Knn}
import graft.sources.{AsOf, Snapshots}

/** One selector contract for every persisted-index probe (BM25, IVF,
  * IVF-SQ8, MinHash), all of which read through `Snapshots.open`. Each
  * fixture builds its index, tags the last pre-delete commit
  * `pre_delete`, takes a wall-clock instant, then deletes. On it:
  *
  *  - `Commits(0)` (the newest manifest replayed) equals `Live`;
  *  - `Commits(1)` serves the rows the live probe served before the
  *    delete commit;
  *  - `Tag("pre_delete")` and `At(instant)` name that same commit.
  */
class IndexReadSpec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Tags the newest commit `pre_delete`, runs `delete` after a
    * wall-clock instant that separates the two commits, and returns
    * the instant. */
  private def deleteAfterTag(tbl: String)(delete: => Unit): Long = {
    Snapshots.tagSnapshot(spark, tbl, "pre_delete")
    Thread.sleep(5L)
    val instant = System.currentTimeMillis()
    Thread.sleep(5L)
    delete
    instant
  }

  private def checkSelectors(family: String, probe: AsOf => Seq[String],
      preDelete: Seq[String], instant: Long): Unit = {
    val live = probe(AsOf.Live)
    assert(live != preDelete, s"$family: the delete must change the live rows")
    assert(probe(AsOf.Commits(0)) == live,
      s"$family: Commits(0) must replay the live state")
    assert(probe(AsOf.Commits(1)) == preDelete,
      s"$family: Commits(1) must serve the pre-delete rows")
    assert(probe(AsOf.Tag("pre_delete")) == preDelete,
      s"$family: the tag must name the pre-delete commit")
    assert(probe(AsOf.At(instant)) == preDelete,
      s"$family: the instant before the delete must name the pre-delete commit")
  }

  test("BM25: Live, Commits, Tag and At name the states they claim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_read_bm25").toString
    val tbl = "g_read_bm25"
    val corpus = (0L until 40L).map(i =>
      (i, s"shared filler terms rare${i % 8} and token doc$i"))
    Bm25.buildIndex(corpus.toDF("doc_id", "text"), "doc_id", "text", tbl,
      s"$dir/idx", nDirs = 2)
    val qs = Seq((1L, "rare3"), (2L, "rare5"), (3L, "filler")).toDF("qid", "term")
    def probe(asOf: AsOf) =
      rows(Bm25.topKAgainstIndex(qs, tbl, k = 100, asOf = asOf))
    val pre = probe(AsOf.Live)
    val instant = deleteAfterTag(tbl) {
      Bm25.deleteFromIndex(spark, tbl,
        corpus.filter(_._1 % 7 == 3).map(t => Tuple1(t._1)).toDF("id"))
    }
    checkSelectors("bm25", probe, pre, instant)
    intercept[IllegalArgumentException](AsOf.Commits(-1))
  }

  /** build → quantize → tag → delete on one IVF index, with the float
    * and SQ8 probes' pre-delete rows. */
  private lazy val ivf: (String, Seq[String], Seq[String], Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_read_ivf").toString
    val tbl = "g_read_ivf"
    val vecs = (0L until 60L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat).toSeq))
    Knn.writeIvfIndex(vecs.toDF("vec_id", "embedding"), "vec_id", "embedding",
      tbl, s"$dir/ivf", nCells = 4)
    Knn.quantizeIvfIndex(spark, tbl)
    val (pre, preSq8) = (ivfProbe(tbl, AsOf.Live), sq8Probe(tbl, AsOf.Live))
    val instant = deleteAfterTag(tbl) {
      Knn.deleteFromIvfIndex(spark, tbl,
        vecs.map(_._1).filter(_ % 3 == 1).toDF("id"))
    }
    (tbl, pre, preSq8, instant)
  }

  private def ivfQueries =
    (0L until 5L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 17 + d * 3).toFloat).toSeq))
      .toDF("vec_id", "embedding")

  private def ivfProbe(tbl: String, asOf: AsOf) =
    rows(Knn.ivfTopKAgainstIndex(ivfQueries, tbl, "vec_id", "embedding",
      k = 10, asOf = asOf))

  private def sq8Probe(tbl: String, asOf: AsOf) =
    rows(Knn.ivfTopKAgainstIndexSq8(ivfQueries, tbl, "vec_id", "embedding",
      k = 10, asOf = asOf))

  test("IVF: Live, Commits, Tag and At name the states they claim") {
    val (tbl, pre, _, instant) = ivf
    checkSelectors("ivf", ivfProbe(tbl, _), pre, instant)
  }

  test("IVF-SQ8: Live, Commits, Tag and At name the states they claim") {
    val (tbl, _, preSq8, instant) = ivf
    checkSelectors("sq8", sq8Probe(tbl, _), preSq8, instant)
  }

  test("MinHash: Live, Commits, Tag and At name the states they claim") {
    val dir = java.nio.file.Files.createTempDirectory("graft_read_mh").toString
    val tbl = "g_read_mh"
    def doc(i: Long) = s"history document number $i with common filler"
    Dedup.writeMinhashIndex((0L until 30L).map(i => (i, doc(i)))
        .toDF("doc_id", "text"),
      "doc_id", "text", tbl, s"$dir/mh", numBuckets = 4)
    val replay = (0L until 10L).map(i => (1000L + i, doc(i)))
      .toDF("doc_id", "text")
    def probe(asOf: AsOf) =
      rows(Dedup.minhashIncrementalAgainstIndex(replay, tbl, "doc_id", "text",
        asOf = asOf).select($"doc_id", $"status", $"n_hist_dups"))
    val pre = probe(AsOf.Live)
    val instant = deleteAfterTag(tbl) {
      Dedup.deleteFromMinhashIndex(spark, tbl,
        (0L until 10L).filter(_ % 2 == 0).toDF("id"))
    }
    checkSelectors("minhash", probe, pre, instant)
  }
}
