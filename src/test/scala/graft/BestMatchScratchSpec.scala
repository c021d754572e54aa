package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.dict.TitleDictionary
import graft.functions.TitleStandardizer
import graft.index.TfidfIndex
import graft.text.Tokenize

/** `bestMatch` keeps per-thread scratch sized to its index: concurrent
  * threads on one index, and two indexes on one thread, must not see each
  * other's partial sums. */
class BestMatchScratchSpec extends AnyFunSuite {

  private val idx = TitleStandardizer.index
  private val queries: Array[Array[String]] = {
    val corpus = TitleDictionary.corpus
    val titles = corpus.indices.by(13).map(i => s"${corpus(i)} senior") ++
      Seq("", "1234 !!", "qqqqzzzz xyzzy", "software engineer", "poet")
    titles.map(Tokenize.tokenizeAndStem).toArray
  }

  test("8 threads through one index: each thread's indices equal a single-threaded run") {
    val want = queries.map(idx.bestMatch)
    val n = queries.length
    val threads = 8
    val got = new Array[Array[Int]](threads)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val workers = (0 until threads).map { t =>
      new Thread(() => {
        try {
          start.await()
          // each thread starts at its own offset, so different queries overlap
          val out = new Array[Int](n)
          (0 until 3 * n).foreach { i =>
            val q = (i + t * n / threads) % n
            out(q) = idx.bestMatch(queries(q))
          }
          got(t) = out
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    workers.foreach(_.start())
    start.countDown()
    workers.foreach(_.join())
    assert(errors.isEmpty, errors.toString)
    (0 until threads).foreach { t =>
      val bad = (0 until n).count(q => got(t)(q) != want(q))
      assert(bad == 0, s"thread $t differs from the single-threaded run on $bad of $n queries")
    }
  }

  test("alternating two indexes on one thread: each result equals its own full scan") {
    val tiny = TfidfIndex.build(Array(Array("alpha", "beta"), Array("beta", "gamma"), Array("gamma")))
    val tinyQueries = Array(Array("alpha"), Array("beta"), Array("gamma"), Array("beta", "gamma"),
      Array("alpha", "gamma", "delta"), Array("delta"), Array.empty[String])
    queries.indices.by(3).foreach { i =>
      val q = queries(i)
      val tq = tinyQueries(i % tinyQueries.length)
      assert(idx.bestMatch(q) == FullScanOracle.bestMatch(idx, q), q.mkString(" "))
      assert(tiny.bestMatch(tq) == FullScanOracle.bestMatch(tiny, tq), tq.mkString(" "))
    }
  }
}
