package graft

import org.scalatest.funsuite.AnyFunSuite

/** Distributed-vs-straight-line cross-check for the q128 golden (generic
  * similarity join family; its drift guard is `GoldenSpec`). */
class SimJoinGenericGoldenSpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  test("fixture encodes the constructed edge cases") {
    val rows = Golden.simjoinGeneric.rows
    assert(!rows.exists(_._2 == 103L), "all-OOV query emits nothing")
    assert(rows.exists { case (m, q, r, d, s) =>
      m == "topk" && q == 100L && r == 1 && d == 0L && s == 1000000L
    }, "reordered copy is a perfect rank-1 match")
    val thr = rows.filter(_._1 == "thr")
    assert(thr.nonEmpty && thr.forall(_._5 >= (SimJoinGenericGolden.Tau * 1e6).toLong),
      "every threshold row scores >= tau")
    assert(thr.size < rows.count(_._1 == "topk") * 3,
      "threshold path selects a nontrivial subset")
  }

  test("distributed topKAgainst + thresholdJoin reproduce the recompute") {
    val got = Queries.simJoinGenericGolden(spark, SparkSuiteBase.sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got == Golden.simjoinGeneric.rows)
  }
}
