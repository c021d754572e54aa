package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Engine-independent cross-checks for the q130 sketch golden (its drift
  * guard is `GoldenSpec`): the EXACT columns of the fixture must match the straight-line
  * JVM re-derivation, the approximate columns must sit inside their
  * published error bounds around that exact truth, every rank-window
  * boolean must be true, and the pinned estimates must be invariant to
  * how the input is partitioned (the property that makes them pinnable
  * at all — see SketchGolden's scaladoc on HIP vs composite estimates). */
class SketchGoldenSpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  test("fixture's exact columns match the pure-JVM re-derivation") {
    val exact = SketchGolden.recomputeExact.map { case (g, n, _, _) => g -> n }.toMap
    Golden.sketch.rows.foreach { case (g, exactUsers, _, _, inWindow) =>
      assert(exact(g) == exactUsers, s"group $g exact distinct")
      assert(inWindow, s"group $g approx_percentile outside its rank window")
    }
  }

  test("approximate columns sit inside their error bounds") {
    Golden.sketch.rows.foreach { case (g, exact, hll, acd, _) =>
      // lgK=12 HLL: RSE ≈ 1.04/sqrt(2^12) ≈ 1.6%; acd rsd requested 2%.
      // 5% ≈ 3σ — a fixture outside this is a bug, not bad luck.
      assert(math.abs(hll - exact).toDouble / exact < 0.05, s"group $g hll $hll vs $exact")
      assert(math.abs(acd - exact).toDouble / exact < 0.05, s"group $g acd $acd vs $exact")
    }
  }

  test("Column input construction mirrors the JVM inputRows exactly") {
    val got = Queries.sketchGoldenInput(spark).collect()
      .map(r => (r.getLong(0), r.getLong(1).toInt, r.getString(2),
        r.getDouble(3).toLong)).sortBy(_._1).toSeq
    assert(got == SketchGolden.inputRows.toSeq)
  }

  test("pinned estimates are invariant to input partitioning") {
    import spark.implicits._
    def base: DataFrame = Queries.sketchGoldenInput(spark)
    // every layout spreads each group over ≥2 partitions (composite-mode
    // HLL merges); the 1-partition streaming (HIP) case is deliberately
    // excluded — it is the one layout the estimate is NOT stable under,
    // which is why the query fixes an explicit repartition
    for (layout <- Seq(
        base.coalesce(2),
        base.repartition(7, $"id" % 3),
        base.repartition(16, $"id" % 29))) {
      val got = Queries.sketchGoldenOn(spark, layout).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getBoolean(4))).toSeq
      assert(got == Golden.sketch.rows, s"layout ${layout.rdd.getNumPartitions}")
    }
  }
}
