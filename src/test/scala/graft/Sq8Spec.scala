package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Knn
import graft.sources.AsOf

/** SQ8 scalar quantization of the IVF index
  * ([[Knn.quantizeIvfIndex]] / [[Knn.ivfTopKAgainstIndexSq8]] /
  * [[graft.expressions.Sq8Dot]] / [[graft.expressions.Sq8NormSq]]):
  *
  *  - the distributed probe matches [[IvfMirror.recomputeSq8]]
  *    row-for-row AND score-bit-for-bit on a corpus that includes a
  *    constant dimension (step = 0) and extreme values (clamp edges);
  *  - the codes table stores ONE BYTE per dimension (the 8× memory
  *    claim is structural, not aspirational);
  *  - tombstoned ids are out of SQ8 results immediately (the same
  *    anti-join every probe runs);
  *  - quantization is a maintenance commit: recorded in the snapshot
  *    log as revertible (fresh generations, atomic flips).
  */
class Sq8Spec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  // 64 vectors, 6 dims; dim 4 constant (step = 0), dim 5 huge spread
  private val vecs: IndexedSeq[(Long, Array[Double])] =
    (0L until 64L).map { i =>
      (i, Array(
        math.sin(i * 37.0), math.cos(i * 13.0) * 2.0,
        (i % 11).toDouble / 7.0, math.sin(i * i + 1.0),
        3.25, (if (i % 9 == 0) 1e6 else i.toDouble)))
    }.toIndexedSeq

  private def buildQuantized(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sq8_$tag").toString
    val tbl = s"g_sq8_$tag"
    Knn.writeIvfIndex(
      vecs.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
      "vec_id", "embedding", tbl, s"$dir/idx", nCells = 8)
    Knn.quantizeIvfIndex(spark, tbl)
    tbl
  }

  test("SQ8 probe == mirror, ranks and scores bit-for-bit (constant dim " +
      "and clamp edges included)") {
    val tbl = buildQuantized("mirror")
    val got = Knn.ivfTopKAgainstIndexSq8(
        vecs.filter(_._1 < 10).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = IvfMirror.recomputeSq8(vecs, maxQid = 10L, k = 5,
      nCells = 8, nProbe = 3)
    assert(got == want)
  }

  test("codes are one byte per dimension; qparams carry exact per-dim " +
      "mins/steps") {
    val tbl = buildQuantized("bytes")
    val row = spark.table(s"${tbl}_cells_q8")
      .select($"codes").head().getAs[Array[Byte]](0)
    assert(row.length == 6, "one byte per dimension")
    val qp = spark.table(s"${tbl}_qparams").collect()
    assert(qp.length == 1)
    val steps = qp(0).getSeq[Double](1)
    assert(steps(4) == 0.0, "a constant dimension quantizes with step 0")
    assert(steps(5) > 3000.0, "the huge-spread dimension has a huge step")
  }

  test("append after quantize grows the SQ8 replica in the same op " +
      "(frozen params, clamped codes) — probe == mirror") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sq8_app").toString
    val tbl = "g_sq8_app"
    val evens = vecs.filter(_._1 % 2 == 0)
    // odd batch exceeds the even-derived [min, max] on dim 5 → clamps
    val odds = vecs.filter(_._1 % 2 == 1)
      .map { case (id, v) => (id, v.updated(5, v(5) * 2.0 + 1e6)) }
    Knn.writeIvfIndex(
      evens.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
      "vec_id", "embedding", tbl, s"$dir/idx", nCells = 8)
    Knn.quantizeIvfIndex(spark, tbl)
    Knn.appendToIvfIndex(
      odds.map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding"),
      "vec_id", "embedding", tbl)
    val union = (evens ++ odds).sortBy(_._1).toIndexedSeq
    val got = Knn.ivfTopKAgainstIndexSq8(
        union.filter(_._1 < 10).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val want = IvfMirror.recomputeSq8(union, maxQid = 10L, k = 8,
      nCells = 8, nProbe = 4,
      trainFilter = _ % 2 == 0, paramFilter = _ % 2 == 0)
    assert(got == want,
      "appended vectors must be servable from the SQ8 replica at frozen params")
    assert(got.exists(_._3 % 2 == 1),
      "workload sanity: some appended (odd) vector must actually rank")
    // TIME TRAVEL (r15 directive 3 — the q183 contract at unit scale):
    // AsOf.Commits(1) targets the quantize commit, so the probe must
    // serve the QUANTIZE-TIME (codes, params) pair exactly — the
    // appended odd codes structurally unseen via the file manifest, the
    // params from the historical generation's sidecar, candidates evens
    val gotTt = Knn.ivfTopKAgainstIndexSq8(
        union.filter(_._1 < 10).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 8, nProbe = 4,
        asOf = AsOf.Commits(1))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val wantTt = IvfMirror.recomputeSq8(union, maxQid = 10L, k = 8,
      nCells = 8, nProbe = 4,
      trainFilter = _ % 2 == 0, paramFilter = _ % 2 == 0,
      candidateFilter = _ % 2 == 0)
    assert(gotTt == wantTt,
      "AsOf.Commits(1) must serve the quantize-time SQ8 state exactly")
    assert(gotTt != got, "sanity: the historical state must differ")
    // a probe BEFORE the quantize commit names the missing replica
    val e = intercept[IllegalStateException] {
      Knn.ivfTopKAgainstIndexSq8(
        union.filter(_._1 < 2).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 3, asOf = AsOf.Commits(2))
    }
    assert(e.getMessage.contains("no SQ8 replica"),
      s"pre-quantize targets must refuse loudly: ${e.getMessage}")
  }

  test("compaction folds tombstones into the SQ8 replica too — deleted " +
      "ids never resurface after the list resets") {
    val tbl = buildQuantized("fold")
    val doomed = vecs.map(_._1).filter(_ % 5 == 2).toSet
    Knn.deleteFromIvfIndex(spark, tbl, doomed.toSeq.toDF("id"))
    def sq8Ids() = Knn.ivfTopKAgainstIndexSq8(
        vecs.filter(_._1 < 10).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 60, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val preFold = sq8Ids()
    assert(preFold.forall(t => !doomed(t._3)))
    Knn.compactIvfIndex(spark, tbl)
    // the tombstone list is now EMPTY — the q8 fold must have dropped
    // the rows physically or the dead ids would resurface here
    val postFold = sq8Ids()
    assert(postFold.forall(t => !doomed(t._3)),
      "deleted ids resurfaced from the un-folded SQ8 replica")
    assert(postFold == preFold, "the fold must not move any SQ8 ranking")
  }

  test("Sq8Dot/Sq8NormSq: interpreted eval == whole-stage codegen on " +
      "random inputs (both paths ship)") {
    import graft.expressions.VectorExpressions.{sq8Dot, sq8NormSq}
    // dims are EQUAL across query/codes/params by contract (round 15:
    // drift throws loudly instead of silently truncating — see below)
    val dim = 9
    val rows = (0 until 200).map { i =>
      val q = Array.tabulate(dim)(d => math.sin(i * 7.0 + d) * (d + 1))
      val codes = Array.tabulate(dim)(d =>
        (((i * 31 + d * 17) % 256 + 256) % 256).toByte)
      (i.toLong, q.toSeq, codes)
    }
    val mins = Array(-2.0, 0.0, 1.5, -0.25, 3.0, -1.0, 0.5, 2.0, -3.0)
    val steps = Array(0.01, 0.0, 0.002, 0.5, 0.03, 0.001, 0.25, 0.0, 0.1)
    def run(codegen: Boolean): Seq[(Long, Double, Double)] = {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try rows.toDF("id", "q", "codes")
        .select($"id",
          sq8Dot(spark)($"q", $"codes", mins, steps).as("d"),
          sq8NormSq(spark)($"codes", mins, steps).as("n"))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
        .sortBy(_._1).toSeq
      finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
    val gen = run(codegen = true)
    val interp = run(codegen = false)
    assert(gen == interp, "doGenCode and nullSafeEval must agree bit-for-bit")
    // and both match a plain-Scala reference (unsigned byte decode)
    val ref = rows.map { case (id, q, codes) =>
      val mn = mins.toSeq
      val st = steps.toSeq
      var d = 0.0; var n = 0.0; var i = 0
      while (i < q.length) {
        val r = mn(i) + (codes(i) & 0xFF) * st(i)
        d += q(i) * r; n += r * r; i += 1
      }
      (id, d, n)
    }
    assert(gen == ref)
  }

  test("Sq8Dot/Sq8NormSq: a codes/params dimension mismatch fails " +
      "loudly in BOTH eval modes — never a silently-truncated score") {
    import graft.expressions.VectorExpressions.{sq8Dot, sq8NormSq}
    // 4-dim rows against 3-dim params: stale qparams after a rebuild
    // with different dims (the r14 ADVICE drift scenario)
    val rows = Seq((1L, Seq(1.0, 2.0, 3.0, 4.0),
      Array[Byte](10, 20, 30, 40)))
    val mins = Array(0.0, 0.0, 0.0)
    val steps = Array(0.5, 0.5, 0.5)
    def mismatches(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(t => Option(t.getMessage).exists(_.contains("dimension mismatch")))
    for (codegen <- Seq(true, false)) {
      spark.conf.set("spark.sql.codegen.wholeStage", codegen.toString)
      try {
        val e = intercept[Throwable] {
          rows.toDF("id", "q", "codes")
            .select(sq8Dot(spark)($"q", $"codes", mins, steps).as("d"))
            .collect()
        }
        assert(mismatches(e), s"want a loud dimension-mismatch error, got $e")
        val e2 = intercept[Throwable] {
          rows.toDF("id", "q", "codes")
            .select(sq8NormSq(spark)($"codes", mins, steps).as("n"))
            .collect()
        }
        assert(mismatches(e2), s"want a loud dimension-mismatch error, got $e2")
      } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    }
  }

  test("the probe reads (codes, params) from ONE committed generation: " +
      "a drifted _qparams table cannot poison scores (r14 ADVICE)") {
    import graft.sources.Generations
    val tbl = buildQuantized("pair")
    def probe(): Seq[(Long, Int, Long, Double)] = Knn.ivfTopKAgainstIndexSq8(
        vecs.filter(_._1 < 6).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    val before = probe()
    // simulate the old two-flip race window: the `_qparams` audit table
    // flips to params that do NOT match the live codes (here: garbage)
    val qpLive = s"${tbl}_qparams"
    val base = Generations.currentOpt(spark, qpLive)
    val gen = Generations.reserve(spark, qpLive)
    Seq((Seq.fill(6)(123.0), Seq.fill(6)(456.0))).toDF("mins", "steps")
      .coalesce(1).write.format("parquet")
      .option("path",
        Generations.genPath(Generations.basePath(spark, qpLive), gen))
      .mode("overwrite").saveAsTable(gen)
    Generations.commit(spark, qpLive, gen, base)
    // scores must be unchanged: the probe resolves params from the
    // sidecar INSIDE the cells_q8 generation it scans — one matched
    // pair per atomic flip, the _qparams table is audit surface only
    assert(probe() == before,
      "probe scores must come from the generation-matched sidecar, " +
        "never from a drifted _qparams table")
  }

  test("tombstoned ids leave SQ8 results immediately; quantize is a " +
      "recorded revertible commit") {
    val tbl = buildQuantized("del")
    Knn.deleteFromIvfIndex(spark, tbl,
      vecs.map(_._1).filter(_ % 5 == 2).toDF("id"))
    val got = Knn.ivfTopKAgainstIndexSq8(
        vecs.filter(_._1 < 10).map { case (id, v) => (id, v.toSeq) }
          .toDF("vec_id", "embedding"),
        tbl, "vec_id", "embedding", k = 60, nProbe = 8)
      .select($"nid").collect().map(_.getLong(0)).toSet
    assert(got.nonEmpty && got.forall(_ % 5 != 2),
      s"no tombstoned id may appear in SQ8 results: $got")
    val ops = graft.sources.Snapshots.history(spark, tbl)
      .select("op", "revertible").collect()
      .map(r => (r.getString(0), r.getBoolean(1))).toSeq
    assert(ops == Seq(("delete", true), ("quantize", true), ("build", true)))
  }
}
