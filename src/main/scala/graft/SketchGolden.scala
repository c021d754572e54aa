package graft

/** Pinned expected output of the approximate-sketch aggregate family
  * (q63/q98: `hll_sketch_agg`/`hll_union_agg`/`hll_sketch_estimate`,
  * `approx_count_distinct`, `approx_percentile`) over a constructed,
  * SF-independent input — the q52/q121 VALUES-golden pattern applied to
  * the one family CHANGES_r07 still listed as "inherently approximate":
  * the estimates ARE deterministic functions of the data once the merge
  * topology is controlled, so they can sit on the driver's DuckDB oracle
  * surface like everything else.
  *
  * What is pinnable and what is not (measured, Spark 4.1.2):
  *  - `approx_count_distinct` (HLL++): register max-merge — invariant to
  *    partitioning and order, pinnable as a value.
  *  - DataSketches HLL (`hll_sketch_*`): registers are invariant, but a
  *    sketch that never went through a union keeps its streaming HIP
  *    estimator while merged sketches use the composite estimator — a
  *    1-partition build differs from any ≥2-partition build by ~1%. The
  *    query therefore spreads the input over a fixed explicit
  *    `repartition(32, id % 13)` so every group aggregates ≥2 partial
  *    sketches; the merged (composite) estimate is then pinnable.
  *    `SketchGoldenSpec` asserts invariance across further layouts.
  *  - `approx_percentile` values drift with the merge pattern (the
  *    Greenwald–Khanna summary is order-sensitive), but the rank-error
  *    guarantee (≤ n/accuracy ranks) holds under ANY merge pattern — so
  *    the query pins the BOOLEAN "estimate lies within the guaranteed
  *    rank window around the true median", with the window precomputed
  *    exactly in straight-line JVM code from the constructed input.
  *
  * Input (20,000 rows, ids 0 until 20000, all integer arithmetic —
  * trivially re-derivable in the JVM):
  *   grp  = id % 5                       (5 groups × 4,000 rows)
  *   user = "u" + (id·2654435761) % m_g  with m_g = (grp+1)·211 + 100
  *          (per-group cardinalities 311/522/733/944/231 — note grp 4:
  *           its modulus 1155 shares the factor 5 with the id stride, so
  *           the reachable residues collapse to 1155/5 = 231; the groups
  *           still overlap, so the ALL union row is a real set union of
  *           987 users, well below the 2,741 per-group sum)
  *   chars = (id·48271) % 9973           (median target for the
  *           rank-window check)
  *
  * Fixture `sketch_golden_snapshot.tsv` is regenerated with
  * `runMain graft.tools.Golden sketch` (a Spark run — the approximate
  * columns characterize the engine's sketches; the EXACT columns and the
  * rank windows are independently re-derived here in [[recomputeExact]]
  * and cross-checked by `SketchGoldenSpec`); [[Golden.sketch]]'s
  * `oracleValuesSql` replays the fixture as an engine-independent VALUES
  * oracle for q130.
  */
object SketchGolden {

  val NumRows = 20000L
  val NumGroups = 5
  /** approx_percentile accuracy parameter (rank error ≤ n/Accuracy). */
  val Accuracy = 1000

  def modulus(grp: Int): Long = (grp + 1).toLong * 211L + 100L

  /** The constructed input, row by row: (id, grp, user, chars). */
  def inputRows: Iterator[(Long, Int, String, Long)] =
    Iterator.range(0L, NumRows).map { id =>
      val grp = (id % NumGroups).toInt
      val user = "u" + ((id * 2654435761L) % modulus(grp))
      val chars = (id * 48271L) % 9973L
      (id, grp, user, chars)
    }

  /** Exact truth, straight-line JVM: per group and for ALL —
    * (label, exact distinct users, inclusive [lo, hi] value window that a
    * rank-correct median estimate must land in). */
  def recomputeExact: Seq[(String, Long, Double, Double)] = {
    val users = Array.fill(NumGroups)(collection.mutable.Set.empty[String])
    val chars = Array.fill(NumGroups)(collection.mutable.ArrayBuffer.empty[Long])
    inputRows.foreach { case (_, g, u, c) => users(g) += u; chars(g) += c }
    def window(sorted: Array[Long]): (Double, Double) = {
      val n = sorted.length
      // median rank n/2 (either convention); single-summary GK guarantees
      // rank error ≤ n/Accuracy, but summaries MERGED across partitions
      // can reach 2× that, so the window uses 2·n/Accuracy (+1 for the
      // floor/ceil convention at even n) — wide enough for any merge
      // topology, still ±9 ranks of 4000 (a real assertion)
      val err = 2 * n / Accuracy + 1
      val lo = sorted(math.max(0, n / 2 - err))
      val hi = sorted(math.min(n - 1, n / 2 + err))
      (lo.toDouble, hi.toDouble)
    }
    val perGroup = (0 until NumGroups).map { g =>
      val (lo, hi) = window(chars(g).toArray.sorted)
      (g.toString, users(g).size.toLong, lo, hi)
    }
    val (alo, ahi) = window(chars.flatten.map(_.toLong).toArray.sorted)
    perGroup :+ (("ALL", users.reduce(_ ++ _).size.toLong, alo, ahi))
  }
}
