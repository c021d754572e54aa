package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

import graft.expressions.VectorExpressions.dot
import graft.sources.{AsOf, Snapshots}

/** Approximate-nearest-neighbor search over an embedding column
  * (`Array[Float]`) — builder brief §similarity-search.
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k, query side broadcast, data
  *    side streamed — the correctness baseline (also oracle-checked as
  *    q19 through `Queries.knnBruteForce`).
  *  - [[lshTopK]]: random-hyperplane LSH — data side is bucketed by
  *    sign-pattern signatures (computed map-side from deterministic
  *    hash-derived hyperplanes, no driver state), candidates come from
  *    bucket equi-joins across `tables` independent hash tables, and only
  *    candidates get exact cosine rerank. At 100 TB the all-pairs scan of
  *    the brute path is impossible; this path's cost is
  *    O(rows × tables) signature work + bucket-local joins.
  */
object Knn {

  /** Deterministic pseudo-random hyperplane component in [-1, 1):
    * murmur3 of (table, bit, dim) scaled — reproducible across JVMs,
    * no RNG state to ship. */
  private def planeComponent(table: Int, bit: Int, dim: Int): Double = {
    val h = MurmurHash3.productHash((table, bit, dim))
    (h.toDouble / Int.MaxValue.toDouble)
  }

  /** Sign-pattern signature of `v` for one hash table: `bits` sign bits. */
  private def signature(v: Array[Double], table: Int, bits: Int): Int = {
    var sig = 0
    var b = 0
    while (b < bits) {
      var dot = 0.0
      var d = 0
      while (d < v.length) { dot += v(d) * planeComponent(table, b, d); d += 1 }
      if (dot >= 0) sig |= (1 << b)
      b += 1
    }
    sig
  }

  private val sigsUdf = udf { (v: Seq[Double], tables: Int, bits: Int) =>
    val arr = v.toArray
    (0 until tables).map(t => signature(arr, t, bits)).toArray
  }

  private def withVecAndNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).as("id"), transform(col(vecCol), _.cast("double")).as("v"))
      .withColumn("nrm", sqrt(dot(spark)($"v", $"v")))
  }

  /** Exact cosine top-k of each row in `queries` against `data`.
    * `queries` must be small (it is broadcast); `data` streams. */
  def bruteForceTopK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val d = withVecAndNorm(data, idCol, vecCol)
    val q = withVecAndNorm(queries, idCol, vecCol)
      .select($"id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"id".asc)
    d.join(broadcast(q), $"id" =!= $"qid")
      .withColumn("score", dot(spark)($"qv", $"v") / ($"qn" * $"nrm"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"qid", $"rnk", $"id".as("nid"), $"score")
  }

  /** LSH-bucketed approximate cosine top-k: candidates share a bucket with
    * the query in ≥1 of `tables` hash tables; exact rerank on candidates.
    *
    * Tuning: recall per table ≈ (1 - θ/π)^bits, so `bits` should grow with
    * log(n) to keep buckets small — ~6 at 10³ rows, 16–20 at 10⁹ (where
    * each of 2^bits buckets still holds thousands of vectors per table and
    * the bucket join stays shuffle-friendly). More `tables` buys recall
    * linearly in cost. */
  def lshTopK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      tables: Int = 16, bits: Int = 6): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._

    val d = withVecAndNorm(data, idCol, vecCol)
    val q = withVecAndNorm(queries, idCol, vecCol)
      .select($"id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))

    // Bucket join on IDS ONLY, then dedup, then attach vectors: the
    // candidate shuffle moves 16-byte id pairs instead of kilobyte vector
    // rows — at 10⁵–10⁹ rows the candidate set is the dominant shuffle.
    val db = d.withColumn("sigs", sigsUdf($"v", lit(tables), lit(bits)))
      .select($"id", posexplode($"sigs").as(Seq("tbl", "sig")))
    val qb = q.withColumn("sigs", sigsUdf($"qv", lit(tables), lit(bits)))
      .select($"qid", posexplode($"sigs").as(Seq("tbl", "sig")))
    val cand = db.join(qb, Seq("tbl", "sig"))
      .filter($"id" =!= $"qid")
      .select($"qid", $"id")
      .dropDuplicates("qid", "id") // collapses multi-table collisions

    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"id".asc)
    cand
      .join(d, "id")
      .join(q, "qid")
      .withColumn("score", dot(spark)($"qv", $"v") / ($"qn" * $"nrm"))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"qid", $"rnk", $"id".as("nid"), $"score")
  }

  /** IVF (inverted-file) approximate top-k: a deterministic k-means coarse
    * quantizer partitions the data into `nCells` cells; queries probe the
    * `nProbe` nearest cells and exact-rerank only those candidates.
    *
    * Training keeps only k×dim doubles on the driver (the model — same
    * footprint as any learned index); assignment and search are pure
    * map-side work plus one bucket equi-join. Determinism: centroids are
    * initialized from the first `nCells` rows by id and refined a fixed
    * number of Lloyd iterations — no RNG. At 100 TB you train on a sample
    * and raise nCells so each cell stays executor-sized. */
  /** Nearest-centroid (squared L2) assignment UDF over a broadcast-able
    * centroid array — the coarse quantizer shared by [[ivfTopK]] and
    * [[semDedup]]. */
  private def nearestUdf(cs: Array[Array[Double]]) = udf { (v: Seq[Double]) =>
    val arr = v.toArray
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var dist = 0.0; var i = 0
      val cv = cs(c)
      while (i < arr.length) { val t = arr(i) - cv(i); dist += t * t; i += 1 }
      if (dist < bestD) { bestD = dist; best = c }
      c += 1
    }
    best
  }

  /** Deterministic Lloyd training over a `withVecAndNorm` frame, on a
    * bounded deterministic sample (~100 points per cell): at cluster scale
    * each Lloyd iteration over the FULL data would be a full scan
    * ×iterations; the quantizer only needs a representative sample, and
    * the md5-hash sample is retry/engine-stable so training stays
    * deterministic (no RNG; init = first `nCells` rows by id). The model
    * is nCells×dim doubles on the driver — same footprint as any learned
    * index.
    *
    * The Lloyd loop itself runs DRIVER-SIDE on the collected sample
    * (round 9): the previous distributed `avg(v[i])` per cell merged
    * float partials in nondeterministic order, so centroids were
    * ulp-unstable between runs and border vectors could flip cells —
    * the one seam that kept the whole IVF family off the external
    * oracle surface. Locally the per-cell means fold in ascending-id
    * order (bit-reproducible), and 2 Spark jobs × iterations over a
    * ≤ nCells·100-row sample were pure scheduling overhead anyway. */
  private[graft] def trainCentroids(
      d: DataFrame, nCells: Int, iterations: Int): Array[Array[Double]] = {
    val spark = d.sparkSession
    import spark.implicits._
    val n = d.count()
    val sampleCap = nCells.toLong * 100L
    val dTrain =
      if (n <= sampleCap) d
      else Sampling.hashSample(d, "id", sampleCap.toDouble / n)
    val sample: Array[Array[Double]] = dTrain
      .select($"id".cast("long").as("id"), $"v")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
      .map(_._2)
    if (sample.isEmpty) return Array.empty
    var centroids: Array[Array[Double]] = sample.take(nCells)
    val dim = centroids(0).length
    var iter = 0
    while (iter < iterations) {
      val sums = Array.fill(nCells)(new Array[Double](dim))
      val cnts = new Array[Long](nCells)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < centroids.length) {
          var dist = 0.0; var i = 0
          val cv = centroids(c)
          while (i < v.length) { val t = v(i) - cv(i); dist += t * t; i += 1 }
          if (dist < bestD) { bestD = dist; best = c }
          c += 1
        }
        cnts(best) += 1L
        val s = sums(best)
        var i = 0
        while (i < dim && i < v.length) { s(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (cnts(c) == 0L) centroids(c) // empty cell keeps its centroid
        else {
          val s = sums(c); val m = new Array[Double](dim)
          var i = 0
          while (i < dim) { m(i) = s(i) / cnts(c); i += 1 }
          m
        }
      }.toArray
      iter += 1
    }
    centroids
  }

  /** nProbe-nearest-cell assignment over a broadcast-able centroid
    * array — the query side of the coarse quantizer, shared by
    * [[ivfTopK]] and [[ivfTopKAgainstIndex]]. */
  private def probesUdf(centroids: Array[Array[Double]], nProbe: Int) =
    udf { (v: Seq[Double]) =>
      val arr = v.toArray
      centroids.indices.map { c =>
        var dist = 0.0; var i = 0
        val cv = centroids(c)
        while (i < arr.length) { val t = arr(i) - cv(i); dist += t * t; i += 1 }
        (dist, c)
      }.sorted.take(nProbe).map(_._2).toArray
    }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The shared search tail of both IVF entry points: identical
    * expression tree (so the in-session and persisted-index shapes rank
    * bit-identically on the same cells/centroids), query cells
    * broadcast onto the (partition-pruned) cell stream — WHEN the
    * exploded query frame is within `broadcastMaxQcells` rows (the
    * Dedup.incrementalAssembled guard: above the bound the same join
    * runs as a plain shuffle, loudly logged, identical rows — a hint,
    * never a semantic change) — exact cosine rerank, per-query top-k
    * window on the candidate-bounded frame. */
  private def scoreCells(cells: DataFrame, qcells: DataFrame, k: Int,
      nQcells: Long, broadcastMaxQcells: Long,
      score: Option[Column] = None): DataFrame = {
    val spark = cells.sparkSession
    import spark.implicits._
    val bc: DataFrame => DataFrame =
      if (nQcells <= broadcastMaxQcells) broadcast
      else { df =>
        log.warn(s"ivf scoreCells: query batch explodes to $nQcells cell " +
          s"rows, above broadcastMaxQcells=$broadcastMaxQcells — falling " +
          "back to a shuffle join (identical results, bigger exchange)")
        df
      }
    val w = Window.partitionBy($"qid").orderBy($"score".desc, $"id".asc)
    cells.join(bc(qcells), Seq("cell"))
      .filter($"id" =!= $"qid")
      .withColumn("score",
        score.getOrElse(dot(spark)($"qv", $"v") / ($"qn" * $"nrm")))
      .withColumn("rnk", row_number().over(w))
      .filter($"rnk" <= k)
      .select($"qid", $"rnk", $"id".as("nid"), $"score")
  }

  def ivfTopK(
      data: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nCells: Int = 16, nProbe: Int = 4, iterations: Int = 5,
      broadcastMaxQcells: Long = 8000000L): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._

    val d = withVecAndNorm(data, idCol, vecCol).cache()
    val centroids = trainCentroids(d, nCells, iterations)

    // --- assign cells; queries probe the nProbe nearest cells. The
    // exploded query frame is staged (it feeds the count gating the
    // broadcast hint AND the scoring join — one probesUdf pass, not two)
    val cells = d.withColumn("cell", nearestUdf(centroids)($"v"))
    val qcells = Stage.cut(withVecAndNorm(queries, idCol, vecCol)
      .withColumn("cell", explode(probesUdf(centroids, nProbe)($"v")))
      .select($"cell", $"id".as("qid"), $"v".as("qv"), $"nrm".as("qn")))
    scoreCells(cells, qcells, k, qcells.count(), broadcastMaxQcells)
    // d stays cached for the session (tiny: id + vec + norm)
  }

  /** Materialize the IVF index ONCE — the serving shape of [[ivfTopK]]
    * (which re-trains the quantizer and re-assigns every vector per
    * call: right for one batch, wasteful for many). Two tables:
    *
    *  - `{table}_cells`     (id, v, nrm; cell) — DIRECTORY-partitioned
    *    by cell, so a probe's `cell IN (...)` prunes whole directories
    *    at planning and reads only the nProbe cells each query hashes
    *    near (the Bm25 tb-directory precedent; nCells is small, so one
    *    dir per cell is the natural layout)
    *  - `{table}_centroids` (cell, c array<double>) — the nCells×dim
    *    model, one tiny file; the probe derives the quantizer FROM the
    *    index, so a mismatched re-probe is impossible by construction.
    *
    * Training and assignment are identical to [[ivfTopK]] (same
    * deterministic driver-side Lloyd on the same hash sample), so a
    * probe of this index ranks bit-identically to the in-session form
    * on the same corpus — `IvfIndexSpec` pins it row-for-row and q158
    * shares q42's oracle. */
  def writeIvfIndex(data: DataFrame, idCol: String, vecCol: String,
      table: String, path: String,
      nCells: Int = 16, iterations: Int = 5): Unit = {
    val spark = data.sparkSession
    import spark.implicits._
    import graft.sources.Generations
    ivfFamily.build(spark, table, path) {
      val d = withVecAndNorm(data, idCol, vecCol).cache()
      try {
        val centroids = trainCentroids(d, nCells, iterations)
        // live names are Generations VIEWS over generation tables —
        // maintenance flips are one atomic catalog op each; each member
        // generation is RESERVED (unique name/path under racing writers)
        // and CAS-committed, so a rebuild-by-writeIvfIndex racing another
        // maintenance op loses loudly instead of clobbering it
        val centBase = Generations.currentOpt(spark, s"${table}_centroids")
        val centGen = Generations.reserve(spark, s"${table}_centroids")
        centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "c")
          .coalesce(1)
          .write.format("parquet")
          .option("path", Generations.genPath(s"$path/centroids", centGen))
          .mode("overwrite").saveAsTable(centGen)
        Generations.commit(spark, s"${table}_centroids", centGen, centBase)
        val cellsBase = Generations.currentOpt(spark, s"${table}_cells")
        val cellsGen = Generations.reserve(spark, s"${table}_cells")
        d.withColumn("cell", nearestUdf(centroids)($"v"))
          .select($"id", $"v", $"nrm", $"cell")
          .repartition($"cell")
          .write.format("parquet")
          .option("path", Generations.genPath(s"$path/cells", cellsGen))
          .partitionBy("cell").mode("overwrite").saveAsTable(cellsGen)
        Generations.commit(spark, s"${table}_cells", cellsGen, cellsBase)
      } finally d.unpersist()
    }
  }

  /** The IVF index family ([[graft.sources.IndexFamily]]): cells,
    * centroids, the tombstone list and the SQ8 replica (codes and
    * params). Appends grow cells and cells_q8 in place, so those two are
    * file-tracked. */
  val ivfFamily: graft.sources.IndexFamily = new graft.sources.IndexFamily(
    "ivf", Seq("cells", "centroids", "deletes", "cells_q8", "qparams"),
    "cells", Seq("cells", "cells_q8"))

  /** DELETE vectors from a [[writeIvfIndex]] index — the takedown
    * primitive ([[graft.sources.IndexFamily.delete]]): every probe
    * anti-joins the pruned cell scan against the tombstone list, so the
    * vectors vanish from all results immediately at batch cost;
    * [[compactIvfIndex]] and [[rebuildIvfIndex]] fold them physically.
    * Centroids are untouched — quantizer drift
    * from heavy deletion shows up in [[ivfCellStats]] like any other
    * distribution shift, answered by a rebuild. */
  def deleteFromIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame): Unit =
    ivfFamily.delete(spark, table, ids)

  /** Grow a [[writeIvfIndex]] index with a batch of NEW vectors — the
    * index-maintenance half of the serving shape. The quantizer is NOT
    * retrained (serving semantics: a daily ingest assigns its batch to
    * the existing cells; retraining is a rebuild, done on its own
    * cadence), so the append is one bounded centroid-table read plus a
    * batch-sized assignment pass appended into the same cell-directory
    * layout — per-batch cost scales with the batch, never the index,
    * and the probe's partition-pruned plan survives any number of
    * appends (the `Bm25.appendToIndex` / `Dedup.ingestAgainstIndex`
    * precedent, completing the grow story for all three index
    * families). Vector ids must be NEW — re-appending an indexed id
    * would duplicate it in every probe that reads its cell. */
  /** @param autoCompactAfter when > 0, trigger [[compactIvfIndex]] once
    *   the snapshot log counts this many appends since the last base
    *   manifest of the cells member (adds-since-base == files-per-cell
    *   growth, read from the log with no FS walk — r15 directive 6). 0
    *   disables; see [[Bm25.appendToIndex]] for the time-travel trade. */
  def appendToIvfIndex(data: DataFrame, idCol: String, vecCol: String,
      table: String, autoCompactAfter: Int = 0): Unit =
      graft.sources.Generations.withMaintenanceLock(table) {
    val spark = data.sparkSession
    import spark.implicits._
    recoverPendingAppend(spark, table)
    // appends target the CURRENT generation in place (new files only —
    // never a rewrite of files a reader holds, so no flip needed); the
    // batch stages beside the index and commits through the family
    val cellsGen = graft.sources.Generations.ensureGen(spark, s"${table}_cells")
    val centroids: Array[Array[Double]] = spark.table(s"${table}_centroids")
      .orderBy($"cell").collect().map(_.getSeq[Double](1).toArray)
    def assigned = withVecAndNorm(data, idCol, vecCol)
      .withColumn("cell", nearestUdf(centroids)($"v"))
    val stagedCells = graft.sources.StagedAppend.stage(
      assigned.select($"id", $"v", $"nrm", $"cell").repartition($"cell"),
      s"${table}_cells", cellsGen, "cell")
    // the SQ8 replica grows IN THE SAME maintenance op (frozen params,
    // out-of-range components clamp): without this, an SQ8 probe after
    // an append would silently miss the new vectors
    val stagedQ8: Option[graft.sources.PendingAppend.StagedMember] =
      if (!hasQ8(spark, table)) None
      else {
        val q8Gen = graft.sources.Generations.ensureGen(spark, s"${table}_cells_q8")
        // frozen params matched to the generation the batch appends into
        val (mins, steps) = qparamsFor(spark, table, q8Gen)
        Some(graft.sources.StagedAppend.stage(
          assigned
            .select($"id", codeUdfFor(mins, steps)($"v").as("codes"), $"cell")
            .repartition($"cell"),
          s"${table}_cells_q8", q8Gen, "cell"))
      }
    ivfFamily.appendStaged(spark, table, Seq(stagedCells) ++ stagedQ8,
      "append", autoCompactAfter, () => compactIvfIndex(spark, table))
  }

  /** Recover an [[appendToIvfIndex]] that died mid-commit
    * ([[graft.sources.IndexFamily.recover]]). Every IVF maintenance op
    * calls it first; call it directly after restarting a dead ingest
    * job. */
  def recoverPendingAppend(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = ivfFamily.recover(spark, table)

  /** The (id, v) vectors [[appendToIvfIndex]] commits in
    * `(fromId, toId]` added ([[graft.sources.IndexFamily.addedBetween]]
    * over the cells); quantize commits in the window are transparent
    * like compactions. */
  def vectorsAddedBetween(spark: org.apache.spark.sql.SparkSession,
      table: String, fromId: Long, toId: Long,
      ignoreDeletes: Boolean = false): DataFrame =
    ivfFamily.addedBetween(spark, table, fromId, toId, ignoreDeletes)
      .select(col("id"), col("v"))

  /** [[ivfTopK]] against a PERSISTED index from [[writeIvfIndex]]:
    * per-call cost is the query batch's signature work plus a scan of
    * the probed cells ONLY — the `cell IN` filter on the partition
    * column prunes directories at planning, so an nProbe/nCells
    * fraction of the corpus is read, never the whole table. The probed
    * cell list is a bounded driver model (≤ nQueries × nProbe ints —
    * the same query-batch contract that lets the tail broadcast
    * qcells). */
  /** @param candidateFilter FILTERED vector search (the vector-DB
    *   capability: "nearest neighbors WHERE <metadata predicate>"): a
    *   predicate over the cell rows (columns `id`, `v`, `nrm`) applied
    *   to the pruned cell scan BEFORE scoring, so each query's top-k is
    *   ranked over qualifying vectors only — post-filtering a plain
    *   top-k would under-fill k. Pre-filtering is the right shape here
    *   because the rerank is exact: recall loss stays the quantizer's
    *   (a selective filter thins candidates per probed cell; raise
    *   nProbe to compensate, the standard filtered-IVF trade).
    * @param asOf the index state to serve; the cells member is
    *   file-tracked, so a historical read crosses append commits
    *   exactly. */
  def ivfTopKAgainstIndex(queries: DataFrame, table: String,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      broadcastMaxQcells: Long = 8000000L,
      candidateFilter: Option[Column] = None,
      asOf: AsOf = AsOf.Live): DataFrame =
    ivfProbe(queries, table, idCol, vecCol, k, nProbe, broadcastMaxQcells,
        candidateFilter, asOf, Nil) { snap =>
      (snap.read(s"${table}_cells").select(col("cell"), col("id"), col("v"),
        col("nrm")), None)
    }

  /** The persisted-index IVF probe both scorers share: the snapshot
    * read at `asOf` ([[Snapshots.open]]), the centroids, ONE bounded
    * take of the exploded query frame (it decides the path AND
    * materializes the batch: under the cap the query frame is a
    * LocalRelation, the probed-cell set comes from the rows in hand and
    * the scoring broadcast builds without a Spark job), the probed-cell
    * `IN` (partition pruning at planning), the tombstone and candidate
    * filter, and [[scoreCells]]. Over the cap pruning is moot (a
    * corpus-sized batch probes essentially every cell): all cells are
    * scanned, loudly, with the shuffle-join fallback — identical rows.
    * `cellsAt` names the scorer's cells frame (columns `cell`, `id` and
    * its payload) and score column (None: the float cosine). */
  private def ivfProbe(queries: DataFrame, table: String, idCol: String,
      vecCol: String, k: Int, nProbe: Int, broadcastMaxQcells: Long,
      candidateFilter: Option[Column], asOf: AsOf, members: Seq[String])(
      cellsAt: Snapshots.Snapshot => (DataFrame, Option[Column]))
      : DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val snap = Snapshots.open(spark, table,
      Seq(s"${table}_cells", s"${table}_centroids") ++ members, asOf,
      candidateFilter)
    val (cellScan, score) = cellsAt(snap)
    val centroids: Array[Array[Double]] = snap.read(s"${table}_centroids")
      .orderBy($"cell").collect().map(_.getSeq[Double](1).toArray)
    val qFrame = withVecAndNorm(queries, idCol, vecCol)
      .withColumn("cell", explode(probesUdf(centroids, nProbe)($"v")))
      .select($"cell", $"id".as("qid"), $"v".as("qv"), $"nrm".as("qn"))
    val capQ = (math.min(broadcastMaxQcells, Int.MaxValue - 2L) + 1L).toInt
    val qRows = qFrame.take(capQ)
    val (qcells, nQcells) =
      if (qRows.length < capQ)
        (spark.createDataFrame(
          java.util.Arrays.asList(qRows: _*), qFrame.schema),
          qRows.length.toLong)
      else {
        log.warn(s"ivf probe of $table: query batch explodes to > " +
          s"$broadcastMaxQcells cell rows (broadcastMaxQcells) — " +
          "skipping cell pruning and scanning all cells (identical " +
          "rows; split the workload into bounded retrieval batches to " +
          "get the pruned plan back)")
        (Stage.cut(qFrame), capQ.toLong)
      }
    val cells =
      if (nQcells <= broadcastMaxQcells)
        cellScan.filter($"cell".isin(qRows.map(_.getInt(0)).distinct.toSeq: _*))
      else cellScan
    scoreCells(snap.alive(cells, "id"), qcells, k, nQcells,
      broadcastMaxQcells, score)
  }

  /** Does the index carry an SQ8 replica ([[quantizeIvfIndex]] ran)? */
  private def hasQ8(spark: org.apache.spark.sql.SparkSession,
      table: String): Boolean = {
    val cat = spark.sessionState.catalog
    cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(
      s"${table}_cells_q8")) &&
    cat.tableExists(org.apache.spark.sql.catalyst.TableIdentifier(
      s"${table}_qparams"))
  }

  private def qparamsOf(spark: org.apache.spark.sql.SparkSession,
      table: String): (Array[Double], Array[Double]) = {
    val qp = spark.table(s"${table}_qparams").collect()
    require(qp.length == 1, s"index ${table}_qparams must hold exactly 1 row" +
      " — run quantizeIvfIndex first")
    (qp(0).getSeq[Double](0).toArray, qp(0).getSeq[Double](1).toArray)
  }

  /** The reconstruction params ride INSIDE the cells_q8 generation as a
    * hidden sidecar file (leading `_` keeps it out of the parquet file
    * listing), written BEFORE the generation commits — so the atomic
    * flip publishes (codes, params) as ONE matched pair and a probe can
    * never decode new codes with old params or vice versa (r14 ADVICE:
    * the previous two separate flips of `_cells_q8` and `_qparams` had
    * exactly that window, producing wrong scores, not stale ones). The
    * `_qparams` table is still written as the audit/mirror surface.
    * Encoding is `java.lang.Double.toString` per component (exact
    * round-trip), one line per array. */
  private val qparamsSidecar = "_graft_qparams.txt"

  private def writeQparamsSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String, mins: Array[Double], steps: Array[Double]): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, qparamsSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val out = fs.create(p, true)
    out.write((mins.map(java.lang.Double.toString).mkString(",") + "\n" +
      steps.map(java.lang.Double.toString).mkString(",") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private def readQparamsSidecar(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[(Array[Double], Array[Double])] = {
    val p = new org.apache.hadoop.fs.Path(dir, qparamsSidecar)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val txt = try new String(
        org.apache.commons.io.IOUtils.toByteArray(in),
        java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    val lines = txt.split("\n").filter(_.nonEmpty)
    require(lines.length == 2,
      s"corrupt SQ8 qparams sidecar at $p: ${lines.length} lines")
    Some((lines(0).split(",").map(java.lang.Double.parseDouble),
      lines(1).split(",").map(java.lang.Double.parseDouble)))
  }

  /** Resolve the (mins, steps) pair matched to generation `q8Gen` —
    * sidecar first, `_qparams` table fallback for indexes quantized by
    * pre-sidecar builds (where the old two-flip race window is the
    * documented legacy behavior; re-run quantizeIvfIndex to close it). */
  private def qparamsFor(spark: org.apache.spark.sql.SparkSession,
      table: String, q8Gen: String): (Array[Double], Array[Double]) =
    readQparamsSidecar(spark,
      graft.sources.Generations.location(spark, q8Gen))
      .getOrElse(qparamsOf(spark, table))

  /** The byte-code map shared by [[quantizeIvfIndex]] (fresh params) and
    * [[appendToIvfIndex]] (FROZEN params — out-of-range values clamp to
    * the [0, 255] edges, the standard frozen-quantizer drift; rebuild or
    * re-quantize on the usual cadence). math.round == HALF_UP for the
    * non-negative (x − min)/step, replayed bit-for-bit by the mirror. */
  private def codeUdfFor(mins: Array[Double], steps: Array[Double]) =
    udf { (v: Seq[Double]) =>
      val out = new Array[Byte](v.length)
      var i = 0
      while (i < out.length) {
        val s = if (i < steps.length) steps(i) else 0.0
        val c =
          if (s == 0.0) 0
          else math.min(255L, math.max(0L,
            math.round((v(i) - mins(i)) / s))).toInt
        out(i) = c.toByte
        i += 1
      }
      out
    }

  /** SQ8-quantize a [[writeIvfIndex]] index (faiss-style per-dimension
    * affine scalar quantization): derive per-dim (min, max) over the
    * CURRENT cell table — exact, order-insensitive aggregations, so the
    * parameters are deterministic — and write
    *
    *  - `{table}_cells_q8` (id, codes BINARY, cell) — the same
    *    cell-directory layout as `{table}_cells` with ONE BYTE per
    *    dimension (`round((x - min_d) / step_d)` clamped to [0, 255],
    *    `step_d = (max_d - min_d)/255`), 8× less probe IO/memory than
    *    the float64 cells;
    *  - `{table}_qparams` — 1 row (mins array<double>, steps
    *    array<double>), the shared reconstruction parameters.
    *
    * Both land as fresh generations behind atomic flips (probes during
    * the quantize read the previous complete state). The codes table is
    * DERIVED state frozen at quantize time: append/compact/rebuild do
    * not rewrite it — re-run this after maintenance, on the compaction
    * cadence (the snapshot log records each `quantize` commit, so
    * staleness is auditable). Tombstoned ids are NOT folded here; the
    * SQ8 probe anti-joins the same tombstone list every probe does.
    *
    * At 100 TB this is the serving-economics lever for the vector
    * family: the probe's pruned cell scan reads 1/8 the bytes and the
    * rerank loop runs on byte-decoded reconstructions inside
    * whole-stage codegen ([[graft.expressions.Sq8Dot]]) — recall loss
    * is priced by q178's recall column exactly like q175 prices the
    * quantizer's. */
  def quantizeIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit =
      graft.sources.Generations.withMaintenanceLock(table) {
    import spark.implicits._
    import graft.sources.Generations
    // the quantize reads the live cells — complete any dead append
    // first so the derived codes cover it
    recoverPendingAppend(spark, table)
    val cellsGen = Generations.ensureGen(spark, s"${table}_cells")
    val src = spark.table(cellsGen)
    val mm = src.select(posexplode($"v").as(Seq("d", "x")))
      .groupBy($"d").agg(min($"x").as("mn"), max($"x").as("mx"))
      .collect().map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(mm.nonEmpty, s"index ${table}_cells is empty — nothing to quantize")
    val mins: Array[Double] = mm.map(_._2)
    val steps: Array[Double] =
      mm.map { case (_, mn, mx) => if (mx > mn) (mx - mn) / 255.0 else 0.0 }
    val codeUdf = codeUdfFor(mins, steps)
    val parent = new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, s"${table}_cells")).getParent.toString
    val q8Name = s"${table}_cells_q8"
    val q8Base = Generations.currentOpt(spark, q8Name)
    val q8Gen = Generations.reserve(spark, q8Name)
    val q8Path = Generations.genPath(s"$parent/cells_q8", q8Gen)
    src.withColumn("codes", codeUdf($"v"))
      .select($"id", $"codes", $"cell")
      .repartition($"cell")
      .write.format("parquet")
      .option("path", q8Path)
      .partitionBy("cell").mode("overwrite").saveAsTable(q8Gen)
    // params land INSIDE the generation before its flip — the commit
    // publishes (codes, params) as one matched pair (see qparamsFor)
    writeQparamsSidecar(spark, q8Path, mins, steps)
    Generations.commit(spark, q8Name, q8Gen, q8Base)
    val qpName = s"${table}_qparams"
    val qpBase = Generations.currentOpt(spark, qpName)
    val qpGen = Generations.reserve(spark, qpName)
    Seq((mins.toSeq, steps.toSeq)).toDF("mins", "steps").coalesce(1)
      .write.format("parquet")
      .option("path", Generations.genPath(s"$parent/qparams", qpGen))
      .mode("overwrite").saveAsTable(qpGen)
    Generations.commit(spark, qpName, qpGen, qpBase)
    ivfFamily.record(spark, table, "quantize", revertible = true)
  }

  /** [[ivfTopKAgainstIndex]] over the SQ8 codes table from
    * [[quantizeIvfIndex]]: the same probe body (cell pruning, tombstone
    * and candidate filter, broadcast-or-shuffle choice, top-k window),
    * but the rerank scores cosine(query, RECONSTRUCTION) —
    * `mins[i] + code[i]·steps[i]` — through the fused
    * [[graft.expressions.Sq8Dot]] / [[graft.expressions.Sq8NormSq]]
    * codegen loops, reading 1 byte per dimension instead of 8.
    * Approximation is the quantization's (≤ half a step per dimension);
    * q178 prices the recall against the exact top-k. `candidateFilter`
    * sees columns (cell, id, codes).
    *
    * The codes scan and the reconstruction params come from ONE pinned
    * `_cells_q8` generation — the live one, or the one the `asOf` state
    * names (codes via its file manifest, params via its sidecar, frozen
    * at its quantize) — so a (re)quantize flipping the live view
    * mid-probe leaves the probe stale but consistent, never scoring
    * codes with mismatched params (r14 ADVICE). */
  def ivfTopKAgainstIndexSq8(queries: DataFrame, table: String,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 4,
      broadcastMaxQcells: Long = 8000000L,
      candidateFilter: Option[Column] = None,
      asOf: AsOf = AsOf.Live): DataFrame = {
    import graft.expressions.VectorExpressions.{sq8Dot, sq8NormSq}
    ivfProbe(queries, table, idCol, vecCol, k, nProbe, broadcastMaxQcells,
        candidateFilter, asOf,
        Seq(s"${table}_cells_q8", s"${table}_qparams")) { snap =>
      val spark = queries.sparkSession
      val (q8Gen, q8Scan) = snap.pinned(s"${table}_cells_q8").getOrElse(
        throw new IllegalStateException(
          s"index $table had no SQ8 replica at the requested commit " +
            "— quantizeIvfIndex had not run yet; probe the float " +
            "index (ivfTopKAgainstIndex) at that commit instead"))
      val (mins, steps) = qparamsFor(spark, table, q8Gen)
      (q8Scan.select(col("cell"), col("id"), col("codes")),
        Some(sq8Dot(spark)(col("qv"), col("codes"), mins, steps) /
          (col("qn") * sqrt(sq8NormSq(spark)(col("codes"), mins, steps)))))
    }
  }

  /** Compact a [[writeIvfIndex]] index after [[appendToIvfIndex]]
    * batches — each append adds one file per touched cell directory, so
    * after N daily batches a probe of a cell reads N+ files. Rewrites
    * `{table}_cells` as ONE fresh generation with one file per cell
    * directory (`repartition(cell)` puts each cell whole in one task),
    * swaps the live name, deletes the old generation — the write-new /
    * swap / delete-old contract and crash-safety story of
    * [[graft.sources.Generations]]. The centroid table is nCells rows
    * in one file and never needs compaction. Pure layout maintenance:
    * rows and assignments are untouched, so probe equality before/after
    * IS the correctness check (q163 shares q160's oracle verbatim;
    * `IvfIndexSpec` additionally pins one file per cell afterwards). */
  def compactIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = ivfFamily.compact(spark, table) { tomb =>
    import spark.implicits._
    import graft.sources.Generations
    // one cell-partitioned member rewritten as ONE fresh generation, its
    // tombstoned rows dropped: read by PATH (the live view serves the old
    // generation until the commit); partition discovery types cell as
    // int — matching the build schema, but cast explicitly so the
    // contract never drifts. An SQ8 params sidecar carries over before
    // the flip (codes are unchanged, so the matched pair stays matched —
    // the one-pair-per-generation contract of quantize). The flip is
    // CAS'd on the generation the rewrite read; the superseded one is
    // retained for in-flight readers until the next maintenance commit
    def rewrite(name: String, cols: String*): Unit = {
      val gen = Generations.ensureGen(spark, name)
      val old = Generations.location(spark, gen)
      val next = Generations.reserve(spark, name)
      val nextPath = Generations.genPath(old.replaceAll("__g\\d+$", ""), next)
      graft.sources.Tombstones.filterWith(
          spark.read.parquet(old)
            .select(cols.map(col) :+ $"cell".cast("int").as("cell"): _*),
          "id", tomb, table)
        .repartition($"cell")
        .write.format("parquet")
        .option("path", nextPath)
        .partitionBy("cell").mode("overwrite").saveAsTable(next)
      readQparamsSidecar(spark, old).foreach { case (mins, steps) =>
        writeQparamsSidecar(spark, nextPath, mins, steps)
      }
      Generations.commit(spark, name, next, Some(gen))
    }
    rewrite(s"${table}_cells", "id", "v", "nrm")
    // fold the SAME tombstones into the SQ8 replica BEFORE the list
    // resets — otherwise the cleared list would let the dead rows still
    // sitting in cells_q8 RESURFACE in quantized results
    if (hasQ8(spark, table)) rewrite(s"${table}_cells_q8", "id", "codes")
  }

  /** Per-cell occupancy of a persisted IVF index — the drift metric an
    * operator watches between [[appendToIvfIndex]] batches: appends
    * assign to FROZEN centroids, so a shifted ingest distribution piles
    * vectors into few cells and probe cost/recall quietly degrade.
    * Returns (cell, n, occupancy_ratio = n / mean-cell-size); a ratio
    * far above 1 on hot cells says probes of those cells read far more
    * than corpus/nCells vectors — time to [[rebuildIvfIndex]]. One
    * column-pruned scan of the cell table (cell is the partition
    * column; n rides a count per directory). */
  def ivfCellStats(spark: org.apache.spark.sql.SparkSession,
      table: String): DataFrame = {
    import spark.implicits._
    val counts = spark.table(s"${table}_cells")
      .groupBy($"cell").agg(count(lit(1)).as("n"))
    val mean = counts.agg(avg($"n").as("mean_n"))
    counts.crossJoin(broadcast(mean))
      .select($"cell", $"n", ($"n" / $"mean_n").as("occupancy_ratio"))
  }

  /** Rebuild a [[writeIvfIndex]] index IN PLACE: retrain the
    * deterministic quantizer on the CURRENT corpus (everything built +
    * appended so far), re-assign every vector, write both tables as
    * fresh generations and swap — the retrain-cadence answer to
    * [[appendToIvfIndex]]'s frozen centroids (run it when
    * [[ivfCellStats]] shows drift, not per batch). Bit-identical to a
    * fresh [[writeIvfIndex]] over the same corpus: [[trainCentroids]]
    * sorts its hash sample by id before the driver-side Lloyd loop, so
    * the stored row order never reaches the float sums (`IvfIndexSpec`
    * pins rebuild == fresh build row-for-row; q164 shares q42/q158's
    * oracle — rebuild-after-append must equal one build over the whole
    * corpus).
    *
    * Swap order: the new CELLS generation is written (against the new
    * centroids) before either table's name moves, then centroids swap,
    * then cells — a probe planned between the two swaps may mix new
    * centroids with old assignments (approximate-search recall blip,
    * never wrong scores: the rerank is exact); re-derive probe frames
    * after maintenance, as with every compaction. */
  def rebuildIvfIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, nCells: Int = 16, iterations: Int = 5): Unit =
      graft.sources.Generations.withMaintenanceLock(table) {
    import spark.implicits._
    import graft.sources.Generations
    ivfFamily.compact(spark, table, "rebuild") { tomb =>
      val cellsName = s"${table}_cells"
      val centName = s"${table}_centroids"
      val cellsGen = Generations.ensureGen(spark, cellsName)
      val centGen = Generations.ensureGen(spark, centName)
      val oldCells = Generations.location(spark, cellsGen)
      val oldCent = Generations.location(spark, centGen)
      // read by PATH: v and nrm round-trip parquet doubles exactly, so
      // retraining from the index equals retraining from the source rows.
      // Tombstones fold here too — the rebuild trains on and re-assigns
      // the SURVIVING corpus, bit-identical to a fresh writeIvfIndex over
      // it (IndexDeleteSpec pins that equality), and the list resets after
      // both flips
      val d = graft.sources.Tombstones.filterWith(
          spark.read.parquet(oldCells).select($"id", $"v", $"nrm"),
          "id", tomb, table)
        .cache()
      try {
        val centroids = trainCentroids(d, nCells, iterations)
        val nextCent = Generations.reserve(spark, centName)
        val nextCells = Generations.reserve(spark, cellsName)
        centroids.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
          .toDF("cell", "c").coalesce(1)
          .write.format("parquet")
          .option("path",
            Generations.genPath(oldCent.replaceAll("__g\\d+$", ""), nextCent))
          .mode("overwrite").saveAsTable(nextCent)
        d.withColumn("cell", nearestUdf(centroids)($"v"))
          .select($"id", $"v", $"nrm", $"cell")
          .repartition($"cell")
          .write.format("parquet")
          .option("path",
            Generations.genPath(oldCells.replaceAll("__g\\d+$", ""), nextCells))
          .partitionBy("cell").mode("overwrite").saveAsTable(nextCells)
        // both new generations fully written and registered BEFORE either
        // flip; each flip is one atomic catalog op (CAS'd on the
        // generation the retrain read), and the superseded generations
        // survive until the next maintenance commit
        Generations.commit(spark, centName, nextCent, Some(centGen))
        Generations.commit(spark, cellsName, nextCells, Some(cellsGen))
      } finally d.unpersist()
    }
    // a rebuild reassigns every row, so an existing SQ8 replica is
    // wholesale stale: re-derive it (fresh params — the rebuild IS the
    // retrain cadence); one more recorded 'quantize' commit
    if (hasQ8(spark, table)) quantizeIvfIndex(spark, table)
  }

  /** Embedding near-duplicate PAIRS above a cosine threshold via LSH
    * self-bucketing — no all-pairs scan: candidates share a bucket in ≥1
    * table, exact cosine filters them.
    *
    * `bits = 0` (default) sizes the signature to the corpus: enough bits
    * that a bucket holds ~8 vectors (`log2(n/8)`, clamped to [10, 20]).
    * Fixed bits break at scale in BOTH directions — too few ⇒ candidate
    * pairs grow ~n²/2^bits (measured: 678 s at 200k vectors with 12 fixed
    * bits before this was adaptive), too many ⇒ recall decays for the
    * mid-cosine band. Identical/near-identical vectors (the dedup target)
    * collide at any bit width. Candidate generation shuffles id pairs
    * only; vectors are attached after dedup.
    *
    * `tables = 0` (default) sizes the table count to the THRESHOLD: a
    * pair at angle θ collides in one bits-bit random-hyperplane table
    * with p = (1−θ/π)^bits, so T tables recover it with 1−(1−p)^T; T is
    * the smallest count giving ≥99% at exactly `minCosine` (pairs above
    * the threshold collide more often still), clamped to [2, 32]. Cost
    * is ∝ tables × n × bucket occupancy, so a tight dedup threshold
    * (0.999 ⇒ T=4 at 17 bits) runs 4× cheaper than the old fixed
    * T=16 (measured at 1M×64-dim: 756 s → see SCALE.md §ANN), while a
    * loose threshold correctly spends MORE tables than 16 instead of
    * silently losing recall. */
  def nearDupPairs(
      data: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, tables: Int = 0, bits: Int = 0): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val d = withVecAndNorm(data, idCol, vecCol)
    val nBits =
      if (bits > 0) bits
      else {
        val n = data.count().toDouble // one scalar (operator entry point)
        math.min(20, math.max(10, math.ceil(math.log(math.max(n, 1.0) / 8.0) / math.log(2.0)).toInt))
      }
    val nTables =
      if (tables > 0) tables
      else {
        val theta = math.acos(math.min(1.0, math.max(-1.0, minCosine)))
        val p = math.pow(1.0 - theta / math.Pi, nBits)
        val t =
          if (p >= 1.0) 2
          else math.ceil(math.log(0.01) / math.log(1.0 - p)).toInt
        math.min(32, math.max(2, t))
      }
    val bucketed = d
      .withColumn("sigs", sigsUdf($"v", lit(nTables), lit(nBits)))
      .select($"id", posexplode($"sigs").as(Seq("tbl", "sig")))
    val a = bucketed.select($"tbl", $"sig", $"id".as("id_a"))
    val b = bucketed.select($"tbl", $"sig", $"id".as("id_b"))
    val cand = a.join(b, Seq("tbl", "sig"))
      .filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(d.select($"id".as("id_a"), $"v".as("va"), $"nrm".as("na")), "id_a")
      .join(d.select($"id".as("id_b"), $"v".as("vb"), $"nrm".as("nb")), "id_b")
      .withColumn("score", dot(spark)($"va", $"vb") / ($"na" * $"nb"))
      .filter($"score" >= minCosine)
      .select($"id_a", $"id_b", $"score")
  }

  /** Embedding near-dup CLUSTERS: [[nearDupPairs]] edges → smallest-id
    * connected components (cluster_id = smallest member id). Signature
    * bits default to [[nearDupPairs]]'s density-adaptive sizing:
    * clustering targets HIGH-cosine pairs (θ/π small), whose per-table
    * match probability stays high even at fine bucketing, so buckets can
    * shrink with n — that is what keeps the self-join linear on corpora
    * WITHOUT many duplicates. */
  def nearDupClusters(
      data: DataFrame, idCol: String, vecCol: String, minCosine: Double,
      tables: Int = 0, bits: Int = 0): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val pairs = Stage.cut(
      nearDupPairs(data, idCol, vecCol, minCosine, tables, bits)
        .select($"id_a", $"id_b"))
    val touched = pairs.select($"id_a".as("id"))
      .unionByName(pairs.select($"id_b".as("id"))).distinct()
    val labels = Dedup.connectedComponents(touched, pairs)
    data.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select($"id".as(idCol), coalesce($"label", $"id").as("cluster_id"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication", arXiv:2303.09540):
    * embedding-level semantic dedup via k-means cells + WITHIN-CELL cosine
    * pruning — the published trick for never running the n² corpus scan:
    * pairwise similarity is computed only inside a cell, so total work is
    * Σ|cell|², bounded by sizing nCells ∝ n (the paper runs 50k clusters
    * at web scale; each cell stays executor-sized).
    *
    * Shape: deterministic coarse quantizer ([[trainCentroids]], sample
    * -trained, no RNG) → map-side cell assignment → per-cell self-join
    * scores exact cosine on pairs (one shuffle keyed by cell; the join
    * carries each vector once per side) → edges ≥ `minCosine` → smallest
    * -id connected components → one representative kept per component.
    *
    * Keep rule:
    *  - `"min_id"` (default): lowest member id — the deterministic
    *    convention every other dedup operator here uses, and exactly
    *    derivable by an oracle mirror.
    *  - `"low_centroid"`: the paper's §3 choice — keep the member with the
    *    LOWEST cosine to its cell centroid (least prototypical ⇒ most
    *    informative example survives). Ties break to lowest id.
    *
    * Cross-cell duplicates are the quantizer's recall loss (a pair split
    * across cells is never compared) — the paper accepts this; raise
    * `iterations` / lower `nCells` to trade recall for cost. A hot cell
    * (mass near-duplication) degrades to that cell's |cell|² — the same
    * profile the paper reports; at 100 TB size nCells so E|cell| ≈ 10³.
    *
    * Output: (idCol, cluster_id, keep) — `keep` marks the representative;
    * singletons (no edge) keep themselves. */
  def semDedup(
      data: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, nCells: Int = 16, iterations: Int = 5,
      keepRule: String = "min_id"): DataFrame = {
    require(keepRule == "min_id" || keepRule == "low_centroid",
      s"unknown keepRule: $keepRule")
    val spark = data.sparkSession
    import spark.implicits._
    // NULL/empty embeddings are degenerate rows: singleton keeps, never an
    // NPE inside the assignment UDF (a single bad row at 10^9 kills the
    // job). Zero-norm vectors survive naturally: their cosine is NaN,
    // which fails every ≥ threshold edge test.
    val degenerate = data
      .filter(col(vecCol).isNull || size(col(vecCol)) === 0)
      .select(col(idCol), col(idCol).as("cluster_id"), lit(true).as("keep"))
    val d = withVecAndNorm(
      data.filter(col(vecCol).isNotNull && size(col(vecCol)) > 0),
      idCol, vecCol).cache()
    val centroids = trainCentroids(d, nCells, iterations)
    val cells = d.withColumn("cell", nearestUdf(centroids)($"v"))

    // per-cell pairwise: equi-join on the cell key (sort-merge/ hash, never
    // cartesian); each side ships one (id, vec) row per input row
    val a = cells.select($"cell", $"id".as("id_a"), $"v".as("va"), $"nrm".as("na"))
    val b = cells.select($"cell", $"id".as("id_b"), $"v".as("vb"), $"nrm".as("nb"))
    val edges = a.join(b, Seq("cell"))
      .filter($"id_a" < $"id_b")
      .withColumn("score", dot(spark)($"va", $"vb") / ($"na" * $"nb"))
      .filter($"score" >= minCosine)
      .select($"id_a", $"id_b")
      .transform(Stage.cut) // reused as edge list and vertex set
    val touched = edges.select($"id_a".as("id"))
      .unionByName(edges.select($"id_b".as("id"))).distinct()
    val labels = Dedup.connectedComponents(touched, edges)
    val clustered = cells
      .join(labels, Seq("id"), "left")
      .withColumn("cluster_id", coalesce($"label", $"id"))

    val kept = keepRule match {
      case "min_id" =>
        clustered.withColumn("keep", $"id" === $"cluster_id")
      case "low_centroid" =>
        // cosine(v, centroid of the member's own cell); components never
        // span cells (edges are within-cell), so the paper's "cosine to
        // the cluster centroid" is exactly this
        val centCos = udf { (v: Seq[Double], nrm: Double, cell: Int) =>
          val cv = centroids(cell)
          var dotA = 0.0; var cn = 0.0; var i = 0
          while (i < cv.length) { dotA += v(i) * cv(i); cn += cv(i) * cv(i); i += 1 }
          dotA / (nrm * math.sqrt(cn))
        }
        val w = Window.partitionBy($"cluster_id")
          .orderBy($"cent_cos".asc, $"id".asc)
        clustered
          .withColumn("cent_cos", centCos($"v", $"nrm", $"cell"))
          .withColumn("keep", row_number().over(w) === 1)
    }
    kept.select($"id".as(idCol), $"cluster_id", $"keep")
      .unionByName(degenerate)
  }

  /** SPEC-ONLY exact baseline: globally most-similar pairs by exact cosine
    * over ALL n² pairs (BroadcastNestedLoopJoin). Deliberately NOT wired
    * into any `SparkEntry.queries` plan — exact global top pairs over
    * unstructured data is inherently quadratic (on this corpus the true
    * top-20 sit at cosine 0.43–0.60, far below any LSH-recoverable band),
    * so the shipped surface bounds one side instead
    * ([[bruteForceTopK]] with a probe set, `Queries.embeddingNearDup`) or
    * thresholds high ([[nearDupPairs]], `Queries.embeddingDedupClusters`). */
  def topSimilarPairs(data: DataFrame, idCol: String, vecCol: String, limit: Int): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val d = withVecAndNorm(data, idCol, vecCol)
    val a = d.select($"id".as("id_a"), $"v".as("va"), $"nrm".as("na"))
    val b = d.select($"id".as("id_b"), $"v".as("vb"), $"nrm".as("nb"))
    a.join(b, $"id_a" < $"id_b")
      .withColumn("score", dot(spark)($"va", $"vb") / ($"na" * $"nb"))
      .orderBy($"score".desc, $"id_a".asc, $"id_b".asc)
      .limit(limit)
      .select($"id_a", $"id_b", $"score")
  }
}
