package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{AsOf, Snapshots}

/** BM25 top-k lexical retrieval (Robertson–Spärck Jones / Okapi BM25 —
  * Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework")
  * — the canonical keyword scorer a RAG pipeline runs beside the
  * embedding ANN retriever (q19/q38/q42): score every document against
  * each query's term set and keep the k best.
  *
  * Score, per (query, doc): Σ over the query's DISTINCT terms of
  * `idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with the
  * Lucene-shape `idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))` (always
  * > 0, so BM25's troublesome negative-idf regime never arises).
  * Tokenization is the corpus contract ([[CorpusFilters.words]]:
  * lower → split `\s+` → drop empties — exactly DuckDB's
  * `list_filter(string_split_regex(lower(text),'\s+'), t -> t <> '')`).
  *
  * Engine-exactness (the q134 precedent): each (query, term, doc)
  * contribution is computed in doubles from exact integer inputs
  * (tf, df, dl, N, Σdl) with BOTH engines evaluating the identical
  * expression tree, then rounded to e4 fixed point — ln is the only
  * non-correctly-rounded step and e4 granularity keeps an ulp flip
  * astronomically unlikely — so the per-(query, doc) sum is pure BIGINT:
  * partitioning- and merge-order-proof. Ranking ties break on doc id.
  *
  * 100 TB plan — one pruned index pass, no full-vocabulary state:
  *  1. queries (qid, term) are SMALL (a retrieval batch); their distinct
  *     term set broadcasts onto the exploded token stream BEFORE the
  *     posting aggregation, so the one big shuffle carries only tokens
  *     matching some query term (a serving deployment scoring arbitrary
  *     workloads would materialize the full posting index ONCE instead —
  *     same aggregation, no prune; this operator is the batch shape).
  *  2. dl rides the exploded rows (computed with the same `words` call,
  *     collapsed by CollapseProject into one tokenize) — document length
  *     never needs a big-side join.
  *  3. df per surviving term = posting row count per term — a
  *     query-term-bounded frame that broadcasts back; N and Σdl are a
  *     1-row broadcast (the q73/q90 bounds-row shape).
  *  4. the (qid, doc) score aggregation is the single unavoidable
  *     exchange; the top-k window rides a qid-bounded frame
  *     (≤ nQueries·candidates rows), never the corpus.
  */
object Bm25 {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** The per-(query, term, doc) contribution column — ONE definition so
    * every consumer (batch shape, index probe, WAND floor pass)
    * provably evaluates the identical expression tree. Expects columns
    * tf, dl, df, n, sumdl in scope. */
  private def contributionE4(k1: Double, b: Double): Column = {
    val avgdl: Column = col("sumdl").cast("double") / col("n")
    val idf: Column =
      log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val tfPart: Column = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl") / avgdl)))
    round(idf * tfPart * lit(1e4)).cast("long")
  }

  /** The shared score-and-rank tail of both entry points: identical
    * expression tree (so the batch shape and the index shape are
    * bit-identical on the same postings), one (qid, doc) aggregation
    * exchange, top-k window on the qid-bounded score frame.
    *
    * `broadcastQueries = false` is the over-cap fallback shape: when the
    * caller's "retrieval batch" exceeds the loud cap (see
    * [[topKAgainstIndex]]'s `maxBatchPairs`), the query frame is NOT a
    * bounded driver model and must not be broadcast — the joins run as
    * plain shuffles (identical rows, corpus-scale cost, loudly
    * logged). */
  private def scoreAndRank(qStaged: DataFrame, postings: DataFrame,
      dfs: DataFrame, totals: DataFrame, k: Int,
      k1: Double, b: Double, broadcastQueries: Boolean = true): DataFrame = {
    val spark = qStaged.sparkSession
    import spark.implicits._
    // the query batch is SMALL by contract — broadcast it so the posting
    // stream is probed map-side (round 12: leaving this to AQE planned a
    // sort-merge join that shuffled the whole matching posting stream by
    // term — zipf-skewed — before scoring; measured +60% on the 10M
    // index-shape smoke)
    val bc: DataFrame => DataFrame =
      if (broadcastQueries) broadcast else identity
    // c_e4 depends only on (term, doc) facts (tf, dl, df, n, sumdl) —
    // never on qid — so it is computed ONCE per posting row BEFORE the
    // query join fans each posting out to every query sharing the term
    // (r17 optimization: the fanout previously re-evaluated the
    // ln-bearing double tree per (qid, term, doc) row; same expression
    // tree on the same inputs ⇒ bit-identical values, and the BIGINT
    // sum is order-free)
    val contrib = postings
      .join(bc(dfs.select($"term", $"df")), Seq("term"))
      .crossJoin(broadcast(totals))
      .select($"term", $"doc_id", contributionE4(k1, b).as("c_e4"))
    val scores = bc(qStaged)
      .join(contrib, Seq("term"))
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c_e4").as("score_e4"))

    val w = Window.partitionBy($"qid")
      .orderBy($"score_e4".desc, $"doc_id".asc)
    scores
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"doc_id", $"score_e4")
  }

  /** @param queries (qid: BIGINT, term: STRING) — distinct rows, small
    *                (one retrieval batch; broadcast twice)
    * @return (qid, rank 1..k, doc_id, score_e4) for docs sharing ≥ 1
    *         term with the query */
  /** @param prune the same lossless WAND/maxscore bound the serving
    *   index runs (see [[topKAgainstIndex]]): per-term (max_tf, min_dl)
    *   come from the staged query-pruned postings for free, the floor
    *   pass re-reads that staged frame, and (qid, doc) groups that
    *   cannot reach the per-query top-k floor never enter the sort.
    *   Below `pruneMinPostings` matching postings the straight path
    *   wins and runs instead. At 100M the aggregation+sort is most of
    *   the batch shape's cost — the bound cuts it without losing a row
    *   (the 100M smoke's checksum equality pins it at scale;
    *   `Bm25Spec` pins pruned == unpruned at spec scale). */
  def topK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      prune: Boolean = true, floorTermsPerQuery: Int = 2,
      pruneMinPostings: Long = 2000000L,
      pruneMinMaxDf: Long = 1000000L,
      semiJoinMinPrunable: Long = 50000000L,
      maxBatchPairs: Long = 8000000L,
      spreadMinFanout: Long = 1000000L): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._

    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      CorpusFilters.words(col(textCol)).as("ts"))
    // 1-row corpus bounds: N docs, total token count (for avgdl)
    val totals = toks.agg(count(lit(1)).as("n"),
      coalesce(sum(size($"ts")), lit(0L)).cast("long").as("sumdl"))

    // the query batch feeds three consumers (term-set prune, df join,
    // scoring join) — stage the SMALL frame once instead of re-deriving
    // it per consumer (it may carry an upstream corpus scan, as q152's
    // does)
    val qProjected =
      queries.select(col("qid").cast("long").as("qid"), col("term"))
    // the loud batch cap (the Dedup.incrementalAssembled pattern): every
    // driver-side fold below — the stats collect, the WAND floor, the
    // query-pair collect — is bounded ONLY by the one-retrieval-batch
    // contract. A caller handing a corpus-sized "batch" used to get a
    // driver OOM; now it gets the fully-distributed exact path (no
    // broadcasts, no WAND — identical rows, corpus-scale cost) and a
    // warning saying so.
    // ONE bounded take replaces the count()+collect() job pair (r14
    // verdict directive: no per-probe driver jobs beyond what the
    // bounded model already needs). take() stops collecting at cap+1
    // rows, so an abusive corpus-sized "batch" costs the driver one
    // legal batch of rows, not a full materialization.
    val capProbe = (math.min(maxBatchPairs, Int.MaxValue - 2L) + 1L).toInt
    val qPairsRaw = qProjected.take(capProbe)
    if (qPairsRaw.length >= capProbe) {
      logger.warn(s"bm25 topK: query batch has > $maxBatchPairs (qid, " +
        s"term) pairs (maxBatchPairs) — falling back to the " +
        "fully-distributed exact path (no query broadcast, no WAND prune; " +
        "identical rows). Split the workload into bounded retrieval " +
        "batches to get the serving-shape plan back.")
      val qStaged = Stage.cut(qProjected)
      val qTermSet = qStaged.select($"term").distinct()
      val postings = Stage.cut(toks
        .select($"doc_id", size($"ts").cast("long").as("dl"),
          explode($"ts").as("term"))
        .join(qTermSet, Seq("term"), "left_semi")
        .groupBy($"doc_id", $"term")
        .agg(count(lit(1)).as("tf"), max($"dl").as("dl")))
      val dfs = postings.groupBy($"term").agg(count(lit(1)).as("df"))
      return scoreAndRank(qStaged, postings, dfs, totals, k, k1, b,
        broadcastQueries = false)
    }
    // bounded batch: rows already on the driver (the cap-check take) —
    // a LocalRelation stage (same rows, original schema) makes every
    // downstream read driver-local, so no consumer re-runs the caller's
    // plan (each broadcast of it still costs one small build job)
    val qStaged = spark.createDataFrame(
      java.util.Arrays.asList(qPairsRaw: _*), qProjected.schema)
    val qTermSet = qStaged.select($"term").distinct()
    // prune the token stream to query terms BEFORE the tf aggregation:
    // the posting shuffle is bounded by matching tokens, not the corpus.
    // Stage the result — df aggregation AND the scoring join both read
    // it, and without the cut Catalyst re-runs the corpus explode +
    // aggregation once per consumer (two full index builds).
    val postings = Stage.cut(toks
      .select($"doc_id", size($"ts").cast("long").as("dl"),
        explode($"ts").as("term"))
      .join(broadcast(qTermSet), Seq("term"))
      .groupBy($"doc_id", $"term")
      .agg(count(lit(1)).as("tf"), max($"dl").as("dl")))

    // per-term stats over the staged pruned postings (df equals corpus
    // df for every query term) — a bounded collect (≤ batch terms) that
    // also drives the WAND bounds
    val stats = postings.groupBy($"term")
      .agg(count(lit(1)).as("df"), max($"tf").as("max_tf"),
        min($"dl").as("min_dl"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))

    val matchingPostings = stats.map(_._2).sum
    val maxTermDf = if (stats.isEmpty) 0L else stats.map(_._2).max
    // the scoring join fans each posting row out to every query sharing
    // its term — and the staged posting frame behind it was coalesced by
    // AQE (often to ONE partition at small matching volumes), so the
    // whole fanout + partial aggregation could run single-threaded
    // (measured: ~2 s in one task at a 5.4M-row fanout while 31 cores
    // idled). The fanout is exactly computable driver-side from the
    // collected stats (Σ_t df(t) · |qids sharing t|); spread the staged
    // frame back across the shuffle width when the fanout is worth
    // parallelizing — the repartition moves only the narrow matching
    // postings, orders of magnitude less than the work it parallelizes.
    val qPairs = qPairsRaw.map(r => (r.getLong(0), r.getString(1)))
    val nqByTerm = qPairs.groupBy(_._2).map { case (t, ps) =>
      (t, ps.map(_._1).distinct.length.toLong) }
    val fanout = stats.iterator
      .map(s => s._2 * nqByTerm.getOrElse(s._1, 0L)).sum
    val postingsSpread =
      if (fanout >= spreadMinFanout)
        postings.repartition(spark.sessionState.conf.numShufflePartitions)
      else postings
    if (!prune || matchingPostings < pruneMinPostings ||
        maxTermDf < pruneMinMaxDf) {
      logger.info(s"bm25 topK: straight scan-score-sort path " +
        s"($matchingPostings matching postings, max term df $maxTermDf; " +
        (if (!prune) "prune=false"
         else if (matchingPostings < pruneMinPostings)
           s"below pruneMinPostings=$pruneMinPostings"
         else s"max df below pruneMinMaxDf=$pruneMinMaxDf") + ")")
      val dfs = spark.createDataFrame(
        stats.toSeq.map { case (t, df, _, _) => (t, df) }).toDF("term", "df")
      return scoreAndRank(qStaged, postingsSpread, dfs, totals, k, k1, b)
    }
    logger.info(s"bm25 topK: WAND-bounded path ($matchingPostings matching " +
      s"postings >= pruneMinPostings=$pruneMinPostings, max term df " +
      s"$maxTermDf >= pruneMinMaxDf=$pruneMinMaxDf)")
    // the totals collect is the same 1-row aggregate job the unpruned
    // plan runs inside its broadcast — moved earlier, not added
    val tot = totals.collect()(0)
    wandScoreAndRank(qStaged, qPairs,
      stats, tot.getLong(0), tot.getLong(1), postingsSpread,
      terms => postings.filter($"term".isin(terms: _*)),
      k, k1, b, floorTermsPerQuery, semiJoinMinPrunable)
  }

  /** The shared WAND/maxscore-bounded score-and-rank tail of [[topK]]
    * and [[topKAgainstIndex]] — see topKAgainstIndex's scaladoc for the
    * losslessness argument (floor θ from exact partial scores of the
    * rarest terms; per-term ub evaluated at (max_tf, min_dl) through
    * the same IEEE-monotone expression tree the executors run).
    * `stats` must already be maxDf-filtered where that prune applies.
    *
    * Three pruning stages, each provably lossless:
    *  1. FLOOR (eager, bounded): θ_q = k-th best exact partial score
    *     over the query's `floorTermsPerQuery` rarest terms — collected
    *     (≤ nQueries rows, the retrieval-batch contract).
    *  2. ESSENTIAL-TERMS candidate semi-join (the maxscore split): per
    *     query, the LONGEST ub-ascending suffix S with Σ_{t∈S} ub < θ_q
    *     is non-essential — a doc matching ONLY S-terms scores
    *     ≤ Σ ub < θ_q, strictly below k docs. Candidates therefore come
    *     from the essential lists alone, and the main aggregation only
    *     processes candidate-matched posting rows — this is what cuts
    *     the AGGREGATION cost (the bound filter alone only starved the
    *     sort). The semi-join's (qid, doc) exchange replaces the
    *     aggregation exchange (same key — no extra big shuffle), so its
    *     marginal cost is the essential lists' second read. Skipped
    *     (logged) when the essential lists cover most matching postings
    *     anyway — the semi-join would only add work.
    *  3. BOUND filter after the aggregation: groups with Σ matched ub
    *     < θ_q never enter the top-k sort (free — the sum rides the
    *     aggregation; strictly tightens stage 2). */
  private def wandScoreAndRank(qStaged: DataFrame,
      qPairs: Array[(Long, String)],
      stats: Array[(String, Long, Long, Long)],
      n: Long, sumdl: Long,
      postings: DataFrame,
      floorPostingsOf: Seq[String] => DataFrame,
      k: Int, k1: Double, b: Double, floorTermsPerQuery: Int,
      semiJoinMinPrunable: Long): DataFrame = {
    val spark = qStaged.sparkSession
    import spark.implicits._
    val avgdl = sumdl.toDouble / n.toDouble
    // ub is evaluated at (max_tf, min_dl) through the same IEEE-monotone
    // double tree the executors run for c_e4 — EXCEPT the final
    // rounding: executors round via Spark's `round` (BigDecimal
    // HALF_UP), this driver-side bound via `math.round` (floor(x+0.5)).
    // For the positive values BM25 produces, math.round(x) >= HALF_UP
    // rounding of x (they differ only on ties, where floor(x+0.5) rounds
    // up and HALF_UP also rounds up — and on doubles-near-ties
    // math.round never rounds LOWER), so the asymmetry is deliberately
    // safe: ub_e4 >= c_e4 survives it. Do not "fix" the mismatch by
    // making ub round half-even or truncate — that could round a tie
    // DOWN and break the losslessness invariant.
    def ubE4(df: Long, maxTf: Long, minDl: Long): Long = {
      val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
      val tfp = (maxTf * (k1 + 1.0)) /
        (maxTf + k1 * (1.0 - b + b * (minDl / avgdl)))
      math.round(idf * tfp * 1e4)
    }
    val dfs = spark.createDataFrame(stats.toSeq
        .map { case (t, df, mtf, mdl) => (t, df, ubE4(df, mtf, mdl)) })
      .toDF("term", "df", "ub_e4")
    val totals = Seq((n, sumdl)).toDF("n", "sumdl")
    val keptSet = stats.map(_._1).toSet
    val dfOf = stats.map(t => (t._1, t._2)).toMap
    val ubOf = stats.map(t => (t._1, ubE4(t._2, t._3, t._4))).toMap
    val qKept = qPairs.filter(p => keptSet(p._2)).groupBy(_._1)
      .map { case (qid, ps) => (qid, ps.map(_._2).distinct) }
    // 1. FLOOR: exact partial scores over each query's rarest kept
    // terms; the rank-k row per qid is θ — collected (bounded by the
    // retrieval-batch contract) so stage 2's term split can happen
    // driver-side
    val floorPairs = qKept.toSeq.flatMap { case (qid, terms) =>
      terms.sortBy(t => (dfOf(t), t)).take(floorTermsPerQuery)
        .map(t => (qid, t))
    }
    val wTop = Window.partitionBy($"qid")
      .orderBy($"score_e4".desc, $"doc_id".asc)
    val thetaMap: Map[Long, Long] =
      spark.createDataFrame(floorPairs).toDF("qid", "term")
        .join(floorPostingsOf(floorPairs.map(_._2).distinct), Seq("term"))
        .join(broadcast(dfs.select($"term", $"df")), Seq("term"))
        .crossJoin(broadcast(totals))
        .select($"qid", $"doc_id", contributionE4(k1, b).as("c_e4"))
        .groupBy($"qid", $"doc_id").agg(sum($"c_e4").as("score_e4"))
        .withColumn("rank", row_number().over(wTop))
        .filter($"rank" === k)
        .select($"qid", $"score_e4")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // 2. ESSENTIAL split: drop the longest ub-ascending suffix whose
    // bound sum stays under θ; a query with no floor (< k floor rows)
    // keeps every term essential. E is never empty: θ is an ACHIEVED
    // partial score, so Σ of ALL matched ubs ≥ θ and the full set never
    // qualifies as a droppable suffix (guarded anyway).
    val qEssential = qKept.toSeq.flatMap { case (qid, terms) =>
      val essential = thetaMap.get(qid) match {
        case None => terms
        case Some(theta) =>
          val byUbDesc = terms.sortBy(t => (-ubOf(t), t))
          var acc = 0L
          var cut = byUbDesc.length
          while (cut > 1 && acc + ubOf(byUbDesc(cut - 1)) < theta) {
            acc += ubOf(byUbDesc(cut - 1)); cut -= 1
          }
          byUbDesc.take(cut)
      }
      essential.map(t => (qid, t))
    }
    val essentialDf = qEssential.map(p => dfOf(p._2)).sum
    val totalDf = qKept.toSeq.flatMap { case (_, ts) => ts.map(dfOf) }.sum
    val thetas = broadcast(spark.createDataFrame(
        thetaMap.toSeq).toDF("qid", "theta"))
    // c_e4/ub_e4 are (term, doc) facts — computed once per posting row
    // before the query fanout (see scoreAndRank; bit-identical values)
    val contribRows = postings
      .join(broadcast(dfs), Seq("term"))
      .crossJoin(broadcast(totals))
      .select($"term", $"doc_id", contributionE4(k1, b).as("c_e4"), $"ub_e4")
    val scoredRows = broadcast(qStaged)
      .join(contribRows, Seq("term"))
      .select($"qid", $"doc_id", $"c_e4", $"ub_e4")
    // semi-join only when the prunable posting volume amortizes its
    // fixed costs (re-reading the essential lists + the per-partition
    // candidate hash map): at 10M docs the index probe LOST ~6 s to it
    // while the aggregation it relieves was not yet spill-bound. Both
    // gates are exact driver-side numbers, never estimates.
    val prunable = totalDf - essentialDf
    val bounded =
      if (totalDf == 0L || prunable < semiJoinMinPrunable ||
          essentialDf.toDouble / totalDf > 0.75) {
        if (totalDf > 0L)
          logger.info(s"bm25 wand: candidate semi-join skipped " +
            s"(prunable postings $prunable below $semiJoinMinPrunable, " +
            f"or essential lists cover ${essentialDf.toDouble / totalDf * 100}%.0f%% " +
            "of matches) — the bound filter still applies")
        scoredRows
      } else {
        logger.info(s"bm25 wand: candidate semi-join ENGAGED " +
          s"(prunable postings $prunable >= $semiJoinMinPrunable, " +
          f"essential lists cover ${essentialDf.toDouble / totalDf * 100}%.0f%% " +
          "of matches)")
        val candidates = spark.createDataFrame(qEssential).toDF("qid", "term")
          .join(floorPostingsOf(qEssential.map(_._2).distinct), Seq("term"))
          .select($"qid", $"doc_id")
        // shuffle_hash, not sort-merge: SMJ would SORT the full scored
        // stream — the very cost the prune exists to avoid (measured:
        // the unhinted plan gave the 10M index probe back its sort,
        // 29.6 → 41.5 s); hashing the candidate side costs its
        // partition-local map only, and the join's (qid, doc) exchange
        // doubles as the aggregation exchange
        scoredRows.join(candidates.hint("shuffle_hash"),
          Seq("qid", "doc_id"), "left_semi")
      }
    bounded
      .groupBy($"qid", $"doc_id")
      .agg(sum($"c_e4").as("score_e4"), sum($"ub_e4").as("ub_sum_e4"))
      .join(thetas, Seq("qid"), "left")
      .filter($"ub_sum_e4" >= coalesce($"theta", lit(Long.MinValue)))
      .withColumn("rank", row_number().over(wTop).cast("long"))
      .filter($"rank" <= k)
      .select($"qid", $"rank", $"doc_id", $"score_e4")
  }

  /** Materialize the BM25 posting index ONCE — the serving shape for
    * arbitrary query workloads ([[topK]] is the batch shape: it rebuilds
    * the query-pruned index per call, which is right for one retrieval
    * batch and wasteful for many). Three tables:
    *
    *  - `{table}_postings` (tb, term, doc_id, tf, dl) — DIRECTORY-
    *    partitioned by `tb = pmod(xxhash64(term), nDirs)` and term-sorted
    *    within each file
    *  - `{table}_dfs`      (tb, term, df) — same layout
    *  - `{table}_bounds`   1 row (n, sumdl, n_dirs)
    *
    * WHY hash-dir partitions rather than `bucketBy(term)` (round 12,
    * measured): the probe's pruning predicate is a multi-value term-IN —
    * Spark prunes PARTITION DIRECTORIES for an IN on a partition column
    * at planning time, while a bucketed layout only prunes buckets (not
    * row groups across a scan whose IN list defeats parquet's min/max
    * range rewrite). With dirs, a selective retrieval batch touches only
    * the directories its terms hash into, and the term sort inside each
    * file gives row-group skipping on top. Our term-joins broadcast the
    * query side, so bucketing's exchange-free-join property buys nothing
    * here.
    *
    * The tb repartition feeding the posting write is the ONE full-corpus
    * shuffle the index amortizes — tf is computed INSIDE each row
    * ([[termCountsUdf]]), so there is no posting-aggregation exchange,
    * and dfs is derived from the WRITTEN postings (a columnar (tb, term)
    * scan of the index itself) rather than a checkpointed copy of the
    * posting stream — both decisions are what let the build fit local
    * disk at the 100M decade. The corpus is tokenized twice (posting
    * pass + the bounds aggregate) — two map passes, zero extra
    * exchanges; n counts EVERY doc including empty ones, exactly like
    * [[topK]]'s totals. */
  /** Per-document (term, tf) pairs computed INSIDE the row — tf is an
    * intra-document fact, so aggregating it needs no exchange at all.
    * The batch shape ([[topK]]) keeps its explode + groupBy because its
    * token stream is query-pruned first (tiny); the index build has no
    * query to prune by, and a groupBy over the FULL token stream was the
    * 100M-decade disk killer (a second full-corpus shuffle on top of the
    * tb repartition). */
  private val termCountsUdf = udf { ts: Seq[String] =>
    if (ts == null) Seq.empty[(String, Long)]
    else {
      val m = scala.collection.mutable.LinkedHashMap.empty[String, Long]
      ts.foreach(t => m.update(t, m.getOrElse(t, 0L) + 1L))
      m.toSeq
    }
  }

  /** The (tb, term, doc_id, tf, dl) posting frame of a doc batch — the
    * shared construction of [[buildIndex]] and [[appendToIndex]]. One
    * shuffle-free map pass (tokenize → intra-row term counts → explode);
    * the only exchange in the build is [[writeDirs]]'s tb repartition. */
  private def postingsOf(docs: DataFrame, idCol: String, textCol: String,
      nDirs: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col(idCol).cast("long").as("doc_id"),
        CorpusFilters.words(col(textCol)).as("ts"))
      .select($"doc_id", size($"ts").cast("long").as("dl"),
        explode(termCountsUdf($"ts")).as("tc"))
      .select(pmod(xxhash64($"tc._1"), lit(nDirs.toLong)).as("tb"),
        $"tc._1".as("term"), $"doc_id", $"tc._2".as("tf"), $"dl")
  }

  /** The 1-row (n, sumdl) corpus bounds of a doc batch. */
  private def boundsOf(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(CorpusFilters.words(col(textCol)).as("ts"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum(size($"ts")), lit(0L)).cast("long").as("sumdl"))
  }

  private def writeDirs(df: DataFrame, name: String, path: String): Unit = {
    val spark = df.sparkSession
    df.repartition(col("tb"))
      .sortWithinPartitions(col("tb"), col("term"))
      .write.format("parquet").option("path", path)
      .partitionBy("tb").mode("overwrite").saveAsTable(name)
  }

  /** Doc ids must be UNIQUE within `docs` (the same contract
    * [[appendToIndex]] states for batches): [[postingsOf]] computes tf
    * INSIDE each row, so two rows sharing an id emit two posting rows
    * per shared term — that doc's score contributions and df are
    * double-counted with no error raised. Dedup upstream (q16's exact
    * dedup) if the source can repeat ids. */
  def buildIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, path: String, nDirs: Int = 64): Unit = {
    require(nDirs >= 1, s"need nDirs >= 1, got $nDirs")
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.sources.Generations
    family.build(spark, table, path) {
      // every live name is a Generations VIEW over generation tables, so
      // maintenance flips are one atomic catalog op each (no window in
      // which a probe sees a missing or half-swapped table). Each member
      // generation is RESERVED (unique name + path even under racing
      // writers) and committed with the CAS form — a rebuild racing
      // another maintenance op loses loudly instead of clobbering it.
      // Reserving also makes rebuild-over-an-existing-index safe for
      // concurrent probes: the fresh build lands as a NEW generation
      // behind the usual atomic flip (the old shape overwrote g0's files
      // in place while the live view served them).
      val pBase = Generations.currentOpt(spark, s"${table}_postings")
      val pGen = Generations.reserve(spark, s"${table}_postings")
      writeDirs(postingsOf(docs, idCol, textCol, nDirs), pGen,
        Generations.genPath(s"$path/postings", pGen))
      Generations.commit(spark, s"${table}_postings", pGen, pBase)
      // dfs derived FROM the written postings — a (tb, term)-pruned
      // columnar scan of the index itself, already tb-partitioned on disk.
      // The previous form checkpointed the whole posting stream to feed
      // both writes: at the 100M decade that uncompressed copy (plus the
      // extra shuffle it fed) exceeded local disk before the index itself
      // was a problem. max_tf/min_dl ride the same aggregation: the
      // per-term WAND/maxscore score bound the probe's lossless top-k
      // prune evaluates at query time (tfPart is increasing in tf and
      // decreasing in dl, so (max_tf, min_dl) bounds every posting's
      // contribution under ANY future avgdl — append-safe by max/min
      // merge).
      val dBase = Generations.currentOpt(spark, s"${table}_dfs")
      val dGen = Generations.reserve(spark, s"${table}_dfs")
      writeDirs(spark.table(pGen)
          .groupBy($"tb", $"term").agg(count(lit(1)).as("df"),
            max($"tf").as("max_tf"), min($"dl").as("min_dl")),
        dGen, Generations.genPath(s"$path/dfs", dGen))
      Generations.commit(spark, s"${table}_dfs", dGen, dBase)
      val bBase = Generations.currentOpt(spark, s"${table}_bounds")
      val bGen = Generations.reserve(spark, s"${table}_bounds")
      boundsOf(docs, idCol, textCol)
        .withColumn("n_dirs", lit(nDirs.toLong))
        .write.format("parquet")
        .option("path", Generations.genPath(s"$path/bounds", bGen))
        .mode("overwrite").saveAsTable(bGen)
      Generations.commit(spark, s"${table}_bounds", bGen, bBase)
    }
  }

  /** The BM25 index family ([[graft.sources.IndexFamily]]): postings
    * (file-tracked — appends grow their generation in place), dfs,
    * bounds and the tombstone list. Its pre-marker commit is the append's
    * dfs merge, tagged with the batch id and its bounds delta. */
  val family: graft.sources.IndexFamily = new graft.sources.IndexFamily(
    "bm25", Seq("postings", "dfs", "bounds", "deletes"), "postings",
    Seq("postings"), preMarker = Some(taggedBatch(_, _)))

  // ---- append crash recovery ([[graft.sources.PendingAppend]]) ------
  // Properties tagging the dfs generation with the append batch that
  // produced it and that batch's additive bounds delta (n, Σdl) —
  // recovery derives the batch's commit marker from the tag and rolls
  // the delta forward from it — and the bounds generation with the
  // batch whose delta it last applied — the exactly-once guard for the
  // additive counters.
  private val batchProp = "graft.batch"
  private val batchNProp = "graft.batch_n"
  private val batchSumdlProp = "graft.batch_sumdl"
  private val appliedBatchProp = "graft.applied_batch"

  /** Test seams for the lease-TTL-outrun races (r16 ADVICE): run a
    * foreign recoverer's action at the exact interleaving point —
    * after the pending sidecar lands (a rollback can race the dfs
    * commit) and after the dfs commit (a roll-forward can race the
    * move/bounds/record half). Cleared after firing. */
  private[graft] var testAfterPendingHook: () => Unit = () => ()
  private[graft] var testAfterDfsCommitHook: () => Unit = () => ()
  private def fireHook(get: () => () => Unit, set: (() => Unit) => Unit): Unit = {
    val h = get(); set(() => ()); h()
  }

  /** The one (n, sumdl, n_dirs) row of bounds generation `gen`. */
  private def boundsRow(spark: org.apache.spark.sql.SparkSession,
      table: String, gen: String): Row = {
    val rows = spark.table(gen).collect()
    require(rows.length == 1, s"index ${table}_bounds must hold exactly 1 row")
    rows(0)
  }

  /** Format check of maintenance ops: a dfs table persisted by a
    * pre-WAND build lacks the (max_tf, min_dl) stats an append merge
    * carries forward — fail loudly with the recovery path instead of an
    * AnalysisException mid-plan. */
  private def requireWandStats(spark: org.apache.spark.sql.SparkSession,
      table: String, op: String): Unit =
    require(Set("max_tf", "min_dl")
        .subsetOf(spark.table(s"${table}_dfs").columns.toSet),
      s"index ${table}_dfs predates the WAND-stats format (missing " +
        s"max_tf/min_dl columns) — rebuild the index with buildIndex " +
        s"before $op; probes still work via the exact-scan fallback")

  /** Add the batch's (n, Σdl) to the bounds table — a fresh tagged
    * generation behind an atomic flip, with an UNBOUNDED
    * re-read-and-retry on a lost CAS: a cross-JVM append committing its
    * bounds concurrently must ADD to ours, not erase it (both
    * contributions are additive), so the loser re-reads the moved
    * bounds and re-adds its batch. The retry must never exhaust: at
    * this point the staged postings are MOVED IN and the dfs merge
    * COMMITTED, so letting ConcurrentMaintenanceException escape would
    * hand the documented retryOnConcurrentMaintenance wrapper a
    * half-committed append to replay — duplicating postings and
    * double-counting df (r15 ADVICE). It always converges: each lost
    * round means another writer COMMITTED (system-wide progress). The
    * batch tag on the committed generation is what makes the delta
    * exactly-once under crash recovery. `read` is a (generation, row)
    * pair the caller already collected; it spares the first round's
    * bounds job when that generation is still current. */
  private def addBoundsTagged(spark: org.apache.spark.sql.SparkSession,
      table: String, addN: Long, addSumdl: Long, batchId: String,
      read: Option[(String, Row)] = None): Unit = {
    import spark.implicits._
    import graft.sources.Generations
    var known = read
    var committed = false
    var attempts = 0
    while (!committed) {
      attempts += 1
      val bCur = Generations.ensureGen(spark, s"${table}_bounds")
      // exactly-once ACROSS WRITERS, not just across recovery calls
      // (r16 ADVICE): a recoverer rolling this batch forward in another
      // JVM may have applied the delta already — the live append's and
      // the recovery's adds both funnel through this tag check, re-read
      // on every CAS round
      if (spark.sessionState.catalog.getTableMetadata(
            org.apache.spark.sql.catalyst.TableIdentifier(bCur))
          .properties.get(appliedBatchProp).contains(batchId)) {
        logger.warn(s"bm25 append: bounds delta of batch $batchId is " +
          "already applied (a recovery in another JVM completed it) — " +
          "skipping")
        return
      }
      // a committed generation never changes, so the row the append read
      // from this same generation is still its content
      val row = known.collect { case (g, r) if g == bCur => r }
        .getOrElse(boundsRow(spark, table, bCur))
      val nextB = Generations.reserve(spark, s"${table}_bounds")
      Seq((row.getLong(0) + addN, row.getLong(1) + addSumdl, row.getLong(2)))
        .toDF("n", "sumdl", "n_dirs")
        .write.format("parquet")
        .option("path", Generations.genPath(
          Generations.basePath(spark, s"${table}_bounds"), nextB))
        .mode("overwrite").saveAsTable(nextB)
      spark.sql(s"ALTER TABLE $nextB SET TBLPROPERTIES " +
        s"('$appliedBatchProp' = '$batchId')")
      try {
        Generations.commit(spark, s"${table}_bounds", nextB, Some(bCur))
        committed = true
      } catch {
        case e: graft.sources.ConcurrentMaintenanceException =>
          known = None
          logger.warn(s"bm25 append: bounds CAS lost a cross-JVM race " +
            s"(attempt $attempts) — re-reading and re-adding: $e")
      }
    }
  }

  /** BM25's [[graft.sources.IndexFamily]] pre-marker tag: the batch the
    * current dfs generation names (its df merge COMMITTED, so recovery
    * writes its marker and rolls it forward), with the roll-forward's
    * bounds step — the delta rides the tag and applies exactly once. An
    * index crashed mid-append under the previous sidecar format holds a
    * batch only that build can finish: refuse, never ignore it. */
  private def taggedBatch(spark: org.apache.spark.sql.SparkSession,
      table: String): Option[(String, () => Unit)] = {
    import graft.sources.Generations
    val parent = new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, s"${table}_postings")).getParent
    Option(parent.getFileSystem(spark.sessionState.newHadoopConf())
        .globStatus(new org.apache.hadoop.fs.Path(parent, "_pending_append_*")))
      .flatMap(_.headOption).foreach { legacy =>
        throw new IllegalStateException(s"bm25 $table: ${legacy.getPath} " +
          "is a pending append in the pre-PendingAppend sidecar format — " +
          "finish the append with the previous build (any maintenance op " +
          "recovers it), or delete this file and rebuild the index with " +
          "buildIndex")
      }
    val dfsProps = Generations.currentOpt(spark, s"${table}_dfs")
      .map(g => spark.sessionState.catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(g)).properties)
      .getOrElse(Map.empty[String, String])
    dfsProps.get(batchProp).map(id => id -> (() =>
      addBoundsTagged(spark, table, dfsProps(batchNProp).toLong,
        dfsProps(batchSumdlProp).toLong, id)))
  }

  /** Recover an [[appendToIndex]] that died mid-commit
    * ([[graft.sources.IndexFamily.recover]]; a batch whose df merge
    * committed rolls forward with its bounds delta). Every maintenance
    * op calls it first; call it directly after restarting a dead ingest
    * job. */
  def recoverPendingAppend(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = family.recover(spark, table)

  /** The distinct doc ids [[appendToIndex]] commits in `(fromId, toId]`
    * added ([[graft.sources.IndexFamily.addedBetween]] over the
    * postings); with `ignoreDeletes`, anti-join the live tombstone list
    * to drop since-deleted ids, as q190 does. */
  def docsAddedBetween(spark: org.apache.spark.sql.SparkSession,
      table: String, fromId: Long, toId: Long,
      ignoreDeletes: Boolean = false): DataFrame =
    family.addedBetween(spark, table, fromId, toId, ignoreDeletes)
      .select(col("doc_id")).distinct()

  /** DELETE documents from a [[buildIndex]] index — the takedown
    * primitive ([[graft.sources.IndexFamily.delete]]): every probe
    * anti-joins its posting frames against the tombstone list, so the
    * documents vanish from all rankings immediately at batch cost; the
    * next [[compactIndex]] folds them physically.
    *
    * Ranking semantics (what the q170 oracle pins): deleted documents
    * are EXCLUDED from every ranking; corpus statistics (df, N, Σdl)
    * keep describing the historical corpus until a rebuild — exactly
    * Lucene's trade (its deletes don't update df either). This is also
    * what keeps every surviving document's SCORE unchanged by a delete
    * (only ranks shift upward) and rankings invariant across the
    * folding compaction. A deleted id stays invisible even if
    * re-appended before that compaction; re-add by appending after it. */
  def deleteFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame): Unit = family.delete(spark, table, ids)

  /** Grow a [[buildIndex]] index with a batch of NEW documents — the
    * index-maintenance half of the serving shape (a daily ingest appends
    * its batch instead of rebuilding the accumulated corpus). After the
    * append the index is statistically IDENTICAL to a full rebuild over
    * old∪new (`Bm25IndexSpec` pins the ranking): postings/dl are
    * per-document facts (append-only), df merges additively per term,
    * and N/Σdl are additive counters.
    *
    * Costs scale with the BATCH, not the index: one posting aggregation
    * over the new docs (appended into the same tb directory layout,
    * term-sorted within the new files — row-group stats still prune),
    * one vocabulary-sized df merge (the dfs table is rewritten:
    * term-cardinality rows, orders of magnitude below the postings),
    * and a 1-row bounds rewrite.
    *
    * Doc ids must be NEW — re-appending an already-indexed document
    * would split its (term, doc) tf across two posting rows and
    * double-count its score contribution (the same everything-ingested
    * contract as the MinHash ingest loop, where duplicate ids are
    * instead benign).
    *
    * Failure semantics: the batch's posting files are STAGED beside the
    * index and move into the live generation only AFTER the dfs CAS
    * commits, so a LOST RACE (a cross-JVM writer committing dfs first
    * throws [[graft.sources.ConcurrentMaintenanceException]]) leaves
    * the index unchanged — the staging is deleted and re-running the
    * append is safe (wrap in
    * [[graft.sources.Generations.retryOnConcurrentMaintenance]]). A
    * lost bounds CAS self-heals: both contributions are additive, so
    * the op re-reads the moved bounds and re-adds its batch (UNBOUNDED
    * retry — each lost round means another writer committed, so it
    * always converges; exhausting a bounded retry here would let
    * ConcurrentMaintenanceException escape AFTER the postings moved in,
    * and the documented wrapper would replay the whole append,
    * duplicating postings). The commit runs through
    * [[graft.sources.IndexFamily.appendStaged]] with the dfs merge as
    * its pre-marker commit: a CRASH after the dfs commit is rolled
    * FORWARD by [[recoverPendingAppend]] (the bounds delta rides the
    * dfs tag and applies exactly once), a crash before it rolls back to
    * an untouched index. A probe
    * running DURING an append may observe the df merge before the
    * batch's postings land — the documented transient staleness,
    * resolved at the move + bounds commit (or the recovery). The df merge
    * and bounds update themselves land as fresh GENERATIONS flipped
    * atomically (the [[graft.sources.Generations]] contract), so a
    * concurrent probe always reads a COMPLETE dfs/bounds table — stale
    * at worst, never partial (the previous in-place rewrite could serve
    * an empty or half-written dfs set mid-overwrite, silently dropping
    * terms from concurrent rankings). */
  /** @param autoCompactAfter when > 0, the append finishes by checking
    *   the snapshot log's adds-since-base count for the postings member
    *   (each append adds ~one file per touched tb directory, so the
    *   count IS the probe's files-per-directory growth — measured from
    *   the log alone, no FS walk) and triggers [[compactIndex]] once it
    *   reaches the threshold (r15 directive 6: the 10M-vector smoke
    *   measured grown probes at 3× the fresh band after 5 appends; the
    *   fix existed but had to be remembered). 0 disables — the right
    *   default for histories that must stay time-travelable at fixed
    *   depths (a compaction is one more commit, and retention retires
    *   deeper generations). */
  def appendToIndex(docs: DataFrame, idCol: String, textCol: String,
      table: String, autoCompactAfter: Int = 0): Unit =
    graft.sources.Generations.withMaintenanceLock(table) {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.sources.{Generations, PendingAppend}
    // a previous append may have died between its dfs commit and its
    // staged-file move — roll it forward (or a pre-commit death back)
    // before building on the index state (r15 directive 4)
    recoverPendingAppend(spark, table)
    val pGen = Generations.ensureGen(spark, s"${table}_postings")
    val dGen = Generations.ensureGen(spark, s"${table}_dfs")
    val bGen = Generations.ensureGen(spark, s"${table}_bounds")
    requireWandStats(spark, table, "appending")
    // the bounds commit below adds to this row while bGen stays current
    // (re-reading only after a lost CAS round); the directory fanout is
    // immutable
    val bounds = boundsRow(spark, table, bGen)
    val nDirs = bounds.getLong(2)
    // the batch's additive bounds delta (n, Σdl): it rides the dfs tag,
    // so recovery can roll it forward
    val b = boundsOf(docs, idCol, textCol).collect()(0)

    // postings are STAGED, not appended directly: the batch's posting
    // files land in a sibling staging directory first (same tb layout,
    // term-sorted within files), and only move into the live generation
    // AFTER the dfs CAS below commits. A cross-JVM racer winning the
    // dfs CAS therefore leaves the index UNCHANGED by this op — the
    // batch is rolled back and the op is cleanly retryable (r14 ADVICE:
    // the previous append-first order left postings in with no df
    // contributions on a lost race, and a re-run duplicated them). A
    // failed staged write deletes its stage; a JVM death during it
    // leaves an orphan stage the next recovery sweeps.
    val anchor = s"${table}_postings"
    val staged = graft.sources.StagedAppend.stage(
      postingsOf(docs, idCol, textCol, nDirs.toInt)
        .repartition($"tb").sortWithinPartitions($"tb", $"term"),
      anchor, pGen, "tb")
    // the batch's intent (staged file list) persists BEFORE the dfs
    // merge commits; the new dfs generation carries the batch id and
    // its additive bounds delta, so a crash ANYWHERE after the dfs
    // commit is rolled FORWARD by recoverPendingAppend and a crash
    // before it rolls BACK (stage + sidecar deleted, index untouched)
    val mergeDfs: String => Unit = batchId => {
      fireHook(() => testAfterPendingHook, testAfterPendingHook = _)
      // df merge: vocabulary-sized, written as a FRESH generation and
      // flipped atomically — a probe in another session during the merge
      // reads the complete previous generation, never a partial one. df
      // adds, max_tf/min_dl merge by max/min — the probe's per-term score
      // bound stays valid over any append sequence. ONE aggregation:
      // each batch posting enters as a (df = 1, max_tf = tf, min_dl = dl)
      // row, and the tb repartition ahead of it satisfies both the
      // aggregate and writeDirs' own tb repartition — one exchange.
      val nextD = Generations.reserve(spark, s"${table}_dfs")
      writeDirs(
        spark.table(dGen).select($"tb", $"term", $"df", $"max_tf", $"min_dl")
          .unionByName(postingsOf(docs, idCol, textCol, nDirs.toInt)
            .select($"tb", $"term", lit(1L).as("df"), $"tf".as("max_tf"),
              $"dl".as("min_dl")))
          .repartition($"tb")
          .groupBy($"tb", $"term").agg(sum($"df").as("df"),
            max($"max_tf").as("max_tf"), min($"min_dl").as("min_dl")),
        nextD,
        Generations.genPath(
          Generations.basePath(spark, s"${table}_dfs"), nextD))
      // the batch tag is what recovery keys on: current dfs gen tagged
      // with this batch ⇒ the merge committed ⇒ roll forward
      spark.sql(s"ALTER TABLE $nextD SET TBLPROPERTIES " +
        s"('$batchProp' = '$batchId', '$batchNProp' = '${b.getLong(0)}', " +
        s"'$batchSumdlProp' = '${b.getLong(1)}')")
      // SIDECAR RE-CHECK before the point of no return (r16 ADVICE): if
      // this op outran its lease TTL, another JVM's recovery may have
      // rolled the batch BACK — sidecar and stage deleted. Committing
      // the dfs merge now would record df contributions whose postings
      // are gone (silent df-vs-postings divergence); abort loudly
      // instead — the index is untouched, re-run the batch. (The
      // check-to-commit window is microseconds against the TTL; the
      // recovery's decision is stable once the sidecar is gone.)
      if (!PendingAppend.intentExists(spark, anchor, batchId))
        throw new IllegalStateException(
          s"bm25 append $batchId on $table: the pending sidecar vanished " +
            "before the df commit — this op outran its maintenance lease " +
            "TTL and another JVM's recovery rolled the batch back. The " +
            "index is unchanged; re-run the batch (and raise " +
            "spark.graft.lease.ttlSeconds or keep renewLease checkpoints " +
            "for batches this large)")
      // CAS on the generation the merge READ (dGen): a concurrent
      // append's committed df contributions must never be silently
      // discarded. Losing here rolls the batch back — index unchanged,
      // op retryable (retryOnConcurrentMaintenance-safe).
      Generations.commit(spark, s"${table}_dfs", nextD, Some(dGen))
    }
    // the dfs flip committed — past here the batch WILL land (a sidecar
    // gone now means another JVM's recovery saw the committed tag and
    // completed the batch: moves, bounds, snapshot). Then the staged
    // posting files move into the live generation's tb directories (pure
    // renames; file names carry the write job's UUID, so they never
    // collide with resident files) and the bounds apply — additive
    // counters, 1 driver row, exactly-once via the batch tag, unbounded
    // CAS retry — before the commit is recorded.
    family.appendStaged(spark, table, Seq(staged), "append",
      autoCompactAfter, () => compactIndex(spark, table),
      commit = Some((mergeDfs, () => {
        PendingAppend.crashPoint("bm25.append.afterDfsCommit")
        fireHook(() => testAfterDfsCommitHook, testAfterDfsCommitHook = _)
      })),
      beforeRecord = batchId => addBoundsTagged(spark, table, b.getLong(0),
        b.getLong(1), batchId, Some(bGen -> bounds)))
  }

  /** Compact an index after [[appendToIndex]] batches — the THIRD
    * maintenance primitive (build → append → compact, the Lucene
    * segment-merge / Delta OPTIMIZE shape). Every append adds its own
    * term-sorted file per touched tb directory of the postings, so after
    * N batches a probe of a directory reads N files and in-file term
    * sorting (the row-group prune) holds only per batch. Compaction
    * rewrites the postings as ONE fresh generation — term-sorted across
    * everything in the directory — then flips the table to it (write-new
    * / flip / delete-old: never an in-place overwrite of files a plan is
    * reading; transient 2× disk on the postings is how segment merges pay
    * for themselves, and the flip is metadata-only). The dfs table needs
    * no rewrite: every dfs generation is written whole by `writeDirs`
    * (build and each append's merge), which already leaves one
    * term-sorted file per tb directory.
    *
    * Pure layout maintenance: rows are untouched, so ranking equality
    * with the uncompacted index IS the correctness check (q161 shares
    * q152/q155/q159's oracle verbatim; `Bm25IndexSpec` additionally
    * pins one file per directory afterwards).
    *
    * Crash safety and concurrent readers (the [[graft.sources
    * .Generations]] contract): the new postings generation is FULLY
    * written and registered before the live view flips onto it — ONE
    * atomic catalog op, the compaction's only flip, so a probe resolving
    * the live name at any instant sees either the whole old layout or
    * the whole new one. A failure mid-rewrite leaves the live index
    * intact; re-running the compaction overwrites the partial generation
    * idempotently. The superseded generation is RETAINED until the next
    * maintenance commit, so even a probe frame PLANNED before the
    * compaction still collects; only plans held across two maintenance
    * cycles lose their files (`GenerationsSpec` pins both properties). */
  def compactIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = family.compact(spark, table) { tomb =>
    import spark.implicits._
    import graft.sources.{Generations, Tombstones}
    requireWandStats(spark, table, "compacting")
    // tombstones fold into the postings rewrite (their rows drop
    // physically); the dfs/bounds statistics are deliberately NOT
    // adjusted — deleteFromIndex's semantics freeze them at the
    // historical corpus, which is what keeps rankings invariant across
    // this fold (q170 compacts mid-query and stays on its oracle)
    val live = s"${table}_postings"
    val gen = Generations.ensureGen(spark, live)
    val old = Generations.location(spark, gen)
    val nextGen = Generations.reserve(spark, live)
    // read by PATH, not by name: the live view keeps serving the old
    // generation until the commit below, and the rewrite must not
    // depend on the registration it supersedes. The generation's
    // catalog schema (tb as BIGINT, the build contract) types the
    // partition column and spares a footer-inference job. writeDirs
    // overwrites the reserve placeholder in place — the claim is never
    // released.
    writeDirs(
      Tombstones.filterWith(
        spark.read.schema(spark.table(gen).schema).parquet(old)
          .select($"tb", $"term", $"doc_id", $"tf", $"dl"),
        "doc_id", tomb, table),
      nextGen, Generations.genPath(old.replaceAll("__g\\d+$", ""), nextGen))
    // CAS on the generation the rewrite read: losing a race here would
    // silently resurrect rows a concurrent maintenance op removed
    Generations.commit(spark, live, nextGen, Some(gen))
  }

  /** Spark's `xxhash64(string, seed=42)` evaluated locally — the same
    * Catalyst expression the index write compiled, so the driver-side
    * directory keys match the on-disk `tb` values exactly. */
  private def xxh64Local(s: String): Long = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    import org.apache.spark.unsafe.types.UTF8String
    XxHash64(Seq(Literal(UTF8String.fromString(s),
        org.apache.spark.sql.types.StringType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]
  }

  /** [[topK]] against a PERSISTED index from [[buildIndex]] — identical
    * ranking at `maxDf = Long.MaxValue` (same postings, same df, same
    * bounds, same scoring tree; `Bm25IndexSpec` pins it row-for-row),
    * with per-call cost bounded by the query terms' posting lists
    * instead of the corpus: the batch's distinct terms are a bounded
    * driver model (a retrieval batch, like the operator's query
    * contract) pushed into the posting scan as a term-IN filter —
    * parquet row-group pruning + bucket pruning read only matching
    * buckets.
    *
    * `maxDf` is the common-term bound: a stopword-frequency query term
    * legitimately drags a corpus-sized posting list into the score
    * aggregation (measured: zipf-common terms dominate the batch-shape
    * smoke). Terms with df > maxDf are EXCLUDED FROM SCORING — a LOSSY,
    * loudly-logged prune (the standard stopword cut; BM25 weights such
    * terms near ln(1+~1) ≈ the noise floor, but a top-k reshuffle at the
    * margin is possible). The df check costs one scan of the
    * term-pruned dfs table — never the postings. Default ∞ = exact.
    *
    * Paths — every one ranks identically; each switch is exact
    * driver-side arithmetic, never an estimate:
    *  - OVER-CAP (more than `maxBatchPairs` (qid, term) rows): the
    *    fully-distributed scan-score-sort over the whole index, no dir
    *    pruning, no query broadcast, loudly logged.
    *  - WAND (`prune`, WAND stats present, Σ df of the kept terms ≥
    *    `pruneMinPostings` and max df ≥ `pruneMinMaxDf`): the floor /
    *    essential-terms / bound tail of [[wandScoreAndRank]].
    *  - STRAIGHT, everything else, split by the scoring fanout
    *    Σ_t df(t) · |qids sharing t| against `spreadMinFanout`:
    *     - below it, the DRIVER FINISH ([[finishOnDriver]]): one Spark
    *       job evaluates each surviving posting's contribution, and the
    *       driver sums and ranks the longs — no query join, no
    *       aggregation or window exchange;
    *     - at or above it, the distributed [[scoreAndRank]] tail over
    *       postings spread across the shuffle width.
    * Every path reads the same dir-pruned, tombstone- and
    * candidate-filtered postings. */
  /** @param prune lossless WAND/maxscore top-k bound (default ON; the
    *   round-12 finding: the EXACT index probe on zipf-common workloads
    *   paid the full corpus-scale (qid, doc) aggregation + sort the
    *   batch shape pays, 1568 s vs 698 s @100M). Two extra bounded
    *   passes make the common-term case cheap WITHOUT losing a row:
    *    1. FLOOR — each query's `floorTermsPerQuery` rarest kept terms
    *       give exact PARTIAL scores (a subset of a doc's matched terms
    *       ⇒ a lower bound on its total), so the k-th best partial per
    *       query is a valid floor θ on its k-th best total score;
    *    2. BOUND — every (qid, doc) group's matched-term upper-bound
    *       sum Σ ub(t) (ub evaluated at the stored (max_tf, min_dl) —
    *       tfPart is monotone in both, and every IEEE op in the tree is
    *       monotone, so ub ≥ every contribution the term can emit)
    *       rides the score aggregation as a second sum; groups with
    *       Σ ub < θ score strictly below k docs and are dropped BEFORE
    *       the top-k sort. Docs at θ survive (≥, not >), so ties break
    *       exactly as the exact path does. Queries with < k floor rows
    *       get θ = -∞ (no pruning) — degenerate cases stay exact.
    *   `prune = false` keeps the straight scan-score-sort path (q166
    *   pins it against the same oracle as the pruned default). */
  /** @param pruneMinPostings the WAND floor pass is itself two bounded
    *   Spark jobs; below this many matching postings (Σ df of the kept
    *   terms — known driver-side for free) the straight scan wins, so
    *   the probe falls back to it. Purely a cost switch between two
    *   paths that rank identically (q155/q166 share one oracle).
    * @param pruneMinMaxDf the second gate condition, measured by the r14
    *   sweep (tools/smokelogs/r14_bm25gates_*.log): WAND exists to
    *   starve the aggregation/sort of a SINGLE corpus-scale posting
    *   list's fanout, so its benefit tracks the LARGEST kept df, not the
    *   Σ — a 300-term rare workload at 10M docs clears a Σ-only gate
    *   (4.7M matching) yet the straight scan wins 3.1 s vs 4.6 s (the
    *   floor passes prune almost nothing: essential coverage 72%).
    *   Measured brackets: max df ~500k (1M zipf) → WAND a wash (6.7 vs
    *   6.6 s); ~5M (10M zipf) → WAND wins 45.9 vs 52.3 s (27.0 s with
    *   the semi-join); ~20k (10M rare) → straight wins; ~159k (100M
    *   rare, 47.7M matching — a workload the Σ-only gate mis-sent to
    *   WAND) → straight median ~48 s vs WAND ~62 s vs semi ~79 s. Both
    *   gates are exact driver-side numbers, never estimates; all four
    *   paths are checksum-equal at every decade.
    * @param semiJoinMinPrunable measured brackets (same sweep): prunable
    *   154.7M @10M zipf → engage wins 27–32 s vs 45.9 s wand-only;
    *   prunable 14.6M @1M zipf → a wash (6.1 vs 6.7 s, inside noise) —
    *   the 50M default sits between the no-gain and big-gain decades. */
  /** @param candidateFilter optional metadata predicate over the
    *   posting columns (doc_id, tf, dl): non-qualifying documents leave
    *   every CANDIDATE set — the filter rides the same spot as the
    *   tombstone anti-join, so scoring statistics stay index-wide (the
    *   deleteFromIndex / q173 "candidates only" semantics) and the WAND
    *   machinery keeps its losslessness argument verbatim (ub bounds a
    *   superset; θ comes from surviving candidates' achieved scores).
    *   The filtered-RAG serving shape: "top-k over docs matching this
    *   tenant/language/date predicate".
    * @param asOf the index state to serve (the operational rollback
    *   read: "a bad takedown/compaction landed; serve yesterday's index
    *   while we fix it"). */
  def topKAgainstIndex(queries: DataFrame, table: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75,
      maxDf: Long = Long.MaxValue,
      prune: Boolean = true, floorTermsPerQuery: Int = 2,
      pruneMinPostings: Long = 2000000L,
      pruneMinMaxDf: Long = 1000000L,
      semiJoinMinPrunable: Long = 50000000L,
      maxBatchPairs: Long = 8000000L,
      asOf: AsOf = AsOf.Live,
      candidateFilter: Option[Column] = None,
      spreadMinFanout: Long = 1000000L): DataFrame = {
    require(k >= 1, s"need k >= 1, got $k")
    require(floorTermsPerQuery >= 1,
      s"need floorTermsPerQuery >= 1, got $floorTermsPerQuery")
    val spark = queries.sparkSession
    import spark.implicits._
    val qProjected =
      queries.select(col("qid").cast("long").as("qid"), col("term"))
    // ONE bounded take replaces the count()+collect() job pair (r14
    // verdict directive: a probe must not plan a Spark job whose only
    // purpose is the cap check). take() stops at cap+1 rows, so even an
    // abusive corpus-sized batch costs the driver one legal batch.
    val capProbe = (math.min(maxBatchPairs, Int.MaxValue - 2L) + 1L).toInt
    // the snapshot read at `asOf`: the postings member is file-tracked,
    // so a historical read lists the commit's file manifest and crosses
    // append commits exactly; the rest of the probe is identical over
    // the resolved members. A historical resolve and the cap-check take
    // are independent bounded driver jobs, so they overlap (r18).
    val (snap, qPairsRaw) = Snapshots.openAlongside(spark, table,
        Seq(s"${table}_postings", s"${table}_dfs", s"${table}_bounds"),
        asOf, candidateFilter)(qProjected.take(capProbe))
    val pTbl = snap.read(s"${table}_postings")
    val dTbl = snap.read(s"${table}_dfs")
    val bTbl = snap.read(s"${table}_bounds")
    // a dfs table persisted by a pre-WAND build lacks (max_tf, min_dl):
    // probes stay SERVABLE via the exact path (no bounds to evaluate —
    // the prune is a cost optimization, never a semantic one), loudly
    // logged; append/compact refuse with a rebuild message instead
    val hasWandStats = dTbl.columns
      .toSet.intersect(Set("max_tf", "min_dl")).size == 2
    if (!hasWandStats)
      logger.warn(s"bm25 topKAgainstIndex: index ${table}_dfs predates the " +
        "WAND-stats format (missing max_tf/min_dl) — running the exact " +
        "scan-score-sort path (identical ranking, no top-k prune); " +
        "rebuild the index with buildIndex to re-enable WAND")
    // every posting read below goes through the snapshot's tombstone
    // anti-join and candidate filter (`snap.alive`), so both probe paths
    // and the over-cap fallback filter identically. Scoring statistics
    // stay historical (the Lucene trade — see deleteFromIndex), so the
    // WAND machinery is untouched: ub bounds a SUPERSET of the surviving
    // postings (still an upper bound) and θ comes from achieved scores
    // of SURVIVORS (still a valid floor) — losslessness holds with
    // deletes and filters in play.
    //
    // the loud batch cap (the Dedup.incrementalAssembled pattern): the
    // qPairs take above is bounded only by the one-retrieval-batch
    // contract. Over the cap, fall back to the fully-distributed batch
    // shape against the index's tables: no driver collect, no dir
    // pruning, no WAND — identical rows (maxDf included: the dfs inner
    // join drops over-frequent terms), corpus-scale cost, loudly logged.
    if (qPairsRaw.length >= capProbe) {
      logger.warn(s"bm25 topKAgainstIndex: query batch has > " +
        s"$maxBatchPairs (qid, term) pairs (maxBatchPairs) — falling " +
        "back to the distributed full-scan path (no dir pruning, no WAND; " +
        "identical rows). Split the workload into bounded retrieval " +
        "batches to get the serving-shape plan back.")
      val qStaged = Stage.cut(qProjected)
      val dfsAll = dTbl
        .select($"term", $"df").filter($"df" <= maxDf)
      val postingsAll = snap.alive(pTbl
        .select($"term", $"doc_id", $"tf", $"dl"), "doc_id")
      val totals = bTbl.select($"n", $"sumdl")
      return scoreAndRank(qStaged, postingsAll, dfsAll, totals, k, k1, b,
        broadcastQueries = false)
    }
    // bounded driver model: ONE retrieval batch (the same contract that
    // lets topK broadcast the query frame); its pairs — already
    // materialized by the cap-check take above — drive the floor term
    // selection, its distinct terms the dir pruning, and the driver
    // finish's fanout. The distributed tails stage the rows as a
    // LocalRelation (same rows, nulls preserved via the original
    // schema), so no query-side read re-runs the caller's plan; each
    // broadcast of it still costs one small build job (the broadcast
    // collects its child through a job even when that child is
    // driver-local).
    lazy val qStaged = spark.createDataFrame(
      java.util.Arrays.asList(qPairsRaw: _*), qProjected.schema)
    val qTerms = qPairsRaw.map(_.getString(1)).distinct
    val boundsRow = bTbl.collect()
    require(boundsRow.length == 1,
      s"index ${table}_bounds must hold exactly 1 row")
    val (n, sumdl, nDirs) = (boundsRow(0).getLong(0),
      boundsRow(0).getLong(1), boundsRow(0).getLong(2))
    def tbOf(terms: Seq[String]): Seq[Long] =
      terms.map(t => Math.floorMod(xxh64Local(t), nDirs)).distinct
    // per-term stats ride a dir-pruned term-IN scan of the dfs table —
    // bounded output, collected to drive the maxDf prune, the WAND
    // bounds AND the scoring join's broadcast (no second dfs scan).
    // Pre-WAND indexes carry no (max_tf, min_dl) — sentinel values are
    // fine: the exact path below never reads them.
    val dfsScan = dTbl
      .filter($"tb".isin(tbOf(qTerms.toSeq): _*) &&
        $"term".isin(qTerms.toSeq: _*))
    val termStats = (if (hasWandStats)
        dfsScan.select($"term", $"df", $"max_tf", $"min_dl")
      else dfsScan.select($"term", $"df", lit(0L).as("max_tf"),
        lit(0L).as("min_dl")))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val kept = termStats.filter(_._2 <= maxDf)
    if (kept.length < termStats.length)
      logger.warn(s"bm25 topKAgainstIndex: dropping " +
        s"${termStats.length - kept.length} of ${termStats.length} query terms " +
        s"with df > $maxDf — scores exclude these common terms (lossy " +
        "stopword prune; raise maxDf for exact ranking)")
    def dirPrunedPostings(terms: Seq[String], spread: Boolean = true): DataFrame =
      // dir pruning happens at PLANNING (tb is the partition column —
      // only the directories the terms hash into are listed/read); the
      // term-IN narrows to exact postings inside each file, helped by
      // the in-file term sort's row-group stats. The repartition then
      // SPREADS each term's single-directory concentration before the
      // scoring join: without it, one scan task absorbs a zipf-common
      // term's whole join fanout and its partial aggregation runs the
      // stage single-threaded (measured 3.5x on the agg at 10M)
      {
        val scan = snap.alive(pTbl
          .filter($"tb".isin(tbOf(terms): _*) && $"term".isin(terms: _*))
          .select($"term", $"doc_id", $"tf", $"dl"), "doc_id")
        // the spread matters only where the consumer fans out map-side
        // (the scoring join); the floor/candidate consumers flow into
        // their own hash exchange immediately — spreading them first
        // would just add an exchange
        if (spread) scan.repartition(spark.sessionState.conf.numShufflePartitions)
        else scan
      }
    val keptTerms = kept.map(_._1).toSeq
    val matchingPostings = kept.map(_._2).sum
    // the zipf-term spread's exchange only pays for itself when the
    // scoring join's fanout is worth parallelizing (one scan task can
    // absorb a common term's whole fanout — measured 3.5x on the
    // aggregation at the 10M decade; conversely at small volumes the
    // extra exchange plus its one-task-per-core stage IS the probe's
    // cost). The fanout is exact driver-side arithmetic:
    // Σ_t df(t) · |qids sharing t| — never an estimate. A null qid is
    // one distinct query, as it is one group in the scoring aggregation.
    val nqByTerm = qPairsRaw
      .groupBy(_.getString(1)).map { case (t, rs) =>
        (t, rs.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
          .distinct.length.toLong) }
    val fanout = kept.iterator
      .map(s => s._2 * nqByTerm.getOrElse(s._1, 0L)).sum
    val spread = fanout >= spreadMinFanout
    val maxTermDf = if (kept.isEmpty) 0L else kept.map(_._2).max
    if (!prune || !hasWandStats || matchingPostings < pruneMinPostings ||
        maxTermDf < pruneMinMaxDf) {
      logger.info(s"bm25 topKAgainstIndex: straight scan-score-sort path " +
        s"($matchingPostings matching postings, max term df $maxTermDf; " +
        (if (!prune) "prune=false"
         else if (!hasWandStats) "pre-WAND dfs format"
         else if (matchingPostings < pruneMinPostings)
           s"below pruneMinPostings=$pruneMinPostings"
         else s"max df below pruneMinMaxDf=$pruneMinMaxDf") +
        s"), fanout $fanout " +
        (if (spread) s">= spreadMinFanout=$spreadMinFanout: distributed tail"
         else s"< spreadMinFanout=$spreadMinFanout: driver finish"))
      if (!spread)
        return finishOnDriver(dirPrunedPostings(keptTerms, spread = false),
          qPairsRaw, kept, n, sumdl, k, k1, b,
          qidNullable = qProjected.schema("qid").nullable)
      val dfs = spark.createDataFrame(kept.toSeq
          .map { case (t, df, _, _) => (t, df) }).toDF("term", "df")
      val totals = spark.createDataFrame(Seq((n, sumdl))).toDF("n", "sumdl")
      return scoreAndRank(qStaged, dirPrunedPostings(keptTerms), dfs,
        totals, k, k1, b)
    }
    // floor lists ride their own dir-pruned scan (fewer directories
    // than the full kept set); per-term ub evaluated driver-side inside
    // the shared tail — every op in the tree is IEEE-monotone, so
    // ub_e4 >= c_e4 for every posting of the term
    logger.info(s"bm25 topKAgainstIndex: WAND-bounded path " +
      s"($matchingPostings matching postings >= " +
      s"pruneMinPostings=$pruneMinPostings, max term df $maxTermDf >= " +
      s"pruneMinMaxDf=$pruneMinMaxDf)")
    wandScoreAndRank(qStaged, qPairsRaw.map(r => (r.getLong(0), r.getString(1))),
      kept, n, sumdl, dirPrunedPostings(keptTerms, spread),
      dirPrunedPostings(_, spread = false), k, k1, b, floorTermsPerQuery,
      semiJoinMinPrunable)
  }

  /** The driver finish of a straight index probe whose scoring fanout is
    * below `spreadMinFanout`: the rows [[scoreAndRank]] returns for the
    * same inputs, without its query join, (qid, doc_id) aggregation
    * exchange and top-k window exchange.
    *
    * ONE Spark job evaluates [[contributionE4]] once per surviving
    * posting of the kept terms (the `postings` frame carries the dir
    * pruning, tombstone anti-join and candidate filter) and collects
    * (term ordinal, doc_id, c_e4). df, n and Σdl enter as literals
    * instead of broadcast joins — broadcasting driver-local rows still
    * costs a build job each — with the same long values and the same
    * expression tree, so every c_e4 is bit-identical to the distributed
    * tail's. The driver then only adds and sorts longs:
    *  - each (qid, term) row of the batch fans its term's contributions
    *    out to its qid, as the join does: a duplicate pair adds twice,
    *    a null or unkept term matches nothing, and a null qid is one
    *    group;
    *  - the per-(qid, doc_id) sum is exact BIGINT (`Math.addExact`
    *    throws on overflow, as ANSI `sum` does);
    *  - the top k per qid rank by (score_e4 desc, doc_id asc, nulls
    *    first) — the window's order.
    * The result is a LocalRelation with the tail's schema, nullability
    * included. `Bm25DriverFinishProps` pins row and schema equality
    * against the distributed tail (`spreadMinFanout = 0`). */
  private def finishOnDriver(postings: DataFrame, qRows: Array[Row],
      kept: Array[(String, Long, Long, Long)], n: Long, sumdl: Long,
      k: Int, k1: Double, b: Double, qidNullable: Boolean): DataFrame = {
    val spark = postings.sparkSession
    import spark.implicits._
    val terms = kept.map(_._1)
    val ordOf = terms.zipWithIndex.toMap
    val contrib = postings
      .select(typedLit(ordOf).apply($"term").as("ord"), $"doc_id", $"tf", $"dl")
      .select($"ord", $"doc_id", $"tf", $"dl",
        typedLit(kept.map(_._2).toSeq).apply($"ord").as("df"),
        lit(n).as("n"), lit(sumdl).as("sumdl"))
      .select($"ord", $"doc_id", contributionE4(k1, b).as("c_e4"))
    val schema = StructType(Seq(
      StructField("qid", LongType, qidNullable),
      StructField("rank", LongType, nullable = false),
      StructField("doc_id", LongType, contrib.schema("doc_id").nullable),
      StructField("score_e4", LongType, nullable = true)))
    val rows = if (terms.isEmpty) Array.empty[Row] else contrib.collect()

    // dense doc slots in (doc_id asc, nulls first) order: the rank
    // tie-break then compares slot numbers
    def docOf(r: Row): java.lang.Long =
      if (r.isNullAt(1)) null else java.lang.Long.valueOf(r.getLong(1))
    val slotOf = new java.util.HashMap[java.lang.Long, Integer]()
    rows.foreach(r => slotOf.put(docOf(r), 0))
    val docs = slotOf.keySet.toArray(new Array[java.lang.Long](0))
    java.util.Arrays.sort(docs, java.util.Comparator.nullsFirst(
      java.util.Comparator.naturalOrder[java.lang.Long]()))
    docs.indices.foreach(i => slotOf.put(docs(i), i))
    // contributions grouped by term ordinal (CSR: term o owns
    // [start(o), start(o + 1)))
    val start = new Array[Int](terms.length + 1)
    rows.foreach(r => start(r.getInt(0) + 1) += 1)
    terms.indices.foreach(o => start(o + 1) += start(o))
    val slot = new Array[Int](rows.length)
    val cE4 = new Array[Long](rows.length)
    val fill = start.clone()
    rows.foreach { r =>
      val i = fill(r.getInt(0)); fill(r.getInt(0)) += 1
      slot(i) = slotOf.get(docOf(r)); cE4(i) = r.getLong(2)
    }
    // kept-term ordinals per qid, one per (qid, term) row
    val ordsOf = mutable.LinkedHashMap.empty[Option[Long], mutable.ArrayBuffer[Int]]
    qRows.foreach { r =>
      Option(r.getString(1)).flatMap(ordOf.get).foreach { o =>
        val q = if (r.isNullAt(0)) None else Some(r.getLong(0))
        ordsOf.getOrElseUpdate(q, mutable.ArrayBuffer.empty[Int]) += o
      }
    }

    // per qid: sum into the dense slots (a slot is live for this qid
    // when its stamp equals the qid's generation), then keep the best k
    // of the touched slots by insertion into a sorted prefix
    val acc = new Array[Long](docs.length)
    val stamp = new Array[Int](docs.length)
    val touched = new Array[Int](docs.length)
    def before(d: Int, e: Int): Boolean =
      acc(d) > acc(e) || (acc(d) == acc(e) && d < e)
    val out = new java.util.ArrayList[Row]()
    var gen = 0
    ordsOf.foreach { case (q, ords) =>
      gen += 1
      var nTouched = 0
      ords.foreach { o =>
        var i = start(o)
        while (i < start(o + 1)) {
          val d = slot(i)
          if (stamp(d) != gen) {
            stamp(d) = gen; acc(d) = 0L; touched(nTouched) = d; nTouched += 1
          }
          acc(d) = Math.addExact(acc(d), cE4(i))
          i += 1
        }
      }
      val top = new Array[Int](math.min(k, nTouched))
      var nTop = 0
      var t = 0
      while (t < nTouched) {
        val d = touched(t)
        if (nTop < top.length || before(d, top(nTop - 1))) {
          var j = math.min(nTop, top.length - 1)
          while (j > 0 && before(d, top(j - 1))) { top(j) = top(j - 1); j -= 1 }
          top(j) = d
          if (nTop < top.length) nTop += 1
        }
        t += 1
      }
      val qid = q.map(Long.box).orNull
      (0 until nTop).foreach { r =>
        out.add(Row(qid, r + 1L, docs(top(r)), acc(top(r))))
      }
    }
    spark.createDataFrame(out, schema)
  }
}
