package graft

import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape audit over the ENTIRE shipped query surface: no
  * `SparkEntry.queries` plan may contain a CartesianProduct, and
  * BroadcastNestedLoopJoin is allowed only where the broadcast side is a
  * bounded probe set (exact-kNN scans stream the corpus once against O(1)
  * probes — the correct linear plan). Round-2 verdict item #3: a
  * quadratic plan is a scale-killer regardless of local-SF timings.
  */
class PlanAuditSpec extends AnyFunSuite {
  import SparkSuiteBase.{spark, sfDir}

  /** Every registered query's executed plan, planned once and shared by
    * the audits below. */
  private lazy val plans: Map[String, String] = SparkEntry.registry.map(q =>
    q.name -> q.build(spark, sfDir).queryExecution.executedPlan.toString).toMap

  /** The registered queries whose plan matches `bad` and that are not in
    * `allowed`; an allowlist entry naming no registered query fails. */
  private def offenders(allowed: Set[String])(bad: String => Boolean) = {
    val unknown = allowed -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"allowlist names no registered query: $unknown")
    plans.toSeq.sortBy(_._1).collect {
      case (name, plan) if bad(plan) && !allowed(name) => name
    }
  }

  /** Queries whose plan legitimately contains BroadcastNestedLoopJoin:
    * the nested-loop side is a broadcast probe set bounded by a constant
    * (vec_id < 10 / < 100), so work is O(corpus × probes) = one scan;
    * q73's broadcast side is the single-row [lo, hi] bounds aggregate. */
  private val boundedProbeBnlj =
    Set("q19_knn_bruteforce", "q43_embedding_neardup", "q73_length_trim",
      "q90_gap_fill", // q90's broadcast side is the 1-row [lo, hi] bounds
      "q130_sketch_golden", // 1-row × 1-row ALL-row assembly (constant-key
                            // join folds to BNLJ; both sides are scalars)
      "q134_lm_perplexity", // broadcast side is the 1-row vocab-size
                            // aggregate, probed onto the vocab-sized
                            // unigram count table (same shape as q90)
      "q136_lm_heldout",    // same 1-row vocab-size broadcast, ridden on
                            // the score-side bigram stream because rows
                            // missing the w1 join still need V (1/V
                            // backoff) — linear stream × 1 row
      "q139_dsir_resample", // two 1-row total aggregates broadcast onto
                            // the B-row (≤8192) λ table — q134's shape
      "q138_ccnet_buckets", // two 1-row broadcasts: the vocab-size
                            // aggregate (via q134's scorer) and the
                            // tercile-cutoff row — bucketing stays
                            // map-side
      "q152_bm25_topk",     // 1-row (N, Σdl) corpus-bounds broadcast
                            // ridden on the query-term-pruned posting
                            // stream — q134's shape
      "q155_bm25_index_topk", // the same 1-row bounds broadcast, read
                              // from the index's bounds table instead of
                              // aggregated — identical shape to q152
      "q159_bm25_index_append", // q155's probe verbatim over the grown
                                // index — same 1-row bounds broadcast
      "q161_bm25_index_compact", // same probe over the compacted index
      "q166_bm25_index_exactscan", // q155's probe with prune=false —
                                   // same 1-row bounds broadcast
      "q167_bm25_append_stream",   // q155's probe over the
                                   // stream-appended index — same shape
      "q169_hybrid_rrf",           // the BM25 leg IS q155's probe (same
                                   // 1-row bounds broadcast); the fusion
                                   // itself joins on (qid, id)
      "q170_bm25_index_delete",    // q155's probe over the tombstoned
                                   // index — same 1-row bounds broadcast;
                                   // the delete anti-join is a bounded
                                   // broadcast hash join, not the BNLJ
      "q174_bm25_index_update",    // q155's probe over the updated
                                   // index — same 1-row bounds broadcast
      "q175_knn_ivf_recall",       // the exact-ground-truth leg IS
                                   // q19's bounded-probe BNLJ (10
                                   // broadcast queries × corpus scan)
      "q176_bm25_delete_stream",   // q170's probe over the
                                   // stream-tombstoned index — same
                                   // 1-row bounds broadcast
      "q177_bm25_time_travel",     // q155's probe over the HISTORICAL
                                   // generations (AsOf.Commits(1)) — same
                                   // 1-row bounds broadcast, read from
                                   // the manifest-resolved bounds gen
      "q179_bm25_tt_across_append", // q177's probe at AsOf.Commits(2) —
                                    // same 1-row bounds broadcast, read
                                    // from the build-time bounds gen
                                    // (the postings read is file-pinned)
      "q180_hybrid_rrf_filtered",  // q169's fusion with the metadata
                                   // predicate — the BM25 leg keeps the
                                   // same 1-row bounds broadcast
      "q184_hybrid_rrf_tt",        // q169's fusion with both legs
                                   // historical — the BM25 leg is q179's
                                   // probe, same 1-row bounds broadcast
                                   // read from the build-time bounds gen
      "q185_hybrid_rrf_tt_sq8",    // q184 with the SQ8 vector leg — the
                                   // BM25 leg unchanged (same 1-row
                                   // bounds broadcast)
      "q192_hybrid_rrf_stack_tag", // q184's plan verbatim, addressed by
                                   // the one stack tag — the BM25 leg
                                   // keeps the same 1-row bounds
                                   // broadcast from the tagged gen
      "q186_bm25_tt_timestamp",    // q177's probe addressed by wall
                                   // clock instead of commit depth —
                                   // same 1-row bounds broadcast from
                                   // the manifest-resolved bounds gen
      "q187_bm25_tt_tag")          // q177's probe addressed by snapshot
                                   // tag — same 1-row bounds broadcast

  test("filters and projections reach the parquet scan (pushdown + pruning)") {
    def scanDetail(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)

    val q01 = scanDetail("q01_scan_filter_project")
    assert(q01.contains("GreaterThanOrEqual(n_chars,100)") &&
      q01.contains("In(lang, "), s"q01 range/IN filters must be pushed:\n$q01")
    assert(q01.contains(
      "struct<doc_id:bigint,lang:string,source:string,n_chars:bigint>"),
      "q01 must read exactly its 4 projected columns")

    val q02 = scanDetail("q02_agg_pricing")
    assert(q02.contains("struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_returnflag:string,l_linestatus:string>"),
      "q02 must read exactly the 5 columns the aggregate needs")

    val q03 = scanDetail("q03_filter_in")
    assert(q03.contains("GreaterThan(c_acctbal,5000.0)"),
      "q03 numeric predicate must be pushed to the scan")
  }

  test("de-skewed plans stay de-skewed: no window over unbounded hot keys") {
    // q66: first-occurrence must be the map-side-combining aggregate, not
    // a window keyed by the chunk text (a viral chunk would pin every
    // occurrence to one reducer).
    val q66 = plans("q66_chunk_dedup")
    assert(!q66.contains("Window"), s"q66 must not plan any window:\n$q66")
    // q68: ranks must come from the ONE materialized range slicing (the
    // operator's internal lineage cut — round-9 hazard: two evaluations
    // of the range exchange can slice different nondeterministic row
    // orders and silently corrupt global ranks), and every rank/offset
    // window must be keyed by the slice id — never by the segment alone
    // over the raw rows.
    val q68 = plans("q68_quantiles_exact")
    assert(q68.contains("Scan ExistingRDD") && q68.contains("pid#"),
      s"q68 must rank over the checkpointed slicing (pid column):\n$q68")
    assert(q68.contains("hashpartitioning(pid#"),
      s"q68 local ranks must be keyed by the slice id:\n$q68")
    // q145: the token-budget cumsum must ride the SAME sharded machinery —
    // local windows keyed by the checkpointed slice id, never one global
    // empty-partition order window over the whole corpus.
    val q145 = plans("q145_token_budget_select")
    assert(q145.contains("Scan ExistingRDD") && q145.contains("pid#"),
      s"q145 must cumsum over the checkpointed slicing (pid column):\n$q145")
    assert(q145.contains("hashpartitioning(pid#"),
      s"q145 local cumsums must be keyed by the slice id:\n$q145")
    // q151: the training-order permutation must rank over the ONE
    // checkpointed range slicing of the digest key — local row_numbers
    // keyed by the slice id plus driver offsets, never a global-order
    // single-task window over the corpus.
    val q151 = plans("q151_training_order_shuffle")
    assert(q151.contains("Scan ExistingRDD") && q151.contains("pid#"),
      s"q151 must rank over the checkpointed slicing (pid column):\n$q151")
    assert(q151.contains("hashpartitioning(pid#"),
      s"q151 local ranks must be keyed by the slice id:\n$q151")
    // q133: the dup-gram detector must be the map-side-combining COUNT
    // aggregate (partial_count below the gram exchange) — a window or a
    // non-combining aggregate over the gram key would pin a viral
    // boilerplate gram's every occurrence to one reducer. The only
    // windows allowed are the per-doc gaps-and-islands (keyed by doc_id,
    // bounded by document length).
    val q133 = plans("q133_substring_dedup")
    assert(q133.contains("partial_count"),
      s"q133's gram count must combine map-side:\n$q133")
    assert(!q133.contains("windowspecdefinition(gram"),
      "q133 must never window over the gram key")
    // q139: selection must be the distributed partial top-k
    // (TakeOrderedAndProject), never a global sort feeding the limit —
    // and the bucket-count aggregates must combine map-side (the hot
    // bucket absorbing the most common unigram collapses per partition).
    val q139 = plans("q139_dsir_resample")
    assert(q139.contains("TakeOrderedAndProject"),
      s"q139's top-k must be a distributed TakeOrdered:\n$q139")
    assert(q139.contains("partial_count") || q139.contains("partial_sum"),
      s"q139's bucket counts must combine map-side:\n$q139")
    // q140: the scoring pass is ONE map-side projection — the only
    // exchange in the whole plan is the output ordering's range exchange
    // (no hashpartitioning shuffle anywhere; features + weight fold +
    // sigmoid + e6 cast all ride the scan).
    val q140 = plans("q140_quality_classifier")
    assert(!q140.contains("hashpartitioning"),
      s"q140 scoring must be shuffle-free (range exchange for output order only):\n$q140")
    // q144: same contract for the hashed-n-gram variant — the D bucket
    // weights ride the plan as an array literal and the gram fold is a
    // higher-order aggregate over the staged token array: no join, no
    // hashpartitioning exchange, no ScalaUDF in the scoring pass.
    val q144 = plans("q144_hashed_quality_classifier")
    assert(!q144.contains("hashpartitioning"),
      s"q144 scoring must be shuffle-free (range exchange for output order only):\n$q144")
    // q141: the Bloom probe is ONE map-side projection over the train
    // scan — no shuffle, no join of any kind (the filter rides the plan
    // as a literal); only the output ordering's range exchange remains.
    val q141 = plans("q141_bloom_decontamination")
    assert(!q141.contains("hashpartitioning") && !q141.contains("Join"),
      s"q141 must be a joinless, shuffle-free probe:\n$q141")
  }

  test("no shipped query plans a cartesian product / unbounded nested-loop join") {
    val cartesian = offenders(Set.empty)(_.contains("CartesianProduct"))
    assert(cartesian.isEmpty, s"CartesianProduct in: ${cartesian.mkString(", ")}")
    val bnlj = offenders(boundedProbeBnlj)(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj.isEmpty,
      s"unlisted BroadcastNestedLoopJoin in: ${bnlj.mkString(", ")}")
  }

  /** Queries allowed to carry a ScalaUDF in their plan: the declared
    * UDF-bearing surfaces (stemmer/TF-IDF text family, lang-ID and
    * rolling-hash UDFs, multimodal decode, similarity joins tokenizing
    * through the same stemmer, fingerprints, dedup over stemmed shingles).
    * Everything else — the whole relational battery and the column-algebra
    * corpus operators — must stay pure codegen-able expressions
    * (`standardize_title` itself runs as a native Catalyst expression, not
    * a ScalaUDF). */
  private val udfBearing = Set(
    "q30_std_scan", "q31_std_group_count", "q32_std_filter",
    "q33_std_category_rollup", "q34_similarity_join", "q35_dedup_fuzzy",
    "q36_dedup_simhash", "q37_ngram_jaccard", "q39_lang_id",
    "q40_quality_scores", "q41_fingerprints", "q44_multimodal_features",
    "q45_text_udfs", "q46_similarity_join_generic",
    "q48_multimodal_frames", "q49_similarity_join_threshold",
    "q52_std_golden", "q53_ngram_jaccard_exact", "q62_pipeline_e2e",
    "q70_mixture_weights", "q76_keyword_extract",
    "q38_knn_lsh", "q42_knn_ivf", // vector signature/assignment UDFs
    "q121_text_udfs_golden", // golden battery over the UDF family itself
    "q125_fuzzy_dedup_golden", "q126_ann_golden", // golden batteries over the candidate machinery (same UDFs as q35/q38/q42)
    "q153_minhash_incremental", // same minhash signature UDF as q35
    "q127_simjoin_golden", // golden battery over the similarity join (same qvec UDF as q34)
    "q128_simjoin_generic_golden", "q129_simhash_golden", // golden batteries over the generic join / simhash (same UDFs as q46/q49/q36)
    "q137_semdedup_golden", // k-means assignment + centroid-cosine UDFs (same family as q42)
    "q142_bpe_packing", // per-word BPE merge-walk UDF (tokenization stays codegen)
    "q147_bpe_chunk_ids", // same merge-walk UDF emitting id arrays (chunk digest stays codegen)
    "q148_pipeline_v4", // composed v4 recipe: BPE merge-walk UDF in the count+pack stages
    "q143_linear_count") // sketch-bytes popcount/estimate UDF over the 1-row-per-group register

  test("only declared UDF-bearing queries plan a ScalaUDF") {
    val udf = offenders(udfBearing)(_.contains("UDF"))
    assert(udf.isEmpty, s"unexpected ScalaUDF in: ${udf.mkString(", ")}")
  }

  test("bm25 fanout gate: spread engages above the threshold, never below") {
    // r17/r18 directive: q152's scoring fanout must never run in ONE
    // task when the fanout is large (AQE byte-coalescing is blind to
    // join-fanout work), and conversely small probes must not pay an
    // always-on spread exchange. The gate is exact driver arithmetic
    // (Σ_t df(t)·|qids sharing t|) against `spreadMinFanout`; pin BOTH
    // sides of it on the same corpus and that the rows are identical.
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        explode(slice(graft.operators.CorpusFilters.words(col("text")), 1, 6))
          .as("term"))
      .distinct()
    def planOf(spreadMin: Long): (String, Array[org.apache.spark.sql.Row]) = {
      val df = graft.operators.Bm25.topK(docs, "doc_id", "text", queries,
        k = 5, spreadMinFanout = spreadMin)
        .orderBy(col("qid"), col("rank"))
      (df.queryExecution.executedPlan.toString, df.collect())
    }
    val (spreadPlan, spreadRows) = planOf(0L) // always spread
    val (noSpreadPlan, noSpreadRows) = planOf(Long.MaxValue) // never
    assert(spreadPlan.contains("RoundRobinPartitioning"),
      s"fanout >= threshold must spread the staged postings:\n$spreadPlan")
    assert(!noSpreadPlan.contains("RoundRobinPartitioning"),
      s"fanout < threshold must not pay a spread exchange:\n$noSpreadPlan")
    assert(spreadRows.sameElements(noSpreadRows),
      "spread is a distribution choice only — rows must be identical")
  }

  test("column pruning reaches the scan: battery queries read only needed columns") {
    // a scan that reads every column for a 2-column aggregate multiplies
    // 100 TB of IO for nothing — pin ReadSchema for representative shapes
    def readSchemas(name: String): Seq[String] = {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
      "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(plan)
        .map(_.group(1)).toSeq
    }
    // q94 aggregates one price column from orders
    val q94 = readSchemas("q94_width_bucket")
    assert(q94.nonEmpty && q94.forall(_ == "o_totalprice:double"),
      s"q94 should scan only o_totalprice, got $q94")
    // q111 needs exactly (ts, user_id, event_type, event_id)
    val q111 = readSchemas("q111_event_transitions")
    assert(q111.nonEmpty && q111.forall { s =>
      val cols = s.split(",").map(_.split(":")(0)).toSet
      cols == Set("event_id", "ts", "user_id", "event_type")
    }, s"q111 should scan 4 columns, got $q111")
    // q02's lineitem scan must not read the join-free columns
    val q02 = readSchemas("q02_agg_pricing")
    assert(q02.nonEmpty && q02.forall(!_.contains("l_orderkey")),
      s"q02 must prune unused lineitem columns, got $q02")
  }
}
