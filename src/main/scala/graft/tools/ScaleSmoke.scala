package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Knn, SimilarityJoin}

/** Dev utility: run the §2.4 scale operators on synthetic data 100–1000×
  * the testdata size, on all cores — the local stand-in for "would this
  * survive a 100× scale-up". Data is generated distributively from
  * hash-derived tokens (no driver-side materialization, no RNG state).
  *
  * Usage: runMain graft.tools.ScaleSmoke [nDocs] [nVecs], or from the
  * compiled classes `tools/scale_smoke.sh <heap> [nDocs] [nVecs]`
  */
object ScaleSmoke {
  /** Planted-truth check for the incremental-dedup smokes: every block
    * (ids n*100+0..4 share a generator seed ⇒ IDENTICAL text) must be
    * recovered — identical docs have signature agreement 1.0, so a miss
    * is impossible by construction and `nd >= nBlocks && nh >= 4*nBlocks`
    * is exact on the planted side. On top of the planted truth, MinHash
    * is an ESTIMATOR: at the third decade a handful of unique batch docs
    * cross the agreement threshold against near-miss history docs (100M:
    * +8 docs/+51 matches, bit-identical between the stateless path and
    * the index probe) — published-algorithm behavior, not a bug, so the
    * smoke tolerates strays up to a ppm-scale bound instead of failing
    * the whole decade on them. */
  private def checkPlantedDups(hist: Option[(Long, Long)], nBlocks: Long,
      got: String): Unit = {
    val (nd, nh) = hist.getOrElse((0L, 0L))
    val strayBound = nBlocks / 10000L + 16L
    assert(nd >= nBlocks && nh >= nBlocks * 4L,
      s"planted dups missed: expected >= $nBlocks dup_history docs with " +
        s">= ${nBlocks * 4} matches, got $got")
    assert(nd - nBlocks <= strayBound && nh - nBlocks * 4L <= strayBound * 32L,
      s"LSH strays above bound ($strayBound docs): got $got")
    if (nd > nBlocks) println(s"  (${nd - nBlocks} stray docs / " +
      s"${nh - nBlocks * 4L} stray matches above the planted truth — " +
      s"MinHash-estimator collisions, within bound $strayBound)")
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toInt).getOrElse(1000000)
    val nVecs = args.drop(1).headOption.map(_.toInt).getOrElse(200000)
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "64")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    // Focus modes, so a single family can be retimed (or pushed a decade
    // up in nDocs) without paying for the whole sweep:
    //   SCALE_ONLY_NEWOPS   — substring dedup / bigram LM (+held-out) /
    //                         incremental dedup only
    //   SCALE_ONLY_PIPELINE — the composed e2e recipes only
    //   SCALE_ONLY_DSIR     — the DSIR importance-resampling case only
    val onlyNewOps = sys.env.contains("SCALE_ONLY_NEWOPS")
    val onlyPipeline = sys.env.contains("SCALE_ONLY_PIPELINE")
    val onlyDsir = sys.env.contains("SCALE_ONLY_DSIR")
    val onlyComponents = sys.env.contains("SCALE_ONLY_COMPONENTS")
    val onlyBpe = sys.env.contains("SCALE_ONLY_BPE")
    val onlyHqc = sys.env.contains("SCALE_ONLY_HQC")
    val onlyR11 = sys.env.contains("SCALE_ONLY_R11")
    val onlyR12 = sys.env.contains("SCALE_ONLY_R12")
    val skipGeneral = onlyNewOps || onlyPipeline || onlyDsir ||
      onlyComponents || onlyBpe || onlyHqc || onlyR11 || onlyR12

    def time[T](tag: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $tag: ${(System.nanoTime() - t0) / 1e9}%.1f s")
      r
    }

    // SCALE_ONLY_COMPONENTS — the adversarial connected-components shape:
    // one nDocs/1000-diameter chain (templated pages linking neighbor to
    // neighbor) + nDocs/20 planted 10-member stars, over nDocs vertices.
    // Linear label propagation needs diameter rounds here; the
    // pointer-doubling implementation must stay at ~log2(diameter).
    if (onlyComponents) {
      val chainLen = math.max(1000L, nDocs.toLong / 1000L)
      time(s"connected components ($nDocs vertices, chain diameter $chainLen + stars)") {
        val vertices = spark.range(nDocs.toLong).toDF("id")
        val chain = spark.range(chainLen - 1)
          .select($"id".as("id_a"), ($"id" + 1L).as("id_b"))
        // stars over the id space above the chain: hub h = chainLen + 11k
        // with spokes h+1..h+9
        val stars = spark.range((nDocs.toLong - chainLen) / 11)
          .select((lit(chainLen) + $"id" * 11L).as("hub"),
            explode(sequence(lit(1), lit(9))).as("k"))
          .select($"hub".as("id_a"), ($"hub" + $"k").as("id_b"))
        val labels = Dedup.connectedComponents(
          vertices, chain.unionByName(stars)).cache()
        val chainClusters = labels.filter($"id" < chainLen)
          .select($"label").distinct().count()
        val nonSingleton = labels.filter($"label" =!= $"id").count()
        require(chainClusters == 1L,
          s"chain split into $chainClusters clusters — convergence bug")
        println(s"  chain clusters: $chainClusters (must be 1); " +
          s"re-labelled vertices: $nonSingleton")
        labels.unpersist()
      }
      spark.stop(); return
    }

    // SCALE_ONLY_BPE — q142's shape at nDocs: bounded-sample train (the
    // cost that must NOT grow with nDocs), then the map-side encode+pack
    // pass over everything; since round 11 also the q147 shape — token-ID
    // arrays chunked into ctx windows and digested per doc, still one
    // shuffle-free pass. Run after `docs` is defined below.
    def bpeSmoke(docs: DataFrame): Unit = {
      val (merges, vocab) = time(s"BPE train (2000-doc sample of $nDocs)") {
        graft.operators.Bpe.trainWithVocab(docs, "id", "text", numMerges = 200)
      }
      println(s"  merges learned: ${merges.length}; vocab size: ${vocab.length}")
      time(s"BPE encode + pack ($nDocs docs, ctx 2048, 64 shards)") {
        val packed = graft.operators.Bpe.packByBpe(
          docs, "id", "text", merges, ctxLen = 2048, nShards = 64)
        val stats = packed.agg(
          sum($"n_tokens_bpe").as("toks"),
          countDistinct($"shard", $"pack").as("packs")).collect()(0)
        println(s"  total bpe tokens: ${stats.getLong(0)}; packs: ${stats.getLong(1)}")
      }
      time(s"BPE token-id encode + 32-id/stride-24 chunk digest ($nDocs docs)") {
        // the q147 shape: id arrays + per-doc window digests in ONE
        // shuffle-free map pass (no explode, no aggregate beyond the
        // 1-row summary)
        val ids = graft.operators.Bpe.tokenIdsCol(merges, vocab)
        val digests = graft.operators.Chunker.strideChunkDigest(
          docs.select($"id", ids($"text").as("ids")), "id", "ids",
          chunkLen = 32, stride = 24)
        val stats = digests.agg(
          sum($"n_items").as("ids"), sum($"n_chunks").as("chunks"),
          countDistinct($"chunks_md5").as("distinct_digests")).collect()(0)
        println(s"  total ids: ${stats.getLong(0)}; windows: ${stats.getLong(1)}; " +
          s"distinct digests: ${stats.getLong(2)}")
      }
    }

    // --- documents: 16 hash-derived tokens from a 10k-word ZIPF-ish vocab
    // (token id = 10000·u³ — few very common words, long rare tail, like
    // real text; uniform weights are prefix-filtering's worst case and
    // unrepresentative). 5% of rows share a seed in blocks of 20 ⇒ planted
    // exact-dup clusters.
    def zipfToken(i: Int) = {
      val u = pmod(xxhash64($"seed", lit(i)), lit(10000L)).cast("double") / 10000.0
      concat(lit("w"), floor(u * u * u * 10000.0).cast("long"))
    }
    val docs = spark.range(nDocs.toLong)
      .withColumn("seed", when(pmod($"id", lit(100L)) < 5, $"id" - pmod($"id", lit(20L))).otherwise($"id"))
      .withColumn("text", concat_ws(" ", (0 until 16).map(zipfToken): _*))
      .select($"id", $"text")
    docs.cache(); docs.count()

    if (onlyBpe) { bpeSmoke(docs); spark.stop(); return }

    // SCALE_ONLY_R11 — the round-11 operators at nDocs: per-group budget
    // selection under viral-group skew (q150), the training-order
    // permutation (q151), and BM25 retrieval where the query terms are
    // zipf-common words, so postings cover most of the corpus — the
    // worst realistic candidate fanout (q152).
    if (onlyR11) {
      // SCALE_R11_CASE=budget|shuffle|incdedup|bm25 runs ONE case per JVM
      // (the SCALE_THIRD_CASE precedent: AQE retains every stage's
      // shuffle temp until the job ends, so 100M-decade cases share a
      // JVM at their peril); unset = all four.
      val r11Case = sys.env.getOrElse("SCALE_R11_CASE", "")
      def wants(c: String) = r11Case.isEmpty || r11Case == c
      if (wants("budget"))
      time(s"per-group token-budget select ($nDocs docs, 5 langs, 60% viral)") {
        // one language holds 60% of all rows — the shape that pins a
        // window-per-group plan to a single task
        val scored = docs.select(
          when(pmod($"id", lit(10L)) < 6, lit("hot"))
            .otherwise(concat(lit("l"), pmod($"id", lit(4L)))).as("lang"),
          $"id",
          pmod(xxhash64($"id", lit(7)), lit(1000000L)).as("score_e6"),
          (pmod(xxhash64($"id", lit(8)), lit(200L)) + 1L).as("n_toks"))
        val sel = graft.operators.Budget.selectByBudgetPerGroup(
          scored, "lang", "id", "score_e6", "n_toks", 1L, 2L)
        val agg = sel.groupBy($"lang").agg(
          sum(when($"selected", $"n_toks").otherwise(0L)).as("spent"),
          max($"group_w").as("total")).collect()
        agg.foreach { r =>
          assert(r.getLong(1) * 2 <= r.getLong(2),
            s"budget overspent for ${r.getString(0)}: $r")
        }
        println(s"  spent/total per lang: " + agg.sortBy(_.getString(0))
          .map(r => s"${r.getString(0)}=${r.getLong(1)}/${r.getLong(2)}")
          .mkString(" "))
      }
      if (wants("shuffle"))
      time(s"training-order shuffle ($nDocs rows)") {
        val out = graft.operators.TrainOrder.deterministicShuffle(
          docs.select($"id"), "id", "epoch0")
        val st = out.agg(count(lit(1)).as("n"), max($"pos").as("mx")).collect()(0)
        assert(st.getLong(0) == nDocs.toLong && st.getLong(1) == nDocs.toLong,
          s"permutation not exact: $st")
        println(s"  rows: ${st.getLong(0)}; max pos: ${st.getLong(1)}")
      }
      if (wants("incdedup"))
      time(s"incremental fuzzy dedup (2% batch vs $nDocs-doc history)") {
        // batch = id%100 ∈ {4, 50}: the %100==4 docs sit inside the
        // generator's planted exact-dup blocks (ids n*100+0..4 share a
        // seed), so their 4 block-mates are HISTORY — expected
        // dup_history with n_hist_dups=4; the %100==50 docs are unique —
        // expected new. History is never shuffled (batch buckets
        // broadcast).
        val m = pmod($"id", lit(100L))
        val out = graft.operators.Dedup.minhashIncremental(
          docs.filter(m === 4L || m === 50L), docs.filter(m =!= 4L && m =!= 50L),
          "id", "text")
        val st = out.groupBy($"status")
          .agg(count(lit(1)).as("n"), sum($"n_hist_dups").as("nh"))
          .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1)
        println(s"  status counts: " +
          st.map(r => s"${r._1}=${r._2}(nh=${r._3})").mkString(" "))
        val nBlocks = nDocs.toLong / 100L
        val hist = st.find(_._1 == "dup_history").map(r => (r._2, r._3))
        checkPlantedDups(hist, nBlocks, st.mkString(" "))
      }
      if (wants("bm25"))
      time(s"BM25 top-10 (100 queries x <=6 zipf-common terms over $nDocs docs)") {
        val qs = docs.filter($"id" < 100L)
          .select($"id".as("qid"),
            explode(slice(split($"text", " "), 1, 6)).as("term"))
          .distinct()
        val top = graft.operators.Bm25.topK(docs, "id", "text", qs, k = 10)
        val st = top.agg(count(lit(1)).as("rows"),
          countDistinct($"qid").as("qs")).collect()(0)
        println(s"  result rows: ${st.getLong(0)}; queries answered: ${st.getLong(1)}")
      }
      spark.stop(); return
    }

    // SCALE_ONLY_R12 — the round-12 production shapes, one case per JVM
    // (SCALE_R12_CASE=mhindex|bm25index|pipe):
    //   mhindex   — build the 98%-history MinHash index ONCE
    //               (writeMinhashIndex), then probe the 2% batch against
    //               it (the q154 shape): classification must recover the
    //               planted dups WITHOUT re-signaturing history. The
    //               number that matters is PROBE ≪ BUILD — the stateless
    //               r11 smoke paid ~BUILD on every batch.
    //   bm25index — build the BM25 serving index, answer the same
    //               zipf-common query batch against it at maxDf = ∞
    //               (checksum-equal to the batch shape) and at a
    //               stopword bound (the common-term cost drop).
    //   pipe      — the composed v4 pipeline alone (the oracle-gated
    //               q148 recipe) for the third-decade composition row.
    if (onlyR12) {
      val r12Case = sys.env.getOrElse("SCALE_R12_CASE", "")
      def wants(c: String) = r12Case.isEmpty || r12Case == c
      if (wants("mhindex")) {
        // 100M-decade case: drop the docs cache (the THIRD precedent —
        // local disk is the binding constraint; each side scans docs once
        // and regeneration is pure codegen)
        docs.unpersist(true)
        val m = pmod($"id", lit(100L))
        val history = docs.filter(m =!= 4L && m =!= 50L)
        val batch = docs.filter(m === 4L || m === 50L)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_mhidx_smoke").toString
        time(s"minhash index BUILD ($nDocs-doc corpus, 98% history)") {
          graft.operators.Dedup.writeMinhashIndex(history, "id", "text",
            "g_mhidx_smoke", s"$dir/idx", numBuckets = 64)
        }
        time(s"minhash index PROBE (2% batch vs the prebuilt index)") {
          val out = graft.operators.Dedup.minhashIncrementalAgainstIndex(
            batch, "g_mhidx_smoke", "id", "text")
          val st = out.groupBy($"status")
            .agg(count(lit(1)).as("n"), sum($"n_hist_dups").as("nh"))
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
            .sortBy(_._1)
          println(s"  status counts: " +
            st.map(r => s"${r._1}=${r._2}(nh=${r._3})").mkString(" "))
          val nBlocks = nDocs.toLong / 100L
          val hist = st.find(_._1 == "dup_history").map(r => (r._2, r._3))
          checkPlantedDups(hist, nBlocks, st.mkString(" "))
        }
      }
      if (wants("bm25index")) {
        val qs = docs.filter($"id" < 100L)
          .select($"id".as("qid"),
            explode(slice(split($"text", " "), 1, 6)).as("term"))
          .distinct().localCheckpoint(true)
        val dir = java.nio.file.Files
          .createTempDirectory("graft_bm25idx_smoke").toString
        time(s"bm25 index BUILD ($nDocs docs)") {
          graft.operators.Bm25.buildIndex(docs, "id", "text",
            "g_bm25_smoke", s"$dir/idx", nDirs = 64)
        }
        val batchSums = time(s"bm25 BATCH shape (100 zipf-common queries, $nDocs docs)") {
          graft.operators.Bm25.topK(docs, "id", "text", qs, k = 10)
            .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
              sum($"doc_id").as("dsum")).collect()(0)
        }
        val idxSums = time(s"bm25 INDEX shape (same queries, maxDf=inf)") {
          graft.operators.Bm25.topKAgainstIndex(qs, "g_bm25_smoke", k = 10)
            .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
              sum($"doc_id").as("dsum")).collect()(0)
        }
        assert(batchSums == idxSums,
          s"index ranking diverged from batch: $idxSums vs $batchSums")
        println(s"  checksums equal: $idxSums")
        time(s"bm25 INDEX shape, maxDf = ${nDocs / 100} (stopword bound)") {
          val top = graft.operators.Bm25.topKAgainstIndex(qs, "g_bm25_smoke",
            k = 10, maxDf = nDocs.toLong / 100L)
          println(s"  result rows with common terms pruned: ${top.count()}")
        }
        // SELECTIVE workload — the serving shape's actual win: rare
        // terms (w9000+, each ~0.003% of occurrences under the zipf
        // generator) hash into few tb directories, so the probe lists
        // and reads a sliver of the index while the batch shape must
        // re-tokenize the whole corpus regardless of the query
        val rareQs = spark.range(100L).select($"id".as("qid"),
            explode(array((0 until 6).map(j =>
              concat(lit("w"), (lit(9000L) + pmod($"id" * 6L + j, lit(1000L)))
                .cast("string"))): _*)).as("term"))
          .localCheckpoint(true)
        val rareIdx = time(s"bm25 INDEX shape, 100 RARE-term queries (dir-pruned probe)") {
          graft.operators.Bm25.topKAgainstIndex(rareQs, "g_bm25_smoke", k = 10)
            .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
              sum($"doc_id").as("dsum")).collect()(0)
        }
        val rareBatch = time(s"bm25 BATCH shape, same RARE-term queries") {
          graft.operators.Bm25.topK(docs, "id", "text", rareQs, k = 10)
            .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
              sum($"doc_id").as("dsum")).collect()(0)
        }
        assert(rareIdx == rareBatch,
          s"rare-term index ranking diverged: $rareIdx vs $rareBatch")
        println(s"  rare-term checksums equal: $rareIdx")
        // maintenance: compaction rewrite cost at scale + identical
        // ranking afterwards (the q161 contract)
        time(s"bm25 index COMPACTION ($nDocs-doc index)") {
          graft.operators.Bm25.compactIndex(spark, "g_bm25_smoke")
        }
        val rareCpt = time(s"bm25 INDEX shape, RARE-term queries post-compaction") {
          graft.operators.Bm25.topKAgainstIndex(rareQs, "g_bm25_smoke", k = 10)
            .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
              sum($"doc_id").as("dsum")).collect()(0)
        }
        assert(rareCpt == rareIdx,
          s"compaction changed the ranking: $rareCpt vs $rareIdx")
        println(s"  post-compaction checksums equal: $rareCpt")
      }
      if (wants("gatecheck")) {
        // cheap probe of the pipe case's FIRST stage alone: train the
        // hashed gate on the planted corpus and count keeps — a ~3-min
        // check that the synthetic gate separates at this scale, without
        // paying the full pipeline to find out it ran empty
        docs.unpersist(true)
        time(s"pipeline GATE check ($nDocs docs)") {
          val soiled = docs.withColumn("text",
            when(pmod($"id", lit(10L)) < 3,
              concat($"text", lit(" zorblat quixen vantor murle glipnok")))
              .otherwise(concat($"text",
                lit(" purewave brightmark steadyglow calmriver trueline"))))
          val w = graft.operators.QualityClassifier.trainHashed(
            soiled.filter(pmod($"id", lit(10L)) >= 3),
            soiled.filter(pmod($"id", lit(10L)) < 3), "id", "text")
          println(f"  bias ${w(0)}%.4f; |w|>0.01: ${w.count(math.abs(_) > 0.01)}; " +
            f"w sum ${w.sum}%.4f min ${w.min}%.4f max ${w.max}%.4f")
          val scored = graft.operators.QualityClassifier.scoreHashed(
            soiled, "id", "text", w)
          scored.filter($"id" < 2000L)
            .groupBy(pmod($"id", lit(10L)) < 3)
            .agg(min($"score_e6"), avg($"score_e6"), max($"score_e6"))
            .collect().foreach(r => println(s"  slice soiled=${r.get(0)}: " +
              s"min/avg/max score_e6 = ${r.get(1)}/${r.get(2)}/${r.get(3)}"))
          val kept = scored.filter($"keep").count()
          println(s"  gate kept $kept of $nDocs " +
            f"(clean fraction is ${0.7 * nDocs.toDouble}%.0f)")
          require(kept > 0, s"gate kept 0 of $nDocs — degenerate corpus")
        }
      }
      if (wants("pipe")) {
        // the q148/v4 recipe verbatim (vocab-plant -> hashed gate -> BPE
        // -> budget select -> substring dedup -> BPE pack) at nDocs —
        // the composition row for the third decade
        docs.unpersist(true)
        time(s"composed v4 pipeline ($nDocs docs, third-decade composition)") {
          // Both classes carry a 5-token planted anchor of EQUAL mass.
          // With soil-only planting the gate is degenerate: soiled docs
          // score on their 9 fixed grams (5 unigrams + 4 bigrams), but a
          // clean doc's grams are mostly outside the 2000-doc training
          // sample, so its score collapses to sigmoid(bias) — and the
          // bias SIGN flips with the sampled vocabulary at different
          // scales (measured: 69.7% kept at 10M, 0.0% at 100M — the
          // whole pipeline ran on an empty frame and died on the budget
          // scalar; a single clean-side anchor token, 1/33 of a doc's
          // gram mass, was still too weak to outvote the bias).
          val soiled = docs.withColumn("text",
            when(pmod($"id", lit(10L)) < 3,
              concat($"text", lit(" zorblat quixen vantor murle glipnok")))
              .otherwise(concat($"text",
                lit(" purewave brightmark steadyglow calmriver trueline"))))
          val scored = graft.operators.QualityClassifier.trainAndScoreHashed(
            soiled, soiled.filter(pmod($"id", lit(10L)) >= 3),
            soiled.filter(pmod($"id", lit(10L)) < 3), "id", "text")
          val gated = soiled
            .join(scored.filter($"keep").select($"id"), "id")
            .localCheckpoint(true)
          val nGated = gated.count()
          require(nGated > 0,
            s"gate kept 0 of $nDocs docs — degenerate smoke corpus, " +
              "every downstream stage would run (and silently pass) empty")
          val (merges, vocab) = graft.operators.Bpe.trainWithVocab(
            gated, "id", "text", numMerges = 200)
          val bpeCount = graft.operators.Bpe.tokenCountCol(merges)
          val toksArr = split(trim($"text"), "\\s+")
          val cand = gated.select($"id",
              size(array_distinct(toksArr)).cast("long").as("nd"),
              size(toksArr).cast("long").as("nt"),
              bpeCount($"text").cast("long").as("w"))
            .withColumn("score_e6", expr("(nd * 1000000) div nt"))
            .select($"id", $"score_e6", $"w")
          val budget = cand.agg(expr("sum(w) div 2")).head().getLong(0)
          val sel = graft.operators.Budget.selectByBudget(
            cand, "id", "score_e6", "w", budget)
          val chosen = gated.join(sel.filter($"selected").select($"id"), "id")
          // numDocsHint (round 12): nGated bounds the winner count — the
          // hint spares a full count() of the two-join lineage
          val cleaned = graft.operators.SubstringDedup
            .dedupText(chosen, "id", "text", k = 8, numDocsHint = nGated)
            .filter(length($"cleaned") > 0)
          val packed = graft.operators.Bpe.packByBpeWithIds(
            cleaned.select($"doc_id", $"cleaned"), "doc_id", "cleaned",
            merges, vocab, ctxLen = 2048, nShards = 64)
          val st = packed.agg(
            sum(size($"ids")).as("ids"),
            countDistinct($"shard", $"pack").as("packs")).collect()(0)
          println(s"  hashed gate kept $nGated of $nDocs; budget $budget BPE " +
            s"tokens; packed ${st.getLong(0)} ids into ${st.getLong(1)} packs")
        }
      }
      spark.stop(); return
    }

    // SCALE_ONLY_R13 — the round-13 maintenance shapes
    // (SCALE_R13_CASE=mhcompact|ivfcompact):
    //   mhcompact  — the layout-decay story the MinHash compaction
    //                exists for: build the index on 90% of the corpus,
    //                grow it with EIGHT 1% ingest batches (one file-set
    //                per bucket per append), measure a fixed batch's
    //                probe before vs after compactMinhashIndex, with
    //                file counts — classification must be byte-equal.
    //   ivfcompact — same story for the IVF index over synthetic
    //                vectors: build 80%, append 10 × 2% batches, probe
    //                1000 queries before vs after compactIvfIndex; then
    //                ivfCellStats + rebuildIvfIndex timings.
    if (sys.env.contains("SCALE_ONLY_R13")) {
      val r13Case = sys.env.getOrElse("SCALE_R13_CASE", "")
      def wants(c: String) = r13Case.isEmpty || r13Case == c
      def partFiles(table: String): Int = {
        val loc = graft.sources.Generations.location(spark, table)
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(p, true)
        var n = 0
        while (it.hasNext) { if (it.next().getPath.getName.startsWith("part-")) n += 1 }
        n
      }
      if (wants("mhcompact")) {
        docs.unpersist(true)
        val m = pmod($"id", lit(100L))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_mhcpt_smoke").toString
        time(s"minhash index BUILD (90% of $nDocs docs)") {
          Dedup.writeMinhashIndex(docs.filter(m >= 10L), "id", "text",
            "g_mhcpt_smoke", s"$dir/idx", numBuckets = 64)
        }
        time(s"8 ingest batches (1% of $nDocs each)") {
          (0L until 8L).foreach { b =>
            Dedup.ingestAgainstIndex(docs.filter(m === b), "g_mhcpt_smoke",
              "id", "text").count()
          }
        }
        println(s"  files: sigs=${partFiles("g_mhcpt_smoke_sigs")} " +
          s"buckets=${partFiles("g_mhcpt_smoke_buckets")} (64 buckets)")
        val probe = docs.filter(m === 8L)
        val pre = time(s"probe (1% batch) against the 9-generation index") {
          graft.operators.Dedup.minhashIncrementalAgainstIndex(
              probe, "g_mhcpt_smoke", "id", "text")
            .agg(count(lit(1)), sum($"n_hist_dups"),
              sum(pmod(xxhash64($"doc_id", $"status"), lit(1000000007L))))
            .collect()(0)
        }
        time(s"compactMinhashIndex ($nDocs-doc index)") {
          Dedup.compactMinhashIndex(spark, "g_mhcpt_smoke")
        }
        println(s"  files: sigs=${partFiles("g_mhcpt_smoke_sigs")} " +
          s"buckets=${partFiles("g_mhcpt_smoke_buckets")}")
        val post = time("probe (same batch) against the compacted index") {
          graft.operators.Dedup.minhashIncrementalAgainstIndex(
              probe, "g_mhcpt_smoke", "id", "text")
            .agg(count(lit(1)), sum($"n_hist_dups"),
              sum(pmod(xxhash64($"doc_id", $"status"), lit(1000000007L))))
            .collect()(0)
        }
        assert(pre == post, s"compaction changed classification: $pre vs $post")
        println(s"  checksums equal: $post")
      }
      if (wants("ivfcompact")) {
        docs.unpersist(true)
        // synthetic 16-dim vectors, hash-derived — 8 soft clusters
        def comp(i: Int) = (pmod(xxhash64($"id", lit(i)), lit(1000L))
          .cast("double") / 1000.0 +
          when(pmod($"id", lit(8L)) === (i % 8).toLong, 3.0).otherwise(0.0))
          .cast("float")
        val vecs = spark.range(nVecs.toLong)
          .select($"id", array((0 until 16).map(comp): _*).as("v"))
        val m = pmod($"id", lit(100L))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_ivfcpt_smoke").toString
        time(s"ivf index BUILD (80% of $nVecs vectors)") {
          Knn.writeIvfIndex(vecs.filter(m < 80L), "id", "v",
            "g_ivfcpt_smoke", s"$dir/idx", nCells = 64)
        }
        time(s"10 appends (2% of $nVecs each)") {
          (0L until 10L).foreach { b =>
            Knn.appendToIvfIndex(vecs.filter(m === 80L + 2L * b || m === 81L + 2L * b),
              "id", "v", "g_ivfcpt_smoke")
          }
        }
        println(s"  files: cells=${partFiles("g_ivfcpt_smoke_cells")} (64 cells)")
        val queries = vecs.filter($"id" < 1000L).localCheckpoint(true)
        val pre = time("probe (1000 queries) against the 11-generation index") {
          Knn.ivfTopKAgainstIndex(queries, "g_ivfcpt_smoke", "id", "v", k = 10)
            .agg(count(lit(1)), sum($"nid"),
              sum(round($"score" * 1e6))).collect()(0)
        }
        time(s"compactIvfIndex ($nVecs-vector index)") {
          Knn.compactIvfIndex(spark, "g_ivfcpt_smoke")
        }
        println(s"  files: cells=${partFiles("g_ivfcpt_smoke_cells")}")
        val post = time("probe (same queries) against the compacted index") {
          Knn.ivfTopKAgainstIndex(queries, "g_ivfcpt_smoke", "id", "v", k = 10)
            .agg(count(lit(1)), sum($"nid"),
              sum(round($"score" * 1e6))).collect()(0)
        }
        assert(pre == post, s"compaction changed the ranking: $pre vs $post")
        println(s"  checksums equal: $post")
        val stats = Knn.ivfCellStats(spark, "g_ivfcpt_smoke")
          .agg(max($"occupancy_ratio"), min($"occupancy_ratio")).collect()(0)
        println(f"  cell occupancy max/min ratio: ${stats.getDouble(0)}%.2f/" +
          f"${stats.getDouble(1)}%.2f")
        time(s"rebuildIvfIndex ($nVecs vectors, retrain + swap)") {
          Knn.rebuildIvfIndex(spark, "g_ivfcpt_smoke", nCells = 64)
        }
        val post2 = time("probe (same queries) against the rebuilt index") {
          Knn.ivfTopKAgainstIndex(queries, "g_ivfcpt_smoke", "id", "v", k = 10)
            .agg(count(lit(1))).collect()(0)
        }
        println(s"  probe rows after rebuild: ${post2.getLong(0)}")
      }
      spark.stop(); return
    }

    // SCALE_ONLY_R14 — the WAND/semi-join gating sweep (run at nDocs =
    // 1M / 10M / 100M): the r13 gating constants
    // (pruneMinPostings = 2M matching postings, semiJoinMinPrunable =
    // 50M prunable postings, 75% essential coverage) were hand-tuned
    // from two decades on one host; this case BRACKETS the crossovers
    // by timing the same probes with each path forced — (a) straight
    // exact scan, (b) WAND floor+bound only, (c) WAND + candidate
    // semi-join forced — plus (d) the shipped defaults, whose gating
    // log line states which path it chose and why. Checksum equality
    // across all four pins losslessness at every decade; the timings
    // say whether the default chose the fastest path.
    if (sys.env.contains("SCALE_ONLY_R14")) {
      // surface the per-probe gating log line (which path ran and why);
      // the object's slf4j logger is named with the Scala object suffix
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "graft.operators.Bm25$", org.apache.logging.log4j.Level.INFO)
      // the r12 bm25index workload verbatim, for decade-to-decade
      // comparability: 100 zipf-common queries of 6 leading tokens
      val common = docs.filter($"id" < 100L)
        .select($"id".as("qid"),
          explode(slice(split($"text", " "), 1, 6)).as("term"))
        .distinct().localCheckpoint(true)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_bm25gates_smoke").toString
      time(s"bm25 index BUILD ($nDocs docs)") {
        graft.operators.Bm25.buildIndex(docs, "id", "text",
          "g_bm25g_smoke", s"$dir/idx", nDirs = 64)
      }
      docs.unpersist(true)
      // the rare-term regime: the 300 LOWEST-df vocabulary terms (the
      // zipf generator's floor df grows with the decade, so an absolute
      // df band selects nothing at 1M+) — the regime where the floor
      // passes are pure overhead and the gate must choose the straight
      // scan
      val rare = spark.table("g_bm25g_smoke_dfs")
        .orderBy($"df".asc, $"term").limit(300)
        .select(pmod(xxhash64($"term"), lit(100L)).as("qid"), $"term")
        .localCheckpoint(true)
      // SCALE_R14_CASE=common|rare subsets the workloads (the 100M
      // decade's common-side probes cost minutes each; the rare side —
      // the decision the r14 max-df gate changed — is cheap after the
      // build and can run alone)
      val r14Case = sys.env.getOrElse("SCALE_R14_CASE", "")
      val workloads = Seq("zipf-common" -> common, "rare" -> rare)
        .filter { case (n, _) => r14Case.isEmpty || n.contains(r14Case) }
      for ((wname, qs) <- workloads) {
        // each path runs TWICE and reports both (first = cold page
        // cache, second = steady): within-JVM ordering otherwise hands
        // the last path everyone else's warmed file cache and the
        // bracket lies
        def probe(tag: String, prune: Boolean, minPost: Long, minMaxDf: Long,
            minPrun: Long) = {
          def one(i: Int) = time(s"bm25 probe [$wname/$tag#$i] ($nDocs docs)") {
            graft.operators.Bm25.topKAgainstIndex(qs, "g_bm25g_smoke",
                k = 10, prune = prune, pruneMinPostings = minPost,
                pruneMinMaxDf = minMaxDf, semiJoinMinPrunable = minPrun)
              .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
                sum($"doc_id").as("dsum")).collect()(0)
          }
          one(1); one(2)
        }
        val exact = probe("a:exact-forced", prune = false, 0L, 0L, 0L)
        val wand = probe("b:wand-forced", prune = true, 0L, 0L, Long.MaxValue)
        val semi = probe("c:wand+semijoin-forced", prune = true, 0L, 0L, 0L)
        val dflt = probe("d:shipped-defaults", prune = true,
          2000000L, 1000000L, 50000000L)
        assert(Seq(wand, semi, dflt).forall(_ == exact),
          s"gating paths disagree on [$wname]: $exact / $wand / $semi / $dflt")
        println(s"  [$wname] checksums equal across all four paths: $exact")
      }
      spark.stop(); return
    }

    // SCALE_ONLY_R14B — the tombstone-delete lifecycle at nDocs: the
    // scale claim behind q170 is that a takedown batch costs BATCH
    // time, probes pay only a broadcast anti-join, and the fold rides
    // the compaction rewrite. Measures: (1) deleteFromIndex of a 1%
    // takedown batch against a full index; (2) the same zipf-common
    // probe before the delete, after it (tombstones live — the
    // anti-join's marginal cost), and after compactIndex folds them;
    // (3) the fold itself. Checks: no tombstoned doc in any post-delete
    // result; post-delete == post-fold checksums (ranking invariance —
    // the frozen-statistics semantics at scale); surviving checksum
    // differs from pre-delete (the delete DID change results).
    // SCALE_R14B_CASE=bm25|mh|ivf subsets the families (empty = all)
    if (sys.env.contains("SCALE_ONLY_R14B")) {
      val r14bCase = sys.env.getOrElse("SCALE_R14B_CASE", "")
      def wants(c: String) = r14bCase.isEmpty || r14bCase == c
      org.apache.logging.log4j.core.config.Configurator.setLevel(
        "graft.sources.Tombstones$", org.apache.logging.log4j.Level.INFO)
      if (wants("mh")) {
        // MinHash delete at nDocs: the planted dup blocks are ids with
        // id%100 < 5 sharing a seed per hundred (identical text), so
        // probing the %100==3 slice against a history of everything
        // else gives every probe doc exactly 4 history twins
        // (%100 ∈ {0,1,2,4}) — tombstoning the {0,1} twins must drop
        // n_hist_dups 4 → 2 across the whole batch
        val m = pmod($"id", lit(100L))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_mhdel_smoke").toString
        time(s"minhash index BUILD (99% of $nDocs docs)") {
          Dedup.writeMinhashIndex(docs.filter(m =!= 3L), "id", "text",
            "g_mhdel_smoke", s"$dir/idx", numBuckets = 64)
        }
        val probe = docs.filter(m === 3L)
        def cls(tag: String) = {
          def one(i: Int) = time(s"minhash probe [$tag#$i] (1% batch)") {
            graft.operators.Dedup.minhashIncrementalAgainstIndex(
                probe, "g_mhdel_smoke", "id", "text")
              .agg(count(lit(1)), sum($"n_hist_dups"),
                sum(pmod(xxhash64($"doc_id", $"status"), lit(1000000007L))))
              .collect()(0)
          }
          one(1); one(2)
        }
        val pre = cls("a:pre-delete")
        println(s"  pre-delete: $pre")
        assert(pre.getLong(1) > 0L,
          s"workload bug: the probe batch found no history dups: $pre")
        time(s"deleteFromMinhashIndex (2% of the history: the {0,1} twins)") {
          graft.operators.Dedup.deleteFromMinhashIndex(spark, "g_mhdel_smoke",
            docs.filter(m === 0L || m === 1L).select($"id"))
        }
        val post = cls("b:post-delete-anti-join")
        assert(post != pre, "the delete changed no classification?")
        time(s"compactMinhashIndex (fold)") {
          Dedup.compactMinhashIndex(spark, "g_mhdel_smoke")
        }
        val fold = cls("c:post-fold")
        assert(fold == post,
          s"the fold changed classification: $post vs $fold")
        println(s"  post-delete == post-fold checksums: $fold")
      }
      if (wants("ivf")) {
        docs.unpersist(true)
        def comp(i: Int) = (pmod(xxhash64($"id", lit(i)), lit(1000L))
          .cast("double") / 1000.0 +
          when(pmod($"id", lit(8L)) === (i % 8).toLong, 3.0).otherwise(0.0))
          .cast("float")
        val vecs = spark.range(nVecs.toLong)
          .select($"id", array((0 until 16).map(comp): _*).as("v"))
        val dir = java.nio.file.Files
          .createTempDirectory("graft_ivfdel_smoke").toString
        time(s"ivf index BUILD ($nVecs vectors)") {
          Knn.writeIvfIndex(vecs, "id", "v", "g_ivfdel_smoke", s"$dir/idx",
            nCells = 64)
        }
        val queries = vecs.filter($"id" < 1000L).localCheckpoint(true)
        def probe(tag: String) = {
          def one(i: Int) = time(s"ivf probe [$tag#$i] (1000 queries)") {
            Knn.ivfTopKAgainstIndex(queries, "g_ivfdel_smoke", "id", "v", k = 10)
              .agg(count(lit(1)), sum($"nid"),
                sum(when(pmod($"nid", lit(5L)) === 2L, 1L).otherwise(0L))
                  .as("doomed"))
              .collect()(0)
          }
          one(1); one(2)
        }
        val pre = probe("a:pre-delete")
        println(s"  pre-delete: $pre (doomed vecs in results: ${pre.getLong(2)})")
        time(s"deleteFromIvfIndex (20% of $nVecs vectors)") {
          Knn.deleteFromIvfIndex(spark, "g_ivfdel_smoke",
            vecs.filter(pmod($"id", lit(5L)) === 2L).select($"id"))
        }
        val post = probe("b:post-delete-anti-join")
        assert(post.getLong(2) == 0L,
          s"tombstoned vectors leaked into results: $post")
        time(s"compactIvfIndex (fold)") {
          Knn.compactIvfIndex(spark, "g_ivfdel_smoke")
        }
        val fold = probe("c:post-fold")
        assert(fold == post, s"the fold moved a ranking: $post vs $fold")
        println(s"  post-delete == post-fold checksums: $fold")
      }
      if (!wants("bm25")) { spark.stop(); return }
      val common = docs.filter($"id" < 100L)
        .select($"id".as("qid"),
          explode(slice(split($"text", " "), 1, 6)).as("term"))
        .distinct().localCheckpoint(true)
      val dir = java.nio.file.Files
        .createTempDirectory("graft_bm25del_smoke").toString
      time(s"bm25 index BUILD ($nDocs docs)") {
        graft.operators.Bm25.buildIndex(docs, "id", "text",
          "g_bm25d_smoke", s"$dir/idx", nDirs = 64)
      }
      docs.unpersist(true)
      val doomed = spark.range(nDocs.toLong)
        .filter(pmod($"id", lit(100L)) === 7L)
      def probe(tag: String) = {
        def one(i: Int) = time(s"bm25 probe [$tag#$i] ($nDocs docs)") {
          graft.operators.Bm25.topKAgainstIndex(common, "g_bm25d_smoke", k = 10)
            .agg(count(lit(1)).as("rows"), sum($"score_e4").as("ssum"),
              sum($"doc_id").as("dsum"),
              sum(when(pmod($"doc_id", lit(100L)) === 7L, 1L)
                .otherwise(0L)).as("doomed"))
            .collect()(0)
        }
        one(1); one(2)
      }
      val pre = probe("a:pre-delete")
      println(s"  pre-delete: $pre (doomed docs in results: ${pre.getLong(3)})")
      time(s"deleteFromIndex (1% of $nDocs docs)") {
        graft.operators.Bm25.deleteFromIndex(spark, "g_bm25d_smoke", doomed.toDF("id"))
      }
      val post = probe("b:post-delete-anti-join")
      assert(post.getLong(3) == 0L,
        s"tombstoned docs leaked into post-delete results: $post")
      assert(post != pre, "the delete changed nothing — doomed docs never ranked?")
      time(s"compactIndex (fold, $nDocs-doc index)") {
        graft.operators.Bm25.compactIndex(spark, "g_bm25d_smoke")
      }
      val fold = probe("c:post-fold")
      assert(fold == post,
        s"the fold moved a ranking (frozen-stats violation): $post vs $fold")
      println(s"  post-delete == post-fold checksums: $fold")
      spark.stop(); return
    }

    // SCALE_ONLY_CONC — multi-writer maintenance at nDocs: two RACING
    // appends (disjoint 1%-batches with planted marker terms) against a
    // full BM25 index, with a probe thread hammering the live name the
    // whole time. Checks: both writers succeed (family-lock
    // serialization — no lost batch, no CAS casualty in-JVM); the
    // post-race index holds EVERY marker doc from BOTH batches and
    // bounds N == nDocs + both batches (the df/N merges composed);
    // probes during the race never throw (stale reads are legal,
    // failures are not). Cost report: racing-pair wall vs the sum of
    // the same two appends run back-to-back — the lock's serialization
    // price (expect ≈ sequential sum; the lock trades concurrency for
    // correctness, appends to ONE index are maintenance, not serving).
    if (sys.env.contains("SCALE_ONLY_CONC")) {
      val dir = java.nio.file.Files
        .createTempDirectory("graft_conc_smoke").toString
      time(s"bm25 index BUILD ($nDocs docs)") {
        graft.operators.Bm25.buildIndex(docs, "id", "text",
          "g_conc_smoke", s"$dir/idx", nDirs = 64)
      }
      docs.unpersist(true)
      val batchN = math.max(1000L, nDocs.toLong / 100L)
      def batch(tag: String, base: Long) = spark.range(batchN)
        .select(($"id" + base).as("id"),
          concat(lit(s"zz$tag marker payload row "), $"id").as("text"))
      val b1 = batch("batchone", 1000000000L).localCheckpoint(true)
      val b2 = batch("batchtwo", 2000000000L).localCheckpoint(true)
      // sequential reference pair on a throwaway clone of the index
      // would double disk; instead measure the pair ONCE sequentially
      // on this index (order: b1 then b2) after timing the racing pair
      // on fresh batches is impossible — so race FIRST with b1/b2,
      // then append two more disjoint batches back-to-back for the
      // sequential reference. Same sizes, same shapes.
      val probeQ = Seq((1L, "zzbatchone"), (2L, "zzbatchtwo"), (3L, "marker"))
        .toDF("qid", "term")
      @volatile var probeErr: Option[Throwable] = None
      @volatile var stop = false
      val prober = new Thread(() => {
        while (!stop && probeErr.isEmpty) {
          try graft.operators.Bm25.topKAgainstIndex(probeQ,
              "g_conc_smoke", k = 5).count()
          catch { case e: Throwable => probeErr = Some(e) }
        }
      })
      prober.start()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      time(s"two RACING appends ($batchN docs each) + live probes") {
        val ts = Seq(b1, b2).map { b =>
          val t = new Thread(() => {
            try graft.operators.Bm25.appendToIndex(b, "id", "text", "g_conc_smoke")
            catch { case e: Throwable => errs.add(e) }
          })
          t.start(); t
        }
        ts.foreach(_.join())
      }
      stop = true; prober.join()
      require(errs.isEmpty, s"racing appends failed: $errs")
      require(probeErr.isEmpty, s"a probe failed during the race: $probeErr")
      val b3 = batch("batchthree", 3000000000L).localCheckpoint(true)
      val b4 = batch("batchfour", 4000000000L).localCheckpoint(true)
      time(s"two SEQUENTIAL appends ($batchN docs each, the lock-cost baseline)") {
        graft.operators.Bm25.appendToIndex(b3, "id", "text", "g_conc_smoke")
        graft.operators.Bm25.appendToIndex(b4, "id", "text", "g_conc_smoke")
      }
      // every marker doc from every batch must be present and scored
      val got = graft.operators.Bm25.topKAgainstIndex(
          Seq((1L, "zzbatchone"), (2L, "zzbatchtwo"), (3L, "zzbatchthree"),
            (4L, "zzbatchfour")).toDF("qid", "term"),
          "g_conc_smoke", k = (batchN + 10L).toInt)
        .groupBy($"qid").agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      require((1L to 4L).forall(q => got.getOrElse(q, 0L) == batchN),
        s"a batch lost docs (lost-update): per-term counts $got, want $batchN each")
      val bounds = spark.table("g_conc_smoke_bounds").collect()(0)
      require(bounds.getLong(0) == nDocs.toLong + 4L * batchN,
        s"bounds N=${bounds.getLong(0)} != ${nDocs.toLong + 4L * batchN} — a df/N merge was lost")
      println(s"  all four batches fully merged; bounds N=${bounds.getLong(0)}; " +
        s"history=${graft.sources.Snapshots.history(spark, "g_conc_smoke")
          .select("op").collect().map(_.getString(0)).mkString(",")}")
      // time-travel cost at this decade: delete a slice (a revertible
      // commit), then compare the LIVE probe against the AsOf.Commits(1)
      // probe of the SAME queries — the rollback read must cost the
      // live probe plus a metadata constant, never an index rescan
      graft.operators.Bm25.deleteFromIndex(spark, "g_conc_smoke",
        spark.range(batchN)
          .select(($"id" + 1000000000L).as("id"))
          .filter(pmod($"id", lit(7L)) === 3L))
      def ttProbe(tag: String, asOf: graft.sources.AsOf) = {
        def one(i: Int) = time(s"probe [$tag#$i] ($asOf)") {
          graft.operators.Bm25.topKAgainstIndex(probeQ, "g_conc_smoke",
              k = 10, asOf = asOf)
            .agg(count(lit(1)), sum($"doc_id"), sum($"score_e4")).collect()(0)
        }
        one(1); one(2)
      }
      val live = ttProbe("live", graft.sources.AsOf.Live)
      val back = ttProbe("time-travel", graft.sources.AsOf.Commits(1))
      require(live != back,
        "the delete must separate the live and asOf=1 probe results")
      println(s"  live=$live asOf1=$back")
      spark.stop(); return
    }

    // SCALE_ONLY_SQ8 — the SQ8 serving-economics claim at nVecs: the
    // quantized cell table must be ~8× smaller on disk than the float64
    // cells, the SQ8 probe must be at-or-below the float probe's time
    // on the same pruned cells, and the approximation must be priced:
    // overlap@10 between the SQ8 and float top-10 over 1000 queries.
    // (Bytes compare parquet-compressed sizes — the honest serving
    // number; the raw in-memory ratio is exactly 8.)
    if (sys.env.contains("SCALE_ONLY_SQ8")) {
      docs.unpersist(true)
      val dims = sys.env.getOrElse("SCALE_SQ8_DIMS", "16").toInt
      def comp(i: Int) = (pmod(xxhash64($"id", lit(i)), lit(1000L))
        .cast("double") / 1000.0 +
        when(pmod($"id", lit(8L)) === (i % 8).toLong, 3.0).otherwise(0.0))
        .cast("float")
      println(s"[scale] sq8 dims=$dims")
      val vecs = spark.range(nVecs.toLong)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_sq8_smoke").toString
      time(s"ivf index BUILD ($nVecs vectors)") {
        Knn.writeIvfIndex(vecs, "id", "v", "g_sq8_smoke", s"$dir/idx",
          nCells = 64)
      }
      time(s"quantizeIvfIndex ($nVecs vectors)") {
        Knn.quantizeIvfIndex(spark, "g_sq8_smoke")
      }
      def dirBytes(table: String): Long = {
        val loc = graft.sources.Generations.location(spark, table)
        val p = new org.apache.hadoop.fs.Path(loc)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val it = fs.listFiles(p, true)
        var b = 0L
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.startsWith("part-")) b += f.getLen
        }
        b
      }
      val fB = dirBytes("g_sq8_smoke_cells")
      val qB = dirBytes("g_sq8_smoke_cells_q8")
      println(f"  bytes: cells=$fB%d cells_q8=$qB%d ratio=${fB.toDouble / qB}%.1fx")
      val queries = vecs.filter($"id" < 1000L).localCheckpoint(true)
      def run(tag: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
        def one(i: Int) = time(s"$tag probe #$i (1000 queries, k=10)") {
          f.agg(count(lit(1)), sum($"nid")).collect()(0)
        }
        one(1); println(s"  $tag steady: ${one(2)}")
      }
      run("float") {
        Knn.ivfTopKAgainstIndex(queries, "g_sq8_smoke", "id", "v", k = 10)
      }
      run("sq8") {
        Knn.ivfTopKAgainstIndexSq8(queries, "g_sq8_smoke", "id", "v", k = 10)
      }
      val overlap = time("overlap@10 (sq8 ∩ float per query)") {
        val f = Knn.ivfTopKAgainstIndex(queries, "g_sq8_smoke", "id", "v",
          k = 10).select($"qid", $"nid")
        val q = Knn.ivfTopKAgainstIndexSq8(queries, "g_sq8_smoke", "id", "v",
          k = 10).select($"qid", $"nid")
        q.join(f, Seq("qid", "nid"), "left_semi")
          .agg(count(lit(1))).collect()(0).getLong(0)
      }
      println(f"  overlap@10: $overlap%d / 10000 (${overlap / 100.0}%.1f%%)")
      // ----- maintenance economics under growth (r15 directive 7): the
      // streaming-append loop against the QUANTIZED index — each batch
      // grows BOTH replicas in one op (frozen params, clamped codes).
      // Claims measured: per-batch cost tracks the batch (never the
      // index), the two replicas stay row-identical (count + id-sum
      // checksums — the "SQ8 probe silently misses appended vectors"
      // failure mode), the disk ratio holds as the index grows, and the
      // full-scan (cold-read proxy) of the byte replica beats the
      // float64 one.
      val batchN = math.max(nVecs / 50, 1000)
      (1 to 5).foreach { i =>
        val b = spark.range(1000000000L + (i - 1).toLong * batchN,
            1000000000L + i.toLong * batchN)
          .select($"id", array((0 until dims).map(comp): _*).as("v"))
        time(s"appendToIvfIndex batch#$i ($batchN vectors, q8 replica " +
          "grows in-op)") {
          Knn.appendToIvfIndex(b, "id", "v", "g_sq8_smoke")
        }
      }
      val fB2 = dirBytes("g_sq8_smoke_cells")
      val qB2 = dirBytes("g_sq8_smoke_cells_q8")
      println(f"  bytes after +5 batches: cells=$fB2%d cells_q8=$qB2%d " +
        f"ratio=${fB2.toDouble / qB2}%.1fx (was ${fB.toDouble / qB}%.1fx)")
      val fSum = time("replica checksum: float cells (count, id-sum)") {
        spark.table("g_sq8_smoke_cells").agg(count(lit(1)), sum($"id"))
          .collect()(0)
      }
      val qSum = time("replica checksum: q8 cells (count, id-sum)") {
        spark.table("g_sq8_smoke_cells_q8").agg(count(lit(1)), sum($"id"))
          .collect()(0)
      }
      require(fSum == qSum,
        s"float and q8 replicas must stay row-identical: $fSum vs $qSum")
      println(s"  replicas row-identical after growth: $fSum")
      // cold-read proxy: full-corpus scan+decode of each replica (the
      // footprint win SQ8 buys when the working set exceeds cache)
      def fullScan(tag: String)(f: => org.apache.spark.sql.Row): Unit = {
        val r1 = time(s"full scan #1 [$tag]")(f)
        time(s"full scan #2 [$tag] (steady)")(f)
        println(s"  $tag full-scan row: $r1")
      }
      fullScan("float cells") {
        spark.table("g_sq8_smoke_cells")
          .agg(count(lit(1)), sum(aggregate($"v", lit(0.0), _ + _)))
          .collect()(0)
      }
      fullScan("q8 cells") {
        spark.table("g_sq8_smoke_cells_q8")
          .agg(count(lit(1)), sum(crc32($"codes"))).collect()(0)
      }
      // post-growth serving: the probe bands must hold on the grown index
      run("float (grown)") {
        Knn.ivfTopKAgainstIndex(queries, "g_sq8_smoke", "id", "v", k = 10)
      }
      run("sq8 (grown)") {
        Knn.ivfTopKAgainstIndexSq8(queries, "g_sq8_smoke", "id", "v", k = 10)
      }
      spark.stop(); return
    }

    // SCALE_ONLY_AUTOCOMPACT — the r15-directive-6 cadence claim at
    // nVecs: N in-place appends WITHOUT compaction degrade the probe
    // (more files per cell directory → more scan tasks, worse
    // locality — the r15 10M smoke measured ~3× the fresh band after 5
    // batches), and the SAME append loop with autoCompactAfter keeps
    // the grown probe in the fresh-index band, with zero manual
    // compaction calls. The cadence triggers off the snapshot log's
    // adds-since-base count (no FS walks).
    if (sys.env.contains("SCALE_ONLY_AUTOCOMPACT")) {
      docs.unpersist(true)
      val dims = sys.env.getOrElse("SCALE_AC_DIMS", "16").toInt
      def comp(i: Int) = (pmod(xxhash64($"id", lit(i)), lit(1000L))
        .cast("double") / 1000.0 +
        when(pmod($"id", lit(8L)) === (i % 8).toLong, 3.0).otherwise(0.0))
        .cast("float")
      val vecs = spark.range(nVecs.toLong)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_ac_smoke").toString
      val batchN = math.max(nVecs / 50, 1000)
      def batch(i: Int) = spark
        .range(1000000000L + (i - 1).toLong * batchN,
          1000000000L + i.toLong * batchN)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      def filesPerCell(table: String): (Int, Double) = {
        val loc = graft.sources.Generations.location(spark,
          graft.sources.Generations.current(spark, table))
        val root = new org.apache.hadoop.fs.Path(loc)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val counts = fs.listStatus(root)
          .filter(s => s.isDirectory && s.getPath.getName.startsWith("cell="))
          .map(d => fs.listStatus(d.getPath).count(f => f.isFile &&
            !f.getPath.getName.startsWith("_") &&
            !f.getPath.getName.startsWith(".")))
        (counts.max, counts.sum.toDouble / counts.length)
      }
      def loop(tag: String, tbl: String, after: Int): Unit = {
        time(s"[$tag] ivf index BUILD ($nVecs vectors)") {
          Knn.writeIvfIndex(vecs, "id", "v", tbl, s"$dir/$tag", nCells = 64)
        }
        (1 to 6).foreach { i =>
          time(s"[$tag] appendToIvfIndex batch#$i ($batchN vectors, " +
            s"autoCompactAfter=$after)") {
            Knn.appendToIvfIndex(batch(i), "id", "v", tbl,
              autoCompactAfter = after)
          }
        }
        val (mx, avg) = filesPerCell(s"${tbl}_cells")
        println(f"  [$tag] files/cell after 6 appends: max=$mx%d avg=$avg%.1f")
        val ops = graft.sources.Snapshots.history(spark, tbl)
          .select("op").collect().map(_.getString(0)).toSeq
        println(s"  [$tag] history: ${ops.reverse.mkString(" -> ")}")
        val queries = vecs.filter($"id" < 1000L).localCheckpoint(true)
        def one(i: Int) = time(s"[$tag] grown probe #$i (1000 queries, k=10)") {
          Knn.ivfTopKAgainstIndex(queries, tbl, "id", "v", k = 10)
            .agg(count(lit(1)), sum($"nid")).collect()(0)
        }
        one(1); println(s"  [$tag] steady: ${one(2)}")
      }
      loop("uncompacted", "g_ac_smoke_u", after = 0)
      loop("autocompact", "g_ac_smoke_a", after = 2)
      spark.stop(); return
    }

    // SCALE_ONLY_R17B — the incremental-read cost-shape claim at nVecs:
    // a consumer catching up on appended batches pays O(window rows)
    // IO and O(window) driver metadata, INDEPENDENT of index size —
    // measured as the incremental read of 6 append batches vs a full
    // scan of the whole cells member, same aggregate, plus the
    // correctness checks (exact batch ids, windowed subsets).
    if (sys.env.contains("SCALE_ONLY_R17B")) {
      docs.unpersist(true)
      val dims = sys.env.getOrElse("SCALE_R17_DIMS", "16").toInt
      def comp(i: Int) = (pmod(xxhash64($"id", lit(i)), lit(1000L))
        .cast("double") / 1000.0 +
        when(pmod($"id", lit(8L)) === (i % 8).toLong, 3.0).otherwise(0.0))
        .cast("float")
      val vecs = spark.range(nVecs.toLong)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_r17b_smoke").toString
      val batchN = math.max(nVecs / 50, 1000)
      def batch(i: Int) = spark
        .range(1000000000L + (i - 1).toLong * batchN,
          1000000000L + i.toLong * batchN)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      val tbl = "g_r17b_feed"
      time(s"ivf BUILD ($nVecs vectors)") {
        Knn.writeIvfIndex(vecs, "id", "v", tbl, s"$dir/idx", nCells = 64)
      }
      val buildId = graft.sources.Snapshots.commitIdFor(spark, tbl)
      var mid = buildId
      (1 to 6).foreach { i =>
        time(s"append batch#$i ($batchN vectors)") {
          Knn.appendToIvfIndex(batch(i), "id", "v", tbl)
        }
        if (i == 3) mid = graft.sources.Snapshots.commitIdFor(spark, tbl)
      }
      val head = graft.sources.Snapshots.commitIdFor(spark, tbl)
      def agg(df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)), sum($"id")).collect()(0)
      val incr = time(s"INCREMENTAL read (build, head]: 6 × $batchN rows") {
        agg(Knn.vectorsAddedBetween(spark, tbl, buildId, head))
      }
      val incrMid = time(s"INCREMENTAL read (batch3, head]: 3 × $batchN rows") {
        agg(Knn.vectorsAddedBetween(spark, tbl, mid, head))
      }
      val full = time(s"FULL member scan ($nVecs + ${6 * batchN} rows)") {
        agg(spark.table(s"${tbl}_cells").select($"id", $"v"))
      }
      println(s"  [r17b] incremental rows: ${incr.getLong(0)} " +
        s"(expect ${6 * batchN}); windowed: ${incrMid.getLong(0)} " +
        s"(expect ${3 * batchN}); full: ${full.getLong(0)}")
      assert(incr.getLong(0) == 6L * batchN)
      assert(incrMid.getLong(0) == 3L * batchN)
      assert(full.getLong(0) == nVecs + 6L * batchN)
      // id-sum equality pins EXACT batch membership, not just counts
      val expectSum = (1 to 6).map(i => agg(batch(i)).getLong(1)).sum
      assert(incr.getLong(1) == expectSum,
        "incremental read must return exactly the appended batches")
      spark.stop(); return
    }

    // SCALE_ONLY_R17 — the r17 self-healing-append claim at nVecs: the
    // pending sidecar + commit marker add only per-batch METADATA cost
    // (append wall time stays in the plain-batch band), both crash
    // halves recover to checksum equality with a never-crashed twin,
    // recovery wall time is move-replay-bounded (not index-scale), the
    // directory-vs-log invariant holds (unrecordedFiles empty), and
    // timestamp-addressed probes cost the same as live ones plus the
    // bounded log resolve.
    if (sys.env.contains("SCALE_ONLY_R17")) {
      docs.unpersist(true)
      val dims = sys.env.getOrElse("SCALE_R17_DIMS", "16").toInt
      def comp(i: Int) = (pmod(xxhash64($"id", lit(i)), lit(1000L))
        .cast("double") / 1000.0 +
        when(pmod($"id", lit(8L)) === (i % 8).toLong, 3.0).otherwise(0.0))
        .cast("float")
      val vecs = spark.range(nVecs.toLong)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_r17_smoke").toString
      val batchN = math.max(nVecs / 50, 1000)
      def batch(i: Int) = spark
        .range(1000000000L + (i - 1).toLong * batchN,
          1000000000L + i.toLong * batchN)
        .select($"id", array((0 until dims).map(comp): _*).as("v"))
      val queries = vecs.filter($"id" < 1000L).localCheckpoint(true)
      def checksum(tbl: String,
          asOf: graft.sources.AsOf = graft.sources.AsOf.Live)
          : org.apache.spark.sql.Row =
        Knn.ivfTopKAgainstIndex(queries, tbl, "id", "v", k = 10, asOf = asOf)
          .agg(count(lit(1)), sum($"nid")).collect()(0)
      // twin A: never crashes
      val tblA = "g_r17_clean"
      time(s"[clean] ivf BUILD ($nVecs vectors)") {
        Knn.writeIvfIndex(vecs, "id", "v", tblA, s"$dir/clean", nCells = 64)
      }
      (1 to 6).foreach { i =>
        time(s"[clean] append batch#$i ($batchN vectors, sidecar+marker)") {
          Knn.appendToIvfIndex(batch(i), "id", "v", tblA)
        }
      }
      // twin B: batch 3 dies past its commit marker (roll FORWARD),
      // batch 5 dies before it (roll BACK + re-run)
      val tblB = "g_r17_crash"
      Knn.writeIvfIndex(vecs, "id", "v", tblB, s"$dir/crash", nCells = 64)
      (1 to 6).foreach { i =>
        if (i == 3) {
          graft.sources.PendingAppend.testCrashPoint = "pending.afterMarker"
          val e = try {
            Knn.appendToIvfIndex(batch(i), "id", "v", tblB)
            sys.error("crash point did not fire")
          } catch { case e: RuntimeException => e }
          assert(e.getMessage.contains("simulated crash"), e.getMessage)
          time(s"[crash] recovery of batch#$i (roll FORWARD)") {
            Knn.recoverPendingAppend(spark, tblB)
          }
        } else if (i == 5) {
          graft.sources.PendingAppend.testCrashPoint = "pending.afterIntent"
          val e = try {
            Knn.appendToIvfIndex(batch(i), "id", "v", tblB)
            sys.error("crash point did not fire")
          } catch { case e: RuntimeException => e }
          assert(e.getMessage.contains("simulated crash"), e.getMessage)
          time(s"[crash] recovery of batch#$i (roll BACK)") {
            Knn.recoverPendingAppend(spark, tblB)
          }
          time(s"[crash] re-run of the rolled-back batch#$i") {
            Knn.appendToIvfIndex(batch(i), "id", "v", tblB)
          }
        } else Knn.appendToIvfIndex(batch(i), "id", "v", tblB)
      }
      val (a, b) = (checksum(tblA), checksum(tblB))
      println(s"  [r17] clean checksum: $a")
      println(s"  [r17] crash checksum: $b")
      assert(a == b, "both crash halves must recover to checksum equality")
      val unrec = graft.sources.Snapshots.unrecordedFiles(
        spark, tblB, s"${tblB}_cells")
      assert(unrec.isEmpty, s"directory ahead of the log: $unrec")
      println("  [r17] unrecordedFiles: empty (directory == log)")
      // timestamp-addressed probe vs live: same rows, resolve-bounded
      val nowTs = System.currentTimeMillis()
      def liveProbe(i: Int) = time(s"[r17] LIVE probe #$i (1000 q, k=10)") {
        checksum(tblB)
      }
      def tsProbe(i: Int) = time(s"[r17] AsOf.At probe #$i") {
        checksum(tblB, graft.sources.AsOf.At(nowTs))
      }
      liveProbe(1); val lv = liveProbe(2)
      tsProbe(1); val tv = tsProbe(2)
      assert(lv == tv, "a now-timestamp probe must equal the live read")
      spark.stop(); return
    }

    // SCALE_ONLY_THIRD — the third decade (run with nDocs = 100000000,
    // SPARK_DRIVER_MEM=100g): the two headline dedup operators at 100M
    // docs, then the Bloom decontamination CAP regime with PLANTED
    // ground truth — the conf clamp (4M items / 2^26 bits) is a
    // documented warning elsewhere; here the clamp-degraded FP rate is a
    // MEASURED number, at both a mild overrun (~7M-gram test split) and
    // full saturation (~70M grams).
    if (sys.env.contains("SCALE_ONLY_THIRD")) {
      // One case per JVM (SCALE_THIRD_CASE=minhash|substr|bloom): at 100M
      // docs each operator's shuffle footprint alone approaches the local
      // disk; running them in one process retains every stage's shuffle
      // files until the job ends (AQE reuse) and fills the disk — the
      // first combined attempt died on minhash with ~194 GB of temp.
      val thirdCase = sys.env.getOrElse("SCALE_THIRD_CASE", "all")
      // 100M-decade cases: drop the docs cache (each case scans docs at
      // most once, and regeneration from spark.range is pure codegen) —
      // the ~20 GB cached block store would otherwise evict the minhash
      // signature cache to disk on a heap that must stay under the host
      // RAM, and this sandbox's local disk is the binding constraint.
      docs.unpersist(true)
      if (thirdCase == "all" || thirdCase == "minhash")
      time(s"minhash dedup candidates ($nDocs docs)") {
        val pairs = Dedup.minhashCandidatePairs(docs, "id", "text", threshold = 0.9)
        println(s"  candidate dup pairs: ${pairs.count()}")
      }
      if (thirdCase == "all" || thirdCase == "substr")
      time(s"substring dedup ($nDocs docs, k=8)") {
        val out = graft.operators.SubstringDedup.dedupSpans(docs, "id", "text", k = 8)
        println(s"  docs losing tokens: ${out.filter($"dup_tokens" > 0).count()}")
      }
      if (thirdCase != "all" && thirdCase != "bloom") { spark.stop(); return }
      // Disjoint vocabularies ("t" test tokens vs "w" train tokens) make
      // the contamination truth exact by construction: every 100th train
      // doc appends the VERBATIM first 3-gram of test doc (id div 100)
      // mod nTest — so flagged = planted + false positives, and the FP
      // count is flagged − nDocs/100, not an estimate.
      def bloomCap(fracDen: Long): Unit = {
        val nTest = nDocs.toLong / fracDen
        def ttok(k: org.apache.spark.sql.Column, i: Int) =
          concat(lit("t"), pmod(xxhash64(k, lit(i)), lit(2000000L)))
        def wtok(i: Int) =
          concat(lit("w"), pmod(xxhash64($"id", lit(1000 + i)), lit(2000000L)))
        val test = spark.range(nTest).select($"id",
          concat_ws(" ", (0 until 16).map(i => ttok($"id", i)): _*).as("text"))
        val leakSrc = pmod(expr("id div 100"), lit(nTest))
        val train = spark.range(nDocs.toLong).select($"id",
          when(pmod($"id", lit(100L)) === 0,
            concat_ws(" ",
              (0 until 16).map(i => wtok(i)) ++ (0 until 3).map(i => ttok(leakSrc, i)): _*))
            .otherwise(concat_ws(" ", (0 until 16).map(i => wtok(i)): _*))
            .as("text"))
        val planted = nDocs.toLong / 100L
        time(s"bloom decontamination CAP regime ($nDocs train docs vs $nTest test docs, ~${nTest * 14L} grams vs 4M-item/2^26-bit clamp)") {
          val out = graft.operators.CorpusFilters.bloomDecontaminate(
            train, test, "id", "text", n = 3)
          val flagged = out.filter($"contaminated").count()
          val fp = flagged - planted
          println(f"  flagged: $flagged of $nDocs (planted leaks: $planted, " +
            f"false positives: $fp = ${fp.toDouble / (nDocs - planted) * 100}%.2f%% of clean docs)")
          // record the probe-path decision + the MEASURED plan size
          // (round 12): above 4 shards the bitsets ride ONE broadcast
          // instead of per-shard plan literals — the executed-plan string
          // drops from O(shards × bitset bytes) (~131 MB of literals at
          // 18 shards, the r11 ceiling) to kilobytes
          val nSh = graft.operators.CorpusFilters.bloomShardCount(
            nTest * 14L, 15, 1L << 27,
            graft.operators.CorpusFilters.bloomConfMaxItems(spark),
            graft.operators.CorpusFilters.bloomConfMaxBits(spark), 64)
          val planChars = out.queryExecution.executedPlan.toString.length
          println(s"  ~${nTest * 14L} gram occurrences -> $nSh shards; probe " +
            s"path: ${if (nSh > 4) "ONE broadcast (ShardedBloomProbe)"
              else "plan literals (CASE chain)"}; executed-plan string: " +
            s"$planChars chars")
        }
      }
      bloomCap(200L) // ~0.5% test split: ~7M grams, mild clamp overrun
      bloomCap(20L)  // 5% test split: ~70M grams, full register saturation
      spark.stop(); return
    }

    if (!sys.env.contains("SCALE_ONLY_SIMJOIN") && !skipGeneral) {
    time(s"minhash dedup candidates ($nDocs docs)") {
      val pairs = Dedup.minhashCandidatePairs(docs, "id", "text", threshold = 0.9)
      println(s"  candidate dup pairs: ${pairs.count()}")
    }
    time(s"fuzzy clusters ($nDocs docs)") {
      val clusters = Dedup.fuzzyClusters(docs, "id", "text", threshold = 0.9)
      val nonSingleton = clusters.filter($"cluster_id" =!= $"id").count()
      println(s"  rows re-labelled into clusters: $nonSingleton")
    }
    time(s"simhash candidates ($nDocs docs)") {
      println(s"  pairs: ${Dedup.simhashCandidatePairs(docs, "id", "text", 3).count()}")
    }
    }

    // --- similarity join: 100k left vs 100k right over the same vocab
    val simN = math.min(nDocs / 10, 100000)
    val left = docs.limit(simN).select($"id".as("lid"), $"text".as("ltext"))
    val right = docs.limit(simN).select($"id".as("rid"), $"text".as("rtext"))
    if (!sys.env.contains("SCALE_SKIP_SIMJOIN") && !skipGeneral)
    time(s"threshold similarity join ($simN x $simN, tau=0.5, prefix-filtered)") {
      val top = SimilarityJoin.thresholdJoin(
        left, "lid", "ltext", right, "rid", "rtext", k = 1, minScore = 0.5,
        maxDf = sys.env.getOrElse("SCALE_MAXDF", "1000").toDouble)
      println(s"  matched rows: ${top.count()}")
    }
    if (sys.env.contains("SCALE_EXACT_JOIN")) // quadratic baseline, opt-in
      time(s"generic similarity join ($simN x $simN)") {
        val top = SimilarityJoin.topKAgainst(left, "lid", "ltext", right, "rid", "rtext",
          k = 1, maxDf = Double.PositiveInfinity)
        println(s"  matched rows: ${top.count()}")
      }

    if (!sys.env.contains("SCALE_ONLY_SIMJOIN")) {
    if (!skipGeneral) {
    time(s"probe n-gram jaccard ($nDocs docs, 50 probes)") {
      val top = graft.operators.Dedup.ngramJaccardProbe(docs, "id", "text", 2, 50L)
        .orderBy(desc("jaccard"), $"id_a", $"id_b").limit(20)
      println(s"  top pairs: ${top.count()}")
    }
    time(s"deterministic split ($nDocs docs)") {
      val counts = graft.operators.Sampling.deterministicSplit(
          docs, "id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .groupBy($"split").count().collect()
      println(s"  ${counts.map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")}")
    }
    time(s"gopher rule battery ($nDocs docs)") {
      val kept = graft.operators.CorpusFilters.gopherRules(docs, "id", "text")
        .filter($"keep").count()
      println(s"  kept: $kept")
    }
    time(s"chunk dedup ($nDocs docs, 10-token chunks)") {
      val out = graft.operators.CorpusFilters.chunkDedup(docs, "id", "text", 10)
      val lossy = out.filter($"n_kept" < $"n_chunks").count()
      println(s"  docs losing chunks: $lossy")
    }
    time(s"chunk dedup VIRAL SKEW ($nDocs docs, one chunk planted in 20%)") {
      // the boilerplate case that kills a window-over-chunk plan: every
      // fifth doc starts with the same 10-token chunk, so one chunk key
      // holds 20% of all chunk rows. The min(struct) aggregate must
      // collapse it map-side — wall time should stay ~the uniform case.
      val viral = docs.withColumn("text",
        when(pmod($"id", lit(5L)) === 0,
          concat_ws(" ", (Seq.fill(10)(lit("viralboilerplate")) :+ $"text"): _*))
          .otherwise($"text"))
      val out = graft.operators.CorpusFilters.chunkDedup(viral, "id", "text", 10)
      val lossy = out.filter($"n_kept" < $"n_chunks").count()
      println(s"  docs losing chunks: $lossy")
    }
    } // !skipGeneral
    if (!onlyPipeline && !onlyDsir) {
    time(s"substring dedup ($nDocs docs, k=8)") {
      val out = graft.operators.SubstringDedup.dedupSpans(docs, "id", "text", k = 8)
      println(s"  docs losing tokens: ${out.filter($"dup_tokens" > 0).count()}")
    }
    time(s"substring dedup VIRAL SKEW ($nDocs docs, one 8-gram planted in 20%)") {
      // the boilerplate-header case the operator exists for: one gram key
      // holds 20% of all posting rows. The dup-gram count must collapse
      // map-side, and the hits join must not straggle on the hot key.
      val viral = docs.withColumn("text",
        when(pmod($"id", lit(5L)) === 0,
          concat_ws(" ", (Seq.tabulate(8)(i => lit(s"boiler$i")) :+ $"text"): _*))
          .otherwise($"text"))
      val out = graft.operators.SubstringDedup.dedupSpans(viral, "id", "text", k = 8)
      val hit = out.filter($"dup_tokens" >= 8).count()
      println(s"  docs losing >=8 tokens: $hit (expect >= ${nDocs / 5})")
    }
    time(s"held-out bigram LM (${nDocs * 4L / 5} train docs score ${nDocs / 5}, zipf vocab)") {
      // the CCNet deployment shape at scale: LEFT probe joins against the
      // train-split counts + the score-side 1-row V broadcast; same hot
      // head-word profile as self-training plus the backoff rows.
      val out = graft.operators.NgramLM.bigramNllHeldOut(
        docs.filter(pmod($"id", lit(5L)) < 4), docs.filter(pmod($"id", lit(5L)) === 4),
        "id", "text")
      val n = out.filter($"oov_bigrams" > 0).count()
      println(s"  scored docs with backoff terms: $n")
    }
    time(s"bigram LM scoring ($nDocs docs, zipf vocab)") {
      // zipf head word = a hot c_uni join key on the scoring side; the
      // count tables themselves combine map-side.
      val out = graft.operators.NgramLM.bigramNll(docs, "id", "text")
      val n = out.filter($"n_bigrams" > 0).count()
      println(s"  scored docs: $n")
    }
    time(s"ccnet perplexity terciles ($nDocs docs, zipf vocab)") {
      // the q138 composition at scale: LM scoring -> integer ppl ->
      // range-partitioned positional tercile cutoffs -> map-side bucket.
      val scored = graft.operators.NgramLM.bigramNll(docs, "id", "text")
        .filter($"n_bigrams" > 0)
        .withColumn("ppl_e4", expr("nll_e4 div n_bigrams"))
        .withColumn("g", lit(1))
        .localCheckpoint(true) // feeds cutoffs AND buckets — score once
      val cuts = graft.operators.Quantiles.exactPositional(
        scored, "g", "ppl_e4", Seq("c1" -> (1.0 / 3), "c2" -> (2.0 / 3)))
      val Array(c1, c2) = cuts.select($"c1", $"c2").collect()(0)
        .toSeq.map(_.asInstanceOf[Long]).toArray
      val buckets = scored.groupBy(
          when($"ppl_e4" <= c1, "head").when($"ppl_e4" <= c2, "middle")
            .otherwise("tail").as("bucket"))
        .count().collect().map(r => s"${r.getString(0)}=${r.getLong(1)}")
      println(s"  ${buckets.sorted.mkString(" ")}")
    }
    time(s"incremental dedup ($nDocs docs: odd batch vs even history)") {
      val out = Dedup.incremental(
        docs.filter(pmod($"id", lit(2L)) === 1), docs.filter(pmod($"id", lit(2L)) === 0),
        "id", "text")
      val byStatus = out.groupBy($"status").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(s"  $byStatus")
    }
    } // !onlyPipeline
    if (!skipGeneral) {
    time(s"exact positional quantiles (${nDocs * 10L} rows, 5 segments, one HOT=60%)") {
      // the plan the q68 rewrite exists for: a naive window-per-segment
      // sorts 60% of all rows on ONE task; the range-partitioned rank +
      // offset arithmetic must spread it over every shuffle partition.
      val rows = spark.range(nDocs * 10L)
        .withColumn("seg",
          when(pmod($"id", lit(10L)) < 6, lit("HOT"))
            .otherwise(concat(lit("s"), pmod($"id", lit(4L)))))
        .withColumn("v", xxhash64($"id"))
      val q = graft.operators.Quantiles.exactPositional(
        rows, "seg", "v", Seq("p50" -> 0.5, "p99" -> 0.99))
      q.collect().foreach(r => println(s"  $r"))
    }
    time(s"as-of join (${nDocs * 5L} events vs ${nDocs / 2} quotes, 1k keys, one HOT=50%)") {
      // hot key: half of both sides lands on key 0 — the union+window
      // as-of plan must still finish on one key-shuffle without a
      // straggler dominating (per-key work is the sorted merge itself).
      def keyed(n: Long, idCol: String) = spark.range(n)
        .withColumn("key",
          when(pmod($"id", lit(2L)) === 0, lit(0L)).otherwise(pmod($"id", lit(1000L))))
        .withColumn("ts", timestamp_micros($"id" * 37L + 1000000L))
        .withColumnRenamed("id", idCol)
      val trades = keyed(nDocs * 5L, "trade_id")
      val quotes = keyed(nDocs / 2L, "quote_id")
        .withColumn("px", (pmod(xxhash64($"quote_id"), lit(100000L)) / 100.0))
      val joined = graft.operators.AsOfJoin.asOf(
        trades, quotes, "key", "ts", Seq("px"))
      println(s"  matched: ${joined.filter($"asof_px".isNotNull).count()}")
    }
    time(s"salted join (${nDocs * 10L} rows, one key = 50%, dim 1k)") {
      // plain hash join would send 5M rows of key 0 to one task; the salt
      // spreads them over nSalt tasks with the dim replicated nSalt ways.
      val facts = spark.range(nDocs * 10L)
        .withColumn("k",
          when(pmod($"id", lit(2L)) === 0, lit(0L)).otherwise(pmod($"id", lit(1000L))))
      val dim = spark.range(1000).select($"id".as("dk"), ($"id" * 3).as("w"))
      val j = graft.operators.Skew.saltedJoin(
        facts, dim, "k", "dk", distributeBy = col("id"), nSalt = 32)
      println(s"  joined rows: ${j.count()}")
    }
    time(s"contamination scan ($nDocs docs, 3-grams)") {
      val out = graft.operators.CorpusFilters.contamination(
        docs, "id", "text", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05), n = 3)
      println(s"  contaminated test docs: ${out.filter($"contaminated").count()} of ${out.count()}")
    }
    } // !skipGeneral
    if (onlyDsir || !skipGeneral && !sys.env.contains("SCALE_ONLY_SIMJOIN"))
    time(s"DSIR importance resample ($nDocs raw docs, 5% target, 8192 buckets)") {
      // zipf head grams all hash somewhere: the hottest bucket absorbs the
      // most common unigram corpus-wide, which is exactly the map-side-
      // combine shape (partial counts collapse to <=1 row/partition before
      // the bucket exchange, same argument as q133's dup-gram count)
      val target = docs.filter(pmod($"id", lit(20L)) === 0)
      val top = graft.operators.Dsir.resampleTopK(docs, target, "id", "text", k = 1000)
      println(s"  selected: ${top.count()} (want 1000)")
    }
    if (onlyDsir || !skipGeneral && !sys.env.contains("SCALE_ONLY_SIMJOIN"))
    time(s"quality classifier (2×2000-doc seed samples train driver-side, score $nDocs docs)") {
      // training cost is bounded by the seed sample regardless of corpus
      // size; the corpus pass is one map-side codegen projection. Odd docs
      // get digit/punct soup appended so the two classes are separable and
      // the kept count verifies the learned boundary at scale.
      val soup = docs.filter(pmod($"id", lit(2L)) === 1)
        .withColumn("text", concat($"text", lit(" 77 !! 99 ### 11 $$ 22 %% 33 4242")))
      val clean = docs.filter(pmod($"id", lit(2L)) === 0)
      val out = graft.operators.QualityClassifier.trainAndScore(
        clean.union(soup), clean, soup, "id", "text")
      val kept = out.filter($"keep").count()
      println(s"  kept: $kept of $nDocs (expect ~${nDocs / 2})")
    }
    if (onlyHqc || onlyDsir ||
        !skipGeneral && !sys.env.contains("SCALE_ONLY_SIMJOIN"))
    time(s"hashed quality classifier (D=4096 hashed bigrams, score $nDocs docs)") {
      // q144's shape: the same bounded-seed/driver-GD cost split as the
      // 5-feature classifier, but the scoring pass folds each doc's gram
      // stream against a 4096-weight plan literal — still one shuffle-free
      // map pass. Classes differ by an appended VOCABULARY marker (no
      // shape difference), which only the hashed model can separate.
      val odd = docs.filter(pmod($"id", lit(2L)) === 1)
        .withColumn("text", concat($"text", lit(" zorblat quixen vantor murle")))
      val even = docs.filter(pmod($"id", lit(2L)) === 0)
      val out = graft.operators.QualityClassifier.trainAndScoreHashed(
        even.union(odd), even, odd, "id", "text")
      val kept = out.filter($"keep").count()
      println(s"  kept: $kept of $nDocs (expect ~${nDocs / 2})")
    }
    if (onlyDsir || !skipGeneral && !sys.env.contains("SCALE_ONLY_SIMJOIN"))
    time(s"bloom decontamination ($nDocs docs: 90% train probed map-side vs 5% test bloom)") {
      // the shuffle-free alternative to the contamination equi-join: the
      // test side collapses to one <=1MB bitset, the train gram stream
      // never leaves its partitions
      val labeled = graft.operators.Sampling.deterministicSplit(
        docs, "id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      val out = graft.operators.CorpusFilters.bloomDecontaminate(
        labeled.filter($"split" === "train"), labeled.filter($"split" === "test"),
        "id", "text", n = 3)
      println(s"  flagged: ${out.filter($"contaminated").count()} of ${out.count()} train docs")
    }
    if (!sys.env.contains("SCALE_SKIP_PIPELINE") && !onlyNewOps && !onlyDsir && !onlyHqc)
    time(s"corpus pipeline e2e ($nDocs docs: gopher metrics -> chunk dedup -> split -> pack)") {
      // the composed training-data path, end to end at 1M docs: rule
      // metrics gate, cross-doc chunk dedup (rebuilt text), deterministic
      // split, then context packing of the train split. (The gopher
      // min-length gate would drop the whole 16-token synthetic corpus,
      // so the gate here keeps the repetition/alpha rules only.)
      val metrics = graft.operators.CorpusFilters.gopherRules(docs, "id", "text")
      val kept = docs.join(
        metrics.filter($"dup_2grams" * 5 < $"n_2grams" &&
          $"n_alpha_words" * 10L >= $"n_words" * 8L).select($"id"), "id")
      val deduped = graft.operators.CorpusFilters.chunkDedup(kept, "id", "text", 10)
        .filter($"n_kept" > 0)
        .withColumn("n_tokens", ($"n_kept" * 10L).cast("bigint"))
      val split = graft.operators.Sampling.deterministicSplit(
        deduped, "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      val packed = graft.operators.Packing.greedyPack(
        split.filter($"split" === "train"), "doc_id", "n_tokens",
        ctxLen = 2048, nShards = 64)
      val nPacks = packed.select($"shard", $"pack").distinct().count()
      println(s"  kept ${kept.count()} of $nDocs; train packs: $nPacks")
    }
    if (!sys.env.contains("SCALE_SKIP_PIPELINE") && !onlyNewOps && !onlyDsir && !onlyHqc)
    time(s"corpus pipeline e2e v2 ($nDocs docs: gopher -> substring dedup -> chunk dedup -> LM gate -> split -> pack)") {
      // The full modern training-data recipe in ONE lineage, with the
      // round-7 operators composed in: rule metrics gate, corpus-wide
      // substring-span removal (cleaned TEXT, not the md5 — the pipeline
      // consumes it), cross-doc chunk dedup of the cleaned text, bigram-LM
      // perplexity gate at the corpus p90 (exactPositional quantile of
      // avg-nll — quantiles composed over the LM output, both de-skewed
      // operators), deterministic split, context packing of train.
      val metrics = graft.operators.CorpusFilters.gopherRules(docs, "id", "text")
      val kept = docs.join(
        metrics.filter($"dup_2grams" * 5 < $"n_2grams" &&
          $"n_alpha_words" * 10L >= $"n_words" * 8L).select($"id"), "id")
      // stage materialization (round-9 lesson): `cleaned` feeds the LM,
      // the gate join and the downstream dedup — without the lineage cuts
      // the gopher+substring stages re-evaluate per consumer (measured
      // 229.8 s for the whole recipe; ~60 s with the cuts)
      val cleaned = graft.operators.SubstringDedup
        .dedupText(kept, "id", "text", k = 8)
        .filter(length($"cleaned") > 0)
        .localCheckpoint(true)
      val lm = graft.operators.NgramLM.bigramNll(cleaned, "doc_id", "cleaned")
        .filter($"n_bigrams" > 0)
        .withColumn("avg_nll_e4", ($"nll_e4" / $"n_bigrams").cast("long"))
        .withColumn("seg", lit("all"))
        .localCheckpoint(true)
      val p90 = graft.operators.Quantiles.exactPositional(
          lm, "seg", "avg_nll_e4", Seq("p90" -> 0.9))
        .select("p90").head().getLong(0)
      val gated = cleaned.join(
        lm.filter($"avg_nll_e4" <= p90).select($"doc_id"), "doc_id")
      val deduped = graft.operators.CorpusFilters
        .chunkDedup(gated.select($"doc_id".as("id"), $"cleaned".as("text")),
          "id", "text", 10)
        .filter($"n_kept" > 0)
        .withColumn("n_tokens", ($"n_kept" * 10L).cast("bigint"))
      val split = graft.operators.Sampling.deterministicSplit(
        deduped, "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      val packed = graft.operators.Packing.greedyPack(
        split.filter($"split" === "train"), "doc_id", "n_tokens",
        ctxLen = 2048, nShards = 64)
      val nPacks = packed.select($"shard", $"pack").distinct().count()
      println(s"  survived LM gate (p90 avg_nll_e4=$p90): ${gated.count()}; train packs: $nPacks")
    }
    if (!sys.env.contains("SCALE_SKIP_PIPELINE") && !onlyNewOps && !onlyDsir && !onlyHqc)
    time(s"corpus pipeline e2e v3 ($nDocs docs: soup-plant -> quality-classifier gate -> DSIR p50-cutoff select -> substring dedup -> split -> pack)") {
      // The round-9 selection operators composed into the recipe: 30% of
      // docs get digit/punct soup planted; the seed-trained classifier
      // (bounded driver-side LR) gates them out; DSIR then importance-
      // resamples half of the survivors toward a clean target sample;
      // the selected docs flow through substring dedup → split → pack.
      val soiled = docs.withColumn("text",
        when(pmod($"id", lit(10L)) < 3,
          concat($"text", lit(" 77 !! 99 ### 11 $$ 22 %% 33 4242")))
          .otherwise($"text"))
      val scored = graft.operators.QualityClassifier.trainAndScore(
        soiled, soiled.filter(pmod($"id", lit(10L)) >= 3),
        soiled.filter(pmod($"id", lit(10L)) < 3), "id", "text")
      // survivors feed BOTH the DSIR stage (two gram scans + gate join)
      // — stage the gate output once (round-9 staging lesson)
      val gatedQ = soiled
        .join(scored.filter($"keep").select($"id"), "id")
        .localCheckpoint(true)
      val nGated = gatedQ.count()
      val target = gatedQ.filter(pmod($"id", lit(20L)) === 0)
      // CORPUS-SCALE selection: resampleTopK's top-k merge is for bounded
      // k (q139's 100), so selecting half the corpus goes through the
      // scalable shape instead — map-side Gumbel keys + a range-
      // partitioned positional-quantile cutoff, nothing on one task.
      // keys feeds both the cutoff aggregate and the filter: staged once.
      val keys = graft.operators.Dsir.importanceKeys(gatedQ, target, "id", "text")
        .withColumn("seg", lit("all"))
        .localCheckpoint(true)
      val cutoff = graft.operators.Quantiles.exactPositional(
          keys, "seg", "key_e4", Seq("p50" -> 0.5))
        .select("p50").head().getLong(0)
      val selected = keys.filter($"key_e4" >= cutoff)
      val chosen = gatedQ.join(selected.select($"id"), "id")
      val cleaned = graft.operators.SubstringDedup
        .dedupText(chosen, "id", "text", k = 8)
        .filter(length($"cleaned") > 0)
        .withColumn("n_tokens",
          size(split(trim($"cleaned"), "\\s+")).cast("bigint"))
      val split3 = graft.operators.Sampling.deterministicSplit(
        cleaned, "doc_id", Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
      val packed = graft.operators.Packing.greedyPack(
        split3.filter($"split" === "train"), "doc_id", "n_tokens",
        ctxLen = 2048, nShards = 64)
      val nPacks = packed.select($"shard", $"pack").distinct().count()
      println(s"  quality gate kept $nGated of $nDocs (expect ~${nDocs * 7L / 10}); " +
        s"DSIR p50-cutoff selected ${selected.count()}; train packs: $nPacks")
    }
    val v4Out = time(s"corpus pipeline e2e v4 ($nDocs docs: vocab-plant -> hashed-classifier gate -> BPE counts -> token-budget select -> substring dedup -> BPE pack)") {
      // The round-10 operators composed end to end: 30% of docs carry a
      // junk VOCABULARY marker with no shape signal — only the hashed
      // q144 model can gate it; survivors get corpus-trained BPE token
      // counts; the q145 budget selector keeps the best docs (distinct-
      // token-ratio score) until half the surviving BPE tokens are
      // spent; the winners flow through substring dedup into BPE-sized
      // packs (token-aware contexts, the q142 point).
      val soiled = docs.withColumn("text",
        when(pmod($"id", lit(10L)) < 3,
          concat($"text", lit(" zorblat quixen vantor murle glipnok")))
          .otherwise($"text"))
      val scored = graft.operators.QualityClassifier.trainAndScoreHashed(
        soiled, soiled.filter(pmod($"id", lit(10L)) >= 3),
        soiled.filter(pmod($"id", lit(10L)) < 3), "id", "text")
      val gated = soiled
        .join(scored.filter($"keep").select($"id"), "id")
        .localCheckpoint(true) // feeds BPE train, budget scoring AND the winner join
      val nGated = gated.count()
      val (merges, vocab) = graft.operators.Bpe.trainWithVocab(
        gated, "id", "text", numMerges = 200)
      val bpeCount = graft.operators.Bpe.tokenCountCol(merges)
      val toksArr = split(trim($"text"), "\\s+")
      val cand = gated.select($"id",
          size(array_distinct(toksArr)).cast("long").as("nd"),
          size(toksArr).cast("long").as("nt"),
          bpeCount($"text").cast("long").as("w"))
        .withColumn("score_e6", expr("(nd * 1000000) div nt"))
        .select($"id", $"score_e6", $"w")
      val budget = cand.agg(expr("sum(w) div 2")).head().getLong(0)
      val sel = graft.operators.Budget.selectByBudget(
        cand, "id", "score_e6", "w", budget)
      val chosen = gated.join(sel.filter($"selected").select($"id"), "id")
      val cleaned = graft.operators.SubstringDedup
        .dedupText(chosen, "id", "text", k = 8)
        .filter(length($"cleaned") > 0)
      val packed = graft.operators.Bpe.packByBpe(
        cleaned, "doc_id", "cleaned", merges, ctxLen = 2048, nShards = 64)
      val stats = packed.agg(
        sum($"n_tokens_bpe").as("toks"),
        countDistinct($"shard", $"pack").as("packs")).collect()(0)
      println(s"  hashed gate kept $nGated of $nDocs (expect ~${nDocs * 7L / 10}); " +
        s"budget $budget BPE tokens; packed ${stats.getLong(0)} tokens into " +
        s"${stats.getLong(1)} packs")
      // cleaned winners staged once for the v5 id-array step below
      (cleaned.localCheckpoint(true), merges, vocab)
    }
    time(s"corpus pipeline e2e v5 ($nDocs docs: v4 winners packed WITH id arrays + 32/24 chunk digests)") {
      // round 11: the same winners, but emitting what a pretraining/RAG
      // pipeline actually writes — packs carrying array<int> token ids
      // (one encode pass; count IS size(ids)) and per-doc window digests
      val (cleaned, merges, vocab) = v4Out
      val packedIds = graft.operators.Bpe.packByBpeWithIds(
        cleaned.select($"doc_id", $"cleaned"), "doc_id", "cleaned",
        merges, vocab, ctxLen = 2048, nShards = 64)
      val digests = graft.operators.Chunker.strideChunkDigest(
        packedIds.select($"doc_id", $"ids"), "doc_id", "ids", 32, 24)
      val st = packedIds.agg(
        sum(size($"ids")).as("ids"),
        countDistinct($"shard", $"pack").as("packs")).collect()(0)
      val dg = digests.agg(sum($"n_chunks")).collect()(0)
      println(s"  packed ${st.getLong(0)} ids into ${st.getLong(1)} packs; " +
        s"chunk windows: ${dg.getLong(0)}")
    }
    if (!onlyDsir) {
    time(s"z-order clustered write (${nDocs * 10L} rows, 2 dims, 64 files)") {
      // 10M (user, time) rows → 64 Morton-clustered files; then measure
      // the data-skipping payoff: how many files a 1/16 time slice
      // touches (a user-sorted layout would touch all of them)
      val rows = spark.range(nDocs * 10L)
        .select($"id".as("event_id"),
          pmod(xxhash64($"id"), lit(100000L)).as("user_id"),
          ($"id" * 37L + 1000000L).as("us"))
      val dir = java.nio.file.Files.createTempDirectory("graft_scale_z").toString
      graft.sources.ZOrder.writeZOrdered(rows, dir, Seq("user_id", "us"), numFiles = 64)
      val boxes = spark.read.parquet(dir)
        .groupBy(input_file_name()).agg(min($"us").as("tlo"), max($"us").as("thi"))
        .collect()
      val span = rows.agg(max($"us") - min($"us")).head().getLong(0)
      val lo = 1000000L + span / 2; val hi = lo + span / 16
      val hit = boxes.count(r => r.getAs[Long]("tlo") <= hi && r.getAs[Long]("thi") >= lo)
      println(s"  1/16 time slice touches $hit of ${boxes.length} files")
    }
    time(s"per-domain cap ($nDocs docs, 32 skewed domains, k=100)") {
      // domain ∝ id mod 32 but domain 0 holds half the corpus — the skew
      // case the WindowGroupLimit rank filter must survive
      val domained = docs.withColumn("dom",
        when(pmod($"id", lit(2L)) === 0, lit("d0"))
          .otherwise(concat(lit("d"), pmod($"id", lit(32L)))))
      val capped = graft.operators.Sampling.capPerGroup(domained, "dom", "id", k = 100)
      println(s"  rows kept: ${capped.count()}")
    }
    }
    }

    // --- embeddings: hash-derived 64-dim vectors
    if (!onlyDsir) {
    val vecs = spark.range(nVecs.toLong)
      .withColumn("embedding", transform(sequence(lit(0), lit(63)),
        i => (pmod(xxhash64($"id", i), lit(2000L)) - 1000.0) / 1000.0))
      .select($"id".as("vec_id"), $"embedding")
    vecs.cache(); vecs.count()
    val queries = vecs.filter($"vec_id" < 100)
    time(s"knn LSH ($nVecs vectors, 100 queries, bits=10 tables=8)") {
      println(s"  results: ${Knn.lshTopK(vecs, queries, "vec_id", "embedding", 5, tables = 8, bits = 10).count()}")
    }
    time(s"knn IVF ($nVecs vectors, 100 queries, 64 cells probe 8)") {
      println(s"  results: ${Knn.ivfTopK(vecs, queries, "vec_id", "embedding", 5, nCells = 64, nProbe = 8, iterations = 3).count()}")
    }
    // planted identical-vector triplets (cosine 1.0) on top of the random
    // cloud: clustering must find exactly these and nothing else
    val planted = vecs.limit(1000)
      .select(explode(array(lit(0L), lit(10000000L), lit(20000000L))).as("off"), $"vec_id", $"embedding")
      .select(($"vec_id" + $"off").as("vec_id"), $"embedding")
      .unionByName(vecs.filter($"vec_id" >= 1000))
    time(s"embedding near-dup clusters ($nVecs+2k vectors, adaptive tables+bits)") {
      val cl = Knn.nearDupClusters(planted, "vec_id", "embedding", minCosine = 0.999)
      println(s"  rows clustered to a smaller id: ${cl.filter($"cluster_id" =!= $"vec_id").count()} (expect 2000)")
    }
    time(s"SemDeDup ($nVecs+2k vectors, 512 cells, cos>=0.999)") {
      // same planted triplets; identical members always share a nearest
      // centroid, so within-cell pruning must dedup exactly 2 of each 3.
      // Σ|cell|² pair work ≈ n²/512 — nCells is the scale lever (paper
      // runs 50k cells at web scale).
      val out = Knn.semDedup(planted, "vec_id", "embedding",
        minCosine = 0.999, nCells = 512, iterations = 3)
      println(s"  members deduped away: ${out.filter(!$"keep").count()} (expect 2000)")
    }
    } // !onlyDsir (vector cases)
    spark.stop()
  }
}
