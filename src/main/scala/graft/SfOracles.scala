package graft

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.TitleStandardizer
import graft.text.{EnglishStemmer, Tokenize}

/** SF-scale DuckDB oracles for the rows-only query families whose
  * straight-line JVM derivation is exact and cheap at the verification
  * scale factors — the [[StdOracle]] pattern extended to: q35 (MinHash+LSH
  * fuzzy dedup), q36 (SimHash fingerprints), q37 (LSH-pruned n-gram
  * Jaccard top-20), q38 (random-hyperplane LSH kNN), q45 (text-UDF
  * battery), q50 (embedding near-dup clusters), and — since round 9 made
  * the generic similarity-join operators' float aggregations
  * order-deterministic (e9 fixed-point BIGINT sums) — q46/q49 via
  * [[SimJoinSfMirror]].
  *
  * These queries compute UDF/signature values DuckDB cannot reproduce, so
  * they were driver-checked rows-only through round 8, with function
  * semantics pinned by constructed-corpus golden twins (q121, q125, q126,
  * q129). This closes the remaining composition-at-SF-scale gap:
  * [[prepare]] re-derives the expected values through independent
  * straight-line JVM code from each operator's published contract (never
  * the Spark query under test — every candidate machine is deterministic:
  * murmur3 double-hashed MinHash, murmur3 sign-pattern hyperplanes with
  * count-adaptive bits, left-to-right IEEE dot products matching
  * `graft_dot`'s summation order) and the oracle SQL replays them as
  * VALUES tables (doc-keyed ones joined to the live `documents` parquet),
  * so the driver's DuckDB compare verifies the DISTRIBUTED plans on the
  * real corpus at every SF.
  *
  * Driver-side cost is bounded: q45's map is keyed by DISTINCT 40-char
  * title prefixes (476 at sf0.01, 4,756 at sf0.1); the pairwise mirrors
  * collect the (id, payload) corpus at the verification SF (≤5k rows ⇒
  * ≤12.5M early-exit pair probes) — oracle-side derivations, not
  * cluster-path collects.
  */
object SfOracles {

  /** JVM-computed expected row of q45 for one distinct title. */
  final case class TextRow(title: String, nStems: Int, stemsHash: Long,
                           tfidfCard: Int, weight: Double, firstStem: String)

  private final case class Prepared(
      sfDir: String,
      textRows: IndexedSeq[TextRow],           // q45
      fuzzyClusters: Seq[(Long, Long)],        // q35
      simhashes: Seq[(Long, Long)],            // q36
      jaccardTop: Seq[(Long, Long, Double)],   // q37
      lshTopK: Seq[(Long, Int, Long, Double)], // q38
      nearDupClusters: Seq[(Long, Long)],      // q50
      simGenTop: Seq[(String, Long)],          // q46: title → winning alias_id
      simThr: Seq[(String, Long)],             // q49: title → winning alias_id
      dsirTop: Seq[(Int, Long, Long, Long, Long)], // q139 selected rows
      ivfTopK: Seq[(Long, Int, Long, Double)],     // q42
      ivfAppendTopK: Seq[(Long, Int, Long, Double)], // q160: even-id-trained quantizer
      ivfTtTopK: Seq[(Long, Int, Long, Double)], // q181: build-time state (evens only)
      hybridIvfTopK: Seq[(Long, Int, Long, Double)], // q169: every-50th qids, k=10
      hybridFilIvfTopK: Seq[(Long, Int, Long, Double)], // q180: q169 + even-id candidates
      ivfDeleteTopK: Seq[(Long, Int, Long, Double)],   // q172: %5==2 ids tombstoned
      ivfFilteredTopK: Seq[(Long, Int, Long, Double)], // q173: even-id candidates only
      ivfRecall: Seq[(Long, Long)],                    // q175: hits@10 vs exact
      ivfSq8TopK: Seq[(Long, Int, Long, Double)],      // q178: SQ8-reconstructed rerank
      ivfSq8TtTopK: Seq[(Long, Int, Long, Double)],    // q183: SQ8 at the quantize-time state
      hybridTtIvfTopK: Seq[(Long, Int, Long, Double)], // q184: build-time IVF leg, every-50th qids, k=10
      hybridTtSq8TopK: Seq[(Long, Int, Long, Double)], // q185: quantize-time SQ8 leg, every-50th qids, k=10
      qualityRows: Seq[(Long, Long, Boolean)],     // q140
      bloomRows: Seq[(Long, Long, Long, Boolean)], // q141
      lcRows: Seq[(String, Long, Long)],           // q143
      bpeRows: Seq[(Long, Long, Long, Long)],      // q142
      bpeIdRows: Seq[(Long, Long, Long, String)],  // q147
      hashedQualityRows: Seq[(Long, Long, Long, Boolean)], // q144
      hashedEvalRow: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)], // q149
      pipelineV4Rows: Seq[(Long, Long, Long, Long, Long, Long, Long, Long)], // q148
      incFuzzyRows: Seq[(Long, String, Long)], // q153: doc_id, status, n_hist_dups
      incFuzzy2Rows: Seq[(Long, Int, String, Long)], // q157: doc_id, batch, status, n_hist_dups
      incFuzzyDelRows: Seq[(Long, String, Long)], // q171: history minus %4==0 tombstones
      incFuzzyTtRows: Seq[(Long, String, Long)]) // q182: %3==1 batch vs build-time %3==0 history

  @volatile private var prepared: Option[Prepared] = None

  /** Spark's `xxhash64(string)` evaluated locally through the same
    * Catalyst expression the distributed plan compiles — a straight-line
    * eval on a literal, not the query under test. */
  private[graft] def xxh64(s: String): Long =
    XxHash64(Seq(Literal(UTF8String.fromString(s), StringType)), 42L)
      .eval(InternalRow.empty).asInstanceOf[Long]

  /** Straight-line derivation of q45's five computed columns for one
    * title, through the SAME published building blocks the q52/q121
    * goldens pin (tokenize, Snowball stem, first-seen-vocab TF-IDF) —
    * shares no code with [[Queries.textUdfs]]'s DataFrame plan. */
  private[graft] def textRowFor(title: String): TextRow = {
    val tokens = Tokenize.tokenize(title)
    val stems = Tokenize.tokenizeAndStem(title)
    val idx = TitleStandardizer.index
    val (ti, tv) = idx.queryVector(stems)
    val inv = idx.idxToTerm
    val firstStem =
      if (tokens.isEmpty) null
      else EnglishStemmer.stem(Tokenize.asciiLower(tokens(0)))
    val raw =
      if (firstStem == null) 0.0
      else {
        var w = 0.0
        var k = 0
        while (k < ti.length) { if (inv(ti(k)) == firstStem) w = tv(k); k += 1 }
        w
      }
    // Spark round(double, 6): BigDecimal HALF_UP, same construction
    val w6 = BigDecimal(raw).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // q45's concat_ws separator is a literal U+0001 (an unambiguous joiner
    // — stems never contain control chars), NOT the empty string it
    // resembles in plan dumps.
    TextRow(title, stems.length, xxh64(stems.mkString("\u0001")), ti.length, w6, firstStem)
  }

  /** Spark `substring(text, 1, 40)` semantics (code-point exact). */
  private[graft] def title40(text: String): String =
    UTF8String.fromString(text).substringSQL(1, 40).toString

  // ------------------------------------------------- LSH vector mirrors

  /** The published random-hyperplane contract: deterministic component =
    * murmur3 of (table, bit, dim) scaled to [-1, 1). */
  private def planeComponent(table: Int, bit: Int, dim: Int): Double =
    MurmurHash3.productHash((table, bit, dim)).toDouble / Int.MaxValue.toDouble

  private def lshSignature(v: Array[Double], table: Int, bits: Int): Int = {
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

  /** Ascending-index dot product — the same left-to-right IEEE summation
    * order as the `graft_dot` expression, so scores are bit-identical. */
  private def dotAsc(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** q38 mirror: `Knn.lshTopK` contract (16 tables × 6 bits, bucket-union
    * candidates, exact cosine rerank, ties to lowest id). */
  private[graft] def lshTopKRows(
      vecs: IndexedSeq[(Long, Array[Double])], maxQid: Long, k: Int,
      tables: Int = 16, bits: Int = 6): Seq[(Long, Int, Long, Double)] = {
    val byId = vecs.toMap
    val norm = vecs.map { case (id, v) => id -> math.sqrt(dotAsc(v, v)) }.toMap
    val buckets = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    vecs.foreach { case (id, v) =>
      (0 until tables).foreach { t =>
        buckets.getOrElseUpdate((t, lshSignature(v, t, bits)),
          mutable.ArrayBuffer.empty[Long]) += id
      }
    }
    vecs.map(_._1).filter(_ < maxQid).sorted.flatMap { qid =>
      val qv = byId(qid)
      val cand = (0 until tables)
        .flatMap(t => buckets.getOrElse((t, lshSignature(qv, t, bits)), Nil))
        .distinct.filter(_ != qid)
      // Spark window ordering semantics (NaN largest, -0.0 = 0.0): a
      // zero-norm vector's NaN cosine ranks FIRST under desc
      cand.map(id => (id, dotAsc(qv, byId(id)) / (norm(qid) * norm(id))))
        .sorted(MirrorHash.scoreDescIdAsc)
        .take(k).zipWithIndex
        .map { case ((id, s), r) => (qid, r + 1, id, s) }
    }
  }

  /** q175 mirror: recall@k of the IVF index probe against the exact
    * brute-force top-k — the standard ANN quality metric, computed
    * entirely from the two published contracts: the IVF leg is
    * [[IvfMirror.recompute]] (deterministic quantizer, cell-pruned
    * candidates) and the exact leg is the all-pairs cosine top-k with
    * `graft_dot`'s left-to-right IEEE summation and Spark's
    * (score desc, id asc) window order — both bit-identical to the
    * Spark operators, so `hits` is an exact integer, not a float
    * tolerance. */
  private[graft] def ivfRecallRows(
      vecs: IndexedSeq[(Long, Array[Double])], maxQid: Long,
      k: Int): Seq[(Long, Long)] = {
    val norm = vecs.map { case (id, v) => id -> math.sqrt(dotAsc(v, v)) }.toMap
    val ivf: Map[Long, Set[Long]] = IvfMirror.recompute(vecs, maxQid = maxQid,
        k = k).groupBy(_._1).map { case (q, rs) => (q, rs.map(_._3).toSet) }
    vecs.map(_._1).filter(_ < maxQid).sorted.map { qid =>
      val qv = vecs.find(_._1 == qid).get._2
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, dotAsc(qv, v) / (norm(qid) * norm(id))) }
        .sorted(MirrorHash.scoreDescIdAsc)
        .take(k).map(_._1).toSet
      (qid, ivf.getOrElse(qid, Set.empty).intersect(exact).size.toLong)
    }
  }

  /** q50 mirror: `Knn.nearDupPairs`/`nearDupClusters` contract —
    * count-adaptive signature bits, threshold-adaptive table count, bucket
    * self-pair candidates, exact cosine ≥ τ edges, smallest-id
    * components. */
  private[graft] def nearDupClusterRows(
      vecs: IndexedSeq[(Long, Array[Double])],
      minCosine: Double): Seq[(Long, Long)] = {
    val n = vecs.size
    val nBits = math.min(20, math.max(10,
      math.ceil(math.log(math.max(n, 1).toDouble / 8.0) / math.log(2.0)).toInt))
    val theta = math.acos(math.min(1.0, math.max(-1.0, minCosine)))
    val p = math.pow(1.0 - theta / math.Pi, nBits)
    val t =
      if (p >= 1.0) 2
      else math.ceil(math.log(0.01) / math.log(1.0 - p)).toInt
    val nTables = math.min(32, math.max(2, t))

    val byId = vecs.toMap
    val norm = vecs.map { case (id, v) => id -> math.sqrt(dotAsc(v, v)) }.toMap
    val buckets = mutable.HashMap.empty[(Int, Int), mutable.ArrayBuffer[Long]]
    vecs.foreach { case (id, v) =>
      (0 until nTables).foreach { tb =>
        buckets.getOrElseUpdate((tb, lshSignature(v, tb, nBits)),
          mutable.ArrayBuffer.empty[Long]) += id
      }
    }
    val seen = mutable.HashSet.empty[(Long, Long)]
    val ids = vecs.map(_._1)
    val parent = mutable.Map(ids.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    buckets.valuesIterator.foreach { members =>
      val m = members.sorted
      var i = 0
      while (i < m.length) {
        var j = i + 1
        while (j < m.length) {
          val pair = (m(i), m(j))
          if (!seen(pair)) {
            seen += pair
            val score = dotAsc(byId(pair._1), byId(pair._2)) /
              (norm(pair._1) * norm(pair._2))
            // Spark SQL comparison semantics: NaN is larger than every
            // value, so a zero-norm pair's NaN cosine PASSES `>= τ` in
            // the distributed plan and must pass here too
            if (score >= minCosine || score.isNaN) {
              val (ri, rj) = (find(pair._1), find(pair._2))
              if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
            }
          }
          j += 1
        }
        i += 1
      }
    }
    ids.map(i => i -> find(i)).sortBy(_._1)
  }

  /** q37 mirror: `Dedup.ngramJaccardTopK` contract — MinHash candidates
    * (2-gram shingles, est ≥ 0.2) reranked by exact distinct-bigram
    * Jaccard, top 20 by (jaccard desc, id_a, id_b). */
  private[graft] def jaccardTopRows(
      docs: Seq[(Long, String)]): Seq[(Long, Long, Double)] = {
    val grams = docs.map { case (id, t) =>
      id -> DedupGolden.shinglesOf(t, 2).distinct }.toMap
    DedupGolden.estCandidatePairsFor(docs, shingleSize = 2, threshold = 0.2)
      .map { case (a, b, _) =>
        val ga = grams(a); val gb = grams(b)
        val inter = ga.toSet.intersect(gb.toSet).size
        (a, b, inter.toDouble / (ga.length + gb.length - inter))
      }
      .sortBy { case (a, b, j) => (-j, a, b) }
      .take(20)
  }

  /** Re-derive every oracle map for `sfDir`. Idempotent per sfDir. */
  def prepare(spark: SparkSession, sfDir: String): Unit = synchronized {
    if (!prepared.exists(_.sfDir == sfDir)) {
      val docs4 = Tables(spark, sfDir, "documents")
        .selectExpr("cast(doc_id as long) as doc_id", "text", "lang", "source")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3)))
        .sortBy(_._1).toIndexedSeq
      val docs3 = docs4.map(d => (d._1, d._2, d._3))
      val docs = docs4.map(d => (d._1, d._2))
      // the SAME float→double cast the operators apply in withVecAndNorm
      val vecs = Tables(spark, sfDir, "embeddings")
        .selectExpr("cast(vec_id as long) as vec_id",
          "transform(embedding, x -> cast(x as double)) as v")
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .sortBy(_._1).toIndexedSeq
      val distinctTitles = docs.map(d => title40(d._2)).distinct.sorted
      prepared = Some(Prepared(
        sfDir,
        textRows = distinctTitles.map(textRowFor).toIndexedSeq,
        fuzzyClusters = DedupGolden.recomputeFor(docs),
        simhashes = docs.map { case (id, t) =>
          (id, if (t == null) 0L else SimhashGolden.simhashOf(t)) },
        jaccardTop = jaccardTopRows(docs),
        lshTopK = lshTopKRows(vecs, maxQid = 10L, k = 5),
        nearDupClusters = nearDupClusterRows(vecs, minCosine = 0.95),
        simGenTop = distinctTitles.flatMap(t =>
          SimJoinSfMirror.topKAgainstWinner(t).map(t -> _)),
        simThr = distinctTitles.flatMap(t =>
          SimJoinSfMirror.thresholdWinner(t).map(t -> _)),
        dsirTop = DsirMirror.recompute(docs3),
        ivfTopK = IvfMirror.recompute(vecs),
        // q160: the append contract — the quantizer is trained on the
        // BUILD half (even vec_ids) only; assignment/scoring cover all
        ivfAppendTopK = IvfMirror.recompute(vecs, trainFilter = _ % 2 == 0),
        // q181: time travel across the append — the BUILD-TIME index:
        // quantizer trained on evens AND candidates evens only (the odd
        // vectors were appended later; the file manifest un-sees them)
        ivfTtTopK = IvfMirror.recompute(vecs, trainFilter = _ % 2 == 0,
          candidateFilter = _ % 2 == 0),
        // q169: the hybrid-retrieval IVF leg — the q158 index (full
        // corpus, default quantizer) probed by every 50th vector at
        // k=10, matching the BM25 leg's every-50th-document batch
        hybridIvfTopK = IvfMirror.recompute(vecs, k = 10,
          qidFilter = _ % 50 == 0),
        // q180: the FILTERED hybrid's IVF leg — q169's probe with
        // q173's metadata predicate (even-id candidates only)
        hybridFilIvfTopK = IvfMirror.recompute(vecs, k = 10,
          qidFilter = _ % 50 == 0, candidateFilter = _ % 2 == 0),
        // q172: tombstone deletes — the quantizer was trained on the full
        // corpus at build time; deleted ids leave the CANDIDATE set only
        ivfDeleteTopK = IvfMirror.recompute(vecs,
          candidateFilter = _ % 5 != 2),
        // q173: metadata-filtered search over an unmodified index —
        // even-id candidates only, same build-time quantizer
        ivfFilteredTopK = IvfMirror.recompute(vecs,
          candidateFilter = _ % 2 == 0),
        // q175: recall@10 of the q158 index probe vs the exact top-10
        ivfRecall = ivfRecallRows(vecs, maxQid = 10L, k = 10),
        // q178: the SQ8-quantized probe — same quantizer/cell pruning as
        // q158, candidates scored against byte-quantized reconstructions
        ivfSq8TopK = IvfMirror.recomputeSq8(vecs),
        // q183: SQ8 time travel across the append — the QUANTIZE-TIME
        // state: quantizer trained on evens, (codes, params) derived from
        // the even cells, candidates evens only (the odd vectors were
        // appended later; the commit's file manifest un-sees their codes)
        ivfSq8TtTopK = IvfMirror.recomputeSq8(vecs,
          trainFilter = _ % 2 == 0, paramFilter = _ % 2 == 0,
          candidateFilter = _ % 2 == 0),
        // q184: the hybrid time-travel IVF leg — the q181 build-time
        // state (even-trained quantizer, even candidates) probed by the
        // hybrid batch (every-50th qids) at k=10
        hybridTtIvfTopK = IvfMirror.recompute(vecs, k = 10,
          qidFilter = _ % 50 == 0, trainFilter = _ % 2 == 0,
          candidateFilter = _ % 2 == 0),
        // q185: the hybrid time-travel SQ8 leg — the q183 quantize-time
        // state probed by the hybrid batch at k=10
        hybridTtSq8TopK = IvfMirror.recomputeSq8(vecs, k = 10,
          trainFilter = _ % 2 == 0, paramFilter = _ % 2 == 0,
          candidateFilter = _ % 2 == 0, qidFilter = _ % 50 == 0),
        qualityRows = QualityMirror.recompute(docs4.map(d => (d._1, d._2, d._4))),
        hashedQualityRows =
          QualityMirror.recomputeHashed(docs4.map(d => (d._1, d._2, d._4))),
        hashedEvalRow = Seq(
          QualityMirror.recomputeHashedEval(docs4.map(d => (d._1, d._2, d._4)))),
        bloomRows = BloomMirror.recompute(docs,
          confMaxItems = graft.operators.CorpusFilters.bloomConfMaxItems(spark),
          confMaxBits = graft.operators.CorpusFilters.bloomConfMaxBits(spark)),
        lcRows = LinearCountMirror.recompute(docs3),
        bpeRows = BpeMirror.recompute(docs),
        bpeIdRows = BpeMirror.recomputeIds(docs),
        pipelineV4Rows = PipelineMirror.recomputeV4(docs4.map(d => (d._1, d._2, d._4))),
        incFuzzyRows = DedupGolden.recomputeIncrementalFor(
          incoming = docs.filter(_._1 % 2 == 1),
          history = docs.filter(_._1 % 2 == 0)),
        incFuzzy2Rows = {
          // q157: batch 1 sees the %3==0 history; batch 2 sees that
          // history GROWN by batch 1 (the append-loop contract)
          val hist = docs.filter(_._1 % 3 == 0)
          val b1 = docs.filter(_._1 % 3 == 1)
          val b2 = docs.filter(_._1 % 3 == 2)
          DedupGolden.recomputeIncrementalFor(b1, hist)
            .map { case (id, s, n) => (id, 1, s, n) } ++
            DedupGolden.recomputeIncrementalFor(b2, hist ++ b1)
              .map { case (id, s, n) => (id, 2, s, n) }
        },
        // q171: tombstone deletes — classification must equal a probe
        // against a history that never held the deleted docs (evens
        // minus the %4==0 tombstones = ids ≡ 2 mod 4)
        // q182: time travel across both ingests — the %3==1 batch
        // classified against the BUILD-TIME history alone (what batch 1
        // saw live on day 1, now reproducible forever)
        incFuzzyTtRows = DedupGolden.recomputeIncrementalFor(
          incoming = docs.filter(_._1 % 3 == 1),
          history = docs.filter(_._1 % 3 == 0)),
        incFuzzyDelRows = DedupGolden.recomputeIncrementalFor(
          incoming = docs.filter(_._1 % 2 == 1),
          history = docs.filter(d => d._1 % 2 == 0 && d._1 % 4 != 0))))
    }
  }

  private def lit(s: String): String =
    if (s == null) "CAST(NULL AS VARCHAR)"
    else Golden.lit(s)

  /** Double as a DuckDB literal that parses back to the identical IEEE
    * value (shortest round-trip repr through strtod). */
  private def dlit(d: Double): String = s"CAST('${d.toString}' AS DOUBLE)"

  // Loud DuckDB-side failure: a dump that skipped prepare() must never
  // hash-match by accident.
  private val failSelect =
    "SELECT error('graft SfOracles.prepare was not called')"

  private def cte[A](name: String, cols: String, rows: Option[Seq[A]],
                     zero: String)(render: A => String): String = rows match {
    case Some(rs) if rs.nonEmpty =>
      rs.map(render).mkString(s"$name($cols) AS (VALUES ", ", ", ")")
    case Some(_) => // legal-but-empty mirror: an empty VALUES is invalid SQL
      s"$name($cols) AS (SELECT * FROM (VALUES ($zero)) t WHERE 1 = 0)"
    case None =>
      s"$name($cols) AS ($failSelect)"
  }

  private def textCte: String =
    cte("tm", "title, n_stems, stems_hash, tfidf_card, first_stem_weight, first_stem",
      prepared.map(_.textRows.toSeq), "'', 0, 0, 0, 0.0, ''") { r: TextRow =>
      s"(${lit(r.title)}, ${r.nStems}, CAST(${r.stemsHash} AS BIGINT), " +
        s"${r.tfidfCard}, ${dlit(r.weight)}, ${lit(r.firstStem)})"
    }

  private def fuzzyCte: String =
    cte("fz", "doc_id, cluster_id", prepared.map(_.fuzzyClusters), "0, 0") {
      p: (Long, Long) => s"(${p._1}, ${p._2})" }

  private def simhashCte: String =
    cte("sh", "doc_id, simhash", prepared.map(_.simhashes), "0, 0") {
      p: (Long, Long) => s"(${p._1}, CAST(${p._2} AS BIGINT))" }

  private def jaccardCte: String =
    cte("jc", "id_a, id_b, jaccard", prepared.map(_.jaccardTop), "0, 0, 0.0") {
      p: (Long, Long, Double) => s"(${p._1}, ${p._2}, ${dlit(p._3)})" }

  private def lshCte: String =
    cte("lk", "qid, rnk, nid, score", prepared.map(_.lshTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def nearDupCte: String =
    cte("nd", "vec_id, cluster_id", prepared.map(_.nearDupClusters), "0, 0") {
      p: (Long, Long) => s"(${p._1}, ${p._2})" }

  private def simGenCte: String =
    cte("sg", "title, alias_id", prepared.map(_.simGenTop), "'', 0") {
      p: (String, Long) => s"(${lit(p._1)}, ${p._2})" }

  private def simThrCte: String =
    cte("st", "title, alias_id", prepared.map(_.simThr), "'', 0") {
      p: (String, Long) => s"(${lit(p._1)}, ${p._2})" }

  private def ivfCte: String =
    cte("iv", "qid, rnk, nid, score", prepared.map(_.ivfTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def ivfAppCte: String =
    cte("iva", "qid, rnk, nid, score", prepared.map(_.ivfAppendTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def hybridIvfCte: String =
    cte("hiv", "qid, rnk, nid", prepared.map(_.hybridIvfTopK), "0, 0, 0") {
      p: (Long, Int, Long, Double) => s"(${p._1}, ${p._2}, ${p._3})" }

  private def hybridFilIvfCte: String =
    cte("hfiv", "qid, rnk, nid", prepared.map(_.hybridFilIvfTopK), "0, 0, 0") {
      p: (Long, Int, Long, Double) => s"(${p._1}, ${p._2}, ${p._3})" }

  private def ivfTtCte: String =
    cte("ivt", "qid, rnk, nid, score", prepared.map(_.ivfTtTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def incFuzzyTtCte: String =
    cte("ift", "doc_id, status, n_hist_dups",
      prepared.map(_.incFuzzyTtRows), "0, '', 0") {
      p: (Long, String, Long) => s"(${p._1}, ${lit(p._2)}, ${p._3})" }

  private def ivfDelCte: String =
    cte("ivd", "qid, rnk, nid, score", prepared.map(_.ivfDeleteTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def ivfFilCte: String =
    cte("ivq", "qid, rnk, nid, score", prepared.map(_.ivfFilteredTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def ivfSq8Cte: String =
    cte("ivs", "qid, rnk, nid, score", prepared.map(_.ivfSq8TopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def ivfSq8TtCte: String =
    cte("ivst", "qid, rnk, nid, score", prepared.map(_.ivfSq8TtTopK), "0, 0, 0, 0.0") {
      p: (Long, Int, Long, Double) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${dlit(p._4)})" }

  private def hybridTtIvfCte: String =
    cte("htiv", "qid, rnk, nid", prepared.map(_.hybridTtIvfTopK), "0, 0, 0") {
      p: (Long, Int, Long, Double) => s"(${p._1}, ${p._2}, ${p._3})" }

  private def hybridTtSq8Cte: String =
    cte("htsq", "qid, rnk, nid", prepared.map(_.hybridTtSq8TopK), "0, 0, 0") {
      p: (Long, Int, Long, Double) => s"(${p._1}, ${p._2}, ${p._3})" }

  private def ivfRecallCte: String =
    cte("ivr", "qid, hits_at_10", prepared.map(_.ivfRecall), "0, 0") {
      p: (Long, Long) => s"(${p._1}, ${p._2})" }

  private def qualityCte: String =
    cte("qc", "doc_id, score_e6, keep", prepared.map(_.qualityRows),
      "0, 0, false") {
      p: (Long, Long, Boolean) => s"(${p._1}, ${p._2}, ${p._3})" }

  private def hashedQualityCte: String =
    cte("hq", "doc_id, n_grams, score_e6, keep",
      prepared.map(_.hashedQualityRows), "0, 0, 0, false") {
      p: (Long, Long, Long, Boolean) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${p._4})" }

  private def bloomCte: String =
    cte("bl", "doc_id, n_grams, n_flagged, contaminated",
      prepared.map(_.bloomRows), "0, 0, 0, false") {
      p: (Long, Long, Long, Boolean) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${p._4})" }

  private def bpeCte: String =
    cte("bp", "doc_id, n_tokens_bpe, shard, pack", prepared.map(_.bpeRows),
      "0, 0, 0, 0") {
      p: (Long, Long, Long, Long) => s"(${p._1}, ${p._2}, ${p._3}, ${p._4})" }

  private def hashedEvalCte: String =
    cte("hqe", "n_eval, tp, fp, fn, tn, precision_e6, recall_e6, accuracy_e6",
      prepared.map(_.hashedEvalRow), "0, 0, 0, 0, 0, 0, 0, 0") {
      p: (Long, Long, Long, Long, Long, Long, Long, Long) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${p._4}, ${p._5}, ${p._6}, ${p._7}, ${p._8})" }

  private def pipelineV4Cte: String =
    cte("pv4", "doc_id, score_e6, n_tokens_bpe, n_spans, dup_tokens, n_clean_bpe, shard, pack",
      prepared.map(_.pipelineV4Rows), "0, 0, 0, 0, 0, 0, 0, 0") {
      p: (Long, Long, Long, Long, Long, Long, Long, Long) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${p._4}, ${p._5}, ${p._6}, ${p._7}, ${p._8})" }

  private def bpeIdCte: String =
    cte("bpi", "doc_id, n_ids, n_chunks, chunks_md5",
      prepared.map(_.bpeIdRows), "0, 0, 0, ''") {
      p: (Long, Long, Long, String) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${lit(p._4)})" }

  private def incFuzzyCte: String =
    cte("ifz", "doc_id, status, n_hist_dups",
      prepared.map(_.incFuzzyRows), "0, '', 0") {
      p: (Long, String, Long) => s"(${p._1}, ${lit(p._2)}, ${p._3})" }

  private def incFuzzy2Cte: String =
    cte("if2", "doc_id, batch, status, n_hist_dups",
      prepared.map(_.incFuzzy2Rows), "0, 0, '', 0") {
      p: (Long, Int, String, Long) =>
        s"(${p._1}, ${p._2}, ${lit(p._3)}, ${p._4})" }

  private def incFuzzyDelCte: String =
    cte("ifd", "doc_id, status, n_hist_dups",
      prepared.map(_.incFuzzyDelRows), "0, '', 0") {
      p: (Long, String, Long) => s"(${p._1}, ${lit(p._2)}, ${p._3})" }

  private def lcCte: String =
    cte("lc", "lang, n_set_bits, est_distinct", prepared.map(_.lcRows),
      "'', 0, 0") {
      p: (String, Long, Long) => s"(${lit(p._1)}, ${p._2}, ${p._3})" }

  private def dsirCte: String =
    cte("ds", "rnk, doc_id, n_feats, logw_e4, key_e4",
      prepared.map(_.dsirTop), "0, 0, 0, 0, 0") {
      p: (Int, Long, Long, Long, Long) =>
        s"(${p._1}, ${p._2}, ${p._3}, ${p._4}, ${p._5})" }

  /** The ranked kNN projection every LSH and IVF mirror ends in. */
  private def knnRanked(cte: String, rel: String): String =
    s"""WITH $cte
       |SELECT CAST(qid AS BIGINT) AS qid, CAST(rnk AS INTEGER) AS rnk,
       |       CAST(nid AS BIGINT) AS nid, score
       |FROM $rel ORDER BY qid, rnk""".stripMargin

  /** The hybrids' fusion: the BM25 leg (`ranked`, cut at rank <= 10) and
    * the IVF mirror `ivfRel` fused by reciprocal rank. The fusion is
    * pure BIGINT (1e9 // (60 + rank) — integer division both engines
    * compute identically on positive values), so fused scores, tie
    * order (rrf desc, doc_id asc) and the per-list count are all
    * hash-pinned. */
  private def rrfFused(rankedCtes: String, ivfCte: String,
      ivfRel: String): String =
    s"""WITH $rankedCtes,
       |$ivfCte,
       |u AS (
       |  SELECT qid, doc_id AS id, 1000000000 // (60 + rank) AS rrf
       |  FROM ranked WHERE rank <= 10
       |  UNION ALL
       |  SELECT qid, nid AS id, 1000000000 // (60 + rnk) AS rrf FROM $ivfRel),
       |fused AS (
       |  SELECT qid, id, CAST(sum(rrf) AS BIGINT) AS rrf_score,
       |         CAST(count(*) AS BIGINT) AS n_lists
       |  FROM u GROUP BY qid, id),
       |rr AS (
       |  SELECT qid, id, rrf_score, n_lists,
       |    ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY rrf_score DESC, id) AS rank
       |  FROM fused)
       |SELECT qid, CAST(rank AS BIGINT) AS rank, id AS doc_id,
       |       rrf_score, n_lists
       |FROM rr WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** The incremental MinHash classification of the probed `where` rows. */
  private def minhashStatus(cte: String, rel: String, where: String): String =
    s"""WITH $cte
       |SELECT d.doc_id, f.status, CAST(f.n_hist_dups AS BIGINT) AS n_hist_dups
       |FROM documents d JOIN $rel f ON f.doc_id = d.doc_id
       |WHERE $where
       |ORDER BY d.doc_id""".stripMargin

  // Oracle SQL, one member per oracle, with the Spark side's column
  // names and ordering. SparkEntry.registry points each query at its
  // member; queries that must answer identically share one.

  def fuzzyDedup: String =
    s"""WITH $fuzzyCte
       |SELECT d.doc_id, CAST(f.cluster_id AS BIGINT) AS cluster_id
       |FROM documents d JOIN fz f ON f.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def simhashDedup: String =
    s"""WITH $simhashCte
       |SELECT d.doc_id, s.simhash
       |FROM documents d JOIN sh s ON s.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  def ngramJaccard: String =
    s"""WITH $jaccardCte
       |SELECT CAST(id_a AS BIGINT) AS id_a, CAST(id_b AS BIGINT) AS id_b, jaccard
       |FROM jc ORDER BY jaccard DESC, id_a, id_b""".stripMargin

  def knnLsh: String = knnRanked(lshCte, "lk")

  def textUdfs: String =
    s"""WITH $textCte
       |SELECT d.doc_id, m.n_stems, m.stems_hash, m.tfidf_card,
       |       m.first_stem_weight, m.first_stem
       |FROM documents d JOIN tm m ON m.title = substr(d.text, 1, 40)
       |ORDER BY d.doc_id""".stripMargin

  def embeddingClusters: String =
    s"""WITH $nearDupCte
       |SELECT e.vec_id, CAST(n.cluster_id AS BIGINT) AS cluster_id
       |FROM embeddings e JOIN nd n ON n.vec_id = e.vec_id
       |ORDER BY e.vec_id""".stripMargin

  /** q46: one row per document; titles with no scored candidate fall
    * back to (rnk 1, alias 0), matching the query wrapper's left-join
    * coalesce. */
  def simJoinGeneric: String =
    s"""WITH $simGenCte
       |SELECT d.doc_id, CAST(1 AS INTEGER) AS rnk,
       |       CAST(COALESCE(g.alias_id, 0) AS BIGINT) AS alias_id
       |FROM documents d LEFT JOIN sg g ON g.title = substr(d.text, 1, 40)
       |ORDER BY d.doc_id""".stripMargin

  /** q49: only documents whose title clears the threshold emit a row. */
  def simJoinThreshold: String =
    s"""WITH $simThrCte
       |SELECT d.doc_id, CAST(1 AS INTEGER) AS rnk,
       |       CAST(g.alias_id AS BIGINT) AS alias_id
       |FROM documents d JOIN st g ON g.title = substr(d.text, 1, 40)
       |ORDER BY d.doc_id""".stripMargin

  /** IVF kNN — oracle-able since round 9's driver-side Lloyd loop
    * (ascending-id mean folds) made the whole pipeline deterministic. */
  def ivf: String = knnRanked(ivfCte, "iv")

  /** IVF index APPEND: the quantizer stays the build half's (even
    * vec_ids; serving never retrains per batch), the appended odd-id
    * vectors join the cell table; the mirror replays exactly that
    * contract (train on evens, assign/score all). */
  def ivfAppend: String = knnRanked(ivfAppCte, "iva")

  /** IVF time travel across the append commit: the probe must serve the
    * BUILD-TIME index exactly (even-trained quantizer, even candidates;
    * the appended odds unseen via the file manifest). */
  def ivfTimeTravel: String = knnRanked(ivfTtCte, "ivt")

  /** IVF recall@10, the standard ANN quality metric as an oracle query:
    * both legs (cell-pruned probe, exact brute top-10) are bit-identical
    * mirrors of the Spark operators, so the per-query hit count is an
    * exact integer. */
  def ivfRecall: String =
    s"""WITH $ivfRecallCte
       |SELECT CAST(qid AS BIGINT) AS qid,
       |       CAST(hits_at_10 AS BIGINT) AS hits_at_10
       |FROM ivr ORDER BY qid""".stripMargin

  /** IVF index DELETE: tombstoned vectors leave every result immediately
    * while the build-time quantizer (trained on the full corpus) keeps
    * serving; the mirror replays exactly that split (train on all,
    * candidates minus deletes). */
  def ivfDelete: String = knnRanked(ivfDelCte, "ivd")

  /** Metadata-FILTERED vector search: the predicate restricts candidates
    * before scoring (each query's top-k ranks qualifying vectors only);
    * the index itself is q158's, unmodified. */
  def ivfFiltered: String = knnRanked(ivfFilCte, "ivq")

  /** The SQ8-quantized serving probe: same deterministic quantizer and
    * cell pruning as q158, but candidates scored as cosine(query,
    * byte-quantized reconstruction); the mirror replays the quantization
    * (exact per-dim min/max, half-up byte codes) and the
    * Sq8Dot/Sq8NormSq left-to-right IEEE sums, so scores are bit-exact,
    * no float tolerance. */
  def ivfSq8: String = knnRanked(ivfSq8Cte, "ivs")

  /** SQ8 time travel across the append commit: the quantized probe must
    * serve the QUANTIZE-TIME (codes, params) pair exactly: even-trained
    * quantizer, params from the even cells, even candidates only; the
    * appended odd codes unseen via the file manifest, the params from
    * the historical generation's sidecar. */
  def ivfSq8TimeTravel: String = knnRanked(ivfSq8TtCte, "ivst")

  /** Hybrid retrieval: the BM25 leg is replayed end-to-end in SQL (the
    * shared rank-unbounded CTE chain) and the IVF leg comes from the
    * mirror. The first oracle to exercise two persisted index families
    * inside one query plan. */
  def hybridRrf: String =
    rrfFused(Bm25OracleSql.rankedCtes, hybridIvfCte, "hiv")

  /** FILTERED hybrid retrieval: q169's fusion with q173's metadata
    * predicate on BOTH legs. The BM25 leg replays with the
    * candidates-only exclusion (odd docs out of contrib, statistics
    * index-wide — exactly topKAgainstIndex(candidateFilter)'s published
    * semantics, the q170 delete placement); the IVF leg comes from the
    * candidate-filtered mirror. */
  def hybridRrfFiltered: String =
    rrfFused(Bm25OracleSql.rankedCtesExcluding("p.doc_id % 2 = 1"),
      hybridFilIvfCte, "hfiv")

  /** TIME-TRAVEL hybrid retrieval, "serve yesterday's stack": q169's
    * fusion with BOTH legs read at their pre-append commits. The BM25 leg
    * replays over the even build corpus (rankedCtesCorpus — statistics
    * shrink WITH the corpus, the q179 time-travel semantics); the IVF leg
    * comes from the build-time mirror (even-trained quantizer, even
    * candidates, every-50th qids at k=10). */
  def hybridRrfTimeTravel: String =
    rrfFused(Bm25OracleSql.rankedCtesCorpus("doc_id % 2 = 0"),
      hybridTtIvfCte, "htiv")

  /** The QUANTIZED "serve yesterday's stack": q184's fusion with the
    * vector leg served from the SQ8 replica at its quantize-time commit
    * (the serving-economics deployment rolled back whole: lexical +
    * quantized-vector legs both historical). */
  def hybridRrfTimeTravelSq8: String =
    rrfFused(Bm25OracleSql.rankedCtesCorpus("doc_id % 2 = 0"),
      hybridTtSq8Cte, "htsq")

  /** Bloom decontamination: even the FALSE POSITIVES are pinned (the
    * bitset is partitioning-invariant and byte-replayed locally). */
  def bloomDecontamination: String =
    s"""WITH $bloomCte
       |SELECT d.doc_id, CAST(b.n_grams AS BIGINT) AS n_grams,
       |       CAST(b.n_flagged AS BIGINT) AS n_flagged, b.contaminated
       |FROM bl b JOIN documents d ON d.doc_id = b.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** BPE token counts + packing, joined to the live documents table so
    * DuckDB verifies every packed id exists exactly once. */
  def bpePacking: String =
    s"""WITH $bpeCte
       |SELECT d.doc_id, b.n_tokens_bpe, b.shard, b.pack
       |FROM documents d JOIN bp b ON b.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** MinHash time travel across both ingest commits: the %3==1 batch
    * re-classified against the BUILD-TIME history alone. */
  def minhashTimeTravel: String =
    minhashStatus(incFuzzyTtCte, "ift", "d.doc_id % 3 = 1")

  /** Incremental fuzzy dedup: the mirror replays the whole candidate
    * machine (exact-slice banding == the operator's hash buckets at this
    * threshold), so even n_hist_dups counts are pinned. */
  def minhashIncremental: String =
    minhashStatus(incFuzzyCte, "ifz", "d.doc_id % 2 = 1")

  /** MinHash index DELETE: the probe against the tombstoned index must
    * classify exactly like a probe against a history that never held the
    * deleted docs (the mirror replays that smaller history). */
  def minhashDelete: String =
    minhashStatus(incFuzzyDelCte, "ifd", "d.doc_id % 2 = 1")

  /** The two-batch MinHash ingest loop: batch 2's rows are mirrored
    * against history GROWN by batch 1, so cross-batch dup_history counts
    * (impossible for any single stateless probe) are pinned. */
  def minhashIngest: String =
    s"""WITH $incFuzzy2Cte
       |SELECT d.doc_id, CAST(f.batch AS INTEGER) AS batch, f.status,
       |       CAST(f.n_hist_dups AS BIGINT) AS n_hist_dups
       |FROM documents d JOIN if2 f ON f.doc_id = d.doc_id
       |WHERE d.doc_id % 3 <> 0
       |ORDER BY d.doc_id""".stripMargin

  /** BPE token-id chunk digests, joined to the live documents table;
    * every 32-id window's exact content is pinned by the md5 chain the
    * mirror re-derives. */
  def bpeChunkIds: String =
    s"""WITH $bpeIdCte
       |SELECT d.doc_id, CAST(b.n_ids AS BIGINT) AS n_ids,
       |       CAST(b.n_chunks AS BIGINT) AS n_chunks, b.chunks_md5
       |FROM documents d JOIN bpi b ON b.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Per-lang linear count: the estimate (and every register bit) is
    * partitioning-invariant, so the mirror VALUES pin it while DuckDB
    * derives the exact distinct column itself. */
  def linearCount: String =
    s"""WITH $lcCte
       |SELECT d.lang, CAST(count(DISTINCT d.text) AS BIGINT) AS n_exact,
       |       lc.n_set_bits, lc.est_distinct
       |FROM documents d JOIN lc ON lc.lang = d.lang
       |WHERE d.text IS NOT NULL
       |GROUP BY d.lang, lc.n_set_bits, lc.est_distinct
       |ORDER BY d.lang""".stripMargin

  /** The seed-trained quality classifier's e6 scores + keep flags. */
  def qualityClassifier: String =
    s"""WITH $qualityCte
       |SELECT d.doc_id, CAST(q.score_e6 AS BIGINT) AS score_e6, q.keep
       |FROM documents d JOIN qc q ON q.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The hashed-n-gram classifier's gram counts + e6 scores. */
  def hashedQualityClassifier: String =
    s"""WITH $hashedQualityCte
       |SELECT d.doc_id, CAST(q.n_grams AS BIGINT) AS n_grams,
       |       CAST(q.score_e6 AS BIGINT) AS score_e6, q.keep
       |FROM documents d JOIN hq q ON q.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** The composed v4 pipeline: one row per SELECTED doc, joined to the
    * live documents table so DuckDB verifies the winner set. */
  def pipelineV4: String =
    s"""WITH $pipelineV4Cte
       |SELECT d.doc_id, CAST(p.score_e6 AS BIGINT) AS score_e6,
       |       CAST(p.n_tokens_bpe AS BIGINT) AS n_tokens_bpe,
       |       CAST(p.n_spans AS BIGINT) AS n_spans,
       |       CAST(p.dup_tokens AS BIGINT) AS dup_tokens,
       |       CAST(p.n_clean_bpe AS BIGINT) AS n_clean_bpe,
       |       CAST(p.shard AS BIGINT) AS shard,
       |       CAST(p.pack AS BIGINT) AS pack
       |FROM documents d JOIN pv4 p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Held-out classifier evaluation: one integer confusion row. */
  def classifierEval: String =
    s"""WITH $hashedEvalCte
       |SELECT CAST(n_eval AS BIGINT) AS n_eval, CAST(tp AS BIGINT) AS tp,
       |       CAST(fp AS BIGINT) AS fp, CAST(fn AS BIGINT) AS fn,
       |       CAST(tn AS BIGINT) AS tn,
       |       CAST(precision_e6 AS BIGINT) AS precision_e6,
       |       CAST(recall_e6 AS BIGINT) AS recall_e6,
       |       CAST(accuracy_e6 AS BIGINT) AS accuracy_e6
       |FROM hqe""".stripMargin

  /** The DSIR Gumbel-top-k selection, joined back to the live documents
    * table so DuckDB verifies the selected ids exist. */
  def dsirResample: String =
    s"""WITH $dsirCte
       |SELECT CAST(s.rnk AS INTEGER) AS rnk, d.doc_id,
       |       CAST(s.n_feats AS BIGINT) AS n_feats,
       |       CAST(s.logw_e4 AS BIGINT) AS logw_e4,
       |       CAST(s.key_e4 AS BIGINT) AS key_e4
       |FROM ds s JOIN documents d ON d.doc_id = s.doc_id
       |ORDER BY s.rnk""".stripMargin
}
