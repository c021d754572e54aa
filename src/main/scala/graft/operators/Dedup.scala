package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.hashing.MurmurHash3

import graft.sources.{AsOf, Snapshots}

/** Deduplication operators for large-scale text pipelines (builder brief:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard). All are pure shuffle-based
  * DataFrame plans: per-row signatures are computed map-side (deterministic
  * hashing, no randomness, no driver state), candidate generation goes
  * through band-bucket equi-joins (never an all-pairs cartesian), and
  * clustering is iterative smallest-id label propagation — each piece
  * scales to a 1000-executor cluster unchanged.
  */
object Dedup {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  // ------------------------------------------------------------- exact

  /** Keep the lowest-id row per exact duplicate group of `keyCols`.
    * One hash-aggregate shuffle on the dedup key. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(idCol).asc)
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** Ingestion-time incremental dedup: classify each `incoming` row
    * against an already-ingested `history` corpus AND against earlier
    * rows of its own batch — the shape every continuously-fed training
    * pipeline runs on each new crawl drop. The content key is
    * md5(normalized token text), so a fingerprint store (key column
    * only) stands in for history at scale.
    *
    * Per incoming row: `dup_history` if its key exists in history,
    * else `dup_batch` if a lower-id incoming row shares the key,
    * else `new`.
    *
    * Scale shape: history is reduced to DISTINCT keys (map-side
    * combinable) and probed with one equi-join on the key; the
    * within-batch winner is a min-over-key (map-side combinable) joined
    * back — no windows over unbounded keys, no driver state. Output is
    * (doc_id, key_md5, status), unordered (the q135 wrapper sorts);
    * null text keys as md5("") — same as empty text — on both engines
    * (the oracle coalesces before hashing). Oracle-checked as
    * SparkEntry q135. */
  def incremental(incoming: DataFrame, history: DataFrame,
                  idCol: String, textCol: String): DataFrame = {
    val spark = incoming.sparkSession
    import spark.implicits._

    def keyed(df: DataFrame) = df.select(
      col(idCol).cast("long").as("doc_id"),
      md5(concat_ws(" ", CorpusFilters.words(col(textCol))).cast("binary"))
        .as("key_md5"))

    val inc = keyed(incoming)
    val histKeys = keyed(history).select($"key_md5").distinct()
      .withColumn("__in_hist", lit(true))
    val firstInBatch = inc.groupBy($"key_md5")
      .agg(min($"doc_id").as("__first_id"))

    inc
      .join(histKeys, Seq("key_md5"), "left")
      .join(firstInBatch, Seq("key_md5"))
      .select($"doc_id", $"key_md5",
        when($"__in_hist", "dup_history")
          .when($"doc_id" > $"__first_id", "dup_batch")
          .otherwise("new").as("status"))
  }

  /** Ingestion-time incremental FUZZY dedup — the MinHash+LSH
    * counterpart of [[incremental]]: classify each incoming document
    * `dup_history` (estimated Jaccard ≥ threshold vs ≥ 1 already-ingested
    * doc), `dup_batch` (no history match, but a verified match with an
    * EARLIER — smaller-id — doc of the same batch), or `new`. The
    * daily-crawl-increment shape: near-duplicates of yesterday's corpus
    * must not re-enter, and the batch must not admit two copies of the
    * same new page.
    *
    * Same published candidate machine as [[minhashCandidatePairs]]
    * (3-gram shingles, 64-hash Kirsch–Mitzenmacher signatures, 16-band
    * LSH, signature-agreement verification), so at threshold ≥
    * 1 − bands/numHashes + 1/numHashes every verified pair provably
    * contains a fully-agreeing band — hash-bucketing and exact-slice
    * banding admit the identical verified set (the q35 mirror argument).
    *
    * 100 TB shape: the INCOMING BATCH is the small side — its bucket
    * and signature frames broadcast, so the history-side bucket stream
    * is probed map-side and history is never shuffled; candidate
    * verification joins ride the (bounded) candidate frame. History
    * signatures/buckets are recomputed here for statelessness — a
    * production ingest materializes them once as the corpus index and
    * appends per batch (the [[incremental]] history-key table precedent).
    *
    * @return (doc_id, status, n_hist_dups) — one row per incoming doc;
    *         n_hist_dups counts verified distinct history matches */
  def minhashIncremental(incoming: DataFrame, history: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8,
      broadcastMaxBatchDocs: Long = 2000000L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val sigUdf = udf((s: String) => minhashSig(s, shingleSize, numHashes))
    val histSigs = history
      .select(col(idCol).cast("long").as("id"), sigUdf(col(textCol)).as("sig"))
    incrementalCore(incoming, histSigs,
      bandBucketsOf(histSigs, bands, numHashes / bands),
      idCol, textCol, shingleSize, numHashes, bands, threshold,
      broadcastMaxBatchDocs)
  }

  /** Band-bucket frame of a (id, sig) signature frame: one (band, bh,
    * id) row per band per doc, where bh hashes signature positions
    * [band·r, (band+1)·r) — the LSH keying every MinHash operator here
    * shares (identical column expressions ⇒ identical buckets). */
  private def bandBucketsOf(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => col("sig")(b * rowsPerBand + r))
      struct(lit(b).as("band"), hash(slice: _*).as("bh"))
    }
    sigs.withColumn("bk", explode(array(bandCols: _*)))
      .select(col("bk.band").as("band"), col("bk.bh").as("bh"), col("id"))
  }

  /** Fraction of agreeing signature positions — the MinHash Jaccard
    * estimator shared by every verification join here. */
  private def sigAgreement(numHashes: Int): (Column, Column) => Column =
    (a: Column, b: Column) =>
      aggregate(
        zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)

  /** Shared implementation of both incremental-fuzzy-dedup entry points:
    * [[minhashIncremental]] (history re-signatured statelessly) and
    * [[minhashIncrementalAgainstIndex]] (history frames read from the
    * persisted bucketed index — NEVER re-signatured). The history side
    * arrives as two frames — (id, sig) signatures and (band, bh, id)
    * band buckets — and is never shuffled in full: the batch side of
    * every join broadcasts (below `broadcastMaxBatchDocs`; above it the
    * joins fall back to plain shuffle equi-joins — same rows, the
    * broadcast() hint is the only difference, spec-pinned identical),
    * and every exchange above a history scan carries only
    * candidate-bounded post-join rows. */
  private def incrementalCore(incoming: DataFrame,
      histSigs: DataFrame, histBuckets: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      threshold: Double, broadcastMaxBatchDocs: Long): DataFrame = {
    val (assembled, incSigs) = incrementalAssembled(incoming, histSigs,
      histBuckets, idCol, textCol, shingleSize, numHashes, bands, threshold,
      broadcastMaxBatchDocs)
    // stage the (batch-sized) output so the cached signatures can be
    // released immediately — without the cut, a consumer evaluating the
    // lazy plan after unpersist would re-signature the batch per join
    val out = Stage.cut(assembled)
    incSigs.unpersist()
    out
  }

  /** The UN-STAGED classification frame + the still-cached batch
    * signature frame — `private[graft]` so `MinhashIndexSpec` can pin
    * the physical plan shape (every exchange above a history/index scan
    * must sit above the candidate-bounding broadcast join) before the
    * lineage cut erases it. Production callers go through
    * [[minhashIncremental]] / [[minhashIncrementalAgainstIndex]]. */
  private[graft] def incrementalAssembled(incoming: DataFrame,
      histSigs: DataFrame, histBuckets: DataFrame,
      idCol: String, textCol: String,
      shingleSize: Int, numHashes: Int, bands: Int,
      threshold: Double, broadcastMaxBatchDocs: Long): (DataFrame, DataFrame) = {
    val spark = incoming.sparkSession
    import spark.implicits._
    val sigUdf = udf((s: String) => minhashSig(s, shingleSize, numHashes))
    // batch-sized: cached (consumed by buckets, both verification joins
    // and the final status assembly), unpersisted after the output is
    // staged (round 12 ADVICE: repeated ingest batches in one session
    // must not accumulate cached signature frames)
    val incSigs = incoming
      .select(col(idCol).cast("long").as("id"), sigUdf(col(textCol)).as("sig"))
      .cache()
    // one cheap action on the cached batch picks broadcast vs shuffle
    // joins (and materializes the cache before the plans fan out)
    val nBatch = incSigs.count()
    // HARDENED batch contract (round 12): broadcasting a 10M-doc batch
    // would ship a ~bands×10M-row bucket frame to every task — above the
    // bound the same joins run as plain shuffles, loudly. Results are
    // identical either way (broadcast() is a distribution hint, not a
    // semantic change).
    val bc: DataFrame => DataFrame =
      if (nBatch <= broadcastMaxBatchDocs) broadcast
      else { df =>
        log.warn(s"minhashIncremental: batch of $nBatch docs exceeds " +
          s"broadcastMaxBatchDocs=$broadcastMaxBatchDocs — falling back " +
          "to shuffle joins (identical results, bigger exchanges)")
        df
      }
    val agreement = sigAgreement(numHashes)

    // incoming×history candidates: batch buckets broadcast onto the
    // history bucket stream — map-side probe, zero history shuffles
    val candIH = histBuckets
      .join(bc(bandBucketsOf(incSigs, bands, numHashes / bands)
        .select($"band", $"bh", $"id".as("inc_id"))), Seq("band", "bh"))
      .select($"inc_id", $"id".as("hist_id"))
      .dropDuplicates("inc_id", "hist_id")
    val nHist = candIH
      .join(bc(incSigs.select($"id".as("inc_id"), $"sig".as("sig_i"))),
        "inc_id")
      .join(histSigs.select($"id".as("hist_id"), $"sig".as("sig_h")), "hist_id")
      .filter(agreement($"sig_i", $"sig_h") >= threshold)
      .groupBy($"inc_id").agg(count(lit(1)).as("n_hist_dups"))

    // within-batch earlier-doc matches: the small-corpus join form of
    // minhashCandidatePairs over the batch alone
    val incB = bandBucketsOf(incSigs, bands, numHashes / bands)
    val dupBatch = incB.select($"band", $"bh", $"id".as("id_a"))
      .join(incB.select($"band", $"bh", $"id".as("id_b")), Seq("band", "bh"))
      .filter($"id_a" < $"id_b")
      .dropDuplicates("id_a", "id_b")
      .join(bc(incSigs.select($"id".as("id_a"), $"sig".as("sig_a"))), "id_a")
      .join(bc(incSigs.select($"id".as("id_b"), $"sig".as("sig_b"))), "id_b")
      .filter(agreement($"sig_a", $"sig_b") >= threshold)
      .select($"id_b".as("id")).distinct()
      .withColumn("__dup_batch", lit(true))

    val assembled = incSigs.select($"id".as("doc_id"))
      .join(nHist.withColumnRenamed("inc_id", "doc_id"), Seq("doc_id"), "left")
      .join(dupBatch.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left")
      .select($"doc_id",
        when(coalesce($"n_hist_dups", lit(0L)) > 0L, "dup_history")
          .when($"__dup_batch", "dup_batch")
          .otherwise("new").as("status"),
        coalesce($"n_hist_dups", lit(0L)).as("n_hist_dups"))
    (assembled, incSigs)
  }

  // ------------------------------------------------ persisted LSH index

  /** Materialize the MinHash history index ONCE — the production form of
    * [[minhashIncremental]]'s history side. The stateless entry point
    * re-signatures the ENTIRE history corpus on every ingest batch; at a
    * 100 TB history with daily batches that per-batch signature CPU
    * dominates everything else the operator does, and it scales with
    * history rather than with the batch. This writer runs the signature
    * pass once and persists BOTH frames the probe needs as bucketed
    * parquet tables (the [[graft.sources.Bucketing]] machinery — layout
    * declared at write time so later consumers join/aggregate on the key
    * without an exchange):
    *
    *  - `{table}_sigs`    (id, sig array<int>)   bucketed+sorted by id
    *  - `{table}_buckets` (band, bh, id)         bucketed+sorted by (band, bh)
    *  - `{table}_meta`    1 row (shingle_size, num_hashes, bands) — the
    *    probe derives its parameters FROM the index, so a mismatched
    *    re-probe is impossible by construction.
    *
    * A daily ingest appends its batch's signatures/buckets to the same
    * tables after classification (plain bucketed INSERT — same layout);
    * re-running this writer rebuilds from scratch.
    */
  def writeMinhashIndex(corpus: DataFrame, idCol: String, textCol: String,
      table: String, path: String, numBuckets: Int = 64,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16): Unit = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val spark = corpus.sparkSession
    import spark.implicits._
    import graft.sources.Generations
    minhashFamily.build(spark, table, path) {
      val sigUdf = udf((s: String) => minhashSig(s, shingleSize, numHashes))
      // ONE signature pass feeds both tables: the UDF is the dominant cost
      // and without the cut each bucketed write would re-run it
      val sigs = Stage.cut(corpus
        .select(col(idCol).cast("long").as("id"), sigUdf(col(textCol)).as("sig")))
      graft.sources.Bucketing.writeBucketed(
        spark, sigs, s"${table}_sigs", s"$path/sigs", numBuckets, Seq("id"))
      graft.sources.Bucketing.writeBucketed(
        spark, bandBucketsOf(sigs, bands, numHashes / bands),
        s"${table}_buckets", s"$path/buckets", numBuckets, Seq("band", "bh"))
      // the 1-row parameter table rides the same generation machinery as
      // every other member: a REBUILD over a live index swaps it with one
      // atomic flip instead of a drop+recreate window a concurrent probe
      // could land in
      val mBase = Generations.currentOpt(spark, s"${table}_meta")
      val mGen = Generations.reserve(spark, s"${table}_meta")
      Seq((shingleSize, numHashes, bands))
        .toDF("shingle_size", "num_hashes", "bands")
        .write.format("parquet")
        .option("path", Generations.genPath(s"$path/meta", mGen))
        .mode("overwrite").saveAsTable(mGen)
      Generations.commit(spark, s"${table}_meta", mGen, mBase)
    }
  }

  /** The MinHash index family ([[graft.sources.IndexFamily]]): signatures,
    * band buckets, the parameter row and the tombstone list. The ingest
    * loop appends into sigs and buckets in place, so those two are
    * file-tracked. */
  val minhashFamily: graft.sources.IndexFamily =
    new graft.sources.IndexFamily("minhash",
      Seq("sigs", "buckets", "meta", "deletes"), "sigs", Seq("sigs", "buckets"))

  /** DELETE documents from a [[writeMinhashIndex]] history index — the
    * takedown primitive ([[graft.sources.IndexFamily.delete]]): every
    * probe anti-joins the signature and band-bucket scans against the
    * tombstone list, so classification equals a probe against an index
    * that never held the documents (the q171 oracle replays exactly
    * that); [[compactMinhashIndex]] folds them physically. */
  def deleteFromMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, ids: DataFrame): Unit =
    minhashFamily.delete(spark, table, ids)

  /** Recover an [[ingestAgainstIndex]] that died mid-commit
    * ([[graft.sources.IndexFamily.recover]]; a rolled-back batch is
    * re-ingested, classification-idempotent per the ingest contract).
    * Every MinHash maintenance op calls it first. */
  def recoverPendingAppend(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = minhashFamily.recover(spark, table)

  /** The doc ids [[ingestAgainstIndex]] commits in `(fromId, toId]`
    * added to the history index
    * ([[graft.sources.IndexFamily.addedBetween]] over the signatures). */
  def docsAddedBetween(spark: org.apache.spark.sql.SparkSession,
      table: String, fromId: Long, toId: Long,
      ignoreDeletes: Boolean = false): DataFrame =
    minhashFamily.addedBetween(spark, table, fromId, toId, ignoreDeletes)
      .select(org.apache.spark.sql.functions.col("id"))

  /** [[minhashIncremental]] probing a PERSISTED history index written by
    * [[writeMinhashIndex]] — bit-identical classification (same
    * candidate machine, same verification; `MinhashIndexSpec` pins it
    * row-for-row against the stateless form) with the history signature
    * cost paid ONCE at index-build time instead of per batch. The
    * history side is two bucketed scans: batch buckets broadcast onto
    * the band-bucket scan (map-side probe), batch candidates broadcast
    * onto the signature scan — zero exchanges carry full-history rows
    * (spec-pinned: every exchange above an index scan sits above the
    * candidate-bounding broadcast join). Signature parameters come from
    * the index's meta table; only the threshold is per-call. `asOf`
    * classifies against the history as it was at a named state. */
  def minhashIncrementalAgainstIndex(incoming: DataFrame, table: String,
      idCol: String, textCol: String, threshold: Double = 0.8,
      broadcastMaxBatchDocs: Long = 2000000L,
      asOf: AsOf = AsOf.Live): DataFrame = {
    val (sigs, buckets, (shingleSize, numHashes, bands)) =
      historyAt(incoming.sparkSession, table, asOf)
    incrementalCore(incoming, sigs, buckets, idCol, textCol, shingleSize,
      numHashes, bands, threshold, broadcastMaxBatchDocs)
  }

  /** The history a persisted-index classification reads at `asOf`: the
    * signature and band-bucket members minus tombstoned docs (deleted
    * docs leave the effective history immediately), and the signature
    * parameters (shingle size, hashes, bands) from the meta member. */
  private def historyAt(spark: org.apache.spark.sql.SparkSession,
      table: String, asOf: AsOf): (DataFrame, DataFrame, (Int, Int, Int)) = {
    val snap = Snapshots.open(spark, table,
      Seq(s"${table}_sigs", s"${table}_buckets", s"${table}_meta"), asOf)
    val meta = snap.read(s"${table}_meta").collect()
    require(meta.length == 1, s"index ${table}_meta must hold exactly 1 row")
    (snap.alive(snap.read(s"${table}_sigs"), "id"),
      snap.alive(snap.read(s"${table}_buckets"), "id"),
      (meta(0).getInt(0), meta(0).getInt(1), meta(0).getInt(2)))
  }

  /** The full daily-ingest step: classify `incoming` against the
    * persisted index ([[minhashIncrementalAgainstIndex]] — identical
    * output, same spec pins) AND grow the index with the batch's
    * signatures/band-buckets so TOMORROW's batch deduplicates against
    * today's. This is what makes the persisted index an operating
    * system rather than a snapshot: day N probes the accumulated
    * history of days 0..N−1 while only ever paying signature CPU and
    * write volume proportional to its own batch.
    *
    * Mechanics (ONE signature pass serves both halves):
    *  - the batch is signatured once into the same cached frame the
    *    classification joins consume;
    *  - the classification output is materialized (Stage.cut) BEFORE
    *    any index write — the batch can never observe its own rows as
    *    "history", and a failure mid-append leaves a complete
    *    classification with a partially-grown index (re-ingesting the
    *    same batch is idempotent for CLASSIFICATION correctness of
    *    later batches: duplicate signature rows only inflate
    *    n_hist_dups counts, never flip a status to "new");
    *  - both index tables grow via [[graft.sources.Bucketing
    *    .appendBucketed]] — the bucket spec is read from the catalog
    *    and re-declared, so the appended files hash/sort exactly like
    *    the build-time files and the probe's zero-history-exchange
    *    plan shape is preserved across any number of appends
    *    (`MinhashIndexSpec` pins classification-after-append equality
    *    against the stateless two-batch replay).
    *
    * ALL batch rows are appended — history means "everything ever
    * ingested", so re-submitted duplicates keep matching no matter
    * which copy a downstream keep-one policy retains. Callers wanting
    * a canonical-copies-only index filter `status = 'new'` upstream
    * and append via the building blocks directly. */
  /** @param autoCompactAfter when > 0, trigger [[compactMinhashIndex]]
    *   once the snapshot log counts this many ingests since the last
    *   base manifest of the sigs member (adds-since-base ==
    *   files-per-bucket growth, read from the log with no FS walk —
    *   r15 directive 6). 0 disables; see
    *   [[graft.operators.Bm25.appendToIndex]] for the time-travel
    *   trade. */
  def ingestAgainstIndex(incoming: DataFrame, table: String,
      idCol: String, textCol: String, threshold: Double = 0.8,
      broadcastMaxBatchDocs: Long = 2000000L,
      autoCompactAfter: Int = 0): DataFrame =
      graft.sources.Generations.withMaintenanceLock(table) {
    val spark = incoming.sparkSession
    // finish (or discard) any ingest that died mid-commit before
    // classifying against the history it half-grew (r16 directive 1)
    recoverPendingAppend(spark, table)
    // the live history the pure probe reads (tombstoned docs out); the
    // APPEND below is untouched — history rows stay physically present
    // until compaction folds them
    val (sigs, buckets, (shingleSize, numHashes, bands)) =
      historyAt(spark, table, AsOf.Live)
    val (assembled, incSigs) = incrementalAssembled(incoming, sigs, buckets,
      idCol, textCol, shingleSize, numHashes, bands, threshold,
      broadcastMaxBatchDocs)
    // eager: classification is on disk/blocks before the index mutates
    val out = Stage.cut(assembled)
    // both tables STAGE first (bucket spec re-declared — the appended
    // files hash/sort exactly like build-time files), then the batch
    // intent + commit marker persist, then the files move in
    // (PendingAppend, r17): a crash during the writes leaves the index
    // unchanged, a crash past the marker is completed by the next
    // maintenance op — the BM25 self-healing contract on this family
    val stagedSigs = graft.sources.Bucketing.stageBucketed(
      spark, incSigs, s"${table}_sigs")
    val stagedBuckets = graft.sources.Bucketing.stageBucketed(spark,
      bandBucketsOf(incSigs, bands, numHashes / bands), s"${table}_buckets")
    incSigs.unpersist()
    minhashFamily.appendStaged(spark, table, Seq(stagedSigs, stagedBuckets),
      "ingest", autoCompactAfter, () => compactMinhashIndex(spark, table))
    out
  }

  /** Compact a [[writeMinhashIndex]] index after [[ingestAgainstIndex]]
    * batches — the layout-maintenance primitive completing the MinHash
    * family's build → probe → grow → compact lifecycle (the
    * `Bm25.compactIndex` / q161 precedent). Every ingest appends one
    * file-set per touched bucket to `{table}_sigs` and
    * `{table}_buckets`, so after N daily batches a probe reads N+ files
    * per bucket with per-batch-only sort locality; this rewrites both
    * tables as one fresh generation each — ONE globally-sorted file per
    * bucket — through [[graft.sources.Bucketing.compactBucketed]]
    * (write-new / swap / delete-old; see [[graft.sources.Generations]]
    * for the crash-safety and concurrent-reader story; `{table}_meta`
    * is a 1-row parameter table and never needs compaction).
    *
    * Pure layout maintenance: rows are untouched, so classification
    * equality before/after IS the correctness check — the q162 query
    * compacts between ingest batches and shares q157's oracle verbatim;
    * `MinhashIndexSpec` additionally pins one file per bucket
    * afterwards. */
  def compactMinhashIndex(spark: org.apache.spark.sql.SparkSession,
      table: String): Unit = minhashFamily.compact(spark, table) { tomb =>
    // fold tombstones into the rewrite both tables were getting anyway
    // (the Lucene segment-merge shape): the dead rows drop physically
    def fold(df: org.apache.spark.sql.DataFrame) =
      graft.sources.Tombstones.filterWith(df, "id", tomb, table)
    graft.sources.Bucketing.compactBucketed(spark, s"${table}_sigs", fold)
    graft.sources.Bucketing.compactBucketed(spark, s"${table}_buckets", fold)
  }

  // ----------------------------------------------------------- minhash

  /** Word n-gram shingles of a whitespace-tokenized, lowercased text. */
  private def shingles(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    if (toks.length < n) { if (toks.isEmpty) Array.empty else Array(toks.mkString(" ")) }
    else toks.sliding(n).map(_.mkString(" ")).toArray
  }

  /** MinHash signature via double hashing (Kirsch–Mitzenmacher): position
    * i's hash of a shingle is h1 + i·h2 from TWO murmur3 string passes
    * (h2 forced odd so the stride cycles the full 2^32 ring) instead of
    * `numHashes` independent string passes. Signature CPU is the dominant
    * fuzzy-dedup cost at scale, and this cuts the per-shingle string
    * hashing 32× with the same pairwise-collision statistics
    * (E[sig agreement] = Jaccard still holds per position). Deterministic;
    * identical texts ⇒ identical signatures. */
  private def minhashSig(text: String, n: Int, numHashes: Int): Array[Int] = {
    val sh = shingles(text, n)
    val sig = Array.fill(numHashes)(Int.MaxValue)
    var i = 0
    while (i < sh.length) {
      val s = sh(i)
      val h1 = MurmurHash3.stringHash(s, 0)
      val h2 = MurmurHash3.stringHash(s, 1) | 1
      var h = 0
      var v = h1
      while (h < numHashes) {
        if (v < sig(h)) sig(h) = v
        v += h2
        h += 1
      }
      i += 1
    }
    sig
  }

  /** Candidate near-duplicate pairs via MinHash + LSH banding.
    *
    * signature (map-side UDF) → explode `bands` band-hashes (rows × bands)
    * → equi-join on (band, hash) via a groupBy bucket self-pairing →
    * verify: estimated Jaccard = fraction of agreeing signature positions
    * ≥ `threshold`. Returns (id_a, id_b, est_jaccard) with id_a < id_b.
    */
  def minhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      shingleSize: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      threshold: Double = 0.8,
      singleExchangeMinDocs: Long = 1000000L,
      numDocsHint: Long = -1L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val rowsPerBand = numHashes / bands
    val spark = df.sparkSession
    import spark.implicits._

    // ADAPTIVE plan shape (round 11, the q133 precedent): above
    // `singleExchangeMinDocs` every big frame crosses the wire exactly
    // once (grouped bucket pairing + pair-exploded verification — the
    // form that fits the 100M decade on local disk); below it the join
    // forms win (AQE broadcasts the small signature frame, zero extra
    // aggregation exchanges — measured 1.4 s vs 2.1 s at sf0.1). Both
    // forms are bit-identical (DedupSpec pins them against each other
    // and the JVM mirror); one cheap count() of the column-pruned input
    // picks the path — UNLESS the caller already knows the row count
    // (`numDocsHint >= 0`, round 12 ADVICE): a derived input (a gated /
    // joined frame mid-pipeline) pays a full lineage re-evaluation for
    // that count, so composed pipelines pass the count they have.
    val bigCorpus =
      (if (numDocsHint >= 0L) numDocsHint else df.count()) >= singleExchangeMinDocs

    val sigUdf = udf((s: String) => minhashSig(s, shingleSize, numHashes))
    // cached: consumed by band bucketing AND the post-dedup verification
    // join — recomputing would double the (dominant) signature CPU
    val sigs = df.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig")).cache()

    // band b's key hashes signature positions [b*r, (b+1)*r)
    val bandCols = (0 until bands).map { b =>
      val slice = (0 until rowsPerBand).map(r => $"sig"(b * rowsPerBand + r))
      struct(lit(b).as("band"), hash(slice: _*).as("bh"))
    }
    // Bucket pairing on IDS ONLY (the exploded frame moves ~20-byte
    // rows, not 256-byte signature arrays), as ONE exchange (round 11):
    // the r10 self-join form shuffled the exploded (band, bh, id) frame
    // TWICE — once per join side; ReuseExchange does not unify the
    // auto-deduplicated subtrees (verified empirically on the executed
    // plan) and at 100M docs each copy is ~40 GB raw, which is what
    // overran this sandbox's local disk. Instead each bucket groups its
    // member ids (ONE exchange) and in-bucket pairs are emitted
    // MAP-SIDE by a double explode with the a < b triangle filter —
    // same n²-per-bucket output the join produced, zero extra
    // exchanges. LSH buckets are tiny by construction (expected
    // occupancy ≈ 1 under sane hashing; a duplicated block of k docs
    // collides as k members), so the per-bucket array row is bounded;
    // a corpus where one bucket holds millions of members produces an
    // n² candidate set under EITHER formulation — run exact dedup
    // first. DISTINCT before verification so a pair colliding in
    // several bands is verified once.
    val buckets = sigs
      .withColumn("bk", explode(array(bandCols: _*)))
      .select($"bk.band".as("band"), $"bk.bh".as("bh"), $"id")
    val cand = (
      if (bigCorpus)
        buckets.groupBy($"band", $"bh")
          .agg(collect_list($"id").as("ids"))
          .filter(size($"ids") > 1)
          .select($"ids", explode($"ids").as("id_a"))
          .select($"id_a", explode($"ids").as("id_b"))
          .filter($"id_a" < $"id_b")
          .select($"id_a", $"id_b")
      else // small corpus: plain self-join (broadcast-able at this size)
        buckets.select($"band", $"bh", $"id".as("id_a"))
          .join(buckets.select($"band", $"bh", $"id".as("id_b")), Seq("band", "bh"))
          .filter($"id_a" < $"id_b")
          .select($"id_a", $"id_b")
      ).dropDuplicates("id_a", "id_b")

    // Verification with ONE signature exchange (round 11): r10 attached
    // sig arrays via two id-keyed joins, exchanging the ~270-byte
    // signature frame TWICE (2 × 27 GB at 100M docs — the measured
    // disk killer of the third decade). Instead each deduped pair
    // explodes into its two member rows, joins the signature frame ONCE
    // on id, and re-groups by the pair key collecting exactly two
    // signatures; the per-position agreement count is symmetric, so the
    // collect order is irrelevant and the result is bit-identical to
    // the two-join form (DedupSpec pins it against the JVM mirror).
    // Exchange bytes: sigs once (27 GB) + 2·|pairs| sig-carrying rows
    // (~3 GB at 5M pairs) instead of 54 GB + the pair intermediate.
    val agreement = (a: Column, b: Column) =>
      aggregate(
        zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)
    val scored =
      if (bigCorpus) {
        val sides = cand.select($"id_a", $"id_b",
          explode(array($"id_a", $"id_b")).as("id"))
        sides.join(sigs, "id")
          .groupBy($"id_a", $"id_b")
          .agg(collect_list($"sig").as("ss"))
          .withColumn("est_jaccard", agreement($"ss"(0), $"ss"(1)))
      } else { // small corpus: two broadcast-able joins, no extra exchange
        cand
          .join(sigs.select($"id".as("id_a"), $"sig".as("sig_a")), "id_a")
          .join(sigs.select($"id".as("id_b"), $"sig".as("sig_b")), "id_b")
          .withColumn("est_jaccard", agreement($"sig_a", $"sig_b"))
      }
    scored
      .filter($"est_jaccard" >= threshold)
      .select($"id_a", $"id_b", $"est_jaccard")
  }

  // ----------------------------------------------------------- simhash

  /** 64-bit SimHash over whitespace tokens (tf-weighted sign sum). */
  private def simhash64(text: String): Long = {
    if (text == null) return 0L
    val toks = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val acc = new Array[Int](64)
    var i = 0
    while (i < toks.length) {
      val h = (MurmurHash3.stringHash(toks(i), 0).toLong << 32) |
        (MurmurHash3.stringHash(toks(i), 1).toLong & 0xffffffffL)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) acc(b) += 1 else acc(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (acc(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  val simhashUdf = udf((s: String) => simhash64(s))

  /** SimHash near-duplicate pairs with Hamming distance ≤ maxDistance.
    *
    * Pigeonhole banding, GENERALIZED (Manku et al. 2007, "Detecting
    * Near-Duplicates for Web Crawling"): split the 64-bit hash into
    * `m > maxDistance` blocks; a pair within distance d differs in ≤ d
    * blocks, so SOME (m−d)-subset of blocks is identical on both sides —
    * key every row by each of the C(m, m−d) subsets (packed into one
    * long) and equi-join. Exact `bit_count` verification then makes the
    * OUTPUT independent of the blocking scheme; only the candidate count
    * changes.
    *
    * m is the scale lever: the naive m = d+1 (one 16-bit block per key
    * at d=3) has expected bucket occupancy n/2^16, so the candidate join
    * output grows as n²/2^16 — measured as a wall at 4M docs (23 s @1M →
    * 1430 s @4M). Auto mode picks the smallest m whose key width
    * (m−d)·64/m keeps expected occupancy ≤ 2 (one `count()` action on
    * the input, same pattern as Knn's adaptive LSH bits): ≤131k rows →
    * m=4 (4 tables, 16-bit keys, identical to the classic scheme),
    * ≤134M → m=5 (10 tables, ~26-bit keys), beyond → m=6 (20 tables,
    * ~32-bit keys). More tables cost a linear factor of explode rows;
    * the join output stays ~linear in n. */
  def simhashCandidatePairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDistance: Int = 3,
      blocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val d = maxDistance
    val m =
      if (blocks > 0) blocks
      else {
        val n = df.count()
        val hi = math.max(8, d + 1)
        (d + 1 to hi).find(mm =>
          n <= 2.0 * math.pow(2.0, (mm - d) * 64.0 / mm)).getOrElse(hi)
      }
    require(m > d, s"need more blocks ($m) than the distance bound ($d)")
    require(m <= 64, "at most one block per bit")

    // 64 bits over m blocks, remainder spread over the first blocks
    val widths = Array.tabulate(m)(i => 64 / m + (if (i < 64 % m) 1 else 0))
    val offsets = widths.scanLeft(0)(_ + _)
    def blockVal(i: Int): Column = {
      val mask = if (widths(i) == 64) -1L else (1L << widths(i)) - 1
      shiftright($"sh", offsets(i)).bitwiseAND(lit(mask))
    }

    // one key per (m-d)-subset of blocks, packed into a single long
    // (key width = (m-d)·64/m < 64 bits for any d ≥ 1)
    val keyCols = (0 until m).combinations(m - d).toSeq.zipWithIndex.map {
      case (subset, ti) =>
        val packed = subset.foldLeft(lit(0L)) { (acc, bi) =>
          shiftleft(acc, widths(bi)).bitwiseOR(blockVal(bi))
        }
        struct(lit(ti).as("tbl"), packed.as("bv"))
    }

    val hashed = df.select(col(idCol).as("id"), simhashUdf(col(textCol)).as("sh"))
    val keyed = hashed.withColumn("k", explode(array(keyCols: _*)))
      .select($"k.tbl".as("tbl"), $"k.bv".as("bv"), $"id", $"sh")

    val a = keyed.select($"tbl", $"bv", $"id".as("id_a"), $"sh".as("sh_a"))
    val b = keyed.select($"tbl", $"bv", $"id".as("id_b"), $"sh".as("sh_b"))
    a.join(b, Seq("tbl", "bv")).filter($"id_a" < $"id_b")
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", bit_count($"sh_a".bitwiseXOR($"sh_b")))
      .filter($"hamming" <= maxDistance)
      .select($"id_a", $"id_b", $"hamming")
  }

  // ----------------------------------------------- exact n-gram jaccard

  /** Exact Jaccard over distinct word n-grams, computed by an inverted
    * gram join (|A∩B| from co-occurring grams; sizes joined back in) —
    * no cartesian, no per-pair UDF. Returns all co-occurring pairs with
    * their exact jaccard; filter/threshold downstream. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String, n: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val gramsUdf = udf((s: String) => shingles(s, n).distinct)
    val grams = df.select(col(idCol).as("id"), explode(gramsUdf(col(textCol))).as("gram"))
    val sizes = grams.groupBy($"id").agg(count(lit(1)).as("sz"))

    val inter = grams.withColumnRenamed("id", "id_a")
      .join(grams.withColumnRenamed("id", "id_b"), "gram")
      .filter($"id_a" < $"id_b")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("inter"))

    inter
      .join(sizes.select($"id".as("id_a"), $"sz".as("sz_a")), "id_a")
      .join(sizes.select($"id".as("id_b"), $"sz".as("sz_b")), "id_b")
      .withColumn("jaccard", $"inter".cast("double") / ($"sz_a" + $"sz_b" - $"inter"))
      .select($"id_a", $"id_b", $"jaccard")
  }

  /** Exact n-gram Jaccard of a bounded probe slice (`id < probeMax`)
    * against the whole corpus: pairs (a, b) with a < b, a in the probe set,
    * sharing ≥1 distinct gram. Inverted gram equi-join — candidate count is
    * probes × gram-sharing docs (linear in the corpus for a fixed probe
    * set), and any pair with Jaccard > 0 necessarily shares a gram, so the
    * result is exact. Returns (id_a, id_b, inter, un, jaccard). */
  def ngramJaccardProbe(
      df: DataFrame, idCol: String, textCol: String,
      n: Int, probeMax: Long): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val gramsUdf = udf((s: String) => shingles(s, n).distinct)
    val grams = df.select(col(idCol).as("id"), explode(gramsUdf(col(textCol))).as("gram"))
    val sizes = grams.groupBy($"id").agg(count(lit(1)).as("sz"))

    val inter = grams.filter($"id" < probeMax).select($"id".as("id_a"), $"gram")
      .join(grams.select($"id".as("id_b"), $"gram"), "gram")
      .filter($"id_b" > $"id_a")
      .groupBy($"id_a", $"id_b").agg(count(lit(1)).as("inter"))

    inter
      .join(sizes.select($"id".as("id_a"), $"sz".as("sz_a")), "id_a")
      .join(sizes.select($"id".as("id_b"), $"sz".as("sz_b")), "id_b")
      .withColumn("un", $"sz_a" + $"sz_b" - $"inter")
      .withColumn("jaccard", $"inter".cast("double") / $"un")
      .select($"id_a", $"id_b", $"inter", $"un", $"jaccard")
  }

  /** Scale path for "most-similar pairs by exact n-gram Jaccard":
    * MinHash-LSH candidate generation (cheap, recall ~1 for high-Jaccard
    * pairs) → exact Jaccard rerank on candidates via `array_intersect` —
    * never the quadratic all-co-occurring-pairs gram join, which explodes
    * on low-entropy corpora where every gram is high-frequency. */
  def ngramJaccardTopK(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 2,
      candidateThreshold: Double = 0.2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val gramsUdf = udf((s: String) => shingles(s, n).distinct)
    val withGrams = df.select(col(idCol).as("id"), gramsUdf(col(textCol)).as("grams"))
    minhashCandidatePairs(df, idCol, textCol,
        shingleSize = n, threshold = candidateThreshold)
      .join(withGrams.select($"id".as("id_a"), $"grams".as("ga")), "id_a")
      .join(withGrams.select($"id".as("id_b"), $"grams".as("gb")), "id_b")
      .withColumn("inter", size(array_intersect($"ga", $"gb")))
      .withColumn("jaccard",
        $"inter".cast("double") / (size($"ga") + size($"gb") - $"inter"))
      .select($"id_a", $"id_b", $"jaccard")
  }

  // ------------------------------------------------ connected components

  /** Smallest-id labels over an undirected pair list: min-label
    * propagation (hooking) PLUS pointer doubling (`label ← label(label)`,
    * Shiloach–Vishkin / hash-to-min) each round, so a component of
    * diameter d converges in O(log d) rounds rather than d — a 1,000-hop
    * near-dup chain (the templated-web-page shape at corpus scale)
    * resolves in ~10 rounds instead of silently splitting at a linear
    * iteration cap. Doubling is deferred for the first two rounds (the
    * star-shape fast path — see the inline note), so the default
    * `maxIter = 30` covers any diameter up to ~2^(30−2) = 2^28, and an
    * unconverged exit is LOUD (`IllegalStateException`), never a
    * silently-split clustering.
    *
    * Each round is two bounded-key shuffles (edge-keyed min-aggregate +
    * label self-join); label frames are staged via [[Stage.cut]] —
    * reliable-checkpointed when the session has a checkpoint dir (set one
    * on real clusters), executor-local otherwise. */
  def connectedComponents(
      vertices: DataFrame, // one column: "id"
      edges: DataFrame,    // columns: "id_a", "id_b"
      maxIter: Int = 30,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    val spark = vertices.sparkSession
    import spark.implicits._

    // Bounded fast path (r17 optimization round): near-dup EDGES are a
    // tiny fraction of any real corpus (they exist only where LSH
    // banding found collisions), so when the edge set fits the driver
    // a single union-find pass replaces the whole hook/double loop —
    // ~3 Spark jobs × rounds collapse into ONE bounded take. The
    // representative is the component's min id: exactly the
    // distributed loop's fixpoint, so results are identical. take()
    // stops at cap+1 rows; over the cap (or on non-long ids) the
    // Shiloach–Vishkin loop below runs unchanged — identical labels,
    // loudly logged. The cap bounds driver memory at ~16 B/edge.
    val longIds = edges.schema.fields.take(2)
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    if (longIds) {
      val cap = (math.min(maxDriverEdges, Int.MaxValue - 2L) + 1L).toInt
      val eRows = edges.select($"id_a", $"id_b").take(cap)
      if (eRows.isEmpty) return vertices.select($"id", $"id".as("label"))
      if (eRows.length < cap) {
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x
          while (parent.getOrElse(c, c) != c) {
            val n = parent.getOrElse(c, c); parent(c) = r; c = n
          }
          r
        }
        eRows.foreach { r =>
          val (a, b) = (r.getLong(0), r.getLong(1))
          val (ra, rb) = (find(a), find(b))
          // min-id root: the union keeps the smaller id as
          // representative, which IS the loop's min-label fixpoint
          if (ra < rb) parent(rb) = ra
          else if (rb < ra) parent(ra) = rb
        }
        val nodes = eRows.iterator
          .flatMap(r => Iterator(r.getLong(0), r.getLong(1))).toSet
        val lbl = spark.createDataFrame(
            nodes.toSeq.map(n => (n, find(n)))).toDF("id", "label")
        return vertices.join(lbl, Seq("id"), "left")
          .select($"id", coalesce($"label", $"id").as("label"))
      }
      log.info(s"connectedComponents: > $maxDriverEdges edges " +
        "(maxDriverEdges) — running the distributed hook/double loop")
    }
    val sym = edges.select($"id_a".as("src"), $"id_b".as("dst"))
      .unionByName(edges.select($"id_b".as("src"), $"id_a".as("dst")))

    var labels = vertices.select($"id", $"id".as("label"))
    // Fast path: no edges → every vertex is its own component. Skips the
    // per-iteration checkpoint+count machinery entirely — on an already-
    // deduped corpus (zero candidate pairs) this is the common case.
    if (edges.isEmpty) return labels
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // hook: every vertex takes the min of its own and its neighbors'
      // labels (edge-keyed shuffle; min combines map-side)
      val neighborMin = sym
        .join(labels.withColumnRenamed("id", "dst").withColumnRenamed("label", "nl"), "dst")
        .groupBy($"src".as("id")).agg(min($"nl").as("nmin"))
      val hookedRaw = labels.join(neighborMin, Seq("id"), "left")
        .select($"id", least($"label", coalesce($"nmin", $"label")).as("label"))
      // double: label ← label(label). Labels are always vertex ids and
      // label(x) ≤ x (monotone min), so one self-join halves every
      // pointer chain; with hooking this gives the O(log d) bound.
      // ONLY from round 3 (r10): hooking alone converges diameter ≤ 2
      // components — the star-around-min-id shape of almost every real
      // dedup cluster — in two rounds, and the doubling self-join plus
      // its extra lineage cut is pure per-round overhead there (measured
      // 0.4 s on q35 at sf0.1). A genuine chain still gets the
      // Shiloach-Vishkin bound: 2 plain + 28 doubled rounds cover
      // diameter ~2^28 at the default maxIter = 30.
      val next =
        if (iter < 2) hookedRaw
        else {
          val hooked = Stage.cut(hookedRaw) // feeds both sides of the self-join
          hooked.as("a")
            .join(hooked.select($"id".as("pid"), $"label".as("pl")).as("p"),
              $"a.label" === $"pid", "left")
            .select($"a.id", coalesce($"pl", $"a.label").as("label"))
        }
      val staged = Stage.cut(next)
      val changed = staged.join(labels.withColumnRenamed("label", "old"), "id")
        .filter($"label" =!= $"old").limit(1).count()
      labels = staged
      converged = changed == 0L
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "with pointer doubling (deferred for the first 2 rounds) that " +
          f"needs a component diameter beyond ~2^${maxIter - 2}%d; raise " +
          "maxIter (results would otherwise be a silently SPLIT " +
          "clustering, never returned)")
    labels
  }

  /** End-to-end fuzzy dedup: MinHash-LSH candidates → exact components →
    * (id, cluster_id) where cluster_id is the smallest member id.
    *
    * Label propagation runs only over vertices that appear in some
    * candidate pair — on a deduped-ish corpus that subgraph is a tiny
    * fraction of the data, so the iterative rounds never touch the full
    * table; singletons get cluster_id = id via one left join at the end. */
  def fuzzyClusters(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double = 0.8): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val pairs = Stage.cut( // computed once; reused as edges and vertex set
      minhashCandidatePairs(df, idCol, textCol, threshold = threshold))
    val touched = pairs.select($"id_a".as("id"))
      .unionByName(pairs.select($"id_b".as("id"))).distinct()
    val labels = connectedComponents(touched, pairs)
    df.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select($"id".as(idCol), coalesce($"label", $"id").as("cluster_id"))
  }
}
