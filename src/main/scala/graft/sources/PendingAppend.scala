package graft.sources

import org.apache.spark.sql.SparkSession

/** Self-healing crash recovery for staged in-place appends — the ONE
  * protocol every index family's append loop (BM25 postings, IVF cells
  * + SQ8 replica, MinHash sigs + buckets) commits through.
  *
  * Protocol (all under the family maintenance lock):
  *
  *  1. the op STAGES every member's batch files beside the index
  *     ([[StagedAppend.stage]] / [[Bucketing.stageBucketed]]) — a crash
  *     here leaves sibling residue only, swept at the next recovery;
  *  2. [[writeIntent]] persists the batch's full intent — every
  *     member's (generation, layout kind, stage dir, file list) — in
  *     ONE sidecar file `_pending_idx_append_<batch>`;
  *  3. [[markCommitted]] creates the COMMIT MARKER
  *     `_commit_idx_append_<batch>` — the atomic point of no return:
  *     after it the batch's data is fully staged and the append WILL
  *     complete (possibly by a successor JVM), before it the batch
  *     never happened. BM25 has one more commit between intent and
  *     marker (its dfs merge, a fresh generation tagged with the batch
  *     id); its recovery derives the marker from that tag before
  *     calling [[recover]], so the tagged dfs generation is BM25's
  *     point of no return and the marker follows from it;
  *  4. [[complete]] moves every staged file in (idempotent,
  *     src-or-dest-tolerant renames), hands the add-file delta to the
  *     caller's snapshot record, and cleans up — marker before
  *     sidecar, so re-entering recovery at ANY interleaving converges.
  *
  * [[recover]] — called at the start of every maintenance op of the
  * family — replays the decision: marker present → roll FORWARD via
  * the same [[complete]]; absent → roll BACK ([[rollBack]]: stages +
  * sidecar deleted, index untouched, re-run the batch). A second
  * recovery of a crash-during-recovery is idempotent: moves skip files
  * whose source is gone (destination verified), a duplicate snapshot
  * record's add rows fold away by file-set dedup, and a sidecar
  * outliving its marker (crash inside cleanup) rolls "back" over
  * already-moved stages — deleting empty residue, never index files.
  */
object PendingAppend {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** One staged member of a pending append.
    * @param mkind `partitioned` (directory-partitioned layout —
    *   RECOVER PARTITIONS after the move) or `bucketed` (flat bucketed
    *   files — refresh only).
    * @param stageTbl the staging write's temporary catalog entry
    *   (bucketed stages only; "" when none) — dropped at cleanup. */
  final case class StagedMember(member: String, gen: String,
      mkind: String, stage: String, files: Seq[String],
      stageTbl: String = "")

  /** Test seam: set to a point name to make the next matching
    * [[crashPoint]] throw, simulating a JVM death there; cleared on
    * fire. Points, in order: `pending.afterIntent` (sidecar written, no
    * marker → roll back), `bm25.append.afterDfsCommit` (BM25 only: dfs
    * merge committed, no marker yet → recovery derives the marker from
    * the dfs tag and rolls forward), `pending.afterMarker` (marker
    * written, nothing moved → roll forward), `pending.afterMove` (files
    * in, snapshot not recorded → roll forward records),
    * `snapshots.record.afterFileRows` (inside [[Snapshots.record]]: the
    * commit's file-log rows landed, its cached per-member counts and
    * manifest row did not → roll forward records again). */
  private[graft] var testCrashPoint: String = ""
  private[graft] def crashPoint(name: String): Unit =
    if (testCrashPoint == name) {
      testCrashPoint = ""
      throw new RuntimeException(s"simulated crash at $name (test seam)")
    }

  private def parentDir(spark: SparkSession,
      anchorTable: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      Generations.basePath(spark, anchorTable)).getParent

  private def sidecarName(batchId: String) = s"_pending_idx_append_$batchId"
  private def sidecarPath(spark: SparkSession, anchorTable: String,
      batchId: String) = new org.apache.hadoop.fs.Path(
    parentDir(spark, anchorTable), sidecarName(batchId))
  private def markerName(batchId: String) = s"_commit_idx_append_$batchId"

  private def fsOf(spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** Persist the batch intent (step 2) — BEFORE the commit marker,
    * which is before any rename touches the live index. */
  def writeIntent(spark: SparkSession, anchorTable: String,
      batchId: String, members: Seq[StagedMember]): Unit = {
    val p = sidecarPath(spark, anchorTable, batchId)
    val fs = fsOf(spark, p)
    val out = fs.create(p, true)
    try {
      val sb = new StringBuilder("v=1\n")
      members.foreach { m =>
        sb.append(s"member=${m.member}\t${m.gen}\t${m.mkind}\t${m.stage}" +
          s"\t${m.stageTbl}\n")
        m.files.foreach(f => sb.append(s"mfile=${m.member}\t$f\n"))
      }
      out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** Whether the batch's intent sidecar still exists — the re-check an
    * op that may have outrun its lease makes around its commit point:
    * gone before it means another JVM's recovery rolled the batch back,
    * gone after it means that recovery completed the batch. */
  def intentExists(spark: SparkSession, anchorTable: String,
      batchId: String): Boolean = {
    val p = sidecarPath(spark, anchorTable, batchId)
    fsOf(spark, p).exists(p)
  }

  /** The commit point (step 3): one atomic small-file create. */
  def markCommitted(spark: SparkSession, anchorTable: String,
      batchId: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(parentDir(spark, anchorTable),
      markerName(batchId))
    fsOf(spark, p).create(p, true).close()
  }

  /** Idempotent, loss-detecting staged-file move: each file must exist
    * at the SOURCE (fresh) or the DESTINATION (moved by an earlier
    * attempt — file names carry the write job's UUID, so a present
    * destination is always this batch's own move); neither existing
    * means the staged batch was lost after its commit point — fail
    * loudly instead of recording files that never landed (r16 ADVICE
    * on the BM25 twin of this pass). */
  private def moveIn(spark: SparkSession, m: StagedMember): Unit = {
    val destRoot = new org.apache.hadoop.fs.Path(
      Generations.location(spark, m.gen))
    val fs = fsOf(spark, destRoot)
    val stageP = new org.apache.hadoop.fs.Path(m.stage)
    m.files.foreach { rel =>
      val src = new org.apache.hadoop.fs.Path(stageP, rel)
      val dest = new org.apache.hadoop.fs.Path(destRoot, rel)
      if (fs.exists(src)) {
        if (!fs.exists(dest.getParent)) fs.mkdirs(dest.getParent)
        if (!fs.rename(src, dest))
          require(fs.exists(dest),
            s"pending append: rename $src -> $dest failed and the " +
              "destination is absent")
      } else require(fs.exists(dest),
        s"pending append of ${m.member}: staged file $rel exists at " +
          "neither the stage nor the destination — the batch is lost " +
          "past its commit point; rebuild the index")
    }
    if (m.mkind == "partitioned")
      spark.sql(s"ALTER TABLE ${m.gen} RECOVER PARTITIONS")
    spark.catalog.refreshTable(m.gen)
  }

  private def cleanupStage(spark: SparkSession, m: StagedMember): Unit = {
    val p = new org.apache.hadoop.fs.Path(m.stage)
    fsOf(spark, p).delete(p, true)
    if (m.stageTbl.nonEmpty)
      spark.sql(s"DROP TABLE IF EXISTS ${m.stageTbl}")
  }

  /** Step 4 — move everything in, record the snapshot commit, clean
    * up. Shared verbatim by the live append (right after
    * [[markCommitted]]) and by recovery's roll-forward, so the two
    * paths cannot diverge. Cleanup order is marker-then-sidecar LAST:
    * re-entry at any crash inside this method converges (see object
    * doc). */
  def complete(spark: SparkSession, anchorTable: String, batchId: String,
      members: Seq[StagedMember],
      record: Map[String, Seq[String]] => Unit): Unit = {
    members.foreach(moveIn(spark, _))
    crashPoint("pending.afterMove")
    // the sidecar is deleted LAST: already gone means a recovery in
    // another JVM (this op outran its lease) completed and recorded the
    // batch — recording again would double-apply the caller's delta
    if (intentExists(spark, anchorTable, batchId))
      record(members.map(m => m.member -> m.files).toMap)
    members.foreach(cleanupStage(spark, _))
    val parent = parentDir(spark, anchorTable)
    val fs = fsOf(spark, parent)
    fs.delete(new org.apache.hadoop.fs.Path(parent, markerName(batchId)),
      false)
    fs.delete(new org.apache.hadoop.fs.Path(parent, sidecarName(batchId)),
      false)
  }

  /** Roll a batch BACK before its commit point: delete its stages and
    * its sidecar; the index never saw it. Idempotent — also the abort
    * path of a live op that lost its commit (e.g. a lost CAS). */
  def rollBack(spark: SparkSession, anchorTable: String, batchId: String,
      members: Seq[StagedMember]): Unit = {
    members.foreach(cleanupStage(spark, _))
    val p = sidecarPath(spark, anchorTable, batchId)
    fsOf(spark, p).delete(p, false)
  }

  private def parseSidecar(lines: List[String]): Seq[StagedMember] = {
    val files = lines.filter(_.startsWith("mfile="))
      .map(_.stripPrefix("mfile=").split("\t", 2))
      .collect { case Array(m, f) => (m, f) }
      .groupBy(_._1).map { case (m, fs) => m -> fs.map(_._2) }
    lines.filter(_.startsWith("member="))
      .map(_.stripPrefix("member=").split("\t", -1))
      .collect { case Array(member, gen, mkind, stage, stageTbl) =>
        StagedMember(member, gen, mkind, stage,
          files.getOrElse(member, Seq.empty), stageTbl)
      }
  }

  /** Recover every pending append of the family anchored at
    * `anchorTable` — called through [[IndexFamily.recover]] (under the
    * family lock) at the start of every maintenance op, and exposed as
    * each operator's `recoverPendingAppend` for an operator who just
    * restarted a dead ingest job. `record` is the family's roll-forward
    * callback (op = "append-recovery"). Also sweeps orphan stage directories —
    * residue of a crash DURING the staged write, before any sidecar
    * existed (safe under the lock: no live append of this family can
    * be in flight). */
  def recover(spark: SparkSession, anchorTable: String,
      record: Map[String, Seq[String]] => Unit): Unit = {
    if (!spark.sessionState.catalog.tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(anchorTable))) return
    val parent = parentDir(spark, anchorTable)
    val fs = fsOf(spark, parent)
    if (!fs.exists(parent)) return
    val pendings = fs.listStatus(parent).filter(s =>
      s.isFile && s.getPath.getName.startsWith("_pending_idx_append_"))
    pendings.sortBy(_.getPath.getName).foreach { pend =>
      val batchId = pend.getPath.getName.stripPrefix("_pending_idx_append_")
      val in = fs.open(pend.getPath)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val members = parseSidecar(lines)
      val marker = new org.apache.hadoop.fs.Path(parent, markerName(batchId))
      if (fs.exists(marker)) {
        logger.warn(s"pending append $batchId at $anchorTable: rolling " +
          "FORWARD — the batch passed its commit marker but its staged " +
          "moves and/or snapshot record did not finish")
        members.foreach { m =>
          val cur = Generations.currentOpt(spark, m.member)
          require(cur.contains(m.gen),
            s"pending append $batchId targets generation ${m.gen} of " +
              s"${m.member} but the member now serves " +
              s"${cur.getOrElse("<absent>")} — a generation-flipping op " +
              "ran without recovering first; rebuild the index")
        }
        complete(spark, anchorTable, batchId, members, record)
      } else {
        logger.warn(s"pending append $batchId at $anchorTable: rolling " +
          "BACK — it never reached its commit marker; the index is " +
          "untouched, re-run the batch")
        rollBack(spark, anchorTable, batchId, members)
      }
    }
    // orphan stages: a crash during the staged WRITE left directories
    // no sidecar references (a sidecar is written only after every
    // stage is complete) — sibling residue, reclaimed here. Listed
    // AFTER the batches above resolved: their own stages are gone by
    // now, so only true orphans remain
    fs.listStatus(parent).filter(s => s.isDirectory &&
        s.getPath.getName.contains("__stage"))
      .foreach { d =>
        logger.warn(s"pending append recovery at $anchorTable: deleting " +
          s"orphan stage directory ${d.getPath.getName} (a staged write " +
          "died before persisting its intent; the index never saw it)")
        fs.delete(d.getPath, true)
      }
  }
}
