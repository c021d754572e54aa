package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The write protocol of one persisted index family — BM25 postings, IVF
  * cells, MinHash signatures. A family declares its member tables ONCE
  * here, and every maintenance op of every family runs the same
  * sequence through it: build, delete, append commit, compaction,
  * append recovery, the snapshot record and the incremental read.
  * Member `m` of index `t` is the table `t_m`; every op runs under the
  * index's [[Generations.withMaintenanceLock]] (reentrant, so ops nest).
  *
  * @param name the family's name in log lines (`bm25`, `ivf`, `minhash`)
  * @param members every member the snapshot manifest records
  * @param anchor the member that exists iff the index does: append
  *   sidecars and the tombstone list live beside it, and incremental
  *   reads read it
  * @param fileTracked the members appends grow in place — each commit
  *   records their file delta, and compaction audits them
  * @param preMarker a commit the family makes between intent and marker
  *   (BM25's dfs merge, a generation tagged with the batch id): given the
  *   index, the batch its current state tags as past that commit, with
  *   the step that batch's roll-forward runs before its snapshot record.
  *   None when the marker alone is the point of no return. */
final class IndexFamily(val name: String, members: Seq[String],
    anchor: String, fileTracked: Seq[String],
    preMarker: Option[(SparkSession, String) => Option[(String, () => Unit)]] = None) {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  private def member(table: String, m: String): String = s"${table}_$m"

  private def anchorOf(table: String): String = member(table, anchor)

  /** One manifest row in the index's snapshot log per maintenance commit
    * — what time-travel probes replay. File-tracked members record each
    * commit's file list (`addedFiles`: an append's O(batch) delta), which
    * is what lets a historical probe cross an append commit. */
  def record(spark: SparkSession, table: String, op: String,
      revertible: Boolean, addedFiles: Map[String, Seq[String]] = Map.empty)
      : Unit =
    Snapshots.record(spark, table, op, revertible,
      members.map(member(table, _)), anchorOf(table),
      fileTracked.map(member(table, _)).toSet, addedFiles)

  /** Recover an append that died mid-commit ([[PendingAppend.recover]]):
    * past its marker the batch rolls FORWARD (staged moves replayed,
    * snapshot commit `append-recovery` recorded), before it BACK (stage
    * and sidecar deleted, index untouched — re-run it). A family with a
    * pre-marker commit first writes the marker of the batch its state
    * tags, so that commit is its point of no return. Called at the start
    * of every maintenance op. */
  def recover(spark: SparkSession, table: String): Unit =
    Generations.withMaintenanceLock(table) {
      val a = anchorOf(table)
      if (spark.sessionState.catalog.tableExists(
          org.apache.spark.sql.catalyst.TableIdentifier(a))) {
        val tagged = preMarker.flatMap(_(spark, table))
          .filter(t => PendingAppend.intentExists(spark, a, t._1))
        tagged.foreach(t => PendingAppend.markCommitted(spark, a, t._1))
        PendingAppend.recover(spark, a, added => {
          // every append's pre-marker commit follows this recovery, so
          // only the tagged batch can carry a marker
          if (preMarker.nonEmpty) tagged.getOrElse(
            throw new IllegalStateException(s"$name $table: a pending " +
              "append passed its commit marker but the index state is not " +
              "tagged with it; delete its _pending_idx_append_/" +
              "_commit_idx_append_ files and rebuild the index"))._2()
          record(spark, table, "append-recovery", revertible = false, added)
        })
      }
    }

  /** Build, or rebuild over a live index: recover first (a rebuild
    * supersedes the generation a crashed append's intent targets, after
    * which its marker could never roll forward), then `write` the
    * members, register an empty tombstone list and record `build`. */
  def build(spark: SparkSession, table: String, path: String)(
      write: => Unit): Unit =
    Generations.withMaintenanceLock(table) {
      recover(spark, table)
      write
      Tombstones.init(spark, table, s"$path/deletes")
      record(spark, table, "build", revertible = true)
    }

  /** DELETE `ids` (first column): recover, merge them into the
    * tombstone list, record `delete`. Revertible — the merge lands as a
    * fresh deletes generation and the prior list survives under
    * retention, so "undo the takedown" is the `AsOf.Commits(1)` probe. */
  def delete(spark: SparkSession, table: String, ids: DataFrame): Unit =
    Generations.withMaintenanceLock(table) {
      recover(spark, table)
      Tombstones.add(spark, table, ids, anchorOf(table))
      record(spark, table, "delete", revertible = true)
    }

  /** The anchor member's rows appended in `(fromId, toId]` — the
    * incremental-consumer read ("what entered the index since the state
    * I last processed"), resolved from the snapshot log's add-file
    * deltas ([[Snapshots.readAddedBetween]]): O(window) metadata and a
    * pinned scan of exactly the appended files, no directory walk.
    * Endpoints come from [[Snapshots.commitIdFor]] (depth / timestamp /
    * tag); compaction commits in the window are transparent; a `delete`
    * commit in it refuses unless `ignoreDeletes` (then anti-join the
    * live tombstone list to drop since-deleted ids). */
  def addedBetween(spark: SparkSession, table: String, fromId: Long,
      toId: Long, ignoreDeletes: Boolean): DataFrame =
    Snapshots.readAddedBetween(spark, table, anchorOf(table), fromId, toId,
      ignoreDeletes)

  /** Commit a batch whose members are already staged beside the index
    * ([[StagedAppend.stage]] / [[Bucketing.stageBucketed]]): renew the
    * lease (the staged write is the phase that scales with the batch),
    * persist the intent, run the family's pre-marker `commit`, write the
    * marker, move the files in and record `op` (not revertible: readers
    * cannot un-see appended files; the staged file names are the
    * commit's add-file delta), then auto-compact once the anchor counts
    * `autoCompactAfter` adds since its base manifest (0 disables).
    *
    * @param commit BM25's dfs merge: `run(batchId)` is rolled back (stage
    *   and sidecar deleted) if it throws; `committed` runs once it is
    *   durable. A sidecar gone after that means another JVM's recovery
    *   completed the batch, so nothing is left to do.
    * @param beforeRecord runs inside the completion with the batch id,
    *   before the record (BM25's bounds delta). */
  def appendStaged(spark: SparkSession, table: String,
      staged: Seq[PendingAppend.StagedMember], op: String,
      autoCompactAfter: Int, compact: () => Unit,
      commit: Option[(String => Unit, () => Unit)] = None,
      beforeRecord: String => Unit = _ => ()): Unit =
    Generations.withMaintenanceLock(table) {
      Generations.renewLease(table)
      val a = anchorOf(table)
      val batchId = java.util.UUID.randomUUID().toString.take(8)
      PendingAppend.writeIntent(spark, a, batchId, staged)
      PendingAppend.crashPoint("pending.afterIntent")
      val completedElsewhere = commit.exists { case (run, committed) =>
        try run(batchId)
        catch { case e: Throwable =>
          PendingAppend.rollBack(spark, a, batchId, staged)
          throw e
        }
        committed()
        !PendingAppend.intentExists(spark, a, batchId)
      }
      if (completedElsewhere)
        logger.warn(s"$name append $batchId on $table: completed by another " +
          "JVM's recovery after this op outran its lease TTL — the batch " +
          "is fully applied; nothing left to do")
      else {
        PendingAppend.markCommitted(spark, a, batchId)
        PendingAppend.crashPoint("pending.afterMarker")
        PendingAppend.complete(spark, a, batchId, staged, added => {
          beforeRecord(batchId)
          record(spark, table, op, revertible = false, added)
        })
        if (autoCompactAfter > 0 &&
            Snapshots.addsSinceBase(spark, table, a) >= autoCompactAfter) {
          logger.info(s"$name $table: $autoCompactAfter appends since the " +
            "last base manifest — auto-compacting")
          compact()
        }
      }
    }

  /** Compaction (and IVF's rebuild): recover, audit the file-tracked
    * members for files the log never recorded (named loudly before the
    * fresh base manifest folds them back into served history), then
    * `rewrite` with the tombstone frame folded in, reset the list AFTER
    * the rewrite's flips (a crash in between leaves no-op tombstones the
    * next compaction clears) and record `op`. */
  def compact(spark: SparkSession, table: String, op: String = "compact")(
      rewrite: Option[(DataFrame, Long)] => Unit): Unit =
    Generations.withMaintenanceLock(table) {
      recover(spark, table)
      Snapshots.auditUnrecorded(spark, table, fileTracked.map(member(table, _)))
      val tomb = Tombstones.frame(spark, table)
      rewrite(tomb)
      if (tomb.nonEmpty) Tombstones.clear(spark, table)
      record(spark, table, op, revertible = true)
    }
}
