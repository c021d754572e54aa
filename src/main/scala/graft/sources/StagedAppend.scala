package graft.sources

import org.apache.spark.sql.DataFrame

/** Stage-and-move append into a live generation directory — the shared
  * mechanic behind every in-place partitioned index append (BM25
  * postings, IVF cells and the SQ8 replica ride this helper).
  *
  * WHY staging instead of a direct `mode("append")` write:
  *  1. CRASH SAFETY — a failure during the WRITE leaves the live
  *     generation untouched (the stage directory is sibling residue,
  *     reclaimed by the next attempt or deletion); only the rename pass
  *     itself is a partial-visibility window, and renames are
  *     per-file metadata ops — microseconds against the write. A direct
  *     append exposes half-written files to concurrent probes for the
  *     whole write duration.
  *  2. ADD-FILE TRACKING — the rename pass KNOWS exactly which files
  *     the batch added, which is what lets the snapshot log record an
  *     O(batch) `add` delta instead of re-walking the whole generation
  *     directory per commit ([[Snapshots]] r16 contract: append commits
  *     pay zero FS walks).
  *
  * File names carry the write job's UUID, so moved files never collide
  * with resident ones, and a re-run after a crash never double-moves
  * (its stage is a fresh directory).
  */
object StagedAppend {

  /** STAGE HALF (r17: split from the move so the append's pending
    * sidecar can persist the batch intent BETWEEN them —
    * [[PendingAppend]]): write `df` partitioned by `partCol` into a
    * sibling staging directory of `genTable`'s location and return the
    * staged member descriptor (stage path + generation-relative file
    * names, sorted). The live index is untouched; a write FAILURE
    * deletes the stage and rethrows (a JVM death instead leaves an
    * orphan stage, swept by [[PendingAppend.recover]]). The caller
    * records the intent, marks the commit, then moves the files in via
    * [[PendingAppend.complete]]. */
  def stage(df: DataFrame, member: String, genTable: String,
      partCol: String): PendingAppend.StagedMember = {
    val spark = df.sparkSession
    val destRoot = new org.apache.hadoop.fs.Path(
      Generations.location(spark, genTable))
    val fs = destRoot.getFileSystem(spark.sessionState.newHadoopConf())
    val stageP = new org.apache.hadoop.fs.Path(destRoot.toString +
      "__stage" + java.util.UUID.randomUUID().toString.take(8))
    val files = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      df.write.format("parquet").mode("overwrite")
        .partitionBy(partCol).save(stageP.toString)
      fs.listStatus(stageP)
        .filter(s => s.isDirectory && s.getPath.getName.startsWith(partCol + "="))
        .foreach { pdir =>
          fs.listStatus(pdir.getPath)
            .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
              !f.getPath.getName.startsWith("."))
            .foreach(f =>
              files += s"${pdir.getPath.getName}/${f.getPath.getName}")
        }
    } catch {
      case e: Throwable => fs.delete(stageP, true); throw e
    }
    PendingAppend.StagedMember(member, genTable, "partitioned",
      stageP.toString, files.toSeq.sorted)
  }
}
