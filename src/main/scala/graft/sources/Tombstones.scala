package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Document tombstones for persisted indexes — the DELETE primitive
  * completing each index family's lifecycle (build → probe → append →
  * compact → DELETE), shared by the BM25 posting index, the MinHash
  * signature index and the IVF cell index.
  *
  * The Lucene model (live-docs bitset / Delta deletion vectors, adapted
  * to the [[Generations]] catalog): a delete NEVER rewrites index data —
  * it merges the ids into a tiny `{index}_deletes` table (a fresh
  * generation, atomic flip), and every probe anti-joins its
  * index-side frames against that list, so deleted documents vanish
  * from results immediately at batch-sized cost. The next COMPACTION
  * folds the tombstones into the rewrite it already does (dropping the
  * dead rows physically) and resets the list — delete cost is amortized
  * into maintenance the index was paying anyway, never a per-delete
  * corpus rewrite. At 100 TB this is the only shape that works: a
  * takedown batch of 10^4 ids must not trigger a 10^11-row index
  * rewrite.
  *
  * Contract notes shared by all three families:
  *  - a tombstoned id stays invisible even if re-appended BEFORE the
  *    folding compaction (the anti-join filters its new rows too, and
  *    the fold then drops them); re-add an id by appending AFTER a
  *    compaction has folded its tombstone;
  *  - the list is expected to be maintenance-batch-sized. Probes
  *    broadcast it below `broadcastMaxDeletes`; above, the anti-join
  *    runs as a plain shuffle join — identical rows, loudly logged
  *    (the serving-cap pattern);
  *  - WRITES serialize per index family within this JVM (every
  *    [[add]]/[[clear]]/[[init]] runs under
  *    [[Generations.withMaintenanceLock]], so two concurrent adds merge
  *    both batches instead of losing one to the read-merge-write race),
  *    and each merge commits via the CAS form of [[Generations.commit]]
  *    — a cross-JVM writer the lock cannot see is detected and aborted
  *    loudly, never silently dropped. Concurrent PROBES are always safe
  *    (each merge is a fresh generation behind an atomic flip).
  */
object Tombstones {

  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  def tableName(index: String): String = s"${index}_deletes"

  private def exists(spark: SparkSession, name: String): Boolean =
    spark.sessionState.catalog.tableExists(
      org.apache.spark.sql.catalyst.TableIdentifier(name))

  /** The tombstone count is cached as a property on the live view (set by
    * [[init]]/[[add]]/[[clear]] right after their generation flip), so
    * the per-probe check is ONE catalog metadata read — no Spark job. An
    * index probe runs this on every call, and the common case is an
    * empty list; paying a count job per probe for it was measurable at
    * bench scale. The property lives on the catalog entry the flip
    * itself rewrites, so it can never describe a different generation
    * than the one the view serves (a crash between flip and property
    * write leaves the property absent → [[frame]] falls back to
    * counting). */
  private val countProp = "graft.tombstones"

  private def writeCountProp(spark: SparkSession, live: String, n: Long): Unit =
    spark.sql(s"ALTER VIEW $live SET TBLPROPERTIES ('$countProp' = '$n')")

  /** The sibling `deletes` directory of an existing index table's
    * location: generation suffixes are stripped so every generation of
    * the tombstone list lands beside the index's own tables. */
  private def pathBeside(spark: SparkSession, anchorTable: String): String = {
    val loc = Generations.location(spark, anchorTable)
      .replaceAll("__g\\d+$", "")
    new org.apache.hadoop.fs.Path(loc).getParent.toString + "/deletes"
  }

  /** Register an EMPTY tombstone list for a fresh index — called by the
    * index builders so probes can rely on the table existing for any
    * index this version writes (probes still tolerate absence, for
    * indexes persisted by pre-delete builds). */
  def init(spark: SparkSession, index: String, path: String): Unit =
    Generations.withMaintenanceLock(index) {
      import spark.implicits._
      val live = tableName(index)
      val base = Generations.currentOpt(spark, live)
      val gen = Generations.reserve(spark, live)
      Seq.empty[Long].toDF("id")
        .write.format("parquet")
        .option("path", Generations.genPath(path, gen))
        .mode("overwrite").saveAsTable(gen)
      Generations.commit(spark, live, gen, base)
      writeCountProp(spark, live, 0L)
    }

  /** Merge `ids` (first column, cast to LONG) into the index's tombstone
    * list: distinct union written as a fresh generation, one atomic
    * flip. A probe concurrent with the merge reads the complete previous
    * list (stale by one batch at worst, never partial). Idempotent —
    * re-deleting an id is a no-op. */
  def add(spark: SparkSession, index: String, ids: DataFrame,
      anchorTable: String): Unit = Generations.withMaintenanceLock(index) {
    val live = tableName(index)
    val batch = ids.select(ids.columns.head).toDF("id")
      .select(col("id").cast("long").as("id"))
    // read-merge-write under the family maintenance lock (in-process
    // adds serialize — no lost batch) with a CAS commit on the merged
    // base (a cross-JVM racer is detected, not silently dropped)
    val (merged, base, basePathOf) =
      if (exists(spark, live)) {
        val gen = Generations.ensureGen(spark, live)
        (spark.table(gen).unionByName(batch).distinct(), Some(gen),
          Generations.basePath(spark, live))
      } else (batch.distinct(), None, pathBeside(spark, anchorTable))
    val nextGen = Generations.reserve(spark, live)
    merged.coalesce(1)
      .write.format("parquet")
      .option("path", Generations.genPath(basePathOf, nextGen))
      .mode("overwrite").saveAsTable(nextGen)
    Generations.commit(spark, live, nextGen, base)
    // count the WRITTEN generation (deletes are rare; probes are not)
    writeCountProp(spark, live, spark.table(nextGen).count())
  }

  /** Reset the list to empty — called by compaction/rebuild AFTER the
    * fold's generation flip has physically dropped the dead rows. A
    * crash between the fold and this reset leaves tombstones for rows
    * that no longer exist: the anti-join is then a no-op, so probes
    * stay correct and the next compaction clears the residue. */
  def clear(spark: SparkSession, index: String): Unit =
    Generations.withMaintenanceLock(index) {
      val live = tableName(index)
      if (exists(spark, live)) {
        val gen = Generations.ensureGen(spark, live)
        import spark.implicits._
        val nextGen = Generations.reserve(spark, live)
        Seq.empty[Long].toDF("id")
          .write.format("parquet")
          .option("path",
            Generations.genPath(Generations.basePath(spark, live), nextGen))
          .mode("overwrite").saveAsTable(nextGen)
        Generations.commit(spark, live, nextGen, Some(gen))
        writeCountProp(spark, live, 0L)
      }
    }

  /** The current tombstone ids as a 1-column (`id` LONG) frame plus
    * their count, or None when the index predates deletes or the list
    * is empty — callers skip the anti-join entirely in that case (the
    * common no-deletes probe pays this table-exists check plus one tiny
    * count; the list is a 1-file table, so the count is a footer
    * read). */
  def frame(spark: SparkSession, index: String): Option[(DataFrame, Long)] = {
    val live = tableName(index)
    if (!exists(spark, live)) return None
    val n = spark.sessionState.catalog
      .getTableMetadata(org.apache.spark.sql.catalyst.TableIdentifier(live))
      .properties.get(countProp) match {
      case Some(c) => c.toLong // the maintained count — no Spark job
      case None => // crash residue / hand-built view: count the real thing
        Generations.refreshTables(spark, live)
        spark.table(live).count()
    }
    if (n == 0L) None
    else {
      // each delete lands as a FRESH generation table (new name, new
      // location), so the only session-cache to drop is the view entry
      Generations.refreshTables(spark, live)
      Some((spark.table(live), n))
    }
  }

  /** [[frame]] for a SPECIFIC generation table — time-travel probes
    * resolve the deletes member from the family snapshot log and read
    * that generation directly. The maintained count property lives on
    * the live view, so this counts the table: parquet footers of a flat
    * 1-file list, or a count job for any other layout. */
  def frameAt(spark: SparkSession, genTable: String): Option[(DataFrame, Long)] = {
    if (!exists(spark, genTable)) return None
    spark.catalog.refreshTable(genTable)
    val df = spark.table(genTable)
    // row count from the parquet footers, driver-side: the list is a
    // tiny 1-file table and the common historical state is EMPTY — a
    // count() job per time-travel probe was pure job latency (r18).
    // Footer row counts are exact (parquet metadata), so this equals
    // df.count() on the flat layout the writers produce. Anything else
    // — a subdirectory (a partitioned or nested layout the flat listing
    // would not see into), no data file at all, or a read failure —
    // falls back to the job: a footer count of 0 would mean "no
    // tombstones" and serve deleted rows.
    val footerCount = try {
      val loc = new org.apache.hadoop.fs.Path(
        Generations.location(spark, genTable))
      val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
      val listed = fs.listStatus(loc).filter { s =>
        val nm = s.getPath.getName
        !nm.startsWith("_") && !nm.startsWith(".")
      }
      if (listed.isEmpty || listed.exists(_.isDirectory)) None
      else Some(listed.map { s =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            s.getPath, spark.sessionState.newHadoopConf()))
        try rd.getRecordCount finally rd.close()
      }.sum)
    } catch { case e: Throwable =>
      logger.warn(s"tombstones: footer count of $genTable failed ($e) — " +
        "falling back to a count job")
      None
    }
    val n = footerCount.getOrElse(df.count())
    if (n == 0L) None else Some((df, n))
  }

  /** Anti-join `df` against the index's tombstones on `idColumn` —
    * identity when no tombstones exist. The list broadcasts below
    * `broadcastMaxDeletes` rows (the normal case: a takedown batch);
    * above, the join runs as a plain shuffle, loudly logged — identical
    * rows, corpus-scale exchange. */
  def filter(spark: SparkSession, index: String, df: DataFrame,
      idColumn: String, broadcastMaxDeletes: Long = 8000000L): DataFrame =
    filterWith(df, idColumn, frame(spark, index), index, broadcastMaxDeletes)

  /** [[filter]] with a pre-fetched [[frame]] — probes that anti-join
    * several frames (postings + floor lists; sigs + buckets) fetch the
    * list once and reuse it, paying one count per probe instead of one
    * per consumer. */
  def filterWith(df: DataFrame, idColumn: String,
      tomb: Option[(DataFrame, Long)], index: String,
      broadcastMaxDeletes: Long = 8000000L): DataFrame =
    tomb match {
      case None => df
      case Some((dels, n)) =>
        val right =
          if (n <= broadcastMaxDeletes) broadcast(dels)
          else {
            logger.warn(s"tombstones: ${tableName(index)} holds $n ids, " +
              s"above broadcastMaxDeletes=$broadcastMaxDeletes — the " +
              "anti-join runs as a shuffle (identical rows); compact the " +
              "index to fold the tombstones")
            dels
          }
        df.join(right.withColumnRenamed("id", idColumn),
          Seq(idColumn), "left_anti")
    }
}
