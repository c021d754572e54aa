package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.GraftFunctions

/** Structured Streaming surface (SURVEY §2.3 streaming row): the
  * reference's function is stateless per batch, so it lifts directly onto
  * a streaming DataFrame; windowed aggregation + watermarking and a
  * mapGroupsWithState session accumulator cover the stateful shapes a
  * production events stream needs. All transforms are expressed on the
  * streaming DataFrame — the same code runs `readStream` → `writeStream`
  * on a cluster; specs drive them with MemoryStream.
  */
object StreamingOps {

  /** Stateless standardize-title over a streaming frame with a `title`
    * column — identical plan to the batch path. */
  def standardizeStream(stream: DataFrame): DataFrame =
    stream.withColumn("std", GraftFunctions.standardize_title(col("title")))

  /** Tumbling-window counts with a watermark for late data: the streaming
    * twin of `Queries.eventsHourly`. */
  def windowedEventCounts(
      events: DataFrame, // columns: ts TIMESTAMP, event_type STRING, value DOUBLE
      windowLen: String = "1 hour",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Sliding-window counts (len > slide ⇒ each event lands in len/slide
    * overlapping windows) with a watermark for late data. The batch
    * contract of the same `window(len, slide)` expression is oracle-
    * checked as `Queries.slidingWindowEvents` (q82). */
  def slidingEventCounts(
      events: DataFrame, // columns: ts TIMESTAMP, event_type STRING, value DOUBLE
      windowLen: String = "1 hour",
      slide: String = "30 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))

  /** Streaming exact dedup: keep the first delivery of each `idCols` key,
    * with state bounded by the watermark (keys older than the delay are
    * evicted — unbounded `dropDuplicates` state would OOM a 100 TB/day
    * stream). The at-least-once→exactly-once repair step in front of every
    * training-data ingest. */
  def dedupWithinWatermark(
      events: DataFrame, // must carry an event-time `ts` column
      idCols: Seq[String],
      watermarkDelay: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(idCols)

  /** Stream-stream interval join: each left event matched to right events
    * whose timestamp falls in [left.ts, left.ts + `joinWindow`]. Both
    * sides are watermarked so the join state is bounded: Spark buffers
    * only rows that can still find a partner. The streaming twin of the
    * batch as-of/range joins (q23/q24/q59). */
  def intervalJoin(
      left: DataFrame, // columns: key, ts, ... (event time)
      right: DataFrame, // columns: key, ts, ...
      joinWindow: String = "10 minutes",
      watermarkDelay: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    // prefix the right side so the joined schema is unambiguous in any
    // sink (a memory/parquet sink would otherwise carry duplicate names)
    val r = right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      expr(s"""key = r_key AND
               r_ts >= ts AND
               r_ts <= ts + interval $joinWindow"""))
      .drop("r_key")
  }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp)
  final case class OpenSession(start: Long, last: Long, n: Int)
  final case class ClosedSession(user_id: Long, start_ts: java.sql.Timestamp,
      end_ts: java.sql.Timestamp, n_events: Int)

  /** Gap-based sessionization via flatMapGroupsWithState: events for a user
    * extend the open session; a gap larger than `gapMinutes` closes it and
    * emits the completed session. State per key is one tiny struct. */
  def sessionize(events: Dataset[SessionEvent], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, ClosedSession](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[OpenSession]) =>
          val times = rows.map(_.ts.getTime).toArray.sorted
          val closed = scala.collection.mutable.ArrayBuffer.empty[ClosedSession]
          var cur = state.getOption
          times.foreach { t =>
            cur match {
              case Some(s) if t - s.last <= gapMs =>
                cur = Some(s.copy(last = t, n = s.n + 1))
              case Some(s) =>
                closed += ClosedSession(userId,
                  new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last), s.n)
                cur = Some(OpenSession(t, t, 1))
              case None =>
                cur = Some(OpenSession(t, t, 1))
            }
          }
          cur.foreach(state.update)
          closed.iterator
      }
  }

  /** Incremental keyed upsert into a parquet snapshot via foreachBatch —
    * the streaming MERGE: each micro-batch keeps its own newest row per
    * key, full-outer-merges with the current snapshot generation, and
    * writes the next generation (write-new-then-point, never overwrite
    * in place — readers of generation N are never disturbed, the pointer
    * flip is the atomic commit, exactly the table-format pattern). At
    * 100 TB the same loop works per partition-of-key with the snapshot
    * bucketed on the key so the merge join is shuffle-free. Returns the
    * StreamingQuery; read the current state with [[readSnapshot]]. */
  def upsertSnapshot(
      updates: DataFrame, // columns: key BIGINT, ts TIMESTAMP, payload...
      dir: String,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (DataFrame, Long) => Unit = { (batch, _) =>
        val spark = batch.sparkSession
        val cols = batch.columns
        // newer ts wins; at equal ts the incoming batch beats the
        // snapshot. Two same-key rows with equal ts INSIDE one batch
        // have no arrival order after a shuffle, so the final
        // tiebreaker is a content hash of the whole row — a retried
        // (at-least-once) batch then always commits the same winner,
        // keeping the snapshot deterministic under redelivery. Each
        // column contributes an is-null flag AND its coalesced value:
        // xxhash64 SKIPS null inputs, so hashing values alone gave
        // (x=null, y='foo') and (x='foo', y=null) the same fingerprint
        // and the tie broke arbitrarily — the flag pair distinguishes
        // null from every real value (including '' and any marker
        // string) exactly.
        val rowFingerprint = xxhash64(cols.sorted.flatMap(c => Seq(
          isnull(col(c)).cast("string"),
          coalesce(col(c).cast("string"), lit("")))): _*)
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("key"))
          .orderBy(col("ts").desc, col("__src").desc, rowFingerprint.desc)
        val newest = batch.withColumn("__src", lit(1))
          .withColumn("__rn", row_number().over(w))
          .filter(col("__rn") === 1).drop("__rn")
        val curGen = currentGeneration(dir)
        val merged = curGen match {
          case None => newest
          case Some(gen) =>
            val cur = spark.read.parquet(s"$dir/gen=$gen")
              .withColumn("__src", lit(0))
            // per-key newest wins across {current snapshot, batch}
            cur.unionByName(newest)
              .withColumn("__rn", row_number().over(w))
              .filter(col("__rn") === 1).drop("__rn")
        }
        val next = curGen.getOrElse(-1L) + 1
        merged.select(cols.map(col): _*)
          .write.mode("overwrite").parquet(s"$dir/gen=$next")
        // pointer flip commits the generation atomically (rename)
        val tmp = java.nio.file.Paths.get(dir, "_LATEST.tmp")
        java.nio.file.Files.writeString(tmp, next.toString)
        java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, "_LATEST"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // retention GC (the graft.sources.Generations contract): keep
        // the committed generation plus the one it superseded — a
        // reader that resolved _LATEST just before the flip keeps its
        // files for one more batch — and delete everything older, so
        // disk is bounded at ~2 snapshots instead of growing by one
        // full snapshot per micro-batch forever.
        val genDir = new java.io.File(dir)
        Option(genDir.listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("gen="))
          .filter(_.getName.drop(4).toLong < next - 1)
          .foreach { f =>
            val p = new org.apache.hadoop.fs.Path(f.getAbsolutePath)
            p.getFileSystem(spark.sessionState.newHadoopConf())
              .delete(p, true)
          }
    }
    val writer = updates.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(applyBatch)
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Streaming form of the MinHash ingest loop
    * ([[graft.operators.Dedup.ingestAgainstIndex]] — the q157 batch
    * primitive wired through foreachBatch, the q131 precedent): each
    * micro-batch of (id, text) documents is classified against the
    * persisted index (dup_history / dup_batch / new), the classification
    * is appended to `outDir` tagged with the micro-batch id, and the
    * index GROWS with the batch's signatures — so the next micro-batch
    * deduplicates against everything before it. A file-source stream of
    * daily drops becomes a self-maintaining dedup service.
    *
    * Delivery semantics: the checkpoint makes each source file's batch
    * run once in a healthy run (AvailableNow replay = exactly-once
    * output). On crash-between-sinks a batch may re-run: re-ingesting
    * the same documents is CLASSIFICATION-safe by the ingest contract
    * (duplicate signature rows only inflate n_hist_dups, never flip a
    * later status to "new"), and the classification parquet then holds
    * duplicate rows for that batch — dedup downstream on (doc_id) if
    * the sink must be exactly-once under crashes. Batch order within
    * the stream is the file source's mtime order. */
  def minhashIngestStream(
      incoming: DataFrame, // streaming frame carrying idCol + textCol
      table: String, idCol: String, textCol: String,
      outDir: String, checkpoint: String,
      threshold: Double = 0.8,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      autoCompactAfter: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (DataFrame, Long) => Unit = { (batch, batchId) =>
      graft.operators.Dedup
        .ingestAgainstIndex(batch, table, idCol, textCol, threshold,
          autoCompactAfter = autoCompactAfter)
        .withColumn("batch_id", lit(batchId))
        .write.mode("append").parquet(outDir)
    }
    val writer = incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(applyBatch)
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Streaming BM25 index maintenance: each micro-batch of (id, text)
    * documents is APPENDED to a persisted [[graft.operators.Bm25]]
    * serving index (`appendToIndex` — batch-cost postings, additive
    * df/bounds merge), so the index serves everything delivered so far.
    * The [[minhashIngestStream]] delivery contract applies, with one
    * tightening inherited from the batch primitive: doc ids must be NEW
    * across the WHOLE stream (re-appending double-counts), and a crash
    * BETWEEN a batch's three index writes leaves df/N stale — recovery
    * is a rebuild, not a replay (documented on `appendToIndex`; the
    * checkpoint prevents healthy-run double-delivery). */
  def bm25AppendStream(
      incoming: DataFrame, // streaming frame carrying idCol + textCol
      table: String, idCol: String, textCol: String,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      autoCompactAfter: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (DataFrame, Long) => Unit = { (batch, _) =>
      graft.operators.Bm25.appendToIndex(batch, idCol, textCol, table,
        autoCompactAfter = autoCompactAfter)
    }
    val writer = incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(applyBatch)
    trigger.fold(writer)(writer.trigger).start()
  }

  /** Streaming IVF index maintenance: each micro-batch of (id, vector)
    * rows is APPENDED to a persisted [[graft.operators.Knn]] IVF index
    * (`appendToIvfIndex` — assignment to the FROZEN centroids, appended
    * into the same cell directories; retraining stays a rebuild on its
    * own cadence, watched via `ivfCellStats`). Same delivery contract
    * as [[bm25AppendStream]]: ids must be new across the stream; the
    * checkpoint prevents healthy-run double-delivery, and a replayed
    * crash batch would duplicate its vectors in every probe of their
    * cells (recover by rebuild). */
  def ivfAppendStream(
      incoming: DataFrame, // streaming frame carrying idCol + vecCol
      table: String, idCol: String, vecCol: String,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None,
      autoCompactAfter: Int = 0)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (DataFrame, Long) => Unit = { (batch, _) =>
      graft.operators.Knn.appendToIvfIndex(batch, idCol, vecCol, table,
        autoCompactAfter = autoCompactAfter)
    }
    val writer = incoming.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(applyBatch)
    trigger.fold(writer)(writer.trigger).start()
  }

  /** TAKEDOWN feed as a stream — the delete half of the streaming
    * maintenance story (removal requests arrive continuously in a real
    * serving deployment, exactly like ingest): each micro-batch of ids
    * is one delete of the index `family` serves
    * ([[graft.sources.IndexFamily.delete]] — `Bm25.family`,
    * `Knn.ivfFamily` or `Dedup.minhashFamily`), the same op as the
    * batch `deleteFrom*` calls: it recovers a crashed append first,
    * merges the ids into the tombstone list and records a `delete`
    * commit, so the documents leave every probe as soon as their batch
    * commits, an incremental read over the window refuses unless
    * `ignoreDeletes`, and the next compaction folds them physically.
    *
    * Redelivery is SAFE here, unlike the append streams: the tombstone
    * merge is a distinct union, so a crash-replayed micro-batch changes
    * no id (it records one more `delete` commit) — deletes are
    * naturally idempotent, the nicest possible foreachBatch contract.
    * Micro-batches are serialized by the engine, and each delete runs
    * under the index's maintenance lock. */
  def indexDeleteStream(
      ids: DataFrame, // streaming frame whose FIRST column is the id
      index: String, family: graft.sources.IndexFamily,
      checkpoint: String,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val applyBatch: (DataFrame, Long) => Unit = { (batch, _) =>
      family.delete(batch.sparkSession, index, batch)
    }
    val writer = ids.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(applyBatch)
    trigger.fold(writer)(writer.trigger).start()
  }

  private def currentGeneration(dir: String): Option[Long] = {
    val p = java.nio.file.Paths.get(dir, "_LATEST")
    if (java.nio.file.Files.exists(p))
      Some(java.nio.file.Files.readString(p).trim.toLong)
    else None
  }

  /** The snapshot as of the last committed generation. */
  def readSnapshot(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    currentGeneration(dir) match {
      case Some(gen) => spark.read.parquet(s"$dir/gen=$gen")
      case None => throw new IllegalStateException(s"no committed generation under $dir")
    }

  final case class UserEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserTotals(user_id: Long, n_events: Long, total_value: Double)

  /** Custom state via mapGroupsWithState: running per-user totals.
    * State is one tiny struct per key — partitioned by user, no driver
    * state, scales with the key space. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](GroupStateTimeout.NoTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(userId, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserTotals(userId, n, tot)
          state.update(next)
          next
      }
  }
}
