package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bm25, Dedup, Knn}
import graft.sources.{AsOf, Snapshots, Tombstones}

/** Incremental (CDC-style) reads off the snapshot log's add-file deltas
  * (r17 addendum — the Iceberg incremental-append / Delta CDF shape at
  * maintenance-commit granularity). Contract:
  *
  *  - `Snapshots.readAddedBetween(index, member, fromId, toId)` returns
  *    EXACTLY the rows append/ingest commits in `(fromId, toId]` added
  *    to the member — the base corpus, pre-window batches, and rows
  *    outside the member never appear; an empty window (or
  *    `fromId == toId`) returns an empty frame with the member schema;
  *  - generation REWRITES inside the window (compaction — cadence
  *    auto-compaction included — rebuild, quantize) are transparent:
  *    their base file rows rewrite previously-visible rows, never add
  *    logical ones;
  *  - a `delete` commit inside the window REFUSES unless
  *    `ignoreDeletes = true` (the Delta streaming contract); the
  *    documented recipe — ignoreDeletes + anti-join the live tombstone
  *    list — yields exactly the surviving appended rows;
  *  - both endpoints must be KEPT manifests: compactLog retention
  *    refuses loudly, and a TAGGED endpoint survives it (tags pin
  *    their commit against retention);
  *  - `Snapshots.commitIdFor` addresses endpoints by depth, wall-clock
  *    timestamp, or tag — at most one selector, all-unset = newest;
  *  - the resolve collects only the window's add rows for the probed
  *    member (member + commit bounds pushed into the log scan).
  */
class IncrementalReadSpec extends AnyFunSuite {
  import SparkSuiteBase.spark
  import spark.implicits._

  private def doc(i: Long) = (i, s"unique body text token$i word${i * 31}")
  private def docsDF(ids: Seq[Long]) = ids.map(doc).toDF("doc_id", "text")

  private def addedIds(tbl: String, from: Long, to: Long,
      ignoreDeletes: Boolean = false): Seq[Long] =
    Dedup.docsAddedBetween(spark, tbl, from, to, ignoreDeletes)
      .collect().map(_.getLong(0)).sorted.toSeq

  /** build([0,10)) → ingest([10,20)) → ingest([20,30)) on a MinHash
    * history index — the plain append window. */
  private lazy val mh: (String, Long, Long, Long) = {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_mh").toString
    val tbl = "g_incr_mh"
    Dedup.writeMinhashIndex(docsDF(0L until 10L), "doc_id", "text",
      tbl, s"$dir/idx", numBuckets = 4)
    val buildId = Snapshots.commitIdFor(spark, tbl)
    Dedup.ingestAgainstIndex(docsDF(10L until 20L), tbl, "doc_id", "text")
    val ingest1Id = Snapshots.commitIdFor(spark, tbl)
    Dedup.ingestAgainstIndex(docsDF(20L until 30L), tbl, "doc_id", "text")
    (tbl, buildId, ingest1Id, Snapshots.commitIdFor(spark, tbl))
  }

  test("readAddedBetween returns exactly the window's appended rows") {
    val (tbl, buildId, ingest1Id, head) = mh
    assert(addedIds(tbl, buildId, head) == (10L until 30L))
    assert(addedIds(tbl, ingest1Id, head) == (20L until 30L))
    assert(addedIds(tbl, buildId, ingest1Id) == (10L until 20L))
  }

  test("empty window returns an empty frame with the member schema") {
    val (tbl, _, _, head) = mh
    val out = Snapshots.readAddedBetween(spark, tbl, s"${tbl}_sigs",
      head, head)
    assert(out.columns.toSeq == spark.table(s"${tbl}_sigs").columns.toSeq)
    assert(out.count() == 0L)
  }

  test("compaction inside the window is transparent") {
    val (tbl, buildId, ingest1Id, _) = mh
    Dedup.compactMinhashIndex(spark, tbl)
    val head = Snapshots.commitIdFor(spark, tbl)
    assert(Snapshots.history(spark, tbl).select("op").head().getString(0)
      == "compact")
    // the compact commit's BASE rows rewrite rows already counted —
    // windows ending at (and spanning) it read the same batches
    assert(addedIds(tbl, buildId, head) == (10L until 30L))
    assert(addedIds(tbl, ingest1Id, head) == (20L until 30L))
  }

  test("delete in-window refuses; ignoreDeletes + tombstone anti-join " +
      "yields the surviving appended rows") {
    val (tbl, buildId, _, _) = mh
    Dedup.deleteFromMinhashIndex(spark, tbl,
      Seq(4L, 14L, 24L).toDF("doc_id"))
    val head = Snapshots.commitIdFor(spark, tbl)
    val e = intercept[IllegalStateException] {
      Dedup.docsAddedBetween(spark, tbl, buildId, head)
    }
    assert(e.getMessage.contains("delete commit"))
    assert(e.getMessage.contains("ignoreDeletes"))
    // the documented consumer recipe
    val surviving = Tombstones.filterWith(
        Dedup.docsAddedBetween(spark, tbl, buildId, head,
          ignoreDeletes = true),
        "id", Tombstones.frame(spark, tbl), tbl)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(surviving == (10L until 30L).filterNot(Set(14L, 24L)))
  }

  test("endpoints must be kept manifests; tags pin them against " +
      "retention; fromId <= toId enforced") {
    val (tbl, buildId, ingest1Id, _) = mh
    intercept[IllegalArgumentException] {
      Snapshots.readAddedBetween(spark, tbl, s"${tbl}_sigs", 5L, 2L)
    }
    val eMissing = intercept[IllegalArgumentException] {
      Snapshots.readAddedBetween(spark, tbl, s"${tbl}_sigs", 9999L, 10000L)
    }
    assert(eMissing.getMessage.contains("kept manifest"))
    // pin the first-ingest checkpoint by tag, then retire everything
    // before the head: the tagged window must keep reading
    Snapshots.tagSnapshot(spark, tbl, "ckpt",
      back = Snapshots.history(spark, tbl).collect()
        .map(_.getLong(0)).sorted.reverse.indexOf(ingest1Id))
    Snapshots.compactLog(spark, tbl, keepCommits = 1)
    val head = Snapshots.commitIdFor(spark, tbl)
    val eDropped = intercept[IllegalArgumentException] {
      Snapshots.readAddedBetween(spark, tbl, s"${tbl}_sigs", buildId, head)
    }
    assert(eDropped.getMessage.contains("kept manifest"))
    val from = Snapshots.commitIdFor(spark, tbl, AsOf.Tag("ckpt"))
    assert(from == ingest1Id)
    assert(addedIds(tbl, from, head, ignoreDeletes = true)
      == (20L until 30L))
  }

  test("commitIdFor: depth / timestamp / tag selectors, at most one") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_sel").toString
    val tbl = "g_incr_sel"
    Bm25.buildIndex(docsDF(0L until 8L), "doc_id", "text",
      tbl, s"$dir/idx", nDirs = 2)
    Thread.sleep(5L)
    val tsAfterBuild = System.currentTimeMillis()
    Bm25.appendToIndex(docsDF(8L until 16L), "doc_id", "text", tbl)
    Snapshots.tagSnapshot(spark, tbl, "after_append")
    val ids = Snapshots.history(spark, tbl).collect().map(_.getLong(0))
    assert(Snapshots.commitIdFor(spark, tbl) == ids.max)
    assert(Snapshots.commitIdFor(spark, tbl, AsOf.Commits(1)) == ids.min)
    assert(Snapshots.commitIdFor(spark, tbl,
      AsOf.At(tsAfterBuild)) == ids.min)
    assert(Snapshots.commitIdFor(spark, tbl,
      AsOf.Tag("after_append")) == ids.max)
    // one AsOf value names one state: combining selectors does not
    // type-check
    intercept[IllegalArgumentException] {
      Snapshots.commitIdFor(spark, tbl, AsOf.Tag("no_such_tag"))
    }
  }

  test("IVF vectorsAddedBetween reads exactly the appended vectors, " +
      "partition column and payload intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_ivf").toString
    val tbl = "g_incr_ivf"
    def vecs(ids: Seq[Long]) = ids
      .map(i => (i, Array(i.toFloat, (i % 7).toFloat, 1.0f)))
      .toDF("vec_id", "embedding")
    Knn.writeIvfIndex(vecs(0L until 40L), "vec_id", "embedding",
      tbl, s"$dir/idx", nCells = 4)
    val buildId = Snapshots.commitIdFor(spark, tbl)
    Knn.appendToIvfIndex(vecs(40L until 50L), "vec_id", "embedding", tbl)
    Knn.appendToIvfIndex(vecs(50L until 60L), "vec_id", "embedding", tbl)
    val head = Snapshots.commitIdFor(spark, tbl)
    val out = Knn.vectorsAddedBetween(spark, tbl, buildId, head)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == (40L until 60L))
    // payloads round-trip exactly (the basePath read restores the
    // cell partition column, and the projection drops it)
    assert(out.forall { case (i, v) =>
      v == Seq(i.toFloat, (i % 7).toFloat, 1.0f) })
  }

  test("consumeAddedSince: latest-init processes nothing, each window " +
      "is delivered once, a crashed consumer gets it redelivered") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_cons").toString
    val tbl = "g_incr_cons"
    Dedup.writeMinhashIndex(docsDF(0L until 10L), "doc_id", "text",
      tbl, s"$dir/idx", numBuckets = 4)
    var seen = Vector.empty[Seq[Long]]
    def consume(): Long =
      Snapshots.consumeAddedSince(spark, tbl, s"${tbl}_sigs", "feed") { df =>
        seen :+= df.select("id").collect().map(_.getLong(0)).sorted.toSeq
      }
    consume() // tag absent, startAt = latest: initialize at head
    assert(seen.isEmpty)
    consume() // head unchanged: no delivery, no tag churn
    assert(seen.isEmpty)
    Dedup.ingestAgainstIndex(docsDF(10L until 20L), tbl, "doc_id", "text")
    consume()
    assert(seen == Vector(10L until 20L))
    consume() // window already consumed
    assert(seen == Vector(10L until 20L))
    Dedup.ingestAgainstIndex(docsDF(20L until 30L), tbl, "doc_id", "text")
    val boom = intercept[RuntimeException] {
      Snapshots.consumeAddedSince(spark, tbl, s"${tbl}_sigs", "feed") {
        _ => throw new RuntimeException("consumer died mid-batch")
      }
    }
    assert(boom.getMessage.contains("consumer died"))
    consume() // the tag did NOT advance past the failed window
    assert(seen == Vector(10L until 20L, 20L until 30L))
  }

  test("consumeAddedSince: earliest-init delivers everything appended " +
      "since the oldest kept manifest") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_cone").toString
    val tbl = "g_incr_cone"
    Dedup.writeMinhashIndex(docsDF(0L until 10L), "doc_id", "text",
      tbl, s"$dir/idx", numBuckets = 4)
    Dedup.ingestAgainstIndex(docsDF(10L until 20L), tbl, "doc_id", "text")
    var seen = Seq.empty[Long]
    Snapshots.consumeAddedSince(spark, tbl, s"${tbl}_sigs", "feed",
        startAt = "earliest") { df =>
      seen = df.select("id").collect().map(_.getLong(0)).sorted.toSeq
    }
    // the build's base corpus predates any append; the ingest batch is
    // everything appended since the oldest kept manifest
    assert(seen == (10L until 20L))
  }

  test("consumeAddedSince never regresses a checkpoint a concurrent " +
      "consumer advanced") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_conr").toString
    val tbl = "g_incr_conr"
    Dedup.writeMinhashIndex(docsDF(0L until 10L), "doc_id", "text",
      tbl, s"$dir/idx", numBuckets = 4)
    Snapshots.consumeAddedSince(spark, tbl, s"${tbl}_sigs", "feed")(_ => ())
    Dedup.ingestAgainstIndex(docsDF(10L until 20L), tbl, "doc_id", "text")
    var fasterHead = 0L
    Snapshots.consumeAddedSince(spark, tbl, s"${tbl}_sigs", "feed") { _ =>
      // while this consumer processes, a FASTER consumer ingests the
      // next batch and advances the shared checkpoint past our head
      Dedup.ingestAgainstIndex(docsDF(20L until 30L), tbl, "doc_id", "text")
      fasterHead = Snapshots.consumeAddedSince(spark, tbl,
        s"${tbl}_sigs", "feed")(_ => ())
    }
    // the slow consumer must NOT have pulled the checkpoint back
    assert(Snapshots.tags(spark, tbl)("feed") == fasterHead)
    // and the next consume sees nothing left to deliver
    var extra = false
    Snapshots.consumeAddedSince(spark, tbl, s"${tbl}_sigs", "feed") { _ =>
      extra = true
    }
    assert(!extra)
  }

  test("tagStack mints one name across indexes; a partial failure is " +
      "loud and a re-run completes it") {
    val dir = java.nio.file.Files.createTempDirectory("graft_incr_stk").toString
    val a = "g_incr_stk_mh"
    val b = "g_incr_stk_bm"
    Dedup.writeMinhashIndex(docsDF(0L until 10L), "doc_id", "text",
      a, s"$dir/mh", numBuckets = 4)
    Bm25.buildIndex(docsDF(0L until 10L), "doc_id", "text",
      b, s"$dir/bm", nDirs = 2)
    Bm25.appendToIndex(docsDF(10L until 16L), "doc_id", "text", b)
    Snapshots.tagStack(spark, Seq(a -> 0, b -> 1), "stack_v1")
    assert(Snapshots.tags(spark, a)("stack_v1")
      == Snapshots.commitIdFor(spark, a))
    assert(Snapshots.tags(spark, b)("stack_v1")
      == Snapshots.commitIdFor(spark, b, AsOf.Commits(1)))
    // partial failure: the second index has no snapshot log
    val e = intercept[IllegalStateException] {
      Snapshots.tagStack(spark,
        Seq(a -> 0, "g_incr_stk_nope" -> 0), "stack_v2")
    }
    assert(e.getMessage.contains("PARTIAL") && e.getMessage.contains(a))
    assert(Snapshots.tags(spark, a).contains("stack_v2"))
    // re-running the same call is idempotent on the already-tagged half
    Snapshots.tagStack(spark, Seq(a -> 0, b -> 0), "stack_v2")
    assert(Snapshots.tags(spark, b)("stack_v2")
      == Snapshots.commitIdFor(spark, b))
  }

  test("incremental-read log resolve pushes member and commit filters " +
      "into the scan and collects only the window's add rows") {
    val (tbl, buildId, _, _) = mh
    // the exact frame readAddedBetween collects: member + commit bounds
    // land in PushedFilters (row-group pruning applies at scale)
    val frame = Snapshots.memberLogRows(spark,
        Snapshots.logFilesTable(tbl), Seq(s"${tbl}_sigs"), Long.MaxValue)
    val plan = frame.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters"))
    assert(plan.contains("IsNotNull(member)") ||
      plan.contains("In(member") || plan.contains("EqualTo(member"))
  }
}
