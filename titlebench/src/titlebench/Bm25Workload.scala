package titlebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Bm25
import graft.sources.{Generations, Snapshots}

/** `bm25_ingest`: a base share of a generated corpus is indexed in set-up;
  * each timed cycle is then one [[Bm25.appendToIndex]] batch (every second
  * one auto-compacts) followed by three [[Bm25.topKAgainstIndex]] query
  * batches. Reads run beside writes on one persisted index. The timed phase
  * is a fixed schedule, one append per generated append batch, so every run
  * measures the index at the same sizes. */
final class Bm25Workload(spark: SparkSession, inputs: String, work: String,
    trace: Option[Trace]) extends Workload {
  import spark.implicits._

  /** The first query after an append is about 30% slower than the next
    * ones; with three per append the median query is a steady one. */
  private val queriesPerAppend = 3
  private val autoCompactAfter = 2
  private val k = 10

  def mainKind = "query"
  private val opsPerAppend = queriesPerAppend + 1
  /** One auto-compaction round: a plain append and a compacting one. */
  override def cycleLength: Int = autoCompactAfter * opsPerAppend
  private val table = "titlebench_bm25"
  private val indexPath = s"$work/bm25/idx"
  private val schema = "doc_id BIGINT, text STRING"
  private def dirs(sub: String): Array[String] =
    new java.io.File(s"$inputs/bm25/$sub").listFiles().map(_.getPath).sorted
  private val appendDirs = dirs("append")
  private val queryFiles = dirs("queries")
  private val appendRows: Array[Long] = appendDirs.map(Workload.records(_).size.toLong)
  private var appended = 0
  private var queried = 0
  /** Every append batch but the warmup's is one timed cycle. */
  override def scheduledOps: Option[Int] = Some((appendDirs.length - 1) * opsPerAppend)
  var buildMs = 0.0
  /** Data files of the live postings generation after each timed append. */
  private val filesAfterAppend = mutable.ArrayBuffer.empty[Int]

  private def queryBatch(path: String): DataFrame =
    Workload.records(path).toSeq.toDF("qid", "term")

  private def livePostingsFiles(): Int = {
    val root = new java.io.File(new java.net.URI(
      Generations.location(spark, s"${table}_postings")))
    Option(root.listFiles()).toSeq.flatten.filter(_.isDirectory)
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .count(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
  }

  def setup(): Unit = {
    val t0 = System.nanoTime()
    Bm25.buildIndex(Workload.readTsv(spark, schema, s"$inputs/bm25/base"),
      "doc_id", "text", table, indexPath, nDirs = 8)
    buildMs = (System.nanoTime() - t0) / 1e6
    trace.foreach(_.kernels += KernelSpan("bm25.buildIndex", "setup", t0, System.nanoTime(), 1))
    Main.log(f"base index built in $buildMs%.0f ms")
    // warmup: one cycle, so the timed ones do not pay first-use planning,
    // code generation and the coldest JIT phase
    (-opsPerAppend until 0).foreach { i => op(i); Main.log(s"warmup op $i done") }
  }

  def op(i: Int): (String, Long) =
    if (Math.floorMod(i, opsPerAppend) == 0) {
      require(appended < appendDirs.length,
        s"all ${appendDirs.length} generated append batches are used")
      Bm25.appendToIndex(Workload.readTsv(spark, schema, appendDirs(appended)),
        "doc_id", "text", table, autoCompactAfter = autoCompactAfter)
      appended += 1
      if (trace.isDefined && i >= 0) filesAfterAppend += livePostingsFiles()
      ("append", appendRows(appended - 1))
    } else {
      val q = queryFiles(queried % queryFiles.length)
      queried += 1
      ("query", Bm25.topKAgainstIndex(queryBatch(q), table, k).collect().length.toLong)
    }

  private def indexedDirs: Seq[String] =
    s"$inputs/bm25/base" +: appendDirs.take(appended).toSeq

  /** q159's contract: the grown, auto-compacted index ranks exactly like
    * [[Bm25.topK]] over the same full document set. */
  def check(): (Int, Seq[String]) = {
    val q = queryBatch(s"$inputs/bm25/check_queries.tsv")
    def rows(df: DataFrame) = df.select("qid", "rank", "doc_id", "score_e4")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    val got = rows(Bm25.topKAgainstIndex(q, table, k))
    val want = rows(Bm25.topK(Workload.readTsv(spark, schema, indexedDirs: _*),
      "doc_id", "text", q, k))
    val fails = mutable.ArrayBuffer.empty[String]
    if (want.isEmpty) fails += "the check queries match no document"
    if (got != want)
      fails += s"index ranking differs from Bm25.topK on ${got.diff(want).size + want.diff(got).size} rows"
    (1, fails.toSeq)
  }

  /** The index's commit log: (op, commit epoch millis), oldest first. */
  private lazy val commits: Seq[(String, Long)] =
    Snapshots.history(spark, table).select("op", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq.sortBy(_._2)

  override def extra(): Map[String, Any] = {
    val (indexBytes, indexFiles) = Workload.du(new java.io.File(indexPath))
    val docBytes = indexedDirs.flatMap(Workload.records)
      .map(_._2.getBytes("UTF-8").length.toLong).sum
    Map("build_ms" -> buildMs, "appends" -> appended,
      "compactions" -> commits.count(_._1 == "compact"),
      "index_bytes" -> indexBytes, "index_files" -> indexFiles,
      "doc_text_bytes" -> docBytes,
      "index_bytes_per_input_byte" -> indexBytes.toDouble / docBytes)
  }

  def layerMetrics(ops: Seq[OpSpan], extra: Map[String, Any]): Map[String, Double] = {
    val t = trace.get
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sorted.apply(xs.length / 2)
    val ok = ops.filter(_.ok)
    val appends = ok.filter(_.kind == "append")
    // an auto-compaction commits right after its append's commit, inside
    // the same op: the commit stamps split the op into its two parts
    val compactMs = appends.map { o =>
      val inOp = commits.filter { case (_, ts) => ts >= o.startMs && ts <= o.endMs }
      (for {
        a <- inOp.find(_._1 == "append"); c <- inOp.find(_._1 == "compact")
      } yield (c._2 - a._2).toDouble).getOrElse(0.0)
    }
    val compacting = compactMs.filter(_ > 0)
    val traced = ok.filter(_.traced)
    val queries = traced.filter(_.kind == "query")
    val tracedAppends = traced.filter(_.kind == "append")
    def stageSum(os: Seq[OpSpan])(f: StageSpan => Long): Long =
      os.map(o => t.stagesOf(t.jobsOf(o)).map(f).sum).sum
    Map(
      "bm25.build_ms" -> buildMs,
      "bm25.append_ms" -> med(appends.zip(compactMs).map { case (o, c) => o.durNs / 1e6 - c }),
      "bm25.compact_ms" -> (if (compacting.isEmpty) 0.0 else compacting.sum / compacting.length),
      "bm25.query_ms" -> med(ok.filter(_.kind == "query").map(_.durNs / 1e6)),
      "bm25.files_after_append" -> (if (filesAfterAppend.isEmpty) 0.0
        else filesAfterAppend.sum.toDouble / filesAfterAppend.length),
      "bm25.bytes_written_per_append" -> (if (tracedAppends.isEmpty) 0.0
        else stageSum(tracedAppends)(_.outputBytes).toDouble / tracedAppends.length),
      "bm25.rows_read_per_result" -> {
        val results = queries.map(_.rows).sum
        if (results == 0) 0.0 else stageSum(queries)(_.inputRows).toDouble / results
      },
      "bm25.index_bytes_per_input_byte" ->
        extra("index_bytes_per_input_byte").asInstanceOf[Double])
  }
}
