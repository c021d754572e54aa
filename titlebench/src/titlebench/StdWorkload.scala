package titlebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.dict.TitleDictionary
import graft.functions.TitleStandardizer
import graft.index.TfidfIndex
import graft.operators.SimilarityJoin
import graft.text.{EnglishStemmer, Tokenize}

/** `std_expr` and `std_join`: each op standardizes one batch directory of
  * generated titles and writes to the `noop` sink. `std_expr` goes through
  * the Catalyst `standardize_title` expression (SQL), `std_join` through
  * [[SimilarityJoin.standardizeViaJoin]]. */
final class StdWorkload(spark: SparkSession, inputs: String, work: String,
    viaJoin: Boolean, trace: Option[Trace]) extends Workload {

  def mainKind = "batch"
  /** Warmup batches in set-up, so the timed ones do not pay first-use
    * planning, code generation and the JIT's warming: after 8 warmup
    * batches the first third of a 10 s `std_expr` run was still about 15%
    * slower than the last third. A `std_join` batch takes ten times as long,
    * so 8 of them already cost 20 s of set-up. */
  private val warmupOps = if (viaJoin) 8 else 24
  private val schema = "id BIGINT, title STRING"
  private val batches: Array[String] =
    new java.io.File(s"$inputs/titles").listFiles().filter(_.isDirectory)
      .map(_.getPath).sorted

  private def standardized(df: DataFrame): DataFrame =
    if (viaJoin) SimilarityJoin.standardizeViaJoin(df, "id", "title")
    else df.selectExpr("id", "standardize_title(title) AS std")

  /** Every input title with its id, and the row count of each batch. */
  private val titles: Array[(Long, String)] = batches.flatMap(Workload.records)
  private val batchRows: Array[Long] = batches.map(Workload.records(_).size.toLong)

  private def kernel[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.kernel(name, "setup", 1)(body)
    case None => body
  }

  def setup(): Unit = {
    // first touches of the lazy one-time builds, in dependency order
    kernel("dict.entries")(TitleDictionary.entries)
    kernel("dict.corpus")(TitleDictionary.corpus)
    kernel("dict.aliasToCategory")(TitleDictionary.aliasToCategory)
    val idx = kernel("index.build")(TitleStandardizer.index)
    // the per-row matcher reads postings; the join path never does
    if (!viaJoin) kernel("index.postings")(idx.postings)
    Main.log("lazy builds done")
    (0 until warmupOps).foreach { i => run(i); Main.log(s"warmup op $i done") }
  }

  private def run(batch: Int): Long = {
    val b = batch % batches.length
    standardized(Workload.readTsv(spark, schema, batches(b)))
      .write.format("noop").mode("overwrite").save()
    batchRows(b)
  }

  def op(i: Int): (String, Long) = ("batch", run(i + warmupOps))

  /** The check set: the 104 pinned example titles mixed into the inputs
    * plus every 50th id. Both paths run over it (the join path runs at
    * about a thousand rows per second, too slow for every input row in a
    * run's time budget), and so does the driver-side function. */
  def check(): (Int, Seq[String]) = {
    val fails = mutable.ArrayBuffer.empty[String]
    val pinned = graft.GoldenCorpus.pairs.toMap
    val rows = titles.filter { case (id, t) => id % 50 == 0 || pinned.contains(t) }
    val dir = new java.io.File(s"$work/check")
    dir.mkdirs()
    rows.grouped(math.max(1, rows.length / 4 + 1)).zipWithIndex.foreach { case (part, p) =>
      val w = new java.io.PrintWriter(new java.io.File(dir, s"part-$p.tsv"), "UTF-8")
      try part.foreach { case (id, t) => w.print(s"$id\t$t\n") } finally w.close()
    }
    def collect(df: DataFrame): Map[Long, String] =
      df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val in = Workload.readTsv(spark, schema, dir.getPath)
    val viaExpr = collect(in.selectExpr("id", "standardize_title(title) AS std"))
    val viaJoinOut = collect(SimilarityJoin.standardizeViaJoin(in, "id", "title"))
    val n = rows.length
    val exprBad = rows.count { case (id, t) => viaExpr.get(id).orNull != TitleStandardizer.standardize(t) }
    if (exprBad > 0) fails += s"std_expr differs from TitleStandardizer.standardize on $exprBad of $n rows"
    val joinBad = rows.count { case (id, _) => viaJoinOut.get(id) != viaExpr.get(id) }
    if (joinBad > 0) fails += s"std_join differs from std_expr on $joinBad of $n rows"
    val golden = rows.filter { case (_, t) => pinned.contains(t) }
    if (golden.map(_._2).distinct.length != pinned.size)
      fails += s"inputs carry ${golden.map(_._2).distinct.length} of ${pinned.size} golden titles"
    val goldenBad = golden.count { case (id, t) => viaExpr.get(id).orNull != pinned(t) }
    if (goldenBad > 0) fails += s"$goldenBad golden rows differ from their pinned strings"
    (3, fails.toSeq)
  }

  override def extra(): Map[String, Any] = {
    val distinct = new java.util.HashSet[String]()
    titles.foreach { case (_, t) => Tokenize.tokenize(t).foreach(distinct.add) }
    Map("rows" -> titles.length, "distinct_tokens" -> distinct.size,
      "stem_memo_cap" -> (1 << 17), "batches" -> batches.length)
  }

  def layerMetrics(ops: Seq[OpSpan], extra: Map[String, Any]): Map[String, Double] = {
    val t = trace.get
    // the join path never reads postings: time their first touch on a
    // fresh index (the check has already touched the shared one)
    if (viaJoin) {
      val fresh = TfidfIndex.build(TitleDictionary.corpus.map(Tokenize.tokenizeAndStem))
      t.kernel("index.postings", "probe", 1)(fresh.postings)
    }
    val sample = titles.take(1000).map(_._2)
    val n = sample.length.toLong
    val idx = TitleStandardizer.index
    val stemmed = sample.map(Tokenize.tokenizeAndStem)
    val raw = sample.map(Tokenize.tokenize)
    val nTokens = raw.map(_.length.toLong).sum
    val ns = Workload.nsPerItem(t, passes = 5)(
      ("text.tokenize", n, () => sample.foreach(Tokenize.tokenize)),
      ("text.tokenizeAndStem", n, () => sample.foreach(Tokenize.tokenizeAndStem)),
      ("text.stem", nTokens, () => raw.foreach(_.foreach(EnglishStemmer.stem))),
      ("index.queryVector", n, () => stemmed.foreach(idx.queryVector)),
      ("index.bestMatch", n, () => stemmed.foreach(idx.bestMatch)),
      ("functions.standardize", n, () => sample.foreach(TitleStandardizer.standardize)))
    // exact work counts through the public postings and queryVector
    var visited = 0L
    var candidates = 0L
    stemmed.foreach { toks =>
      val (qi, _) = idx.queryVector(toks)
      val docs = new java.util.HashSet[Integer]()
      qi.foreach { term =>
        val pd = idx.postings._1(term)
        visited += pd.length
        pd.foreach(d => docs.add(d))
      }
      candidates += docs.size
    }
    val dictMs = t.kernels.filter(_.name.startsWith("dict.")).map(k => (k.endNs - k.startNs) / 1e6).sum
    def spanMs(name: String) =
      t.kernels.find(_.name == name).map(k => (k.endNs - k.startNs) / 1e6).getOrElse(0.0)
    val std = ns("functions.standardize")
    val kernels = Map(
      "dict.load_ms" -> dictMs,
      "index.build_ms" -> spanMs("index.build"),
      "index.postings_ms" -> spanMs("index.postings"),
      "text.tokenize_ns_per_row" -> ns("text.tokenize"),
      "text.tokenize_stem_ns_per_row" -> ns("text.tokenizeAndStem"),
      "text.stem_ns_per_token" -> ns("text.stem"),
      "index.query_vector_ns_per_row" -> ns("index.queryVector"),
      "index.best_match_self_ns_per_row" -> (ns("index.bestMatch") - ns("index.queryVector")),
      "index.postings_visited_per_row" -> visited.toDouble / n,
      "index.candidates_per_row" -> candidates.toDouble / n,
      "functions.standardize_ns_per_row" -> std,
      "functions.compose_self_ns_per_row" ->
        (std - ns("text.tokenizeAndStem") - ns("index.bestMatch")))
    if (viaJoin) kernels
    else {
      // executor CPU per row of the traced batches, beyond the function
      val traced = ops.filter(o => o.traced && o.ok)
      val cpu = traced.map(o => t.stagesOf(t.jobsOf(o)).map(_.cpuNs).sum).sum
      kernels + ("expressions.overhead_ns_per_row" ->
        (cpu.toDouble / math.max(1L, traced.map(_.rows).sum) - std))
    }
  }
}
