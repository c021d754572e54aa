package graft

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.col
import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.operators.Bm25
import graft.sources.AsOf

/** Differential property: a straight `Bm25.topKAgainstIndex` probe whose
  * scoring fanout is below `spreadMinFanout` (the driver finish) returns
  * exactly the rows and the schema, nullability included, of the same
  * probe with `spreadMinFanout = 0`, which forces the distributed
  * query-join → aggregation → window tail.
  *
  * Each case probes one of a pool of small random indexes (building an
  * index per case would cost seconds each). The pool covers a fresh
  * build, a build with deletes, a build with an append, and both; the
  * corpora repeat whole texts, so equal scores exercise the doc_id
  * tie-break. Each case draws a query batch with duplicate (qid, term)
  * pairs, null qids, null and unknown terms, a k that may exceed the
  * candidate count, an optional candidate filter and a time-travel depth
  * that may cross the append. */
object Bm25DriverFinishProps extends Properties("bm25DriverFinish") {
  import SparkSuiteBase.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(1000)

  private val vocab = Seq("ant", "bee", "cat", "dog", "eel", "fox", "gnu", "hen")

  /** A pooled index: its table name and the commits after its build. */
  private final case class Fixture(table: String, commitsAfterBuild: Int)

  private val nFixtures = 12
  private val fixtures = mutable.Map.empty[Int, Fixture]

  /** Fixture `i`: seeded random docs of 1–8 vocabulary tokens, a quarter
    * of them copies of an earlier doc's text; `i % 4` picks the history
    * (0 build, 1 build + delete, 2 build + append, 3 all three). */
  private def fixture(i: Int): Fixture = fixtures.getOrElseUpdate(i, {
    val rnd = new scala.util.Random(1000 + i)
    val texts = mutable.ArrayBuffer.empty[String]
    val nDocs = 8 + rnd.nextInt(25)
    (0 until nDocs).foreach { _ =>
      texts += (if (texts.nonEmpty && rnd.nextInt(4) == 0)
          texts(rnd.nextInt(texts.length))
        else Seq.fill(1 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.length)))
          .mkString(" "))
    }
    // ids are sparse and unordered, so doc_id order is not text order
    val docs = rnd.shuffle((0 until nDocs).map(d => 3L * d + rnd.nextInt(3)))
      .zip(texts)
    val (base, appended) = docs.splitAt(nDocs * 2 / 3)
    val table = s"g_bm25_dfp_$i"
    val dir = java.nio.file.Files.createTempDirectory(table).toString
    Bm25.buildIndex(base.toDF("doc_id", "text"), "doc_id", "text",
      table, s"$dir/idx", nDirs = 1 + rnd.nextInt(4))
    var commits = 0
    if (i % 4 == 1 || i % 4 == 3) {
      Bm25.deleteFromIndex(spark, table,
        base.filter(_ => rnd.nextInt(4) == 0).map(_._1).toDF("id"))
      commits += 1
    }
    if (i % 4 >= 2) {
      Bm25.appendToIndex(appended.toDF("doc_id", "text"), "doc_id", "text", table)
      commits += 1
    }
    Fixture(table, commits)
  })

  private val qidGen: Gen[Option[Long]] =
    Gen.frequency(8 -> Gen.choose(0L, 5L).map(Some(_)), 1 -> Gen.const(None))
  private val termGen: Gen[Option[String]] = Gen.frequency(
    10 -> Gen.oneOf(vocab).map(Some(_)),
    1 -> Gen.const(Some("zzz")),
    1 -> Gen.const(None))
  private val pairsGen: Gen[List[(Option[Long], Option[String])]] =
    Gen.choose(1, 14).flatMap(Gen.listOfN(_, Gen.zip(qidGen, termGen)))
      .flatMap { ps =>
        // repeat some pairs outright, beyond the repeats the small
        // domains already draw
        Gen.someOf(ps).map(dups => ps ++ dups)
      }
  private val filterGen: Gen[Option[(String, Column)]] = Gen.oneOf(
    None,
    Some("doc_id % 2 = 0" -> (col("doc_id") % 2 === 0)),
    Some("dl > 3" -> (col("dl") > 3)))

  private final case class Case(fixture: Int, pairs: List[(Option[Long], Option[String])],
      k: Int, filter: Option[(String, Column)], asOfCommits: Int, longQid: Boolean)

  private val caseGen: Gen[Case] = for {
    f <- Gen.choose(0, nFixtures - 1)
    pairs <- pairsGen
    k <- Gen.oneOf(1, 2, 3, 5, 100)
    filter <- filterGen
    depth <- Gen.choose(0, 2)
    longQid <- Gen.oneOf(true, false)
  } yield Case(f, pairs, k, filter, depth, longQid)

  private def queries(c: Case): DataFrame =
    // a batch without null qids may carry a NOT NULL qid column, so the
    // result schema's nullability is checked both ways
    if (c.longQid && c.pairs.forall(_._1.isDefined))
      c.pairs.map { case (q, t) => (q.get, t.orNull) }.toDF("qid", "term")
    else c.pairs.toDF("qid", "term")

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  property("driver finish equals the distributed tail") = forAll(caseGen) { c =>
    val fx = fixture(c.fixture)
    val depth = math.min(c.asOfCommits, fx.commitsAfterBuild)
    def probe(spreadMinFanout: Long): DataFrame =
      Bm25.topKAgainstIndex(queries(c), fx.table, c.k,
        candidateFilter = c.filter.map(_._2),
        asOf = if (depth == 0) AsOf.Live else AsOf.Commits(depth),
        spreadMinFanout = spreadMinFanout)
    val finish = probe(1000000L)
    val tail = probe(0L)
    val label = s"${fx.table} asOf=$depth k=${c.k} filter=${c.filter.map(_._1)} " +
      s"pairs=${c.pairs}"
    val (got, want) = (sorted(finish), sorted(tail))
    (finish.queryExecution.analyzed.isInstanceOf[LocalRelation] :|
      s"$label: the probe below the gate must finish on the driver") &&
    ((finish.schema == tail.schema) :|
      s"$label: schema ${finish.schema.simpleString}/${finish.schema.map(_.nullable)} " +
        s"vs ${tail.schema.simpleString}/${tail.schema.map(_.nullable)}") &&
    ((got == want) :| s"$label: driver finish $got\n  distributed tail $want")
  }
}
