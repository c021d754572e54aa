package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.operators.Bm25
import graft.sources.{PendingAppend, Snapshots}

/** Differential property: the adds-since-base count `Snapshots.record`
  * caches on the file log equals the log scan it replaces, after every
  * op of a random BM25 maintenance sequence: appends, deletes,
  * compactions, rebuilds, `compactLog` folds, and an append that dies
  * between its file-log row and the ALTER that writes the cache (the
  * next maintenance op rolls it forward). Outside the crash and the
  * fold, the count must come from the cache, so the compaction trigger
  * runs no Spark job.
  *
  * Each case builds its own small index (a few seconds), so the case
  * count is kept low; every case carries one crash and one fold. */
object SnapshotAddsProps extends Properties("snapshotAdds") {
  import SparkSuiteBase.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(4).withWorkers(1)

  private sealed trait Op
  private case object Append extends Op
  private case object Delete extends Op
  private case object Compact extends Op
  private case object Rebuild extends Op
  private final case class CompactLog(keep: Int) extends Op
  private case object CrashedAppend extends Op

  private val compactLogGen: Gen[Op] =
    Gen.oneOf(1, 2, Int.MaxValue).map(CompactLog(_))
  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.const(Append), 1 -> Gen.const(Delete), 1 -> Gen.const(Compact),
    1 -> Gen.const(Rebuild), 1 -> compactLogGen)
  private val opsGen: Gen[List[Op]] = for {
    n <- Gen.choose(2, 5)
    ops <- Gen.listOfN(n, opGen)
    crashAt <- Gen.choose(0, n)
    fold <- compactLogGen
    foldAt <- Gen.choose(0, n + 1)
  } yield ops.patch(crashAt, Seq(CrashedAppend), 0).patch(foldAt, Seq(fold), 0)

  private val words = Seq("ant", "bee", "cat", "dog", "eel", "fox")
  private def docs(from: Long, n: Int) = (from until from + n).map { i =>
    (i, s"${words((i % 6).toInt)} ${words((i % 4).toInt)} doc$i")
  }.toDF("doc_id", "text")

  private var cases = 0

  property("the cached adds-since-base count equals the log scan") =
    forAll(opsGen) { ops =>
      cases += 1
      val table = s"g_snap_adds_$cases"
      val dir = java.nio.file.Files.createTempDirectory(table).toString
      val member = s"${table}_postings"
      var nextDoc = 0L
      def batch(): org.apache.spark.sql.DataFrame = {
        val d = docs(nextDoc, 6); nextDoc += 6; d
      }
      Bm25.buildIndex(batch(), "doc_id", "text", table, s"$dir/idx", nDirs = 2)
      ops.map { op =>
        op match {
          case Append => Bm25.appendToIndex(batch(), "doc_id", "text", table)
          case Delete =>
            Bm25.deleteFromIndex(spark, table, Seq(nextDoc - 1L).toDF("id"))
          case Compact => Bm25.compactIndex(spark, table)
          case Rebuild =>
            Bm25.buildIndex(docs(0L, nextDoc.toInt), "doc_id", "text", table,
              s"$dir/idx", nDirs = 2)
          case CompactLog(keep) => Snapshots.compactLog(spark, table, keep)
          case CrashedAppend =>
            PendingAppend.testCrashPoint = "snapshots.record.afterFileRows"
            try Bm25.appendToIndex(batch(), "doc_id", "text", table)
            catch { case e: RuntimeException
              if e.getMessage.contains("simulated crash") => }
            finally PendingAppend.testCrashPoint = ""
        }
        val cached = Snapshots.cachedAddsSinceBase(spark, table, member)
        val got = Snapshots.addsSinceBase(spark, table, member)
        val want = Snapshots.scanAddsSinceBase(spark,
          Snapshots.logFilesTable(table), member)
        val fallback = op == CrashedAppend || op.isInstanceOf[CompactLog]
        ((got == want) :| s"after $op: counter $got, scan $want") &&
          ((fallback || cached.isDefined) :|
            s"after $op: the count must come from the cache")
      }.reduce(_ && _) :| s"$table ops=$ops"
    }
}
