package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Drift guard for every registered golden ([[Golden.all]]): each
  * snapshot must equal its straight-line recompute, row for row, and
  * every `*_snapshot.tsv` under `src/{main,test}/resources` must have
  * exactly one registered owner. Two snapshots also pin their size:
  * the example corpus (whose recompute re-reads its own title column)
  * and the complete dictionary-corpus token domain. The example corpus
  * also pins its titles: an edited title whose `std` is rewritten to
  * match passes the drift check, but not the title digest. */
class GoldenSpec extends AnyFunSuite {

  private val pinnedSize = Map("example_corpus" -> 105, "corpus_stems" -> 4532)

  Golden.all.foreach { g =>
    test(s"${g.name}: recompute reproduces the checked-in snapshot") {
      val got: Seq[Product] = g.recompute(SparkSuiteBase.spark)
      val want: Seq[Product] = g.rows
      pinnedSize.get(g.name).foreach(n => assert(want.size == n, "snapshot size"))
      val drift = got.map(Option(_)).zipAll(want.map(Option(_)), None, None)
        .zipWithIndex.collect { case ((a, b), i) if a != b =>
          s"row $i: recompute ${a.getOrElse("-")}, snapshot ${b.getOrElse("-")}"
        }
      assert(drift.isEmpty, s"${g.name} golden drift — review, then " +
        s"`runMain graft.tools.Golden ${g.name}`\n${drift.take(20).mkString("\n")}")
    }
  }

  test("example_corpus: the title column matches its pinned SHA-256") {
    val titles = Golden.exampleCorpus.rows.map(_._1).mkString("\n")
    val sha = MessageDigest.getInstance("SHA-256").digest(titles.getBytes(UTF_8))
      .map("%02x".format(_)).mkString
    assert(sha == "836372ab1bcdc7b552decc594d20668ffa606b60bf0e13811251087542a1dc3c",
      "the reference's example-corpus titles changed")
  }

  test("every *_snapshot.tsv under src/{main,test}/resources has exactly one registered owner") {
    val onDisk = Seq("src/main/resources", "src/test/resources").flatMap { d =>
      val s = Files.list(Paths.get(d))
      try s.iterator.asScala.map(p => s"$d/${p.getFileName}")
        .filter(_.endsWith("_snapshot.tsv")).toVector
      finally s.close()
    }.sorted
    val owners = Golden.all.groupBy(_.path).view.mapValues(_.map(_.name)).toMap
    assert(onDisk.filterNot(owners.contains).isEmpty, "unregistered snapshots")
    assert(owners.filter(_._2.size > 1).isEmpty, "snapshots with several owners")
    assert(owners.keySet == onDisk.toSet, "registered snapshots missing on disk")
  }
}
