package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `Queries.cachedLayout` keys a layout on its corpus path itself: two
  * corpora whose paths share a `String.hashCode` (sibling dirs `Aa` and
  * `BB`) must each build and read their own layout. */
class LayoutKeySpec extends AnyFunSuite {
  import SparkSuiteBase.{deleteTree, spark}

  test("sibling SF dirs with equal path hashCodes get their own layout and rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-layout-key")
    val (aa, bb) = (root.resolve("Aa").toString, root.resolve("BB").toString)
    assert(aa.hashCode == bb.hashCode, "the collision under test")
    // q112 reads documents(doc_id, lang, n_chars, source); its layout
    // writes the even ids without `source`, which then reads as unknown
    def writeDocs(dir: String, n: Long, lang: String): Unit =
      (1L to n).map(i => (i, lang, 100L, "web"))
        .toDF("doc_id", "lang", "n_chars", "source")
        .write.parquet(s"$dir/documents.parquet")
    def q112(dir: String): Seq[(String, String, Long, Long)] =
      SparkEntry.queries("q112_schema_evolution")(spark, dir)
        .as[(String, String, Long, Long)].collect().toSeq
    try {
      writeDocs(aa, 4, "en")
      writeDocs(bb, 6, "de")
      val built = Queries.layoutsBuilt
      assert(q112(aa) == Seq(("en", "unknown", 2L, 200L), ("en", "web", 2L, 200L)))
      assert(Queries.layoutsBuilt == built + 1)
      assert(q112(bb) == Seq(("de", "unknown", 3L, 300L), ("de", "web", 3L, 300L)))
      assert(Queries.layoutsBuilt == built + 2)
    } finally deleteTree(root)
  }
}
