package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `Queries.cachedLayout` keys a layout on its corpus path itself: two
  * corpora whose paths share a `String.hashCode` (sibling dirs `Aa` and
  * `BB`) must each build and read their own layout. A layout shared by
  * several queries is built once per corpus with its whole snapshot
  * history, and a run-once step owns no directory. */
class LayoutKeySpec extends AnyFunSuite {
  import SparkSuiteBase.{deleteTree, sfDir, spark}

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

  test("q155, q169 and q180 on a fresh corpus build its BM25 and IVF " +
      "indexes once between them") {
    val root = Files.createTempDirectory("graft-layout-shared")
    try {
      for (t <- Seq("documents", "embeddings"))
        Files.copy(Paths.get(s"$sfDir/$t.parquet"),
          root.resolve(s"$t.parquet"))
      val built = Queries.layoutsBuilt
      for (q <- Seq("q155_bm25_index_topk", "q169_hybrid_rrf",
          "q180_hybrid_rrf_filtered"))
        SparkEntry.queries(q)(spark, root.toString)
      assert(Queries.layoutsBuilt == built + 2)
    } finally deleteTree(root)
  }

  test("q158 alone on a fresh corpus leaves exactly one quantize commit " +
      "in its IVF index's history") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-layout-ivf")
    try {
      Files.copy(Paths.get(s"$sfDir/embeddings.parquet"),
        root.resolve("embeddings.parquet"))
      SparkEntry.queries("q158_knn_ivf_index")(spark, root.toString)
      val ops = graft.sources.Snapshots
        .history(spark, Queries.ivfIndex(spark, root.toString))
        .select($"op").collect().map(_.getString(0)).toSeq
      assert(ops == Seq("quantize", "build"),
        s"the IVF layout's writer owns its quantize commit: $ops")
    } finally deleteTree(root)
  }

  test("run-once steps run once and own no dir; every cached layout dir " +
      "holds a file") {
    import spark.implicits._
    val steps = Seq("q192_hybrid_rrf_stack_tag" -> "q192_stacktag")
    for ((query, step) <- steps) {
      def construct(): Unit = {
        val calls = Queries.layoutCalls
        SparkEntry.queries(query)(spark, sfDir)
        assert(Queries.layoutCalls > calls, s"$query moved layoutCalls")
      }
      construct()
      val built = Queries.layoutsBuilt
      construct()
      assert(Queries.layoutsBuilt == built, s"$query built or ran a step again")
      assert(Queries.layouts((step, sfDir)).isEmpty, s"$step owns a dir")
    }
    val quantizes = graft.sources.Snapshots
      .history(spark, Queries.ivfIndex(spark, sfDir))
      .filter($"op" === "quantize").count()
    assert(quantizes == 1)
    for (tbl <- Seq(Queries.bm25TimeTravelIndex(spark, sfDir),
        Queries.ivfAppendIndex(spark, sfDir)))
      assert(graft.sources.Snapshots.tags(spark, tbl).contains("stack_v1"))
    for (dir <- Queries.layouts.values.flatten) {
      val s = Files.walk(Paths.get(dir))
      try assert(s.anyMatch(Files.isRegularFile(_)), s"$dir is empty")
      finally s.close()
    }
  }
}
