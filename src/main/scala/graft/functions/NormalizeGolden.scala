package graft.functions

/** Golden vectors for [[TextAnalysis.normalizeText]]: raw → expected
  * normalized form (NFKC, combining-mark strip, lowercase, whitespace
  * collapse, trim). Every non-ASCII character is written as a \u escape so
  * the fixture survives any editor/encoding round-trip. The expected
  * strings are pinned by `TextAnalysisSpec` against the Scala
  * implementation AND shipped as the q75 VALUES-table oracle, so the
  * driver compare is engine-independent (same pattern as the q52
  * standardize_title golden).
  */
object NormalizeGolden {

  val pairs: Seq[(Long, String, String)] = Seq(
    // combining-mark strip after NFD: e-acute -> e
    (1L, "Café au Lait", "cafe au lait"),
    // U+FB01/U+FB02 ligatures fold under NFKC
    (2L, "ﬁnancial ﬂow", "financial flow"),
    // fullwidth forms + ideographic space U+3000
    (3L, "ＦＵＬＬＷＩＤＴＨ　ｔｅｘｔ",
      "fullwidth text"),
    // no-break space U+00A0 maps to a plain space under NFKC
    (4L, "naïve résumé", "naive resume"),
    // superscripts are compatibility digits
    (5L, "x²+y³", "x2+y3"),
    (6L, "  MIXED   Case\tTabs\nNewlines  ", "mixed case tabs newlines"),
    // U+212B ANGSTROM SIGN normalizes to A-ring, ring strips to plain A
    (7L, "ÅNGSTRÖM Å", "angstrom a"),
    // Greek: tonos is a combining mark after NFD
    (8L, "Ελληνικά",
      "ελληνικα"),
    // em dash U+2014 and underscore survive untouched
    (9L, "São_Paulo—2024", "sao_paulo—2024"),
    (10L, "", ""))

  /** DuckDB-runnable oracle: the pinned expected strings as a VALUES table,
    * same column names and ordering as `Queries.normalizeGolden`. */
  lazy val oracleValuesSql: String =
    pairs.map { case (id, _, expected) =>
      s"($id, ${graft.Golden.lit(expected)})" }
      .mkString(
        "SELECT CAST(id AS BIGINT) AS id, normalized FROM (VALUES ",
        ", ",
        ") AS g(id, normalized) ORDER BY id")
}
