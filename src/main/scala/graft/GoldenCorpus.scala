package graft

/** The reference's 104-title example corpus with pinned standardized
  * outputs (fixture `example_corpus_snapshot.tsv`, registered as
  * [[Golden.exampleCorpus]]; inputs from
  * `/root/reference/examples/test_query.sql:3-112`). Five entries are the
  * reference's published sqllogictest goldens
  * (`/root/reference/test/sql/title_mapper.test:17-41`), which anchor the
  * rest of the snapshot. Shared by the driver-facing golden query
  * ([[Queries.stdGolden]] / its VALUES-table oracle) and `GoldenSpec`.
  */
object GoldenCorpus {

  lazy val pairs: Seq[(String, String)] = Golden.exampleCorpus.rows

  lazy val titles: Seq[String] = pairs.map(_._1)
}
