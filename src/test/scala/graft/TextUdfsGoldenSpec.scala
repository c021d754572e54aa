package graft

import org.scalatest.funsuite.AnyFunSuite

/** Shape checks for the q121 golden fixture
  * `text_udfs_golden_snapshot.tsv`; its drift guard (the live text-UDF
  * pipeline reproduces every pinned row) is `GoldenSpec`. */
class TextUdfsGoldenSpec extends AnyFunSuite {

  test("golden fixture is well-formed (non-empty stems, positive weights)") {
    assert(Golden.textUdfs.rows.nonEmpty)
    Golden.textUdfs.rows.foreach { case (title, nStems, stemsStr, firstStem, card, wE9) =>
      assert(nStems > 0, s"'$title' has no stems")
      assert(stemsStr.split('|').length == nStems)
      assert(firstStem.nonEmpty)
      // all-OOV titles (e.g. 'philosopher') legitimately carry an empty
      // TF-IDF vector; a zero-cardinality row must then have zero weight
      assert(card >= 0 && wE9 >= 0)
      if (card == 0) assert(wE9 == 0L, s"'$title' empty vector with weight")
    }
  }
}
