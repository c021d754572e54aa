package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.dict.TitleDictionary
import graft.functions.TitleStandardizer
import graft.text.Tokenize

/** Golden vectors from the reference's sqllogictest suite
  * (`/root/reference/test/sql/title_mapper.test:17-41`) + edge-case
  * semantics from SURVEY.md §2.2. Pure-JVM (no SparkSession) — the UDF is a
  * thin wrapper over these functions.
  */
class StandardizeSpec extends AnyFunSuite {

  test("dictionary shape") {
    assert(TitleDictionary.entries.size == 1105)
    assert(TitleDictionary.corpus.length == 17772)
    assert(TitleDictionary.corpus.distinct.length == 14525)
    assert(TitleDictionary.corpus(0) == "General Worker")
    assert(TitleDictionary.categoryOf("General Worker") == "All Occupations")
  }

  test("golden: the five sqllogictest vectors") {
    val golden = Seq(
      "robotics engineer" -> "Robotics Engineer - Engineers, All Other",
      "digital strategist" -> "Data Strategist - Data Scientists",
      "poet" -> "Poet - Writers and Authors",
      "author" -> "Author - Writers and Editors",
      "biologist" -> "Biologist - Biological Scientists, All Other"
    )
    val bad = golden.collect {
      case (in, want) if TitleStandardizer.standardize(in) != want =>
        s"'$in' -> '${TitleStandardizer.standardize(in)}' (want '$want')"
    }
    assert(bad.isEmpty, s"\n${bad.mkString("\n")}")
  }

  test("all-OOV / empty input falls back to corpus[0] (the -0.0 strict-> rule)") {
    // every cosine score is 0.0; 0.0 > -0.0 is false in IEEE 754, so the
    // best index stays 0 (/root/reference/src/utils.rs:173-181)
    assert(TitleStandardizer.standardize("1234 !!") == "General Worker - All Occupations")
    assert(TitleStandardizer.standardize("") == "General Worker - All Occupations")
    assert(TitleStandardizer.standardize("qqqqzzzz xyzzy") == "General Worker - All Occupations")
  }

  test("exact dictionary alias maps to itself, category last-wins") {
    // an exact alias has cosine 1.0 with its own corpus row; ambiguous
    // aliases (2,021 of them) resolve the category via last-JSON-entry-wins
    // (/root/reference/src/utils.rs:201-221)
    val out = TitleStandardizer.standardize("General Manager")
    assert(out.startsWith("General Manager - "))
    val lastCat = TitleDictionary.entries.reverse
      .find(e => e.otherTitles.exists(_.contains("General Manager")) || e.titleName.contains("General Manager"))
      .flatMap(_.titleName).get
    assert(out == s"General Manager - $lastCat")
  }

  test("duplicate inputs produce identical outputs (determinism)") {
    val xs = Seq("senior software developer", "senior software developer", "SENIOR SOFTWARE DEVELOPER")
    val out = xs.map(TitleStandardizer.standardize)
    assert(out(0) == out(1))
    // case-insensitivity comes from ascii-lowercase tokenization
    assert(out(0) == out(2))
  }

  test("ties resolve to the lowest corpus index") {
    // every copy of a duplicated corpus row (3,247 extra rows) scores the
    // same, so the strict `>` argmax must return the full scan's index, at
    // or before the alias's first occurrence; the output string is the same
    // for every copy and cannot show a wrong tie-break
    val idx = TitleStandardizer.index
    val firstAt = TitleDictionary.corpus.zipWithIndex.groupBy(_._1).collect {
      case (t, occ) if occ.length > 1 => t -> occ.map(_._2).min
    }
    assert(firstAt.nonEmpty)
    val bad = firstAt.toSeq.sortBy(_._2).flatMap { case (dup, first) =>
      val toks = Tokenize.tokenizeAndStem(dup)
      val got = idx.bestMatch(toks)
      val want = FullScanOracle.bestMatch(idx, toks)
      if (got == want && got <= first) None
      else Some(s"'$dup' (first at $first) -> $got, full scan $want")
    }
    assert(bad.isEmpty, s"\n${bad.take(20).mkString("\n")}")
  }
}
