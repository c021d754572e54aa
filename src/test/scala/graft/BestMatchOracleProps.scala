package graft

import org.scalacheck.{Arbitrary, Gen, Properties, Test}
import org.scalacheck.Prop.{forAll, propBoolean}

import graft.dict.TitleDictionary
import graft.functions.TitleStandardizer
import graft.text.Tokenize

/** Differential property: the dictionary index's `bestMatch` returns the
  * same corpus index as [[FullScanOracle]] on every input. Compares the
  * index, not the output string, so a wrong pick among duplicate aliases
  * shows too. */
object BestMatchOracleProps extends Properties("bestMatch") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10000)

  private val idx = TitleStandardizer.index
  private val corpus = TitleDictionary.corpus.toIndexedSeq
  private val dictWord = Gen.oneOf(corpus.flatMap(Tokenize.tokenize).distinct)
  private val stem = Gen.oneOf(idx.idxToTerm.toIndexedSeq)
  private val oovWord = Gen.choose(1, 12).flatMap(Gen.listOfN(_, Gen.alphaChar)).map(_.mkString)
  // Unicode `\w` chars: accented and non-Latin letters, a combining mark,
  // a titlecase digraph, digits, connector punctuation
  private val unicodeRun = Gen.choose(1, 8)
    .flatMap(Gen.listOfN(_, Gen.oneOf("éüßøñçİıΩωжЖ名字日本ǅ́٣0_aZ".toSeq)))
    .map(_.mkString)
  private val punct = Gen.choose(1, 6)
    .flatMap(Gen.listOfN(_, Gen.oneOf(" .,;:!?#$%^&*()-+/\\'\"–—".toSeq)))
    .map(_.mkString)
  private val word = Gen.frequency(
    5 -> dictWord, 3 -> stem, 2 -> oovWord, 2 -> unicodeRun, 1 -> punct)
  private def words(max: Int) =
    Gen.choose(0, max).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
  private val alias = Gen.oneOf(corpus)
  private val aliasWithNoise =
    for { pre <- words(2); a <- alias; post <- words(3) } yield s"$pre $a $post"

  private val input = Gen.frequency(
    6 -> words(8),
    3 -> alias,
    4 -> aliasWithNoise,
    1 -> Gen.const(""),
    1 -> punct,
    1 -> Gen.asciiPrintableStr,
    1 -> Arbitrary.arbitrary[String])

  property("index bestMatch equals the full-scan oracle") = forAll(input) { s =>
    val toks = Tokenize.tokenizeAndStem(s)
    val got = idx.bestMatch(toks)
    val want = FullScanOracle.bestMatch(idx, toks)
    (got == want) :| s"'$s' -> $got, full scan $want"
  }
}
