package graft.functions

import graft.dict.TitleDictionary
import graft.index.TfidfIndex
import graft.text.Tokenize

/** Title standardization core — the reference's `standardize_title` scalar
  * semantics (`/root/reference/src/lib.rs:43-78`, `src/utils.rs:119-195`):
  * tokenize → ASCII-lowercase → Snowball-English stem → TF-IDF over the
  * bundled BLS dictionary → brute-force-equivalent cosine argmax (strict `>`
  * from -0.0, lowest corpus index wins; all-zero scores → corpus[0]) →
  * `"<matched alias> - <BLS category>"`.
  *
  * The dictionary + index are built once per JVM from the bundled classpath
  * resource (the Spark analog of the reference's `include_str!` embed); no
  * per-invocation disk cache (the reference's `$TMPDIR` bincode cache,
  * `utils.rs:122-135`, is stale-prone and race-prone — see SURVEY.md §4.2)
  * and no per-row dictionary re-parse (`utils.rs:197-227` defect).
  */
object TitleStandardizer extends Serializable {

  lazy val index: TfidfIndex =
    TfidfIndex.build(TitleDictionary.corpus.map(Tokenize.tokenizeAndStem))

  /** Best-matching dictionary alias for a raw input title. */
  def matchAlias(input: String): String =
    TitleDictionary.corpus(index.bestMatch(Tokenize.tokenizeAndStem(input)))

  /** `"<alias> - <category>"` per corpus index, composed once per JVM so a
    * row pays one array read instead of a concat and a category lookup. */
  private lazy val outputs: Array[String] =
    TitleDictionary.corpus.map(alias => alias + " - " + TitleDictionary.categoryOf(alias))

  /** Full `standardize_title` semantics: `"<alias> - <category>"`. */
  def standardize(input: String): String =
    outputs(index.bestMatch(Tokenize.tokenizeAndStem(input)))
}
