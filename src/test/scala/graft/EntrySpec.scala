package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() must run on a bare session (it registers
  * its own functions) and return rows. */
class EntrySpec extends AnyFunSuite {
  import SparkSuiteBase.spark

  test("entry() runs on a plain session and returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("std", "n_docs", "n_langs"))
  }

  test("every Bench.layoutBacked key is the qNN prefix of a registered " +
      "query (a dead key silently drops a query from the warmup build)") {
    val prefixes = SparkEntry.queries.keySet.map(_.takeWhile(_ != '_'))
    val dead = Bench.layoutBacked -- prefixes
    assert(dead.isEmpty, s"layoutBacked keys matching no query: $dead")
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }
}
