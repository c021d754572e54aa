package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract smoke: entry() must run on a bare session (it registers
  * its own functions) and return rows; the query registry's keys are
  * unique, and layout-backed queries are seen through their
  * `cachedLayout` calls. */
class EntrySpec extends AnyFunSuite {
  import SparkSuiteBase.{spark, sfDir}

  test("entry() runs on a plain session and returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("std", "n_docs", "n_langs"))
  }

  test("registry names and qNN ids are unique (a duplicate name would " +
      "vanish from the derived maps, a duplicate id would merge bench JSON keys)") {
    def dupes(xs: Seq[String]) = xs.diff(xs.distinct)
    assert(dupes(SparkEntry.registry.map(_.name)).isEmpty)
    assert(dupes(SparkEntry.registry.map(_.id)).isEmpty)
  }

  test("constructing q104 calls cachedLayout; constructing q01 does not") {
    def layoutCalls(name: String): Long = {
      val before = Queries.layoutCalls
      SparkEntry.queries(name)(spark, sfDir)
      Queries.layoutCalls - before
    }
    assert(layoutCalls("q104_zorder_lake") > 0)
    assert(layoutCalls("q01_scan_filter_project") == 0)
  }
}
