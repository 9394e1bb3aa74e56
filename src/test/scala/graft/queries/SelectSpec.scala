package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** Pins `SparkEntry.select`, the one query-name filter behind `Bench`,
  * `Verify` and `Explain`: no names means every query, and a misspelled
  * name fails loudly instead of being skipped. No SparkSession needed. */
class SelectSpec extends AnyFunSuite {
  private val names = SparkEntry.all.map(_.name)

  test("query names are distinct (queries' toMap would drop a duplicate)") {
    val dups = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("the empty set selects every query in `all` order") {
    assert(SparkEntry.select(Set.empty).map(_.name) == names)
  }

  test("a known subset selects exactly those names, in `all` order") {
    val subset = Set("x14_dedup_pipeline", "q01_agg_pushdown", "x96_duplicated_spans")
    val got = SparkEntry.select(subset).map(_.name)
    assert(got.toSet == subset)
    assert(got == names.filter(subset))
  }

  test("a misspelled name fails and the message names it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Set("q01_agg_pushdown", "x999_nope", "q01_agg_pushdwn"))
    }
    assert(e.getMessage.contains("x999_nope"))
    assert(e.getMessage.contains("q01_agg_pushdwn"))
    assert(!e.getMessage.contains("q01_agg_pushdown"))
  }
}
