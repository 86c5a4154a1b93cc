package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry: one declaration per query, and its two views
  * (`queries`, `oracleSql`) agree with it. */
class QueryRegistrySpec extends AnyFunSuite {

  test("query names are unique, every oracle belongs to a query, rows-only set is fixed") {
    val names = SparkEntry.registry.map(_.name)
    // a Map keeps the last of two equal keys silently; the registry is a Seq
    assert(names.diff(names.distinct).isEmpty, "duplicate query names")
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    // a dropped oracle must fail here, not turn its query rows-only
    assert(
      SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
        Set("q_image_pipeline", "q_resume_manifest"))
  }
}
