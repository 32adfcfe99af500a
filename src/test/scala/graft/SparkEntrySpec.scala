package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query registry is the driver contract: `queries` and `oracleSql`
  * are derived from it, so they can neither drift apart nor lose an
  * entry to a repeated name.
  */
class SparkEntrySpec extends AnyFunSuite {

  test("a repeated name fails the derivation and is named") {
    val run: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) => s.emptyDataFrame
    val e = intercept[IllegalArgumentException] {
      SparkEntry.byName(Seq(QueryDef("q_dup", run, "SELECT 1"),
        QueryDef("q_dup", run, "SELECT 2")))
    }
    assert(e.getMessage.contains("q_dup"))
  }

  test("the parity surface is 14 registered queries") {
    assert(Bench.ReferenceSurface.size == 14)
    val missing = Bench.ReferenceSurface -- SparkEntry.registry.map(_.name)
    assert(missing.isEmpty, s"parity names not in the registry: $missing")
  }
}
