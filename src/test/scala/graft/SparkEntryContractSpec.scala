package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver contract: every oracle names a real query (an orphan
  * oracle would silently never be checked), the rows-only set is
  * exactly the declared four, and the flagship `entry` returns rows.
  */
class SparkEntryContractSpec extends AnyFunSuite {
  test("no orphan oracle") {
    assert((SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet).isEmpty)
  }

  test("the rows-only queries are exactly the declared four") {
    assert(SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet ==
      Set("d_embed_neardup", "d_minhash_lsh", "d_simhash", "mm_pipeline"))
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(TestSpark.spark).count() > 0)
  }
}
