package graft

import org.scalatest.funsuite.AnyFunSuite

/** The oracle map gates every registered query, and a `*_stream` twin is
  * gated by its batch query's SQL unless an explicit entry says why its
  * answer differs. Reads the two maps only, so no Spark session starts. */
class OracleSpec extends AnyFunSuite {

  private val oracles = SparkEntry.oracleSql
  private val explicit = SparkEntry.explicitOracleSql
  private val names = SparkEntry.queries.keySet

  /** The twins that have a batch query of the same name. */
  private val twins = names.filter(n => n.endsWith("_stream") && names(n.stripSuffix("_stream")))

  private def collapsed(sql: String) = sql.trim.replaceAll("\\s+", " ")

  test("every registered query has an oracle, and every oracle a query") {
    assert(oracles.keySet == names)
    assert(names.size == 536)
  }

  test("a twin without an explicit entry is gated by its batch query's SQL") {
    val derived = twins.filterNot(explicit.contains)
    assert(derived.size == 46)
    derived.foreach(n => assert(oracles(n) == explicit(n.stripSuffix("_stream")), n))
  }

  test("an explicit twin entry differs from its batch query's SQL") {
    val kept = twins.filter(explicit.contains)
    assert(kept == Set("q_heavy_hitters_stream", "q_decontaminate_stream",
      "q_quality_checks_stream", "q_weighted_median_stream"))
    kept.foreach { n =>
      assert(collapsed(explicit(n)) != collapsed(explicit(n.stripSuffix("_stream"))), n)
    }
  }
}
