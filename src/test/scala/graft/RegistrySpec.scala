package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{AnalyticsQueries, CapabilityQueries, ClassicQueries, CorpusQueries, ExtensionQueries, FrontierQueries, MiningQueries, ParityQueries, PipelineQueries, Query, Registry, StreamingQueries}

/** `SparkEntry` concatenates the ten query registries; a query name in
  * two of them, or twice in one, would otherwise SHADOW an earlier
  * definition and the wrong program would be graded. Locked down here.
  */
class RegistrySpec extends AnyFunSuite {

  private val parts = Seq(
    "parity" -> ParityQueries.queries.keySet,
    "extension" -> ExtensionQueries.queries.keySet,
    "streaming" -> StreamingQueries.queries.keySet,
    "capability" -> CapabilityQueries.queries.keySet,
    "analytics" -> AnalyticsQueries.queries.keySet,
    "pipeline" -> PipelineQueries.queries.keySet,
    "mining" -> MiningQueries.queries.keySet,
    "corpus" -> CorpusQueries.queries.keySet,
    "classic" -> ClassicQueries.queries.keySet,
    "frontier" -> FrontierQueries.queries.keySet)

  test("query names are globally unique across registries") {
    val all = parts.flatMap(_._2.toSeq)
    val dupes = all.groupBy(identity).filter(_._2.length > 1).keys
    assert(dupes.isEmpty, s"shadowed query names: ${dupes.mkString(", ")}")
    assert(SparkEntry.queries.size == all.length)
  }

  test("every oracle has a query and every query has an oracle") {
    val orphanOracles = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphanOracles.isEmpty, s"oracles without queries: $orphanOracles")
    // full-coverage invariant established in round 2: zero rows-only checks
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty, s"queries without oracles: $unoracled")
  }

  test("a name given twice in one registry is rejected") {
    val q = Query((s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](Registry("a" -> q, "b" -> q, "a" -> q))
    assert(e.getMessage.endsWith("query names registered twice: a"))
    intercept[IllegalArgumentException](Registry.concat(Registry("a" -> q), Registry("a" -> q)))
    assert(Registry("a" -> q, "b" -> q).oracleSql == Map("a" -> "SELECT 1", "b" -> "SELECT 1"))
  }
}
