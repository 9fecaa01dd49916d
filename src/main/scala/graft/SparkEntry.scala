package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.{AnalyticsQueries, CapabilityQueries, ClassicQueries, CorpusQueries, ExtensionQueries, FrontierQueries, MiningQueries, ParityQueries, PipelineQueries, Registry, StreamingQueries}

/** The query contract (SURVEY.md §7): `queries` maps every implemented
  * SURVEY §2 operator (and extension) to a runnable DataFrame program, and
  * `oracleSql` gives the DuckDB SQL whose output it is hash-compared
  * against. Both are views of one registry, built once from the ten query
  * files.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * the full reference pipeline shape — window-filtered scan, row hash,
    * incremental anti-join vs a half-window snapshot, aggregation.
    */
  def entry(spark: SparkSession): DataFrame =
    ParityQueries.queries("q7_incremental_antijoin")(spark, "/root/testdata/sf0.001")

  private val registry = Registry.concat(
    ParityQueries.registry, ExtensionQueries.registry,
    StreamingQueries.registry, CapabilityQueries.registry,
    AnalyticsQueries.registry, PipelineQueries.registry,
    MiningQueries.registry, CorpusQueries.registry,
    ClassicQueries.registry, FrontierQueries.registry)

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  val queries: Map[String, (SparkSession, String) => DataFrame] = registry.queries

  /** For each key in queries, equivalent SQL runnable by DuckDB on the
    * same parquet tables. */
  val oracleSql: Map[String, String] = registry.oracleSql
}
