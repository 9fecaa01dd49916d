package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle-checked query: the DataFrame program, run on
  * `(session, fixture dir)`, and the DuckDB SQL its output is
  * hash-compared against. Both are required, so a query cannot be
  * registered without its oracle.
  */
final case class Query(program: (SparkSession, String) => DataFrame, oracleSql: String)

/** Named queries, each name given once; `queries` and `oracleSql` are the
  * two views of the query contract (`graft.SparkEntry`). Each query file
  * keeps its registry in a `lazy val`, so it is built after every `val`
  * of the file, including the SQL fragments its oracles splice in.
  */
final class Registry private (private val entries: Seq[(String, Query)]) {
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map { case (name, q) => name -> q.program }.toMap
  val oracleSql: Map[String, String] =
    entries.map { case (name, q) => name -> q.oracleSql }.toMap
}

object Registry {
  /** Rejects a name given twice, which a `Map` literal would silently
    * collapse to its last entry. */
  def apply(entries: (String, Query)*): Registry = {
    val dupes = entries.groupBy(_._1).collect { case (name, es) if es.size > 1 => name }
    require(dupes.isEmpty, s"query names registered twice: ${dupes.toSeq.sorted.mkString(", ")}")
    new Registry(entries)
  }

  /** All entries of `parts`; a name in two of them is rejected. */
  def concat(parts: Registry*): Registry = apply(parts.flatMap(_.entries): _*)
}
