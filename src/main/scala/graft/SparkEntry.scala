package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` / `oracleSql` are derived from the QueryDef registry so the two
  * maps can never drift apart.
  */
object SparkEntry {

  /** All verifiable capabilities, grouped per SURVEY.md §2. */
  def registry: Seq[QueryDef] =
    Relational.defs ++ TransformerQueries.defs ++ DocumentQueries.defs ++
      AnnQueries.defs ++ DriftQueries.defs ++
      MiscQueries.defs ++ SourceQueries.defs ++ AnalyticsQueries.defs ++
      CurationQueries.defs ++ RetrievalQueries.defs

  /** Every shared artifact the registry's queries declare (initializing
    * the registry first, which registers the declarations). */
  def artifacts: Seq[Artifact[_]] = { registry; Artifact.declared }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(d => d.name -> d.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
