package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.catalog.Gate

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with a DuckDB
  * oracle in `oracleSql` computing identical values with identical
  * column names. Both maps derive from the domain-grouped
  * [[graft.catalog.Gate]] registry.
  */
object SparkEntry {

  private val registry: Map[String, Gate] = Gate.registry(Gate.all)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, g) => n -> g.run }

  val oracleSql: Map[String, String] = registry.map { case (n, g) => n -> g.oracle }

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): revenue
    * per region/nation, broadcast dims, decimal-exact money.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_join_revenue")(spark, "/root/testdata/sf0.001")
}
