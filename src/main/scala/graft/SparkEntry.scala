package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.registry._
import graft.registry.LakehouseQueries.q1Agg

/** Driver contract — query registry + DuckDB oracle twins.
  *
  * Each query is defined once, as a [[QueryDef]] in its family's file
  * under `graft.registry`; the maps below are derived from that list.
  * Naming follows SURVEY.md §2. Every aggregate / computed column is
  * aliased identically in the builder and its twin (driver compares by
  * column name). Monetary aggregates are summed in DECIMAL (exact,
  * order-independent) and cast to DOUBLE at the end so parallel
  * reduction order can never change the value.
  */
object SparkEntry {

  val registry: Seq[QueryDef] =
    LakehouseQueries.defs ++ ServingQueries.defs ++ AnalyticsQueries.defs ++
      MlQueries.defs ++ TextQueries.defs ++ AnnQueries.defs ++ GraphQueries.defs ++
      RecsysQueries.defs ++ StreamingQueries.defs ++ MultimodalQueries.defs

  private val duplicates = registry.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(duplicates.isEmpty, s"duplicate registry names: ${duplicates.toSeq.sorted.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.build).toMap

  val oracleSql: Map[String, String] =
    registry.collect { case QueryDef(name, _, Oracle(sql)) => name -> sql }.toMap

  val rowsOnly: Set[String] =
    registry.collect { case QueryDef(name, _, RowsOnly(_)) => name }.toSet

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    q1Agg(spark, "/root/testdata/sf0.001")
}
