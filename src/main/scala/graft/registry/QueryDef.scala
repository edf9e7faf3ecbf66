package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registry query: its name, the Spark builder `(session, sfDir) =>
  * DataFrame`, and how the driver checks the builder's output.
  */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame, check: Check)

/** How the driver checks a query's output. */
sealed trait Check

/** Hash-compared against this DuckDB twin, run over the same parquet
  * tables. Every computed column carries the same alias in both.
  */
final case class Oracle(sql: String) extends Check

/** No SQL twin can replay the output, so the driver records rows only;
  * `cause` says why (SURVEY.md §5.1 lists the same set).
  */
final case class RowsOnly(cause: String) extends Check
