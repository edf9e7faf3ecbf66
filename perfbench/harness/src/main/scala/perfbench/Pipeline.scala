package perfbench

import java.io.File

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Temporal
import graft.operators.{AsOfJoin, Dedup, Dims, Merge, QualityGate, Scd2, TypedCoerce}
import graft.sources.{CsvVarchar, MedallionCatalog, MedallionSink, VersionedTable}

/** The medallion write path, bronze CSV to serving, one cut per pass.
  *
  * Bronze holds one directory per cut (`cut=<k>/`) with `|`-delimited
  * events and sales (line items with their order's date and
  * priority). Cut 0 is the initial load, made by the untimed pass;
  * each timed pass loads the next cut incrementally into the same lake:
  *   1. silver: `CsvVarchar.read` -> `TypedCoerce` -> `QualityGate` ->
  *      `MedallionSink.write` of the valid rows (with `_quality.json`)
  *      and of the quarantined rows;
  *   2. catalog: `MedallionCatalog.validateOrThrow` and `read`;
  *   3. gold: `Dims`, `Scd2.fromHistory` (cut 0) or `Scd2.applyChanges`,
  *      `Merge.appendNewGrains` on the event-fact grain and
  *      `Merge.mergeAggregate` on the sales rollup, each committed to a
  *      `VersionedTable` (commit, or merge for the rollup);
  *   4. serving queries over the written gold.
  *
  * `checkFacts`, run after the timed passes, recomputes gold in memory
  * from all loaded silver in one go and runs the same serving queries
  * on it; the written and in-memory answers must agree. */
final class Pipeline(spark: SparkSession, bronze: String, work: String) extends Workload {
  import Pipeline._

  private val cuts = new File(bronze).listFiles().map(_.getName)
    .filter(_.startsWith("cut=")).map(_.stripPrefix("cut=").toInt).sorted.toSeq
  private val silver = s"$work/lake/silver"
  private val gold = s"$work/lake/gold"
  private val loaded = mutable.LinkedHashMap.empty[Int, Map[String, DataFrame]]
  private val written = mutable.LinkedHashMap.empty[String, (Long, Long)]
  private val trace = mutable.LinkedHashMap.empty[String, Double]
  private var bronzeRows = 0L

  override def hasNext: Boolean = loaded.size < cuts.size
  override def inputRows: Long = bronzeRows
  override def traceFacts: Map[String, Any] = trace.toMap

  def pass(r: Runner, rng: Random, check: Boolean): Unit = {
    val k = cuts(loaded.size)
    val initial = k == cuts.head
    var rows, quarantined = 0L
    val lake = new File(s"$work/lake")
    val (bytesBefore, filesBefore) = if (r.traced) (du(lake), dataFiles(lake)) else (0L, 0L)
    val firstSpan = r.spans.spans.size

    r.op("silver") {
      r.layer("silver.build_write") {
        for (t <- Tables) {
          val gated = QualityGate.withReason(t.derive(TypedCoerce(
            CsvVarchar.read(spark, s"$bronze/cut=$k/${t.name}.csv", t.columns), t.types)), t.rules)
          val counts = r.layer("sources.medallion_sink") {
            (MedallionSink.write(gated.filter(col(QualityGate.ReasonCol).isNull)
                .drop(QualityGate.ReasonCol), silver, s"${t.name}_c$k", t.partitionCols),
              MedallionSink.write(gated.filter(col(QualityGate.ReasonCol).isNotNull),
                silver, s"${t.name}_quarantine_c$k", Seq(QualityGate.ReasonCol)))
          }
          written(s"${t.name}.c$k") = counts
          rows += counts._1 + counts._2
          quarantined += counts._2
        }
      }
    }

    r.op("catalog") {
      r.layer("catalog.validate") {
        loaded(k) = Tables.map { t =>
          MedallionCatalog.validateOrThrow(spark, silver, s"${t.name}_c$k", t.partitionCols)
          t.name -> MedallionCatalog.read(spark, silver, s"${t.name}_c$k")
        }.toMap
      }
    }

    def cut = loaded(k)
    r.op("gold.dims") {
      r.layer("gold.dims") {
        commit(r, Dims.dimDate(cut("events"), col("ts")), s"$gold/dim_date")
        if (initial) {
          commit(r, Dims.dimTime30m(spark), s"$gold/dim_time_30m")
          commit(r, Dims.lookupDim(cut("events"), "event_type_norm", "event_type_sk",
            "event_type_name"), s"$gold/dim_event_type")
        }
      }
    }

    r.op("gold.scd2") {
      r.layer("gold.scd2") {
        val obs = userObs(cut("events"))
        val dim =
          if (initial) Scd2.fromHistory(obs, "user_id", "ts", Seq("event_id"), Seq("segment"))
          else Scd2.applyChanges(VersionedTable.read(spark, s"$gold/dim_user"), obs,
            "user_id", "ts", Seq("event_id"), Seq("segment"))
        commit(r, dim, s"$gold/dim_user", overwrite = true)
      }
    }

    r.op("gold.merge") {
      r.layer("gold.merge") {
        val incoming = eventFact(cut("events"))
        val fct = s"$gold/fct_events"
        if (initial) commit(r, incoming, fct)
        else commit(r, Merge.appendNewGrains(VersionedTable.read(spark, fct), incoming, Grain),
          fct, overwrite = true)
        val sales = salesRollup(cut("sales"))
        val rollup = s"$gold/agg_sales_daily"
        if (initial) commit(r, sales, rollup)
        else {
          val stored = VersionedTable.read(spark, rollup)
            .join(sales.select("rollup_key"), Seq("rollup_key"), "left_semi")
          val merged = Merge.mergeAggregate(stored, sales, RollupKeys)
            .withColumn("revenue", col("revenue").cast(Revenue))
          r.layer("versioned.commit")(VersionedTable.merge(spark, rollup, merged, "rollup_key"))
        }
      }
    }

    r.op("serving")(r.layer("serving.query")(servingOverGold()))

    bronzeRows = rows
    if (r.traced) {
      def add(key: String, v: Double): Unit = trace(key) = trace.getOrElse(key, 0.0) + v
      add("passes", 1)
      add("rows_read", rows.toDouble)
      add("rows_quarantined", quarantined.toDouble)
      add("bronze_bytes", Tables.map(t => new File(s"$bronze/cut=$k/${t.name}.csv").length).sum)
      add("bytes_written", du(lake) - bytesBefore)
      add("files_written", dataFiles(lake) - filesBefore)
      for (n <- Seq("silver.build_write", "gold.dims", "gold.scd2", "gold.merge",
          "versioned.commit", "catalog.validate", "serving.query", "sources.medallion_sink"))
        add(n + "_s", r.spans.total(n, firstSpan))
    }
  }

  private def servingOverGold(): Map[String, Seq[String]] = servingQueries(
    VersionedTable.read(spark, s"$gold/fct_events"),
    VersionedTable.read(spark, s"$gold/dim_date"),
    VersionedTable.read(spark, s"$gold/dim_user"),
    VersionedTable.read(spark, s"$gold/agg_sales_daily"))

  /** Checks every cut loaded so far; run after the timed passes. */
  override def checkFacts: Map[String, Any] = {
    val facts = mutable.LinkedHashMap.empty[String, Any]
    for ((k, _) <- loaded; t <- Tables) {
      val (valid, bad) = written(s"${t.name}.c$k")
      facts(s"silver.${t.name}.c$k") = Map(
        "valid_written" -> valid, "quarantined_written" -> bad,
        // per-reason counts from the quarantine partitions' sidecars
        "reasons" -> MedallionCatalog.partitions(spark, silver, s"${t.name}_quarantine_c$k")
          .filter(_.metaRowCount.exists(_ > 0))
          .map(p => p.values(QualityGate.ReasonCol) -> p.metaRowCount.get).toMap)
      val v = MedallionCatalog.validate(spark, silver, s"${t.name}_c$k", t.partitionCols)
      facts(s"catalog.${t.name}.c$k") = Map(
        "partitions" -> v.count(), "ok" -> v.filter(col("row_count_ok")).count())
    }
    val all = Tables.map(t => t.name -> loaded.values.map(_(t.name)).reduce(_ unionByName _)).toMap
    val inMemory = servingQueries(
      eventFact(all("events")),
      Dims.dimDate(all("events"), col("ts")),
      Scd2.fromHistory(userObs(all("events")), "user_id", "ts", Seq("event_id"), Seq("segment")),
      salesRollup(all("sales")))
    facts("serving") = servingOverGold().map { case (name, rows) =>
      val expected = inMemory(name)
      name -> Map("rows" -> rows.size, "equal" -> (rows == expected),
        "first_diff" -> (rows.diff(expected).take(1) ++ expected.diff(rows).take(1)))
    }
    facts("versions") = GoldTables.map(g => g -> VersionedTable.history(spark, s"$gold/$g").size).toMap
    facts("cuts") = loaded.keys.toSeq
    facts.toMap
  }

  private def commit(r: Runner, df: DataFrame, dir: String, overwrite: Boolean = false): Unit =
    r.layer("versioned.commit")(VersionedTable.commit(df, dir, overwrite = overwrite))
}

object Pipeline {
  final case class Table(name: String, columns: Seq[String], types: Seq[(String, String)],
                         derive: DataFrame => DataFrame, rules: Seq[QualityGate.Rule],
                         partitionCols: Seq[String])

  private val EventTypes = Seq("CLICK", "ERROR", "PURCHASE", "SIGNUP", "VIEW")

  val Tables: Seq[Table] = Seq(
    Table("events", Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
      Seq("event_id" -> "bigint", "ts" -> "timestamp", "user_id" -> "bigint", "value" -> "double"),
      df => df.select(col("event_id"), col("ts"), col("user_id"),
        upper(trim(col("event_type"))).as("event_type_norm"), col("value"),
        Temporal.dateSk(col("ts")).as("date_sk"), Temporal.time30mSk(col("ts")).as("time_30m_sk"),
        Temporal.tipoDia(col("ts")).as("tipo_dia"), year(col("ts")).as("year"),
        month(col("ts")).as("month")),
      Seq(
        QualityGate.Rule("MISSING_ID", col("user_id").isNull),
        QualityGate.Rule("BAD_TIMESTAMP", col("ts").isNull),
        QualityGate.Rule("BAD_TYPE", !coalesce(col("event_type_norm").isin(EventTypes: _*), lit(false))),
        QualityGate.Rule("BAD_VALUE", col("value").isNull),
        QualityGate.Rule("NEG_VALUE", col("value") < 0)),
      Seq("year", "month")),
    Table("sales", Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate",
        "o_orderdate", "o_orderpriority"),
      Seq("l_orderkey" -> "bigint", "l_partkey" -> "bigint", "l_suppkey" -> "bigint",
        "l_linenumber" -> "int", "l_quantity" -> "double", "l_extendedprice" -> "double",
        "l_discount" -> "double", "l_tax" -> "double", "l_shipdate" -> "timestamp",
        "o_orderdate" -> "timestamp"),
      df => df.withColumn("ship_year", year(col("l_shipdate"))),
      Seq(
        QualityGate.Rule("MISSING_ORDERKEY", col("l_orderkey").isNull),
        QualityGate.Rule("BAD_QUANTITY", coalesce(col("l_quantity") <= 0, lit(true))),
        QualityGate.Rule("BAD_DISCOUNT", !coalesce(col("l_discount").between(0, 0.1), lit(false))),
        QualityGate.Rule("BAD_SHIPDATE", col("l_shipdate").isNull)),
      Seq("ship_year")))

  val Grain = Seq("user_id", "date_sk", "time_30m_sk", "event_type_norm")
  val RollupKeys = Seq("rollup_key", "ship_date_sk", "priority")
  val GoldTables = Seq("dim_date", "dim_time_30m", "dim_event_type", "dim_user",
    "fct_events", "agg_sales_daily")

  private def dec(c: Column): Column = c.cast("decimal(18,2)")
  /** One revenue type in every committed segment of the rollup. */
  private val Revenue = "decimal(28,2)"

  def userObs(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("ts"), col("event_id"), col("event_type_norm").as("segment"))

  /** Event fact at its grain, latest event wins. */
  def eventFact(events: DataFrame): DataFrame =
    Dedup.latestByGrain(events.select((Grain ++ Seq("event_id", "tipo_dia")).map(col) :+
        dec(col("value")).as("value"): _*), Grain, Seq("event_id"))

  /** Daily sales by ship date and order priority, as mergeable partials. */
  def salesRollup(sales: DataFrame): DataFrame =
    sales.select(Temporal.dateSk(col("l_shipdate")).as("ship_date_sk"),
        substring(col("o_orderpriority"), 1, 1).cast("int").as("priority"),
        // cents per line, so partial sums merge exactly
        dec(round(dec(col("l_extendedprice")) * (lit(1) - dec(col("l_discount"))), 2))
          .as("revenue"))
      .groupBy(col("ship_date_sk"), col("priority"))
      .agg(sum(col("revenue")).cast(Revenue).as("revenue"), count(lit(1)).as("n_lines"))
      .withColumn("rollup_key", (col("ship_date_sk") * 10 + col("priority")).cast("long"))

  /** Serving queries over gold; each answer as sorted rendered rows. */
  def servingQueries(fct: DataFrame, dimDate: DataFrame, dimUser: DataFrame,
                     salesDaily: DataFrame): Map[String, Seq[String]] = {
    def rows(df: DataFrame): Seq[String] = df.collect().map(_.mkString("|")).toSeq.sorted
    val byDayType = fct.join(dimDate.select(col("date_sk"), col("tipo_dia").as("day_type")),
        Seq("date_sk"))
      .groupBy(col("day_type")).agg(count(lit(1)).as("n"), sum(col("value")).as("value"))
    val dim = dimUser.select(col("user_id").as("bk_user_id"), col("segment"),
      col("valid_from"), col("valid_to"))
    val bySegment = AsOfJoin(fct, dim, "user_id", "bk_user_id",
        to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .groupBy(col("segment")).agg(count(lit(1)).as("n"), sum(col("value")).as("value"))
    val byMonth = salesDaily.groupBy((col("ship_date_sk") / 100).cast("int").as("month"))
      .agg(sum(col("revenue")).as("revenue"), sum(col("n_lines")).as("n_lines"))
    Map("demand_by_day_type" -> rows(byDayType), "demand_by_segment" -> rows(bySegment),
      "revenue_by_month" -> rows(byMonth))
  }

  def du(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(du).sum).getOrElse(0L) else f.length()

  def dataFiles(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataFiles).sum).getOrElse(0L)
    else if (f.getName.endsWith(".parquet")) 1L else 0L
}
