package graft
package registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.Temporal
import graft.operators._

/** The lakehouse layers: flagship TPC-H shapes, silver cleansing and quality
  * gates, gold dimensions/SCD2/as-of/star facts, audits, profiling, drift,
  * sampling and privacy releases.
  */
object LakehouseQueries {
  import Shared._

  /** Pricing summary over lineitem (TPC-H Q1 shape): groupBy + exact
    * decimal sums; one shuffle, map-side partial aggregation.
    */
  private[graft] def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(money(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(money(col("l_extendedprice"))).cast("double").as("sum_base_price"),
        sum(money(col("l_extendedprice")) * (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount"))))
          .cast("double").as("sum_disc_price"),
        count(lit(1)).as("count_order"))
  }

  /** TPC-H Q5-shaped local-supplier revenue: six-table star join with
    * a selective region/date filter. Exercises Catalyst's join
    * reordering and the broadcast chain — every dim side is below the
    * broadcast threshold, so the fact tables are never shuffled for SK
    * resolution (the §4 contract, on a classic analytical shape).
    */
  private def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= "1996-01-01" && col("o_orderdate") < "1998-01-01")
    val c = t(spark, dir, "customer")
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region").filter(col("r_name") === "ASIA")
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("c_custkey") === col("o_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(sum(money(col("l_extendedprice")) *
          (lit(1).cast(DecimalType(18, 2)) - money(col("l_discount"))))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_lineitems"))
  }

  /** SCD2 user dimension from the events history: business key
    * user_id, tracked attribute = latest-of-day event_type
    * (reference: src/gold/load_gold.py:295-439 dim_stop semantics).
    */
  private def scd2User(spark: SparkSession, dir: String): DataFrame =
    Scd2.fromHistory(t(spark, dir, "events"),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))

  /** Incremental SCD2 load: dim built from the first half of the
    * month, then a batch of the rest merged with expire-and-insert
    * semantics (reference: load_gold.py:295-439). Must equal the
    * full-history rebuild, so it shares gold_scd2_build's oracle.
    */
  private def scd2UserIncremental(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-16 00:00:00"))
    val existing = Scd2.fromHistory(ev.filter(col("ts") < cutoff),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))
    Scd2.applyChanges(existing, ev.filter(col("ts") >= cutoff),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))
  }

  /** Full-snapshot SCD2 load with DELETE semantics: the post-cutoff
    * state (latest event_type per user observed at the snapshot date)
    * is the complete universe — users absent from it expire, present
    * users follow the applyChanges path.
    */
  private def scd2UserSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-16 00:00:00"))
    val existing = Scd2.fromHistory(ev.filter(col("ts") < cutoff),
      bk = "user_id", ts = "ts", tieBreak = Seq("event_id"), attrs = Seq("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val snap = ev.filter(col("ts") >= cutoff)
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .select(col("user_id"), col("event_type"))
    Scd2.applySnapshot(existing, snap, bk = "user_id",
      attrs = Seq("event_type"), asOfDate = to_date(lit("2024-01-16")))
  }

  /** As-of resolution of every event to its covering SCD2 user version
    * (reference: src/gold/load_gold.py:1144-1154).
    */
  private def asofEvents(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2User(spark, dir)
      .withColumnRenamed("user_id", "bk_user_id")
      .withColumnRenamed("event_type", "segment")
      .select("bk_user_id", "segment", "valid_from", "valid_to", "is_current")
    val fact = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
    AsOfJoin(fact, dim, "user_id", "bk_user_id", col("event_dt"))
      .select("event_id", "user_id", "event_dt", "segment", "valid_from", "is_current")
  }

  /** Same resolution as [[asofEvents]] through the union+merge-scan
    * fallback (one shuffle, no per-key pair materialization) — the
    * large-both-sides path; must produce identical rows, so it shares
    * the gold_asof_join oracle.
    */
  private def asofEventsMergeScan(spark: SparkSession, dir: String): DataFrame = {
    val dim = scd2User(spark, dir)
      .withColumnRenamed("user_id", "bk_user_id")
      .withColumnRenamed("event_type", "segment")
      .select("bk_user_id", "segment", "valid_from", "valid_to", "is_current")
    val fact = t(spark, dir, "events")
      .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
    AsOfJoin.mergeScan(fact, dim, "user_id", "bk_user_id", col("event_dt"))
      .select("event_id", "user_id", "event_dt", "segment", "valid_from", "is_current")
  }

  /** The staged (cleansed, gated, cash-excluded) fact input. */
  private def stagedEvents(spark: SparkSession, dir: String): DataFrame =
    QualityGate.valid(cleanseEvents(spark, dir), eventRules)
      .filter(col("user_id").isNotNull)

  private val factGrain = Seq("user_id", "date_sk", "time_30m_sk", "event_type_norm")

  /** Idempotent merge on the fact grain (reference: load_gold.py MERGE
    * WHEN NOT MATCHED): an "existing" load of the early events plus an
    * incoming full reload — re-loaded grains must not duplicate.
    */
  private def mergeGrain(spark: SparkSession, dir: String): DataFrame = {
    val staged = stagedEvents(spark, dir)
    val existing = Dedup.latestByGrain(staged.filter(col("event_id") < 5000),
      grain = factGrain, order = Seq("event_id"))
    val incoming = Dedup.latestByGrain(staged, grain = factGrain, order = Seq("event_id"))
    Merge.appendNewGrains(existing, incoming, factGrain)
  }

  /** Full star fact build: cleanse -> quality gate -> cash-row
    * exclusion -> grain dedup -> SK resolution via LEFT JOIN to the
    * lookup dim -> as-of join to the SCD2 user dim
    * (reference: src/gold/load_gold.py:1119-1180).
    */
  private def fctStar(spark: SparkSession, dir: String): DataFrame = {
    val deduped = Dedup.latestByGrain(stagedEvents(spark, dir),
      grain = factGrain, order = Seq("event_id"))
    val dimEtype = Dims.lookupDim(cleanseEvents(spark, dir),
      "event_type_norm", "event_type_sk", "event_type_name")
    val dimUser = scd2User(spark, dir)
      .withColumnRenamed("user_id", "bk_user_id")
      .withColumnRenamed("event_type", "segment")
      .select("bk_user_id", "segment", "valid_from", "valid_to")
    val withSk = deduped.join(broadcast(dimEtype),
      deduped("event_type_norm") === dimEtype("event_type_name"), "left")
    AsOfJoin(withSk, dimUser, "user_id", "bk_user_id",
        to_date(col("date_sk").cast("string"), "yyyyMMdd"))
      .select(col("date_sk"), col("time_30m_sk"), col("user_id"),
        col("event_type_sk"), col("tipo_dia"), col("segment"),
        col("valid_from").as("segment_valid_from"),
        col("event_id"), col("value"), col("prop_k"))
  }

  private val dedupGrainSql =
    """SELECT event_id, ts, user_id, event_type, value, props FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
      |  FROM events) WHERE rn = 1""".stripMargin

  /** Missingness-audit oracle generated from the SAME column list —
    * integer moments, the identical fixed-order phi expression.
    */
  private def missingnessOracleSql(cols: Seq[String]): String = {
    val moms =
      cols.map(c => s"CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nn_$c") ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"CAST(SUM(CASE WHEN $a IS NULL AND $b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nb_${a}_$b" }
    val pairSelects = cols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  nn_$a AS n_null_x, nn_$b AS n_null_y, nb_${a}_$b AS n_both_null,
         |  (CAST(n AS DOUBLE) * CAST(nb_${a}_$b AS DOUBLE)
         |     - CAST(nn_$a AS DOUBLE) * CAST(nn_$b AS DOUBLE))
         |  / NULLIF(sqrt(CAST(nn_$a AS DOUBLE) * CAST(n - nn_$a AS DOUBLE)
         |     * CAST(nn_$b AS DOUBLE) * CAST(n - nn_$b AS DOUBLE)), 0) AS phi
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH m AS (
       |  SELECT COUNT(*) AS n, ${moms.mkString(",\n  ")}
       |  FROM events)
       |$pairSelects""".stripMargin
  }

  /** Profiling.partialCorr mirrored: the corrPairs moment idiom, the
    * three r's as subexpressions, one fixed-order partial at the edge.
    */
  private def partialCorrOracleSql(x: String, y: String, z: String): String = {
    val cols = Seq(x, y, z)
    val moms =
      cols.map(c => s"SUM(CAST($c AS DECIMAL(18,6))) AS s1_$c") ++
      cols.map(c => s"SUM(CAST($c * $c AS DECIMAL(18,6))) AS s2_$c") ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"SUM(CAST($a * $b AS DECIMAL(18,6))) AS sp_${a}_$b" }
    def r(a: String, b: String): String = {
      val sp = if (cols.indexOf(a) < cols.indexOf(b)) s"sp_${a}_$b" else s"sp_${b}_$a"
      s"""(CAST($sp AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n)
         |  / NULLIF(sqrt(CAST(s2_$a AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$a AS DOUBLE) / n)
         |         * sqrt(CAST(s2_$b AS DOUBLE) - CAST(s1_$b AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n), 0)""".stripMargin
    }
    s"""WITH r AS (
       |  SELECT * FROM lineitem
       |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
       |m AS (SELECT COUNT(*) AS n, ${moms.mkString(",\n  ")} FROM r),
       |rr AS (
       |  SELECT n,
       |    ${r(x, y)} AS r_xy,
       |    ${r(x, z)} AS r_xz,
       |    ${r(y, z)} AS r_yz
       |  FROM m)
       |SELECT '$x' AS col_x, '$y' AS col_y, '$z' AS col_given, n,
       |  r_xy, r_xz, r_yz,
       |  (r_xy - r_xz * r_yz)
       |    / NULLIF(sqrt((1.0 - r_xz * r_xz) * (1.0 - r_yz * r_yz)), 0.0) AS partial_corr
       |FROM rr""".stripMargin
  }

  /** The pairwise-correlation oracle, generated from the profiled
    * column list so the moment names and the op order can never drift
    * from Profiling.corrPairs.
    */
  private def corrPairsOracleSql(cols: Seq[String]): String = {
    val moms =
      cols.map(c => s"SUM(CAST($c AS DECIMAL(18,6))) AS s1_$c") ++
      cols.map(c => s"SUM(CAST($c * $c AS DECIMAL(18,6))) AS s2_$c") ++
      cols.combinations(2).map { case Seq(a, b) =>
        s"SUM(CAST($a * $b AS DECIMAL(18,6))) AS sp_${a}_$b" }
    val pairSelects = cols.combinations(2).map { case Seq(a, b) =>
      s"""SELECT '$a' AS col_x, '$b' AS col_y, n,
         |  (CAST(sp_${a}_$b AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n)
         |  / NULLIF(sqrt(CAST(s2_$a AS DOUBLE) - CAST(s1_$a AS DOUBLE) * CAST(s1_$a AS DOUBLE) / n)
         |         * sqrt(CAST(s2_$b AS DOUBLE) - CAST(s1_$b AS DOUBLE) * CAST(s1_$b AS DOUBLE) / n), 0) AS corr
         |FROM m""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH r AS (
       |  SELECT * FROM lineitem
       |  WHERE ${cols.map(c => s"$c IS NOT NULL").mkString(" AND ")}),
       |m AS (SELECT COUNT(*) AS n, ${moms.mkString(",\n  ")} FROM r)
       |$pairSelects""".stripMargin
  }

  /** DuckDB twin of [[scd2User]]: same window algebra as
    * Scd2.fromHistory (per-day latest-wins, change points via LAG,
    * validity ranges via LEAD, sha256 row hash).
    */
  /** The change-point SCD2 builder over any (user_id, obs_date,
    * event_type) observation relation — shared by the snapshot oracle's
    * present/absent chains (mirrors Scd2.fromHistory step 2-3).
    */
  private def scd2BuildSql(obsRel: String): String =
    s"""SELECT user_id, event_type,
       |  obs_date AS valid_from,
       |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) - 1 AS valid_to,
       |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) IS NULL AS is_current,
       |  sha256(k) AS row_hash
       |FROM (
       |  SELECT user_id, obs_date, event_type, k FROM (
       |    SELECT *, LAG(k) OVER (PARTITION BY user_id ORDER BY obs_date) AS prev FROM (
       |      SELECT user_id, obs_date, event_type,
       |        UPPER(TRIM(COALESCE(CAST(event_type AS VARCHAR), ''))) AS k
       |      FROM ($obsRel)))
       |  WHERE prev IS NULL OR prev <> k)""".stripMargin

  /** The snapshot-diff SCD2 oracle: present keys rebuild over
    * pre-cutoff daily observations plus the snapshot observation;
    * absent keys rebuild over pre-cutoff only and expire at asOf−1.
    */
  private def scd2SnapshotSql: String = {
    val preObs =
      """SELECT user_id, obs_date, event_type FROM (
        |  SELECT user_id, CAST(ts AS DATE) AS obs_date, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1""".stripMargin
    val snapObs =
      """SELECT user_id, event_type FROM (
        |  SELECT user_id, event_type,
        |    ROW_NUMBER() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00') WHERE rn = 1""".stripMargin
    val presentObs =
      s"""SELECT p.user_id, p.obs_date, p.event_type
         |FROM ($preObs) p WHERE EXISTS (
         |  SELECT 1 FROM ($snapObs) s WHERE s.user_id = p.user_id)
         |UNION ALL
         |SELECT user_id, DATE '2024-01-16' AS obs_date, event_type
         |FROM ($snapObs)""".stripMargin
    val absentObs =
      s"""SELECT p.user_id, p.obs_date, p.event_type
         |FROM ($preObs) p WHERE NOT EXISTS (
         |  SELECT 1 FROM ($snapObs) s WHERE s.user_id = p.user_id)""".stripMargin
    s"""SELECT * FROM (${scd2BuildSql(presentObs)})
       |UNION ALL
       |SELECT user_id, event_type, valid_from,
       |  CASE WHEN is_current THEN DATE '2024-01-15' ELSE valid_to END AS valid_to,
       |  FALSE AS is_current, row_hash
       |FROM (${scd2BuildSql(absentObs)})""".stripMargin
  }

  private def scd2UserSql: String =
    """SELECT user_id, event_type,
      |  obs_date AS valid_from,
      |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) - 1 AS valid_to,
      |  LEAD(obs_date) OVER (PARTITION BY user_id ORDER BY obs_date) IS NULL AS is_current,
      |  sha256(k) AS row_hash
      |FROM (
      |  SELECT user_id, obs_date, event_type, k FROM (
      |    SELECT *, LAG(k) OVER (PARTITION BY user_id ORDER BY obs_date) AS prev FROM (
      |      SELECT user_id, obs_date, event_type,
      |        UPPER(TRIM(COALESCE(CAST(event_type AS VARCHAR), ''))) AS k
      |      FROM (
      |        SELECT user_id, CAST(ts AS DATE) AS obs_date, event_type,
      |          ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
      |                             ORDER BY ts DESC, event_id DESC) AS rn
      |        FROM events) WHERE rn = 1))
      |  WHERE prev IS NULL OR prev <> k)""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q1_agg", q1Agg _,
      Oracle("""SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  COUNT(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("q5_local_supplier", q5LocalSupplier _,
      Oracle("""SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_lineitems
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin)),

    QueryDef("silver_cleanse_events", cleanseEvents _,
      Oracle(cleanseEventsSql(""))),

    QueryDef("silver_quality_valid", (s, d) =>
      QualityGate.valid(cleanseEvents(s, d), eventRules),
      Oracle(servingValidSql)),

    QueryDef("silver_quality_quarantine", (s, d) =>
      QualityGate.quarantine(cleanseEvents(s, d), eventRules),
      Oracle(s"SELECT * FROM (${qualityAnnotatedSql()}) WHERE reason_code IS NOT NULL")),

    QueryDef("silver_quality_report", (s, d) =>
      QualityGate.report(cleanseEvents(s, d), eventRules),
      Oracle(s"""SELECT COALESCE(reason_code, 'VALID') AS reason_code, COUNT(*) AS n_rows
         |FROM (${qualityAnnotatedSql()}) GROUP BY 1""".stripMargin)),

    QueryDef("silver_unpivot_measures", (s, d) =>
      t(s, d, "lineitem")
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "measure_name", "measure_value"),
      Oracle("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure_name, l_quantity AS measure_value FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem""".stripMargin)),

    // Leg-style grouped unpivot with the reference's empty-slot drop
    // (reference: src/silver/transforms.py:516-558). One scan +
    // explode of per-leg structs — the reference's 4-way UNION shape
    // would scan the fact once per leg.
    QueryDef("silver_unpivot_legs", (s, d) => {
      val legs = array(
        struct(lit(1).as("leg_seq"), col("l_returnflag").as("leg_attr"),
          col("l_quantity").as("leg_value")),
        struct(lit(2).as("leg_seq"), col("l_linestatus").as("leg_attr"),
          col("l_extendedprice").as("leg_value")),
        struct(lit(3).as("leg_seq"),
          when(col("l_returnflag") === "N", lit(null).cast("string"))
            .otherwise(col("l_returnflag")).as("leg_attr"),
          when(col("l_tax") === 0.0, lit(null).cast("double"))
            .otherwise(col("l_tax")).as("leg_value")))
      t(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), explode(legs).as("leg"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("leg.leg_seq").as("leg_seq"), col("leg.leg_attr").as("leg_attr"),
          col("leg.leg_value").as("leg_value"))
        .filter(col("leg_attr").isNotNull || col("leg_value").isNotNull)
    },
      Oracle("""SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 1 AS leg_seq, l_returnflag AS leg_attr, l_quantity AS leg_value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 2, l_linestatus, l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 3,
        |    CASE WHEN l_returnflag = 'N' THEN NULL ELSE l_returnflag END,
        |    CASE WHEN l_tax = 0 THEN NULL ELSE l_tax END
        |  FROM lineitem)
        |WHERE leg_attr IS NOT NULL OR leg_value IS NOT NULL""".stripMargin)),

    QueryDef("gold_dim_date", (s, d) =>
      Dims.dimDate(t(s, d, "orders"), col("o_orderdate")),
      Oracle("""WITH b AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS d0, CAST(MAX(o_orderdate) AS DATE) AS d1 FROM orders),
        |days AS (SELECT CAST(UNNEST(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS full_date FROM b)
        |SELECT
        |  CAST(year(full_date)*10000 + month(full_date)*100 + day(full_date) AS INTEGER) AS date_sk,
        |  full_date,
        |  CAST(year(full_date) AS INTEGER) AS year,
        |  CAST(month(full_date) AS INTEGER) AS month,
        |  CAST(day(full_date) AS INTEGER) AS day,
        |  CAST(weekofyear(full_date) AS INTEGER) AS iso_week,
        |  CAST(isodow(full_date) AS INTEGER) AS iso_dow,
        |  isodow(full_date) >= 6 AS is_weekend,
        |  strftime(full_date, '%Y-%m') AS year_month,
        |  CASE WHEN isodow(full_date) = 7 THEN 'DOMINGO'
        |       WHEN isodow(full_date) = 6 THEN 'SABADO'
        |       ELSE 'LABORAL' END AS tipo_dia
        |FROM days""".stripMargin)),

    QueryDef("gold_dim_time_30m", (s, d) => Dims.dimTime30m(s),
      Oracle("""SELECT CAST(i AS INTEGER) AS time_30m_sk,
        |  printf('%02d:%02d:00', i//2, (i%2)*30) AS start_time,
        |  printf('%02d:%02d:00', ((i+1)//2)%24, ((i+1)%2)*30) AS end_time,
        |  CAST(i//2 AS INTEGER) AS hour,
        |  CAST((i%2)*30 AS INTEGER) AS minute,
        |  printf('%02d:%02d', i//2, (i%2)*30) AS label
        |FROM range(48) t(i)""".stripMargin)),

    QueryDef("gold_dim_lookup", (s, d) =>
      Dims.lookupDim(t(s, d, "orders"), "o_orderpriority", "priority_sk", "priority_name"),
      Oracle("""SELECT CAST(ROW_NUMBER() OVER (ORDER BY priority_name) AS INTEGER) AS priority_sk, priority_name
        |FROM (SELECT DISTINCT TRIM(o_orderpriority) AS priority_name FROM orders
        |      WHERE o_orderpriority IS NOT NULL AND TRIM(o_orderpriority) <> '')""".stripMargin)),

    // Kimball junk dimension: distinct flag combos with dense SKs.
    QueryDef("gold_junk_dim", (s, d) =>
      Dims.junkDim(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "junk_sk"),
      Oracle("""SELECT CAST(ROW_NUMBER() OVER (ORDER BY l_returnflag, l_linestatus) AS INTEGER) AS junk_sk,
        |  l_returnflag, l_linestatus
        |FROM (SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem)""".stripMargin)),

    QueryDef("gold_dedup_grain", (s, d) =>
      Dedup.latestByGrain(t(s, d, "events"),
        grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id")),
      Oracle(dedupGrainSql)),

    // The reference's grain-index validation as a relational audit:
    // the deduped fact must have ZERO duplicate grain keys (empty
    // output = pass — the end-to-end proof the dedup holds its
    // declared grain).
    QueryDef("audit_grain_unique", (s, d) =>
      Audit.grainViolations(
        Dedup.latestByGrain(t(s, d, "events"),
          grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id")),
        Seq("user_id", "event_type")),
      // Empty on both engines: the deduped fact holds its declared
      // grain (the reference's unique-grain-index assertion).
      Oracle(s"""SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
         |FROM ($dedupGrainSql)
         |GROUP BY 1, 2 HAVING COUNT(*) > 1""".stripMargin)),

    // Does user_id determine event_type? Measured, not assumed — the
    // denormalization-safety audit (here loudly violated: users mix
    // event types, which is the finding).
    QueryDef("audit_fd_check", (s, d) =>
      Audit.fdCheck(t(s, d, "events"), "user_id", "event_type"),
      // Two-phase exact distinct per key; worst key = struct-max of
      // (n distinct, key) — ties to the largest key on both engines.
      Oracle("""WITH pk AS (
        |  SELECT CAST(user_id AS VARCHAR) AS k, CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM (SELECT DISTINCT user_id,
        |          COALESCE(CAST(event_type AS VARCHAR), '<NULL>') AS v
        |        FROM events WHERE user_id IS NOT NULL)
        |  GROUP BY 1)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_keys,
        |  CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    / CAST(CASE WHEN COUNT(*) > 0 THEN COUNT(*) END AS DOUBLE) AS violation_share,
        |  MAX({'nd': nd, 'k': k}).nd AS max_distinct_dependents,
        |  MAX({'nd': nd, 'k': k}).k AS worst_key
        |FROM pk""".stripMargin)),

    QueryDef("gold_scd2_build", scd2User _,
      Oracle(scd2UserSql)),

    // SCD TYPE 3 — current + previous attribute value per key with
    // run-start timestamps (Kimball's alternate-reality column):
    // lag-change runs, last two collapsed by conditional aggregate.
    QueryDef("gold_scd3_current_prev", (s, d) =>
      Scd2.scd3CurrentPrev(
        t(s, d, "events").filter(col("ts").isNotNull &&
          col("user_id").isNotNull && col("event_type").isNotNull),
        "user_id", "ts", "event_id",
        upper(trim(col("event_type")))),
      // Scd2.scd3CurrentPrev mirrored: lag-change flag, running-sum run
      // ids, per-run min collapse, last-two conditional aggregate.
      Oracle("""WITH r0 AS (
        |  SELECT user_id, ts, event_id, UPPER(TRIM(event_type)) AS attr
        |  FROM events
        |  WHERE ts IS NOT NULL AND user_id IS NOT NULL AND event_type IS NOT NULL),
        |ch AS (
        |  SELECT *, CASE WHEN LAG(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |                   OR LAG(attr) OVER (PARTITION BY user_id ORDER BY ts, event_id) <> attr
        |            THEN 1 ELSE 0 END AS chg
        |  FROM r0),
        |rn AS (
        |  SELECT *, SUM(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS run
        |  FROM ch),
        |pr AS (
        |  SELECT user_id, run, MIN(ts) AS since, MIN(attr) AS value
        |  FROM rn GROUP BY 1, 2),
        |rk AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY run DESC) AS rk
        |  FROM pr)
        |SELECT user_id,
        |  MAX(CASE WHEN rk = 1 THEN value END) AS current_value,
        |  MAX(CASE WHEN rk = 1 THEN since END) AS current_since,
        |  MAX(CASE WHEN rk = 2 THEN value END) AS prev_value,
        |  MAX(CASE WHEN rk = 2 THEN since END) AS prev_since,
        |  CAST(MAX(run) AS BIGINT) AS n_runs
        |FROM rk WHERE rk <= 2 GROUP BY 1""".stripMargin)),

    QueryDef("gold_scd2_incremental", scd2UserIncremental _,
      // The incremental load must reproduce the full rebuild exactly.
      Oracle(scd2UserSql)),

    // Snapshot-diff SCD2: the batch is the COMPLETE universe, so
    // absence is deletion — current versions of vanished keys expire
    // at asOf−1; present keys take the applyChanges path.
    QueryDef("gold_scd2_snapshot", scd2UserSnapshot _,
      Oracle(scd2SnapshotSql)),

    QueryDef("gold_asof_join", asofEvents _,
      Oracle(s"""SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_dt,
         |  d.event_type AS segment, d.valid_from, d.is_current
         |FROM events e LEFT JOIN ($scd2UserSql) d
         |  ON d.user_id = e.user_id
         | AND d.valid_from <= CAST(e.ts AS DATE)
         | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) <= d.valid_to)""".stripMargin)),

    QueryDef("gold_asof_merge_scan", asofEventsMergeScan _,
      // Identical semantics through the merge-scan physical path.
      Oracle(s"""SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_dt,
         |  d.event_type AS segment, d.valid_from, d.is_current
         |FROM events e LEFT JOIN ($scd2UserSql) d
         |  ON d.user_id = e.user_id
         | AND d.valid_from <= CAST(e.ts AS DATE)
         | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) <= d.valid_to)""".stripMargin)),

    // The same resolution through the CUSTOM CATALYST OPERATOR
    // (graft.plans.MergeAsOf: logical node + planner strategy +
    // merge SparkPlan registered via SparkSessionExtensions): one
    // exchange per side, zero pair materialization, zero window
    // state — must produce identical rows, so it shares the
    // gold_asof_join oracle.
    QueryDef("gold_asof_custom_exec", (s, d) => {
      val dim = scd2User(s, d)
        .withColumnRenamed("user_id", "bk_user_id")
        .withColumnRenamed("event_type", "segment")
        .select("bk_user_id", "segment", "valid_from", "is_current")
      val fact = t(s, d, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
      graft.plans.MergeAsOf.join(fact, dim,
          Seq("user_id"), Seq("bk_user_id"), "event_dt", "valid_from")
        .select("event_id", "user_id", "event_dt", "segment", "valid_from",
          "is_current")
    },
      // The custom-operator twin must equal the interval join row for
      // row on the contiguous SCD2 chain — same oracle as the others.
      Oracle(s"""SELECT e.event_id, e.user_id, CAST(e.ts AS DATE) AS event_dt,
         |  d.event_type AS segment, d.valid_from, d.is_current
         |FROM events e LEFT JOIN ($scd2UserSql) d
         |  ON d.user_id = e.user_id
         | AND d.valid_from <= CAST(e.ts AS DATE)
         | AND (d.valid_to IS NULL OR CAST(e.ts AS DATE) <= d.valid_to)""".stripMargin)),

    // Nearest-snapshot as-of (merge_asof direction='nearest'): each
    // event takes the CLOSEST dim version start in either direction,
    // backward on ties, NULL beyond the 30-day tolerance.
    QueryDef("gold_asof_nearest", (s, d) => {
      val dim = scd2User(s, d)
        .withColumnRenamed("user_id", "bk_user_id")
        .withColumnRenamed("event_type", "segment")
        .select("bk_user_id", "segment", "valid_from")
      val fact = t(s, d, "events")
        .select(col("event_id"), col("user_id"), to_date(col("ts")).as("event_dt"))
      AsOfJoin.nearest(fact, dim, "user_id", "bk_user_id", col("event_dt"),
        "valid_from", toleranceDays = Some(30))
    },
      // Nearest semantics replayed as an explicit argmin: every version
      // within tolerance ranked by (distance, valid_from) per fact row
      // (fid = any bijection onto fact rows; NULL event_ids keep their
      // own row). Tie at equal distance → smaller valid_from = backward,
      // the engine's documented rule.
      Oracle(s"""WITH dim AS (
         |  SELECT user_id AS bk_user_id, event_type AS segment, valid_from
         |  FROM ($scd2UserSql)),
         |f AS (
         |  SELECT event_id, user_id, CAST(ts AS DATE) AS event_dt,
         |    ROW_NUMBER() OVER () AS fid
         |  FROM events),
         |j AS (
         |  SELECT f.event_id, f.user_id, f.event_dt, f.fid,
         |    d.segment, d.valid_from,
         |    CAST(ABS(datediff('day', d.valid_from, f.event_dt)) AS INTEGER) AS dist,
         |    CASE WHEN d.valid_from <= f.event_dt THEN 'backward' ELSE 'forward' END AS dir
         |  FROM f LEFT JOIN dim d
         |    ON d.bk_user_id = f.user_id
         |   AND ABS(datediff('day', d.valid_from, f.event_dt)) <= 30),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY fid ORDER BY dist, valid_from) AS rn
         |  FROM j)
         |SELECT event_id, user_id, event_dt, segment, valid_from,
         |  CASE WHEN valid_from IS NULL THEN NULL ELSE dist END AS asof_dist_days,
         |  CASE WHEN valid_from IS NULL THEN NULL ELSE dir END AS asof_dir
         |FROM r WHERE rn = 1""".stripMargin)),

    QueryDef("gold_fct_star", fctStar _,
      Oracle(s"""WITH staged AS MATERIALIZED (
         |  SELECT * EXCLUDE (reason_code) FROM (${qualityAnnotatedSql()})
         |  WHERE reason_code IS NULL AND user_id IS NOT NULL),
         |deduped AS MATERIALIZED (
         |  SELECT * FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY user_id, date_sk, time_30m_sk, event_type_norm
         |      ORDER BY event_id DESC) AS rn
         |    FROM staged) WHERE rn = 1),
         |etype AS MATERIALIZED (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY event_type_name) AS INTEGER) AS event_type_sk, event_type_name
         |  FROM (SELECT DISTINCT TRIM(event_type_norm) AS event_type_name FROM (${cleanseEventsSql("")})
         |        WHERE event_type_norm IS NOT NULL AND TRIM(event_type_norm) <> '')),
         |dim_user AS MATERIALIZED (
         |  SELECT user_id AS bk_user_id, event_type AS segment, valid_from, valid_to
         |  FROM ($scd2UserSql))
         |SELECT d.date_sk, d.time_30m_sk, d.user_id, t.event_type_sk, d.tipo_dia,
         |  u.segment, u.valid_from AS segment_valid_from,
         |  d.event_id, d.value, d.prop_k
         |FROM deduped d
         |LEFT JOIN etype t ON t.event_type_name = d.event_type_norm
         |LEFT JOIN dim_user u ON u.bk_user_id = d.user_id
         |  AND u.valid_from <= CAST(STRPTIME(CAST(d.date_sk AS VARCHAR), '%Y%m%d') AS DATE)
         |  AND (u.valid_to IS NULL OR CAST(STRPTIME(CAST(d.date_sk AS VARCHAR), '%Y%m%d') AS DATE) <= u.valid_to)""".stripMargin)),

    // Data-Vault link build over the customer↔supplier relationship:
    // deterministic md5 hub/link hash keys, first-seen + row-count
    // satellite seed, one partial-agg shuffle on the key pair.
    QueryDef("gold_dv_link", (s, d) =>
      Star.dataVaultLink(
        t(s, d, "lineitem").join(t(s, d, "orders"),
          col("l_orderkey") === col("o_orderkey")),
        "o_custkey", "l_suppkey", "o_orderdate"),
      // Star.dataVaultLink mirrored: the same key-pair collapse, md5
      // hub/link hashes over the '|'-joined rendered keys.
      Oracle("""WITH rel AS (
        |  SELECT o_custkey AS left_key, l_suppkey AS right_key, o_orderdate
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_custkey IS NOT NULL AND l_suppkey IS NOT NULL),
        |g AS (
        |  SELECT left_key, right_key, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    MIN(o_orderdate) AS first_seen
        |  FROM rel GROUP BY 1, 2)
        |SELECT
        |  md5(concat_ws('|',
        |    COALESCE(CAST(left_key AS VARCHAR), '<NULL>'),
        |    COALESCE(CAST(right_key AS VARCHAR), '<NULL>'))) AS link_hash,
        |  md5(COALESCE(CAST(left_key AS VARCHAR), '<NULL>')) AS hub_left_hash,
        |  md5(COALESCE(CAST(right_key AS VARCHAR), '<NULL>')) AS hub_right_hash,
        |  left_key, right_key, first_seen, n_rows
        |FROM g""".stripMargin)),

    QueryDef("gold_merge_grain", mergeGrain _,
      Oracle(s"""WITH staged AS (
         |  SELECT * EXCLUDE (reason_code) FROM (${qualityAnnotatedSql()})
         |  WHERE reason_code IS NULL AND user_id IS NOT NULL),
         |ded AS (
         |  SELECT * EXCLUDE (rn) FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY user_id, date_sk, time_30m_sk, event_type_norm
         |      ORDER BY event_id DESC) AS rn
         |    FROM staged) WHERE rn = 1),
         |ded_old AS (
         |  SELECT * EXCLUDE (rn) FROM (
         |    SELECT *, ROW_NUMBER() OVER (
         |      PARTITION BY user_id, date_sk, time_30m_sk, event_type_norm
         |      ORDER BY event_id DESC) AS rn
         |    FROM staged WHERE event_id < 5000) WHERE rn = 1)
         |SELECT * FROM ded_old
         |UNION ALL
         |SELECT d.* FROM ded d ANTI JOIN ded_old o
         |  USING (user_id, date_sk, time_30m_sk, event_type_norm)""".stripMargin)),

    // Snapshot CDC: the per-user latest-state snapshot before the
    // 2024-01-15 cut diffed against the full-range snapshot — INSERT/
    // UPDATE/DELETE delta rows, one co-keyed full-outer join.
    QueryDef("gold_snapshot_diff", (s, d) => {
      def snap(f: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("user_id"))
          .orderBy(col("ts").desc, col("event_id").desc)
        f.filter(col("user_id").isNotNull)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
          .select(col("user_id"),
            upper(trim(col("event_type"))).as("event_type"), col("value"))
      }
      val ev = t(s, d, "events")
      Cdc.snapshotDiff(
        snap(ev.filter(col("ts") < to_timestamp(lit("2024-01-15 00:00:00")))),
        snap(ev), keys = Seq("user_id"), attrs = Seq("event_type", "value"))
    },
      Oracle("""WITH so AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events
        |    WHERE user_id IS NOT NULL AND ts < TIMESTAMP '2024-01-15 00:00:00')
        |  WHERE rn = 1),
        |sn AS (
        |  SELECT user_id, UPPER(TRIM(event_type)) AS event_type, value FROM (
        |    SELECT user_id, event_type, value,
        |      ROW_NUMBER() OVER (PARTITION BY user_id
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events WHERE user_id IS NOT NULL)
        |  WHERE rn = 1)
        |SELECT * FROM (
        |  SELECT user_id,
        |    CASE WHEN o.user_id IS NULL THEN 'INSERT'
        |         WHEN n.user_id IS NULL THEN 'DELETE'
        |         WHEN (o.event_type IS DISTINCT FROM n.event_type)
        |           OR (o.value IS DISTINCT FROM n.value) THEN 'UPDATE'
        |    END AS change_type,
        |    o.event_type AS old_event_type, n.event_type AS new_event_type,
        |    o.value AS old_value, n.value AS new_value
        |  FROM so o FULL OUTER JOIN sn n USING (user_id))
        |WHERE change_type IS NOT NULL""".stripMargin)),

    // Point-in-time SCD2 lookup: the user dimension as of 2024-01-15 —
    // the covering version per key, a pure filter over the dim.
    QueryDef("gold_scd2_pit", (s, d) =>
      Scd2.asOf(scd2User(s, d), lit("2024-01-15").cast("date")),
      // The dim as of a date = versions whose interval covers it.
      Oracle(s"""SELECT * FROM ($scd2UserSql)
         |WHERE valid_from <= DATE '2024-01-15'
         |  AND (valid_to IS NULL OR valid_to >= DATE '2024-01-15')""".stripMargin)),

    // Late-arriving dim: resolve orders against the subset of customer
    // that has "arrived" (custkey % 10 != 0 — the rest are late), park
    // misses on the Kimball unknown member (-1), then repair ONLY the
    // parked rows once the full dim lands.
    QueryDef("gold_late_arriving", (s, d) => {
      val fact = t(s, d, "orders").select(col("o_orderkey"), col("o_custkey"))
      val early = t(s, d, "customer").filter(col("c_custkey") % 10 =!= 0)
      val phase1 = Star.resolveOrUnknown(fact, early, "o_custkey", "c_custkey", "cust_sk")
      Star.repairUnknown(phase1, t(s, d, "customer"), "o_custkey", "c_custkey", "cust_sk")
    },
      Oracle("""SELECT o.o_orderkey, o.o_custkey,
        |  COALESCE(cf.c_custkey, -1) AS cust_sk,
        |  ce.c_custkey IS NULL AS was_late
        |FROM orders o
        |LEFT JOIN (SELECT c_custkey FROM customer WHERE c_custkey % 10 <> 0) ce
        |  ON o.o_custkey = ce.c_custkey
        |LEFT JOIN customer cf ON o.o_custkey = cf.c_custkey""".stripMargin)),

    // Accumulating snapshot: order lifecycle milestones from lineitem
    // (first/last ship per order, exact qty totals) + lag spans, with
    // unshipped orders kept via the LEFT join.
    QueryDef("fct_accumulating_snapshot", (s, d) =>
      Star.accumulatingSnapshot(
          t(s, d, "orders").select(col("o_orderkey"),
            to_date(col("o_orderdate")).as("order_date"), col("o_orderstatus")),
          t(s, d, "lineitem"), "o_orderkey", "l_orderkey", "l_shipdate", "l_quantity")
        .withColumn("n_lines", coalesce(col("n_lines"), lit(0L)))
        .withColumn("days_to_first_ship",
          datediff(col("first_ship_date"), col("order_date")))
        .withColumn("ship_span_days",
          datediff(col("last_ship_date"), col("first_ship_date"))),
      Oracle("""SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
        |  o.o_orderstatus, f.first_ship_date, f.last_ship_date,
        |  COALESCE(f.n_lines, 0) AS n_lines, f.total_qty,
        |  CAST(date_diff('day', CAST(o.o_orderdate AS DATE), f.first_ship_date)
        |       AS INTEGER) AS days_to_first_ship,
        |  CAST(date_diff('day', f.first_ship_date, f.last_ship_date)
        |       AS INTEGER) AS ship_span_days
        |FROM orders o LEFT JOIN (
        |  SELECT l_orderkey,
        |    MIN(CAST(l_shipdate AS DATE)) AS first_ship_date,
        |    MAX(CAST(l_shipdate AS DATE)) AS last_ship_date,
        |    COUNT(*) AS n_lines,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1) f ON o.o_orderkey = f.l_orderkey""".stripMargin)),

    // Bridge allocation: order totalprice spread over its line items
    // by exact-decimal extendedprice weights.
    QueryDef("gold_bridge_alloc", (s, d) =>
      Star.bridgeAllocation(
          t(s, d, "orders"), t(s, d, "lineitem"),
          "o_orderkey", "l_orderkey", "o_totalprice", "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
          col("weight"), col("allocated")),
      Oracle("""WITH d AS (
        |  SELECT l_orderkey, l_linenumber, l_extendedprice,
        |    l_extendedprice / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)))
        |      OVER (PARTITION BY l_orderkey) AS DOUBLE) AS weight
        |  FROM lineitem)
        |SELECT d.l_orderkey, d.l_linenumber, d.l_extendedprice, d.weight,
        |  o.o_totalprice * d.weight AS allocated
        |FROM d JOIN orders o ON d.l_orderkey = o.o_orderkey""".stripMargin)),

    // Periodic snapshot: per-customer monthly order activity from the
    // first active month, quiet months zero-filled with the balance
    // carried forward.
    QueryDef("fct_periodic_snapshot", (s, d) =>
      Star.periodicSnapshot(t(s, d, "orders"),
        "o_custkey", "o_orderdate", "o_totalprice"),
      Oracle("""WITH monthly AS (
        |  SELECT o_custkey, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |    COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend
        |  FROM orders GROUP BY 1, 2),
        |mx AS (SELECT MAX(month) AS max_month FROM monthly),
        |spans AS (SELECT o_custkey, MIN(month) AS first_month
        |          FROM monthly GROUP BY 1),
        |grid AS (
        |  SELECT s.o_custkey,
        |    CAST(UNNEST(generate_series(s.first_month, mx.max_month,
        |                                INTERVAL 1 MONTH)) AS DATE) AS month
        |  FROM spans s, mx)
        |SELECT g.o_custkey, g.month,
        |  COALESCE(m.n_orders, 0) AS n_orders,
        |  CAST(COALESCE(m.spend, 0) AS DOUBLE) AS month_spend,
        |  CAST(SUM(COALESCE(m.spend, 0)) OVER (
        |    PARTITION BY g.o_custkey ORDER BY g.month) AS DOUBLE) AS cum_spend
        |FROM grid g
        |LEFT JOIN monthly m ON g.o_custkey = m.o_custkey AND g.month = m.month""".stripMargin)),

    // Referential-integrity audit over the star's FK edges.
    QueryDef("audit_fk_integrity", (s, d) => {
      val li = t(s, d, "lineitem"); val o = t(s, d, "orders")
      Audit.fkIntegrityAll(Seq(
        (li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders"),
        (li, "l_partkey", t(s, d, "part"), "p_partkey", "lineitem.l_partkey->part"),
        (li, "l_suppkey", t(s, d, "supplier"), "s_suppkey", "lineitem.l_suppkey->supplier"),
        (o, "o_custkey", t(s, d, "customer"), "c_custkey", "orders.o_custkey->customer")))
    },
      Oracle({
        def edge(factTable: String, fk: String, dimTable: String,
                 dimKey: String, name: String): String =
          s"""SELECT '$name' AS relationship,
             |  COUNT(*) AS n_rows,
             |  COUNT(CASE WHEN f.$fk IS NULL THEN 1 END) AS n_null_fk,
             |  COUNT(CASE WHEN f.$fk IS NOT NULL AND d.k IS NULL THEN 1 END) AS n_orphans,
             |  100.0 * COUNT(CASE WHEN f.$fk IS NOT NULL AND d.k IS NULL THEN 1 END)
             |        / COUNT(*) AS orphan_pct
             |FROM $factTable f
             |LEFT JOIN (SELECT DISTINCT $dimKey AS k FROM $dimTable) d
             |  ON f.$fk = d.k""".stripMargin
        Seq(
          edge("lineitem", "l_orderkey", "orders", "o_orderkey", "lineitem.l_orderkey->orders"),
          edge("lineitem", "l_partkey", "part", "p_partkey", "lineitem.l_partkey->part"),
          edge("lineitem", "l_suppkey", "supplier", "s_suppkey", "lineitem.l_suppkey->supplier"),
          edge("orders", "o_custkey", "customer", "c_custkey", "orders.o_custkey->customer"))
          .mkString("\nUNION ALL\n")
      })),

    // DP mean release: values clamped to [0,100], budget split over
    // the clamped sum and the count, both noised by the deterministic
    // md5 Laplace draw (salted per statistic) — the value sibling of
    // privacy_dp_release.
    QueryDef("privacy_dp_mean", (s, d) =>
      Audit.dpNoisyMean(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            col("value")),
        Seq("hour_band", "iso_dow"), "value",
        lo = 0.0, hi = 100.0, epsilon = 1.0),
      // Laplace DP release replay: the md5-32 uniform, the inverse-CDF
      // draw with the ln floor-quantized on the group panel (§5), the
      // clamped floor release; b = sensitivity/epsilon = 2.0 exact.
      // Audit.dpNoisyMean mirrored: clamp-grid-decimal sum, two salted
      // md5 Laplace draws, the floored-denominator mean.
      Oracle("""WITH g AS (
        |  SELECT CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CAST(FLOOR(LEAST(100.0, GREATEST(0.0, CAST(value AS DOUBLE))) * 1e6) / 1e6
        |      AS DECIMAL(28,6))) AS DOUBLE) AS clamped_sum
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT *,
        |    (CAST(CAST('0x' || substr(md5(concat_ws('|',
        |       CAST(hour_band AS VARCHAR), CAST(iso_dow AS VARCHAR), 'sum')), 1, 8) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS us,
        |    (CAST(CAST('0x' || substr(md5(concat_ws('|',
        |       CAST(hour_band AS VARCHAR), CAST(iso_dow AS VARCHAR), 'cnt')), 1, 8) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS uc
        |  FROM g),
        |n AS (
        |  SELECT hour_band, iso_dow, n_rows, clamped_sum,
        |    FLOOR((-200.0) * (CASE WHEN us < 0.5 THEN -1.0 ELSE 1.0 END)
        |      * (FLOOR(LN(1.0 - 2.0 * ABS(us - 0.5)) * 1e6) / 1e6) * 1e6) / 1e6 AS noise_sum,
        |    FLOOR((-2.0) * (CASE WHEN uc < 0.5 THEN -1.0 ELSE 1.0 END)
        |      * (FLOOR(LN(1.0 - 2.0 * ABS(uc - 0.5)) * 1e6) / 1e6) * 1e6) / 1e6 AS noise_cnt
        |  FROM d)
        |SELECT hour_band, iso_dow, n_rows, clamped_sum, noise_sum, noise_cnt,
        |  (clamped_sum + noise_sum)
        |    / GREATEST(1.0, CAST(n_rows AS DOUBLE) + noise_cnt) AS released_mean
        |FROM n""".stripMargin)),

    // K-anonymity / l-diversity audit over binned quasi-identifiers
    // (6h band x iso-dow x value decile) with event_type as the
    // sensitive attribute — the release gate next to GDPR erasure.
    QueryDef("privacy_k_anon_audit", (s, d) =>
      Audit.kAnonymity(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"),
        "event_type", k = 5, l = 2),
      // Audit.kAnonymity mirrored: exact combo populations + distinct
      // sensitive counts, both verdicts.
      Oracle("""SELECT CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |  CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |  LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_sensitive,
        |  COUNT(*) >= 5 AS k_anonymous,
        |  COUNT(DISTINCT event_type) >= 2 AS l_diverse
        |FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |GROUP BY 1, 2, 3""".stripMargin)),

    // Entropy l-diversity over the same binned quasi-identifiers: the
    // information tier between the distinct-l count and t-closeness —
    // a combo must carry >= ln(l) nats of sensitive entropy, so a
    // 99%-one-value combo fails where distinct-l passes.
    QueryDef("privacy_l_diversity", (s, d) =>
      Audit.lDiversityEntropy(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"),
        "event_type", l = 3),
      // Audit.lDiversityEntropy mirrored: exact-count shares, p·ln p
      // gridded 1e-6 into the DECIMAL(28,6) per-combo sum, negated at
      // the edge; the ln(3) threshold is the SAME Scala-evaluated
      // literal both engines compare against.
      Oracle(s"""WITH base AS (
        |  SELECT event_type,
        |    CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT hour_band, iso_dow, val_decile, event_type AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_cs
        |  FROM base GROUP BY 1, 2, 3, 4),
        |combos AS (
        |  SELECT hour_band, iso_dow, val_decile,
        |    CAST(SUM(n_cs) AS BIGINT) AS n_rows,
        |    CAST(COUNT(*) AS BIGINT) AS n_sensitive
        |  FROM cells GROUP BY 1, 2, 3)
        |SELECT c.hour_band, c.iso_dow, c.val_decile, c.n_rows, c.n_sensitive,
        |  -CAST(SUM(CAST(FLOOR(
        |      (CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * LN(CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS entropy,
        |  c.n_sensitive >= 3 AS distinct_l_diverse,
        |  -CAST(SUM(CAST(FLOOR(
        |      (CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * LN(CAST(l.n_cs AS DOUBLE) / CAST(c.n_rows AS DOUBLE))
        |      * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
        |    >= ${math.log(3.0)} AS entropy_l_diverse
        |FROM cells l JOIN combos c USING (hour_band, iso_dow, val_decile)
        |GROUP BY 1, 2, 3, 4, 5""".stripMargin)),

    // t-closeness audit over the same binned quasi-identifiers: the
    // distribution tier above the k/l count verdicts — per combo the
    // variational distance between its sensitive mix and the global
    // mix, released only when <= t.
    QueryDef("privacy_t_closeness", (s, d) =>
      Audit.tCloseness(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(col("event_type"),
            floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"),
        "event_type", t = 0.2),
      // Audit.tCloseness mirrored: full combo × sensitive grid so absent
      // values pay |0 − q|, gridded 1e-6 terms into the DECIMAL(28,6)
      // per-combo sum, halved at the edge.
      Oracle("""WITH base AS (
        |  SELECT event_type,
        |    CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile
        |  FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL AND event_type IS NOT NULL),
        |cells AS (
        |  SELECT hour_band, iso_dow, val_decile, event_type AS s,
        |    CAST(COUNT(*) AS BIGINT) AS n_cs
        |  FROM base GROUP BY 1, 2, 3, 4),
        |combos AS (
        |  SELECT hour_band, iso_dow, val_decile,
        |    CAST(SUM(n_cs) AS BIGINT) AS n_rows
        |  FROM cells GROUP BY 1, 2, 3),
        |gpop AS (
        |  SELECT event_type AS s, CAST(COUNT(*) AS BIGINT) AS n_s FROM base GROUP BY 1),
        |totq AS (SELECT CAST(SUM(n_s) AS BIGINT) AS n FROM gpop),
        |sens AS (
        |  SELECT s, CAST(n_s AS DOUBLE) / CAST(n AS DOUBLE) AS q
        |  FROM gpop CROSS JOIN totq),
        |grid AS (
        |  SELECT c.hour_band, c.iso_dow, c.val_decile, c.n_rows, se.s, se.q,
        |    CAST(COALESCE(cl.n_cs, 0) AS DOUBLE) / CAST(c.n_rows AS DOUBLE) AS p
        |  FROM combos c CROSS JOIN sens se
        |  LEFT JOIN cells cl ON cl.hour_band = c.hour_band
        |    AND cl.iso_dow = c.iso_dow AND cl.val_decile = c.val_decile
        |    AND cl.s = se.s)
        |SELECT hour_band, iso_dow, val_decile, n_rows,
        |  CAST(SUM(CAST(FLOOR(ABS(p - q) * 1e6) / 1e6 AS DECIMAL(28,6)))
        |    AS DOUBLE) / 2.0 AS tv_distance,
        |  CAST(SUM(CAST(FLOOR(ABS(p - q) * 1e6) / 1e6 AS DECIMAL(28,6)))
        |    AS DOUBLE) / 2.0 <= 0.2 AS t_close
        |FROM grid GROUP BY 1, 2, 3, 4""".stripMargin)),

    // The ACTING twin of the audit: the released view keeps only rows
    // whose quasi-identifier combo passes both verdicts (suppression,
    // the quality_valid/quarantine pattern applied to privacy).
    QueryDef("privacy_suppress_release", (s, d) => {
      val binned = t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_id"), col("event_type"), col("value"),
          floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
          Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
          least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile"))
      val quasi = Seq("hour_band", "iso_dow", "val_decile")
      val safe = Audit.kAnonymity(binned, quasi, "event_type", k = 5, l = 2)
        .filter(col("k_anonymous") && col("l_diverse"))
        .select(quasi.map(col): _*)
      binned.join(safe.hint("shuffle_hash"), quasi, "left_semi")
    },
      Oracle("""WITH binned AS (
        |  SELECT event_id, event_type, value,
        |    CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |safe AS (
        |  SELECT hour_band, iso_dow, val_decile
        |  FROM binned GROUP BY 1, 2, 3
        |  HAVING COUNT(*) >= 5 AND COUNT(DISTINCT event_type) >= 2)
        |SELECT b.event_id, b.event_type, b.value,
        |  b.hour_band, b.iso_dow, b.val_decile
        |FROM binned b
        |JOIN safe s ON s.hour_band = b.hour_band AND s.iso_dow = b.iso_dow
        |  AND s.val_decile = b.val_decile""".stripMargin)),

    // Generalization-ladder release over the same quasi identifiers:
    // coarsen (hour band / weekend flag / value band, then full
    // redaction) until every class reaches k=5 — the third mechanism
    // next to suppression and noise; gen_level records the cost.
    QueryDef("privacy_generalize_release", (s, d) => {
      val base = t(s, d, "events")
        .filter(col("ts").isNotNull && col("value").isNotNull)
      val ladder = Seq(
        Seq(floor(hour(col("ts")) / 6).cast("long").cast("string"),
          Temporal.isoDow(col("ts")).cast("long").cast("string"),
          least(lit(9L), floor(col("value") / 10).cast("long")).cast("string")),
        Seq(floor(hour(col("ts")) / 6).cast("long").cast("string"),
          when(Temporal.isoDow(col("ts")) >= 6, "WE").otherwise("WD"),
          least(lit(4L), floor(col("value") / 20).cast("long")).cast("string")),
        Seq(lit("*"), lit("*"), lit("*")))
      Audit.generalizeRelease(base, ladder,
        Seq("hour_band", "iso_dow", "val_decile"), k = 5)
    },
      // Generalization ladder replay: per-level min class size, the
      // first-k-anonymous-level choice, CASE-selected rendering, final
      // windowed suppression at the chosen grain.
      Oracle("""WITH base AS (
        |  SELECT
        |    CAST(CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS VARCHAR) AS g0_0,
        |    CAST(CAST(isodow(ts) AS BIGINT) AS VARCHAR) AS g0_1,
        |    CAST(LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS VARCHAR) AS g0_2,
        |    CAST(CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS VARCHAR) AS g1_0,
        |    CASE WHEN isodow(ts) >= 6 THEN 'WE' ELSE 'WD' END AS g1_1,
        |    CAST(LEAST(4, CAST(FLOOR(value / 20) AS BIGINT)) AS VARCHAR) AS g1_2,
        |    '*' AS g2_0, '*' AS g2_1, '*' AS g2_2
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
        |m0 AS (SELECT MIN(c) AS m0 FROM
        |  (SELECT COUNT(*) AS c FROM base GROUP BY g0_0, g0_1, g0_2)),
        |m1 AS (SELECT MIN(c) AS m1 FROM
        |  (SELECT COUNT(*) AS c FROM base GROUP BY g1_0, g1_1, g1_2)),
        |lvl AS (SELECT CAST(CASE WHEN m0 >= 5 THEN 0
        |                         WHEN m1 >= 5 THEN 1
        |                         ELSE 2 END AS INTEGER) AS gen_level
        |  FROM m0 CROSS JOIN m1),
        |rel AS (SELECT
        |    CASE gen_level WHEN 0 THEN g0_0 WHEN 1 THEN g1_0 ELSE g2_0 END
        |      AS hour_band,
        |    CASE gen_level WHEN 0 THEN g0_1 WHEN 1 THEN g1_1 ELSE g2_1 END
        |      AS iso_dow,
        |    CASE gen_level WHEN 0 THEN g0_2 WHEN 1 THEN g1_2 ELSE g2_2 END
        |      AS val_decile,
        |    gen_level
        |  FROM base CROSS JOIN lvl)
        |SELECT hour_band, iso_dow, val_decile, gen_level FROM (
        |  SELECT *, COUNT(*) OVER
        |    (PARTITION BY hour_band, iso_dow, val_decile) AS cn
        |  FROM rel)
        |WHERE cn >= 5""".stripMargin)),

    // Deterministic Laplace DP release over the same quasi-identifier
    // combos: epsilon=0.5 (b=2.0), noise a pure function of the group
    // key through the md5 uniform — reproducible across runs so the
    // privacy budget is spent once, not per re-run.
    QueryDef("privacy_dp_release", (s, d) =>
      Audit.dpNoisyCounts(
        t(s, d, "events")
          .filter(col("ts").isNotNull && col("value").isNotNull)
          .select(floor(hour(col("ts")) / 6).cast("long").as("hour_band"),
            Temporal.isoDow(col("ts")).cast("long").as("iso_dow"),
            least(lit(9L), floor(col("value") / 10).cast("long")).as("val_decile")),
        Seq("hour_band", "iso_dow", "val_decile"), epsilon = 0.5),
      Oracle("""WITH g AS (
        |  SELECT CAST(FLOOR(hour(ts) / 6) AS BIGINT) AS hour_band,
        |    CAST(isodow(ts) AS BIGINT) AS iso_dow,
        |    LEAST(9, CAST(FLOOR(value / 10) AS BIGINT)) AS val_decile,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2, 3),
        |drawn AS (
        |  SELECT *,
        |    (CAST(CAST('0x' || substr(md5(concat_ws('|',
        |       CAST(hour_band AS VARCHAR), CAST(iso_dow AS VARCHAR),
        |       CAST(val_decile AS VARCHAR))), 1, 8) AS BIGINT) AS DOUBLE)
        |      + 0.5) / 4294967296.0 AS u
        |  FROM g),
        |noised AS (
        |  SELECT hour_band, iso_dow, val_decile, n_rows,
        |    FLOOR((-2.0) * (CASE WHEN u < 0.5 THEN -1.0 ELSE 1.0 END)
        |      * (FLOOR(LN(1.0 - 2.0 * ABS(u - 0.5)) * 1e6) / 1e6) * 1e6) / 1e6 AS noise
        |  FROM drawn)
        |SELECT hour_band, iso_dow, val_decile, n_rows, noise,
        |  CAST(n_rows AS DOUBLE) + noise AS noisy_count,
        |  CAST(GREATEST(0, FLOOR(CAST(n_rows AS DOUBLE) + noise)) AS BIGINT) AS released_count
        |FROM noised""".stripMargin)),

    // Distribution-fit panel: normal / exponential / lognormal fitted
    // by moments, scored by the two-sided KS staircase distance at
    // every distinct value — which textbook family does `value`
    // actually follow, before anyone simulates or extrapolates tails.
    QueryDef("ana_dist_fit", (s, d) =>
      Drift.distributionFit(t(s, d, "events"), "value"),
      // Drift.distributionFit mirrored: distinct-value staircase,
      // moments panel, the Horner-erfc Φ with the sign branch, gridded
      // exp/ln cells, two-sided KS sup per family, argmin flag.
      Oracle("""WITH base AS (
        |  SELECT CAST(value AS DOUBLE) AS v FROM events
        |  WHERE value IS NOT NULL AND value > 0.0),
        |pv AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1),
        |cumv AS (SELECT v, c, SUM(c) OVER (ORDER BY v) AS cum FROM pv),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(FLOOR(v * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sv,
        |    CAST(SUM(CAST(FLOOR(v * v * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS svv,
        |    CAST(SUM(CAST(FLOOR(LN(v) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sl,
        |    CAST(SUM(CAST(FLOOR((FLOOR(LN(v) * 1e6) / 1e6)
        |      * (FLOOR(LN(v) * 1e6) / 1e6) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sll
        |  FROM base),
        |mm AS (
        |  SELECT n, sv / CAST(n AS DOUBLE) AS mu,
        |    (svv - sv * sv / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS vr,
        |    sl / CAST(n AS DOUBLE) AS mul,
        |    (sll - sl * sl / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS varl
        |  FROM m),
        |z AS (
        |  SELECT cumv.*, mm.*,
        |    (v - mu) / sqrt(vr) AS zn,
        |    (FLOOR(LN(v) * 1e6) / 1e6 - mul) / sqrt(varl) AS zl
        |  FROM cumv CROSS JOIN mm),
        |e1 AS (SELECT *, ABS(zn) / 1.4142135623730951 AS xn,
        |              ABS(zl) / 1.4142135623730951 AS xl FROM z),
        |e2 AS (SELECT *, 1.0 / (1.0 + 0.3275911 * xn) AS tn,
        |              1.0 / (1.0 + 0.3275911 * xl) AS tl FROM e1),
        |e3 AS (
        |  SELECT *,
        |    0.5 * (FLOOR(((((1.061405429 * tn - 1.453152027) * tn + 1.421413741) * tn
        |      - 0.284496736) * tn + 0.254829592) * tn * EXP(-(xn * xn)) * 1e6) / 1e6) AS hn,
        |    0.5 * (FLOOR(((((1.061405429 * tl - 1.453152027) * tl + 1.421413741) * tl
        |      - 0.284496736) * tl + 0.254829592) * tl * EXP(-(xl * xl)) * 1e6) / 1e6) AS hl
        |  FROM e2),
        |f AS (
        |  SELECT *,
        |    CAST(cum AS DOUBLE) / CAST(n AS DOUBLE) AS fe,
        |    CAST(cum - c AS DOUBLE) / CAST(n AS DOUBLE) AS fp,
        |    CASE WHEN zn < 0.0 THEN hn ELSE 1.0 - hn END AS fnorm,
        |    1.0 - FLOOR(EXP(-1.0 * v / mu) * 1e6) / 1e6 AS fexp,
        |    CASE WHEN zl < 0.0 THEN hl ELSE 1.0 - hl END AS flogn
        |  FROM e3),
        |pan AS (
        |  SELECT MAX(n) AS n, MAX(mu) AS mu, MAX(vr) AS vr,
        |    MAX(mul) AS mul, MAX(varl) AS varl,
        |    MAX(GREATEST(ABS(fe - fnorm), ABS(fp - fnorm))) AS d_norm,
        |    MAX(GREATEST(ABS(fe - fexp), ABS(fp - fexp))) AS d_exp,
        |    MAX(GREATEST(ABS(fe - flogn), ABS(fp - flogn))) AS d_logn
        |  FROM f),
        |rows0 AS (
        |  SELECT 'normal' AS dist_name, n, mu AS param1,
        |    sqrt(vr) AS param2, d_norm AS ks_distance FROM pan
        |  UNION ALL SELECT 'exponential', n, 1.0 / mu,
        |    CAST(NULL AS DOUBLE), d_exp FROM pan
        |  UNION ALL SELECT 'lognormal', n, mul, sqrt(varl), d_logn FROM pan),
        |b AS (SELECT MIN(ks_distance) AS mb FROM rows0)
        |SELECT dist_name, n, param1, param2, ks_distance,
        |  ks_distance = mb AS is_best
        |FROM rows0 CROSS JOIN b""".stripMargin)),

    // Price elasticity of demand per part brand: grouped log-log OLS
    // slope of ln(quantity) on ln(unit price), gridded lns, one scan.
    QueryDef("ana_price_elasticity", (s, d) =>
      MlLite.logLogElasticity(
        t(s, d, "lineitem")
          .join(t(s, d, "part"), col("l_partkey") === col("p_partkey"))
          .select(col("p_brand"), col("l_quantity"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              / col("l_quantity")).as("unit_price")),
        "p_brand", "l_quantity", "unit_price"),
      // MlLite.logLogElasticity mirrored: gridded lns, q6-refloored
      // products, decimal moment partials, fixed-order slope/corr.
      Oracle("""WITH r0 AS (
        |  SELECT p_brand,
        |    FLOOR(ln(l_extendedprice * (1.0 - l_discount) / l_quantity) * 1e6) / 1e6 AS x,
        |    FLOOR(ln(l_quantity) * 1e6) / 1e6 AS y
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_quantity IS NOT NULL AND l_quantity > 0
        |    AND l_extendedprice * (1.0 - l_discount) / l_quantity > 0),
        |m AS (
        |  SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(FLOOR(x * x * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(FLOOR(x * y * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(FLOOR(y * y * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) AS syy
        |  FROM r0 GROUP BY 1),
        |c AS (
        |  SELECT p_brand, n,
        |    sxx - sx * sx / NULLIF(CAST(n AS DOUBLE), 0.0) AS cxx,
        |    sxy - sx * sy / NULLIF(CAST(n AS DOUBLE), 0.0) AS cxy,
        |    syy - sy * sy / NULLIF(CAST(n AS DOUBLE), 0.0) AS cyy,
        |    sx, sy
        |  FROM m),
        |s AS (
        |  SELECT *, cxy / NULLIF(cxx, 0.0) AS slope,
        |    (CASE WHEN cxx < 0.0 THEN NULL ELSE sqrt(cxx) END)
        |      * (CASE WHEN cyy < 0.0 THEN NULL ELSE sqrt(cyy) END) AS denom
        |  FROM c)
        |SELECT p_brand, n, slope AS elasticity,
        |  (sy - slope * sx) / NULLIF(CAST(n AS DOUBLE), 0.0) AS intercept,
        |  cxy / NULLIF(denom, 0.0) AS corr
        |FROM s""".stripMargin)),

    // Incremental JOIN-view maintenance (the join sibling of
    // gold_agg_incremental): orders >= 2000-01-01 arrive as the fact
    // delta, every 97th customer arrives re-segmented as the dim
    // delta; only touched custkey partitions recompute, the rest of
    // the stored view carries over. The oracle is the full recompute
    // of the upserted join — equality IS the correctness claim.
    QueryDef("gold_join_incremental", (s, d) => {
      val cut = lit("2000-01-01").cast("timestamp")
      val orders = t(s, d, "orders")
      val cust = t(s, d, "customer")
      val viewCols = Seq(col("o_orderkey"), col("o_custkey"),
        col("o_totalprice"), col("c_name"), col("c_mktsegment"))
      val aOld = orders.filter(col("o_orderdate") < cut)
      val aDelta = orders.filter(col("o_orderdate") >= cut)
      val bOld = cust.withColumnRenamed("c_custkey", "o_custkey")
      val bDelta = bOld.filter(col("o_custkey") % 97 === 0)
        .withColumn("c_mktsegment", lit("CHANGED"))
      val view = aOld.join(bOld, Seq("o_custkey")).select(viewCols: _*)
      Merge.maintainJoinView(view,
        aOld, aDelta, Seq("o_orderkey"),
        bOld, bDelta, "o_custkey")
    },
      // Merge.maintainJoinView: the oracle IS the full recompute of the
      // upserted join — incremental == full is the correctness claim.
      Oracle("""WITH b AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 97 = 0 THEN 'CHANGED' ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer)
        |SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
        |FROM orders JOIN b ON b.c_custkey = o_custkey""".stripMargin)),

    // Domain-mixture curation: keep the largest corpus whose language
    // proportions hit the target shares; per-domain keep rates are
    // computed from the counts, membership is key mod 65536.
    QueryDef("sample_domain_mix", (s, d) =>
      Sampling.domainMix(t(s, d, "documents"), "lang",
          Map("en" -> 0.40, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15),
          "doc_id")
        .select(col("doc_id"), col("lang"), col("source")),
      // T = min(n/share) (the largest total the scarcest domain allows);
      // all share/rate arithmetic in DOUBLE, left-assoc like the Spark
      // expression tree, so thresholds are bit-identical; membership is
      // the repo's md5 bucket vs the hex-rendered threshold.
      Oracle("""WITH shares AS (
        |  SELECT * FROM (VALUES
        |    ('en', CAST(0.40 AS DOUBLE)), ('de', CAST(0.15 AS DOUBLE)),
        |    ('es', CAST(0.15 AS DOUBLE)), ('fr', CAST(0.15 AS DOUBLE)),
        |    ('zh', CAST(0.15 AS DOUBLE))) AS t(lang, share)),
        |c AS (
        |  SELECT d.lang, s.share, COUNT(*) AS n
        |  FROM documents d JOIN shares s ON d.lang = s.lang
        |  GROUP BY 1, 2),
        |mx AS (SELECT MIN(n / share) AS t_max FROM c),
        |r AS (
        |  SELECT lang,
        |    CASE WHEN FLOOR(share * t_max / n * 65536) >= 65536 THEN 'g'
        |         ELSE lower(lpad(to_hex(CAST(FLOOR(share * t_max / n * 65536)
        |                                      AS BIGINT)), 4, '0'))
        |    END AS thr_hex
        |  FROM c, mx)
        |SELECT d.doc_id, d.lang, d.source
        |FROM documents d JOIN r ON d.lang = r.lang
        |WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) < r.thr_hex""".stripMargin)),

    // Skew-hardened dedup — must equal gold_dedup_grain row for row
    // (same oracle), while no single task ever ranks a hot grain alone.
    QueryDef("gold_dedup_grain_salted", (s, d) =>
      Dedup.latestByGrainSalted(t(s, d, "events"),
        grain = Seq("user_id", "event_type"), order = Seq("ts", "event_id")),
      // The salted variant is output-identical by construction.
      Oracle(dedupGrainSql)),

    // Deterministic stratified sample: membership is a pure function
    // of md5(event_id) — replayable in any engine, no shuffle/state.
    QueryDef("sample_stratified", (s, d) =>
      Sampling.stratified(t(s, d, "events"), "event_type",
        rates = Map("CLICK" -> 0.25, "VIEW" -> 0.125), defaultRate = 0.5,
        keyCols = Seq("event_id")),
      // Deterministic sampler: DuckDB replays the exact md5-bucket
      // membership rule — same rows survive in both engines.
      Oracle("""SELECT * FROM (
        |  SELECT *,
        |    substr(md5(CAST(event_id AS VARCHAR)), 1, 4) AS sample_bucket,
        |    CASE WHEN event_type = 'CLICK' THEN '4000'
        |         WHEN event_type = 'VIEW'  THEN '2000'
        |         ELSE '8000' END AS sample_threshold
        |  FROM events)
        |WHERE sample_bucket < sample_threshold""".stripMargin)),

    // Deterministic class balancing: every language kept at the
    // minority language's DATA-DERIVED rate — flat expected class
    // histogram, md5-pure membership.
    QueryDef("sample_class_balance", (s, d) =>
      Sampling.classBalance(t(s, d, "documents"), "lang",
        keyCols = Seq("doc_id")),
      // Sampling.classBalance mirrored: data-derived minority rate per
      // class, integer bucket threshold round(rate*65536), md5 rule.
      Oracle("""WITH r AS (SELECT * FROM documents WHERE lang IS NOT NULL),
        |c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_class FROM r GROUP BY 1),
        |mn AS (SELECT MIN(n_class) AS m FROM c),
        |p AS (
        |  SELECT lang, n_class,
        |    CAST(m AS DOUBLE) / CAST(n_class AS DOUBLE) AS class_rate,
        |    CAST(ROUND(CAST(m AS DOUBLE) / CAST(n_class AS DOUBLE) * 65536.0) AS BIGINT) AS thr
        |  FROM c CROSS JOIN mn)
        |SELECT r.lang, r.doc_id, r.text, r.source, r.n_chars,
        |  p.n_class, p.class_rate
        |FROM r JOIN p USING (lang)
        |WHERE CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) < thr""".stripMargin)),

    // Exact k-per-stratum sample: each language keeps exactly its 12
    // smallest-by-md5(doc_id) docs — candidate-bounded ranking, never
    // a corpus-wide per-stratum sort (Sampling.exactQuota).
    QueryDef("sample_exact_quota", (s, d) =>
      Sampling.exactQuota(
        t(s, d, "documents").select(col("doc_id"), col("lang")),
        "lang", "doc_id", k = 12)
        .select(col("lang"), col("doc_id"), col("sample_rank")),
      // Exact top-k per stratum: DuckDB ranks whole strata (fine at
      // oracle scale); Spark's candidate pre-filter provably preserves
      // the same top-k because the filter bucket is a prefix of the
      // ranking hash.
      Oracle("""WITH r AS (
        |  SELECT lang, doc_id,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS INT) AS sample_rank
        |  FROM documents)
        |SELECT lang, doc_id, sample_rank FROM r WHERE sample_rank <= 12""".stripMargin)),

    // Click-to-purchase attribution (batch twin of the stream-stream
    // watermarked join, StreamOps.attributionJoin): equi-key + a
    // both-ways-bounded event-time residual — a range join that plans
    // as a hash join on the key, never a cartesian. 30-minute window.
    QueryDef("attrib_click_purchase", (s, d) => {
      val ev = t(s, d, "events").filter(col("user_id").isNotNull)
      val clicks = ev.filter(upper(trim(col("event_type"))) === "CLICK")
        .select(col("user_id"), col("ts").as("click_ts"), col("event_id").as("click_id"))
      val purchases = ev.filter(upper(trim(col("event_type"))) === "PURCHASE")
        .select(col("user_id"), col("ts").as("purchase_ts"),
          col("event_id").as("purchase_id"), col("value").as("purchase_value"))
      purchases.join(clicks,
          purchases("user_id") === clicks("user_id") &&
            col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1800 SECONDS") &&
            col("click_ts") <= col("purchase_ts"),
          "inner")
        .drop(clicks("user_id"))
        .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
          col("purchase_value"), col("click_id"), col("click_ts"))
    },
      Oracle("""WITH ev AS (SELECT * FROM events WHERE user_id IS NOT NULL),
        |clicks AS (
        |  SELECT user_id, ts AS click_ts, event_id AS click_id
        |  FROM ev WHERE UPPER(TRIM(event_type)) = 'CLICK'),
        |purchases AS (
        |  SELECT user_id, ts AS purchase_ts, event_id AS purchase_id, value AS purchase_value
        |  FROM ev WHERE UPPER(TRIM(event_type)) = 'PURCHASE')
        |SELECT p.purchase_id, p.user_id, p.purchase_ts, p.purchase_value,
        |       c.click_id, c.click_ts
        |FROM purchases p
        |JOIN clicks c
        |  ON p.user_id = c.user_id
        | AND c.click_ts >= p.purchase_ts - INTERVAL 1800 SECONDS
        | AND c.click_ts <= p.purchase_ts""".stripMargin)),

    // Multi-level ROLLUP rollup (mode × day → mode totals → grand
    // total) in ONE pass — Catalyst expands grouping sets with
    // map-side partial aggregation, replacing three separate scans.
    QueryDef("ana_rollup_demand", (s, d) =>
      t(s, d, "events")
        .rollup(upper(trim(col("event_type"))).as("event_type_norm"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
            .as("value_sum")),
      Oracle("""SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  CAST(ts AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY ROLLUP (UPPER(TRIM(event_type)), CAST(ts AS DATE))""".stripMargin)),

    // Full CUBE over (type, day) — all four grouping sets (detail,
    // per-type, per-day, grand total) in ONE pass via Catalyst's
    // grouping-set Expand with map-side partials, same cost class as
    // the rollup's three; grouping_id disambiguates a subtotal NULL
    // from a NULL in the data (the rollup can't see per-day totals
    // at all — that's the set CUBE adds).
    QueryDef("ana_cube_demand", (s, d) =>
      t(s, d, "events")
        .cube(upper(trim(col("event_type"))).as("event_type_norm"),
          to_date(col("ts")).as("day"))
        .agg(grouping_id().as("grouping_set_id"),
          count(lit(1)).as("n_events"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
            .as("value_sum")),
      // DuckDB GROUPING(a, b) carries Spark's grouping_id() bit layout
      // (leftmost column = most significant bit, 1 = aggregated away).
      Oracle("""SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  CAST(ts AS DATE) AS day,
        |  CAST(GROUPING(UPPER(TRIM(event_type)), CAST(ts AS DATE)) AS BIGINT)
        |    AS grouping_set_id,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events
        |GROUP BY CUBE (UPPER(TRIM(event_type)), CAST(ts AS DATE))""".stripMargin)),

    // Leakage-safe train/val/test split: keyed on user_id (NOT the
    // row id), so every row of a user lands in one split — groups
    // split across train and test leak shared context into eval. The
    // assignment is a pure function of the key: stable across
    // engines, re-runs and repartitions.
    QueryDef("sample_split_assign", (s, d) =>
      Sampling.splitAssign(t(s, d, "events"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), Seq("user_id")),
      // Cumulative thresholds: 0.8 -> cccd, 0.9 -> e666 (round(f*65536)
      // as %04x). md5 goes through concat_ws like the Spark side, so a
      // NULL key hashes the empty string identically in both engines.
      Oracle("""SELECT * EXCLUDE (__b),
        |  CASE WHEN __b < 'cccd' THEN 'train'
        |       WHEN __b < 'e666' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM (
        |  SELECT *, substr(md5(concat_ws('|', CAST(user_id AS VARCHAR))), 1, 4) AS __b
        |  FROM events)""".stripMargin)),

    // 5-fold CV assignment keyed on user_id — same leakage argument
    // as the split assigner, exact hash-space tiling, zero shuffle.
    QueryDef("sample_kfold_assign", (s, d) =>
      Sampling.kfoldAssign(t(s, d, "events"), k = 5, Seq("user_id")),
      // fold = floor(u*k) over the md5 uniform: bucket*k < 2^53 is
      // double-exact and the 2^32 divisor is a power of two — no
      // rounding decision for the engines to disagree on.
      Oracle("""SELECT *,
        |  CAST(FLOOR(CAST(CAST(concat('0x',
        |    substr(md5(COALESCE(CAST(user_id AS VARCHAR), '<NULL>')), 1, 8))
        |    AS BIGINT) * 5 AS DOUBLE) / 4294967296.0) AS INT) AS fold_id
        |FROM events""".stripMargin)),

    // One-scan table statistics profile (the ANALYZE TABLE / catalog-
    // stats step of a lake load — the reference's build_catalog row
    // accounting, widened to column stats). Counts/nulls/min/max are
    // partial-aggregable scalars (map-side reduced to one row); the
    // two EXACT distincts are not — Catalyst plans them via Expand +
    // a shuffle keyed on the distinct values (the price of exactness,
    // paid here for oracle parity). When a profile must stay a true
    // 1-row mergeable reduce at any cardinality, that is exactly
    // what sketch_profile's HLL variant below is for.
    QueryDef("table_profile_events", (s, d) =>
      t(s, d, "events").agg(
        count(lit(1)).as("n_rows"),
        sum(col("user_id").isNull.cast("long")).as("user_id_nulls"),
        min(col("user_id")).as("user_id_min"),
        max(col("user_id")).as("user_id_max"),
        countDistinct(col("user_id")).as("user_id_distinct"),
        sum(col("value").isNull.cast("long")).as("value_nulls"),
        min(col("value")).as("value_min"),
        max(col("value")).as("value_max"),
        min(col("ts")).as("ts_min"),
        max(col("ts")).as("ts_max"),
        countDistinct(col("event_type")).as("event_type_distinct")),
      // SUM over integers is HUGEINT in DuckDB — cast every summed stat
      // to BIGINT or the driver's type-faithful hash can never match
      // (the sessionize_gap lesson, round 2).
      Oracle("""SELECT COUNT(*) AS n_rows,
        |  CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS user_id_nulls,
        |  MIN(user_id) AS user_id_min,
        |  MAX(user_id) AS user_id_max,
        |  COUNT(DISTINCT user_id) AS user_id_distinct,
        |  CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS value_nulls,
        |  MIN(value) AS value_min,
        |  MAX(value) AS value_max,
        |  MIN(ts) AS ts_min,
        |  MAX(ts) AS ts_max,
        |  COUNT(DISTINCT event_type) AS event_type_distinct
        |FROM events""".stripMargin)),

    // END-TO-END bloom-prune proof under the driver gate: the
    // (bloom-pruned fact) ⋈ dim result must be IDENTICAL to the plain
    // join — no false negatives means the oracle is simply the join
    // without the bloom. The prune only cuts shuffle volume.
    QueryDef("join_bloom_pruned", (s, d) => {
      val ev = t(s, d, "events")
      val dim = ev.filter(col("user_id").isNotNull && col("user_id") % 7 === 0)
        .select(col("user_id")).distinct()
      val bloom = Prejoin.keyBloom(dim, "user_id", expectedItems = 100000)
      Prejoin.pruneFactByDimKeys(ev, "user_id", bloom)
        .join(dim, "user_id")
        .groupBy(upper(trim(col("event_type"))).as("event_type_norm"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          coalesce(round(sum(money(col("value"))), 2), lit(0)).cast("double")
            .as("value_sum"))
    },
      // The bloom prune must be invisible in the result — the oracle is
      // the SAME join with no bloom anywhere.
      Oracle("""WITH dim AS (
        |  SELECT DISTINCT user_id FROM events
        |  WHERE user_id IS NOT NULL AND user_id % 7 = 0)
        |SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  COUNT(*) AS n_events,
        |  COUNT(DISTINCT e.user_id) AS n_users,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events e JOIN dim USING (user_id)
        |GROUP BY 1""".stripMargin)),

    // Salted skew join: output must be EXACTLY the plain join's (the
    // oracle runs the unsalted join) — salting redistributes the
    // shuffle, never the semantics. user-dim enrichment keyed on the
    // (skewable) user_id, salt derived from event_id.
    QueryDef("join_salted", (s, d) => {
      val ev = t(s, d, "events").filter(col("user_id").isNotNull)
      val dim = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("user_events"))
      Prejoin.saltedJoin(ev, dim, Seq("user_id"), "event_id", saltN = 8)
        .select(col("event_id"), col("user_id"), col("user_events"))
    },
      // The oracle is the PLAIN join: salting must be invisible.
      Oracle("""WITH ev AS (SELECT event_id, user_id FROM events WHERE user_id IS NOT NULL),
        |dim AS (SELECT user_id, COUNT(*) AS user_events FROM ev GROUP BY 1)
        |SELECT event_id, user_id, user_events
        |FROM ev JOIN dim USING (user_id)""".stripMargin)),

    // Shuffle-skew diagnosis: per-key row counts, the top-5 hottest
    // keys with their share and multiple-of-average — the measurement
    // that decides WHERE salting (gold_dedup_grain_salted) is worth
    // its overhead. One partial-aggregable shuffle + TakeOrdered.
    QueryDef("skew_hot_keys", (s, d) => {
      val perKey = t(s, d, "events").filter(col("user_id").isNotNull)
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_rows"))
      val tot = perKey.agg(count(lit(1)).as("n_keys"),
        sum(col("n_rows")).as("total_rows"))
      // NO rounding on the shares: the raw division chain is IEEE-
      // exact in any engine, while round-to-2dp diverges the moment a
      // quotient's shortest decimal lands on a .5 boundary (85 keys of
      // 10000 rows over 150 keys = exactly "1.275" — Spark rounds the
      // string up, DuckDB rounds the binary down).
      perKey.crossJoin(broadcast(tot))
        .withColumn("pct_of_total", lit(100.0) * col("n_rows") / col("total_rows"))
        .withColumn("x_avg",
          col("n_rows") / (col("total_rows") / col("n_keys").cast("double")))
        .select(col("user_id"), col("n_rows"), col("pct_of_total"), col("x_avg"))
        .orderBy(col("n_rows").desc, col("user_id"))
        .limit(5)
    },
      Oracle("""WITH k AS (
        |  SELECT user_id, COUNT(*) AS n_rows FROM events
        |  WHERE user_id IS NOT NULL GROUP BY 1),
        |tot AS (
        |  SELECT COUNT(*) AS n_keys, CAST(SUM(n_rows) AS BIGINT) AS total_rows
        |  FROM k)
        |SELECT user_id, n_rows,
        |  100.0 * n_rows / total_rows AS pct_of_total,
        |  n_rows / (total_rows / CAST(n_keys AS DOUBLE)) AS x_avg
        |FROM k, tot
        |ORDER BY n_rows DESC, user_id
        |LIMIT 5""".stripMargin)),

    // Equi-width value histogram (see Profiling.histogram) — the
    // distribution profile next to table_profile_events.
    QueryDef("table_histogram_value", (s, d) =>
      Profiling.histogram(t(s, d, "events"), "value", k = 20),
      // Bucket arithmetic replayed op-for-op: FLOOR((v-mn)/((mx-mn)/k))
      // clamped to k-1 — IEEE subtract/divide/floor are engine-exact.
      Oracle("""WITH b AS (
        |  SELECT MIN(value) AS mn, MAX(value) AS mx
        |  FROM events WHERE value IS NOT NULL)
        |SELECT
        |  CASE WHEN mx = mn THEN 0
        |       ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |  COUNT(*) AS n_rows,
        |  MIN(value) AS bucket_min,
        |  MAX(value) AS bucket_max
        |FROM events, b
        |WHERE value IS NOT NULL
        |GROUP BY 1""".stripMargin)),

    // Pairwise Pearson correlation over the fact's measures — one
    // scan, exact DECIMAL moments, pair expansion on the 1-row panel.
    QueryDef("table_corr_pairs", (s, d) =>
      Profiling.corrPairs(t(s, d, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")),
      // Variance-identity correlation replayed op-for-op: DECIMAL
      // moment sums (order-free), fixed CAST-to-DOUBLE op sequence,
      // IEEE-correctly-rounded sqrt (the anomaly_zscore convention).
      Oracle(corrPairsOracleSql(
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")))),

    // First-order partial correlation: does quantity↔extendedprice
    // survive holding the per-unit tax fixed — the confounder audit
    // over the same one-scan moment panel as table_corr_pairs.
    QueryDef("table_corr_partial", (s, d) =>
      Profiling.partialCorr(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", "l_tax"),
      Oracle(partialCorrOracleSql(
        "l_quantity", "l_extendedprice", "l_tax"))),

    // Missingness co-occurrence audit: do NULLs arrive together?
    // phi per column pair over one integer-moment scan.
    QueryDef("table_missingness", (s, d) =>
      Profiling.missingnessPairs(t(s, d, "events"),
        Seq("user_id", "event_type", "value", "props")),
      Oracle(missingnessOracleSql(
        Seq("user_id", "event_type", "value", "props")))),

    // Bucketed snapshot reconciliation: the B side drops event 17 and
    // perturbs event 42's value — the diff must localize both.
    QueryDef("audit_table_diff", (s, d) => {
      val ev = t(s, d, "events")
      val b = ev.filter(col("event_id") =!= 17)
        .withColumn("value",
          when(col("event_id") === 42, col("value") + 1).otherwise(col("value")))
      Audit.tableDiff(ev, b, "event_id", Seq("user_id", "event_type"), "value",
        nBuckets = 16)
    },
      // md5-derived 32-bit digests summed per bucket (order-free) —
      // Spark's conv(hex,16,10) == DuckDB's CAST('0x…') ; the measure
      // reconciles as a DECIMAL sum, never a float-to-string render.
      Oracle({
        def panelSql(src: String, suffix: String) =
          s"""SELECT
             |  CAST(concat('0x', substr(md5(COALESCE(CAST(event_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT) % 16 AS bucket,
             |  COUNT(*) AS n_rows_$suffix,
             |  CAST(SUM(CAST(concat('0x', substr(md5(concat_ws('|',
             |    COALESCE(CAST(event_id AS VARCHAR), '<NULL>'),
             |    COALESCE(CAST(user_id AS VARCHAR), '<NULL>'),
             |    COALESCE(CAST(event_type AS VARCHAR), '<NULL>'))), 1, 8)) AS BIGINT)) AS BIGINT) AS checksum_$suffix,
             |  BIT_XOR(CAST(concat('0x', substr(md5(concat_ws('|',
             |    COALESCE(CAST(event_id AS VARCHAR), '<NULL>'),
             |    COALESCE(CAST(user_id AS VARCHAR), '<NULL>'),
             |    COALESCE(CAST(event_type AS VARCHAR), '<NULL>'))), 1, 15)) AS BIGINT)) AS xor_$suffix,
             |  SUM(CAST(value AS DECIMAL(28,6))) AS msum_$suffix
             |FROM $src GROUP BY 1""".stripMargin
        s"""WITH a AS (SELECT event_id, user_id, event_type, value FROM events),
           |b AS (
           |  SELECT event_id, user_id, event_type,
           |    CASE WHEN event_id = 42 THEN value + 1 ELSE value END AS value
           |  FROM events WHERE event_id <> 17),
           |pa AS (${panelSql("a", "a")}),
           |pb AS (${panelSql("b", "b")})
           |SELECT bucket,
           |  COALESCE(n_rows_a, 0) AS n_rows_a,
           |  COALESCE(n_rows_b, 0) AS n_rows_b,
           |  checksum_a, checksum_b,
           |  xor_a, xor_b,
           |  CAST(msum_a AS DOUBLE) AS measure_sum_a,
           |  CAST(msum_b AS DOUBLE) AS measure_sum_b,
           |  (COALESCE(n_rows_a, 0) = COALESCE(n_rows_b, 0)
           |   AND checksum_a IS NOT DISTINCT FROM checksum_b
           |   AND xor_a IS NOT DISTINCT FROM xor_b
           |   AND msum_a IS NOT DISTINCT FROM msum_b) AS is_match
           |FROM pa FULL OUTER JOIN pb USING (bucket)""".stripMargin
      })),

    // Deterministic Poisson-multiplier bootstrap: 32 hash-seeded
    // resamples of the mean event value — the sampling-error panel.
    QueryDef("ana_bootstrap_ci", (s, d) =>
      Sampling.bootstrapMeans(t(s, d, "events"), "event_id", "value", b = 32),
      // Poisson(1) multiplicities from exact-rational md5 uniforms and
      // exact-double CDF fences; weighted sums in decimal, one division
      // per resample.
      // splitmix64 replay: seed = first 64 digest bits, k-th uniform =
      // mix64(seed + (k+1)*gamma) via exact UHUGEINT mod-2^64 products
      // and xor/shift — verified bit-equal to the JVM kernel.
      Oracle("""WITH base AS (
        |  SELECT CAST(concat('0x', substr(md5(concat_ws('|',
        |      CAST(event_id AS VARCHAR), 'boot')), 1, 16)) AS UBIGINT) AS seed,
        |    CAST(value AS DECIMAL(18,2)) AS x
        |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL),
        |bs AS (SELECT range AS b FROM range(0, 32)),
        |z0 AS (
        |  SELECT b, x,
        |    CAST((CAST(seed AS UHUGEINT) + CAST(b + 1 AS UHUGEINT)
        |      * CAST(11400714819323198485 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS UBIGINT) AS z
        |  FROM base CROSS JOIN bs),
        |z1 AS (SELECT b, x, xor(z, z >> 30) AS z FROM z0),
        |z2 AS (SELECT b, x,
        |    CAST((CAST(z AS UHUGEINT) * CAST(13787848793156543929 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS UBIGINT) AS z FROM z1),
        |z3 AS (SELECT b, x, xor(z, z >> 27) AS z FROM z2),
        |z4 AS (SELECT b, x,
        |    CAST((CAST(z AS UHUGEINT) * CAST(10723151780598845931 AS UHUGEINT))
        |      % CAST(18446744073709551616 AS UHUGEINT) AS UBIGINT) AS z FROM z3),
        |draws AS (
        |  SELECT b, x,
        |    CAST(xor(z, z >> 31) >> 32 AS DOUBLE) / 4294967296.0 AS u
        |  FROM z4),
        |wts AS (
        |  SELECT b, x,
        |    CASE WHEN u < 0.36787944117144233 THEN 0
        |         WHEN u < 0.7357588823428847 THEN 1
        |         WHEN u < 0.9196986029286058 THEN 2
        |         WHEN u < 0.9810118431238462 THEN 3
        |         WHEN u < 0.9963401531726563 THEN 4
        |         WHEN u < 0.9994058151824183 THEN 5
        |         ELSE 6 END AS w
        |  FROM draws)
        |SELECT b AS resample_id, CAST(SUM(w) AS BIGINT) AS n_eff,
        |  CASE WHEN SUM(w) > 0 THEN CAST(SUM(w * x) AS DOUBLE) / SUM(w) END AS mean_boot
        |FROM wts GROUP BY 1""".stripMargin)),

    // Exact-n weighted sample without replacement (A-ES, md5 uniforms,
    // quantized-ln rank) — budgeted weight-proportional selection.
    QueryDef("sample_weighted_n", (s, d) =>
      Sampling.weightedSampleN(t(s, d, "events"), "event_id", "value", n = 500),
      // Same md5 uniform, same quantized-ln rank, same total order.
      Oracle("""SELECT * FROM (
        |  SELECT *,
        |    FLOOR(LN((CAST(concat('0x', substr(md5(
        |        COALESCE(CAST(event_id AS VARCHAR), '<NULL>')), 1, 8)) AS BIGINT)
        |      + 1.0) / 4294967296.0)
        |      / CAST(value AS DOUBLE) * 1e9) / 1e9 AS sample_rank_key
        |  FROM events
        |  WHERE event_id IS NOT NULL AND value IS NOT NULL AND value > 0)
        |ORDER BY sample_rank_key DESC, event_id
        |LIMIT 500""".stripMargin)),

    // Per-group winsorization to the exact [p05, p95] band.
    QueryDef("sample_winsorize", (s, d) =>
      Sampling.winsorize(
        t(s, d, "events").filter(col("value").isNotNull)
          .select(col("event_id"),
            upper(trim(col("event_type"))).as("event_type_norm"), col("value")),
        "event_type_norm", "value", pLo = 0.05, pHi = 0.95),
      // Exact-percentile band (the F2 percentile==quantile_cont parity),
      // pure least/greatest clip.
      Oracle("""WITH ev AS (
        |  SELECT event_id, UPPER(TRIM(event_type)) AS event_type_norm, value
        |  FROM events WHERE value IS NOT NULL),
        |b AS (
        |  SELECT event_type_norm,
        |    quantile_cont(value, 0.05) AS p_lo,
        |    quantile_cont(value, 0.95) AS p_hi
        |  FROM ev GROUP BY 1)
        |SELECT event_type_norm, event_id, value, p_lo, p_hi,
        |  LEAST(GREATEST(value, p_lo), p_hi) AS value_winsorized,
        |  (value < p_lo OR value > p_hi) AS was_clipped
        |FROM ev JOIN b USING (event_type_norm)""".stripMargin)),

    // Equi-depth (quartile) histogram: ~n/4 rows per bucket however
    // skewed the column; exact-percentile thresholds broadcast.
    QueryDef("table_histogram_equidepth", (s, d) =>
      Profiling.histogramEquiDepth(t(s, d, "events"), "value", k = 4),
      Oracle("""WITH r AS (SELECT value FROM events WHERE value IS NOT NULL),
        |t AS (
        |  SELECT quantile_cont(value, 0.25) AS t1,
        |         quantile_cont(value, 0.5) AS t2,
        |         quantile_cont(value, 0.75) AS t3
        |  FROM r)
        |SELECT
        |  CASE WHEN value > t1 THEN 1 ELSE 0 END +
        |  CASE WHEN value > t2 THEN 1 ELSE 0 END +
        |  CASE WHEN value > t3 THEN 1 ELSE 0 END AS bucket,
        |  COUNT(*) AS n_rows,
        |  MIN(value) AS bucket_min,
        |  MAX(value) AS bucket_max
        |FROM r, t
        |GROUP BY 1""".stripMargin)),

    // Distribution drift between lake snapshots: ONE shared-bounds
    // histogram pass splits per-bucket counts into old/new (cut =
    // 2024-01-15), proportions + per-bucket shift as RAW IEEE
    // quotients — the distribution-shift monitor a training pipeline
    // runs between ingestion snapshots. Same scale shape as the
    // histogram: broadcast 1-row bounds, <= k bucket keys, broadcast
    // 1-row totals.
    QueryDef("data_drift_value", (s, d) => {
      val k = 20
      val ev = t(s, d, "events").filter(col("value").isNotNull)
        // coalesce: a NULL ts must count as old (matching the oracle's
        // CASE ... ELSE 0), not vanish from both n_old and n_new —
        // otherwise n_old+n_new under-counts the bucket's rows
        .withColumn("is_new",
          coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0)))
      val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      val width = (col("mx") - col("mn")) / k
      val bucket = when(col("mx") === col("mn"), lit(0))
        .otherwise(least(lit(k - 1), floor((col("value") - col("mn")) / width).cast("int")))
      val byBucket = ev.crossJoin(broadcast(bounds))
        .groupBy(bucket.as("bucket"))
        .agg(sum(lit(1) - col("is_new")).as("n_old"), sum(col("is_new")).as("n_new"))
      val tot = byBucket.agg(sum(col("n_old")).as("tot_old"),
        sum(col("n_new")).as("tot_new"))
      byBucket.crossJoin(broadcast(tot))
        .withColumn("p_old", col("n_old") / col("tot_old"))
        .withColumn("p_new", col("n_new") / col("tot_new"))
        .withColumn("p_shift",
          col("n_new") / col("tot_new") - col("n_old") / col("tot_old"))
        .select(col("bucket"), col("n_old"), col("n_new"),
          col("p_old"), col("p_new"), col("p_shift"))
    },
      Oracle("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k)
        |SELECT bucket, n_old, n_new,
        |  n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |  n_new / CAST(tot_new AS DOUBLE) AS p_new,
        |  n_new / CAST(tot_new AS DOUBLE) - n_old / CAST(tot_old AS DOUBLE) AS p_shift
        |FROM k, tot""".stripMargin)),

    // Scalar drift gates over the same old/new split: log-free χ² +
    // total-variation on the 20-bucket histogram, and the exact
    // two-sample KS statistic via the distributed prefix sum — the
    // one-row verdicts a monitoring pipeline alerts on (the per-bucket
    // panel above is their diagnostic drill-down).
    QueryDef("data_drift_chi2", (s, d) =>
      Drift.chi2Histogram(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new", k = 20),
      // Same bucketing CTE as data_drift_value, then the §5 grid rule
      // on every full-entropy term before its decimal partial.
      Oracle("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k),
        |p AS (
        |  SELECT n_old, tot_old, tot_new,
        |    n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |    n_new / CAST(tot_new AS DOUBLE)
        |      - n_old / CAST(tot_old AS DOUBLE) AS diff
        |  FROM k, tot)
        |SELECT
        |  CAST(SUM(CASE WHEN n_old > 0
        |    THEN CAST(floor(diff * diff / p_old * 1e6) / 1e6 AS DECIMAL(28,6)) END) AS DOUBLE) AS chi2,
        |  CAST(SUM(CAST(floor(abs(diff) * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE) * 0.5 AS tv_dist,
        |  CAST(SUM(CASE WHEN n_old > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_used,
        |  CAST(SUM(CASE WHEN n_old > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_buckets_skipped,
        |  CAST(MAX(tot_old) AS BIGINT) AS tot_old,
        |  CAST(MAX(tot_new) AS BIGINT) AS tot_new
        |FROM p""".stripMargin)),

    // PSI over the same histogram — the industry-standard monitoring
    // scalar (0.1/0.25 rules of thumb); ln terms ride only the
    // ≤k-bucket panel under the §5 floor-grid, both-sides-empty
    // buckets skipped (counted) rather than epsilon-smoothed.
    QueryDef("data_drift_psi", (s, d) =>
      Drift.psiHistogram(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new", k = 20),
      // PSI replay: same buckets/totals as chi2; each term's ln and the
      // final (p_new-p_old)*ln product floor-quantize to 1e-6 before the
      // DECIMAL(28,6) partial — grid scale == decimal scale (§5).
      Oracle("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |b AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM ev),
        |k AS (
        |  SELECT
        |    CASE WHEN mx = mn THEN 0
        |         ELSE LEAST(19, CAST(FLOOR((value - mn) / ((mx - mn) / 20)) AS INTEGER)) END AS bucket,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new
        |  FROM ev, b GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new) AS BIGINT) AS tot_new
        |  FROM k),
        |p AS (
        |  SELECT n_old, n_new, tot_old, tot_new,
        |    n_old / CAST(tot_old AS DOUBLE) AS p_old,
        |    n_new / CAST(tot_new AS DOUBLE) AS p_new
        |  FROM k, tot)
        |SELECT
        |  CAST(SUM(CASE WHEN n_old > 0 AND n_new > 0
        |    THEN CAST(floor((p_new - p_old)
        |      * (floor(ln(p_new / p_old) * 1e6) / 1e6) * 1e6) / 1e6
        |      AS DECIMAL(28,6)) END) AS DOUBLE) AS psi,
        |  CAST(SUM(CASE WHEN n_old > 0 AND n_new > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_used,
        |  CAST(SUM(CASE WHEN n_old > 0 AND n_new > 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_buckets_skipped,
        |  CAST(MAX(tot_old) AS BIGINT) AS tot_old,
        |  CAST(MAX(tot_new) AS BIGINT) AS tot_new
        |FROM p""".stripMargin)),

    QueryDef("data_drift_ks", (s, d) =>
      Drift.ksStatistic(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new"),
      // Exact two-sample KS: ECDFs over the distinct-value relation,
      // quotients of exact integer counts, argmax with the min-value
      // tie-break (ORDER BY replays the engine's struct-max).
      Oracle("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (
        |  SELECT value,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old_v,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new_v
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old_v) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new_v) AS BIGINT) AS tot_new
        |  FROM pv),
        |c AS (
        |  SELECT value,
        |    SUM(n_old_v) OVER (ORDER BY value) AS cum_old,
        |    SUM(n_new_v) OVER (ORDER BY value) AS cum_new
        |  FROM pv),
        |d AS (
        |  SELECT value,
        |    ABS(cum_old / CAST(CASE WHEN tot_old > 0 THEN tot_old END AS DOUBLE)
        |      - cum_new / CAST(CASE WHEN tot_new > 0 THEN tot_new END AS DOUBLE)) AS d_abs,
        |    tot_old, tot_new
        |  FROM c, tot)
        |SELECT d_abs AS d_stat, value AS at_value,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pv) AS n_distinct_values,
        |  tot_old AS n_old, tot_new AS n_new
        |FROM d ORDER BY d_abs DESC, value LIMIT 1""".stripMargin)),

    // Cramer-von Mises over the same split: the whole-curve squared
    // EDF gap next to KS's worst single point — catches spread/tail
    // drift KS misses.
    QueryDef("data_drift_cvm", (s, d) =>
      Drift.cvmStatistic(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new"),
      // Drift.cvmStatistic mirrored: same distinct counts + cumulative
      // window, gridded squared gaps times exact decimal weights, the
      // identical n*m/(n+m)^2 panel factor.
      Oracle("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (
        |  SELECT value,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old_v,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new_v
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old_v) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new_v) AS BIGINT) AS tot_new,
        |         CAST(COUNT(*) AS BIGINT) AS nd
        |  FROM pv),
        |c AS (
        |  SELECT value, n_old_v, n_new_v,
        |    SUM(n_old_v) OVER (ORDER BY value) AS cum_old,
        |    SUM(n_new_v) OVER (ORDER BY value) AS cum_new
        |  FROM pv),
        |dd AS (
        |  SELECT n_old_v, n_new_v,
        |    cum_old / CAST(CASE WHEN tot_old > 0 THEN tot_old END AS DOUBLE)
        |      - cum_new / CAST(CASE WHEN tot_new > 0 THEN tot_new END AS DOUBLE) AS d,
        |    tot_old, tot_new, nd
        |  FROM c, tot),
        |ag AS (
        |  SELECT SUM(CAST(n_old_v + n_new_v AS DECIMAL(19,0))
        |      * CAST(FLOOR(d * d * 1e6) / 1e6 AS DECIMAL(28,6))) AS s,
        |    MAX(tot_old) AS n_old, MAX(tot_new) AS n_new, MAX(nd) AS nd
        |  FROM dd)
        |SELECT
        |  CAST(s AS DOUBLE) * (CAST(n_old AS DOUBLE) * CAST(n_new AS DOUBLE)
        |    / ((CAST(n_old AS DOUBLE) + CAST(n_new AS DOUBLE))
        |      * (CAST(n_old AS DOUBLE) + CAST(n_new AS DOUBLE)))) AS cvm_stat,
        |  CAST(s AS DOUBLE) AS sum_sq_weighted,
        |  nd AS n_distinct_values, n_old, n_new
        |FROM ag""".stripMargin)),

    // Wasserstein-1 drift over the same old/new snapshot split —
    // "how much mass moved how far" next to KS's worst-point gap;
    // ECDF differences integrated over the value axis via the same
    // distributed prefix sum plus a rank->rank+1 self-join (never a
    // global LEAD window).
    // Vector-tier drift gate: unbiased polynomial-kernel MMD² between
    // the even- and odd-label embedding populations (deterministic
    // 200-per-side sample; the scalar histograms cannot see a vector
    // distribution rotate).
    QueryDef("data_drift_mmd", (s, d) =>
      Drift.mmdPolynomial(
        t(s, d, "embeddings").withColumn("is_new", pmod(col("label"), lit(2)) === 1),
        "vec_id", "embedding", "is_new"),
      // MMD²: the proven list_reduce dot fold, explicit (1+d/l)² multiply
      // (no POW), 1e-6 grid, DECIMAL(28,6) partials, edge divisions.
      Oracle({
        val dot = "list_reduce(list_prepend(0.0, list_transform(" +
          "list_zip(a.v, b.v), p -> p[1] * p[2])), (x, y) -> x + y)"
        val kterm = s"CAST(FLOOR((1.0 + ($dot) / len(a.v)) * " +
          s"(1.0 + ($dot) / len(a.v)) * 1e6) / 1e6 AS DECIMAL(28,6))"
        s"""WITH base AS (
          |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
          |    (label % 2 = 1) AS is_new
          |  FROM embeddings),
          |capped AS (
          |  SELECT id, v, is_new FROM (
          |    SELECT *, ROW_NUMBER() OVER (PARTITION BY is_new ORDER BY id) AS rn
          |    FROM base)
          |  WHERE rn <= 200),
          |cnt AS (
          |  SELECT CAST(SUM(CASE WHEN NOT is_new THEN 1 ELSE 0 END) AS BIGINT) AS m,
          |         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT) AS n
          |  FROM capped),
          |xx AS (
          |  SELECT SUM($kterm) AS sxx, COUNT(*) AS nxx
          |  FROM capped a JOIN capped b
          |    ON NOT a.is_new AND NOT b.is_new AND a.id <> b.id),
          |yy AS (
          |  SELECT SUM($kterm) AS syy, COUNT(*) AS nyy
          |  FROM capped a JOIN capped b
          |    ON a.is_new AND b.is_new AND a.id <> b.id),
          |xy AS (
          |  SELECT SUM($kterm) AS sxy, COUNT(*) AS nxy
          |  FROM capped a JOIN capped b ON NOT a.is_new AND b.is_new)
          |SELECT m, n,
          |  CAST(sxx AS DOUBLE) / nxx AS term_xx,
          |  CAST(syy AS DOUBLE) / nyy AS term_yy,
          |  CAST(sxy AS DOUBLE) / nxy AS term_xy,
          |  CAST(sxx AS DOUBLE) / nxx + CAST(syy AS DOUBLE) / nyy
          |    - 2.0 * (CAST(sxy AS DOUBLE) / nxy) AS mmd2
          |FROM cnt, xx, yy, xy""".stripMargin
      })),

    QueryDef("data_drift_wasserstein", (s, d) =>
      Drift.wassersteinW1(
        t(s, d, "events").filter(col("value").isNotNull)
          .withColumn("is_new",
            coalesce((to_date(col("ts")) > lit("2024-01-15")).cast("int"), lit(0))),
        "value", "is_new"),
      // W1 = sum over consecutive distinct values of |dECDF| * gap;
      // terms floor-quantize to the 1e-6 grid before DECIMAL(28,6)
      // partials (grid scale == decimal scale).
      Oracle("""WITH ev AS (
        |  SELECT value,
        |    CASE WHEN CAST(ts AS DATE) > DATE '2024-01-15' THEN 1 ELSE 0 END AS is_new
        |  FROM events WHERE value IS NOT NULL),
        |pv AS (
        |  SELECT value,
        |    CAST(SUM(1 - is_new) AS BIGINT) AS n_old_v,
        |    CAST(SUM(is_new) AS BIGINT) AS n_new_v
        |  FROM ev GROUP BY 1),
        |tot AS (
        |  SELECT CAST(SUM(n_old_v) AS BIGINT) AS tot_old,
        |         CAST(SUM(n_new_v) AS BIGINT) AS tot_new,
        |         CAST(COUNT(*) AS BIGINT) AS n_distinct_values
        |  FROM pv),
        |c AS (
        |  SELECT value,
        |    SUM(n_old_v) OVER (ORDER BY value) AS cum_old,
        |    SUM(n_new_v) OVER (ORDER BY value) AS cum_new,
        |    LEAD(value) OVER (ORDER BY value) AS next_value
        |  FROM pv),
        |terms AS (
        |  SELECT CAST(FLOOR(ABS(
        |      cum_old / CAST(CASE WHEN tot_old > 0 THEN tot_old END AS DOUBLE)
        |      - cum_new / CAST(CASE WHEN tot_new > 0 THEN tot_new END AS DOUBLE))
        |    * (next_value - value) * 1e6) / 1e6 AS DECIMAL(28,6)) AS contrib
        |  FROM c, tot WHERE next_value IS NOT NULL)
        |SELECT
        |  CAST(CASE WHEN tot_old > 0 AND tot_new > 0
        |    THEN COALESCE((SELECT SUM(contrib) FROM terms), CAST(0 AS DECIMAL(28,6)))
        |    END AS DOUBLE) AS w1_distance,
        |  n_distinct_values, tot_old AS n_old, tot_new AS n_new
        |FROM tot""".stripMargin)),

    // Benford first-digit audit over the monetary measure — the
    // fabricated-data screen, log-free (CASE-ladder scale, literal
    // expected shares).
    QueryDef("audit_benford_digits", (s, d) =>
      Audit.benfordDigits(t(s, d, "events"), "value"),
      // CASE-ladder first digit (no log10/pow — the libm rule), VALUES
      // literals for the Benford shares, grid-quantized χ² total.
      Oracle("""WITH vv AS (
        |  SELECT ABS(CAST(value AS DOUBLE)) AS v FROM events
        |  WHERE value IS NOT NULL AND ABS(CAST(value AS DOUBLE)) > 0),
        |s AS (
        |  SELECT v, CASE
        |    WHEN v >= 1e8 THEN 1e8 WHEN v >= 1e7 THEN 1e7 WHEN v >= 1e6 THEN 1e6
        |    WHEN v >= 1e5 THEN 1e5 WHEN v >= 1e4 THEN 1e4 WHEN v >= 1e3 THEN 1e3
        |    WHEN v >= 1e2 THEN 1e2 WHEN v >= 1e1 THEN 1e1 WHEN v >= 1e0 THEN 1e0
        |    WHEN v >= 1e-1 THEN 1e-1 WHEN v >= 1e-2 THEN 1e-2 WHEN v >= 1e-3 THEN 1e-3
        |    WHEN v >= 1e-4 THEN 1e-4 WHEN v >= 1e-5 THEN 1e-5 WHEN v >= 1e-6 THEN 1e-6
        |    END AS scale
        |  FROM vv),
        |c AS (
        |  SELECT CAST(FLOOR(v / scale) AS INTEGER) AS digit,
        |         CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM s GROUP BY 1 HAVING digit BETWEEN 1 AND 9),
        |tot AS (SELECT CAST(SUM(n_obs) AS BIGINT) AS t FROM c),
        |e AS (SELECT * FROM (VALUES
        |  (1, 0.30102999566398120), (2, 0.17609125905568124), (3, 0.12493873660829992),
        |  (4, 0.09691001300805642), (5, 0.07918124604762482), (6, 0.06694678963061322),
        |  (7, 0.05799194697768673), (8, 0.05115252244738129), (9, 0.04575749056067514))
        |  AS t(digit, exp_share)),
        |p AS (
        |  SELECT digit, n_obs,
        |    n_obs / CAST(t AS DOUBLE) AS obs_share, exp_share,
        |    (n_obs / CAST(t AS DOUBLE) - exp_share)
        |      * (n_obs / CAST(t AS DOUBLE) - exp_share) / exp_share AS chi2_term
        |  FROM c JOIN e USING (digit), tot),
        |tt AS (
        |  SELECT CAST(SUM(CAST(floor(chi2_term * 1e6) / 1e6 AS DECIMAL(28,6))) AS DOUBLE)
        |    AS chi2_total FROM p)
        |SELECT digit, n_obs, obs_share, exp_share, chi2_term, chi2_total
        |FROM p, tt""".stripMargin)),

    // Joint-distribution heatmap panel: 10x10 equi-width cells over
    // (quantity, price) with exact-count shares.
    QueryDef("table_histogram_2d", (s, d) =>
      Profiling.histogram2d(t(s, d, "lineitem"),
        "l_quantity", "l_extendedprice", kx = 10, ky = 10),
      // Both bucket rules replay data_drift_value's 1-D formula per
      // axis; shares are exact-count quotients.
      Oracle("""WITH rows_ AS (
        |  SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
        |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
        |b AS (SELECT MIN(x) AS xmn, MAX(x) AS xmx, MIN(y) AS ymn, MAX(y) AS ymx
        |      FROM rows_),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM rows_),
        |k AS (
        |  SELECT
        |    CASE WHEN xmx = xmn THEN 0
        |         ELSE LEAST(9, CAST(FLOOR((x - xmn) / ((xmx - xmn) / 10)) AS INTEGER)) END AS bucket_x,
        |    CASE WHEN ymx = ymn THEN 0
        |         ELSE LEAST(9, CAST(FLOOR((y - ymn) / ((ymx - ymn) / 10)) AS INTEGER)) END AS bucket_y,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows
        |  FROM rows_, b GROUP BY 1, 2)
        |SELECT bucket_x, bucket_y, n_rows,
        |  n_rows / CAST(t AS DOUBLE) AS share
        |FROM k, tot""".stripMargin)),

    // Incremental aggregate maintenance: the stored rollup absorbs a
    // new batch's partial aggregate by grain-keyed summation
    // (Merge.mergeAggregate) — always-fresh rollups without ever
    // re-scanning history. The oracle recomputes from ALL rows:
    // equality IS the mergeability proof.
    QueryDef("gold_agg_incremental", (s, d) => {
      val ev = t(s, d, "events")
      def partial(df: DataFrame): DataFrame = df
        .groupBy(upper(trim(col("event_type"))).as("event_type_norm"),
          to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n_events"), sum(money(col("value"))).as("__sum"))
      val stored = partial(ev.filter(to_date(col("ts")) <= lit("2024-01-15")))
      val batch = partial(ev.filter(to_date(col("ts")) > lit("2024-01-15")))
      Merge.mergeAggregate(stored, batch, Seq("event_type_norm", "day"))
        .select(col("event_type_norm"), col("day"), col("n_events"),
          coalesce(round(col("__sum"), 2), lit(0)).cast("double").as("value_sum"))
    },
      // The merged rollup must equal a recompute over ALL rows — the
      // mergeability contract of Merge.mergeAggregate.
      Oracle("""SELECT UPPER(TRIM(event_type)) AS event_type_norm,
        |  CAST(ts AS DATE) AS day,
        |  COUNT(*) AS n_events,
        |  CAST(COALESCE(ROUND(SUM(CAST(value AS DECIMAL(18,2))), 2), 0) AS DOUBLE) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin))
  )
}
