package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.Kernels.floorGrid

/** Distribution profiling — the ANALYZE-style statistics a lake load
  * publishes next to row counts (reference: build_catalog.py's row
  * accounting, widened to value distributions; the scalar-stats twin
  * is `table_profile_events`, the constant-memory one `sketch_profile`).
  */
object Profiling {

  /** Equi-width histogram of a numeric column in two passes: a 1-row
    * min/max aggregate broadcast over the scan, the bucket index
    * computed by pure arithmetic — `floor((v - mn) / ((mx - mn) / k))`
    * clamped so `v == mx` lands in the last bucket — then one
    * partial-aggregable shuffle on ≤ k bucket keys. Every op is
    * engine-exact (IEEE subtract/divide/floor), so an oracle replays
    * the exact bucket assignment; no sampling, no sketch.
    *
    * A degenerate column (mx == mn) collapses into bucket 0 instead
    * of dividing by zero.
    */
  def histogram(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 1, s"histogram needs at least one bucket: $k")
    val v = col(valueCol)
    val rows = df.filter(v.isNotNull)
    val bounds = rows.agg(min(v).as("mn"), max(v).as("mx"))
    val width = (col("mx") - col("mn")) / k
    val bucket = when(col("mx") === col("mn"), lit(0))
      .otherwise(least(lit(k - 1), floor((v - col("mn")) / width).cast("int")))
    rows.crossJoin(broadcast(bounds))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(v).as("bucket_min"), max(v).as("bucket_max"))
  }

  /** Equi-DEPTH histogram: bucket boundaries are exact quantiles, so
    * each bucket holds ~n/k rows regardless of skew — the histogram
    * an optimizer or drift monitor actually wants on a heavy-tailed
    * column, where equi-width piles everything into one bar. Bucket
    * index = how many thresholds the value exceeds (ties fall low).
    *
    * Scale shape: thresholds come from [[exactQuantilesBy]] (the
    * two-phase rank-bracket plan — Spark's exact `percentile`
    * aggregate would merge the whole value→count map in ONE final
    * task, O(distinct) memory in a single JVM on a near-unique
    * column), pivoted to a 1-row broadcast panel, then the same
    * ≤ k-key partial-agg shuffle as the equi-width pass. The
    * probabilities j/k must be exact binary doubles for oracle parity
    * — k a power of two keeps them exact.
    */
  def histogramEquiDepth(df: DataFrame, valueCol: String, k: Int): DataFrame = {
    require(k >= 2, s"equi-depth histogram needs at least two buckets: $k")
    val v = col(valueCol)
    val rows = df.filter(v.isNotNull)
    val q = exactQuantilesBy(rows.select(v.as("__ev")), Seq.empty, "__ev",
      (1 until k).map(_.toDouble / k))
    // k−1 rows → one 1-row threshold panel (exact-double quantile keys)
    val thrCols = (1 until k).map(j =>
      max(when(col("quantile") === lit(j.toDouble / k), col("value"))).as(s"__t$j"))
    val thr = q.agg(thrCols.head, thrCols.tail: _*)
    val bucket = (1 until k).map(j => when(v > col(s"__t$j"), 1).otherwise(0))
      .reduce(_ + _)
    rows.crossJoin(broadcast(thr))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min(v).as("bucket_min"), max(v).as("bucket_max"))
  }

  /** Pairwise Pearson correlation over `cols` in ONE pass: every
    * moment (Σx, Σx², Σxy for all pairs) is an exact DECIMAL partial
    * in a single map-side-combined aggregate — one scan, one 1-row
    * exchange — then each pair's correlation assembles from the
    * single-division variance identity (the `anomaly_zscore`
    * convention: DECIMAL partials are order-free across 1000
    * executors, the final CAST-to-DOUBLE ops are a fixed IEEE
    * sequence any engine replays bit-for-bit; sqrt is correctly
    * rounded by IEEE 754 everywhere). Rows with a NULL in any
    * profiled column are excluded — every pair sees the same n, so
    * the matrix is comparable cell-to-cell. A zero-variance column
    * yields NULL correlations (NULLIF guard), never a division error.
    *
    * The pair expansion happens on the aggregated 1-row frame
    * (k·(k−1)/2 struct literals + one explode) — the fact table is
    * never touched again.
    */
  def corrPairs(df: DataFrame, cols: Seq[String],
                rowPrecision: Int = 18): DataFrame = {
    require(cols.size >= 2, s"corrPairs needs at least two columns: $cols")
    require(rowPrecision >= 13 && rowPrecision <= 38,
      s"rowPrecision=$rowPrecision out of range [13,38]")
    val rows = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    // The default precision 18 keeps every PER-ROW decimal in Spark's
    // compact long-backed representation (precision > 18 switches
    // Decimal to its BigDecimal path on every one of the moment
    // columns); the SUM accumulator widens by 10 digits on its own,
    // so totals never overflow. Row values (x, x², xy) must fit
    // rowPrecision−6 integer digits — at the default that is any
    // measure up to |v| < 10⁶; columns beyond that (an overflow is
    // LOUD under ANSI, never silent) pass rowPrecision = 28.
    // The per-row double→decimal casts are the aggregate's dominant
    // cost (the builtin routes through Double.toString + BigDecimal);
    // the kernel cast is bit-identical and ~4× cheaper — see
    // DecimalKernels. Inputs go through one explicit double cast so
    // the kernel always sees DoubleType (a no-op for double columns).
    def dec(c: org.apache.spark.sql.Column) =
      graft.expressions.Kernels.toDecimal(c.cast("double"), rowPrecision, 6)
    val moments =
      Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(dec(col(c))).as(s"s1_$c")) ++
      cols.map(c => sum(dec(col(c) * col(c))).as(s"s2_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        sum(dec(col(a) * col(b))).as(s"sp_${a}_$b") }
    val agg = rows.agg(moments.head, moments.tail: _*)
    def d(name: String) = col(name).cast("double")
    val pairStructs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      val cov = d(s"sp_${a}_$b") - d(s"s1_$a") * d(s"s1_$b") / col("n")
      val sdA = sqrt(d(s"s2_$a") - d(s"s1_$a") * d(s"s1_$a") / col("n"))
      val sdB = sqrt(d(s"s2_$b") - d(s"s1_$b") * d(s"s1_$b") / col("n"))
      val denom = sdA * sdB
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        (cov / when(denom === 0, lit(null)).otherwise(denom)).as("corr"))
    }
    agg.select(col("n"), explode(array(pairStructs: _*)).as("p"))
      .select(col("p.col_x"), col("p.col_y"), col("n"), col("p.corr"))
  }

  /** Exact quantile profile — the ANALYZE-style five-point summary
    * (p25/p50/p75/p90/p99) per numeric column, as a DISTRIBUTED rank
    * computation rather than Spark's `percentile` aggregate: the
    * built-in exact percentile buffers a value→count map per
    * aggregate and merges every map in ONE final task — O(distinct)
    * memory in a single JVM, which a near-unique double column turns
    * into the whole corpus at 100 TB. Here instead: unpivot to
    * (column, value), exact distinct-value counts (one shuffled
    * groupBy, map-side combined), a two-phase [[PrefixSum]] over the
    * composite (column, value) order for cumulative counts, then the
    * ≤ cols×5 target ranks broadcast against the value rows that
    * bracket them. Interpolation mirrors `percentile` /
    * `quantile_cont` exactly: position `p·(n−1)`, value
    * `(hi−pos)·v_lo + (pos−lo)·v_hi` — so the established oracle
    * parity carries over bit-wise.
    *
    * Scale shape: one scan, one distinct-count shuffle (∝ distinct
    * values, fully parallel), the PrefixSum range exchange, and
    * broadcast panel joins; no task ever holds more than its range
    * slice. Output is columns × 5 rows.
    */
  def quantileProfile(df: DataFrame, cols: Seq[String],
                      nRangeParts: Int = 32): DataFrame = {
    require(cols.nonEmpty, "quantileProfile needs at least one column")
    val ps = Seq(0.25, 0.5, 0.75, 0.9, 0.99)
    val long = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(col("e.column_name"), col("e.v"))
      .filter(col("v").isNotNull)
    exactQuantilesBy(long, Seq("column_name"), "v", ps, nRangeParts)
  }

  /** Grouped EXACT quantiles as a DISTRIBUTED rank computation — the
    * general form of [[quantileProfile]]'s machinery, and the
    * scale-safe replacement for `percentile(...)` under `groupBy`
    * whenever the value column is near-unique: Spark's exact
    * percentile buffers a value→count map PER GROUP and merges each
    * group's map in one reducer, so a near-unique double column makes
    * the largest group's whole membership sit in a single JVM.
    *
    * Plan instead: exact distinct-(group, value) counts (one shuffled
    * groupBy, map-side combined), a two-phase [[PrefixSum]] over the
    * composite (group…, value) order, a ≤ groups-row totals panel
    * whose triangular self-join (struct-lexicographic, matching the
    * range partitioner's composite order) rebases the global prefix
    * to a within-group cumulative, then the groups × ps target-rank
    * panel broadcast against the value rows that bracket each rank.
    * Interpolation is bit-identical to Spark `percentile` / DuckDB
    * `quantile_cont`: position `p·(n−1)`, value
    * `(hi−pos)·v_lo + (pos−lo)·v_hi`.
    *
    * The rank panel is groups × ps rows and is BROADCAST — callers
    * must have a bounded group domain (k clusters, profiled columns,
    * one global group). `groupCols` may be empty for a whole-relation
    * quantile. Output: groupCols…, `quantile`, `value`; NULL values
    * are excluded before ranking (the `percentile` convention).
    */
  def exactQuantilesBy(df: DataFrame, groupCols: Seq[String], valueCol: String,
                       ps: Seq[Double], nRangeParts: Int = 32): DataFrame = {
    require(ps.nonEmpty, "exactQuantilesBy needs at least one probability")
    require(ps.forall(p => p >= 0 && p <= 1), s"probabilities outside [0,1]: $ps")
    val gs = if (groupCols.isEmpty) Seq("__g") else groupCols
    val in0 = if (groupCols.isEmpty) df.withColumn("__g", lit(0)) else df
    val long = in0.select(gs.map(col) :+ col(valueCol).cast("double").as("__v"): _*)
      .filter(col("__v").isNotNull)
    // eager checkpoint: three consumers follow (the range partitioner's
    // SAMPLE job, the actual repartition, and the totals panel) — without
    // it the full input lineage executes once per consumer
    val counts = long.groupBy(gs.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("cnt"))
      .ckptPartitioned()
    val out = quantilesFromCounts(counts, gs, ps, nRangeParts)
    if (groupCols.isEmpty) out.drop("__g") else out
  }

  /** Rank-bracket quantiles from a PRE-AGGREGATED distinct-value
    * count relation `(groupCols…, __v, cnt)` — the shared tail of
    * [[exactQuantilesBy]], exposed so a caller that already needs the
    * distinct counts for its own aggregation (e.g. [[outlierFences]],
    * whose tail counts are Σ cnt over the same relation) pays the
    * distinct shuffle ONCE and never materializes raw unpivoted rows.
    * `counts` must be distinct on (groupCols…, __v) and already
    * materialized (checkpointed) — three consumers follow (the range
    * partitioner's sample job, the repartition, the totals panel).
    */
  private[graft] def quantilesFromCounts(counts: DataFrame, gs: Seq[String],
                                         ps: Seq[Double],
                                         nRangeParts: Int): DataFrame = {
    // global cumulative counts in (group…, value) order; unique
    // composite key by construction (post-distinct)
    val pref = PrefixSum.globalOrdered(counts,
      gs.map(col) :+ col("__v"), "cnt", nRangeParts)
    // ≤ #groups-row totals panel; base_g = Σ n over groups sorting
    // before g rebases the global prefix to a within-group cumulative
    // (triangular panel self-join — windowless by design)
    val totals = counts.groupBy(gs.map(col): _*).agg(sum("cnt").as("n"))
      .localCheckpoint(false)
    val bases = totals.as("a").join(totals.as("b"),
        struct(gs.map(c => col(s"b.$c")): _*) < struct(gs.map(c => col(s"a.$c")): _*),
        "left")
      .groupBy(gs.map(c => col(s"a.$c").as(c)) :+ col("a.n").as("n"): _*)
      .agg(coalesce(sum(col("b.n")), lit(0L)).as("base"))
    val qpanel = bases.select(gs.map(col) ++ Seq(col("n"), col("base"),
        explode(array(ps.map(lit(_)): _*)).as("quantile")): _*)
      .withColumn("pos", col("quantile") * (col("n") - 1).cast("double"))
      .withColumn("lo", floor(col("pos")).cast("long"))
      .withColumn("hi", ceil(col("pos")).cast("long"))
    // a value row covers 0-based sorted index i iff cum_prev <= i < cum
    val loHit = col("cum_prev") <= col("lo") && col("lo") < col("cum")
    val hiHit = col("cum_prev") <= col("hi") && col("hi") < col("cum")
    pref.join(broadcast(qpanel), gs)
      .withColumn("cum", col("prefix_sum") - col("base"))
      .withColumn("cum_prev", col("cum") - col("cnt"))
      .filter(loHit || hiHit)
      .groupBy(gs.map(col) ++ Seq(col("quantile"), col("pos"), col("lo"), col("hi")): _*)
      .agg(max(when(loHit, col("__v"))).as("v_lo"),
           max(when(hiHit, col("__v"))).as("v_hi"))
      .select(gs.map(col) ++ Seq(col("quantile"),
        when(col("lo") === col("hi"), col("v_lo"))
          .otherwise((col("hi").cast("double") - col("pos")) * col("v_lo") +
                     (col("pos") - col("lo").cast("double")) * col("v_hi"))
          .as("value")): _*)
  }

  /** HLL cardinality accuracy panel — the distinct-count twin of
    * [[quantileSketchError]]'s evidence pattern: per column the EXACT
    * distinct count next to the HyperLogLog estimate, the relative
    * error, and whether it sits inside the 3σ envelope
    * (σ = 1.04/√2^lgK — Flajolet et al.'s published bound). When the
    * panel is green, every downstream profile can take the one-pass
    * mergeable sketch (sketch_profile / the E19 streaming sink)
    * instead of the Expand-shuffle exact distinct.
    *
    * One exact-distinct pass and one sketch pass per declared column;
    * sketch state is traversal-order-dependent → rows-only by the
    * §5.1 sketch rule (the spec pins the envelope).
    */
  def hllErrorPanel(df: DataFrame, cols: Seq[String],
                    lgK: Int = 12): DataFrame = {
    require(cols.nonEmpty && lgK >= 4 && lgK <= 21, s"bad args: $cols lgK=$lgK")
    val sigma = 1.04 / math.sqrt(math.pow(2.0, lgK))
    cols.map { c =>
      df.filter(col(c).isNotNull)
        .agg(countDistinct(col(c)).as("exact_distinct"),
          // hll_sketch_estimate returns LONG (the rounded estimate)
          hll_sketch_estimate(
            hll_sketch_agg(col(c).cast("string"), lit(lgK)))
            .cast("long").as("hll_estimate"))
        .select(lit(c).as("column_name"), col("exact_distinct"),
          col("hll_estimate"),
          when(col("exact_distinct") > 0,
            col("hll_estimate").cast("double")
              / col("exact_distinct").cast("double") - 1.0)
            .as("rel_error"))
        .withColumn("within_3sigma", abs(col("rel_error")) <= lit(3.0 * sigma))
    }.reduce(_ unionByName _)
  }

  /** Quantile-SKETCH accuracy panel — the evidence that justifies
    * replacing exact quantiles with `percentile_approx` at 100 TB:
    * for each probability, the sketch's answer, the exact
    * rank-bracket answer, and the sketch value's EMPIRICAL rank
    * error |F(approx) − p| measured against the data itself (the
    * guarantee percentile_approx actually makes is on rank, not on
    * value distance). `within_bound` checks the documented 1/accuracy
    * envelope. Run it once per table profile; if the panel is green,
    * every downstream profile can take the single-pass mergeable
    * sketch instead of the exact two-phase machinery.
    *
    * Scale shape: one partial-agg sketch pass, one exact-quantile
    * pass (two-phase, no single-reducer sort), one conditional-agg
    * pass against the ≤|ps|-row broadcast threshold panel. Sketch
    * internals are traversal-order-dependent → rows-only by the
    * declared §5.1 sketch rule (this suite pins the bound instead).
    */
  def quantileSketchError(df: DataFrame, valueCol: String,
                          ps: Seq[Double], accuracy: Int): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"probabilities outside (0,1): $ps")
    require(accuracy >= 10, s"accuracy=$accuracy too loose to be useful")
    val base = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
      .localCheckpoint(false)
    val psArr = array(ps.map(lit(_)): _*)
    val approx = base
      .agg(percentile_approx(col("__v"), psArr, lit(accuracy)).as("__qs"))
      .select(posexplode(col("__qs")).as(Seq("__i", "approx_value")))
      .withColumn("quantile", element_at(psArr, col("__i") + 1))
      .drop("__i")
    val exact = exactQuantilesBy(base, Seq.empty, "__v", ps)
      .select(col("quantile"), col("value").as("exact_value"))
    val panel = approx.join(exact, Seq("quantile")).ckptPartitioned()
    base.crossJoin(broadcast(panel))
      .groupBy(col("quantile"), col("approx_value"), col("exact_value"))
      .agg((sum(when(col("__v") <= col("approx_value"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("empirical_rank"))
      .withColumn("rank_error", abs(col("empirical_rank") - col("quantile")))
      // +1e-9: |1.0 − 0.99| lands one double quantum ABOVE 0.01 — the
      // epsilon keeps an exactly-at-the-envelope sketch green without
      // admitting any real breach (the guarantee is inclusive)
      .withColumn("within_bound",
        col("rank_error") <= lit(1.0 / accuracy) + lit(1e-9))
  }

  /** Tukey-fence outlier audit per numeric column — exact q1/q3,
    * IQR, the lo/hi fences at `whisker`×IQR and how many rows sit
    * outside each: the ANALYZE companion to [[quantileProfile]] that
    * answers "is this column's tail junk or signal" before a
    * winsorize/clip decision.
    *
    * Scale shape: ONE scan and ONE distinct-count shuffle feed BOTH
    * halves — the quartiles ride [[quantilesFromCounts]]' two-phase
    * rank brackets over the checkpointed (column, value, cnt)
    * relation (never the builtin percentile's single-reducer value
    * map), and the tail counts are Σ cnt over the SAME relation, so
    * the raw unpivoted rows are never materialized. The ≤-cols fence
    * panel broadcasts back; fence arithmetic is a fixed IEEE sequence
    * (`iqr = q3 − q1`, `lo = q1 − w·iqr`, `hi = q3 + w·iqr`) an
    * oracle replays exactly.
    */
  def outlierFences(df: DataFrame, cols: Seq[String], whisker: Double = 1.5,
                    nRangeParts: Int = 32): DataFrame = {
    require(cols.nonEmpty, "outlierFences needs at least one column")
    val counts = df.select(explode(array(cols.map(c =>
        struct(lit(c).as("column_name"), col(c).cast("double").as("v"))): _*)).as("e"))
      .select(col("e.column_name"), col("e.v").as("__v"))
      .filter(col("__v").isNotNull)
      .groupBy(col("column_name"), col("__v"))
      .agg(count(lit(1)).as("cnt"))
      .ckptPartitioned()
    val fences = quantilesFromCounts(counts, Seq("column_name"),
        Seq(0.25, 0.75), nRangeParts)
      .groupBy("column_name")
      .agg(max(when(col("quantile") === 0.25, col("value"))).as("q1"),
           max(when(col("quantile") === 0.75, col("value"))).as("q3"))
      .withColumn("iqr", col("q3") - col("q1"))
      .withColumn("fence_lo", col("q1") - lit(whisker) * col("iqr"))
      .withColumn("fence_hi", col("q3") + lit(whisker) * col("iqr"))
    counts.join(broadcast(fences), "column_name")
      .groupBy(col("column_name"), col("q1"), col("q3"), col("iqr"),
        col("fence_lo"), col("fence_hi"))
      .agg(sum(col("cnt")).as("n"),
        sum(when(col("__v") < col("fence_lo"), col("cnt")).otherwise(0L)).as("n_below"),
        sum(when(col("__v") > col("fence_hi"), col("cnt")).otherwise(0L)).as("n_above"))
      .withColumn("pct_outliers",
        round(lit(100.0) * (col("n_below") + col("n_above")) / col("n"), 4))
  }

  /** First-order PARTIAL correlation — the linear association of x
    * and y with a confounder z held fixed:
    * `ρ_xy·z = (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²))` — the
    * statistic that says whether an observed pairwise correlation
    * survives controlling for the obvious third variable (the
    * classic "quantity correlates with tax… through price" audit).
    * Reports the three raw Pearson r's next to the partial so the
    * collapse (or survival) is visible.
    *
    * Scale shape: the [[corrPairs]] discipline exactly — ONE scan, 9
    * decimal moment partials map-side combined to a 1-row panel,
    * then fixed-order IEEE panel math. Degenerate cases (a constant
    * column, |r_xz| = 1) surface as NULL via the NULLIF convention.
    */
  def partialCorr(df: DataFrame, xCol: String, yCol: String,
                  zCol: String, rowPrecision: Int = 18): DataFrame = {
    val cols = Seq(xCol, yCol, zCol)
    require(cols.distinct.size == 3, s"need three distinct columns: $cols")
    val rows = df.filter(cols.map(col(_).isNotNull).reduce(_ && _))
    def dec(c: org.apache.spark.sql.Column) =
      graft.expressions.Kernels.toDecimal(c.cast("double"), rowPrecision, 6)
    val moments =
      Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(dec(col(c))).as(s"s1_$c")) ++
      cols.map(c => sum(dec(col(c) * col(c))).as(s"s2_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        sum(dec(col(a) * col(b))).as(s"sp_${a}_$b") }
    val agg = rows.agg(moments.head, moments.tail: _*)
    def d(name: String) = col(name).cast("double")
    def r(a: String, b: String): Column = {
      val sp = if (cols.indexOf(a) < cols.indexOf(b)) s"sp_${a}_$b" else s"sp_${b}_$a"
      val cov = d(sp) - d(s"s1_$a") * d(s"s1_$b") / col("n")
      val denom = sqrt(d(s"s2_$a") - d(s"s1_$a") * d(s"s1_$a") / col("n")) *
        sqrt(d(s"s2_$b") - d(s"s1_$b") * d(s"s1_$b") / col("n"))
      cov / when(denom === 0, lit(null)).otherwise(denom)
    }
    val (rxy, rxz, ryz) = (r(xCol, yCol), r(xCol, zCol), r(yCol, zCol))
    val pden = sqrt((lit(1.0) - rxz * rxz) * (lit(1.0) - ryz * ryz))
    agg.select(lit(xCol).as("col_x"), lit(yCol).as("col_y"),
      lit(zCol).as("col_given"), col("n"),
      rxy.as("r_xy"), rxz.as("r_xz"), ryz.as("r_yz"),
      ((rxy - rxz * ryz) /
        when(pden === 0.0, lit(null)).otherwise(pden)).as("partial_corr"))
  }

  /** Missingness co-occurrence audit: for every column pair, do NULLs
    * arrive TOGETHER or independently — the φ (Pearson on the 2×2
    * null-indicator table) per pair, next to [[corrPairs]]' value
    * correlation: correlated missingness is a pipeline fingerprint
    * (one upstream failure nulls a whole column group; MCAR data
    * shows φ ≈ 0), and it decides whether imputation can treat
    * columns independently. Emits per pair the row count, each side's
    * null count, the both-null count and φ (NULL when either column
    * never/always nulls — a constant indicator has no correlation).
    *
    * Scale shape: ONE scan, integer `sum(case)` moments per column +
    * pair (map-side combined to a 1-row panel), the pair expansion on
    * the panel — the corrPairs discipline with exact-long moments,
    * one fixed-order IEEE expression per pair at the edge.
    */
  def missingnessPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"missingnessPairs needs at least two columns: $cols")
    def ind(c: String) = when(col(c).isNull, 1L).otherwise(0L)
    val moments =
      Seq(count(lit(1)).as("n")) ++
      cols.map(c => sum(ind(c)).as(s"nn_$c")) ++
      cols.combinations(2).toSeq.map { case Seq(a, b) =>
        sum(ind(a) * ind(b)).as(s"nb_${a}_$b") }
    val agg = df.agg(moments.head, moments.tail: _*)
    def d(c: Column) = c.cast("double")
    val pairStructs = cols.combinations(2).toSeq.map { case Seq(a, b) =>
      val na = col(s"nn_$a"); val nb = col(s"nn_$b"); val n11 = col(s"nb_${a}_$b")
      val denom = sqrt(d(na) * d(col("n") - na) * d(nb) * d(col("n") - nb))
      val phi = (d(col("n")) * d(n11) - d(na) * d(nb)) /
        when(denom === 0, lit(null)).otherwise(denom)
      struct(lit(a).as("col_x"), lit(b).as("col_y"),
        na.as("n_null_x"), nb.as("n_null_y"), n11.as("n_both_null"),
        phi.as("phi"))
    }
    agg.select(col("n"), explode(array(pairStructs: _*)).as("p"))
      .select(col("p.col_x"), col("p.col_y"), col("n"),
        col("p.n_null_x"), col("p.n_null_y"), col("p.n_both_null"), col("p.phi"))
  }

  /** 2-D equi-width histogram — the joint-distribution panel behind a
    * heatmap or a 2-column drift monitor (the 1-D [[histogram]]'s
    * product shape): kx × ky buckets over the observed [min,max] of
    * each column, count + share per occupied cell.
    *
    * Scale shape: ONE bounds pass for both columns (a 1-row panel),
    * then one ≤kx·ky-key partial-agg shuffle — identical cost class
    * to the 1-D pass. The share is an exact-long/exact-long single
    * divide; nothing needs decimal machinery.
    */
  /** Mutual-information panel between two categorical columns — the
    * dependence audit next to [[corrPairs]]' linear correlation (which
    * is blind to categorical association): per observed (x,y) cell,
    * its counts, both marginals, the pointwise MI
    * `ln(n_xy·N / (n_x·n_y))` and the cell's MI contribution
    * `(n_xy/N)·pmi`. `Σ mi_term` over the panel is the table's MI;
    * the flat per-cell grain keeps the output hashable and lets a
    * consumer see WHICH cells carry the dependence.
    *
    * Scale shape: one fact-sized partial-agg shuffle to the (x,y)
    * panel; marginals and the total derive from that collapsed panel
    * (categories²-bounded). Engine parity: counts and count products
    * exact; per cell one IEEE division + `ln`, §5 grid-quantized, and
    * the mi_term product re-quantized so both factors are grid points.
    */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val xy = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("n_xy"))
      .ckptPartitioned()
    val nx = xy.groupBy(col("x")).agg(sum(col("n_xy")).as("n_x"))
    val ny = xy.groupBy(col("y")).agg(sum(col("n_xy")).as("n_y"))
    val nt = xy.agg(sum(col("n_xy")).as("n"))
    val pmi = floor(log((col("n_xy") * col("n")).cast("double") /
      (col("n_x") * col("n_y")).cast("double")) * lit(1e4)) / lit(1e4)
    xy.join(nx, "x").join(ny, "y").crossJoin(broadcast(nt))
      .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
        col("n"), pmi.as("pmi"))
      .withColumn("mi_term",
        floor((col("n_xy").cast("double") / col("n").cast("double"))
          * col("pmi") * lit(1e8)) / lit(1e8))
  }

  /** Mergeable-HLL distinct rollup — the REAGGREGABLE form of
    * `COUNT(DISTINCT)`: exact distincts cannot roll up (Σ of daily
    * distinct users ≠ weekly distinct users), so at 100 TB the lake
    * stores per-partition HLL SKETCHES and merges them for any
    * coarser grain — one pass over the fact ever, any rollup later
    * from sketch unions (the Datasketches pattern Spark 4 ships as
    * `hll_sketch_agg`/`hll_union_agg`). Emits per fine-grain day the
    * sketch estimate AND the merged coarse-grain (week) estimate it
    * contributes to — the mergeability contract is spec-pinned:
    * union-of-daily-sketches == direct weekly sketch, bit-equal
    * estimates (same sketch library, same lgK), within ~2% of exact.
    * Rows-only by protocol (sketch internals are not
    * SQL-replayable in DuckDB).
    */
  def hllRollup(df: DataFrame, tsCol: String, keyCol: String,
                lgK: Int = 12): DataFrame = {
    val days = df
      .filter(col(tsCol).isNotNull && col(keyCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"), col(keyCol).as("k"))
      .groupBy(col("day"))
      .agg(hll_sketch_agg(col("k"), lit(lgK)).as("sk"))
    days
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"),
        hll_union_agg(col("sk"), lit(false)).as("wsk"),
        sum(hll_sketch_estimate(col("sk"))).as("sum_daily_est"))
      .select(col("week"), col("n_days"),
        hll_sketch_estimate(col("wsk")).as("distinct_est"),
        col("sum_daily_est"))
  }

  /** Mergeable-KLL quantile rollup — the REAGGREGABLE form of
    * percentiles, closing the quantile half of the stored-sketch tier
    * ([[hllRollup]] is the distinct half): exact percentiles cannot
    * roll up (a day's p95 says nothing about the week's), and Spark 4
    * ships no serializable percentile sketch aggregate
    * (`percentile_approx` answers one query; its state is not a
    * storable column), so the lake stores per-fine-grain KLL sketches
    * (`graft.expressions.KllSketchAgg`, the public Karnin–Lang–
    * Liberty construction) and merges them for any coarser grain —
    * one pass over the fact ever. Emits per coarse grain (week): day
    * count, row count, and the merged sketch's quantile estimates.
    *
    * Scale shape: one partial-agg shuffle to per-day sketches (each a
    * fixed ~k-value object regardless of day volume), a ≤days-row
    * panel rollup, quantile walks on panel rows only. Rows-only by
    * the §5.1 sketch protocol (sketch internals are not
    * SQL-replayable); the error envelope is pinned by
    * [[kllErrorPanel]] and the spec.
    */
  def kllRollup(df: DataFrame, tsCol: String, valueCol: String,
                k: Int = 200,
                ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99)): DataFrame = {
    import graft.expressions.Kll
    val days = df
      .filter(col(tsCol).isNotNull && col(valueCol).isNotNull &&
        !isnan(col(valueCol).cast("double")))
      .select(to_date(col(tsCol)).as("day"),
        col(valueCol).cast("double").as("v"))
      .groupBy(col("day"))
      .agg(Kll.sketchAgg(col("v"), k).as("sk"), count(lit(1)).as("n_rows"))
    val rolled = days
      .withColumn("week", date_trunc("week", col("day")).cast("date"))
      .groupBy(col("week"))
      .agg(count(lit(1)).as("n_days"),
        Kll.mergeAgg(col("sk")).as("wsk"),
        sum(col("n_rows")).as("n_rows"))
      .withColumn("__qs", Kll.quantiles(col("wsk"), ps))
    // q25 / q90 / q99 for the common grid; sub-percent probabilities
    // keep their digits (q25_1 for 0.251) so no two ps can collide
    require(ps.distinct.size == ps.size, s"duplicate probabilities: $ps")
    def qname(p: Double): String =
      "q" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString
        .replace(".", "_")
    ps.zipWithIndex.foldLeft(rolled) { case (acc, (p, i)) =>
        acc.withColumn(qname(p), element_at(col("__qs"), i + 1))
      }
      .select(col("week") +: col("n_days") +: col("n_rows") +:
        ps.map(p => col(qname(p))): _*)
  }

  /** KLL accuracy panel — [[quantileSketchError]]'s discipline applied
    * to the mergeable sketch: ONE distributed KLL build (partial
    * sketches merge across partitions in-plan — the aggregation path
    * itself exercises mergeability), then each estimate's EMPIRICAL
    * rank measured exactly against the data and checked against the
    * declared O(1/k) envelope. The evidence that licenses storing
    * KLL sketches at 100 TB. Rows-only by the sketch protocol.
    */
  def kllErrorPanel(df: DataFrame, valueCol: String,
                    ps: Seq[Double] = Seq(0.25, 0.5, 0.75, 0.9, 0.99),
                    k: Int = 200): DataFrame = {
    import graft.expressions.Kll
    require(ps.nonEmpty && ps.forall(p => p > 0 && p < 1),
      s"probabilities outside (0,1): $ps")
    // NaN mirrors the sketch's own update policy (NaN skipped), so
    // the empirical-rank denominator counts exactly the absorbed rows
    val base = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && !isnan(col("__v")))
      .localCheckpoint(false)
    val psArr = array(ps.map(lit(_)): _*)
    val panel = base
      .agg(Kll.sketchAgg(col("__v"), k).as("sk"))
      .select(posexplode(Kll.quantiles(col("sk"), ps))
        .as(Seq("__i", "kll_value")))
      .withColumn("quantile", element_at(psArr, col("__i") + 1))
      .drop("__i")
      .ckptPartitioned()
    base.crossJoin(broadcast(panel))
      .groupBy(col("quantile"), col("kll_value"))
      .agg((sum(when(col("__v") <= col("kll_value"), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("empirical_rank"))
      .withColumn("rank_error", abs(col("empirical_rank") - col("quantile")))
      // declared envelope: the deterministic-coin KLL variant with
      // c=2/3 capacities holds ~2/k two-sided rank error empirically
      // (spec-pinned); +1e-9 absorbs the at-the-envelope double quantum
      .withColumn("within_bound",
        col("rank_error") <= lit(2.0 / k) + lit(1e-9))
  }

  /** HLL set algebra between two slices of one key column: distinct
    * estimates for each slice, their union (one scalar `hll_union`),
    * the intersection by inclusion–exclusion (clamped at 0 — I-E can
    * go slightly negative inside the sketch error), and the Jaccard
    * estimate — "how many users are in BOTH halves" answered from
    * fixed-size sketches, the overlap/retention question exact
    * distincts cannot answer reaggregably at 100 TB (and the reason
    * a lake stores sketches per slice: ANY pairwise overlap is two
    * stored sketches + this panel, no rescan). Intersection error
    * grows as the true overlap shrinks relative to the union (the
    * standard I-E caveat) — the estimate is for "is the overlap
    * big", not for counting tiny intersections.
    *
    * Scale shape: ONE corpus pass building both sketches as
    * conditional aggregates (map-side partial sketches merge in any
    * order), then 1-row panel math. Rows-only by protocol (sketch
    * internals are not oracle-replayable); the spec pins near-exact
    * sparse-regime numbers and the clamp.
    */
  def hllOverlap(df: DataFrame, keyCol: String,
                 sliceACond: Column, sliceBCond: Column,
                 lgK: Int = 12): DataFrame = {
    val sk = df.filter(col(keyCol).isNotNull)
      .agg(
        hll_sketch_agg(when(sliceACond, col(keyCol)), lit(lgK)).as("ska"),
        hll_sketch_agg(when(sliceBCond, col(keyCol)), lit(lgK)).as("skb"))
      .select(
        hll_sketch_estimate(col("ska")).cast("double").as("est_a"),
        hll_sketch_estimate(col("skb")).cast("double").as("est_b"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).cast("double")
          .as("est_union"))
    sk.select(col("est_a"), col("est_b"), col("est_union"),
        greatest(lit(0.0), col("est_a") + col("est_b") - col("est_union"))
          .as("est_intersect"))
      .withColumn("jaccard_est",
        col("est_intersect") / when(col("est_union") > 0, col("est_union")))
  }

  /** ORACLE-REPLAYABLE md5-register HLL overlap — [[hllOverlap]]'s
    * inclusion–exclusion panel rebuilt on a sketch whose state is a
    * SQL relation (the kmvOverlap/md5Long60 discipline), so the whole
    * panel hash-compares instead of riding the rows-only protocol the
    * DataSketches binary states force.
    *
    * Construction (public Flajolet et al. 2007 HLL): h = md5Long60
    * (60 bits); bucket = top lgK bits (`h div 2^w`, w = 60-lgK); rank
    * = leading zeros of the remaining w bits + 1, computed by an
    * EXACT descending threshold chain (`rem >= 2^(w-1) -> 1, ...`) —
    * no log2, no float. Register M_j = max rank in bucket j; the
    * union sketch is register-max over keys in either slice (HLL
    * union is exact on registers). The raw estimate
    * `alpha_m · m² / Σ 2^(-M_j)` is EXACT INTEGER arithmetic end to
    * end: the denominator sum is scaled by 2^(w+1) (every term
    * `2^(w+1-M_j)` and the `2^(w+1)`-per-empty-register contribution
    * are integers, total ≤ m·2^(w+1) < 2^63), alpha_m is the exact
    * rational 7213000·m / (10⁴·(1000m+1079)), and the quotient is a
    * DECIMAL(38,0)/HUGEINT `div` — the r13 no-double recipe. The one
    * non-integer edge is the standard small-range branch (raw ≤ 2.5m
    * with V>0 empty registers → linear counting `m·ln(m/V)`): branch
    * SELECTION is integer-exact and the ln value floors onto the §5
    * 1e-6 grid (the established log discipline). Jaccard and the
    * intersection ride exact DECIMAL adds and an integer-ppm `div`.
    *
    * Scale shape: one fact pass to the distinct-hash relation, three
    * m-bounded register aggregates, 1-row panel math — the same
    * stored-sketch contract as [[hllOverlap]] (persist m registers
    * per slice; any pairwise overlap from stored state).
    */
  def hllOverlapReplayable(df: DataFrame, keyCol: String,
                           sliceACond: Column, sliceBCond: Column,
                           lgK: Int = 12): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(lgK >= 4 && lgK <= 16, s"lgK=$lgK out of [4,16]")
    val m = 1 << lgK
    val w = 60 - lgK
    val two = BigInt(2)
    // alpha_m = 0.7213/(1 + 1.079/m) as the exact rational
    // 7213000·m / (10^4·(1000m+1079)); raw = alphaNum·m²·2^(w+1) / (alphaDen·S)
    val alphaNum = BigInt(7213000) * m
    val alphaDen = BigInt(10000) * (1000L * m + 1079)
    val rawNum = alphaNum * BigInt(m) * BigInt(m) * two.pow(w + 1)
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(graft.operators.Sampling.md5Long60(Seq(col(keyCol))).as("h"),
        when(sliceACond, 1L).otherwise(0L).as("a"),
        when(sliceBCond, 1L).otherwise(0L).as("b"))
      .groupBy(col("h"))
      .agg(max(col("a")).as("in_a"), max(col("b")).as("in_b"))
      .filter(col("in_a") === 1L || col("in_b") === 1L)
      .withColumn("bucket", expr(s"h div ${two.pow(w)}L"))
      .withColumn("rem", col("h") % lit(two.pow(w).toLong))
      // rank = leading zeros of the w-bit remainder + 1: descending
      // exact integer thresholds (rem >= 2^(w-1) -> 1, ..., rem >= 1
      // -> w), rem == 0 -> w+1 — no log2, no float, first hit wins
      .withColumn("rank",
        (1 to w).reverse.foldLeft(lit(w + 1)) { (els, r) =>
          when(col("rem") >= lit(two.pow(w - r).toLong), lit(r)).otherwise(els)
        })
      .localCheckpoint(false)
    // one register panel per sketch: present-bucket count and the
    // 2^(w+1)-scaled denominator partial (exact longs)
    def panelOf(cond: Column, suffix: String): DataFrame =
      keyed.filter(cond)
        .groupBy(col("bucket")).agg(max(col("rank")).as("M"))
        .agg(count(lit(1)).as(s"cnt_$suffix"),
          coalesce(sum(expr(s"shiftleft(cast(1 as bigint), ${w + 1} - M)")),
            lit(0L)).as(s"sp_$suffix"))
        .select(
          (lit(m.toLong) - col(s"cnt_$suffix")).as(s"v_$suffix"),
          (col(s"sp_$suffix") +
            (lit(m.toLong) - col(s"cnt_$suffix")) * lit(two.pow(w + 1).toLong))
            .as(s"s_$suffix"))
    val panel = panelOf(col("in_a") === 1L, "a")
      .crossJoin(panelOf(col("in_b") === 1L, "b"))
      .crossJoin(panelOf(lit(true), "u"))
    def grid(c: Column): Column =
      floorGrid(c, 1e6).cast(DecimalType(28, 6))
    // exact-integer raw estimate, then the standard small-range branch
    def est(suffix: String): Column = {
      val raw = expr(
        s"cast('$rawNum' as decimal(38,0)) div (cast(s_$suffix as decimal(38,0)) * $alphaDen)")
      val v = col(s"v_$suffix")
      when(raw <= lit(5L * m / 2) && v > 0L,
        grid(lit(m.toDouble) * log(lit(m.toDouble) / v.cast("double"))))
        .otherwise(raw.cast(DecimalType(28, 6)))
    }
    panel.select(est("a").as("est_a"), est("b").as("est_b"),
        est("u").as("est_union"))
      .withColumn("est_intersect",
        greatest(lit(0).cast(DecimalType(28, 6)),
          (col("est_a") + col("est_b") - col("est_union"))
            .cast(DecimalType(28, 6))))
      // integer-ppm Jaccard on the 1e6-scaled exact decimal quanta —
      // no double quotient (the r13 recipe): ppm = (ei·1e6·1e6) div
      // (eu·1e6) where est·1e6 is the exact integer quantum count
      .withColumn("jaccard_ppm",
        expr("case when est_union > 0 then " +
          "(cast(est_intersect * 1000000 as decimal(38,0)) * 1000000) div " +
          "cast(est_union * 1000000 as decimal(38,0)) end"))
  }

  /** KMV/theta-sketch set algebra between two slices of one key
    * column — the PRINCIPLED mergeable intersection the HLL panel
    * ([[hllOverlap]]) cannot give: inclusion–exclusion noise blows up
    * when the true overlap is small next to the union, while a KMV
    * sketch carries an actual uniform SAMPLE of the keyspace (the k
    * smallest values of a fixed hash), so intersection and difference
    * are direct sample counts scaled by theta — relative error
    * ~1/sqrt(retained), not ~union/intersection-amplified.
    *
    * Estimator (theta-sketch rules, exclusive theta): per slice,
    * theta = (n == k) ? h_k / 2^60 : 1 (h_k = the kth smallest
    * distinct hash; an unsaturated sketch is EXACT, theta 1); set ops
    * restrict every retained hash to h < min(thetaA, thetaB)·2^60 —
    * which automatically drops each side's own kth value (h_k is
    * never < its own theta bound), giving the unbiased (k-1)/U(k)
    * KMV estimate on the bases — and estimate |S| / theta. Jaccard is
    * the retained-sample ratio |I| / |U|.
    *
    * Scale shape: ONE fact pass to the distinct-hash relation (the
    * same shuffle any COUNT(DISTINCT) pays) with per-slice membership
    * flags, then two map-side top-k jobs over it (TakeOrdered — never
    * a global sort) and panel math on <= 2k rows. A stored-sketch
    * deployment persists each slice's k-min list (k longs) and this
    * panel is pure sketch-on-sketch math — any pairwise overlap from
    * stored state, no rescan, the set-algebra completion of the
    * HLL-union tier.
    *
    * Fully ORACLE-REPLAYABLE, unlike the HLL/KLL states: the hash is
    * [[graft.operators.Sampling.md5Long60]] (DuckDB:
    * `CAST('0x' || substr(md5(…),1,15) AS BIGINT)`), and k-min over
    * distinct hashes is plain ORDER BY/LIMIT — the sketch state IS a
    * SQL relation, so the whole panel hash-compares.
    *
    * Every output column is EXACT INTEGER arithmetic — no IEEE double
    * appears anywhere. The r12 driver gate caught the previous
    * double-quotient form (`floor(n / (theta_h/2^60) * 1e6)`) flipping
    * on a 1e-6 grid boundary between engines/builds, so the estimates
    * are now `(n * 2^60) div theta_h` computed in DECIMAL(38,0)
    * (Spark `div` / DuckDB HUGEINT `//` — both exact truncating
    * division on exact integer products), theta is emitted as the raw
    * integer bound `theta_h`, and Jaccard as parts-per-million
    * `(n_intersect * 1e6) div n_union`. No rounding decision is left
    * to floating point on either engine.
    */
  def kmvOverlap(df: DataFrame, keyCol: String,
                 sliceACond: Column, sliceBCond: Column,
                 k: Int = 256): DataFrame = {
    require(k >= 2, s"kmvOverlap needs k >= 2: $k")
    val two60 = lit(1152921504606846976L) // 2^60, the md5Long60 range
    val keyed = df.filter(col(keyCol).isNotNull)
      .select(graft.operators.Sampling.md5Long60(Seq(col(keyCol))).as("h"),
        when(sliceACond, 1L).otherwise(0L).as("a"),
        when(sliceBCond, 1L).otherwise(0L).as("b"))
      .groupBy(col("h"))
      .agg(max(col("a")).as("in_a"), max(col("b")).as("in_b"))
      .localCheckpoint(false)
    val skA = keyed.filter(col("in_a") === 1).select(col("h")).orderBy(col("h")).limit(k)
    val skB = keyed.filter(col("in_b") === 1).select(col("h")).orderBy(col("h")).limit(k)
    // per-slice sketch panels: n retained and the exclusive theta bound
    // (2^60 = "keep everything" when unsaturated — every hash is < 2^60)
    def panelOf(sk: DataFrame, suffix: String): DataFrame =
      sk.agg(count(lit(1)).as(s"n_$suffix"), max(col("h")).as("__hmax"))
        .select(col(s"n_$suffix"),
          when(col(s"n_$suffix") === k, col("__hmax")).otherwise(two60)
            .as(s"theta_h_$suffix"))
    val thetas = panelOf(skA, "a").crossJoin(panelOf(skB, "b"))
      .withColumn("theta_h", least(col("theta_h_a"), col("theta_h_b")))
    // membership via union + hash-agg, NOT a full-outer join: full
    // outer can't broadcast, so two k-row sketches would plan an SMJ
    // (caught by InvariantSpec's heavy-join pin) — the union-groupBy
    // is the same relation with one partial-agg shuffle on <= 2k rows.
    // Global agg (not groupBy) below: one panel row even when the
    // retained set is empty (both slices keyless).
    val counts = skA.select(col("h"), lit(1L).as("ia"), lit(0L).as("ib"))
      .unionByName(skB.select(col("h"), lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy(col("h"))
      .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      .crossJoin(broadcast(thetas.select(col("theta_h"))))
      .filter(col("h") < col("theta_h"))
      .agg(count(lit(1)).as("n_union"),
        coalesce(sum(when(col("ia") === 1L && col("ib") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("n_intersect"),
        coalesce(sum(when(col("ia") === 1L && col("ib") === 0L, 1L)
          .otherwise(0L)), lit(0L)).as("n_diff_ab"))
    val joined = counts.crossJoin(broadcast(thetas))
    // estimates as EXACT integers: floor(|retained| / theta) =
    // (n * 2^60) div theta_h — the product is exact in DECIMAL(38,0)
    // (n <= 2k, so < 10^3 * 2^60 < 10^22) and `div` is exact
    // truncating integral division; no double, no grid, no
    // engine-dependent rounding decision anywhere. theta_h divisors
    // are >= 1 by construction (a 60-bit md5 max-of-k-distinct can't
    // be 0 for k >= 2), so ANSI div-by-zero can't fire.
    def est(nExpr: String, thetaHCol: String): Column =
      expr(s"(cast($nExpr as decimal(18,0)) * 1152921504606846976) div $thetaHCol")
    joined.select(
      col("n_union"), col("n_intersect"), col("n_diff_ab"),
      col("theta_h"),
      // unsaturated sketches retain all n values below theta 1 -> exact;
      // saturated ones retain k-1 below their own kth -> (k-1)/U(k)
      est(s"if(n_a = $k, ${k - 1}, n_a)", "theta_h_a").as("est_a"),
      est(s"if(n_b = $k, ${k - 1}, n_b)", "theta_h_b").as("est_b"),
      est("n_union", "theta_h").as("est_union"),
      est("n_intersect", "theta_h").as("est_intersect"),
      est("n_diff_ab", "theta_h").as("est_diff_ab"),
      // Jaccard as exact parts-per-million of the retained sample
      expr("case when n_union > 0 then (n_intersect * 1000000) div n_union end")
        .as("jaccard_ppm"))
  }

  /** Mergeable KMV distinct-count rollup (daily sketches → weekly
    * estimates) — the D65 `hllRollup` shape with a sketch whose state
    * is a SQL RELATION: each day's sketch is the k smallest distinct
    * `md5Long60` hashes of the key, and the weekly sketch is the k
    * smallest of the union of the daily RETAINED sets. KMV merge is
    * EXACT (any hash in the week's k-min is in its own day's k-min —
    * the week's rollup equals a direct weekly build bit-for-bit,
    * spec-pinned), so stored daily k-min lists answer any coarser
    * grain with zero estimate drift from the merge itself — the
    * property HLL register-merge only approximates and the reason a
    * KMV tier can be ORACLE-CHECKED while D65/D91 are rows-only.
    *
    * Output: one row per ISO week — days observed, retained sample
    * size, theta and the distinct estimate ((n-1)/U(n) when
    * saturated, exact count when not — same exclusive-theta rule as
    * [[kmvOverlap]], whose slice sketches this rollup feeds at a
    * stored deployment).
    *
    * Scale shape: one fact pass to the distinct (day, hash) relation
    * (the COUNT(DISTINCT) shuffle, partial-agg combined map-side),
    * per-day top-k as a day-partitioned rank window (each partition
    * is one day's distinct keys — the same bound any per-day distinct
    * pays; a stored tier persists exactly these k-row lists), then
    * the weekly re-rank runs on ≤ 7k rows per week.
    */
  def kmvRollup(df: DataFrame, tsCol: String, keyCol: String,
                k: Int = 256): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 2, s"kmvRollup needs k >= 2: $k")
    val two60 = lit(1152921504606846976L)
    val hashed = df
      .filter(col(keyCol).isNotNull && col(tsCol).isNotNull)
      .select(to_date(col(tsCol)).as("day"),
        graft.operators.Sampling.md5Long60(Seq(col(keyCol))).as("h"))
      .distinct()
    val daily = hashed
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("day")).orderBy(col("h"))))
      .filter(col("__rn") <= k)
      .localCheckpoint(false)
    val weekly = daily
      .select(date_trunc("week", col("day")).cast("date").as("week"), col("h"))
      .distinct()
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("week")).orderBy(col("h"))))
      .filter(col("__rn") <= k)
    val nDays = daily
      .groupBy(date_trunc("week", col("day")).cast("date").as("week"))
      .agg(countDistinct(col("day")).as("n_days"))
    // exact-integer estimate (same recipe as [[kmvOverlap]]): emit the
    // raw integer theta bound and (n_eff * 2^60) div theta_h — no
    // double quotient, no grid, engine-stable by construction
    weekly.groupBy(col("week"))
      .agg(count(lit(1)).as("n_retained"), max(col("h")).as("__hmax"))
      .withColumn("theta_h",
        when(col("n_retained") === k, col("__hmax")).otherwise(two60))
      .join(nDays, Seq("week"))
      .select(col("week"), col("n_days"), col("n_retained"), col("theta_h"),
        expr(s"(cast(if(n_retained = $k, ${k - 1}, n_retained) as decimal(18,0))" +
          " * 1152921504606846976) div theta_h").as("est_distinct"))
  }

  /** Shannon-entropy profile of categorical columns — the "how much
    * signal does this column carry" panel next to [[mutualInfo]]'s
    * pairwise dependence: per column, non-null count, distinct count,
    * and `H = Σ (c/n)·ln(n/c)` in nats (0 = constant column,
    * `ln(distinct)` = uniform). One partial-agg shuffle per column to
    * its value panel; terms are §5 grid-quantized and summed as
    * order-free DECIMAL partials.
    */
  def entropyProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "entropyProfile needs at least one column")
    import org.apache.spark.sql.types.DecimalType
    cols.map { c =>
      val counts = df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("v"))
        .agg(count(lit(1)).as("cnt"))
      val tot = counts.agg(sum(col("cnt")).as("n"),
        count(lit(1)).as("n_distinct"))
      val term = floor((col("cnt").cast("double") / col("n").cast("double")) *
        log(col("n").cast("double") / col("cnt").cast("double")) * lit(1e8)) / lit(1e8)
      counts.crossJoin(broadcast(tot))
        .select(col("n"), col("n_distinct"),
          term.cast(DecimalType(28, 12)).as("__t"))
        .groupBy()
        .agg(max(col("n")).as("n_values"),
          max(col("n_distinct")).as("n_distinct"),
          sum(col("__t")).cast("double").as("entropy_nats"))
        .select(lit(c).as("column_name"), col("n_values"),
          col("n_distinct"), col("entropy_nats"))
    }.reduce(_ unionByName _)
  }

  /** Most-common-values panel (the ANALYZE "MCV list" statistic next
    * to the histograms and [[entropyProfile]]): per column, the top-k
    * values by exact count with their share of non-null rows — what
    * an optimizer consults for selectivity on skewed categoricals,
    * and what [[skewHotKeys]] reports for ONE join key generalized to
    * a standing multi-column profile.
    *
    * Scale shape: one (column, value) partial-agg shuffle per column;
    * the top-k never globally sorts the value panel — a salted local
    * rank bounds every task at k rows before the per-column final
    * rank (the two-phase topK discipline; a high-cardinality column's
    * distinct panel never converges on one task). Ties break on the
    * value string; shares are exact-long quotients, shipped raw (§6).
    */
  def topValues(df: DataFrame, cols: Seq[String], k: Int = 5): DataFrame = {
    require(cols.nonEmpty && k >= 1, s"topValues needs columns and k >= 1: $k")
    import org.apache.spark.sql.expressions.Window
    cols.map { c =>
      val counts = df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("value"))
        .agg(count(lit(1)).as("n_rows"))
      val tot = counts.agg(sum(col("n_rows")).as("__tot"))
      val salted = Window.partitionBy(pmod(xxhash64(col("value")), lit(64)))
        .orderBy(col("n_rows").desc, col("value"))
      val global = Window.partitionBy(lit(1))
        .orderBy(col("n_rows").desc, col("value"))
      counts
        .withColumn("__lrank", row_number().over(salted))
        .filter(col("__lrank") <= k)
        .withColumn("rank", row_number().over(global))
        .filter(col("rank") <= k)
        .crossJoin(broadcast(tot))
        .select(lit(c).as("column_name"), col("rank"), col("value"),
          col("n_rows"),
          (col("n_rows").cast("double") / col("__tot").cast("double")).as("share"))
    }.reduce(_ unionByName _)
  }

  def histogram2d(df: DataFrame, xCol: String, yCol: String,
                  kx: Int, ky: Int): DataFrame = {
    require(kx >= 1 && ky >= 1, s"histogram2d needs positive buckets: $kx x $ky")
    val (x, y) = (col(xCol), col(yCol))
    val rows = df.filter(x.isNotNull && y.isNotNull)
    val bounds = rows.agg(min(x).as("xmn"), max(x).as("xmx"),
      min(y).as("ymn"), max(y).as("ymx"))
    def bucketOf(v: Column, mn: Column, mx: Column, k: Int) =
      when(mx === mn, lit(0))
        .otherwise(least(lit(k - 1), floor((v - mn) / ((mx - mn) / k)).cast("int")))
    val tot = rows.agg(count(lit(1)).as("__tot"))
    rows.crossJoin(broadcast(bounds))
      .groupBy(bucketOf(x, col("xmn"), col("xmx"), kx).as("bucket_x"),
        bucketOf(y, col("ymn"), col("ymx"), ky).as("bucket_y"))
      .agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(tot))
      .withColumn("share", col("n_rows") / col("__tot").cast("double"))
      .select(col("bucket_x"), col("bucket_y"), col("n_rows"), col("share"))
  }

  /** Count-min sketch frequency estimation — the batch twin of the
    * streaming Misra–Gries heavy-hitter sink: a d×w cell grid where
    * cell (r, b) counts every item whose r-th hash lands in bucket b,
    * and an item's estimate is the MIN over its d cells (always ≥ the
    * exact count; collisions only inflate). Hashes are the repo's
    * md5-bucket idiom salted per row (`md5Long32(r, item) mod w`), so
    * an oracle replays cell assignment bit-for-bit.
    *
    * The sketch build is ONE partial-agg shuffle onto d·w cells —
    * constant memory regardless of item cardinality (the entire point
    * at 100 TB: d·w longs summarize any stream). The estimate probe
    * joins the distinct-item panel against the cell grid (broadcast —
    * d·w is tiny by construction) and takes the per-item min; output
    * is cut to the top-n items by exact count so the panel stays
    * serving-sized. Columns: item, n_exact, n_est, overcount
    * (= n_est − n_exact, the collision inflation this sketch traded
    * for constant memory).
    */
  def countMinTopN(df: DataFrame, itemCol: String, d: Int, w: Int,
                   topN: Int): DataFrame = {
    require(d >= 1 && w >= 1, s"count-min needs positive dims: $d x $w")
    val items = df.filter(col(itemCol).isNotNull)
      .select(col(itemCol).cast("string").as("item"))
    val hashed = items.select(col("item"),
      explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("bucket",
        pmod(Sampling.md5Long32(Seq(col("r"), col("item"))), lit(w)))
    val cells = hashed.groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("cell_n"))
    val exact = items.groupBy(col("item")).agg(count(lit(1)).as("n_exact"))
    val est = exact
      .select(col("item"), col("n_exact"),
        explode(sequence(lit(0), lit(d - 1))).as("r"))
      .withColumn("bucket",
        pmod(Sampling.md5Long32(Seq(col("r"), col("item"))), lit(w)))
      .join(broadcast(cells), Seq("r", "bucket"))
      .groupBy(col("item"), col("n_exact"))
      .agg(min(col("cell_n")).as("n_est"))
    // the topValues two-phase discipline: salt-local prune to ≤ 64·n
    // survivors, THEN the single-partition rank on a panel that is
    // bounded by construction — never a global sort of the item panel
    import org.apache.spark.sql.expressions.Window
    val salted = Window.partitionBy(pmod(xxhash64(col("item")), lit(64)))
      .orderBy(col("n_exact").desc, col("item"))
    val global = Window.partitionBy(lit(1))
      .orderBy(col("n_exact").desc, col("item"))
    est.withColumn("__lrank", row_number().over(salted))
      .filter(col("__lrank") <= topN).drop("__lrank")
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= topN)
      .select(col("rank"), col("item"), col("n_exact"), col("n_est"),
        (col("n_est") - col("n_exact")).as("overcount"))
  }

  /** Chi-square test of independence + Cramér's V between two
    * categorical columns — the hypothesis-test member of the
    * categorical-association trio ([[mutualInfo]] gives per-cell
    * dependence direction, this gives the test statistic and the
    * [0,1]-normalized effect size).
    *
    * Scale shape: one fact-sized partial-agg shuffle to the (x,y)
    * cell panel; margins/totals are panel aggregations. Engine
    * parity: the statistic is computed in SHARE space — each cell
    * term (p_xy − p_x·p_y)²/(p_x·p_y) is provably ≤ 2 (p_xy² ≤
    * p_x·p_y), so the §5 floor-grid at 1e-12 is magnitude-safe; the
    * grid terms sum as exact DECIMAL(18,12) (order-free) and χ² =
    * n·Σ recovers the count scale in one fixed-order double step.
    */
  def chi2Assoc(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val xy = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__x"), col(yCol).as("__y"))
      .agg(count(lit(1)).as("__nxy"))
      .ckptPartitioned()
    val nx = xy.groupBy(col("__x")).agg(sum(col("__nxy")).as("__nx"))
    val ny = xy.groupBy(col("__y")).agg(sum(col("__nxy")).as("__ny"))
    val kx = nx.agg(count(lit(1)).as("__kx"))
    val ky = ny.agg(count(lit(1)).as("__ky"))
    val nt = xy.agg(sum(col("__nxy")).as("__n"))
    // the FULL margin grid, not just observed cells: an empty cell
    // (observed 0, expected n_x·n_y/n > 0) still contributes its
    // expected mass to chi2 — dropping it understates dependence
    val grid = nx.crossJoin(ny)
      .join(xy, Seq("__x", "__y"), "left")
      .withColumn("__nxy", coalesce(col("__nxy"), lit(0L)))
    val pxy = col("__nxy").cast("double") / col("__n").cast("double")
    val ex = (col("__nx").cast("double") / col("__n").cast("double")) *
      (col("__ny").cast("double") / col("__n").cast("double"))
    val term = floorGrid((pxy - ex) * (pxy - ex) / ex, 1e12)
    val sums = grid.crossJoin(broadcast(nt))
      .agg(sum(term.cast(DecimalType(18, 12))).as("__s"),
        sum(when(col("__nxy") > 0L, 1L).otherwise(0L)).as("n_cells"),
        max(col("__n")).as("n"))
    val minDim = least(col("__kx") - 1L, col("__ky") - 1L)
    sums.crossJoin(broadcast(kx)).crossJoin(broadcast(ky))
      .select(lit(xCol).as("col_x"), lit(yCol).as("col_y"),
        col("n"), col("n_cells"), col("__kx").as("k_x"), col("__ky").as("k_y"),
        ((col("__kx") - 1L) * (col("__ky") - 1L)).as("dof"),
        (col("n").cast("double") * col("__s").cast("double")).as("chi2"),
        when(minDim <= 0L, lit(null)).otherwise(
          sqrt(col("__s").cast("double") / minDim.cast("double")))
          .as("cramers_v"))
  }

  /** Pairwise Cramér's V profile over categorical columns — the
    * categorical twin of [[corrPairs]]' numeric matrix: every column
    * pair through [[chi2Assoc]]'s full-margin-grid chi-square +
    * effect size, unioned into one association panel (which coded
    * columns are redundant with which, before any encoding choice).
    *
    * Scale shape: the fact projects once to the categorical columns
    * (lazy checkpoint — materialized once, shared by every pair);
    * each pair is then one partial-agg shuffle to its (x, y) cell
    * panel plus panel math, so cost is pairs × cell-panel, never
    * pairs × fact.
    */
  def cramersVPairs(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, s"cramersVPairs needs at least two columns: $cols")
    val proj = df.select(cols.map(col): _*).localCheckpoint(false)
    cols.combinations(2).toSeq
      .map { case Seq(a, b) => chi2Assoc(proj, a, b) }
      .reduce(_.unionByName(_))
  }

  /** Spearman rank correlation between two numeric columns — the
    * MONOTONE-association profile next to [[corrPairs]]' linear
    * Pearson: outlier-robust (a single extreme pair cannot drag it),
    * invariant under any monotone rescaling, with the standard
    * midrank treatment of ties (Pearson on midranks).
    *
    * Scale shape: ranks never touch row-level data — each column
    * collapses to its DISTINCT-VALUE panel, the panel is globally
    * ordered through the two-phase [[PrefixSum]] (no single-partition
    * window), and rows pick up their ranks by two value-keyed joins.
    * Engine-parity trick: the DOUBLED midrank `2·(cum−nt)+nt+1` is a
    * pure INTEGER (Pearson is affine-invariant, so rho on doubled
    * ranks equals rho on ranks) — every moment is an exact integer
    * DECIMAL partial, and only the final (num, var_x, var_y) →
    * double step is floating, in one fixed op order.
    */
  def spearmanPair(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val pairs = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .select(col(xCol).as("__x"), col(yCol).as("__y"))
    def dranks(c: String, rank: String): DataFrame = {
      val panel = pairs.groupBy(col(c).as("__v")).agg(count(lit(1)).as("__nt"))
      PrefixSum.globalOrdered(panel, Seq(col("__v")), "__nt")
        .select(col("__v").as(c),
          (lit(2L) * (col("prefix_sum") - col("__nt"))
            + col("__nt") + lit(1L)).as(rank))
    }
    val ranked = pairs
      .join(dranks("__x", "__dx"), Seq("__x"))
      .join(dranks("__y", "__dy"), Seq("__y"))
    spearmanFromDoubledRanks(ranked)
      .select(lit(xCol).as("col_x"), lit(yCol).as("col_y"),
        col("n_pairs"), col("rho"))
  }

  /** The moment aggregation + rho step over a (__dx, __dy)
    * doubled-rank relation — split out so the overflow discipline is
    * property-testable at adversarial magnitude (PropertySpec feeds
    * doubled midranks past 2^31, where a long×long product would
    * silently wrap).
    */
  private[graft] def spearmanFromDoubledRanks(ranked: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // per-row products fit a long (d ≤ 2n); sums go DECIMAL — then
    // RE-NARROWED before the n·Σ products so every multiply stays
    // inside precision 38 with zero loss (§5 decimal-arithmetic rule)
    val d18 = DecimalType(18, 0)
    val d27 = DecimalType(27, 0)
    val agg = ranked.agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__dx").cast(d18)).as("__sx"),
      sum(col("__dy").cast(d18)).as("__sy"),
      // ranks cast to DECIMAL BEFORE the multiply (the xcorrLags
      // discipline): doubled midranks reach 2n+1, so a LONG×LONG
      // product overflows silently past n ≈ 1.5e9 — exactly the
      // 100-TB row counts this is designed for
      sum((col("__dx").cast(d18) * col("__dx").cast(d18)).cast(d27)).as("__sxx"),
      sum((col("__dy").cast(d18) * col("__dy").cast(d18)).cast(d27)).as("__syy"),
      sum((col("__dx").cast(d18) * col("__dy").cast(d18)).cast(d27)).as("__sxy"))
    val n10 = col("n_pairs").cast(DecimalType(10, 0))
    def prod2(a: String, b: String) =
      (col(a).cast(d18) * col(b).cast(d18)).cast("double")
    val num = (n10 * col("__sxy").cast(d27)).cast("double") - prod2("__sx", "__sy")
    val vx = (n10 * col("__sxx").cast(d27)).cast("double") - prod2("__sx", "__sx")
    val vy = (n10 * col("__syy").cast(d27)).cast("double") - prod2("__sy", "__sy")
    val denom = sqrt(vx) * sqrt(vy)
    agg.select(col("n_pairs"),
      (num / when(denom === 0.0, lit(null)).otherwise(denom)).as("rho"))
  }

  /** Kendall tau-b between two DISCRETE (low-cardinality ordinal)
    * columns — concordance-based association from the joint
    * contingency panel: every (x,y) cell pair with x₂>x₁ ∧ y₂>y₁ is
    * concordant mass n₁·n₂, x₂>x₁ ∧ y₂<y₁ discordant, and tau-b
    * normalizes by the tie-adjusted pair counts so heavy ties (the
    * whole point of the discrete variant) do not deflate the score.
    *
    * Scale shape: the fact collapses once to the ≤ kx·ky cell panel;
    * concordant/discordant masses come from the panel's BROADCAST
    * self-join (panel², not data², rows — panel math by
    * construction), margins from two panel aggregations. All masses
    * and tie terms are exact integers; tau is one fixed-order
    * double expression at the edge. Output also carries n_c / n_d /
    * the margin tie terms so the verdict is auditable.
    */
  def kendallTauB(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // cell counts ≤ n (≤ 12 digits at any realistic scale); products
    // then stay at precision 25 — inside 38 with the sum's +10 headroom
    val d12 = DecimalType(12, 0)
    val cells = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(col(xCol).as("__cx"), col(yCol).as("__cy"))
      .agg(count(lit(1)).as("__nc"))
      .ckptPartitioned()
    val other = cells.select(col("__cx").as("__ox"), col("__cy").as("__oy"),
      col("__nc").as("__on"))
    // each unordered cell pair counted once via the x₂>x₁ direction;
    // per-row mass products as DECIMAL (n₁·n₂ can pass a long at the
    // extremes of a skewed panel)
    val pairMass = cells.join(broadcast(other), col("__ox") > col("__cx"))
      .agg(
        sum(when(col("__oy") > col("__cy"),
          col("__nc").cast(d12) * col("__on").cast(d12))).as("n_c"),
        sum(when(col("__oy") < col("__cy"),
          col("__nc").cast(d12) * col("__on").cast(d12))).as("n_d"))
    val n = cells.agg(sum(col("__nc")).as("__n"))
    val tx = cells.groupBy(col("__cx")).agg(sum(col("__nc")).as("__t"))
      .agg(sum(col("__t").cast(d12) * (col("__t") - 1L).cast(d12)).as("tie_x2"))
    val ty = cells.groupBy(col("__cy")).agg(sum(col("__nc")).as("__t"))
      .agg(sum(col("__t").cast(d12) * (col("__t") - 1L).cast(d12)).as("tie_y2"))
    // doubled pair counts keep everything integer: n0₂ = n(n−1),
    // tie terms Σt(t−1); tau-b = (C−D)/sqrt(((n0₂−tx₂)/2)·((n0₂−ty₂)/2))
    val n02 = col("__n").cast(d12) * (col("__n") - 1L).cast(d12)
    val halfx = ((n02 - col("tie_x2")).cast("double")) / lit(2.0)
    val halfy = ((n02 - col("tie_y2")).cast("double")) / lit(2.0)
    val denom = sqrt(halfx) * sqrt(halfy)
    // a panel with no qualifying cell pairs sums to NULL mass — zero
    val cMass = coalesce(col("n_c").cast("double"), lit(0.0))
    val dMass = coalesce(col("n_d").cast("double"), lit(0.0))
    pairMass.crossJoin(broadcast(n)).crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
      .select(lit(xCol).as("col_x"), lit(yCol).as("col_y"),
        col("__n").as("n_rows"),
        cMass.as("n_c"), dMass.as("n_d"),
        col("tie_x2").cast("double").as("tie_x2"),
        col("tie_y2").cast("double").as("tie_y2"),
        ((cMass - dMass)
          / when(denom === 0.0, lit(null)).otherwise(denom)).as("tau_b"))
  }
}
