package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.Kernels
import graft.expressions.Kernels.floorGrid

/** Distribution-drift statistics between an "old" and a "new" slice
  * of one numeric column — the monitoring layer over the reference's
  * quality reports (src/silver/transforms.py quality summary + the
  * docs/queries drift panels), extended with the two standard
  * scalar drift tests a training-data pipeline gates on.
  *
  * χ²/TV and KS are deliberately LOG-FREE (the repo's libm-portability
  * rule: engines differ in the last ulp of `ln`/`pow`, so those two
  * carry the drift signal on IEEE ops both engines execute
  * bit-identically). [[psiHistogram]] completes the family with the
  * industry-standard PSI itself, admissible because its `ln` terms
  * ride only the ≤k-bucket PANEL under the §5 floor-grid (the
  * pmi/zipf/entropy precedent: a last-ulp `ln` difference moves a
  * 1e-6-grid floor only when ln·1e6 sits within ~1e-10 of an integer
  * — vanishing over panel-sized term counts, and caught by the hash
  * gate if it ever lands).
  */
object Drift {


  /** Population Stability Index over the shared equi-width histogram —
    * the scalar the credit-risk / model-monitoring world actually
    * gates on (rule of thumb: <0.1 stable, 0.1–0.25 shifting, >0.25
    * drifted): `PSI = Σ (p_new − p_old)·ln(p_new / p_old)`.
    *
    * Buckets empty on EITHER side have no finite term (ln 0); they are
    * skipped from the sum and counted in `n_buckets_skipped` — the
    * epsilon-smoothing some implementations apply bakes an arbitrary
    * constant into the score, and the appeared/vanished-mass signal
    * already lives in the companion [[chi2Histogram]]'s `tv_dist`.
    *
    * Scale shape: identical to χ² — one bounds pass, one ≤k-bucket
    * partial agg, panel math. Engine parity: the proportions are
    * exact-long/exact-long single divides; each term's `ln` and the
    * final product floor-quantize to the 1e-6 grid before DECIMAL(28,6)
    * partials (§5 scale rule: cast scale == grid scale; terms can
    * exceed unit magnitude when a bucket's mass ratio is extreme).
    */
  def psiHistogram(df: DataFrame, valueCol: String, isNewCol: String,
                   k: Int = 20): DataFrame = {
    require(k >= 2, s"need at least 2 buckets: $k")
    val ev = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("value"), col(isNewCol).cast("int").as("is_new"))
    val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val width = (col("mx") - col("mn")) / k
    val bucket = when(col("mx") === col("mn"), lit(0))
      .otherwise(least(lit(k - 1), floor((col("value") - col("mn")) / width).cast("int")))
    val byBucket = ev.crossJoin(broadcast(bounds))
      .groupBy(bucket.as("bucket"))
      .agg(sum(lit(1) - col("is_new")).as("n_old"), sum(col("is_new")).as("n_new"))
    val tot = byBucket.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"))
    val withP = byBucket.crossJoin(broadcast(tot))
      .withColumn("p_old", col("n_old") / col("tot_old").cast("double"))
      .withColumn("p_new", col("n_new") / col("tot_new").cast("double"))
    val term = floorGrid((col("p_new") - col("p_old"))
      * floorGrid(log(col("p_new") / col("p_old")), 1e6), 1e6)
    withP.agg(
      sum(when(col("n_old") > 0 && col("n_new") > 0,
        Kernels.toDecimal(term, 28, 6))).cast("double").as("psi"),
      sum(when(col("n_old") > 0 && col("n_new") > 0, 1).otherwise(0))
        .as("n_buckets_used"),
      sum(when(col("n_old") > 0 && col("n_new") > 0, 0).otherwise(1))
        .as("n_buckets_skipped"),
      max(col("tot_old")).as("tot_old"),
      max(col("tot_new")).as("tot_new"))
  }

  /** Jensen–Shannon divergence over the shared equi-width histogram —
    * the SYMMETRIC, always-finite member of the drift family (PSI and
    * KL blow up on one-sided empty buckets; JS's mixture midpoint
    * `m = (p_old + p_new)/2` is positive wherever either side has
    * mass, so every bucket contributes and no skip accounting is
    * needed): `JS = ½·Σ p_old·ln(p_old/m) + ½·Σ p_new·ln(p_new/m)`,
    * bounded in [0, ln 2] — comparable across columns and over time,
    * which is what a fleet-wide drift dashboard actually wants.
    *
    * Scale shape: identical to PSI/χ² — one bounds pass, one
    * ≤k-bucket partial agg, panel math. Engine parity: proportions
    * are exact-long divides; each `ln` and each product floor-quantize
    * to the 1e-6 grid before the DECIMAL(28,6) panel partials (§5 —
    * JS terms are ≤ unit magnitude by construction, so scale 6 has
    * full headroom). The 0·ln0 = 0 convention lands as a `when`
    * guard, not an epsilon.
    */
  def jsHistogram(df: DataFrame, valueCol: String, isNewCol: String,
                  k: Int = 20): DataFrame = {
    require(k >= 2, s"need at least 2 buckets: $k")
    val ev = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("value"), col(isNewCol).cast("int").as("is_new"))
    val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val width = (col("mx") - col("mn")) / k
    val bucket = when(col("mx") === col("mn"), lit(0))
      .otherwise(least(lit(k - 1), floor((col("value") - col("mn")) / width).cast("int")))
    val byBucket = ev.crossJoin(broadcast(bounds))
      .groupBy(bucket.as("bucket"))
      .agg(sum(lit(1) - col("is_new")).as("n_old"), sum(col("is_new")).as("n_new"))
    val tot = byBucket.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"))
    val withP = byBucket.crossJoin(broadcast(tot))
      .withColumn("p_old", col("n_old") / col("tot_old").cast("double"))
      .withColumn("p_new", col("n_new") / col("tot_new").cast("double"))
      .withColumn("m", (col("p_old") + col("p_new")) / 2.0)
    def kl(p: Column): Column =
      when(p > 0.0, floorGrid(p * floorGrid(log(p / col("m")), 1e6), 1e6)).otherwise(lit(0.0))
    withP.agg(
      ((sum(Kernels.toDecimal(kl(col("p_old")), 28, 6)).cast("double")
        + sum(Kernels.toDecimal(kl(col("p_new")), 28, 6)).cast("double")) / 2.0)
        .as("js_div"),
      count(lit(1)).as("n_buckets"),
      max(col("tot_old")).as("tot_old"),
      max(col("tot_new")).as("tot_new"))
  }

  /** Pearson χ² + total-variation drift over an equi-width histogram
    * — one row: the scalar drift verdict for a monitoring gate.
    *
    * Same bucketing as the per-bucket `data_drift_value` panel
    * (k equi-width buckets over the observed [min,max]); buckets
    * empty on the OLD side cannot contribute a χ² term (division by
    * zero) and are counted in `n_buckets_skipped` instead — the
    * "new mass appeared where old had none" signal survives in
    * `tv_dist`, which has no such singularity.
    *
    * Scale shape: one corpus pass for the bounds panel, one for the
    * bucket partial-agg (map-side combined, ≤k groups), then panel
    * math. The χ²/TV terms are full-entropy quotient arithmetic —
    * floor-quantized to the 1e-6 grid before their DECIMAL(28,12)
    * partials (the §5 cast-portability rule), so the sums are
    * order-free AND engine-replayable.
    */
  def chi2Histogram(df: DataFrame, valueCol: String, isNewCol: String,
                    k: Int = 20): DataFrame = {
    require(k >= 2, s"need at least 2 buckets: $k")
    val ev = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("value"), col(isNewCol).cast("int").as("is_new"))
    val bounds = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
    val width = (col("mx") - col("mn")) / k
    val bucket = when(col("mx") === col("mn"), lit(0))
      .otherwise(least(lit(k - 1), floor((col("value") - col("mn")) / width).cast("int")))
    val byBucket = ev.crossJoin(broadcast(bounds))
      .groupBy(bucket.as("bucket"))
      .agg(sum(lit(1) - col("is_new")).as("n_old"), sum(col("is_new")).as("n_new"))
    val tot = byBucket.agg(sum(col("n_old")).as("tot_old"),
      sum(col("n_new")).as("tot_new"))
    val withP = byBucket.crossJoin(broadcast(tot))
      .withColumn("p_old", col("n_old") / col("tot_old").cast("double"))
      .withColumn("p_new", col("n_new") / col("tot_new").cast("double"))
      .withColumn("__diff", col("p_new") - col("p_old"))
    withP.agg(
      sum(when(col("n_old") > 0,
        Kernels.toDecimal(floorGrid(col("__diff") * col("__diff") / col("p_old"), 1e6), 28, 6)))
        .cast("double").as("chi2"),
      (sum(Kernels.toDecimal(floorGrid(abs(col("__diff")), 1e6), 28, 6)).cast("double")
        * lit(0.5)).as("tv_dist"),
      sum(when(col("n_old") > 0, 1).otherwise(0)).as("n_buckets_used"),
      sum(when(col("n_old") > 0, 0).otherwise(1)).as("n_buckets_skipped"),
      max(col("tot_old")).as("tot_old"),
      max(col("tot_new")).as("tot_new"))
  }

  /** Kernel two-sample test over EMBEDDINGS — unbiased MMD² (maximum
    * mean discrepancy) with a polynomial kernel
    * `k(u,v) = (1 + ⟨u,v⟩/dim)²`: the drift gate for the vector tier,
    * where the scalar histograms above cannot see a distribution
    * rotate or collapse. A polynomial kernel (not RBF) keeps libm
    * `exp` out of the replay path — the kernel is one bit-exact dot
    * fold (ArrayKernels.dot ≡ the DuckDB list_reduce fold), one
    * division by the integer dim, one add, one multiply.
    *
    * Both sides reduce to a DETERMINISTIC bounded sample (the `cap`
    * lowest ids per side — layout-stable, engine-replayable) so the
    * three pair blocks cost cap² kernel evaluations regardless of
    * corpus size — the MMD estimate's error is O(1/√cap), so a fixed
    * cap is the statistically honest 100-TB shape, not a shortcut.
    * Engine parity: kernel values floor-quantize to the 1e-6 grid
    * (§5) before exact DECIMAL(28,6) partials; the three unbiased
    * normalizations divide once at the edge; diagonal (i=j) pairs
    * are excluded within sides. One output row:
    * m, n, term_xx, term_yy, term_xy, mmd2 (≈0 ⇒ same distribution).
    */
  def mmdPolynomial(emb: DataFrame, idCol: String, vecCol: String,
                    isNewCol: String, cap: Int = 200): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val base = emb.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"), col(isNewCol).as("is_new"))
    val w = Window.partitionBy(col("is_new")).orderBy(col("id"))
    val capped = base.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= cap).drop("__rn")
      .localCheckpoint(false)
    // (1 + dot/dim)² via explicit multiply — libm pow stays out
    def kTerm = {
      val kv = lit(1.0) +
        graft.expressions.Kernels.dotProduct(col("a.v"), col("b.v")) /
          size(col("a.v")).cast("double")
      floorGrid(kv * kv, 1e6).cast(DecimalType(28, 6))
    }
    def sideSum(isNew: Boolean): DataFrame = {
      val s = capped.filter(col("is_new") === isNew)
      s.as("a").join(s.as("b"), col("a.id") =!= col("b.id"))
        .agg(sum(kTerm).as("s"), count(lit(1)).as("np"))
    }
    val xx = sideSum(false).select(col("s").as("sxx"), col("np").as("nxx"))
    val yy = sideSum(true).select(col("s").as("syy"), col("np").as("nyy"))
    val xy = capped.filter(!col("is_new")).as("a")
      .join(capped.filter(col("is_new")).as("b"), lit(true))
      .agg(sum(kTerm).as("sxy"), count(lit(1)).as("nxy"))
    val cnt = capped.agg(
      sum(when(!col("is_new"), 1L).otherwise(0L)).as("m"),
      sum(when(col("is_new"), 1L).otherwise(0L)).as("n"))
    cnt.crossJoin(xx).crossJoin(yy).crossJoin(xy)
      .select(col("m"), col("n"),
        (col("sxx").cast("double") / col("nxx")).as("term_xx"),
        (col("syy").cast("double") / col("nyy")).as("term_yy"),
        (col("sxy").cast("double") / col("nxy")).as("term_xy"))
      .withColumn("mmd2",
        col("term_xx") + col("term_yy") - lit(2.0) * col("term_xy"))
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic — one row:
    * D = max over observed values of |ECDF_old − ECDF_new|, the
    * value where the max is attained (ties → smallest value), and
    * the slice sizes.
    *
    * Scale shape: the corpus collapses to the DISTINCT-value relation
    * in one partial-agg shuffle (exact per-value old/new counts);
    * both cumulative counts come from ONE two-phase distributed
    * prefix sum over the value order ([[PrefixSum.globalOrderedN]] —
    * never a single-partition global window); the ECDF quotients are
    * exact-long / exact-long (one IEEE divide, engine-identical), and
    * the argmax is a struct-max aggregate, no sort. Nothing here
    * needs a decimal partial: counts are integers and the only
    * doubles are compared, never summed.
    */
  /** Exact 1-D Wasserstein-1 (earth mover's) distance between the
    * old and new samples — `W₁ = ∫ |F_old(x) − F_new(x)| dx`, the
    * MAGNITUDE-aware drift scalar next to [[ksStatistic]]'s
    * worst-point statistic: KS says how badly the ECDFs disagree
    * somewhere, W₁ says how much probability mass moved how far (a
    * uniform +10 shift of every value moves KS to its 1.0 ceiling
    * but scores W₁ = 10 — the gate that distinguishes "everything
    * shifted a little" from "something is completely different").
    * Discretely: Σ over consecutive distinct values of
    * |ΔECDF| · (vᵢ₊₁ − vᵢ).
    *
    * Scale shape: the same collapsed distinct-value relation and ONE
    * [[PrefixSum.globalOrderedN]] pass as KS; the "next value" comes
    * from a co-keyed self-join on the emitted global rank (rank →
    * rank+1, ≤1 row per side, shuffled-hash) — never a global LEAD
    * window. Engine parity: ECDF quotients are exact-long divides,
    * each |ΔF|·Δx term floor-quantizes to the 1e-6 grid and sums as
    * DECIMAL(28,6) partials (§5: scale = grid scale; terms can
    * exceed unit magnitude through Δx), one cast at the edge.
    * Undefined when either side is empty (NULL out like KS's
    * guarded quotients).
    */
  def wassersteinW1(df: DataFrame, valueCol: String, isNewCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perVal = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("value"), col(isNewCol).cast("int").as("is_new"))
      .groupBy(col("value"))
      .agg(sum(lit(1) - col("is_new")).as("n_old_v"), sum(col("is_new")).as("n_new_v"))
    // consumed twice (current row + next-value probe): materialize the
    // prefix relation once so the second branch re-reads blocks
    val cum = PrefixSum.globalOrderedN(perVal, Seq(col("value")),
        Seq("n_old_v", "n_new_v"))
      .localCheckpoint(false)
    val nxt = cum.select((col("row_rank") - 1).as("row_rank"),
      col("value").as("__next_value"))
    val tot = perVal.agg(sum(col("n_old_v")).as("tot_old"),
      sum(col("n_new_v")).as("tot_new"),
      count(lit(1)).as("n_distinct_values"))
    val contrib = floor(abs(
        col("prefix_n_old_v") / when(col("tot_old") > 0, col("tot_old").cast("double"))
          - col("prefix_n_new_v") / when(col("tot_new") > 0, col("tot_new").cast("double")))
      * (col("__next_value") - col("value")) * lit(1e6)) / lit(1e6)
    val terms = cum.join(nxt.hint("shuffle_hash"), Seq("row_rank"))
      .crossJoin(broadcast(tot))
      .select(contrib.cast(DecimalType(28, 6)).as("__contrib"),
        col("tot_old"), col("tot_new"))
    terms.agg(
        sum(col("__contrib")).as("__w1"),
        count(lit(1)).as("__n_terms"))
      .crossJoin(broadcast(tot))
      .select(
        // a single distinct value has no terms: the distributions sit
        // on one point, distance 0 (but stay NULL when a side is
        // empty — no ECDF to integrate)
        when(col("tot_old") > 0 && col("tot_new") > 0,
          coalesce(col("__w1"),
            lit(java.math.BigDecimal.ZERO).cast(DecimalType(28, 6))))
          .cast("double").as("w1_distance"),
        col("n_distinct_values"), col("tot_old").as("n_old"),
        col("tot_new").as("n_new"))
  }

  /** Two-sample Cramér–von Mises statistic over the same old/new
    * split — the WHOLE-curve EDF distance next to KS's single worst
    * point: `T = (n·m/(n+m)²) · Σ_pooled (F(x) − G(x))²`, summing the
    * squared ECDF gap at every pooled observation (each distinct
    * value weighted by its multiplicity). More powerful than KS
    * against spread/tail differences that never open one large gap.
    *
    * Scale shape: the [[ksStatistic]] machinery exactly — distinct
    * (value, side) counts (checkpointed: prefix + totals consume it),
    * the two-phase [[PrefixSum]] for cumulative counts, then ONE
    * aggregate: each squared gap floor-grids to 1e-6 before its
    * DECIMAL cast and multiplies the exact integer weight in DECIMAL
    * (order-free partials); the n·m/(n+m)² factor is a fixed IEEE
    * sequence on the 1-row panel. An empty side yields NULL.
    */
  def cvmStatistic(df: DataFrame, valueCol: String, isNewCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val perVal = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("value"), col(isNewCol).cast("int").as("is_new"))
      .groupBy(col("value"))
      .agg(sum(lit(1) - col("is_new")).as("n_old_v"), sum(col("is_new")).as("n_new_v"))
      .ckptPartitioned()
    val cum = PrefixSum.globalOrderedN(perVal, Seq(col("value")),
      Seq("n_old_v", "n_new_v"))
    val tot = perVal.agg(sum(col("n_old_v")).as("tot_old"),
      sum(col("n_new_v")).as("tot_new"),
      count(lit(1)).as("n_distinct_values"))
    val diff =
      col("prefix_n_old_v") / when(col("tot_old") > 0, col("tot_old").cast("double")) -
      col("prefix_n_new_v") / when(col("tot_new") > 0, col("tot_new").cast("double"))
    val term = (col("n_old_v") + col("n_new_v")).cast(DecimalType(19, 0)) *
      (floor(diff * diff * lit(1e6)) / lit(1e6)).cast(DecimalType(28, 6))
    val agg = cum.crossJoin(broadcast(tot))
      .agg(sum(term).as("__s"), max(col("tot_old")).as("n_old"),
        max(col("tot_new")).as("n_new"),
        max(col("n_distinct_values")).as("n_distinct_values"))
    val no = col("n_old").cast("double")
    val nn = col("n_new").cast("double")
    agg.select(
      (col("__s").cast("double") * (no * nn / ((no + nn) * (no + nn))))
        .as("cvm_stat"),
      col("__s").cast("double").as("sum_sq_weighted"),
      col("n_distinct_values"), col("n_old"), col("n_new"))
  }

  def ksStatistic(df: DataFrame, valueCol: String, isNewCol: String): DataFrame = {
    val perVal = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).as("value"), col(isNewCol).cast("int").as("is_new"))
      .groupBy(col("value"))
      .agg(sum(lit(1) - col("is_new")).as("n_old_v"), sum(col("is_new")).as("n_new_v"))
    val cum = PrefixSum.globalOrderedN(perVal, Seq(col("value")),
      Seq("n_old_v", "n_new_v"))
    val tot = perVal.agg(sum(col("n_old_v")).as("tot_old"),
      sum(col("n_new_v")).as("tot_new"))
    val d = cum.crossJoin(broadcast(tot))
      .withColumn("__d_abs", abs(
        col("prefix_n_old_v") / when(col("tot_old") > 0, col("tot_old").cast("double"))
          - col("prefix_n_new_v") / when(col("tot_new") > 0, col("tot_new").cast("double"))))
    d.agg(max(struct(col("__d_abs"), (-col("value")).as("__neg_value"))).as("__m"),
        count(lit(1)).as("n_distinct_values"),
        max(col("tot_old")).as("n_old"), max(col("tot_new")).as("n_new"))
      .select(col("__m.__d_abs").as("d_stat"),
        (-col("__m.__neg_value")).as("at_value"),
        col("n_distinct_values"), col("n_old"), col("n_new"))
  }

  /** Distribution-FIT panel — which textbook family does a positive
    * measure actually follow? Normal, exponential and lognormal are
    * each fitted by MOMENTS (one scan: Σv, Σv², Σln v, Σln²v as
    * gridded decimal partials) and scored by the KS distance between
    * the empirical CDF and the fitted CDF, evaluated at every
    * distinct value with the proper two-sided staircase sup
    * (max of |F−F̂| and |F₋−F̂|). The verdict feeds simulation,
    * synthetic-data and tail-extrapolation choices; a bad best-fit
    * (large min distance) says "none of the above — look at the
    * histogram".
    *
    * Scale shape: the KS machinery's distinct-value collapse +
    * distributed prefix sums, one moments panel broadcast, three
    * mirrored CDF expressions per distinct value (Φ via the gridded
    * Horner erfc, exp/ln gridded per §5). Output: one row per
    * candidate family with its two parameters, the KS distance and
    * the argmin flag.
    */
  def distributionFit(df: DataFrame, valueCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d6 = DecimalType(28, 6)
    val base = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull && col("__v") > 0.0)
    val perVal = base.groupBy(col("__v")).agg(count(lit(1)).as("__n"))
    val cum = PrefixSum.globalOrderedN(perVal, Seq(col("__v")), Seq("__n"))
    val moms = base.agg(count(lit(1)).as("n"),
        sum(floorGrid(col("__v"), 1e6).cast(d6)).as("__sv"),
        sum(floorGrid(col("__v") * col("__v"), 1e6).cast(d6)).as("__svv"),
        sum(floorGrid(log(col("__v")), 1e6).cast(d6)).as("__sl"),
        sum(floorGrid(floorGrid(log(col("__v")), 1e6) * floorGrid(log(col("__v")), 1e6), 1e6).cast(d6)).as("__sll"))
      .select(col("n"),
        (col("__sv").cast("double") / col("n").cast("double")).as("__mu"),
        ((col("__svv").cast("double")
          - col("__sv").cast("double") * col("__sv").cast("double")
            / col("n").cast("double")) / col("n").cast("double")).as("__var"),
        (col("__sl").cast("double") / col("n").cast("double")).as("__mul"),
        ((col("__sll").cast("double")
          - col("__sl").cast("double") * col("__sl").cast("double")
            / col("n").cast("double")) / col("n").cast("double")).as("__varl"))
    // Φ(z) via the A&S 7.1.26 Horner erfc (valid for x ≥ 0; the sign
    // branch mirrors it): Φ = z<0 ? ½erfc(|z|/√2) : 1 − ½erfc(|z|/√2)
    def phi(z: Column): Column = {
      val x = abs(z) / lit(1.4142135623730951)
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
      val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
        + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
      val halfErfc = lit(0.5) * floorGrid(poly * exp(-(x * x)), 1e6)
      when(z < 0.0, halfErfc).otherwise(lit(1.0) - halfErfc)
    }
    val scored = cum.crossJoin(broadcast(moms))
      .withColumn("__fe", col("prefix___n").cast("double") / col("n").cast("double"))
      .withColumn("__fp",
        (col("prefix___n") - col("__n")).cast("double") / col("n").cast("double"))
      .withColumn("__norm", phi((col("__v") - col("__mu")) / sqrt(col("__var"))))
      .withColumn("__exp",
        lit(1.0) - floorGrid(exp(lit(-1.0) * col("__v") / col("__mu")), 1e6))
      .withColumn("__logn",
        phi((floorGrid(log(col("__v")), 1e6) - col("__mul")) / sqrt(col("__varl"))))
      .ckptPartitioned()
    def ksOf(fit: Column): Column =
      greatest(abs(col("__fe") - fit), abs(col("__fp") - fit))
    val panel = scored.agg(max(col("n")).as("n"),
      max(col("__mu")).as("mu"), max(col("__var")).as("vr"),
      max(col("__mul")).as("mul"), max(col("__varl")).as("varl"),
      max(ksOf(col("__norm"))).as("d_norm"),
      max(ksOf(col("__exp"))).as("d_exp"),
      max(ksOf(col("__logn"))).as("d_logn"))
    val rows = panel.select(lit("normal").as("dist_name"), col("n"),
        col("mu").as("param1"), sqrt(col("vr")).as("param2"),
        col("d_norm").as("ks_distance"))
      .unionAll(panel.select(lit("exponential").as("dist_name"), col("n"),
        (lit(1.0) / col("mu")).as("param1"), lit(null).cast("double").as("param2"),
        col("d_exp").as("ks_distance")))
      .unionAll(panel.select(lit("lognormal").as("dist_name"), col("n"),
        col("mul").as("param1"), sqrt(col("varl")).as("param2"),
        col("d_logn").as("ks_distance")))
      .ckptPartitioned()
    val best = rows.agg(min(col("ks_distance")).as("__b"))
    rows.crossJoin(broadcast(best))
      .select(col("dist_name"), col("n"), col("param1"), col("param2"),
        col("ks_distance"), (col("ks_distance") === col("__b")).as("is_best"))
  }
}
