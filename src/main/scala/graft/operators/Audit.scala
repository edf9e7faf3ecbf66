package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.Kernels.floorGrid

/** Referential-integrity audit across a star schema.
  *
  * The reference asserts row-count contracts per load
  * (valid+invalid == read, catalog row counts); the FK edges of its
  * constellation are only enforced implicitly by the load order. This
  * operator measures them: per relationship, how many fact rows carry
  * a NULL FK and how many carry a key the dimension does not have
  * (orphans) — the audit every warehouse runs after an out-of-order
  * or partial load.
  *
  * Scale shape: per edge ONE join (dim side deduped to its key —
  * broadcast while small, co-keyed shuffle at scale) collapsing into
  * a 1-row aggregate (map-side partials; the single-partition
  * exchange moves one row per task). No collect, no count() actions —
  * the result is a lazy 1-row frame per edge, unioned.
  */
object Audit {

  /** One audit row for the edge `fact.fk -> dim.dimKey`. */
  def fkIntegrity(fact: DataFrame, fk: String, dim: DataFrame, dimKey: String,
                  relationship: String): DataFrame = {
    val d = dim.select(col(dimKey).as("__dk")).distinct()
    fact.select(col(fk).as("__fk"))
      .join(d, col("__fk") === col("__dk"), "left")
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col("__fk").isNull, 1)).as("n_null_fk"),
        count(when(col("__fk").isNotNull && col("__dk").isNull, 1)).as("n_orphans"))
      .select(lit(relationship).as("relationship"),
        col("n_rows"), col("n_null_fk"), col("n_orphans"),
        (lit(100.0) * col("n_orphans") / col("n_rows")).as("orphan_pct"))
  }

  /** Audit a set of edges: (fact, fk, dim, dimKey, name) per edge. */
  def fkIntegrityAll(edges: Seq[(DataFrame, String, DataFrame, String, String)]): DataFrame =
    edges.map { case (f, fk, d, dk, n) => fkIntegrity(f, fk, d, dk, n) }
      .reduce(_ unionByName _)

  /** Bucketed reconciliation between two keyed snapshots (replica
    * check, post-migration diff, loader regression): each side
    * reduces to `nBuckets` rows of (row count, order-free identity
    * checksum, exact DECIMAL measure sum) — the per-bucket hash is a
    * SUM of md5-derived 32-bit integers, so it is associative across
    * 1000 executors and replayable by any engine with md5 — then ONE
    * tiny full-outer join of the two panels flags the buckets that
    * differ. Divergence localizes to a bucket (re-scan only that key
    * range), and the data itself never moves: total shuffle is
    * 2·nBuckets rows.
    *
    * Identity digest covers the key and `hashCols` rendered through
    * an explicit NULL sentinel (concat_ws would silently collapse
    * NULL columns); `measureCol` is reconciled as an exact decimal
    * sum rather than through the digest (float-to-string rendering is
    * engine-specific; decimal sums are not).
    *
    * The identity checksum is DOUBLE-STRANDED: an additive SUM of the
    * 32-bit digests plus an order-free XOR of the 60-bit digests
    * ([[Sampling.md5Long60]]). Either alone can be fooled by
    * compensating edits inside one bucket (two rows swapping their
    * hash-column values cancels in a sum; an even number of identical
    * edits cancels in an XOR) — fooling BOTH simultaneously requires
    * edits that preserve an additive 32-bit invariant and a 60-bit
    * XOR invariant at once, which no natural data drift does. Both
    * strands stay associative/commutative, so the panel remains one
    * partial-aggregatable pass.
    */
  def tableDiff(a: DataFrame, b: DataFrame, keyCol: String,
                hashCols: Seq[String], measureCol: String,
                nBuckets: Int = 64): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nBuckets >= 1, s"nBuckets=$nBuckets must be positive")
    def panel(df: DataFrame, suffix: String): DataFrame = {
      val digest32 = Sampling.md5Long32((keyCol +: hashCols).map(col))
      val digest60 = Sampling.md5Long60((keyCol +: hashCols).map(col))
      val bucket = pmod(Sampling.md5Long32(Seq(col(keyCol))), lit(nBuckets))
      df.withColumn("__graft_d60", digest60)
        .groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as(s"n_rows_$suffix"),
          sum(digest32).as(s"checksum_$suffix"),
          expr("bit_xor(__graft_d60)").as(s"xor_$suffix"),
          sum(graft.expressions.Kernels.toDecimal(col(measureCol).cast("double"), 28, 6)).as(s"measure_sum_$suffix"))
    }
    // ≤ nBuckets rows per side, ≤ 1 row per key: shuffled-hash keeps
    // the tiny full-outer sort-free (the Cdc.snapshotDiff steering).
    panel(a, "a").hint("shuffle_hash").join(panel(b, "b"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_rows_a"), lit(0L)).as("n_rows_a"),
        coalesce(col("n_rows_b"), lit(0L)).as("n_rows_b"),
        col("checksum_a"), col("checksum_b"),
        col("xor_a"), col("xor_b"),
        col("measure_sum_a").cast("double").as("measure_sum_a"),
        col("measure_sum_b").cast("double").as("measure_sum_b"),
        (coalesce(col("n_rows_a"), lit(0L)) === coalesce(col("n_rows_b"), lit(0L)) &&
          col("checksum_a") <=> col("checksum_b") &&
          col("xor_a") <=> col("xor_b") &&
          col("measure_sum_a") <=> col("measure_sum_b")).as("is_match"))
  }

  /** Grain-uniqueness audit — the reference's post-load grain-index
    * validation (`_validate_indexes.py` checks the unique index ON
    * `fct_trip`'s declared grain actually exists and holds) as a
    * portable relational assertion: every grain key appearing more
    * than once, with its multiplicity. EMPTY output = the grain
    * holds; any row is a pipeline bug (a MERGE that double-applied, a
    * dedup that missed). One partial-agg shuffle on the grain —
    * map-side combine collapses clean data to nearly nothing.
    */
  def grainViolations(df: DataFrame, grainCols: Seq[String]): DataFrame = {
    require(grainCols.nonEmpty, "grainViolations needs grain columns")
    df.groupBy(grainCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)
  }

  /** Benford first-digit audit of a positive measure — the classic
    * fabricated-data screen: observed first-significant-digit shares
    * vs Benford's law, with per-digit χ² terms and the total.
    *
    * The first digit comes from a CASE ladder over fixed powers of
    * ten (1e-6 … 1e8), NOT from log10/normalize-by-pow — engines
    * differ in the last ulp of libm log/pow (the repo rule), while
    * threshold compares + one divide + floor replay bit-for-bit.
    * The expected shares are fixed double LITERALS (log10(1+1/d)
    * precomputed once here, parsed identically by every engine), so
    * no log is ever evaluated at query time.
    *
    * Scale shape: one codegen'd scan + a ≤9-key partial agg; the χ²
    * total is panel math (grid-quantized DECIMAL partials, §5 rule).
    */
  /** Functional-dependency audit: does `determinant → dependent`
    * actually hold in the data? One summary row: total determinant
    * keys, keys carrying MORE than one distinct dependent value
    * (violations), the violation share, and the worst offender (max
    * distinct dependents; ties take the lexicographically largest
    * key — one struct-max, total order) — the
    * schema-assumption check next to [[grainViolations]]' uniqueness
    * audit: "can I safely denormalize/join on this?", answered by
    * measurement instead of hope. NULL dependents count as a value
    * of their own (a key mapping to both x and NULL is NOT
    * single-valued); NULL determinants are excluded (no key).
    *
    * Scale shape: one (key, value) partial-agg dedup + one key-keyed
    * count — the standard two-phase exact COUNT(DISTINCT) — then a
    * 1-row panel aggregate with a struct-max argmax. Clean data
    * collapses map-side to nearly nothing.
    */
  def fdCheck(df: DataFrame, determinant: String, dependent: String): DataFrame = {
    val perKey = df.filter(col(determinant).isNotNull)
      .select(col(determinant).cast("string").as("__k"),
        coalesce(col(dependent).cast("string"), lit("<NULL>")).as("__v"))
      .distinct()
      .groupBy(col("__k")).agg(count(lit(1)).as("__nd"))
    perKey.agg(
        count(lit(1)).as("n_keys"),
        sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_violating_keys"),
        max(struct(col("__nd").as("nd"), col("__k").as("k"))).as("__worst"))
      .select(col("n_keys"), col("n_violating_keys"),
        (col("n_violating_keys").cast("double") /
          when(col("n_keys") > 0, col("n_keys").cast("double")))
          .as("violation_share"),
        col("__worst.nd").as("max_distinct_dependents"),
        col("__worst.k").as("worst_key"))
  }

  /** Functional-dependency DISCOVERY over a column list — the search
    * twin of [[fdCheck]]'s single assertion: for every ordered pair
    * (A→B) of the given columns, how many determinant keys violate
    * the dependency and by how much. The profiling step that proposes
    * grain/hierarchy candidates (violation_share 0 = a real FD —
    * a key, a 1:1 code↔name pair, a hierarchy level) before anyone
    * hand-writes the fdCheck contracts.
    *
    * Scale shape: the projected base checkpoints once; each pair is
    * the fdCheck plan (pair-distinct → determinant-keyed partial agg
    * → 1-row panel), unioned. k columns cost k·(k−1) such passes
    * over the checkpointed base — a profiling batch job, bounded by
    * the declared column list, never by the schema.
    */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2 && cols.distinct.size == cols.size,
      s"fdDiscovery needs >= 2 distinct columns: $cols")
    val base = df.select(cols.map(c => col(c).cast("string").as(c)): _*)
      .localCheckpoint(false)
    val pairs = for { a <- cols; b <- cols if a != b } yield (a, b)
    pairs.map { case (a, b) =>
      val perKey = base.filter(col(a).isNotNull)
        .select(col(a).as("__k"), coalesce(col(b), lit("<NULL>")).as("__v"))
        .distinct()
        .groupBy(col("__k")).agg(count(lit(1)).as("__nd"))
      perKey.agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("__nd") > 1, 1L).otherwise(0L)).as("n_violating_keys"))
        .select(lit(a).as("determinant"), lit(b).as("dependent"),
          col("n_keys"), col("n_violating_keys"),
          (col("n_violating_keys").cast("double") /
            when(col("n_keys") > 0, col("n_keys").cast("double")))
            .as("violation_share"))
        .withColumn("fd_holds",
          col("n_keys") > 0 && col("n_violating_keys") === 0L)
    }.reduce(_ unionAll _)
  }

  def benfordDigits(df: DataFrame, valueCol: String): DataFrame = {
    // log10(1 + 1/d) for d = 1..9, to 17 significant digits
    val benford = Seq(
      0.30102999566398120, 0.17609125905568124, 0.12493873660829992,
      0.09691001300805642, 0.07918124604762482, 0.06694678963061322,
      0.05799194697768673, 0.05115252244738129, 0.04575749056067514)
    val v = abs(col(valueCol).cast("double"))
    // ascending fold → the LARGEST matching threshold ends outermost
    val scale = Seq(1e-6, 1e-5, 1e-4, 1e-3, 1e-2, 1e-1, 1e0,
        1e1, 1e2, 1e3, 1e4, 1e5, 1e6, 1e7, 1e8)
      .foldLeft(lit(null).cast("double")) { (acc, s) =>
        when(v >= s, lit(s)).otherwise(acc)
      }
    val digit = floor(v / scale).cast("int")
    val counts = df.filter(col(valueCol).isNotNull && v > 0)
      .groupBy(digit.as("digit")).agg(count(lit(1)).as("n_obs"))
      .filter(col("digit").between(1, 9))
    val tot = counts.agg(sum(col("n_obs")).as("__tot"))
    val spark = df.sparkSession
    import spark.implicits._
    val expected = benford.zipWithIndex
      .map { case (p, i) => (i + 1, p) }
      .toDF("digit", "exp_share")
    val perDigit = counts.crossJoin(broadcast(tot))
      .join(broadcast(expected), "digit")
      .withColumn("obs_share", col("n_obs") / col("__tot").cast("double"))
      .withColumn("chi2_term",
        (col("obs_share") - col("exp_share")) * (col("obs_share") - col("exp_share"))
          / col("exp_share"))
    val total = perDigit.agg(
      sum(graft.expressions.Kernels.toDecimal(
        floor(col("chi2_term") * lit(1e6)) / lit(1e6), 28, 6))
        .cast("double").as("chi2_total"))
    perDigit.crossJoin(broadcast(total))
      .select(col("digit"), col("n_obs"), col("obs_share"), col("exp_share"),
        col("chi2_term"), col("chi2_total"))
  }

  /** K-ANONYMITY / L-DIVERSITY audit over a quasi-identifier
    * combination — the privacy gate next to the GDPR-erasure path:
    * a quasi-identifier combo shared by fewer than `k` rows
    * re-identifies its members, and a combo whose rows all carry ONE
    * sensitive value leaks it even when k-anonymous (hence the
    * l-diversity column). Output is one row per observed combo with
    * its population, distinct sensitive values and both verdicts —
    * the panel a release process inspects (and suppresses unsafe
    * combos from) before publishing.
    *
    * Scale shape: one partial-agg shuffle on the (bounded by
    * construction: callers pass BINNED quasi columns) combo space;
    * the distinct-sensitive count is the standard two-phase distinct
    * aggregate. Everything is exact integers.
    */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, k: Int, l: Int): DataFrame = {
    require(quasiCols.nonEmpty && k >= 1 && l >= 1,
      s"kAnonymity needs quasi columns and positive k/l: $k/$l")
    df.filter(quasiCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(quasiCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(col(sensitiveCol)).as("n_sensitive"))
      .withColumn("k_anonymous", col("n_rows") >= k)
      .withColumn("l_diverse", col("n_sensitive") >= l)
  }

  /** ENTROPY l-diversity audit — the information-level tier between
    * [[kAnonymity]]'s count verdicts and [[tCloseness]]'s
    * distribution distance (Machanavajjhala et al. 2007): distinct-l
    * (the kAnonymity column) passes a combo that is 99% one diagnosis
    * with a trace second value, because COUNTING distinct values
    * ignores their balance; entropy l-diversity requires the
    * sensitive distribution to carry at least `ln l` nats
    * (H = −Σ p·ln p ≥ ln l), which only a genuinely mixed combo
    * clears. Output: one row per combo — population, distinct
    * sensitive count, entropy, and BOTH verdicts side by side (the
    * panel shows exactly where the distinct count over-promises).
    *
    * Engine parity: each share is an exact-count quotient; the p·ln p
    * term is full-entropy libm → floor-gridded 1e-6 before its
    * DECIMAL(28,6) order-free per-combo sum (§5, the tCloseness
    * discipline); the `ln l` threshold is ONE Scala-evaluated literal
    * embedded in BOTH engines' plans, so the boolean verdict compares
    * identical doubles against an identical constant.
    *
    * Scale shape: one (combo, sensitive) partial-agg scan over the
    * bounded binned-quasi space, one combo-keyed panel sum — the
    * kAnonymity shuffle with one extra panel column.
    */
  def lDiversityEntropy(df: DataFrame, quasiCols: Seq[String],
                        sensitiveCol: String, l: Int): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(quasiCols.nonEmpty && l >= 1,
      s"lDiversityEntropy needs quasi columns and positive l: $l")
    val cells = df
      .filter((quasiCols.map(col(_).isNotNull) :+ col(sensitiveCol).isNotNull)
        .reduce(_ && _))
      .groupBy((quasiCols.map(col) :+ col(sensitiveCol).as("__s")): _*)
      .agg(count(lit(1)).as("__n_cs"))
    val combos = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__n_cs")).as("n_rows"),
        count(lit(1)).as("n_sensitive"))
    cells.join(combos, quasiCols)
      .withColumn("__p", col("__n_cs").cast("double") / col("n_rows").cast("double"))
      .groupBy((quasiCols.map(col) :+ col("n_rows") :+ col("n_sensitive")): _*)
      .agg((-sum(floorGrid(col("__p") * log(col("__p")), 1e6)
        .cast(DecimalType(28, 6))).cast("double")).as("entropy"))
      .withColumn("distinct_l_diverse", col("n_sensitive") >= l)
      .withColumn("entropy_l_diverse", col("entropy") >= lit(math.log(l.toDouble)))
  }

  /** t-CLOSENESS audit — the distribution-level tier above
    * [[kAnonymity]]'s count verdicts (Li et al. 2007): a combo can be
    * k-anonymous AND l-diverse yet still leak because its sensitive
    * mix is far from the population's (a combo that is 95% one
    * diagnosis reveals it with high confidence even with 2 distinct
    * values present). For a categorical sensitive attribute the EMD
    * under the uniform ground metric is the variational distance
    * `½·Σ_s |p_combo(s) − p_global(s)|`; a release requires it ≤ t
    * for every combo.
    *
    * Scale shape: one (combo, sensitive) partial-agg scan (the combo
    * space is bounded by construction — callers pass BINNED quasi
    * columns), the full combo × sensitive grid materialized by a
    * broadcast cross join against the ≤k-value sensitive panel so
    * ABSENT values contribute their |0 − q_s| mass, one combo-keyed
    * panel sum. Engine parity: both shares are exact-long quotients;
    * the |p−q| term is full-entropy → gridded 1e-6 before its
    * DECIMAL(28,6) per-combo sum (§5), halved at the edge.
    */
  def tCloseness(df: DataFrame, quasiCols: Seq[String],
                 sensitiveCol: String, t: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(quasiCols.nonEmpty && t > 0 && t <= 1,
      s"tCloseness needs quasi columns and t in (0,1]: $t")
    val base = df
      .filter((quasiCols.map(col(_).isNotNull) :+ col(sensitiveCol).isNotNull)
        .reduce(_ && _))
      .localCheckpoint(false)
    val cells = base.groupBy((quasiCols.map(col) :+ col(sensitiveCol).as("__s")): _*)
      .agg(count(lit(1)).as("__n_cs"))
    val combos = cells.groupBy(quasiCols.map(col): _*)
      .agg(sum(col("__n_cs")).as("n_rows"))
    val global = base.groupBy(col(sensitiveCol).as("__s"))
      .agg(count(lit(1)).as("__n_s"))
    val totQ = global.agg(sum(col("__n_s")).as("__n"))
    val sens = global.crossJoin(broadcast(totQ))
      .select(col("__s"),
        (col("__n_s").cast("double") / col("__n").cast("double")).as("__q"))
    val grid = combos.crossJoin(broadcast(sens))
      .join(cells, quasiCols :+ "__s", "left")
      .withColumn("__p",
        coalesce(col("__n_cs"), lit(0L)).cast("double")
          / col("n_rows").cast("double"))
    grid.groupBy((quasiCols.map(col) :+ col("n_rows")): _*)
      .agg(sum(floorGrid(abs(col("__p") - col("__q")), 1e6)
        .cast(DecimalType(28, 6))).as("__d"))
      .withColumn("tv_distance", col("__d").cast("double") / lit(2.0))
      .withColumn("t_close", col("tv_distance") <= t)
      .drop("__d")
  }

  /** Differentially-private count release (the Laplace mechanism,
    * Dwork et al. 2006) made DETERMINISTIC: each group's count is
    * published with Laplace(sensitivity/ε) noise whose draw is a pure
    * function of the group key — `u` from the md5 uniform, the noise
    * via the inverse CDF `−b·sign(u−½)·ln(1−2|u−½|)` — so the release
    * is reproducible across runs, engines and layouts (a re-run can
    * never leak a fresh draw of the same statistic, which would
    * compound the privacy budget; the fixed draw spends ε once).
    *
    * Output per group: the true count (engineering observability —
    * the RELEASABLE projection drops `n_rows` and `noise`), the
    * grid-quantized noise, the noisy count, and the clamped integer
    * `released_count = max(0, floor(n + noise))` (post-processing
    * keeps DP).
    *
    * Scale shape: ONE partial-agg shuffle collapses the fact to the
    * group panel; the noise is stateless codegen arithmetic on the
    * panel. Engine parity: `u = (md5_32 + 0.5)/2³²` is never 0, ½ or
    * 1 (the ln argument stays in (0,1], the sign total); the `ln`
    * rides only the panel under the §5 1e-6 floor grid (the PSI/PMI
    * precedent), the final noise re-quantizes after its multiplies.
    */
  def dpNoisyCounts(df: DataFrame, groupCols: Seq[String],
                    epsilon: Double, sensitivity: Double = 1.0): DataFrame = {
    require(epsilon > 0 && sensitivity > 0,
      s"epsilon and sensitivity must be positive: $epsilon/$sensitivity")
    val b = sensitivity / epsilon
    val g = df.filter(groupCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
    val u = (Sampling.md5Long32(groupCols.map(col)).cast("double") + lit(0.5)) /
      lit(4294967296.0)
    val sign = when(u < 0.5, lit(-1.0)).otherwise(lit(1.0))
    val lnq = floorGrid(log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))), 1e6)
    val noise = floorGrid(lit(-b) * sign * lnq, 1e6)
    g.withColumn("noise", noise)
      .withColumn("noisy_count", col("n_rows").cast("double") + col("noise"))
      .withColumn("released_count",
        greatest(lit(0L), floor(col("noisy_count"))).cast("long"))
  }

  /** Differentially-private MEAN release — the value sibling of
    * [[dpNoisyCounts]]: values CLAMP into [lo, hi] (bounding each
    * row's influence — without the clamp the sum's sensitivity is
    * unbounded and no finite noise is private), the ε budget splits
    * evenly between the clamped sum (sensitivity max(|lo|, |hi|)) and
    * the count (sensitivity 1), each noised by the SAME deterministic
    * md5 inverse-CDF Laplace draw as the count release — salted
    * "sum" / "cnt" so the two draws are independent functions of the
    * group key — and the released mean is noisy_sum / noisy_count
    * with the count floored at 1 (a tiny group must not flip the sign
    * by a sub-1 noisy denominator).
    *
    * Scale shape: one partial-agg scan to the group panel; per-row
    * clamped values floor-grid to 1e-6 before their DECIMAL(28,6)
    * partials (§5 — reduction-order-free), draws and the mean are
    * panel math. True n/sum stay as observability columns; the
    * RELEASABLE projection is (group, released_mean).
    */
  def dpNoisyMean(df: DataFrame, groupCols: Seq[String], valueCol: String,
                  lo: Double, hi: Double, epsilon: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(epsilon > 0 && lo < hi,
      s"dpNoisyMean needs positive epsilon and lo < hi: $epsilon, [$lo, $hi]")
    val bSum = math.max(math.abs(lo), math.abs(hi)) / (epsilon / 2.0)
    val bCnt = 1.0 / (epsilon / 2.0)
    val clamped = least(lit(hi), greatest(lit(lo), col(valueCol).cast("double")))
    val g = df
      .filter((groupCols.map(col(_).isNotNull) :+ col(valueCol).isNotNull)
        .reduce(_ && _))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_rows"),
        sum(floorGrid(clamped, 1e6).cast(DecimalType(28, 6))).as("__cs"))
      .withColumn("clamped_sum", col("__cs").cast("double")).drop("__cs")
    def draw(salt: String, b: Double): Column = {
      val u = (Sampling.md5Long32(groupCols.map(col) :+ lit(salt))
        .cast("double") + lit(0.5)) / lit(4294967296.0)
      val sign = when(u < 0.5, lit(-1.0)).otherwise(lit(1.0))
      floorGrid(lit(-b) * sign * floorGrid(log(lit(1.0) - lit(2.0) * abs(u - lit(0.5))), 1e6), 1e6)
    }
    g.withColumn("noise_sum", draw("sum", bSum))
      .withColumn("noise_cnt", draw("cnt", bCnt))
      .withColumn("released_mean",
        (col("clamped_sum") + col("noise_sum")) /
          greatest(lit(1.0), col("n_rows").cast("double") + col("noise_cnt")))
  }

  /** k-anonymity by GENERALIZATION ladder — the third release
    * mechanism next to suppression ([[kAnonymity]]'s acting twin) and
    * noise ([[dpNoisyCounts]]): instead of dropping rare rows or
    * perturbing counts, coarsen the quasi-identifiers just enough.
    * `ladder(ℓ)(i)` is quasi-column i rendered (as STRING — one
    * schema across levels) at generalization level ℓ, finest first;
    * the release uses the FIRST level whose every equivalence class
    * reaches k rows, falling back to the coarsest level plus
    * suppression of its residual small classes — so the output is
    * k-anonymous by construction, with `gen_level` recording how much
    * resolution the data cost.
    *
    * Scale shape: rows project all levels' keys in one pass and
    * collapse ONCE to the finest-grain panel (levels are nested, so
    * the finest key determines the coarser ones); each level's
    * minimum class size is a panel aggregation collapsing to one row,
    * broadcast back — the level CHOICE stays in-plan, nothing
    * row-shaped touches the driver. The final suppression check is
    * one left-semi join against the chosen-level class panel.
    */
  def generalizeRelease(df: DataFrame, ladder: Seq[Seq[Column]],
                        names: Seq[String], k: Int): DataFrame = {
    require(ladder.nonEmpty && names.nonEmpty && k >= 1,
      s"generalizeRelease needs a ladder, names and positive k: $k")
    require(ladder.forall(_.size == names.size),
      s"every ladder level must render all ${names.size} quasi columns")
    val nL = ladder.size
    val nQ = names.size
    def g(l: Int, i: Int) = s"__g${l}_$i"
    val keyed = df.select(
      (for { l <- 0 until nL; i <- 0 until nQ }
        yield ladder(l)(i).cast("string").as(g(l, i))): _*)
      .filter((0 until nQ).map(i => col(g(0, i)).isNotNull).reduce(_ && _))
      .ckptPartitioned()
    val panel = keyed
      .groupBy((for { l <- 0 until nL; i <- 0 until nQ } yield col(g(l, i))): _*)
      .agg(count(lit(1)).as("__cnt"))
      .ckptPartitioned()
    def minAt(l: Int): DataFrame = panel
      .groupBy((0 until nQ).map(i => col(g(l, i))): _*)
      .agg(sum(col("__cnt")).as("__c"))
      .agg(min(col("__c")).as(s"__m$l"))
    val withMins = (0 until nL).foldLeft(keyed)((d, l) =>
      d.crossJoin(broadcast(minAt(l))))
    val lvl = (0 until nL - 1).foldRight(lit(nL - 1): Column)((l, acc) =>
      when(col(s"__m$l") >= k, lit(l)).otherwise(acc))
    val released = withMins.withColumn("gen_level", lvl.cast("int"))
      .select(
        (0 until nQ).map(i =>
          (0 until nL).foldRight(lit(null).cast("string"): Column)((l, acc) =>
            when(col("gen_level") === l, col(g(l, i))).otherwise(acc))
            .as(names(i))) :+ col("gen_level"): _*)
    val classes = released
      .groupBy(names.map(col): _*).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= k)
      .select(names.map(col): _*)
    // shuffled-hash, never sort-merge: the class panel is ≤ one row
    // per surviving combo (the suppress-release precedent) — both
    // sides hash on the quasi key, no per-partition sorts
    released.join(classes.hint("shuffle_hash"), names, "left_semi")
  }
}
