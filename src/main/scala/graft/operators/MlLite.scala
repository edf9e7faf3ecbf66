package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.expressions.Kernels.floorGrid

/** In-engine classical ML — the model-fitting steps a curation
  * pipeline runs WITHOUT leaving the lake (the reference runs its
  * analytics as in-warehouse SQL over the gold layer, e.g.
  * docs/queries/04_tendencias.sql's trend fits; this file widens that
  * to supervised fits over the same scan shapes). Everything here is
  * a fixed number of scans + panel-sized aggregates: no driver-side
  * iteration over rows, no per-row model state — the 100 TB form of
  * "train a small model on a big table".
  *
  * Engine parity follows §5: transcendental outputs (ln) are
  * floor-grid-quantized to the 1e-6 grid before entering DECIMAL
  * partial sums, so parallel reduction order and a last-ulp libm
  * disagreement can never flip a result; closed-form solves happen
  * in double arithmetic over decimal-exact moments with the operation
  * tree mirrored verbatim in the oracle.
  */
object MlLite {

  private val D6 = DecimalType(28, 6)

  /** Multinomial naive-Bayes language classifier, trained and scored
    * in one shot over the corpus (in-sample — the op is the fit
    * machinery, not a holdout benchmark; compose with
    * `sample_split_assign` for train/test).
    *
    * Per-class token log-likelihoods use add-one smoothing over the
    * corpus vocabulary V. The per-document score for class c is
    * rearranged so UNSEEN (class, token) pairs contribute exactly
    * zero and the whole thing becomes one inner join:
    *
    *   score(d, c) = ln(n_c/N) − |d|·ln(total_c + V)
    *                 + Σ_t tf(d,t) · ln(cnt(c,t) + 1)
    *
    * (missing pairs would add ln(0+1) = 0). The Σ term is an inner
    * join of the doc-term relation with the class-term panel — pair
    * volume is (tokens in d) × (classes containing that token), never
    * docs × vocab. Scale shape: two token-keyed partial-agg shuffles
    * (doc-term, class-term), one token-keyed join, one doc-keyed agg;
    * the class panel (priors + denominators) is broadcast. All ln
    * outputs are 1e-6-grid points summed as DECIMAL(28,6).
    *
    * Output: one row per (doc, class) collapsed to the argmax —
    * doc_id, the true label, pred label, the winning score, and the
    * margin over the runner-up (0 when only one class exists).
    */
  def naiveBayes(docs: DataFrame, idCol: String, textCol: String,
                 labelCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
        explode(graft.functions.TextOps.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
    val docTerm = tok.groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("tf")).localCheckpoint(false)
    val classTerm = tok.groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("cnt"))
    // class panel: priors and smoothed denominators (broadcast-sized)
    val nDocs = docs.agg(count(lit(1)).as("n_total"))
    val vocab = docTerm.select(col("token")).distinct()
      .agg(count(lit(1)).as("v"))
    val classPanel = docs.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_c"))
      .crossJoin(broadcast(nDocs)).crossJoin(broadcast(vocab))
      .join(classTerm.groupBy(col("label")).agg(sum(col("cnt")).as("total_c")),
        Seq("label"))
      .select(col("label"),
        floorGrid(log(col("n_c").cast("double") / col("n_total").cast("double")), 1e6)
          .as("log_prior"),
        floorGrid(log((col("total_c") + col("v")).cast("double")), 1e6).as("log_denom"))
    // Σ_t tf · ln(cnt+1): inner join on token, zero for unseen pairs
    val matchSum = docTerm
      .join(classTerm.select(col("label"),
          col("token"), floorGrid(log((col("cnt") + 1).cast("double")), 1e6).as("log_cnt1")),
        Seq("token"))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum((col("tf") * col("log_cnt1")).cast(D6)).as("match_sum"))
    val docPanel = docTerm.groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tok"))
      .join(docs.select(col(idCol).as("doc_id"), col(labelCol).as("true_label")),
        Seq("doc_id"))
    // left side is docs × classes, right side ≤ one row per (doc,
    // class): both bounded per key, so the shuffled-hash build side
    // is safe and the sort pass of an SMJ is pure waste (the
    // snapshot-diff convention)
    val scored = docPanel.crossJoin(broadcast(classPanel).as("cp"))
      .join(matchSum.hint("shuffle_hash"), Seq("doc_id", "label"), "left")
      .withColumn("score",
        (col("log_prior").cast(D6)
          - (col("n_tok") * col("log_denom")).cast(D6)
          + coalesce(col("match_sum"), lit(0).cast(D6))).cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    scored
      .withColumn("__rk", row_number().over(w))
      .withColumn("__next", lead(col("score"), 1).over(w))
      .filter(col("__rk") === 1)
      .select(col("doc_id"), col("true_label"), col("label").as("pred_label"),
        col("score"),
        coalesce(col("score") - col("__next"), lit(0.0)).as("margin"),
        (col("label") === col("true_label")).as("is_correct"))
  }

  /** K-fold CROSS-VALIDATED naive Bayes — the honest generalization
    * estimate next to [[naiveBayes]]'s in-sample fit, computed
    * WITHOUT training k separate models: every per-fold training
    * count is `global − fold` (counts are additive, so holding a
    * fold out is a subtraction, not a re-scan), and the per-fold
    * vocabulary is `V_global − |tokens exclusive to the fold|`. One
    * extra (fold, …) aggregation per relation buys all k models at
    * once — the trick that makes in-engine CV linear in corpus size
    * rather than k× it.
    *
    * Folds come from the md5-tiling idiom (`sample_kfold_assign`),
    * so membership is deterministic and engine-replayable. A class
    * with zero training docs for some fold drops out of that fold's
    * candidate set (its prior has no finite log). Scoring follows
    * [[naiveBayes]] §5 discipline verbatim.
    *
    * Output: one row per fold — fold_id, n_docs, n_correct,
    * accuracy (raw IEEE quotient).
    */
  def naiveBayesKFold(docs: DataFrame, idCol: String, textCol: String,
                      labelCol: String, folds: Int): DataFrame = {
    require(folds >= 2, s"folds=$folds must be >= 2")
    val tok = docs.select(col(idCol).as("doc_id"), col(labelCol).as("label"),
        explode(graft.functions.TextOps.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .withColumn("fold_id",
        floor((Sampling.md5Long32(Seq(col("doc_id"))) * lit(folds.toLong))
          .cast("double") / lit(4294967296.0)).cast("int"))
    val docTerm = tok.groupBy(col("doc_id"), col("fold_id"), col("token"))
      .agg(count(lit(1)).as("tf")).localCheckpoint(false)
    val ctg = tok.groupBy(col("label"), col("token"))
      .agg(count(lit(1)).as("cnt_g")).localCheckpoint(false)
    val ctf = tok.groupBy(col("fold_id"), col("label"), col("token"))
      .agg(count(lit(1)).as("cnt_f")).localCheckpoint(false)
    // per-fold vocabulary: V_g minus the tokens the fold holds all
    // occurrences of (token totals equal ⇒ absent from training)
    val tg = ctg.groupBy(col("token")).agg(sum(col("cnt_g")).as("any_g"))
    val tfTok = ctf.groupBy(col("fold_id"), col("token"))
      .agg(sum(col("cnt_f")).as("any_f"))
    val vg = tg.agg(count(lit(1)).as("v_g"))
    val vf = tfTok.join(tg, Seq("token"))
      .groupBy(col("fold_id"))
      .agg(sum(when(col("any_f") === col("any_g"), 1L).otherwise(0L))
        .as("__excl"))
      .crossJoin(broadcast(vg))
      .select(col("fold_id"), (col("v_g") - col("__excl")).as("v_train"))
    // per-fold class panel: doc counts and token totals by subtraction
    val docsF = docs.select(col(idCol).as("doc_id"), col(labelCol).as("label"))
      .withColumn("fold_id",
        floor((Sampling.md5Long32(Seq(col("doc_id"))) * lit(folds.toLong))
          .cast("double") / lit(4294967296.0)).cast("int"))
    val ncg = docsF.groupBy(col("label")).agg(count(lit(1)).as("n_c_g"))
    val ncf = docsF.groupBy(col("fold_id"), col("label"))
      .agg(count(lit(1)).as("n_c_f"))
    val nTot = docsF.agg(count(lit(1)).as("n_g"))
    val nFold = docsF.groupBy(col("fold_id")).agg(count(lit(1)).as("n_f"))
    val tcg = ctg.groupBy(col("label")).agg(sum(col("cnt_g")).as("tot_g"))
    val tcf = ctf.groupBy(col("fold_id"), col("label"))
      .agg(sum(col("cnt_f")).as("tot_f"))
    val allFolds = nFold.select(col("fold_id"))
    val classPanel = allFolds.crossJoin(ncg).crossJoin(broadcast(nTot))
      .join(nFold, Seq("fold_id"))
      .join(ncf, Seq("fold_id", "label"), "left")
      .join(tcg, Seq("label"))
      .join(tcf, Seq("fold_id", "label"), "left")
      .join(vf, Seq("fold_id"))
      .withColumn("n_c_tr", col("n_c_g") - coalesce(col("n_c_f"), lit(0L)))
      .filter(col("n_c_tr") > 0)
      .select(col("fold_id"), col("label"),
        floorGrid(log(col("n_c_tr").cast("double")
          / (col("n_g") - col("n_f")).cast("double")), 1e6).as("log_prior"),
        floorGrid(log(((col("tot_g") - coalesce(col("tot_f"), lit(0L)))
          + col("v_train")).cast("double")), 1e6).as("log_denom"))
    // Σ tf·ln(cnt_train+1): held-out counts subtract inside the join
    val matchSum = docTerm
      .join(ctg, Seq("token"))
      .join(ctf, Seq("fold_id", "label", "token"), "left")
      .withColumn("__cnt_tr", col("cnt_g") - coalesce(col("cnt_f"), lit(0L)))
      .groupBy(col("doc_id"), col("label"))
      .agg(sum((col("tf") * floorGrid(log((col("__cnt_tr") + 1).cast("double")), 1e6))
        .cast(D6)).as("match_sum"))
    val docPanel = docTerm.groupBy(col("doc_id"), col("fold_id"))
      .agg(sum(col("tf")).as("n_tok"))
      .join(docsF.select(col("doc_id"), col("label").as("true_label")),
        Seq("doc_id"))
    val scored = docPanel
      .join(broadcast(classPanel), Seq("fold_id"))
      .join(matchSum.hint("shuffle_hash"), Seq("doc_id", "label"), "left")
      .withColumn("score",
        (col("log_prior").cast(D6)
          - (col("n_tok") * col("log_denom")).cast(D6)
          + coalesce(col("match_sum"), lit(0).cast(D6))).cast("double"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .groupBy(col("fold_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("label") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        col("n_correct").cast("double") / col("n_docs").cast("double"))
  }

  /** Two-regressor OLS with intercept, solved closed-form from exact
    * moment sums (normal equations via Cramer's rule on the 3×3
    * system). One scan builds the nine moments as DECIMAL partials
    * (the double regressand is grid-quantized first so products stay
    * on a decimal grid — §5); the solve is pure double arithmetic
    * over the 1-row panel, mirrored operation-for-operation in the
    * oracle. R² comes from the same moments
    * (explained-SS / total-SS form), no second data pass.
    *
    * Output: 1 row — n, beta0, beta1, beta2, r2 (doubles; the betas
    * are raw IEEE quotients per the §5 quotient rule).
    */
  def olsTwoFeature(df: DataFrame, yCol: String, x1Col: String,
                    x2Col: String): DataFrame =
    ridgeTwoFeature(df, yCol, x1Col, x2Col, lambda = 0.0)

  /** Ridge variant of [[olsTwoFeature]]: `λ` adds to the centered
    * normal-equation diagonal (`(X'X + λI)β = X'y` on the centered
    * system; the intercept is never penalized — it falls out of the
    * centering). λ = 0 reproduces the OLS expression tree EXACTLY
    * (no `+ 0.0` term is emitted), so the OLS oracle stays
    * bit-identical. Same single-scan moment panel, same §5
    * discipline; shrinkage trades variance for bias and the r2
    * column reports the in-sample cost of that trade.
    */
  def ridgeTwoFeature(df: DataFrame, yCol: String, x1Col: String,
                      x2Col: String, lambda: Double): DataFrame = {
    require(lambda >= 0, s"lambda=$lambda must be non-negative")
    val rows = df.filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
      col(x2Col).isNotNull)
    val yq = floorGrid(col(yCol).cast("double"), 1e6)
    val x1 = col(x1Col).cast("double")
    val x2 = col(x2Col).cast("double")
    val m = rows.agg(
      count(lit(1)).cast("double").as("n"),
      sum(x1.cast(D6)).cast("double").as("sx1"),
      sum(x2.cast(D6)).cast("double").as("sx2"),
      sum(yq.cast(D6)).cast("double").as("sy"),
      sum((x1 * x1).cast(D6)).cast("double").as("sx1x1"),
      sum((x2 * x2).cast(D6)).cast("double").as("sx2x2"),
      sum((x1 * x2).cast(D6)).cast("double").as("sx1x2"),
      sum((x1 * yq).cast(D6)).cast("double").as("sx1y"),
      sum((x2 * yq).cast(D6)).cast("double").as("sx2y"),
      // yq² sits on the 1e-12 grid at >unit magnitude — §5 forbids a
      // scale-12 cast there; re-floor onto the 1e-6 grid first so the
      // scale-6 cast has no rounding decision to make
      sum(floorGrid(yq * yq, 1e6).cast(D6)).cast("double").as("syy"))
    // Cramer over the centered 2×2 system (the intercept eliminated):
    //   [a11 a12] [b1]   [c1]      a11 = Sx1x1 − Sx1²/n, …
    //   [a12 a22] [b2] = [c2]
    // Divisors go through the NULLIF convention (ana_trend_slope):
    // an empty input or a singular design yields NULL betas instead
    // of an ANSI divide-by-zero error — loud in the output, typed.
    def nz(d: Column): Column =
      when(d === 0.0, lit(null).cast("double")).otherwise(d)
    val n = nz(col("n"))
    def ridged(c: Column): Column =
      if (lambda == 0.0) c else c + lit(lambda)
    val a11u = col("sx1x1") - col("sx1") * col("sx1") / n
    val a22u = col("sx2x2") - col("sx2") * col("sx2") / n
    val a11 = ridged(a11u)
    val a22 = ridged(a22u)
    val a12 = col("sx1x2") - col("sx1") * col("sx2") / n
    val c1 = col("sx1y") - col("sx1") * col("sy") / n
    val c2 = col("sx2y") - col("sx2") * col("sy") / n
    val det = nz(a11 * a22 - a12 * a12)
    val b1 = (c1 * a22 - c2 * a12) / det
    val b2 = (c2 * a11 - c1 * a12) / det
    val b0 = (col("sy") - b1 * col("sx1") - b2 * col("sx2")) / n
    val sst = col("syy") - col("sy") * col("sy") / n
    // λ = 0: the OLS identity SSE = SST − β'c (unchanged expression
    // tree, keeps the OLS oracle bit-identical). λ > 0: the identity
    // no longer holds — expand the full quadratic form over the
    // UNpenalized moments.
    val sse =
      if (lambda == 0.0) sst - (b1 * c1 + b2 * c2)
      else sst - lit(2.0) * (b1 * c1 + b2 * c2) +
        (b1 * b1 * a11u + lit(2.0) * b1 * b2 * a12 + b2 * b2 * a22u)
    m.select(col("n").cast("long").as("n"),
      b0.as("beta0"), b1.as("beta1"), b2.as("beta2"),
      when(sst === 0.0, lit(0.0)).otherwise(lit(1.0) - sse / sst).as("r2"))
  }

  /** Grouped log–log elasticity — the economist's workhorse: per
    * group, the OLS slope of ln(quantity) on ln(price), which IS the
    * price elasticity of demand (a 1% price move changes quantity by
    * `elasticity`%), with the intercept and the log-log correlation
    * as fit evidence. Positive slopes flag data problems (or Giffen
    * goods) at a glance.
    *
    * Scale shape: ONE scan → a ≤-groups moment panel (both lns
    * floor-gridded to 1e-6 before their DECIMAL partials — the
    * psi/mSPRT gridded-libm convention; products re-floored onto the
    * grid before the scale-6 cast, §5), then fixed-order IEEE slope/
    * intercept/corr per group. Non-positive prices or quantities are
    * excluded (ln is undefined); degenerate groups (zero x-variance)
    * yield NULLs via the NULLIF convention, and correlation roots go
    * through the NULL-on-negative sqrt guard.
    */
  def logLogElasticity(df: DataFrame, groupCol: String, qtyCol: String,
                       priceCol: String): DataFrame = {
    val rows = df.filter(col(qtyCol).isNotNull && col(priceCol).isNotNull &&
        col(qtyCol) > 0 && col(priceCol) > 0)
      .select(col(groupCol).as("__g"),
        floorGrid(log(col(priceCol).cast("double")), 1e6).as("__x"),
        floorGrid(log(col(qtyCol).cast("double")), 1e6).as("__y"))
    val m = rows.groupBy(col("__g")).agg(
      count(lit(1)).as("n"),
      sum(col("__x").cast(D6)).cast("double").as("sx"),
      sum(col("__y").cast(D6)).cast("double").as("sy"),
      sum(floorGrid(col("__x") * col("__x"), 1e6).cast(D6)).cast("double").as("sxx"),
      sum(floorGrid(col("__x") * col("__y"), 1e6).cast(D6)).cast("double").as("sxy"),
      sum(floorGrid(col("__y") * col("__y"), 1e6).cast(D6)).cast("double").as("syy"))
    def nz(d: Column): Column =
      when(d === 0.0, lit(null).cast("double")).otherwise(d)
    def sqp(c: Column): Column =
      when(c < 0.0, lit(null).cast("double")).otherwise(sqrt(c))
    val nd = nz(col("n").cast("double"))
    val cxx = col("sxx") - col("sx") * col("sx") / nd
    val cxy = col("sxy") - col("sx") * col("sy") / nd
    val cyy = col("syy") - col("sy") * col("sy") / nd
    val slope = cxy / nz(cxx)
    val denom = sqp(cxx) * sqp(cyy)
    m.select(col("__g").as(groupCol), col("n"),
      slope.as("elasticity"),
      ((col("sy") - slope * col("sx")) / nd).as("intercept"),
      (cxy / nz(denom)).as("corr"))
  }

  /** OLS inference panel — [[olsTwoFeature]]'s fit plus the classical
    * coefficient inference a readout actually needs: σ̂² = SSE/(n−3),
    * standard errors from the centered (X'X)⁻¹ cofactors over the
    * SAME moment panel (the intercept's SE restores the means via
    * the quadratic form `1/n + x̄'C⁻¹x̄`), t statistics, and the
    * normal-approximation 5% verdicts (exact t quantiles are an
    * incomplete-beta surface — the welchTTest rule; at data-scale n
    * the normal approximation is textbook practice).
    *
    * Same single-scan decimal moment discipline as the ridge/OLS fit;
    * everything after the scan is fixed-order IEEE math on the 1-row
    * panel. Square roots go through a NULL-on-negative guard (a
    * numerically-degenerate SSE must not crash an ANSI engine), and
    * all divisors through the NULLIF convention.
    */
  def olsInference(df: DataFrame, yCol: String, x1Col: String,
                   x2Col: String): DataFrame = {
    val rows = df.filter(col(yCol).isNotNull && col(x1Col).isNotNull &&
      col(x2Col).isNotNull)
    val yq = floorGrid(col(yCol).cast("double"), 1e6)
    val x1 = col(x1Col).cast("double")
    val x2 = col(x2Col).cast("double")
    val m = rows.agg(
      count(lit(1)).cast("double").as("n"),
      sum(x1.cast(D6)).cast("double").as("sx1"),
      sum(x2.cast(D6)).cast("double").as("sx2"),
      sum(yq.cast(D6)).cast("double").as("sy"),
      sum((x1 * x1).cast(D6)).cast("double").as("sx1x1"),
      sum((x2 * x2).cast(D6)).cast("double").as("sx2x2"),
      sum((x1 * x2).cast(D6)).cast("double").as("sx1x2"),
      sum((x1 * yq).cast(D6)).cast("double").as("sx1y"),
      sum((x2 * yq).cast(D6)).cast("double").as("sx2y"),
      sum(floorGrid(yq * yq, 1e6).cast(D6)).cast("double").as("syy"))
    def nz(d: Column): Column =
      when(d === 0.0, lit(null).cast("double")).otherwise(d)
    def sqp(c: Column): Column =
      when(c < 0.0, lit(null).cast("double")).otherwise(sqrt(c))
    val n = nz(col("n"))
    val a11 = col("sx1x1") - col("sx1") * col("sx1") / n
    val a22 = col("sx2x2") - col("sx2") * col("sx2") / n
    val a12 = col("sx1x2") - col("sx1") * col("sx2") / n
    val c1 = col("sx1y") - col("sx1") * col("sy") / n
    val c2 = col("sx2y") - col("sx2") * col("sy") / n
    val det = nz(a11 * a22 - a12 * a12)
    val b1 = (c1 * a22 - c2 * a12) / det
    val b2 = (c2 * a11 - c1 * a12) / det
    val b0 = (col("sy") - b1 * col("sx1") - b2 * col("sx2")) / n
    val sst = col("syy") - col("sy") * col("sy") / n
    val sse = sst - (b1 * c1 + b2 * c2)
    val sigma2 = sse / nz(col("n") - lit(3.0))
    val se1 = sqp(sigma2 * a22 / det)
    val se2 = sqp(sigma2 * a11 / det)
    val m1 = col("sx1") / n
    val m2 = col("sx2") / n
    val quad = (m1 * m1 * a22 - lit(2.0) * m1 * m2 * a12 + m2 * m2 * a11) / det
    val se0 = sqp(sigma2 * (lit(1.0) / n + quad))
    val (t0, t1, t2) = (b0 / nz(se0), b1 / nz(se1), b2 / nz(se2))
    m.select(col("n").cast("long").as("n"),
      b0.as("beta0"), b1.as("beta1"), b2.as("beta2"),
      sigma2.as("sigma2"),
      se0.as("se0"), se1.as("se1"), se2.as("se2"),
      t0.as("t0"), t1.as("t1"), t2.as("t2"),
      (abs(t1) > 1.96).as("x1_significant_5pct"),
      (abs(t2) > 1.96).as("x2_significant_5pct"))
  }

  /** Logistic regression by full-batch gradient descent — the
    * iterative sibling of [[olsTwoFeature]]: `rounds` passes, each
    * ONE scan aggregating the gradient `Σ (σ(w·x) − y)·x_j` into a
    * 3+1-component panel, weights updated ON THE DRIVER over the
    * collected 1-row gradient (the kmeans/PCA panel-recurrence
    * convention: per-round driver traffic is a handful of scalars,
    * never data). The input relation is checkpointed once; round r's
    * scan carries round r−1's weights as literals, so the whole fit
    * is `rounds` map-side-combined aggregations — the 100 TB shape
    * for "train a small model on a big table".
    *
    * Engine parity (§5): features arrive grid-quantized from the
    * caller; σ(z) is floor-quantized to the 1e-6 grid per row (the
    * only transcendental — a last-ulp `exp` disagreement is masked
    * by the grid except on a measure-zero boundary, the accepted
    * ln-class risk); residual×feature products sit on the 1e-12 grid
    * at ≤ unit magnitude and sum as DECIMAL(38,12); the weight
    * update `floor((w − lr·(g/n))·1e6)/1e6` is pure IEEE arithmetic
    * an oracle replays as a chained CTE, round for round.
    *
    * Output: 1 row — n, the fitted weights (intercept first), and
    * in-sample accuracy at the 0.5 threshold (raw IEEE quotient).
    */
  def logisticRegression(df: DataFrame, yCol: String, xCols: Seq[String],
                         lr: Double, rounds: Int): DataFrame = {
    val (base, w) = logisticFit(df, yCol, xCols, lr, rounds)
    base.agg(
      count(lit(1)).as("n"),
      lit(w(0)).as("w0"), lit(w(1)).as("w1"),
      lit(w(2)).as("w2"), lit(w(3)).as("w3"),
      (sum(when((sigmoidQ(w) >= 0.5) === (col("y") === 1.0), 1L).otherwise(0L))
        .cast("double") / count(lit(1)).cast("double")).as("accuracy"))
  }

  /** Calibration (reliability) panel of the [[logisticRegression]]
    * fit: predicted probabilities bucketed into `bins` equal-width
    * bins, each reporting its size, mean predicted probability
    * (DECIMAL-exact over the 1e-6-grid p values) and the observed
    * positive rate — the curve that says whether "p = 0.8" means 80%.
    * One extra scan over the checkpointed fit relation; the panel is
    * ≤ `bins` rows.
    */
  def logisticCalibration(df: DataFrame, yCol: String, xCols: Seq[String],
                          lr: Double, rounds: Int, bins: Int): DataFrame = {
    require(bins >= 2, s"bins=$bins must be >= 2")
    val (base, w) = logisticFit(df, yCol, xCols, lr, rounds)
    val p = sigmoidQ(w)
    base
      .withColumn("bin",
        least(lit(bins - 1), floor(p * bins).cast("int")))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_rows"),
        (sum(p.cast(DecimalType(28, 6))).cast("double")
          / count(lit(1)).cast("double")).as("mean_p"),
        (sum(col("y").cast(DecimalType(28, 6))).cast("double")
          / count(lit(1)).cast("double")).as("pos_rate"))
  }

  /** Information-gain feature ranking — the decision-tree split
    * criterion as a standalone panel: for each (pre-binned) feature
    * column, `H(Y) − H(Y|X)` against a binary label; the
    * nonparametric "which features matter" answer next to the
    * logistic fit's coefficients. One scan explodes the feature
    * columns into a long (feature, value, label) relation, one
    * partial-agg shuffle counts cells, and the entropies stay in
    * count-weighted form (`Σ n·ln(n/total)` with 1e-6-grid ln terms,
    * integer × grid products into DECIMAL partials — §5; the final
    * `/n` is one IEEE division), so no fractional entropy ever
    * enters a decimal sum.
    *
    * Output: one row per feature — feature, n_values (distinct bins),
    * entropy_y, cond_entropy, info_gain (nats).
    */
  def infoGain(df: DataFrame, yCol: String,
               featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "infoGain needs at least one feature")
    val lnq = (c: Column) => floorGrid(log(c), 1e6)
    val cells = cellsOf(df, yCol, featureCols)
    val perVal = cells.groupBy(col("feature"), col("fval"))
      .agg(sum(col("n_vc")).as("n_v"))
    // conditional term per feature: Σ_v Σ_c n_vc · ln(n_vc / n_v)
    val cond = cells.join(perVal, Seq("feature", "fval"))
      .groupBy(col("feature"))
      .agg(sum((col("n_vc") * lnq(col("n_vc").cast("double")
          / col("n_v").cast("double"))).cast(D6)).as("__sx"),
        countDistinct(col("fval")).as("n_values"),
        sum(col("n_vc")).as("__n"))
    // label term (identical for every feature — from the first one)
    val labelTerm = cells.filter(col("feature") === featureCols.head)
      .groupBy(col("y")).agg(sum(col("n_vc")).as("n_c"))
      .crossJoin(broadcast(
        cells.filter(col("feature") === featureCols.head)
          .agg(sum(col("n_vc")).as("n_t"))))
      .agg(sum((col("n_c") * lnq(col("n_c").cast("double")
        / col("n_t").cast("double"))).cast(D6)).as("__sy"))
    cond.crossJoin(broadcast(labelTerm))
      .select(col("feature"), col("n_values"),
        (negate(col("__sy").cast("double")) / col("__n").cast("double"))
          .as("entropy_y"),
        (negate(col("__sx").cast("double")) / col("__n").cast("double"))
          .as("cond_entropy"),
        ((col("__sx") - col("__sy")).cast("double") / col("__n").cast("double"))
          .as("info_gain"))
  }

  /** One shared (feature, value, label) count panel for the
    * tree-criterion family. */
  private def cellsOf(df: DataFrame, yCol: String,
                      featureCols: Seq[String]): DataFrame =
    df.filter(col(yCol).isNotNull &&
        featureCols.map(col(_).isNotNull).reduce(_ && _))
      .select(col(yCol).cast("long").as("y"),
        explode(array(featureCols.map(f =>
          struct(lit(f).as("feature"), col(f).cast("long").as("fval"))): _*))
          .as("fx"))
      .select(col("y"), col("fx.feature").as("feature"), col("fx.fval").as("fval"))
      .groupBy(col("feature"), col("fval"), col("y"))
      .agg(count(lit(1)).as("n_vc")).localCheckpoint(false)

  /** DECISION STUMP over a binary label: the best single `feature ≤
    * threshold` split by information gain, with majority-vote leaf
    * predictions and the stump's training accuracy — the weakest
    * useful tree, and the unit a boosting loop would stack. After
    * the one [[cellsOf]] scan EVERYTHING is panel math: per-feature
    * cumulative (count, positive) prefixes over the ordered bins
    * give every candidate split's left/right class counts without
    * touching the data again; candidate volume is Σ bins per
    * feature. Zero-count sides contribute zero entropy (the 0·ln 0
    * convention, guarded). Ties break (gain desc, feature, threshold)
    * so the pick is total-ordered.
    *
    * Output: 1 row — feature, threshold, info_gain, left_pred,
    * right_pred, accuracy.
    */
  def decisionStump(df: DataFrame, yCol: String,
                    featureCols: Seq[String]): DataFrame = {
    require(featureCols.nonEmpty, "decisionStump needs at least one feature")
    val lnq = (c: Column) => floorGrid(log(c), 1e6)
    val cells = cellsOf(df, yCol, featureCols)
    val perVal = cells.groupBy(col("feature"), col("fval"))
      .agg(sum(col("n_vc")).as("n_v"),
        sum(when(col("y") === 1L, col("n_vc")).otherwise(0L)).as("pos_v"))
    val wf = Window.partitionBy(col("feature")).orderBy(col("fval"))
    val totals = perVal.groupBy(col("feature"))
      .agg(sum(col("n_v")).as("n"), sum(col("pos_v")).as("pos"),
        max(col("fval")).as("__maxv"))
    val cand = perVal
      .withColumn("n_le", sum(col("n_v")).over(
        wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pos_le", sum(col("pos_v")).over(
        wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(totals), Seq("feature"))
      .filter(col("fval") < col("__maxv")) // last bin: empty right side
      .withColumn("n_gt", col("n") - col("n_le"))
      .withColumn("pos_gt", col("pos") - col("pos_le"))
    // count-weighted split entropy with the 0·ln0 = 0 guard
    def term(nc: Column, ns: Column): Column =
      when(nc > 0L,
        (nc * lnq(nc.cast("double") / ns.cast("double"))).cast(D6))
        .otherwise(lit(0).cast(D6))
    val scored = cand.withColumn("__sx",
        term(col("pos_le"), col("n_le"))
          + term(col("n_le") - col("pos_le"), col("n_le"))
          + term(col("pos_gt"), col("n_gt"))
          + term(col("n_gt") - col("pos_gt"), col("n_gt")))
      .withColumn("__sy",
        term(col("pos"), col("n")) + term(col("n") - col("pos"), col("n")))
      .withColumn("info_gain",
        (col("__sx") - col("__sy")).cast("double") / col("n").cast("double"))
      .withColumn("left_pred",
        when(col("pos_le") * 2L > col("n_le"), 1L).otherwise(0L))
      .withColumn("right_pred",
        when(col("pos_gt") * 2L > col("n_gt"), 1L).otherwise(0L))
      .withColumn("accuracy",
        (greatest(col("pos_le"), col("n_le") - col("pos_le"))
          + greatest(col("pos_gt"), col("n_gt") - col("pos_gt")))
          .cast("double") / col("n").cast("double"))
    val rank = Window.orderBy(col("info_gain").desc, col("feature"), col("fval"))
    scored.withColumn("__rk", row_number().over(rank))
      .filter(col("__rk") === 1)
      .select(col("feature"), col("fval").as("threshold"),
        col("info_gain"), col("left_pred"), col("right_pred"),
        col("accuracy"))
  }

  /** ADABOOST over decision stumps — `rounds` boosting iterations on
    * the COLLAPSED feature-combo panel: rows with identical
    * (features, label) always share a weight, so the row-level weight
    * distribution lives on the distinct-combo panel (≤ Π |bins| rows)
    * and every boosting pass is panel math after ONE data scan — the
    * trick that makes in-engine boosting independent of table size.
    *
    * Per round: the weighted-error-minimal `feature ≤ threshold`
    * stump over BOTH polarities (ties → lower error, then feature,
    * threshold, polarity A), ε clamped to [1e-6, 1−1e-6],
    * `α = ½·ln((1−ε)/ε)` on the 1e-6 ln grid, and the classic
    * rescale update `m/(2ε)` (misclassified) vs `m/(2(1−ε))`
    * (correct) — no exp, masses re-floored onto the 1e-12 grid so
    * every ε is an exact DECIMAL(38,12) sum (§5). The driver sees
    * one scalar row per round (the kmeans/logreg recurrence
    * discipline).
    *
    * Output: one row per round — round, feature, threshold,
    * polarity ('A' = left→1, 'B' = left→0), epsilon, alpha, and the
    * CUMULATIVE ensemble's training accuracy after that round (the
    * boosting curve).
    */
  def adaboostStumps(df: DataFrame, yCol: String, featureCols: Seq[String],
                     rounds: Int): DataFrame = {
    require(featureCols.nonEmpty && rounds >= 1,
      s"adaboost needs features and rounds >= 1: $featureCols, $rounds")
    val d12 = DecimalType(38, 12)
    val combos = df
      .filter(col(yCol).isNotNull &&
        featureCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(col(yCol).cast("long").as("y") +:
        featureCols.map(f => col(f).cast("long").as(f)): _*)
      .agg(count(lit(1)).as("n_j"))
      .ckptPartitioned()
    val nTotal = combos.agg(sum(col("n_j")).as("n")).collect()
      .head.getAs[Long]("n").toDouble
    // initial mass: n_j/n floored to the 1e-12 grid
    var panel = combos.withColumn("m",
      floorGrid(col("n_j").cast("double") / lit(nTotal), 1e12)).ckptPartitioned()
    final case class Stump(feature: String, thr: Long, polA: Boolean,
                           eps: Double, alpha: Double)
    var model = List.empty[Stump]
    for (_ <- 1 to rounds) {
      val perVal = panel.select(col("y"), col("m"),
          explode(array(featureCols.map(f =>
            struct(lit(f).as("feature"), col(f).as("fval"))): _*)).as("fx"))
        .groupBy(col("fx.feature").as("feature"), col("fx.fval").as("fval"))
        .agg(sum(when(col("y") === 1L, col("m").cast(d12))
          .otherwise(lit(0).cast(d12))).as("mp"),
          sum(when(col("y") === 0L, col("m").cast(d12))
            .otherwise(lit(0).cast(d12))).as("mn"))
      val wf = Window.partitionBy(col("feature")).orderBy(col("fval"))
      val totals = perVal.groupBy(col("feature"))
        .agg(sum(col("mp")).as("pos"), sum(col("mn")).as("neg"),
          max(col("fval")).as("__maxv"))
      // masses are <= 1, so the sums fit DECIMAL(18,12) with room to
      // spare — narrowing them BEFORE the error arithmetic keeps the
      // adds exact at scale 12 (two (38,12) operands would overflow
      // precision 38 and Spark's precision-loss rule silently cuts
      // the scale to 10, which diverges from DuckDB's widening adds)
      val d18 = DecimalType(18, 12)
      val cand = perVal
        .withColumn("mp_le", sum(col("mp")).over(
          wf.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(d18))
        .withColumn("mn_le", sum(col("mn")).over(
          wf.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(d18))
        .join(broadcast(totals), Seq("feature"))
        .filter(col("fval") < col("__maxv"))
        .withColumn("err_a",
          (col("mn_le") + (col("pos").cast(d18) - col("mp_le"))).cast("double"))
        .withColumn("err_b",
          (col("mp_le") + (col("neg").cast(d18) - col("mn_le"))).cast("double"))
        .withColumn("err", least(col("err_a"), col("err_b")))
        .withColumn("pol_a", !(col("err_b") < col("err_a")))
      val rank = Window.orderBy(col("err"), col("feature"), col("fval"))
      val best = cand.withColumn("__rk", row_number().over(rank))
        .filter(col("__rk") === 1)
        .select(col("feature"), col("fval"), col("pol_a"), col("err"))
        .collect().head
      val eps0 = best.getAs[Double]("err")
      val eps = math.max(1e-6, math.min(1.0 - 1e-6, eps0))
      val alpha =
        0.5 * (math.floor(math.log((1.0 - eps) / eps) * 1e6) / 1e6)
      val st = Stump(best.getAs[String]("feature"), best.getAs[Long]("fval"),
        best.getAs[Boolean]("pol_a"), eps, alpha)
      model = st :: model
      val predicted =
        if (st.polA) when(col(st.feature) <= st.thr, 1L).otherwise(0L)
        else when(col(st.feature) <= st.thr, 0L).otherwise(1L)
      panel = panel.withColumn("m",
          when(predicted =!= col("y"),
            floorGrid(col("m") / (lit(2.0) * lit(eps)), 1e12))
            .otherwise(floorGrid(col("m") / (lit(2.0) * (lit(1.0) - lit(eps))), 1e12)))
        .ckptPartitioned()
    }
    val stumps = model.reverse.toArray
    // final pass: cumulative ensemble accuracy after each round
    val rows = stumps.zipWithIndex.map { case (_, t) =>
      val score = stumps.take(t + 1).map { s =>
        val h =
          if (s.polA) when(col(s.feature) <= s.thr, lit(1.0)).otherwise(lit(-1.0))
          else when(col(s.feature) <= s.thr, lit(-1.0)).otherwise(lit(1.0))
        h * lit(s.alpha)
      }.reduce(_ + _)
      val pred = when(score > 0.0, 1L).otherwise(0L)
      combos.agg(
        (sum(when(pred === col("y"), col("n_j")).otherwise(0L)).cast("double")
          / sum(col("n_j")).cast("double")).as("ensemble_accuracy"))
        .select(lit(t + 1).as("round"),
          lit(stumps(t).feature).as("feature"),
          lit(stumps(t).thr).as("threshold"),
          lit(if (stumps(t).polA) "A" else "B").as("polarity"),
          lit(stumps(t).eps).as("epsilon"),
          lit(stumps(t).alpha).as("alpha"),
          col("ensemble_accuracy"))
    }
    rows.reduce(_ unionByName _)
  }

  /** Smoothed LEAVE-ONE-OUT target encoding — the feature-engineering
    * move that turns a high-cardinality categorical into one numeric
    * column (the mean target of the category) WITHOUT leaking each
    * row's own label into its own feature:
    *
    *   enc_i = (Σy(cat) − y_i + m·ȳ) / (n(cat) − 1 + m)
    *
    * — own-row excluded (the LOO rule; naive mean encoding leaks the
    * label and a downstream fit overfits on it), shrunk toward the
    * global prior ȳ by the smoothing pseudo-count m so rare
    * categories don't encode as their own noise (a singleton encodes
    * exactly as the prior's IEEE quotient).
    *
    * Scale shape: ONE category-keyed partial agg builds the (n, Σy)
    * panel (broadcast while small, co-keyed shuffle at scale — no
    * forced hint), the 1-row global panel broadcasts, the encode is
    * a stateless codegen pass over the fact. Engine parity: Σy are
    * exact DECIMAL(18,2) money sums, the encode is one fixed IEEE op
    * sequence over exact operands (subtract in decimal, then cast),
    * the prior a raw quotient.
    */
  def targetEncode(df: DataFrame, idCol: String, catCol: String,
                   yCol: String, smoothing: Double = 20.0): DataFrame = {
    require(smoothing > 0, s"smoothing must be positive: $smoothing")
    val money = (c: Column) =>
      graft.expressions.Kernels.toDecimal(c.cast("double"), 18, 2)
    val base = df.filter(col(catCol).isNotNull && col(yCol).isNotNull)
      .select(col(idCol).as("id"), col(catCol).as("cat"),
        money(col(yCol)).as("yv"))
    val cats = base.groupBy(col("cat"))
      .agg(count(lit(1)).as("n_cat"),
        sum(col("yv")).cast(DecimalType(18, 2)).as("sy_cat"))
    val global = base.agg(
        (sum(col("yv")).cast("double") / count(lit(1)).cast("double"))
          .as("prior"))
    base.join(cats, Seq("cat"))
      .crossJoin(broadcast(global))
      .select(col("id"), col("cat"),
        col("yv").cast("double").as("y"),
        col("n_cat"), col("prior"),
        (((col("sy_cat") - col("yv")).cast("double")
          + lit(smoothing) * col("prior"))
          / ((col("n_cat") - lit(1L)).cast("double") + lit(smoothing)))
          .as("encoded"))
  }

  /** GRADIENT-BOOSTED stump REGRESSION (squared loss) — the
    * regression sibling of [[adaboostStumps]], run on the same
    * collapsed feature-combo panel: because every row sharing a
    * feature combo receives the SAME ensemble prediction, the model
    * state is one double per distinct combo (≤ Π |bins| rows) and
    * each boosting round is panel math after ONE data scan.
    *
    * Per round (classic least-squares boosting, Friedman 2001): the
    * per-combo residual mass `s_j = Σy_j − n_j·F_j`, the best
    * `feature ≤ threshold` split by the SSE-reduction score
    * `s_L²/n_L + s_R²/n_R` (ties → feature, threshold), leaf values
    * `γ = s/n` (the residual means), and the shrunk update
    * `F ← F + η·γ_leaf`. The driver sees one scalar row per round
    * (the adaboost/kmeans recurrence discipline).
    *
    * Engine parity: per-combo Σy / Σy² are exact DECIMAL money sums;
    * residual masses are full-entropy doubles so they floor-quantize
    * to the 1e-6 grid before their DECIMAL(28,6) partials (§5, with
    * the prefix sums narrowed to DECIMAL(18,6) before subtraction —
    * the decimal-add precision rule); γ quantizes after its division,
    * η must be dyadic (default ¼) so `η·γ` is an exact IEEE scaling;
    * the tracked MSE is the same quantize-then-sum shape.
    *
    * Output: one row per round — round, feature, threshold,
    * gamma_left, gamma_right, and the ensemble's training MSE after
    * the update (the boosting curve a learning-rate choice reads).
    */
  def gbtStumpsRegression(df: DataFrame, yCol: String,
                          featureCols: Seq[String], rounds: Int,
                          eta: Double = 0.25): DataFrame = {
    require(featureCols.nonEmpty && rounds >= 1,
      s"gbt needs features and rounds >= 1: $featureCols, $rounds")
    require(eta > 0 && eta <= 1 &&
        java.lang.Double.doubleToLongBits(eta) ==
          java.lang.Double.doubleToLongBits(
            math.pow(2, math.getExponent(eta))),
      s"eta must be a positive power of two (exact IEEE scaling): $eta")
    val d4 = DecimalType(28, 4)
    val d18 = DecimalType(18, 6)
    val money = (c: Column) =>
      graft.expressions.Kernels.toDecimal(c.cast("double"), 18, 2)
    val combos = df
      .filter(col(yCol).isNotNull &&
        featureCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(featureCols.map(f => col(f).cast("long").as(f)): _*)
      .agg(count(lit(1)).as("n_j"),
        sum(money(col(yCol))).cast(DecimalType(18, 2)).as("sy"),
        sum((money(col(yCol)) * money(col(yCol))).cast(d4)).cast(d4).as("syy"))
      .ckptPartitioned()
    val tot = combos.agg(sum(col("n_j")).as("n"),
        sum(col("sy")).cast("double").as("sy")).collect().head
    val f0 = math.floor(tot.getAs[Double]("sy") /
      tot.getAs[Long]("n").toDouble * 1e6) / 1e6
    var panel = combos.withColumn("f", lit(f0)).ckptPartitioned()
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, Double, Double, Double)]
    for (r <- 1 to rounds) {
      val resid = panel.withColumn("s",
        floorGrid(col("sy").cast("double") - col("n_j").cast("double") * col("f"), 1e6))
      val perVal = resid.select(col("s"), col("n_j"),
          explode(array(featureCols.map(f =>
            struct(lit(f).as("feature"), col(f).as("fval"))): _*)).as("fx"))
        .groupBy(col("fx.feature").as("feature"), col("fx.fval").as("fval"))
        .agg(sum(col("s").cast(D6)).as("sr"), sum(col("n_j")).as("nv"))
      val wf = Window.partitionBy(col("feature")).orderBy(col("fval"))
      val totals = perVal.groupBy(col("feature"))
        .agg(sum(col("sr")).cast(d18).as("st"), sum(col("nv")).as("nt"),
          max(col("fval")).as("__maxv"))
      val cand = perVal
        .withColumn("s_le", sum(col("sr")).over(
          wf.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast(d18))
        .withColumn("n_le", sum(col("nv")).over(
          wf.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .join(broadcast(totals), Seq("feature"))
        .filter(col("fval") < col("__maxv"))
        .withColumn("sl", col("s_le").cast("double"))
        .withColumn("sg", (col("st") - col("s_le")).cast("double"))
        .withColumn("nl", col("n_le").cast("double"))
        .withColumn("ng", (col("nt") - col("n_le")).cast("double"))
        .withColumn("gain",
          col("sl") * col("sl") / col("nl") + col("sg") * col("sg") / col("ng"))
        .withColumn("gamma_l", floorGrid(col("sl") / col("nl"), 1e6))
        .withColumn("gamma_r", floorGrid(col("sg") / col("ng"), 1e6))
      val rank = Window.orderBy(col("gain").desc, col("feature"), col("fval"))
      val bestRows = cand.withColumn("__rk", row_number().over(rank))
        .filter(col("__rk") === 1)
        .select(col("feature"), col("fval"), col("gamma_l"), col("gamma_r"))
        .collect()
      require(bestRows.nonEmpty,
        "gbt: no candidate split (every feature has a single bin)")
      val best = bestRows.head
      val (feat, thr) = (best.getAs[String]("feature"), best.getAs[Long]("fval"))
      val (gl, gr) = (best.getAs[Double]("gamma_l"), best.getAs[Double]("gamma_r"))
      panel = panel.withColumn("f",
          col("f") + when(col(feat) <= thr, lit(eta * gl))
            .otherwise(lit(eta * gr)))
        .ckptPartitioned()
      val mse = panel.agg(
          (sum(floorGrid(col("syy").cast("double")
            - lit(2.0) * col("f") * col("sy").cast("double")
            + col("n_j").cast("double") * col("f") * col("f"), 1e6).cast(D6))
            .cast("double") / sum(col("n_j")).cast("double")).as("mse"))
        .collect().head.getAs[Double]("mse")
      out += ((r, feat, thr, gl, gr, mse))
    }
    val spark = df.sparkSession
    import spark.implicits._
    out.toSeq.toDF("round", "feature", "threshold",
      "gamma_left", "gamma_right", "train_mse")
  }

  /** Precision/recall curve of the [[logisticRegression]] fit: one
    * row per decision threshold with exact confusion counts and the
    * derived precision, recall and F1 — the operating-point menu a
    * deployment picks from (the threshold is a BUSINESS choice; this
    * panel prices each option). One scan over the checkpointed fit
    * relation crossed with the broadcast threshold panel; counts are
    * exact longs, ratios raw IEEE quotients with the NULLIF-style
    * zero guard.
    */
  /** Exact ROC AUC by the rank-sum identity — AUC equals the
    * probability a random positive outscores a random negative, which
    * is the Mann–Whitney U of the positive class normalized by
    * n_pos·n_neg; ties contribute ½ through midranks, exactly the
    * trapezoidal ROC convention. The standard threshold-sweep
    * construction needs a global sort of every score; the rank
    * identity needs only the DISTINCT-score panel through the
    * two-phase prefix sum — same machinery as mannWhitney, so AUC on
    * 10¹² rows costs one partial-agg shuffle + a panel pass.
    *
    * Midrank products sum as exact DECIMAL(28,1) (half-integer grid),
    * so parallel reduction order cannot move the third decimal of
    * AUC. Output: n_pos, n_neg, auc, gini (= 2·AUC − 1).
    */
  def aucRoc(df: DataFrame, scoreCol: String, labelPos: Column): DataFrame = {
    val d1 = DecimalType(28, 1)
    val panel = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(labelPos, 1L).otherwise(0L)).as("__np"),
        sum(when(labelPos, 0L).otherwise(1L)).as("__nn"))
      .withColumn("__nt", col("__np") + col("__nn"))
    val ranked = PrefixSum.globalOrdered(panel, Seq(col("__s")), "__nt")
      .withColumn("__midrank",
        (col("prefix_sum") - col("__nt")).cast("double")
          + (col("__nt") + 1L).cast("double") / 2.0)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    // counts go through double BEFORE multiplying (the oddsRatio
    // overflow lesson): n_pos·(n_pos+1) in LONG would wrap past ~3e9
    val agg = ranked.agg(
      sum(col("__np")).as("n_pos"),
      sum(col("__nn")).as("n_neg"),
      sum((col("__np").cast("double") * col("__midrank")).cast(d1)).as("__rp"))
    val auc = (col("__rp").cast("double")
      - col("n_pos").cast("double") * (col("n_pos") + lit(1L)).cast("double") / 2.0) /
      nz(col("n_pos").cast("double") * col("n_neg").cast("double"))
    agg.select(col("n_pos"), col("n_neg"), auc.as("auc"))
      .withColumn("gini", lit(2.0) * col("auc") - 1.0)
  }

  /** Exact average precision (PR-AUC) — the imbalanced-data
    * counterpart of [[aucRoc]]: each positive contributes the
    * precision of its score block (distinct scores descending, ties
    * one block — the step-wise AP convention), `AP = Σ_s np_s ·
    * prec(s) / P` with `prec(s) = TP(≥s) / N(≥s)`. ROC AUC stays
    * near-blind to false positives when negatives dominate; AP is
    * the metric that actually moves. Reported with the positive
    * prevalence — AP's no-skill floor.
    *
    * Scale shape: the [[aucRoc]] machinery exactly — distinct-score
    * panel, two-phase [[PrefixSum]], then ONE aggregate: the ≥-score
    * cumulatives come from the ascending prefix by subtraction, each
    * block precision floor-grids to 1e-6 before its DECIMAL cast and
    * multiplies the exact integer block-positive count in DECIMAL.
    * No positives → NULL AP via NULLIF.
    */
  def averagePrecision(df: DataFrame, scoreCol: String,
                       labelPos: Column): DataFrame = {
    val d6 = DecimalType(28, 6)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val panel = df.filter(col(scoreCol).isNotNull)
      .groupBy(col(scoreCol).as("__s"))
      .agg(sum(when(labelPos, 1L).otherwise(0L)).as("__np"),
        sum(when(labelPos, 0L).otherwise(1L)).as("__nn"))
      .withColumn("__nt", col("__np") + col("__nn"))
      .ckptPartitioned()
    val pref = PrefixSum.globalOrderedN(panel, Seq(col("__s")),
      Seq("__np", "__nt"))
    val tot = panel.agg(sum(col("__np")).as("n_pos"),
      sum(col("__nn")).as("n_neg"))
    val tpGe = col("n_pos").cast("double") -
      (col("prefix___np") - col("__np")).cast("double")
    val nGe = (col("n_pos") + col("n_neg")).cast("double") -
      (col("prefix___nt") - col("__nt")).cast("double")
    val term = col("__np").cast(DecimalType(19, 0)) *
      floorGrid(tpGe / nGe, 1e6).cast(d6)
    pref.crossJoin(broadcast(tot))
      .agg(sum(term).as("__ap"), max(col("n_pos")).as("n_pos"),
        max(col("n_neg")).as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        (col("__ap").cast("double") / nz(col("n_pos").cast("double")))
          .as("avg_precision"),
        (col("n_pos").cast("double") /
          nz((col("n_pos") + col("n_neg")).cast("double"))).as("prevalence"))
  }

  /** Brier score + log-loss of the GROUP-RATE baseline predictor —
    * the proper-scoring floor every real model must beat: predict
    * each row's positive probability as its feature-group's smoothed
    * empirical rate `(pos + ½)/(n + 1)` (Laplace — keeps ln finite on
    * pure groups), then score with the two standard proper rules.
    * Published next to [[aucRoc]] so ranking quality and calibration
    * quality are judged together.
    *
    * The row-level sums collapse algebraically onto the group panel:
    * Σ(p−y)² over a group is `pos·(1−p)² + neg·p²` because p is
    * group-constant — so the whole computation is ONE partial-agg
    * scan to the ≤K-row panel, panel math after (the ln rides the
    * panel only, grid-quantized per §5, like PSI). Output one row:
    * n, k_groups, base_rate, brier, log_loss.
    */
  def baselineScorePanel(df: DataFrame, labelPos: Column,
                         groupExpr: Column): DataFrame = {
    val d6 = DecimalType(28, 6)
    def lnq(c: Column) = floorGrid(log(c), 1e6)
    val panel = df.groupBy(groupExpr.as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(when(labelPos, 1L).otherwise(0L)).as("__pos"))
      .withColumn("__p",
        (col("__pos").cast("double") + 0.5) / (col("__n").cast("double") + 1.0))
      .withColumn("__neg", col("__n") - col("__pos"))
    val brierTerm = floorGrid(col("__pos").cast("double")
      * (lit(1.0) - col("__p")) * (lit(1.0) - col("__p"))
      + col("__neg").cast("double") * col("__p") * col("__p"), 1e6)
    val llTerm = floorGrid(lit(-1.0) * (col("__pos").cast("double") * lnq(col("__p"))
      + col("__neg").cast("double") * lnq(lit(1.0) - col("__p"))), 1e6)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    panel.agg(
        sum(col("__n")).as("n"),
        count(lit(1)).as("k_groups"),
        sum(col("__pos")).as("__tot_pos"),
        sum(brierTerm.cast(d6)).cast("double").as("__sb"),
        sum(llTerm.cast(d6)).cast("double").as("__sl"))
      .select(col("n"), col("k_groups"),
        (col("__tot_pos").cast("double") / nz(col("n").cast("double")))
          .as("base_rate"),
        (col("__sb") / nz(col("n").cast("double"))).as("brier"),
        (col("__sl") / nz(col("n").cast("double"))).as("log_loss"))
  }

  def logisticPrCurve(df: DataFrame, yCol: String, xCols: Seq[String],
                      lr: Double, rounds: Int,
                      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "logisticPrCurve needs thresholds")
    val (base, w) = logisticFit(df, yCol, xCols, lr, rounds)
    val p = sigmoidQ(w)
    val th = thresholds.map(t => lit(t).cast("double"))
    base
      .withColumn("__p", p)
      .select(col("y"), col("__p"),
        explode(array(th: _*)).as("threshold"))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("__p") >= col("threshold") && col("y") === 1.0, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__p") >= col("threshold") && col("y") === 0.0, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__p") < col("threshold") && col("y") === 1.0, 1L)
          .otherwise(0L)).as("fn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double")
            / (col("tp") + col("fp")).cast("double")))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0L, lit(0.0))
          .otherwise(col("tp").cast("double")
            / (col("tp") + col("fn")).cast("double")))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("precision") * col("recall")
            / (col("precision") + col("recall"))))
  }

  /** Expected-COST curve over the PR-curve confusion counts — the
    * threshold-picking step the raw precision/recall panel defers:
    * for each candidate false-negative cost ratio (an FP costs 1, an
    * FN costs `ratio` — the asymmetry every fraud/triage/alerting
    * deployment actually has), the expected cost at every threshold
    * and the argmin flagged. Read one row per ratio: that is the
    * threshold to deploy AT that cost asymmetry.
    *
    * Composes [[logisticPrCurve]] (checkpointed once); the grid is
    * |thresholds| × |ratios| panel rows, the costs exact-integer ×
    * literal products, the argmin a panel broadcast.
    */
  def costCurve(df: DataFrame, yCol: String, xCols: Seq[String],
                lr: Double, rounds: Int, thresholds: Seq[Double],
                fnCostRatios: Seq[Double]): DataFrame = {
    require(fnCostRatios.nonEmpty && fnCostRatios.forall(_ > 0),
      s"fn cost ratios must be positive: $fnCostRatios")
    val pr = logisticPrCurve(df, yCol, xCols, lr, rounds, thresholds)
      .ckptPartitioned()
    val grid = pr.select(col("threshold"), col("tp"), col("fp"), col("fn"),
        explode(array(fnCostRatios.map(lit(_)): _*)).as("fn_cost_ratio"))
      .withColumn("expected_cost",
        col("fp").cast("double") + col("fn_cost_ratio") * col("fn").cast("double"))
      .ckptPartitioned()
    val best = grid.groupBy(col("fn_cost_ratio"))
      .agg(min(col("expected_cost")).as("__b"))
    grid.join(broadcast(best), Seq("fn_cost_ratio"))
      .withColumn("is_optimal", col("expected_cost") === col("__b"))
      .drop("__b")
  }

  /** The shared GD loop: returns the checkpointed (y, x1..x3)
    * relation and the fitted weight vector (intercept first).
    */
  private def logisticFit(df: DataFrame, yCol: String, xCols: Seq[String],
                          lr: Double, rounds: Int): (DataFrame, Array[Double]) = {
    require(xCols.size == 3, s"this fit is fixed at 3 features: $xCols")
    val base = df.select(
        col(yCol).cast("double").as("y"),
        col(xCols(0)).cast("double").as("x1"),
        col(xCols(1)).cast("double").as("x2"),
        col(xCols(2)).cast("double").as("x3"))
      .filter(col("y").isNotNull && col("x1").isNotNull &&
        col("x2").isNotNull && col("x3").isNotNull)
      .ckptPartitioned()
    (base, gdWeights(base, lr, rounds))
  }

  /** The driver-looped GD over a PREPARED fit relation (columns
    * y/x1/x2/x3 present; extra columns pass through untouched) —
    * shared by [[logisticFit]] and [[permutationImportance]], whose
    * relation must also carry the row id the permutation keys on.
    */
  private def gdWeights(base: DataFrame, lr: Double, rounds: Int): Array[Double] =
    gdWeightsN(base, lr, rounds,
      base.agg(count(lit(1)).as("n")).collect().head.getAs[Long]("n").toDouble)

  /** [[gdWeights]] with the row count already known — callers that
    * need the count for their own gates (permutationImportance's
    * bucket clamp) pass it in instead of paying a second count job
    * over the same checkpointed relation.
    */
  private def gdWeightsN(base: DataFrame, lr: Double, rounds: Int,
                         n: Double): Array[Double] = {
    require(rounds >= 1 && lr > 0, s"rounds=$rounds lr=$lr")
    val d12 = DecimalType(38, 12)
    var w = Array(0.0, 0.0, 0.0, 0.0)
    for (_ <- 1 to rounds) {
      val resid = sigmoidQ(w) - col("y")
      val g = base.agg(
        sum(resid.cast(d12)).cast("double").as("g0"),
        sum((resid * col("x1")).cast(d12)).cast("double").as("g1"),
        sum((resid * col("x2")).cast(d12)).cast("double").as("g2"),
        sum((resid * col("x3")).cast(d12)).cast("double").as("g3"))
        .collect().head
      w = Array.tabulate(4) { j =>
        math.floor((w(j) - lr * (g.getAs[Double](s"g$j") / n)) * 1e6) / 1e6
      }
    }
    w
  }

  /** Variance inflation factors over a 3-feature design — the
    * multicollinearity diagnostic in front of any linear/logistic
    * fit ([[logisticRegression]], [[permutationImportance]]): per
    * feature, VIF_k = 1/(1−R²_k) where R²_k regresses x_k on the
    * OTHER two (closed form from the pairwise correlations for two
    * regressors: R²_k = (r_ki² + r_kj² − 2·r_ki·r_kj·r_ij)/(1−r_ij²))
    * — a large VIF says the coefficient on x_k is estimated from
    * almost no independent variation, which is exactly when
    * [[permutationImportance]] and raw coefficients disagree.
    *
    * Engine parity: ONE aggregate of DECIMAL(38,12) moment sums (the
    * GD discipline), each cast to double ONCE, then every r/R²/VIF a
    * fixed IEEE sequence over identical doubles, outputs on the 1e-6
    * grid. Guards both engines agree on: a constant feature (zero
    * variance → its correlations undefined → NULL row), perfectly
    * collinear OTHERS (1−r_ij² = 0 → NULL R²), and R² ≥ 1 (infinite
    * VIF → NULL, never Inf).
    *
    * Scale shape: ONE fact pass to a 1-row moment panel; everything
    * downstream is panel math.
    */
  def vif(df: DataFrame, xCols: Seq[String]): DataFrame = {
    require(xCols.size == 3, s"this panel is fixed at 3 features: $xCols")
    val d12 = DecimalType(38, 12)
    val base = df.select(
        col(xCols(0)).cast("double").as("x1"),
        col(xCols(1)).cast("double").as("x2"),
        col(xCols(2)).cast("double").as("x3"))
      .filter(col("x1").isNotNull && col("x2").isNotNull && col("x3").isNotNull)
    val m = base.agg(
      count(lit(1)).as("n"),
      sum(col("x1").cast(d12)).as("s1"), sum(col("x2").cast(d12)).as("s2"),
      sum(col("x3").cast(d12)).as("s3"),
      sum((col("x1") * col("x1")).cast(d12)).as("s11"),
      sum((col("x2") * col("x2")).cast(d12)).as("s22"),
      sum((col("x3") * col("x3")).cast(d12)).as("s33"),
      sum((col("x1") * col("x2")).cast(d12)).as("s12"),
      sum((col("x1") * col("x3")).cast(d12)).as("s13"),
      sum((col("x2") * col("x3")).cast(d12)).as("s23"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    def cov(sij: String, si: String, sj: String): Column =
      nD * d(sij) - d(si) * d(sj)
    def r(sij: String, si: String, sj: String,
          sii: String, sjj: String): Column = {
      val den = sqrt(cov(sii, si, si)) * sqrt(cov(sjj, sj, sj))
      when(den =!= 0.0, cov(sij, si, sj) / den)
    }
    val withR = m.select(col("n"),
      r("s12", "s1", "s2", "s11", "s22").as("r12"),
      r("s13", "s1", "s3", "s11", "s33").as("r13"),
      r("s23", "s2", "s3", "s22", "s33").as("r23"))
    def r2Of(rki: Column, rkj: Column, rij: Column): Column =
      when(lit(1.0) - rij * rij =!= 0.0,
        (rki * rki + rkj * rkj - lit(2.0) * rki * rkj * rij)
          / (lit(1.0) - rij * rij))
    def rowOf(name: String, r2: Column): Column =
      struct(lit(name).as("feature"), floorGrid(r2, 1e6).as("r2_others"),
        when(r2.isNotNull && r2 < 1.0, floorGrid(lit(1.0) / (lit(1.0) - r2), 1e6))
          .as("vif"))
    withR.select(col("n"), explode(array(
        rowOf(xCols(0), r2Of(col("r12"), col("r13"), col("r23"))),
        rowOf(xCols(1), r2Of(col("r12"), col("r23"), col("r13"))),
        rowOf(xCols(2), r2Of(col("r13"), col("r23"), col("r12"))))).as("__r"))
      .select(col("__r.feature").as("feature"), col("n"),
        col("__r.r2_others").as("r2_others"), col("__r.vif").as("vif"))
  }

  /** PERMUTATION feature importance of the [[logisticRegression]]
    * model (Breiman 2001): per feature, break its association with
    * the label by a DETERMINISTIC permutation of the column across
    * rows and measure the model's ROC-AUC drop — the
    * model-agnostic "how much does the model actually USE this
    * feature" answer next to [[infoGain]]'s model-free ranking and
    * the fit's raw coefficients (a coefficient can be large on a
    * feature the model barely uses once correlations cancel).
    *
    * The permutation is a pure function of the data (layout- and
    * engine-stable, the md5 sampling discipline): rows hash into
    * md5 buckets, and within each bucket the feature column rotates
    * by one position along the (md5(id, "perm"), id) total order —
    * within any bucket of size >= 2 every row receives a DIFFERENT
    * row's value and no value is lost; a singleton bucket's rotation
    * is the identity (lead() is null, the wrap-around first() is the
    * row itself), which would dilute the measured drop. To bound that
    * dilution the effective bucket count is `min(buckets, n/2)`
    * (clamped to >= 1) so the EXPECTED bucket size stays >= 2 at any
    * n; residual singletons from hashing variance are possible but
    * rare, and vanish entirely at production n. Both engines replay
    * the identical clamp (the oracle computes it from the same
    * COUNT). `buckets` is the scale lever: each bucket is one window
    * partition (size n/buckets), so it should grow with the data;
    * the permutation's statistical quality is bucket-count
    * independent.
    *
    * Output: one row per feature — the model AUC on unpermuted data,
    * the AUC under that feature's permutation, and the 1e-6-gridded
    * drop. Engine parity: the trained weights are the shared GD
    * literals, p is the gridded sigmoid, and each AUC is the exact
    * midrank machinery of [[aucRoc]].
    */
  def permutationImportance(df: DataFrame, idCol: String, yCol: String,
                            xCols: Seq[String], lr: Double, rounds: Int,
                            buckets: Int = 64): DataFrame = {
    require(xCols.size == 3, s"this fit is fixed at 3 features: $xCols")
    require(buckets >= 1, s"buckets=$buckets")
    val base = df.select(col(idCol).as("__id"),
        col(yCol).cast("double").as("y"),
        col(xCols(0)).cast("double").as("x1"),
        col(xCols(1)).cast("double").as("x2"),
        col(xCols(2)).cast("double").as("x3"))
      .filter(col("__id").isNotNull && col("y").isNotNull &&
        col("x1").isNotNull && col("x2").isNotNull && col("x3").isNotNull)
      .ckptPartitioned()
    // ONE count job feeds both the GD mean divisor and the bucket
    // clamp (was a separate agg-count inside gdWeights plus this
    // count — two driver round trips over the same checkpointed base)
    val nBase = base.count()
    val w = gdWeightsN(base, lr, rounds, nBase.toDouble)
    // expected-bucket-size >= 2 clamp (see docstring)
    val effBuckets = math.max(1L, math.min(buckets.toLong, nBase / 2))
    val keyed = base
      .withColumn("__b",
        graft.operators.Sampling.md5Long32(Seq(col("__id"))) % effBuckets)
      .withColumn("__h",
        graft.operators.Sampling.md5Long60(Seq(col("__id"), lit("perm"))))
    val win = Window.partitionBy(col("__b")).orderBy(col("__h"), col("__id"))
    val baseAuc = aucRoc(base.withColumn("__p", sigmoidQ(w)), "__p",
        col("y") === 1.0)
      .select(col("auc").as("auc_model"))
    val inner = Seq("x1", "x2", "x3")
    // ONE window pass for all three permutations (r16, guide §2.4):
    // the three per-feature branches shared the identical window spec,
    // so each paid its own exchange + (__b | __h, __id) sort over the
    // full fit relation. All three rotated columns now ride a single
    // WindowExec, checkpointed once (partitioned), and each AUC branch
    // just substitutes its own rotated column — same values, 1 sort
    // instead of 3.
    val permAll = graft.operators.Ckpt.partitioned(
      inner.foldLeft(keyed) { (d, c) =>
        d.withColumn(s"__perm_$c",
          coalesce(lead(col(c), 1).over(win), first(col(c)).over(win)))
      })
    val rows = inner.indices.map { k =>
      val permDf = permAll
        .withColumn(inner(k), col(s"__perm_${inner(k)}"))
        .withColumn("__p", sigmoidQ(w))
      aucRoc(permDf, "__p", col("y") === 1.0)
        .select(lit(xCols(k)).as("feature"), col("auc").as("auc_permuted"))
    }.reduce(_ unionByName _)
    rows.crossJoin(broadcast(baseAuc))
      .select(col("feature"), col("auc_model"), col("auc_permuted"),
        (floor((col("auc_model") - col("auc_permuted")) * lit(1e6))
          / lit(1e6)).as("importance"))
  }

  /** 1e-6-grid-quantized σ(w·x) over the fit relation's columns. */
  private def sigmoidQ(wts: Array[Double]): Column = {
    val z = lit(wts(0)) + lit(wts(1)) * col("x1") +
      lit(wts(2)) * col("x2") + lit(wts(3)) * col("x3")
    floor(lit(1.0) / (lit(1.0) + exp(-z)) * lit(1e6)) / lit(1e6)
  }

  /** Isotonic calibration over a binned score (pool-adjacent-violators
    * fit, computed through the exact MINIMAX identity
    * `fit_i = max_{j≤i} min_{k≥i} mean(y on bins j..k)` — the two are
    * the same function, but the minimax form is pure comparisons over
    * exact-integer quotients, so a SQL replay is bit-identical where
    * an incremental pooling loop's running means would not be): the
    * monotone-nondecreasing rate curve closest to the raw per-bin
    * rates in L², the standard model-calibration step when raw bin
    * rates wiggle against the score ordering.
    *
    * Scale shape: the fact collapses once to the ≤`bins`-row panel
    * (exact counts); the O(bins³) minimax runs on the COLLECTED panel
    * on the driver (panel math, the PCA/PACF precedent). Output per
    * present bin: counts, raw rate, isotonic rate.
    */
  def isotonicCalibration(df: DataFrame, binCol: Column,
                          labelPred: Column): DataFrame = {
    val spark = df.sparkSession
    val panel = df.select(binCol.cast("long").as("bin"),
        when(labelPred, 1L).otherwise(0L).as("y"))
      .filter(col("bin").isNotNull)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos"))
      .orderBy(col("bin"))
      .collect()
    val bins = panel.map(_.getLong(0))
    val n = panel.map(_.getLong(1))
    val pos = panel.map(_.getLong(2))
    val m = bins.length
    // exclusive/inclusive integer prefix sums — every minimax quotient
    // is exact-int / exact-int, identical in any engine
    val cn = n.scanLeft(0L)(_ + _)   // cn(i) = Σ n(0..i-1)
    val cp = pos.scanLeft(0L)(_ + _)
    val fitted = (0 until m).map { i =>
      var best = Double.NegativeInfinity
      for (j <- 0 to i) {
        var mn = Double.PositiveInfinity
        for (k <- i until m) {
          val r = (cp(k + 1) - cp(j)).toDouble / (cn(k + 1) - cn(j)).toDouble
          if (r < mn) mn = r
        }
        if (mn > best) best = mn
      }
      best
    }
    import spark.implicits._
    (0 until m).map(i => (bins(i), n(i), pos(i),
        pos(i).toDouble / n(i).toDouble, fitted(i)))
      .toDF("bin", "n", "n_pos", "rate_raw", "rate_isotonic")
  }

  /** Learning curve — the "how much data is enough" readout a
    * training-data pipeline budgets by: hold out a fixed md5 test
    * slice, train the multinomial NB classifier on NESTED md5
    * fractions of the remaining pool, and report held-out accuracy
    * per fraction. A flat tail says more crawl buys nothing; a steep
    * one says the label is data-starved. Splits compare the 32-bit
    * md5 key against INTEGER thresholds (exact, engine-replayable —
    * no float membership tests).
    *
    * Scale shape: the token relation checkpoints once; each fraction
    * is one (label, token) partial agg + panel joins + one
    * doc-partitioned rank window — the [[naiveBayesKFold]] machinery
    * without the count-subtraction (training sets nest, test is
    * shared). Engine parity: the kfold grid discipline (ln gridded
    * 1e-6, DECIMAL(28,6) score adds, mirrored tie-break).
    */
  def learningCurve(docs: DataFrame, idCol: String, textCol: String,
                    labelCol: String, testFrac: Double = 0.2,
                    fracs: Seq[Double] = Seq(0.1, 0.25, 0.5, 1.0)): DataFrame = {
    require(testFrac > 0 && testFrac < 1, s"testFrac=$testFrac out of (0,1)")
    require(fracs.nonEmpty && fracs.forall(f => f > 0 && f <= 1),
      s"train fractions must be in (0,1]: $fracs")
    val full = 4294967296.0
    val thrTest = math.floor((1.0 - testFrac) * full).toLong
    val base = docs.select(col(idCol).as("doc_id"),
        col(labelCol).as("label"), col(textCol).as("__text"))
      .withColumn("__h", Sampling.md5Long32(Seq(col("doc_id"))))
      .localCheckpoint(false)
    val tok = base.select(col("doc_id"), col("label"), col("__h"),
        explode(graft.functions.TextOps.tokens(col("__text"))).as("token"))
      .filter(col("token") =!= "")
      .localCheckpoint(false)
    val testTf = tok.filter(col("__h") >= thrTest)
      .groupBy(col("doc_id"), col("token")).agg(count(lit(1)).as("tf"))
      .localCheckpoint(false)
    val docPanel = testTf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tok"))
      .join(base.filter(col("__h") >= thrTest)
        .select(col("doc_id"), col("label").as("true_label")), Seq("doc_id"))
      .localCheckpoint(false)
    val perF = fracs.map { f =>
      val thr = math.floor((1.0 - testFrac) * f * full).toLong
      val ctg = tok.filter(col("__h") < thr)
        .groupBy(col("label"), col("token"))
        .agg(count(lit(1)).as("cnt")).localCheckpoint(false)
      val vg = ctg.agg(countDistinct(col("token")).as("v"))
      val trDocs = base.filter(col("__h") < thr)
      val priors = trDocs.groupBy(col("label")).agg(count(lit(1)).as("n_c"))
      val nTr = trDocs.agg(count(lit(1)).as("n_train"))
      val totc = ctg.groupBy(col("label")).agg(sum(col("cnt")).as("tot_c"))
      val classPanel = priors.join(totc, Seq("label"), "left")
        .crossJoin(broadcast(nTr)).crossJoin(broadcast(vg))
        .select(col("label"), col("n_train"),
          floorGrid(log(col("n_c").cast("double") / col("n_train").cast("double")), 1e6)
            .as("log_prior"),
          floorGrid(log((coalesce(col("tot_c"), lit(0L)) + col("v")).cast("double")), 1e6)
            .as("log_denom"))
        .ckptPartitioned()
      val matchSum = testTf
        .join(ctg.hint("shuffle_hash"), Seq("token"))
        .groupBy(col("doc_id"), col("label"))
        .agg(sum((col("tf") * floorGrid(log((col("cnt") + 1).cast("double")), 1e6))
          .cast(D6)).as("match_sum"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("label"))
      docPanel.crossJoin(broadcast(classPanel))
        .join(matchSum.hint("shuffle_hash"), Seq("doc_id", "label"), "left")
        .withColumn("score",
          (col("log_prior").cast(D6)
            - (col("n_tok") * col("log_denom")).cast(D6)
            + coalesce(col("match_sum"), lit(0).cast(D6))).cast("double"))
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1)
        .groupBy(col("n_train"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("label") === col("true_label"), 1L).otherwise(0L))
            .as("n_correct"))
        .select(lit(f).as("train_frac"), col("n_train"), col("n_test"),
          col("n_correct"),
          (col("n_correct").cast("double") / col("n_test").cast("double"))
            .as("accuracy"))
    }
    perF.reduce(_ unionAll _)
  }

  /** KS separation of a score between classes — the
    * distribution-level discrimination readout next to [[aucRoc]]'s
    * rank view: the maximum gap between the negatives' and the
    * positives' empirical CDFs of the score, attained AT a concrete
    * score value (which doubles as the natural decision threshold —
    * the credit-scoring "KS statistic"). Delegates to the two-sample
    * KS machinery ([[Drift.ksStatistic]] — distinct-value collapse,
    * distributed prefix sums, max-struct argmax), relabeled for the
    * model-evaluation reading.
    */
  def ksSeparation(df: DataFrame, scoreCol: String,
                   labelPos: Column): DataFrame =
    Drift.ksStatistic(
      df.filter(col(scoreCol).isNotNull && labelPos.isNotNull)
        .withColumn("__is_pos", labelPos.cast("int")),
      scoreCol, "__is_pos")
      .select(col("d_stat").as("ks_stat"),
        col("at_value").as("best_threshold"),
        col("n_distinct_values"),
        col("n_old").as("n_neg"), col("n_new").as("n_pos"))

  /** Cohen's kappa — chance-corrected agreement between two
    * categorical labelers (the label-QC primitive: declared metadata
    * vs a classifier, or two annotators; raw percent agreement
    * overstates quality whenever the class mix is skewed, kappa
    * subtracts the agreement two independent raters with these
    * marginals would reach by luck). One row out: item count, class
    * count, observed/expected agreement, kappa.
    *
    * Scale shape: the fact collapses in ONE partial-agg scan to the
    * k² confusion panel; marginals, the expected-agreement sum and
    * the final ratio are all panel math (k classes, never row-scale).
    * Engine parity: counts are exact longs; each per-class expected
    * term (row share × column share, ≤ 1) is floor-quantized to the
    * 1e-12 grid before its DECIMAL(28,12) partial sum (§5 — scale-12
    * is reserved for ≤unit magnitudes), so panel reduction order
    * cannot move the sum; the kappa ratio is one mirrored double op.
    */
  def cohensKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val d12 = DecimalType(28, 12)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val cells = df
      .filter(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .agg(count(lit(1)).as("__n"))
      .ckptPartitioned()
    val tot = cells.agg(
      coalesce(sum(col("__n")), lit(0L)).as("n_items"),
      coalesce(sum(when(col("__a") === col("__b"), col("__n"))
        .otherwise(0L)), lit(0L)).as("n_agree"))
    val ma = cells.groupBy(col("__a").as("__c")).agg(sum(col("__n")).as("__ra"))
    val mb = cells.groupBy(col("__b").as("__c")).agg(sum(col("__n")).as("__cb"))
    // classes seen by only ONE rater have a zero opposite marginal —
    // their expected term is 0, so the inner join loses nothing; the
    // class count still spans BOTH sides (distinct over the union —
    // joinless, so the stats-less checkpointed panels never SMJ)
    val nClasses = ma.select(col("__c"))
      .unionAll(mb.select(col("__c"))).distinct()
      .agg(count(lit(1)).as("n_classes"))
    val pe = ma.join(broadcast(mb), Seq("__c"))
      .crossJoin(broadcast(tot))
      .agg(coalesce(sum(
        floorGrid((col("__ra").cast("double") / col("n_items").cast("double")) *
            (col("__cb").cast("double") / col("n_items").cast("double")), 1e12)
          .cast(d12)), lit(0).cast(d12)).as("__pe"))
    tot.crossJoin(broadcast(nClasses)).crossJoin(broadcast(pe))
      .select(col("n_items"), col("n_classes"), col("n_agree"),
        (col("n_agree").cast("double") / nz(col("n_items").cast("double")))
          .as("p_observed"),
        col("__pe").cast("double").as("p_expected"))
      .withColumn("kappa",
        (col("p_observed") - col("p_expected")) /
          nz(lit(1.0) - col("p_expected")))
  }

  /** McNemar's test — do two classifiers evaluated on the SAME rows
    * disagree more in one direction than the other? The paired
    * model-comparison gate (accuracy deltas on shared data are
    * correlated; the unpaired two-proportion z over-counts the shared
    * rows): only the discordant cells carry signal, χ² with the
    * standard continuity correction = (|b−c|−1)²/(b+c), p from the
    * 1-dof tail via the A&S 7.1.26 erfc form (gridded per §5).
    *
    * One partial-agg scan to ONE row — every output is a mirrored
    * double op over exact long cells; no panel sums at all.
    */
  def mcnemar(df: DataFrame, labelPos: Column,
              predA: Column, predB: Column): DataFrame = {
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val okA = predA === labelPos
    val okB = predB === labelPos
    val g = df
      .filter(labelPos.isNotNull && predA.isNotNull && predB.isNotNull)
      .agg(
        count(lit(1)).as("n"),
        sum(when(okA && okB, 1L).otherwise(0L)).as("n_both_correct"),
        sum(when(okA && !okB, 1L).otherwise(0L)).as("n_a_only"),
        sum(when(!okA && okB, 1L).otherwise(0L)).as("n_b_only"),
        sum(when(!okA && !okB, 1L).otherwise(0L)).as("n_both_wrong"))
    val b = col("n_a_only").cast("double")
    val c = col("n_b_only").cast("double")
    val chi2 = when(col("n_a_only") + col("n_b_only") === 0L,
        lit(null).cast("double"))
      .otherwise({
        val d = greatest(abs(b - c) - lit(1.0), lit(0.0))
        d * d / (b + c)
      })
    g.withColumn("acc_a",
        (col("n_both_correct") + col("n_a_only")).cast("double")
          / nz(col("n").cast("double")))
      .withColumn("acc_b",
        (col("n_both_correct") + col("n_b_only")).cast("double")
          / nz(col("n").cast("double")))
      .withColumn("chi2_cc", chi2)
      .withColumn("p_value", {
        // P(χ²₁ > x) = erfc(√(x/2)) — the same Horner erfc the a/b
        // readout uses, gridded so a last-ulp exp disagreement can't
        // flip the hash
        val x = sqrt(col("chi2_cc") / lit(2.0))
        val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * x)
        val poly = ((((lit(1.061405429) * t - lit(1.453152027)) * t
          + lit(1.421413741)) * t - lit(0.284496736)) * t + lit(0.254829592)) * t
        floorGrid(poly * exp(-(x * x)), 1e6)
      })
  }

  /** Expected / maximum calibration error of the group-rate baseline
    * — the binned companion of [[baselineScorePanel]]'s proper scores
    * (Brier says HOW wrong the probabilities are overall; ECE says
    * WHERE: per confidence bin, the gap between predicted confidence
    * and realized rate). Predictions are the group's Laplace rate
    * `(pos+½)/(n+1)` (group-constant, so the fact collapses onto the
    * ≤k-group panel first); bins are `nBins` equal-width cells over
    * [0,1]. Output one row per NON-EMPTY bin — counts, mean
    * confidence, accuracy, gap — with the weighted summary (`ece`,
    * `mce`) broadcast onto every row.
    *
    * Engine parity: bin ids come from floor over the exact Laplace
    * quotient; per-bin confidence mass is Σ n_g·floorGrid(p_g, 1e6) as
    * exact-decimal × gridded-double products (the AP/Benford term
    * discipline); the per-bin gap re-grids before the ece partial
    * sum. All sums are panel-sized (≤ nBins, ≤ k groups).
    */
  def calibrationEce(df: DataFrame, labelPos: Column, groupExpr: Column,
                     nBins: Int = 10): DataFrame = {
    require(nBins >= 2, s"nBins=$nBins must be >= 2")
    val d6 = DecimalType(28, 6)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val groups = df.groupBy(groupExpr.as("__g"))
      .agg(count(lit(1)).as("__n"),
        sum(when(labelPos, 1L).otherwise(0L)).as("__pos"))
      .withColumn("__p",
        (col("__pos").cast("double") + 0.5) / (col("__n").cast("double") + 1.0))
      // Laplace rates live strictly inside (0,1): floor(p·nBins) is
      // already < nBins, the `least` only guards a future p = 1.0
      .withColumn("bin",
        least(floor(col("__p") * lit(nBins)).cast("int"), lit(nBins - 1)))
    val bins = groups.groupBy(col("bin"))
      .agg(sum(col("__n")).as("n_rows"),
        count(lit(1)).as("n_groups"),
        sum(col("__pos")).as("__pos"),
        sum(col("__n").cast(DecimalType(19, 0)) * floorGrid(col("__p"), 1e6).cast(d6))
          .as("__conf_mass"))
      .withColumn("avg_conf",
        col("__conf_mass").cast("double") / nz(col("n_rows").cast("double")))
      .withColumn("accuracy",
        col("__pos").cast("double") / nz(col("n_rows").cast("double")))
      .withColumn("abs_gap", abs(col("accuracy") - col("avg_conf")))
      .ckptPartitioned()
    val summary = bins.agg(
      (sum(col("n_rows").cast(DecimalType(19, 0)) * floorGrid(col("abs_gap"), 1e6).cast(d6))
        .cast("double") /
        nz(sum(col("n_rows")).cast("double"))).as("ece"),
      max(floorGrid(col("abs_gap"), 1e6)).as("mce"))
    bins.crossJoin(broadcast(summary))
      .select(col("bin"), col("n_rows"), col("n_groups"),
        col("avg_conf"), col("accuracy"), col("abs_gap"),
        col("ece"), col("mce"))
  }
}
