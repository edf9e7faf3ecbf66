package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.Kernels
import graft.expressions.Kernels.floorGrid

/** Approximate / exact nearest-neighbour search over an embedding
  * column (`Array[Float]`).
  *
  * Scale shape: the query set is broadcast (it is small by
  * definition); the corpus is scanned exactly once per strategy.
  * `cosineTopK` is the exact baseline — one corpus pass, then a
  * two-phase (salted, then global) top-k so no single task ever ranks
  * the whole corpus for a query. `lshTopK` is the 100-TB path: random-
  * hyperplane buckets make the candidate join's shuffle proportional
  * to bucket collisions, not |corpus| × |queries|.
  */
object Ann {

  /** Left-fold dot product (deterministic summation order), as a
    * native kernel expression — bit-identical to the declarative
    * `aggregate(zip_with(a, b, _*_), 0.0, _+_)` fold and to the DuckDB
    * oracle, but a single codegen'd loop instead of interpreted
    * higher-order functions.
    */
  def dot(a: Column, b: Column): Column = Kernels.dotProduct(a, b)

  def l2norm(v: Column): Column = sqrt(dot(v, v))

  private def prepared(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", l2norm(col("v")))

  /** Distributed per-group vector mean (the assignment-step primitive
    * of k-means / IVF training): posexplode to (group, dim, component)
    * and aggregate per (group, dim) — one partial-aggregable shuffle,
    * never a whole-vector reduce on a single task, any dimensionality.
    * Components sum as DECIMAL(28,12) (order-free parallel reduction,
    * float -> double -> decimal so any engine converts identically),
    * divided once.
    */
  def centroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.filter(col(vecCol).isNotNull)
      .select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("dim_pos", "v")))
      .groupBy(col("label"), col("dim_pos"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(graft.expressions.Kernels.toDecimal(
            col("v").cast("double"), 28, 12)).cast("double")
          / count(lit(1)), 6).as("centroid_v"))

  /** Per-DIMENSION embedding statistics + anisotropy — the embedding
    * QC panel before any geometry-dependent op (cosine dedup, k-means,
    * PQ): a dimension with runaway variance dominates every distance;
    * a dead dimension (zero variance) wastes code budget; `var_share`
    * sorted descending is the quick anisotropy read (how close the
    * mass is to a few directions). One posexplode scan collapses to
    * the d-row panel; everything after is panel math.
    *
    * Engine parity: float32 components cast to double are exact as
    * VALUES but full-entropy at decimal scale 12, so components AND
    * squares are floor-gridded to 1e-12 (≤unit-magnitude rule) before
    * their decimal partials — [[centroids]] can skip the grid only
    * because its output rounds to 1e-6 at the edge; the
    * variance identity (Σv² − (Σv)²/n)/n and the share ratio are
    * mirrored double trees over those exact sums, with the per-dim
    * variance re-gridded before the total-variance panel sum.
    */
  def dimStats(emb: DataFrame, vecCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val ex = emb.filter(col(vecCol).isNotNull)
      .select(posexplode(col(vecCol)).as(Seq("dim_pos", "__v")))
      .select(col("dim_pos"), col("__v").cast("double").as("__v"))
    val panel = ex.groupBy(col("dim_pos"))
      .agg(count(lit(1)).as("n_vectors"),
        // float32→double components are exact but FULL-ENTROPY at
        // decimal scale 12 — the cast itself must not round (§5), so
        // grid first (unlike centroids, whose output rounds to 1e-6)
        sum(floorGrid(col("__v"), 1e12).cast(DecimalType(28, 12))).as("__s"),
        sum(floorGrid(col("__v") * col("__v"), 1e12).cast(DecimalType(28, 12))).as("__ss"),
        min(col("__v")).as("min_v"), max(col("__v")).as("max_v"))
      .withColumn("mean_v",
        col("__s").cast("double") / col("n_vectors").cast("double"))
      .withColumn("var_v",
        (col("__ss").cast("double")
          - col("__s").cast("double") * col("__s").cast("double")
            / col("n_vectors").cast("double"))
          / col("n_vectors").cast("double"))
      .ckptPartitioned()
    val tot = panel.agg(
      sum(floorGrid(col("var_v"), 1e12).cast(DecimalType(28, 12))).as("__tv"))
    panel.crossJoin(broadcast(tot))
      .select(col("dim_pos"), col("n_vectors"), col("mean_v"),
        sqrt(col("var_v")).as("std_v"), col("min_v"), col("max_v"),
        (floorGrid(col("var_v"), 1e12) / nz(col("__tv").cast("double"))).as("var_share"))
  }

  /** Pairwise cosine-similarity HISTOGRAM over a deterministic probe
    * panel — the corpus-geometry diagnostic behind threshold choices
    * (SemDeDup's cut, the near-dup radius, LSH banding): how much of
    * the pair mass sits at each similarity level. All-pairs over the
    * corpus is n²; the standard estimate samples pairs — here the
    * probe panel is the `panelK` vectors SMALLEST by (md5(id), id),
    * a deterministic, engine-replayable choice (the md5 split/quota
    * discipline), so the histogram is a fixed measurement, not a
    * random one. Pairs are panelK²/2 ≈ 4.5k at the default — panel
    * math at any corpus size; the only corpus-scale work is the
    * TakeOrdered(panelK) scan.
    *
    * Buckets are fixed over [−1, 1] so histograms compare across
    * corpora and over time; the cosine reuses the left-fold dot
    * kernel (bit-identical in the oracle).
    */
  def similarityHist(emb: DataFrame, idCol: String, vecCol: String,
                     panelK: Int = 96, buckets: Int = 20): DataFrame = {
    require(panelK >= 2 && buckets >= 2,
      s"panelK=$panelK buckets=$buckets out of range")
    val panel = prepared(emb, idCol, vecCol)
      .filter(col("v").isNotNull && col("nrm") > 0.0)
      .withColumn("__h", Sampling.md5Long32(Seq(col("vec_id"))))
      .orderBy(col("__h"), col("vec_id")).limit(panelK)
      .select(col("vec_id"), col("v"), col("nrm"))
      .ckptPartitioned()
    val width = 2.0 / buckets
    val cands = panel.as("a").join(broadcast(panel.as("b")),
        col("a.vec_id") < col("b.vec_id"))
      .withColumn("__cos", dot(col("a.v"), col("b.v"))
        / (col("a.nrm") * col("b.nrm")))
    // clamp BOTH ends: rounding can push a cosine a last-ulp outside
    // [−1, 1] (nrm product rounding), and bucket −1 would violate the
    // fixed-bucket contract
    cands
      .groupBy(greatest(lit(0), least(lit(buckets - 1),
        floor((col("__cos") + lit(1.0)) / lit(width)).cast("int"))).as("bucket"))
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("bucket_lo", lit(-1.0) + col("bucket").cast("double") * lit(width))
  }

  /** LSH parameter TUNING curve — the evidence panel behind a
    * banding choice (how many bands × rows per band?): for each
    * candidate (b, r) config, fold the corpus's observed pair-cosine
    * histogram ([[similarityHist]]) through the hyperplane-LSH
    * S-curve `P(candidate | cos) = 1 − (1 − p^r)^b` with
    * `p = 1 − arccos(cos)/π`, and report the expected candidate-pair
    * rate plus the expected recall over the ≥ τ (true-neighbor) mass.
    * Pick the config where recall is high and the candidate rate is
    * still sub-quadratic — BEFORE paying for a full dedup run.
    *
    * All math rides the ≤`buckets`-row histogram panel × |configs|
    * (panel math at any corpus size; the only corpus-scale work is
    * similarityHist's TakeOrdered panel scan). Engine parity: arccos
    * and pow are transcendental → the collision prob and the S-curve
    * grid to 1e-6 per bucket (§5), mass terms as exact-decimal ×
    * gridded products.
    */
  def lshTuningCurve(emb: DataFrame, idCol: String, vecCol: String,
                     configs: Seq[(Int, Int)], tau: Double,
                     panelK: Int = 96, buckets: Int = 20): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(configs.nonEmpty && configs.forall { case (b, r) => b >= 1 && r >= 1 },
      s"bad LSH configs: $configs")
    require(tau > -1.0 && tau < 1.0, s"tau=$tau outside (-1,1)")
    val d6 = DecimalType(28, 6)
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val width = 2.0 / buckets
    val hist = similarityHist(emb, idCol, vecCol, panelK, buckets)
      .withColumn("__mid", col("bucket_lo") + lit(width / 2))
      .withColumn("__p", floorGrid(lit(1.0) -
        acos(greatest(lit(-1.0), least(lit(1.0), col("__mid")))) / lit(math.Pi), 1e6))
      .ckptPartitioned()
    configs.map { case (b, r) =>
      val pc = floorGrid(lit(1.0) - pow(lit(1.0) - pow(col("__p"), lit(r)), lit(b)), 1e6)
      val term = col("n_pairs").cast(DecimalType(19, 0)) * pc.cast(d6)
      hist.agg(
          sum(col("n_pairs")).as("n_pairs_total"),
          sum(term).as("__exp"),
          sum(when(col("__mid") >= tau, col("n_pairs")).otherwise(0L)).as("n_above_tau"),
          coalesce(sum(when(col("__mid") >= tau, term)), lit(0).cast(d6))
            .as("__caught"))
        .select(lit(b).as("bands"), lit(r).as("rows_per_band"),
          col("n_pairs_total"), col("n_above_tau"),
          col("__exp").cast("double").as("expected_candidates"),
          (col("__exp").cast("double") / nz(col("n_pairs_total").cast("double")))
            .as("candidate_rate"),
          (col("__caught").cast("double") / nz(col("n_above_tau").cast("double")))
            .as("expected_recall_at_tau"))
    }.reduce(_ unionAll _)
  }

  /** Embedding quality gate (the vector twin of the corpus/document
    * gates): first-match reason codes for null vectors, wrong
    * dimensionality, non-finite components, zero and out-of-band L2
    * norms. One codegen'd scan, no shuffle; the norm reuses the
    * left-fold dot kernel so the oracle replays it bit for bit.
    * Dimension/norm stats stay NULL where they are undefined (a NULL
    * vector has no size — Spark's `size(null) = -1` convention is
    * masked for engine parity).
    */
  def qualityGate(emb: DataFrame, idCol: String, vecCol: String,
                  expectedDim: Int, minNorm: Double = 1e-3,
                  maxNorm: Double = 1e3): DataFrame = {
    val v = col(vecCol)
    val vd = v.cast("array<double>")
    val nonFinite = exists(vd, x =>
      isnan(x) || x === lit(Double.PositiveInfinity) || x === lit(Double.NegativeInfinity))
    val norm2 = dot(vd, vd)
    emb.select(col(idCol).as("vec_id"),
        when(v.isNull, lit(null).cast("int")).otherwise(size(v)).as("n_dims"),
        when(v.isNull || nonFinite, lit(null).cast("double"))
          .otherwise(round(sqrt(norm2), 6)).as("l2_norm"))
      .withColumn("reason_code",
        when(col("n_dims").isNull, "NULL_VEC")
          .when(col("n_dims") =!= expectedDim, "BAD_DIM")
          .when(col("l2_norm").isNull, "NON_FINITE")
          .when(col("l2_norm") === 0, "ZERO_NORM")
          .when(col("l2_norm") < minNorm, "LOW_NORM")
          .when(col("l2_norm") > maxNorm, "HIGH_NORM")
          .otherwise(lit(null).cast("string")))
      .withColumn("is_valid", col("reason_code").isNull)
  }

  /** Johnson–Lindenstrauss random projection: embed `inDim`-vectors
    * into `outDim` dimensions through a seeded Rademacher (±1)
    * matrix scaled by 1/√outDim — the compute-scale preprocessing
    * tier next to PQ's memory tier (pairwise distances preserved
    * within the JL bound, each output a codegen'd dot-product
    * kernel against a literal row of the matrix; no shuffle, no UDF,
    * no state). Deterministic for a fixed seed — replayable across
    * runs and engines that share the fold order.
    */
  def randomProject(emb: DataFrame, idCol: String, vecCol: String,
                    inDim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    require(inDim >= 1 && outDim >= 1, s"inDim=$inDim outDim=$outDim must be positive")
    val rnd = new java.util.Random(seed)
    val mat: Seq[Array[Double]] =
      Seq.fill(outDim)(Array.fill(inDim)(if (rnd.nextBoolean()) 1.0 else -1.0))
    val scale = 1.0 / math.sqrt(outDim.toDouble)
    val vd = col(vecCol).cast("array<double>")
    val projected = array(mat.map(row =>
      Kernels.dotProduct(vd, typedlit(row)) * scale): _*)
    // the dot kernel folds over min(len) — a ragged/mis-declared
    // vector would project silently WRONG, so the dim contract is
    // enforced in the row (the guard wraps the projection itself and
    // cannot be pruned away)
    emb.select(col(idCol),
      when(size(vd) === inDim, projected)
        .otherwise(raise_error(concat(
          lit(s"randomProject: embedding dim != $inDim (got "),
          size(vd).cast("string"), lit(")"))))
        .as("projected"))
  }

  /** Long-form twin of [[randomProject]]: one row per output component
    * `(id, dim_pos, component)` via posexplode — a flat, sortable
    * schema (no nested array column) that downstream stats/joins and
    * engine-neutral comparisons consume directly. Same seeded matrix,
    * same kernels; the explode is a codegen'd generator, no shuffle.
    */
  def randomProjectLong(emb: DataFrame, idCol: String, vecCol: String,
                        inDim: Int, outDim: Int, seed: Long = 42L): DataFrame =
    randomProject(emb, idCol, vecCol, inDim, outDim, seed)
      .select(col(idCol), posexplode(col("projected")).as(Seq("dim_pos", "component")))

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): partition the corpus into k clusters around
    * deterministic seed vectors, then search for near-duplicates ONLY
    * within a cluster — pairwise cost drops from n²/2 to Σ|cluster|²/2,
    * and with k ∝ n (`targetClusterSize` bounds the expected cluster
    * population) that is linear in n.
    *
    * Determinism without a k-means iteration: the seeds are the k
    * vectors with the lowest md5 digest of their id (the same
    * layout/engine-stable digest idiom as the sampling family, tie to
    * the lowest id); every vector joins its highest-cosine seed (tie
    * to the lowest seed id). A vector is a duplicate iff some
    * LOWER-id cluster-mate is within `threshold` cosine — first-wins,
    * so the keep set is stable across re-runs and engines. Vectors
    * must have non-zero finite norms (run [[qualityGate]] first).
    *
    * Scale shape: the seed panel is k rows, broadcast; assignment is
    * a map-side cross + partial-aggregated argmax (map-side combine
    * collapses the k candidate rows per vector before the one
    * co-keyed shuffle); the pair join shuffles on cluster id only.
    * Like SemDeDup itself, recall is bounded by the clustering — a
    * near-dup pair split across two clusters is not scored (the
    * cross-cluster twin is [[cosineNearDupPairs]]).
    */
  def semanticDedup(emb: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, k: Int = 0,
                    targetClusterSize: Long = 512L): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val kk =
      if (k > 0) k
      else math.max(4L, (base.count() + targetClusterSize - 1) / targetClusterSize).toInt
    val seeds = base
      .withColumn("__digest", Sampling.md5Long32(Seq(col("vec_id"))))
      .orderBy(col("__digest"), col("vec_id"))
      .limit(kk)
      .select(col("vec_id").as("seed_id"), col("v").as("sv"), col("nrm").as("snrm"))
    // argmax over the broadcast seed panel: max of (cos, -seed_id)
    // struct = highest cosine, ties to the lowest seed id.
    val best = base.crossJoin(broadcast(seeds))
      .withColumn("cos_s", dot(col("v"), col("sv")) / (col("nrm") * col("snrm")))
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos_s"), negate(col("seed_id")).as("neg_seed"),
        col("seed_id"))).as("m"))
      .select(col("vec_id"), col("m.seed_id").as("cluster_id"))
    val assigned = base.join(best, "vec_id")
    val dups = assigned.as("x").join(assigned.as("y"),
        col("x.cluster_id") === col("y.cluster_id") &&
          col("x.vec_id") < col("y.vec_id"))
      .filter(dot(col("x.v"), col("y.v")) / (col("x.nrm") * col("y.nrm"))
        >= threshold)
      .select(col("y.vec_id").as("vec_id")).distinct()
    assigned
      .join(dups.withColumn("__dup", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("__dup"), lit(false)).as("is_dup"))
  }

  /** Distributed Lloyd's k-means, engine-replayable: `rounds` fixed
    * iterations of assign-to-nearest + recompute-means, with every
    * source of cross-engine or cross-run divergence pinned down:
    * seeds are the k lowest-md5 ids (the sampling-family idiom — no
    * RNG), components floor-quantize to the 1e-6 grid ONCE (the §5
    * cast-portability rule: grid values cast to decimal identically
    * in every engine), distances use the left-fold dot kernel (the
    * cosine-oracle fold), assignment ties break to the lowest
    * centroid id, and means are exact DECIMAL(28,12) partials divided
    * once. The argmin drops the per-vector |v|² term (constant within
    * a vector — argmin-equivalent, one fold fewer).
    *
    * Scale shape: the centroid panel (k×d values) broadcasts each
    * round; assignment is a map-side cross + partial-aggregated
    * struct-min; means are one (cluster, dim)-keyed partial-agg
    * shuffle per round. `rounds` corpus passes total — Lloyd's
    * inherent cost. A centroid that loses every member vanishes
    * (standard Lloyd degeneracy, deterministic). Output: the final
    * assignment (vec_id, cluster_id, d2 to its centroid).
    */
  def kmeans(emb: DataFrame, idCol: String, vecCol: String,
             k: Int, rounds: Int = 5): DataFrame = {
    val (base, cents) = kmeansCents(emb, idCol, vecCol, k, rounds)
    kmeansAssign(base, cents)
  }

  /** The trained centroid panel of [[kmeans]] in long form
    * `(cid, dim_pos, c)` — the artifact an IVF index or a SemDeDup
    * pass consumes. Same loop, same determinism guarantees.
    */
  def kmeansCentroids(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, rounds: Int = 5): DataFrame = {
    val (_, cents) = kmeansCents(emb, idCol, vecCol, k, rounds)
    cents.select(col("cid"), posexplode(col("c")).as(Seq("dim_pos", "c")))
  }

  /** Per-cluster quality panel of the trained [[kmeans]] — the
    * clustering twin of `recallEval`'s "measure, don't guess": for
    * each cluster its size, mean TRUE squared distance to its
    * centroid (compactness), squared distance to the NEAREST other
    * centroid (separation), and their ratio (a Davies–Bouldin-style
    * score — ≪ 1 means tight well-separated clusters; ≈ 1 means the
    * clustering is doing nothing). A k change shows its quality cost
    * here immediately, next to the model it describes.
    *
    * Scale shape: one extra corpus pass over the final assignment
    * (the full `|v|² − 2v·c + |c|²` distance — the assignment's
    * argmin legitimately drops `|v|²`, a panel describing cluster
    * tightness cannot), collapsing map-side to k rows; separation is
    * k×(k−1) panel math on the broadcast centroid panel. §5: the
    * full-entropy d² floor-quantizes to the 1e-6 grid before its
    * DECIMAL(28,6) partials; the ratio ships as a raw IEEE quotient.
    * k = 1 has no "other centroid": separation and ratio are NULL.
    */
  def clusterQuality(emb: DataFrame, idCol: String, vecCol: String,
                     k: Int, rounds: Int = 5): DataFrame = {
    val d28q = org.apache.spark.sql.types.DecimalType(28, 6)
    val (base, cents) = kmeansCents(emb, idCol, vecCol, k, rounds)
    val full = base.join(kmeansAssign(base, cents), "vec_id")
      .withColumn("__d2t", col("d2") + dot(col("v"), col("v")))
    val intra = full.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        (sum((floor(col("__d2t") * lit(1e6)) / lit(1e6)).cast(d28q))
          .cast("double") / count(lit(1))).as("mean_d2"))
    val ca = cents.select(col("cid").as("cid_a"), col("c").as("ca"))
    val cb = cents.select(col("cid").as("cid_b"), col("c").as("cb"))
    val sep = ca.crossJoin(broadcast(cb))
      .filter(col("cid_a") =!= col("cid_b"))
      .groupBy(col("cid_a").as("cluster_id"))
      .agg(min(dot(col("ca"), col("ca")) - lit(2.0) * dot(col("ca"), col("cb"))
        + dot(col("cb"), col("cb"))).as("min_other_d2"))
    intra.join(broadcast(sep), Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("n_members"), col("mean_d2"),
        col("min_other_d2"),
        (col("mean_d2") / when(col("min_other_d2") =!= 0, col("min_other_d2")))
          .as("compactness_ratio"))
  }

  /** Per-cluster distance-outlier gate over the trained [[kmeans]] —
    * the embedding-space junk filter next to [[semanticDedup]]'s
    * duplicate filter: a vector sitting past its OWN cluster's p-th
    * distance percentile is flagged (noise, corrupt embeddings,
    * out-of-domain content — the population a curation pass prunes
    * or quarantines). Per-cluster thresholds, not global: a naturally
    * diffuse cluster must not condemn its whole membership, and a
    * tight cluster's junk must not hide under a global band.
    *
    * Engine parity: the full distance `d2 + |v|²` is the
    * hash-proven kmeans value, the threshold is
    * [[Profiling.exactQuantilesBy]] — bit-identical to the exact
    * `percentile` / `quantile_cont` interpolation, but computed as a
    * distributed rank bracket (per-cluster `percentile` would merge
    * each cluster's near-unique distance map in ONE reducer — the
    * largest cluster's whole membership in a single JVM at 100 TB) —
    * the flag one comparison of engine-identical doubles. Scale
    * shape: one ≤-k-row threshold panel broadcast back over the
    * assignment — nothing beyond the kmeans passes themselves plus
    * the rank machinery's distinct-count shuffle.
    */
  def clusterOutliers(emb: DataFrame, idCol: String, vecCol: String,
                      k: Int, rounds: Int = 5, p: Double = 0.95): DataFrame = {
    require(p > 0 && p < 1, s"percentile must be in (0,1): $p")
    val (base, cents) = kmeansCents(emb, idCol, vecCol, k, rounds)
    // eager checkpoint of the SLIM (id, cluster, distance) assignment —
    // the vectors are never needed again, and the frame feeds both the
    // rank machinery's distinct-count pass and the final flag join
    // (re-deriving it would repeat the n×k assignment shuffle)
    val full = base.join(kmeansAssign(base, cents), "vec_id")
      .select(col("vec_id"), col("cluster_id"),
        (col("d2") + dot(col("v"), col("v"))).as("d2_full"))
      .ckptPartitioned()
    val thr = Profiling.exactQuantilesBy(full, Seq("cluster_id"), "d2_full", Seq(p))
      .select(col("cluster_id"), col("value").as("p95_d2"))
    full.join(broadcast(thr), "cluster_id")
      .select(col("vec_id"), col("cluster_id"), col("d2_full"),
        col("p95_d2"), (col("d2_full") > col("p95_d2")).as("is_outlier"))
  }

  /** Centroid-based (simplified) silhouette per cluster over the
    * trained [[kmeans]] — `s = (b − a)/max(a, b)` with `a` the
    * distance to the OWN centroid and `b` the distance to the nearest
    * OTHER centroid: the classic "are these clusters actually
    * separated" readout next to [[clusterQuality]]'s compactness
    * ratio (full silhouette needs all pairwise point distances — the
    * centroid form is the standard large-n surrogate and keeps the
    * plan at one n×k pass). Mean s per cluster; s near 1 = well
    * separated, near 0 = boundary soup, negative = likely
    * misassigned.
    *
    * Scale shape: ONE n×k distance pass (checkpointed slim — it
    * feeds the argmin panel and the other-centroid min), the argmin
    * by the same (distance, cid) total order the assigner uses, and
    * a ≤-k aggregate; each per-vector s is a full-entropy quotient
    * floor-gridded to 1e-6 before its DECIMAL partial (§5). sqrt
    * rides a GREATEST(0, ·) clamp — the d² expression can dip a few
    * ulp below zero and DuckDB raises on sqrt(<0).
    */
  def kmeansSilhouette(emb: DataFrame, idCol: String, vecCol: String,
                       k: Int, rounds: Int = 5): DataFrame = {
    val d28 = org.apache.spark.sql.types.DecimalType(28, 6)
    val (base, cents) = kmeansCents(emb, idCol, vecCol, k, rounds)
    val alld = base.crossJoin(broadcast(cents))
      .withColumn("d2f", dot(col("c"), col("c"))
        - lit(2.0) * dot(col("v"), col("c")) + dot(col("v"), col("v")))
      .select(col("vec_id"), col("cid"), col("d2f"),
        sqrt(greatest(lit(0.0), col("d2f"))).as("dist"))
      .ckptPartitioned()
    val own = alld.groupBy(col("vec_id"))
      .agg(min(struct(col("d2f"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster_id"),
        sqrt(greatest(lit(0.0), col("m.d2f"))).as("a_dist"))
    val oth = alld.join(own, "vec_id")
      .filter(col("cid") =!= col("cluster_id"))
      .groupBy(col("vec_id"), col("cluster_id"), col("a_dist"))
      .agg(min(col("dist")).as("b_dist"))
    val s = floorGrid((col("b_dist") - col("a_dist")) /
      when(greatest(col("a_dist"), col("b_dist")) === 0.0, lit(null))
        .otherwise(greatest(col("a_dist"), col("b_dist"))), 1e6)
    oth.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        (sum(s.cast(d28)).cast("double") / count(lit(1)))
          .as("mean_silhouette"))
  }

  private def kmeansAssign(base: DataFrame, cents: DataFrame): DataFrame =
    base.crossJoin(broadcast(cents))
      .withColumn("d2", dot(col("c"), col("c")) - lit(2.0) * dot(col("v"), col("c")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).as("m"))
      .select(col("vec_id"), col("m.cid").as("cluster_id"), col("m.d2").as("d2"))

  private def kmeansCents(emb: DataFrame, idCol: String, vecCol: String,
                          k: Int, rounds: Int): (DataFrame, DataFrame) = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds must be positive")
    val d28 = org.apache.spark.sql.types.DecimalType(28, 12)
    val base = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * lit(1e6)) / lit(1e6)).as("v"))
      .ckptPartitioned()
    var cents = base
      .withColumn("__digest", Sampling.md5Long32(Seq(col("vec_id"))))
      .orderBy(col("__digest"), col("vec_id"))
      .limit(k)
      .withColumn("cid", (row_number().over(Window.orderBy(col("__digest"),
        col("vec_id"))) - 1).cast("long"))
      .select(col("cid"), col("v").as("c"))
      .ckptPartitioned()
    for (_ <- 1 to rounds) {
      val means = kmeansAssign(base, cents)
        .join(base, "vec_id")
        .select(col("cluster_id"), posexplode(col("v")).as(Seq("dim_pos", "vx")))
        .groupBy(col("cluster_id"), col("dim_pos"))
        .agg((sum(col("vx").cast(d28)).cast("double") / count(lit(1))).as("mx"))
      cents = means
        .groupBy(col("cluster_id").as("cid"))
        .agg(transform(array_sort(collect_list(struct(col("dim_pos"), col("mx")))),
          s => s.getField("mx")).as("c"))
        .ckptPartitioned()
    }
    (base, cents)
  }

  /** MULTI-PROBE random-hyperplane LSH top-k: the query probes its
    * own bucket AND every Hamming-distance-1 bucket (each single sign
    * bit flipped) in each table — the classic multi-probe refinement:
    * a true neighbor lost to [[lshTopK]] sits, with high probability,
    * just across ONE hyperplane (its bucket differs in one bit), so
    * probing the `planes` adjacent buckets recovers most of the
    * recall extra tables would buy, WITHOUT re-hashing or storing
    * anything: the corpus index is identical, only the query side
    * fans out ×(planes+1) — and the query panel is broadcast-sized,
    * so the extra probes cost nothing at corpus scale. Measured by
    * [[recallEval]] (spec-pinned): strictly dominates single-probe
    * recall on the same index.
    */
  def lshMultiProbeTopK(emb: DataFrame, idCol: String, vecCol: String,
                        nQueries: Int, k: Int, tables: Int = 3,
                        planes: Int = 0, dim: Int = 64,
                        seed: Long = 42L): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val pl = resolvePlanes(planes, base)
    val hashed = bucketed(base, tables, pl, dim, seed)
    val qb = hashed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl").as("q_tbl"),
        explode(array(col("bucket") +: (0 until pl).map(j =>
          col("bucket").bitwiseXOR(lit(1 << j))): _*)).as("q_bucket"))
    val candIds = hashed.join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val qv = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = base.join(broadcast(candIds), "vec_id")
      .join(broadcast(qv), "q_id")
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(scored, k)
  }

  /** Recall panel of every approximate index against the exact
    * baseline — "measure, don't guess" as a first-class operator: per
    * method (lsh / ivf / pq), how many of the exact top-k pairs the
    * approximate search returned, and recall@k. The evaluation a
    * pipeline runs BEFORE trusting an index at scale, maintained next
    * to the indexes themselves so a parameter change shows its recall
    * cost immediately.
    *
    * Each method's result joins the exact pair set on (query,
    * neighbor) — truth is nQueries·k rows, so the panel math is
    * negligible next to the searches it measures.
    */
  def recallEval(emb: DataFrame, idCol: String, vecCol: String,
                 nQueries: Int = 10, k: Int = 5): DataFrame = {
    // Five index builds + the exact baseline all scan the corpus: feed
    // them ONE materialized projection instead of six source re-scans
    // (each method still derives its own prepared/bucketed relations —
    // cheap codegen over in-memory blocks; the parquet scan and any
    // upstream lineage execute once).
    val embX = emb.select(col(idCol), col(vecCol)).ckptPartitioned()
    // The exact baseline and the six index builds are independent
    // deterministic chains over the shared checkpointed projection,
    // several with eager internal materializations (IVF/PQ centroid
    // training rounds, bucket checkpoints) — overlap their
    // construction (Par.seq, guide §2.6): the wall drops toward the
    // slowest single chain, the panel rows are bit-identical.
    val built = Par.seq[DataFrame](Seq(
      () => cosineTopK(embX, idCol, vecCol, nQueries, k)
        .select(col("q_id"), col("neighbor_id"))
        .ckptPartitioned(),
      () => lshTopK(embX, idCol, vecCol, nQueries, k),
      () => lshMultiProbeTopK(embX, idCol, vecCol, nQueries, k),
      () => ivfTopK(embX, idCol, vecCol, nQueries, k),
      () => pqTopK(embX, idCol, vecCol, nQueries, k),
      () => ivfPqTopK(embX, idCol, vecCol, nQueries, k,
        nProbe = 6, shortlistFactor = 8),
      () => sq8TopK(embX, idCol, vecCol, nQueries, k)))
    val exact = built(0)
    // broadcast the approx side EXPLICITLY: every method's top-k output
    // is ≤ nQueries·k rows BY CONSTRUCTION (a parameter panel, safe at
    // any corpus scale), but it sits behind checkpoints/windows whose
    // stats the planner cannot see — without the hint all six recall
    // joins planned as SortMergeJoins (measured in the r15 before-plan)
    def row(method: String, approx: DataFrame): DataFrame =
      exact.join(broadcast(approx.select(col("q_id"), col("neighbor_id"),
          lit(1L).as("__graft_hit"))),
          Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_truth"),
          sum(coalesce(col("__graft_hit"), lit(0L))).as("n_hit"))
        .select(lit(method).as("method"), col("n_truth"), col("n_hit"),
          (col("n_hit").cast("double") / col("n_truth").cast("double"))
            .as("recall_at_k"))
    row("lsh", built(1))
      .unionByName(row("lsh_multiprobe", built(2)))
      .unionByName(row("ivf", built(3)))
      .unionByName(row("pq", built(4)))
      .unionByName(row("ivf_pq", built(5)))
      .unionByName(row("sq8", built(6)))
  }

  /** FILTERED vector search — exact cosine top-k where the corpus is
    * PRE-filtered by a metadata predicate (the "filtered ANN" shape
    * modern vector stores serve: "nearest neighbors WHERE label = X").
    * Pre-filtering is the exact-recall form — a post-filter of an
    * unfiltered top-k can return fewer than k (or zero) survivors
    * when the predicate is selective; here the predicate cuts the
    * candidate set BEFORE ranking, so every query gets its true
    * filtered top-k. Queries stay unrestricted (the asker need not
    * satisfy the filter). Same scale shape as [[cosineTopK]]:
    * broadcast query panel, salted two-phase top-k, and the predicate
    * reaches the scan as a pushed filter.
    */
  def filteredTopK(emb: DataFrame, idCol: String, vecCol: String,
                   pred: Column, nQueries: Int, k: Int): DataFrame = {
    val base = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        col(vecCol).cast("array<double>").as("v"), pred.as("__keep"))
      .withColumn("nrm", l2norm(col("v")))
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = base.filter(col("__keep"))
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(scored, k)
  }

  /** Brute-force cosine top-k over SQ8-RECONSTRUCTED corpus vectors
    * (full-precision queries — the ADC convention): what serving out
    * of int8 storage actually returns. [[sq8ErrorPanel]] prices the
    * per-component error; this arm prices its RANKING effect, and
    * [[recallEval]] reports it next to the other index tiers.
    * Reconstruction rides the exploded relation + one per-vector
    * collect (the kmeans centroid idiom); scoring is the exact-tier
    * shape (broadcast query panel, salted two-phase top-k).
    */
  def sq8TopK(emb: DataFrame, idCol: String, vecCol: String,
              nQueries: Int, k: Int): DataFrame = {
    val comps = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        posexplode(col(vecCol).cast("array<double>")).as(Seq("dim_pos", "x")))
    val scales = comps.groupBy(col("vec_id"))
      .agg(max(abs(col("x"))).as("__mx"))
      .withColumn("scale", col("__mx") / lit(127.0))
    val recon = comps.join(scales.hint("shuffle_hash"), Seq("vec_id"))
      .withColumn("__r",
        when(col("scale") === 0.0, lit(0.0))
          .otherwise(floor(col("x") / col("scale") + lit(0.5)).cast("long")
            .cast("double") * col("scale")))
      .groupBy(col("vec_id"))
      .agg(transform(array_sort(collect_list(struct(col("dim_pos"), col("__r")))),
        s => s.getField("__r")).as("v"))
      .withColumn("nrm", l2norm(col("v")))
    val q = prepared(emb, idCol, vecCol).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = recon.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim",
        dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(scored, k)
  }

  /** Greedy k-center CORESET selection (farthest-point traversal) —
    * the diverse-subset primitive a curation pipeline runs where
    * [[kmeans]] finds density: pick the md5-lowest vector, then k−1
    * times the vector FARTHEST from everything chosen so far (max
    * min-distance², smallest id on ties). The selected set 2-
    * approximates the optimal k-center cover, and `d2_sel` — each
    * pick's distance² to the set before it — is the shrinking
    * coverage-radius curve (stop reading when it plateaus).
    *
    * Scale shape: the min-distance relation `md` carries ONE scalar
    * per vector, updated per round by a broadcast of the single new
    * center and a codegen `least` — k corpus passes total (the
    * traversal's inherent cost), each one map-only + a TakeOrdered(1)
    * argmax; nothing row-shaped at the driver, `localCheckpoint` per
    * round (the kmeans discipline). Engine parity: the kmeans
    * determinism kit — 1e-6 floor-grid components, md5-lowest seed,
    * full `|v|²−2v·c+|c|²` distances in one fixed op order via the
    * proven dot fold, (md desc, vec_id) total-order argmax.
    */
  def kcenterSelect(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    val base = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * lit(1e6)) / lit(1e6)).as("v"))
      .ckptPartitioned()
    def d2(v: Column, c: Column): Column =
      dot(v, v) - lit(2.0) * dot(v, c) + dot(c, c)
    val first = base
      .withColumn("__dg", graft.operators.Sampling.md5Long32(Seq(col("vec_id"))))
      .orderBy(col("__dg"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("v"))
      .ckptPartitioned()
    var chosen = first.select(lit(0L).as("sel_rank"), col("vec_id"),
      lit(null).cast("double").as("d2_sel"))
    var md = base.crossJoin(broadcast(first.select(col("v").as("c"))))
      .select(col("vec_id"), col("v"), d2(col("v"), col("c")).as("md"))
      .ckptPartitioned()
    for (r <- 1 until k) {
      val next = md.orderBy(col("md").desc, col("vec_id")).limit(1)
        .ckptPartitioned()
      chosen = chosen.unionByName(next.select(lit(r.toLong).as("sel_rank"),
        col("vec_id"), col("md").as("d2_sel")))
      if (r < k - 1)
        md = md.crossJoin(broadcast(next.select(col("v").as("c"))))
          .select(col("vec_id"), col("v"),
            least(col("md"), d2(col("v"), col("c"))).as("md"))
          .ckptPartitioned()
    }
    chosen
  }

  /** First principal component by power iteration — the DATA-DRIVEN
    * twin of [[randomProject]]'s data-free JL map: project onto the
    * direction of maximum variance instead of a random one. Classic
    * two-stage distributed PCA: the corpus collapses into a d×d
    * scatter panel in ONE pass (mean-centered component pairs, exact
    * DECIMAL(28,12) partials — order-free across 1000 executors; the
    * self-join materializes only the gi ≤ gj HALF — products commute
    * bit-for-bit, so the mirrored cell is the same decimal sum), then
    * the fixed-round power iteration replays ON THE DRIVER over the
    * collected panel. The panel is d² cells at ANY corpus size —
    * metadata-scale, the same class as the sink's per-partition
    * counts, never row-shaped data — and the driver replay uses the
    * exact op sequence Spark executed before (1e-6 grid floor,
    * Double.toString-seeded BigDecimal at scale 12 HALF_UP — Spark's
    * own double→decimal cast — order-free decimal sums, one IEEE
    * divide), so results are bit-identical while the ~3 panel stages
    * per iteration (measured: they dominated the query) disappear.
    * The corpus is touched exactly twice: once for the scatter panel,
    * once for the final projection (component-keyed join with the
    * broadcast eigenvector panel, decimal-partial dot products).
    *
    * A fixed iteration count (not an epsilon test) keeps the result
    * deterministic and the DuckDB oracle replayable as chained
    * MATERIALIZED CTEs; starting from the uniform vector (1/√d exact
    * for power-of-two d) fixes the eigenvector sign. Output:
    * (vec_id, pc1_score) — the corpus compressed onto its own top
    * direction.
    */
  def pcaProject(emb: DataFrame, idCol: String, vecCol: String,
                 dim: Int, iterations: Int = 15): DataFrame = {
    require(iterations >= 1, s"need at least one iteration: $iterations")
    val d28 = org.apache.spark.sql.types.DecimalType(28, 12)
    // Components quantize ONCE to the 1e-6 grid (pure IEEE multiply/
    // floor/divide — identical in every engine; float precision is
    // ~1e-7 relative, so nothing real is lost). Raw float-derived
    // doubles are low-entropy dyadics whose decimal expansions can end
    // EXACTLY on a rounding-tie digit, and engines disagree on tie
    // rounding (measured: the per-dim means diverged at 1e-15);
    // grid-quantized values sit within ~1e-22 of a 1e-12 multiple, so
    // every downstream DECIMAL(28,12) cast is provably tie-free.
    // ARRAY-form corpus relation (r15, guide §2.3/§2.4): the old shape
    // exploded the corpus to (vec_id, dim_pos, v) — n·d rows — THEN
    // self-joined that relation on vec_id to enumerate the gi ≤ gj
    // component pairs (n·d(d+1)/2 join-output rows through a hash
    // join whose build side was the n·d-row relation itself, plus two
    // n·d-row checkpoints). The quantized, centered vector is ONE
    // array row per vec_id instead; the means panel still needs one
    // exploded pass, but the pair enumeration becomes two chained
    // generators over the array (the Recsys.coOccurrenceCounts
    // pattern) — no join, no n·d checkpoints. Products, grids and
    // DECIMAL(28,12) order-free sums are the identical op sequence,
    // so every Gram cell (and the oracle hash) is bit-identical.
    // Spread the corpus across the session's shuffle partitions before
    // the checkpoint (r16, guide §2.5 input parallelism): the Gram
    // pass below does O(d²) work per row — 64× the bytes this one
    // row-sized exchange moves — and a single-split scan (one parquet
    // row group) otherwise serializes the whole d(d+1)/2 product
    // stream into one task (measured: a 2.4 s single-task stage).
    val vq = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        transform(col(vecCol).cast("array<double>"),
          x => floor(x * lit(1e6)) / lit(1e6)).as("varr"))
      .repartition(emb.sparkSession.sessionState.conf.numShufflePartitions,
        col("vec_id"))
      .ckptPartitioned()
    val means = vq
      .select(posexplode(col("varr")).as(Seq("dim_pos", "v")))
      .groupBy(col("dim_pos"))
      .agg((sum(col("v").cast(d28)).cast("double") / count(lit(1))).as("mu"))
      .orderBy(col("dim_pos"))
    // means is a d-row panel: collect it once and center the arrays
    // with a zip against the literal mean vector — (v - mu) per
    // component, the same IEEE subtract as the old broadcast join.
    // Keyed by dim_pos, not positionally (ADVICE r15): a ragged corpus
    // or an all-null dimension would silently misalign a positional
    // zip where the old dim_pos broadcast join stayed correct — so
    // assert the panel is exactly the contiguous non-null 0..d-1 the
    // zip_with needs.
    val muRows = means.collect()
    val muByPos = muRows.map { r =>
      require(!r.isNullAt(1),
        s"pcaProject: null mean at dim_pos ${r.getInt(0)} (all-null dimension?)")
      r.getInt(0) -> r.getDouble(1)
    }.toMap
    require(muByPos.size == muRows.length &&
      (0 until muRows.length).forall(muByPos.contains),
      s"pcaProject: non-contiguous dim_pos set ${muByPos.keys.toSeq.sorted.take(8)}... (ragged vectors?)")
    val muArr = array((0 until muRows.length)
      .map(i => lit(muByPos(i))).toIndexedSeq: _*)
    val centered = vq
      .select(col("vec_id"),
        zip_with(col("varr"), muArr, (v, mu) => v - mu).as("cvarr"))
      .ckptPartitioned()
    // Every product is floor-quantized to the 1e-6 grid BEFORE its
    // decimal cast: engines do not round full-entropy doubles to
    // decimal identically (DuckDB's cast goes through extended
    // precision internally — measured ~1e-5 of casts disagreeing
    // with Spark in the last decimal digit), but floor/multiply/
    // divide are plain IEEE ops both execute bit-identically, and a
    // grid-aligned value sits ~1e-22 from its decimal point — no
    // rounding decision left to disagree on.
    val gramHalf = centered
      .select(posexplode(col("cvarr")).as(Seq("gi", "cvi")), col("cvarr"))
      .select(col("gi"), col("cvi"),
        posexplode(slice(col("cvarr"), col("gi") + lit(1), lit(Int.MaxValue)))
          .as(Seq("__joff", "cvj")))
      .groupBy(col("gi"), (col("gi") + col("__joff")).as("gj"))
      .agg(sum(floorGrid(col("cvi") * col("cvj"), 1e6).cast(d28)).cast("double").as("gij"))
    // d(d+1)/2 cells — a FIXED-size panel (4160 rows at d=64) at any
    // corpus scale; collecting it is metadata traffic, not data.
    val g = Array.ofDim[Double](dim, dim)
    gramHalf.collect().foreach { row =>
      val (i, j, v) = (row.getInt(0), row.getInt(1), row.getDouble(2))
      g(i)(j) = v
      g(j)(i) = v
    }
    // Driver replay of the exact distributed op sequence: grid-floor,
    // Spark's double→decimal(28,12) cast (shortest-repr BigDecimal,
    // HALF_UP at scale 12), order-free decimal sum, toDouble, IEEE
    // divide. Values are grid-aligned so every rounding decision is
    // unambiguous — bit-identical to the panel-stage version and to
    // the DuckDB oracle's CTE replay.
    def dec12(x: Double): java.math.BigDecimal =
      new java.math.BigDecimal(java.lang.Double.toString(x))
        .setScale(12, java.math.RoundingMode.HALF_UP)
    def g6(x: Double): Double = math.floor(x * 1e6) / 1e6
    // exact for power-of-two d; any fixed literal start works
    var r = Array.fill(dim)(1.0 / math.sqrt(dim.toDouble))
    for (_ <- 1 to iterations) {
      val rn = Array.tabulate(dim) { i =>
        var acc = java.math.BigDecimal.ZERO
        var j = 0
        while (j < dim) { acc = acc.add(dec12(g6(g(i)(j) * r(j)))); j += 1 }
        acc.doubleValue()
      }
      var nacc = java.math.BigDecimal.ZERO
      var i = 0
      while (i < dim) { nacc = nacc.add(dec12(g6(rn(i) * rn(i)))); i += 1 }
      val nrm = math.sqrt(nacc.doubleValue())
      r = rn.map(_ / nrm)
    }
    // Final projection rides the array form too: the eigenvector is a
    // LITERAL d-array, the per-vector score a zip_with product +
    // exact DECIMAL(28,12) fold — the same grid6 products and the
    // same exact scale-12 additions the old exploded join + sum
    // executed (decimal addition is associative and these magnitudes
    // are nowhere near precision 28, so fold order cannot matter);
    // one pass over n rows, no explode, no join, no extra exchange.
    val rArr = array(r.toIndexedSeq.map(lit): _*)
    centered.select(col("vec_id"),
      aggregate(zip_with(col("cvarr"), rArr, (c, rv) => floorGrid(c * rv, 1e6)),
        lit(java.math.BigDecimal.ZERO).cast(d28),
        (acc, x) => (acc + x.cast(d28)).cast(d28))
        .cast("double").as("pc1_score"))
  }

  /** Exact cosine RANGE search: every neighbor with cos ≥ threshold
    * for each query `vec_id < nQueries` — the radius twin of
    * [[cosineTopK]] (a recall-oriented dedup/retrieval sweep wants
    * "all within ε", not "the best k"). Same broadcast-query × corpus
    * scan, but with NO top-k windows at all: the threshold is a pure
    * codegen filter, so the whole operator is one zero-window,
    * zero-extra-shuffle pass — at 100 TB each task emits only its
    * local matches. Same fold-order dot product as the proven cosine
    * oracle.
    */
  def rangeSearch(emb: DataFrame, idCol: String, vecCol: String,
                  nQueries: Int, threshold: Double): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .filter(col("cos_sim") >= threshold)
      .select(col("q_id"), col("vec_id").as("neighbor_id"), col("cos_sim"))
  }

  /** Exact brute-force cosine top-k for queries `vec_id < nQueries`. */
  def cosineTopK(emb: DataFrame, idCol: String, vecCol: String,
                 nQueries: Int, k: Int): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val q = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = base.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(scored, k)
  }

  /** Two-phase per-query top-k: a salted local rank bounds every task
    * at k × salt rows per query before the global rank, so the final
    * per-query partition sees k × 64 rows instead of the corpus.
    */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val salted = Window.partitionBy(col("q_id"), pmod(col("vec_id"), lit(64)))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    val global = Window.partitionBy(col("q_id"))
      .orderBy(col("cos_sim").desc, col("vec_id"))
    scored
      .withColumn("__graft_lrank", row_number().over(salted))
      .filter(col("__graft_lrank") <= k)
      .withColumn("rank", row_number().over(global))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("vec_id").as("neighbor_id"), col("cos_sim"))
  }

  /** IVF (inverted-file) approximate top-k — the centroid-bucket
    * alternative to [[lshTopK]]. Centroids are a deterministic sample
    * of the corpus (every `corpus/nCentroids`-th vec_id — no k-means
    * iterations, which keeps the plan fully deterministic); every
    * vector is assigned to its nearest centroid (broadcast centroid
    * set, one corpus pass), queries probe their `nProbe` nearest
    * centroid cells, and exact cosine ranks within the probed cells.
    * Shuffle is proportional to the probed-cell population, never the
    * corpus × queries cross product.
    */
  def ivfTopK(emb: DataFrame, idCol: String, vecCol: String,
              nQueries: Int, k: Int, nCentroids: Int = 16,
              nProbe: Int = 4, sampleStride: Long = 31L): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    // Deterministic centroid sample: every sampleStride-th id, lowest
    // ids first (TakeOrdered — no driver count, no unordered limit).
    // Pick sampleStride ≈ corpus/nCentroids for balanced cells.
    val centroids = base.filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
      .orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    // nearest-centroid assignment: one pass, centroid set broadcast
    def cellRank = Window.partitionBy(col("vec_id"))
      .orderBy(col("__graft_csim").desc, col("c_id"))
    val assigned = base.crossJoin(broadcast(centroids))
      .withColumn("__graft_csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("__graft_crank", row_number().over(cellRank))
    val cells = assigned.filter(col("__graft_crank") === 1)
      .select(col("vec_id"), col("v"), col("nrm"), col("c_id").as("cell"))
    val probes = assigned.filter(col("vec_id") < nQueries && col("__graft_crank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"))
    val qv = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = cells.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .join(broadcast(qv), "q_id")
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(scored, k)
  }

  /** Product-quantization top-k (the memory-scale ANN path: IVF/LSH
    * bound CANDIDATE volume, PQ bounds BYTES — at 100 TB the decisive
    * constraint is that full vectors don't fit anywhere, while m
    * 1-byte codes per vector do, ~dim×4/m× smaller).
    *
    * Pipeline (all deterministic — centroids are the same
    * stride-sampled rows the IVF path uses, per subspace):
    *  1. split each vector into `m` subvectors; per subspace, the
    *     codebook is the first `ks` sampled subvectors;
    *  2. ENCODE: each corpus vector → m nearest-centroid codes (one
    *     broadcast join; ties break on code) — the only corpus-sized
    *     state downstream, m bytes a vector;
    *  3. ADC: each query precomputes its inner product against every
    *     centroid (m × ks table, broadcast); approximate cosine =
    *     Σ_s table[s][code_s] / (|x||q|), assembled by joining codes
    *     to tables on (sub, code) — volume n × m × |Q|, linear in the
    *     corpus. Partial products sum as DECIMAL so the reduction is
    *     order-free;
    *  4. exact re-rank of the `shortlistFactor × k` ADC shortlist —
    *     full vectors are touched for shortlist rows only.
    */
  def pqTopK(emb: DataFrame, idCol: String, vecCol: String,
             nQueries: Int, k: Int, m: Int = 8, ks: Int = 16,
             dim: Int = 64, sampleStride: Long = 31L,
             shortlistFactor: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val base = prepared(emb, idCol, vecCol)
    val (exploded, cb) = pqParts(base, m, ks, dim, sampleStride)
    val enc = pqEncode(exploded, cb)
      .join(base.select(col("vec_id"), col("nrm")), "vec_id")
    val qtab = exploded.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("sub"), col("subv").as("qsubv"))
      .join(broadcast(cb), "sub")
      .withColumn("part", dot(col("qsubv"), col("cv")))
      .select(col("q_id"), col("sub"), col("code"), col("part"))
    val qv = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val approx = enc.join(broadcast(qtab), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"), col("nrm"))
      // the ADC partials are full-entropy doubles: floor-grid to the
      // 1e-12 lattice before the DECIMAL partial (§5 cast-portability
      // rule — raw-double decimal casts can differ across engines)
      .agg(sum(graft.expressions.Kernels.toDecimal(
          floor(col("part") * lit(1e12)) / lit(1e12), 38, 12))
        .cast("double").as("__graft_adot"))
      .join(broadcast(qv.select(col("q_id"), col("qnrm"))), "q_id")
      .withColumn("cos_sim", col("__graft_adot") / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    val shortlist = topK(approx, shortlistFactor * k)
      .select(col("q_id"), col("neighbor_id").as("vec_id"))
    val rescored = shortlist
      .join(base, "vec_id")
      .join(broadcast(qv), "q_id")
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(rescored, k)
  }

  /** IVF-PQ top-k — the two scale bounds COMPOSED, the standard
    * production index shape (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", §V): IVF bounds CANDIDATE volume
    * (queries probe `nProbe` centroid cells, never the corpus), PQ
    * bounds BYTES (within a cell, vectors exist only as m residual
    * codes) — together, a query touches `nProbe` cells' worth of
    * m-byte codes and full vectors only for the exact re-rank
    * shortlist. Codebooks quantize the RESIDUAL `v − c(cell)` (the
    * classic refinement: residuals are smaller and better centered
    * than raw vectors, so the same ks codes waste less of their
    * range), and the ADC estimate decomposes exactly:
    * `v·q = c·q + r·q ≈ c·q + Σ_s table[s][code_s]`.
    *
    * Everything is the deterministic machinery of the parent indexes
    * — stride-sampled centroids and codebooks, lowest-id ties,
    * DECIMAL ADC partials — so the result is bit-stable across runs
    * and layouts; recall is measured, not guessed: the operator is a
    * `recallEval` panel row. On the STRUCTURELESS synthetic corpus
    * the panel duly reports the residual trick buying nothing
    * (~0.20–0.24 at the probe budget — a "nearest" sampled centroid
    * of random 64-d data is not near, so residuals carry full vector
    * entropy into a ks-entry codebook); on clustered real embeddings
    * the same machinery is the configuration that wins, which is
    * exactly the decision the panel exists to inform.
    */
  def ivfPqTopK(emb: DataFrame, idCol: String, vecCol: String,
                nQueries: Int, k: Int, nCentroids: Int = 16,
                nProbe: Int = 4, m: Int = 8, ks: Int = 16,
                dim: Int = 64, sampleStride: Long = 31L,
                shortlistFactor: Int = 4): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val subDim = dim / m
    val base = prepared(emb, idCol, vecCol)
    val centroids = base.filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
      .orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    def cellRank = Window.partitionBy(col("vec_id"))
      .orderBy(col("__graft_csim").desc, col("c_id"))
    val assigned = base.crossJoin(broadcast(centroids))
      .withColumn("__graft_csim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("__graft_crank", row_number().over(cellRank))
    // residual vector per corpus row: r = v − c(cell)
    val resid = assigned.filter(col("__graft_crank") === 1)
      .select(col("vec_id"), col("nrm"), col("c_id").as("cell"),
        zip_with(col("v"), col("cv"), (a, b) => a - b).as("rv"))
    def subStructsOf(c: Column) = array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(c, s * subDim + 1, subDim).as("subv"))): _*)
    val exploded = resid.select(col("vec_id"), explode(subStructsOf(col("rv"))).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.subv").as("subv"))
    val cbRank = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    val cb = exploded.filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
      .withColumn("__graft_cr", row_number().over(cbRank))
      .filter(col("__graft_cr") <= ks)
      .select(col("sub"), col("__graft_cr").as("code"), col("subv").as("cv"))
    // the stored artifact: (cell, m codes, norm) per vector
    val enc = pqEncode(exploded, cb)
      .join(resid.select(col("vec_id"), col("cell"), col("nrm")), "vec_id")
    // query side: probes (nProbe nearest cells), c·q panel, ADC table
    // from the query's RAW subvectors against the residual codebooks
    val probes = assigned.filter(col("vec_id") < nQueries &&
        col("__graft_crank") <= nProbe)
      .select(col("vec_id").as("q_id"), col("c_id").as("cell"),
        (dot(col("v"), col("cv"))).as("cdot"))
    val qv = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val qtab = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), explode(subStructsOf(col("v"))).as("x"))
      .select(col("q_id"), col("x.sub").as("sub"), col("x.subv").as("qsubv"))
      .join(broadcast(cb), "sub")
      .withColumn("part", dot(col("qsubv"), col("cv")))
      .select(col("q_id"), col("sub"), col("code"), col("part"))
    val cand = enc.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
    val adc = cand.join(broadcast(qtab), Seq("q_id", "sub", "code"))
      .groupBy(col("q_id"), col("vec_id"), col("nrm"), col("cdot"))
      // §5 grid before the DECIMAL partial, as in [[pqTopK]]'s ADC
      .agg(sum(graft.expressions.Kernels.toDecimal(
          floor(col("part") * lit(1e12)) / lit(1e12), 38, 12))
        .cast("double").as("__graft_rdot"))
      .join(broadcast(qv.select(col("q_id"), col("qnrm"))), "q_id")
      .withColumn("cos_sim",
        (col("cdot") + col("__graft_rdot")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    val shortlist = topK(adc, shortlistFactor * k)
      .select(col("q_id"), col("neighbor_id").as("vec_id"))
    val rescored = shortlist
      .join(base, "vec_id")
      .join(broadcast(qv), "q_id")
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(rescored, k)
  }

  /** (subvector explosion, per-subspace codebook) shared by encode
    * and query-table construction. Codebook = the first `ks` stride-
    * sampled subvectors per subspace, ranked by vec_id.
    */
  private def pqParts(base: DataFrame, m: Int, ks: Int, dim: Int,
                      sampleStride: Long): (DataFrame, DataFrame) = {
    val subDim = dim / m
    val subStructs = array((0 until m).map(s =>
      struct(lit(s).as("sub"), slice(col("v"), s * subDim + 1, subDim).as("subv"))): _*)
    val exploded = base.select(col("vec_id"), explode(subStructs).as("x"))
      .select(col("vec_id"), col("x.sub").as("sub"), col("x.subv").as("subv"))
    val cbRank = Window.partitionBy(col("sub")).orderBy(col("vec_id"))
    val cb = exploded.filter(pmod(col("vec_id"), lit(sampleStride)) === 0)
      .withColumn("__graft_cr", row_number().over(cbRank))
      .filter(col("__graft_cr") <= ks)
      .select(col("sub"), col("__graft_cr").as("code"), col("subv").as("cv"))
    (exploded, cb)
  }

  /** Nearest-centroid code per (vector, subspace): L2² against the
    * broadcast codebook, ties on code — m small codes per vector, the
    * only corpus-sized artifact the PQ path keeps.
    */
  private def pqEncode(exploded: DataFrame, cb: DataFrame): DataFrame = {
    val encRank = Window.partitionBy(col("vec_id"), col("sub"))
      .orderBy(col("__graft_d2").asc, col("code"))
    exploded.join(broadcast(cb), "sub")
      .withColumn("__graft_d2",
        dot(col("subv"), col("subv")) - lit(2.0) * dot(col("subv"), col("cv")) +
          dot(col("cv"), col("cv")))
      .withColumn("__graft_er", row_number().over(encRank))
      .filter(col("__graft_er") === 1)
      .select(col("vec_id"), col("sub"), col("code"))
  }

  /** PQ codes alone (the stored artifact at scale): m (sub, code)
    * entries per vector, exposed for specs and downstream encoders.
    */
  private[graft] def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
                             m: Int, ks: Int, dim: Int,
                             sampleStride: Long = 31L): DataFrame = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    val base = prepared(emb, idCol, vecCol)
    val (exploded, cb) = pqParts(base, m, ks, dim, sampleStride)
    pqEncode(exploded, cb)
  }

  /** Sign-bit count for an LSH table sized to the corpus: with
    * `planes = ceil(log2(n / targetBucketSize))` a table has
    * `n / targetBucketSize` buckets, the expected bucket holds
    * `targetBucketSize` vectors, and per-table candidate volume is
    * ~`n × targetBucketSize / 2` — LINEAR in the corpus, versus
    * `n²/2^planes` for any fixed plane count (a fixed 5-plane table
    * is an effective all-pairs at 1M documents: n²/32). Clamped to
    * [4, 24]: at least 16 buckets on toy corpora, and past 2²⁴
    * buckets empty-bucket overhead dominates before recall does.
    */
  def planesFor(corpusSize: Long, targetBucketSize: Long = 128L): Int = {
    val ratio = math.max(1.0, corpusSize.toDouble / targetBucketSize)
    // exact power walk, no libm: min p with 2^p >= ratio. Same values
    // as ceil(log2(ratio)) everywhere except exactly-power-of-two
    // ratios, where libm's last-ulp could fall either side — and the
    // oracle replays this with POWER(2,p) comparisons, so the choice
    // must be bit-exactly shared (r14 LSH-tier conversion).
    var p = 0
    var t = 1.0
    while (t < ratio && p < 24) { p += 1; t *= 2 }
    math.max(4, p)
  }

  /** Resolve the auto-planes sentinel (<= 0): count the corpus (one
    * column-pruned job, eager — documented) and apply [[planesFor]].
    */
  private def resolvePlanes(planes: Int, base: DataFrame): Int =
    if (planes > 0) planes else planesFor(base.count())

  /** Embedding-cosine near-duplicate pairs over the WHOLE corpus:
    * LSH-bucketed self-join (the all-pairs twin of [[lshTopK]]) — the
    * only pairs scored are those sharing a bucket in some table, so
    * the shuffle is proportional to bucket collisions, never n².
    * Exact cosine verifies every candidate before the threshold.
    *
    * `planes <= 0` (the default) derives the bucket count from the
    * corpus size via [[planesFor]] — this runs one eager count job at
    * plan-construction time. Pass an explicit `planes` to keep
    * construction lazy.
    */
  def cosineNearDupPairs(emb: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, tables: Int = 3, planes: Int = 0,
                         dim: Int = 64, seed: Long = 42L): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val hashed = bucketed(base, tables, resolvePlanes(planes, base), dim, seed)
    val cands = hashed.as("a").join(hashed.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cands
      .join(base.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos_sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos_sim") >= threshold)
      .select("vec_a", "vec_b", "cos_sim")
  }

  /** Mutual k-NN graph over the LSH candidate structure: every pair
    * (a < b) where b ranks in a's top-k AND a ranks in b's top-k
    * among their LSH-bucket candidates — the symmetric-neighborhood
    * graph density-based clustering and graph-based dedup consume
    * (mutuality filters the hub effect: a vector "near everything"
    * ranks high for many nodes but keeps few of them in its OWN
    * top-k, so its spurious edges drop). Emits both directed ranks
    * with the exact cosine.
    *
    * Scale shape: candidates come from the bucketed self-join (the
    * [[cosineNearDupPairs]] collision-bounded shape — never n²), each
    * candidate pair scored ONCE (checkpointed, consumed by both
    * directions), per-node ranks over collision-bounded neighbor
    * lists (node-keyed window, frame = a node's own candidates), and
    * the mutuality test is one co-keyed self-join of two ≤ k·n
    * relations. Rows-only by protocol (seeded hyperplanes);
    * spec-pinned: planted bundles, mutuality, determinism.
    */
  def mutualKnnLsh(emb: DataFrame, idCol: String, vecCol: String,
                   k: Int, tables: Int = 3, planes: Int = 0,
                   dim: Int = 64, seed: Long = 42L): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val base = prepared(emb, idCol, vecCol).ckptPartitioned()
    val hashed = bucketed(base, tables, resolvePlanes(planes, base), dim, seed)
    val cands = hashed.as("a").join(hashed.as("b").hint("shuffle_hash"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    val scored = cands
      .join(base.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")), "vec_a")
      .join(base.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")), "vec_b")
      .withColumn("cos_sim", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .select(col("vec_a"), col("vec_b"), col("cos_sim"))
      .ckptPartitioned()
    val directed = scored.select(col("vec_a").as("node"), col("vec_b").as("nb"), col("cos_sim"))
      .unionAll(scored.select(col("vec_b").as("node"), col("vec_a").as("nb"), col("cos_sim")))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("cos_sim").desc, col("nb"))
    val ranked = directed.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
    ranked.as("x").join(ranked.as("y").hint("shuffle_hash"),
        col("x.node") === col("y.nb") && col("x.nb") === col("y.node"))
      .filter(col("x.node") < col("x.nb"))
      .select(col("x.node").as("node_a"), col("x.nb").as("node_b"),
        col("x.cos_sim").as("cos_sim"),
        col("x.rank").as("rank_ab"), col("y.rank").as("rank_ba"))
  }

  /** splitmix64 finalizer — decorrelates the per-(table, plane)
    * Random seeds below (sequential java.util.Random seeds share
    * low-bit structure in their first draws).
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Hyperplane (table, plane) — drawn from its OWN splitmix-seeded
    * Random, so the coefficient vector for plane j is independent of
    * how many planes a run uses. That independence is what lets the
    * oracle embed one literal plane set and mask `j < planes` at any
    * corpus size (pre-r14, planes were drawn from one sequential
    * stream: the j-th plane's values depended on `planes`, so no
    * static literal replay could cover two scales).
    */
  private[graft] def planeVec(tb: Int, j: Int, dim: Int, seed: Long): Array[Double] = {
    val rnd = new java.util.Random(mix64(seed * 0x100000001B3L + tb * 1000003L + j))
    Array.fill(dim)(rnd.nextGaussian())
  }

  /** (table, bucket) sign-hash assignment shared by the LSH paths.
    * Hyperplane coefficients come from a fixed seed, so every run,
    * executor and cluster assigns identical buckets — and the oracle
    * re-renders the same literals (see [[planeVec]]).
    */
  private[graft] def bucketed(base: DataFrame, tables: Int, planes: Int,
                              dim: Int, seed: Long): DataFrame = {
    def bucketCol(v: Column, tb: Int): Column =
      (0 until planes).map(j =>
        when(dot(v, array(planeVec(tb, j, dim, seed).map(lit).toSeq: _*)) > 0, 1 << j)
          .otherwise(0))
        .reduce(_ + _)
    base.select(col("vec_id"),
      explode(array((0 until tables).map(tb =>
        struct(lit(tb).as("tbl"), bucketCol(col("v"), tb).as("bucket"))): _*)).as("h"))
      .select(col("vec_id"), col("h.tbl").as("tbl"), col("h.bucket").as("bucket"))
  }

  /** Random-hyperplane LSH top-k: `tables` independent hash tables of
    * `planes` sign bits each; a corpus vector is a candidate for a
    * query iff they share a bucket in at least one table. Hyperplanes
    * are derived from a fixed seed so the plan is deterministic across
    * runs and clusters.
    *
    * `planes <= 0` (the default) sizes the tables to the corpus via
    * [[planesFor]] (one eager count job); pass `planes` explicitly to
    * keep construction lazy.
    */
  def lshTopK(emb: DataFrame, idCol: String, vecCol: String,
              nQueries: Int, k: Int, tables: Int = 3, planes: Int = 0,
              dim: Int = 64, seed: Long = 42L): DataFrame = {
    val base = prepared(emb, idCol, vecCol)
    val hashed = bucketed(base, tables, resolvePlanes(planes, base), dim, seed)
    val qb = hashed.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("tbl").as("q_tbl"), col("bucket").as("q_bucket"))
    val candIds = hashed.join(broadcast(qb),
        col("tbl") === col("q_tbl") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("q_id"))
      .select("q_id", "vec_id").distinct()
    val qv = base.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val scored = base.join(broadcast(candIds), "vec_id")
      .join(broadcast(qv), "q_id")
      .withColumn("cos_sim", dot(col("v"), col("qv")) / (col("nrm") * col("qnrm")))
      .select("q_id", "vec_id", "cos_sim")
    topK(scored, k)
  }

  /** k-NN classification — the APPLICATION layer over [[cosineTopK]]:
    * each query vector takes the majority label of its k exact cosine
    * neighbors (vote ties break on the smaller label, the house
    * deterministic-tie rule). Same scale shape as the search it wraps
    * (broadcast query panel, salted two-phase top-k, never a global
    * corpus rank); the vote is panel math on nQueries·k rows. The
    * exact tier is the oracle-checkable baseline — swap in
    * lshMultiProbeTopK/ivfTopK for the approximate serving path, and
    * `recallEval` already prices that substitution.
    *
    * Output per query: vec_id, label_true, pred_label, votes (the
    * winner's neighbor count), is_correct.
    */
  def knnClassify(emb: DataFrame, idCol: String, vecCol: String,
                  labelCol: String, nQueries: Int, k: Int): DataFrame = {
    val labels = emb.select(col(idCol).cast("long").as("vec_id"),
      col(labelCol).cast("long").as("label"))
    val neighbors = cosineTopK(emb, idCol, vecCol, nQueries, k)
      .join(labels.withColumnRenamed("vec_id", "neighbor_id")
        .withColumnRenamed("label", "n_label"), Seq("neighbor_id"))
    val votes = neighbors.groupBy(col("q_id"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("votes").desc, col("n_label"))
    votes.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .join(labels.withColumnRenamed("vec_id", "q_id")
        .withColumnRenamed("label", "label_true"), Seq("q_id"))
      .select(col("q_id").as("vec_id"), col("label_true"),
        col("n_label").as("pred_label"), col("votes"),
        (col("n_label") === col("label_true")).as("is_correct"))
  }

  /** INT8 scalar quantization error panel (SQ8 — the 4×-compression
    * tier below [[pqTopK]]'s codebooks): per vector, symmetric
    * per-vector scale `max|x| / 127`, integer codes
    * `floor(x/s + 0.5)` (round-half-up — one engine-exact floor, no
    * banker's-rounding divergence), and the reconstruction-quality
    * panel a storage pipeline reads before committing to int8: MSE,
    * max absolute error, and the reconstructed-over-true norm ratio.
    *
    * Everything runs on the exploded (vec, dim, component) relation —
    * two partial-agg shuffles on vec_id, no vector ever rebuilt, no
    * HOF lambda in the hot path (the §4 interpreted-HOF rule). §5:
    * full-entropy error terms floor-quantize to the 1e-12 grid (≤
    * unit magnitude) before their DECIMAL partials; ratios ship as
    * raw IEEE quotients.
    */
  def sq8ErrorPanel(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val d12 = org.apache.spark.sql.types.DecimalType(38, 12)
    val comps = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("vec_id"),
        explode(col(vecCol).cast("array<double>")).as("x"))
    val scales = comps.groupBy(col("vec_id"))
      .agg(max(abs(col("x"))).as("__mx"), count(lit(1)).as("dim"))
      .withColumn("scale", col("__mx") / lit(127.0))
    comps.join(scales.hint("shuffle_hash"), Seq("vec_id"))
      .withColumn("code",
        when(col("scale") === 0.0, lit(0L))
          .otherwise(floor(col("x") / col("scale") + lit(0.5)).cast("long")))
      .withColumn("recon", col("code").cast("double") * col("scale"))
      .withColumn("__err", col("x") - col("recon"))
      .groupBy(col("vec_id"), col("dim"), col("scale"))
      .agg(
        (sum(floorGrid(col("__err") * col("__err"), 1e12).cast(d12)).cast("double")
          / col("dim")).as("mse"),
        max(abs(col("__err"))).as("max_abs_err"),
        sum(floorGrid(col("recon") * col("recon"), 1e12).cast(d12)).cast("double")
          .as("__rn2"),
        sum(floorGrid(col("x") * col("x"), 1e12).cast(d12)).cast("double").as("__xn2"))
      .select(col("vec_id"), col("dim"), col("scale"), col("mse"),
        col("max_abs_err"),
        when(col("__xn2") === 0.0, lit(0.0))
          .otherwise(sqrt(col("__rn2")) / sqrt(col("__xn2"))).as("norm_ratio"))
  }
}
