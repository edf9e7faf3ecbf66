package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.Kernels.floorGrid

/** Item-item collaborative filtering over implicit interactions — the
  * co-occurrence-normalized neighbor structure behind "users who took
  * X also took Y" serving panels. Distinct from the order-basket
  * association rules (AnalyticsPack.marketBasket): here co-occurrence
  * is at the USER level across that user's whole history, scored with
  * the cosine `n_ij / sqrt(n_i · n_j)` and cut to the top-k neighbor
  * list per item (the artifact an online recommender actually loads).
  *
  * Scale shape: interactions dedup in one (user, item) partial agg;
  * a deterministic per-user cap (`row_number` by item id) bounds the
  * within-user pair fan-out at cap²/2 — the classic guard that keeps
  * one crawler/power user from quadratically exploding the self-join
  * (same role as the dedup df-cap; at 100 TB the cap is what makes
  * pair volume linear in users). Pairs shuffle on the user key only;
  * marginals and pair counts are partial-agg shuffles on item keys;
  * the final top-k window partitions per item (panel-sized lists,
  * never a global sort). Engine parity: counts are exact integers,
  * the cosine is one sqrt + one division, floor-quantized to the 1e-6
  * grid (§5) before the rank so a last-ulp disagreement cannot flip
  * neighbor order (rank ties break on neighbor id).
  */
object Recsys {


  /** Distinct (user, item) interactions with the deterministic
    * per-user cap applied.
    */
  def interactions(raw: DataFrame, userCol: String, itemCol: String,
                   userCap: Int): DataFrame = {
    // ONE exchange for dedup + cap (r15, guide §2.4): hash-partition by
    // user FIRST — hashpartitioning(user) satisfies the (user, item)
    // aggregation's ClusteredDistribution AND the cap window's, so the
    // distinct agg and the row_number sort both run behind this single
    // shuffle. The old shape paid two row-scale exchanges: partial agg
    // → Exchange(user, item) → final agg → Exchange(user) → window.
    // The lost map-side partial agg collapsed almost nothing here
    // (duplicate (user, item) rows are rare by construction of the
    // sources), and at 100 TB the single user-keyed exchange is also
    // the skew-safe one: per-user volume is about to be capped at
    // userCap anyway.
    // Explicit partition count (REPARTITION_BY_NUM, r16): letting AQE
    // coalesce this exchange makes every downstream checkpoint stamp
    // CoalescedHashPartitioning, which satisfies single-child
    // requirements (the dedup agg, the cap window) but cannot
    // co-partition a JOIN — the shuffle-path joins over the
    // materialized relation would re-exchange both sides. The count
    // is the session's shuffle-partition conf, the knob a deployment
    // scales with the data.
    val base = raw
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol).as("user_id"), col(itemCol).as("item_id"))
      .repartition(raw.sparkSession.sessionState.conf.numShufflePartitions,
        col("user_id"))
      .groupBy(col("user_id"), col("item_id"))
      .agg(count(lit(1)).as("__n")).drop("__n")
    val w = Window.partitionBy(col("user_id")).orderBy(col("item_id"))
    base.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= userCap).drop("__rn")
  }

  /** Top-k cosine neighbors per item. `raw` is any frame with a user
    * and an item column (duplicates fine — dedup happens here).
    */
  def itemCosineTopK(raw: DataFrame, userCol: String, itemCol: String,
                     k: Int, userCap: Int = 1000,
                     minSupport: Int = 2): DataFrame =
    itemCosineFromInteractions(
      Ckpt.partitioned(interactions(raw, userCol, itemCol, userCap)),
      k, minSupport)

  /** Items-panel broadcast gate — the shared [[Prejoin.broadcastIfSmall]]
    * decision: broadcast when a known row count proves the panel
    * small, shuffle-join at corpus scale.
    */
  private def broadcastIfPanel(df: DataFrame, rows: Long): DataFrame =
    Prejoin.broadcastIfSmall(df, rows)

  /** Within-user ordered co-occurrence pair counts from a capped
    * interaction relation — the pair build WITHOUT a self-join:
    * collect each user's (already-capped) item set into one sorted
    * array, then two chained generators emit the ordered pairs —
    * item_a from posexplode, item_b from the strictly-later slice.
    * Same rows a user_id-equijoin produces, but ONE shuffle (the
    * user collect) instead of two join-side exchanges + a join
    * operator (measured at sf0.1: the pair build dropped ~40%).
    * Array sizes are bounded by the per-user cap, so no row buffer
    * can exceed cap longs. The raw pair stream repartitions BEFORE
    * the count: pair keys barely collapse map-side (most pairs are
    * singletons), so the partial aggregate would build
    * row-count-sized hash maps for nothing; exchanging first costs
    * the same shuffle bytes and aggregates once, in small
    * per-partition maps. Shared by the CF neighbor build and the
    * co-occurrence graph endpoints (k-core).
    */
  private[graft] def coOccurrenceCounts(inter0: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    // The packability probe below EXECUTES at plan-construction time,
    // so the relation must be materialized first or the probe replays
    // the full upstream lineage once extra: enforce the precondition
    // here — pass through relations that are already materialized (a
    // caller's localCheckpoint/cache, possibly under a cheap
    // projection), cut everything else (lazily: the probe's collect
    // is the action that materializes it, and the pair build then
    // reuses the checkpointed blocks)
    def materialized(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : Boolean = p match {
      case _: org.apache.spark.sql.execution.LogicalRDD => true
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => true
      case _: org.apache.spark.sql.execution.columnar.InMemoryRelation => true
      case pr: org.apache.spark.sql.catalyst.plans.logical.Project =>
        materialized(pr.child)
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        materialized(f.child)
      // A broadcast SEMI join over a materialized left side (the
      // minSupport pre-prune) is a per-row filter pass, not a shuffle:
      // re-running it for the probe and the pair build (2 broadcast
      // probes over checkpointed blocks) is cheaper than materializing
      // a THIRD copy of the interaction relation (measured r16: the
      // prune checkpoint made coverage_pruned SLOWER than unpruned
      // coverage at the same k).
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi &&
            j.hint.rightHint.exists(_.strategy.contains(
              org.apache.spark.sql.catalyst.plans.logical.BROADCAST)) =>
        materialized(j.left)
      case _ => false
    }
    val inter =
      if (materialized(inter0.queryExecution.optimizedPlan)) inter0
      else Ckpt.partitioned(inter0)
    val idType = inter.schema("item_id").dataType
    val integralIds =
      Seq(ByteType, ShortType, IntegerType, LongType).contains(idType)
    // PACKED-KEY fast path: when ids provably fit 31 bits (one 1-row
    // probe on the checkpointed relation — panel-sized collect), the
    // ordered pair packs into ONE long `a<<32|b`, so the raw pair
    // exchange carries half the key bytes and the count aggregation
    // hashes a single long instead of a two-column row (measured at
    // sf0.1: 4.0-5.6 s → 2.5-3.0 s for the same 13M-pair stream).
    // Ids outside [0, 2^31) — possible at 100-TB surrogate scales —
    // or non-integral ids take the two-column path below, same
    // results (spec-pinned equal).
    val packable = integralIds && {
      val b = inter.agg(min(col("item_id").cast("long")).as("mn"),
        max(col("item_id").cast("long")).as("mx")).collect().head
      !b.isNullAt(0) && b.getLong(0) >= 0L && b.getLong(1) < (1L << 31)
    }
    // ONE pair-enumeration pipeline for both branches (cast up front
    // on the packed path so sort order and pair order are identical);
    // only the aggregation key differs
    val itemExpr =
      if (packable) col("item_id").cast("long") else col("item_id")
    val rawPairs = inter.groupBy(col("user_id"))
      .agg(sort_array(collect_list(itemExpr)).as("__items"))
      .select(posexplode(col("__items")).as(Seq("__pos", "item_a")),
        col("__items"))
      .select(col("item_a"),
        explode(slice(col("__items"), col("__pos") + lit(2),
          lit(Int.MaxValue))).as("item_b"))
    if (packable) {
      rawPairs
        .select(shiftleft(col("item_a"), 32).bitwiseOR(col("item_b"))
          .as("__pk"))
        .repartition(col("__pk"))
        .groupBy(col("__pk")).agg(count(lit(1)).as("n_both"))
        .select(shiftright(col("__pk"), 32).cast(idType).as("item_a"),
          col("__pk").bitwiseAND(lit(0xffffffffL)).cast(idType).as("item_b"),
          col("n_both"))
    } else {
      rawPairs
        .repartition(col("item_a"), col("item_b"))
        .groupBy(col("item_a"), col("item_b"))
        .agg(count(lit(1)).as("n_both"))
    }
  }

  private[graft] def itemCosineFromInteractions(inter: DataFrame, k: Int,
                                                    minSupport: Int): DataFrame = {
    // checkpoint: the marginals panel feeds BOTH score joins, and a
    // shared plan is otherwise recomputed per join; items-panel-sized
    // (one row per item), so the eager materialization is cheap and
    // gives the broadcast gate a real row count.
    val marginals0 = inter.groupBy(col("item_id"))
      .agg(count(lit(1)).as("n_users")).localCheckpoint(true)
    // ONE panel aggregate for both gate counts (r15): the item count
    // (broadcast gate) and the below-floor count (prune gate) used to
    // be two separate driver round trips over the same checkpointed
    // panel; a single two-column agg halves the panel-probe latency.
    val gateRow = marginals0.agg(count(lit(1)).as("__n"),
      coalesce(sum(when(col("n_users") < minSupport, 1L).otherwise(0L)),
        lit(0L)).as("__np"),
      coalesce(sum(when(col("n_users") < minSupport, col("n_users"))
        .otherwise(0L)), lit(0L)).as("__pi"),
      coalesce(sum(col("n_users")), lit(0L)).as("__ti"))
      .collect().head
    val nItems = gateRow.getAs[Long]("__n")
    val marginals = broadcastIfPanel(marginals0, nItems)
    // EXACT pre-prune BEFORE the pair fan-out: n_both <= min(n_a, n_b),
    // so an item whose own support is below the floor cannot survive
    // the n_both filter with ANY partner — dropping its interactions
    // up front produces identical output (the oracle pins it) while
    // the cap²/2 pair stream shrinks by the pruned items' share of
    // each user's set. At the default floor (2) this sheds the
    // long tail of single-user items; at production floors (5-10,
    // the recsys_coverage_pruned shape) the pair stream tracks the
    // HEAD of the catalog instead of its cardinality.
    // Gate on the items PANEL first (checkpointed, one cheap count):
    // when nothing falls below the floor the semi-join would only add
    // an extra materialization of the interaction relation to the
    // chain — measured ~10-15% on the recsys family — for zero pruning.
    val nPrunable = if (minSupport <= 1) 0L else gateRow.getAs[Long]("__np")
    // Share-of-interactions gate (r16): pruning is exact at ANY share,
    // but its cost is two broadcast-probe passes over the interaction
    // relation while its saving is ~2x the pruned items' interaction
    // share of the pair stream — below a few percent the passes cost
    // more than they save (measured: coverage_pruned slower than the
    // unpruned sibling at the same k). 2% is conservative: the saving
    // is quadratic in the share, the cost linear, so at long-tail
    // production distributions (share >> 2%) the prune always fires.
    val prunableShare =
      if (gateRow.getAs[Long]("__ti") == 0L) 0.0
      else gateRow.getAs[Long]("__pi").toDouble / gateRow.getAs[Long]("__ti")
    val pruned =
      if (nPrunable == 0L || prunableShare < 0.02) inter
      else inter.join(
        broadcastIfPanel(
          marginals0.filter(col("n_users") >= minSupport).select(col("item_id")),
          nItems),
        Seq("item_id"), "left_semi")
    val pairs = coOccurrenceCounts(pruned)
      // support floor: a single shared user is noise, not a signal —
      // and it is the scale lever: the pair relation is dominated by
      // singletons (>70% observed), so the floor shrinks everything
      // downstream (marginal joins, symmetrize, the rank window) 3-4x
      .filter(col("n_both") >= minSupport)
    val scored = pairs
      .join(marginals.withColumnRenamed("item_id", "item_a")
        .withColumnRenamed("n_users", "n_a"), Seq("item_a"))
      .join(marginals.withColumnRenamed("item_id", "item_b")
        .withColumnRenamed("n_users", "n_b"), Seq("item_b"))
      .withColumn("cosine", floorGrid(col("n_both").cast("double") /
        sqrt(col("n_a").cast("double") * col("n_b").cast("double")), 1e6))
    // Symmetrize so every item ranks its full neighborhood, then cut.
    // ONE pass (r16, guide §2.4): each scored pair explodes into its
    // two orientations inline. The old two-branch union re-executed
    // the ENTIRE scored subtree — including the cap²/2 pair-stream
    // exchange — once per branch (measured: two identical ~91 MB map
    // stages per query; AQE exchange reuse does not fire across the
    // self-union's re-aliased branches). Same rows in a different
    // order; the rank window re-sorts per item, so output is
    // bit-identical (oracle-pinned).
    val sym = scored.select(explode(array(
        struct(col("item_a").as("item_id"), col("item_b").as("neighbor_id"),
          col("n_both"), col("cosine")),
        struct(col("item_b").as("item_id"), col("item_a").as("neighbor_id"),
          col("n_both"), col("cosine")))).as("__e"))
      .select(col("__e.item_id").as("item_id"),
        col("__e.neighbor_id").as("neighbor_id"),
        col("__e.n_both").as("n_both"), col("__e.cosine").as("cosine"))
    val w = Window.partitionBy(col("item_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    sym.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("item_id"), col("rank").cast("int").as("rank"),
        col("neighbor_id"), col("n_both"), col("cosine"))
  }

  /** Per-user top-n recommendations: score each candidate item by the
    * SUM of its cosine links to items the user already interacted
    * with (restricted to the top-k neighbor lists — the bounded
    * serving-time join), drop already-seen items, rank per user.
    * Cosine partials sum as exact DECIMAL(28,6) over grid points so
    * parallel reduction order can never change a score.
    */
  def recommendTopN(raw: DataFrame, userCol: String, itemCol: String,
                    n: Int, k: Int, userCap: Int = 1000,
                    minSupport: Int = 2): DataFrame = {
    // one materialized interaction relation feeds the neighbor build,
    // the candidate join and the seen-filter — without it the whole
    // join+dedup+cap lineage (and the pair aggregation above it)
    // executes twice. Partitioning-preserving checkpoint (r16): the
    // relation is hash(user)-partitioned and (user, item)-sorted from
    // the cap window — keeping that visible lets every user-keyed
    // consumer below (the pair collect, the candidate aggregate, the
    // rank windows) plan exchange-free.
    val inter = Ckpt.partitioned(interactions(raw, userCol, itemCol, userCap))
    recommendFromInteractions(inter, n, k, minSupport)
  }

  /** The serving tail of [[recommendTopN]] over a PRE-BUILT
    * interaction relation — shared with [[evalRankingLoo]], whose
    * train split must feed the identical chain.
    */
  private[graft] def recommendFromInteractions(inter: DataFrame, n: Int, k: Int,
                                        minSupport: Int): DataFrame = {
    val neighbors0 = itemCosineFromInteractions(inter, k, minSupport)
      .localCheckpoint(true)
    // ≤ items×k rows by construction; the count is free post-checkpoint
    // and lets the candidate join broadcast the neighbor lists instead
    // of shuffling the whole interaction relation by item
    val neighbors = broadcastIfPanel(neighbors0, neighbors0.count())
    // One exchange for the whole serving tail: hash-partitioning on
    // user_id alone satisfies the (user_id, rec_item) aggregation's
    // clustered distribution AND the final rank window's, so the
    // aggregate, the anti join (broadcast) and the window all run in
    // the same stage behind this single shuffle. Per-user volume is
    // bounded by userCap × k, so the partitioning cannot skew beyond
    // that product.
    // cosines are 1e-6-gridded, so the order-free exact sum runs as
    // LONG micro-units (the fastest Tungsten aggregate) instead of
    // DECIMAL(28,6): round(c·1e6) recovers the grid integer exactly,
    // per-user sums stay ≤ userCap·k·1e6 ≪ 2^53, and sum/1e6 is the
    // correctly-rounded double the decimal cast also produces —
    // bit-identical scores, cheaper partials
    // No explicit repartition (r16): when `inter` carries its
    // hash(user) partitioning through the checkpoint, the broadcast
    // join preserves it and hashpartitioning(user) already satisfies
    // the (user, rec_item) aggregation's ClusteredDistribution and the
    // rank window's — the whole tail plans in ONE stage with zero
    // exchanges. When the partitioning is unknown (a caller handed in
    // an unmaterialized relation), EnsureRequirements inserts the same
    // user-keyed exchange the old explicit repartition forced.
    val candidates = inter.join(neighbors, Seq("item_id"))
      .groupBy(col("user_id"), col("neighbor_id").as("rec_item"))
      .agg((sum(round(col("cosine") * lit(1e6)).cast("long"))
          .cast("double") / lit(1e6)).as("score"),
        count(lit(1)).as("n_links"))
    // anti join (not left+filter-null): same semantics, but the probe
    // can short-circuit on first match and no null-augmented rows
    // flow through the filter. The seen-set is the (user,item)
    // relation itself — small enough to broadcast at panel scale
    // (gate), shuffled at corpus scale; broadcasting it spares the
    // candidate relation (the × k fan-out, the biggest frame in the
    // query) its sort+exchange.
    val seen = inter.withColumnRenamed("item_id", "rec_item")
    val unseen = candidates.join(
        broadcastIfPanel(seen, inter.count()),
        Seq("user_id", "rec_item"), "left_anti")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("score").desc, col("rec_item"))
    unseen.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .select(col("user_id"), col("rank").cast("int").as("rank"),
        col("rec_item"), col("n_links"), col("score"))
  }

  /** Recommendation COVERAGE / exposure-bias panel — the serving-side
    * health check on [[recommendTopN]]'s output: what share of the
    * catalog ever gets recommended (low coverage = the engine only
    * re-circulates the head) and how concentrated item exposure is
    * (Gini over per-item recommendation counts — near 1 means a few
    * items absorb all slots, the popularity-bias failure mode that
    * makes recommendations self-reinforcing). One row out.
    *
    * Scale shape: the recommendation relation checkpoints once; the
    * exposure panel is one item-keyed partial agg, ranked by the
    * distributed prefix-sum machinery (never a single-partition
    * window over the item space), and the Gini closed form runs on
    * exact integer aggregates with mirrored double ops at the edge.
    */
  def recommendationCoverage(raw: DataFrame, userCol: String, itemCol: String,
                             n: Int, k: Int, userCap: Int = 1000,
                             minSupport: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    // one materialization of the (user, item) projection feeds the
    // whole recommend chain AND the catalog distincts — without it
    // the upstream join re-executes three times
    val base = raw
      .filter(col(userCol).isNotNull && col(itemCol).isNotNull)
      .select(col(userCol), col(itemCol))
      .localCheckpoint(false)
    val recs = recommendTopN(base, userCol, itemCol, n, k, userCap, minSupport)
      .localCheckpoint(true)
    // ONE pass over the row-scale relation for both catalog counts:
    // the Expand the two-distinct agg plans doubles rows map-side but
    // its exchange carries only distinct partials (≈ items + users
    // rows) — two separate distinct branches scan and shuffle base
    // twice for the same panel
    val cat = base.agg(
      countDistinct(col(itemCol)).as("n_items_catalog"),
      countDistinct(col(userCol)).as("n_users_total"))
    val served = recs.agg(countDistinct(col("user_id")).as("n_users_served"))
    val exposure = recs.groupBy(col("rec_item")).agg(count(lit(1)).as("x"))
    val ranked = PrefixSum.globalOrdered(exposure,
      Seq(col("x"), col("rec_item")), "x")
    val g = ranked.agg(
      count(lit(1)).as("n_items_recommended"),
      sum(col("x")).as("__tot"),
      sum(col("row_rank").cast(DecimalType(19, 0))
        * col("x").cast(DecimalType(19, 0))).as("__wsum"))
    def d(c: Column): Column = c.cast("double")
    cat.crossJoin(broadcast(served)).crossJoin(broadcast(g))
      .select(col("n_users_total"), col("n_users_served"),
        col("n_items_catalog"), col("n_items_recommended"),
        (d(col("n_items_recommended")) / d(col("n_items_catalog")))
          .as("catalog_coverage"),
        when(col("__tot") > 0,
          (lit(2.0) * d(col("__wsum"))
            - d(col("n_items_recommended") + 1) * d(col("__tot")))
            / (d(col("n_items_recommended")) * d(col("__tot"))))
          .as("exposure_gini"))
  }

  /** Leave-one-out RANKING evaluation of the recommender — the
    * offline-metrics tier that closes the recsys family (model D85,
    * serving D86, coverage G112/G125, now measurement): per user with
    * ≥ 2 interactions, hold out ONE deterministically (the max
    * md5(user, item) interaction — a pure function of the data, so
    * the split replays across engines and runs), recommend top-n from
    * the REMAINING train interactions through the identical serving
    * chain, and score whether the held-out item comes back —
    * hit-rate@n, MRR@n and NDCG@n (single-relevant-item form,
    * gain 1/log₂(rank+1)). One row out.
    *
    * Engine parity: the per-rank MRR/NDCG gains are PRE-GRIDDED
    * Scala-evaluated literals indexed by rank (the Benford
    * parsed-literal rule — no runtime log), summed as DECIMAL(28,6)
    * order-free partials, one IEEE division per metric at the edge.
    *
    * Scale shape: the holdout is one user-keyed rank window over the
    * capped interaction relation; train feeds the shared recommend
    * chain (all its bounds apply); the metric join is holdout-sized
    * (one row per evaluated user) against the top-n relation.
    */
  def evalRankingLoo(raw: DataFrame, userCol: String, itemCol: String,
                     n: Int, k: Int, userCap: Int = 1000,
                     minSupport: Int = 2): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val inter = Ckpt.partitioned(interactions(raw, userCol, itemCol, userCap))
    // ONE window pass for holdout size + holdout pick (r16): the
    // per-user count rides the row_number's (user | __h desc, item)
    // sort with an unbounded frame — same values as a separate
    // partition-only count window, one sort instead of two (and with
    // the checkpoint's preserved hash(user) partitioning, zero
    // exchanges).
    val wHold = Window.partitionBy(col("user_id"))
      .orderBy(col("__h").desc, col("item_id"))
    val held = inter
      .withColumn("__h", graft.operators.Sampling.md5Long60(
        Seq(col("user_id"), col("item_id"))))
      .withColumn("__c", count(lit(1)).over(
        wHold.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("__rn", row_number().over(wHold))
      .filter(col("__c") >= 2 && col("__rn") === 1)
      .select(col("user_id"), col("item_id").as("test_item"))
      .localCheckpoint(true)
    val train = Ckpt.partitioned(inter.join(
        held.select(col("user_id"), col("test_item").as("item_id")),
        Seq("user_id", "item_id"), "left_anti"))
    val recs = recommendFromInteractions(train, n, k, minSupport)
    // pre-gridded per-rank gains as parsed literals (both engines sum
    // the identical 1e-6-grid doubles as exact decimals)
    def gridConst(x: Double): Double = math.floor(x * 1e6) / 1e6
    val mrrGain = array((1 to n).map(r => lit(gridConst(1.0 / r))): _*)
    val ndcgGain = array((1 to n).map(r =>
      lit(gridConst(math.log(2.0) / math.log(r + 1.0)))): _*)
    val joined = held.join(
      recs.select(col("user_id"), col("rec_item").as("test_item"), col("rank")),
      Seq("user_id", "test_item"), "left")
    joined.agg(
        count(lit(1)).as("n_users_evaluated"),
        count(col("rank")).as("n_hits"),
        sum(when(col("rank").isNotNull,
          element_at(mrrGain, col("rank")).cast(DecimalType(28, 6)))
          .otherwise(lit(0).cast(DecimalType(28, 6)))).as("__mrr_sum"),
        sum(when(col("rank").isNotNull,
          element_at(ndcgGain, col("rank")).cast(DecimalType(28, 6)))
          .otherwise(lit(0).cast(DecimalType(28, 6)))).as("__ndcg_sum"))
      .select(col("n_users_evaluated"), col("n_hits"),
        // NULL, not 0, when nothing was evaluated: 0/0 is NaN, whose
        // floor Spark longs to 0 while SQL engines keep NaN — and a
        // caller reading "0% hit rate" for "no holdout" is misled
        when(col("n_users_evaluated") > 0,
          floor(col("n_hits").cast("double") / col("n_users_evaluated").cast("double")
            * lit(1e6)) / lit(1e6)).as("hit_rate"),
        when(col("n_users_evaluated") > 0,
          floor(col("__mrr_sum").cast("double") / col("n_users_evaluated").cast("double")
            * lit(1e6)) / lit(1e6)).as("mrr"),
        when(col("n_users_evaluated") > 0,
          floor(col("__ndcg_sum").cast("double") / col("n_users_evaluated").cast("double")
            * lit(1e6)) / lit(1e6)).as("ndcg"))
  }
}
