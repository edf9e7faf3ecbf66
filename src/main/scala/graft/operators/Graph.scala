package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.expressions.Kernels.floorGrid

/** Distributed graph analytics over edge lists.
  *
  * Same execution discipline as [[TextDedup.connectedComponents]]:
  * fixed-round iteration, each round one co-keyed join + one
  * partial-aggregated shuffle, `localCheckpoint` between rounds so the
  * plan never grows with the iteration count, and the driver touches
  * nothing row-shaped.
  */
object Graph {

  /** Count-gated broadcast for node-sized relations with a known row
    * count (checkpointed per round) — the shared
    * [[Prejoin.broadcastIfSmall]] decision, taken one stage early so
    * the edge side never sorts for a SortMergeJoin.
    */
  private def bcastIfSmall(df: DataFrame, rows: Long): DataFrame =
    Prejoin.broadcastIfSmall(df, rows)

  /** Triangle enumeration over an undirected edge list: every
    * unordered node triple {a,b,c} with all three edges present,
    * emitted once as (node_a < node_b < node_c).
    *
    * The input is canonicalized to oriented edges (src < dst,
    * distinct) — orienting by the node ordering means each triangle
    * is generated exactly once by construction (a<b joined a<c, then
    * the closing b<c edge), no post-hoc dedup. Scale shape: two
    * co-keyed equi-joins on edge endpoints; the first join's fan-out
    * is Σ deg²(node) over the ORIENTED degree, which the a<b
    * orientation already bounds (a hub's edges split between in- and
    * out-roles; the classic refinement — orient by (degree, id)
    * instead of id — drops in here without changing the output,
    * since the emitted triple is re-sorted by node id either way).
    * No window, no driver structure; output is triangle-sized.
    */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .ckptPartitioned()
    // shuffled-hash on both joins (the Cdc.snapshotDiff steering):
    // posting-list probes need no sort order, and the checkpointed
    // edge relation carries no stats for the planner to see that.
    val wedges = e.as("ab").join(e.as("ac").hint("shuffle_hash"),
        col("ab.a") === col("ac.a") && col("ab.b") < col("ac.b"))
      .select(col("ab.a").as("node_a"), col("ab.b").as("node_b"), col("ac.b").as("node_c"))
    wedges.join(e.as("bc").hint("shuffle_hash"),
        col("node_b") === col("bc.a") && col("node_c") === col("bc.b"))
      .select(col("node_a"), col("node_b"), col("node_c"))
  }

  /** Degree assortativity — the Pearson correlation of endpoint
    * degrees over every (undirected) edge, both orientations counted:
    * positive when hubs attach to hubs (social-style mixing),
    * negative when hubs attach to leaves (hub-and-spoke
    * infrastructure — the shape a transit flow graph usually shows).
    * The one scalar that says which regime a graph is in before any
    * per-node drill-down.
    *
    * Scale shape: canonical (a<b, distinct) edges checkpointed once,
    * a node-sized degree panel from one partial agg, two key joins to
    * decorate each edge with its endpoint degrees, then ONE moment
    * aggregate — Σ(da+db), Σ(da²+db²), Σ da·db as exact integer
    * DECIMAL partials (degrees cast to DECIMAL before any multiply —
    * the overflow discipline), both orientations folded in
    * algebraically (x and y are exchangeable, so n = 2m,
    * Σxy = 2Σ da·db). The final r is a fixed IEEE sequence on a
    * 1-row panel. A regular graph (zero degree variance) yields NULL.
    */
  def assortativity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d19 = DecimalType(19, 0)
    val e = edges.select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .ckptPartitioned()
    // node-sized panel, checkpointed + counted once: the count gates
    // the two decoration joins to broadcast (stats-less aggregate
    // outputs would SMJ statically), falling back to shuffle at scale
    val deg = e.select(col("a").as("node")).unionAll(e.select(col("b").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .ckptPartitioned()
    val degRows = deg.count()
    val nNodes = deg.agg(count(lit(1)).as("n_nodes"))
    val da = col("da").cast(d19)
    val db = col("db").cast(d19)
    val m = e
      .join(bcastIfSmall(deg.select(col("node").as("a"),
        col("degree").as("da")), degRows), "a")
      .join(bcastIfSmall(deg.select(col("node").as("b"),
        col("degree").as("db")), degRows), "b")
      .agg(count(lit(1)).as("n_edges"),
        sum(da + db).as("s1"),
        sum(da * da + db * db).as("s2"),
        sum(da * db).as("sdd"))
    def d(c: String) = col(c).cast("double")
    val n2 = (lit(2L) * col("n_edges")).cast("double")
    val mu = d("s1") / n2
    val vr = d("s2") / n2 - mu * mu
    val cv = lit(2.0) * d("sdd") / n2 - mu * mu
    m.crossJoin(broadcast(nNodes))
      .select(col("n_nodes"), col("n_edges"),
        (cv / when(vr === 0.0, lit(null)).otherwise(vr)).as("assortativity"))
  }

  /** Per-node local clustering coefficient: of the `C(deg,2)` wedges
    * centered on a node, the share that close into triangles —
    * `2·t(v) / (deg(v)·(deg(v)−1))`, zero for degree-<2 nodes. The
    * "how clique-ish is this node's neighborhood" profile next to
    * [[triangles]]' raw enumeration.
    *
    * Both inputs collapse to node-sized panels before they meet:
    * degrees from one partial-agg over the canonical edge list,
    * incident-triangle counts from one partial-agg over the (already
    * orientation-bounded) triangle enumeration — each triangle
    * increments all three corners. Integer-exact until the single
    * terminal IEEE division.
    */
  def clusteringCoeff(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    val deg = e.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val triCorners = triangles(edges, srcCol, dstCol)
      .select(explode(array(col("node_a"), col("node_b"), col("node_c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))
    // node-keyed panel join: shuffled-hash (the triangles steering) —
    // stat-less aggregate inputs otherwise default the outer join to
    // a sort-merge neither panel's size justifies
    deg.join(triCorners.hint("shuffle_hash"), Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("degree") >= 2,
          (lit(2) * coalesce(col("n_triangles"), lit(0L))).cast("double") /
            (col("degree") * (col("degree") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Link-prediction panel over the undirected graph: for every
    * NON-adjacent node pair sharing at least one neighbor, the three
    * classic similarity scores — common-neighbor count, neighbor-set
    * Jaccard, and Adamic–Adar `Σ_w 1/ln(deg(w))` (Adamic & Adar 2003;
    * rare shared neighbors weigh more than hubs everyone shares).
    * "Which edges should exist next" — the recommendation/completion
    * primitive next to [[triangles]]' retrospective closure count.
    *
    * Scale shape: the wedge join is the [[triangles]] fan-out
    * (Σ deg²(w) pairs, generated per shared neighbor w — a<b
    * orientation, no dedup), collapsed by one (a, b) partial agg;
    * existing edges drop via one left-anti on the canonical edge
    * list; degrees are node-sized panels joined at the end. Engine
    * parity: counts exact; each wedge's 1/ln(deg(w)) term is safe by
    * construction (a shared neighbor has degree ≥ 2, so ln ≥ ln 2)
    * and floor-quantizes to the 1e-6 grid before its DECIMAL(28,6)
    * partial (§5: ln rides only panel-derived degree values); the
    * Jaccard quotient ships raw (§6).
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .ckptPartitioned()
    val nbr = e.select(col("a").as("node"), col("b").as("nb"))
      .unionAll(e.select(col("b").as("node"), col("a").as("nb")))
    val deg = nbr.groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .ckptPartitioned()
    val byW = nbr.select(col("nb").as("w"), col("node").as("u"))
    val wedges = byW.as("l").join(byW.as("r").hint("shuffle_hash"),
        col("l.w") === col("r.w") && col("l.u") < col("r.u"))
      .select(col("l.u").as("node_a"), col("r.u").as("node_b"), col("l.w").as("w"))
    val aaTerm = floor((lit(1.0) / log(col("__wdeg").cast("double"))) * lit(1e6)) / lit(1e6)
    val pairs = wedges.join(deg.select(col("node").as("w"),
          col("degree").as("__wdeg")).hint("shuffle_hash"), "w")
      .groupBy(col("node_a"), col("node_b"))
      .agg(count(lit(1)).as("n_common"),
        sum(aaTerm.cast(DecimalType(28, 6))).as("__aa"))
    val cand = pairs.join(e.select(col("a").as("node_a"), col("b").as("node_b"))
        .hint("shuffle_hash"),
      Seq("node_a", "node_b"), "left_anti")
    cand.join(deg.select(col("node").as("node_a"), col("degree").as("deg_a"))
        .hint("shuffle_hash"), "node_a")
      .join(deg.select(col("node").as("node_b"), col("degree").as("deg_b"))
        .hint("shuffle_hash"), "node_b")
      .select(col("node_a"), col("node_b"), col("n_common"),
        col("deg_a"), col("deg_b"),
        (col("n_common").cast("double") /
          (col("deg_a") + col("deg_b") - col("n_common")).cast("double"))
          .as("jaccard"),
        col("__aa").cast("double").as("adamic_adar"))
  }

  /** Community detection by synchronous weighted label propagation
    * (Raghavan et al. 2007, made fully deterministic): every node
    * starts as its own community; each round EVERY node
    * simultaneously adopts the label carrying the largest total
    * incident edge weight among its neighbors' previous-round labels,
    * ties broken to the SMALLEST label — the argmax is a pure
    * function of the previous round, so 1000 executors and a
    * sequential SQL replay converge identically (asynchronous LPA's
    * update-order dependence is exactly what's being excluded).
    * Fixed round count (the [[pageRank]] doctrine): deterministic
    * plan, chained-CTE-replayable oracle; synchronous LPA can
    * oscillate on bipartite structures, which a fixed horizon simply
    * truncates — documented, not hidden. Isolated nodes keep their
    * own label.
    *
    * Scale shape: per round, ONE edge-sized join (neighbor labels) +
    * one (node, label) partial-agg shuffle; the argmax is the
    * max-weight panel join + min-label aggregate on the node-sized
    * candidate relation (a struct-max cannot express "max weight
    * then MIN string label"). Labels checkpoint per round — fixed
    * job depth, nothing row-shaped at the driver. Weights sum as
    * DECIMAL(28,6) partials: order-free reduction, exact equality in
    * the max-weight probe on both engines.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       weightCol: String, rounds: Int = 5): DataFrame = {
    require(rounds >= 1, s"need at least one round: $rounds")
    val e0 = edges.select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"),
        col(weightCol).cast("double").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v") && col("w") > 0)
    // undirected: both orientations, so "neighbors of u" is one
    // equi-join on the second endpoint. ONE pass (r16, guide §2.4):
    // explode(array(...)) emits both orientations from a single scan
    // of the upstream edge build — the old e0 ∪ e0.swap union
    // re-executed the whole unmaterialized upstream (row-scale join +
    // aggregate for the registered flow graphs) once per branch.
    // Order differs; the next step is a checkpoint + key joins, both
    // order-free.
    val e = e0.select(explode(array(
        struct(col("u"), col("v"), col("w")),
        struct(col("v").as("u"), col("u").as("v"), col("w")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"), col("__e.w").as("w"))
      .ckptPartitioned()
    var labels = e.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
      .ckptPartitioned()
    for (_ <- 1 to rounds) {
      // fresh names per round (the pageRank self-join discipline)
      val nb = e.join(labels.select(col("node").as("v"),
            col("label").as("__cand")), "v")
        .groupBy(col("u"), col("__cand"))
        .agg(sum(col("w").cast(DecimalType(28, 6))).as("__sw"))
      val mx = nb.groupBy(col("u")).agg(max(col("__sw")).as("__msw"))
        .select(col("u").as("__u2"), col("__msw"))
      val newLab = nb.join(mx, col("u") === col("__u2") &&
          col("__sw") === col("__msw"))
        .groupBy(col("u")).agg(min(col("__cand")).as("__new_label"))
        .select(col("u").as("__n2"), col("__new_label"))
      labels = labels.join(newLab, col("node") === col("__n2"), "left")
        .select(col("node"),
          coalesce(col("__new_label"), col("label")).as("label"))
        .ckptPartitioned()
    }
    labels.select(col("node"), col("label").as("community"))
  }

  /** Weighted modularity of the [[labelPropagation]] communities —
    * the "was that partition any good" score next to the partition
    * itself: per community, `Q_c = W_c/W − (S_c/2W)²` (intra-community
    * weight share minus the share a random rewiring with the same
    * strengths would get); Σ Q_c is Newman's Q, positive when the
    * communities are denser than chance. Emits the pieces (n_nodes,
    * intra weight, strength) so a reader can see WHY a community
    * scores what it does.
    *
    * Scale shape: the propagation itself (checkpointed label panel),
    * one canonical-edge aggregate (both directions' weights summed
    * into the undirected edge, exact DECIMAL), two label joins
    * (count-gated broadcast), and ≤-communities panels; the Q
    * arithmetic is a fixed IEEE sequence on exact decimal sums cast
    * to double at the edge. Communities with no internal edges get
    * `w_intra = 0`, not NULL.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 weightCol: String, rounds: Int = 5): DataFrame = {
    val d6 = DecimalType(28, 6)
    val lbl = labelPropagation(edges, srcCol, dstCol, weightCol, rounds)
      .ckptPartitioned()
    val lblRows = lbl.count()
    val und = edges.select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"),
        col(weightCol).cast("double").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v") && col("w") > 0)
      .select(least(col("u"), col("v")).as("a"),
        greatest(col("u"), col("v")).as("b"), col("w"))
      .groupBy(col("a"), col("b")).agg(sum(col("w").cast(d6)).as("w"))
      .ckptPartitioned()
    val lblB = bcastIfSmall(lbl, lblRows)
    val wTot = und.agg(sum(col("w")).as("tot_w"))
    val strengths = und.select(col("a").as("node"), col("w"))
      .unionAll(und.select(col("b").as("node"), col("w")))
      .join(lblB, "node")
      .groupBy(col("community")).agg(sum(col("w")).as("strength"))
    val intra = und
      .join(lblB.select(col("node").as("a"), col("community").as("__ca")), "a")
      .join(lblB.select(col("node").as("b"), col("community").as("__cb")), "b")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("community")).agg(sum(col("w")).as("w_intra"))
    val sizes = lbl.groupBy(col("community")).agg(count(lit(1)).as("n_nodes"))
    val wd = col("tot_w").cast("double")
    val wi = coalesce(col("w_intra"), lit(0).cast(d6)).cast("double")
    val st = col("strength").cast("double")
    // community panels are ≤ lblRows (stats-less aggregate outputs —
    // the static planner would SMJ them); reuse the label count gate
    sizes.join(bcastIfSmall(strengths, lblRows), Seq("community"), "left")
      .join(bcastIfSmall(intra, lblRows), Seq("community"), "left")
      .crossJoin(broadcast(wTot))
      .select(col("community"), col("n_nodes"),
        wi.as("w_intra"), st.as("strength"),
        (wi / wd - (st / (lit(2.0) * wd)) * (st / (lit(2.0) * wd)))
          .as("q_contribution"))
  }

  /** k-core decomposition membership by fixed-round peeling: repeat
    * "drop every node with fewer than k neighbors still alive" for
    * `rounds` rounds — the degeneracy filter that separates the
    * densely-interconnected core from tendrils and isolated chains
    * (spam/bot subgraphs and long tails peel out; the core is where
    * community structure lives). A fixed round count (not a fixpoint
    * test) keeps the plan deterministic and the oracle replayable as
    * chained CTEs — peeling converges in a handful of rounds on
    * real degree distributions, and extra rounds are no-ops.
    *
    * Scale shape: edges normalize + dedup once (checkpointed); each
    * round is ONE edge-sized pass — two semi-joins against the
    * node-sized alive relation and a partial-agg degree count — and
    * the alive relation (node-sized) checkpoints per round, so no
    * growing lineage. Output: every original node with its final
    * core membership and its degree WITHIN the surviving core (NULL
    * when peeled) — exact integers, no floats anywhere.
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String,
            k: Int, rounds: Int = 6): DataFrame = {
    require(k >= 1 && rounds >= 1, s"k=$k rounds=$rounds out of range")
    // canonicalize (min, max) FIRST: one distinct on the canonical
    // pair relation, then the two orientations are disjoint by
    // construction — a naive union-then-distinct pays a second
    // edge-sized shuffle for nothing
    val canon = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"))
      .filter(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
    // Both orientations in ONE pass (r16, guide §2.4): the old
    // canon ∪ canon.swap union re-executed the whole upstream edge
    // lineage per branch (for the co-occurrence caller that is the
    // full pair-stream exchange — measured as two identical ~95 MB
    // map stages; AQE exchange reuse does not fire across the
    // self-union's re-aliased branches). explode(array(...)) emits
    // the same rows from a single scan; order differs, but the next
    // step is a checkpoint + degree aggregation, both order-free.
    val e = canon.select(explode(array(
        struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))
      .ckptPartitioned()
    val nodes = e.select(col("u").as("node")).distinct().ckptPartitioned()
    var alive = nodes
    var aliveRows = nodes.count()
    var lastDeg: DataFrame = null
    var converged = false
    for (_ <- 1 to rounds if !converged) {
      val aliveB = bcastIfSmall(alive, aliveRows)
      // checkpoint the DEGREE relation (not the filtered alive set):
      // the edge-sized pass materializes once, alive derives from it
      // by a filter over checkpointed node-sized blocks, and the
      // convergence probe's count job reads those same blocks — one
      // edge pass + one cheap panel count per round, and the final
      // round's degrees are REUSABLE below
      val deg = e
        .join(aliveB.select(col("node").as("u")), "u")
        .join(aliveB.select(col("node").as("v")), "v")
        .groupBy(col("u")).agg(count(lit(1)).as("__deg"))
        .ckptPartitioned()
      alive = deg.filter(col("__deg") >= k).select(col("u").as("node"))
      val next = alive.count()
      // the alive set only shrinks; an unchanged count means no node
      // was peeled, so every degree is unchanged and ALL remaining
      // rounds are no-ops — early exit produces the identical output
      // the fixed round count would (the oracle's fixed-round replay
      // stays bit-equal)
      converged = next == aliveRows
      aliveRows = next
      lastDeg = deg
    }
    // at a fixpoint the last round's degree pass IS the core degree:
    // alive(start) == alive(end), so the degrees it computed against
    // alive(start) are the degrees within the surviving core — reuse
    // them (bit-identical) instead of paying one more edge-sized pass
    // (the pre-r13 shape recomputed it every time; measured the
    // largest serialized-job gap among expensive queries, 1.8x floor)
    val (coreDeg, coreRows) =
      if (converged && lastDeg != null)
        (lastDeg.filter(col("__deg") >= k)
          .select(col("u").as("node"), col("__deg").as("__cd")), aliveRows)
      else {
        val aliveB = bcastIfSmall(alive, aliveRows)
        val cd = e
          .join(aliveB.select(col("node").as("u")), "u")
          .join(aliveB.select(col("node").as("v")), "v")
          .groupBy(col("u")).agg(count(lit(1)).as("__cd"))
          .select(col("u").as("node"), col("__cd")).ckptPartitioned()
        (cd, cd.count())
      }
    nodes.join(bcastIfSmall(coreDeg, coreRows), Seq("node"), "left")
      .select(col("node"), col("__cd").isNotNull.as("in_core"),
        col("__cd").as("core_degree"))
  }

  /** Weighted PageRank by fixed-round power iteration: rank flows
    * along out-edges proportionally to edge weight, damped; dangling
    * mass (nodes with no out-edges) redistributes uniformly each
    * round — Σ rank stays 1 by construction.
    *
    * Engine parity: per-edge contributions (`rank · w / out_w`, one
    * fixed op order) and the dangling mass sum as DECIMAL(38,18)
    * partials — order-free parallel reduction, so 1000 executors and
    * a sequential SQL replay produce bit-identical ranks; the
    * per-round rank recurrence is plain double arithmetic in one
    * fixed order. A fixed iteration count (not an epsilon test) keeps
    * the plan deterministic and the oracle replayable as chained
    * CTEs.
    *
    * Scale shape: edges carry the bulk; each round touches them in
    * exactly ONE fused pass — ranks LEFT-join the (pre-joined,
    * checkpointed) edge⋈out-weight relation, and one partial-agg
    * shuffle groups by dst where the NULL-dst group (a rank row with
    * no out-edges) IS the dangling mass: contributions and dangling
    * sum come out of the same aggregation. (The earlier two-job form
    * — a separate anti-join dangling aggregate per round — re-executed
    * up to a checkpoint-cadence's worth of edge shuffles through the
    * growing rank lineage; fused + checkpointed per round, each edge
    * shuffle executes once.) The rank and out-weight relations are
    * node-sized; node count and dangling mass are scalar/1-row panels.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: String, iterations: Int = 10,
               damping: Double = 0.85): DataFrame = {
    require(iterations >= 1, s"need at least one iteration: $iterations")
    require(damping > 0 && damping < 1, s"damping must be in (0,1): $damping")
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("double").as("w"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w") > 0)
      .ckptPartitioned()
    val outW = e.groupBy(col("src"))
      .agg(sum(col("w").cast(DecimalType(28, 6))).cast("double").as("out_w"))
    // Static across rounds: every out-edge with its source's total
    // out-weight, joined ONCE and checkpointed — rounds never repeat
    // the edge⋈out-weight join. Op order inside the round stays
    // rank·w/out_w (both columns ride along), so the oracle's
    // contribution arithmetic is untouched.
    val eOut = e.join(outW, "src").ckptPartitioned()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .ckptPartitioned()
    // The node count is STATIC across rounds: one count job up front
    // (a scalar, the connectedComponents convention) instead of a
    // re-broadcast 1-row panel inside every iteration — drops one
    // exchange + crossJoin per round. `1.0 / n` as a long→double
    // division is the same IEEE op the panel form executed.
    val nNodes = nodes.count()
    val zero28 = lit(java.math.BigDecimal.ZERO).cast(DecimalType(28, 12))
    var ranks = nodes
      .select(col("node"), (lit(1.0) / lit(nNodes).cast("double")).as("rank"))
      .ckptPartitioned()
    for (i <- 1 to iterations) {
      // One fused pass: matched rows carry a contribution, unmatched
      // (dangling) rows carry their rank into the NULL-dst group.
      // Per-row cast to DECIMAL(28,12) before the sum on BOTH
      // branches — bit-identical partials to the unfused form.
      // fresh unique names per round: round i+1's rank lineage already
      // contains eOut, so dataset-tagged refs would be an ambiguous
      // self-join — re-aliased output attributes resolve by name
      val eo = eOut.select(col("src").as("__src"), col("dst").as("__dst"),
        col("w").as("__w"), col("out_w").as("__outw"))
      val agg = ranks.join(eo, col("node") === col("__src"), "left")
        .groupBy(col("__dst"))
        .agg(sum(when(col("__dst").isNull, col("rank"))
          .otherwise(col("rank") * col("__w") / col("__outw"))
          .cast(DecimalType(28, 12))).as("s"))
      // A graph with no dangling nodes has no NULL group: aggregate
      // (never filter-only) so the panel is always exactly one row.
      val dang = agg.filter(col("__dst").isNull)
        .agg(coalesce(sum(col("s")), zero28).as("dang"))
      val contrib = agg.filter(col("__dst").isNotNull)
        .select(col("__dst").as("node"), col("s"))
      // Checkpoint RANKS each round: the one eager job per round runs
      // a fixed-depth plan (checkpointed ranks ⋈ checkpointed eOut →
      // one agg, panel joins) — lineage depth never grows with the
      // round index, and the round's double consumption of `agg`
      // (dang broadcast + contrib) re-reads checkpointed inputs only.
      ranks = nodes.crossJoin(broadcast(dang))
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          ((lit(1.0) - lit(damping)) / lit(nNodes).cast("double")
            + lit(damping) * (coalesce(col("s"), zero28).cast("double")
              + col("dang").cast("double") / lit(nNodes).cast("double"))).as("rank"))
        .ckptPartitioned()
    }
    ranks
  }

  /** HITS hubs-and-authorities (Kleinberg) — the link-analysis twin
    * of [[pageRank]] for DIRECTED role separation: a node is a good
    * hub when it points at good authorities and a good authority when
    * good hubs point at it (`a ← Aᵀh`, `h ← A·a`, L2-normalized each
    * half-step, fixed `iterations` rounds — the engine-replayable
    * fixed-round convention shared with pageRank).
    *
    * Magnitude safety: edge weights pre-normalize to `w/Σw` (HITS is
    * invariant to uniform edge scaling, so results are unchanged),
    * which keeps every gridded product and squared norm ≤ 1 — the
    * DECIMAL(28,12) partials can never overflow at any corpus scale.
    * Engine parity: per-row products floor-grid to 1e-12 before the
    * order-free decimal sums; norms are one IEEE sqrt at the panel
    * edge; score updates are fixed-order doubles. Scale shape: one
    * edge-sized pass per half-step against checkpointed scores, norm
    * panels broadcast, lineage cut per round.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           weightCol: String, iterations: Int = 10): DataFrame = {
    require(iterations >= 1, s"need at least one iteration: $iterations")
    val d28 = DecimalType(28, 12)
    val eRaw = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"),
        col(weightCol).cast("double").as("w0"))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("w0") > 0)
      .ckptPartitioned()
    val totW = eRaw.agg(sum(col("w0").cast(DecimalType(28, 6)))
      .cast("double").as("__tot"))
    val e = eRaw.crossJoin(broadcast(totW))
      .select(col("src"), col("dst"), (col("w0") / col("__tot")).as("w"))
      .ckptPartitioned()
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
      .ckptPartitioned()
    var hub = nodes.select(col("node"), lit(1.0).as("hub"))
      .ckptPartitioned()
    var auth: DataFrame = null
    for (_ <- 1 to iterations) {
      // the raw-score panel is node-sized and read TWICE (once under
      // the norm aggregate, once for the normalized join) — without
      // the checkpoint each phase re-ran the edge join + shuffle for
      // the second read (the k-core reuse argument, Graph.scala
      // k-core fixpoint; measured 2 extra edge passes per iteration)
      val aRaw = hub.join(e, col("node") === col("src"))
        .groupBy(col("dst"))
        .agg(sum(floorGrid(col("hub") * col("w"), 1e12).cast(d28)).cast("double")
          .as("araw"))
        .ckptPartitioned()
      val aN = aRaw.agg(sqrt(coalesce(
        sum(floorGrid(col("araw") * col("araw"), 1e12).cast(d28)).cast("double"),
        lit(0.0))).as("nrm"))
      auth = nodes.crossJoin(broadcast(aN))
        .join(aRaw.withColumnRenamed("dst", "node"), Seq("node"), "left")
        .select(col("node"),
          when(col("nrm") > 0, coalesce(col("araw"), lit(0.0)) / col("nrm"))
            .otherwise(lit(0.0)).as("authority"))
        .ckptPartitioned()
      val hRaw = auth.join(e, col("node") === col("dst"))
        .groupBy(col("src"))
        .agg(sum(floorGrid(col("authority") * col("w"), 1e12).cast(d28)).cast("double")
          .as("hraw"))
        .ckptPartitioned()
      val hN = hRaw.agg(sqrt(coalesce(
        sum(floorGrid(col("hraw") * col("hraw"), 1e12).cast(d28)).cast("double"),
        lit(0.0))).as("nrm"))
      hub = nodes.crossJoin(broadcast(hN))
        .join(hRaw.withColumnRenamed("src", "node"), Seq("node"), "left")
        .select(col("node"),
          when(col("nrm") > 0, coalesce(col("hraw"), lit(0.0)) / col("nrm"))
            .otherwise(lit(0.0)).as("hub"))
        .ckptPartitioned()
    }
    // both sides are checkpointed node panels (no stats -> the static
    // plan would SMJ); a shuffled hash join is the co-keyed shape
    hub.join(auth.hint("shuffle_hash"), Seq("node"))
  }

  /** Directed-graph RECIPROCITY: the share of distinct directed edges
    * whose reverse edge also exists — the one-scalar symmetry
    * diagnostic next to [[clusteringCoeff]]'s local density (a trade
    * network near 1 flows both ways; near 0 it is strictly
    * hierarchical). One distinct on the edge relation, one self-join
    * against its own reversal (both sides shuffle on the same
    * composite key), a 1-row panel out.
    */
  def reciprocity(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint(false)
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      .withColumn("__r", lit(1L))
    e.join(rev, Seq("src", "dst"), "left")
      .agg(count(lit(1)).as("n_edges"),
        sum(coalesce(col("__r"), lit(0L))).as("n_reciprocated"))
      .withColumn("reciprocity",
        col("n_reciprocated").cast("double") / col("n_edges").cast("double"))
  }

  /** Out-degree DISTRIBUTION of a directed edge list — the one-panel
    * shape diagnostic before any iterative graph op (a heavy-tailed
    * degree histogram says "salt the hubs" for PageRank/k-core; the
    * log-log OLS slope is the power-law read, the zipfFit discipline
    * on the degree panel). Distinct edges only; one edge-keyed
    * distinct + two partial-agg shuffles to the ≤|distinct degrees|
    * panel; share and slope broadcast from 1-row panels.
    */
  def degreeDistribution(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    def q8d(c: org.apache.spark.sql.Column) =
      floorGrid(c, 1e8).cast(DecimalType(28, 8))
    val deg = edges
      .filter(col(srcCol).isNotNull && col(dstCol).isNotNull)
      .select(col(srcCol).cast("string").as("u"),
        col(dstCol).cast("string").as("v"))
      .distinct()
      .groupBy(col("u")).agg(count(lit(1)).as("degree"))
    val hist = deg.groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .ckptPartitioned()
    val tot = hist.agg(sum(col("n_nodes")).as("__tot"))
    val pts = hist.select(
      floorGrid(log(col("degree").cast("double")), 1e6).as("lx"),
      floorGrid(log(col("n_nodes").cast("double")), 1e6).as("ly"))
    val moms = pts.filter(col("lx").isNotNull)
      .agg(count(lit(1)).as("__k"),
        sum(q8d(col("lx"))).as("sx"), sum(q8d(col("ly"))).as("sy"),
        sum(q8d(col("lx") * col("ly"))).as("sxy"),
        sum(q8d(col("lx") * col("lx"))).as("sxx"))
    val den = col("__k") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = (col("__k") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      when(den === 0, lit(null)).otherwise(den)
    val fit = moms.select(slope.as("powerlaw_slope"))
    hist.crossJoin(broadcast(tot)).crossJoin(broadcast(fit))
      .select(col("degree"), col("n_nodes"),
        (col("n_nodes").cast("double") / col("__tot").cast("double"))
          .as("node_share"),
        col("powerlaw_slope"))
  }

  /** Directed BFS hop distance from one source node — the reachability
    * panel next to [[pageRank]]'s centrality: how many directed hops
    * from `source` to every reachable node (the source itself at 0;
    * unreachable nodes are absent, which IS the reachability answer).
    *
    * The frontier-relaxation loop is the [[graft.operators.TextDedup
    * .connectedComponents]] discipline verbatim: each round one
    * edge-keyed join pushes `hops + 1` across out-edges, a min-agg
    * folds it into the best-known distance, and the round's delta is
    * read off the SAME aggregation (one scalar per round to the
    * driver, no convergence join). Rounds are O(eccentricity of the
    * source), each a bounded edge pass — the 100 TB shape; a
    * diameter deeper than `maxRounds` fails loudly rather than
    * returning silently-truncated distances.
    */
  def bfsHops(edges: DataFrame, srcCol: String, dstCol: String,
              source: String, maxRounds: Int = 32): DataFrame = {
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .ckptPartitioned()
    var dist = e.select(col("src").as("node")).unionAll(e.select(col("dst")))
      .distinct()
      .filter(col("node") === source)
      .withColumn("hops", lit(0L))
      .ckptPartitioned()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val via = e
        .join(dist.select(col("node").as("src"), col("hops")), "src")
        .select(col("dst").as("node"), (col("hops") + 1L).as("hops"),
          lit(Long.MaxValue).as("__graft_prev"))
      val step = via
        .unionAll(dist.select(col("node"), col("hops"),
          col("hops").as("__graft_prev")))
        .groupBy(col("node"))
        .agg(min(col("hops")).as("hops"),
          min(col("__graft_prev")).as("__graft_prev"))
        .ckptPartitioned()
      changed = step.filter(col("hops") =!= col("__graft_prev")).count()
      dist = step.select(col("node"), col("hops"))
      round += 1
    }
    if (changed > 0)
      throw new IllegalStateException(
        s"bfsHops did not converge in $maxRounds rounds ($changed " +
          "distances still improving) — raise maxRounds")
    dist
  }

  /** Betweenness centrality by Brandes' algorithm (2001) over the
    * directed unweighted graph — the shortest-path centrality missing
    * between [[pageRank]]'s flow centrality and [[hits]]'s spectral
    * one: bc(v) = Σ_{s≠v≠t} σ_st(v)/σ_st, the share of all-pairs
    * shortest paths passing THROUGH v (the broker/bottleneck score).
    * Exact all-sources on a bounded node panel (this library's
    * flow graphs are entity-level: nations, modes — the panel is the
    * graph); at web scale the standard lever is source SAMPLING
    * (Brandes–Pich), which is this same code over a sampled source
    * relation — the per-source work is unchanged.
    *
    * Shape: ALL sources advance together — the BFS DAG is built once
    * as level relations (s, v, σ) with σ the exact integer path
    * count (sum over level-(l−1) predecessors: one edge join + one
    * (s,v)-keyed agg per level, anti-joined against already-reached),
    * then the dependency accumulation walks levels BACKWARD:
    * δ_l(s,v) = Σ_{v→w, w at l+1} σ(s,v)/σ(s,w) · (1 + δ_{l+1}(s,w)).
    * Levels are O(diameter); each is a bounded edge join — never an
    * all-pairs materialization. A graph deeper than `maxDepth` fails
    * loudly (the [[bfsHops]] discipline).
    *
    * Engine parity: σ are exact longs; each dependency term is the
    * fixed IEEE sequence (σv/σw)·(1+δw) floor-gridded to 1e-9 before
    * its DECIMAL(28,9) per-(s,v) sum — order-free partials — and the
    * per-level δ values stay exactly representable doubles (panel
    * magnitudes ≪ 2^53 in 1e-9 units), so the backward recursion and
    * the final per-node sum replay bit-for-bit in the SQL twin.
    * Output: one row per node — betweenness and the (n−1)(n−2)
    * directed normalization (NULL when n < 3).
    */
  /** Canonical directed string-keyed edge relation shared by the
    * all-sources BFS consumers ([[betweenness]], [[closeness]]).
    */
  private def canonEdges(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .ckptPartitioned()

  /** ALL-SOURCES BFS DAG as level relations: levels(l) = (s, v, σ)
    * for nodes first reached at depth l from source s, σ the exact
    * integer count of shortest s→v paths (summed over level-(l−1)
    * predecessors; one edge join + one (s,v)-keyed agg + one
    * anti-join per level). Fails loudly past `maxDepth` (the
    * [[bfsHops]] discipline). Shared by [[betweenness]] (which walks
    * it backward) and [[closeness]] (which only needs the depths).
    */
  private def bfsLevels(e: DataFrame, nodes: DataFrame, maxDepth: Int,
                        what: String): Vector[DataFrame] = {
    val lvl0 = nodes.select(col("node").as("s"), col("node").as("v"),
      lit(1L).as("sigma")).ckptPartitioned()
    var levels = Vector(lvl0)
    var reached = lvl0.select(col("s"), col("v")).ckptPartitioned()
    var frontierN = 1L // nonempty
    var l = 0
    // one probe PAST maxDepth: a graph whose deepest level is exactly
    // maxDepth is complete (its next frontier is empty) and must
    // succeed — only a frontier that is STILL non-empty beyond the
    // unroll depth is an error (matching the fixed-unroll oracle,
    // whose level maxDepth is its last populated relation)
    while (frontierN > 0 && l <= maxDepth) {
      val next = levels(l)
        .join(e.withColumnRenamed("src", "v"), "v")
        .groupBy(col("s"), col("dst").as("v"))
        .agg(sum(col("sigma")).as("sigma"))
        .join(reached, Seq("s", "v"), "left_anti")
        .ckptPartitioned()
      frontierN = next.count()
      if (frontierN > 0) {
        if (l == maxDepth)
          throw new IllegalStateException(
            s"$what: BFS still expanding after $maxDepth levels — " +
              "raise maxDepth (dependency unroll depth)")
        levels = levels :+ next
        reached = reached.unionAll(next.select(col("s"), col("v")))
          .ckptPartitioned()
        l += 1
      }
    }
    levels
  }

  def betweenness(edges: DataFrame, srcCol: String, dstCol: String,
                  maxDepth: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = canonEdges(edges, srcCol, dstCol)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst"))).distinct().ckptPartitioned()
    val levels = bfsLevels(e, nodes, maxDepth, "betweenness")
    val maxd = levels.size - 1
    // backward: delta(l) keyed (s, v); deepest level has delta 0
    var delta = levels(maxd).select(col("s"), col("v"), lit(0.0).as("delta"))
    val deltas = scala.collection.mutable.ArrayBuffer[DataFrame]()
    for (lev <- (maxd - 1) to 0 by -1) {
      val down = levels(lev + 1)
        .select(col("s"), col("v").as("w"), col("sigma").as("sigma_w"))
        .join(delta.select(col("s"), col("v").as("w"), col("delta").as("delta_w")),
          Seq("s", "w"), "left")
      val terms = levels(lev)
        .join(e.withColumnRenamed("src", "v").withColumnRenamed("dst", "w"), "v")
        .join(down, Seq("s", "w"))
        .select(col("s"), col("v"),
          floorGrid((col("sigma").cast("double") / col("sigma_w").cast("double"))
            * (lit(1.0) + coalesce(col("delta_w"), lit(0.0))), 1e9)
            .cast(DecimalType(28, 9)).as("term"))
      delta = levels(lev).select(col("s"), col("v"))
        .join(terms.groupBy(col("s"), col("v"))
            .agg(sum(col("term")).cast("double").as("delta")),
          Seq("s", "v"), "left")
        .select(col("s"), col("v"), coalesce(col("delta"), lit(0.0)).as("delta"))
        .ckptPartitioned()
      if (lev > 0) deltas += delta // level-0 rows are v == s: excluded
    }
    val nTot = nodes.count()
    val bc = deltas.reduceOption(_ unionAll _) match {
      case Some(d) => nodes.join(
        d.groupBy(col("v").as("node"))
          .agg(sum(col("delta").cast(DecimalType(28, 9))).cast("double")
            .as("betweenness")),
        Seq("node"), "left")
        .select(col("node"), coalesce(col("betweenness"), lit(0.0)).as("betweenness"))
      case None => nodes.select(col("node"), lit(0.0).as("betweenness"))
    }
    bc.withColumn("betweenness_norm",
      if (nTot >= 3)
        floorGrid(col("betweenness") / lit((nTot - 1.0) * (nTot - 2.0)), 1e9)
      else lit(null).cast("double"))
  }

  /** Closeness and harmonic centrality from the SAME all-sources BFS
    * DAG [[betweenness]] walks — "how near is this node to everything
    * it can reach": per source s over its reached set R(s) (self
    * excluded), the Wasserman–Faust disconnected-safe closeness
    * `(|R|/(n−1)) · (|R|/Σd)` (the reach-share factor keeps a node
    * that quickly reaches a tiny component from outscoring one that
    * slowly reaches everything) and harmonic centrality `Σ 1/d`
    * (defined without any correction on disconnected graphs — the
    * robust variant). Directed: distances are OUT-distances.
    *
    * Engine parity: depths and reach counts are exact integers; each
    * 1/d term floor-grids to 1e-9 into a DECIMAL(28,9) order-free
    * sum, and the two-factor closeness is a fixed IEEE sequence over
    * exact inputs, gridded at the edge — bit-identical in the SQL
    * twin (the unrolled forward chain shared with the betweenness
    * oracle). Nodes reaching nothing output 0 (their Σd panel is
    * empty), not NULL — the "isolated sink" answer.
    */
  def closeness(edges: DataFrame, srcCol: String, dstCol: String,
                maxDepth: Int = 8): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val e = canonEdges(edges, srcCol, dstCol)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst"))).distinct().ckptPartitioned()
    val levels = bfsLevels(e, nodes, maxDepth, "closeness")
    val nTot = nodes.count()
    val depthRows = levels.zipWithIndex.drop(1)
      .map { case (lv, d) => lv.select(col("s"), lit(d.toLong).as("d")) }
      .reduceOption(_ unionAll _)
    val agg = depthRows match {
      case Some(rows) => rows.groupBy(col("s").as("node"))
        .agg(count(lit(1)).as("n_reached"),
          sum(col("d")).as("total_dist"),
          sum(floorGrid(lit(1.0) / col("d").cast("double"), 1e9)
            .cast(DecimalType(28, 9))).cast("double").as("harmonic"))
      case None => nodes.limit(0).select(col("node"),
        lit(0L).as("n_reached"), lit(0L).as("total_dist"),
        lit(0.0).as("harmonic"))
    }
    nodes.join(agg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("total_dist"), lit(0L)).as("total_dist"),
        coalesce(col("harmonic"), lit(0.0)).as("harmonic"),
        when(coalesce(col("n_reached"), lit(0L)) === 0, lit(0.0))
          .otherwise(floorGrid(
            (col("n_reached").cast("double") / lit((nTot - 1).toDouble))
              * (col("n_reached").cast("double") / col("total_dist").cast("double")), 1e9))
          .as("closeness_wf"))
  }

  /** Eccentricity / diameter / radius panel from the SAME all-sources
    * BFS DAG as [[betweenness]]/[[closeness]] — the distance EXTREMES
    * where closeness reports the average: per node its OUT-
    * eccentricity (max shortest-path distance over the set it
    * reaches; 0 for a node reaching nothing — the isolated-sink
    * answer, matching closeness), plus the graph panel every row
    * carries: diameter = max eccentricity (the longest shortest path
    * anywhere — on a not-strongly-connected digraph this is the
    * standard "max FINITE distance" reading) and radius = min
    * eccentricity over nodes that reach anything (the best-placed
    * broadcaster's worst case). Exact integers end to end — no grid,
    * no libm.
    */
  def eccentricity(edges: DataFrame, srcCol: String, dstCol: String,
                   maxDepth: Int = 8): DataFrame = {
    val e = canonEdges(edges, srcCol, dstCol)
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst"))).distinct().ckptPartitioned()
    val levels = bfsLevels(e, nodes, maxDepth, "eccentricity")
    val depthRows = levels.zipWithIndex.drop(1)
      .map { case (lv, d) => lv.select(col("s"), lit(d.toLong).as("d")) }
      .reduceOption(_ unionAll _)
    val agg = depthRows match {
      case Some(rows) => rows.groupBy(col("s").as("node"))
        .agg(count(lit(1)).as("n_reached"), max(col("d")).as("ecc"))
      case None => nodes.limit(0).select(col("node"),
        lit(0L).as("n_reached"), lit(0L).as("ecc"))
    }
    val perNode = nodes.join(agg, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("n_reached"), lit(0L)).as("n_reached"),
        coalesce(col("ecc"), lit(0L)).as("eccentricity"))
      .ckptPartitioned()
    val panel = perNode.agg(
      max(col("eccentricity")).as("diameter"),
      min(when(col("n_reached") > 0, col("eccentricity"))).as("radius"))
    perNode.crossJoin(broadcast(panel))
  }

  /** Minimum spanning FOREST by Borůvka rounds — the distributed MST
    * algorithm (Kruskal/Prim are inherently sequential: both grow one
    * frontier through a global priority queue; Borůvka lets every
    * component pick its cheapest outgoing edge simultaneously, so
    * each round is two co-keyed joins + one per-component min — and
    * the component count at least halves per round, so `maxRounds`
    * of 16 covers 65k+ components).
    *
    * Determinism: parallel edges collapse to their minimum weight and
    * edges are totally ordered by (w, u, v), which makes the forest
    * UNIQUE even under weight ties (the classic tie-break argument) —
    * so the output is engine-replayable, not just weight-optimal.
    * Each round's component labels come from a CONVERGED min-label
    * fixpoint over the chosen forest ([[TextDedup.connectedComponents]]
    * — driver sees one scalar per iteration), so a selected edge
    * always bridges two distinct real components and `chosen` can
    * never acquire a cycle.
    *
    * Output: one row per forest edge (u, v, w, comp = the component's
    * final min-node label). Isolated nodes contribute no edges (a
    * forest has none); total edge count = n_nodes − n_components.
    */
  def minSpanningForest(edges: DataFrame, srcCol: String, dstCol: String,
                        wCol: String, maxRounds: Int = 16): DataFrame = {
    val canon = edges.select(col(srcCol).cast("long").as("u"),
        col(dstCol).cast("long").as("v"), col(wCol).cast("double").as("w"))
      .filter(col("u").isNotNull && col("v").isNotNull &&
        col("u") =!= col("v") && col("w").isNotNull)
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"), col("w"))
      .groupBy(col("u"), col("v")).agg(min(col("w")).as("w"))
      .ckptPartitioned()
    val both = canon.unionAll(
      canon.select(col("v").as("u"), col("u").as("v"), col("w")))
      .ckptPartitioned()
    var labels = both.select(col("u").as("node")).distinct()
      .withColumn("comp", col("node")).ckptPartitioned()
    var chosen: DataFrame = null
    var crossEdges = 1L
    var round = 0
    while (crossEdges > 0 && round < maxRounds) {
      val lab = both
        .join(labels.select(col("node").as("u"), col("comp").as("cu")), "u")
        .join(labels.select(col("node").as("v"), col("comp").as("cv")), "v")
        .filter(col("cu") =!= col("cv"))
        .ckptPartitioned()
      crossEdges = lab.count()
      if (crossEdges > 0) {
        // The min must be taken under a GLOBALLY consistent edge order
        // (w, min-endpoint, max-endpoint): `both` carries both
        // orientations, so ordering by the component's own endpoint
        // would let two components linked by tied-weight edges each
        // pick a DIFFERENT edge (adding both → a cycle). Canonicalizing
        // inside the struct restores the classic tie-break argument.
        val sel = lab.groupBy(col("cu"))
          .agg(min(struct(col("w"),
            least(col("u"), col("v")).as("cu_"),
            greatest(col("u"), col("v")).as("cv_"))).as("m"))
          .select(col("m.cu_").as("u"), col("m.cv_").as("v"),
            col("m.w").as("w"))
          .distinct()
        chosen =
          if (chosen == null) sel.ckptPartitioned()
          else chosen.unionAll(sel).distinct().ckptPartitioned()
        val cc = TextDedup.connectedComponents(chosen, "u", "v")
        labels = labels.select(col("node"))
          .join(cc.select(col("doc_id").as("node"), col("cluster_id")),
            Seq("node"), "left")
          .select(col("node"),
            coalesce(col("cluster_id"), col("node")).as("comp"))
          .ckptPartitioned()
      }
      round += 1
    }
    if (crossEdges > 0)
      throw new IllegalStateException(
        s"minSpanningForest did not converge in $maxRounds rounds " +
          s"($crossEdges cross-component edges remain) — raise maxRounds")
    if (chosen == null)
      canon.filter(lit(false)).withColumn("comp", col("u"))
    else chosen
      .join(labels.select(col("node").as("u"), col("comp")), "u")
      .select(col("u"), col("v"), col("w"), col("comp"))
  }
}
