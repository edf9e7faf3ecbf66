package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.JaroWinklerExpr
import graft.expressions.Kernels.floorGrid

/** Entity resolution / record linkage over a name-like column:
  * blocking + pairwise fuzzy scoring + best-match assignment. The
  * reference normalizes and joins on exact business keys
  * (src/gold/load_gold.py:295-439 upserts dims on normalized BKs); a
  * lakehouse curating messy source feeds needs the fuzzy tier above
  * that — candidate generation bounded by a blocking key so the pair
  * space is Σ block² instead of corpus², scored with a native
  * Jaro–Winkler kernel (StringKernels.scala — Spark has only
  * `levenshtein` built in).
  *
  * Scale shape: one partial-agg to the distinct (id, name) relation,
  * blocks sized in the same pass, hot blocks above `blockCap` dropped
  * exactly like the dedup df-cap (observable via [[hotBlocks]], the
  * stopShingles convention — no eager action inside the query) — a
  * linkage blocked on a stopword-ish token would otherwise
  * quadratically explode; the self-join shuffles on the block key only. No window
  * over the full pair set: the best-match rank partitions by the left
  * id. Engine parity: the JW kernel is bit-exact vs DuckDB's
  * `jaro_winkler_similarity` (byte-based; see JaroWinklerExpr), and
  * the score is floor-quantized to the 1e-6 grid (§5) before the
  * threshold compare so a last-ulp disagreement can never flip pair
  * membership.
  */
object Linkage {

  def jaroWinkler(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftshim.ColumnBridge
    ColumnBridge.column(JaroWinklerExpr(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))
  }


  /** Distinct (id, name, block) relation with oversized blocks dropped. */
  private def blocked(df: DataFrame, idCol: String, nameCol: String,
                      blockCap: Int): DataFrame = {
    val base = df
      .select(col(idCol).as("rec_id"),
        upper(trim(col(nameCol))).as("name_norm"))
      .filter(col("name_norm").isNotNull && length(col("name_norm")) > 0)
      .groupBy(col("rec_id"), col("name_norm"))
      .agg(count(lit(1)).as("__dup"))
      .drop("__dup")
      .withColumn("block", element_at(split(col("name_norm"), " "), -1))
    val sizes = base.groupBy(col("block")).agg(count(lit(1)).as("block_n"))
    base.join(broadcast(sizes.filter(col("block_n") <= blockCap)), Seq("block"))
  }

  /** Blocks the cap silently drops from [[candidatePairs]] /
    * [[bestMatch]] — persist or inspect alongside a capped run (the
    * TextDedup.stopShingles convention: observable, not an eager
    * action inside the query).
    */
  def hotBlocks(df: DataFrame, idCol: String, nameCol: String,
                blockCap: Int = 1000): DataFrame =
    df.select(upper(trim(col(nameCol))).as("name_norm"), col(idCol).as("rec_id"))
      .filter(col("name_norm").isNotNull && length(col("name_norm")) > 0)
      .groupBy(col("rec_id"), col("name_norm")).agg(count(lit(1)).as("__d"))
      .withColumn("block", element_at(split(col("name_norm"), " "), -1))
      .groupBy(col("block")).agg(count(lit(1)).as("block_n"))
      .filter(col("block_n") > blockCap)

  /** All candidate pairs within a block scoring at or above
    * `threshold` (canonical rec_id_a < rec_id_b). */
  def candidatePairs(df: DataFrame, idCol: String, nameCol: String,
                     threshold: Double, blockCap: Int = 1000): DataFrame = {
    val b = blocked(df, idCol, nameCol, blockCap)
    b.as("a").join(b.as("b"),
        col("a.block") === col("b.block") &&
          col("a.rec_id") < col("b.rec_id"))
      .select(col("a.rec_id").as("rec_id_a"), col("b.rec_id").as("rec_id_b"),
        col("a.name_norm").as("name_a"), col("b.name_norm").as("name_b"),
        floorGrid(jaroWinkler(col("a.name_norm"), col("b.name_norm")), 1e6).as("jw_sim"))
      .filter(col("jw_sim") >= threshold)
  }

  /** Best fuzzy match per left record against a clean reference
    * relation (classic linkage assignment): within-block argmax by
    * (score desc, ref id asc), unmatched-below-threshold rows kept
    * with NULL match columns so coverage is auditable.
    */
  def bestMatch(left: DataFrame, leftId: String, leftName: String,
                ref: DataFrame, refId: String, refName: String,
                threshold: Double, blockCap: Int = 1000): DataFrame = {
    val l = blocked(left, leftId, leftName, blockCap)
    val r = blocked(ref, refId, refName, blockCap)
    val scored = l.as("l").join(r.as("r"), col("l.block") === col("r.block"))
      .select(col("l.rec_id").as("rec_id"), col("l.name_norm").as("name_norm"),
        col("r.rec_id").as("ref_id"), col("r.name_norm").as("ref_name"),
        floorGrid(jaroWinkler(col("l.name_norm"), col("r.name_norm")), 1e6).as("jw_sim"))
      .filter(col("jw_sim") >= threshold)
    val w = Window.partitionBy(col("rec_id"))
      .orderBy(col("jw_sim").desc, col("ref_id"))
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    l.select(col("rec_id"), col("name_norm"))
      .join(best.drop("name_norm"), Seq("rec_id"), "left")
  }

  /** Blocking QUALITY panel — the evidence behind the blocking-key
    * choice (and the [[candidatePairs]] cap): candidate pairs the
    * blocks generate vs the n² a blind all-pairs run would pay
    * (reduction ratio), the hot-block tail the cap would drop, the
    * largest block. A reduction ratio near 0 means the key doesn't
    * block; a large over-cap count means recall silently leaks
    * through [[hotBlocks]]. One row out.
    *
    * Scale shape: the same dedup + block projection as the linkage
    * ops, one block-keyed partial agg to the block-size panel, one
    * panel aggregate; pair counts are exact integers (`s(s−1)/2` per
    * block — even product, exact in double up to s ≈ 1.3e8 rows per
    * block, five orders above any sane blockCap), summed as
    * DECIMAL(38,0) so the corpus-TOTAL pair count cannot wrap a long.
    */
  def blockingStats(df: DataFrame, idCol: String, nameCol: String,
                    blockCap: Int = 1000): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val base = df
      .select(col(idCol).as("rec_id"), upper(trim(col(nameCol))).as("name_norm"))
      .filter(col("name_norm").isNotNull && length(col("name_norm")) > 0)
      .groupBy(col("rec_id"), col("name_norm"))
      .agg(count(lit(1)).as("__d")).drop("__d")
      .withColumn("block", element_at(split(col("name_norm"), " "), -1))
    val sizes = base.groupBy(col("block")).agg(count(lit(1)).as("__s"))
    val pairsPerBlock = (col("__s") * (col("__s") - 1) / 2)
      .cast(DecimalType(38, 0))
    sizes.agg(
        sum(col("__s")).as("n_records"),
        count(lit(1)).as("n_blocks"),
        max(col("__s")).as("max_block"),
        sum(when(col("__s") > blockCap, 1L).otherwise(0L)).as("n_blocks_over_cap"),
        coalesce(sum(pairsPerBlock), lit(0).cast(DecimalType(38, 0)))
          .as("__cand"))
      .select(col("n_records"), col("n_blocks"), col("max_block"),
        col("n_blocks_over_cap"),
        col("__cand").cast("long").as("candidate_pairs"),
        // the PRODUCT n*(n-1) must stay exact, not just the quotient —
        // route it through DECIMAL(38,0) like candidate_pairs so the
        // halving never sees a rounded double
        (col("n_records").cast(DecimalType(38, 0))
            * (col("n_records") - 1).cast(DecimalType(38, 0)) / 2)
          .cast("long").as("all_pairs"))
      .withColumn("reduction_ratio",
        lit(1.0) - col("candidate_pairs").cast("double")
          / nz(col("all_pairs").cast("double")))
  }
}
