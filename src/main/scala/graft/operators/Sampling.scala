package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.expressions.Kernels.floorGrid

/** Deterministic sampling for training-data curation.
  *
  * `sample()`/TABLESAMPLE are seed-dependent AND partition-layout-
  * dependent — the same logical sample is unreproducible across
  * engines, re-runs, or repartitions, which disqualifies it for
  * curation pipelines (the sampled-out rows must stay out when the
  * lake reloads). Here membership is a pure function of the row key:
  * a row is kept when the first 4 hex chars of `md5(key)` fall below
  * the per-stratum threshold. md5 of the same UTF-8 key bytes is
  * identical in every engine, so the exact sample is replayable in
  * DuckDB/Trino/anything — and the operator is a stateless,
  * codegen'd filter: no shuffle, no state, embarrassingly parallel
  * at any scale.
  */
object Sampling {

  /** 16-bit hash bucket of the row key: first 4 hex chars of
    * md5(concat_ws("|", keys)) — uniform over 65536 buckets for any
    * key distribution. String-compared against [[thresholdHex]]
    * (lowercase hex compares identically as string and as number).
    *
    * Key columns should be non-null: `concat_ws` SKIPS nulls, so
    * composite keys ("a", NULL) and (NULL, "a") would hash alike —
    * still deterministic, but two distinct rows sharing one sampling
    * fate. Use a coalesced sentinel in the key if null parts matter.
    */
  def hashBucket(keyCols: Seq[Column]): Column =
    substring(md5(concat_ws("|", keyCols.map(_.cast("string")): _*)), 1, 4)

  /** 32-bit md5-derived integer of the rendered key: first 8 hex
    * chars of `md5(concat_ws("|", …))` as a long, every column
    * rendered through an explicit NULL sentinel (concat_ws SKIPS
    * nulls — without the sentinel ("a", NULL) and (NULL, "a") would
    * hash alike). The shared digest/bucket primitive behind
    * [[Audit.tableDiff]]'s checksums and [[Prejoin.saltedJoin]]'s
    * salt; replayable in any engine with md5 (DuckDB:
    * `CAST('0x' || substr(md5(…), 1, 8) AS BIGINT)`).
    */
  def md5Long32(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("|",
      cols.map(c => coalesce(c.cast("string"), lit("<NULL>"))): _*)), 1, 8), 16, 10)
      .cast("long")

  /** 60-bit sibling of [[md5Long32]]: first 15 hex chars (60 bits —
    * the widest prefix that stays positive in a SIGNED 64-bit int in
    * every engine; 16 chars would overflow DuckDB's BIGINT cast for
    * digests starting >= '8'). Used where collision probability
    * matters more than compactness (checksum XOR in
    * [[Audit.tableDiff]]). DuckDB replay:
    * `CAST('0x' || substr(md5(…), 1, 15) AS BIGINT)`.
    */
  def md5Long60(cols: Seq[Column]): Column =
    conv(substring(md5(concat_ws("|",
      cols.map(c => coalesce(c.cast("string"), lit("<NULL>"))): _*)), 1, 15), 16, 10)
      .cast("long")

  /** Threshold hex literal: buckets `< threshold` are kept, giving a
    * kept fraction of round(rate*65536)/65536. Rates >= 1 map to the
    * sentinel "g" (every hex bucket < "g" — keep all).
    */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0, s"negative sampling rate $rate")
    val n = math.round(rate * 65536.0)
    if (n >= 65536) "g" else f"$n%04x"
  }

  /** Deterministic multi-way split assignment (train/val/test): the
    * key's md5 bucket picks the split by cumulative rate ranges, so
    * the partition of the corpus is a pure function of the key —
    * stable across engines, re-runs and repartitions, and rows are
    * never lost or double-assigned (ranges tile the bucket space).
    *
    * Pass the GROUPING key (user, document author, conversation) as
    * `keyCols` rather than the row id and every row of a group lands
    * in the same split — the standard leakage guard: a group split
    * across train and test leaks shared context into evaluation.
    *
    * @param splits ordered (name, fraction) pairs; fractions must sum
    *               to 1 (the last range absorbs the rounding remainder)
    */
  def splitAssign(df: DataFrame, splits: Seq[(String, Double)],
                  keyCols: Seq[String]): DataFrame = {
    require(splits.nonEmpty && splits.forall(_._2 >= 0) &&
      math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      s"split fractions must be >= 0 and sum to 1: $splits")
    val bucket = hashBucket(keyCols.map(col))
    val cum = splits.scanLeft(0.0)(_ + _._2).tail
    val label = splits.init.zip(cum.init).reverse.foldLeft(lit(splits.last._1)) {
      case (acc, ((name, _), cumRate)) =>
        when(bucket < lit(thresholdHex(cumRate)), lit(name)).otherwise(acc)
    }
    df.withColumn("split", label)
  }

  /** Domain-mixture sampling: downsample each domain so the kept
    * corpus matches target proportions while staying as LARGE as
    * possible — the standard curation move when the raw crawl is
    * dominated by one domain. The achievable total is
    * `T = min_d(n_d / share_d)` (any larger and some domain runs out);
    * each domain then keeps `share_d * T / n_d` of its docs via the
    * same md5-bucket membership as [[stratified]]. Because the rates
    * are DATA-DEPENDENT (computed from the counts), the threshold is
    * rendered to its 4-hex form IN the plan (`lpad(hex(floor(rate *
    * 65536)))`, "g" at rate 1) and compared as a string — a naive
    * `key mod 65536` bucket would be catastrophically non-uniform for
    * sequential ids (every id below the threshold). Domains outside
    * the target map (and NULLs) drop.
    *
    * Scale shape: one tiny per-domain count aggregate broadcast back;
    * membership is a codegen'd filter — the corpus is never shuffled.
    *
    * @param shares target proportions per domain value (sum ≤ 1
    *               enforced loosely — proportions, not probabilities)
    * @param keyCol row key; membership = md5 bucket of it
    */
  def domainMix(df: DataFrame, domainCol: String, shares: Map[String, Double],
                keyCol: String): DataFrame = {
    require(shares.nonEmpty && shares.values.forall(_ > 0),
      s"target shares must be positive: $shares")
    val shareCol = shares.foldLeft(lit(null).cast("double")) {
      case (acc, (value, s)) => when(col(domainCol) === value, lit(s)).otherwise(acc)
    }
    val counts = df.filter(col(domainCol).isin(shares.keys.toSeq: _*))
      .groupBy(col(domainCol)).agg(count(lit(1)).as("__n"))
      .withColumn("__share", shareCol)
    val tMax = counts.agg(min(col("__n") / col("__share")).as("__t_max"))
    val thresholds = counts.crossJoin(broadcast(tMax))
      .withColumn("__threshold",
        floor(col("__share") * col("__t_max") / col("__n") * 65536))
      .withColumn("__thr_hex",
        when(col("__threshold") >= 65536, lit("g"))
          .otherwise(lower(lpad(hex(col("__threshold")), 4, "0"))))
      .select(col(domainCol), col("__thr_hex"))
    df.join(broadcast(thresholds), domainCol)
      .filter(hashBucket(Seq(col(keyCol))) < col("__thr_hex"))
      .drop("__thr_hex")
  }

  /** Temperature-scaled domain sampling weights — the multilingual-
    * sampling rule (p_d ∝ (n_d/N)^α, XLM-R / mBERT style): α < 1
    * flattens the mixture toward uniform, upweighting low-resource
    * domains; α = 1 reproduces the raw shares. The output `temp_share`
    * column is exactly what [[domainMix]] takes as its target shares —
    * this operator derives the mixture, that one enforces it.
    *
    * Engine parity: α = 0.5 (the common published setting) routes
    * through IEEE-correctly-rounded `sqrt` — bit-identical in every
    * engine — where a libm `pow` may differ in the last ulp between
    * runtimes; other α use `pow` with that caveat. The normalizing
    * denominator sums DECIMAL(28,12)-cast terms (order-free parallel
    * reduction), and the emitted shares are RAW IEEE quotients — no
    * rounding, so no .5-boundary divergence across engines.
    *
    * Scale shape: one ≤-#domains-key partial-agg shuffle; the total
    * and the denominator are 1-row broadcast panels. The corpus is
    * scanned once, counts only.
    */
  def temperatureShares(df: DataFrame, domainCol: String,
                        alpha: Double): DataFrame = {
    require(alpha > 0, s"alpha must be positive: $alpha")
    val c = df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol).cast("string").as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = c.agg(sum(col("n_docs")).as("__total"))
    val p = c.crossJoin(broadcast(tot))
      .withColumn("raw_share",
        col("n_docs").cast("double") / col("__total").cast("double"))
      .withColumn("__num",
        if (alpha == 0.5) sqrt(col("raw_share"))
        else pow(col("raw_share"), lit(alpha)))
    // floor-quantize the full-entropy sqrt/pow output to the 1e-6 grid
    // (the §5 portability rule — engines round raw doubles to decimal
    // differently in ~1e-5 of casts; a grid-aligned value leaves no
    // rounding decision). The QUANTIZED weight is the weight: both the
    // numerator and the decimal-summed normalizer use it, so the
    // shares still sum to 1 at double precision (a quantized
    // numerator over an unquantized sum would leave a ~1e-6 gap).
    val pq = p.withColumn("__numq", floor(col("__num") * lit(1e6)) / lit(1e6))
    val den = pq.agg(
      sum(graft.expressions.Kernels.toDecimal(col("__numq"), 28, 12)).as("__den"))
    pq.crossJoin(broadcast(den))
      .select(col("domain"), col("n_docs"), col("raw_share"),
        (col("__numq") / col("__den").cast("double")).as("temp_share"))
  }

  /** Deterministic class-balance downsample — every class kept at the
    * MINORITY class's rate (`rate_c = min_n / n_c`), so the expected
    * class histogram comes out flat: the standard imbalance fix for a
    * training mix, with [[stratified]]'s md5 determinism (membership
    * is a pure function of the key — stable across engines, re-runs
    * and repartitions). Unlike [[stratified]], the rates are
    * DATA-DERIVED: the ≤-classes count panel sets each class's
    * integer bucket threshold `round(rate·65536)` and broadcasts it
    * back over one scan; the kept rows carry `n_class` and
    * `class_rate` so the applied rule is part of the checked output.
    *
    * Scale shape: one count aggregate (checkpointed — min panel +
    * rate join consume it), one broadcast panel join, one codegen'd
    * md5 filter. No shuffle of the fact beyond the count partials.
    */
  def classBalance(df: DataFrame, classCol: String,
                   keyCols: Seq[String]): DataFrame = {
    val rows = df.filter(col(classCol).isNotNull)
    val counts = rows.groupBy(col(classCol)).agg(count(lit(1)).as("n_class"))
      .ckptPartitioned()
    val minN = counts.agg(min(col("n_class")).as("__min_n"))
    val panel = counts.crossJoin(broadcast(minN))
      .withColumn("class_rate",
        col("__min_n").cast("double") / col("n_class").cast("double"))
      .withColumn("__thr",
        round(col("class_rate") * lit(65536.0)).cast("long"))
      .drop("__min_n")
    rows.join(broadcast(panel), Seq(classCol))
      .withColumn("__b", conv(hashBucket(keyCols.map(col)), 16, 10).cast("long"))
      .filter(col("__b") < col("__thr"))
      .drop("__b", "__thr")
  }

  /** Stratified deterministic sample: each stratum value keeps its own
    * rate (`rates`), anything else keeps `defaultRate`. Adds the
    * bucket and the applied threshold so the membership rule itself is
    * part of the checked output.
    */
  def stratified(df: DataFrame, strataCol: String, rates: Map[String, Double],
                 defaultRate: Double, keyCols: Seq[String]): DataFrame = {
    val bucket = hashBucket(keyCols.map(col))
    val threshold = rates.foldLeft(lit(thresholdHex(defaultRate))) {
      case (acc, (value, rate)) =>
        when(col(strataCol) === value, lit(thresholdHex(rate))).otherwise(acc)
    }
    df.withColumn("sample_bucket", bucket)
      .withColumn("sample_threshold", threshold)
      .filter(col("sample_bucket") < col("sample_threshold"))
  }

  /** Exact k-per-stratum deterministic sample: every stratum keeps
    * its k smallest-by-md5(key) rows (all rows when the stratum holds
    * fewer) — the "exactly 1000 eval docs per language" curation ask,
    * which rate-based sampling ([[stratified]]) only hits in
    * expectation. Membership is a pure function of (stratum, key), so
    * the sample replays bit-for-bit in any engine.
    *
    * Scale shape: the naive form is ROW_NUMBER over each stratum —
    * a full per-stratum sort of the corpus. Here a candidate
    * pre-filter bounds the sorted volume: the per-stratum count panel
    * (tiny) sets a 4-hex bucket threshold expected to keep ~margin·k
    * rows. Because that bucket is a PREFIX of the 32-hex ranking
    * hash, every candidate precedes every non-candidate in rank
    * order — so whenever a stratum's candidate draw holds at least
    * min(k, n_s) rows it provably contains the true top-k. Strata
    * whose draw undershoots (P ≈ e^-Θ(margin·k), vanishing) and
    * strata small enough to sort whole fall back to all their rows.
    * The ranking window then sorts ~margin·k candidate rows per
    * stratum instead of n_s — at 100 TB the corpus is scanned (twice:
    * count, filter) but never shuffled or sorted; only the
    * checkpointed candidate relation (≤ ~margin·k·|strata| rows)
    * moves.
    */
  def exactQuota(df: DataFrame, strataCol: String, keyCol: String, k: Int,
                 margin: Double = 4.0): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    require(margin > 1, s"margin=$margin must exceed 1")
    val bucket = hashBucket(Seq(col(keyCol)))
    val counts = df.groupBy(col(strataCol).as("__s")).agg(count(lit(1)).as("__n"))
    // Provisional threshold: "g" (keep all) for strata already near
    // candidate size; otherwise floor(margin·k/n·65536)+1 — the +1
    // guarantees a nonzero bucket range at any n.
    val prov = counts.withColumn("__thr",
      when(col("__n") <= lit(k * margin), lit("g"))
        .otherwise(lower(lpad(hex(
          least(lit(65535L),
            floor(lit(k * margin) / col("__n") * 65536) + 1)), 4, "0"))))
    val cand = df.join(broadcast(prov), col(strataCol) === col("__s"))
      .filter(bucket < col("__thr"))
      .ckptPartitioned()
    // Exactness audit: a stratum whose candidate draw came up short of
    // min(k, n_s) cannot prove its top-k is inside — fall back to the
    // whole stratum (the corpus-side branch below; empty in the
    // overwhelmingly common case).
    val audit = prov.join(
        cand.groupBy(col("__s")).agg(count(lit(1)).as("__c")), Seq("__s"), "left")
      .withColumn("__ok",
        col("__thr") === "g" ||
          coalesce(col("__c"), lit(0L)) >= least(lit(k.toLong), col("__n")))
    val good = cand.join(
      broadcast(audit.filter(col("__ok")).select(col("__s").as("__sg"))),
      col(strataCol) === col("__sg")).drop("__sg")
    val rescue = df.join(
        broadcast(audit.filter(!col("__ok")).select(col("__s").as("__sr"))),
        col(strataCol) === col("__sr"))
      .join(broadcast(prov), col(strataCol) === col("__s"))
      .drop("__sr")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    good.unionByName(rescue)
      .withColumn("sample_rank", row_number().over(w))
      .filter(col("sample_rank") <= k)
      .drop("__s", "__thr", "__n")
  }

  /** Per-group winsorization — the outlier-clamping twin of
    * `anomaly_zscore`'s detection: values are clipped to their
    * group's exact [pLo, pHi] percentile band (training-data
    * preprocessing that keeps heavy tails from dominating a loss or
    * a normalization). Thresholds come from
    * [[Profiling.exactQuantilesBy]]'s distributed rank brackets
    * (bit-identical to the `percentile`/`quantile_cont` interpolation
    * the F2 oracle pins, but never a per-group value→count map in
    * one reducer — the measure is near-unique) broadcast back over
    * the scan — the data itself is never sorted globally, and the
    * clip is a pure codegen'd least/greatest.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
                pLo: Double, pHi: Double): DataFrame = {
    require(0 <= pLo && pLo < pHi && pHi <= 1, s"need 0 <= $pLo < $pHi <= 1")
    val v = col(valueCol)
    val bands = Profiling.exactQuantilesBy(
        df.filter(v.isNotNull).select(col(groupCol), v),
        Seq(groupCol), valueCol, Seq(pLo, pHi))
      .groupBy(col(groupCol))
      .agg(max(when(col("quantile") === pLo, col("value"))).as("p_lo"),
           max(when(col("quantile") === pHi, col("value"))).as("p_hi"))
    df.filter(v.isNotNull)
      .join(broadcast(bands), groupCol)
      .select(col("*"),
        least(greatest(v, col("p_lo")), col("p_hi")).as(s"${valueCol}_winsorized"),
        (v < col("p_lo") || v > col("p_hi")).as("was_clipped"))
  }

  /** Deterministic global corpus shuffle for training order: every
    * row gets a reproducible permutation position (`shuffle_pos`,
    * 1-based rank in md5-of-key order) and a fixed-size shard
    * assignment — the "shuffle then shard" step before writing
    * training data, as a pure function of the key (stable across
    * engines, re-runs and layouts; `orderBy(rand())` is neither
    * reproducible nor resumable).
    *
    * Scale shape: the rank is [[PrefixSum.globalOrdered]]'s two-phase
    * range-partitioned numbering — never a single-partition
    * ROW_NUMBER window over the corpus — and the ranged layout IS the
    * shard order, so the downstream per-shard write needs no extra
    * shuffle. `keyCol` must be unique (ties would make the
    * permutation engine-dependent; md5 of a unique key is unique).
    *
    * Payload columns ride along (the output keeps every input column
    * plus the four shuffle columns, range-laid by position), so
    * [[graft.sources.MedallionSink.writeTrainingShards]] can write
    * full rows with no second pass over the corpus.
    *
    * `salt` selects the permutation: each training epoch passes its
    * own salt (e.g. `"epoch=3"`) and gets an independent, equally
    * deterministic order — reshuffle-per-epoch without ever touching
    * `rand()`. The default empty salt hashes the bare key.
    */
  /** Deterministic NEGATIVE sampling for contrastive training: per
    * anchor row, `k` negatives drawn uniformly from the rest of the
    * corpus as a PURE FUNCTION of (key, negative index) — the
    * in-batch/random-negative generation step of embedding-model
    * pipelines, reproducible across runs, engines and layouts where
    * an `orderBy(rand())` pick is none of those. Self-pairing is
    * impossible by construction: the negative's permutation offset is
    * `1 + (h mod (n−1)) ∈ [1, n−1]`, a nonzero rotation of the
    * anchor's own md5-order rank.
    *
    * Scale shape: ranks ride the two-phase distributed prefix sum
    * (the corpusShuffle permutation — never a global ROW_NUMBER
    * window); the rank→doc probe is ONE equi-join of k·n anchor rows
    * against the n-row rank relation (shuffled-hash, both sides
    * rank-keyed). The rank relation is checkpointed once for its two
    * consumers. Uniformity: `mod (n−1)` of a 32-bit hash carries
    * ≤ (n−1)/2³² bias per cell — meaningless for negative SAMPLING
    * (cf. domainMix, where mod-N bias breaks exact membership rates
    * and the hex-threshold rule is required instead; documented
    * trade, not an oversight).
    */
  def negativePairs(df: DataFrame, keyCol: String, k: Int,
                    salt: String = ""): DataFrame = {
    require(k >= 1, s"k=$k must be positive")
    val ranked = PrefixSum.globalOrdered(
        df.select(col(keyCol))
          .withColumn("__h", md5(concat(col(keyCol).cast("string"), lit(salt))))
          .withColumn("__one", lit(1)),
        Seq(col("__h"), col(keyCol)), "__one")
      .select(col(keyCol).as("doc_id"), col("row_rank").as("__rank"))
      .ckptPartitioned()
    val n = ranked.agg(count(lit(1)).as("__n"))
    val anchors = ranked.crossJoin(broadcast(n))
      .filter(col("__n") >= 2)
      .select(col("doc_id"), col("__rank"), col("__n"),
        explode(sequence(lit(1), lit(k))).as("neg_seq"))
      .withColumn("__off",
        pmod(md5Long32(Seq(col("doc_id"), lit(s"neg$salt"), col("neg_seq"))),
          col("__n") - 1) + 1)
      .withColumn("__neg_rank",
        pmod(col("__rank") - 1 + col("__off"), col("__n")) + 1)
    anchors.join(ranked.select(col("doc_id").as("neg_doc_id"),
          col("__rank").as("__pr")).hint("shuffle_hash"),
        col("__neg_rank") === col("__pr"))
      .select(col("doc_id"), col("neg_seq"), col("neg_doc_id"))
  }

  def corpusShuffle(df: DataFrame, keyCol: String, shardSize: Int,
                    salt: String = ""): DataFrame = {
    require(shardSize >= 1, s"shardSize=$shardSize must be positive")
    val hashed = df.withColumn("shuffle_hash",
      md5(concat(col(keyCol).cast("string"), lit(salt))))
    val shard = ((col("shuffle_pos") - 1) / lit(shardSize)).cast("long")
    PrefixSum.globalOrdered(
        hashed.withColumn("__one", lit(1)),
        Seq(col("shuffle_hash"), col(keyCol)), "__one")
      .withColumn("shuffle_pos", col("row_rank"))
      .withColumn("shard", shard)
      .withColumn("shard_pos", col("shuffle_pos") - col("shard") * shardSize)
      .drop("__one", "prefix_sum", "row_rank")
  }

  /** Quality-greedy selection under a global token budget: docs
    * ranked by quality (key tie-break) are kept while the running
    * token total stays within `budget` — the standard "best corpus
    * that fits the training budget" curation cut. The cumulative
    * total is the distributed prefix sum (exact integer partials —
    * order-free), never a single-partition window; the cut is a
    * filter on the materialized running total, so the kept set is a
    * pure function of (scores, token counts) and replayable anywhere.
    */
  def tokenBudget(stats: DataFrame, keyCol: String, qualityCol: String,
                  tokenCol: String, budget: Long): DataFrame = {
    require(budget >= 0, s"budget=$budget must be non-negative")
    PrefixSum.globalOrdered(stats,
        Seq(col(qualityCol).desc, col(keyCol)), tokenCol)
      .filter(col("prefix_sum") <= budget)
      .select(col(keyCol), col(qualityCol), col(tokenCol),
        col("prefix_sum").as("cum_tokens"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much an n-gram model of a TARGET slice prefers
    * it over the raw-corpus model. Features are token unigrams hashed
    * into `nBuckets` md5 buckets (the paper's hashed bag-of-ngrams);
    * both distributions get add-one smoothing; a document's log
    * weight is Σ_b c_b · λ_b with λ_b = ln(p_target[b] / p_raw[b]).
    * Resample ∝ exp(weight) downstream, or gate on `favors_target`.
    *
    * Engine parity: the ln rides the ≤`nBuckets`-row panel only,
    * floor-quantized to the 1e-4 grid ([[graft.operators.CorpusQc
    * .unigramSurprisal]]'s ulp-risk bound, here at 64 values —
    * vanishing); per-doc products re-floor to 1e-6 before the
    * DECIMAL(28,6) cast and sum order-free. md5 bucketing replays in
    * any engine byte-for-byte.
    *
    * Scale shape: ONE corpus-sized token explosion feeds a (doc,
    * bucket)-collapsed count relation (hot buckets arrive bounded at
    * `nBuckets` rows per doc); the bucket panels are `nBuckets`-row
    * aggregates; the panel joins back via broadcast. One doc-keyed
    * aggregation ends it — no token-keyed join at all, unlike the
    * surprisal/familiarity pair.
    */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
                        targetCol: Column, nBuckets: Int = 64): DataFrame = {
    require(nBuckets >= 2, s"nBuckets=$nBuckets must be at least 2")
    import graft.functions.TextOps
    import org.apache.spark.sql.types.DecimalType
    val feat = df.select(col(idCol), targetCol.as("__is_target"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col(idCol), col("__is_target"),
        (md5Long32(Seq(col("tok"))) % nBuckets).as("b"))
    val cb = feat.groupBy(col(idCol), col("b"))
      .agg(count(lit(1)).as("cb"),
        max(col("__is_target")).as("__is_target"))
    val panel = cb.groupBy(col("b"))
      .agg(sum(col("cb")).as("rc"),
        sum(when(col("__is_target"), col("cb")).otherwise(lit(0L))).as("tc"))
    val tot = panel.agg(sum(col("rc")).as("tr"), sum(col("tc")).as("tt"))
    val lam = panel.crossJoin(broadcast(tot))
      .select(col("b"),
        (floor(log(
          ((col("tc") + 1).cast("double") / (col("tt") + nBuckets).cast("double")) /
          ((col("rc") + 1).cast("double") / (col("tr") + nBuckets).cast("double")))
          * lit(1e4)) / lit(1e4)).as("lam"))
    cb.join(broadcast(lam), Seq("b"))
      .groupBy(col(idCol))
      .agg(sum(col("cb")).as("n_feats"),
        sum((floor(col("cb").cast("double") * col("lam") * lit(1e6)) / lit(1e6))
          .cast(DecimalType(28, 6))).as("lw"))
      .select(col(idCol), col("n_feats"),
        col("lw").cast("double").as("log_weight"),
        (col("lw").cast("double") > 0).as("favors_target"))
  }

  /** Poisson(1) cumulative-probability fences for the bootstrap
    * weights: P(X≤k) for k = 0..5 as exact double literals (weights
    * cap at 6 — P(X>6) ≈ 8·10⁻⁵ of rows get 6 instead of their true
    * tail draw, a documented truncation every engine shares).
    */
  private val PoissonCdf1 = Seq(
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183)

  /** Weighted sampling WITHOUT replacement, exact size n — the
    * Efraimidis–Spirakis A-ES scheme made deterministic: each row
    * draws the md5 uniform `u ∈ (0,1]` from its key and ranks by
    * `ln(u)/w` (the log form of `u^(1/w)` — no libm `pow`, and the
    * one `ln` is §5 grid-quantized); the top n ranks ARE a weighted
    * sample without replacement (inclusion probability ∝ weight, the
    * A-ES theorem). Where [[stratified]] takes a RATE and
    * quality-weighted tiers take thresholds, this takes an exact
    * BUDGET: "the best n rows, weight-proportionally, reproducibly".
    *
    * Scale shape: a stateless codegen'd rank expression + ONE
    * TakeOrdered(n) — no shuffle, no state; membership is a pure
    * function of (key, weight), layout-stable and engine-replayable.
    * Rows with null/non-positive weight are excluded (they have no
    * defined inclusion probability). Quantization ties break on the
    * key — total order, deterministic boundary.
    */
  def weightedSampleN(df: DataFrame, keyCol: String, weightCol: String,
                      n: Int): DataFrame = {
    require(n >= 1, s"sample size must be positive: $n")
    // (0,1]: the +1 shift keeps ln defined at the 0 bucket
    val u = (md5Long32(Seq(col(keyCol))).cast("double") + lit(1.0)) /
      lit(4294967296.0)
    val rankKey = floor(log(u) / col(weightCol).cast("double") * lit(1e9)) / lit(1e9)
    df.filter(col(keyCol).isNotNull &&
        col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("sample_rank_key", rankKey)
      .orderBy(col("sample_rank_key").desc, col(keyCol))
      .limit(n)
  }

  /** Leakage-safe K-FOLD cross-validation assignment: every row gets
    * a fold in [0, k) as a pure function of its GROUP key —
    * `floor(u·k)` over the md5 uniform, so folds tile the hash space
    * in equal contiguous ranges (exact-double arithmetic: bucket·k
    * stays under 2^53 and the 2^32 divisor is a power of two — no
    * rounding anywhere for any engine to disagree on) and every row
    * of a group lands in ONE fold (grouped keys are the same
    * leakage argument as [[splitAssign]]: a user split across train
    * and validation folds leaks shared context into every eval).
    * Stateless codegen'd map — zero shuffle, layout/engine/run
    * stable; re-running with a different k re-tiles consistently.
    */
  def kfoldAssign(df: DataFrame, k: Int, keyCols: Seq[String]): DataFrame = {
    require(k >= 2, s"k-fold needs k >= 2: $k")
    require(keyCols.nonEmpty, "kfoldAssign needs at least one key column")
    val b = md5Long32(keyCols.map(col))
    df.withColumn("fold_id",
      floor((b * lit(k.toLong)).cast("double") / lit(4294967296.0)).cast("int"))
  }

  /** Deterministic multiplier BOOTSTRAP for the mean — the
    * distributed answer to "what's the sampling error on this
    * metric": `b` resamples, each row entering resample `i` with a
    * Poisson(1) multiplicity (the classic multinomial approximation
    * whose draws need no global coordination), every draw a PURE
    * FUNCTION of (row key, resample id) through the md5 uniform —
    * layout-stable, replayable in any engine, no RNG state anywhere.
    * Emits the per-resample panel (effective n, resampled mean);
    * a consumer reads CI bounds off the sorted panel.
    *
    * Scale shape: the b-fold row expansion happens INSIDE codegen
    * (sequence+explode, no join) and collapses immediately into a
    * b-keyed partial aggregate — map-side combine reduces each
    * partition to ≤ b rows, so the shuffle is b·partitions rows
    * however large the fact. Engine parity: ONE md5 digest per row
    * seeds a splitmix64 counter stream (the k-th draw is the pure
    * mix of seed + (k+1)·γ — [[graft.expressions.RandomKernels]],
    * replayed by the oracle through exact UHUGEINT mod-2^64
    * arithmetic), uniforms are exact rationals (top 32 mixed bits /
    * 2³²), fences exact literals, weighted sums exact DECIMAL, one
    * IEEE division per resample. The digest had dominated the cost
    * at one-per-draw, then one-per-4-draws; one per ROW makes the
    * hash cost independent of b entirely.
    */
  def bootstrapMeans(df: DataFrame, keyCol: String, valueCol: String,
                     b: Int = 32): DataFrame = {
    require(b >= 1, s"resample count must be positive: $b")
    val u = graft.expressions.Kernels.splitmixUniform(
      col("__graft_md5"), col("__graft_b"))
    // reversed fold builds the CASE outside-in: the k=0 fence ends up
    // the OUTERMOST test, so each uniform takes the first (smallest)
    // fence it undercuts
    val w = PoissonCdf1.zipWithIndex.reverse.foldLeft(lit(6)) { case (acc, (p, k)) =>
      when(u < lit(p), lit(k)).otherwise(acc)
    }
    df.filter(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol),
        graft.expressions.Kernels.toDecimal(col(valueCol).cast("double"), 18, 2)
          .as("__graft_x"))
      // the "boot" salt decorrelates this stream from every other
      // md5-of-key use (split/stratified buckets share the raw key)
      .withColumn("__graft_md5", md5(concat_ws("|",
        coalesce(col(keyCol).cast("string"), lit("<NULL>")), lit("boot"))))
      .withColumn("__graft_b", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("__graft_w", w)
      .groupBy(col("__graft_b").cast("long").as("resample_id"))
      .agg(sum(col("__graft_w")).as("n_eff"),
        sum(col("__graft_w") * col("__graft_x")).as("__graft_swx"))
      .select(col("resample_id"), col("n_eff"),
        when(col("n_eff") > 0,
          col("__graft_swx").cast("double") / col("n_eff")).as("mean_boot"))
  }

  /** Rare-domain UPSAMPLING plan — the replication twin of
    * [[domainMix]]'s downsampling: a domain below `minShare` of the
    * corpus gets an integer replication factor (epochs over its data)
    * `ceil(minShare·total / n_d)`, capped at `maxRep` (past a few
    * epochs more repetition hurts more than the balance helps — the
    * standard data-budget rule). Output is the PLAN panel (domain,
    * counts, factor, post-upsampling share), not the replicated rows
    * — at 100 TB the factor column joins into the reader; nothing is
    * materialized ×k.
    *
    * Everything is exact integers plus one mirrored ceil; the
    * post-shares are exact-long quotients off the ≤|domains| panel.
    */
  /** Token-budget WATER-FILLING allocation — the fair-share planning
    * move between [[tokenBudget]]'s greedy cut and [[domainMix]]'s
    * fixed shares: give every source an equal allocation τ, except
    * sources whose whole capacity fits under τ keep it all and the
    * saved budget raises τ for the rest (the classic max-min fair
    * allocation: Σ min(cap_s, τ) = B). Output per source: capacity,
    * the allocation, utilization and whether the source was
    * exhausted, with τ broadcast (NULL when the budget covers
    * everything — nothing is rationed).
    *
    * Closed form, no iteration: sort sources by capacity ascending;
    * with the i smallest fully taken (prefix P_i), the remainder
    * splits evenly as τ_i = (B − P_i)/(k − i); the correct regime is
    * the LARGEST feasible i (cap_i·(k−i) ≤ B − P_i). All of it runs
    * on the ≤|sources| panel via a triangular broadcast join (the
    * heapsFit cumulation — no unpartitioned window), exact integer
    * sums, one mirrored double division.
    */
  def budgetWaterfill(df: DataFrame, sourceCol: String, weightCol: String,
                      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive: $budget")
    def nz(c: Column): Column =
      when(c === 0.0, lit(null).cast("double")).otherwise(c)
    val caps = df.filter(col(sourceCol).isNotNull && col(weightCol).isNotNull)
      .groupBy(col(sourceCol).cast("string").as("source"))
      .agg(sum(col(weightCol).cast("long")).as("capacity"))
      .ckptPartitioned()
    val tot = caps.agg(count(lit(1)).as("__k"), sum(col("capacity")).as("__totcap"))
    val ranked = caps.as("x").join(broadcast(caps.as("y")),
        struct(col("y.capacity"), col("y.source")) <=
          struct(col("x.capacity"), col("x.source")))
      .groupBy(col("x.source").as("source"), col("x.capacity").as("capacity"))
      .agg(count(lit(1)).as("__i"), sum(col("y.capacity")).as("__p"))
      .crossJoin(broadcast(tot))
    // regime choice: the largest i whose own cap fits under its τ_i;
    // i = k (everything capped) is feasible only when the budget
    // covers the whole corpus — then nothing is rationed (τ NULL)
    val feasible = ranked
      .filter(col("__i") < col("__k") &&
        col("capacity") * (col("__k") - col("__i")) <= lit(budget) - col("__p"))
      .agg(coalesce(max(struct(col("__i"), col("__p"))),
        struct(lit(0L).as("__i"), lit(0L).as("__p"))).as("__m"))
      .select(col("__m.__i").as("__ci"), col("__m.__p").as("__cp"))
    val tau = feasible.crossJoin(broadcast(tot))
      .select(
        when(col("__totcap") <= budget, lit(null).cast("double"))
          .otherwise((lit(budget) - col("__cp")).cast("double") /
            nz((col("__k") - col("__ci")).cast("double"))).as("tau"))
    caps.crossJoin(broadcast(tau))
      .select(col("source"), col("capacity"),
        when(col("tau").isNull, col("capacity"))
          .otherwise(least(col("capacity"), floor(col("tau")).cast("long")))
          .as("allocated"),
        col("tau"))
      .withColumn("utilization",
        col("allocated").cast("double") / nz(col("capacity").cast("double")))
      .withColumn("is_exhausted", col("allocated") === col("capacity"))
  }

  def upsampleRare(df: DataFrame, domainCol: String, minShare: Double,
                   maxRep: Int): DataFrame = {
    require(minShare > 0 && minShare < 1 && maxRep >= 1,
      s"upsampleRare needs minShare in (0,1) and maxRep >= 1: $minShare/$maxRep")
    val c = df.filter(col(domainCol).isNotNull)
      .groupBy(col(domainCol).cast("string").as("domain"))
      .agg(count(lit(1)).as("n_docs"))
    val tot = c.agg(sum(col("n_docs")).as("__t"))
    val p = c.crossJoin(broadcast(tot))
      .withColumn("raw_share",
        col("n_docs").cast("double") / col("__t").cast("double"))
      .withColumn("rep_factor",
        when(col("raw_share") >= minShare, lit(1L))
          .otherwise(least(lit(maxRep.toLong),
            ceil(lit(minShare) * col("__t").cast("double")
              / col("n_docs").cast("double")).cast("long"))))
      .withColumn("upsampled_docs", col("rep_factor") * col("n_docs"))
      .ckptPartitioned()
    val t2 = p.agg(sum(col("upsampled_docs")).as("__t2"))
    p.crossJoin(broadcast(t2))
      .select(col("domain"), col("n_docs"), col("raw_share"),
        col("rep_factor"), col("upsampled_docs"),
        (col("upsampled_docs").cast("double") / col("__t2").cast("double"))
          .as("upsampled_share"))
  }

  /** NEYMAN optimal stratified allocation — the survey-design step in
    * front of [[stratified]]/[[exactQuota]]: given a total sampling
    * `budget`, allocate per stratum n_h ∝ N_h·σ_h (Neyman 1934 — the
    * allocation minimizing the stratified mean's variance; a big but
    * HOMOGENEOUS stratum needs few samples, a small volatile one
    * needs many), next to the naive proportional allocation
    * n_h ∝ N_h for comparison. Integer allocations hit the budget
    * EXACTLY via largest-remainder rounding (floor everything, give
    * the shortfall to the largest fractional parts, ties by stratum).
    *
    * Engine parity: moments are exact DECIMAL sums (the zscore
    * discipline), σ and the weights grid at 1e-6 before the
    * DECIMAL(28,6) order-free weight total, raw allocations are a
    * fixed IEEE sequence, and the remainder ranking is a total order
    * (fraction DESC, stratum) over identical doubles. Degenerate
    * inputs both engines agree on: singleton strata take σ = 0; an
    * all-zero weight total (every stratum constant) yields NULL
    * Neyman allocations — there is no variance to optimize.
    * Allocations are NOT capped at N_h (the with-replacement /
    * rate-design convention); a stratum allocated past its population
    * flags `over_allocated` for the designer.
    *
    * Scale shape: ONE fact pass to the per-stratum moment panel; the
    * allocation math (including the two unpartitioned rank windows)
    * runs on the ≤-#strata-row panel — bounded by construction.
    */
  def neymanAllocation(df: DataFrame, strataCol: String, valueCol: String,
                       budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DecimalType
    require(budget >= 1, s"budget=$budget must be positive")
    val ev = df.filter(col(strataCol).isNotNull && col(valueCol).isNotNull)
      .select(col(strataCol).as("stratum"), col(valueCol).cast("double").as("__v"))
    val moms = ev.groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_rows"),
        sum(graft.expressions.Kernels.toDecimal(col("__v"), 28, 6)).as("__s1"),
        sum(graft.expressions.Kernels.toDecimal(col("__v") * col("__v"), 28, 6)).as("__s2"))
    val st = moms.select(col("stratum"), col("n_rows"),
        when(col("n_rows") >= 2, sqrt(greatest(lit(0.0),
          (col("__s2").cast("double")
            - col("__s1").cast("double") * col("__s1").cast("double") / col("n_rows"))
            / (col("n_rows") - 1)))).as("__sd0"))
      .withColumn("sd", floorGrid(coalesce(col("__sd0"), lit(0.0)), 1e6))
      .withColumn("__w", floorGrid(col("n_rows").cast("double") * col("sd"), 1e6))
      .ckptPartitioned()
    val tots = st.agg(
      sum(col("__w").cast(DecimalType(28, 6))).cast("double").as("__wsum"),
      sum(col("n_rows")).as("__ntot"))
    val raw = st.crossJoin(broadcast(tots))
      .withColumn("__raw_n", when(col("__wsum") > 0,
        lit(budget.toDouble) * col("__w") / col("__wsum")))
      .withColumn("__raw_p",
        lit(budget.toDouble) * col("n_rows").cast("double")
          / col("__ntot").cast("double"))
      .withColumn("__bn", floor(col("__raw_n")).cast("long"))
      .withColumn("__fn", col("__raw_n") - floor(col("__raw_n")))
      .withColumn("__bp", floor(col("__raw_p")).cast("long"))
      .withColumn("__fp", col("__raw_p") - floor(col("__raw_p")))
      .ckptPartitioned()
    val short = raw.agg(
      (lit(budget) - coalesce(sum(col("__bn")), lit(budget))).as("__shn"),
      (lit(budget) - sum(col("__bp"))).as("__shp"))
    raw.crossJoin(broadcast(short))
      .withColumn("__rn", row_number().over(
        Window.orderBy(col("__fn").desc, col("stratum"))))
      .withColumn("__rp", row_number().over(
        Window.orderBy(col("__fp").desc, col("stratum"))))
      .select(col("stratum"), col("n_rows"), col("sd"),
        when(col("__raw_n").isNotNull,
          col("__bn") + when(col("__rn") <= col("__shn"), 1L).otherwise(0L))
          .as("alloc_neyman"),
        (col("__bp") + when(col("__rp") <= col("__shp"), 1L).otherwise(0L))
          .as("alloc_proportional"))
      .withColumn("over_allocated",
        col("alloc_neyman").isNotNull && col("alloc_neyman") > col("n_rows"))
  }
}
