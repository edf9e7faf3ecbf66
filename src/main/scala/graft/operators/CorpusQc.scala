package graft.operators

import graft.operators.Ckpt.CkptOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.expressions.Kernels
import graft.functions.TextOps
import graft.expressions.Kernels.floorGrid

/** Corpus-quality operators an LLM training-data pipeline runs after
  * dedup: repetition filtering, benchmark decontamination, corpus-
  * frequency familiarity scoring, and token chunking.
  *
  * All are expressed so a second engine can replay them bit-for-bit
  * (raw IEEE quotients, integer partials summed exactly, no library
  * math) — each backs an oracle-checked `queries` row. No per-element
  * Catalyst lambda touches a derived array (the CollapseProject
  * inlining hazard, SURVEY §4): bigrams come from an `arrays_zip` of
  * two slices, n-grams from the native shingle-hash kernel.
  */
object CorpusQc {

  /** Pairwise Jensen–Shannon divergence between SOURCE unigram
    * distributions — the corpus-mix drift monitor: which sources
    * speak the same language and which bring a genuinely different
    * vocabulary (JS is symmetric, finite, ≤ ln 2; the panel is the
    * evidence behind a domain-mix or dedup-across-source decision).
    *
    * Algebraic trick that keeps it ONE inner token join: tokens
    * present in only one source contribute `p·ln 2` each, so their
    * total is `ln 2 · (1 − coverage)` where coverage is the
    * co-occurring share — an exact integer sum over the joined
    * relation divided once by the source total. Per co-occurring
    * token the ln argument rewrites to the integer-product ratio
    * `2·n_a·N_b / (n_a·N_b + n_b·N_a)` (counts cast to double
    * BEFORE multiplying — the overflow discipline), each full term
    * floor-grids to 1e-6 before its DECIMAL partial (§5 gridded-ln).
    * Scale shape: one (source, token) count shuffle, one token-keyed
    * self-join with source_a < source_b, a ≤-pairs aggregate, and
    * fixed-order IEEE panel math.
    */
  def jsBySource(df: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val d6 = DecimalType(28, 6)
    val counts = df.filter(col(sourceCol).isNotNull && col(textCol).isNotNull)
      .select(col(sourceCol).as("src"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("src"), col("tok")).agg(count(lit(1)).as("n"))
      .ckptPartitioned()
    val totals = counts.groupBy(col("src")).agg(sum(col("n")).as("nt"))
    val a = counts.join(totals, "src")
      .select(col("src").as("source_a"), col("tok"),
        col("n").as("na"), col("nt").as("ta"))
    val b = counts.join(totals, "src")
      .select(col("src").as("source_b"), col("tok"),
        col("n").as("nb"), col("nt").as("tb"))
    val joined = a.join(b.hint("shuffle_hash"), Seq("tok"))
      .filter(col("source_a") < col("source_b"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val taD = col("ta").cast("double")
    val tbD = col("tb").cast("double")
    val cross1 = naD * tbD
    val cross2 = nbD * taD
    val termA = floorGrid(naD / taD * log(lit(2.0) * cross1 / (cross1 + cross2)), 1e6)
    val termB = floorGrid(nbD / tbD * log(lit(2.0) * cross2 / (cross1 + cross2)), 1e6)
    val pair = joined.groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_tokens_common"),
        sum(col("na")).as("__ca"), sum(col("nb")).as("__cb"),
        max(col("ta")).as("__ta"), max(col("tb")).as("__tb"),
        sum(termA.cast(d6)).as("__sa"), sum(termB.cast(d6)).as("__sb"))
    val ln2 = lit(0.6931471805599453)
    val covA = col("__ca").cast("double") / col("__ta").cast("double")
    val covB = col("__cb").cast("double") / col("__tb").cast("double")
    pair.select(col("source_a"), col("source_b"), col("n_tokens_common"),
      (lit(0.5) * (col("__sa").cast("double") + ln2 * (lit(1.0) - covA))
        + lit(0.5) * (col("__sb").cast("double") + ln2 * (lit(1.0) - covB)))
        .as("js_div"))
  }

  /** Per-document repetition statistics (the Gopher-style "repetitive
    * text" signal): over the document's adjacent token bigrams, the
    * share held by the single most frequent bigram and the share of
    * bigram slots occupied by any repeated bigram.
    *
    * Scale shape: one (doc, gram) partial-agg shuffle, one doc-keyed
    * re-aggregation, one co-keyed left join back to the doc spine
    * (docs with < 2 tokens produce no grams but stay in the output
    * with zero fractions). Fractions ship as RAW single-division IEEE
    * quotients (engine-identical bits — the round-then-compare
    * divergence is documented in SURVEY §6).
    */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      topFracMax: Double = 0.1,
                      dupFracMax: Double = 0.2): DataFrame = {
    val base = df.select(col(idCol), TextOps.tokens(col(textCol)).as("t"))
      .select(col(idCol), size(col("t")).as("n_tokens"), col("t"))
    // Non-distinct adjacent bigrams: zip the array against itself
    // shifted by one — two slices evaluated once each, no lambda.
    val grams = base.filter(col("n_tokens") >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("t"), lit(1), col("n_tokens") - 1).as("w1"),
          slice(col("t"), lit(2), col("n_tokens") - 1).as("w2"))).as("z"))
      .select(col(idCol), concat_ws(" ", col("z.w1"), col("z.w2")).as("g"))
    val agg = grams.groupBy(col(idCol), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("maxc"),
        sum(col("c")).as("tot"),
        sum(when(col("c") > 1, col("c")).otherwise(0L)).as("dupc"),
        count(lit(1)).as("n_distinct"))
    val topFrac = coalesce(col("maxc") / col("tot"), lit(0.0))
    val dupFrac = coalesce(col("dupc") / col("tot"), lit(0.0))
    base.select(col(idCol), col("n_tokens"))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("tot"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct_bigrams"),
        topFrac.as("top_bigram_frac"),
        dupFrac.as("dup_bigram_frac"),
        (topFrac > topFracMax || dupFrac > dupFracMax).as("is_repetitive"))
  }

  /** Benchmark decontamination: training documents sharing at least
    * `minShared` distinct word `n`-grams with any held-out/eval
    * document — the test-set-leakage sweep an LLM pipeline runs
    * before training (13-gram overlap in published recipes; `n`
    * scales with document length; documents shorter than `n` tokens
    * contribute their whole text as one gram, the same fallback as
    * [[TextDedup.jaccardPairs]]).
    *
    * Scale shape: distinct n-grams per doc via the native shingle-
    * hash kernel (8-byte join keys — the same hashed-posting design
    * the Jaccard pair join uses), an inner hash join on the gram,
    * one (train, eval) partial-agg shuffle. Grams whose combined
    * document frequency exceeds `maxDf` are dropped from BOTH sides
    * first — the hot-key guard bounding the join at maxDf²/4 pairs
    * per gram; overlap counts are exact over the filtered gram
    * space. `contamination_frac` is the share of the training doc's
    * kept grams found in that eval doc (one raw IEEE division).
    */
  def contaminationPairs(train: DataFrame, evalSet: DataFrame,
                         idCol: String, textCol: String,
                         n: Int = 8, minShared: Int = 5,
                         maxDf: Int = 1000): DataFrame = {
    require(n >= 2 && minShared >= 1 && maxDf >= 1,
      s"n=$n minShared=$minShared maxDf=$maxDf out of range")
    def grams(df: DataFrame, as: String): DataFrame =
      df.select(col(idCol).as(as), TextOps.tokens(col(textCol)).as("toks"))
        .select(col(as), explode(Kernels.shingleHashes(col("toks"), n)).as("sh"))
    val tg = grams(train, "train_id")
    val eg = grams(evalSet, "eval_id")
    val stop = tg.select(col("sh")).unionAll(eg.select(col("sh")))
      .groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select(col("sh"))
    val tk = tg.join(stop, Seq("sh"), "left_anti")
    val ek = eg.join(stop, Seq("sh"), "left_anti")
    val trainSizes = tk.groupBy(col("train_id")).agg(count(lit(1)).as("train_ngrams"))
    tk.join(ek, Seq("sh"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .join(trainSizes, Seq("train_id"))
      .select(col("train_id"), col("eval_id"), col("n_shared"),
        col("train_ngrams"),
        (col("n_shared") / col("train_ngrams")).as("contamination_frac"))
  }

  /** MinHash-banded decontamination — [[contaminationPairs]]'s scale
    * path: instead of joining the full train×eval n-gram inverted
    * index (shuffle ∝ every shared-shingle occurrence), both sides
    * reduce to `numHashes`-slot MinHash signatures, candidates come
    * from band-bucket collisions ONLY across train×eval, and each
    * candidate is verified EXACTLY (shingle-set intersection over
    * union — true Jaccard, so the band stage costs recall, never
    * precision). The eval side is benchmark-sized: its banded
    * relation broadcasts, so the candidate join adds no shuffle to
    * the train scan at 100 TB.
    *
    * Hashing is md5-register end to end (md5Long60 shingle base
    * hashes, md5Long60 band buckets — TextDedup.minhashLsh's r14
    * conversion), so signatures and banding replay as SQL relations
    * and the oracle recomputes the full sweep; the spec additionally
    * pins planted contamination, clean-doc silence, and agreement
    * with the exact sweep on planted pairs.
    */
  def decontaminateMinhash(train: DataFrame, evalSet: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 8, numHashes: Int = 32, bands: Int = 8,
                           threshold: Double = 0.5): DataFrame = {
    val rows = numHashes / bands
    require(bands * rows == numHashes, "bands must divide numHashes")
    def sigs(df: DataFrame, as: String): DataFrame =
      TextDedup.hashedShingles(df, idCol, textCol, n, md5 = true)
        .select(col("doc_id").as(as), col("shs"),
          Kernels.minhashSig(col("shs"), numHashes).as("sig"))
    val bandStructs = TextDedup.md5BandStructs(bands, rows)
    def banded(df: DataFrame, as: String): DataFrame =
      df.select(col(as), explode(bandStructs).as("bb"))
        .select(col(as), col("bb.band_id"), col("bb.bucket"))
    val ts = sigs(train, "train_id").ckptPartitioned()
    val es = sigs(evalSet, "eval_id").ckptPartitioned()
    val cands = banded(ts, "train_id")
      .join(broadcast(banded(es, "eval_id")), Seq("band_id", "bucket"))
      .groupBy(col("train_id"), col("eval_id"))
      .agg(count(lit(1)).as("n_bands"))
    cands
      .join(ts.select(col("train_id"), col("shs").as("shs_t")), "train_id")
      .join(broadcast(es.select(col("eval_id"), col("shs").as("shs_e"))), "eval_id")
      .withColumn("jaccard",
        size(array_intersect(col("shs_t"), col("shs_e"))) /
          size(array_union(col("shs_t"), col("shs_e"))).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select(col("train_id"), col("eval_id"), col("n_bands"), col("jaccard"))
  }

  /** Corpus-frequency familiarity: a unigram-LM perplexity proxy with
    * no library math. Each document scores the arithmetic mean of its
    * tokens' corpus frequency shares — exact integer partials divided
    * twice, `Σ count(tok) / n_tokens / total` (never the
    * overflow-prone `n_tokens · total` product) — plus the share of
    * its rarest token. High mean = common/boiler-
    * plate text; a rare-share at the corpus floor = tokens seen
    * nowhere else.
    *
    * Scale shape: one token-keyed partial-agg shuffle builds the
    * frequency relation, the token-keyed join back reuses that
    * partitioning, then one doc-keyed aggregation; the 1-row total is
    * broadcast. All partials are integer counts (order-free parallel
    * reduction); the only IEEE ops are the two final divisions — bit-
    * replayable anywhere. (At cluster scale the join key would be
    * `xxhash64(tok)` — 8 bytes — exactly as the dedup operators key
    * their postings.)
    */
  def freqFamiliarity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val total = freq.agg(sum(col("cnt")).as("total"))
    toks.join(freq, Seq("tok"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("cnt")).as("sum_cnt"),
        min(col("cnt")).as("min_cnt"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("n_tokens"),
        // two divisions, never n_tokens·total: the long product would
        // overflow past ~2e13 corpus tokens × 1e6-token docs
        (col("sum_cnt") / col("n_tokens") / col("total")).as("mean_token_share"),
        (col("min_cnt") / col("total")).as("min_token_share"))
  }

  /** Unigram-LM surprisal — the classic cheap LM-quality signal
    * (cross-entropy of each document under an add-one-smoothed
    * unigram model of the corpus itself): p(w) = (cnt+1)/(N+V),
    * per-doc `sum_logp = Σ_w tf·log p(w)` and `nats_per_token =
    * −sum_logp / n_tokens` (low = typical text, high = rare/garbled).
    *
    * Engine parity: `ln` is the one library call engines disagree on
    * (last-ulp), so the log NEVER touches row-shaped data raw — it is
    * computed once per vocabulary type and floor-quantized to the
    * 1e-4 grid, where a 1-ulp disagreement flips the floor only if
    * the true value sits within ~2e-15 of a grid line (≤ ~1e-6
    * corpus-level odds at a 10^5-type vocabulary — and the oracle
    * gate would catch it loudly). The per-row product tf·lq re-floors
    * to the 1e-6 grid before the DECIMAL(28,6) cast (§5 rule) and
    * sums order-free.
    *
    * Scale shape: one token-keyed partial-agg shuffle for the vocab
    * panel, a (doc, token)-collapsed tf relation joined back on the
    * token key (the [[freqFamiliarity]] discipline — hot stopword
    * keys arrive pre-collapsed to ≤ |docs| rows each), one doc-keyed
    * aggregation; the 1-row (N, V) panel is broadcast.
    */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = vocab.agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"))
    val lp = vocab.crossJoin(broadcast(tot))
      .select(col("tok"),
        (floor(log((col("cnt") + 1).cast("double") /
          (col("n") + col("v")).cast("double")) * lit(1e4)) / lit(1e4)).as("lq"))
    val tf = toks.groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    tf.join(lp, Seq("tok"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum((floor(col("tf").cast("double") * col("lq") * lit(1e6)) / lit(1e6))
          .cast(DecimalType(28, 6))).as("slp"))
      .select(col(idCol), col("n_tokens"),
        col("slp").cast("double").as("sum_logp"),
        ((-col("slp").cast("double")) / col("n_tokens")).as("nats_per_token"))
  }

  /** Bigram-LM cross-entropy — the context-aware tier above
    * [[unigramSurprisal]] (CCNet-style: score each document by how
    * well a corpus-trained LM predicts it, filter the tails). The LM
    * is Laplace-smoothed MLE over adjacent-token bigrams:
    * `p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V)` with V the unigram
    * vocab size; each document reports its bigram count, summed log
    * probability and `nats_per_bigram` (exp to perplexity at display
    * time — libm `exp` is runtime-specific, ln stays inside).
    *
    * Scale shape: bigrams from an `arrays_zip` of two slices (the
    * bigramNovelty spine), corpus bigram/prefix counts as partial-agg
    * shuffles on their own keys, the vocab size one broadcast scalar;
    * per-(pre,big) log-probs join back to the per-doc tf relation by
    * bigram key (fact-to-vocab join). Engine parity: counts exact;
    * `ln` floor-quantizes on the 1e-4 grid (§5, the unigramSurprisal
    * convention), tf-weighted terms floor to 1e-6 and sum as exact
    * DECIMAL(28,6); the per-bigram average divides once at the edge.
    * Documents with < 2 tokens have no bigram distribution and drop.
    */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("ts"))
      .select(col(idCol), col("ts"), size(col("ts")).as("n"))
    val vocabN = toks.select(explode(col("ts")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))
    val bigs = toks.filter(col("n") >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("ts"), lit(1), col("n") - 1).as("c1"),
          slice(col("ts"), lit(2), col("n") - 1).as("c2"))).as("z"))
      .select(col(idCol), col("z.c1").as("pre"),
        concat_ws(" ", col("z.c1"), col("z.c2")).as("big"))
    val cBig = bigs.groupBy(col("pre"), col("big")).agg(count(lit(1)).as("cbig"))
    val cPre = bigs.groupBy(col("pre")).agg(count(lit(1)).as("cpre"))
    val lp = cBig.join(cPre, Seq("pre")).crossJoin(broadcast(vocabN))
      .select(col("big"),
        (floor(log((col("cbig") + 1).cast("double") /
          (col("cpre") + col("v")).cast("double")) * lit(1e4)) / lit(1e4)).as("lq"))
    val tf = bigs.groupBy(col(idCol), col("big")).agg(count(lit(1)).as("tf"))
    tf.join(lp, Seq("big"))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum((floor(col("tf").cast("double") * col("lq") * lit(1e6)) / lit(1e6))
          .cast(DecimalType(28, 6))).as("slp"))
      .select(col(idCol), col("n_bigrams"),
        col("slp").cast("double").as("sum_logp"),
        ((-col("slp").cast("double")) / col("n_bigrams")).as("nats_per_bigram"))
  }

  /** Context-aware novelty profile — the LOG-FREE stand-in for a
    * bigram-LM perplexity score (library `ln` differs between
    * runtimes in the last ulp, which would break engine replay; MLE
    * continuation shares are pure divisions): per document,
    *
    *   - `n_bigrams` — adjacent-token bigram occurrences;
    *   - `n_novel` — occurrences of bigrams appearing in NO other
    *     document (corpus count == this doc's count) — high share
    *     flags either genuinely fresh text or garbage, both of which
    *     deserve a look;
    *   - `mean_continuation_share` — mean over occurrences of the MLE
    *     continuation probability P(next|prev) = corpus bigram count /
    *     corpus prefix count — low = surprising transitions (the
    *     perplexity signal), high = boilerplate.
    *
    * Scale shape: bigrams from an `arrays_zip` of two slices (no
    * lambda on a derived array), one (doc, bigram) partial-agg
    * shuffle, corpus bigram/prefix counts as two further partial
    * aggs joined back by their own keys; the weighted share terms sum
    * as DECIMAL(28,12) partials (order-free). Docs with < 2 tokens
    * have no bigram distribution and drop (the D30 spine keeps them
    * when a zero-filled row is wanted).
    */
  def bigramNovelty(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = df
      .select(col(idCol), TextOps.tokens(col(textCol)).as("ts"))
      .select(col(idCol), col("ts"), size(col("ts")).as("n"))
    val bigs = toks.filter(col("n") >= 2)
      .select(col(idCol),
        explode(arrays_zip(
          slice(col("ts"), lit(1), col("n") - 1).as("c1"),
          slice(col("ts"), lit(2), col("n") - 1).as("c2"))).as("z"))
      .select(col(idCol), col("z.c1").as("pre"),
        concat_ws(" ", col("z.c1"), col("z.c2")).as("big"))
    // (r16 A/B: checkpointing perDoc to collapse the three bigram
    // passes into one measured a consistent +0.5 s in two full bench
    // sweeps at sf0.1 — the extra materialization + split plan trees
    // cost more than the duplicated doc-linear scans at this corpus
    // size — so the multi-pass shape stays. cnt_pre still folds from
    // perDoc's counts, exactly: Σ_big cnt_doc by pre ≡ the raw
    // per-prefix row count.)
    val perDoc = bigs.groupBy(col(idCol), col("pre"), col("big"))
      .agg(count(lit(1)).as("cnt_doc"))
    val cb = perDoc.groupBy(col("big")).agg(sum(col("cnt_doc")).as("cnt_big"))
    val cp = bigs.groupBy(col("pre")).agg(count(lit(1)).as("cnt_pre"))
    perDoc.join(cb, "big").join(cp, "pre")
      .groupBy(col(idCol))
      .agg(sum(col("cnt_doc")).as("n_bigrams"),
        sum(when(col("cnt_big") === col("cnt_doc"), col("cnt_doc"))
          .otherwise(lit(0L))).as("n_novel"),
        // §5: cnt_doc · share exceeds unit magnitude (cnt_doc is a
        // per-doc count), so the full-entropy product floor-quantizes
        // to the 1e-6 grid and casts at THE GRID'S scale before the
        // order-free decimal partials.
        (sum((floor(col("cnt_doc").cast("double")
            * (col("cnt_big").cast("double") / col("cnt_pre").cast("double"))
            * lit(1e6)) / lit(1e6))
          .cast(DecimalType(28, 6))).cast("double")
          / sum(col("cnt_doc"))).as("mean_continuation_share"))
  }

  /** Corpus bigram CONDITIONAL entropy — "how predictable is the next
    * token given this one": `H(W₂|W₁) = Σ c(w₁w₂)·ln(c₁(w₁)/c(w₁w₂)) / T`
    * next to the unigram entropy `H(W₁) = Σ c₁·ln(T/c₁) / T`, plus
    * their ratio — the one-row language-structure fingerprint
    * (natural text: conditional ≪ unigram; shuffled/templated
    * corpora drift toward equality or degeneracy). The corpus-level
    * twin of [[bigramNovelty]]'s per-document continuation shares.
    *
    * Scale shape: one corpus-sized pair partial agg; marginals and T
    * from the collapsed panel. Engine parity: each `ln` of an exact
    * count ratio is §5 grid-quantized at 1e-6, the integer-count ×
    * grid-point products cast at the grid's own scale (the §5 round-8
    * rule), two terminal divisions by T.
    */
  def bigramEntropy(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val toks = df
      .select(TextOps.tokens(col(textCol)).as("ts"))
      .select(col("ts"), size(col("ts")).as("n"))
    val bigs = toks.filter(col("n") >= 2)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), col("n") - 1).as("c1"),
        slice(col("ts"), lit(2), col("n") - 1).as("c2"))).as("z"))
      .select(col("z.c1").as("w1"), col("z.c2").as("w2"))
    val pair = bigs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n12"))
      .ckptPartitioned()
    val m1 = pair.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    val tot = pair.agg(sum(col("n12")).as("t"), count(lit(1)).as("n_pairs"))
    val cond = pair.join(m1, "w1")
      .select((col("n12") *
        floorGrid(log(col("n1").cast("double") / col("n12").cast("double")), 1e6))
        .cast(DecimalType(28, 6)).as("__t"))
      .agg(sum(col("__t")).as("__ch"))
    val uni = m1.crossJoin(broadcast(tot.select(col("t"))))
      .select((col("n1") *
        floorGrid(log(col("t").cast("double") / col("n1").cast("double")), 1e6))
        .cast(DecimalType(28, 6)).as("__t"),
        lit(1L).as("__n1key"))
      .agg(sum(col("__t")).as("__uh"), count(lit(1)).as("n_distinct_w1"))
    cond.crossJoin(broadcast(uni)).crossJoin(broadcast(tot))
      .select(col("t").as("n_bigrams"), col("n_pairs").as("n_distinct_pairs"),
        col("n_distinct_w1"),
        (col("__ch").cast("double") / col("t").cast("double"))
          .as("cond_entropy_nats"),
        (col("__uh").cast("double") / col("t").cast("double"))
          .as("unigram_entropy_nats"))
      .withColumn("predictability_ratio",
        when(col("unigram_entropy_nats") > 0,
          col("cond_entropy_nats") / col("unigram_entropy_nats")))
  }

  /** Flesch-style readability panel — the surface-form difficulty
    * screen next to the quality gate's ratio features: per document,
    * word / sentence / syllable-group counts and the classic score
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`
    * (higher = easier; NULL when either count is zero — a score
    * from a degenerate denominator would be noise with a confident
    * sign). A terminator-less document is one run-on sentence (split
    * semantics), which is exactly how its length should score.
    *
    * Syllables are the standard vowel-GROUP heuristic; splitting the
    * whole lowercased text on `[^aeiouy]+` equals the per-word sum
    * (groups never span words — spaces are non-vowels), one regex
    * pass instead of a per-word lambda. Sentences split on `[.!?]+`
    * with blank segments dropped. Everything is a stateless codegen'd
    * map — no shuffle at all; the two divisions and two multiplies
    * run in one fixed order both engines share.
    */
  def readability(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def nonBlank(arr: Column): Column =
      size(filter(arr, s => length(trim(s)) > 0))
    val words = nonBlank(split(col(textCol), "\\s+"))
    val sentences = nonBlank(split(col(textCol), "[.!?]+"))
    val syllables = nonBlank(split(lower(col(textCol)), "[^aeiouy]+"))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), words.as("n_words"), sentences.as("n_sentences"),
        syllables.as("n_syllables"))
      .withColumn("flesch",
        when(col("n_words") > 0 && col("n_sentences") > 0,
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") /
              col("n_sentences").cast("double")) -
            lit(84.6) * (col("n_syllables").cast("double") /
              col("n_words").cast("double"))))
  }

  /** Zipf-law fit over the corpus token-frequency distribution — the
    * one-number power-law health check (natural text runs slope ≈ −1;
    * a flat slope says synthetic/templated vocabulary, a cliff says
    * boilerplate dominance): OLS of quantized `ln(freq)` on quantized
    * `ln(rank)` over the full frequency-ranked vocabulary, emitting
    * slope (−exponent), intercept, and the panel sizes.
    *
    * Scale shape: one corpus-sized token partial agg → the vocabulary
    * panel; ranks come from the D55/F20 distributed prefix-sum
    * machinery (`PrefixSum.globalOrdered` under (freq desc, token) —
    * never a single-partition window over the vocabulary); moments
    * are §5 floor-grid quantized products summed as DECIMAL partials
    * (order-free), two IEEE divisions at the edge.
    */
  def zipfFit(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val vocab = df
      .select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.PrefixSum.globalOrdered(
        vocab, Seq(col("cnt").desc, col("tok")), "cnt")
      .select(col("cnt"), col("row_rank").as("rank"))
    // §5 scale rule: a 1e-8 grid casts at DECIMAL scale 8, never finer
    // — finer scales let the grid point's double representation error
    // into the cast's rounding decision.
    def q8d(c: Column): Column =
      floorGrid(c, 1e8).cast(DecimalType(28, 8))
    val pts = ranked.select(
      floorGrid(log(col("rank").cast("double")), 1e6).as("lx"),
      floorGrid(log(col("cnt").cast("double")), 1e6).as("ly"))
    val moms = pts.agg(count(lit(1)).as("n_types"),
      sum(q8d(col("lx"))).as("sx"), sum(q8d(col("ly"))).as("sy"),
      sum(q8d(col("lx") * col("ly"))).as("sxy"),
      sum(q8d(col("lx") * col("lx"))).as("sxx"))
    val den = col("n_types") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val slope = (col("n_types") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      when(den === 0, lit(null)).otherwise(den)
    moms.select(col("n_types"), slope.as("zipf_slope"),
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n_types")).as("intercept"))
  }

  /** Heaps'-law vocabulary-growth fit — the corpus-GROWTH question
    * next to [[zipfFit]]'s frequency shape: how fast does the type
    * count V grow with token count N (V ≈ k·N^β, β ~ 0.5 for natural
    * text)? The answer to "will 10× more crawl give 10× more
    * vocabulary" when sizing tokenizers and dedup thresholds.
    *
    * The growth curve needs a cumulative order over the corpus;
    * shuffling all tokens would be row-scale. Instead documents land
    * in `nBuckets` md5 buckets (deterministic, engine-replayable —
    * the split-assign discipline), the curve is measured at the
    * nBuckets cumulative boundary points (a RANDOM prefix of the
    * corpus at each), and types count toward the FIRST bucket that
    * introduces them (min bucket per type — one token-keyed agg, the
    * same shuffle the vocab panel pays anyway). Cumulation and the
    * log-log OLS both run on the ≤nBuckets-row panel (triangular
    * broadcast join — no unpartitioned window, no second shuffle).
    *
    * Output: one row per bucket — its own token/new-type counts, the
    * cumulative curve point (cum_tokens, cum_types) — with the fitted
    * (heaps_beta, heaps_k) broadcast on every row. Engine parity: the
    * zipfFit discipline (ln gridded 1e-6 on panel points, 1e-8 grid →
    * DECIMAL(28,8) moment sums, mirrored double solve, exp gridded).
    */
  def heapsFit(df: DataFrame, idCol: String, textCol: String,
               nBuckets: Int = 16): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    require(nBuckets >= 2, s"nBuckets=$nBuckets must be >= 2")
    val toks = df.select(
        pmod(Sampling.md5Long32(Seq(col(idCol))), lit(nBuckets))
          .cast("int").as("bucket"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
    val perBucket = toks.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"))
    val firstSeen = toks.groupBy(col("tok")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new_types"))
    val panel = perBucket.join(firstSeen, Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_new_types"), lit(0L)).as("n_new_types"))
      .ckptPartitioned()
    val cum = panel.as("x").join(broadcast(panel.as("y")),
        col("y.bucket") <= col("x.bucket"))
      .groupBy(col("x.bucket").as("bucket"))
      .agg(max(col("x.n_tokens")).as("n_tokens"),
        max(col("x.n_new_types")).as("n_new_types"),
        sum(col("y.n_tokens")).as("cum_tokens"),
        sum(col("y.n_new_types")).as("cum_types"))
      .ckptPartitioned()
    def q8d(c: Column): Column =
      floorGrid(c, 1e8).cast(DecimalType(28, 8))
    val pts = cum.filter(col("cum_tokens") > 0 && col("cum_types") > 0)
      .select(floorGrid(log(col("cum_tokens").cast("double")), 1e6).as("lx"),
        floorGrid(log(col("cum_types").cast("double")), 1e6).as("ly"))
    val moms = pts.agg(count(lit(1)).as("__n"),
      sum(q8d(col("lx"))).as("sx"), sum(q8d(col("ly"))).as("sy"),
      sum(q8d(col("lx") * col("ly"))).as("sxy"),
      sum(q8d(col("lx") * col("lx"))).as("sxx"))
    val den = col("__n") * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val beta = (col("__n") * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")) /
      when(den === 0, lit(null)).otherwise(den)
    val fit = moms.select(beta.as("heaps_beta"),
        ((col("sy").cast("double") - beta * col("sx").cast("double"))
          / col("__n")).as("__icept"))
      .select(col("heaps_beta"), floorGrid(exp(col("__icept")), 1e6).as("heaps_k"))
    cum.crossJoin(broadcast(fit))
      .select(col("bucket"), col("n_tokens"), col("n_new_types"),
        col("cum_tokens"), col("cum_types"),
        col("heaps_beta"), col("heaps_k"))
  }

  /** Vocabulary COVERAGE curve — the tokenizer-sizing question next to
    * [[zipfFit]]'s distribution shape: for each candidate vocab size
    * k, what share of ALL token occurrences the top-k types cover
    * ("32k types cover 98.5%" is the number a vocab budget is chosen
    * by; the tail share is the OOV rate a word-level vocab would
    * eat). Ranks ride the distributed prefix sum under (freq desc,
    * token) — never a single-partition window over a 100-TB corpus's
    * vocabulary; the cumulative counts come from the SAME machinery
    * (running sum), so each k is one panel filter, and the share is
    * exact-integer counts with one division at the edge.
    */
  def vocabCoverage(df: DataFrame, textCol: String,
                    ks: Seq[Int] = Seq(100, 1000, 10000)): DataFrame = {
    require(ks.nonEmpty && ks.forall(_ >= 1), s"bad vocab sizes: $ks")
    val vocab = df
      .select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val ranked = graft.operators.PrefixSum.globalOrdered(
        vocab, Seq(col("cnt").desc, col("tok")), "cnt")
      .select(col("cnt"), col("row_rank").as("rank"),
        col("prefix_sum").as("cum_cnt"))
      .localCheckpoint(false)
    val tot = ranked.agg(max(col("cum_cnt")).as("total_tokens"),
      count(lit(1)).as("n_types"))
    val kGrid = ks.sorted.map(k => lit(k))
    ranked
      .withColumn("k", explode(array(kGrid: _*)))
      .filter(col("rank") <= col("k"))
      .groupBy(col("k"))
      .agg(max(col("cum_cnt")).as("tokens_covered"),
        count(lit(1)).as("types_used"))
      .crossJoin(broadcast(tot))
      .select(col("k").cast("int").as("k"), col("n_types"),
        col("types_used"), col("tokens_covered"), col("total_tokens"),
        (col("tokens_covered").cast("double") /
          col("total_tokens").cast("double")).as("coverage"))
  }

  /** PMI-ranked collocations — the tokenizer/vocab-mining companion to
    * [[bigramNovelty]]: corpus-level pointwise mutual information
    * `ln( c(w₁w₂)·T / (c₁(w₁)·c₂(w₂)) )` over adjacent-token bigrams,
    * where `c₁`/`c₂` are POSITIONAL marginals (occurrences as first /
    * second element — the exact factorization of the bigram space) and
    * `T` the total bigram count. High PMI + a count floor = the
    * "strongly glued" pairs worth merging into vocabulary entries;
    * the count floor also kills PMI's rare-pair divergence.
    *
    * Scale shape: one corpus-sized (w₁,w₂) partial-agg shuffle; both
    * marginals and T derive from that collapsed panel (vocab²-bounded,
    * no second corpus scan); the top-N cut is a TakeOrdered under a
    * total order (quantized PMI desc, then the pair itself).
    * Engine parity: counts exact, one IEEE division + `ln` per
    * surviving pair, §5 grid-quantized (floor·1e4) before ranking.
    */
  def pmiBigrams(df: DataFrame, textCol: String,
                 minCount: Long = 5, topN: Int = 50): DataFrame = {
    val toks = df
      .select(TextOps.tokens(col(textCol)).as("ts"))
      .select(col("ts"), size(col("ts")).as("n"))
    val bigs = toks.filter(col("n") >= 2)
      .select(explode(arrays_zip(
        slice(col("ts"), lit(1), col("n") - 1).as("c1"),
        slice(col("ts"), lit(2), col("n") - 1).as("c2"))).as("z"))
      .select(col("z.c1").as("w1"), col("z.c2").as("w2"))
    val pair = bigs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
      .ckptPartitioned()
    val m1 = pair.groupBy(col("w1")).agg(sum(col("n_pair")).as("n_w1"))
    val m2 = pair.groupBy(col("w2")).agg(sum(col("n_pair")).as("n_w2"))
    val tot = pair.agg(sum(col("n_pair")).as("t"))
    pair.filter(col("n_pair") >= minCount)
      .join(m1, "w1").join(m2, "w2")
      .crossJoin(broadcast(tot))
      .select(col("w1"), col("w2"), col("n_pair"), col("n_w1"), col("n_w2"),
        (floor(log((col("n_pair") * col("t")).cast("double") /
          (col("n_w1") * col("n_w2")).cast("double")) * lit(1e4)) / lit(1e4))
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(topN)
  }

  /** First BPE merge-step candidates — the tokenizer-training
    * primitive: adjacent character-pair counts over the corpus,
    * weighted by word frequency, top `topN` by count (the pair a BPE
    * trainer would merge first, then the runners-up). Deterministic
    * tie-break on the pair itself makes the top-N boundary stable.
    *
    * Scale shape: the pair expansion runs over the DISTINCT-word
    * vocabulary relation (≪ corpus — the token-keyed frequency
    * aggregate is the only corpus-sized shuffle), char pairs come
    * from a lambda-free `arrays_zip` of two slices, and the final
    * ordering is a TakeOrdered over ≤ |pair vocabulary| counts, never
    * a global sort of data.
    */
  def bpeTopPairs(df: DataFrame, textCol: String, topN: Int = 20): DataFrame = {
    require(topN >= 1, s"topN=$topN must be positive")
    val freq = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("wf"))
    val chars = freq
      .select(col("wf"), regexp_extract_all(col("tok"), lit("."), lit(0)).as("cs"))
      .select(col("wf"), col("cs"), size(col("cs")).as("nc"))
    chars.filter(col("nc") >= 2)
      .select(col("wf"),
        explode(arrays_zip(
          slice(col("cs"), lit(1), col("nc") - 1).as("c1"),
          slice(col("cs"), lit(2), col("nc") - 1).as("c2"))).as("z"))
      .select(concat(col("z.c1"), col("z.c2")).as("pair"), col("wf"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(topN)
  }

  /** Greedy BPE merge TRAINING — the iterative loop [[bpeTopPairs]]
    * is the first step of: `rounds` times, count adjacent-symbol
    * pairs over the word vocabulary (frequency-weighted), merge the
    * most frequent pair (ties → lexicographically smallest) into one
    * symbol everywhere, repeat. Output: the learned merge table
    * (round, merge_left, merge_right, merged, n_occurrences) — the
    * artifact a tokenizer ships.
    *
    * Scale shape: ONE corpus pass builds the (token, freq) vocabulary
    * — training then runs entirely on that vocab relation (distinct
    * tokens, not corpus tokens), one ≤-pairs partial-agg shuffle + a
    * TakeOrdered(1) per round, the winning pair broadcast back as a
    * 1-row panel; localCheckpoint per round keeps the plan flat (the
    * kmeans discipline).
    *
    * Engine parity: symbol sequences are stored as space-padded
    * DOUBLE-space-joined strings (` a  b  c `), so the merge is ONE
    * literal leftmost-non-overlapping `replace(' l  r ', ' lr ')` —
    * the pad + double separator make a symbol boundary part of the
    * pattern (a token ending in `e` can never false-match a pair
    * starting with `e`), while consuming only ONE space of each
    * separator keeps back-to-back occurrences matchable
    * (`a a a a` → `aa aa`, and `a a a` → `aa a`, the standard BPE
    * left-to-right rule — both engines' literal replace scan the
    * source left to right and never rescan written output).
    */
  def bpeTrainMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame = {
    require(rounds >= 1, s"need at least one round: $rounds")
    var vocab = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("wf"))
      .select(concat(lit(" "),
        array_join(regexp_extract_all(col("tok"), lit("."), lit(0)), "  "),
        lit(" ")).as("sym"), col("wf"))
      .ckptPartitioned()
    val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var exhausted = false
    var r = 1
    // STOP when a round finds no mergeable pair (every word a single
    // symbol): cross-joining an EMPTY winner would wipe the vocabulary
    // relation and silently discard all earlier merges. The (empty)
    // round row keeps the schema; the oracle's carry-through UNION
    // mirrors the stop.
    while (!exhausted && r <= rounds) {
      val toks = vocab
        .select(col("wf"), split(trim(col("sym")), "  ").as("t"))
        .select(col("wf"), col("t"), size(col("t")).as("n"))
      val best = toks.filter(col("n") >= 2)
        .select(col("wf"), explode(zip_with(
          slice(col("t"), lit(1), col("n") - 1),
          slice(col("t"), lit(2), col("n") - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("merge_left"), col("p.r").as("merge_right"))
        .agg(sum(col("wf")).as("n_occurrences"))
        .orderBy(col("n_occurrences").desc, col("merge_left"), col("merge_right"))
        .limit(1)
        .ckptPartitioned()
      merges += best.select(lit(r).as("round"), col("merge_left"),
        col("merge_right"),
        concat(col("merge_left"), col("merge_right")).as("merged"),
        col("n_occurrences"))
      if (best.isEmpty) exhausted = true
      else {
        vocab = vocab.crossJoin(broadcast(best))
          .select(replace(col("sym"),
              concat(lit(" "), col("merge_left"), lit("  "), col("merge_right"), lit(" ")),
              concat(lit(" "), col("merge_left"), col("merge_right"), lit(" "))).as("sym"),
            col("wf"))
          .ckptPartitioned()
        r += 1
      }
    }
    merges.reduce(_ unionByName _)
  }

  /** BPE ENCODE — [[bpeTrainMerges]] applied back to the corpus: the
    * learned merges run over every token in training order, yielding
    * per-document symbol counts (the "how many BPE tokens is this
    * corpus" panel that drives packing budgets and cost estimates).
    *
    * Scale shape: training stays vocab-sized (its per-round winners
    * are already checkpointed 1-row panels); applying runs the
    * `rounds` broadcast-crossJoin + literal-replace passes over the
    * token-TYPE vocabulary, not occurrences — the piece count is a
    * pure function of the token string, so the corpus is touched
    * exactly twice (one explode to types + counts, one broadcast join
    * of the ≤vocab-sized piece table back onto the occurrence
    * relation). Heaps' law keeps types ≪ occurrences at any corpus
    * size (r14 rewrite: the per-occurrence passes were 6 corpus scans
    * that the per-type path collapses to vocabulary-sized work;
    * output bit-identical, oracle-pinned). A production encoder
    * collapses the passes into one trie walk; the rounds-passes shape
    * is the price of exact SQL replayability.
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
                rounds: Int): DataFrame = {
    val merges = bpeTrainMerges(df, textCol, rounds).ckptPartitioned()
    // only LANDED rounds replay (an exhausted trainer returns fewer
    // rows than `rounds`; a missing round's empty cross join would
    // wipe the type relation) — the merge table is a ≤rounds-row
    // panel, so the round list is a panel collect
    val landed = merges.select(col("round")).distinct()
      .collect().map(_.getInt(0)).sorted
    val toks = df.select(col(idCol).as("doc_id"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    var types = toks.select(col("tok")).distinct()
      .select(col("tok"), concat(lit(" "),
        array_join(regexp_extract_all(col("tok"), lit("."), lit(0)), "  "),
        lit(" ")).as("sym"))
    for (r <- landed) {
      val m = merges.filter(col("round") === r)
        .select(col("merge_left").as("__l"), col("merge_right").as("__r"))
      types = types.crossJoin(broadcast(m))
        .withColumn("sym", replace(col("sym"),
          concat(lit(" "), col("__l"), lit("  "), col("__r"), lit(" ")),
          concat(lit(" "), col("__l"), col("__r"), lit(" "))))
        .drop("__l", "__r")
    }
    // count-gated broadcast (the piece table is vocabulary-sized —
    // small for any real corpus, but Heaps-unbounded in principle;
    // past the gate the join falls back to a tok-keyed shuffle)
    val pieces = types
      .select(col("tok"), size(split(trim(col("sym")), "  ")).as("__pieces"))
      .ckptPartitioned()
    toks.join(Prejoin.broadcastIfSmall(pieces, pieces.count()), Seq("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("__pieces")).as("n_symbols"))
  }

  /** Fixed-size token chunking with overlap — the pre-embedding /
    * pre-tokenization splitting step of a RAG or training pipeline.
    * Chunk k starts at token offset k·(size−overlap); trailing
    * partials are kept, but a window that would start inside the
    * previous chunk's overlap tail (start ≥ n − overlap) adds no new
    * tokens and is not emitted. Assignment is a pure function of the
    * token sequence — layout-stable, replayable by any engine.
    *
    * Scale shape: zero shuffles — the start-offset expansion is a
    * `sequence`+`posexplode` inside the scan projection and each
    * chunk slices the already-materialized token array.
    */
  def chunkTokens(df: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, overlap: Int): DataFrame = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      s"chunkSize=$chunkSize overlap=$overlap: need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("t"))
      .select(col(idCol), col("t"), size(col("t")).as("n"))
      .filter(col("n") > 0)
      .select(col(idCol), col("t"), col("n"),
        posexplode(sequence(lit(0),
          greatest(col("n") - lit(overlap) - 1, lit(0)), lit(stride))))
      .select(col(idCol),
        col("pos").cast("int").as("chunk_seq"),
        col("col").cast("int").as("chunk_start"),
        least(lit(chunkSize), col("n") - col("col")).cast("int").as("n_chunk_tokens"),
        concat_ws(" ", slice(col("t"), col("col") + 1, lit(chunkSize))).as("chunk_text"))
  }

  /** Cross-document repeated-span share — the measurement behind
    * exact-substring dedup decisions (long spans appearing in many
    * docs are licenses, templates, injected boilerplate): per doc,
    * the share of its distinct n-token spans that occur in at least
    * one OTHER document. A doc scoring high is boilerplate-heavy even
    * when whole-doc dedup passes it.
    *
    * Scale shape: identical to the dedup inverted index — spans are
    * 8-byte kernel hashes (distinct per doc by construction, so the
    * span frequency IS document frequency), one span-keyed partial-agg
    * shuffle builds the df relation, the join back reuses that
    * partitioning, one doc-keyed re-aggregation. Never all-pairs,
    * never a driver loop.
    */
  def dupSpanStats(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 10): DataFrame = {
    require(n >= 2, s"span length n=$n must be >= 2")
    val g = df.select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(Kernels.shingleHashes(col("toks"), n)).as("sh"))
    val dfreq = g.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    g.join(dfreq, Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_spans"),
        count(when(col("df") >= 2, 1)).as("n_dup_spans"))
      .withColumn("dup_span_frac", col("n_dup_spans") / col("n_spans"))
  }

  /** Source-level quality gate — domain filtering: a whole source
    * (crawl domain, feed, dump) is kept or dropped on its AGGREGATE
    * quality, the curation step that removes a bad domain wholesale
    * where per-doc gates would leak its better half. Mean quality is
    * an exact DECIMAL sum divided once and rounded to 6dp (the
    * centroid parity pattern — order-free partials, one IEEE
    * division, engine-replayable verdicts).
    */
  def sourceQualityGate(df: DataFrame, sourceCol: String, qualityCol: String,
                        minDocs: Long, minMeanQuality: Double): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    df.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("n_docs"),
        round(sum(graft.expressions.Kernels.toDecimal(col(qualityCol).cast("double"), 28, 12)).cast("double") /
          count(lit(1)), 6).as("mean_quality"))
      .withColumn("status",
        when(col("n_docs") >= minDocs && col("mean_quality") >= minMeanQuality,
          "KEEP").otherwise("DROP"))
  }

  /** Rank-ensemble quality calibration: raw quality signals live on
    * incomparable scales (token counts vs ratios) AND distribute
    * differently per source, so a single global threshold
    * over-prunes one domain and under-prunes another. Calibrate each
    * signal to its PER-SOURCE percentile rank ((rank−1)/(n−1), ties
    * share), then ensemble as the mean of calibrated ranks — the
    * scale-free "is this doc good *for its source*" score curation
    * recipes gate on.
    *
    * Engine parity: rank/count windows are integer; each percentile
    * is ONE IEEE division and the ensemble is a fixed left-assoc sum
    * over `signalCols.size` doubles — identical evaluation order in
    * the SQL twin, no library math. Single-row groups pin 0.0 (the
    * (n−1)=0 case engines disagree on).
    *
    * Scale shape: one shuffle on the group key serves every signal's
    * window (same partitioning, sorted per signal in-place); no
    * global window, no joins. Groups are crawl sources — many and
    * bounded; a pathological mega-source skews its one partition and
    * would take the [[PrefixSum]] treatment instead.
    */
  def qualityEnsemble(df: DataFrame, idCol: String, groupCol: String,
                      signalCols: Seq[String]): DataFrame = {
    require(signalCols.nonEmpty, "qualityEnsemble needs at least one signal")
    import org.apache.spark.sql.expressions.Window
    val n = count(lit(1)).over(Window.partitionBy(col(groupCol)))
    val ranked = signalCols.foldLeft(df) { (d, sc) =>
      val w = Window.partitionBy(col(groupCol)).orderBy(col(sc))
      d.withColumn(s"pct_$sc",
        when(n > 1, (rank().over(w) - 1).cast("double") / (n - 1))
          .otherwise(lit(0.0)))
    }
    val ens = signalCols.map(sc => col(s"pct_$sc")).reduce(_ + _) / signalCols.size
    ranked.select(col(idCol) +: col(groupCol) +:
      (signalCols.map(sc => col(s"pct_$sc")) :+ ens.as("quality_ensemble")): _*)
  }

  /** Per-document Unicode-script profile — the mixed-script /
    * wrong-script signal (a "Spanish" crawl page that is 60% CJK is
    * misrouted; heavy Cyrillic inside Latin text flags spoofing):
    * per-class character counts over EXPLICIT codepoint ranges
    * (Latin letters, ASCII digits, ASCII whitespace, ASCII
    * punctuation, CJK U+4E00–9FFF, Cyrillic U+0400–04FF — each class
    * written identically under Java regex and RE2, per the dialect
    * rule), a residual `n_other`, and the dominant letter script by
    * fixed-precedence comparison (latin ≥ cjk ≥ cyrillic on ties,
    * 'none' when no letters).
    *
    * Scale shape: zero shuffles — seven codegen'd regexp_replace
    * length-diffs inside the scan projection.
    */
  def scriptProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(cls: String) = length(t) - length(regexp_replace(t, cls, ""))
    val latin = cnt("[A-Za-z]")
    val digit = cnt("[0-9]")
    val space = cnt("[ \\t\\n\\r\\f]")
    val punct = cnt("[!-/:-@\\[-`{-~]")
    val cjk = cnt("[\\x{4e00}-\\x{9fff}]")
    val cyr = cnt("[\\x{0400}-\\x{04ff}]")
    df.select(col(idCol), length(t).as("n_chars_calc"),
        latin.as("n_latin"), digit.as("n_digit"), space.as("n_space"),
        punct.as("n_punct"), cjk.as("n_cjk"), cyr.as("n_cyrillic"))
      .withColumn("n_other",
        col("n_chars_calc") - col("n_latin") - col("n_digit") - col("n_space")
          - col("n_punct") - col("n_cjk") - col("n_cyrillic"))
      .withColumn("dominant_script",
        when(col("n_latin") >= col("n_cjk") && col("n_latin") >= col("n_cyrillic")
            && col("n_latin") > 0, "latin")
          .when(col("n_cjk") >= col("n_cyrillic") && col("n_cjk") > 0, "cjk")
          .when(col("n_cyrillic") > 0, "cyrillic")
          .otherwise("none"))
  }

  /** Per-document PII-signal panel — the measurement twin of
    * `text_redact`: non-overlapping match counts for email-shaped,
    * IPv4-shaped, long-digit-run (card/account-shaped) and URL
    * tokens, plus the gate flag curation pipelines route on. The
    * patterns avoid every feature Java regex and RE2 disagree on (no
    * lookaround, no backreferences, explicit classes); both engines
    * scan leftmost non-overlapping, so the counts replay exactly.
    *
    * Scale shape: zero shuffles — four codegen'd regexp_count calls
    * in the scan projection.
    */
  def piiProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    df.select(col(idCol),
        regexp_count(t, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"))
          .as("n_emails"),
        regexp_count(t, lit("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"))
          .as("n_ipv4"),
        regexp_count(t, lit("[0-9]{8,}")).as("n_digit_runs"),
        regexp_count(t, lit("https?://[^ ]+")).as("n_urls"))
      .withColumn("has_pii",
        col("n_emails") + col("n_ipv4") + col("n_digit_runs") > 0)
  }

  /** BM25 retrieval scoring against a fixed query term set, top-k
    * docs — the lexical-retrieval primitive behind seed-set expansion
    * ("find more docs like these quality exemplars") and RAG-style
    * corpus search. Standard Robertson/Sparck-Jones BM25 with the
    * +1 idf variant (always positive): per matched term,
    * idf·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)).
    *
    * Engine parity: `ln` touches only the ≤|queryTerms|-row idf panel
    * (floor-quantized to the 1e-4 grid, the unigramSurprisal rule);
    * per-doc term scores re-floor to 1e-6 before the DECIMAL(28,6)
    * sum (order-free); every constant and operator is written in the
    * same order as the SQL twin, so scores replay bit-for-bit.
    *
    * Scale shape: one token-keyed aggregate for doc lengths, a
    * corpus-scan filter to the query terms (tiny tf relation), the
    * idf and avgdl panels broadcast, one doc-keyed join + aggregate;
    * the cut is TakeOrdered over scored docs — never a global sort.
    * Docs matching no query term score 0 and are absent by
    * construction.
    */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], topK: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK needs at least one query term")
    require(topK >= 1, s"topK=$topK must be positive")
    import org.apache.spark.sql.types.DecimalType
    val toks = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("tok"))
    val docLen = toks.groupBy(col(idCol)).agg(count(lit(1)).as("dl"))
    val stats = docLen.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("n_total"))
    val tf = toks.filter(col("tok").isin(queryTerms: _*))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val idf = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(stats))
      .select(col("tok"),
        (floor(log(((col("n_docs") - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)) * lit(1e4)) / lit(1e4))
          .as("idf"))
    val avgdl = stats.select(
      (col("n_total").cast("double") / col("n_docs").cast("double")).as("avgdl"))
    tf.join(broadcast(idf), Seq("tok"))
      .join(docLen, Seq(idCol))
      .crossJoin(broadcast(avgdl))
      .withColumn("term_score",
        floor(col("idf") * (col("tf").cast("double") * lit(k1 + 1)) /
          (col("tf").cast("double") +
            lit(k1) * (lit(1 - b) + lit(b) * (col("dl").cast("double") / col("avgdl"))))
          * lit(1e6)) / lit(1e6))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(col("term_score").cast(DecimalType(28, 6))).as("__sd"))
      .select(col(idCol), col("n_terms_hit"), col("__sd").cast("double").as("bm25_score"))
      .orderBy(col("bm25_score").desc, col(idCol))
      .limit(topK)
  }

  /** Power-of-2 document-length histogram — the corpus length profile
    * every curation readout starts with, LOG-FREE: the bucket index is
    * the BIT LENGTH of the token count (`length(bin(n))` =
    * floor(log2 n)+1 — an integer identity both engines compute from
    * the binary string, no libm). Emits per-bucket doc counts, token
    * totals, and the exact [2^(b−1), 2^b−1] boundaries via integer
    * shifts.
    *
    * Scale shape: one corpus scan, one ≤64-key partial-agg shuffle;
    * integer partials only.
    */
  def lengthHistogram(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
      .select(length(bin(col("n_tokens"))).as("bucket"), col("n_tokens"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .withColumn("bucket_lo", expr("shiftleft(cast(1 as bigint), bucket - 1)"))
      .withColumn("bucket_hi", expr("shiftleft(cast(1 as bigint), bucket) - 1"))
      .select(col("bucket"), col("bucket_lo"), col("bucket_hi"),
        col("n_docs"), col("sum_tokens"))

  /** Per-document character-diversity panel — the LOG-FREE quality
    * signal next to Shannon entropy (whose log2 the libm-portability
    * rule forbids): Simpson diversity 1 − Σp², distinct character
    * count, and the single most frequent character's share. A
    * keyboard-mash or single-char-flood document scores near 0
    * diversity / high top share; natural text sits high/low.
    *
    * Exactness: Σp² = (Σ c_i²)/n² — both sums are INTEGER partials
    * (map-side combined, order-free), so each output is exactly ONE
    * IEEE division over exact longs, engine-identical with no
    * decimal machinery at all. Scale shape: one (doc, char) partial
    * agg + one doc-keyed re-agg; the empty-string guard (`ch <> ''`)
    * pins Java's trailing-empty split artifact to DuckDB's
    * string_split semantics.
    */
  def charDiversity(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perChar = df
      .filter(col(textCol).isNotNull && length(col(textCol)) > 0)
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), "")).as("ch"))
      .filter(col("ch") =!= "")
      .groupBy(col("doc_id"), col("ch"))
      .agg(count(lit(1)).as("cnt"))
    perChar.groupBy(col("doc_id"))
      .agg(sum(col("cnt")).as("n_chars_counted"),
        count(lit(1)).as("distinct_chars"),
        sum(col("cnt") * col("cnt")).as("__ss"),
        max(col("cnt")).as("__maxc"))
      .select(col("doc_id"), col("n_chars_counted"), col("distinct_chars"),
        (lit(1.0) - col("__ss") / (col("n_chars_counted") * col("n_chars_counted")).cast("double"))
          .as("simpson_diversity"),
        (col("__maxc") / col("n_chars_counted").cast("double")).as("top_char_share"))
  }

  /** Sentence-level shape statistics per document — the granularity
    * below [[featureHash]]'s token fold and beside `doc_chunks`'
    * token windows: sentences split on `[.!?]+` (identical regex in
    * Java and RE2), per-doc sentence count, mean tokens per sentence
    * and the longest sentence in characters — the "wall of text /
    * staccato fragments" signals a prose-quality gate reads.
    * One explode + one doc-keyed partial agg; the mean is one IEEE
    * division over exact longs (no decimal machinery).
    */
  def sentenceStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sent = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), "[.!?]+")).as("__s0"))
      .withColumn("__s", trim(col("__s0")))
      .filter(col("__s") =!= "")
      // explicit whitespace class — the exactCanonical dialect rule
      .withColumn("__ntok", size(split(col("__s"), "[ \\t\\n\\r\\f]+")))
    sent.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sentences"),
        sum(col("__ntok").cast("long")).as("__tok"),
        max(length(col("__s"))).as("max_sentence_chars"))
      .select(col("doc_id"), col("n_sentences"),
        (col("__tok").cast("double") / col("n_sentences").cast("double"))
          .as("avg_sentence_tokens"),
        col("max_sentence_chars"))
  }

  /** Reciprocal-rank fusion of two ranked retrieval lists — the
    * standard hybrid-search combiner (lexical BM25 ⊕ semantic ANN):
    * `score(d) = Σ_list 1/(k + rank_list(d))`, documents missing from
    * a list contribute nothing for it. Rank-based, so the two lists'
    * incomparable score scales never need calibration — the property
    * that made RRF the default fusion in hybrid retrieval.
    *
    * Inputs are ALREADY top-k panels (bounded by their retrievers),
    * so the full-outer merge and the final rank run on ≤ |a|+|b|
    * rows — panel math, no data-sized window. Engine parity: each
    * term is one IEEE division of exact integers, the sum is two
    * coalesced terms in fixed order, ranking ties break on id.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, idCol: String,
              kConst: Int = 60, topK: Int = 10): DataFrame = {
    require(kConst >= 1 && topK >= 1, s"kConst=$kConst topK=$topK")
    val ra = a.select(col(idCol).as("__id"), col("rank").cast("long").as("rank_lex"))
    val rb = b.select(col(idCol).as("__id"), col("rank").cast("long").as("rank_sem"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("rrf_score").desc, col("__id"))
    ra.join(rb, Seq("__id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(lit(1.0) / (lit(kConst) + col("rank_lex")).cast("double"), lit(0.0))
          + coalesce(lit(1.0) / (lit(kConst) + col("rank_sem")).cast("double"), lit(0.0)))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("__id").as(idCol), col("rank"), col("rrf_score"),
        col("rank_lex"), col("rank_sem"))
  }

  /** Feature hashing (the "hashing trick"): each document's token
    * counts folded into a fixed `dim`-bucket sparse vector — the
    * vocabulary-free featurization step a downstream linear model or
    * clustering consumes. Buckets come from the repo's md5 idiom
    * (`md5Long32(token) mod dim`), so the fold is engine-replayable;
    * the L2-normalized weight divides by a per-doc norm computed from
    * exact integer bucket counts (sqrt is correctly-rounded IEEE in
    * every engine) and ships floor-grid-quantized (§5).
    *
    * Output: one row per (doc, non-empty bucket) — doc_id, bucket,
    * tf (exact), weight (tf / ‖doc‖₂ on the 1e-6 grid). Scale shape:
    * one (doc, bucket) partial-agg shuffle + one doc-keyed re-agg
    * joined back — vocabulary size never appears; the bucket space
    * is fixed at `dim` regardless of corpus growth, which is the
    * entire point of the trick at 100 TB.
    */
  def featureHash(df: DataFrame, idCol: String, textCol: String,
                  dim: Int): DataFrame = {
    require(dim >= 2, s"featureHash needs dim >= 2: $dim")
    val tf = df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .withColumn("bucket", pmod(Sampling.md5Long32(Seq(col("token"))), lit(dim)))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    val norms = tf.groupBy(col("doc_id"))
      .agg(sqrt(sum(col("tf") * col("tf")).cast("double")).as("__norm"))
    tf.join(norms, Seq("doc_id"))
      .select(col("doc_id"), col("bucket"), col("tf"),
        (floor(col("tf").cast("double") / col("__norm") * lit(1e6)) / lit(1e6))
          .as("weight"))
  }

  /** DEFLATE compression ratio per document — the classic one-number
    * redundancy signal (the Gopher/C4 lineage: highly compressible
    * text is boilerplate or repetition; a ratio near 1 is
    * high-entropy garbage or binary spill). Low and high tails both
    * gate out; the middle band is natural text.
    *
    * Executes as batched `mapPartitions` over the standard JDK
    * Deflater — the same JVM-library boundary as the Multimodal
    * decoders (the one legitimate mapPartitions class: a per-row JVM
    * codec no Catalyst expression exposes). Deterministic for a
    * fixed JDK/zlib and level, but NOT replayable in SQL → rows-only
    * by the §5.1 binary rule; the spec pins the repetitive ≪ diverse
    * ordering and the empty-doc NULL.
    */
  def compressionRatio(df: DataFrame, idCol: String, textCol: String,
                       level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, s"deflate level out of range: $level")
    val spark = df.sparkSession
    import spark.implicits._
    val in = df.select(col(idCol).cast("long").as("_1"),
        col(textCol).cast("string").as("_2"))
      .as[(Long, String)]
    in.mapPartitions { it =>
      it.map { case (id, text) =>
        val bytes =
          if (text == null) Array.emptyByteArray
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val d = new java.util.zip.Deflater(level)
        try {
          d.setInput(bytes); d.finish()
          // zlib worst case ≈ len + len/16k·5 + 6 — the slack below
          // dominates it at every length
          val buf = new Array[Byte](bytes.length + bytes.length / 1000 + 64)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
          (id, bytes.length.toLong, n.toLong,
            if (bytes.length > 0) Some(n.toDouble / bytes.length.toDouble)
            else None)
        } finally d.end()
      }
    }.toDF("doc_id", "n_bytes", "n_compressed", "compression_ratio")
  }

  // ── Unigram-LM (SentencePiece-style) tokenizer ──────────────────

  /** Viterbi segmentation of a distinct-word relation under a piece
    * vocabulary — the shared inference kernel of [[unigramTrain]]'s
    * E-step and [[unigramEncode]]: per word, the max-log-prob
    * segmentation into vocabulary pieces via the classic position DP.
    *
    * The lattice is evaluated PER WORD inside one row: the word's
    * vocabulary-matched substring edges collect into an array (the
    * only shuffle), and an `aggregate` over positions 1..len folds
    * the DP table — at each position the ≤`maxPieceLen` incoming
    * edges propose `prev.score + log_prob` candidates and the argmax
    * under the total (score DESC, seg ASC) order survives. This is
    * semantically the unrolled per-position plan (the oracle still
    * replays it as `lcap` chained CTEs) but costs ONE broadcast join
    * + ONE groupBy per pass instead of a join + argmax-window shuffle
    * per position (measured at sf0.1: unigram_encode 7.0 → 2.4 s,
    * unigram_train 4.0 → 1.3 s vs the unrolled form).
    *
    * `words` must carry (`word`, `wf`) with every word non-empty and
    * pre-truncated to the trainer's `lcap` horizon; `vocab`
    * (`piece`, `log_prob`) must contain every single character of
    * every word (the trainer's char-inventory guarantee), so the DP
    * always completes. Scores are left-to-right folds of
    * 1e-6-gridded log-probs — the same fold in any engine — and the
    * candidate comparator is a total order, so winners (including
    * ulp-level ties) replay bit-identically.
    *
    * Scale shape: rows = distinct words (vocabulary-sized, never
    * corpus-sized); per row the fold does ≤ len × maxPieceLen edge
    * probes over a ≤ len×maxPieceLen edge array — constant work per
    * word, fully parallel, no driver involvement. Output:
    * (word, wf, seg) with `seg` the space-joined best pieces.
    */
  private[graft] def unigramViterbi(words: DataFrame, vocab: DataFrame,
                                    maxPieceLen: Int): DataFrame = {
    val v = broadcast(vocab.select(col("piece"), col("log_prob")))
    val edges = words
      .select(col("word"), col("wf"), length(col("word")).as("wl"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("wf"), col("wl"), col("s"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), col("wl") - col("s") + 1))).as("l"))
      .withColumn("piece", col("word").substr(col("s"), col("l")))
      .join(v, "piece")
      .groupBy(col("word"), col("wf"), col("wl"))
      .agg(collect_list(struct(col("s"), col("l"), col("piece"),
        col("log_prob").as("lp"))).as("es"))
    // dp(pos) lives at array index pos+1; dp(0) = (0.0, '')
    val dpType = "struct<score:double,seg:string>"
    val dp = aggregate(
      sequence(lit(1), col("wl")),
      array(struct(lit(0.0).as("score"), lit("").as("seg"))),
      (acc, i) => {
        val cands = (1 to maxPieceLen).map { k =>
          // edge covering positions (i-k, i]: starts at i-k+1, len k;
          // (s, l) is unique in es, so the filter+head is total
          val e = try_element_at(filter(col("es"), e =>
            e.getField("s") === (i - lit(k) + 1) &&
              e.getField("l") === lit(k)), lit(1))
          // the prev lookup only evaluates when k <= i (CaseWhen
          // branches are lazy), so the index stays >= 1
          when(lit(k) <= i && e.isNotNull, {
            val prev = element_at(acc, i - lit(k) + 1)
            struct(
              (prev.getField("score") + e.getField("lp")).as("score"),
              concat(prev.getField("seg"), lit(" "),
                e.getField("piece")).as("seg"))
          })
        }
        // argmax under the unrolled plan's total (score DESC, seg ASC)
        // order, folded with LAMBDA variables (an expression-level
        // reduce would copy each candidate subtree into every
        // comparison — exponential tree growth); null candidates lose
        val best = aggregate(
          array(cands: _*),
          lit(null).cast(dpType),
          (b, c) => when(c.isNull, b).when(b.isNull, c)
            .when(c.getField("score") > b.getField("score") ||
              (c.getField("score") === b.getField("score") &&
                c.getField("seg") < b.getField("seg")), c)
            .otherwise(b))
        concat(acc, array(best))
      })
    edges.select(col("word"), col("wf"),
      ltrim(element_at(dp, col("wl") + 1).getField("seg")).as("seg"))
  }

  /** §5 gridded log-prob panel over a (piece, n_used) relation:
    * `floor(ln(count share)·1e6)/1e6`; with `laplace` every count
    * takes +1 so zero-usage inventory chars stay finite. The total is
    * a 1-row panel crossJoin — panel×panel by design.
    */
  private def unigramLogp(counts: DataFrame, laplace: Boolean): DataFrame = {
    val c = if (laplace) col("n_used") + lit(1L) else col("n_used")
    val tot = counts.agg(sum(c).as("__t"))
    counts.crossJoin(broadcast(tot))
      .select(col("piece"), col("n_used"),
        (floor(log(c.cast("double") / col("__t").cast("double")) * lit(1e6))
          / lit(1e6)).as("log_prob"))
  }

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING — the
    * hard-EM loop that closes the tokenizer family next to
    * [[bpeTrainMerges]] (BPE merges greedily bottom-up; unigram
    * starts from an over-complete substring seed and PRUNES):
    *
    *  1. SEED — every substring of length 1..`maxPieceLen` of the
    *     frequency-weighted distinct-word relation, counted per
    *     occurrence; the char inventory (all length-1 pieces) is kept
    *     unconditionally — the coverage guarantee — plus the top
    *     `seedMultis` longer pieces by (count DESC, piece ASC).
    *     Seed log-probs: gridded ln of each count share.
    *  2. E-STEP (hard) — [[unigramViterbi]] segments every distinct
    *     word under the current model; piece usage = Σ word-freq ×
    *     occurrences in the best segmentation (the Viterbi point
    *     estimate standing in for the lattice expectation — the
    *     standard hard-EM variant).
    *  3. M-STEP + PRUNE — keep the char inventory (zero usage
    *     allowed) plus the top `keepMultis` longer pieces with usage
    *     > 0; re-estimate log-probs with add-one smoothing
    *     `ln((usage+1)/Σ(usage+1))`, gridded per §5.
    *
    * Steps 2-3 repeat `emRounds` times — fixed rounds, the replayable
    * form of run-to-convergence (the logreg/kmeans discipline). Words
    * truncate to `lcap` chars for segmentation: a fixed DP horizon
    * keeps the unrolled lattice finite (no token in this corpus
    * exceeds 8 chars; at 100 TB the cap bounds DP depth, never drops
    * a word). Output: the shipped model, (piece, n_used, log_prob) —
    * char inventory ∪ kept pieces.
    *
    * Scale shape: ONE corpus pass builds the (word, freq) relation;
    * seeding, EM and pruning run entirely on vocabulary-sized panels;
    * every top-N cut is a TakeOrdered under a total order, never a
    * global sort of data. Engine parity: counts exact longs,
    * log-probs gridded, DP scores identical left-to-right IEEE folds,
    * every argmax totally tie-broken.
    */
  def unigramTrain(df: DataFrame, textCol: String, emRounds: Int = 2,
                   seedMultis: Int = 300, keepMultis: Int = 200,
                   maxPieceLen: Int = 4, lcap: Int = 12): DataFrame =
    unigramFit(df, textCol, emRounds, seedMultis, keepMultis,
      maxPieceLen, lcap)._2

  /** (distinct-word relation, final vocabulary) — the shared trainer
    * behind [[unigramTrain]] and [[unigramEncode]].
    */
  private def unigramFit(df: DataFrame, textCol: String, emRounds: Int,
                         seedMultis: Int, keepMultis: Int,
                         maxPieceLen: Int, lcap: Int)
      : (DataFrame, DataFrame) = {
    require(emRounds >= 1 && maxPieceLen >= 2 && lcap >= maxPieceLen,
      s"bad unigram params: emRounds=$emRounds maxPieceLen=$maxPieceLen lcap=$lcap")
    val words = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("tok").substr(lit(1), lit(lcap)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .ckptPartitioned()
    val subs = words
      .select(col("word"), col("wf"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("wf"), col("s"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("word")) - col("s") + 1))).as("l"))
      .select(col("word").substr(col("s"), col("l")).as("piece"), col("wf"))
      .groupBy(col("piece")).agg(sum(col("wf")).as("cnt"))
      .ckptPartitioned()
    val inventory = subs.filter(length(col("piece")) === 1)
      .select(col("piece"))
    val seed = subs.filter(length(col("piece")) === 1)
      .unionByName(subs.filter(length(col("piece")) >= 2)
        .orderBy(col("cnt").desc, col("piece")).limit(seedMultis))
      .select(col("piece"), col("cnt").as("n_used"))
    var vocab = unigramLogp(seed, laplace = false).ckptPartitioned()
    for (_ <- 1 to emRounds) {
      val usage = unigramViterbi(words, vocab, maxPieceLen)
        .select(col("wf"), explode(split(col("seg"), " ")).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wf")).as("n_used"))
        .ckptPartitioned()
      val kept = inventory.join(usage, Seq("piece"), "left")
        .select(col("piece"), coalesce(col("n_used"), lit(0L)).as("n_used"))
        .unionByName(usage.filter(length(col("piece")) >= 2)
          .orderBy(col("n_used").desc, col("piece")).limit(keepMultis))
      vocab = unigramLogp(kept, laplace = true).ckptPartitioned()
    }
    (words, vocab)
  }

  /** Tokenizer-selection panel — the SAME corpus encoded by ALL THREE
    * production tokenizers ([[bpeEncode]]'s greedy merges,
    * [[unigramEncode]]'s pruned unigram model, [[wordpieceEncode]]'s
    * greedy longest-match over likelihood-scored merges), rolled up
    * to corpus-level compression totals: docs, pre-tokens, emitted
    * pieces and the §5-gridded symbols-per-token ratio per tokenizer
    * — the evidence a pipeline reads before shipping one of them.
    *
    * Scale shape: exactly the three encoders' shapes (each trains on
    * the vocabulary relation and encodes with corpus-linear passes)
    * plus one 3-row rollup; integer totals are exact-long sums, the
    * single ratio division grids at the panel edge.
    */
  def tokenizerCompare(df: DataFrame, idCol: String, textCol: String,
                       bpeRounds: Int = 6): DataFrame = {
    // The three tokenizer chains are independent deterministic
    // functions of `df`, but each trains through eager per-round
    // checkpoints — built sequentially the driver serializes ~3x the
    // jobs. Overlap the constructions (Par.seq, guide §2.6): wall
    // drops toward the slowest single chain, results bit-identical.
    val Seq(b, u, w) = Par.seq(Seq(
      () => bpeEncode(df, idCol, textCol, bpeRounds)
        .select(lit("bpe").as("tokenizer"), col("n_tokens"), col("n_symbols")),
      () => unigramEncode(df, idCol, textCol)
        .select(lit("unigram").as("tokenizer"), col("n_tokens"), col("n_symbols")),
      () => wordpieceEncode(df, idCol, textCol, bpeRounds)
        .select(lit("wordpiece").as("tokenizer"), col("n_tokens"), col("n_symbols"))))
    b.unionByName(u).unionByName(w)
      .groupBy(col("tokenizer"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_symbols")).as("n_symbols"))
      .withColumn("symbols_per_token",
        floor(col("n_symbols").cast("double") / col("n_tokens").cast("double")
          * lit(1e6)) / lit(1e6))
  }

  /** Unigram-LM ENCODE — [[unigramTrain]]'s model applied back to the
    * corpus (the [[bpeEncode]] twin): one more [[unigramViterbi]]
    * pass over the distinct-word relation under the FINAL vocabulary,
    * then per-document token and piece counts via a word-keyed join.
    *
    * Scale shape: training and segmentation stay vocabulary-sized;
    * the only corpus-sized steps are the token explode and the
    * (doc, word) ⋈ (word, n_pieces) join — broadcast while the
    * segmented vocabulary panel is small, key-partitioned at 100 TB
    * (left to AQE). Output: (doc_id, n_tokens, n_symbols).
    */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
                    emRounds: Int = 2, seedMultis: Int = 300,
                    keepMultis: Int = 200, maxPieceLen: Int = 4,
                    lcap: Int = 12): DataFrame = {
    val (words, vocab) = unigramFit(df, textCol, emRounds, seedMultis,
      keepMultis, maxPieceLen, lcap)
    val segs = unigramViterbi(words, vocab, maxPieceLen)
      .select(col("word"), size(split(col("seg"), " ")).as("n_pieces"))
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("tok").substr(lit(1), lit(lcap)).as("word"))
      .join(segs, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_pieces").cast("long")).as("n_symbols"))
  }

  /** WordPiece merge TRAINING — the LIKELIHOOD-scored member of the
    * production tokenizer triple ([[bpeTrainMerges]] merges the most
    * FREQUENT adjacent pair; WordPiece merges the pair that most
    * increases corpus likelihood under a unigram model, which reduces
    * to score = count(l,r) / (count(l)·count(r)) — frequent pairs of
    * RARE symbols win, so morpheme boundaries beat sheer frequency).
    * Same machinery otherwise: `rounds` times, count symbol and
    * adjacent-pair frequencies over the word vocabulary, merge the
    * best-scoring pair (score DESC, then pair ASC) everywhere via the
    * boundary-safe double-space literal replace, repeat. Output: the
    * learned merge table (round, merge_left, merge_right, merged,
    * n_pair, n_left, n_right, score).
    *
    * Engine parity: counts are exact longs; score is ONE double
    * multiply of two long→double casts plus ONE division — identical
    * IEEE sequence in the SQL twin, so the per-round argmax (and the
    * output score) is bit-identical, no libm, no grid needed.
    *
    * Scale shape: identical to BPE training — ONE corpus pass to the
    * (token, freq) vocabulary, then per round two vocabulary-sized
    * partial-agg shuffles (symbols, pairs), a broadcast score join
    * and a TakeOrdered(1); the winner folds back as a 1-row panel.
    */
  def wordpieceTrainMerges(df: DataFrame, textCol: String, rounds: Int): DataFrame =
    wordpieceTrain(df, textCol, rounds)._1

  /** (merge table, final symbolized token vocabulary) — the trainer
    * behind [[wordpieceTrainMerges]] and [[wordpieceEncode]] (which
    * needs the final symbolization for its role vocab; returning it
    * here spares encode a duplicate corpus pass plus a full merge
    * replay). The loop STOPS when a round finds no mergeable pair
    * (every word a single symbol): blindly cross-joining an EMPTY
    * winner would wipe the vocabulary relation and silently discard
    * all earlier merges — the oracle's carry-through UNION mirrors
    * the stop (an exhausted round leaves the vocab CTE unchanged and
    * contributes no merge row in either engine).
    */
  private def wordpieceTrain(df: DataFrame, textCol: String,
                             rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"need at least one round: $rounds")
    var vocab = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("wf"))
      .select(concat(lit(" "),
        array_join(regexp_extract_all(col("tok"), lit("."), lit(0)), "  "),
        lit(" ")).as("sym"), col("wf"))
      .ckptPartitioned()
    val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var exhausted = false
    var r = 1
    while (!exhausted && r <= rounds) {
      val toks = vocab
        .select(col("wf"), split(trim(col("sym")), "  ").as("t"))
        .select(col("wf"), col("t"), size(col("t")).as("n"))
        .localCheckpoint(false)
      val symFreq = toks.select(col("wf"), explode(col("t")).as("s"))
        .groupBy(col("s")).agg(sum(col("wf")).as("sf"))
      val best = toks.filter(col("n") >= 2)
        .select(col("wf"), explode(zip_with(
          slice(col("t"), lit(1), col("n") - 1),
          slice(col("t"), lit(2), col("n") - 1),
          (a, b) => struct(a.as("l"), b.as("r")))).as("p"))
        .groupBy(col("p.l").as("merge_left"), col("p.r").as("merge_right"))
        .agg(sum(col("wf")).as("n_pair"))
        .join(broadcast(symFreq.select(col("s").as("merge_left"),
          col("sf").as("n_left"))), Seq("merge_left"))
        .join(broadcast(symFreq.select(col("s").as("merge_right"),
          col("sf").as("n_right"))), Seq("merge_right"))
        .withColumn("score", col("n_pair").cast("double") /
          (col("n_left").cast("double") * col("n_right").cast("double")))
        .orderBy(col("score").desc, col("merge_left"), col("merge_right"))
        .limit(1)
        .ckptPartitioned()
      // the (empty) select keeps the merge table's schema even when
      // round 1 itself finds nothing (an all-single-char corpus)
      merges += best.select(lit(r).as("round"), col("merge_left"),
        col("merge_right"),
        concat(col("merge_left"), col("merge_right")).as("merged"),
        col("n_pair"), col("n_left"), col("n_right"), col("score"))
      if (best.isEmpty) exhausted = true
      else {
        vocab = vocab.crossJoin(broadcast(best.select(col("merge_left"), col("merge_right"))))
          .select(replace(col("sym"),
              concat(lit(" "), col("merge_left"), lit("  "), col("merge_right"), lit(" ")),
              concat(lit(" "), col("merge_left"), col("merge_right"), lit(" "))).as("sym"),
            col("wf"))
          .ckptPartitioned()
        r += 1
      }
    }
    (merges.reduce(_ unionByName _), vocab)
  }

  /** (distinct-word relation, final symbolized vocab) after
    * [[wordpieceTrainMerges]]'s merges — the shared trainer behind
    * [[wordpieceEncode]]; words truncate to `lcap` chars (the unigram
    * DP-horizon discipline: a fixed bound on the greedy walk's
    * length, never a dropped word).
    */
  private def wordpieceFit(df: DataFrame, textCol: String, rounds: Int,
                           lcap: Int): (DataFrame, DataFrame) = {
    val (_, sym) = wordpieceTrain(df, textCol, rounds)
    val words = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("tok").substr(lit(1), lit(lcap)).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("wf"))
      .ckptPartitioned()
    (words, sym)
  }

  /** WordPiece ENCODE — greedy LONGEST-MATCH-FIRST against the
    * trained vocabulary, the production WordPiece inference rule (and
    * a genuinely different decoder from BPE's merge replay and
    * unigram's Viterbi: at each position it takes the longest vocab
    * piece that matches, position-aware — a piece matched mid-word
    * must exist as a CONTINUATION entry, the role WordPiece renders
    * as `##piece`). The vocabulary is the final symbolization's
    * pieces split by ROLE — carried as an (is-initial, piece)
    * TWO-column relation, never a `##` string prefix, which would
    * collide with tokens that themselves contain '#' — plus the full
    * char inventory in BOTH roles, the coverage guarantee that makes
    * the greedy walk total
    * (every position matches at least its own char, so there is no
    * UNK path to replicate). Output: per-doc (n_tokens, n_symbols),
    * the [[bpeEncode]]/[[unigramEncode]] panel shape.
    *
    * Scale shape: training and the walk stay vocabulary-sized. The
    * longest-match table is one (word, start) MAX over the substring
    * ⋈ vocab matches; the walk itself is a per-word `aggregate` fold
    * over the collected jump list (pos += jump(pos), ≤ `lcap` steps —
    * ONE groupBy, the unigram array-aggregate discipline, no
    * shuffle per position). Corpus-sized work = the token explode and
    * the final (doc, word) ⋈ (word, n_pieces) join, broadcast while
    * the panel is small, key-partitioned at 100 TB.
    */
  def wordpieceEncode(df: DataFrame, idCol: String, textCol: String,
                      rounds: Int, lcap: Int = 12): DataFrame = {
    val (words, sym) = wordpieceFit(df, textCol, rounds, lcap)
    val parts = sym
      .select(col("wf"), split(trim(col("sym")), "  ").as("t"))
      .select(col("wf"), posexplode(col("t")))
    // role-keyed vocab as a TWO-column relation (is-initial flag,
    // piece) — never a "##" string prefix, which would collide with
    // tokens that themselves contain '#' (a word-initial substring
    // literally starting with "##" must not match a continuation
    // entry); char inventory in both roles (coverage), distinct keys
    // only — greedy match cares about membership, not frequency
    val chars = words
      .select(explode(regexp_extract_all(col("word"), lit("."), lit(0))).as("piece"))
      .distinct()
    val vocabKeys = parts
      .select((col("pos") === 0).as("init"), col("col").as("piece"))
      .unionByName(chars.select(lit(true).as("init"), col("piece")))
      .unionByName(chars.select(lit(false).as("init"), col("piece")))
      .distinct()
      .ckptPartitioned()
    // longest-match table: jump(word, s) = max l whose substring is in
    // the vocab UNDER ITS ROLE; char coverage makes jump >= 1 total
    val jumps = words
      .select(col("word"), col("wf"), length(col("word")).as("wl"),
        explode(sequence(lit(1), length(col("word")))).as("s"))
      .select(col("word"), col("wf"), col("wl"), col("s"),
        explode(sequence(lit(1), col("wl") - col("s") + 1)).as("l"))
      .withColumn("init", col("s") === 1)
      .withColumn("piece", col("word").substr(col("s"), col("l")))
      .join(broadcast(vocabKeys), Seq("init", "piece"))
      .groupBy(col("word"), col("wf"), col("wl"), col("s"))
      .agg(max(col("l")).as("jump"))
    // greedy walk as ONE per-word fold: state (pos, cnt); each of the
    // <= lcap steps advances pos by jump(pos) while pos <= wl (CaseWhen
    // branches are lazy, so the filter+head lookup never evaluates
    // past the word end)
    val stType = "struct<pos:int,cnt:int>"
    val walked = jumps
      .groupBy(col("word"), col("wf"), col("wl"))
      .agg(collect_list(struct(col("s"), col("jump"))).as("js"))
      .withColumn("st", aggregate(
        sequence(lit(1), lit(lcap)),
        struct(lit(1).as("pos"), lit(0).as("cnt")).cast(stType),
        (st, _) => {
          val j = try_element_at(filter(col("js"),
            e => e.getField("s") === st.getField("pos")), lit(1))
          when(st.getField("pos") <= col("wl"),
            struct((st.getField("pos") + j.getField("jump")).as("pos"),
              (st.getField("cnt") + 1).as("cnt")).cast(stType))
            .otherwise(st)
        }))
      .select(col("word"), col("st").getField("cnt").as("n_pieces"))
    df.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), col("tok").substr(lit(1), lit(lcap)).as("word"))
      .join(walked, "word")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("n_pieces").cast("long")).as("n_symbols"))
  }
}
