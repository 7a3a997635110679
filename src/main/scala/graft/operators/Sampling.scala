package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus-sampling operators for training-data mixing.
  *
  * A training pipeline samples per stratum (language, source, quality band)
  * to hit a target mixture. Random sampling is not reproducible across
  * engines or reruns; both operators here key on `md5(cast(id as string))` —
  * a content-independent pseudo-random rank that any engine computes
  * identically, so the sample is a pure function of the ids (same property
  * the reference's snapshot diff relies on for stable reruns, and the same
  * md5-rank trick `Similarity.kmeansCentroids` uses for its training
  * sample).
  *
  * Scale design (100 TB):
  *  - [[stratifiedFixedK]] uses a typed bounded `Aggregator` (k smallest
  *    md5 keys per stratum): map-side partial aggregation means each map
  *    task contributes at most k rows per stratum to the shuffle, vs the
  *    window/`row_number` formulation which shuffles and sorts the ENTIRE
  *    stratum (unusable when one language holds half the corpus).
  *  - [[stratifiedByFraction]] is a pure per-row filter — no shuffle at
  *    all; it composes with any downstream plan and pushes past column
  *    pruning into the scan stage.
  *
  * Checkpoint lifecycle: the ranked-join entries return LAZY frames backed
  * by operator-internal `localCheckpoint` blocks taken through
  * [[Checkpoints.trackedEager]]; `Checkpoints.releaseTracked()` frees those
  * blocks irreversibly, so materialize every result you still need BEFORE
  * calling it (the one-action-window contract documented on
  * [[Checkpoints]]).
  */
object Sampling {

  /** Content-independent pseudo-random rank key: md5 over the id rendered
    * as a decimal string (portable across engines — see
    * [[Dedup]]'s hash-portability note). */
  def sampleKey(id: Column): Column = md5(id.cast("string"))

  /** Lowercase-hex threshold such that `md5 < threshold` keeps ≈`fraction`
    * of rows (16 hex chars = 64-bit resolution; lexicographic compare on
    * the 32-char md5 is a prefix compare, identical in any engine). */
  private[graft] def fractionThreshold(fraction: Double): String = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    val scaled = (BigDecimal(fraction) * BigDecimal(BigInt(1) << 64)).toBigInt
    val clamped = scaled.min((BigInt(1) << 64) - 1).max(BigInt(0))
    f"${clamped}%016x".takeRight(16)
  }

  /** Temperature-scaled mixture plan (the mC4/XLM-R data-recipe step):
    * per-stratum sampling weights ∝ (n_i/N)^alpha, renormalized, converted
    * to per-stratum Bernoulli fractions against a target sample size —
    * alpha=1 keeps natural proportions, alpha→0 flattens toward uniform
    * (upsampling tail languages/sources). Emits the PLAN (one row per
    * stratum: counts, shares, fraction) — apply it with
    * [[stratifiedByFraction]], which q55 gates. Fractions are capped at 1
    * (a stratum can't supply more rows than it has; the shortfall is the
    * standard recipe trade-off, reported here via the capped fraction).
    *
    * Shape at 100 TB: one map-side-combinable count aggregation over the
    * corpus; everything after operates on the stratum table (bounded like
    * a dim, window over a handful of rows). Outputs rounded to 6dp so the
    * libm pow of any engine reproduces them.
    */
  def mixturePlan(
      df: DataFrame,
      strataCol: String,
      alpha: Double,
      targetRows: Long): DataFrame = {
    require(alpha >= 0.0, "alpha must be >= 0")
    require(targetRows >= 0, "targetRows must be >= 0")
    val counts = df.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy() // the stratum table is dim-sized; a global window is fine
    val withShare = counts
      .withColumn("share", col("n_docs") / sum(col("n_docs")).over(w))
      .withColumn("tw", pow(col("share"), lit(alpha)))
      .withColumn("temp_share", col("tw") / sum(col("tw")).over(w))
    withShare.select(
      col(strataCol),
      col("n_docs"),
      round(col("share"), 6).as("raw_share"),
      round(col("temp_share"), 6).as("temp_share"),
      round(least(lit(1.0),
        lit(targetRows.toDouble) * col("temp_share") / col("n_docs")), 6)
        .as("sample_fraction"))
  }

  /** Deterministic train/val/test split assignment: each row lands in the
    * first split whose cumulative-probability threshold its md5 sample key
    * falls under. Zero shuffle (a scan-stage CASE over the key) and, more
    * importantly, LEAK-PROOF: membership is a pure function of the id, so
    * re-ingesting, growing, or re-partitioning the corpus never moves an
    * existing document across splits — the property that keeps eval sets
    * uncontaminated across pipeline reruns (random splits silently leak
    * train docs into test on every rerun). Fractions must sum to 1.
    */
  def hashSplit(df: DataFrame, idCol: String,
      splits: Seq[(String, Double)]): DataFrame =
    hashSplitByKey(df, col(idCol), splits)

  /** [[hashSplit]] generalized to an arbitrary key expression — the
    * mechanism behind [[clusterAwareSplit]] (key = the near-dup cluster
    * id) and any other "split by unit-of-leakage" policy (by URL host,
    * by conversation id, by source document of derived chunks). */
  def hashSplitByKey(df: DataFrame, keyExpr: Column,
      splits: Seq[(String, Double)]): DataFrame = {
    require(splits.nonEmpty, "need at least one split")
    require(splits.forall(_._2 >= 0.0), "split fractions must be >= 0")
    require(math.abs(splits.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    val cum = splits.map(_._2).scanLeft(0.0)(_ + _).tail
    val key = sampleKey(keyExpr)
    // build the when-chain inside-out so the FIRST split's condition is
    // outermost; the last split is the unconditional fallback
    val assign = splits.init.zip(cum.init).reverse
      .foldLeft(lit(splits.last._1): Column) { case (acc, ((name, _), c)) =>
        when(key < lit(fractionThreshold(c)), lit(name)).otherwise(acc)
      }
    df.withColumn("split", assign)
  }

  /** Near-dup-leak-proof train/val/test split: assign by the document's
    * NEAR-DUP CLUSTER id instead of its own id, so a cluster can never
    * straddle a split boundary. [[hashSplit]]'s per-document key silently
    * leaks evaluation data: with any split vector (p₁..pₖ) a near-dup
    * pair straddles with probability 1 − Σpᵢ² (~34% at 80/10/10) — the
    * model then trains on a near-copy of its test document and the eval
    * is contaminated without any text crossing splits verbatim. Keying on
    * the cluster representative (the connected-component label over the
    * near-dup pair graph; singletons are their own cluster, so their
    * assignment is IDENTICAL to [[hashSplit]]'s — the policies differ
    * only where leakage exists) makes straddling structurally impossible.
    *
    * Scale shape: one equi-join of the corpus against the (id, component)
    * relation (already produced by the dedup pipeline — this operator
    * adds no pair computation), then the same zero-shuffle scan-stage
    * when-chain as [[hashSplit]]. Split sizes drift from the nominal
    * fractions by cluster-size variance; the caller's datasheet (q137)
    * is where that drift gets reviewed.
    *
    * `clusters`: (clusterIdCol, compCol) — one row per document, as
    * [[Components.dedupClusters]] emits. */
  def clusterAwareSplit(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      clusterIdCol: String,
      compCol: String,
      splits: Seq[(String, Double)]): DataFrame = {
    val comp = clusters.select(col(clusterIdCol).as(idCol),
      col(compCol).as("__comp"))
    // LEFT join, not inner: a partial cluster relation must not silently
    // shrink the corpus (hashSplit assigns every row; so does this).
    // Unmatched docs fall back to component = own id — exactly the
    // singleton semantics dedupClusters documents for undeduped docs.
    val joined = df.join(comp, Seq(idCol), "left_outer")
      .withColumn("__comp", coalesce(col("__comp"), col(idCol)))
    hashSplitByKey(joined, col("__comp"), splits).drop("__comp")
  }

  /** Deterministic Bernoulli sample with a per-stratum rate: keeps rows
    * whose md5 sample key falls below the stratum's threshold. Zero-shuffle
    * (a scan-stage filter); rerun-stable; cross-engine reproducible.
    */
  def stratifiedByFraction(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double): DataFrame = {
    val threshold = fractions.foldLeft(
      lit(fractionThreshold(defaultFraction))) { case (acc, (stratum, f)) =>
      when(col(strataCol) === stratum, lit(fractionThreshold(f))).otherwise(acc)
    }
    df.filter(sampleKey(col(idCol)) < threshold)
  }

  /** Bounded buffer of the k smallest (md5 key, id) pairs — the sampling
    * analogue of `Similarity.TopKAggregator`. Buffer never exceeds k
    * entries, so partial aggregation bounds both memory and shuffle.
    *
    * The buffer is kept SORTED as an invariant, so `reduce` is a constant-
    * time reject for any candidate not beating the current max (the common
    * case once the buffer fills) and an O(k) insert otherwise — not a
    * re-sort per row — and `merge` is a linear merge stopped at k.
    */
  private class MinKAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        (String, String, Long), Seq[(String, Long)], Seq[(String, Long)]] {
    private val ord = Ordering[(String, Long)]
    override def zero: Seq[(String, Long)] = Seq.empty
    override def reduce(b: Seq[(String, Long)], a: (String, String, Long)): Seq[(String, Long)] = {
      val c = (a._2, a._3)
      if (b.length >= k && ord.lteq(b(k - 1), c)) b
      else {
        val i = b.indexWhere(ord.gt(_, c)) match { case -1 => b.length; case x => x }
        ((b.take(i) :+ c) ++ b.drop(i)).take(k)
      }
    }
    override def merge(a: Seq[(String, Long)], b: Seq[(String, Long)]): Seq[(String, Long)] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      var i = 0
      var j = 0
      while (out.length < k && (i < a.length || j < b.length)) {
        if (j >= b.length || (i < a.length && ord.lteq(a(i), b(j)))) {
          out += a(i); i += 1
        } else { out += b(j); j += 1 }
      }
      out.toSeq
    }
    override def finish(r: Seq[(String, Long)]): Seq[(String, Long)] = r
    override def bufferEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(String, Long)]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[(String, Long)]] =
      bufferEncoder
  }

  /** Deterministic fixed-size sample per stratum: the k rows with the
    * smallest (md5 key, id) per stratum, ranked 1..k in that order.
    * Equivalent to `row_number() OVER (PARTITION BY stratum ORDER BY
    * md5(id), id) <= k` but with a bounded shuffle (see object doc).
    * Output columns: strataCol, idCol, `sample_rank`.
    */
  def stratifiedFixedK(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "sample size must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val agg = new MinKAggregator(k)
    df.select(col(strataCol).cast("string"), sampleKey(col(idCol)),
        col(idCol).cast("long"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .agg(agg.toColumn.name("picked"))
      .flatMap { case (stratum, picked) =>
        picked.zipWithIndex.map { case ((_, id), i) => (stratum, id, i + 1) }
      }
      .toDF(strataCol, idCol, "sample_rank")
  }

  /** Efraimidis–Spirakis weighted sampling without replacement (the A-Res
    * scheme, Efraimidis & Spirakis 2006): every row draws a uniform
    * `u ∈ (0,1)` and takes key `u^(1/w)`; the k largest keys are the
    * sample, and inclusion probability is proportional to weight. This is
    * the mixture-weighting primitive that [[stratifiedFixedK]] (uniform
    * within stratum) cannot express — e.g. "sample documents proportional
    * to token count / quality score".
    *
    * Determinism + portability:
    *  - `u` comes from the first 13 hex chars of `md5(id)` — a 52-bit
    *    integer, mapped to `(2v+1)/2^53` (odd numerator: exact as a double,
    *    never 0 or 1, so the log below is always finite);
    *  - keys are RANKED as `ln(u)/w` (the log of `u^(1/w)`, same ordering,
    *    one transcendental instead of `pow`'s two) and ROUNDED to 9
    *    decimals with an id tiebreak — the q64 trick, so a 1-2 ulp
    *    `ln` disagreement between engines can never flip a rank.
    *
    * Scale shape: the key is a pure scan-stage expression; top-k is
    * orderBy+limit = TakeOrdered (bounded per-partition heap, no global
    * sort). Weights must be > 0 — non-positive-weight rows are excluded
    * (P ∝ w = 0), matching the ES definition.
    *
    * Output: idCol, `weight`, `es_key` (the rounded ranking key), `rank`.
    */
  def weightedSampleK(
      df: DataFrame,
      idCol: String,
      weight: Column,
      k: Int): DataFrame = {
    require(k >= 1, "sample size must be >= 1")
    val v = conv(substring(sampleKey(col(idCol)), 1, 13), 16, 10).cast("long")
    val u = (v * lit(2L) + lit(1L)).cast("double") / lit(9007199254740992.0) // 2^53
    val keyed = df
      .select(col(idCol), weight.cast("double").as("weight"))
      .filter(col("weight") > 0.0)
      .withColumn("es_key", round(log(u) / col("weight"), 9))
    val top = keyed.orderBy(col("es_key").desc, col(idCol).asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("es_key").desc, col(idCol).asc)
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("weight"), col("es_key"), col("rank"))
  }

  /** DSIR importance resampling (Xie et al. '23, "Data Selection for
    * Language Models via Importance Resampling"): score every raw document
    * by how much more likely its hashed n-gram features are under a
    * TARGET distribution than under the raw-corpus distribution, then draw
    * a Gumbel top-k — the published recipe for "select web data that
    * looks like the curated set", and the principled upgrade of the
    * quality-threshold filters (q21/q104): a ratio of two corpus-fitted
    * models, not a fixed heuristic.
    *
    *   logw(d) = Σ_b c_d(b) · ln( p̂_t(b) / p̂_r(b) ),
    *   p̂(b) = (c(b) + α) / (T + α·B)   (add-α smoothing, B buckets)
    *
    * selected by `key = logw + Gumbel(md5(id))` descending — Gumbel
    * noise from the [[weightedSampleK]] 52-bit md5 uniform
    * (`g = −ln(−ln u)`), so the draw is engine-portable and
    * replay-stable. logw is rounded to 4 dp after its bucket sum (per-term
    * ln ulps drift ~1e-13 at worst) and g to 4 dp before the addition, so
    * the sort key is the identical double in any engine; rank breaks ties
    * on the id.
    *
    * Features are word unigrams AND bigrams hashed to `nBuckets` via the
    * 6-hex md5 polynomial idiom — the (doc, bucket) aggregation is
    * map-side combinable and the two distribution relations are
    * B-bounded, so the stats ride into the scoring join as a broadcast;
    * the corpus is scanned once for stats (target rows are a subset of
    * the same scan) and once for scoring, both scan-stage until their
    * bounded aggs. TakeOrdered top-k — no global sort. */
  def dsirResample(
      df: DataFrame,
      idCol: String,
      textCol: String,
      isTarget: Column,
      k: Int,
      nBuckets: Int = 1024,
      alpha: Double = 0.5): DataFrame = {
    require(k >= 1 && nBuckets >= 2, "need k >= 1, nBuckets >= 2")
    val ts = TextAnalysis.tokens(lower(col(textCol)))
    val feats = df
      .select(col(idCol), isTarget.as("is_target"), ts.as("ts"))
      .select(col(idCol), col("is_target"),
        explode(concat(col("ts"),
          TextAnalysis.bigramStrings(col("ts")))).as("feat"))
      .select(col(idCol), col("is_target"),
        (conv(substring(md5(concat(lit("dsir:"), col("feat"))), 1, 6), 16, 10)
          .cast("long") % nBuckets).cast("int").as("bucket"))
    val perDoc = feats.groupBy(col(idCol), col("is_target"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val stats = perDoc.groupBy(col("bucket")).agg(
      sum(when(col("is_target"), col("c")).otherwise(lit(0L))).as("ct"),
      sum(when(col("is_target"), lit(0L)).otherwise(col("c"))).as("cr"))
    val totals = stats.agg(sum(col("ct")).as("tt"), sum(col("cr")).as("tr"))
    val rated = stats.crossJoin(broadcast(totals))
      .select(col("bucket"),
        log(((col("ct") + lit(alpha)) / (col("tt") + lit(alpha * nBuckets))) /
          ((col("cr") + lit(alpha)) / (col("tr") + lit(alpha * nBuckets))))
          .as("lr"))
    val scored = perDoc.filter(!col("is_target"))
      .join(broadcast(rated), Seq("bucket"))
      .groupBy(col(idCol))
      .agg(round(sum(col("c") * col("lr")), 4).as("logw"))
    val v = conv(substring(sampleKey(col(idCol)), 1, 13), 16, 10).cast("long")
    val u = (v * lit(2L) + lit(1L)).cast("double") / lit(9007199254740992.0)
    val keyed = scored.withColumn("key",
      col("logw") + round(-log(-log(u)), 4))
    val top = keyed.orderBy(col("key").desc, col(idCol).asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("key").desc, col(idCol).asc)
    top.withColumn("rank", row_number().over(w))
      .select(col(idCol), col("logw"), col("key"), col("rank"))
  }

  /** Deterministic per-epoch corpus shuffle for training runs: every
    * (epoch, doc) gets a content-independent pseudo-random order key
    * (`md5(epoch:id)`), a shard from the key's first hex digit (uniform
    * over 16 values → `nShards` must divide 16 for exact balance), and a
    * dense position within its (epoch, shard) in key order. Re-running any
    * epoch reproduces the identical order on any cluster — no RNG state,
    * no `rand()`.
    *
    * Scale shape: the shard assignment is a pure scan-stage expression;
    * the per-(epoch, shard) `row_number` sorts only one shard's keys per
    * reducer (the shuffle is keyed by (epoch, shard), so sort width is
    * corpus / (epochs × shards)) — never a global sort. A production
    * writer would emit one file per (epoch, shard) sorted by the same key;
    * the positions here are exactly that file order.
    */
  def epochShuffle(
      df: DataFrame,
      idCol: String,
      nEpochs: Int,
      nShards: Int): DataFrame = {
    require(nEpochs >= 1 && nShards >= 1 && 16 % nShards == 0,
      s"nShards must divide 16 for uniform hex-digit sharding, got $nShards")
    val spark = df.sparkSession
    import spark.implicits._
    val epochs = broadcast((0 until nEpochs).toDF("epoch"))
    val keyed = df.crossJoin(epochs)
      .withColumn("k", md5(concat_ws(":", col("epoch"), col(idCol))))
      .withColumn("shard",
        conv(substring(col("k"), 1, 1), 16, 10).cast("int") % nShards)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("epoch"), col("shard"))
      .orderBy(col("k"), col(idCol))
    keyed.select(col("epoch"), col(idCol), col("shard"),
      (row_number().over(w) - 1).as("pos"))
  }

  /** Curriculum phase assignment + deterministic within-phase order — the
    * sequence-length-warmup data-ordering step: documents are split into
    * `nPhases` complexity bands at exact DISCRETE corpus quantiles
    * (phase 1 = simplest), and each row gets a replay-stable md5 order
    * key, so a writer emitting (phase, ord)-sorted shards produces the
    * easy→hard training schedule.
    *
    * The quantile cuts come from a HISTOGRAM of the integral complexity
    * measure, not an interpolating percentile: cut k = smallest value
    * whose cumulative count reaches k/nPhases of the corpus. Two reasons:
    * (1) the cumulative window runs over the DOMAIN-bounded histogram
    * (one row per distinct value — thousands at most for token counts),
    * never the corpus, so the "global window" is a non-issue at any
    * scale; (2) everything is integer arithmetic plus one exact
    * int÷double division that both Spark and a SQL oracle evaluate
    * identically — an interpolated percentile lands within an ulp of an
    * integer exactly when neighbors straddle a band edge, and a strict
    * `<` there would flip between engines.
    *
    * Corpus cost: one groupBy(value) count (map-side combinable,
    * domain-sized output) and one scan-stage projection against the
    * broadcast cut array. Values equal to a cut fall to the LOWER phase;
    * a value spanning multiple targets absorbs the skipped phase
    * (standard disc-quantile behavior under heavy ties).
    *
    * Output: idCol, complexityCol, `phase` (1..nPhases), `ord`.
    */
  def curriculumOrder(
      df: DataFrame,
      idCol: String,
      complexityCol: String,
      nPhases: Int = 3,
      seed: String = "epoch0"): DataFrame = {
    require(nPhases >= 2, s"need at least 2 phases, got $nPhases")
    // r19 (guide §2.4 / VERDICT item 6): the cumulative count used to run
    // in ONE unpartitioned WindowExec (every histogram row through a
    // single task — domain-bounded for token counts, a funnel when the
    // complexity measure is continuous), and the corpus total in a
    // second Window.partitionBy(lit(1)) funnel. Now: range-partitioned
    // two-pass prefix sum (Windows.globalPrefixSum — v is unique per
    // histogram row, so ORDER BY v is total and the output is
    // bit-identical) and the total as a 1-row aggregate broadcast back.
    val hist = df.groupBy(col(complexityCol).as("v"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Checkpoints.trackedEager) // feeds prefix sum + total
    val cum = Windows.globalPrefixSum(hist, Seq(col("v")), col("cnt"), "cum")
      .crossJoin(broadcast(hist.agg(sum(col("cnt")).as("total"))))
      .select(col("v"), col("cum"), col("total"))
    val spark = df.sparkSession
    import spark.implicits._
    val targets = broadcast((1 until nPhases).toDF("k"))
    val cuts = cum.crossJoin(targets)
      .filter(col("cum") >= col("k") * col("total") / lit(nPhases.toDouble))
      .groupBy(col("k")).agg(min(col("v")).as("cut"))
      .agg(sort_array(collect_list(col("cut"))).as("cuts"))
    df.crossJoin(broadcast(cuts))
      .select(col(idCol), col(complexityCol),
        (size(filter(col("cuts"), c => c < col(complexityCol))) + 1)
          .as("phase"),
        md5(concat(lit(seed), lit(":"), col(idCol).cast("string")))
          .as("ord"))
  }

  /** Per-group token-budget selection: within each group, take documents
    * in priority order (priority desc, id asc — a total order) while the
    * running token total stays ≤ `budget`. The data-recipe step that
    * turns "mix 30B tokens of web + 5B of code" into a concrete document
    * set; the greedy prefix of the priority ordering.
    *
    * Semantically IDENTICAL to the one-window spec
    * `sum(tokens) OVER (PARTITION BY g ORDER BY priority DESC, id) ≤
    * budget` — which is exactly what the q130 oracle runs — but shaped
    * so no group is ever fully sorted. The priority domain [lo, hi] is
    * cut into `bins` buckets (the q112/q119 histogram pattern):
    *
    *  1. one corpus pass aggregates (group, bin) token sums — map-side
    *     combinable, ≤ groups×bins rows;
    *  2. a window over that BOUNDED relation computes each bin's
    *     cumulative predecessor total, classifying it WHOLE (fits
    *     entirely), BOUNDARY (straddles the budget), or DROPPED;
    *  3. whole-bin documents pass through with NO sort; only the single
    *     boundary bin per group is window-sorted (width = one bin, tune
    *     `bins` up to shrink it) for the exact intra-bin prefix.
    *
    * The decomposition is exact, not approximate: the bin map is
    * monotone in priority, so bins-desc-then-intra-bin order IS the
    * global priority order, and the boundary arithmetic is integer-exact
    * (token counts are longs). Binning float rounding can only move a
    * document between the no-sort and sorted PATHS, never change the
    * selected set. Returns (groupCol, idCol, priority, n_tokens).
    */
  def tokenBudgetSelect(df: DataFrame, groupCol: String, idCol: String,
      priority: Column, tokens: Column, budget: Long,
      lo: Double = 0.0, hi: Double = 1.0, bins: Int = 256): DataFrame = {
    require(budget >= 0)
    tokenBudgetCore(df, groupCol, idCol, priority, tokens,
      bi => bi.withColumn("__budget", lit(budget)), lo, hi, bins)
  }

  /** Per-group budget variant — the shape of a real data recipe ("30B
    * tokens of web + 5B of code"): `budgets` is a dim-sized (groupCol,
    * budget) relation, broadcast into the bin classification. Groups
    * absent from `budgets` are dropped (inner-join semantics — no budget
    * means no allocation). Selection within each group is identical to
    * [[tokenBudgetSelect]] at that group's budget.
    */
  def tokenBudgetSelectPerGroup(df: DataFrame, groupCol: String,
      idCol: String, priority: Column, tokens: Column, budgets: DataFrame,
      lo: Double = 0.0, hi: Double = 1.0, bins: Int = 256): DataFrame =
    tokenBudgetCore(df, groupCol, idCol, priority, tokens,
      bi => bi.join(broadcast(budgets.select(col(groupCol),
        col("budget").cast("long").as("__budget"))), Seq(groupCol)),
      lo, hi, bins)

  private def tokenBudgetCore(df: DataFrame, groupCol: String, idCol: String,
      priority: Column, tokens: Column,
      withBudget: DataFrame => DataFrame,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins >= 2 && hi > lo)
    val base = df.select(col(groupCol), col(idCol), priority.as("priority"),
        tokens.cast("long").as("n_tokens"))
      .withColumn("__bin", least(lit(bins - 1), greatest(lit(0),
        floor((col("priority") - lit(lo)) / lit(hi - lo) * lit(bins))))
        .cast("int"))
    val binAgg = base.groupBy(col(groupCol), col("__bin"))
      .agg(sum(col("n_tokens")).as("__btok"))
    val wBins = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__bin").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val binInfo = withBudget(binAgg.withColumn("__cumBefore",
      coalesce(sum(col("__btok")).over(wBins), lit(0L))))
    val joined = base.join(broadcast(binInfo), Seq(groupCol, "__bin"))
    val out = Seq(groupCol, idCol, "priority", "n_tokens").map(col)
    val whole = joined
      .filter(col("__cumBefore") + col("__btok") <= col("__budget"))
      .select(out: _*)
    val wIn = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol), col("__bin"))
      .orderBy(col("priority").desc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val boundary = joined
      .filter(col("__cumBefore") <= col("__budget") &&
        col("__cumBefore") + col("__btok") > col("__budget"))
      .withColumn("__cumIn", sum(col("n_tokens")).over(wIn))
      .filter(col("__cumBefore") + col("__cumIn") <= col("__budget"))
      .select(out: _*)
    whole.unionByName(boundary)
  }

  /** Horvitz–Thompson corpus estimation from a per-stratum hash sample —
    * the "know the corpus before you pay for the full pass" operator: a
    * 100 TB pipeline prices a filtering/tokenization run from a 0.1 %
    * sample, and HT weighting (each sampled row counts 1/rate) makes the
    * per-stratum totals unbiased even when strata are sampled at
    * different rates (tail languages oversampled, the q90 recipe shape).
    *
    * Estimates ride the SAME deterministic md5-threshold sample as
    * [[stratifiedByFraction]] (q52/q55's gate): rerun-stable, scan-stage,
    * zero shuffle before the stratum-sized aggregate. The exact side is
    * joined on ONLY to exhibit the estimator error (q115's design — a
    * production run computes the sample side alone).
    *
    * Determinism contract: rates must be DYADIC (0.5, 0.25, 0.125 ...) so
    * every HT weight 1/rate is an exact power of two — the weighted sums
    * are then exact integer arithmetic in disguise, order-independent
    * with no snapping needed. (Arbitrary rates would reintroduce the
    * sum-order drift that QualityFilter's floor-snap firewall exists
    * for.) Strata with an empty sample estimate 0 — visible next to
    * their nonzero exact column, which is the honest answer a sample
    * gives.
    *
    * `values`: (name, LONG-valued column) pairs; each emits
    * `est_<name>` (= Σ value/rate over the sample) and `exact_<name>`.
    */
  def htEstimate(
      df: DataFrame,
      strataCol: String,
      idCol: String,
      values: Seq[(String, Column)],
      fractions: Map[String, Double],
      defaultFraction: Double): DataFrame = {
    // f <= 1 here too: 2.0/4.0 have zero mantissa but are not sampling
    // rates — reject them at THIS boundary with the HT contract named,
    // not later inside stratifiedByFraction's generic fraction check
    def dyadic(f: Double) = f > 0 && f <= 1 && {
      val b = java.lang.Double.doubleToLongBits(f)
      (b & ((1L << 52) - 1)) == 0L // power of two: zero mantissa
    }
    require((fractions.values.toSeq :+ defaultFraction).forall(dyadic),
      "htEstimate rates must be powers of two in (0, 1] — see the " +
        "determinism contract")
    val rate = fractions.foldLeft(lit(defaultFraction)) {
      case (acc, (stratum, f)) =>
        when(col(strataCol) === stratum, lit(f)).otherwise(acc)
    }
    val sampled = stratifiedByFraction(df, strataCol, idCol, fractions,
      defaultFraction).withColumn("__rate", rate)
    val est = sampled.groupBy(col(strataCol))
      .agg(count(lit(1)).as("n_sampled"),
        sum(lit(1.0) / col("__rate")).as("est_docs") +:
        values.map { case (n, c) =>
          sum(c.cast("long").cast("double") / col("__rate")).as(s"est_$n")
        }: _*)
    val exactAggs = count(lit(1)).as("exact_docs") +:
      values.map { case (n, c) => sum(c.cast("long")).as(s"exact_$n") }
    val exact = df.groupBy(col(strataCol))
      .agg(exactAggs.head, exactAggs.tail: _*)
    exact.join(est, Seq(strataCol), "left")
      .select(col(strataCol) +: coalesce(col("n_sampled"), lit(0L)).as("n_sampled") +:
        coalesce(col("est_docs"), lit(0.0)).as("est_docs") +: col("exact_docs") +:
        values.flatMap { case (n, _) =>
          Seq(coalesce(col(s"est_$n"), lit(0.0)).as(s"est_$n"), col(s"exact_$n"))
        }: _*)
  }

  /** Approximate quantiles from a deterministic k-min-hash sample — the
    * UNBOUNDED-RANGE member of the quantile family: q43's exact
    * percentile buffers every group value (OOM at scale), q119's
    * histogram needs the value range up front; this needs neither. The
    * md5-52-bit key of `idCol` is a uniform [0, 2^52) draw, so "the rows
    * whose key is among the k smallest" IS a uniform k-row sample of the
    * corpus — selected by ONE bounded [[graft.functions.KMinValues]]
    * aggregate (the kth-smallest key is the inclusion threshold, a 1-row
    * broadcast) and one scan-stage filter. Rank error is the standard
    * sampling bound O(n·√(p(1−p)/k)) w.h.p.; k ≥ n degrades to the exact
    * positional quantile (spec-pinned).
    *
    * Deterministic end to end (no rand(), no TreeMap percentile state):
    * the sample is a pure function of the id set, the read-off rank is
    * ⌊p·(m−1)⌋+1 over the (value, id)-sorted sample — every step an
    * engine-portable integer/md5 rule the DuckDB oracle replays exactly.
    *
    * Shape at 100 TB: one corpus scan into a k-long aggregate (map-side
    * combinable, ≤ k longs per partition cross the exchange), one
    * re-scan filtered to ≤ k + collision rows, then all work is
    * sample-sized: the single-partition sort window is bounded by k
    * (CONFIG, not data — the kmvOverlap precedent). Two scans total;
    * nothing data-sized reaches the driver.
    *
    * Output: one row per requested probability —
    * (p, q, n_sample, n_total). */
  def sampledQuantiles(
      df: DataFrame,
      idCol: String,
      valueCol: Column,
      probs: Seq[Double],
      k: Int = 4096): DataFrame = {
    require(k >= 64, "k below 64 estimates nothing")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probs must lie in [0, 1]")
    val hv = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val hashed = df.select(col(idCol).as("__id"), valueCol.as("__x"),
      hv.as("__hv"))
    // kth-smallest distinct key = inclusion threshold; n_total rides the
    // same single-pass aggregate
    val thr = hashed.agg(
      try_element_at( // total: an empty corpus yields a null threshold
        graft.functions.GraftFunctions.kmin_values(col("__hv"), k),
        lit(-1)).as("__thr"),
      count(lit(1)).as("n_total"))
    val sample = hashed.join(broadcast(thr), col("__hv") <= col("__thr"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("__x"), col("__id"))
    val ranked = sample
      .select(col("__x"), col("__id"), col("n_total"),
        row_number().over(w).as("__r"))
      // sample-sized; read twice below AND by the returned join —
      // tracked for session-level release (Checkpoints lifecycle)
      .transform(Checkpoints.trackedEager)
    val m = ranked.agg(max(col("__r")).as("m"))
    import df.sparkSession.implicits._
    val ps = probs.toDF("p")
    ps.crossJoin(broadcast(m))
      .select(col("p"), col("m"),
        (floor(col("p") * (col("m") - 1)) + 1).cast("int").as("__tr"))
      .join(ranked, col("__tr") === col("__r"))
      .select(col("p"), col("__x").as("q"), col("m").as("n_sample"),
        col("n_total"))
  }

  /** [[sampledQuantiles]] per group — the per-language / per-source
    * length-distribution read the datasheet lanes want, with the same
    * guarantees: one bounded `kmin_values` aggregate PER GROUP picks each
    * group's inclusion threshold (k longs of state per group, map-side
    * combinable), the per-group sample is ≤ k rows, and the rank window
    * sorts one group's sample at a time. The threshold relation is one
    * row per group — broadcast on the assumption that group cardinality
    * is config-small (languages, sources), the same contract as every
    * groupBy-lang lane here.
    *
    * Output: (groupCol, p, q, n_sample, n_total) — n_sample = min(k+ties,
    * group size), exact positional quantiles whenever a group is smaller
    * than k. */
  def sampledQuantilesByGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: Column,
      probs: Seq[Double],
      k: Int = 4096): DataFrame = {
    require(k >= 16, "k below 16 estimates nothing")
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probs must lie in [0, 1]")
    val hv = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val hashed = df.select(col(groupCol), col(idCol).as("__id"),
      valueCol.as("__x"), hv.as("__hv"))
    val thr = hashed.groupBy(col(groupCol)).agg(
      try_element_at(graft.functions.GraftFunctions.kmin_values(col("__hv"), k),
        lit(-1)).as("__thr"),
      count(lit(1)).as("n_total"))
    val sample = hashed.join(broadcast(thr), Seq(groupCol))
      .filter(col("__hv") <= col("__thr"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__x"), col("__id"))
    val ranked = sample
      .select(col(groupCol), col("__x"), col("__id"), col("n_total"),
        row_number().over(w).as("__r"))
      // sample-sized; read twice below AND by the returned join —
      // tracked for session-level release (Checkpoints lifecycle)
      .transform(Checkpoints.trackedEager)
    val m = ranked.groupBy(col(groupCol)).agg(max(col("__r")).as("m"))
    import df.sparkSession.implicits._
    val ps = probs.toDF("p")
    ps.crossJoin(broadcast(m))
      .select(col(groupCol), col("p"), col("m"),
        (floor(col("p") * (col("m") - 1)) + 1).cast("int").as("__tr"))
      .join(ranked, Seq(groupCol))
      .filter(col("__tr") === col("__r"))
      .select(col(groupCol), col("p"), col("__x").as("q"),
        col("m").as("n_sample"), col("n_total"))
  }

  /** ONE-PASS per-group uniform reservoir: the k-min-hash sample built by
    * the [[graft.functions.KMinPairs]] aggregate instead of
    * [[sampledQuantilesByGroup]]'s threshold-then-rescan — (group, rsv,
    * n_total) where `rsv` is array<struct<h,v>> ascending by the 52-bit
    * md5 id key. Both components are mergeable aggregates, which is the
    * point: the SAME expression runs as a streaming COMPLETE-mode
    * aggregation with state bounded by groups×k — a corpus-length stream
    * maintains a live quantile/sample sketch per group (the q136
    * mergeable-sketch lesson applied to sampling). */
  def reservoirByGroup(
      df: DataFrame,
      groupCol: String,
      idCol: String,
      valueCol: Column,
      k: Int): DataFrame = {
    require(k >= 16, "k below 16 estimates nothing")
    val hv = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    df.select(col(groupCol), hv.as("__h"), valueCol.cast("long").as("__v"))
      .groupBy(col(groupCol))
      .agg(graft.functions.GraftFunctions
          .kmin_pairs(col("__h"), col("__v"), k).as("rsv"),
        count(lit(1)).as("n_total"))
  }

  /** Positional quantile read-off over a [[reservoirByGroup]] relation —
    * [[sampledQuantilesByGroup]]'s ⌊p·(m−1)⌋+1 rule with the hash key as
    * the tie-breaker (the reservoir carries (h, v), not ids). All work is
    * reservoir-sized. Output: (group, p, q, n_sample, n_total). */
  def quantilesFromReservoir(
      rsv: DataFrame,
      groupCol: String,
      probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0),
      "probs must lie in [0, 1]")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(col("__v"), col("__h"))
    val ranked = rsv
      .select(col(groupCol), col("n_total"), explode(col("rsv")).as("p_"))
      .select(col(groupCol), col("n_total"),
        col("p_.h").as("__h"), col("p_.v").as("__v"))
      .withColumn("__r", row_number().over(w))
      // reservoir-sized; feeds m AND the returned join — tracked for
      // session-level release (Checkpoints lifecycle)
      .transform(Checkpoints.trackedEager)
    val m = ranked.groupBy(col(groupCol)).agg(max(col("__r")).as("m"))
    import rsv.sparkSession.implicits._
    val ps = probs.toDF("p")
    ps.crossJoin(broadcast(m))
      .select(col(groupCol), col("p"), col("m"),
        (floor(col("p") * (col("m") - 1)) + 1).cast("int").as("__tr"))
      .join(ranked, Seq(groupCol))
      .filter(col("__tr") === col("__r"))
      .select(col(groupCol), col("p"), col("__v").as("q"),
        col("m").as("n_sample"), col("n_total"))
  }

  /** Merge [[reservoirByGroup]] sketches built at a FINE grouping up to a
    * coarser one — the quantile twin of the HLL register rollup: the k
    * smallest hashes of a union are always contained in the union of the
    * per-part k-minima (any union-wide top-k hash has < k smaller hashes
    * even within its own part), so re-running the k-min aggregate over
    * the exploded fine sketches reproduces the direct coarse sketch
    * EXACTLY — same sample, same quantiles, no second corpus scan.
    * Input shape = [[reservoirByGroup]] output; output shape likewise,
    * so [[quantilesFromReservoir]] composes unchanged. Everything here
    * is sketch-sized (fine groups × k rows). */
  def reservoirRollup(
      fine: DataFrame,
      coarseExpr: Column,
      coarseName: String,
      k: Int): DataFrame = {
    require(k >= 16, "k below 16 estimates nothing")
    val totals = fine.groupBy(coarseExpr.as(coarseName))
      .agg(sum(col("n_total")).as("n_total"))
    val merged = fine
      .select(coarseExpr.as(coarseName), explode(col("rsv")).as("p_"))
      .groupBy(col(coarseName))
      .agg(graft.functions.GraftFunctions
        .kmin_pairs(col("p_.h"), col("p_.v"), k).as("rsv"))
    merged.join(totals, Seq(coarseName))
  }

  /** x^(num/den) for dyadic exponents as a FIXED chain of IEEE-correctly-
    * rounded ops — `sqrt` is exactly rounded by IEEE-754 (unlike `pow`,
    * whose last-ulp behavior differs across libms), so the chain below is
    * bit-identical in any engine that replays it op for op:
    * 1/1 → x; 1/2 → sqrt(x); 1/4 → sqrt(sqrt(x));
    * 3/4 → sqrt(x)·sqrt(sqrt(x)).
    * The composed chains are the operator's CONTRACT (deterministic),
    * not a claim of correctly-rounded x^0.75. */
  private[operators] def dyadicPow(x: Column, num: Int, den: Int): Column =
    (num, den) match {
      case (1, 1) => x
      case (1, 2) => sqrt(x)
      case (1, 4) => sqrt(sqrt(x))
      case (3, 4) => sqrt(x) * sqrt(sqrt(x))
      case _ => throw new IllegalArgumentException(
        s"dyadic exponent $num/$den not in {1/1, 1/2, 1/4, 3/4}")
    }

  /** Temperature-scaled mixture weights over a bounded group column —
    * the multilingual/source balancing rule (XLM-R / mT5, public):
    * sampling share_i ∝ p_i^α with α = 1/T < 1 up-weights tail groups a
    * raw-proportion mixture starves. α is restricted to dyadic values
    * ([[dyadicPow]]) so the share chain is bit-replayable — `pow` with
    * an arbitrary exponent is not cross-engine stable, and this operator
    * feeds gates that hash-compare.
    *
    * Determinism: p_i = n_i/N over exact longs; Σ w_j is a FIXED-ORDER
    * fold over the group-sorted weight list (a group-by double sum has
    * engine-dependent order), which is fine precisely because the group
    * relation is bounded (languages/sources — the q150 contract).
    *
    * Output: groupCol, n_docs, p (6dp), share (6dp), boost (4dp) — boost
    * = share/p, the effective up/down-sampling factor (epochs per epoch)
    * the trainer applies to that group's data. */
  def temperatureMixture(
      df: DataFrame,
      groupCol: String,
      alphaNum: Int = 1,
      alphaDen: Int = 2): DataFrame = {
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
    val tot = counts.agg(sum(col("n_docs")).as("n_total"))
    val scored = counts.crossJoin(broadcast(tot))
      .select(col(groupCol), col("n_docs"),
        (col("n_docs").cast("double") / col("n_total").cast("double"))
          .as("p"))
      .withColumn("w", dyadicPow(col("p"), alphaNum, alphaDen))
    val totalW = scored
      .agg(aggregate(
        transform(
          sort_array(collect_list(struct(col(groupCol), col("w")))),
          s => s.getField("w")),
        lit(0.0), (acc, x) => acc + x).as("tw"))
    scored.crossJoin(broadcast(totalW))
      .select(col(groupCol), col("n_docs"),
        round(col("p"), 6).as("p"),
        round(col("w") / col("tw"), 6).as("share"),
        round(col("w") / col("tw") / col("p"), 4).as("boost"))
  }
}
