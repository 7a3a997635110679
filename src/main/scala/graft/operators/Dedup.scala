package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection.
  *
  * Hash portability: every hash here is derived from `md5` hex strings
  * (lowercase in every engine) rather than engine-native hash functions, so
  * results are reproducible across engines (and verifiable against a SQL
  * oracle). MinHash uses *lexicographic min over md5 strings* — a uniform
  * random permutation of the shingle space per seed, which is exactly the
  * MinHash construction (Broder '97). The per-document kernels
  * `minhash_sig` and `shingle_hashes` (`graft.functions`) compute the same
  * md5 and xxhash64 values the composed SQL forms (`min(md5(concat(
  * "<seed>:", shingle)))`, `xxhash64(shingle)` over [[shingleRows]]) give —
  * one narrow expression per row instead of one row per shingle — so the
  * oracle SQL stays the composed form.
  *
  * Scale design (100 TB):
  *  - exact dedup = one hash-shuffle on the fingerprint; map-side partial
  *    aggregation halves the shuffle volume.
  *  - shingle self-joins shuffle on the shingle/band key. Hot shingles cause
  *    join skew → `maxShingleDocFreq` drops stop-shingles (standard trick);
  *    AQE skew-join splitting is the backstop.
  *  - nothing collects to the driver; every stage is a Dataset transform.
  *
  * Checkpoint lifecycle: the pair/band generators here return LAZY frames
  * backed by operator-internal `localCheckpoint` blocks taken through
  * [[Checkpoints.trackedEager]]. `Checkpoints.releaseTracked()` frees those
  * blocks irreversibly (lineage is truncated) — after it runs, a
  * previously returned frame cannot be re-executed (a second action fails
  * with block-not-found). One-action-window contract: materialize every
  * result you still need (or `.localCheckpoint()` it yourself) BEFORE
  * calling `releaseTracked()` between logical queries.
  */
object Dedup {

  /** Exact duplicate groups keyed by normalized-text fingerprint: keeps the
    * min id per group (deterministic winner) plus the group size.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** The deduplicated corpus: one row per distinct normalized text (the row
    * with the smallest id wins).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = exactGroups(df, idCol, textCol).select(col("keep_id").as(idCol))
    df.join(keep, idCol)
  }

  /** Soft dedup: keep every row but weight it by 1/n_copies of its exact-
    * duplicate group, so each distinct text carries total weight 1 into
    * downstream sampling / loss weighting. The "don't drop, downweight"
    * alternative to [[exact]] — repeated boilerplate stops dominating the
    * training mix without discarding the (possibly differently-sourced)
    * duplicate rows themselves.
    *
    * Shape at 100 TB: a single hash-shuffle on the fingerprint (an
    * unbounded-frame window count — no sort-order dependence, no join
    * back, no second corpus pass). The weight is an exactly-rounded IEEE
    * division of two small integers-as-doubles, so it is bit-identical
    * across engines.
    */
  def duplicateWeights(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(TextAnalysis.fingerprint(col(textCol)))
    df.select(col(idCol), count(lit(1)).over(w).as("n_copies"),
      (lit(1.0) / count(lit(1)).over(w)).as("weight"))
  }

  /** Incremental exact dedup: clean a NEW delta shard (today's crawl)
    * against an existing corpus INDEX of fingerprints, plus within-delta
    * dedup — the production shape where the historical corpus must never
    * be re-deduplicated per ingest. Returns the delta rows that are
    * first-of-fingerprint within the delta AND absent from the index.
    *
    * Shape at 100 TB: the INDEX is the big side and is never shuffled —
    * a bloom sketch of the (small) delta's fingerprints is probed in the
    * index scan (the q79 runtime-filter pattern, roles reversed), and only
    * the colliding index fingerprints — bounded by |delta| + false
    * positives — are broadcast back for the exact anti join. Result is
    * EXACT: the sketch only decides how much of the index the exact check
    * sees. Within-delta dedup is the usual one fingerprint hash-shuffle.
    */
  def incrementalExact(
      delta: DataFrame,
      indexFps: DataFrame,
      idCol: String,
      textCol: String,
      estimatedDeltaFps: Long = 0L,
      numBits: Long = 0L): DataFrame = {
    import graft.functions.GraftFunctions.{bloom_agg, bloom_might_contain}
    // within-delta winners (min id per fingerprint); materialized because
    // it feeds two consumers (the sketch action and the returned frame) —
    // the sig-relation reuse rule from minhashLshPairs. Size the bloom to
    // the shard: an undersized sketch saturates, its false-positive rate
    // climbs toward 1, and `hits` grows toward the whole index. Defaults
    // (<= 0) derive the size from a count of the checkpointed delta
    // (cheap — it is already materialized) instead of trusting a fixed
    // guess; an explicit estimate skips the count job.
    val fresh = exact(delta, idCol, textCol)
      .withColumn("__fp", TextAnalysis.fingerprint(col(textCol)))
      .transform(Checkpoints.trackedEager)
    val nDelta =
      if (estimatedDeltaFps > 0L) estimatedDeltaFps else fresh.count()
    val sketch = graft.functions.GraftFunctions.sizedBloomSketch(
      fresh, xxhash64(col("__fp")), nDelta, numBits, "incrementalExact")
      match {
        case None => return fresh.drop("__fp") // empty delta
        case Some(s) => s
      }
    // index scan filtered by the delta bloom — only the sliver that might
    // collide leaves the scan; exact confirm via broadcast anti join
    val hits = indexFps
      .filter(bloom_might_contain(lit(sketch), xxhash64(col("fp"))))
      .select(col("fp").as("__fp")).distinct()
    fresh.join(broadcast(hits), Seq("__fp"), "left_anti").drop("__fp")
  }

  /** Word n-gram shingles of `text` as an array column; documents shorter
    * than `n` tokens contribute their whole token sequence as one shingle.
    *
    * NOTE: this array form uses a higher-order `transform`, which Spark
    * evaluates interpreted (no codegen) — fine for ad-hoc use. The operator
    * pipelines below go through [[shingleRows]], which emits the identical
    * multiset through codegen'd expressions ~12× faster, or, where only a
    * hash of each shingle is needed, through the `minhash_sig` and
    * `shingle_hashes` kernels, which compute the same md5/xxhash64 values
    * per document without building the shingle strings.
    */
  def shingles(text: Column, n: Int): Column = {
    val t = TextAnalysis.tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", slice(t, i, lit(n)))))
      .otherwise(array(concat_ws(" ", t)))
  }

  /** One row per (id, shingle) occurrence — the same multiset
    * `explode(shingles(text, n))` yields, built without higher-order
    * functions: `arrays_zip` over n shifted `slice`s of the token array
    * gives each n-token window as a struct, all codegen'd and narrow (no
    * shuffle, no interpreted lambda — measured 12× faster than the
    * `transform` form). Docs shorter than n tokens produce zero full
    * windows from the zip (their last zip field is null) and are unioned
    * back as one whole-sequence shingle, matching [[shingles]].
    */
  private[graft] def shingleRows(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, "shingle width must be >= 1")
    val t = TextAnalysis.tokens(col(textCol))
    val parts = (0 until n).map { i =>
      (if (i == 0) t else slice(t, lit(i + 1), size(t))).as(s"w$i")
    }
    val full = df.select(col(idCol), explode(arrays_zip(parts: _*)).as("s"))
      .filter(col(s"s.w${n - 1}").isNotNull)
      .select(col(idCol),
        concat_ws(" ", (0 until n).map(i => col(s"s.w$i")): _*).as("shingle"))
    val short = df.select(col(idCol), t.as("t"))
      .filter(size(col("t")) < n)
      .select(col(idCol), concat_ws(" ", col("t")).as("shingle"))
    full.union(short)
  }

  /** One row per distinct (id, shingle). The base relation for Jaccard and
    * MinHash. `maxShingleDocFreq` (0 = off) drops shingles occurring in more
    * than that many documents — skew control at corpus scale.
    */
  def shingleSet(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long = 0L): DataFrame = {
    // document frequency, not occurrence count: dedup (id, shingle) first
    // so the count is df and — unlike countDistinct over the multiset —
    // both the dedup and the count get map-side partial aggregation
    val base = shingleRows(df, idCol, textCol, n).distinct()
    withoutHotShingles(base, base, maxShingleDocFreq)
  }

  /** (shingle, df_) document frequencies of a distinct posting relation. */
  private def shingleDocFreq(sh: DataFrame): DataFrame =
    sh.groupBy(col("shingle")).agg(count(lit(1)).as("df_"))

  /** `rows` minus every shingle whose df over the distinct `postings`
    * exceeds `maxShingleDocFreq` (≤ 0 = no cap). */
  private def withoutHotShingles(
      rows: DataFrame,
      postings: DataFrame,
      maxShingleDocFreq: Long): DataFrame =
    if (maxShingleDocFreq <= 0) rows
    else rows.join(
      shingleDocFreq(postings).filter(col("df_") > maxShingleDocFreq)
        .select("shingle"),
      Seq("shingle"), "left_anti")

  /** All pairs (a < b) with shingle-set Jaccard >= `threshold`:
    * intersection counts from the shingle postings, then
    * |A intersect B| / (|A|+|B|-|A intersect B|).
    *
    * Scale notes: shingles are 64-bit-hashed before any shuffle (strings
    * never cross the wire) and `maxShingleDocFreq` bounds the k-squared
    * pair blowup on hot shingles. The counts come from
    * [[shingleIntersections]]: grouped generator when capped, posting
    * self-join when not. A prefix-filtered
    * variant (rarest-k shingle candidate join + exact verify, Bayardo '07)
    * was measured here and LOST at every tested scale: the extra doc-freq
    * join, per-doc rank window, and verify join cost more than the
    * candidate pruning saves once hot shingles are already capped.
    *
    * The cap is a recall dial, not free: on a df-concentrated corpus the
    * whole distribution can drift over it and the join silently loses
    * pairs. Audit it with [[shingleCapReport]] (same scan, 1-row result)
    * — alert on `mass_dropped_frac` or any `n_docs_fully_dropped`.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Long = 0L): DataFrame = {
    val sh = cappedShingleHashes(df, idCol, textCol, n, maxShingleDocFreq)
    withPairSizes(
      shingleIntersections(sh, idCol, grouped = maxShingleDocFreq > 0),
      shingleSizes(sh, idCol), idCol)
      .withColumn("jaccard", jaccardOf)
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("sz_a"),
        col("sz_b"), col("jaccard"))
  }

  /** Exact Jaccard of a pair row carrying (n_inter, sz_a, sz_b). */
  private val jaccardOf: Column =
    col("n_inter").cast("double") /
      (col("sz_a") + col("sz_b") - col("n_inter")).cast("double")

  /** The blocked self-join every pair generator here shares: rows of
    * `keyed` that agree on every `key` column pair up, each unordered
    * pair once per shared key (`id_a < id_b`, so no self pairs and no
    * mirror rows). Returns `id_a`, `id_b` and each `payload` column as
    * `<name>_a` / `<name>_b`. A null key never pairs (inner equi-join).
    * A pair sharing k keys is emitted k times — callers whose relation
    * gives one id several keys (bands, probes, shingles) either count
    * that multiplicity or `.distinct()` it away. */
  private[graft] def blockedPairs(
      keyed: DataFrame,
      idCol: String,
      key: Seq[String],
      payload: Seq[String]): DataFrame = {
    def side(s: String): DataFrame = keyed.select(
      (col(idCol).as(s"id_$s") +: key.map(col)) ++
        payload.map(p => col(p).as(s"${p}_$s")): _*)
    side("a").join(side("b"), key)
      .filter(col("id_a") < col("id_b"))
      .select((Seq("id_a", "id_b") ++
        payload.flatMap(p => Seq(s"${p}_a", s"${p}_b"))).map(col): _*)
  }

  /** (id_a < id_b, n_inter) shared-shingle counts of a posting relation
    * (idCol, shingle). r18: df-capped postings (`grouped`) take
    * [[pairIntersectionsGrouped]] — one exchange + one hash aggregation,
    * no merge-join sorts; uncapped postings keep the inverted-index
    * self-join, whose k² stream never builds a per-group array an
    * uncapped hot shingle could blow up (there AQE's ReusedExchange
    * shares the posting subtree across the join sides). */
  private[graft] def shingleIntersections(
      sh: DataFrame,
      idCol: String,
      grouped: Boolean): DataFrame =
    if (grouped) pairIntersectionsGrouped(sh, idCol)
    else blockedPairs(sh, idCol, Seq("shingle"), Nil)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** (id_a, id_b, n_inter) of candidate pairs that do not count shared
    * shingles themselves (LSH bands, the prefix filter), re-derived from
    * both sides' postings; pairs sharing nothing are absent. */
  private def candidateIntersections(
      cand: DataFrame,
      sh: DataFrame,
      idCol: String): DataFrame =
    cand
      .join(sh.select(col(idCol).as("id_a"), col("shingle")), "id_a")
      .join(sh.select(col(idCol).as("id_b"), col("shingle")),
        Seq("id_b", "shingle"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** Per-doc shingle-set size `(idCol, sz)` of a posting relation. */
  private[graft] def shingleSizes(sh: DataFrame, idCol: String): DataFrame =
    sh.groupBy(col(idCol)).agg(count(lit(1)).as("sz"))

  /** `pairs` with each side's set size joined on as `sz_a` / `sz_b`. */
  private def withPairSizes(
      pairs: DataFrame,
      sizes: DataFrame,
      idCol: String): DataFrame =
    pairs
      .join(sizes.select(col(idCol).as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("sz").as("sz_b")), "id_b")

  /** All pairs (a < b) whose shingle-set CONTAINMENT
    * `max(|A∩B|/|A|, |A∩B|/|B|)` meets `threshold` — Broder '97's second
    * measure, the asymmetric-duplication detector resemblance structurally
    * misses: a 50-shingle excerpt fully embedded in a 500-shingle digest
    * has Jaccard 0.1 (invisible below any usable resemblance threshold)
    * but containment 1.0. Catches quote-and-extend chains, syndicated
    * excerpts, and doc-inside-rollup duplication at document granularity,
    * complementing [[exciseRepeatedSpans]]' span-level cut.
    *
    * Identical inverted-index shape and cost to [[ngramJaccardPairs]]:
    * shingles are 64-bit-hashed before any exchange (strings never cross
    * the wire), and the (id_a, id_b, n_inter) counts come from the shared
    * [[shingleIntersections]]. Its two branches follow the cap: with
    * `maxShingleDocFreq > 0` the capped postings go through the grouped
    * generator ([[pairIntersectionsGrouped]] — one exchange + one hash
    * aggregation, group state bounded by the cap); uncapped postings keep
    * the posting self-join ([[blockedPairs]]), where AQE's ReusedExchange
    * shares the explode+distinct subtree across the join sides and the
    * pair count is map-side combinable on (id_a, id_b). Containment needs
    * no extra pass — both directed ratios derive from the same
    * (n_inter, sz_a, sz_b) triple the Jaccard plan already carries.
    *
    * Output: `id_a`, `id_b`, `n_inter`, `sz_a`, `sz_b`, `cont_a`
    * (= n_inter/sz_a), `cont_b` (both rounded 6dp). */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Long = 0L): DataFrame =
    containmentFromShingles(
      cappedShingleHashes(df, idCol, textCol, n, maxShingleDocFreq),
      idCol, threshold, grouped = maxShingleDocFreq > 0)

  /** (id_a < id_b, n_inter) intersection counts from a posting relation
    * (idCol, shingle), generating co-occurring pairs INSIDE each shingle
    * group instead of self-joining the posting list (r18, guide §2.4):
    * the join form shuffled the postings once but then SORTED both reads
    * of the reused exchange for the merge join before emitting the same
    * k² pair stream; here one hash aggregation keyed on the shingle
    * builds the doc list, and pair generation plus the map-side partial
    * count run in the same stage — one exchange + one agg replace
    * exchange + two sorts + merge join. Output-identical: every
    * unordered pair within a shingle appears exactly once (the a < b
    * filter over the full a×b enumeration), and the per-pair count is
    * the number of shared shingles either way.
    *
    * Group state is bounded by the caller's df cap (a collect_list of
    * ≤ cap ids — the same bound that already caps the k² pair blowup);
    * callers WITHOUT a cap must keep the join form, which streams its
    * k² rows instead of building a per-group array. */
  private[graft] def pairIntersectionsGrouped(
      sh: DataFrame,
      idCol: String): DataFrame =
    sh.groupBy(col("shingle"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_inter"))

  /** The capped 64-bit-hashed distinct (id, shingle) relation both
    * containment paths (and the dispatcher's df statistic) share:
    * shingles leave the scan as xxhash64 longs (strings never cross an
    * exchange), `maxShingleDocFreq` strips corpus-hot shingles. The
    * `shingle_hashes` kernel hashes each document's windows straight off
    * its token bytes — the same values as `xxhash64` over [[shingleRows]],
    * with no per-shingle string, zip or union branch. */
  private[graft] def cappedShingleHashes(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long): DataFrame = {
    val hashed = df.select(col(idCol),
        explode(graft.functions.GraftFunctions.shingle_hashes(
          TextAnalysis.tokens(col(textCol)), n)).as("shingle"))
      .distinct()
    withoutHotShingles(hashed, hashed, maxShingleDocFreq)
  }

  /** Exact inverted-index containment core over a prepared shingle
    * relation — see [[containmentPairs]] for the operator contract.
    * `grouped = true` (callers whose `sh` is df-capped) takes the grouped
    * branch of [[shingleIntersections]]. */
  private[graft] def containmentFromShingles(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      grouped: Boolean = false,
      sharedSizes: Option[DataFrame] = None,
      sharedInter: Option[DataFrame] = None): DataFrame =
    // callers running BOTH containment paths over one shingle relation
    // (q146's dispatch audit) pass the per-doc size aggregate — and the
    // (id_a, id_b, n_inter) intersection relation — in so each is
    // derived once, not once per path (r19, guide §1.2)
    containmentOf(
      sharedInter.getOrElse(shingleIntersections(sh, idCol, grouped)),
      sharedSizes.getOrElse(shingleSizes(sh, idCol)), idCol, threshold)

  /** The containment verify both containment paths end in: sizes
    * joined onto (id_a, id_b, n_inter), both directed ratios, the
    * `max ≥ threshold` filter, 6dp output. */
  private def containmentOf(
      inter: DataFrame,
      sizes: DataFrame,
      idCol: String,
      threshold: Double): DataFrame =
    withPairSizes(inter, sizes, idCol)
      .withColumn("cont_a", col("n_inter").cast("double") / col("sz_a").cast("double"))
      .withColumn("cont_b", col("n_inter").cast("double") / col("sz_b").cast("double"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"), col("sz_a"),
        col("sz_b"), round(col("cont_a"), 6).as("cont_a"),
        round(col("cont_b"), 6).as("cont_b"))

  /** [[containmentPairs]] on the PREFIX-FILTERED scale path (Bayardo '07;
    * Chaudhuri's SSJoin family) — the adversarial-density dial for
    * CONTAINMENT, where the q123 minhash-LSH candidate route is
    * structurally unavailable: band collision probability rides
    * RESEMBLANCE (J^r), and the asymmetric pairs this operator exists for
    * sit at J ≈ 0.1 where bands essentially never fire.
    *
    * Pigeonhole exactness: if max(cont) ≥ t then wlog |A∩B| ≥ ⌈t·|A|⌉,
    * so the intersection cannot avoid A's (|A| − ⌈t·|A|⌉ + 1) globally
    * RAREST shingles (rank by (df, shingle-hash) — a total order) — the
    * candidate join PREFIX(probe) ⋈ FULL(index) provably loses no
    * qualifying pair, and the q123-style exact verify on candidates only
    * restores [[containmentPairs]]' output bit-for-bit
    * (equality property-tested across random corpora and thresholds).
    *
    * Scale shape: on Zipf-shaped real corpora the prefix keeps only RARE
    * shingles (hot shingles rank last and fall out of every prefix), so
    * candidate volume collapses where the exact inverted index pays
    * Σ df² — the fixture's uniform 31-token vocabulary is the documented
    * worst case (every shingle equally hot; the prefix only saves the
    * (1−t) factor). The per-doc rarity rank sorts one document's
    * shingles at a time (window width = doc shingle count, never the
    * corpus). */
  def containmentPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Long = 0L): DataFrame =
    containmentPrefixFromShingles(
      // sh feeds five consumers (df rank, prefix, full probe, sizes,
      // verify) — checkpoint once instead of recomputing the scan 5×
      cappedShingleHashes(df, idCol, textCol, n, maxShingleDocFreq)
        .transform(Checkpoints.trackedEager),
      idCol, threshold)

  /** Prefix-filtered containment core over a prepared (already
    * checkpointed) shingle relation — see [[containmentPairsPrefix]]. */
  private[graft] def containmentPrefixFromShingles(
      sh: DataFrame,
      idCol: String,
      threshold: Double,
      sharedSizes: Option[DataFrame] = None,
      sharedInter: Option[DataFrame] = None): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    val sizes = sharedSizes.getOrElse(shingleSizes(sh, idCol))
    val dfreq = shingleDocFreq(sh)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df_"), col("shingle"))
    // the pigeonhole needs prefix ≥ sz − ⌈t·sz⌉ + 1, but FLOAT ceil can
    // overshoot the true ceiling by one when t·sz rounds a hair above an
    // integer (0.4·5 → 2.0000000000000004 → ceil 3), which would shrink
    // the prefix below the bound and silently drop exact-boundary pairs.
    // One extra row of slack makes the prefix a guaranteed superset at
    // the cost of at most one additional candidate shingle per doc.
    val prefix = sh.join(dfreq, Seq("shingle"))
      .withColumn("rnk", row_number().over(w))
      .join(sizes, Seq(idCol))
      .filter(col("rnk") <= col("sz") - ceil(col("sz") * lit(threshold)) + 2)
      .select(col(idCol), col("shingle"))
    val cand = prefix.select(col(idCol).as("id_p"), col("shingle"))
      .join(sh.select(col(idCol).as("id_f"), col("shingle")), Seq("shingle"))
      .filter(col("id_p") =!= col("id_f"))
      .select(least(col("id_p"), col("id_f")).as("id_a"),
        greatest(col("id_p"), col("id_f")).as("id_b"))
      .distinct()
    // r19 (guide §1.2/§2.4, measured): the verify used to RE-DERIVE each
    // candidate pair's intersection count by expanding cand against the
    // probe doc's full shingle list and matching the other side — at
    // sf0.1 a 536k-pair × ~52-shingle = 34M-row BroadcastHashJoin stream
    // into a 2.1-CPU-minute count aggregation (the lane's entire
    // anti-scaling cost; LaneProfile stage table + SQL-tab node rows in
    // OPTIMIZATION_r19.md). A caller that already holds the exact
    // (id_a, id_b, n_inter) relation (q146 computes it for the exact
    // path anyway) passes it in: every candidate pair shares at least
    // one shingle (it was generated from a prefix⋈full match), so the
    // inner join loses no pair and the counts are the same number by
    // definition — output bit-identical, 34M-row stream gone.
    // Standalone callers keep the re-derivation: on Zipf corpora the
    // full pair enumeration is the Σdf² blowup the prefix path exists
    // to avoid, so sharing only pays when the exact path runs anyway.
    val inter = sharedInter match {
      case Some(ia) => cand.join(ia, Seq("id_a", "id_b"))
      case None => candidateIntersections(cand, sh, idCol)
    }
    containmentOf(inter, sizes, idCol, threshold)
  }

  /** Shingle document-frequency CONCENTRATION of a prepared (id, shingle)
    * relation: `E[df²] / E[df]²`, the second-moment ratio over the
    * distinct-shingle df distribution. Exactly 1.0 when every shingle has
    * the same df (uniform/flat density); grows without bound as df mass
    * concentrates into a Zipf head. One map-side-combinable aggregate —
    * no sort, no quantile sketch — and fully deterministic (integer sums
    * until the final division), so the dispatch it feeds is replayable.
    *
    * This is the inverse-participation-ratio family of skew statistics;
    * it is also exactly 1 + CV² of the df distribution. */
  def shingleDfConcentration(sh: DataFrame): Double = {
    val r = shingleDocFreq(sh)
      .agg(sum(col("df_")).as("s1"), sum(col("df_") * col("df_")).as("s2"),
        count(lit(1)).as("m"))
      .head()
    if (r.isNullAt(2) || r.getLong(2) == 0L) 1.0
    else {
      val s1 = r.getLong(0).toDouble
      val s2 = r.getLong(1).toDouble
      val m = r.getLong(2).toDouble
      if (s1 == 0.0) 1.0 else (s2 * m) / (s1 * s1)
    }
  }

  /** Containment pairs with AUTOMATIC path dispatch — the df-histogram
    * routing OPERATORS.md's flat-vs-Zipf adjudication describes, in code:
    * compute [[shingleDfConcentration]] off the shared shingle relation
    * (one tiny extra aggregate over the vocabulary-sized df frame), then
    *
    *   - concentration < `zipfConcentration` (flat density — every
    *     shingle near-equally hot, the prefix has no rarity to exploit
    *     and its extra df-rank/candidate-distinct passes only add cost)
    *     → the exact inverted index ([[containmentPairs]]);
    *   - concentration ≥ `zipfConcentration` (Zipf head — hot shingles
    *     carry the Σ df² blowup, while prefixes keep only rare shingles)
    *     → the Bayardo prefix filter ([[containmentPairsPrefix]]).
    *
    * Both paths are proven output-identical (pigeonhole exactness,
    * property-tested and driver-oracled), so the dispatch can never
    * change the answer — only the plan. The shingle relation is
    * checkpointed once and shared by the statistic and whichever path
    * runs, so dispatch costs one small job, not a second scan.
    *
    * Default `zipfConcentration` = 3.0: flat fixtures measure ≈ 1 + 1/μ
    * (Poisson-ish variance only) and natural-language shingle dfs are
    * far into the heavy tail (measured ≫ 10); 3 sits in the gap with
    * margin on both sides. */
  def containmentPairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      maxShingleDocFreq: Long = 0L,
      zipfConcentration: Double = 3.0): DataFrame = {
    val sh = cappedShingleHashes(df, idCol, textCol, n, maxShingleDocFreq)
      .transform(Checkpoints.trackedEager)
    if (shingleDfConcentration(sh) >= zipfConcentration)
      containmentPrefixFromShingles(sh, idCol, threshold)
    else containmentFromShingles(sh, idCol, threshold,
      grouped = maxShingleDocFreq > 0)
  }

  /** The path [[containmentPairsAuto]] would take, as a pure decision —
    * exposed so specs (and capacity planning) can interrogate the
    * dispatch without running a pair join. */
  def containmentPathFor(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long = 0L,
      zipfConcentration: Double = 3.0): String = {
    val sh = cappedShingleHashes(df, idCol, textCol, n, maxShingleDocFreq)
    if (shingleDfConcentration(sh) >= zipfConcentration) "prefix" else "exact"
  }

  /** One-row AUDIT of what a `maxShingleDocFreq` cap actually drops — the
    * loud companion to the silent `left_anti` inside the jaccard /
    * containment / minhash pipelines. On a df-concentrated corpus (fixed
    * small vocabulary, template spam, boilerplate floods) the whole df
    * distribution can drift over the cap as the corpus grows, at which
    * point the near-dup family silently loses recall shingle by shingle;
    * this report makes that cliff measurable per run:
    *
    *   - `n_shingles`, `n_shingles_dropped` — distinct shingles, and how
    *     many the cap struck;
    *   - `mass_total`, `mass_dropped`, `mass_dropped_frac` — distinct
    *     (id, shingle) postings before the cap, the postings removed,
    *     and their fraction (recall lives in this mass);
    *   - `n_docs`, `n_docs_fully_dropped` — docs with ≥ 1 shingle, and
    *     docs whose EVERY shingle was capped away (invisible to the
    *     pair join: guaranteed false negatives).
    *
    * Pipeline posture: alert when `mass_dropped_frac` leaves the few-
    * percent regime or `n_docs_fully_dropped` > 0 — at that point raise
    * the cap, shift to the q123 LSH path, or fix the corpus. Cost: the
    * same shingle scan the pair join does, two map-side-combinable
    * aggregates, a 1-row result. */
  def shingleCapReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      maxShingleDocFreq: Long): DataFrame = {
    require(maxShingleDocFreq > 0, "report is about a positive cap")
    val sh = cappedShingleHashes(df, idCol, textCol, n, maxShingleDocFreq = 0L)
    val dfreq = shingleDocFreq(sh)
    val shingleStats = dfreq.agg(
      count(lit(1)).as("n_shingles"),
      count_if(col("df_") > maxShingleDocFreq).as("n_shingles_dropped"),
      sum(col("df_")).as("mass_total"),
      coalesce(sum(when(col("df_") > maxShingleDocFreq, col("df_"))), lit(0L))
        .as("mass_dropped"))
    val perDoc = sh.join(dfreq, Seq("shingle"))
      .groupBy(col(idCol))
      .agg(count_if(col("df_") <= maxShingleDocFreq).as("n_kept"))
    val docStats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      count_if(col("n_kept") === 0L).as("n_docs_fully_dropped"))
    shingleStats.crossJoin(broadcast(docStats))
      .select(col("n_shingles"), col("n_shingles_dropped"),
        col("mass_total"), col("mass_dropped"),
        round(col("mass_dropped").cast("double") /
          col("mass_total").cast("double"), 6).as("mass_dropped_frac"),
        col("n_docs"), col("n_docs_fully_dropped"))
  }

  /** Benchmark-contamination detection: documents in `corpus` sharing at
    * least `minOverlap` distinct word n-gram shingles with ANY document in
    * `bench` (the held-out eval set), with the shared-shingle count. The
    * standard n-gram-overlap decontamination check run before training.
    *
    * Scale shape: the benchmark set is small by definition (eval suites are
    * thousands of docs, the corpus is the 100 TB side), so its distinct
    * shingle set is **broadcast** — the corpus is never shuffled on the
    * shingle key; the only exchange is the final tiny groupBy on doc id.
    */
  def benchmarkOverlap(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      minOverlap: Long): DataFrame = {
    val corpusShingles = shingleRows(corpus, idCol, textCol, n).distinct()
    val benchShingles = shingleRows(bench, idCol, textCol, n)
      .select("shingle").distinct()
    corpusShingles.join(broadcast(benchShingles), Seq("shingle"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_overlap"))
      .filter(col("n_overlap") >= minOverlap)
  }

  /** Bloom-prefiltered decontamination: corpus documents sharing NO word
    * n-gram shingle with the benchmark set — the "drop contaminated docs
    * before training" pass ([[benchmarkOverlap]] is the reporting variant
    * with overlap counts).
    *
    * Scale shape — this is the runtime-filter pattern applied by hand:
    *  1. the bench shingle set folds into ONE `numBits`-bit bloom sketch
    *     (distributed build, partial sketches OR-merge map-side; only the
    *     final ~numBits/8-byte blob reaches the driver — bounded, like the
    *     k-means training sample);
    *  2. the sketch rides into the corpus SCAN as a literal — every
    *     non-colliding shingle dies before any exchange. Unlike
    *     [[benchmarkOverlap]], the corpus side is never distinct'd and
    *     never shuffled: at 100 TB that corpus-wide dedup shuffle is the
    *     whole cost, and the bloom removes it;
    *  3. bloom false positives are killed by an exact broadcast semi join
    *     over the surviving sliver, so the result is EXACT (oracle = plain
    *     anti join) — the sketch only decides how much work the exact
    *     check sees.
    *
    * Returns the surviving `corpus` rows unchanged.
    */
  def bloomDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      estimatedBenchShingles: Long = 1L << 20,
      numBits: Long = 1L << 23): DataFrame = {
    import graft.functions.GraftFunctions.{bloom_agg, bloom_might_contain}
    val benchShingles = shingleRows(bench, idCol, textCol, n)
      .select("shingle").distinct()
    val sketch = benchShingles
      .agg(bloom_agg(xxhash64(col("shingle")), estimatedBenchShingles, numBits)
        .as("bf"))
      .head().getAs[Array[Byte]](0)
    if (sketch == null) return corpus // empty bench: nothing to remove
    // no distinct() on the corpus side: duplicates only re-probe the bloom
    // (scan-stage, free) and the confirm join dedups ids at the end
    val candidates = shingleRows(corpus, idCol, textCol, n)
      .filter(bloom_might_contain(lit(sketch), xxhash64(col("shingle"))))
    val contaminated = candidates.join(broadcast(benchShingles), Seq("shingle"))
      .select(idCol).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** Semantic decontamination: corpus rows whose embedding has cosine
    * similarity ≥ `threshold` to ANY benchmark embedding are flagged —
    * the paraphrase-contamination check n-gram overlap misses (a reworded
    * eval question shares no shingles but sits on top of the original in
    * embedding space).
    *
    * Output: idCol, `max_sim` (max cosine vs the bench set, rounded 6dp —
    * the emitted value), `kept` (1 = below threshold, survives).
    *
    * Scale shape: the benchmark set is the small side by definition, so it
    * is **broadcast** and scored map-side in a nested-loop scan — the
    * corpus is NEVER shuffled on any join key; the per-id max-reduction is
    * the only exchange, map-side combinable, carrying one row per corpus
    * id. Brute-force scoring is exact and costs |corpus|·|bench| dot
    * products; a bench set large enough to make that bite belongs behind
    * the IVF index path ([[Similarity.ivfTopK]]) instead. */
  def embeddingDecontaminate(
      corpus: DataFrame,
      bench: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol),
      Similarity.asDouble(col(vecCol)).as("__v"))
    val b = bench.select(Similarity.asDouble(col(vecCol)).as("__bv"))
    val sims = c.crossJoin(broadcast(b))
      .select(col(idCol),
        Similarity.cosine(col("__v"), col("__bv")).as("__sim"))
      .groupBy(col(idCol))
      .agg(round(max(col("__sim")), 6).as("max_sim"))
    // rejoin to the corpus so an EMPTY benchmark keeps everything (the
    // cross join alone would emit zero rows — the opposite of "nothing
    // to decontaminate against"), mirroring benchmarkOverlap's left_anti
    // contract; max_sim is null for those rows
    c.select(col(idCol)).join(sims, Seq(idCol), "left")
      .select(col(idCol), col("max_sim"),
        when(col("max_sim").isNotNull && col("max_sim") >= threshold,
          lit(0)).otherwise(lit(1))
          .as("kept"))
  }

  /** MinHash signatures: `numHashes` columns `mh0..mh{k-1}`, each the min
    * seeded md5 hex (`md5("<i>:" + shingle)`, compared lexicographically)
    * over the document's shingle set. The `minhash_sig` kernel computes
    * each row's k minima in one narrow pass over its shingles, so the
    * grouping below sees one row per input row, not one per shingle; it
    * only merges rows that share an id.
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int): DataFrame = {
    val sig = df.select(col(idCol), graft.functions.GraftFunctions.minhash_sig(
        TextAnalysis.tokens(col(textCol)), n, numHashes).as("__sig"))
      .filter(col("__sig").isNotNull)
    val aggs = (0 until numHashes).map(i =>
      min(col("__sig").getItem(i)).as(s"mh$i"))
    sig.groupBy(col(idCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** One (id, band, key) row per signature band: the LSH bucketing keys,
    * shared by the self-join ([[minhashLshPairs]]) and the delta-vs-index
    * join ([[incrementalMinhashPairs]]). */
  private def bandedKeys(sig: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame = {
    val nBands = numHashes / rowsPerBand
    bandRows(sig, Seq(idCol), (0 until nBands).map { bnd =>
      val cols = (0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}"))
      md5(concat_ws("|", cols: _*))
    })
  }

  /** `carry` columns of `sig` plus one (band, key) row per entry of
    * `keys`, band = the entry's index: the blocking relation the banded
    * pair generators self-join on (band, key). */
  private def bandRows(
      sig: DataFrame,
      carry: Seq[String],
      keys: Seq[Column]): DataFrame = {
    val bk = keys.zipWithIndex.map { case (k, b) =>
      struct(lit(b).as("band"), k.as("key"))
    }
    sig.select(carry.map(col) :+ explode(array(bk: _*)).as("bk"): _*)
      .select(carry.map(col) ++
        Seq(col("bk.band").as("band"), col("bk.key").as("key")): _*)
  }

  /** Incremental NEAR-dup detection: LSH-match a new delta shard against a
    * persisted HISTORICAL SIGNATURE INDEX — the [[incrementalExact]]
    * counterpart that catches edited re-posts, not just byte-identical
    * copies, without the historical TEXT (only the k-hash signatures are
    * kept, the standard dedup-index layout). Candidates collide on any
    * full signature band; each candidate is verified by signature
    * agreement — the fraction of matching minhash components is an
    * unbiased Jaccard estimator (Broder '97), so `minMatchFraction` is an
    * estimated-similarity threshold. The verify compares integers
    * (matching components ≥ ceil(fraction × numHashes)), so no float
    * boundary can flip a pair between engines.
    *
    * Shape at 100 TB: delta signatures are computed scan-stage from the
    * shard; the join shuffles on (band, key) — the index side is huge but
    * band-bucketed (the q28 scale argument), and only colliding buckets
    * meet. Returns (delta id, index id, n_match, est_jaccard).
    */
  def incrementalMinhashPairs(
      delta: DataFrame,
      indexSigs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      minMatchFraction: Double): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    require(minMatchFraction >= 0.0 && minMatchFraction <= 1.0,
      "minMatchFraction must be in [0, 1]")
    val minMatch = math.ceil(minMatchFraction * numHashes).toInt
    val dsig = minhashSignatures(delta, idCol, textCol, n, numHashes)
      .transform(Checkpoints.trackedEager)
    // the index side also feeds two consumers (band keys + the verify
    // join); a non-persisted caller frame would otherwise evaluate its
    // signature subtree twice. The materialized relation is k hashes per
    // doc — tiny at any scale (the sig-relation rule again).
    val isig = indexSigs.transform(Checkpoints.trackedEager)
    val dband = bandedKeys(dsig, idCol, numHashes, rowsPerBand)
      .withColumnRenamed(idCol, "delta_id")
    val iband = bandedKeys(isig, idCol, numHashes, rowsPerBand)
      .withColumnRenamed(idCol, "index_id")
    val cand = dband.join(iband, Seq("band", "key"))
      .select("delta_id", "index_id").distinct()
    val a = dsig.toDF(dsig.columns.toIndexedSeq.map(c =>
      if (c == idCol) "delta_id" else s"a_$c"): _*)
    val b = isig.toDF(isig.columns.toIndexedSeq.map(c =>
      if (c == idCol) "index_id" else s"b_$c"): _*)
    val nMatch = (0 until numHashes)
      .map(i => when(col(s"a_mh$i") === col(s"b_mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    cand.join(a, "delta_id").join(b, "index_id")
      .select(col("delta_id"), col("index_id"), nMatch.as("n_match"))
      .filter(col("n_match") >= minMatch)
      .withColumn("est_jaccard",
        round(col("n_match") / lit(numHashes.toDouble), 6))
  }

  /** The (bands, rowsPerBand) plan an LSH run should use for a target
    * Jaccard threshold — the DIAL for band-key densification (the
    * fourth-decade sweep measured q28's candidate volume bending to
    * exponent 0.86 as fixed-vocab minhash values concentrate; deeper
    * bands cube collision probability for dissimilar pairs while the
    * band count recovers recall for similar ones).
    *
    * Standard S-curve sizing (Leskovec/Rajaraman/Ullman ch. 3, Broder
    * '97): a pair with Jaccard s collides with probability
    * 1 − (1 − s^r)^b. For each band depth r, the minimal band count
    * holding recall at the threshold is b = ⌈ln(1−recall)/ln(1−t^r)⌉;
    * among depths whose signature b·r fits `maxHashes`, pick the one
    * minimizing collision probability for a CLEARLY dissimilar pair
    * (s = t/2) — i.e. the fewest false candidates the exact verify
    * stage must drain. Pure driver-side arithmetic, no data touched.
    *
    * @return (bands, rowsPerBand, recallAtT, fpAtHalfT)
    */
  def lshPlan(
      threshold: Double,
      targetRecall: Double = 0.9,
      maxHashes: Int = 128): (Int, Int, Double, Double) = {
    require(threshold > 0 && threshold < 1, "threshold in (0,1)")
    require(targetRecall > 0 && targetRecall < 1, "recall in (0,1)")
    def collide(s: Double, b: Int, r: Int): Double =
      1.0 - math.pow(1.0 - math.pow(s, r), b)
    val plans = for {
      r <- 1 to maxHashes
      b = math.ceil(
        math.log1p(-targetRecall) / math.log1p(-math.pow(threshold, r))).toInt
      if b >= 1 && b.toLong * r <= maxHashes // Long: huge ceil()s wrap Int
    } yield (b, r, collide(threshold, b, r), collide(threshold / 2, b, r))
    plans.minBy(_._4)
  }

  /** LSH candidate pairs from MinHash signatures: `numHashes` rows split into
    * bands of `rowsPerBand`; docs sharing any full band collide. Probability
    * a pair with Jaccard s collides: 1 − (1 − s^r)^b.
    */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    require(numHashes % rowsPerBand == 0, "bands must tile the signature")
    // Materialize signatures before the band self-join: both join sides
    // derive from this relation, and without a hard cut Spark re-evaluates
    // the whole shingle-explode + k×min(md5) subtree once per side (and
    // once more per downstream consumer) — the most expensive subtree in
    // the dedup pipeline, paid repeatedly. localCheckpoint truncates the
    // lineage so it runs exactly once; the materialized relation is tiny
    // (k hashes per doc, ≪ the corpus) so executor-local storage holds it
    // at any scale. Tradeoff: lineage loss means an executor failure
    // re-runs the job instead of recomputing a partition — the standard
    // price for iterative/self-join reuse.
    val sig = minhashSignatures(df, idCol, textCol, n, numHashes)
      .transform(Checkpoints.trackedEager)
    bandCandidates(sig, idCol, numHashes, rowsPerBand)
  }

  /** Distinct (id_a < id_b) pairs colliding on any full signature band —
    * a pair sharing several bands is one candidate. */
  private def bandCandidates(sig: DataFrame, idCol: String,
      numHashes: Int, rowsPerBand: Int): DataFrame =
    blockedPairs(bandedKeys(sig, idCol, numHashes, rowsPerBand), idCol,
      Seq("band", "key"), Nil)
      .distinct()

  /** MinHash-LSH near-dup pairs with exact Jaccard verification of the
    * LSH candidates (candidates ≪ all-pairs, so the verify join is cheap).
    */
  def minhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double): DataFrame = {
    // cand feeds both the intersection join and the outer verify join —
    // materialize it for the same single-evaluation reason as `sig` above.
    val cand = minhashLshPairs(df, idCol, textCol, n, numHashes, rowsPerBand)
      .transform(Checkpoints.trackedEager)
    // sh feeds three consumers (the id_a probe, the id_b probe, and sizes);
    // uncut, the explode+distinct subtree evaluates once per consumer.
    val sh = shingleSet(df, idCol, textCol, n).transform(Checkpoints.trackedEager)
    candidateOverlap(cand, sh, idCol)
      .withColumn("jaccard", jaccardOf)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate pairs `cand` with their exact (n_inter, sz_a, sz_b) from
    * the shingle relation; a candidate sharing no shingle keeps
    * n_inter = 0. */
  private def candidateOverlap(
      cand: DataFrame,
      sh: DataFrame,
      idCol: String): DataFrame =
    withPairSizes(
      cand.join(candidateIntersections(cand.select("id_a", "id_b"), sh, idCol),
        Seq("id_a", "id_b"), "left_outer")
        .na.fill(0L, Seq("n_inter")),
      shingleSizes(sh, idCol), idCol)

  /** Estimator-calibration audit: for every LSH candidate pair, the
    * Broder '97 signature estimate (matching components / numHashes)
    * SIDE BY SIDE with the exact Jaccard it estimates, and the signed
    * error. "Measure, don't guess" applied to the dedup pipeline itself:
    * the estimator's bias/spread on THIS corpus (error std ≈
    * √(J(1−J)/k)) is what justifies — or refutes — trusting q97's
    * signature-only verify at a given numHashes, and a drifting audit
    * is the signal to re-size signatures before recall silently sags.
    *
    * Shape at 100 TB: candidates come from the banded join (never
    * all-pairs); the exact side reuses the q26/q133 shingle-intersection
    * machinery on candidates only. Both estimate and exact are integer-
    * derived, so every value is engine-replayable.
    *
    * Output: id_a, id_b, n_match, est_jaccard, jaccard, err (6dp, err
    * computed from the two ROUNDED values). */
  def minhashEstimatorAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, n, numHashes)
      .transform(Checkpoints.trackedEager)
    val cand = bandCandidates(sig, idCol, numHashes, rowsPerBand)
    val a = sig.select(col(idCol).as("id_a") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"__a$i")): _*)
    val b = sig.select(col(idCol).as("id_b") +:
      (0 until numHashes).map(i => col(s"mh$i").as(s"__b$i")): _*)
    val nMatch = (0 until numHashes)
      .map(i => when(col(s"__a$i") === col(s"__b$i"), 1).otherwise(0))
      .reduce(_ + _)
    val est = cand.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"), nMatch.as("n_match"))
    val sh = shingleSet(df, idCol, textCol, n).transform(Checkpoints.trackedEager)
    val estR = round(col("n_match").cast("double") / numHashes, 6)
    val jacR = round(jaccardOf, 6)
    candidateOverlap(est, sh, idCol)
      .select(col("id_a"), col("id_b"), col("n_match"),
        estR.as("est_jaccard"), jacR.as("jaccard"),
        round(estR - jacR, 6).as("err"))
  }

  /** 1-row LSH recall audit — the candidate-coverage counterpart of
    * [[minhashEstimatorAudit]]'s value calibration: how many of the
    * pairs the EXACT Jaccard pass would emit at `threshold` does the
    * banded join actually propose? The S-curve predicts recall
    * 1−(1−J^r)^b per pair; this measures the realized aggregate on THIS
    * corpus, which is what decides whether a signature config can
    * replace the exact join at scale (the q123-backs-q63 adjudication,
    * turned into a number).
    *
    * Exact side: the capped inverted-index pair join ([[ngramJaccardPairs]]'
    * machinery); candidate side: the banded LSH join. Both bounded by
    * candidate/pair mass, never all-pairs.
    *
    * Output: threshold, n_true, n_candidates, n_caught, recall (6dp). */
  def lshRecallAudit(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxShingleDocFreq: Long = 100): DataFrame = {
    val truePairs = ngramJaccardPairs(df, idCol, textCol, n, threshold,
      maxShingleDocFreq).select(col("id_a"), col("id_b"))
    val cand = minhashLshPairs(df, idCol, textCol, n, numHashes, rowsPerBand)
    // r19: ONE hash aggregation over the tagged union of the two pair
    // sets (the q146/q194 union-compare shape) replaces the former
    // checkpoint + three aggregate jobs + a left_semi join. The join
    // form re-derived `cand` twice (once joined, once counted — no
    // checkpoint) and let AQE convert the semi join to a broadcast of
    // a PAIR relation whenever one pair set measures small — pair mass
    // grows with the corpus, so that build is a latent scale failure
    // (measured: the sf1 sweep's q170 died building a broadcast while
    // the Σ df² intersection aggregation held the memory pool). The
    // union form has no join to convert and derives each pair set
    // once: 132 → 62 Exchanges at sf0.01 (plans/r19). Count identities
    // (exact for any inputs, with or without duplicate pairs):
    // n_true = Σ per-key true-rows, n_candidates = Σ per-key cand-rows,
    // and the semi-join count = Σ true-rows over keys that also carry
    // ≥1 candidate row. The empty-input edge keeps the old `count()`
    // semantics via the coalesce-to-0 (an aggregate over zero groups
    // sums to NULL).
    val tagged = truePairs
      .select(col("id_a"), col("id_b"),
        lit(1L).as("__t"), lit(0L).as("__c"))
      .unionByName(cand.select(col("id_a"), col("id_b"),
        lit(0L).as("__t"), lit(1L).as("__c")))
    val perKey = tagged.groupBy(col("id_a"), col("id_b"))
      .agg(sum(col("__t")).as("__nt"), sum(col("__c")).as("__nc"))
    perKey.agg(
      coalesce(sum(col("__nt")), lit(0L)).as("n_true"),
      coalesce(sum(col("__nc")), lit(0L)).as("n_candidates"),
      coalesce(sum(when(col("__nt") > 0 && col("__nc") > 0, col("__nt"))
        .otherwise(lit(0L))), lit(0L)).as("n_caught"))
      .select(lit(threshold).as("threshold"), col("n_true"),
        col("n_candidates"), col("n_caught"),
        when(col("n_true") > 0,
          round(col("n_caught").cast("double") /
            col("n_true").cast("double"), 6))
          .otherwise(lit(null).cast("double")).as("recall"))
  }

  /** Deterministic md5-k-min DOCUMENT sample — the q149 primitive applied
    * to a whole relation: the md5-52-bit key of `idCol` is a uniform
    * [0, 2^52) draw, the kth-smallest DISTINCT key is the inclusion
    * threshold (one bounded KMinValues aggregate, a 1-row broadcast), and
    * the filter is scan-stage. A pure function of the id set, replayable
    * in SQL — shared by the sampled audit variants below. */
  private[graft] def kminDocSample(df: DataFrame, idCol: String, k: Int): DataFrame = {
    require(k >= 64, "a sample below 64 docs estimates nothing")
    val hv = conv(substring(md5(col(idCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val hashed = df.withColumn("__hv", hv)
    val thr = hashed.agg(
      try_element_at(
        graft.functions.GraftFunctions.kmin_values(col("__hv"), k),
        lit(-1)).as("__thr"))
    hashed.join(broadcast(thr), col("__hv") <= col("__thr"))
      .drop("__hv", "__thr")
  }

  /** [[lshRecallAudit]] on a deterministic md5-k-min document sample —
    * the 100 TB form of the audit: the exact-Jaccard reference pass is
    * the audit's cost driver and scales with the corpus, so at scale the
    * recall estimate runs on a FIXED-size uniform sub-corpus (both the
    * exact pass and the banded join see the same sample; the estimate is
    * the realized recall on that sample, standard sampling error). Cost
    * beyond the sample: one scan into a k-long KMinValues aggregate + one
    * filtered re-scan — no pair work ever touches the full corpus. The
    * unsampled form stays the oracle of record (q170); this lane's own
    * oracle replays the same md5 threshold, so the sample is part of the
    * contract, not a hidden cap — the sizes are emitted
    * (`n_docs_sampled`, `n_docs_total`).
    *
    * Output: threshold, n_true, n_candidates, n_caught, recall,
    * n_docs_sampled, n_docs_total. */
  def lshRecallAuditSampled(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      threshold: Double,
      maxShingleDocFreq: Long = 100,
      sampleSize: Int = 4096): DataFrame = {
    val s = kminDocSample(df.select(col(idCol), col(textCol)), idCol,
      sampleSize).transform(Checkpoints.trackedEager)
    lshRecallAudit(s, idCol, textCol, n, numHashes, rowsPerBand, threshold,
      maxShingleDocFreq)
      .crossJoin(broadcast(s.agg(count(lit(1)).as("n_docs_sampled"))))
      .crossJoin(broadcast(df.agg(count(lit(1)).as("n_docs_total"))))
  }

  /** [[minhashEstimatorAudit]] on the same deterministic md5-k-min
    * document sample as [[lshRecallAuditSampled]] — the estimator's
    * bias/spread measured on a fixed-size sub-corpus, so the calibration
    * read stays sublinear while the unsampled form remains the oracle of
    * record (q168). Per-pair output, same columns. */
  def minhashEstimatorAuditSampled(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      numHashes: Int,
      rowsPerBand: Int,
      sampleSize: Int = 4096): DataFrame =
    minhashEstimatorAudit(
      kminDocSample(df.select(col(idCol), col(textCol)), idCol, sampleSize)
        .transform(Checkpoints.trackedEager),
      idCol, textCol, n, numHashes, rowsPerBand)

  /** [[minhashNearDupPairs]] with the (bands, rowsPerBand) plan derived
    * from the threshold by [[lshPlan]] instead of hand-picked — the shape
    * a deployment uses: state the Jaccard threshold and recall target,
    * let the S-curve pick the signature. Every emitted pair is still
    * exactly verified (`jaccard ≥ threshold`); the plan only controls
    * which candidates the verify stage sees, i.e. recall and cost. */
  def minhashNearDupPairsAuto(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      targetRecall: Double = 0.9,
      maxHashes: Int = 64): DataFrame = {
    val (bands, rows, _, _) = lshPlan(threshold, targetRecall, maxHashes)
    minhashNearDupPairs(df, idCol, textCol, n, bands * rows, rows, threshold)
  }

  // ---- SimHash ----------------------------------------------------------

  private val HexDigits = "0123456789abcdef"

  /** Per-document 64-bit SimHash over whitespace tokens (with multiplicity),
    * emitted as a 16-hex-char string. Token hash = first 16 hex chars of
    * md5(token); bit j contributes +1/−1 by its value; final bit = majority
    * (> 0).
    *
    * Computed by the custom codegen'd [[graft.functions.SimHash64]]
    * expression: `scan → project`, no explode, no 64-column aggregate, no
    * shuffle — signature cost scales with bytes scanned. The composed
    * explode/sum formulation it must match bit-for-bit lives on as
    * [[simhashComposed]] (the shape q29's DuckDB oracle mirrors, and the
    * equivalence is spec-pinned on top of the oracle gate).
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    df.select(col(idCol),
      graft.functions.GraftFunctions
        .simhash64(TextAnalysis.tokens(col(textCol))).as("simhash"))
  }

  /** The original composed SimHash (explode → 64 partial sums → majority →
    * hex assembly): kept as the independent reference implementation the
    * custom expression is verified against. */
  private[graft] def simhashComposed(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .withColumn("h", substring(md5(col("tok")), 1, 16))
    // contribution of bit j (0..63, msb-first within each hex digit)
    def bitContrib(j: Int): Column = {
      val p = j / 4 + 1
      val shift = 3 - (j % 4)
      val bit = shiftright(instr(lit(HexDigits), substring(col("h"), p, 1)) - 1,
        shift).bitwiseAND(1)
      (bit * 2 - 1).as(s"c$j")
    }
    val sums = (0 until 64).map(j => sum(bitContrib(j)).as(s"s$j"))
    val agg = tok.groupBy(col(idCol)).agg(sums.head, sums.tail: _*)
    // reassemble: digit d = 8*b(4d) + 4*b(4d+1) + 2*b(4d+2) + b(4d+3)
    def b(j: Int): Column = when(col(s"s$j") > 0, 1).otherwise(0)
    val digits = (0 until 16).map { d =>
      val v = b(4 * d) * 8 + b(4 * d + 1) * 4 + b(4 * d + 2) * 2 + b(4 * d + 3)
      lit(HexDigits).substr(v + 1, lit(1))
    }
    agg.select(col(idCol), concat(digits: _*).as("simhash"))
  }

  /** Hamming distance between two 16-hex-char SimHash strings, as a column
    * expression (sum of bit_count over per-digit XORs). */
  def simhashHamming(a: Column, b: Column): Column =
    (1 to 16).map { p =>
      bit_count(
        (instr(lit(HexDigits), substring(a, p, 1)) - 1)
          .bitwiseXOR(instr(lit(HexDigits), substring(b, p, 1)) - 1))
    }.reduce(_ + _)

  /** SimHash near-dup pairs with Hamming distance ≤ `maxDist` (≤ 3 for the
    * default banding). TWO-LEVEL pigeonhole blocking (nested Manku '07
    * block-permutation): the 64 bits split into 4 bands of 16 bits (4 hex
    * chars); any pair within Hamming ≤ 3 shares at least one untouched
    * band. Within that clean band's COMPLEMENT (the other 48 bits, still
    * carrying all ≤ 3 errors), the same argument gives a clean 12-bit
    * sub-block of its 4 — so every qualifying pair matches at least one of
    * the 16 composite (band, sub-block) 28-bit keys, and the join stays
    * EXACT, not approximate.
    *
    * Why two levels: candidate volume per bucket is Σ bucket², and a
    * 16-bit key's buckets grow linearly with the corpus wherever the
    * fingerprint distribution concentrates (similar docs share band
    * values; the round-12 fourth-decade sweep measured the one-level join
    * at exponent 1.85 — quadratic — on a 50k-doc corpus whose near-uniform
    * token mix concentrates simhash bits). The extra 12 matched bits
    * multiply coincidental collisions down by the sub-block's entropy
    * while keys per doc only grow 4 → 16; output is bit-identical (the
    * q30 oracle is unchanged), only the candidate set shrinks.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "4-band pigeonhole blocking is exact only for maxDist <= 3")
    // Materialize the signature before the band self-join: both sides derive
    // from it, and without a cut the scan + simhash64 projection evaluates
    // once per side (measured ~12% faster checkpointed even now that the
    // signature is a cheap narrow expression — at corpus scale it also
    // halves the bytes scanned). Same executor-local-storage / lineage
    // tradeoff as the MinHash checkpoint in minhashLshPairs; the relation
    // is one 16-char string per doc, tiny at any scale.
    val sig = simhash(df, idCol, textCol).transform(Checkpoints.trackedEager)
    // rest(b) = the 12 hex chars outside band b, order-preserved; the
    // composite key is band(4 chars) ++ sub-block(3 chars of rest(b))
    def rest(bnd: Int): Column =
      if (bnd == 0) substring(col("simhash"), 5, 12)
      else if (bnd == 3) substring(col("simhash"), 1, 12)
      else concat(substring(col("simhash"), 1, bnd * 4),
        substring(col("simhash"), bnd * 4 + 5, 12 - bnd * 4))
    val keys = for { bnd <- 0 until 4; sub <- 0 until 4 } yield
      concat(substring(col("simhash"), bnd * 4 + 1, 4),
        substring(rest(bnd), sub * 3 + 1, 3))
    hammingPairs(sig, idCol, keys, maxDist)
  }

  /** SimHash near-dup pairs via Manku '07 COMBINATION blocking — the
    * documented dial past [[simhashNearDupPairs]]'s nested pigeonhole when
    * fingerprint concentration keeps densifying buckets. The 16 hex chars
    * split into 6 blocks (3,3,3,3,2,2 chars = 12/12/12/12/8/8 bits); a pair
    * within Hamming ≤ 3 leaves at least 6−3 = 3 blocks untouched, so it
    * matches the concatenated key of at least one of the C(6,3) = 20 block
    * triples — EXACT, same guarantee as the pigeonhole schemes, more keys
    * (20 vs 16 per doc) buying more matched bits per key (28–36, mean 32,
    * vs a flat 28). Output is bit-identical to [[simhashNearDupPairs]]
    * (OperatorsSpec proves both equal brute-force O(n²) Hamming). */
  def simhashNearDupPairsCombinatorial(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3): DataFrame =
    hammingNearDupPairsFromSig(simhash(df, idCol, textCol), idCol,
      "simhash", maxDist)

  /** The C(6,3) combination-blocking pair join over ANY 64-bit
    * fingerprint column (16 lowercase hex chars) — the engine behind
    * [[simhashNearDupPairsCombinatorial]], exposed so other 64-bit
    * perceptual hashes reuse the exact-blocking machinery (e.g. image
    * dHash in [[Multimodal.imageNearDupPairs]]). Same exactness argument:
    * ≤ 3 errors across 6 blocks leave ≥ 3 clean blocks → some clean
    * triple key matches. */
  def hammingNearDupPairsFromSig(
      sigDf: DataFrame,
      idCol: String,
      hashCol: String,
      maxDist: Int = 3): DataFrame = {
    require(maxDist <= 3, "C(6,3) combination blocking is exact only for maxDist <= 3")
    val sig = sigDf.select(col(idCol), col(hashCol).as("simhash"))
      .transform(Checkpoints.trackedEager)
    // hex-char (start, length) of the 6 blocks, 1-based for substring
    val blocks = Seq((1, 3), (4, 3), (7, 3), (10, 3), (13, 2), (15, 2))
    val triples = for {
      i <- 0 until 6; j <- i + 1 until 6; k <- j + 1 until 6
    } yield (i, j, k)
    val keys = triples.map { case (i, j, k) =>
      concat(Seq(i, j, k).map { b =>
        substring(col("simhash"), blocks(b)._1, blocks(b)._2)
      }: _*)
    }
    hammingPairs(sig, idCol, keys, maxDist)
  }

  /** The exact-blocking Hamming tail both SimHash schemes share: each
    * (idCol, simhash) row explodes to one (band, key) row per entry of
    * `keys` (band = its index), rows pair up on a shared (band, key), and
    * each distinct pair is verified at Hamming ≤ `maxDist`. */
  private def hammingPairs(
      sig: DataFrame,
      idCol: String,
      keys: Seq[Column],
      maxDist: Int): DataFrame =
    blockedPairs(bandRows(sig, Seq(idCol, "simhash"), keys), idCol,
      Seq("band", "key"), Seq("simhash"))
      .select(col("id_a"), col("id_b"),
        simhashHamming(col("simhash_a"), col("simhash_b")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)

  /** Exact repeated-span EXCISION (the Lee et al. '21 "Deduplicating
    * Training Data" family): instead of detecting duplicate documents,
    * rewrite each document by cutting out every span of `w` consecutive
    * words whose exact text occurs at least `minOccurrences` times in the
    * whole corpus (within-doc repeats count — a doc that repeats its own
    * boilerplate gets it excised too). This removes the repeated-substring
    * mass (templated intros, quoted chain content, syndicated snippets)
    * that document- and paragraph-granularity dedup both miss when the
    * surrounding text differs.
    *
    * Output: idCol, `n_words`, `n_removed` (word positions cut),
    * `cleaned` (the spliced document; empty when fully covered).
    *
    * Scale shape (100 TB): the gram explode is positional and narrow —
    * only (id, start, md5) rows leave the scan, never gram text; the
    * occurrence count is a fingerprint-keyed aggregate with map-side
    * partials, and hit positions return via a fingerprint-keyed semi
    * join (both sides narrow). The per-document interval cover is pure
    * higher-order expressions over the doc's own sorted hit-start array —
    * row-local, no shuffle, bounded by doc length. The cover test is
    * exists() over hit starts (O(words·hits) per doc) — fine at document
    * scale; a doc with pathological hit density is already mostly
    * duplicate and cheap to cut. */
  def exciseRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 5,
      minOccurrences: Long = 2L): DataFrame = {
    require(w >= 1, "span width must be positive")
    val words = split(col(textCol), " ")
    val base = df.select(col(idCol), words.as("ws"))
    // (id, start, fp) for every w-gram, 1-based starts; docs shorter than
    // w contribute no grams (nothing can repeat at width w)
    // NB sequence(1, n) REVERSES when n < 1 (Spark's descending default),
    // so the short-doc case must yield an empty array explicitly
    val starts = when(size(col("ws")) >= w,
      sequence(lit(1), size(col("ws")) - (w - 1)))
      .otherwise(array().cast("array<int>"))
    val grams = base
      .select(col(idCol), col("ws"), explode(starts).as("start"))
      .select(col(idCol), col("start"),
        md5(array_join(slice(col("ws"), col("start"), lit(w)), " ")).as("fp"))
    val hot = grams.groupBy(col("fp"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= minOccurrences)
      .select(col("fp").as("hot_fp"))
    val hits = grams.join(hot, grams("fp") === col("hot_fp"), "left_semi")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("start"))).as("hit_starts"))
    // splice row-locally: position p is covered iff some hit start s has
    // s <= p <= s + w - 1; keep the uncovered words in original order
    val joined = base.join(hits, Seq(idCol), "left")
      .select(col(idCol), col("ws"),
        coalesce(col("hit_starts"), array().cast("array<int>")).as("hs"))
    val keptWords = filter(
      transform(col("ws"), (word, i) => struct((i + 1).as("p"), word.as("word"))),
      s => !exists(col("hs"), h =>
        h <= s.getField("p") && s.getField("p") <= h + (w - 1)))
    joined.select(col(idCol),
      size(col("ws")).as("n_words"),
      (size(col("ws")) - size(keptWords)).as("n_removed"),
      array_join(transform(keptWords, s => s.getField("word")), " ")
        .as("cleaned"))
  }

  /** Paragraph-level exact dedup, keep-FIRST-global-occurrence (the Dolma
    * recipe): every paragraph that already appeared — in an earlier
    * document, or earlier in the SAME document — is dropped, and each
    * document is reassembled from its surviving paragraphs in original
    * order. This removes the shared-boilerplate mass (nav chrome, footers,
    * syndicated intros) that document-level dedup ([[exact]]) cannot see,
    * without the corpus-frequency threshold [[graft.operators.Scrub.dropBoilerplateLines]]
    * needs.
    *
    * Output: idCol, `n_paras` (before), `n_kept`, `cleaned` (reassembled;
    * empty string when every paragraph was seen before).
    *
    * Scale shape (100 TB): paragraphs explode narrowly; the winner per
    * fingerprint is a `min(struct(id, pos))` AGGREGATE — map-side
    * combinable, so the fingerprint shuffle carries one (fp, id, pos)
    * candidate per fingerprint per map task, never the paragraph text. The
    * text-bearing relation shuffles exactly once, in the left-semi join
    * against the winner set (equi keys (fp, id, pos); AQE broadcasts the
    * winner side when it is small). First-occurrence is md5-keyed and
    * `(id, pos)`-ordered — a total order, so results are deterministic and
    * engine-replayable. A window (`row_number` over fp) would sort and
    * carry full text through the shuffle; the aggregate form is strictly
    * cheaper.
    */
  def paragraphDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sep: String = "\n"): DataFrame = {
    val paras = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("pos", "para")))
      .withColumn("fp", md5(col("para")))
    val winners = paras
      .groupBy(col("fp"))
      .agg(min(struct(col(idCol), col("pos"))).as("w"))
      .select(col("fp").as("w_fp"), col("w").getField(idCol).as("w_id"),
        col("w").getField("pos").as("w_pos"))
    val kept = paras.join(winners,
      paras("fp") === col("w_fp") && paras(idCol) === col("w_id") &&
        paras("pos") === col("w_pos"),
      "left_semi")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("para")))),
            s => s.getField("para")),
          sep).as("cleaned"))
    paras.groupBy(col(idCol)).agg(count(lit(1)).as("n_paras"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  // ---- cross-document exact-substring dedup (Lee et al. '21) -----------
  // The CROSS-DOC counterpart of [[repeatedSpanExcision]] (q111, intra-
  // doc): long token spans repeated ACROSS documents — boilerplate,
  // licence blocks, syndicated passages — removed everywhere except their
  // first occurrence. Lee '21 builds a corpus suffix array; the
  // distributed form below is the standard k-gram anchor approximation:
  // every length-L token window is hashed, windows whose hash occurs in
  // ≥ 2 distinct documents are flagged, and flagged occurrences other
  // than the global first are excised. A repeated span of length
  // m ≥ L is covered by its m − L + 1 flagged windows, so excision
  // removes it exactly (up to L−1 boundary tokens, the standard k-gram
  // resolution tradeoff vs the suffix array's exactness).

  /** (idCol, i, h) one row per length-`l` token window — the anchor
    * relation both span operators share. Only the 32-char md5 crosses
    * any shuffle; the window TEXT is never shipped (the report lane
    * re-derives it for its top-k rows only). */
  private def spanWindows(
      df: DataFrame, idCol: String, textCol: String, l: Int): DataFrame =
    df.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("ts"))
      .filter(size(col("ts")) >= l)
      .select(col(idCol),
        explode(transform(sequence(lit(1), size(col("ts")) - l + 1),
          i => struct(i.as("i"),
            md5(concat_ws(" ", slice(col("ts"), i, lit(l)))).as("h")))).as("o"))
      .select(col(idCol), col("o.i").as("i"), col("o.h").as("h"))

  /** Top-k report of token spans repeated across documents: window hash,
    * distinct-doc count, occurrence count, the canonical (first) holder,
    * and the span text. Ranked (n_docs desc, n_occ desc, h asc).
    *
    * Shape at 100 TB: the window relation is corpus-token-sized but
    * carries only (id, pos, hash); the aggregate is map-side combinable;
    * span TEXT is fetched by re-scanning against the k-row broadcast of
    * winning hashes — never shipped corpus-wide. */
  def crossDocSpanReport(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int,
      k: Int): DataFrame = {
    val occ = spanWindows(df, idCol, textCol, l)
    val top = occ.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        count(lit(1)).as("n_occ"),
        min(struct(col(idCol).as("d"), col("i"))).as("first"))
      .filter(col("n_docs") >= 2)
      .orderBy(col("n_docs").desc, col("n_occ").desc, col("h").asc)
      .limit(k)
      .select(col("h"), col("n_docs"), col("n_occ"),
        col("first.d").as("first_doc"), col("first.i").as("first_pos"))
    // span text only for the k winners: re-derive from the canonical doc
    val text = df.select(col(idCol).as("first_doc"),
      split(trim(col(textCol)), "\\s+").as("ts"))
    top.join(text, Seq("first_doc"))
      .select(col("h"), col("n_docs"), col("n_occ"), col("first_doc"),
        col("first_pos"),
        concat_ws(" ", slice(col("ts"), col("first_pos"), lit(l)))
          .as("span"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_docs").desc, col("n_occ").desc, col("h").asc))
        .cast("int"))
  }

  /** Excise cross-document repeated spans, keeping the global first
    * occurrence: every token position covered by a flagged non-canonical
    * window occurrence is removed; the canonical occurrence (min
    * (doc, pos) per hash) keeps its text. TOTAL over documents.
    *
    * Output: idCol, n_words, n_removed, cleaned (the q54/q111 cleaning
    * contract). */
  def crossDocExcise(
      df: DataFrame,
      idCol: String,
      textCol: String,
      l: Int): DataFrame = {
    val occ = spanWindows(df, idCol, textCol, l)
    val canon = occ.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("n_docs"),
        min(struct(col(idCol).as("d"), col("i"))).as("first"))
      .filter(col("n_docs") >= 2)
      .select(col("h"), col("first.d").as("fd"), col("first.i").as("fi"))
    val bad = occ.join(canon, Seq("h"))
      .filter(!(col(idCol) === col("fd") && col("i") === col("fi")))
    val covered = bad
      .select(col(idCol), explode(sequence(col("i"), col("i") + l - 1))
        .as("pos"))
      .distinct()
    val toks = df.select(col(idCol),
        posexplode_outer(split(trim(col(textCol)), "\\s+"))
          .as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).as("pos"), col("tok"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
      .filter(col("tok").isNotNull && col("tok") =!= "")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ",
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok"))).as("cleaned"))
    val nWords = df.select(col(idCol),
      size(filter(split(trim(col(textCol)), "\\s+"), t => t =!= ""))
        .cast("long").as("n_words"))
    nWords.join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_words"),
        (col("n_words") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned"), lit("")).as("cleaned"))
  }

  /** Order-invariant corpus DIGEST — the replication/ETL integrity check
    * at 100 TB: two independent combines of the per-row md5-52bit hash
    * (XOR, and an exact wide-decimal SUM — sum-of-longs would overflow
    * and ANSI-throw at ~2^12 rows of 52-bit values) plus the count, per
    * group and grand-total. Equal digests ⇔ equal row MULTISETS, with no
    * sort anywhere — two clusters can fingerprint a copy independently
    * and compare three scalars per slice. XOR alone is blind to
    * even-multiplicity duplicates; the decimal sum covers that, and the
    * count covers cardinality. The sum crosses the engine boundary as a
    * STRING (Spark decimal vs DuckDB hugeint would not compare raw).
    *
    * Null-safe: null cells fold to a reserved byte, so (null) and ("")
    * hash apart; columns are joined with a non-printing separator so
    * ("ab","c") and ("a","bc") hash apart.
    */
  def corpusDigest(
      df: DataFrame,
      groupCol: String,
      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "digest needs at least one column")
    val rowKey = concat_ws("\u0001",
      cols.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)
    val h = conv(substring(md5(rowKey), 1, 13), 16, 10).cast("long")
    df.select(coalesce(col(groupCol), lit("<null>")).as(groupCol),
        h.as("__h"))
      .rollup(col(groupCol))
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_digest"),
        sum(col("__h").cast("decimal(38,0)")).cast("string")
          .as("sum_digest"))
      .select(coalesce(col(groupCol), lit("<all>")).as(groupCol),
        col("n_rows"), col("xor_digest"), col("sum_digest"))
  }

  /** Fuzzy string self-join: all pairs of DISTINCT values of `nameCol`
    * within Levenshtein distance `maxDist`, with each value's carrier
    * row count — entity-resolution blocking for catalog/name columns
    * ("cold bolt" ↔ "old bolt").
    *
    * Scale discipline: the corpus pays ONE groupBy (the distinct-name
    * relation with counts); everything quadratic runs on that relation,
    * which is VOCABULARY-bounded the way the token relations are — at
    * 100 TB the name universe grows like a dictionary, not like the
    * table. Candidate generation is exact length banding (an edit can
    * change length by at most 1, so |len(a) − len(b)| ≤ maxDist): each
    * name exploded to its 2·maxDist+1 admissible partner lengths and
    * equi-joined on length — a hash join, never a cartesian — then the
    * O(len²) verify runs only on banded candidates. (A q-gram count
    * filter would prune further but is only sound for names longer than
    * q·(maxDist+1), which short catalog names violate — exactness first.)
    *
    * Output: (name_a, name_b, dist, n_rows_a, n_rows_b), name_a < name_b.
    */
  def fuzzyNameJoin(
      df: DataFrame,
      nameCol: String,
      maxDist: Int): DataFrame =
    fuzzyNameJoinFromNames(
      df.groupBy(col(nameCol).as("name")).agg(count(lit(1)).as("n_rows")),
      maxDist)

  /** [[fuzzyNameJoin]] over a PRE-AGGREGATED (name, n_rows) relation —
    * for pipelines that already built the distinct-name relation (e.g.
    * the q185 entity-resolution composition), so the corpus is not
    * scanned and hash-aggregated a second time. */
  def fuzzyNameJoinFromNames(
      names: DataFrame,
      maxDist: Int): DataFrame = {
    require(maxDist >= 1 && maxDist <= 8, "maxDist in [1, 8]")
    val probe = names.select(col("name").as("name_a"),
      col("n_rows").as("n_rows_a"),
      explode(sequence(length(col("name")) - maxDist,
        length(col("name")) + maxDist)).as("lb"))
      .filter(col("lb") >= 1)
    probe.join(
      names.select(col("name").as("name_b"), col("n_rows").as("n_rows_b"),
        length(col("name")).as("lb")),
      Seq("lb"))
      .filter(col("name_a") < col("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= maxDist)
      .select(col("name_a"), col("name_b"), col("dist"),
        col("n_rows_a"), col("n_rows_b"))
  }
}
