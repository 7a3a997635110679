package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Top-level and public for the Janino-serializer reason documented on
  * [[DecodedMedia]]. */
case class DeflateRatio(doc_id: Long, n_bytes: Int, n_deflated: Int,
    ratio: Double)

/** Text-corpus analysis operators for training-data pipelines: tokenization,
  * quality scoring, heuristic language ID, and document fingerprinting.
  *
  * All pure column expressions (whole-stage-codegen friendly, no UDFs): at
  * 100 TB these run inside the parquet scan stage with zero shuffles —
  * per-document work only.
  *
  * Checkpoint lifecycle: a few entries (kn-language bands, the BM25 /
  * sketch rollup pairs) return LAZY frames backed by operator-internal
  * `localCheckpoint` blocks taken through [[Checkpoints.trackedEager]];
  * `Checkpoints.releaseTracked()` frees those blocks irreversibly, so
  * materialize every result you still need BEFORE calling it (the
  * one-action-window contract documented on [[Checkpoints]]).
  */
object TextAnalysis {

  /** Whitespace tokenizer; trims first so edge whitespace yields no empty
    * token. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword proxy: alnum runs + isolated punctuation marks — the
    * common pre-tokenizer shape (letters/digits grouped, punct split off).
    * RE2-safe (no lookarounds) so any engine computes it identically. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z0-9]+"), lit(0))) +
      size(regexp_extract_all(text, lit("[^A-Za-z0-9\\s]"), lit(0)))

  /** Canonical whitespace/case normalization used before hashing. */
  def normalize(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Deterministic document fingerprint: md5 over the normalized text.
    * Portable (identical in any engine with md5) which makes cross-engine
    * dedup joins possible.
    */
  def fingerprint(text: Column): Column = md5(normalize(text))

  val EnglishStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it")

  /** Number of distinct marker words present (padded substring match — no
    * array ops, so semantics are trivially portable). */
  def stopwordHits(text: Column, words: Seq[String] = EnglishStopwords): Column = {
    val padded = concat(lit(" "), lower(trim(text)), lit(" "))
    words.map(w => when(padded.contains(s" $w "), 1).otherwise(0))
      .reduce((a, b) => a + b)
  }

  /** N-gram-heuristic language ID: stopword-marker voting with an `en`
    * default threshold. (The container has no language-ID model; this is the
    * classic stopword-profile heuristic.) */
  def langId(text: Column, minHits: Int = 2): Column =
    when(stopwordHits(text) >= minHits, "en").otherwise("unknown")

  def vowelRatio(text: Column): Column =
    length(regexp_replace(lower(text), "[^aeiou]", "")).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  /** Composite document-quality heuristic: length band + token band + vowel
    * ratio — the length/punct/stopword-ratio family of filters used to score
    * web text for training corpora. 0..3, higher = better.
    */
  def qualityScore(text: Column): Column =
    when(length(text).between(20, 100000), 1).otherwise(0) +
      when(tokenCount(text).between(5, 20000), 1).otherwise(0) +
      when(vowelRatio(text) > 0.15, 1).otherwise(0)

  /** BM25 relevance scores (Robertson/Spärck Jones; the Lucene-style
    * non-negative `ln(1 + (N-df+0.5)/(df+0.5))` idf) of every document
    * against a bag of query terms — the standard lexical ranking function,
    * used in training-data pipelines for quality-by-relevance filtering and
    * retrieval-based decontamination.
    *
    * Shape at 100 TB: the term filter runs BEFORE the (doc, term) shuffle
    * (only query-term hits ever leave the scan stage); `df` (one row per
    * query term) and the global (N, avgdl) scalar are broadcast — the
    * corpus-sized side shuffles once on the doc key. Per-term scores are
    * combined by FIXED-ORDER addition over pivoted columns (one conditional
    * sum per term, each over ≤1 row), so the result is deterministic and
    * engine-portable — a bare `sum` over the per-term rows would re-order
    * float addition per partitioning.
    *
    * Returns (idCol, score) for every document matching ≥1 term.
    */
  def bm25Scores(
      df: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25Scores needs at least one query term")
    // a repeated query term would get two identical pivot columns and
    // double-count its score — dedupe up front, preserving first-seen order
    // so the fixed-order addition is stable for any equivalent input bag
    val qTerms = terms.distinct
    val toks = df.select(col(idCol), tokens(col(textCol)).as("t"))
    val dl = toks.select(col(idCol), size(col("t")).cast("long").as("dl"))
    // integer-sum / count: exact, so avgdl is the same double in any engine
    val st = dl.agg(count(lit(1)).as("n"),
      (sum(col("dl")).cast("double") / count(lit(1)).cast("double")).as("avgdl"))
    val tf = toks.select(col(idCol), explode(col("t")).as("term"))
      .filter(col("term").isin(qTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq(idCol))
      .crossJoin(broadcast(st))
      .select(col(idCol), col("term"),
        (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
          * (col("tf") * lit(k1 + 1.0))
          / (col("tf") + lit(k1) *
            (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))).as("s"))
    val perTerm = scored.groupBy(col(idCol)).agg(
      sum(when(col("term") === qTerms.head, col("s"))).as(s"s_0"),
      qTerms.tail.zipWithIndex.map { case (t, i) =>
        sum(when(col("term") === t, col("s"))).as(s"s_${i + 1}")
      }: _*)
    val total = qTerms.indices
      .map(i => coalesce(col(s"s_$i"), lit(0.0)))
      .reduce(_ + _)
    perTerm.select(col(idCol), total.as("score"))
  }

  /** Fixed-size token chunking with overlap — the RAG-indexing /
    * context-packing primitive (complementing content-defined rolling-hash
    * chunking in [[graft.functions.RollingHashChunks]], which is
    * boundary-stable under edits but not SQL-expressible): windows of
    * `size` tokens starting every `step` tokens. A window is emitted only
    * if it covers at least one token the previous window did not — i.e.
    * `1 + max(0, ceil((n - size) / step))` chunks — so overlapping tails
    * never produce fully-duplicate chunks; short docs yield exactly one
    * chunk.
    *
    * Pure codegen'd expressions (tokens → `sequence` of starts → explode →
    * `slice`): per-document scan-stage work, zero shuffles at any corpus
    * size.
    */
  def tokenChunks(
      df: DataFrame,
      idCol: String,
      textCol: String,
      size: Int,
      step: Int): DataFrame = {
    require(size >= 1 && step >= 1 && step <= size,
      s"need 1 <= step <= size, got size=$size step=$step")
    val toks = df.select(col(idCol), tokens(col(textCol)).as("t"))
      .withColumn("n", org.apache.spark.sql.functions.size(col("t")))
    // 0-based chunk starts: 0, step, …, (nChunks-1)*step with
    // nChunks = 1 + max(0, ceil((n - size) / step)) — the last window is
    // the first one reaching the final token, so no chunk is a pure
    // duplicate of its predecessor. Integer ceil via (x + step - 1) div
    // step; a negative numerator (short doc) clamps to 0 either way.
    // floor-div via double divide is exact here: the quotient is ≥ 1/step
    // away from any other integer for token counts far below 2^40
    val lastStart =
      (floor(greatest((col("n") - size + (step - 1)).cast("long"), lit(0L)) /
        lit(step.toLong)).cast("int") * step).cast("int")
    val starts = sequence(lit(0), lastStart, lit(step))
    toks.select(col(idCol), col("t"), col("n"),
        posexplode(starts).as(Seq("chunk_no", "start")))
      .select(col(idCol), col("chunk_no"),
        concat_ws(" ", slice(col("t"), col("start") + 1, lit(size))).as("chunk"),
        least(lit(size), col("n") - col("start")).as("chunk_tokens"))
  }

  /** Corpus vocabulary statistics: the `k` most frequent word n-grams with
    * occurrence and document-frequency counts — the first pass of any
    * vocab/BPE-seed build and the input to stop-shingle selection.
    *
    * Shape at 100 TB: two-level aggregation — (doc, shingle) partial counts
    * first (map-side combinable; bounds any single reducer key by the
    * per-doc count, not the corpus count), then the shingle rollup; the
    * final top-k is a TakeOrdered over the aggregated vocabulary, never a
    * global sort of the corpus.
    */
  def topNgrams(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      k: Int): DataFrame = {
    val perDoc = Dedup.shingleRows(df, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
    val vocab = perDoc.groupBy(col("shingle")).agg(
      sum(col("c")).as("occurrences"),
      count(lit(1)).as("doc_freq"))
    // TakeOrdered bounds the sort to k rows per partition; rank is then one
    // row_number over those k survivors (a single tiny-window pass — the
    // earlier orderBy+limit already totally ordered them)
    val top = vocab
      .orderBy(col("occurrences").desc, col("shingle").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("occurrences").desc, col("shingle").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("shingle"), col("occurrences"), col("doc_freq"), col("rank"))
  }

  /** The BPE-ish pre-tokenizer word stream: alnum runs + isolated
    * punctuation, in document order — the same RE2-safe split
    * [[bpeishTokenCount]] counts, kept as one extract so adjacency is
    * preserved for [[bpePairCounts]]/[[continuationCounts]]. */
  private def preTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))

  /** First BPE-training iteration: adjacent-symbol pair frequencies over
    * the pre-tokenized corpus, top-k by count (Sennrich et al. '16 — the
    * merge a BPE trainer would pick next is the argmax of exactly this
    * table; iterating merge+recount is the full trainer).
    *
    * Shape at 100 TB: the classic trainer trick — aggregate to the WORD
    * FREQUENCY table first (one shuffle, vocab-bounded, map-side
    * combinable), then explode each distinct word's ≤len-1 adjacent pairs
    * weighted by its count (pair work scales with vocabulary size, not
    * corpus size), one more vocab-bounded aggregation, TakeOrdered top-k.
    * The corpus itself is touched once, scan-stage only.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val wf = df.select(explode(preTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
    // sequence(1, len-1) inverts for 1-char words (the q81 descending-
    // sequence trap) — filter them before the explode
    val pairs = wf.filter(length(col("w")) >= 2)
      .select(col("wcnt"),
        explode(transform(sequence(lit(1), length(col("w")) - 1),
          i => col("w").substr(i, lit(2)))).as("pair"))
    val agg = pairs.groupBy(col("pair")).agg(sum(col("wcnt")).as("n"))
    val top = agg.orderBy(col("n").desc, col("pair").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("pair"), col("n"), col("rank"))
  }

  /** One greedy left-to-right merge round over a symbol array: every
    * non-overlapping adjacent (a, b) becomes the single symbol a||b,
    * scanning left to right — "aaa" under (a, a) → [aa, a], the standard
    * BPE apply order. A pure `aggregate` fold (no UDF): the accumulator
    * appends each symbol unless the previous output symbol is exactly `a`
    * and the current is `b`, in which case the tail is replaced by the
    * merged symbol. Overlap is handled for free: the merged symbol a||b
    * can never equal `a` (b is non-empty), so it cannot immediately
    * re-merge as a left operand. */
  private[operators] def mergeSyms(syms: Column, a: Column, b: Column): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(
        size(acc) > 0 && element_at(acc, -1) === a && s === b,
        concat(slice(acc, lit(1), size(acc) - 1), array(concat(a, b))))
        .otherwise(concat(acc, array(s))))

  /** Full iterative BPE training loop (Sennrich et al. '16): initialize
    * every distinct word as its character sequence, then `nMerges` rounds
    * of: count adjacent symbol pairs weighted by word frequency → merge
    * the argmax pair (count desc, then (left, right) lexicographic — a
    * total, deterministic tiebreak) → rewrite every word's symbols via
    * [[mergeSyms]]. Returns the merge table (rnd, left, right, merged, n)
    * — the artifact a tokenizer ships ([[bpePairCounts]] is exactly one
    * round of the counting step).
    *
    * Shape at 100 TB: the corpus is touched ONCE (the word-frequency
    * aggregation, map-side combinable); every loop iteration runs on the
    * vocab-bounded distinct-word relation — pair counting explodes ≤len-1
    * structs per DISTINCT word, the argmax is a 1-row TakeOrdered (the
    * only per-round driver materialization, bounded by construction), and
    * the rewrite is a scan-stage fold. `localCheckpoint` per round cuts
    * the otherwise exponentially-nesting lineage (round r's plan would
    * embed all r-1 prior rewrites). The interpreted higher-order
    * `aggregate` is acceptable here because it runs over the vocabulary,
    * not the corpus. Stops early when no pair remains (all words fully
    * merged).
    */
  def bpeTrain(df: DataFrame, textCol: String, nMerges: Int): DataFrame = {
    val spark = df.sparkSession
    require(nMerges >= 1, "nMerges must be >= 1")
    var wf = df.select(explode(preTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .select(col("wcnt"),
        transform(sequence(lit(1), length(col("w"))),
          i => col("w").substr(i, lit(1))).as("syms"))
      .transform(Checkpoints.trackedEagerPinned)
    var ck = wf // the live checkpointed generation (rolling release)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var r = 0
    var sinceCk = 0
    var exhausted = false
    while (r < nMerges && !exhausted) {
      val top = wf.filter(size(col("syms")) >= 2)
        .select(col("wcnt"),
          explode(transform(sequence(lit(1), size(col("syms")) - 1),
            i => struct(element_at(col("syms"), i).as("a"),
              element_at(col("syms"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("wcnt")).as("n"))
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1),
          top(0).getLong(2))
        merges += ((r + 1, a, b, n))
        wf = wf.select(col("wcnt"),
          mergeSyms(col("syms"), lit(a), lit(b)).as("syms"))
        // This lane is scheduling-floor-bound, not data-bound (isolated
        // min-of-2 is ~3.4 s at sf0.001 AND sf0.1): with an eager
        // checkpoint every round, 20 rounds cost 40 sequential job
        // round-trips on a vocab-sized relation. Checkpoint every 4th
        // round instead — the un-checkpointed mergeSyms projections are
        // narrow and re-fuse into the next round's scan stage, so
        // lineage (and codegen nesting) stays ≤ 4 deep while half the
        // per-round jobs disappear. Semantics identical: the greedy
        // sequential merge order is decided by the TakeOrdered job, not
        // by where lineage is cut.
        sinceCk += 1
        if (sinceCk == 4) {
          // rolling release (Checkpoints lifecycle): the new eager
          // checkpoint is the only reader of the old one — O(1) live
          // checkpointed generations instead of rounds/4
          val next = wf.transform(Checkpoints.trackedEagerPinned)
          Checkpoints.release(ck)
          ck = next
          wf = next
          sinceCk = 0
        }
        r += 1
      }
    }
    // the merge table is driver-side; nothing reads wf past this point
    Checkpoints.release(ck)
    import spark.implicits._
    merges.toSeq.toDF("rnd", "left", "right", "n")
      .select(col("rnd"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"), col("n"))
  }

  /** Encode the corpus with a TRAINED merge list ([[bpeTrain]]'s output
    * order): the tokenizer-apply step. Each pre-token's characters are
    * wrapped `\u0001sym\u0002` and the words joined by `\u0003`, then the
    * merges are applied IN TRAINING ORDER as a chain of plain
    * `replace(str, search, replacement)` calls — string replace IS the
    * greedy left-to-right non-overlapping merge (same semantics as
    * training's [[mergeSyms]] fold, proven by the q98 oracle), the
    * wrapping makes cross-symbol matches impossible, and the `\u0003`
    * word joiner breaks any cross-word match. Everything is a codegen'd
    * scan-stage expression — the merge list rides into the plan as
    * literals, the corpus is never shuffled, and unlike training there is
    * no per-round job: one pass, N nested replaces.
    *
    * Returns (idCol, n_tokens, encoded) where `encoded` is the BPE symbol
    * sequence joined by single spaces (pre-tokens never contain
    * whitespace, so the join is unambiguous).
    *
    * The corpus must not contain U+0001–U+0003 (true of any sane text
    * corpus; the q98 gate data is verified clean).
    */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val (so, sc, wj) = ("\u0001", "\u0002", "\u0003") // sym open/close, word joiner
    val wrapped = concat_ws(wj,
      transform(preTokens(col(textCol)),
        w => regexp_replace(w, "(.)", so + "$1" + sc)))
    val applied = merges.foldLeft(wrapped) { case (c, (a, b)) =>
      org.apache.spark.sql.functions.replace(c,
        lit(so + a + sc + so + b + sc), lit(so + a + b + sc))
    }
    val toks = regexp_extract_all(applied,
      lit(so + "([^" + sc + "]+)" + sc), lit(1))
    df.select(col(idCol), size(toks).as("n_tokens"),
      concat_ws(" ", toks).as("encoded"))
  }


  /** Greedy longest-match segmentation of one word against a vocabulary
    * (WordPiece inference, Devlin et al. '19 / the MaxMatch algorithm): at
    * each position take the longest vocabulary piece (≤ maxPieceLen) that
    * prefixes the remainder; single characters fall through even when
    * absent from the map, so segmentation is total. A pure higher-order
    * `aggregate` fold — at most length(w) steps, each trying piece
    * lengths descending via `filter` + `element_at(_, 1)`.
    *
    * Deliberately float-free: longest-match is decided by integer
    * lengths and map membership only, so the segmentation (and every
    * count derived from it in [[wordpieceTrain]]) is bit-identical in any
    * engine — the same portability argument as the md5-based minhash.
    * Intended for VOCAB-BOUNDED relations (distinct words), not raw
    * corpus rows: the interpreted fold is the same cost class as
    * [[bpeTrain]]'s mergeSyms.
    */
  private[operators] def longestMatchSegment(
      w: Column, vocab: Column, maxPieceLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(lit(1).as("pos"), array().cast("array<string>").as("pieces")),
      (acc, _) => {
        val pos = acc.getField("pos")
        val rem = length(w) - pos + lit(1)
        val lens = sequence(least(lit(maxPieceLen), rem), lit(1), lit(-1))
        val best = coalesce(
          try_element_at(
            filter(lens, l => element_at(vocab, w.substr(pos, l)).isNotNull),
            lit(1)),
          lit(1))
        when(pos > length(w), acc).otherwise(
          struct((pos + best).as("pos"),
            concat(acc.getField("pieces"),
              array(w.substr(pos, best))).as("pieces")))
      },
      acc => acc.getField("pieces"))

  /** WordPiece-style subword vocabulary trainer: frequency-seeded
    * candidates + iterative longest-match re-estimation and pruning (the
    * unigram-LM training loop of Kudo '18 with the E-step hardened to
    * MaxMatch segmentation — trading the likelihood objective for a
    * float-free, engine-portable one; the BPE trainer in [[bpeTrain]] is
    * the merge-based alternative).
    *
    *  1. word-frequency table (the ONE corpus pass, map-side combinable);
    *  2. seed: every substring of every distinct word up to `maxPieceLen`
    *     chars, weighted by word frequency; keep the `seedSize` most
    *     frequent multi-char substrings plus ALL single characters (so
    *     segmentation always totals);
    *  3. `rounds` iterations: segment each DISTINCT word by longest
    *     match, re-count pieces weighted by word frequency, prune the
    *     multi-char vocabulary to a linearly shrinking budget ending at
    *     `vocabSize` (ties broken count-desc then piece-asc — total and
    *     deterministic);
    *  4. return the final vocabulary with its end-state segmentation
    *     counts (unused survivors carry n=0) and a total-order rank.
    *
    * Shape at 100 TB: the corpus is touched once; every EM round runs on
    * the vocab-bounded distinct-word relation (Heaps'-law bounded, the
    * same two-level aggregation as [[bpeTrain]]), and the only driver
    * materializations are the pruned piece lists — ≤ seedSize rows by
    * construction — which re-enter each round's plan as a literal map.
    */
  def wordpieceTrain(df: DataFrame, textCol: String, seedSize: Int,
      vocabSize: Int, maxPieceLen: Int, rounds: Int): DataFrame = {
    require(seedSize >= vocabSize && vocabSize >= 1 && rounds >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val wf = df // returned join reads wf via segCounts
      .select(explode(preTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .transform(Checkpoints.trackedEager)
    // bounded collect: ≤ k multi-char pieces + the character alphabet
    def keepTop(counts: DataFrame, k: Int): Seq[String] = {
      val chars = counts.filter(length(col("piece")) === 1)
      val multi = counts.filter(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece").asc).limit(k)
      chars.select("piece").unionAll(multi.select("piece"))
        .collect().map(_.getString(0)).toSeq.distinct.sorted
    }
    def segCounts(vocab: Seq[String]): DataFrame = {
      val vmap = typedLit(vocab.map(_ -> 1).toMap)
      wf.select(col("wcnt"),
        explode(longestMatchSegment(col("w"), vmap, maxPieceLen)).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wcnt")).as("n"))
    }
    val subs = wf.select(col("wcnt"),
      explode(flatten(transform(sequence(lit(1), length(col("w"))), i =>
        transform(sequence(i, least(length(col("w")), i + lit(maxPieceLen - 1))),
          j => col("w").substr(i, j - i + 1))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("n"))
    var vocab = keepTop(subs, seedSize)
    for (r <- 1 to rounds) {
      // integer-exact linear budget schedule seedSize → vocabSize
      val k = vocabSize + (seedSize - vocabSize) * (rounds - r) / rounds
      vocab = keepTop(segCounts(vocab), k)
    }
    val fin = vocab.toDF("piece")
    fin.join(segCounts(vocab), Seq("piece"), "left")
      .select(col("piece"), coalesce(col("n"), lit(0L)).as("n"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("piece").asc)))
  }

  /** Encode the corpus with a trained WordPiece vocabulary
    * ([[wordpieceTrain]]'s `piece` column): the tokenizer-apply step.
    * Returns (idCol, n_tokens, encoded) — [[bpeEncode]]'s contract.
    *
    * Shape at 100 TB: segmentation is a pure function of the WORD, so it
    * is computed once per DISTINCT word (the vocab-bounded relation) and
    * the corpus apply is a broadcast join on the word — the corpus itself
    * is never shuffled on a data key; the one wide stage is the per-doc
    * reassembly groupBy. Word order is restored by `sort_array` over
    * (pos, pieces) structs, so the output is independent of partitioning.
    */
  def wordpieceEncode(df: DataFrame, idCol: String, textCol: String,
      pieces: Seq[String], maxPieceLen: Int): DataFrame = {
    val vmap = typedLit(pieces.map(_ -> 1).toMap)
    // the broadcast relation carries the word's PRE-JOINED encoding and
    // its token count, not the piece array: the per-doc gather then
    // holds one flat string per word instead of a nested array of
    // per-piece strings — ~3× fewer heap objects through the
    // collect_list state, which is this operator's memory hot spot
    val seg = df.select(explode(preTokens(col(textCol))).as("w")).distinct()
      .select(col("w"),
        longestMatchSegment(col("w"), vmap, maxPieceLen).as("pieces"))
      .select(col("w"), concat_ws(" ", col("pieces")).as("enc_w"),
        size(col("pieces")).as("n_w"))
    df.select(col(idCol),
        posexplode_outer(preTokens(col(textCol))).as(Seq("pos", "w")))
      .join(broadcast(seg), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(coalesce(sum(col("n_w")), lit(0L)).cast("int").as("n_tokens"),
        sort_array(collect_list(struct(col("pos"), col("enc_w")))).as("sp"))
      .select(col(idCol), col("n_tokens"),
        concat_ws(" ", transform(col("sp"), s => s.getField("enc_w")))
          .as("encoded"))
  }

  // ---- Unigram-LM tokenizer (Kudo '18) ----------------------------------
  // The third tokenizer family, completing BPE (merge-based, [[bpeTrain]])
  // and WordPiece (greedy longest-match, [[wordpieceTrain]]): a unigram
  // LANGUAGE MODEL over pieces, segmenting by Viterbi — the segmentation
  // that MAXIMIZES Σ log p(piece) — and training by hard EM (Viterbi
  // counts re-estimate the piece probabilities; SentencePiece's own
  // E-step offers the 1-best variant). Everything below is pure Column
  // expressions (aggregate folds — zero UDFs), intended for the
  // vocab-bounded DISTINCT-WORD relation, never raw corpus rows.

  /** Viterbi DP table for one word under a piece→logp map: returns
    * array<struct<sc,bp>> of length len+1 where entry j+1 is dp[j] —
    * best score of any segmentation of the first j chars, and the length
    * (`bp`) of the piece that ends it. Candidates are pieces of length
    * 1..maxPieceLen present in the vocab; a single char ABSENT from the
    * vocab falls back to logp −100.0 (the UNK floor — keeps the DP total
    * on unseen characters, exact literal on both engines). Ties prefer
    * the SHORTEST piece (struct max on (sc, −l)): deterministic,
    * replayed by the oracle's `greatest` over the same structs. */
  private[operators] def viterbiDp(
      w: Column, vocabLogp: Column, maxPieceLen: Int): Column =
    aggregate(
      sequence(lit(1), length(w)),
      array(struct(lit(0.0).as("sc"), lit(0).as("lneg"))),
      (acc, j) => {
        val cands = (1 to maxPieceLen).map { l =>
          when(j >= l, {
            val piece = w.substr(j - lit(l) + 1, lit(l))
            val prev = element_at(acc, (j - lit(l) + 1).cast("int"))
              .getField("sc")
            val lp =
              if (l == 1) coalesce(element_at(vocabLogp, piece), lit(-100.0))
              else element_at(vocabLogp, piece)
            when(lp.isNotNull,
              struct((prev + lp).as("sc"), lit(-l).as("lneg")))
          })
        }
        concat(acc, array(array_max(array(cands: _*))))
      })

  /** Backtrace [[viterbiDp]]'s table into the winning piece array. */
  private[operators] def viterbiPieces(w: Column, dp: Column): Column =
    aggregate(
      sequence(lit(1), length(w)),
      struct(length(w).cast("int").as("pos"),
        array().cast("array<string>").as("pieces")),
      (acc, _) => {
        val pos = acc.getField("pos")
        when(pos <= 0, acc).otherwise {
          val bp = -element_at(dp, pos + 1).getField("lneg")
          struct((pos - bp).cast("int").as("pos"),
            concat(array(w.substr(pos - bp + 1, bp)),
              acc.getField("pieces")).as("pieces"))
        }
      },
      acc => acc.getField("pieces"))

  /** Laplace-smoothed piece log-probs, floor-snapped to 6dp (the q139
    * decimal-grid firewall: `ln` last-ulp behavior differs across libms,
    * so every engine snaps the SAME chain `floor(x·10⁶ + 0.5)/10⁶`
    * before any score is compared or emitted). */
  private def unigramLogp(v: Seq[(String, Long)]): Seq[(String, Double)] = {
    val tot = v.map(_._2).sum.toDouble
    val nv = v.size.toDouble
    v.map { case (p, n) =>
      p -> math.floor(math.log((n + 1.0) / (tot + nv)) * 1e6 + 0.5) / 1e6
    }
  }

  /** Unigram-LM vocabulary trainer (Kudo '18, hard-EM/Viterbi variant):
    *
    *  1. word-frequency table — the ONE corpus pass;
    *  2. seed: substring counts up to `maxPieceLen`, keep the `seedSize`
    *     most frequent multi-char pieces + ALL single chars (totality);
    *  3. `rounds` hard-EM iterations: Viterbi-segment every DISTINCT
    *     word under the current piece log-probs (E), re-count pieces
    *     weighted by word frequency and re-estimate Laplace log-probs
    *     (M), prune multi-char pieces to the linearly shrinking budget
    *     (ties n-desc then piece-asc — [[wordpieceTrain]]'s schedule);
    *  4. final Viterbi pass under the final probs → output counts.
    *
    * vs [[wordpieceTrain]]: same loop shape, but the E-step OPTIMIZES
    * the unigram likelihood instead of greedy longest-match — "choose
    * the segmentation the model scores best", which is what lets unigram
    * recover from a bad greedy prefix (the 'un'+'able' vs 'u'+'nable'
    * class of errors).
    *
    * Shape at 100 TB: corpus touched once; every EM round runs on the
    * vocab-bounded distinct-word relation; driver materializations are
    * the pruned (piece, count) lists — ≤ seedSize + alphabet rows —
    * which re-enter the plan as literal maps (the wordpiece contract).
    *
    * Output: piece, n (final Viterbi count), logp (6dp-snapped Laplace
    * over the final counts), rank (n desc, piece asc). */
  def unigramTrain(df: DataFrame, textCol: String, seedSize: Int,
      vocabSize: Int, maxPieceLen: Int, rounds: Int): DataFrame = {
    require(seedSize >= vocabSize && vocabSize >= 1 && rounds >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val wf = df.select(explode(preTokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("wcnt"))
      .transform(Checkpoints.trackedEager)
    val subs = wf.select(col("wcnt"),
      explode(flatten(transform(sequence(lit(1), length(col("w"))), i =>
        transform(sequence(i, least(length(col("w")), i + lit(maxPieceLen - 1))),
          j => col("w").substr(i, j - i + 1))))).as("piece"))
      .groupBy(col("piece")).agg(sum(col("wcnt")).as("n"))
    // bounded collects: chars + top-k multi, with counts, piece-sorted
    def keepTop(counts: DataFrame, k: Int): Seq[(String, Long)] = {
      val chars = counts.filter(length(col("piece")) === 1)
        .select("piece", "n").collect()
      val multi = counts.filter(length(col("piece")) > 1)
        .orderBy(col("n").desc, col("piece").asc).limit(k)
        .select("piece", "n").collect()
      (chars ++ multi).map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1).toSeq
    }
    def segCounts(logp: Seq[(String, Double)]): DataFrame = {
      val vmap = typedLit(logp.toMap)
      wf.withColumn("__dp", viterbiDp(col("w"), vmap, maxPieceLen))
        .select(col("wcnt"),
          explode(viterbiPieces(col("w"), col("__dp"))).as("piece"))
        .groupBy(col("piece")).agg(sum(col("wcnt")).as("n"))
    }
    var vocab = keepTop(subs, seedSize)
    for (r <- 1 to rounds) {
      val k = vocabSize + (seedSize - vocabSize) * (rounds - r) / rounds
      val counted = segCounts(unigramLogp(vocab)).collect()
        .map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
      val withN = vocab.map { case (p, _) => (p, counted.getOrElse(p, 0L)) }
      vocab = (withN.filter(_._1.length == 1) ++
        withN.filter(_._1.length > 1)
          .sortBy { case (p, n) => (-n, p) }.take(k)).sortBy(_._1)
    }
    val finalCounts = segCounts(unigramLogp(vocab)).collect()
      .map(r0 => r0.getString(0) -> r0.getLong(1)).toMap
    // the returned frame is built from driver-side literal maps —
    // nothing reads wf past the collect above (Checkpoints lifecycle)
    Checkpoints.release(wf)
    val fin = vocab.map { case (p, _) => (p, finalCounts.getOrElse(p, 0L)) }
    val lp = unigramLogp(fin).toMap
    fin.toDF("piece", "n")
      .select(col("piece"), col("n"),
        element_at(typedLit(lp), col("piece")).as("logp"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("piece").asc)))
  }

  /** Encode the corpus with a trained unigram vocabulary
    * ([[unigramTrain]]'s (piece, logp)): Viterbi segmentation per
    * DISTINCT word (the vocab-bounded relation), broadcast-joined back
    * and reassembled in word order — [[wordpieceEncode]]'s shape and
    * output contract (idCol, n_tokens, encoded), TOTAL over documents. */
  def unigramEncode(df: DataFrame, idCol: String, textCol: String,
      vocabLogp: Seq[(String, Double)], maxPieceLen: Int): DataFrame = {
    val vmap = typedLit(vocabLogp.toMap)
    val seg = df.select(explode(preTokens(col(textCol))).as("w")).distinct()
      .withColumn("__dp", viterbiDp(col("w"), vmap, maxPieceLen))
      .select(col("w"), viterbiPieces(col("w"), col("__dp")).as("pieces"))
      .select(col("w"), concat_ws(" ", col("pieces")).as("enc_w"),
        size(col("pieces")).as("n_w"))
    df.select(col(idCol),
        posexplode_outer(preTokens(col(textCol))).as(Seq("pos", "w")))
      .join(broadcast(seg), Seq("w"), "left")
      .groupBy(col(idCol))
      .agg(coalesce(sum(col("n_w")), lit(0L)).cast("int").as("n_tokens"),
        sort_array(collect_list(struct(col("pos"), col("enc_w")))).as("sp"))
      .select(col(idCol), col("n_tokens"),
        concat_ws(" ", transform(col("sp"), s => s.getField("enc_w")))
          .as("encoded"))
  }

  /** Kneser–Ney continuation counts: for each word, the number of DISTINCT
    * predecessors it follows (the KN lower-order numerator — "how many
    * contexts license this word"), plus its raw bigram occurrence count;
    * top-k by continuations. The complement to [[topNgrams]]' raw
    * frequencies in an LM-statistics pass.
    *
    * Shape at 100 TB: bigrams are built per document at scan stage (pure
    * expressions over the pre-token array — adjacency never crosses a
    * shuffle), then ONE corpus pass: a (w1, w2) count reduction (map-side
    * combinable, bounded by the bigram vocabulary) rolled up per w2 —
    * count(*) of the pair relation IS count(distinct w1), and summing its
    * counts recovers raw occurrences, so no second scan and no join. */
  def continuationCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    val ws = preTokens(col(textCol))
    val bigrams = df.select(ws.as("ws"))
      .filter(size(col("ws")) >= 2) // sequence(1, 0) inverts — same trap
      .select(explode(transform(sequence(lit(1), size(col("ws")) - 1),
        i => struct(element_at(col("ws"), i).as("w1"),
          element_at(col("ws"), i + 1).as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val pairCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val cc = pairCounts.groupBy(col("w2"))
      .agg(count(lit(1)).as("continuations"), sum(col("c")).as("occurrences"))
      .select(col("w2").as("word"), col("continuations"), col("occurrences"))
    val top = cc.orderBy(col("continuations").desc, col("word").asc).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("continuations").desc, col("word").asc)
    top.withColumn("rank", row_number().over(w))
      .select(col("word"), col("continuations"), col("occurrences"), col("rank"))
  }

  /** Compression-ratio quality signal: DEFLATE size over raw UTF-8 size per
    * document — the model-free redundancy detector (highly repetitive /
    * templated text compresses far below ~0.4; near-random noise sits near
    * 1.0), used alongside [[qualityScore]] and [[repetitionProfile]] in
    * web-corpus filtering. Per-partition batch shape with ONE reused
    * `Deflater` (native zlib state is the expensive part — the
    * [[Multimodal.decodeImages]] codec-per-partition pattern, a sequential
    * native-buffer loop no `Expression` can express). Ratio is
    * `n_deflated / max(n_bytes, 1)` rounded to 4dp; not oracle-portable
    * (DuckDB has no deflate) → golden-pinned lane like q39.
    */
  def deflateRatios(df: DataFrame, idCol: String, textCol: String,
      level: Int = 6): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { rows =>
        val deflater = new java.util.zip.Deflater(level)
        // the exhausted-iterator hook below never fires for an
        // early-terminated consumer (limit/take/failed task) — the task
        // completion listener covers those, and end() is idempotent so
        // double-release on the normal path is safe
        Option(org.apache.spark.TaskContext.get()).foreach(
          _.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        val mapped = rows.map { case (id, text) =>
          val in = (if (text == null) "" else text).getBytes("UTF-8")
          deflater.reset()
          deflater.setInput(in)
          deflater.finish()
          var out = 0
          while (!deflater.finished()) out += deflater.deflate(buf)
          val ratio = out.toDouble / math.max(in.length, 1)
          DeflateRatio(id, in.length, out,
            BigDecimal(ratio).setScale(4, BigDecimal.RoundingMode.HALF_UP)
              .toDouble)
        }
        // release the native zlib state at partition end (end() is
        // idempotent, so repeated exhausted hasNext calls are safe)
        new Iterator[DeflateRatio] {
          override def hasNext: Boolean = {
            val h = mapped.hasNext
            if (!h) deflater.end()
            h
          }
          override def next(): DeflateRatio = mapped.next()
        }
      }
      .toDF()
  }

  /** Misra–Gries frequent-items sketch (bounded at `k` counters) as a typed
    * Aggregator: `reduce` is the classic decrement-on-overflow step,
    * `merge` the Agarwal et al. 2012 mergeable-summaries rule (sum counts,
    * subtract the (k+1)-th largest, keep positives). Both preserve the
    * N/(k+1) undercount bound, so with k ≥ 1/θ the surviving keys are a
    * guaranteed SUPERSET of every θ-heavy token — no false negatives for
    * [[heavyHitters]]' exact recount to miss.
    */
  /** The MG sketch as a typed column, for callers that run it as a
    * (streaming) aggregation themselves — the sketch is mergeable, so it
    * is complete-mode-streamable with k counters of state (q166). */
  def misraGriesColumn(
      k: Int): org.apache.spark.sql.TypedColumn[String, Seq[String]] =
    new MisraGriesAggregator(k).toColumn

  private class MisraGriesAggregator(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[
        String, Map[String, Long], Seq[String]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
      b.get(tok) match {
        case Some(c) => b.updated(tok, c + 1L)
        case None if b.size < k => b.updated(tok, 1L)
        case None =>
          b.flatMap { case (t, c) => if (c > 1L) Some(t -> (c - 1L)) else None }
      }
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] = {
      val sum = a ++ b.map { case (t, c) => t -> (a.getOrElse(t, 0L) + c) }
      if (sum.size <= k) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse).apply(k)
        sum.flatMap { case (t, c) =>
          if (c - cut > 0L) Some(t -> (c - cut)) else None }
      }
    }
    override def finish(r: Map[String, Long]): Seq[String] = r.keys.toSeq.sorted
    override def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }

  /** Heavy hitters, exact: every token whose occurrence count is ≥
    * `theta` × total token occurrences — frequent-item detection for vocab
    * pruning / stop-token discovery.
    *
    * Scale shape vs [[topNgrams]]: the two-level aggregation there shuffles
    * the ENTIRE vocabulary; here pass 1 is a Misra–Gries sketch with
    * k = ⌈2/θ⌉ counters — per-task state and shuffle bytes bounded by k,
    * independent of vocabulary size — whose merged survivors (≤ k tokens,
    * the only driver-bound data) are a guaranteed superset of the θ-heavy
    * set. Pass 2 recounts ONLY the candidates (a broadcast-able `isin`
    * filter ahead of the shuffle), so the exact groupBy touches k keys,
    * not the vocab. Results are EXACT — the sketch decides how much work
    * the recount sees, never the answer.
    */
  def heavyHitters(df: DataFrame, textCol: String, theta: Double): DataFrame = {
    require(theta > 0.0 && theta <= 1.0, s"theta must be in (0,1], got $theta")
    val spark = df.sparkSession
    import spark.implicits._
    // 2/θ counters: the N/(k+1) undercount stays strictly below θN/2, so
    // boundary tokens survive the sketch comfortably
    val k = math.max(1, math.ceil(2.0 / theta).toInt)
    val toks = df.select(explode(tokens(col(textCol))).as("token"))
    val candidates = toks.as[String]
      .select(new MisraGriesAggregator(k).toColumn.name("cand"))
      .head()
    if (candidates.isEmpty) return toks.filter(lit(false))
      .groupBy(col("token")).agg(count(lit(1)).as("occurrences"))
    val total = toks.agg(count(lit(1)).as("n")).select(col("n"))
    toks.filter(col("token").isin(candidates: _*))
      .groupBy(col("token")).agg(count(lit(1)).as("occurrences"))
      .crossJoin(broadcast(total))
      .filter(col("occurrences") >= ceil(lit(theta) * col("n")))
      .select(col("token"), col("occurrences"))
  }

  /** Gopher-style intra-document repetition metrics (the Rae et al. 2021
    * repetition filters, the standard web-corpus quality gate alongside
    * [[qualityScore]]):
    *
    *  - `dup_3gram_frac`: fraction of word-3-gram occurrences that are
    *    repeats of an earlier 3-gram in the same document;
    *  - `top_2gram_frac`: fraction of word-2-gram occurrences claimed by the
    *    document's single most frequent 2-gram;
    *  - `n_3grams`: 3-gram occurrence count (the denominator, for
    *    threshold tuning).
    *
    * Shape: two doc-keyed aggregation chains over the codegen'd
    * [[Dedup.shingleRows]] multiset (shuffles are keyed by (doc, shingle)
    * then doc — map-side combinable, never corpus-global) joined on the doc
    * key. A pure array-expression form (`array_distinct` on a per-doc
    * shingle array) would avoid the shuffles but needs an interpreted
    * higher-order fold for the top-count and holds each document's whole
    * shingle array in one row — the aggregation shape stays codegen'd and
    * bounded regardless of document length.
    */
  def repetitionProfile(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def stats(n: Int) = Dedup.shingleRows(df, idCol, textCol, n)
      .groupBy(col(idCol), col("shingle")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("total"),
        count(lit(1)).as("nd"),
        max(col("c")).as("top"))
    val g3 = stats(3).select(col(idCol), col("total"), col("nd"))
    val g2 = stats(2).select(col(idCol), col("total").as("total2"), col("top"))
    g3.join(g2, Seq(idCol))
      .select(col(idCol),
        (lit(1.0) - col("nd").cast("double") / col("total").cast("double"))
          .as("dup_3gram_frac"),
        (col("top").cast("double") / col("total2").cast("double"))
          .as("top_2gram_frac"),
        col("total").as("n_3grams"))
  }

  /** Adjacent-bigram array of a token array, built with a scan-stage
    * `transform` (0-based lambda index over the length−1 prefix, each
    * element paired with its successor) — no shuffle, no explode until the
    * caller asks for rows. */
  private[operators] def bigramPairs(ts: Column): Column =
    transform(slice(ts, lit(1), size(ts) - 1),
      (t, i) => struct(t.as("w1"), element_at(ts, i + 2).as("w2")))

  /** [[bigramPairs]] rendered as "w1 w2" strings, safe on short arrays
    * (< 2 tokens → empty array — `slice` with a negative length throws). */
  private[operators] def bigramStrings(ts: Column): Column =
    when(size(ts) >= 2,
      transform(slice(ts, lit(1), size(ts) - 1),
        (t, i) => concat_ws(" ", t, element_at(ts, i + 2))))
      .otherwise(array().cast("array<string>"))

  /** Corpus-trained add-k-smoothed bigram language-model score per document
    * — the CCNet/Wenzek '19 style perplexity quality filter: train token
    * bigram statistics on the corpus itself, then score each document by
    * its mean log conditional probability
    * `avg(ln((c(w1,w2)+k) / (c(w1,·)+k·V)))` (V = distinct continuation
    * vocabulary). Low scores flag boilerplate-free but unnatural text —
    * lorem-ipsum, token salad, OCR noise — that length/punctuation
    * heuristics miss. Documents with fewer than two tokens drop out (no
    * bigrams, nothing to score).
    *
    * Output: idCol, `avg_logprob` (rounded to 4 dp — the emitted value,
    * so summation-order ulps can't flip the gate), `n_bigrams`.
    *
    * Shape at 100 TB: two corpus scans, both scan-stage narrow until their
    * aggregation — (1) model build: explode bigrams → groupBy(w1,w2)
    * count, map-side combinable, so the shuffle carries distinct bigrams
    * (vocab², bounded), not corpus tokens; context totals `c(w1,·)` and
    * the continuation vocabulary V both derive from the aggregated model
    * relation, NOT from a re-scan of the corpus. (2) scoring: re-explode,
    * shuffle-hash-join against the model on (w1,w2) — build side is the
    * model (vocab-bounded), probe side streams; frequent-bigram probe skew
    * is AQE's skew-join case, and the final per-doc avg is again map-side
    * combinable. V rides in as a broadcast scalar. */
  def bigramLm(
      df: DataFrame,
      idCol: String,
      textCol: String,
      addK: Double = 0.5): DataFrame = {
    val toks = df
      .select(col(idCol), tokens(lower(col(textCol))).as("ts"))
      .filter(size(col("ts")) >= 2)
    def bg(d: DataFrame): DataFrame =
      d.select(col(idCol), explode(bigramPairs(col("ts"))).as("p"))
        .select(col(idCol), col("p.w1"), col("p.w2"))
    val model = bg(toks).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
    val ctx = model.groupBy(col("w1")).agg(sum(col("c")).as("ctx"))
    val vocab = model.select(countDistinct(col("w2")).as("v"))
    bg(toks)
      .join(model, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .groupBy(col(idCol))
      .agg(
        round(avg(log(
          (col("c") + lit(addK)) / (col("ctx") + lit(addK) * col("v")))), 4)
          .as("avg_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Corpus distribution drift: per-term KL contribution between two
    * corpus slices — the shift check a production pipeline runs between
    * crawl snapshots, train/validation splits, or source mixes before a
    * silent distribution change poisons a training run.
    *
    * Unigram distributions P (where `sideExpr` is true) and Q (false) over
    * the UNION vocabulary with add-`addK` smoothing (so a term absent from
    * one side contributes finitely); emitted per term:
    * `contrib = p · ln(p/q)` — the summand of KL(P‖Q), positive where the
    * term is over-represented in P. Top-`k` by |contrib| with the q64
    * determinism contract: ranked on the 6dp-ROUNDED magnitude with the
    * term as tiebreak, so 1–2 ulp `ln` drift between engines can never
    * flip the emitted set or order.
    *
    * Scale shape: token explode → one (term, side) count shuffle
    * (map-side combinable) → vocab-bounded pivot; the two totals ride as a
    * 1-row broadcast; top-k is a TakeOrdered over the vocab-bounded
    * contribution relation — the corpus is scanned once and never
    * re-shuffled.
    *
    * Output: `term`, `p`, `q`, `contrib` (all rounded 6dp), `rank` (1..k).
    */
  def distributionDrift(
      df: DataFrame,
      textCol: String,
      sideExpr: Column,
      k: Int = 50,
      addK: Double = 0.5): DataFrame = {
    require(k >= 1 && addK > 0)
    val terms = df
      .select(sideExpr.as("in_p"), explode(tokens(lower(col(textCol)))).as("term"))
      .filter(col("term") =!= "")
    val counts = terms.groupBy(col("term"))
      .agg(sum(when(col("in_p"), 1L).otherwise(0L)).as("cp"),
        sum(when(col("in_p"), 0L).otherwise(1L)).as("cq"))
    val totals = counts.agg(sum(col("cp")).as("np"), sum(col("cq")).as("nq"),
      count(lit(1)).as("v"))
    val scored = counts.crossJoin(broadcast(totals))
      .select(col("term"),
        ((col("cp") + lit(addK)) / (col("np") + lit(addK) * col("v"))).as("p"),
        ((col("cq") + lit(addK)) / (col("nq") + lit(addK) * col("v"))).as("q"))
      .select(col("term"), col("p"), col("q"),
        (col("p") * log(col("p") / col("q"))).as("contrib"))
    val ranked = scored
      .select(col("term"), round(col("p"), 6).as("p"), round(col("q"), 6).as("q"),
        round(col("contrib"), 6).as("contrib"),
        round(abs(col("contrib")), 6).as("mag"))
      .orderBy(col("mag").desc, col("term").asc)
      .limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("mag").desc, col("term").asc)
    // row_number over the k-row limit output: bounded input, no scale risk
    ranked.withColumn("rank", row_number().over(w)).drop("mag")
  }

  /** TF-IDF keyword extraction: the top-`k` most characteristic terms per
    * document by `tf · ln(N/df)` — the corpus-exploration / auto-tagging
    * counterpart to [[bm25Scores]] (which ranks documents against a GIVEN
    * query; this has no query — it surfaces what each document is about).
    *
    * Output: idCol, `term`, `score` (rounded 6dp), `rank` (1..k).
    *
    * Determinism contract (the q64 pattern): the rank is computed over the
    * ROUNDED score with the term as tiebreak — a total order per document
    * — so a 1–2 ulp `ln` drift between engines can never flip the emitted
    * ranking.
    *
    * Scale shape: one (doc, term) shuffle with map-side-combinable counts;
    * document frequency is a vocab-bounded aggregate joined back on the
    * term key (AQE broadcasts it when small); the corpus-count scalar is a
    * 1-row broadcast; and the per-doc top-k is a rank-filtered window that
    * Spark rewrites to Partial+Final `WindowGroupLimit` — each map task
    * pre-keeps k rows per document, so the window shuffle carries ≤ k·docs
    * rows, never the full scored relation. */
  def tfidfKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int): DataFrame = {
    val toks = df.select(col(idCol),
      explode(split(trim(col(textCol)), "\\s+")).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("term"),
        round(col("tf") * log(col("n_docs") / col("df_")), 6).as("score"))
    Windows.topKPerGroup(scored, Seq(col(idCol)),
      Seq(col("score").desc, col("term").asc), k, "rank")
  }

  /** Interpolated Kneser–Ney bigram score per document — the production
    * upgrade of [[bigramLm]]'s add-k filter (Kneser & Ney '95; Chen &
    * Goodman '99 eq. 12): absolute discounting with the mass freed by the
    * discount re-spent on the CONTINUATION unigram (how many distinct
    * contexts license w2 — [[continuationCounts]]' statistic), which is
    * what separates "Francisco" (frequent but only after "San") from
    * genuinely productive words:
    *
    *   P(w2|w1) = max(c(w1,w2) − D, 0) / c(w1,·)
    *            + (D · N1+(w1,·) / c(w1,·)) · (N1+(·,w2) / N1+(·,·))
    *
    * Output: idCol, `avg_logprob` (mean ln P over the document's bigrams,
    * rounded 4 dp — the q104 drift contract), `n_bigrams`. Self-scored on
    * the training corpus every bigram has c ≥ 1, so the first term can be
    * 0 (c=1 < D) but the interpolation weight never is — no log(0) lane.
    *
    * Shape at 100 TB: identical skeleton to [[bigramLm]] — one
    * vocab-bounded model reduction (map-side combinable; the shuffle
    * carries distinct bigrams, not corpus tokens), with ALL FOUR KN
    * statistics derived from that one aggregated relation: per-context
    * totals c(w1,·) and fan-out N1+(w1,·) in one rollup, continuation
    * counts N1+(·,w2) in another, the bigram-type total N1+(·,·) as a
    * 1-row broadcast scalar. Scoring re-explodes the corpus once and
    * hash-joins the vocab-bounded statistics in; the per-doc avg is
    * map-side combinable. No extra corpus scans vs add-k — KN costs two
    * more vocab-sized joins, nothing corpus-sized. */
  def knBigramScore(
      df: DataFrame,
      idCol: String,
      textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    val toks = df
      .select(col(idCol), tokens(lower(col(textCol))).as("ts"))
      .filter(size(col("ts")) >= 2)
    def bg(d: DataFrame): DataFrame =
      d.select(col(idCol), explode(bigramPairs(col("ts"))).as("p"))
        .select(col(idCol), col("p.w1"), col("p.w2"))
    // r18: the model relation feeds FOUR consumers (the probe join, ctx,
    // cont, totals) — uncut, the initial physical plan re-derived the
    // whole scan→bigram-explode→count subtree once per consumer (four
    // parquet scans, four vocab exchanges in the q114 before-plan).
    // The relation is vocab-bounded (one row per distinct bigram), so
    // the checkpoint is tiny at any corpus size.
    val model = bg(toks).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.operators.Checkpoints.trackedEager)
    // c(w1,·) and N1+(w1,·) from ONE pass over the model relation:
    // its per-w1 row count IS the distinct-successor count
    val ctx = model.groupBy(col("w1"))
      .agg(sum(col("c")).as("ctx"), count(lit(1)).as("fanout"))
    val cont = model.groupBy(col("w2")).agg(count(lit(1)).as("cont"))
    val totals = model.select(count(lit(1)).as("btypes"))
    bg(toks)
      .join(model, Seq("w1", "w2"))
      .join(ctx, Seq("w1"))
      .join(cont, Seq("w2"))
      .crossJoin(broadcast(totals))
      .groupBy(col(idCol))
      .agg(
        // association order mirrored verbatim by the oracle SQL so both
        // engines round the same IEEE value
        round(avg(log(
          greatest(col("c") - lit(discount), lit(0.0)) / col("ctx") +
            (lit(discount) * col("fanout") / col("ctx")) *
            (col("cont") / col("btypes")))), 4).as("avg_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** CCNet-style perplexity banding (Wenzek '19 §4.3): score every
    * document with the corpus-trained interpolated-KN bigram LM
    * ([[knBigramScore]]), then split each LANGUAGE at the quartiles of its
    * own score distribution into quality bands `head` (most natural) →
    * `upper_mid` → `lower_mid` → `tail` — the partition CCNet publishes so
    * downstream training picks how deep into the perplexity tail to eat.
    * Banding is per-language because absolute LM scores aren't comparable
    * across languages (vocabulary size and bigram entropy differ); a
    * global cut would label whole low-resource languages "tail".
    *
    * Quartile thresholds come off [[Quantiles.histogramQuantiles]]'
    * 256-bin histogram — per-language aggregation state bounded by CONFIG,
    * where the exact alternative (`percentile()` / per-language ntile
    * sort) buffers or sorts every score of the largest language in one
    * place, the q43-vs-q119 trade already documented there. 0.25/0.5/0.75
    * are exact binary doubles, so `ceil(q·n)` rank targets can never
    * drift by an ulp between engines; band assignment compares the
    * 4dp-rounded score against 6dp-rounded thresholds — both sides
    * identical IEEE values in any replaying engine. Docs with fewer than
    * two tokens carry no score and drop out, mirroring [[knBigramScore]].
    *
    * Scale shape: two corpus scans for the LM statistics (both shuffles
    * vocab-bounded, see [[knBigramScore]]), one score relation reused for
    * histogram build and band assignment, thresholds ride as a
    * language-cardinality broadcast. Nothing corpus-sized is ever sorted.
    *
    * Output: idCol, langCol, `avg_logprob`, `n_bigrams`, `band`. */
  def perplexityBands(
      df: DataFrame,
      idCol: String,
      textCol: String,
      langCol: String,
      discount: Double = 0.75): DataFrame = {
    // the scored relation feeds THREE consumers (histogram bounds,
    // histogram bins, final band join); without the checkpoint each one
    // re-derives the whole KN scoring pipeline — six corpus scans in the
    // physical plan instead of two. One narrow row per doc, so the
    // materialization is corpus-cardinality but thin.
    val scored = knBigramScore(df, idCol, textCol, discount)
      .join(df.select(col(idCol), col(langCol)), Seq(idCol))
      .transform(Checkpoints.trackedEager) // feeds the returned band join too
    val qd = Quantiles.histogramQuantiles(
      scored, langCol, "avg_logprob", Seq(0.25, 0.5, 0.75), 256)
    val thr = qd.groupBy(col(langCol)).agg(
      round(max(when(col("q") === 0.25, col("est"))), 6).as("t25"),
      round(max(when(col("q") === 0.5, col("est"))), 6).as("t50"),
      round(max(when(col("q") === 0.75, col("est"))), 6).as("t75"))
    scored.join(broadcast(thr), Seq(langCol))
      .select(col(idCol), col(langCol), col("avg_logprob"), col("n_bigrams"),
        when(col("avg_logprob") <= col("t25"), "tail")
          .when(col("avg_logprob") <= col("t50"), "lower_mid")
          .when(col("avg_logprob") <= col("t75"), "upper_mid")
          .otherwise("head").as("band"))
  }

  /** Corpus datasheet: the one-row health report a pipeline publishes with
    * every snapshot (the "datasheet for datasets" summary, Gebru '21 §3.2
    * in spirit) — size, token volume, language spread, and exact-duplicate
    * rate, each a number a reviewer compares across snapshots before
    * training eats the data.
    *
    * Columns: `n_docs`, `n_tokens`, `avg_tokens` (4dp), `n_langs`,
    * `top_lang` (most docs; LEXICOGRAPHIC tiebreak so the emitted value is
    * a total-order pick, never hash-partitioning-dependent), `dup_rate`
    * (4dp, 1 − distinct [[fingerprint]]s / docs — the q12/q127 normalized
    * fingerprint, so "duplicate" means ws/case-insensitive exact).
    *
    * Scale shape: one corpus scan feeding three map-side-combinable
    * aggregations (global count/sum, per-lang counts at language
    * cardinality, distinct fingerprints — the only data-sized exchange,
    * hash-keyed and pre-combined); the three 1-row results cross-join as
    * broadcasts. Nothing is sorted, nothing driver-sized beyond one row. */
  def corpusDatasheet(
      df: DataFrame,
      textCol: String,
      langCol: String): DataFrame = {
    val base = df.select(col(textCol).as("t"), col(langCol).as("lang"))
    val stats = base.agg(
      count(lit(1)).as("n_docs"),
      sum(tokenCount(col("t"))).as("n_tokens"),
      round(avg(tokenCount(col("t"))), 4).as("avg_tokens"))
    val langs = base.groupBy(col("lang")).agg(count(lit(1)).as("c"))
    // a max(struct(c, lang)) would tie-break toward the LARGER lang;
    // two language-cardinality aggs pick (max count, then MIN lang) —
    // the lexicographic-min contract
    val topCount = langs.agg(max(col("c")).as("top_c"))
    val topLang = langs.join(broadcast(topCount), col("c") === col("top_c"))
      .agg(min(col("lang")).as("top_lang"))
    val nLangs = langs.agg(count(lit(1)).as("n_langs"))
    val dups = base.select(TextAnalysis.fingerprint(col("t")).as("fp"))
      .agg(countDistinct(col("fp")).as("n_distinct"))
    stats.crossJoin(broadcast(nLangs)).crossJoin(broadcast(topLang))
      .crossJoin(broadcast(dups))
      .select(col("n_docs"), col("n_tokens"), col("avg_tokens"),
        col("n_langs"), col("top_lang"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_docs").cast("double"), 4).as("dup_rate"))
  }

  /** Release-delta datasheet: what changed between two corpus releases,
    * CONTENT-aware — the snapshot-diff shape (reference I1,
    * `data_loading_to_mysql_database.py`'s id-keyed merge) lifted to
    * fingerprint keys, because re-crawled corpora re-assign ids and
    * re-serialize whitespace: two releases are compared by their
    * ws/case-normalized text fingerprints (q12/q137's [[fingerprint]]),
    * so "added" means genuinely new CONTENT, not a new row id.
    *
    * One row out: raw doc counts, distinct-fingerprint counts, kept /
    * added / removed fingerprints, and the content Jaccard between
    * releases (NULL when both are empty). Only ONE join runs — the kept
    * semi-join on fp — because over distinct sets |added| = |new| −
    * |kept| and |removed| = |old| − |kept| are arithmetic.
    *
    * Scale shape: two scans; the only data-sized exchanges are the two
    * fingerprint distincts and the fp-keyed semi-join, all carrying
    * 32-char fingerprints, never text; every result is a 1-row broadcast
    * cross-join (the q137 assembly).
    */
  def releaseDelta(oldDf: DataFrame, newDf: DataFrame,
      textCol: String): DataFrame = {
    def fps(df: DataFrame) =
      df.select(fingerprint(col(textCol)).as("fp")).distinct()
    val o = fps(oldDf)
    val n = fps(newDf)
    val docsOld = oldDf.agg(count(lit(1)).as("docs_old"))
    val docsNew = newDf.agg(count(lit(1)).as("docs_new"))
    val fo = o.agg(count(lit(1)).as("fps_old"))
    val fn = n.agg(count(lit(1)).as("fps_new"))
    val kept = o.join(n, Seq("fp"), "left_semi")
      .agg(count(lit(1)).as("fps_kept"))
    val union = col("fps_old") + col("fps_new") - col("fps_kept")
    docsOld.crossJoin(broadcast(docsNew)).crossJoin(broadcast(fo))
      .crossJoin(broadcast(fn)).crossJoin(broadcast(kept))
      .select(col("docs_old"), col("docs_new"), col("fps_old"),
        col("fps_new"), col("fps_kept"),
        (col("fps_new") - col("fps_kept")).as("fps_added"),
        (col("fps_old") - col("fps_kept")).as("fps_removed"),
        when(union === 0L, lit(null).cast("double"))
          .otherwise(col("fps_kept").cast("double") / union.cast("double"))
          .as("content_jaccard"))
  }

  /** Count-Min sketch over the token stream (Cormode & Muthukrishnan '05):
    * `depth` independent md5-derived hash rows of `width` counters; every
    * counter is the sum of the true counts of the terms landing in its
    * bucket, so `est(t) = min_j sketch[j][h_j(t)] ≥ count(t)` always
    * (one-sided error, ≤ εN with prob 1−δ for w=⌈e/ε⌉, d=⌈ln 1/δ⌉).
    *
    * This is the FIXED-MEMORY counterpart to [[heavyHitters]]' Misra–Gries:
    * the aggregation shuffle carries at most depth×width distinct
    * (row, bucket) keys REGARDLESS of vocabulary size — map-side combine
    * caps every task's output at d·w rows, so frequency summaries over a
    * 100 TB corpus cost a constant-size exchange where exact counting
    * pays a vocabulary-sized one. Sketches are mergeable by elementwise
    * sum (a relational groupBy IS that merge — property-tested), so
    * per-shard sketches union for free.
    *
    * Buckets are md5-keyed (`h_j(t) = int(md5("cms j : t")[0,6)) mod w`) —
    * the [[Sampling.hashSplit]] engine-portability idiom: any engine with
    * md5 replays the exact sketch. Takes an already-tokenized term stream
    * so callers pick the granularity (unigrams, bigrams, shingles). */
  def cmsSketch(terms: DataFrame, termCol: String, depth: Int,
      width: Int): DataFrame = {
    require(depth >= 1 && width >= 2, "need depth >= 1, width >= 2")
    terms
      .select(col(termCol).as("term"),
        explode(sequence(lit(1), lit(depth))).as("j"))
      .select(col("j"), cmsBucket(col("term"), col("j"), width).as("bucket"))
      .groupBy(col("j"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** `h_j(term)`: first 6 md5 hex chars of "cms{j}:{term}" decoded to its
    * 24-bit int, mod width — portable (strpos-polynomial replayable). */
  private def cmsBucket(term: Column, j: Column, width: Int): Column =
    (conv(substring(md5(concat(lit("cms"), j.cast("string"), lit(":"),
      term)), 1, 6), 16, 10).cast("long") % width).cast("int")

  /** CMS demonstration gate over the corpus BIGRAM stream (token bigrams
    * give a vocab²-sized key space — the regime where a sketch earns its
    * keep; the raw unigram vocabulary is small enough to count exactly):
    * estimate the top-`k` exact-frequency bigrams against the sketch and
    * emit the guaranteed-nonnegative overcount. The EXACT side (a
    * vocabulary-sized count) exists only to exhibit the error bound — a
    * production probe is the sketch join alone: explode the k probe terms
    * × depth rows, join the d·w-bounded sketch (AQE broadcasts it), take
    * min per term. Output: term, exact, est, overcount, rank. */
  def cmsTopKCompare(df: DataFrame, textCol: String, k: Int,
      depth: Int = 4, width: Int = 256): DataFrame = {
    val terms = df
      .select(tokens(lower(col(textCol))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(explode(bigramPairs(col("ts"))).as("p"))
      .select(concat_ws(" ", col("p.w1"), col("p.w2")).as("term"))
    val sketch = cmsSketch(terms, "term", depth, width)
    val exact = terms
      .groupBy(col("term")).agg(count(lit(1)).as("exact"))
      .orderBy(col("exact").desc, col("term").asc).limit(k)
    val probed = exact
      .select(col("term"), col("exact"),
        explode(sequence(lit(1), lit(depth))).as("j"))
      .select(col("term"), col("exact"), col("j"),
        cmsBucket(col("term"), col("j"), width).as("bucket"))
      .join(sketch, Seq("j", "bucket"))
      .groupBy(col("term"), col("exact"))
      .agg(min(col("cnt")).as("est"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("exact").desc, col("term").asc)
    probed
      .select(col("term"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overcount"))
      .withColumn("rank", row_number().over(w))
  }

  /** HyperLogLog distinct-count estimation per group (Flajolet et al.
    * '07), md5-replayable — completes the sketch trio ([[cmsSketch]]
    * frequencies, [[heavyHitters]] top items, this cardinalities). Spark's
    * own `approx_count_distinct` is HLL++ but its binary hash is not
    * replayable by another engine; this one is: the 13-hex-char md5 prefix
    * (the [[Sampling]] 52-bit idiom) splits into a top-`p`-bit register
    * index and a (52−p)-bit tail whose leading-zero count is
    * `(52−p+1) − length(bin(tail))` — minimal-width binary rendering is
    * common to Spark and DuckDB, so both engines compute the identical
    * registers.
    *
    * Estimator: `E = α_m · m² / Σ_b 2^{−M[b]}` with linear counting
    * `m·ln(m/V)` below 2.5m when empty registers remain (the standard
    * small-range correction; the 2^32 large-range correction is moot — the
    * hash space is 52-bit). Absent registers are not materialized: they
    * contribute `(m − n_present)·2⁰` to the sum and are exactly the
    * zero-register count V. Σ 2^{−M[b]} is a sum of dyadic rationals
    * spanning ≤ 53 mantissa bits — EXACT in a double, so the only
    * order-sensitive float op is the final ln/division, absorbed by the
    * 4 dp round.
    *
    * Shape at 100 TB: the register reduction carries ≤ m rows per group
    * out of every map task (max combines map-side) — constant-size
    * exchange per group like the CMS, where exact countDistinct shuffles
    * the full key space. Registers merge across shards by the same
    * `max` (relational groupBy IS the merge — property-tested). */
  def hllDistinct(df: DataFrame, groupCol: String, keyCol: String,
      p: Int = 9): DataFrame =
    hllEstimateFromRegisters(
      hllRegisters(df, Seq(groupCol), keyCol, p), Seq(groupCol), p)

  /** The HLL SKETCH half of [[hllDistinct]]: per-group register relation
    * (groupCols..., bucket, reg) — at most 2^p rows per group, the
    * mergeable representation (register merge = max per bucket, so
    * sketches built per fine slice roll up to any coarser grouping
    * WITHOUT touching the corpus again; see [[hllBigramRollup]]). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], keyCol: String,
      p: Int = 9): DataFrame = {
    require(p >= 4 && p <= 12, "p must be in [4, 12]")
    val wBits = 52 - p
    val mask = (1L << wBits) - 1
    val v = conv(substring(md5(col(keyCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    val tail = v.bitwiseAND(lit(mask))
    val rho = when(tail === 0, lit(wBits + 1))
      .otherwise(lit(wBits + 1) - length(bin(tail)))
    df.select(groupCols.map(col) :+
        shiftright(v, wBits).as("bucket") :+ rho.as("rho"): _*)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("reg"))
  }

  /** The ESTIMATOR half of [[hllDistinct]]: Flajolet's bias-corrected
    * harmonic mean with the small-range linear-counting branch, over a
    * register relation keyed by `groupCols`. alphaM2 is computed HERE
    * and embedded as one double literal on both sides — re-deriving it
    * in SQL decimal arithmetic could round differently. */
  def hllEstimateFromRegisters(regs: DataFrame, groupCols: Seq[String],
      p: Int = 9): DataFrame = {
    val m = 1 << p
    val alphaM2 = 0.7213 / (1 + 1.079 / m) * m * m
    val sums = regs.groupBy(groupCols.map(col): _*).agg(
      sum(pow(lit(2.0), -col("reg"))).as("s_present"),
      count(lit(1)).as("n_present"))
    val s = col("s_present") + (lit(m) - col("n_present")).cast("double")
    val zeros = (lit(m) - col("n_present")).cast("double")
    val eRaw = lit(alphaM2) / s
    sums.select(groupCols.map(col) :+
      when(eRaw <= lit(2.5 * m) && zeros > 0,
        round(lit(m.toDouble) * log(lit(m.toDouble) / zeros), 4))
        .otherwise(round(eRaw, 4)).as("hll_est"): _*)
  }

  /** Mergeable-sketch ROLLUP — the pattern that makes sketches pay at
    * 100 TB: build HLL registers ONCE at the finest grouping
    * (coarse × fine, e.g. lang × source), then answer every coarser
    * distinct-count question by merging register relations (max per
    * bucket) — per-coarse-group estimates and the global estimate here —
    * without a second corpus scan. Register merge is exact for HLL
    * (max is associative/commutative/idempotent), so the rolled-up
    * estimate is bit-identical to sketching the coarse group directly;
    * [[graft.OperatorsSpec]] asserts that identity against
    * [[hllDistinct]].
    *
    * The fine register relation is ≤ groups × 2^p rows — bounded by
    * CONFIG, not data — and is localCheckpoint'd so the two rollups and
    * the verification exact pass don't re-scan the corpus lineage.
    * Output: (coarseCol, exact_distinct, n_sketches, hll_est) for every
    * coarse group plus an `<all>` grand-total row; the exact side
    * (one `rollup` countDistinct pass) exists to make the lane
    * self-auditing, the way q117 pairs the estimate with truth.
    */
  def hllBigramRollup(df: DataFrame, coarseCol: String, fineCol: String,
      textCol: String, p: Int = 9): DataFrame = {
    val all = "<all>"
    // NULL group values fold to a '<null>' sentinel BEFORE sketching:
    // otherwise the exact side's rollup coalesce would alias a real
    // null-group row onto the '<all>' grand total while the estimate
    // side silently drops it through the inner join — two mispaired
    // '<all>' rows instead of one. countDistinct would likewise skip a
    // null fine value. Sentinels keep both sides total and aligned.
    val terms = df
      .select(coalesce(col(coarseCol), lit("<null>")).as(coarseCol),
        coalesce(col(fineCol), lit("<null>")).as(fineCol),
        tokens(lower(col(textCol))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col(coarseCol), col(fineCol),
        explode(bigramPairs(col("ts"))).as("pp"))
      .select(col(coarseCol), col(fineCol),
        concat_ws(" ", col("pp.w1"), col("pp.w2")).as("term"))
    val fine = hllRegisters(terms, Seq(coarseCol, fineCol), "term", p)
      .transform(Checkpoints.trackedEager) // both returned rollups read it
    val mergedCoarse = fine.groupBy(col(coarseCol), col("bucket"))
      .agg(max(col("reg")).as("reg"))
    val mergedAll = fine.groupBy(col("bucket"))
      .agg(max(col("reg")).as("reg"))
      .withColumn(coarseCol, lit(all))
    val est = hllEstimateFromRegisters(mergedCoarse, Seq(coarseCol), p)
      .unionByName(hllEstimateFromRegisters(mergedAll, Seq(coarseCol), p))
    // n_sketches counts distinct (coarse, fine) PAIRS — the sketches the
    // merge actually folded. A bare countDistinct(fine) would under-
    // report on the '<all>' grand total (a source appearing under two
    // langs contributes two sketches but one fine value); with the pair
    // count the column means the same thing on every row.
    val exact = terms.rollup(col(coarseCol))
      .agg(countDistinct(col("term")).as("exact_distinct"),
        countDistinct(col(coarseCol), col(fineCol)).as("n_sketches"))
      .select(coalesce(col(coarseCol), lit(all)).as(coarseCol),
        col("exact_distinct"), col("n_sketches"))
    exact.join(est, Seq(coarseCol))
  }

  /** KMV (k-minimum-values) sketch per group — the theta-family member
    * the HLL cannot be: because the sketch RETAINS its k smallest hash
    * values instead of collapsing them into register maxima, two groups'
    * sketches support SET-OPERATION estimates (union, Jaccard,
    * intersection cardinality) without ever joining the corpora
    * (Bar-Yossef et al. '02; Beyer et al. '07's unbiased (k−1)/u_k
    * estimator — the Apache DataSketches theta shape). Hash = the q117
    * pattern: first 13 hex chars of md5 as a uniform 52-bit integer, so
    * an engine-independent oracle replays it digit-exactly.
    *
    * Output: (group, v, rn) — the k smallest DISTINCT hash values per
    * group, ranked. Shape at 100 TB: the build is the [[graft.functions
    * .KMinValues]] aggregate — map-side combinable, so each input
    * partition reduces to ≤ k longs BEFORE the exchange and the shuffle
    * carries k·partitions longs per group instead of the distinct-value
    * relation (the former distinct+window form shipped the whole hashed
    * vocabulary — unbounded under Heaps' law; measured on the 3-gram
    * diversity lane the rewire cut sf1 8.0 → 7.4 s, exponent 0.81 →
    * 0.73 = the gram-construction scan floor, and the remaining growth
    * is the scan, not the exchange). Shard sketches merge by the same
    * k-min order statistic, so the merge is associative (property-tested
    * in OperatorsSpec). */
  def kmvSketch(df: DataFrame, groupCol: String, termCol: String,
      k: Int = 256): DataFrame = {
    require(k >= 16, "k below 16 estimates nothing")
    val v = conv(substring(md5(col(termCol).cast("string")), 1, 13), 16, 10)
      .cast("long")
    df.select(col(groupCol), v.as("v"))
      .groupBy(col(groupCol))
      .agg(graft.functions.GraftFunctions.kmin_values(col("v"), k).as("vs"))
      .select(col(groupCol), posexplode(col("vs")).as(Seq("pos", "v")))
      .select(col(groupCol), col("v"), (col("pos") + 1).as("rn"))
  }

  /** Union / Jaccard / intersection estimates from two KMV sketches
    * (k-row relations — the corpora themselves are never touched).
    * kth smallest of the merged distinct values u_k gives
    * |A∪B| ≈ (k−1)·2^52/u_k, EXACT when the merged set has fewer than k
    * values (both sides fully captured); Jaccard = fraction of the union
    * k-min present in BOTH sketches; intersection = J·|A∪B|. Every input
    * is sketch-sized, so the single-partition window is bounded by 2k.
    * A projection of [[kmvSetAlgebra]], which builds the k-min. */
  def kmvOverlap(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame =
    overlapOf(kmvSetAlgebra(a, b, k))

  /** (n, n_both, est_union, est_jaccard, est_inter) of a set-algebra row. */
  private def overlapOf(alg: DataFrame): DataFrame =
    alg.select(col("n"), col("n_both"), col("est_union"),
      round(col("n_both").cast("double") / col("n").cast("double"), 6)
        .as("est_jaccard"),
      col("est_inter"))

  /** Full theta-sketch set algebra from two KMV sketches: [[kmvOverlap]]'s
    * union/Jaccard/intersection plus the DIFFERENCE estimates |A∖B| and
    * |B∖A| — the release-delta question ("how much of crawl A is NOT in
    * crawl B") answered from two k-row relations without touching either
    * corpus. Same mechanics: the k-min of the merged sketch is a uniform
    * sample of A∪B, so each region's cardinality is its sample fraction
    * times the union estimate (the A-not-B estimator of the theta
    * family); every region is exact when the merged set has < k values. */
  def kmvSetAlgebra(a: DataFrame, b: DataFrame, k: Int = 256): DataFrame = {
    val numer = (k - 1).toDouble * 4503599627370496.0 // (k−1)·2^52
    val merged = a.select(col("v")).union(b.select(col("v"))).distinct()
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("v"))
    val kmin = merged.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .join(a.select(col("v"), lit(1).as("ina")), Seq("v"), "left_outer")
      .join(b.select(col("v"), lit(1).as("inb")), Seq("v"), "left_outer")
    val agg = kmin.agg(
      count(lit(1)).as("n"),
      max(col("v")).as("u_k"),
      sum(when(col("ina") === 1 && col("inb") === 1, 1L).otherwise(0L))
        .as("n_both"),
      sum(when(col("ina") === 1 && col("inb").isNull, 1L).otherwise(0L))
        .as("n_only_a"),
      sum(when(col("ina").isNull && col("inb") === 1, 1L).otherwise(0L))
        .as("n_only_b"))
    val estUnion = when(col("n") < k, col("n").cast("double"))
      .otherwise(lit(numer) / col("u_k").cast("double"))
    def frac(c: String) = col(c).cast("double") / col("n").cast("double")
    agg.select(
      col("n"), col("n_both"), col("n_only_a"), col("n_only_b"),
      round(estUnion, 4).as("est_union"),
      round(frac("n_both") * estUnion, 4).as("est_inter"),
      round(frac("n_only_a") * estUnion, 4).as("est_only_a"),
      round(frac("n_only_b") * estUnion, 4).as("est_only_b"))
  }

  /** KMV demonstration gate: distinct-bigram overlap between two corpus
    * slices (same term universe as q117's HLL), estimated entirely from
    * the two k-row sketches. The question it answers at 100 TB — "how
    * much does crawl A overlap crawl B?" — would otherwise cost a
    * distinct-join of both corpora. */
  def kmvBigramOverlap(df: DataFrame, groupCol: String, textCol: String,
      groupA: String, groupB: String, k: Int = 256): DataFrame =
    overlapOf(kmvBigramSetAlgebra(df, groupCol, textCol, groupA, groupB, k))

  /** The bigram slices and sketch behind [[kmvBigramOverlap]], fed to
    * [[kmvSetAlgebra]]: union/intersection AND both difference estimates
    * between two corpus slices' distinct-bigram sets, from two k-row
    * sketches. */
  def kmvBigramSetAlgebra(df: DataFrame, groupCol: String, textCol: String,
      groupA: String, groupB: String, k: Int = 256): DataFrame = {
    val terms = df
      .filter(col(groupCol).isin(groupA, groupB))
      .select(col(groupCol), tokens(lower(col(textCol))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col(groupCol), explode(bigramPairs(col("ts"))).as("pp"))
      .select(col(groupCol),
        concat_ws(" ", col("pp.w1"), col("pp.w2")).as("term"))
    val sk = kmvSketch(terms, groupCol, "term", k)
      .transform(Checkpoints.trackedEager) // both returned slices read it
    kmvSetAlgebra(sk.filter(col(groupCol) === groupA),
      sk.filter(col(groupCol) === groupB), k)
  }

  /** HLL demonstration gate: per-group distinct-BIGRAM cardinality, the
    * [[hllDistinct]] estimate side by side with the exact countDistinct
    * (which exists only to exhibit the ~1.04/√m error — the production
    * path is the register sketch alone). */
  def hllBigramCardinality(df: DataFrame, groupCol: String,
      textCol: String, p: Int = 9): DataFrame = {
    val terms = df
      .select(col(groupCol), tokens(lower(col(textCol))).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col(groupCol), explode(bigramPairs(col("ts"))).as("pp"))
      .select(col(groupCol),
        concat_ws(" ", col("pp.w1"), col("pp.w2")).as("term"))
    val exact = terms.groupBy(col(groupCol))
      .agg(countDistinct(col("term")).as("exact_distinct"))
    exact.join(hllDistinct(terms, groupCol, "term", p), Seq(groupCol))
  }

  /** The n-gram diversity datasheet (q145's exact form) with its one
    * data-sized exchange — `countDistinct(gram)`, whose key space GROWS
    * with the corpus (distinct 3-grams ~ corpus tokens; measured fourth-
    * decade exponent 0.70) — replaced by the [[kmvSketch]]: the shuffle
    * leaving each n's gram scan is the k-row order statistic instead of
    * the full distinct-gram relation, so at 100 TB the lane costs three
    * corpus scans + three k-row reductions, independent of vocabulary.
    * `total_ngrams` stays exact (a map-side countable sum). Estimates are
    * the Beyer '07 (k−1)/u_k form, EXACT below k — so small-corpus runs
    * reproduce q145's distinct counts digit-for-digit, and the DuckDB
    * oracle replays the md5-52-bit hash arithmetic exactly at any size. */
  def ngramDiversitySketch(df: DataFrame, textCol: String, maxN: Int = 3,
      k: Int = 256): DataFrame = {
    val numer = (k - 1).toDouble * 4503599627370496.0 // (k−1)·2^52
    val base = df.select(tokens(lower(col(textCol))).as("ts"))
    (1 to maxN).map { n =>
      val grams = base.select(explode(when(size(col("ts")) >= n,
          transform(sequence(lit(1), size(col("ts")) - lit(n) + lit(1)),
            i => array_join(slice(col("ts"), i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))).as("gram"))
      val total = grams.agg(count(lit(1)).as("total_ngrams"))
      val est = kmvSketch(grams.withColumn("g", lit(n)), "g", "gram", k)
        .agg(count(lit(1)).as("n_sk"), max(col("v")).as("u_k"))
        .select(when(col("n_sk") < k, col("n_sk").cast("double"))
          .otherwise(lit(numer) / col("u_k").cast("double"))
          .as("est_d"))
      total.crossJoin(broadcast(est))
        .select(lit(n).as("n"), col("total_ngrams"),
          round(col("est_d"), 4).as("est_distinct"),
          round(col("est_d") / col("total_ngrams").cast("double"), 6)
            .as("est_diversity"))
    }.reduce(_ unionByName _)
  }

  /** Full Gopher document-quality rule set (Rae et al. 2021, Appendix A —
    * the standard web-corpus document gate, complementing the
    * intra-document repetition half already in [[repetitionProfile]]):
    * word-count band, mean-word-length band, symbol-to-word ratio
    * (# and … marks), bullet-started and ellipsis-ended line fractions,
    * alphabetic-word fraction, and the required-stopword presence check.
    * Emits every signal AND every per-rule verdict, not just the final
    * gate — threshold tuning and per-rule ablation need the marginals,
    * and a pipeline that logs only `keep` can't explain a yield drop.
    *
    * Shape at 100 TB: one projection — every signal is a codegen'd
    * builtin over the row's own text (token array + line array built
    * once each, shared by the lambda counts); no explode, no shuffle, no
    * state. Composes with any downstream filter/sample without adding an
    * exchange. Per-row double signals are raw IEEE (identical in any
    * engine); the verdicts are integer comparisons on them.
    *
    * Output: idCol, n_words, mean_word_len, symbol_ratio, bullet_frac,
    * ellipsis_frac, alpha_frac, stop_hits, r_words, r_mean_len,
    * r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop, keep. */
  def gopherRules(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      requiredWords: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minRequiredHits: Int = 2): DataFrame = {
    val t = col(textCol)
    val ws = tokens(t)
    val nWords = size(ws).cast("long")
    val wordsDen = greatest(nWords, lit(1L)).cast("double")
    // total word characters = non-whitespace characters: one regexp
    // strip instead of a per-token length fold
    val meanLen = length(regexp_replace(t, "\\s+", "")).cast("double") /
      wordsDen
    val nHash = (length(t) - length(regexp_replace(t, "#", ""))).cast("long")
    val nEll =
      ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3).cast("long") +
        (length(t) - length(regexp_replace(t, "…", ""))).cast("long")
    val symbolRatio = (nHash + nEll).cast("double") / wordsDen
    val lines = split(t, "\n")
    val linesDen = greatest(size(lines), lit(1)).cast("double")
    val bulletFrac = size(filter(lines, l => {
      val lt = ltrim(l)
      Seq("•", "‣", "▶", "- ", "* ")
        .map(b => lt.startsWith(b)).reduce(_ || _)
    })).cast("double") / linesDen
    val ellipsisFrac = size(filter(lines, l => {
      val rt = rtrim(l)
      rt.endsWith("...") || rt.endsWith("…")
    })).cast("double") / linesDen
    val alphaFrac = size(filter(ws, w => w.rlike("[A-Za-z]"))).cast("double") /
      wordsDen
    val hits = stopwordHits(t, requiredWords)
    def flag(c: Column): Column = when(c, 1).otherwise(0)
    df.select(col(idCol),
        nWords.as("n_words"), meanLen.as("mean_word_len"),
        symbolRatio.as("symbol_ratio"), bulletFrac.as("bullet_frac"),
        ellipsisFrac.as("ellipsis_frac"), alphaFrac.as("alpha_frac"),
        hits.as("stop_hits"))
      .withColumn("r_words",
        flag(col("n_words").between(minWords, maxWords)))
      .withColumn("r_mean_len",
        flag(col("mean_word_len").between(minMeanWordLen, maxMeanWordLen)))
      .withColumn("r_symbol", flag(col("symbol_ratio") <= maxSymbolWordRatio))
      .withColumn("r_bullet", flag(col("bullet_frac") <= maxBulletLineFrac))
      .withColumn("r_ellipsis",
        flag(col("ellipsis_frac") <= maxEllipsisLineFrac))
      .withColumn("r_alpha", flag(col("alpha_frac") >= minAlphaWordFrac))
      .withColumn("r_stop", flag(col("stop_hits") >= minRequiredHits))
      .withColumn("keep",
        col("r_words") * col("r_mean_len") * col("r_symbol") *
          col("r_bullet") * col("r_ellipsis") * col("r_alpha") *
          col("r_stop"))
  }

  /** Feature-hashing (hashing-trick) TF document vectors: every token is
    * hashed to one of `dim` buckets with a ±1 sign hash, bucket weights
    * are signed occurrence counts, and the vector is l2-normalized — the
    * Weinberger '09 vectorizer. This is the embedding-free on-ramp to the
    * whole vector family ([[graft.operators.Similarity]]): cosine
    * near-dup, ANN retrieval, and SemDeDup-style clustering all run on
    * raw text with no model in the loop, which is exactly what a
    * first-pass 100 TB crawl clean needs (the embedding pass is the
    * expensive second pass, run on the survivors).
    *
    * Determinism/portability: bucket = first-6-hex-digits of md5(token)
    * mod `dim`, sign = 7th hex digit < '8' — pure md5 arithmetic any
    * engine replays exactly (the q118 polynomial trick). Bucket weights
    * are INTEGER sums, so the l2 norm is `sqrt` of an exact integer and
    * every emitted component is the same IEEE division everywhere,
    * rounded 6dp only at the output boundary.
    *
    * Shape at 100 TB: explode → (doc, bucket) map-side-combinable count
    * (the shuffle carries ≤ `dim` rows per doc per map task), then one
    * doc-keyed gather of ≤ `dim` entries into the dense array. The
    * output relation is TOTAL: token-less documents (empty/whitespace
    * text) emit the zero vector instead of dropping out.
    *
    * Output: idCol, n_tokens, vec (array<double>, l2-normalized, 6dp). */
  def hashedTfVectors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 64): DataFrame = {
    val agg = hashedBucketWeights(df, idCol, textCol, dim)
    val gathered = agg.groupBy(col(idCol))
      .agg(sum(col("w") * col("w")).as("ss"),
        map_from_entries(collect_list(struct(col("bucket"), col("w"))))
          .as("m"))
      .select(col(idCol),
        sqrt(col("ss").cast("double")).as("nn"), col("m"))
    tokenCountRelation(df, idCol, textCol)
      .join(gathered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => when(col("nn") > 0,
              round(coalesce(element_at(col("m"), i.cast("long")), lit(0L))
                .cast("double") / col("nn"), 6))
            .otherwise(lit(0.0)))
          .as("vec"))
  }

  /** (idCol, bucket, w) signed integer bucket weights — the shared core of
    * [[hashedTfVectors]] / [[hashedTfIdfVectors]]. */
  private def hashedBucketWeights(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int): DataFrame = {
    require(dim > 0 && dim <= 16777216, // 6 hex digits = 24 bits of bucket
      "dim must be in [1, 2^24]")
    df.select(col(idCol),
        explode(tokens(lower(col(textCol)))).as("tok"))
      .filter(col("tok") =!= "")
      .withColumn("hx", md5(col("tok")))
      .select(col(idCol),
        pmod(conv(substring(col("hx"), 1, 6), 16, 10).cast("long"),
          lit(dim.toLong)).as("bucket"),
        when(substring(col("hx"), 7, 1) < "8", lit(1L)).otherwise(lit(-1L))
          .as("sign"))
      .groupBy(col(idCol), col("bucket"))
      .agg(sum(col("sign")).as("w"))
  }

  /** (idCol, n_tokens) over every input row — keeps the output TOTAL. */
  private def tokenCountRelation(
      df: DataFrame,
      idCol: String,
      textCol: String): DataFrame =
    df.select(col(idCol),
      size(filter(tokens(lower(col(textCol))), w => w =!= ""))
        .cast("long").as("n_tokens"))

  /** [[hashedTfVectors]] with smooth-idf re-weighting (the sklearn
    * `TfidfTransformer` formula, public knowledge): component weight
    * u_b = w_b · idf_b with idf_b = round(ln((N+1)/(df_b+1)) + 1, 6),
    * df_b = number of documents whose SIGNED bucket weight is nonzero
    * (the dense vector's true support — sign cancellation zeroes a
    * component, so it must zero the df too). The common-token direction
    * concentration that piles hashed-TF vectors into few SRP sign
    * patterns ([[graft.operators.Similarity.srpBucketProfile]], q158's
    * 27%-top-bucket measurement) is exactly what idf down-weighting
    * spreads back out.
    *
    * Determinism firewall (the q113 pattern): idf is `ln`-derived, so it
    * is 6dp-SNAPPED before any use — every downstream product is then a
    * product of identical doubles in both engines; the l2 norm is a
    * strict index-order fold over the dense array ([[graft.functions
    * .VecDot]] / DuckDB `list_reduce`), NOT a group-by sum of doubles
    * (whose order no engine pins down).
    *
    * Shape at 100 TB: q155's pipeline + one 1-row count broadcast and one
    * dim-row idf broadcast — no new unbounded state.
    *
    * Output: idCol, n_tokens, vec (array<double>, l2-normalized, 6dp). */
  def hashedTfIdfVectors(
      df: DataFrame,
      idCol: String,
      textCol: String,
      dim: Int = 64): DataFrame = {
    val agg = hashedBucketWeights(df, idCol, textCol, dim)
    val nDocs = df.agg(count(lit(1)).cast("double").as("n_docs"))
    val idf = agg.filter(col("w") =!= 0L)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).cast("double").as("df_"))
      .crossJoin(broadcast(nDocs))
      .select(col("bucket"),
        round(log((col("n_docs") + 1.0) / (col("df_") + 1.0)) + 1.0, 6)
          .as("idf"))
    val weighted = agg.join(broadcast(idf), Seq("bucket"))
      .select(col(idCol), col("bucket"),
        (col("w").cast("double") * col("idf")).as("u"))
    val gathered = weighted.groupBy(col(idCol))
      .agg(map_from_entries(collect_list(struct(col("bucket"), col("u"))))
        .as("m"))
    val dense = tokenCountRelation(df, idCol, textCol)
      .join(gathered, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        transform(sequence(lit(0), lit(dim - 1)),
          i => coalesce(element_at(col("m"), i.cast("long")), lit(0.0)))
          .as("u_arr"))
    dense
      .withColumn("nn",
        sqrt(graft.functions.GraftFunctions.graft_dot(col("u_arr"),
          col("u_arr"))))
      .select(col(idCol), col("n_tokens"),
        transform(col("u_arr"),
          x => when(col("nn") > 0, round(x / col("nn"), 6))
            .otherwise(lit(0.0)))
          .as("vec"))
  }
}
