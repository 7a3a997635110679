package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guards: the properties that make these queries
  * scale (pushdown, pruning, broadcast) must stay visible in the plan —
  * a correct-but-full-scan plan is a perf bug, not a pass.
  */
class PlanSpec extends AnyFunSuite with SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(q: String): String =
    SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString

  test("q04: filters are pushed to the parquet scan; schema is pruned") {
    val p = plan("q04_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull"), p.take(500))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate pushdown")
    // pruned read schema: no l_partkey/l_suppkey/l_tax in the scan
    assert(!p.contains("l_partkey"), "column pruning lost")
  }

  test("q07: dim joins broadcast (no shuffle join for nation)") {
    assert(plan("q07_nation_revenue").contains("BroadcastHashJoin"))
  }

  test("q25: two-hop dim join is all-broadcast") {
    val p = plan("q25_supplier_region")
    assert(!p.contains("SortMergeJoin"), "dims must not sort-merge")
  }

  test("q01: aggregation is partial+final hash aggregate") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("partial_count"), p.take(400))
    assert(p.contains("HashAggregate"))
  }

  test("q31: query side of the ANN scoring is broadcast") {
    assert(plan("q31_cosine_topk").contains("Broadcast"))
  }

  test("q32: default near-dup entry is the auto-dispatch; balanced fixture takes the quantizer-free probed-SRP plan") {
    // embeddingNearDupPairsAuto is the documented default entry point —
    // q32 calls it, and on the direction-balanced embeddings fixture the
    // measured concentration is < 3, so the returned plan must be the
    // SRP bucket join with NO kmeans/cell machinery in it (the cells
    // route would show `cell` references and centroid literals). Since
    // r17 that branch ships MULTI-PROBE by default (srpProbes = 2): the
    // probed (id, v, bucket) relation sits behind a localCheckpoint, so
    // the distinguishing shape in the RETURNED plan is the pair-dedup
    // distinct (HashAggregate over the (id_a, id_b, sim) tuple) that the
    // rank-0 form does not have. The dispatch itself is data-driven; the
    // oracle replays the same gate.
    val p = plan("q32_cosine_neardup")
    assert(p.contains("bucket"), "SRP bucket join missing:\n" + p.take(600))
    assert(!p.contains("cell"),
      "balanced fixture must not pay for the quantizer route:\n" + p.take(600))
    assert(p.contains("HashAggregate(keys=[id_a"),
      "pair-dedup distinct missing — rank-0 SRP plan shipped?\n" + p.take(600))
  }

  test("q204: auto dispatch's cell branch ships the MULTI-PROBE plan by default") {
    // zipfConcentration forced to 0 routes the dispatcher onto the cell
    // branch at gate scale; since r16 that branch is the probed form.
    // The rank-nProbe assignment itself sits behind the localCheckpoint
    // (the plan scans the checkpointed (id, v, cell) RDD), so the
    // distinguishing probed-route shape in the RETURNED plan is the
    // pair-dedup distinct (partial+final HashAggregate on the whole
    // (id_a, id_b, sim) tuple) over the cell equi-join — the rank-1 form
    // emits pairs with NO distinct. No cartesian product anywhere.
    val p = plan("q204_auto_route_probed_cells")
    assert(p.contains("cell"), "cell route missing:\n" + p.take(600))
    assert(p.contains("HashAggregate(keys=[id_a"),
      "pair-dedup distinct missing — rank-1 plan shipped?\n" + p.take(600))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("q09: rank filter becomes a WindowGroupLimit below the shuffle") {
    // With only a handful of (returnflag, linestatus) groups, a plain
    // row_number window would shuffle and fully sort EVERY row into ~6
    // reducers — unusable at corpus scale. Spark's InferWindowGroupLimit
    // must kick in: each map task pre-keeps its top-5 per group, so only
    // k·groups rows per task reach the shuffle. Pin Partial+Final.
    val p = plan("q09_top5_per_group")
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(p.contains("Partial") && p.contains("Final"),
      "expected map-side partial + reduce-side final group limits")
  }

  test("q59: range join is an equi-join on bins, not a nested loop") {
    val p = plan("q59_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(800))
    assert(p.contains("Join"), "bin equi-join missing")
  }

  test("q66: PQ encoding is scan-stage only — one shuffle in the whole plan") {
    // The corpus must never shuffle for encoding or scoring: the only
    // hash-partitioned Exchange allowed is the final per-query ranked
    // window; the query side arrives via BroadcastExchange.
    val p = plan("q66_pq_ann_topk")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(shuffles <= 1, s"expected ≤1 hash Exchange, got $shuffles:\n${p.take(800)}")
    assert(p.contains("BroadcastExchange"), "query side should broadcast")
  }

  test("q67: vocab agg is partial+final with a bounded TakeOrdered top-k") {
    val p = plan("q67_vocab_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
    assert(p.contains("partial_count") || p.contains("Partial"),
      "expected map-side partial aggregation")
  }

  test("q101: BPE encode is scan-stage only — zero shuffles, no UDF") {
    // the merge chain is replace() literals inside the projection; the
    // corpus must never shuffle (training ran separately — this pins the
    // ENCODE plan, built from a fixed merge list)
    val df = graft.operators.TextAnalysis.bpeEncode(
      Tables.load(spark, dir, "documents"), "doc_id", "text",
      Seq(("t", "h"), ("th", "e")))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"encode must not shuffle:\n${p.take(600)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "encode must stay expression-only")
  }

  test("q33: multi-table LSH joins are all broadcast; one distinct shuffle") {
    // per-table bucket joins broadcast the query side; the only
    // hash-partitioned Exchanges are the cross-table DISTINCT and the
    // final ranked window — never a corpus-sized join shuffle
    val p = plan("q33_lsh_ann_topk")
    assert(!p.contains("SortMergeJoin"), p.take(800))
    assert(p.contains("BroadcastHashJoin"), "bucket joins should broadcast")
  }

  test("q99: index serve reads stored codes — no kmeans scan of the corpus") {
    // the serve plan's scans are the index relations + the query slice;
    // scoring is ADC against codebook literals, so no raw-vector columns
    // from the corpus table appear outside the refine sliver
    val p = plan("q99_ann_index_serve")
    assert(p.contains("BroadcastExchange"), "probe/candidates should broadcast")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("media decode encoder compiles (no interpreted fallback)") {
    // round 1: a private object-nested case class made the encoder's
    // generated serializer fail Janino compilation, silently dropping the
    // whole stage to interpreted mode. Disable the fallback so any repeat
    // is a test failure, not a 10× slowdown.
    withSQLConf("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
      val out = operators.Multimodal
        .decodeImages(operators.Multimodal.syntheticMedia(spark, 32))
        .collect()
      assert(out.length === 32)
    }
  }

  test("q103: unicode cleanup is scan-stage only — zero shuffles, no UDF") {
    // NFC + control strip + ws collapse must stay one codegen'd projection
    // over the scan: normalization cost is bytes-scanned-linear, and any
    // Exchange here would shuffle the full corpus text for a row-local op
    val p = plan("q103_unicode_clean")
    assert(!p.contains("Exchange"), s"cleanup must not shuffle:\n${p.take(600)}")
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "cleanup must stay expression-only")
    assert(p.contains("nfc_normalize"), "custom expression missing from plan")
  }

  test("q104: bigram LM joins hash, never nested-loop; aggs are partial+final") {
    // model and scoring joins key on (w1,w2)/(w1) — hash joins with the
    // vocab-bounded side as build; the only cartesian allowed is the 1-row
    // vocabulary scalar broadcast. Aggregations must combine map-side so
    // the shuffles carry distinct bigrams / per-doc partials, not tokens.
    val p = plan("q104_bigram_lm")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "model count must map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "vocab scalar should broadcast")
  }

  test("q114: KN scoring keeps q104's shape — hash joins, map-side partials") {
    // four statistics relations all derive from the one aggregated model;
    // the only cartesian allowed is the 1-row bigram-type scalar broadcast
    val p = plan("q114_kn_score")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "model count must map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "bigram-type scalar should broadcast")
  }

  test("q115: CMS sketch agg combines map-side; probe joins hash, no cartesian") {
    // the sketch groupBy must have a partial so each map task emits at
    // most depth×width rows — the whole point of the sketch; the probe
    // side joins the d·w-bounded sketch by key, never nested-loop
    val p = plan("q115_cms_counts")
    assert(p.contains("partial_count"), "sketch counters must combine map-side")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(!p.contains("BatchEvalPython") && !p.contains("ScalaUDF"),
      "bucket hashing must stay expression-only")
  }

  test("q116: PageRank iterations are hash joins + map-side partial sums") {
    // each power-iteration round is an edge⋈rank equi-join plus a
    // dst-keyed sum; the only nested-loop joins allowed are the 1-row
    // scalar broadcasts (N, dangling mass). Pinned on the score stage,
    // whose final iteration stays lazy — the lane's rank stage is
    // RDD-backed and hides upstream plans (see the q116 rank test).
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"))
      .toDF("s", "d")
    val p = graft.operators.Components.pageRankScores(edges, "s", "d")
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_sum"), "contrib sum must combine map-side")
    assert(!p.contains("ScalaUDF"), "iteration must stay expression-only")
  }

  test("q119: histogram binning combines map-side; bounds ride broadcasts") {
    // the only data-sized shuffle may carry (group, bin) partial counts —
    // pre-combined map-side to <= bins rows per group per task; the bounds
    // and rank targets join back as broadcasts, never a shuffle join
    val p = plan("q119_histogram_quantiles")
    assert(p.contains("partial_count"), "bin counts must combine map-side")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "bounds/targets must broadcast")
    assert(!p.contains("ScalaUDF"), "binning must stay expression-only")
  }

  test("q116: final rank has no un-partitioned window, no single-partition exchange") {
    // Window.orderBy with no partitionBy would funnel the whole host
    // universe through ONE task; the rank must come from the range
    // partition + per-partition index path (RDD-backed scan in the plan)
    val p = plan("q116_host_pagerank")
    assert(!p.contains("Window"), s"un-partitioned window crept back:\n${p.take(800)}")
    assert(!p.contains("SinglePartition"), p.take(800))
    assert(p.contains("ExistingRDD"), "rank stage must be the zipWithIndex path")
  }

  test("q105: URL canonicalization is scan-stage only — zero shuffles, no UDF") {
    // canonicalizeUrl is pure regexp/array expressions; any Exchange would
    // shuffle full URL strings for a row-local rewrite
    val p = plan("q105_url_canonicalize")
    assert(!p.contains("Exchange"), s"canonicalize must not shuffle:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "must stay expression-only")
  }

  test("q106: bench side broadcasts; corpus never shuffle-joins the bench set") {
    // the corpus×bench cross is a BroadcastNestedLoopJoin with the tiny
    // bench side as build; the exchanges are the per-id max agg and the
    // narrow id-keyed rejoin that preserves rows when the bench is empty
    // — neither carries bench keys or vectors across the cluster
    val p = plan("q106_semantic_decontam")
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(800))
    assert(!p.contains("CartesianProduct"),
      "corpus must not cartesian against the bench set")
  }

  test("q107: HTML strip + cleanup is scan-stage only — zero shuffles, no UDF") {
    val p = plan("q107_html_strip")
    assert(!p.contains("Exchange"), s"strip must not shuffle:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "must stay expression-only")
    assert(p.contains("nfc_normalize"), "cleanup chain missing from plan")
  }

  test("q108: C4 line filter is scan-stage only — zero shuffles, no UDF") {
    // row-local rules must stay one higher-order-expression projection
    // over the scan; an Exchange would shuffle full page text
    val p = plan("q108_c4_line_filter")
    assert(!p.contains("Exchange"), s"filter must not shuffle:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "must stay expression-only")
  }

  test("q109: paragraph-dedup winner is a combinable aggregate, not a window") {
    // keep-first must be min(struct(id,pos)) with a map-side partial (the
    // fingerprint shuffle carries one candidate per fp per task, no text);
    // a row_number window would sort and carry paragraphs through it
    val p = plan("q109_paragraph_dedup")
    assert(!p.contains("Window"), "winner must be an aggregate, not a window")
    assert(p.contains("partial_min"), "winner min must combine map-side")
    assert(p.contains("LeftSemi"), "survivors rejoin via semi join")
  }

  test("q110: cluster representative is a combinable max(struct), no cartesian") {
    val p = plan("q110_cluster_reps")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_max"), "argmax must combine map-side")
  }

  test("q111: span excision counts grams map-side; hits return via semi join") {
    // the gram shuffle carries (id, start, md5) — never gram text; the
    // occurrence count must have a map-side partial, the hit lookup must
    // be a semi join, and the splice is row-local (no window, no cartesian)
    val p = plan("q111_span_excision")
    assert(p.contains("partial_count"), "gram count must combine map-side")
    assert(p.contains("LeftSemi"), "hit positions must return via semi join")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p.take(800))
  }

  test("q112: curriculum cuts come from a broadcast histogram, corpus never shuffles") {
    // the corpus-sized side must see only a scan-stage projection against
    // the broadcast cut array; the cumulative sum runs over the histogram
    // via Windows.globalPrefixSum (r19) — a checkpointed two-pass prefix
    // sum, so the final frame reads the summed histogram as an
    // ExistingRDD scan and carries NO WindowExec at all (the old shape
    // was an UNPARTITIONED cumulative window — the single-task funnel)
    val p = plan("q112_curriculum_order")
    assert(!p.contains("Window"), "cumsum must not run in a WindowExec")
    assert(p.contains("Scan ExistingRDD"), "prefix-summed histogram feeds the cuts")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "cut array must broadcast")
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("q113: per-doc top-k is a Partial+Final WindowGroupLimit, counts combine map-side") {
    // the scored relation must NOT fully sort through the window shuffle:
    // InferWindowGroupLimit pre-keeps k rows per doc per map task (q09's
    // shape), and the tf/df counts must have map-side partials
    val p = plan("q113_tfidf_keywords")
    assert(p.contains("WindowGroupLimit"), p.take(800))
    assert(p.contains("partial_count"), "tf/df counts must combine map-side")
    assert(!p.contains("CartesianProduct"), "stats scalar must broadcast")
  }

  test("q129: wordpiece encode applies segmentation via broadcast, corpus never sort-merges") {
    // segmentation is computed on the vocab-bounded distinct-word relation
    // and must reach the corpus as a BroadcastHashJoin; the only wide
    // stage on the corpus side is the per-doc reassembly groupBy
    val p = plan("q129_wordpiece_encode")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "corpus must not sort-merge on the word key")
  }

  test("q127: soft-dedup weights are one fingerprint shuffle, no join-back") {
    // the window form must not re-join the corpus against its own groups:
    // a single hashpartitioning exchange on the fingerprint, zero joins
    val p = plan("q127_dup_weights")
    assert(!p.contains("Join"), "no join-back: the window carries n_copies")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") === 1, p.take(800))
  }

  test("q130: budget selection joins the bounded bin relation by broadcast") {
    // the corpus must never sort-merge against the (group, bin) totals —
    // binInfo is ≤ groups×bins rows and must broadcast; the only sorts
    // are the bounded bin window and the boundary-bin window
    val p = plan("q130_token_budget")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin"), "bin totals must broadcast")
  }

  test("q131: anchors broadcast, cross-label prune sits below the WindowGroupLimit") {
    // the corpus side must never shuffle for scoring: anchors ride a
    // broadcast (the non-equi label predicate makes this a broadcast
    // nested-loop against the k-row anchor set — the intended brute-force
    // shape, same as q31), and the per-anchor top-k must be a
    // Partial+Final WindowGroupLimit so the ranked exchange carries at
    // most k·anchors rows per task
    val p = plan("q131_hard_negatives")
    assert(p.contains("BroadcastExchange"), p.take(800))
    assert(p.contains("WindowGroupLimit"), "top-k must group-limit map-side")
    assert(p.contains("Partial") && p.contains("Final"),
      "expected map-side partial + reduce-side final group limits")
  }

  test("q132: band thresholds ride broadcasts; KN joins stay hash, no UDF") {
    // the scored relation is localCheckpoint'd (one KN pass feeds all
    // three consumers — without it the plan re-derived the whole scoring
    // pipeline six times); the KN stage's own shape is pinned by the q114
    // test. Downstream of the checkpoint: histogram bin counts combine
    // map-side and the per-language threshold relation joins back as a
    // broadcast — the corpus is never sort-merged against anything
    // language-sized
    val p = plan("q132_perplexity_bands")
    assert(!p.contains("CartesianProduct"), p.take(800))
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "model/bin counts must combine map-side")
    assert(p.contains("BroadcastHashJoin"), "thresholds must broadcast")
    assert(!p.contains("ScalaUDF"), "scoring must stay expression-only")
  }

  test("q133: containment rides q26's inverted index — equi-join, map-side pair counts") {
    // the shingle self-join must be an equi-join on the hashed shingle
    // key (never a cartesian), the (id_a, id_b) intersection count must
    // pre-combine map-side, and shingle STRINGS must not cross the wire —
    // only xxhash64 fingerprints (the shingle_hashes kernel) appear in the
    // exchanges
    val p = plan("q133_containment_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("partial_count"), "pair counts must combine map-side")
    assert(p.contains("shingle_hashes"), "shingles must be hashed before exchange")
  }

  test("q135: prefix candidates equi-join hashed shingles; rarity rank sorts per doc") {
    // the candidate stage must be an equi-join on the hashed shingle key
    // (never cartesian/nested-loop), the rarity rank must be a
    // doc-partitioned window (sort width = one doc's shingles, not the
    // corpus), and pair counts must pre-combine map-side. Since the r13
    // dispatcher, the q135 LANE routes by df concentration (and picks the
    // exact path on this flat fixture), so the prefix-path plan contract
    // is pinned on the operator itself.
    val docs = Tables.load(spark, dir, "documents")
    val p = operators.Dedup.containmentPairsPrefix(
      docs, "doc_id", "text", 3, 0.5, maxShingleDocFreq = 100L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      p.take(800))
    assert(p.contains("partial_count"), "pair counts must combine map-side")
    assert(p.contains("Window"), "rarity rank must be a windowed row_number")
    // the lane's dispatched plan keeps the same no-cartesian guarantee
    val lane = plan("q135_containment_prefix")
    assert(!lane.contains("CartesianProduct") &&
      !lane.contains("BroadcastNestedLoopJoin"), lane.take(800))
    assert(lane.contains("partial_count"), "pair counts must combine map-side")
  }

  test("q149/q150: kmin sketch is a partial-merge ObjectHashAggregate; thresholds broadcast") {
    // the KMV build must be a real two-phase aggregate (partial buffers
    // merge map-side — the whole point of replacing distinct+window):
    // pinned on kmvSketch itself, because the quantile lanes checkpoint
    // the sample and their final plans read the checkpointed RDD
    val docs = Tables.load(spark, dir, "documents")
    val sk = operators.TextAnalysis.kmvSketch(
      docs.select("lang", "text"), "lang", "text", 64)
      .queryExecution.executedPlan.toString
    assert(sk.contains("ObjectHashAggregate"),
      "kmin_values must aggregate imperative buffers, not window")
    assert(sk.contains("partial_kmin_values"),
      "the sketch must pre-combine map-side")
    assert(!sk.contains("Window"), "the distinct+window form must be gone")
    // the lanes' visible plans: thresholds broadcast, nothing data-sized
    // nested-loops (q149's 1-row global-threshold join is the documented
    // exception and rides a broadcast)
    val p149 = plan("q149_sampled_quantiles")
    assert(p149.contains("BroadcastHashJoin") || p149.contains("BroadcastNestedLoopJoin"),
      "threshold must broadcast")
    val p150 = plan("q150_grouped_quantiles")
    assert(p150.contains("BroadcastHashJoin"),
      "the group-threshold relation must broadcast")
    assert(!p150.contains("CartesianProduct"), p150.take(800))
  }

  test("q152: outlier count pass joins broadcast fences; no second quantile scan") {
    val p = plan("q152_length_outliers")
    assert(p.contains("BroadcastHashJoin"), "fence rows must broadcast")
    assert(!p.contains("CartesianProduct"), p.take(800))
    // exactly one parquet scan may feed the counting side per subtree
    // chain — the quartiles ride the sampled subtree, not a re-sort
    assert(!p.contains("SortMergeJoin"), "nothing here is big enough to SMJ")
  }

  test("q134: drift means combine map-side; no joins, no UDF, no corpus sort") {
    // the whole lane is two aggregations — (label, dim) means with
    // map-side partials, then a labels-sized pack bounded by dim config;
    // any Join or SortMergeJoin in this plan is a regression
    val p = plan("q134_embedding_drift")
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "dim means must combine map-side")
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("ScalaUDF"), "folds must stay expression-only")
  }

  test("q139: deployed quality scorer is scan-stage — zero exchanges, no UDF") {
    // the model rides as literals; scoring a corpus must be one narrow
    // pass (project over the scan), or the filter is not deployable at
    // 100 TB. Any Exchange or ScalaUDF here is a regression.
    val docs = Tables.load(spark, dir, "documents")
    val model = operators.QualityFilter.Model(1000L,
      Seq(0.5, 0.29, 0.45, 0.5), Seq(0.25, 0.01, 0.02, 0.16), 0.36,
      Seq(0.22, 0.12, -0.002, -0.08))
    val p = operators.QualityFilter.score(model, docs, "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"scorer must not shuffle:\n${p.take(600)}")
    assert(!p.contains("ScalaUDF"), "scorer must stay expression-only")
  }

  test("q173: bucketed join never re-shuffles either side on its join key") {
    // the whole point of the bucketed layout: the ingest write paid the
    // partitioning, so the join plans NO exchange on l_orderkey or
    // o_orderkey — only the small post-join aggregate may exchange
    val p = plan("q173_bucketed_join")
    assert(!p.contains("Exchange hashpartitioning(l_orderkey"),
      s"lineitem side re-shuffled:\n${p.take(900)}")
    assert(!p.contains("Exchange hashpartitioning(o_orderkey"),
      s"orders side re-shuffled:\n${p.take(900)}")
    spark.sql("DROP TABLE IF EXISTS graft_q173_lineitem")
    spark.sql("DROP TABLE IF EXISTS graft_q173_orders")
  }

  test("q176: PMI corpus path is one explode-scan + broadcast vocab, no sort-merge") {
    val p = plan("q176_pmi_pairs")
    assert(!p.contains("SortMergeJoin"),
      s"vocab must broadcast, never sort-merge:\n${p.take(900)}")
    assert(p.contains("Broadcast"), "vocab/total joins should broadcast")
  }

  test("q174: dictionary join is broadcast; corpus aggregates partial+final") {
    val p = plan("q174_dictionary_tags")
    assert(p.contains("BroadcastHashJoin"), p.take(600))
    assert(!p.contains("SortMergeJoin"), "dictionary must not shuffle the corpus")
    assert(p.contains("HashAggregate"), "tag counts must combine map-side")
  }

  test("bangumi source reports statistics and prunes empty categories") {
    val src = spark.read
      .format(classOf[sources.bangumi.BangumiTableProvider].getName)
      .option("client", "fixture").load()
    // grid is 3×4 = 12 but only categories with data become partitions
    val rdd = src.queryExecution.toRdd
    assert(rdd.getNumPartitions > 0 && rdd.getNumPartitions <= 12)
  }
}
