package graft

/** Regenerates PLANS.md: `.explain("formatted")` of the headline queries at
  * sf0.01 — the evidence artifact for pushdown/pruning/broadcast/codegen
  * claims in OPERATORS.md. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val out = sys.env.getOrElse("SPARK_GRAFT_PLANS_OUT", "/root/repo/PLANS.md")
    val spark = GraftSession.builder(8).getOrCreate()
    val names = Seq("q04_filter_project", "q07_nation_revenue",
      "q01_pricing_summary", "q31_cosine_topk", "q26_jaccard_pairs",
      "q09_top5_per_group", "q52_stratified_sample", "q56_sequence_packing",
      "q57_repetition_profile", "q59_range_join", "q60_corpus_pipeline",
      "q64_bm25_rank", "q66_pq_ann_topk", "q67_vocab_topk",
      "q79_bloom_decontam", "q81_concat_blocks", "q86_pq_refined_topk",
      "q87_bpe_pairs", "q93_incremental_dedup", "q103_unicode_clean",
      "q104_bigram_lm", "q105_url_canonicalize", "q106_semantic_decontam",
      "q107_html_strip", "q108_c4_line_filter", "q109_paragraph_dedup",
      "q110_cluster_reps", "q111_span_excision", "q112_curriculum_order",
      "q113_tfidf_keywords", "q118_dsir_select", "q119_histogram_quantiles",
      "q120_crawl_pipeline", "q123_lsh_dedup_clusters", "q124_zorder_key",
      "q127_dup_weights", "q129_wordpiece_encode", "q130_token_budget",
      "q131_hard_negatives", "q132_perplexity_bands", "q133_containment_pairs",
      "q134_embedding_drift", "q135_containment_prefix",
      "q137_corpus_datasheet", "q140_filter_calibration",
      "q141_sample_estimate", "q147_ngram_diversity_kmv",
      "q149_sampled_quantiles", "q150_grouped_quantiles",
      "q152_length_outliers", "q154_gopher_rules", "q155_hashed_tf",
      "q156_hashed_neardup", "q158_srp_bucket_profile",
      "q159_hashed_tfidf", "q160_binary_ann_topk", "q163_unigram_encode",
      "q164_crossdoc_spans", "q165_crossdoc_excise", "q167_hilbert_key",
      "q171_event_gapfill", "q172_scd2_intervals", "q173_bucketed_join",
      "q174_dictionary_tags", "q175_hll_rollup", "q176_pmi_pairs",
      "q177_cohort_retention", "q178_touch_attribution",
      "q179_event_patterns", "q180_time_weighted_avg",
      "q181_changelog_compact", "q182_fuzzy_name_join",
      "q183_triangle_census", "q185_entity_resolution",
      "q186_skew_profile", "q187_kmin_rollup",
      "q188_interval_overlap", "q189_nearest_event_join",
      "q190_embedding_isotropy", "q191_corpus_digest",
      "q192_jl_distortion",
      "q193_vector_route_dispatch", "q194_vector_route_recall",
      "q195_lsh_recall_sampled", "q196_minhash_estimator_sampled",
      "q198_vector_recall_sampled", "q199_vector_overlap_sampled",
      "q168_minhash_estimator_audit", "q169_multiprobe_ann_topk",
      "q170_lsh_recall_audit",
      "q32_cosine_neardup", "q200_nested_quantizer",
      "q201_route_threshold_sensitivity",
      "q202_cell_multiprobe_neardup", "q203_cell_probe_recall_sampled",
      "q204_auto_route_probed_cells", "q205_nested_multiprobe_neardup",
      "q206_semdedup_text", "q207_srp_multiprobe_neardup",
      "q208_srp_probe_recall_sampled")
    val sb = new StringBuilder
    sb.append("# PLANS — physical plans of headline queries (sf0.01, captured by graft.PlanDump)\n\n")
    sb.append("What to look for: `PushedFilters`/pruned `ReadSchema` on scans,\n")
    sb.append("`BroadcastHashJoin` on dim joins, partial+final `HashAggregate`,\n")
    sb.append("`WholeStageCodegen` fusion spans.\n")
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      sb.append(s"\n## $n\n\n```\n$plan\n```\n")
    }
    // AQE skew-join evidence: the skew split only materializes at runtime,
    // so this section EXECUTES the zipfian demo and captures the final
    // adaptive plan — look for SortMergeJoin(skew=true) and the skewed
    // AQEShuffleRead splitting the hot partition.
    locally {
      import graft.operators.Skew
      val saved = Skew.skewDemoConfs.map { case (k, _) =>
        k -> spark.conf.getOption(k) }
      Skew.skewDemoConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = Skew.zipfianJoinDemo(spark, 2000000L, 200)
        df.write.format("noop").mode("overwrite").save()
        // the noop write runs its own QueryExecution; collect() finalizes
        // df's own adaptive plan for the dump
        df.collect()
        sb.append("\n## aqe_skew_join_demo (zipfian 2M-row fact × 200-row dim, EXECUTED final plan)\n\n")
        sb.append(s"confs: ${Skew.skewDemoConfs.map { case (k, v) => s"$k=$v" }.mkString(", ")}\n\n")
        sb.append(s"```\n${df.queryExecution.executedPlan}\n```\n")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    // Runtime bloom-filter evidence: InjectRuntimeFilter fires at
    // optimization time — capture the plan of a selective dim ⋈ fact join
    // with the demo confs (production thresholds except the
    // application-side floor). Look for might_contain(...) UNDER the fact
    // side's Exchange: non-joining rows die before the shuffle.
    locally {
      import org.apache.spark.sql.functions.col
      import graft.operators.Skew
      val saved = Skew.runtimeFilterDemoConfs.map { case (k, _) =>
        k -> spark.conf.getOption(k) }
      Skew.runtimeFilterDemoConfs.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val li = Tables.load(spark, sfDir, "lineitem")
          .select("l_orderkey", "l_extendedprice")
        val ord = Tables.load(spark, sfDir, "orders")
          .filter(col("o_orderpriority") === "1-URGENT")
          .select("o_orderkey")
        val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        sb.append("\n## runtime_bloom_filter_demo (selective orders filter planted on the lineitem scan)\n\n")
        sb.append(s"confs: ${Skew.runtimeFilterDemoConfs.map { case (k, v) => s"$k=$v" }.mkString(", ")}\n\n")
        sb.append(s"```\n${j.queryExecution.executedPlan}\n```\n")
      } finally saved.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    // Salting × AQE composition evidence: the static-salt lanes EXECUTED
    // at the largest oracle scale (sf0.1 — the local sf1 extension only
    // carries documents/embeddings) under AQE defaults. What the final
    // plans must show: the salted exchanges come back through
    // `AQEShuffleRead coalesced` (the salt multiplies partition count;
    // AQE shrinks it back to the data volume) and NO skew=true split —
    // the salt already flattened the hot key below the skew threshold,
    // which is the composition contract: salting handles the skew you
    // planned for, AQE's skew-join (pinned live in aqe_skew_join_demo
    // above) remains armed for the skew you didn't.
    locally {
      val sfBig = sys.env.getOrElse("SPARK_GRAFT_SF_BIG",
        "/root/testdata/sf0.1")
      Seq("q44_salted_agg", "q85_salted_join").foreach { n =>
        val df = SparkEntry.queries(n)(spark, sfBig)
        df.collect() // finalize the adaptive plan
        sb.append(s"\n## $n (EXECUTED final plan, $sfBig, AQE defaults)\n\n")
        sb.append(s"```\n${df.queryExecution.executedPlan}\n```\n")
      }
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      sb.toString.getBytes("UTF-8"))
    println(s"[plandump] wrote ${names.size} plans to $out")
    spark.stop()
  }
}
