package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AsofJoin, Components, Dedup, Layout, Packing, Sampling, Scrub, Similarity, SnapshotMerge, TextAnalysis, Windows}

/** Driver contract (see SURVEY.md §7): one `queries` entry per implemented
  * operator family from SURVEY §2 plus the training-data-pipeline extensions,
  * and for each a DuckDB-executable oracle in [[oracleSql]].
  *
  * Determinism rules for oracle parity (SURVEY §7.4):
  *  - every aggregate/computed column aliased identically on both sides;
  *  - double *aggregates* rounded (sums of 2-decimal money to 2dp, derived
  *    products to 4dp — the true values sit on that decimal grid so rounding
  *    can never straddle a boundary); per-row scalar doubles are left raw
  *    (same IEEE ops on same inputs are bit-identical in any engine);
  *  - ranked outputs carry explicit total-order tiebreakers;
  *  - no timestamp output columns (epoch longs instead) so comparison never
  *    depends on a reader's timestamp-unit normalization.
  */
object SparkEntry {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** The events table as a real file stream, `ts` normalized to a µs
    * TimestampType from whatever physical layout the fixture carries
    * (ns-longs or TIMESTAMP_NTZ — see [[Tables.normalizeEventTs]]).
    * Shared by every streaming query. */
  private def eventFileStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.readStream
      .schema(s.read.parquet(s"$dir/events.parquet").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    Tables.normalizeEventTs(raw)
  }

  /** Temp dir that is removed at JVM exit. Query lambdas that WRITE (q78,
    * q82, the streaming sinks) return a frame reading their output lazily,
    * so the dir must outlive the lambda — but never the process: without
    * the exit hook, repeated bench sweeps accumulate sf-sized garbage in
    * /tmp (round 7 left 27 dirs / 33 MB behind). */
  private def scratchDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    Runtime.getRuntime.addShutdownHook(new Thread(() => sinks.JdbcLoad.rmTree(d)))
    d.toString
  }

  /** Run a streaming DataFrame to completion (append mode, parquet file
    * sink, AvailableNow) and read the result back. The checkpoint is
    * deleted immediately (useless after a bounded run); the output dir must
    * outlive this call — the returned frame reads it lazily — and is
    * removed on JVM exit.
    *
    * State shards are sized to the state volume, not the CPU count: a
    * stateful query opens (and commits, snapshots, maintains) its state
    * stores PER SHARD PER BATCH — a stream-stream join carries four stores
    * per shard — and at the gate's ~40k state rows that per-store overhead
    * dominates: measured on q61, 32 shards spend 75 s of summed state
    * commit time where 8 shards spend 3.3 s (wall 12.0 → 6.7 s); the
    * round-14 sweep (8/4/2 shards × heap/RocksDB on the four gate-scale
    * stream lanes, two runs each) found 4 the optimum for BOTH providers
    * (heap 8.1–8.4 → 7.2–7.7 s; RocksDB 8.9–9.6 → 8.0–8.3 s), so 4 is
    * the default clamp. Shard count is checkpoint-pinned in Structured
    * Streaming, so sizing it deliberately before the first batch is the
    * documented production practice — at real load you size it UP for
    * the same reason (SPARK_GRAFT_STATE_SHARDS overrides). The session
    * value is restored after the bounded run. */
  /** State-store provider for the bounded streaming lanes. Default is the
    * HDFS-backed heap store — right for gate-scale state (~40k rows), where
    * RocksDB's per-batch native-store open/commit is pure overhead
    * (measured head-to-head in OPERATORS.md §streaming). At 100 TB the
    * dial flips: state no longer fits executor heaps, and
    * `SPARK_GRAFT_STATE_STORE=rocksdb` moves every stateful lane onto the
    * spill-to-disk RocksDB provider (changelog checkpointing on, so per-
    * batch checkpoint upload is the delta, not the full store) with no
    * query changes — provider choice is a deploy-time config, pinned into
    * each checkpoint at first batch. */
  private val stateStoreConfs: Map[String, String] =
    if (sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb"))
      Map(
        "spark.sql.streaming.stateStore.providerClass" ->
          ("org.apache.spark.sql.execution.streaming.state." +
            "RocksDBStateStoreProvider"),
        ("spark.sql.streaming.stateStore.rocksdb." +
          "changelogCheckpointing.enabled") -> "true")
    else Map.empty

  /** Set the streaming session confs (state shards, provider), run the
    * bounded query, restore. Restore matters: Verify/Bench run every lane
    * in one session, and a leaked conf would silently re-plan later
    * non-streaming queries. */
  private def withStreamSession[T](s: SparkSession)(body: => T): T = {
    val keys = "spark.sql.shuffle.partitions" :: stateStoreConfs.keys.toList
    val saved = keys.map(k => k -> s.conf.getOption(k)).toMap
    // state shard count (pinned into each checkpoint at first batch).
    // Default: clamp the session's shuffle partitions to 4 — the swept
    // optimum for both providers at gate scale (round-14 sweep in
    // OPERATORS.md). SPARK_GRAFT_STATE_SHARDS overrides for
    // provider-specific sizing sweeps; garbage values fall through to
    // the default clamp rather than killing every streaming lane.
    sys.env.get("SPARK_GRAFT_STATE_SHARDS")
      .flatMap(v => scala.util.Try(v.toInt).toOption) match {
      case Some(n) if n >= 1 =>
        s.conf.set("spark.sql.shuffle.partitions", n.toString)
      case _ =>
        if (s.conf.get("spark.sql.shuffle.partitions").toInt > 4)
          s.conf.set("spark.sql.shuffle.partitions", "4")
    }
    stateStoreConfs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  private def streamToParquet(s: SparkSession, df: DataFrame): DataFrame = {
    val outDir = scratchDir("graft_stream_out")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    withStreamSession(s) {
      try {
        val query = df.writeStream.outputMode("append")
          .format("parquet").option("path", outDir)
          .option("checkpointLocation", ckDir.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      } finally sinks.JdbcLoad.rmTree(ckDir) // a failed stream must not leak the checkpoint
    }
    s.read.parquet(outDir)
  }

  /** Run a streaming aggregation to completion in COMPLETE output mode
    * (memory sink, AvailableNow) and return the final table. Only for
    * results whose size is bounded by CONFIG, never by data — the memory
    * sink holds the whole result on the driver, which is exactly the
    * sketch contract (d×w counters regardless of stream length). */
  private def streamToMemoryComplete(s: SparkSession, df: DataFrame): DataFrame = {
    val name = "graft_mem_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val ckDir = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    withStreamSession(s) {
      try {
        val query = df.writeStream.outputMode("complete")
          .format("memory").queryName(name)
          .option("checkpointLocation", ckDir.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      } finally sinks.JdbcLoad.rmTree(ckDir) // a failed stream must not leak the checkpoint
    }
    s.table(name)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_nation_revenue")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1 hash aggregate — partial+final, one shuffle on the group keys.
    "q01_pricing_summary" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
    }),

    // A2 rollup / grouping sets.
    "q02_rollup_orders" -> ((s, dir) => {
      T(s, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // A3 conditional aggregation (count_if / filtered agg).
    "q03_conditional_agg" -> ((s, dir) => {
      T(s, dir, "lineitem").agg(
        count_if(col("l_discount") > 0.05).as("n_discounted"),
        count(lit(1)).as("n_total"),
        round(sum(when(col("l_returnflag") === "R", col("l_extendedprice"))
          .otherwise(0.0)), 2).as("returned_value"))
    }),

    // P1/P5/F8 scan with pushed filter + pruned projection (verify via
    // .explain: PushedFilters on l_shipdate/l_quantity, 6-column ReadSchema).
    "q04_filter_project" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1998-01-01").cast("timestamp") &&
          col("l_quantity") > 30)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("net_price"))
    }),

    // J1 anti join — inserts lane of the reference's set-diff.
    "q05_anti_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_totalprice") > 100000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
    }),

    // J3 semi join — updates lane.
    "q06_semi_join" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val o = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_nationkey"))
    }),

    // J4 broadcast dim join + aggregation (nation/region are tiny dims).
    "q07_nation_revenue" -> ((s, dir) => {
      val c = T(s, dir, "customer")
      val n = T(s, dir, "nation")
      val o = T(s, dir, "orders")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(o, c("c_custkey") === o("o_custkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))
    }),

    // J5 cross join — the reference's category grid (S3).
    "q08_cross_grid" -> ((s, dir) => {
      T(s, dir, "region").select(col("r_name"))
        .crossJoin(T(s, dir, "nation").select(col("n_name")))
    }),

    // W1 ranked top-k per group (the top-5-tags pivot, order enforced).
    "q09_top5_per_group" -> ((s, dir) => {
      Windows.topKPerGroup(
        T(s, dir, "lineitem"),
        Seq(col("l_returnflag"), col("l_linestatus")),
        Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
          col("l_linenumber").asc),
        5, "rn")
        .select(col("l_returnflag"), col("l_linestatus"), col("l_orderkey"),
          col("l_linenumber"), col("l_extendedprice"), col("rn"))
    }),

    // O global top-N (total order with tiebreaker → deterministic set).
    "q10_topn_orders" -> ((s, dir) => {
      T(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(100)
        .select(col("o_orderkey"), col("o_totalprice"))
    }),

    // I1/J1–J3 snapshot-diff merge: one full-outer join, action-classified.
    "q11_merge_actions" -> ((s, dir) => {
      val cust = T(s, dir, "customer")
      val source = cust.filter(col("c_custkey") % 10 =!= 3)
        .withColumn("c_acctbal",
          when(col("c_custkey") % 4 === 0, col("c_acctbal") + 100.0)
            .otherwise(col("c_acctbal")))
      val target = cust.filter(col("c_custkey") % 10 =!= 7)
      SnapshotMerge.mergeActions(source, target, "c_custkey", Seq("c_acctbal"))
        .select(col("c_custkey"), col("action"), col("c_acctbal"))
    }),

    // Exact dedup groups (docx §4.4 uniqueness rule, at corpus scale).
    "q12_dedup_exact" -> ((s, dir) => {
      Dedup.exactGroups(T(s, dir, "documents"), "doc_id", "text")
    }),

    // F2/F3 coalesce with Python-truthiness (empty-string) semantics.
    "q13_coalesce_fallback" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(coalesce(nullif(trim(col("source")), lit("")), col("lang"))
          .as("origin"))
        .groupBy(col("origin")).agg(count(lit(1)).as("n"))
    }),

    // F7 date-part extraction + aggregation.
    "q14_date_parts" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("yr"),
          month(col("o_orderdate")).as("mo"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("total"))
    }),

    // F6 JSON field extraction from a string column.
    "q15_json_extract" -> ((s, dir) => {
      T(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          round(avg(col("k")), 4).as("avg_k"))
    }),

    // Token counting: whitespace + BPE-ish subword proxy.
    "q16_token_stats" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      d.select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.bpeishTokenCount(col("text")).as("n_subtokens"),
        length(col("text")).as("len"))
    }),

    // F8/F9/F10 string truncation / trim / cast.
    "q17_string_funcs" -> ((s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
        substring(col("text"), 1, 20).as("prefix"),
        upper(substring(trim(col("text")), 1, 5)).as("head"),
        length(trim(col("text"))).as("trim_len"),
        col("n_chars").cast("string").as("n_chars_str"))
    }),

    // F13 dictionary decode (enum code → label) via a literal map.
    "q18_enum_decode" -> ((s, dir) => {
      val m = typedLit(Map("F" -> "FINISHED", "O" -> "OPEN", "P" -> "PENDING"))
      T(s, dir, "orders")
        .select(element_at(m, col("o_orderstatus")).as("status_label"))
        .groupBy(col("status_label")).agg(count(lit(1)).as("n"))
    }),

    // Running total window (cumulative frame, deterministic order).
    "q19_running_total" -> ((s, dir) => {
      Windows.runningTotal(
        T(s, dir, "orders"),
        Seq(col("o_custkey")),
        Seq(col("o_orderdate").asc, col("o_orderkey").asc),
        col("o_totalprice"), "running_raw")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("running_raw"), 2).as("running_total"))
    }),

    // Tumbling event-time buckets (batch form of the streaming window).
    "q20_tumbling_window" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(Windows.tumble(col("ts"), 600).cast("long").as("win_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }),

    // Text quality scoring (length / token / vowel-ratio bands).
    "q21_text_quality" -> ((s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
        length(col("text")).as("n_chars_actual"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        TextAnalysis.vowelRatio(col("text")).as("vowel_ratio"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // Heuristic language ID (stopword-profile voting).
    "q22_langid" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(TextAnalysis.langId(col("text")).as("pred_lang"), col("lang"))
        .groupBy(col("pred_lang"), col("lang")).agg(count(lit(1)).as("n"))
    }),

    // Document fingerprinting (normalized md5).
    "q23_fingerprint" -> ((s, dir) => {
      T(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    }),

    // Dim-table aggregate over part (predicate + avg/sum).
    "q24_part_stats" -> ((s, dir) => {
      T(s, dir, "part").filter(col("p_size").between(10, 40))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_parts"),
          round(avg(col("p_retailprice")), 4).as("avg_price"),
          round(sum(col("p_retailprice")), 2).as("total_price"))
    }),

    // Multi-hop dim join: supplier → nation → region.
    "q25_supplier_region" -> ((s, dir) => {
      val su = T(s, dir, "supplier")
      val n = T(s, dir, "nation")
      val r = T(s, dir, "region")
      su.join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n_suppliers"),
          round(sum(col("s_acctbal")), 2).as("total_bal"))
    }),

    // Near-dup: word-3-gram Jaccard pairs (inverted-index self-join).
    // maxShingleDocFreq=100 drops stop-shingles: a shingle shared by k docs
    // contributes k² rows to the self-join, the classic quadratic blowup at
    // corpus scale — the cap bounds k. Mirrored in the oracle's `capped` CTE.
    "q26_jaccard_pairs" -> ((s, dir) => {
      Dedup.ngramJaccardPairs(T(s, dir, "documents"), "doc_id", "text", 3, 0.3,
        maxShingleDocFreq = 100L)
    }),

    // MinHash signatures (8 permutations via seeded md5, lexicographic min).
    "q27_minhash_signatures" -> ((s, dir) => {
      Dedup.minhashSignatures(T(s, dir, "documents"), "doc_id", "text", 3, 8)
    }),

    // MinHash-LSH candidate pairs (4 bands × 2 rows).
    "q28_minhash_lsh_pairs" -> ((s, dir) => {
      Dedup.minhashLshPairs(T(s, dir, "documents"), "doc_id", "text", 3, 8, 2)
    }),

    // SimHash (64-bit, token-frequency weighted, hex-encoded).
    "q29_simhash" -> ((s, dir) => {
      Dedup.simhash(T(s, dir, "documents"), "doc_id", "text")
    }),

    // SimHash near-dup pairs: Hamming ≤ 3 via exact 4-band pigeonhole.
    // C(6,3) combination blocking (Manku '07) — measured sublinear at the
    // fourth decade (exponent 0.77 vs the nested pigeonhole's 1.25; sf1
    // 8.4 s vs 15.0 s min-of-2) on this fixture's adversarially
    // concentrated fingerprints; both schemes are exact, so the oracle is
    // shared. The pigeonhole variant stays the small-corpus choice (fewer
    // keys: 0.85 s vs 1.42 s at sf0.1).
    "q30_simhash_pairs" -> ((s, dir) => {
      Dedup.simhashNearDupPairsCombinatorial(T(s, dir, "documents"), "doc_id", "text", 3)
    }),

    // Exact brute-force cosine top-k (broadcast queries, map-side scoring).
    "q31_cosine_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10)
    }),

    // Embedding-cosine near-dup pairs through the DEFAULT entry point —
    // the auto-dispatched generator (r14 verdict task 4: callers land on
    // the route audit q193 proved out unless they opt out; q156 keeps the
    // explicit-SRP form as the comparison lane). Since r16 the dispatch's
    // cell route ships MULTI-PROBE (cellProbes = DefaultCellProbes = 2 —
    // the q203-measured recall-1.0 form); since r17 the SRP route does
    // too (srpProbes = DefaultSrpProbes = 2 — the q208-measured
    // recall-1.0 form; on THIS corpus the probed route verifies 580 vs
    // 203 true pairs at +10% solo cost). The embeddings fixture is
    // direction-balanced at every SF (concentration < 3), so the
    // dispatch takes the quantizer-free probed-SRP path — pinned in
    // PlanSpec — and the oracle replays the same concentration gate plus
    // the margin flips + DISTINCT, so a dispatcher shipping rank-0 (or a
    // different probe count) hash-mismatches here at every SF.
    "q32_cosine_neardup" -> ((s, dir) => {
      Similarity.embeddingNearDupPairsAuto(T(s, dir, "embeddings"),
        "vec_id", "embedding", 0.3, dim = 64)
    }),

    // Approximate ANN: SRP-bucketed cosine top-k (scale path of q31),
    // multi-table (p=2, L=8) — the deployment-grade config, recall@10
    // 0.98 vs exact (RecallSpec pin; the quality dial is 1-(1-r)^L).
    "q33_lsh_ann_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.lshBucketedTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, nPlanes = 2, dim = 64, nTables = 8)
    }),

    // A4 per-column max-length stats (the Excel width calc, distributed).
    "q34_colwidth_stats" -> ((s, dir) => {
      T(s, dir, "documents").agg(
        max(length(col("text"))).as("w_text"),
        max(length(col("lang"))).as("w_lang"),
        max(length(col("source"))).as("w_source"),
        max(length(col("doc_id").cast("string"))).as("w_doc_id"))
    }),

    // Analytic window functions: lag/lead/rank family over a total order.
    "q40_analytic_windows" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      T(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        ntile(4).over(w).as("quartile"))
    }),

    // As-of (point-in-time) join: latest prior error per purchase, by user.
    "q41_asof_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), col("ts").as("err_ts"),
          col("value").as("err_value"))
      AsofJoin.asofJoin(purchases, errors, "user_id", "ts", "err_ts")
        .select(col("event_id"), col("user_id"),
          unix_timestamp(col("ts")).as("ts_epoch"),
          unix_timestamp(col("asof_err_ts")).as("err_epoch"),
          col("err_value"))
    }),

    // Session windows (30-min gap) per user, batch form.
    "q42_session_windows" -> ((s, dir) => {
      T(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("session_window.start")).as("session_start"),
          col("user_id"), col("n_events"), col("sum_value"))
    }),

    // Exact interpolated percentiles per group.
    "q43_percentiles" -> ((s, dir) => {
      T(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 3).as("p50"),
          round(percentile(col("o_totalprice"), lit(0.9)), 3).as("p90"),
          count(lit(1)).as("n"))
    }),

    // Edit-distance near-dup verify over the LSH candidate set (cheap
    // exact check confined to candidates — never all-pairs).
    "q47_edit_distance" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val cand = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 8, 2)
      val prefixes = docs.select(col("doc_id"),
        substring(col("text"), 1, 80).as("prefix"))
      cand
        .join(prefixes.select(col("doc_id").as("id_a"), col("prefix").as("pa")), "id_a")
        .join(prefixes.select(col("doc_id").as("id_b"), col("prefix").as("pb")), "id_b")
        .select(col("id_a"), col("id_b"),
          levenshtein(col("pa"), col("pb")).as("edit_dist"))
        .filter(col("edit_dist") <= 40)
    }),

    // Bounded-shuffle exact top-k: same contract as q31 but via the typed
    // TopKAggregator — the shuffle carries ≤ k candidates per map partition
    // instead of every scored row (the form to run at corpus scale).
    "q48_topk_agg" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.bruteForceTopKAgg(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10)
    }),

    // TPC-H Q3-shaped: 3-way join, filtered, ranked revenue top-10.
    "q49_shipping_priority" -> ((s, dir) => {
      val c = T(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val o = T(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
      val l = T(s, dir, "lineitem")
        .filter(col("l_shipdate") > lit("1997-07-01").cast("timestamp"))
      c.join(o, c("c_custkey") === o("o_custkey"))
        .join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("l_orderkey"),
          unix_timestamp(col("o_orderdate")).as("o_date_epoch"),
          col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    // Docx §4.4 data-quality profile as one aggregate pass.
    "q50_quality_profile" -> ((s, dir) => {
      T(s, dir, "orders").agg(
        count(lit(1)).as("n_rows"),
        count_if(col("o_custkey").isNull).as("null_custkey"),
        count_if(col("o_totalprice").isNull).as("null_totalprice"),
        countDistinct(col("o_orderstatus")).as("n_statuses"),
        round(min(col("o_totalprice")), 2).as("min_price"),
        round(max(col("o_totalprice")), 2).as("max_price"),
        min(unix_timestamp(col("o_orderdate"))).as("min_date_epoch"),
        max(unix_timestamp(col("o_orderdate"))).as("max_date_epoch"))
    }),

    // Benchmark decontamination: corpus docs sharing >= 10 distinct 3-gram
    // shingles with the held-out set (doc_id < 50). Bench shingles broadcast
    // — the corpus side never shuffles on the shingle key.
    "q51_contamination" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Dedup.benchmarkOverlap(
        docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
        "doc_id", "text", 3, 10L)
    }),

    // Deterministic fixed-size per-language sample (bounded-shuffle min-k
    // aggregator; the window/row_number equivalent is the oracle's form).
    "q52_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedFixedK(T(s, dir, "documents"), "lang", "doc_id", 20)),

    // PII redaction over a deterministic synthetic profile derived from
    // customer (the corpus has no natural PII): email + dashed phone +
    // dotted-quad IP, redacted in the fixed email → IP → phone order.
    "q53_pii_redaction" -> ((s, dir) => {
      val ck = col("c_custkey")
      val profile = concat(
        col("c_name"), lit(" <"),
        lower(regexp_replace(col("c_name"), "[^A-Za-z0-9]", ".")),
        lit("@example.com> tel "),
        lpad((ck % 800 + 200).cast("string"), 3, "0"), lit("-"),
        lpad(((ck * 7) % 1000).cast("string"), 3, "0"), lit("-"),
        lpad(((ck * 13) % 10000).cast("string"), 4, "0"),
        lit(" ip "),
        (ck % 223 + 1).cast("string"), lit("."),
        ((ck * 3) % 256).cast("string"), lit("."),
        ((ck * 5) % 256).cast("string"), lit("."),
        ((ck * 11) % 254 + 1).cast("string"))
      T(s, dir, "customer")
        .select(col("c_custkey"), profile.as("profile"))
        .select(col("c_custkey"),
          Scrub.countMatches(col("profile"), Scrub.EmailPattern).as("n_email"),
          Scrub.countMatches(col("profile"), Scrub.PhonePattern).as("n_phone"),
          Scrub.countMatches(col("profile"), Scrub.IpPattern).as("n_ip"),
          Scrub.redactPii(col("profile")).as("redacted"))
    }),

    // C4-style boilerplate line removal: docs split into lines (derived
    // deterministically — the corpus has no newlines), lines present in > 3
    // docs dropped, survivors reassembled in order.
    "q54_boilerplate_lines" -> ((s, dir) => {
      val lined = T(s, dir, "documents").select(col("doc_id"),
        replace(col("text"), lit(" value "), lit("\n")).as("text"))
      Scrub.dropBoilerplateLines(lined, "doc_id", "text", 3L)
    }),

    // Zero-shuffle deterministic mixture sampling: per-language Bernoulli
    // rates via md5-threshold filters (en 50%, zh 25%, rest 12.5%).
    "q55_sample_fraction" -> ((s, dir) =>
      Sampling.stratifiedByFraction(T(s, dir, "documents"), "lang", "doc_id",
        Map("en" -> 0.5, "zh" -> 0.25), 0.125)
        .select(col("doc_id"), col("lang"))),

    // Sequence packing for training shards: greedy fixed-budget packs per
    // id-bucket, one shuffle + external sort + O(1)-state streaming fold.
    "q56_sequence_packing" -> ((s, dir) =>
      Packing.packGreedy(T(s, dir, "documents"), "doc_id", "text",
        budget = 256, nBuckets = 8)),

    // Ordered funnel: earliest click → signup → purchase chain per user
    // (strictly increasing times; greedy earliest-first is exact).
    "q62_funnel" -> ((s, dir) =>
      operators.Funnel.stageTimes(T(s, dir, "events"), "user_id",
          "event_type", "ts", Seq("click", "signup", "purchase"))
        .select(col("user_id"),
          unix_micros(col("t1")).as("t1_us"),
          unix_micros(col("t2")).as("t2_us"),
          unix_micros(col("t3")).as("t3_us"))),

    // Flagship corpus-hygiene pipeline — the operators composed the way a
    // production pre-training run chains them: quality gate → repetition
    // gate → exact dedup (min-id survivor) → deterministic mixture sample.
    // Every stage is an already-gated operator; this query gates the
    // COMPOSITION (join/filter interplay, survivor semantics over the
    // filtered set, sampling over the deduped set).
    "q60_corpus_pipeline" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val scored = docs.select(col("doc_id"), col("text"), col("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
      val rep = TextAnalysis.repetitionProfile(docs, "doc_id", "text")
        .select(col("doc_id"), col("dup_3gram_frac"))
      val filtered = scored.join(rep, Seq("doc_id"))
        .filter(col("quality") >= 2 && col("dup_3gram_frac") <= 0.2)
      val deduped = Dedup.exact(filtered, "doc_id", "text")
      Sampling.stratifiedByFraction(deduped, "lang", "doc_id",
          Map("en" -> 0.5), 0.25)
        .select(col("doc_id"), col("lang"), col("quality"))
    }),

    // Duplicate-cluster resolution: near-dup pairs (q26's edge set) grouped
    // into transitive clusters via alternating large-star/small-star
    // connected components; every doc tagged with its cluster min (the
    // survivor), singletons with themselves.
    "q63_dedup_clusters" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3,
        maxShingleDocFreq = 100L)
      Components.dedupClusters(docs.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b")
    }),

    // Per-label embedding centroids in long form: posexplode to
    // (label, dim) and aggregate — the vector-mean family without any
    // order-sensitive array fold (per-dim sums are scalar aggregates;
    // means rounded to 6dp since partition-order float addition differs
    // from the oracle's by ~1e-15 relative).
    "q74_label_centroids" -> ((s, dir) =>
      T(s, dir, "embeddings")
        .select(col("label"), posexplode(Similarity.asDouble(col("embedding")))
          .as(Seq("dim", "x")))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), round(avg(col("x")), 6).as("mean"))),

    // Dynamic quantile-threshold filter: docs inside the global
    // [p05, p95] length band (outlier trim before training) — exact
    // percentiles computed once (1-row agg), broadcast back over the scan.
    // Thresholds rounded to 3dp on both sides (q43-proven parity) so the
    // integer n_chars comparisons can never straddle an engine ulp.
    "q73_length_band" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val thr = docs.agg(
        round(percentile(col("n_chars"), lit(0.05)), 3).as("lo"),
        round(percentile(col("n_chars"), lit(0.95)), 3).as("hi"))
      docs.crossJoin(broadcast(thr))
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // Deterministic epoch shuffle: content-independent per-epoch order
    // keys, hex-digit shards, dense in-shard positions — the reproducible
    // training-data ordering pass (no rand(), identical on any cluster).
    "q72_epoch_shuffle" -> ((s, dir) =>
      Sampling.epochShuffle(T(s, dir, "documents").select(col("doc_id")),
        "doc_id", nEpochs = 2, nShards = 4)),

    // Efraimidis–Spirakis weighted sample: 50 docs, P ∝ char length —
    // the mixture-weighting pass (uniform-in-stratum q52 can't express
    // it). Keys ranked as round(ln(u)/w, 9) with id tiebreak (q64 trick).
    "q77_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSampleK(T(s, dir, "documents"), "doc_id",
        length(col("text")), 50)),

    // Bloom-prefiltered decontamination (the runtime-filter pattern by
    // hand): bench 3-gram set → one 1 MiB sketch probed in the corpus
    // scan, exact broadcast-semi confirm on the sliver — zero corpus-side
    // shuffle (q51's reporting variant distinct's the whole corpus).
    // Result exact → oracle is the plain anti join.
    "q79_bloom_decontam" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      // sketch sized to the bench (~6k distinct 3-grams at sf0.01): 2^20
      // bits = 128 KiB rides the task binary; the 8 MiB default is for
      // eval suites orders of magnitude larger
      Dedup.bloomDecontaminate(
          docs.filter(col("doc_id") >= 50), docs.filter(col("doc_id") < 50),
          "doc_id", "text", 3,
          estimatedBenchShingles = 1L << 16, numBits = 1L << 20)
        .select(col("doc_id"), col("lang"))
    }),

    // Heavy hitters, exact via sketch + recount: Misra-Gries candidates
    // (bounded counters, vocab-independent state) then an exact recount
    // over only the candidate tokens. The sketch-path counterpart to
    // q67's full-vocab two-level aggregation.
    "q80_heavy_hitters" -> ((s, dir) =>
      TextAnalysis.heavyHitters(T(s, dir, "documents"), "text", 0.01)),

    // GPT-style concat-and-split packing: 256-token blocks cutting ACROSS
    // doc boundaries per id-bucket (q56 is the no-split greedy variant);
    // per-bucket running-sum window + sequence-explode, no fold state.
    "q81_concat_blocks" -> ((s, dir) =>
      Packing.concatBlocks(T(s, dir, "documents"), "doc_id", "text",
        blockSize = 256, nBuckets = 8)),

    // Statically salted hot-key join: 3/4 of events share ONE dim key;
    // the salt spreads it over 8 reducers, the dim replicates 8x. Result
    // identical to the plain join (the oracle), only placement changes —
    // the skew control for stateful streaming where AQE cannot re-plan.
    "q85_salted_join" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(
        when(col("event_id") % 4 =!= 0, lit(0L))
          .otherwise(col("user_id") % 200).as("k"),
        col("value"))
      import s.implicits._
      val dim = (0L until 200L).map(i => (i, s"grp${i % 7}")).toDF("k", "grp")
      operators.Skew.saltedJoin(ev, dim, "k", numSalts = 8)
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
    }),

    // Per-host document cap (C4/RefinedWeb anti-spam control) over a
    // deterministic synthetic URL (the corpus has no natural one):
    // parse_url host extraction + bounded min-k sample per host.
    "q84_domain_caps" -> ((s, dir) => {
      val url = concat(lit("https://www."), col("source"), lit(".example-"),
        col("lang"), lit(".org/docs/"), col("doc_id"), lit("?ref=graft"))
      val withUrl = T(s, dir, "documents").select(col("doc_id"), url.as("url"))
      operators.Scrub.capPerHost(withUrl, "url", "doc_id", 3)
        .withColumn("domain", operators.Scrub.registrableDomain(col("host")))
    }),

    // Trailing time-RANGE window: per-user rolling 1-hour count/sum at
    // every event — the RANGE-frame analytic family (q19/q40 cover ROWS
    // frames). Peer rows (equal ts) share a frame in both engines.
    "q70_trailing_window" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-3600L * 1000000L, Window.currentRow)
      T(s, dir, "events").select(
        col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value")).over(w), 2).as("sum_1h"))
    }),

    // RAG-style token chunking: 32-token windows every 24 tokens (8-token
    // overlap), scan-stage only.
    "q69_token_chunks" -> ((s, dir) =>
      TextAnalysis.tokenChunks(T(s, dir, "documents"), "doc_id", "text", 32, 24)),

    // Corpus vocabulary: top-50 word 2-grams by occurrence count (vocab /
    // BPE-seed / stop-shingle statistics pass). Two-level agg, TakeOrdered.
    "q67_vocab_topk" -> ((s, dir) =>
      TextAnalysis.topNgrams(T(s, dir, "documents"), "doc_id", "text", 2, 50)),

    // Sliding (hopping) windows: 30-min windows every 10 min — each event
    // lands in exactly 3 windows; same agg contract as q20's tumbling.
    "q68_sliding_window" -> ((s, dir) =>
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1800 seconds", "600 seconds"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("window.start").cast("long").as("win_start"),
          col("event_type"), col("n"), col("sum_value"))),

    // PQ-ANN: product-quantization codes + asymmetric-distance top-k (the
    // FAISS PQ scan shape — corpus vectors replaced by m codebook codes).
    "q66_pq_ann_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.pqTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, m = 8, codebookSize = 8)
    }),

    // IVF-PQ: coarse cells bound the candidate set (q38's quantizer), PQ
    // codes replace the vectors at scoring time (q66's ADC) — the FAISS
    // IVFPQ composition; both quantizations are scan-stage expressions.
    "q76_ivfpq_ann_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, nCentroids = 8, nProbe = 2, m = 8, codebookSize = 8)
    }),

    // ANN build/serve split: train the IVF-PQ quantizers ONCE, persist
    // centroids + codebooks + codes + the raw-vector refine store as a
    // parquet index, then serve from the STORED index only — candidates
    // from the compressed-domain scan (probe 6, 24×k), exact re-rank
    // against the index's own refine relation. The production deployment
    // shape at deployment-grade recall (0.82 at this config, RecallSpec
    // pin).
    "q99_ann_index_serve" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val idx = scratchDir("graft_q99_idx")
      Similarity.buildIvfPqIndex(e, "vec_id", "embedding", idx,
        nCentroids = 8, m = 8, codebookSize = 8)
      Similarity.ivfPqServeRefined(s, idx, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10, nProbe = 6, candidateFactor = 24)
    }),

    // Incremental ANN index lifecycle: build on the HISTORICAL corpus
    // (vec_id < 400), append the delta (vec_id >= 400) encoded with the
    // STORED quantizers (no retraining), serve over the extended index —
    // the daily-ingest path; delta rows are fully retrievable.
    "q102_ann_index_append" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val idx = scratchDir("graft_q102_idx")
      Similarity.buildIvfPqIndex(e.filter(col("vec_id") < 400), "vec_id",
        "embedding", idx, nCentroids = 8, m = 8, codebookSize = 8)
      Similarity.appendToIvfPqIndex(s, idx, e.filter(col("vec_id") >= 400),
        "vec_id", "embedding")
      Similarity.ivfPqServeRefined(s, idx, e.filter(col("vec_id") < 5),
        "vec_id", "embedding", 10, nProbe = 6, candidateFactor = 24)
    }),

    // PQ + exact refine (the FAISS refine stage): ADC nominates 4×k
    // candidates from the compressed-domain scan, exact cosine re-ranks
    // the sliver to k — recall is bounded by candidate recall@40, not ADC
    // distortion (RecallSpec pins the measured recall floors).
    "q86_pq_refined_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.pqTopKRefined(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, m = 8, codebookSize = 8, candidateFactor = 24)
    }),

    // First BPE-training iteration: adjacent-symbol pair counts over the
    // pre-tokenized corpus — pair work scales with the WORD-FREQUENCY
    // table (vocab-bounded), the corpus is touched once at scan stage.
    "q87_bpe_pairs" -> ((s, dir) =>
      TextAnalysis.bpePairCounts(T(s, dir, "documents"), "text", 50)),

    // Kneser–Ney continuation counts: distinct predecessors per word (the
    // KN lower-order numerator) — adjacency built at scan stage, distinct
    // bigram reduction map-side combinable.
    "q88_continuations" -> ((s, dir) =>
      TextAnalysis.continuationCounts(T(s, dir, "documents"), "text", 50)),

    // Full BPE trainer: 20 rounds of count → merge-argmax → re-tokenize,
    // all on the vocab-bounded word-frequency relation (q87 is one round
    // of the counting step). Emits the merge table a tokenizer ships.
    "q98_bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeTrain(T(s, dir, "documents"), "text", 20)),

    // Tokenizer train + ENCODE end-to-end: apply q98's trained merges to
    // the corpus. The merge table (20 rows, bounded) rides into the plan
    // as literals; the apply is a codegen'd chain of replace()s over the
    // wrapped segmentation string — one scan, zero shuffles.
    "q101_bpe_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val merges = TextAnalysis.bpeTrain(docs, "text", 20)
        .orderBy(col("rnd")).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TextAnalysis.bpeEncode(docs, "doc_id", "text", merges)
    }),

    // WordPiece-style subword vocabulary: frequency-seeded candidates +
    // 3 rounds of longest-match re-estimation and pruning (the float-free
    // hard-EM variant of Kudo '18; q98's BPE trainer is the merge-based
    // sibling). Artifact = the vocabulary a tokenizer ships.
    "q128_wordpiece_vocab" -> ((s, dir) =>
      TextAnalysis.wordpieceTrain(T(s, dir, "documents"), "text",
        seedSize = 200, vocabSize = 60, maxPieceLen = 4, rounds = 3)),

    // WordPiece apply: train (bounded vocab collect), then longest-match
    // encode the corpus — segmentation computed once per DISTINCT word,
    // corpus applied via broadcast join (q101's contract: n_tokens + the
    // encoded symbol stream). Head-to-head at sf1: join form 7.0 s vs
    // scan-stage fold 20.6 s (the interpreted fold over 22M corpus words
    // dominates re-segmentation savings), so the join form is the lane.
    "q129_wordpiece_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pieces = TextAnalysis.wordpieceTrain(docs, "text",
          seedSize = 200, vocabSize = 60, maxPieceLen = 4, rounds = 3)
        .select(col("piece")).collect().map(_.getString(0)).toSeq
      TextAnalysis.wordpieceEncode(docs, "doc_id", "text", pieces, 4)
    }),

    // Deterministic leak-proof train/val/test split: md5-threshold CASE at
    // scan stage; membership is a pure function of doc_id, so reruns and
    // corpus growth never move a document across splits.
    "q89_hash_split" -> ((s, dir) =>
      operators.Sampling.hashSplit(T(s, dir, "documents"), "doc_id",
          Seq(("train", 0.8), ("val", 0.1), ("test", 0.1)))
        .select(col("doc_id"), col("lang"), col("split"))),

    // Incremental NEAR-dup: the delta shard LSH-matched against the
    // historical SIGNATURE index (no historical text needed) — q93's
    // counterpart for edited re-posts. Integer signature-agreement verify.
    "q97_incremental_neardup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val indexSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") < 250), "doc_id", "text", 3, 8)
      Dedup.incrementalMinhashPairs(docs.filter(col("doc_id") >= 250),
        indexSigs, "doc_id", "text", 3, 8, 2, minMatchFraction = 0.5)
    }),

    // ORC interchange round trip: same fidelity contract as q82's JSONL
    // lane over the other columnar warehouse format (built into Spark).
    "q95_orc_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_q95")
      val cols = Seq("doc_id", "lang", "text")
      val src = T(s, dir, "documents").select(cols.map(col): _*)
      sinks.CorpusWriter.writeOrc(src, out)
      sinks.CorpusWriter.readOrc(s, out, src.schema).select(cols.map(col): _*)
    }),

    // Avro interchange round trip over the LOGICAL types naive exports
    // corrupt: timestamp-micros, decimal(12,2) (exact unscaled-bytes
    // encoding, no double-rounding), and a union-null lane. Emitted with
    // epoch-µs longs and the decimal kept as decimal (both engines hash
    // it exactly).
    "q100_avro_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_q100")
      val src = T(s, dir, "orders").select(
        col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderstatus")).as("status"),
        col("o_totalprice").cast("decimal(12,2)").as("price"),
        col("o_orderdate").as("odate"))
      sinks.AvroCorpus.writeAvro(src, out)
      sinks.AvroCorpus.readAvro(s, out, src.schema)
        .select(col("o_orderkey"), col("status"),
          // decimal emitted as exact integer cents (decimal×100 is exact;
          // a raw decimal column would reach the compare as float)
          (col("price") * 100).cast("long").as("price_cents"),
          // odate loads as TIMESTAMP_NTZ; UTC-session cast → epoch µs
          unix_micros(col("odate").cast("timestamp")).as("odate_us"))
    }),

    // Canonical text cleanup (crawl-ingest stage 0): NFC composition via
    // the custom codegen'd nfc_normalize expression, control strip,
    // whitespace collapse, trim — all in one scan-stage project, zero
    // shuffle. The appended suffix (stray spaces, \x01 control, e +
    // combining acute U+0301) makes every row exercise every pass — the
    // synthetic corpus is otherwise pure ASCII, which NFC fast-paths.
    "q103_unicode_clean" -> ((s, dir) => {
      val dirty = concat(col("text"), lit("  x\u0001e\u0301 "))
      T(s, dir, "documents").select(
        col("doc_id"),
        operators.Scrub.normalizeText(dirty).as("cleaned"),
        length(operators.Scrub.normalizeText(dirty)).cast("int").as("n_clean"))
    }),

    // Corpus-trained add-k bigram LM quality score (CCNet-style
    // perplexity filter): model build is one vocab-bounded shuffle,
    // scoring is a model-vs-corpus hash join + map-side-combinable avg.
    "q104_bigram_lm" -> ((s, dir) =>
      TextAnalysis.bigramLm(T(s, dir, "documents"), "doc_id", "text")),

    // URL canonicalization — the crawl-dedup key: case-folded scheme/host,
    // default port stripped, fragment gone, tracking params dropped,
    // surviving params sorted, trailing path slash trimmed. The dirty URL
    // is synthesized per-row (the corpus has no natural one) so every
    // doc_id residue class exercises a different spelling variant.
    "q105_url_canonicalize" -> ((s, dir) => {
      val d = T(s, dir, "documents")
      val dirty = concat(
        when(col("doc_id") % 2 === 0, lit("HTTPS://WWW."))
          .otherwise(lit("https://www.")),
        col("source"), lit(".Example-"), col("lang"), lit(".org"),
        when(col("doc_id") % 3 === 0, lit(":443")).otherwise(lit("")),
        lit("/Docs/"), col("doc_id"),
        when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("?utm_source=feed&b=2&fbclid=XYZ&a=1")).otherwise(lit("?a=1&b=2")),
        when(col("doc_id") % 5 === 0, lit("#frag")).otherwise(lit("")))
      d.select(col("doc_id"), dirty.as("url"),
        operators.Scrub.canonicalizeUrl(dirty).as("canon"))
    }),

    // HTML-to-text extraction over a synthesized page wrapper (script/
    // style content must vanish, tags become spaces, entities decode,
    // &amp; last), finished with the q103 normalizeText canonicalization —
    // the full crawl stage-0 chain, one scan-stage projection.
    "q107_html_strip" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>p { color: red }</style></head><body><p id=\"c\">"),
        col("text"),
        lit("</p><br/><b>tail</b> &amp;amp; &lt;fin&gt;&nbsp;&#39;q&#39;" +
          "</body></html>"))
      T(s, dir, "documents")
        .select(col("doc_id"),
          operators.Scrub.normalizeText(operators.Scrub.stripHtml(page))
            .as("clean"))
        .select(col("doc_id"), col("clean"),
          length(col("clean")).cast("int").as("n_clean"))
    }),

    // C4 row-local line rules (terminal punct, >=5 words, no javascript)
    // + page rules (lorem ipsum / curly brace / >=3 surviving lines) over
    // a page synthesized per-row: l1 and l6 always survive, l4 only on
    // even ids (punct parity), the interstitial/short/chrome lines never
    // do — so odd pages die on min-lines, and %17 / %19 ids die on the
    // lorem / brace page rules. Scan-stage only.
    "q108_c4_line_filter" -> ((s, dir) => {
      val words = split(col("text"), " ")
      def ws(a: Int, n: Int) = array_join(slice(words, a, n), " ")
      val lines = array(
        concat(ws(1, 8), lit(".")),
        lit("Enable JavaScript to view comments."),
        ws(9, 3),
        concat(ws(4, 8),
          when(col("doc_id") % 2 === 0, lit("!")).otherwise(lit(""))),
        lit("(c) 2026 Example Corp"),
        concat(ws(2, 6), lit("?")))
      val extra = when(col("doc_id") % 17 === 0,
          array(lit("Lorem ipsum dolor sit amet.")))
        .when(col("doc_id") % 19 === 0, array(lit("function() { return 1; }")))
        .otherwise(array().cast("array<string>"))
      val page = array_join(concat(lines, extra), "\n")
      val kept = operators.Scrub.c4KeptLines(page)
      val keep = operators.Scrub.c4PageKeep(page, kept)
      T(s, dir, "documents").select(
        col("doc_id"),
        size(split(page, "\n")).as("n_lines"),
        size(kept).as("n_kept"),
        when(keep, lit(1)).otherwise(lit(0)).as("page_kept"),
        when(keep, array_join(kept, "\n")).otherwise(lit("")).as("cleaned"))
    }),

    // Paragraph-level keep-first-global-occurrence dedup (the Dolma
    // recipe) over synthesized paragraphs: p1 is doc-unique, p2 repeats
    // across each doc_id%7 class, p3 is corpus-universal boilerplate, and
    // every %4 doc repeats its own p1 (the within-doc case). Winner per
    // fingerprint is a map-side-combinable min(struct(id,pos)) aggregate —
    // the text never rides the fingerprint shuffle.
    "q109_paragraph_dedup" -> ((s, dir) => {
      val p1 = array_join(slice(split(col("text"), " "), 1, 10), " ")
      val paras = concat(
        array(p1,
          concat(lit("Subscribe to our newsletter "),
            (col("doc_id") % 7).cast("string")),
          lit("All rights reserved")),
        when(col("doc_id") % 4 === 0, array(p1))
          .otherwise(array().cast("array<string>")))
      val synth = T(s, dir, "documents")
        .select(col("doc_id"), array_join(paras, "\n").as("page"))
      operators.Dedup.paragraphDedup(synth, "doc_id", "page", "\n")
    }),

    // Best-of-cluster survivor selection: near-dup pairs -> connected
    // components (q63's lane) -> per-cluster representative by QUALITY
    // (q21's score), ties to the highest id — the production dedup policy
    // (keep the cleanest copy, not the first-crawled one).
    "q110_cluster_reps" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = operators.Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        3, 0.3, maxShingleDocFreq = 100L)
      val clusters = operators.Components.dedupClusters(
        docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
      val scored = docs.select(col("doc_id"),
        operators.TextAnalysis.qualityScore(col("text")).as("q"))
      operators.Components.clusterRepresentatives(
        clusters, "doc_id", "component", scored, "q")
    }),

    // Exact repeated-span EXCISION (Lee et al. '21): every %3 doc carries
    // a shared 9-word template (all its interior 5-grams repeat corpus-
    // wide -> the whole template is cut), every %11 doc re-appends its own
    // first 5 words (a within-doc repeat -> both copies cut); boundary
    // grams are doc-unique and survive. Natural 5-gram collisions in the
    // synthetic soup are excised too — both engines count identically.
    "q111_span_excision" -> ((s, dir) => {
      val first5 = array_join(slice(split(col("text"), " "), 1, 5), " ")
      val page = concat_ws(" ", col("text"),
        when(col("doc_id") % 3 === 0,
          lit("as seen on our network of partner sites today")),
        when(col("doc_id") % 11 === 0, first5))
      val synth = T(s, dir, "documents")
        .select(col("doc_id"), page.as("page"))
      operators.Dedup.exciseRepeatedSpans(synth, "doc_id", "page", 5, 2L)
    }),

    // Curriculum ordering: token-count terciles at EXACT corpus quantiles
    // (the one tiny-output extra job, broadcast back), md5 order key
    // within phase — the easy->hard training schedule, zero corpus
    // shuffle (ordering belongs to the phase-partitioned writer).
    "q112_curriculum_order" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        operators.TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      operators.Sampling.curriculumOrder(d, "doc_id", "n_tokens")
    }),

    // TF-IDF keyword extraction: top-5 characteristic terms per doc,
    // rank over the ROUNDED score (q64's ulp-proof pattern); the per-doc
    // top-k rides Spark's WindowGroupLimit rewrite (q09's pinned shape).
    "q113_tfidf_keywords" -> ((s, dir) =>
      operators.TextAnalysis.tfidfKeywords(
        T(s, dir, "documents"), "doc_id", "text", 5)),

    // Interpolated Kneser–Ney bigram scoring — q104's production upgrade:
    // absolute discounting + continuation-unigram backoff (q88's
    // statistic), all four KN statistics derived from the one
    // vocab-bounded model relation; no extra corpus scans vs add-k.
    "q114_kn_score" -> ((s, dir) =>
      operators.TextAnalysis.knBigramScore(
        T(s, dir, "documents"), "doc_id", "text")),

    // Count-Min sketch frequency estimation: the fixed-memory counterpart
    // to q80's Misra–Gries — the sketch shuffle carries ≤ depth×width keys
    // regardless of vocabulary; the exact side exists only to exhibit the
    // one-sided error bound (est >= exact, always).
    "q115_cms_counts" -> ((s, dir) =>
      operators.TextAnalysis.cmsTopKCompare(
        T(s, dir, "documents"), "text", 50)),

    // Host-graph PageRank — crawl-budget ranking over the q84 host
    // universe. The link graph is synthesized deterministically (doc i
    // links to doc (31i+7) mod n, host-to-host, self-loops dropped) and
    // the lexicographically-last host's out-edges are removed so the
    // dangling-mass redistribution path is actually exercised.
    "q116_host_pagerank" -> ((s, dir) => {
      val d = T(s, dir, "documents").select(col("doc_id"),
        concat_ws(".", col("source"), col("lang")).as("host"))
      val cnt = d.agg(count(lit(1)).as("ndocs"))
      val tgt = d.crossJoin(broadcast(cnt))
        .select(col("host").as("src_host"),
          ((col("doc_id") * 31 + 7) % col("ndocs")).as("tgt_id"))
      val edges = tgt.join(
        d.select(col("doc_id").as("tgt_id"), col("host").as("dst_host")),
        Seq("tgt_id"))
      val maxHost = d.agg(max(col("host")).as("mh"))
      val pruned = edges.crossJoin(broadcast(maxHost))
        .filter(col("src_host") =!= col("mh"))
        .select(col("src_host"), col("dst_host"))
      operators.Components.pageRank(pruned, "src_host", "dst_host")
        .select(col("node").as("host"), col("pr"), col("rank"))
    }),

    // HyperLogLog distinct-bigram cardinality per source — the sketch
    // trio's cardinality leg (CMS frequencies q115, Misra–Gries top items
    // q80). md5-replayable registers, so the oracle rebuilds the exact
    // sketch; the exact countDistinct column exists to exhibit the error.
    "q117_hll_distinct" -> ((s, dir) =>
      operators.TextAnalysis.hllBigramCardinality(
        T(s, dir, "documents"), "source", "text")),

    // KMV theta sketch: distinct-bigram overlap between two corpus
    // slices estimated from two 256-row sketches — union, Jaccard, and
    // intersection cardinality WITHOUT joining the corpora (the question
    // "how much does crawl A overlap crawl B" at 100 TB). Same md5-prefix
    // 52-bit hash as q117, so the oracle replays every value exactly.
    "q126_kmv_overlap" -> ((s, dir) =>
      operators.TextAnalysis.kmvBigramOverlap(
        T(s, dir, "documents"), "source", "text", "src0", "src1", 256)),

    // q126 completed to the full theta set algebra: the same two k-row
    // sketches also estimate |A∖B| and |B∖A| (the "what's in crawl A but
    // not crawl B" release question) — each region is its fraction of
    // the union k-min sample times the union estimate.
    "q151_kmv_set_algebra" -> ((s, dir) =>
      operators.TextAnalysis.kmvBigramSetAlgebra(
        T(s, dir, "documents"), "source", "text", "src0", "src1", 256)),

    // Per-lang token-budget selection with PER-GROUP budgets (the data-
    // recipe shape: 2500 tokens of en, 1500 of everything else): greedy
    // priority-ordered prefix per language. Histogram-band
    // implementation (whole bins unsorted, one boundary bin sorted per
    // group, budgets broadcast as a dim) proven against the one-window
    // oracle spec.
    "q130_token_budget" -> ((s, dir) => {
      import s.implicits._
      val budgets = Seq(("en", 2500L), ("de", 1500L), ("es", 1500L),
        ("fr", 1500L), ("zh", 1500L)).toDF("lang", "budget")
      operators.Sampling.tokenBudgetSelectPerGroup(T(s, dir, "documents"),
        "lang", "doc_id",
        round(TextAnalysis.vowelRatio(col("text")), 4),
        TextAnalysis.tokenCount(col("text")), budgets)
    }),

    // Soft dedup: every document kept, weighted 1/n_copies of its exact-
    // duplicate group — the "downweight, don't drop" alternative to q12
    // for training-mix construction. One fingerprint hash-shuffle.
    "q127_dup_weights" -> ((s, dir) =>
      operators.Dedup.duplicateWeights(T(s, dir, "documents"), "doc_id", "text")),

    // Hard-negative mining (DPR/ANCE): per anchor, the 10 most cosine-
    // similar vectors with a DIFFERENT label — the contrastive-training
    // negatives nearest the decision boundary. q31's broadcast map-side
    // scoring shape; the cross-label predicate prunes before the
    // WindowGroupLimit top-k so the ranked exchange never carries
    // same-class rows.
    "q131_hard_negatives" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.hardNegativeTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", "label", 10)
    }),

    // CCNet perplexity banding (Wenzek '19): per-language quality bands at
    // the quartiles of the corpus-trained KN bigram score (q114), with
    // thresholds off the q119 bounded-state histogram — nothing
    // corpus-sized is sorted, thresholds broadcast at language cardinality.
    "q132_perplexity_bands" -> ((s, dir) =>
      operators.TextAnalysis.perplexityBands(
        T(s, dir, "documents"), "doc_id", "text", "lang")),

    // Broder containment pairs: asymmetric near-duplication (excerpt fully
    // embedded in a digest scores Jaccard 0.1 but containment 1.0) —
    // q26's inverted-index shape, both directed ratios read off the same
    // (n_inter, sz_a, sz_b) triple the Jaccard plan already carries.
    "q133_containment_pairs" -> ((s, dir) =>
      Dedup.containmentPairs(T(s, dir, "documents"), "doc_id", "text", 3, 0.5,
        maxShingleDocFreq = 100L)),

    // Embedding-space drift: per-label centroid shift between two corpus
    // slices (even vs odd vec_id plays "snapshot A vs B") — q122's drift
    // check moved into embedding space, where encoder bumps show up
    // before vocabularies move. State bounded by labels × dim.
    "q134_embedding_drift" -> ((s, dir) =>
      Similarity.embeddingDrift(T(s, dir, "embeddings"), "embedding",
        "label", col("vec_id") % 2 === 0)),

    // The q115 Count-Min sketch maintained OVER A STREAM — and the point
    // is what does NOT change: `TextAnalysis.cmsSketch` runs verbatim as
    // the streaming maintainer, because the sketch's merge IS its
    // aggregation (elementwise sum, the property q115 property-tests).
    // State and result are both d×w counters regardless of stream length
    // (no watermark needed — the groupBy key space is config-bounded),
    // which is why COMPLETE mode + a driver-side memory sink is the
    // correct deployment shape, not a compromise. Term stream = event
    // type × user shard (a synthetic high-cardinality key); the oracle
    // replays the md5 buckets over the same batch relation.
    "q136_stream_cms" -> ((s, dir) => {
      val terms = eventFileStream(s, dir)
        .select(concat(col("event_type"), lit("#"),
          pmod(col("user_id"), lit(97)).cast("string")).as("term"))
      streamToMemoryComplete(s,
        operators.TextAnalysis.cmsSketch(terms, "term", 4, 256))
    }),

    // Streaming quantile maintenance: the k-min-hash RESERVOIR is a
    // mergeable sketch (the kmin_pairs aggregate), so the same
    // expression that builds q150's sample runs verbatim as a COMPLETE-
    // mode streaming aggregation — state bounded by langs×k, no
    // watermark needed — and a corpus-length document stream maintains
    // live per-language length quantiles (q136's mergeable-sketch
    // lesson applied to sampling). Final table == the batch reservoir
    // because the sketch is a pure function of the id set; the oracle
    // replays the per-group k-min sample with the hash tie-break.
    "q153_stream_quantiles" -> ((s, dir) => {
      val docStream = s.readStream
        .schema(s.read.parquet(s"$dir/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val rsv = streamToMemoryComplete(s, Sampling.reservoirByGroup(
        docStream, "lang", "doc_id", col("n_chars"), 64))
      Sampling.quantilesFromReservoir(rsv, "lang", Seq(0.25, 0.5, 0.9))
    }),

    // Full Gopher document gate (Rae '21 App. A): every rule signal +
    // per-rule verdict + final keep, one scan-stage projection (no
    // shuffle). minRequiredHits=1 on this fixture: its 31-token vocab
    // carries exactly one of the required stopwords ("the"), so the
    // canonical >=2 would zero r_stop corpus-wide instead of exercising
    // the rule (defaults stay canonical in the operator).
    "q154_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(T(s, dir, "documents"), "doc_id", "text",
        minRequiredHits = 1)),

    // Feature-hashing TF document vectors (Weinberger '09): md5-bucket
    // ±1-sign token hashing, integer bucket weights, l2-normalized dense
    // array — the embedding-free on-ramp to the vector family. The
    // (doc, bucket) shuffle is map-side combinable and the gather is
    // <= dim entries per doc; the output relation is TOTAL (token-less
    // docs emit the zero vector). Gate shape: the dense array is
    // posexploded to (doc_id, idx, component) SCALAR rows — the driver's
    // pandas compare lexsorts cells and cannot order ndarray values
    // (r13's only red rows); components are already 6dp-snapped so the
    // exploded doubles hash identically. Consumers (q156/q158) keep the
    // dense array internally. posexplode_OUTER, deliberately: vec is
    // TOTAL (64 elements always), so outer is pair-identical here, and
    // the non-outer form trips InferFiltersFromGenerate — a size(vec)>0
    // filter whose condition INLINES the whole vector-build expression
    // per row, interpreted (measured 15× on q159).
    "q155_hashed_tf" -> ((s, dir) =>
      TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
        "text", dim = 64)
        .select(col("doc_id"), col("n_tokens"),
          posexplode_outer(col("vec")).as(Seq("idx", "component")))),

    // WITNESS LANE (the q194 "gate-scale prover" discipline, r15 verdict
    // task 7): this is the suite's ONE deliberately-superlinear plan —
    // the EXPLICIT SRP form pinned on a direction-concentrated corpus,
    // kept as the measured exponent witness (fifth-decade 1.42) that
    // justifies the q193 dispatch and is NOT reachable via the default
    // API (embeddingNearDupPairsAuto routes this corpus to cells).
    // Lane body: SRP-bucketed cosine pairs over the hashed-TF vectors —
    // first-pass crawl dedup on raw text with no embedding model in the
    // loop (the q32 operator fed by q155 instead of the embeddings
    // table). Plane count auto-derived from the corpus (bucket
    // population held ~64 as the corpus grows — the linear-overall
    // configuration; a fixed p=4 measured 58 s at sf0.1, the quadratic
    // within-bucket cliff the derivation exists to avoid). 6dp-rounded
    // vector components make every downstream cosine the same IEEE
    // chain in both engines.
    "q156_hashed_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDupPairs(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", 0.9, dim = 64)),

    // Source-level reputation over the q154 gate: Wilson 95% lower
    // confidence bound on per-source keep rate (the "sort by lower
    // bound" fix — a 3/3 source must not outrank a 10k-doc source at
    // 95%), ranked with a total-order tiebreak. The group relation is
    // sources, never documents, so the window is bounded.
    "q157_source_reputation" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val g = TextAnalysis.gopherRules(docs, "doc_id", "text",
        minRequiredHits = 1)
      operators.QualityFilter.reputationReport(
        docs.select(col("doc_id"), col("source"))
          .join(g.select(col("doc_id"), col("keep")), Seq("doc_id")),
        "source", col("keep"))
    }),

    // LSH recall audit: realized candidate coverage of the banded join
    // against the exact-Jaccard pair set at the q26 threshold — the
    // S-curve's promise measured on THIS corpus, the number that decides
    // whether signatures may replace the exact join at scale.
    "q170_lsh_recall_audit" -> ((s, dir) =>
      operators.Dedup.lshRecallAudit(T(s, dir, "documents"), "doc_id",
        "text", n = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.3)),

    // q170 at its 100 TB operating point: the exact-reference pass (the
    // audit's cost driver) runs on a FIXED 256-doc md5-k-min sample —
    // the q149 threshold rule applied to documents — so the audit's cost
    // stops growing with the corpus while estimating the same recall.
    // The sample is part of the contract: the oracle re-derives the
    // md5 threshold and the sizes are emitted, not hidden.
    "q195_lsh_recall_sampled" -> ((s, dir) =>
      operators.Dedup.lshRecallAuditSampled(T(s, dir, "documents"),
        "doc_id", "text", n = 3, numHashes = 8, rowsPerBand = 2,
        threshold = 0.3, sampleSize = 256)),

    // q168's estimator calibration at the same fixed-sample operating
    // point — per-pair bias/spread measured on the sampled sub-corpus.
    "q196_minhash_estimator_sampled" -> ((s, dir) =>
      operators.Dedup.minhashEstimatorAuditSampled(T(s, dir, "documents"),
        "doc_id", "text", n = 3, numHashes = 8, rowsPerBand = 2,
        sampleSize = 256)),

    // Multi-probe SRP-LSH (Lv '07): one table, each query also probes
    // the buckets reached by flipping its smallest-margin sign bits —
    // the memory-side answer to q33's multi-TABLE recall dial (L× index
    // vs T× query fan-out; at 100 TB the index is the bound).
    "q169_multiprobe_ann_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.multiProbeTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, nPlanes = 3, dim = 64, nProbes = 4)
    }),

    // Estimator-calibration audit: Broder signature estimate vs the
    // exact Jaccard it estimates, per LSH candidate pair — the evidence
    // that justifies (or re-sizes) signature-only verifies like q97's.
    "q168_minhash_estimator_audit" -> ((s, dir) =>
      operators.Dedup.minhashEstimatorAudit(T(s, dir, "documents"),
        "doc_id", "text", n = 3, numHashes = 8, rowsPerBand = 2)),

    // Hilbert-curve clustering key (q124's locality upgrade): the
    // codegen'd xy2d rotate loop over the same driver-bounds quantizer.
    // Consecutive keys are always grid-adjacent cells, so equal-row key
    // ranges span tighter bounding boxes than Morton's seam-jumping
    // ranges — tighter per-file min/max stats at the same file count.
    "q167_hilbert_key" -> ((s, dir) => {
      Layout.hilbertKey(
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey", 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("hkey"))
    }),

    // Streaming heavy hitters: the Misra–Gries aggregator maintained as a
    // COMPLETE-mode streaming aggregation (mergeable sketch state = k
    // counters regardless of stream length), then the exact recount +
    // theta filter on the batch table — the lambda shape: sketch on the
    // stream, verify on the store. MG's superset guarantee holds under
    // ANY micro-batch split, so the final relation is q80's exactly.
    "q166_stream_heavy_hitters" -> ((s, dir) => {
      import s.implicits._
      val theta = 0.01
      val k = math.max(1, math.ceil(2.0 / theta).toInt)
      val docStream = s.readStream
        .schema(s.read.parquet(s"$dir/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
      val streamToks = docStream
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      // hoisted val: inline, the expected DataFrame type steers overload
      // resolution to the UNTYPED select, which rejects a TypedColumn
      val mgDs = streamToks.as[String]
        .select(operators.TextAnalysis.misraGriesColumn(k).name("cand"))
      val cand = streamToMemoryComplete(s, mgDs.toDF())
        .head().getSeq[String](0)
      val toks = T(s, dir, "documents")
        .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      val total = toks.agg(count(lit(1)).as("n"))
      toks.filter(col("token").isin(cand: _*))
        .groupBy(col("token")).agg(count(lit(1)).as("occurrences"))
        .crossJoin(broadcast(total))
        .filter(col("occurrences") >= ceil(lit(theta) * col("n")))
        .select(col("token"), col("occurrences"))
    }),

    // Cross-document exact-substring dedup (Lee '21) — the k-gram anchor
    // form: L-token windows hashed (only the md5 crosses the shuffle),
    // spans in >= 2 distinct docs reported with their first holder; span
    // text fetched only for the k winners via a broadcast re-scan.
    "q164_crossdoc_spans" -> ((s, dir) =>
      operators.Dedup.crossDocSpanReport(T(s, dir, "documents"), "doc_id",
        "text", l = 8, k = 100)),

    // The excision: every flagged non-canonical occurrence's positions
    // removed, global first occurrence kept; the q54/q111 cleaning
    // contract, TOTAL over documents.
    "q165_crossdoc_excise" -> ((s, dir) =>
      operators.Dedup.crossDocExcise(T(s, dir, "documents"), "doc_id",
        "text", l = 8)),

    // Unigram-LM tokenizer trainer (Kudo '18, hard-EM/Viterbi): the
    // third tokenizer family, completing BPE (q98) and WordPiece (q128).
    // Every EM round runs on the 31-word distinct relation; Viterbi is a
    // pure aggregate fold (no UDF); logp is the floor-snapped Laplace
    // chain both engines spell identically.
    "q162_unigram_vocab" -> ((s, dir) =>
      TextAnalysis.unigramTrain(T(s, dir, "documents"), "text",
        seedSize = 200, vocabSize = 60, maxPieceLen = 4, rounds = 2)),

    // The trained unigram model applied: Viterbi segmentation per
    // DISTINCT word under the final piece log-probs, broadcast-joined
    // reassembly (the q129 shape; likelihood-optimal where the greedy
    // longest-match can strand characters).
    "q163_unigram_encode" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val v = TextAnalysis.unigramTrain(docs, "text", seedSize = 200,
        vocabSize = 60, maxPieceLen = 4, rounds = 2)
        .select(col("piece"), col("logp")).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toSeq
      TextAnalysis.unigramEncode(docs, "doc_id", "text", v, maxPieceLen = 4)
    }),

    // Temperature-scaled source mixture (XLM-R/mT5 balancing): share_i
    // ∝ p_i^(1/2) via the dyadic sqrt chain (IEEE-exact — pow is not
    // cross-engine stable), fixed-order fold for the normalizer. boost
    // is the per-source up/down-sampling factor the trainer applies.
    "q161_temperature_mixture" -> ((s, dir) =>
      Sampling.temperatureMixture(T(s, dir, "documents"), "source")),

    // Binary-quantization ANN: sign bits packed to two longs (32× memory
    // vs float32 — at 100 TB the codes fit where vectors cannot), Hamming
    // shortlist via codegen'd bit_count(xor), exact-cosine rerank over
    // k·factor candidates only. The q38 output contract.
    "q160_binary_ann_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.binarySignTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, rerankFactor = 8, dim = 64)
    }),

    // q155 with smooth-idf re-weighting (sklearn TfidfTransformer
    // formula): common-token buckets down-weighted, which is exactly
    // what spreads the q158-measured direction concentration back out.
    // idf is ln-derived so it is 6dp-snapped BEFORE use (q113 firewall);
    // the l2 norm is an index-order graft_dot fold, never a group-by
    // double sum. Same (doc_id, idx, component) scalar gate shape as
    // q155, and the same posexplode_OUTER: on THIS lane the non-outer
    // form's InferFiltersFromGenerate filter re-evaluates the graft_dot
    // norm fold inside a per-element lambda, interpreted — measured
    // 1.5 s → 22 s at sf0.1 before the outer switch.
    "q159_hashed_tfidf" -> ((s, dir) =>
      TextAnalysis.hashedTfIdfVectors(T(s, dir, "documents"), "doc_id",
        "text", dim = 64)
        .select(col("doc_id"), col("n_tokens"),
          posexplode_outer(col("vec")).as(Seq("idx", "component")))),

    // The q148 cap-audit move applied to the vector family: SRP bucket
    // population profile over the q155 hashed-TF vectors — the exact
    // candidate-pair mass q156's within-bucket stage would evaluate, plus
    // the top-bucket concentration that says whether direction buckets
    // (SRP) or population-balanced cells (q65 SemDeDup k-means) are the
    // right pair generator for THIS corpus. 1 row out, one map-side agg.
    "q158_srp_bucket_profile" -> ((s, dir) =>
      Similarity.srpBucketProfile(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", dim = 64)),

    // q158's audit wired into the route (the q146 measure→dispatch
    // pattern for vectors): bucket-population concentration ≥ 3 sends
    // pair generation to SemDeDup k-means cells (population-balanced by
    // construction — the sublinear path on direction-concentrated
    // corpora), < 3 keeps SRP sign buckets (cheaper: no quantizer).
    // Since r16 the cell route is the MULTI-PROBE form at the default
    // cellProbes = 2 (q203's measured recall-1.0 configuration); the
    // oracle's cell branch replays the rank-2 window + DISTINCT. Since
    // r17 the SRP route is probed too (srpProbes = 2, q208's measured
    // recall-1.0 form) — the oracle's SRP branch replays the margin
    // flips + DISTINCT.
    // THIS fixture crosses the threshold between SFs (≈2.7 at
    // sf0.001/0.01 → SRP; ≈10.5 at sf0.1 → cells), so the gate
    // exercises one route and the scale sweep the other; the oracle
    // re-derives the statistic from exact integer sums and replays the
    // SAME gated path, making the dispatch itself part of the contract
    // (q204 pins the probed cell branch AT gate scale by forcing the
    // cutoff to 0).
    "q193_vector_route_dispatch" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsAuto(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", 0.9, dim = 64)),

    // Route-agreement audit (the dispatch's honesty lane): the SRP and
    // k-means-cell generators are different candidate filters for the
    // same cosine predicate, NOT proven pair-identical like q146's
    // containment paths — so measure the verified-pair overlap: both
    // paths run, full-outer join on the whole (id_a, id_b, sim) tuple,
    // report (n_srp, n_cell, n_both). sim joins exactly: both paths
    // compute the same cosine chain over the same 6dp vectors.
    // GATE-SCALE PROVER ONLY: this full-corpus form deliberately pays
    // for BOTH generators, so its SRP side inherits q156's superlinear
    // exponent on concentrated corpora — the deployment form is q199,
    // the same audit on the fixed 256-doc md5-k-min sample.
    "q194_vector_route_recall" -> ((s, dir) =>
      Similarity.routeOverlapAudit(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", 0.9, dim = 64)),

    // q194 bounded for deployment (the q195/q198 sampling discipline):
    // the same route-overlap audit on the fixed 256-doc md5-k-min
    // sample — cost no longer grows with the corpus, so the audit can
    // ride every production run while q194 stays a gate-scale prover.
    // n_docs_sampled/n_docs_total make the estimate's basis explicit.
    "q199_vector_overlap_sampled" -> ((s, dir) => {
      val sdocs = Dedup.kminDocSample(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", 256).transform(graft.operators.Checkpoints.trackedEager)
      val vecs = TextAnalysis.hashedTfVectors(sdocs, "doc_id", "text",
        dim = 64).select(col("doc_id"), col("vec"))
      Similarity.routeOverlapAudit(vecs, "doc_id", "vec", 0.9, dim = 64)
        .crossJoin(broadcast(sdocs.agg(count(lit(1)).as("n_docs_sampled"))))
        .crossJoin(broadcast(T(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs_total"))))
    }),

    // Dispatch-threshold SENSITIVITY audit (r14 verdict task 2): the
    // zipfConcentration = 3.0 cutoff measured instead of hand-picked.
    // Three nested md5-k-min prefixes of the corpus (256, 1024, full) —
    // concentration GROWS with prefix size on this fixture (hot-direction
    // mass tracks n while the balanced budget stays ~targetBucketSize),
    // so the rows straddle the cutoff at sf0.1 (~0.5 / ~1.8 / ~8.8) —
    // and per prefix: the exact candidate-pair mass EACH route would
    // evaluate there (cand_srp / cand_cell — the cost the dispatch
    // trades on) plus, on the bounded prefixes, true recall of both
    // generators against the brute-force pair set. The crossover where
    // cand_srp detaches from cand_cell IS the threshold's justification;
    // OPERATORS.md records the measured table. Engine cell assignment
    // nests above 256 auto cells while this oracle replays flat — gate
    // corpora derive ≤ 79 cells (same bound as q193's oracle).
    "q201_route_threshold_sensitivity" -> ((s, dir) => {
      val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
      def row(tag: String, sampled: DataFrame, recall: Boolean) =
        Similarity.routeSensitivityRow(
          TextAnalysis.hashedTfVectors(sampled, "doc_id", "text", dim = 64)
            .select(col("doc_id"), col("vec")),
          "doc_id", "vec", 0.9, dim = 64,
          // explicitly the SAME vals the oracle interpolates — a change
          // here moves both sides together (r15 advisor desync item)
          targetBucketSize = RouteSensTargetBucketSize,
          targetCellSize = RouteSensTargetCellSize,
          measureRecall = recall,
          zipfConcentration = RouteSensZipfConcentration)
          .select(lit(tag).as("prefix"), col("n_docs"), col("n_planes"),
            col("concentration"), col("cand_srp"), col("cand_cell"),
            col("route"), col("n_true"), col("recall_srp"),
            col("recall_cell"))
      row("0256", Dedup.kminDocSample(docs, "doc_id", 256), recall = true)
        .unionByName(
          row("1024", Dedup.kminDocSample(docs, "doc_id", 1024),
            recall = true))
        .unionByName(row("full", docs, recall = false))
    }),

    // Multi-probe cell near-dup — the recall dial the q201 sensitivity
    // audit motivates: rank-2 cell assignment makes Lloyd-boundary pairs
    // co-occur (q198/q201 measured rank-1 recall_cell 0.44–0.79), pair
    // set a SUPERSET of q193's cell route by construction (the rank-1
    // probe IS the single-cell assignment — spec-gated at BOTH size
    // classes since r16: the quantizer follows autoAssignCells' own
    // dispatch, flat below the nesting bound — all gate corpora, ≤ 79
    // cells — and coarse × residual-fine past it with the probe window
    // on the coarse level; q205 hash-gates the nested composite).
    // Candidate mass ≤ nProbe², still population-balanced. Pairs dedup
    // on the (id_a, id_b, sim-6dp) tuple after the threshold filter;
    // the oracle replays the rank-2 window + DISTINCT.
    "q202_cell_multiprobe_neardup" -> ((s, dir) =>
      Similarity.cellNearDupPairsMultiProbe(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", 0.9, nProbe = 2)),

    // What the probe dial BUYS, measured on the same fixed 256-doc
    // sample q198 scores rank-1 on: the q198 audit with the cell
    // generator at nProbe = 2 — read recall_cell here against q198's
    // to see the boundary-pair recovery, n_cell against q198's for its
    // candidate-mass price. Fixed cost at any corpus size.
    "q203_cell_probe_recall_sampled" -> ((s, dir) => {
      val sdocs = Dedup.kminDocSample(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", 256).transform(graft.operators.Checkpoints.trackedEager)
      val vecs = TextAnalysis.hashedTfVectors(sdocs, "doc_id", "text",
        dim = 64).select(col("doc_id"), col("vec"))
      Similarity.nearDupRecallAudit(vecs, "doc_id", "vec", 0.9, dim = 64,
        cellProbes = 2)
        .crossJoin(broadcast(sdocs.agg(count(lit(1)).as("n_docs_sampled"))))
        .crossJoin(broadcast(T(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs_total"))))
    }),

    // The r16 wiring gated AT GATE SCALE: the auto dispatcher's CELL
    // branch now ships multi-probe by default (cellProbes =
    // DefaultCellProbes = 2), but this fixture only crosses onto the
    // cell route at sf0.1 — so force the cutoff to 0 (concentration ≥ 0
    // always) and the dispatcher must land on the probed cell generator
    // at every SF. The oracle replays the rank-2 window + DISTINCT with
    // NO concentration gate, so if the dispatcher ever ships the rank-1
    // form (or a different probe count) this lane hash-mismatches.
    "q204_auto_route_probed_cells" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsAuto(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", 0.9, dim = 64, zipfConcentration = 0.0)),

    // Multi-probe COMPOSED with the nested quantizer, hash-gated (the
    // q200 pattern): maxFlatCells forced to 8 so auto mode nests at all
    // gate SFs (want = ceil(n/32) > 8 → coarse × residual-fine), and
    // nProbe = 2 probes the top-2 COARSE cells with rank-1 residual-fine
    // assignment inside each probe — the r15 gap ("multi-probe and the
    // nested quantizer don't compose") closed with both Lloyd chains,
    // the probe window, the composite LONG cell arithmetic, and the
    // distinct'd pair set all under the oracle hash.
    "q205_nested_multiprobe_neardup" -> ((s, dir) =>
      Similarity.cellNearDupPairsMultiProbe(T(s, dir, "embeddings"),
        "vec_id", "embedding", 0.3, nProbe = 2, targetCellSize = 32,
        maxFlatCells = 8)),

    // The OUTPUT-BOUND lever, gated on the concentrated corpus: q193's
    // fifth-decade 1.32 was proven to be n² VERIFIED OUTPUT (truth
    // density constant ~7.5e-5 → the pair set itself is quadratic), and
    // the documented production lever on such corpora is to NOT
    // materialize pairs — per-doc min-id survivors (linear output).
    // This is semDeDup over the SAME hashed-TF vectors the q193 family
    // rides: one (doc_id, cell, kept) row per document regardless of
    // how dense the sim distribution gets. The fifth-decade measurement
    // (OPERATORS.md) pins the wall-clock story next to q193's.
    "q206_semdedup_text" -> ((s, dir) =>
      Similarity.semDeDup(
        TextAnalysis.hashedTfVectors(T(s, dir, "documents"), "doc_id",
          "text", dim = 64).select(col("doc_id"), col("vec")),
        "doc_id", "vec", 0.9)
        .select(col("id").as("doc_id"), col("cell"), col("kept"))),

    // Multi-probe SRP near-dup — the r17 mirror of q202 for the SIGN-
    // BUCKET route (the dispatch default on BALANCED corpora, where the
    // r16 probe work never reached): each vector probes its home bucket
    // plus its lowest-|margin| bit flip (Lv '07 multi-probe, one table),
    // so boundary pairs one uncertain sign apart co-occur. Pair set a
    // SUPERSET of the rank-0 SRP route by construction (home = probe
    // row 1, spec-gated); candidate mass ≤ nProbes². The oracle replays
    // the 48-plane prefix, the margin sort (abs-dot asc, plane asc),
    // the bit flips, and the DISTINCT on the rounded pair tuple.
    "q207_srp_multiprobe_neardup" -> ((s, dir) =>
      Similarity.embeddingNearDupPairsMultiProbe(T(s, dir, "embeddings"),
        "vec_id", "embedding", 0.3, nProbes = 2, dim = 64)),

    // What the SRP probe dial BUYS, on the same fixed 256-doc sample
    // q198 scores rank-0 on (the q203 pattern applied to the SRP
    // route): the q198 audit with the SRP generator at nProbes = 2 and
    // the cell generator at rank-1 — read recall_srp here against
    // q198's for the boundary-pair recovery, n_srp against q198's for
    // its candidate-mass price. Fixed cost at any corpus size.
    "q208_srp_probe_recall_sampled" -> ((s, dir) => {
      val sdocs = Dedup.kminDocSample(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", 256).transform(graft.operators.Checkpoints.trackedEager)
      val vecs = TextAnalysis.hashedTfVectors(sdocs, "doc_id", "text",
        dim = 64).select(col("doc_id"), col("vec"))
      Similarity.nearDupRecallAudit(vecs, "doc_id", "vec", 0.9, dim = 64,
        srpProbes = 2)
        .crossJoin(broadcast(sdocs.agg(count(lit(1)).as("n_docs_sampled"))))
        .crossJoin(broadcast(T(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs_total"))))
    }),

    // TRUE-recall audit on the q195-style md5-k-min sample: brute-force
    // exact cosine pairs over 256 sampled docs (the only affordable
    // place for ground truth), then how much of the truth the SRP and
    // k-means-cell generators each recover. q194 measures how much the
    // generators AGREE; this measures how much each FINDS — the number
    // the q193 dispatch actually trades on, estimated at fixed cost.
    "q198_vector_recall_sampled" -> ((s, dir) => {
      val sdocs = Dedup.kminDocSample(
        T(s, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", 256).transform(graft.operators.Checkpoints.trackedEager)
      val vecs = TextAnalysis.hashedTfVectors(sdocs, "doc_id", "text",
        dim = 64).select(col("doc_id"), col("vec"))
      Similarity.nearDupRecallAudit(vecs, "doc_id", "vec", 0.9, dim = 64)
        .crossJoin(broadcast(sdocs.agg(count(lit(1)).as("n_docs_sampled"))))
        .crossJoin(broadcast(T(s, dir, "documents")
          .agg(count(lit(1)).as("n_docs_total"))))
    }),

    // Split-leakage audit + the fix, one lane: under a naive per-document
    // hash split a near-dup pair straddles train/test with prob 1 − Σp²
    // (~34% at 80/10/10) — silent eval contamination. Row 1 measures that
    // leakage on q63's near-dup edge set; row 2 re-splits keyed on the
    // connected-component cluster id (Sampling.clusterAwareSplit) and
    // must read leaked_pairs = 0 by construction. Singletons keep their
    // naive assignment (component = own id), so the policies differ only
    // where leakage exists.
    "q138_split_leakage" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val splits = Seq(("train", 0.8), ("val", 0.1), ("test", 0.1))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3,
        maxShingleDocFreq = 100L).select("id_a", "id_b")
        .transform(graft.operators.Checkpoints.trackedEager)
      val clusters = Components.dedupClusters(docs.select(col("doc_id")),
        "doc_id", pairs, "id_a", "id_b")
      def audit(assigned: org.apache.spark.sql.DataFrame, strategy: String) = {
        val a = assigned.select(col("doc_id"), col("split"))
          .transform(graft.operators.Checkpoints.trackedEager)
        val leaked = pairs
          .join(a.select(col("doc_id").as("id_a"), col("split").as("s_a")), "id_a")
          .join(a.select(col("doc_id").as("id_b"), col("split").as("s_b")), "id_b")
          .agg(coalesce(sum(when(col("s_a") =!= col("s_b"), 1L).otherwise(0L)),
            lit(0L)).as("leaked_pairs"))
        a.agg(
          sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
          sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
          sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
          .crossJoin(broadcast(leaked))
          .select(lit(strategy).as("strategy"), col("leaked_pairs"),
            col("n_train"), col("n_val"), col("n_test"))
      }
      audit(Sampling.hashSplit(docs, "doc_id", splits), "naive")
        .unionByName(audit(Sampling.clusterAwareSplit(docs, "doc_id",
          clusters, "doc_id", "component", splits), "cluster"))
    }),

    // Trained quality classifier: distill a deterministic teacher rule
    // (long doc AND vowel-rich — in production an LLM-judge label) into a
    // linear scan-stage scorer by full-batch GD over engineered signals.
    // The model is 5 doubles riding as broadcast literals; each round is
    // one map-side-combinable gradient pass; training is bit-replayed by
    // the oracle's 12 unrolled materialized CTE rounds (q116's pattern).
    "q139_quality_classifier" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val label = (length(col("text")) >= 300) &&
        (operators.TextAnalysis.vowelRatio(col("text")) >= lit(0.28))
      operators.QualityFilter.trainReport(s, docs, "doc_id", "text", label,
        rounds = 12, lr = 0.5)
    }),

    // Calibration + threshold sweep of the q139 filter: margins banded
    // into deciles; per band the observed positive rate and cumulative-
    // from-top precision/recall — the numbers that pick the filtering
    // threshold before a 100 TB run. One corpus scan into a ≤10-row
    // relation; window + total run on that bounded relation only.
    "q140_filter_calibration" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val label = (length(col("text")) >= 300) &&
        (operators.TextAnalysis.vowelRatio(col("text")) >= lit(0.28))
      val model = operators.QualityFilter.fit(docs, "doc_id", "text", label)
      operators.QualityFilter.calibration(docs, "doc_id", "text", label, model)
    }),

    // N-gram diversity datasheet: distinct-n / total-n for n = 1..3 —
    // the corpus-QA diversity number (template spam and dedup failures
    // show up as collapsing distinct-2/3 ratios before any doc-level
    // metric moves). Exact reporting form; at 100 TB the distinct counts
    // are the vocabulary-sized exchange q117 (HLL) / q126 (KMV) replace
    // with bounded sketches — this lane is their exact ground truth.
    "q145_ngram_diversity" -> ((s, dir) => {
      val base = T(s, dir, "documents")
        .select(TextAnalysis.tokens(lower(col("text"))).as("ts"))
      (1 to 3).map { n =>
        base.select(explode(when(size(col("ts")) >= n,
            transform(sequence(lit(1), size(col("ts")) - lit(n) + lit(1)),
              i => array_join(slice(col("ts"), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
          .agg(count(lit(1)).as("total_ngrams"),
            countDistinct(col("gram")).as("distinct_ngrams"))
          .select(lit(n).as("n"), col("total_ngrams"), col("distinct_ngrams"),
            (col("distinct_ngrams").cast("double") /
              col("total_ngrams").cast("double")).as("diversity"))
      }.reduce(_ unionByName _)
    }),

    // q145's scale path (the q123-backs-q63 pattern): the diversity
    // datasheet with the growing distinct-gram exchange replaced by the
    // q126 KMV sketch — k rows leave each n's scan instead of the
    // vocabulary. Exact below k, Beyer '07 estimate above it; the oracle
    // replays the md5-52-bit order statistic digit-exactly.
    "q147_ngram_diversity_kmv" -> ((s, dir) =>
      TextAnalysis.ngramDiversitySketch(T(s, dir, "documents"), "text",
        maxN = 3, k = 256)),

    // Unbounded-range approximate quantiles: the third member of the
    // quantile family — q43 exact (buffers groups), q119 histogram
    // (needs lo/hi up front), q149 needs neither: a deterministic
    // k-min-hash sample (ONE bounded aggregate + a scan-stage filter)
    // and a sample-sized positional read-off the oracle replays rank
    // for rank. k=256 < corpus at the gate scale, so real sampling is
    // exercised, not the k≥n degenerate case.
    "q149_sampled_quantiles" -> ((s, dir) =>
      Sampling.sampledQuantiles(T(s, dir, "documents"), "doc_id",
        col("n_chars"), Seq(0.01, 0.25, 0.5, 0.75, 0.99), k = 256)),

    // q149 per group: per-language length quantiles — the datasheet's
    // distribution read with per-group bounded state (k longs/group).
    // k=64 < the biggest language at gate scale, so grouped sampling
    // (not just the k≥n exact branch) is what the hash gate checks.
    "q150_grouped_quantiles" -> ((s, dir) =>
      Sampling.sampledQuantilesByGroup(T(s, dir, "documents"), "lang",
        "doc_id", col("n_chars"), Seq(0.25, 0.5, 0.9), k = 64)),

    // Robust per-language length-outlier report: Tukey fences (f=3)
    // from the q150 sampled quartiles, one exact counting scan against
    // the broadcast fence rows — the distribution-tail cleaning pass
    // (truncated docs / concatenation blobs) composed from this round's
    // quantile primitive.
    "q152_length_outliers" -> ((s, dir) =>
      operators.Scrub.outlierReport(T(s, dir, "documents"), "lang",
        "doc_id", col("n_chars"), k = 64, fence = 3.0)),

    // The round's pieces composed into the actual corpus-construction
    // step: select the HIGHEST-QUALITY documents per language within a
    // token budget — q139's trained margin as the priority feeding
    // q130's exact histogram-band budget machinery. Margins are
    // bit-deterministic, so the oracle replays training then runs the
    // one-window budget spec.
    "q144_quality_budget" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val label = (length(col("text")) >= 300) &&
        (operators.TextAnalysis.vowelRatio(col("text")) >= lit(0.28))
      val model = operators.QualityFilter.fit(docs, "doc_id", "text", label)
      val scored = operators.QualityFilter.score(model, docs, "text")
      Sampling.tokenBudgetSelect(scored, "lang", "doc_id", col("q_score"),
        TextAnalysis.tokenCount(col("text")), 2000L, lo = -1.0, hi = 2.0)
    }),

    // Release-delta datasheet: id-free content diff between two corpus
    // releases (re-crawls re-assign ids, so the diff keys on normalized
    // fingerprints) — kept/added/removed content + content Jaccard. The
    // two releases here are deterministic fixture slices (doc_id % 3 / %
    // 5 survivors) standing in for successive crawl snapshots.
    "q143_release_delta" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      operators.TextAnalysis.releaseDelta(
        docs.filter(col("doc_id") % 3 =!= 0),
        docs.filter(col("doc_id") % 5 =!= 0), "text")
    }),

    // Tokenizer fertility audit: subwords-per-word by language under the
    // q128 WordPiece vocab — the multilingual-equity number (a lang with
    // fertility 2x pays 2x the context budget per word; you find this
    // out BEFORE committing a vocab, not after pretraining). Encode is
    // the broadcast-vocab fold; the audit is one map-side-combinable agg.
    "q142_tokenizer_fertility" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pieces = TextAnalysis.wordpieceTrain(docs, "text",
          seedSize = 200, vocabSize = 60, maxPieceLen = 4, rounds = 3)
        .select(col("piece")).collect().map(_.getString(0)).toSeq
      val enc = TextAnalysis.wordpieceEncode(docs, "doc_id", "text", pieces, 4)
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_sub"))
      docs.select(col("doc_id"), col("lang"),
          TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_words"))
        .join(enc, Seq("doc_id"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).as("n_words"),
          sum(col("n_sub")).as("n_subtokens"),
          (sum(col("n_sub")).cast("double") /
            sum(col("n_words")).cast("double")).as("fertility"))
    }),

    // Horvitz-Thompson corpus estimation from the per-stratum hash
    // sample: price the full pass from a sample, with 1/rate weights
    // making per-lang totals unbiased under unequal rates. Dyadic rates
    // (1/2, 1/4, 1/8) make every HT weight an exact power of two —
    // order-independent sums, no snap firewall needed. Exact side joined
    // on only to exhibit the estimator error (q115's design).
    "q141_sample_estimate" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      Sampling.htEstimate(docs, "lang", "doc_id",
        Seq("tokens" -> operators.TextAnalysis.tokenCount(col("text")),
          "chars" -> col("n_chars")),
        Map("en" -> 0.5, "zh" -> 0.25), 0.125)
    }),

    // Corpus datasheet: the one-row snapshot health report (size, token
    // volume, language spread, exact-dup rate) a pipeline publishes with
    // every release — three map-side-combinable aggs off one scan, 1-row
    // broadcasts after; the distinct-fingerprint exchange is the only
    // data-sized shuffle.
    "q137_corpus_datasheet" -> ((s, dir) =>
      operators.TextAnalysis.corpusDatasheet(
        T(s, dir, "documents"), "text", "lang")),

    // q133's containment under AUTOMATIC path dispatch: the shingle-df
    // concentration statistic (E[df²]/E[df]², one tiny agg off the shared
    // checkpointed shingle relation) routes flat-density corpora to the
    // exact inverted index and Zipf corpora to the Bayardo '07 prefix
    // filter — the two proven-output-identical plans, so dispatch can
    // only change the plan, never the answer (same oracle SQL as q133).
    // This fixture's uniform 31-token vocabulary measures ≈ 1.3 → exact,
    // which is precisely why the r12 prefix-only sweep DNF'd at sf1: the
    // prefix has no rarity to exploit under flat df. A real Heaps/Zipf
    // corpus measures ≫ 10 → prefix. q146 drives BOTH paths explicitly
    // and proves them equal under the driver's oracle.
    "q135_containment_prefix" -> ((s, dir) =>
      Dedup.containmentPairsAuto(T(s, dir, "documents"), "doc_id", "text",
        3, 0.5, maxShingleDocFreq = 100L)),

    // Dispatch-closure proof lane: run the exact AND the prefix
    // containment paths, full-outer-join them on the ENTIRE 7-column
    // output tuple, and report (n_exact, n_prefix, n_both). The oracle
    // computes the pair count once in DuckDB and predicts all three
    // equal — green means both engines agree on the pair set AND the
    // two Spark plans are bit-identical on every column (the doubles
    // compare exactly: same integer triple → same IEEE division).
    "q146_containment_dispatch" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val keys = Seq("id_a", "id_b", "n_inter", "sz_a", "sz_b",
        "cont_a", "cont_b")
      // both paths read ONE checkpointed shingle relation — the scan,
      // the distinct, and the df cap run once, not once per path
      val sh = Dedup.cappedShingleHashes(docs, "doc_id", "text", 3,
        maxShingleDocFreq = 100L).transform(graft.operators.Checkpoints.trackedEager)
      // r19 (guide §1.2): the per-doc size aggregate is ALSO shared —
      // it used to be derived once per path (5 subtree instances across
      // the two paths' joins); it is doc-count-sized, checkpoint once
      val sizes = Dedup.shingleSizes(sh, "doc_id")
      // r19 (guide §1.2/§2.4, measured): ONE (id_a, id_b, n_inter)
      // relation feeds the exact path AND the prefix path's verify.
      // The prefix verify used to re-derive each candidate's count by
      // expanding cand × the probe doc's shingles (34M rows, 2.1 CPU-min
      // at sf0.1 — the lane's anti-scaling stage); every candidate pair
      // co-occurs, so cand ⨝ inter is the same counts by definition.
      // Same subtree on both branches → one compute via ReusedExchange.
      val inter = Dedup.pairIntersectionsGrouped(sh, "doc_id")
      val e = Dedup.containmentFromShingles(sh, "doc_id", 0.5,
        grouped = true, sharedSizes = Some(sizes),
        sharedInter = Some(inter))
      val p = Dedup.containmentPrefixFromShingles(sh, "doc_id", 0.5,
        sharedSizes = Some(sizes), sharedInter = Some(inter))
      // r19 (guide §2.4): the pair sets are compared with ONE hash
      // aggregation over the tagged union instead of a full_outer
      // SortMergeJoin on the 7-column key (2 exchanges + 2 sorts → 1
      // exchange + 1 agg). Identical: each path emits a pair at most
      // once (both end in groupBy(id_a,id_b)) and every key column is
      // non-null, so per-key sums are 0/1 indicators and
      // sum(in_e·in_p) ≡ the full_outer match count.
      val tagged = e.select(keys.map(col) :+ lit(1L).as("in_e") :+
          lit(0L).as("in_p"): _*)
        .unionByName(p.select(keys.map(col) :+ lit(0L).as("in_e") :+
          lit(1L).as("in_p"): _*))
      tagged.groupBy(keys.map(col): _*)
        .agg(sum(col("in_e")).as("e"), sum(col("in_p")).as("p"))
        .agg(coalesce(sum(col("e")), lit(0L)).as("n_exact"),
          coalesce(sum(col("p")), lit(0L)).as("n_prefix"),
          coalesce(sum(col("e") * col("p")), lit(0L)).as("n_both"))
    }),

    // The maxShingleDocFreq cap made LOUD: a 1-row audit of exactly what
    // the cap drops (shingles, posting mass, fully-blinded docs) so a
    // df-concentrated corpus can't silently lose near-dup recall at the
    // cliff — cap 3 on this fixture strikes a real tail (max df = 7),
    // exercising every column against the oracle's arithmetic.
    "q148_shingle_cap_audit" -> ((s, dir) =>
      Dedup.shingleCapReport(T(s, dir, "documents"), "doc_id", "text", 3,
        maxShingleDocFreq = 3L)),

    // DSIR importance resampling (Xie et al. '23): select the 100 raw
    // documents whose hashed n-gram features look most like the target
    // slice (doc_id % 10 = 0 plays the curated set), via a
    // target-vs-raw likelihood ratio + deterministic Gumbel top-k.
    "q118_dsir_select" -> ((s, dir) =>
      operators.Sampling.dsirResample(T(s, dir, "documents"),
        "doc_id", "text", col("doc_id") % 10 === 0, 100)),

    // Scale-safe grouped quantiles: q43's percentile() buffers every group
    // value in aggregation state (OOM at scale); this lane reads the same
    // quantiles off a 256-bin histogram — bounded state, deterministic
    // interpolation the oracle replays exactly (worst error (hi-lo)/256).
    "q119_histogram_quantiles" -> ((s, dir) => {
      val qd = operators.Quantiles.histogramQuantiles(
        T(s, dir, "orders"), "o_orderstatus", "o_totalprice", Seq(0.5, 0.9), 256)
      qd.groupBy(col("o_orderstatus"))
        .agg(round(max(when(col("q") === 0.5, col("est"))), 3).as("p50_est"),
          round(max(when(col("q") === 0.9, col("est"))), 3).as("p90_est"),
          max(col("n")).as("n"))
    }),

    // End-to-end crawl-scrub COMPOSITION: HTML strip → per-LINE unicode
    // cleanup → C4 line+page rules → cross-doc paragraph dedup, chained in
    // the order a production pipeline runs them. Each stage is gated solo
    // (q107/q103/q108/q109); this lane gates their interplay — the
    // ordering bugs the solo oracles cannot see (page-level whitespace
    // collapse before the line split destroys line structure; the C4
    // punct test needs post-strip trimmed lines; dedup must see only C4
    // survivors). The %7 syndicated line dedups across docs, %17/%19
    // pages die on the lorem/brace page rules, odd pages keep 3 lines.
    "q120_crawl_pipeline" -> ((s, dir) => {
      val words = split(col("text"), " ")
      def ws(a: Int, n: Int) = array_join(slice(words, a, n), " ")
      val lines = array(
        concat(lit("<p id=\"a\">"), ws(1, 8), lit(".</p>")),
        lit("<p>Enable JavaScript to view comments.</p>"),
        concat(lit("<p>Syndicated update number "),
          (col("doc_id") % 7).cast("string"),
          lit(" from our partner network.</p>")),
        concat(lit("<p>"), ws(4, 8),
          when(col("doc_id") % 2 === 0, lit("!")).otherwise(lit("")),
          lit("</p>")),
        lit("<p>(c) 2026 Example Corp</p>"),
        concat(lit("<p>"), ws(2, 6), lit(" &amp; more?</p>")))
      val extra = when(col("doc_id") % 17 === 0,
          lit("\n<p>Lorem ipsum dolor sit amet.</p>"))
        .when(col("doc_id") % 19 === 0, lit("\n<p>function() { return 1; }</p>"))
        .otherwise(lit(""))
      val page = concat(
        lit("<html><head><script type=\"text/javascript\">var x = 1 < 2;" +
          "</script><style>p { color: red }</style></head>\n<body>\n"),
        array_join(lines, "\n"), extra, lit("\n</body></html>"))
      val stripped = operators.Scrub.stripHtml(page)
      // cleanup PER LINE (page-level \s+ collapse would erase the \n
      // structure C4 needs), empties dropped
      val normLines = filter(
        transform(split(stripped, "\n"), l => operators.Scrub.normalizeText(l)),
        l => l =!= "")
      val cleanPage = array_join(normLines, "\n")
      val kept = operators.Scrub.c4KeptLines(cleanPage)
      val keepPage = operators.Scrub.c4PageKeep(cleanPage, kept)
      val survivors = T(s, dir, "documents")
        .select(col("doc_id"), array_join(kept, "\n").as("page"), keepPage.as("k"))
        .filter(col("k")).drop("k")
      operators.Dedup.paragraphDedup(survivors, "doc_id", "page", "\n")
    }),

    // Corpus distribution drift between two source slices (src0-src9 as P
    // vs src10-src19 as Q): per-term KL contribution over the smoothed
    // union-vocab unigram distributions, top-50 by |contrib| with the
    // rounded-magnitude + term-tiebreak determinism contract — the
    // crawl-snapshot / train-split shift check.
    "q122_distribution_drift" -> ((s, dir) =>
      operators.TextAnalysis.distributionDrift(
        T(s, dir, "documents"), "text",
        regexp_extract(col("source"), "^src(\\d+)$", 1).cast("int") < 10, 50)),

    // Cluster resolution on the SCALE path: connected components over
    // LSH-VERIFIED near-dup edges — candidates from minhash band
    // collisions, exact Jaccard verify on candidates ONLY, then the same
    // alternating-stars components as q63. q63's exact inverted-index
    // edge join costs Σ df² over shingles, which the round-12
    // fourth-decade sweep measured bending to exponent ~0.9 under fixed-
    // vocab shingle densification; this lane is the composition that
    // holds at corpus scale (candidate volume rides band-collision
    // density, not df²). Both stay gated: q63 pins the exact reporting
    // semantics, this one the deployment form.
    "q123_lsh_dedup_clusters" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val pairs = Dedup.minhashNearDupPairs(
        docs, "doc_id", "text", 3, 8, 2, 0.3)
      Components.dedupClusters(docs.select(col("doc_id")), "doc_id",
        pairs, "id_a", "id_b")
    }),

    // q94's streaming ingest upgraded from exact to NEAR-dup rejection:
    // micro-batches LSH-probed (foreachBatch) against the static minhash
    // signature index, only unmatched docs appended. Batch-split
    // invariant (delta vs index only), so the oracle replays the whole
    // delta in one pass; the multi-batch split itself is gated in
    // StreamingSpec.
    "q125_stream_neardup_ingest" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val indexSigs = Dedup.minhashSignatures(
        docs.filter(col("doc_id") < 250), "doc_id", "text", 3, 8)
      val docStream = s.readStream
        .schema(s.read.parquet(s"$dir/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") >= 250)
      val out = scratchDir("graft_q125")
      graft.streaming.EventStreams.nearDupFilteredIngest(
        docStream, indexSigs, "doc_id", "text", 3, 8, 2,
        minMatchFraction = 0.5, out).awaitTermination()
      s.read.parquet(out).select(col("doc_id"), col("lang"), col("source"))
    }),

    // Multi-dimensional layout: Morton z-key over (l_partkey, l_suppkey).
    // The key IS the operator's semantic content — Layout.zorderWrite is
    // key + repartitionByRange + parquet write, and its physical payoff
    // (row-group pruning in BOTH dimensions from one clustering) is
    // measured end-to-end in LayoutSpec against an unclustered copy.
    "q124_zorder_key" -> ((s, dir) => {
      Layout.zorderKey(
        T(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
        "l_partkey", "l_suppkey", 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("zkey"))
    }),

    // q73's dynamic [p05, p95] outlier trim on the SCALE path: thresholds
    // from the 256-bin histogram (bounded state) instead of the exact
    // percentile whose single aggregation buffer holds the whole corpus.
    // Band edges differ from q73's by at most one bin width; both lanes
    // stay gated — q73 pins the exact semantics, this one the scale form.
    "q121_length_band_hist" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val qd = operators.Quantiles.globalHistogramQuantiles(
        docs, "n_chars", Seq(0.05, 0.95), 256)
      val thr = qd.agg(
        round(max(when(col("q") === 0.05, col("est"))), 3).as("lo"),
        round(max(when(col("q") === 0.95, col("est"))), 3).as("hi"))
      docs.crossJoin(broadcast(thr))
        .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // Semantic decontamination: the eval set (vec_id < 20) leaked into the
    // corpus verbatim — embedding cosine >= 0.95 flags it where n-gram
    // overlap (q51/q79) would need exact text. Bench side broadcast,
    // corpus never shuffled; per-id max is the only exchange.
    "q106_semantic_decontam" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      operators.Dedup.embeddingDecontaminate(
        e, e.filter(col("vec_id") < 20), "vec_id", "embedding", 0.95)
    }),

    // CSV round trip — the reference's export format (K2) made lossless:
    // RFC 4180 quoting, multiLine re-read, null-vs-empty sentinel. The
    // text column carries newlines, quotes, and CJK — the cases naive CSV
    // silently corrupts.
    "q96_csv_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_q96")
      val cols = Seq("doc_id", "lang", "text")
      val src = T(s, dir, "documents").select(cols.map(col): _*)
      sinks.CorpusWriter.writeCsv(src, out)
      sinks.CorpusWriter.readCsv(s, out, src.schema).select(cols.map(col): _*)
    }),

    // q93's ingest dedup as an always-on STREAM: zero streaming state —
    // the index bloom rejects provably-new rows at scan stage, the
    // bloom-positive sliver goes through an exact stream-static left-anti
    // join. No watermark horizon: a year-old duplicate still drops.
    "q94_stream_ingest_dedup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val index = docs.filter(col("doc_id") < 250)
        .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
      val docStream = s.readStream
        .schema(s.read.parquet(s"$dir/documents.parquet").schema)
        .option("pathGlobFilter", "documents.parquet").parquet(dir)
        .filter(col("doc_id") >= 250)
      streamToParquet(s, graft.streaming.EventStreams
        .indexFilteredIngest(docStream, index, "text")
        .select(col("doc_id"), col("lang"), col("source")))
    }),

    // Incremental exact dedup: today's delta (doc_id >= 250) cleaned
    // against the historical index's fingerprints (doc_id < 250) without
    // ever shuffling the index — delta-bloom probed in the index scan,
    // exact broadcast anti-join confirm (the q79 pattern, roles reversed).
    "q93_incremental_dedup" -> ((s, dir) => {
      val docs = T(s, dir, "documents")
      val index = docs.filter(col("doc_id") < 250)
        .select(TextAnalysis.fingerprint(col("text")).as("fp")).distinct()
      Dedup.incrementalExact(docs.filter(col("doc_id") >= 250), index,
          "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Hybrid retrieval fusion: cosine top-20 and raw-dot (MIPS) top-20
    // fused by reciprocal rank — the rank-based combiner that needs no
    // score calibration between systems. Fusion cost is |Q|·N·systems
    // rows, independent of corpus size.
    "q92_rrf_fusion" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      val q = e.filter(col("vec_id") < 5)
      operators.Fusion.rrf(Seq(
        Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 20),
        Similarity.bruteForceTopKDot(e, q, "vec_id", "embedding", 20)),
        k = 10)
    }),

    // Temperature-scaled mixture plan (share^alpha reweighting): the
    // per-language sampling-fraction table a data recipe applies via
    // stratifiedByFraction (q55's gate); one corpus count agg, the rest
    // dim-sized arithmetic.
    "q90_mixture_plan" -> ((s, dir) =>
      operators.Sampling.mixturePlan(T(s, dir, "documents"), "lang",
        alpha = 0.3, targetRows = 1000)),

    // Partitioned/sorted output layout, round-tripped: write documents as a
    // hive-partitioned (lang, source) corpus sorted by doc_id within files
    // (one shuffle — sinks.CorpusWriter), re-read through the pruning
    // filter, aggregate. Gates that the 100 TB output path is lossless and
    // partition-filter-correct end to end; layout/pruning plan shape is
    // pinned in CorpusWriterSpec.
    "q78_partitioned_write" -> ((s, dir) => {
      val out = scratchDir("graft_q78")
      sinks.CorpusWriter.writePartitioned(T(s, dir, "documents"),
        out, Seq("lang", "source"), Seq("doc_id"), filesPerPartition = 2)
      s.read.parquet(out).filter(col("lang") === "en")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
    }),

    // JSONL interchange round-trip: documents → gzip JSONL shards →
    // schema-pinned re-read. Gates encode/decode fidelity (newlines,
    // quotes, CJK text survive the escape/unescape) on the corpus
    // interchange format; oracle is the source table itself.
    "q82_jsonl_roundtrip" -> ((s, dir) => {
      val out = scratchDir("graft_q82")
      val cols = Seq("doc_id", "lang", "text")
      val src = T(s, dir, "documents").select(cols.map(col): _*)
      sinks.CorpusWriter.writeJsonl(src, out)
      sinks.CorpusWriter.readJsonl(s, out, src.schema).select(cols.map(col): _*)
    }),

    // Compression-ratio quality signal: DEFLATE/raw size per doc (the
    // model-free redundancy detector). Not SQL-expressible → no-oracle
    // lane, md5-pinned in GoldenSpec like q39.
    "q83_deflate_ratio" -> ((s, dir) =>
      TextAnalysis.deflateRatios(T(s, dir, "documents"), "doc_id", "text")),

    // SemDeDup: k-means-cluster the embeddings (q38's deterministic sampled
    // Lloyd centroids), drop any vector with cosine ≥ 0.3 to a lower-id
    // vector in its cluster; min-id survivors keep kept=1. Quantizer size
    // auto-derived: k = ceil(count/64) holds cell population ~64 as the
    // corpus grows, so the within-cell pair stage stays linear overall.
    "q65_semdedup" -> ((s, dir) =>
      Similarity.semDeDup(T(s, dir, "embeddings"), "vec_id", "embedding", 0.3)
        .select(col("id").as("vec_id"), col("cell"), col("kept"))),

    // The NESTED two-level quantizer hash-gated (the 100 TB path q193's
    // fourth-decade 0.89 rests on): maxFlatCells forced to 8 so auto mode
    // nests at ALL gate SFs (want = ceil(n/32) = 16/16/63 > 8 →
    // coarse × residual-fine, ceil-sqrt split kc·kf = 4·4 / 4·4 / 8·8),
    // composite LONG cell = c1·kf + c2. The oracle re-derives kc/kf with
    // the same integer ceil-sqrt arithmetic, replays BOTH Lloyd chains
    // (fine trained on residuals v − coarseCentroid) bit-exact, and the
    // same semDeDup min-id-survivor tail — so cell ids, the composite
    // arithmetic, AND the within-cell drops are all under the hash.
    "q200_nested_quantizer" -> ((s, dir) =>
      Similarity.semDeDup(T(s, dir, "embeddings"), "vec_id", "embedding",
        0.3, targetCellSize = 32, maxFlatCells = 8)
        .select(col("id").as("vec_id"), col("cell"), col("kept"))),

    // BM25 lexical ranking: top-20 docs for a fixed query-term bag.
    // TakeOrdered limit (bounded per-partition top-k, no global sort),
    // then rank stamped on the 20 survivors.
    "q64_bm25_rank" -> ((s, dir) => {
      // rank on round(score, 6) with doc_id tiebreak — the SAME value that
      // is emitted — so a 1-2 ulp Spark-log/DuckDB-ln drift between two
      // near-equal raw scores can never flip the rank column at the gate
      val scored = TextAnalysis.bm25Scores(T(s, dir, "documents"), "doc_id",
          "text", Seq("spark", "join", "vector"))
        .select(col("doc_id"), round(col("score"), 6).as("score"))
      val top = scored.orderBy(col("score").desc, col("doc_id").asc).limit(20)
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score").desc, col("doc_id").asc)
      top.withColumn("rank", row_number().over(w))
        .select(col("doc_id"), col("rank"), col("score"))
    }),

    // Binned range join: urgent 1996 orders × lineitems shipped within 14
    // days of the order date — an equi-join on time bins + exact re-check,
    // never a nested loop (plan shape pinned in PlanSpec).
    "q59_range_join" -> ((s, dir) => {
      val iv = T(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          year(col("o_orderdate")) === 1996)
        .select(col("o_orderkey"),
          unix_date(to_date(col("o_orderdate"))).as("lo"),
          (unix_date(to_date(col("o_orderdate"))) + 13).as("hi"))
      val pts = T(s, dir, "lineitem")
        .select(col("l_orderkey"),
          unix_date(to_date(col("l_shipdate"))).as("ship_day"),
          col("l_quantity"))
      operators.RangeJoin.pointInInterval(pts, iv, "ship_day", "lo", "hi", 14L)
        .groupBy(col("o_orderkey"))
        .agg(count(lit(1)).as("n_shipped"),
          round(sum(col("l_quantity")), 2).as("sum_qty"))
    }),

    // Gopher-style intra-document repetition metrics (dup-3-gram fraction,
    // top-2-gram fraction) — the standard web-corpus repetition filter.
    "q57_repetition_profile" -> ((s, dir) =>
      TextAnalysis.repetitionProfile(T(s, dir, "documents"), "doc_id", "text")),

    // Pivot: long → wide on a known value list (W1's general form).
    "q45_pivot_events" -> ((s, dir) => {
      val types = Seq("click", "signup", "error", "view", "purchase")
      T(s, dir, "events")
        .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
        .groupBy(col("user_bucket"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
        // empty pivot cells are NULL; the oracle's filtered count emits 0
        .select(col("user_bucket") +:
          types.map(t => coalesce(col(t), lit(0L)).as(s"n_$t")): _*)
    }),

    // Relational set ops: INTERSECT / EXCEPT over key projections.
    "q46_set_ops" -> ((s, dir) => {
      val fOrders = T(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_custkey").as("custkey"))
      val bigOrders = T(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey").as("custkey"))
      fOrders.intersect(bigOrders).withColumn("src", lit("both"))
        .unionByName(
          fOrders.except(bigOrders).withColumn("src", lit("f_only")))
    }),

    // Skew-controlled two-phase aggregation: salted partial, exact final
    // (identical result to a direct groupBy — only shuffle placement moves).
    "q44_salted_agg" -> ((s, dir) => {
      operators.Skew.saltedAggregate(
        T(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus"),
        Map("qty_raw" -> col("l_quantity"),
          "price_raw" -> col("l_extendedprice")),
        numSalts = 16)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("qty_raw"), 2).as("sum_qty"),
          round(col("price_raw"), 2).as("sum_price"),
          col("n_rows"))
    }),

    // Distinct aggregation (expand + two-phase hash agg under the hood).
    "q36_distinct_agg" -> ((s, dir) => {
      T(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
    }),

    // Full cube over two dimensions (grouping-set expansion).
    "q37_cube_orders" -> ((s, dir) => {
      T(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))
    }),

    // Structured Streaming end-to-end: file-stream the events table,
    // Watermarked tumbling aggregation, AvailableNow to completion, in the
    // true production shape: APPEND mode to a file sink — bounded state
    // (complete-mode would hold every window forever), nothing pinned in
    // driver memory. Append emits exactly the watermark-closed windows
    // (window end <= max event time - delay); the oracle encodes the same
    // horizon, so the gate verifies the watermark semantics themselves.
    "q35_streaming_tumbling" -> ((s, dir) =>
      streamToParquet(s, graft.streaming.EventStreams
        .tumblingCounts(eventFileStream(s, dir), "10 minutes", "30 minutes")
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value")))),

    // Stream-static enrichment: events joined to the customer dim
    // (broadcast, stateless) then windowed per market segment — reference
    // data enrichment as a real watermarked stream.
    "q75_stream_enrich" -> ((s, dir) =>
      streamToParquet(s, graft.streaming.EventStreams
        .enrichedTumblingCounts(eventFileStream(s, dir),
          T(s, dir, "customer")
            .select(col("c_custkey").as("user_id"),
              col("c_mktsegment").as("segment")),
          "user_id", "segment", "10 minutes", "30 minutes")
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("segment"), col("n"),
          round(col("sum_value"), 2).as("sum_value")))),

    // Streaming sliding windows: q68's hopping aggregation as a real
    // watermarked stream (append + file sink + AvailableNow, like q35);
    // only hops the watermark has closed are emitted.
    "q71_streaming_sliding" -> ((s, dir) =>
      streamToParquet(s, graft.streaming.EventStreams
        .slidingCounts(eventFileStream(s, dir), "30 minutes", "10 minutes",
          "30 minutes")
        .select(unix_timestamp(col("win_start")).as("win_start"),
          col("event_type"), col("n"),
          round(col("sum_value"), 2).as("sum_value")))),

    // Streaming exactly-once dedup: the event stream unioned with itself
    // (every event delivered twice — the at-least-once shape) must come out
    // exactly once. Single AvailableNow batch over the bounded file, so no
    // row is ever late; append + file sink like q35.
    "q58_streaming_dedup" -> ((s, dir) => {
      def stream = eventFileStream(s, dir)
      streamToParquet(s, graft.streaming.EventStreams
        .dedupEvents(stream.union(stream), Seq("event_id"))
        .select(col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"), col("value")))
    }),

    // Stream-stream interval join: clicks attributed to views within 3
    // hours per user, both sides real streams with watermarks (state
    // bounded by watermark + lag). Single AvailableNow batch → the full
    // attribution set, same append + file-sink harness as q35/q58.
    "q61_stream_interval_join" -> ((s, dir) => {
      val clicks = eventFileStream(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val views = eventFileStream(s, dir).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      streamToParquet(s, graft.streaming.EventStreams
        .intervalJoin(clicks, views, "c_user", "v_user",
          "click_ts", "view_ts", "180 minutes", "240 minutes")
        .select(col("click_id"), col("view_id"), col("c_user").as("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("view_ts")).as("view_us")))
    }),

    // Streaming LEFT OUTER interval join: q61's attribution join, but
    // unmatched clicks ALSO emit (with null view columns) — and only once
    // the watermark proves no future view can match, which is the
    // semantics this lane gates: the oracle encodes the final-watermark
    // cutoff, so a row emitted early or held forever both fail the hash.
    "q91_stream_outer_join" -> ((s, dir) => {
      val clicks = eventFileStream(s, dir).filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
          col("event_id").as("click_id"))
      val views = eventFileStream(s, dir).filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"), col("ts").as("view_ts"),
          col("event_id").as("view_id"))
      streamToParquet(s, graft.streaming.EventStreams
        .intervalJoin(clicks, views, "c_user", "v_user",
          "click_ts", "view_ts", "180 minutes", "240 minutes", "leftOuter")
        .select(col("click_id"), col("view_id"), col("c_user").as("user_id"),
          unix_micros(col("click_ts")).as("click_us"),
          unix_micros(col("view_ts")).as("view_us")))
    }),

    // IVF ANN: expression-only coarse quantization + probed cells.
    // nProbe=6 of 8 cells is the deployment-grade gate config (recall@10
    // 0.84, RecallSpec pin); at production scale nCentroids grows with the
    // corpus and the probed FRACTION falls — the probe count, not the
    // fraction, is what a serving tier fixes.
    "q38_ivf_ann_topk" -> ((s, dir) => {
      val e = T(s, dir, "embeddings")
      Similarity.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id",
        "embedding", 10, nCentroids = 8, nProbe = 6)
    }),

    // Content-defined chunking dedup: shared rolling-hash chunks across
    // documents (shift-resistant partial-overlap detection).
    "q39_rolling_chunks" -> ((s, dir) => {
      T(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.rolling_chunks(col("text")))
            .as("chunk_fp"))
        .groupBy(col("chunk_fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
        .filter(col("n_docs") > 1)
    }),

    // ---- Bangumi fixture pipeline (reference parity). Oracled: the parse
    // boundary is exported to a typed parquet by an independent pure-Python
    // re-derivation (tools/gen_bangumi_parsed.py) and the projections /
    // summary / quality lanes are replayed in DuckDB SQL over it — see
    // `bangumiOracle` below. ----

    // P2/F1/F6/F7: 21-column raw projection incl. infobox flatten.
    // Array columns are JSON-encoded for the driver's rows-only compare
    // (its pandas sort can't order ndarray cells).
    "qb34_bangumi_raw" -> ((s, _) => {
      bangumi.BangumiTransforms.rawProjection(bangumi.Fixtures.items(s), "graft")
        .withColumn("tags", to_json(col("tags")))
    }),

    // P3/W1/F2/F3/F5: 27-column analytics projection with top-5 tag pivot.
    "qb35_bangumi_analytics" -> ((s, _) => {
      bangumi.BangumiTransforms.analyticsProjection(bangumi.Fixtures.items(s))
    }),

    // A1–A3/F13: per-category summary with enum labels.
    "qb36_bangumi_summary" -> ((s, _) => {
      bangumi.BangumiTransforms.categorySummary(
        bangumi.BangumiTransforms.analyticsProjection(bangumi.Fixtures.items(s)))
    }),

    // Docx §4.4 data-quality metrics (uniqueness / coerce failures).
    "qb37_bangumi_quality" -> ((s, _) => {
      bangumi.BangumiTransforms.qualityMetrics(
        bangumi.BangumiTransforms.rawProjection(bangumi.Fixtures.items(s), "graft"))
    }),

    // S1–S3/R1–R3: DSv2 REST connector → transform layer, end to end
    // (category-partitioned scan with enum pushdown + count-probe pruning).
    "qb38_bangumi_source" -> ((s, _) => {
      val src = s.read
        .format(classOf[sources.bangumi.BangumiTableProvider].getName)
        .option("client", "fixture").load()
      bangumi.BangumiTransforms.analyticsProjection(
        bangumi.BangumiTransforms.parseItems(src.select(col("value"))))
    }),

    // Multimodal: binary decode batch stage (stubbed codec, real plumbing).
    // histogram array → JSON string for the driver's rows-only compare.
    "qb39_media_decode" -> ((s, _) => {
      operators.Multimodal.decodeImages(operators.Multimodal.syntheticMedia(s, 200))
        .withColumn("histogram", to_json(col("histogram")))
    }),

    // Multimodal: video → per-frame rows. The raw frame payload crosses
    // the gate as its UPPERCASE-HEX string (GoldenSpec's canonical
    // rendering of binary — the pin is unchanged): a raw binary cell
    // reads back as bytes from Spark parquet but bytearray from DuckDB,
    // the same representation hazard as q155's float arrays.
    "qb40_media_frames" -> ((s, _) => {
      operators.Multimodal.explodeFrames(
        operators.Multimodal.syntheticMedia(s, 60)
          .filter(col("kind") === "video"), 4)
        .withColumn("frame_bytes", hex(col("frame_bytes")))
    }),

    // Multimodal: deterministic nearest-neighbor resize to 16×12 (the
    // thumbnail / model-input-prep stage) — integer source indexing so the
    // post-resize histogram is replayable by the pure-Python rederive.
    "qb44_media_resize" -> ((s, _) => {
      operators.Multimodal.resizeImages(
        operators.Multimodal.syntheticMedia(s, 200), 16, 12)
        .withColumn("histogram", to_json(col("histogram")))
    }),

    // Multimodal member of the dedup family: dHash perceptual
    // fingerprints through the same exact C(6,3) Hamming blocking as
    // q30. Fixture = 100 noise PNGs + a patched re-encode of each;
    // the pair set (each original ↔ its edited copy) is deterministic
    // and re-derived from the dumped bytes by rederive_media.py.
    "qb45_image_neardup" -> ((s, _) => {
      operators.Multimodal.imageNearDupPairs(
        operators.Multimodal.syntheticNearDupMedia(s, 100), 3)
    }),

    // Multimodal: audio near-dup via the 64-bit time×frequency
    // band-vs-span-mean fingerprint (Haitsma–Kalker family; dHash's grid
    // carried to 8 time spans × 8 Goertzel bands, each bit = band energy
    // above its span's mean) through the same exact C(6,3) Hamming join
    // as qb45/q30 — catches re-leveled/re-encoded copies; corrupt
    // payloads isolated out of the pair join.
    "qb46_audio_neardup" -> ((s, _) => {
      operators.Multimodal.audioNearDupPairs(
        operators.Multimodal.syntheticNearDupAudio(s, 72),
        operators.Multimodal.audioDHashBands, 3)
    }),


    // Multimodal: real WAV/PCM decode batch stage (pure-JDK javax.sound),
    // corrupt rows isolated. rms array → JSON string for the rows-only
    // compare (same contract as qb39's histogram).
    "qb41_audio_decode" -> ((s, _) => {
      operators.Multimodal.decodeAudios(operators.Multimodal.syntheticAudio(s, 120))
        .withColumn("rms", to_json(col("rms")))
    }),

    // Multimodal: REAL container demux — animated GIF via the JDK's
    // ImageIO multi-frame reader, 3 evenly spaced frames per video decoded
    // to dims + luminance histogram; corrupt rows isolated. histogram →
    // JSON string for the rows-only compare (same contract as qb39).
    "qb42_gif_frames" -> ((s, _) => {
      operators.Multimodal.decodeGifFrames(
          operators.Multimodal.syntheticGifMedia(s, 90), 3)
        .withColumn("histogram", to_json(col("histogram")))
    }),

    // Multimodal: windowed audio features — 20ms windows, RMS + Goertzel
    // band amplitudes at 440/1000/2500 Hz over the qb41 WAV lane (pure JDK,
    // StrictMath-seeded recurrence); corrupt rows isolated. band_amp →
    // JSON string for the rows-only compare (same contract as qb39).
    "qb43_audio_frames" -> ((s, _) => {
      operators.Multimodal.decodeAudioFrames(
          operators.Multimodal.syntheticAudio(s, 120), 20,
          Seq(440.0, 1000.0, 2500.0))
        .withColumn("band_amp", to_json(col("band_amp")))
    }),

    // Dense per-user hourly grid over the event log with gaps explicit
    // and values carried forward (LOCF) — the feature-store repair step
    // before events become time-series features. Grid rows are generated
    // executor-side (sequence+explode AFTER the span aggregate, already
    // partitioned by user); two exchanges total.
    "q171_event_gapfill" -> ((s, dir) =>
      operators.Temporal.gapFill(T(s, dir, "events"), "user_id", "ts",
        "value", "hour")),

    // SCD Type-2 history build: per-user event_type change log collapsed
    // to validity intervals (gaps-and-islands running-sum segmentation,
    // lead() for valid_to, open segment flagged current). One hash
    // exchange on user_id feeds every window and the segment aggregate.
    "q172_scd2_intervals" -> ((s, dir) =>
      operators.Temporal.scd2(T(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type")),

    // Bucketed-layout co-located join: both sides written bucketed+sorted
    // by their join key into the same bucket count, then joined with ZERO
    // exchange on either side (PlanSpec pins the shuffle-free plan) — the
    // pay-the-shuffle-once-at-ingest pattern for 100 TB fact joins.
    "q173_bucketed_join" -> ((s, dir) => {
      val l = Layout.bucketedTable(
        T(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_extendedprice"), col("l_discount")),
        "graft_q173_lineitem", scratchDir("graft_q173_l"),
        "l_orderkey", 16, Seq("l_orderkey"))
      val o = Layout.bucketedTable(
        T(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority")),
        "graft_q173_orders", scratchDir("graft_q173_o"),
        "o_orderkey", 16, Seq("o_orderkey"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
          2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Dictionary tagging: curated (tag, phrase) taxonomy matched on token
    // boundaries via an n-gram stream + broadcast phrase join — the
    // topic-routing stage; corpus cost is one explode-scan + one (doc,
    // tag) aggregation regardless of dictionary size.
    "q174_dictionary_tags" -> ((s, dir) =>
      operators.Tagging.dictionaryTags(T(s, dir, "documents"), "doc_id",
        "text", q174Dict)),

    // Mergeable-sketch rollup: HLL registers built ONCE per (lang,
    // source), merged (max per bucket) to per-lang and global distinct-
    // bigram estimates with no second corpus scan — the sketch-once/
    // roll-up-anywhere pattern; exact side computed alongside (one
    // rollup pass) to keep the lane self-auditing like q117.
    "q175_hll_rollup" -> ((s, dir) =>
      operators.TextAnalysis.hllBigramRollup(T(s, dir, "documents"),
        "lang", "source", "text")),

    // Vocabulary-bounded PMI association mining: top-50 token pairs by
    // document-frequency PMI over the top-25 vocabulary with a 5-doc
    // support floor — per-doc pair work is capped at V²/2 by the
    // broadcast vocabulary, never quadratic in document length.
    "q176_pmi_pairs" -> ((s, dir) =>
      operators.Tagging.pmiPairs(T(s, dir, "documents"), "doc_id", "text",
        topV = 25, minPairDocs = 5, k = 50)),

    // Weekly cohort retention triangle — first-activity cohorts × active
    // weeks; the user-keyed aggregates share one exchange, cohort sizes
    // broadcast.
    // cohort_week emitted as 'yyyy-MM-dd' text: the compare layer's date
    // representations differ between engines (the "no raw timestamps"
    // contract)
    "q177_cohort_retention" -> ((s, dir) =>
      operators.Funnel.cohortRetention(T(s, dir, "events"), "user_id",
        "ts").withColumn("cohort_week", col("cohort_week").cast("string"))),

    // First- AND last-touch revenue attribution in one self-auditing
    // relation (both value columns total the same number): last-touch is
    // q41's as-of union-merge, first-touch one min-struct per user,
    // unattributed conversions credit the 'none' row.
    "q178_touch_attribution" -> ((s, dir) =>
      operators.Funnel.attribution(T(s, dir, "events"), "user_id", "ts",
        "event_id", "event_type", "value",
        Seq("view", "click", "signup"), "purchase")),

    // CEP-lite adjacent-pattern counting: per user, occurrences of the
    // CONSECUTIVE view→click→purchase triple (q62's funnel is the
    // subsequence form; this is the strict-adjacency form). One per-user
    // collect; the count is a scan-stage array filter.
    "q179_event_patterns" -> ((s, dir) =>
      operators.Funnel.adjacentPatternCounts(T(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type",
        Seq("view", "click", "purchase"))),

    // Time-weighted average per user (zero-order hold): holding-time
    // weights on exact microsecond longs so both engines agree
    // bit-for-bit; degenerate spans fall back to max deterministically.
    "q180_time_weighted_avg" -> ((s, dir) =>
      operators.Temporal.timeWeightedAvg(T(s, dir, "events"), "user_id",
        "ts", "event_id", "value")),

    // Changelog compaction (CDC apply / compacted-topic read): last-
    // writer-wins per user by (ts, event_id), 'error' versions are
    // tombstones — a later upsert resurrects, a trailing tombstone
    // removes. One map-side-combinable max(struct), never a window sort.
    "q181_changelog_compact" -> ((s, dir) =>
      operators.SnapshotMerge.compactChangelog(T(s, dir, "events"),
        "user_id", "ts", "event_id", col("event_type") === "error",
        "value")),

    // Fuzzy entity-resolution self-join on catalog names: distinct-name
    // relation (vocabulary-bounded) → exact length banding → Levenshtein
    // verify; the corpus pays one groupBy.
    "q182_fuzzy_name_join" -> ((s, dir) =>
      operators.Dedup.fuzzyNameJoin(T(s, dir, "part"), "p_name", 3)),

    // Triangle census + global clustering over a host co-occurrence
    // graph (hosts sharing a doc bucket; bucket size held ~13 by a
    // corpus-scaled modulus, so pair generation stays linear). The count
    // is the degree-ordered node-iterator — wedge fan-out bounded by
    // arboricity, not max degree.
    "q183_triangle_census" -> ((s, dir) => {
      // null source/lang dropped EXPLICITLY on both sides: Spark's
      // concat_ws skips nulls ("en") where SQL's || propagates them
      // (NULL) — without the shared filter the two engines build
      // different graphs the moment the fixture carries a null
      val d = T(s, dir, "documents")
        .filter(col("source").isNotNull && col("lang").isNotNull)
        .select(col("doc_id"),
          concat_ws(".", col("source"), col("lang")).as("host"))
      val m = d.agg(greatest(floor(count(lit(1)) / 13), lit(1L))
        .cast("long").as("m"))
      val bh = d.crossJoin(broadcast(m))
        .select((col("doc_id") % col("m")).as("bucket"), col("host"))
        .distinct()
      val edges = bh.as("x").join(bh.as("y"),
        col("x.bucket") === col("y.bucket") &&
          col("x.host") < col("y.host"))
        .select(col("x.host").as("src"), col("y.host").as("dst"))
      Components.triangleStats(edges, "src", "dst")
    }),

    // q181 as a STREAMING materialized view: the same LWW argmax run as a
    // complete-mode streaming aggregation — state is one (count, struct)
    // per key regardless of version volume, the compacted-topic reader's
    // state bound. Tombstone filtering happens on the read side, exactly
    // like a compacted-log consumer. Gated by q181's oracle VERBATIM:
    // the stream must land on the batch relation under any micro-batch
    // split.
    "q184_stream_changelog" -> ((s, dir) => {
      // eventFileStream, not a raw readStream: ts must go through the
      // same normalizeEventTs as the batch q181 side, or a ns-long /
      // NTZ fixture layout breaks the stream≡batch identity this lane
      // exists to assert
      val st = eventFileStream(s, dir)
      val agg = st.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_versions"),
          max(struct(col("ts").as("t"), col("event_id").as("i"),
            (col("event_type") === "error").as("del"),
            col("value").as("v"))).as("last"))
      streamToMemoryComplete(s, agg)
        .filter(!col("last.del"))
        .select(col("user_id"), col("n_versions"),
          col("last.t").as("last_ts"), col("last.v").as("current_value"))
    }),

    // End-to-end entity resolution: q182's fuzzy pairs as edges →
    // star-contraction connected components over the distinct-name
    // relation → canonical spelling per entity by (carrier count, name)
    // argmax. The whole pipeline runs on the vocabulary-bounded name
    // relation; the corpus pays one groupBy.
    "q185_entity_resolution" -> ((s, dir) => {
      val parts = T(s, dir, "part")
      // ONE distinct-name aggregation feeds both the fuzzy pair stage
      // and the entity rollup — the corpus pays one groupBy, as
      // documented (fuzzyNameJoinFromNames exists for this composition)
      val names = parts.groupBy(col("p_name").as("name"))
        .agg(count(lit(1)).as("n_rows"))
      val pairs = Dedup.fuzzyNameJoinFromNames(names, 2)
      // star contraction runs on long ids; a name-ordered dense id makes
      // min-id ≡ min-name, so the component representative is the same
      // entity the oracle's min(name) computes. The dict is the
      // vocabulary-bounded name relation — the global window is over
      // dictionary rows, never corpus rows.
      val dict = names.select(col("name")).withColumn("nid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("name"))).cast("long"))
      val idPairs = pairs
        .join(dict.select(col("name").as("name_a"), col("nid").as("ida")),
          Seq("name_a"))
        .join(dict.select(col("name").as("name_b"), col("nid").as("idb")),
          Seq("name_b"))
      val comp = Components.alternatingStars(idPairs, "ida", "idb")
        .withColumnRenamed("node", "nid")
        .join(dict, Seq("nid"))
        .join(dict.select(col("nid").as("component"),
          col("name").as("entity0")), Seq("component"))
        .select(col("name"), col("entity0"))
      val withComp = names.join(comp, Seq("name"), "left")
        .select(col("name"), col("n_rows"),
          coalesce(col("entity0"), col("name")).as("entity"))
      val ent = withComp.groupBy(col("entity"))
        .agg(count(lit(1)).as("n_names"),
          sum(col("n_rows")).as("entity_rows"),
          max(struct(col("n_rows").as("r"), col("name").as("n")))
            .as("canon"))
      withComp.join(ent, Seq("entity"))
        .select(col("name"), col("entity"), col("n_rows"), col("n_names"),
          col("entity_rows"), col("canon.n").as("canonical_name"))
    }),

    // Key-skew profile: measure before you salt — hot key, its reducer
    // share, entropy ratio, and the ⌈hot/avg⌉ salt factor the salting
    // operators take, all from one map-side-combinable count per key.
    "q186_skew_profile" -> ((s, dir) =>
      operators.Skew.keySkewProfile(T(s, dir, "events"), "user_id")),

    // q85's hot-key join with the salt count CONSUMED from the q186
    // profile instead of hand-picked (⌈hot/avg⌉, the measure→act
    // pattern): same dim, same fact, same answer — the derivation can
    // only move shuffle placement, so the oracle is the plain join
    // (q85's), and SkewSpec pins the derived count itself.
    "q197_salted_join_auto" -> ((s, dir) => {
      val ev = T(s, dir, "events").select(
        when(col("event_id") % 4 =!= 0, lit(0L))
          .otherwise(col("user_id") % 200).as("k"),
        col("value"))
      import s.implicits._
      val dim = (0L until 200L).map(i => (i, s"grp${i % 7}")).toDF("k", "grp")
      operators.Skew.saltedJoinAuto(ev, dim, "k")
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_v"))
    }),

    // k-min reservoir ROLLUP (the quantile twin of q175): sketches built
    // per (lang, source), merged per lang by re-running the k-min
    // aggregate over the fine sketch rows — exact, so the lane is gated
    // by q150's DIRECT-computation oracle verbatim.
    "q187_kmin_rollup" -> ((s, dir) => {
      // null lang/source fold to sentinels BEFORE concat_ws (which
      // silently skips nulls — a null lang would otherwise mislabel its
      // source as the coarse group), and the separator is the
      // non-printing \u0001 (the q191 rule) so a value containing the
      // separator can't split wrong; the oracle folds identically
      val fineIn = T(s, dir, "documents")
        .select(concat_ws("\u0001",
            coalesce(col("lang"), lit("<null>")),
            coalesce(col("source"), lit("<null>"))).as("ls"),
          col("doc_id"), col("n_chars"))
      val fine = Sampling.reservoirByGroup(fineIn, "ls", "doc_id",
        col("n_chars"), 64)
      val rolled = Sampling.reservoirRollup(fine,
        substring_index(col("ls"), "\u0001", 1), "lang", 64)
      Sampling.quantilesFromReservoir(rolled, "lang", Seq(0.25, 0.5, 0.9))
    }),

    // Interval × interval overlap join (bin-bucketed, dedup-free via the
    // overlap-start-bin trick): per-(user, day) activity spans against
    // global error-hour windows, summarized as per-user incident
    // exposure. The SRE question "how much of each user's activity
    // overlapped incident windows" — a theta join nowhere in the plan.
    "q188_interval_overlap" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val spans = ev.groupBy(col("user_id"),
        to_date(date_trunc("day", col("ts"))).as("day"))
        .agg(min(unix_micros(col("ts"))).as("lo_us"),
          max(unix_micros(col("ts"))).as("hi_us"))
      val wins = ev.filter(col("event_type") === "error")
        .select(unix_micros(date_trunc("hour", col("ts"))).as("win_lo"))
        .distinct()
        .select(col("win_lo"),
          (col("win_lo") + lit(3599999999L)).as("win_hi"))
      operators.RangeJoin.intervalOverlap(spans, wins, "lo_us", "hi_us",
        "win_lo", "win_hi", 3600000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_overlaps"),
          round((sum(least(col("hi_us"), col("win_hi")) -
            greatest(col("lo_us"), col("win_lo")) + 1)).cast("double") /
            lit(1e6), 4).as("overlap_seconds"))
    }),

    // Nearest-event join (merge_asof direction='nearest'): each purchase
    // matched to the temporally closest error of the same user, either
    // direction, signed delta — two as-of passes, zero theta joins.
    "q189_nearest_event_join" -> ((s, dir) => {
      val ev = T(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          unix_micros(col("ts")).as("t_us"))
      val errs = ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("err_us"),
          col("event_id").as("err_id"))
      AsofJoin.nearestJoin(purchases, errs, "user_id", "t_us", "err_us")
    }),

    // Embedding isotropy / collapse audit: covariance-spectrum
    // participation ratio tr(C)²/‖C‖_F² with no eigendecomposition —
    // the "did the embedding model degenerate" health check that
    // complements q134's mean-drift view with a variance-collapse view.
    "q190_embedding_isotropy" -> ((s, dir) =>
      Similarity.isotropyReport(T(s, dir, "embeddings"), "embedding")),

    // Order-invariant corpus digest per lang + grand total: XOR and an
    // exact decimal SUM of per-row hashes + counts — the release-
    // manifest integrity check two clusters can compute independently
    // and compare as three scalars per slice, no sort anywhere.
    "q191_corpus_digest" -> ((s, dir) =>
      Dedup.corpusDigest(T(s, dir, "documents"), "lang",
        Seq("doc_id", "text"))),

    // JL random-projection distortion audit (64 → 16 dims, seeded
    // planes): measured distance-ratio spread over the query × corpus
    // pair set — the number that licenses k-dim shortlists at scale.
    "q192_jl_distortion" -> ((s, dir) =>
      Similarity.jlDistortionReport(T(s, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, k = 16, nQueries = 5)),
  )

  /** q174's taxonomy: unigram + bigram phrases over the corpus vocabulary
    * — shared verbatim between the lane and its oracle's VALUES list. */
  private[graft] val q174Dict: Seq[(String, String)] = Seq(
    "engine" -> "spark", "engine" -> "query", "engine" -> "scan",
    "engine" -> "hash join", "engine" -> "sort merge",
    "storage" -> "table", "storage" -> "row", "storage" -> "column",
    "storage" -> "big table",
    "tempo" -> "fast", "tempo" -> "slow", "tempo" -> "slow query",
    "streaming" -> "stream", "streaming" -> "window",
    "streaming" -> "stream batch")

  // ---- DuckDB oracle-SQL generators (DuckDB dialect) -------------------
  // These mirror the Spark operators' exact hash/fold order: md5 is
  // identical everywhere; float folds are strict left-to-right in both
  // `aggregate(zip_with(...))` (Spark) and `list_reduce` (DuckDB), so
  // doubles match bit-for-bit, not just approximately.

  private val HD = "0123456789abcdef"

  /** Word-3-gram distinct shingle set (mirrors Dedup.shingleSet, n=3). */
  private def shingleCteBody(src: String): String =
    s"""toks AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM $src
       |), sh AS (
       |  SELECT DISTINCT doc_id,
       |    CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
       |         ELSE array_to_string(t, ' ') END AS shingle
       |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 2))) AS i) r
       |)""".stripMargin

  private val shingleCte: String = "WITH " + shingleCteBody("documents")

  /** CTE prefix replaying [[operators.Dedup]]'s md5-k-min document sample
    * (the q149 threshold rule: kth-smallest DISTINCT 52-bit md5 key) —
    * ends with `sdocs(doc_id, text)`, trailing comma included. */
  private def kminDocSampleCte(k: Int): String = {
    val poly = (1 to 13).map(i =>
      s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
      .mkString("(", " + ", ")")
    s"""hdocs AS (SELECT doc_id, text, $poly AS hv
       |  FROM (SELECT doc_id, text, md5(CAST(doc_id AS VARCHAR)) AS h
       |        FROM documents) z),
       |sthr AS (SELECT max(hv) AS thr
       |  FROM (SELECT DISTINCT hv FROM hdocs ORDER BY hv LIMIT $k) t),
       |sdocs AS (SELECT doc_id, text FROM hdocs, sthr
       |  WHERE hdocs.hv <= sthr.thr),
       |""".stripMargin
  }

  private val minhashSigSelect: String = {
    val mins = (0 until 8).map(i => s"min(md5('$i:' || shingle)) AS mh$i").mkString(", ")
    s"SELECT doc_id, $mins FROM sh GROUP BY doc_id"
  }

  private def bandedKeysSql: String = (0 until 4).map(b =>
    s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
    .mkString("\nUNION ALL ")

  /** The q170 recall-audit SQL over an arbitrary document source —
    * `pre` is a CTE prefix (the sample chain for the sampled form);
    * `sampled` adds the emitted sample-size columns. */
  private def lshRecallAuditOracle(src: String, pre: String,
      sampled: Boolean): String = {
    val sampleCtes =
      if (sampled)
        """,
          |nsd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled FROM sdocs),
          |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total FROM documents)""".stripMargin
      else ""
    val sampleCols =
      if (sampled) ",\n  n_docs_sampled, n_docs_total" else ""
    val sampleJoin = if (sampled) " CROSS JOIN nsd CROSS JOIN ntot" else ""
    s"""WITH $pre${shingleCteBody(src)},
       |capped AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh
       |  JOIN (SELECT shingle FROM sh GROUP BY shingle
       |        HAVING count(*) <= 100) ok USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM capped a JOIN capped b USING (shingle)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       |tp AS (SELECT id_a, id_b
       |  FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |  JOIN sizes sb ON sb.doc_id = id_b
       |  WHERE CAST(n_inter AS DOUBLE)
       |    / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.3),
       |sig AS ($minhashSigSelect),
       |banded AS ($bandedKeysSql),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM banded l JOIN banded r USING (band, key)
       |  WHERE l.doc_id < r.doc_id),
       |caught AS (SELECT tp.id_a, tp.id_b FROM tp
       |  SEMI JOIN cand ON cand.id_a = tp.id_a AND cand.id_b = tp.id_b),
       |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tp),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_candidates FROM cand),
       |ng AS (SELECT CAST(count(*) AS BIGINT) AS n_caught FROM caught)$sampleCtes
       |SELECT CAST(0.3 AS DOUBLE) AS threshold, n_true, n_candidates,
       |  n_caught,
       |  CASE WHEN n_true > 0 THEN round(CAST(n_caught AS DOUBLE)
       |    / CAST(n_true AS DOUBLE), 6) END AS recall$sampleCols
       |FROM nt CROSS JOIN nc CROSS JOIN ng$sampleJoin""".stripMargin
  }

  /** The q168 estimator-calibration SQL over an arbitrary document
    * source (`pre` as in [[lshRecallAuditOracle]]). */
  private def minhashEstimatorAuditOracle(src: String, pre: String): String = {
    val nMatch = (0 until 8)
      .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
      .mkString(" + ")
    s"""WITH $pre${shingleCteBody(src)},
       |sig AS ($minhashSigSelect),
       |banded AS ($bandedKeysSql),
       |cand AS (SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
       |  FROM banded l JOIN banded r USING (band, key)
       |  WHERE l.doc_id < r.doc_id),
       |est AS (SELECT cand.id_a, cand.id_b, CAST($nMatch AS INT) AS n_match
       |  FROM cand JOIN sig a ON a.doc_id = cand.id_a
       |  JOIN sig b ON b.doc_id = cand.id_b),
       |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
       |  FROM sh GROUP BY 1),
       |inter AS (SELECT e.id_a, e.id_b, CAST(count(*) AS BIGINT) AS n_inter
       |  FROM est e
       |  JOIN sh sa ON sa.doc_id = e.id_a
       |  JOIN sh sb ON sb.doc_id = e.id_b AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |full_ AS (SELECT e.id_a, e.id_b, e.n_match,
       |    CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
       |    za.sz AS sz_a, zb.sz AS sz_b
       |  FROM est e LEFT JOIN inter i USING (id_a, id_b)
       |  JOIN sizes za ON za.doc_id = e.id_a
       |  JOIN sizes zb ON zb.doc_id = e.id_b)
       |SELECT id_a, id_b, n_match,
       |  round(CAST(n_match AS DOUBLE) / 8, 6) AS est_jaccard,
       |  round(CAST(n_inter AS DOUBLE)
       |    / CAST(sz_a + sz_b - n_inter AS DOUBLE), 6) AS jaccard,
       |  round(round(CAST(n_match AS DOUBLE) / 8, 6)
       |    - round(CAST(n_inter AS DOUBLE)
       |        / CAST(sz_a + sz_b - n_inter AS DOUBLE), 6), 6) AS err
       |FROM full_""".stripMargin
  }

  /** 64-bit SimHash CTE chain ending in sig(doc_id, simhash). */
  private val simhashSigCte: String = {
    val sums = (0 until 64).map { j =>
      val p = j / 4 + 1
      val sft = 3 - (j % 4)
      s"sum((((strpos('$HD', substring(h, $p, 1)) - 1) >> $sft) & 1) * 2 - 1) AS s$j"
    }.mkString(", ")
    val digits = (0 until 16).map { d =>
      val v = (0 until 4).map(b => s"CASE WHEN s${4 * d + b} > 0 THEN ${8 >> b} ELSE 0 END")
        .mkString("(", " + ", ")")
      s"substring('$HD', $v + 1, 1)"
    }.mkString(" || ")
    s"""WITH tok AS (
       |  SELECT doc_id, substring(md5(tk.tok), 1, 16) AS h
       |  FROM documents,
       |    LATERAL (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok) tk
       |), sums AS (SELECT doc_id, $sums FROM tok GROUP BY doc_id),
       |sig AS (SELECT doc_id, $digits AS simhash FROM sums)""".stripMargin
  }

  private def hammingSql(a: String, b: String): String =
    (1 to 16).map(p =>
      s"bit_count(xor(strpos('$HD', substring($a, $p, 1)) - 1, " +
        s"strpos('$HD', substring($b, $p, 1)) - 1))")
      .mkString("(", " + ", ")")

  private def dotSql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), x -> x[1] * x[2]), (acc, z) -> acc + z)"

  private def normSql(a: String): String =
    s"sqrt(list_reduce(list_transform($a, x -> x * x), (acc, z) -> acc + z))"

  /** Zero-norm pairs yield NULL *explicitly*: the Scala side guards the
    * denominator (Spark 4 ANSI throws on double /0), and DuckDB 1.0
    * happens to return NULL on double division by zero, but DuckDB >=1.1
    * defaults to IEEE semantics (0/0 -> NaN, which compares greater than
    * every threshold) — the CASE makes the oracle version-independent. */
  private def cosSql(a: String, b: String): String =
    s"(CASE WHEN ${normSql(a)} * ${normSql(b)} = 0 THEN NULL " +
      s"ELSE ${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)}) END)"

  private def planeSql(p: Array[Double]): String =
    "CAST([" + p.map(_.toString).mkString(", ") + "] AS DOUBLE[])"

  /** SRP bucket bits — planes inlined as literals (Double.toString
    * round-trips, so DuckDB reconstructs bit-identical doubles). */
  private def bucketSql(v: String, planes: Array[Array[Double]]): String =
    planes.map(p => s"CASE WHEN ${dotSql(v, planeSql(p))} >= 0 THEN '1' ELSE '0' END")
      .mkString("(", " || ", ")")

  /** CTE block replaying [[operators.Similarity.probedSrpBuckets]] over a
    * relation `src`(id, v): emits `<pfx>pp` (the derived plane count —
    * same two-level derivation as the q32/q198 oracles), `<pfx>bv`
    * (id, v, home) and `<pfx>probes` (id, v, bucket) = the home sign
    * bucket plus the `nProbes − 1` lowest-|margin| bit flips, margin
    * ties broken by plane index — exactly the engine's sort_array
    * (m, i) order. One margin row per plane, filtered to i < p so the
    * derived prefix drives the flips too.
    *
    * The bucket/margin CTEs are MATERIALIZED (DuckDB hint): the probe
    * relation is referenced from BOTH sides of the pair join, and under
    * default inlining each reference re-expands ~50 copies of the
    * 48-plane dot expressions (sbv inside every smr branch inside sfl) —
    * measured planner/executor memory blow-up to allocation failure at
    * sf0.1 and 175 s when it survived; materialized, the same query runs
    * in 3–22 s flat. */
  private def probedSrpCteSql(
      pfx: String,
      src: String,
      planes: Array[Array[Double]],
      nProbes: Int,
      targetBucketSize: Int = 64): String = {
    val mrows = planes.zipWithIndex.map { case (pl, i) =>
      s"""SELECT id, $i AS i, abs(${dotSql("v", planeSql(pl))}) AS m
         |  FROM ${pfx}bv WHERE $i < (SELECT p FROM ${pfx}pp)""".stripMargin
    }.mkString("\nUNION ALL ")
    s"""${pfx}pp AS (SELECT CAST(LEAST(${planes.length}, GREATEST(1,
       |    CASE WHEN q <= 1 THEN 1
       |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
       |  FROM (SELECT (count(*) + ${targetBucketSize - 1})
       |      // $targetBucketSize AS q FROM $src)),
       |${pfx}bv AS MATERIALIZED (SELECT id, v,
       |    substr(${bucketSql("v", planes)}, 1, (SELECT p FROM ${pfx}pp))
       |      AS home FROM $src),
       |${pfx}mr AS MATERIALIZED ($mrows),
       |${pfx}fl AS MATERIALIZED (SELECT b.id, b.v,
       |    substr(b.home, 1, f.i) ||
       |      (CASE WHEN substr(b.home, f.i + 1, 1) = '1'
       |          THEN '0' ELSE '1' END) ||
       |      substr(b.home, f.i + 2, (SELECT p FROM ${pfx}pp)) AS bucket
       |  FROM ${pfx}bv b JOIN (SELECT id, i FROM (SELECT id, i,
       |      row_number() OVER (PARTITION BY id ORDER BY m ASC, i ASC) AS rn
       |      FROM ${pfx}mr) t WHERE rn <= ${nProbes - 1}) f USING (id)),
       |${pfx}probes AS MATERIALIZED (SELECT id, v, home AS bucket FROM ${pfx}bv
       |  UNION ALL SELECT id, v, bucket FROM ${pfx}fl)""".stripMargin
  }

  /** CTE replaying [[operators.TextAnalysis.gopherRules]]'s signal +
    * verdict projection (ends with `gsig`). Every ratio is the same
    * int-derived IEEE division the Scala side runs; flags are integer
    * comparisons on them. */
  private def gopherCteSql(minRequiredHits: Int): String = {
    val required = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val hits = required
      .map(w => s"CASE WHEN (' ' || lower(trim(text)) || ' ') LIKE '% $w %' THEN 1 ELSE 0 END")
      .mkString("(", " + ", ")")
    val bullets = Seq("•", "‣", "▶", "- ", "* ")
      .map(b => s"starts_with(ltrim(l), '$b')").mkString(" OR ")
    s"""graw AS (SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
       |      AS n_words,
       |    length(regexp_replace(text, '\\s+', '', 'g')) AS n_wchars,
       |    length(text) - length(regexp_replace(text, '#', '', 'g'))
       |      AS n_hash,
       |    CAST((length(text)
       |        - length(regexp_replace(text, '\\.\\.\\.', '', 'g'))) / 3
       |      AS BIGINT)
       |      + CAST(length(text) - length(regexp_replace(text, '…', '', 'g'))
       |          AS BIGINT) AS n_ell,
       |    len(string_split(text, chr(10))) AS n_lines,
       |    len(list_filter(string_split(text, chr(10)),
       |      l -> $bullets)) AS n_bullet,
       |    len(list_filter(string_split(text, chr(10)),
       |      l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
       |      AS n_ellline,
       |    len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      w -> regexp_matches(w, '[A-Za-z]'))) AS n_alpha,
       |    CAST($hits AS INT) AS stop_hits
       |  FROM documents),
       |gsigr AS (SELECT doc_id, n_words,
       |    CAST(n_wchars AS DOUBLE)
       |      / CAST(greatest(n_words, 1) AS DOUBLE) AS mean_word_len,
       |    CAST(n_hash + n_ell AS DOUBLE)
       |      / CAST(greatest(n_words, 1) AS DOUBLE) AS symbol_ratio,
       |    CAST(n_bullet AS DOUBLE)
       |      / CAST(greatest(n_lines, 1) AS DOUBLE) AS bullet_frac,
       |    CAST(n_ellline AS DOUBLE)
       |      / CAST(greatest(n_lines, 1) AS DOUBLE) AS ellipsis_frac,
       |    CAST(n_alpha AS DOUBLE)
       |      / CAST(greatest(n_words, 1) AS DOUBLE) AS alpha_frac,
       |    stop_hits
       |  FROM graw),
       |gsig AS (SELECT doc_id, n_words, mean_word_len, symbol_ratio,
       |    bullet_frac, ellipsis_frac, alpha_frac, stop_hits,
       |    CAST(CASE WHEN n_words BETWEEN 50 AND 100000
       |      THEN 1 ELSE 0 END AS INT) AS r_words,
       |    CAST(CASE WHEN mean_word_len BETWEEN 3.0 AND 10.0
       |      THEN 1 ELSE 0 END AS INT) AS r_mean_len,
       |    CAST(CASE WHEN symbol_ratio <= 0.1 THEN 1 ELSE 0 END AS INT)
       |      AS r_symbol,
       |    CAST(CASE WHEN bullet_frac <= 0.9 THEN 1 ELSE 0 END AS INT)
       |      AS r_bullet,
       |    CAST(CASE WHEN ellipsis_frac <= 0.3 THEN 1 ELSE 0 END AS INT)
       |      AS r_ellipsis,
       |    CAST(CASE WHEN alpha_frac >= 0.8 THEN 1 ELSE 0 END AS INT)
       |      AS r_alpha,
       |    CAST(CASE WHEN stop_hits >= $minRequiredHits
       |      THEN 1 ELSE 0 END AS INT) AS r_stop
       |  FROM gsigr)""".stripMargin
  }

  /** CTE replaying [[operators.TextAnalysis.hashedTfVectors]] (ends with
    * `vecs(doc_id, n_tokens, vec)`): md5-hex polynomial bucket (the q118
    * trick — 6 hex digits = conv(.., 16, 10)), sign from hex digit 7,
    * integer bucket weights, sqrt-of-integer l2 norm, 6dp components. */
  private def hashedTfCteSql(dim: Int, src: String = "documents"): String = {
    val poly6 = (1 to 6).map(i =>
      s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${BigInt(16).pow(6 - i)}")
      .mkString("(", " + ", ")")
    s"""htk AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS w
       |  FROM $src),
       |hhs AS (SELECT doc_id, md5(w) AS hx FROM htk WHERE w <> ''),
       |hbk AS (SELECT doc_id, $poly6 % $dim AS bucket,
       |    CASE WHEN substr(hx, 7, 1) < '8' THEN 1 ELSE -1 END AS sign
       |  FROM hhs),
       |hag AS (SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS w
       |  FROM hbk GROUP BY 1, 2),
       |hnr AS (SELECT doc_id, sqrt(CAST(sum(w * w) AS DOUBLE)) AS nn
       |  FROM hag GROUP BY 1),
       |hnt AS (SELECT d.doc_id, CAST(coalesce(c.n, 0) AS BIGINT) AS n_tokens
       |  FROM $src d
       |  LEFT JOIN (SELECT doc_id, count(*) AS n FROM hhs GROUP BY 1) c
       |    USING (doc_id)),
       |hdense AS (SELECT hnt.doc_id, hnt.n_tokens, g.i,
       |    coalesce(hag.w, 0) AS w, hnr.nn
       |  FROM hnt CROSS JOIN (SELECT unnest(range($dim)) AS i) g
       |  LEFT JOIN hag ON hag.doc_id = hnt.doc_id AND hag.bucket = g.i
       |  LEFT JOIN hnr ON hnr.doc_id = hnt.doc_id),
       |vecs AS (SELECT doc_id, min(n_tokens) AS n_tokens,
       |    list(CASE WHEN nn > 0 THEN round(w / nn, 6) ELSE 0.0 END
       |      ORDER BY i) AS vec
       |  FROM hdense GROUP BY 1)""".stripMargin
  }

  /** CTE chain re-deriving `Similarity.kmeansCentroids` in DuckDB:
    * md5-ordered bounded sample, first-k init, `iters` Lloyd rounds with
    * (md5, id)-ordered mean folds. `list_reduce` is a first-element-seeded
    * left fold — exactly the scalar fold the Scala side runs — so the
    * centroid doubles match bit-for-bit (prototyped and verified exact).
    * Ends with cent{iters}(cell, cv). */
  private def kmeansIterCteSql(p: Int): String =
    s"""a_$p AS (
       |  SELECT s.id, s.v, s.mk, c.cell,
       |    row_number() OVER (PARTITION BY s.id
       |      ORDER BY ${cosSql("s.v", "c.cv")} DESC, c.cell ASC) AS rn
       |  FROM samp s, cent$p c),
       |m_$p AS (
       |  SELECT cell, list(v ORDER BY mk, id) AS vs, count(*) AS cnt
       |  FROM a_$p WHERE rn = 1 GROUP BY cell),
       |cent${p + 1} AS (
       |  SELECT c.cell,
       |    CASE WHEN m.cell IS NULL THEN c.cv
       |         ELSE list_transform(
       |           list_reduce(m.vs, (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])),
       |           x -> x / m.cnt) END AS cv
       |  FROM cent$p c LEFT JOIN m_$p m USING (cell))""".stripMargin

  private def kmeansCteSql(k: Int, sampleSize: Int, iters: Int,
      trainSrc: String = "e"): String =
    s"""samp AS (SELECT id, v, md5(CAST(id AS VARCHAR)) AS mk FROM $trainSrc
       |  ORDER BY mk, id LIMIT $sampleSize),
       |cent0 AS (SELECT cell, cv FROM (
       |    SELECT row_number() OVER (ORDER BY mk, id) - 1 AS cell, v AS cv
       |    FROM samp) t
       |  WHERE cell < $k),
       |${(0 until iters).map(kmeansIterCteSql).mkString(",\n")}""".stripMargin

  /** Auto-k [[kmeansCteSql]]: k and the sample size are derived IN SQL
    * from `count(*)` with the same INTEGER arithmetic as
    * `Similarity.autoCentroids`/`autoSampleSize` (ceil-division +
    * GREATEST/LEAST clamps — no float log/ceil, so there is no 1-ulp
    * boundary on which Scala and DuckDB could disagree). The oracle
    * thereby replays the auto-derived quantizer at any corpus size UP TO
    * the nesting bound: past `Similarity.NestAboveCells` (256) desired
    * cells (> 16,384 docs at targetCellSize 64 — far above every gate
    * corpus, which derives ≤ 79) AUTO mode switches to the two-level
    * coarse × residual-fine quantizer, which this single-level chain
    * does NOT model; the nested path has its own forced-low-bound
    * oracle (q200, `kmeansCteSqlPfx` twice + residual CTEs). */
  private def kmeansCteSqlAuto(targetCellSize: Int, iters: Int): String =
    s"""kk AS (SELECT CAST(LEAST(65536, GREATEST(1,
       |    (count(*) + ${targetCellSize - 1}) // $targetCellSize)) AS INT) AS k FROM e),
       |ss AS (SELECT CAST(LEAST(16384, GREATEST(64, 4 * k)) AS INT) AS n FROM kk),
       |samp AS (SELECT id, v, mk FROM (
       |    SELECT id, v, md5(CAST(id AS VARCHAR)) AS mk,
       |      row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
       |    FROM e) t WHERE rn <= (SELECT n FROM ss)),
       |cent0 AS (SELECT cell, cv FROM (
       |    SELECT row_number() OVER (ORDER BY mk, id) - 1 AS cell, v AS cv
       |    FROM samp) t
       |  WHERE cell < (SELECT k FROM kk)),
       |${(0 until iters).map(kmeansIterCteSql).mkString(",\n")}""".stripMargin

  /** Name-prefixed [[kmeansCteSql]] variant with k and the sample size
    * taken from scalar-subquery SQL fragments instead of literals — the
    * nested-quantizer oracle (q200) runs TWO kmeans chains (coarse on raw
    * vectors, fine on residuals) in one WITH-chain, so every CTE name
    * carries `pfx` and both k's are derived in SQL by the same integer
    * arithmetic as `Similarity.quantizerLevelsSplit`. Trains on
    * `trainSrc(id, v)`; ends with {pfx}cent{iters}(cell, cv). */
  private def kmeansCteSqlPfx(pfx: String, kSel: String, nSel: String,
      iters: Int, trainSrc: String): String = {
    def iterCte(p: Int): String =
      s"""${pfx}a_$p AS (
         |  SELECT s.id, s.v, s.mk, c.cell,
         |    row_number() OVER (PARTITION BY s.id
         |      ORDER BY ${cosSql("s.v", "c.cv")} DESC, c.cell ASC) AS rn
         |  FROM ${pfx}samp s, ${pfx}cent$p c),
         |${pfx}m_$p AS (
         |  SELECT cell, list(v ORDER BY mk, id) AS vs, count(*) AS cnt
         |  FROM ${pfx}a_$p WHERE rn = 1 GROUP BY cell),
         |${pfx}cent${p + 1} AS (
         |  SELECT c.cell,
         |    CASE WHEN m.cell IS NULL THEN c.cv
         |         ELSE list_transform(
         |           list_reduce(m.vs, (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])),
         |           x -> x / m.cnt) END AS cv
         |  FROM ${pfx}cent$p c LEFT JOIN ${pfx}m_$p m USING (cell))""".stripMargin
    s"""${pfx}samp AS (SELECT id, v, mk FROM (
       |    SELECT id, v, md5(CAST(id AS VARCHAR)) AS mk,
       |      row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
       |    FROM $trainSrc) t WHERE rn <= ($nSel)),
       |${pfx}cent0 AS (SELECT cell, cv FROM (
       |    SELECT row_number() OVER (ORDER BY mk, id) - 1 AS cell, v AS cv
       |    FROM ${pfx}samp) t
       |  WHERE cell < ($kSel)),
       |${(0 until iters).map(iterCte).mkString(",\n")}""".stripMargin
  }

  /** The q201 lane's dispatch parameters, shared by the Scala lane call
    * AND the SQL oracle below — interpolating both sides from the same
    * vals makes a future parameter change fail loudly (hash mismatch
    * impossible: both move together) instead of silently desynchronizing
    * the oracle from the engine (r15 advisor item: the SQL hard-coded
    * the 63 denominator and 3.0 cutoff the Scala side parameterizes). */
  private val RouteSensTargetBucketSize = 64
  private val RouteSensTargetCellSize = 64
  private val RouteSensZipfConcentration = 3.0

  /** Per-prefix CTE group of the q201 sensitivity oracle: from a
    * `$src(doc_id, vec)` relation, auto SRP planes, bucket populations →
    * (n_docs, concentration, cand_srp), auto-k kmeans cells (flat — gate
    * corpora derive ≤ 79) → cand_cell, and (when `recall`) brute-force
    * truth + both verified generator counts. Ends with `${g}row` — the
    * group's single output row minus the prefix tag. */
  private def routeSensitivityGroupSql(g: String, src: String,
      recall: Boolean): String = {
    val planes = Similarity.hyperplanes(48, 64)
    val thr = "CAST(0.9 AS DOUBLE)"
    val tbs = RouteSensTargetBucketSize
    val tcs = RouteSensTargetCellSize
    val concDen = math.max(1, tbs - 1)
    val recallCtes = if (recall)
      s""",
         |${g}tr AS (SELECT CAST(count(*) AS BIGINT) AS n_true
         |  FROM ${g}e a JOIN ${g}e b ON a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= $thr),
         |${g}ns AS (SELECT CAST(count(*) AS BIGINT) AS n_srp
         |  FROM ${g}bv a JOIN ${g}bv b USING (bucket)
         |  WHERE a.id < b.id AND ${cosSql("a.v", "b.v")} >= $thr),
         |${g}nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cell
         |  FROM ${g}as a JOIN ${g}as b ON a.cell = b.cell AND a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= $thr)""".stripMargin
    else ""
    val rowTail = if (recall)
      s"""n_true,
         |    CASE WHEN n_true > 0 THEN round(CAST(n_srp AS DOUBLE)
         |      / CAST(n_true AS DOUBLE), 6) END AS recall_srp,
         |    CASE WHEN n_true > 0 THEN round(CAST(n_cell AS DOUBLE)
         |      / CAST(n_true AS DOUBLE), 6) END AS recall_cell
         |  FROM ${g}srp, ${g}cp, ${g}tr, ${g}ns, ${g}nc""".stripMargin
    else
      s"""CAST(NULL AS BIGINT) AS n_true,
         |    CAST(NULL AS DOUBLE) AS recall_srp,
         |    CAST(NULL AS DOUBLE) AS recall_cell
         |  FROM ${g}srp, ${g}cp""".stripMargin
    s"""${g}e AS (SELECT doc_id AS id, vec AS v FROM $src),
       |${g}pp AS (SELECT CAST(LEAST(48, GREATEST(1,
       |    CASE WHEN q <= 1 THEN 1
       |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
       |  FROM (SELECT (count(*) + ${tbs - 1}) // $tbs AS q FROM ${g}e)),
       |${g}bv AS (SELECT id, v,
       |    substr(${bucketSql("v", planes)}, 1, (SELECT p FROM ${g}pp))
       |      AS bucket
       |  FROM ${g}e),
       |${g}srp AS (SELECT CAST(sum(n) AS BIGINT) AS n_docs,
       |    round(CAST(sum(n * (n - 1)) AS DOUBLE)
       |      / (CAST(sum(n) AS DOUBLE) * CAST($concDen AS DOUBLE)), 6)
       |      AS concentration,
       |    CAST(sum((n * (n - 1)) // 2) AS BIGINT) AS cand_srp
       |  FROM (SELECT bucket, count(*) AS n FROM ${g}bv GROUP BY 1) z),
       |${g}kk AS (SELECT CAST(LEAST(65536, GREATEST(1,
       |    (count(*) + ${tcs - 1}) // $tcs)) AS INT) AS k FROM ${g}e),
       |${kmeansCteSqlPfx(s"${g}k", s"SELECT k FROM ${g}kk",
          s"SELECT LEAST(16384, GREATEST(64, 4 * k)) FROM ${g}kk", 2,
          s"${g}e")},
       |${g}as AS (SELECT id, v, cell FROM (
       |    SELECT e.id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
       |    FROM ${g}e e, ${g}kcent2 c) t WHERE rn = 1),
       |${g}cp AS (SELECT CAST(coalesce(sum((n * (n - 1)) // 2), 0)
       |      AS BIGINT) AS cand_cell
       |  FROM (SELECT cell, count(*) AS n FROM ${g}as GROUP BY 1) z)$recallCtes,
       |${g}row AS (
       |  SELECT n_docs, (SELECT p FROM ${g}pp) AS n_planes, concentration,
       |    cand_srp, cand_cell,
       |    CASE WHEN concentration >= CAST($RouteSensZipfConcentration AS DOUBLE)
       |         THEN 'cells' ELSE 'srp' END AS route,
       |    $rowTail)""".stripMargin
  }

  /** CTE body shared by the q194/q199 route-overlap oracles: expects a
    * preceding `vecs(doc_id, …, vec)` CTE, replays BOTH ungated pair
    * generators (SRP auto-prefix buckets; auto-k kmeans cells) and ends
    * with ns/nc/nb — counts of each verified pair set and of their
    * intersection on the whole rounded tuple. */
  private def routeOverlapBodySql(): String = {
    val planes = Similarity.hyperplanes(48, 64)
    s"""pp AS (SELECT CAST(LEAST(48, GREATEST(1,
       |    CASE WHEN q <= 1 THEN 1
       |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
       |  FROM (SELECT (count(*) + 63) // 64 AS q FROM vecs)),
       |bv AS (SELECT doc_id, vec,
       |    substr(${bucketSql("vec", planes)}, 1, (SELECT p FROM pp))
       |      AS bucket
       |  FROM vecs),
       |spr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |    ${cosSql("a.vec", "b.vec")} AS sim
       |  FROM bv a JOIN bv b USING (bucket)
       |  WHERE a.doc_id < b.doc_id),
       |sp AS (SELECT id_a, id_b, round(sim, 6) AS sim FROM spr
       |  WHERE sim >= 0.9),
       |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
       |${kmeansCteSqlAuto(64, 2)},
       |cent AS (SELECT cell, cv FROM cent2),
       |assign AS (
       |  SELECT id, v, cell FROM (
       |    SELECT e.id, e.v, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
       |    FROM e, cent c) t WHERE rn = 1),
       |cpr AS (SELECT a.id AS id_a, b.id AS id_b,
       |    ${cosSql("a.v", "b.v")} AS sim
       |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id),
       |cp AS (SELECT id_a, id_b, round(sim, 6) AS sim FROM cpr
       |  WHERE sim >= 0.9),
       |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_srp FROM sp),
       |nc AS (SELECT CAST(count(*) AS BIGINT) AS n_cell FROM cp),
       |nb AS (SELECT CAST(count(*) AS BIGINT) AS n_both
       |  FROM sp JOIN cp USING (id_a, id_b, sim))""".stripMargin
  }

  private def l2Sql(a: String, b: String): String =
    s"list_reduce(list_transform(list_zip($a, $b), " +
      s"x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, z) -> acc + z)"

  /** CTE chain re-deriving `Similarity.pqCodebooks` subspace `j` in DuckDB:
    * the shared md5-ordered `samp`, sliced to the subspace, first-k init,
    * `iters` Lloyd rounds with squared-L2 argmin assignment (ties → lowest
    * cell) and (md5, id)-ordered mean folds — the same order-pinned
    * arithmetic, so codebooks match bit-for-bit. Ends with c{j}_{iters}
    * (cell, cv) and code{j}(id, code) for the corpus. */
  private def pqSubspaceCteSql(j: Int, sub: Int, k: Int, iters: Int): String = {
    val (lo, hi) = (j * sub + 1, (j + 1) * sub)
    def iterCte(p: Int): String =
      s"""a${j}_$p AS (
         |  SELECT s.id, s.v, s.mk, c.cell,
         |    row_number() OVER (PARTITION BY s.id
         |      ORDER BY ${l2Sql("s.v", "c.cv")} ASC, c.cell ASC) AS rn
         |  FROM s$j s, c${j}_$p c),
         |m${j}_$p AS (
         |  SELECT cell, list(v ORDER BY mk, id) AS vs, count(*) AS cnt
         |  FROM a${j}_$p WHERE rn = 1 GROUP BY cell),
         |c${j}_${p + 1} AS (
         |  SELECT c.cell,
         |    CASE WHEN m.cell IS NULL THEN c.cv
         |         ELSE list_transform(
         |           list_reduce(m.vs, (a, b) -> list_transform(list_zip(a, b), p -> p[1] + p[2])),
         |           x -> x / m.cnt) END AS cv
         |  FROM c${j}_$p c LEFT JOIN m${j}_$p m USING (cell))""".stripMargin
    s"""s$j AS (SELECT id, mk, v[$lo:$hi] AS v FROM samp),
       |c${j}_0 AS (SELECT cell, cv FROM (
       |    SELECT row_number() OVER (ORDER BY mk, id) - 1 AS cell, v AS cv
       |    FROM s$j) t
       |  WHERE cell < $k),
       |${(0 until iters).map(iterCte).mkString(",\n")},
       |ev$j AS (SELECT id, v[$lo:$hi] AS v FROM e),
       |code$j AS (SELECT id, cell AS code FROM (
       |    SELECT ev.id, c.cell,
       |      row_number() OVER (PARTITION BY ev.id
       |        ORDER BY ${l2Sql("ev.v", "c.cv")} ASC, c.cell ASC) AS rn
       |    FROM ev$j ev, c${j}_$iters c) t WHERE rn = 1)""".stripMargin
  }

  /** WITH-chain for the PQ/ADC oracle, up to and including the ADC-ranked
    * CTE (`ranked`) — shared by q66 (top-10 of the ADC ranking) and q86
    * (ADC top-40 candidates re-ranked exactly). Per-subspace kmeans CTE
    * chains replay the PQ codebooks bit-exact, rank-1 argmin corpus codes,
    * ADC terms per subspace joined and summed in fixed index order. */
  private def pqAdcRankedSql: String = {
    val (m, sub, k, iters) = (8, 8, 8, 2)
    val subCtes = (0 until m).map(j => pqSubspaceCteSql(j, sub, k, iters))
      .mkString(",\n")
    val adcCtes = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      s"""adc$j AS (
         |  SELECT q.q_id, cd.id, ${l2Sql(s"q.qv[$lo:$hi]", "c.cv")} AS d
         |  FROM code$j cd JOIN c${j}_$iters c ON c.cell = cd.code, qq q
         |  WHERE cd.id <> q.q_id)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until m).map(j => s"JOIN adc$j USING (q_id, id)").mkString(" ")
    val distSum = (0 until m).map(j => s"adc$j.d").mkString(" + ")
    s"""WITH e AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |samp AS (SELECT id, v, md5(CAST(id AS VARCHAR)) AS mk FROM e
       |  ORDER BY mk, id LIMIT 64),
       |qq AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
       |$subCtes,
       |$adcCtes,
       |dist AS (
       |  SELECT adc0.q_id, adc0.id, $distSum AS dist
       |  FROM adc0 $joins),
       |ranked AS (SELECT q_id, id, dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, id ASC) AS rn
       |  FROM dist)""".stripMargin
  }

  /** The full IVF-PQ re-derivation (q38's coarse CTEs composed with q66's
    * subspace CTEs, ADC restricted to the probed candidate set), ending
    * with the ADC-ranked CTE `ranked` — shared by q76 (train-and-query in
    * one plan, top-10 of the ranking) and q99 (train persisted to a
    * parquet index, candidates served from it and exactly refined): the
    * trainings are identical, so one WITH-chain gates both paths. */
  private def ivfPqRankedSql(nProbe: Int,
      trainFilter: Option[String] = None): String = {
    val (m, sub, k, iters) = (8, 8, 8, 2)
    // trainFilter restricts the QUANTIZER TRAINING sample to a historical
    // subset (the q102 build/append split); corpus encoding, probing, and
    // scoring still run over all of e
    val (trainCte, trainSrc) = trainFilter match {
      case Some(f) => (s"et AS (SELECT id, v FROM e WHERE $f),\n", "et")
      case None => ("", "e")
    }
    val subCtes = (0 until m).map(j => pqSubspaceCteSql(j, sub, k, iters))
      .mkString(",\n")
    val adcCtes = (0 until m).map { j =>
      val (lo, hi) = (j * sub + 1, (j + 1) * sub)
      s"""adc$j AS (
         |  SELECT cn.q_id, cn.id, ${l2Sql(s"cn.qv[$lo:$hi]", "c.cv")} AS d
         |  FROM cand cn JOIN code$j cd ON cd.id = cn.id
         |  JOIN c${j}_$iters c ON c.cell = cd.code)""".stripMargin
    }.mkString(",\n")
    val joins = (1 until m).map(j => s"JOIN adc$j USING (q_id, id)").mkString(" ")
    val distSum = (0 until m).map(j => s"adc$j.d").mkString(" + ")
    s"""WITH e AS (SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |$trainCte${kmeansCteSql(8, 64, 2, trainSrc)},
       |cent AS (SELECT cell, cv FROM cent2),
       |assign AS (
       |  SELECT id, cell FROM (
       |    SELECT e.id, c.cell,
       |      row_number() OVER (PARTITION BY e.id
       |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
       |    FROM e, cent c) t WHERE rn = 1),
       |qq AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
       |probe AS (
       |  SELECT q_id, qv, cell FROM (
       |    SELECT q.q_id, q.qv, c.cell,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.cell ASC) AS rn
       |    FROM qq q, cent c) t WHERE rn <= $nProbe),
       |cand AS (
       |  SELECT p.q_id, p.qv, a.id
       |  FROM assign a JOIN probe p USING (cell) WHERE a.id <> p.q_id),
       |$subCtes,
       |$adcCtes,
       |dist AS (
       |  SELECT adc0.q_id, adc0.id, $distSum AS dist
       |  FROM adc0 $joins),
       |ranked AS (SELECT q_id, id, dist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY dist ASC, id ASC) AS rn
       |  FROM dist)""".stripMargin
  }

  /** The exact-refine tail over an ADC `ranked` CTE: top-240 candidates
    * per query re-scored with exact cosine against the raw vectors,
    * re-ranked to 10 — shared by q99 and q102 (both serve paths refine
    * against the index's stored vector relation). */
  private def serveRefineTailSql: String =
    s"""scand AS (SELECT q_id, id FROM ranked WHERE rn <= 240),
       |sx AS (
       |  SELECT cd.q_id, cd.id, ${cosSql("q.qv", "e2.v")} AS sim
       |  FROM scand cd JOIN e e2 ON e2.id = cd.id
       |  JOIN qq q ON q.q_id = cd.q_id),
       |sr AS (SELECT q_id, id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
       |  FROM sx)
       |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
       |FROM sr WHERE rn <= 10""".stripMargin

  /** The unrolled BPE-training CTE chain (words → word frequencies →
    * wrapped segmentations → `rounds` × (pair counts p_r, argmax merge
    * m_r, rewrite w_r)) — shared by q98 (emits the merge table) and q101
    * (applies m1..m_rounds to every document). MATERIALIZED is
    * load-bearing: round r references round r-1 twice (pair counts +
    * rewrite); inlined CTEs would re-evaluate the whole prefix per
    * reference — 2^rounds scans. */
  private def bpeTrainCtes(rounds: Int): String = {
    def roundCtes(r: Int): String =
      s"""p$r AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i+1] AS b, CAST(sum(wcnt) AS BIGINT) AS n
         |  FROM (SELECT wcnt, string_split(substr(s, 2, length(s) - 2),
         |          chr(2) || chr(1)) AS l FROM w${r - 1}) t,
         |       unnest(generate_series(1, len(l) - 1)) AS u(i)
         |  WHERE len(l) >= 2 GROUP BY 1, 2),
         |m$r AS MATERIALIZED (SELECT a, b, n FROM p$r
         |  ORDER BY n DESC, a ASC, b ASC LIMIT 1),
         |w$r AS MATERIALIZED (SELECT wcnt,
         |    replace(s, chr(1) || a || chr(2) || chr(1) || b || chr(2),
         |      chr(1) || a || b || chr(2)) AS s
         |  FROM w${r - 1}, m$r)""".stripMargin
    s"""words AS (SELECT unnest(regexp_extract_all(text,
       |    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS w FROM documents),
       |wf AS (SELECT w, count(*) AS wcnt FROM words GROUP BY w),
       |w0 AS MATERIALIZED (SELECT wcnt,
       |    regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g') AS s
       |  FROM wf),
       |${(1 to rounds).map(roundCtes).mkString(",\n")}""".stripMargin
  }

  /** WordPiece trainer replay for q128/q129: seed substring counts, then
    * per-round recursive-CTE longest-match segmentation of the distinct
    * words against the prior vocabulary, recount, prune to the same
    * integer-exact linear budget schedule. Every operation is
    * integer/string-exact (the operator is deliberately float-free), so
    * the replay matches bit-for-bit. */
  private def wordpieceCtes(seedSize: Int, vocabSize: Int, maxPieceLen: Int,
      rounds: Int): String = {
    val pretok = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
    def bestLen(vocabCte: String): String = {
      val multi = (maxPieceLen to 2 by -1).map(l =>
        s"CASE WHEN pos + ${l - 1} <= length(w) AND substr(w, CAST(pos AS INT), $l) " +
          s"IN (SELECT piece FROM $vocabCte) THEN $l END")
      val one = s"CASE WHEN substr(w, CAST(pos AS INT), 1) " +
        s"IN (SELECT piece FROM $vocabCte) THEN 1 END"
      (multi :+ one).mkString("coalesce(greatest(", ", ", "), 1)")
    }
    def segCte(name: String, vocabCte: String): String =
      s"""$name AS MATERIALIZED (
         |  WITH RECURSIVE s AS (
         |    SELECT w, wcnt, 1 AS pos, CAST([] AS VARCHAR[]) AS pieces FROM wpwf
         |    UNION ALL
         |    SELECT w, wcnt, pos + bl,
         |      list_append(pieces, substr(w, CAST(pos AS INT), CAST(bl AS INT)))
         |    FROM (SELECT w, wcnt, pos, pieces, ${bestLen(vocabCte)} AS bl
         |          FROM s WHERE pos <= length(w)) z)
         |  SELECT w, wcnt, pieces FROM s WHERE pos > length(w))""".stripMargin
    def cntCte(name: String, seg: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS n
         |  FROM (SELECT wcnt, unnest(pieces) AS piece FROM $seg) z GROUP BY 1)""".stripMargin
    def vocabCte(name: String, cnt: String, k: Int): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece FROM $cnt WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece FROM (SELECT piece FROM $cnt WHERE length(piece) > 1
         |                     ORDER BY n DESC, piece ASC LIMIT $k) z)""".stripMargin
    val head = Seq(
      s"""wpwords AS (SELECT unnest(regexp_extract_all(text, '$pretok')) AS w
         |  FROM documents)""".stripMargin,
      """wpwf AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM wpwords GROUP BY w)""".stripMargin,
      s"""wpsubs AS (
         |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |    CAST(sum(wcnt) AS BIGINT) AS n
         |  FROM wpwf, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) ui,
         |       LATERAL (SELECT unnest(range(1, $maxPieceLen + 1)) AS l) ul
         |  WHERE i + l - 1 <= length(w) GROUP BY 1)""".stripMargin,
      vocabCte("wpv0", "wpsubs", seedSize))
    val roundCtes = (1 to rounds).flatMap { r =>
      val k = vocabSize + (seedSize - vocabSize) * (rounds - r) / rounds
      Seq(segCte(s"wpseg$r", s"wpv${r - 1}"),
        cntCte(s"wpc$r", s"wpseg$r"),
        vocabCte(s"wpv$r", s"wpc$r", k))
    }
    val fin = Seq(segCte("wpsegF", s"wpv$rounds"), cntCte("wpcF", "wpsegF"))
    (head ++ roundCtes ++ fin).mkString(",\n")
  }

  /** Shared by q80 (batch Misra-Gries + exact recount) and q166 (the SAME
    * sketch maintained as a complete-mode STREAMING aggregation, then the
    * batch recount): the MG candidate set is an order-dependent SUPERSET
    * of the theta-heavy tokens - its guarantee - and the exact recount +
    * threshold filter make the final relation independent of arrival
    * order, so one frequency-threshold oracle gates both lanes. */
  private lazy val heavyHittersSql: String =
    """WITH toks AS (
      |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS token
      |  FROM documents),
      |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM toks)
      |SELECT token, CAST(count(*) AS BIGINT) AS occurrences
      |FROM toks GROUP BY token
      |HAVING count(*) >= ceil(CAST(0.01 AS DOUBLE) * (SELECT n FROM tot))""".stripMargin

  /** Viterbi DP + backtrace pair of recursive CTEs against a (piece, logp)
    * vocab CTE — the exact relational replay of
    * [[operators.TextAnalysis.viterbiDp]]/[[operators.TextAnalysis
    * .viterbiPieces]]: dp carried as a list of (sc, bp) structs, candidate
    * max via `list_aggregate(..., 'max')` over (sc, lneg) structs (NULL candidates skipped —
    * same as Spark's null-skipping array_max), ties to the SHORTEST piece,
    * l=1 falling back to the −100 UNK floor. */
  private def unigramViterbiCtes(dpName: String, btName: String,
      vocabCte: String, maxPieceLen: Int): String = {
    // vocab lookups are LEFT JOINs, not correlated scalar subqueries:
    // DuckDB evaluates a correlated subquery against the recursive
    // working table incorrectly on the first iteration (observed: the
    // l=1 lookup returns NULL at j=0 only), while joins in the recursive
    // term are well-defined. The j+1>=l guard lives in the ON clause so
    // a clipped substr (start <= 0) can never spuriously match.
    val joins = (maxPieceLen to 2 by -1).map { l =>
      s"""LEFT JOIN $vocabCte v$l ON s.j + 1 >= $l
         |  AND v$l.piece = substr(s.w, s.j + ${2 - l}, $l)""".stripMargin
    } :+ s"LEFT JOIN $vocabCte v1 ON v1.piece = substr(s.w, s.j + 1, 1)"
    val lpCols = (maxPieceLen to 2 by -1).map(l => s"v$l.logp AS lp$l") :+
      "coalesce(v1.logp, CAST(-100.0 AS DOUBLE)) AS lp1"
    val cands = (maxPieceLen to 2 by -1).map { l =>
      s"""CASE WHEN j + 1 >= $l AND lp$l IS NOT NULL THEN
         |  {'sc': struct_extract(tbl[j + ${2 - l}], 'sc') + lp$l, 'lneg': ${-l}} END""".stripMargin
    } :+ s"{'sc': struct_extract(tbl[j + 1], 'sc') + lp1, 'lneg': -1}"
    s"""$dpName AS MATERIALIZED (
       |  WITH RECURSIVE s AS (
       |    SELECT w, wcnt, 0 AS j,
       |      [{'sc': CAST(0.0 AS DOUBLE), 'bp': 0}] AS tbl FROM ugwf
       |    UNION ALL
       |    SELECT w, wcnt, j + 1,
       |      list_append(tbl, {'sc': struct_extract(best, 'sc'),
       |                        'bp': -struct_extract(best, 'lneg')})
       |    FROM (
       |      SELECT w, wcnt, j, tbl,
       |        list_aggregate([${cands.mkString(",\n          ")}], 'max') AS best
       |      FROM (
       |        SELECT s.w, s.wcnt, s.j, s.tbl,
       |          ${lpCols.mkString(",\n          ")}
       |        FROM s
       |        ${joins.mkString("\n        ")}
       |        WHERE s.j < length(s.w)) z0) z1)
       |  SELECT w, wcnt, tbl FROM s WHERE j = length(w)),
       |$btName AS MATERIALIZED (
       |  WITH RECURSIVE b AS (
       |    SELECT w, wcnt, length(w) AS pos, CAST([] AS VARCHAR[]) AS pieces,
       |      tbl FROM $dpName
       |    UNION ALL
       |    SELECT w, wcnt, pos - struct_extract(tbl[pos + 1], 'bp'),
       |      list_prepend(substr(w,
       |          CAST(pos - struct_extract(tbl[pos + 1], 'bp') + 1 AS INT),
       |          CAST(struct_extract(tbl[pos + 1], 'bp') AS INT)), pieces),
       |      tbl
       |    FROM b WHERE pos > 0)
       |  SELECT w, wcnt, pieces FROM b WHERE pos = 0)""".stripMargin
  }

  /** Unigram trainer replay ([[operators.TextAnalysis.unigramTrain]]):
    * seed substrings → chars + top-`seedSize`, then `rounds` hard-EM
    * iterations of (Viterbi segment, recount, linear-budget prune), one
    * final segmentation, ending in `ugfin(piece, n)` and the final-probs
    * CTE `uglpF(piece, logp)`. logp is the identical floor-snap chain
    * `floor(ln((n+1)/(tot+nv))·10⁶ + 0.5)/10⁶` the Scala side computes. */
  private def unigramCtes(seedSize: Int, vocabSize: Int, maxPieceLen: Int,
      rounds: Int): String = {
    val pretok = "[A-Za-z0-9]+|[^A-Za-z0-9\\s]"
    def lpCte(name: String, src: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece,
         |    floor(ln((CAST(n AS DOUBLE) + 1.0) / (t.tot + t.nv))
         |      * 1000000.0 + 0.5) / 1000000.0 AS logp
         |  FROM $src CROSS JOIN (SELECT CAST(sum(n) AS DOUBLE) AS tot,
         |    CAST(count(*) AS DOUBLE) AS nv FROM $src) t)""".stripMargin
    def pruneCte(name: String, src: String, k: Int): String =
      s"""$name AS MATERIALIZED (
         |  SELECT piece, n FROM $src WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, n FROM (SELECT piece, n FROM $src
         |    WHERE length(piece) > 1 ORDER BY n DESC, piece ASC LIMIT $k) z)""".stripMargin
    val head = Seq(
      s"""ugw AS (SELECT unnest(regexp_extract_all(text, '$pretok')) AS w
         |  FROM documents)""".stripMargin,
      """ugwf AS MATERIALIZED (
        |  SELECT w, CAST(count(*) AS BIGINT) AS wcnt FROM ugw GROUP BY w)""".stripMargin,
      s"""ugsubs AS (
         |  SELECT substr(w, CAST(i AS INT), CAST(l AS INT)) AS piece,
         |    CAST(sum(wcnt) AS BIGINT) AS n
         |  FROM ugwf, LATERAL (SELECT unnest(range(1, length(w) + 1)) AS i) ui,
         |       LATERAL (SELECT unnest(range(1, $maxPieceLen + 1)) AS l) ul
         |  WHERE i + l - 1 <= length(w) GROUP BY 1)""".stripMargin,
      pruneCte("ugv0", "ugsubs", seedSize),
      lpCte("ugb0", "ugv0"))
    val roundCtes = (1 to rounds).flatMap { r =>
      val k = vocabSize + (seedSize - vocabSize) * (rounds - r) / rounds
      Seq(
        unigramViterbiCtes(s"ugdp$r", s"ugbt$r", s"ugb${r - 1}", maxPieceLen),
        s"""ugc$r AS MATERIALIZED (
           |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS n
           |  FROM (SELECT wcnt, unnest(pieces) AS piece FROM ugbt$r) z
           |  GROUP BY 1)""".stripMargin,
        s"""ugn$r AS (SELECT v.piece, CAST(coalesce(c.n, 0) AS BIGINT) AS n
           |  FROM ugv${r - 1} v LEFT JOIN ugc$r c USING (piece))""".stripMargin,
        pruneCte(s"ugv$r", s"ugn$r", k),
        lpCte(s"ugb$r", s"ugv$r"))
    }
    val fin = Seq(
      unigramViterbiCtes("ugdpF", "ugbtF", s"ugb$rounds", maxPieceLen),
      """ugcF AS MATERIALIZED (
        |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS n
        |  FROM (SELECT wcnt, unnest(pieces) AS piece FROM ugbtF) z
        |  GROUP BY 1)""".stripMargin,
      s"""ugfin AS MATERIALIZED (
         |  SELECT v.piece, CAST(coalesce(c.n, 0) AS BIGINT) AS n
         |  FROM ugv$rounds v LEFT JOIN ugcF c USING (piece))""".stripMargin,
      lpCte("uglpF", "ugfin"))
    (head ++ roundCtes ++ fin).mkString(",\n")
  }

  /** Exact brute-force cosine top-k — shared by q31 (window-rank form) and
    * q48 (bounded-shuffle TopKAggregator form): same output contract. */
  /** Shared by q133 (exact inverted index) and q135 (prefix-filtered
    * scale path) — the two operators are proven output-identical, so one
    * oracle gates both. */
  private lazy val containmentSql: String =
    s"""$shingleCte,
       |capped AS (
       |  SELECT sh.doc_id, sh.shingle FROM sh
       |  JOIN (SELECT shingle FROM sh GROUP BY shingle
       |        HAVING count(*) <= 100) ok USING (shingle)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
       |inter AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
       |  FROM capped a JOIN capped b USING (shingle)
       |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT id_a, id_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
       |  round(CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE), 6) AS cont_a,
       |  round(CAST(n_inter AS DOUBLE) / CAST(sb.sz AS DOUBLE), 6) AS cont_b
       |FROM inter JOIN sizes sa ON sa.doc_id = id_a
       |JOIN sizes sb ON sb.doc_id = id_b
       |WHERE greatest(CAST(n_inter AS DOUBLE) / CAST(sa.sz AS DOUBLE),
       |               CAST(n_inter AS DOUBLE) / CAST(sb.sz AS DOUBLE)) >= 0.5""".stripMargin

  private val bruteForceTopKSql: String =
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
       |scored AS (
       |  SELECT q_id, vec_id AS id, ${cosSql("qv", "v")} AS sim
       |  FROM e, q WHERE vec_id <> q_id),
       |ranked AS (SELECT q_id, id, sim,
       |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
       |  FROM scored)
       |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
       |FROM ranked WHERE rn <= 10""".stripMargin

  /** Decimal-grid snap spelled as the explicit IEEE chain — NOT round():
    * see QualityFilter's class doc (engines' round() disagrees on exact
    * decimal halves that lr * 6dp-gradients produce systematically).
    */
  private def sqlSnap(x: String, p: Int): String =
    s"floor(($x)*1e$p + 0.5)/1e$p"

  /** Shared oracle prefix for q139/q140: bit-replay of QualityFilter
    * training — signals, 6dp-snapped scaler, 10dp z-scores, then 12
    * unrolled MATERIALIZED GD rounds (q116's CTE pattern — inlining
    * would re-expand 2^12 scans), ending at `mf(y, mm)`: every
    * document's final margin against its teacher label.
    */
  private lazy val qualityTrainCte: String = {
    val toks = "regexp_split_to_array(trim(text), '\\s+')"
    def sn6(x: String) = sqlSnap(x, 6)
    def sn10(x: String) = sqlSnap(x, 10)
    def sn12(x: String) = sqlSnap(x, 12)
    val vr = "CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)" +
      " / CAST(greatest(length(text), 1) AS DOUBLE)"
    val gdRounds = (1 to 12).map { r =>
      s"""g$r AS (SELECT ${sn6("sum((t.mm - t.y)/t.n)")} AS g0,
         |    ${sn6("sum((t.mm - t.y)*t.z1/t.n)")} AS g1,
         |    ${sn6("sum((t.mm - t.y)*t.z2/t.n)")} AS g2,
         |    ${sn6("sum((t.mm - t.y)*t.z3/t.n)")} AS g3,
         |    ${sn6("sum((t.mm - t.y)*t.z4/t.n)")} AS g4
         |  FROM (SELECT z.y, z.z1, z.z2, z.z3, z.z4, nn.n,
         |      w.wb + w.w1*z.z1 + w.w2*z.z2 + w.w3*z.z3 + w.w4*z.z4 AS mm
         |    FROM z, w${r - 1} w, nn) t),
         |w$r AS MATERIALIZED (SELECT ${sn6("w.wb - 0.5*g.g0")} AS wb,
         |  ${sn6("w.w1 - 0.5*g.g1")} AS w1, ${sn6("w.w2 - 0.5*g.g2")} AS w2,
         |  ${sn6("w.w3 - 0.5*g.g3")} AS w3, ${sn6("w.w4 - 0.5*g.g4")} AS w4
         |  FROM w${r - 1} w, g$r g)""".stripMargin
    }.mkString(",\n")
    s"""WITH sig AS MATERIALIZED (
       |  SELECT doc_id,
       |    CASE WHEN length(text) >= 300 AND $vr >= 0.28
       |      THEN 1.0 ELSE 0.0 END AS y,
       |    CAST(len($toks) AS DOUBLE)/100.0 AS f1,
       |    $vr AS f2,
       |    CAST(list_sum(list_transform($toks, t -> length(t))) AS DOUBLE)
       |      / greatest(CAST(len($toks) AS DOUBLE), 1.0) / 10.0 AS f3,
       |    CAST(len(list_distinct($toks)) AS DOUBLE)
       |      / greatest(CAST(len($toks) AS DOUBLE), 1.0) AS f4
       |  FROM documents),
       |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM sig),
       |mu AS MATERIALIZED (SELECT
       |  ${sn6("sum(f1/nn.n)")} AS m1, ${sn6("sum(f2/nn.n)")} AS m2,
       |  ${sn6("sum(f3/nn.n)")} AS m3, ${sn6("sum(f4/nn.n)")} AS m4
       |  FROM sig, nn),
       |sdr AS MATERIALIZED (SELECT
       |  ${sn6(s"sqrt(${sn12("sum((f1-m1)*(f1-m1)/nn.n)")})")} AS s1,
       |  ${sn6(s"sqrt(${sn12("sum((f2-m2)*(f2-m2)/nn.n)")})")} AS s2,
       |  ${sn6(s"sqrt(${sn12("sum((f3-m3)*(f3-m3)/nn.n)")})")} AS s3,
       |  ${sn6(s"sqrt(${sn12("sum((f4-m4)*(f4-m4)/nn.n)")})")} AS s4
       |  FROM sig, nn, mu),
       |sd AS (SELECT CASE WHEN s1 = 0 THEN 1.0 ELSE s1 END AS s1,
       |  CASE WHEN s2 = 0 THEN 1.0 ELSE s2 END AS s2,
       |  CASE WHEN s3 = 0 THEN 1.0 ELSE s3 END AS s3,
       |  CASE WHEN s4 = 0 THEN 1.0 ELSE s4 END AS s4 FROM sdr),
       |z AS MATERIALIZED (SELECT doc_id, y,
       |  ${sn10("(f1-m1)/s1")} AS z1, ${sn10("(f2-m2)/s2")} AS z2,
       |  ${sn10("(f3-m3)/s3")} AS z3, ${sn10("(f4-m4)/s4")} AS z4
       |  FROM sig, mu, sd),
       |w0 AS (SELECT 0.0 AS wb, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3, 0.0 AS w4),
       |$gdRounds,
       |mf AS (SELECT z.y,
       |  w.wb + w.w1*z.z1 + w.w2*z.z2 + w.w3*z.z3 + w.w4*z.z4 AS mm
       |  FROM z, w12 w)""".stripMargin
  }

  // ---- Bangumi lanes' DuckDB oracle ----
  // The parse boundary (typed fields + flattened infobox) is exported by
  // tools/gen_bangumi_parsed.py — an INDEPENDENT pure-Python re-derivation
  // of the reference's extract (`bangumi_data_ingestion.py:309-323`) and
  // infobox flatten (`:263-295`) over the same bundled JSONL fixture — to
  // the committed parquet below. Everything downstream of the parse (the
  // 21-col raw projection, 27-col analytics projection, category summary
  // and quality metrics) is replayed HERE in plain SQL, so qb34–qb38 get
  // real schema+hash oracle gates instead of rows-only + golden pins.
  // Only the parse itself can't run in DuckDB (Spark from_json + the
  // custom InfoboxToMap expression), which is exactly the boundary the
  // exported parquet pins.
  private val bangumiParsedPath: String =
    new java.io.File("tools/fixtures/bangumi_parsed.parquet").getAbsolutePath

  // ---- Media + zlib/chunker lanes' DuckDB oracle ----
  // DuckDB cannot decode PNG/WAV/GIF, deflate, or roll a per-byte hash, so
  // those boundaries are exported as typed parquet by INDEPENDENT pure-
  // Python re-derivations (tools/gen_media_fixtures.py — from-scratch
  // inflate/unfilter/LZW/Goertzel decoders; tools/gen_text_fixtures.py —
  // CPython zlib + the reference chunker), each pin-checked against the
  // GoldenSpec md5s before writing. Everything relational DOWNSTREAM of
  // the boundary is replayed here in SQL: the qb45/qb46 Hamming pair join
  // re-runs brute-force xor/bit_count over per-media fingerprints (which
  // also re-proves the Scala C(6,3) blocking's exactness inside the
  // gate), and q83/q39 join `documents` on md5(text) so the ratio
  // arithmetic / shared-chunk aggregation run live at ANY covered SF.
  private def fixtureSql(name: String): String = {
    val p = new java.io.File(s"tools/fixtures/$name.parquet").getAbsolutePath
    s"read_parquet('$p')"
  }

  private val mediaOracle: Map[String, String] = {
    def hammingJoin(sigs: String): String =
      s"""WITH f AS (SELECT media_id, fp FROM ${fixtureSql(sigs)}
         |  WHERE NOT decode_error)
         |SELECT a.media_id AS id_a, b.media_id AS id_b,
         |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
         |FROM f a JOIN f b ON a.media_id < b.media_id
         |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin
    Map(
      "qb39_media_decode" ->
        s"""SELECT media_id, width, height, histogram, decode_error
           |FROM ${fixtureSql("qb39_media_decode")}""".stripMargin,
      "qb40_media_frames" ->
        s"""SELECT media_id, frame_no, frame_bytes
           |FROM ${fixtureSql("qb40_media_frames")}""".stripMargin,
      "qb41_audio_decode" ->
        s"""SELECT media_id, sample_rate, channels, duration_ms, rms,
           |  decode_error
           |FROM ${fixtureSql("qb41_audio_decode")}""".stripMargin,
      "qb42_gif_frames" ->
        s"""SELECT media_id, frame_no, n_frames, width, height, histogram,
           |  decode_error
           |FROM ${fixtureSql("qb42_gif_frames")}""".stripMargin,
      "qb43_audio_frames" ->
        s"""SELECT media_id, frame_no, n_frames, start_ms, rms, band_amp,
           |  decode_error
           |FROM ${fixtureSql("qb43_audio_frames")}""".stripMargin,
      "qb44_media_resize" ->
        s"""SELECT media_id, src_width, src_height, width, height,
           |  histogram, decode_error
           |FROM ${fixtureSql("qb44_media_resize")}""".stripMargin,
      "qb45_image_neardup" -> hammingJoin("media_sigs_qb45"),
      "qb46_audio_neardup" -> hammingJoin("media_sigs_qb46"),
      // CPython-zlib sizes per distinct text; the ratio division and
      // HALF_UP 4dp rounding were computed by the SAME rule as the Scala
      // BigDecimal path (pin-proven equal), and the doc join runs live
      "q83_deflate_ratio" ->
        s"""SELECT d.doc_id, f.n_bytes, f.n_deflated, f.ratio
           |FROM documents d
           |JOIN ${fixtureSql("deflate_by_text")} f
           |  ON md5(coalesce(d.text, '')) = f.text_md5""".stripMargin,
      // reference-chunker fingerprints per distinct text (one row per
      // occurrence); the cross-document shared-chunk aggregation — the
      // actual dedup semantics — replays in SQL
      "q39_rolling_chunks" ->
        s"""WITH ch AS (SELECT d.doc_id, f.chunk_fp
           |  FROM documents d
           |  JOIN ${fixtureSql("chunks_by_text")} f
           |    ON md5(coalesce(d.text, '')) = f.text_md5)
           |SELECT chunk_fp, CAST(count(*) AS BIGINT) AS n_docs,
           |  min(doc_id) AS first_doc
           |FROM ch GROUP BY 1 HAVING count(*) > 1""".stripMargin)
  }

  private val bangumiOracle: Map[String, String] = {
    val parsed = s"read_parquet('$bangumiParsedPath')"
    // F7 wall-clock parse: strip the zone offset textually, then coerce —
    // byte-identical to BangumiTransforms.parseNaiveTimestamp.
    def ts(c: String) =
      s"try_cast(regexp_replace(trim($c), '(Z|z|[+-]\\d{2}:?\\d{2})$$', '') " +
        "AS TIMESTAMP)"
    // F3 bilingual infobox lookup (map_extract yields [] when missing).
    def ibx(keys: String*) =
      keys.map(k => s"map_extract(infobox, '$k')[1]")
        .mkString("coalesce(", ", ", ")")

    val rawSql =
      s"""SELECT
         |  'graft' AS user_id,
         |  s_id AS subject_id,
         |  subject_type,
         |  collection_type,
         |  ${ts("created_at_raw")} AS created_at,
         |  ${ts("updated_at_raw")} AS updated_at,
         |  ep_status,
         |  vol_status,
         |  s_name AS name,
         |  s_name_cn AS name_cn,
         |  s_score AS score,
         |  s_rank AS rank,
         |  s_collection_total AS collection_total,
         |  s_eps AS eps,
         |  s_volumes AS volumes,
         |  s_date AS date,
         |  s_type AS type,
         |  substr(s_short_summary, 1, 500) AS short_summary,
         |  to_json(list_transform(coalesce(tags, []), t -> t.name)) AS tags,
         |  CASE WHEN len(coalesce(tags, [])) > 0 THEN to_json(tags) END
         |    AS tags_raw,
         |  CASE WHEN infobox IS NOT NULL AND cardinality(infobox) > 0
         |       THEN to_json(infobox) END AS infobox_raw
         |FROM $parsed""".stripMargin

    // W1 positional top-5 tag pivot: DuckDB list indexing is 1-based and
    // null-safe out of range, same null-padding as Spark's get().
    val tagCols = (1 to 5).map { i =>
      s"  tags[$i].name AS tag_${i}_name,\n" +
        s"  tags[$i].count AS tag_${i}_count"
    }.mkString(",\n")

    val analyticsSql =
      s"""SELECT
         |  s_id AS subject_id,
         |  subject_type,
         |  collection_type,
         |  coalesce(nullif(s_name_cn, ''), nullif(s_name, '')) AS name_cn,
         |  s_score AS score,
         |  s_rank AS rank,
         |  s_collection_total AS collection_total,
         |  ${ts("created_at_raw")} AS created_at,
         |  ${ts("updated_at_raw")} AS updated_at,
         |  s_eps AS eps,
         |  s_date AS air_date,
         |  ${ibx("导演", "監督")} AS director,
         |  ${ibx("动画制作", "アニメーション制作")} AS studio,
         |  ${ibx("国家/地区", "国")} AS country,
         |  ${ibx("出版社", "発売元")} AS publisher,
         |  ${ibx("作者", "著者")} AS author,
         |$tagCols,
         |  nullif(array_to_string(
         |    list_filter(list_transform(tags, t -> t.name),
         |                x -> x IS NOT NULL AND length(x) > 0), ', '), '')
         |    AS all_tags
         |FROM $parsed""".stripMargin

    val summarySql =
      s"""WITH a AS ($analyticsSql)
         |SELECT
         |  CASE subject_type WHEN 1 THEN '书籍/Books' WHEN 2 THEN '动画/Anime'
         |       WHEN 3 THEN '音乐/Music' WHEN 4 THEN '游戏/Games'
         |       WHEN 6 THEN '三次元/Real' END AS subject_type_label,
         |  CASE collection_type WHEN 1 THEN '想看/Want' WHEN 2 THEN '看过/Watched'
         |       WHEN 3 THEN '在看/Watching' WHEN 4 THEN '搁置/On-hold'
         |       WHEN 5 THEN '抛弃/Dropped' END AS collection_type_label,
         |  subject_type, collection_type,
         |  CAST(count(*) AS BIGINT) AS total_items,
         |  CAST(count(*) AS BIGINT) AS fetched_items,
         |  round(avg(score), 4) AS avg_score,
         |  CAST(count_if(rank <= 1000) AS BIGINT) AS top_ranked,
         |  100.0 AS completion_pct
         |FROM a GROUP BY 1, 2, 3, 4""".stripMargin

    val qualitySql =
      s"""WITH r AS ($rawSql)
         |SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT subject_id) AS BIGINT) AS n_distinct_ids,
         |  CAST(count(*) - count(DISTINCT subject_id) AS BIGINT) AS n_dup_rows,
         |  CAST(count_if(subject_id IS NULL) AS BIGINT) AS n_null_ids,
         |  CAST(count_if(created_at IS NULL) AS BIGINT) AS n_null_created
         |FROM r""".stripMargin

    Map(
      "qb34_bangumi_raw" -> rawSql,
      "qb35_bangumi_analytics" -> analyticsSql,
      "qb36_bangumi_summary" -> summarySql,
      "qb37_bangumi_quality" -> qualitySql,
      // qb38 runs the DSv2 connector end-to-end over the SAME fixture
      // corpus, ending in the same analytics projection — the compare
      // sorts rows, so source partitioning order is immaterial. The
      // connector only scans the reference's category grid
      // (`bangumi_data_ingestion.py:44-45`: subject types 1–3 ×
      // collection types 1–4), hence the grid filter.
      "qb38_bangumi_source" ->
        s"""SELECT * FROM ($analyticsSql) a
           |WHERE subject_type IN (1, 2, 3)
           |  AND collection_type IN (1, 2, 3, 4)""".stripMargin)
  }

  def oracleSql: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        | round(avg(l_quantity), 4) AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q02_rollup_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
        | round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,

    "q03_conditional_agg" ->
      """SELECT count(*) FILTER (WHERE l_discount > 0.05) AS n_discounted,
        | count(*) AS n_total,
        | round(sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice ELSE 0.0 END), 2) AS returned_value
        |FROM lineitem""".stripMargin,

    "q04_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
        | round(l_extendedprice * (1 - l_discount), 4) AS net_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        |  AND l_shipdate < TIMESTAMP '1998-01-01' AND l_quantity > 30""".stripMargin,

    "q05_anti_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 100000)""".stripMargin,

    "q06_semi_join" ->
      """SELECT c_custkey, c_nationkey FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')""".stripMargin,

    "q07_nation_revenue" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY n_name""".stripMargin,

    "q08_cross_grid" ->
      "SELECT r_name, n_name FROM region CROSS JOIN nation",

    "q09_top5_per_group" ->
      """SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
        | l_extendedprice, rn
        |FROM (SELECT l_returnflag, l_linestatus, l_orderkey, l_linenumber,
        |        l_extendedprice,
        |        CAST(row_number() OVER (PARTITION BY l_returnflag, l_linestatus
        |          ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS INT) AS rn
        |      FROM lineitem) t
        |WHERE rn <= 5""".stripMargin,

    "q10_topn_orders" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin,

    "q11_merge_actions" ->
      """WITH src AS (
        |  SELECT c_custkey,
        |    CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 100.0 ELSE c_acctbal END AS c_acctbal
        |  FROM customer WHERE c_custkey % 10 <> 3
        |), tgt AS (
        |  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 10 <> 7
        |)
        |SELECT coalesce(s.c_custkey, t.c_custkey) AS c_custkey,
        |  CASE WHEN t.c_custkey IS NULL THEN 'insert'
        |       WHEN s.c_custkey IS NULL THEN 'delete'
        |       WHEN s.c_acctbal IS DISTINCT FROM t.c_acctbal THEN 'update'
        |       ELSE 'unchanged' END AS action,
        |  CASE WHEN s.c_custkey IS NOT NULL THEN s.c_acctbal
        |       ELSE t.c_acctbal END AS c_acctbal
        |FROM src s FULL OUTER JOIN tgt t ON s.c_custkey = t.c_custkey""".stripMargin,

    "q12_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,

    "q13_coalesce_fallback" ->
      """SELECT coalesce(nullif(trim(source), ''), lang) AS origin, count(*) AS n
        |FROM documents GROUP BY 1""".stripMargin,

    "q14_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS yr,
        | CAST(month(o_orderdate) AS INT) AS mo,
        | count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q15_json_extract" ->
      """SELECT event_type, count(*) AS n,
        | CAST(sum(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)) AS BIGINT) AS sum_k,
        | round(avg(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS INT)), 4) AS avg_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q16_token_stats" ->
      """SELECT doc_id,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+'))
        |   + len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS INT) AS n_subtokens,
        | CAST(length(text) AS INT) AS len
        |FROM documents""".stripMargin,

    "q17_string_funcs" ->
      """SELECT doc_id, substring(text, 1, 20) AS prefix,
        | upper(substring(trim(text), 1, 5)) AS head,
        | CAST(length(trim(text)) AS INT) AS trim_len,
        | CAST(n_chars AS VARCHAR) AS n_chars_str
        |FROM documents""".stripMargin,

    "q18_enum_decode" ->
      """SELECT CASE o_orderstatus WHEN 'F' THEN 'FINISHED' WHEN 'O' THEN 'OPEN'
        |  WHEN 'P' THEN 'PENDING' END AS status_label, count(*) AS n
        |FROM orders GROUP BY 1""".stripMargin,

    "q19_running_total" ->
      """SELECT o_custkey, o_orderkey,
        | round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate ASC, o_orderkey ASC
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
        |FROM orders""".stripMargin,

    "q20_tumbling_window" ->
      """SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q21_text_quality" ->
      """SELECT doc_id, CAST(length(text) AS INT) AS n_chars_actual,
        | CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        | CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
        |   / CAST(greatest(length(text), 1) AS DOUBLE) AS vowel_ratio,
        | (CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END
        |  + CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) BETWEEN 5 AND 20000 THEN 1 ELSE 0 END
        |  + CASE WHEN CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
        |      / CAST(greatest(length(text), 1) AS DOUBLE) > 0.15 THEN 1 ELSE 0 END) AS quality
        |FROM documents""".stripMargin,

    "q22_langid" -> {
      val hits = TextAnalysis.EnglishStopwords
        .map(w => s"CASE WHEN concat(' ', lower(trim(text)), ' ') LIKE '% $w %' THEN 1 ELSE 0 END")
        .mkString("(", " + ", ")")
      s"""SELECT CASE WHEN $hits >= 2 THEN 'en' ELSE 'unknown' END AS pred_lang,
         | lang, count(*) AS n
         |FROM documents GROUP BY 1, 2""".stripMargin
    },

    "q23_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents""".stripMargin,

    "q24_part_stats" ->
      """SELECT p_brand, count(*) AS n_parts,
        | round(avg(p_retailprice), 4) AS avg_price,
        | round(sum(p_retailprice), 2) AS total_price
        |FROM part WHERE p_size BETWEEN 10 AND 40 GROUP BY p_brand""".stripMargin,

    "q25_supplier_region" ->
      """SELECT r_name, count(*) AS n_suppliers,
        | round(sum(s_acctbal), 2) AS total_bal
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name""".stripMargin,

    "q34_colwidth_stats" ->
      """SELECT CAST(max(length(text)) AS INT) AS w_text,
        | CAST(max(length(lang)) AS INT) AS w_lang,
        | CAST(max(length(source)) AS INT) AS w_source,
        | CAST(max(length(CAST(doc_id AS VARCHAR))) AS INT) AS w_doc_id
        |FROM documents""".stripMargin,

    "q40_analytic_windows" ->
      """SELECT o_custkey, o_orderkey,
        | lag(o_totalprice, 1) OVER w AS prev_price,
        | lead(o_totalprice, 1) OVER w AS next_price,
        | CAST(rank() OVER w AS INT) AS rnk,
        | CAST(dense_rank() OVER w AS INT) AS drnk,
        | CAST(ntile(4) OVER w AS INT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""".stripMargin,

    "q41_asof_join" ->
      """WITH l AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |r AS (SELECT user_id, ts AS err_ts, value AS err_value FROM events WHERE event_type = 'error')
        |SELECT l.event_id, l.user_id,
        |  CAST(floor(epoch(l.ts)) AS BIGINT) AS ts_epoch,
        |  CAST(floor(epoch(r.err_ts)) AS BIGINT) AS err_epoch,
        |  r.err_value
        |FROM l ASOF JOIN r ON l.user_id = r.user_id AND l.ts >= r.err_ts""".stripMargin,

    "q42_session_windows" ->
      """WITH o AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
        |              >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS brk
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
        |  user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "q43_percentiles" ->
      """SELECT o_orderstatus,
        | round(quantile_cont(o_totalprice, 0.5), 3) AS p50,
        | round(quantile_cont(o_totalprice, 0.9), 3) AS p90,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,

    "q47_edit_distance" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
        .mkString("\nUNION ALL ")
      s"""$shingleCte,
         |sig AS ($minhashSigSelect),
         |banded AS ($bands),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band, key)
         |  WHERE a.doc_id < b.doc_id),
         |pfx AS (SELECT doc_id, substring(text, 1, 80) AS prefix FROM documents)
         |SELECT id_a, id_b,
         |  CAST(levenshtein(pa.prefix, pb.prefix) AS INT) AS edit_dist
         |FROM cand
         |JOIN pfx pa ON pa.doc_id = id_a
         |JOIN pfx pb ON pb.doc_id = id_b
         |WHERE levenshtein(pa.prefix, pb.prefix) <= 40""".stripMargin
    },

    "q49_shipping_priority" ->
      """SELECT l_orderkey,
        | CAST(floor(epoch(o_orderdate)) AS BIGINT) AS o_date_epoch,
        | o_orderpriority,
        | round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1997-07-01'
        |  AND l_shipdate > TIMESTAMP '1997-07-01'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "q50_quality_profile" ->
      """SELECT count(*) AS n_rows,
        | count(*) FILTER (WHERE o_custkey IS NULL) AS null_custkey,
        | count(*) FILTER (WHERE o_totalprice IS NULL) AS null_totalprice,
        | count(DISTINCT o_orderstatus) AS n_statuses,
        | round(min(o_totalprice), 2) AS min_price,
        | round(max(o_totalprice), 2) AS max_price,
        | CAST(floor(epoch(min(o_orderdate))) AS BIGINT) AS min_date_epoch,
        | CAST(floor(epoch(max(o_orderdate))) AS BIGINT) AS max_date_epoch
        |FROM orders""".stripMargin,

    "q51_contamination" ->
      s"""$shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50)
         |SELECT doc_id, count(*) AS n_overlap
         |FROM sh JOIN bench USING (shingle)
         |WHERE doc_id >= 50 GROUP BY doc_id HAVING count(*) >= 10""".stripMargin,

    "q52_stratified_sample" ->
      """SELECT lang, doc_id, CAST(rn AS INT) AS sample_rank FROM (
        |  SELECT lang, doc_id, row_number() OVER (PARTITION BY lang
        |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM documents) t WHERE rn <= 20""".stripMargin,

    // the bloom sketch is a pure prefilter (no false negatives, false
    // positives killed by the exact confirm join), so the oracle is the
    // sketch-free anti join over the same 3-gram shingles
    "q79_bloom_decontam" ->
      s"""$shingleCte,
         |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id < 50),
         |bad AS (SELECT DISTINCT doc_id FROM sh
         |  WHERE doc_id >= 50 AND shingle IN (SELECT shingle FROM bench))
         |SELECT d.doc_id, d.lang FROM documents d
         |WHERE d.doc_id >= 50
         |  AND d.doc_id NOT IN (SELECT doc_id FROM bad)""".stripMargin,

    // the sketch has no false negatives and the recount is exact, so the
    // oracle is the direct frequency threshold; the 0.01 literal is CAST
    // to DOUBLE (bare DuckDB decimals parse as DECIMAL) so both engines
    // compute the identical ceil(theta * N)
    "q80_heavy_hitters" -> heavyHittersSql,

    // the streaming lane's OUTPUT is q80's exactly: the MG sketch is an
    // order-dependent SUPERSET (its guarantee), and the exact recount +
    // theta filter kills the order dependence - so one oracle gates both
    "q166_stream_heavy_hitters" -> heavyHittersSql,

    // round-trip fidelity: the oracle is simply the source projection —
    // any JSONL escape/unescape drift shows as a hash mismatch
    "q82_jsonl_roundtrip" ->
      "SELECT doc_id, lang, text FROM documents",

    // same contract for the ORC and lossless-CSV lanes
    "q95_orc_roundtrip" ->
      "SELECT doc_id, lang, text FROM documents",
    "q96_csv_roundtrip" ->
      "SELECT doc_id, lang, text FROM documents",

    // and for Avro: the oracle is the source projection — any
    // logical-type drift through the container round trip (µs truncation,
    // decimal re-rounding, null-union loss) shows as a hash mismatch
    "q100_avro_roundtrip" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_orderstatus END
        |    AS status,
        |  CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |    AS price_cents,
        |  epoch_us(o_orderdate) AS odate_us
        |FROM orders""".stripMargin,

    // the salt never appears: the oracle is the PLAIN join + rollup
    "q85_salted_join" ->
      """WITH ev AS (SELECT CASE WHEN event_id % 4 <> 0 THEN 0
        |    ELSE user_id % 200 END AS k, value FROM events),
        |dim AS (SELECT i AS k, 'grp' || (i % 7) AS grp
        |  FROM (SELECT unnest(range(0, 200)) AS i))
        |SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_v
        |FROM ev JOIN dim USING (k) GROUP BY grp""".stripMargin,

    // the auto-salted join answers the SAME plain join — the derived
    // salt count is placement-only by construction
    "q197_salted_join_auto" ->
      """WITH ev AS (SELECT CASE WHEN event_id % 4 <> 0 THEN 0
        |    ELSE user_id % 200 END AS k, value FROM events),
        |dim AS (SELECT i AS k, 'grp' || (i % 7) AS grp
        |  FROM (SELECT unnest(range(0, 200)) AS i))
        |SELECT grp, CAST(count(*) AS BIGINT) AS n,
        |  round(sum(value), 2) AS sum_v
        |FROM ev JOIN dim USING (k) GROUP BY grp""".stripMargin,

    // host re-derived by string concat (so the oracle checks Spark's
    // parse_url against ground truth), domain re-derived FROM the host by
    // regex (last two dot-labels), cap = the q52 row_number formulation
    "q84_domain_caps" ->
      """WITH u AS (SELECT doc_id,
        |    'www.' || source || '.example-' || lang || '.org' AS host
        |  FROM documents),
        |r AS (SELECT host, doc_id,
        |    row_number() OVER (PARTITION BY host
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
        |  FROM u)
        |SELECT host, doc_id, CAST(rn AS INT) AS sample_rank,
        |  regexp_extract(host, '([^.]+\.[^.]+)$', 1) AS domain
        |FROM r WHERE rn <= 3""".stripMargin,

    // same concatenated-token-stream arithmetic: running-sum offsets per
    // bucket, block span floor-division (doc_id >= 0 so % == pmod and
    // // == floor), per-block rollup; only a bucket's last block is short
    "q81_concat_blocks" ->
      """WITH base AS (
        |  SELECT doc_id, doc_id % 8 AS bucket,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n
        |  FROM documents),
        |offs AS (
        |  SELECT doc_id, bucket, n,
        |    CAST(sum(n) OVER (PARTITION BY bucket ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n AS BIGINT) AS off,
        |    CAST(sum(n) OVER (PARTITION BY bucket) AS BIGINT) AS total
        |  FROM base)
        |SELECT bucket, CAST(b AS INT) AS block_id,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(least(256, total - b * 256) AS BIGINT) AS n_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM offs, LATERAL (SELECT unnest(range(off // 256, (off + n - 1) // 256 + 1)) AS b) r
        |GROUP BY bucket, b, total""".stripMargin,

    "q53_pii_redaction" -> {
      val profile =
        """c_name || ' <' ||
          |   lower(regexp_replace(c_name, '[^A-Za-z0-9]', '.', 'g')) ||
          |   '@example.com> tel ' ||
          |   lpad(CAST(c_custkey % 800 + 200 AS VARCHAR), 3, '0') || '-' ||
          |   lpad(CAST((c_custkey * 7) % 1000 AS VARCHAR), 3, '0') || '-' ||
          |   lpad(CAST((c_custkey * 13) % 10000 AS VARCHAR), 4, '0') ||
          |   ' ip ' ||
          |   CAST(c_custkey % 223 + 1 AS VARCHAR) || '.' ||
          |   CAST((c_custkey * 3) % 256 AS VARCHAR) || '.' ||
          |   CAST((c_custkey * 5) % 256 AS VARCHAR) || '.' ||
          |   CAST((c_custkey * 11) % 254 + 1 AS VARCHAR)""".stripMargin
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
      val ip = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
      s"""WITH p AS (SELECT c_custkey, $profile AS profile FROM customer)
         |SELECT c_custkey,
         | CAST(len(regexp_extract_all(profile, '$email')) AS INT) AS n_email,
         | CAST(len(regexp_extract_all(profile, '$phone')) AS INT) AS n_phone,
         | CAST(len(regexp_extract_all(profile, '$ip')) AS INT) AS n_ip,
         | regexp_replace(regexp_replace(regexp_replace(profile,
         |   '$email', '[EMAIL]', 'g'), '$ip', '[IP]', 'g'),
         |   '$phone', '[PHONE]', 'g') AS redacted
         |FROM p""".stripMargin
    },

    "q54_boilerplate_lines" ->
      """WITH lined AS (
        |  SELECT doc_id, replace(text, ' value ', chr(10)) AS lt FROM documents),
        |ln AS (
        |  SELECT doc_id, unnest(string_split(lt, chr(10))) AS line,
        |    unnest(generate_series(1, len(string_split(lt, chr(10))))) AS pos
        |  FROM lined),
        |hot AS (SELECT line FROM (
        |    SELECT line, count(DISTINCT doc_id) AS d FROM ln GROUP BY line) h
        |  WHERE d > 3)
        |SELECT doc_id, count(*) AS n_kept,
        |  string_agg(line, chr(10) ORDER BY pos) AS cleaned
        |FROM ln WHERE line NOT IN (SELECT line FROM hot)
        |GROUP BY doc_id""".stripMargin,

    "q55_sample_fraction" -> {
      val tEn = Sampling.fractionThreshold(0.5)
      val tZh = Sampling.fractionThreshold(0.25)
      val tDef = Sampling.fractionThreshold(0.125)
      s"""SELECT doc_id, lang FROM documents
         |WHERE md5(CAST(doc_id AS VARCHAR)) <
         |  (CASE WHEN lang = 'en' THEN '$tEn'
         |        WHEN lang = 'zh' THEN '$tZh'
         |        ELSE '$tDef' END)""".stripMargin
    },

    // The greedy fold is inherently sequential per bucket; the independent
    // oracle expresses it as a DuckDB recursive CTE advancing every bucket
    // one row per iteration. doc_id >= 0 in the corpus, so % == pmod here.
    "q56_sequence_packing" ->
      """WITH RECURSIVE base AS (
        |  SELECT doc_id, doc_id % 8 AS bucket,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens,
        |    CAST(row_number() OVER (PARTITION BY doc_id % 8 ORDER BY doc_id) AS INT) AS rn
        |  FROM documents),
        |packed AS (
        |  SELECT doc_id, bucket, n_tokens, rn, 1 AS pack_idx,
        |    CAST(n_tokens AS BIGINT) AS acc
        |  FROM base WHERE rn = 1
        |  UNION ALL
        |  SELECT b.doc_id, b.bucket, b.n_tokens, b.rn,
        |    CASE WHEN p.acc + b.n_tokens > 256 THEN p.pack_idx + 1 ELSE p.pack_idx END,
        |    CASE WHEN p.acc + b.n_tokens > 256 THEN CAST(b.n_tokens AS BIGINT)
        |         ELSE p.acc + b.n_tokens END
        |  FROM base b JOIN packed p ON b.bucket = p.bucket AND b.rn = p.rn + 1)
        |SELECT doc_id, bucket, pack_idx, n_tokens FROM packed""".stripMargin,

    // the same greedy chain as nested per-stage CTEs; ts truncated to µs
    // first so the strict `>` comparisons match Spark's ns→µs precision
    "q62_funnel" ->
      """WITH ev AS (SELECT user_id, event_type,
        |    make_timestamp(epoch_us(ts)) AS ts FROM events),
        |s1 AS (
        |  SELECT user_id, min(ts) AS t1 FROM ev
        |  WHERE event_type = 'click' GROUP BY 1),
        |s2 AS (
        |  SELECT e.user_id, s1.t1, min(e.ts) AS t2
        |  FROM ev e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'signup' AND e.ts > s1.t1 GROUP BY 1, 2),
        |s3 AS (
        |  SELECT e.user_id, s2.t1, s2.t2, min(e.ts) AS t3
        |  FROM ev e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1, 2, 3)
        |SELECT user_id, epoch_us(t1) AS t1_us, epoch_us(t2) AS t2_us,
        |  epoch_us(t3) AS t3_us
        |FROM s3""".stripMargin,

    // the full hygiene chain as one independent SQL derivation: quality
    // CASE-sum, q57's dup-3-gram fraction, min-id dedup over the FILTERED
    // set, md5-threshold mixture sample over the DEDUPED set
    "q60_corpus_pipeline" -> {
      val tEn = Sampling.fractionThreshold(0.5)
      val tDef = Sampling.fractionThreshold(0.25)
      s"""WITH q AS (
         |  SELECT doc_id, text, lang,
         |   (CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END
         |    + CASE WHEN len(regexp_split_to_array(trim(text), '\\s+')) BETWEEN 5 AND 20000 THEN 1 ELSE 0 END
         |    + CASE WHEN CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
         |        / CAST(greatest(length(text), 1) AS DOUBLE) > 0.15 THEN 1 ELSE 0 END) AS quality
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |g3 AS (
         |  SELECT doc_id,
         |    CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
         |         ELSE array_to_string(t, ' ') END AS shingle
         |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 2))) AS i) r),
         |c3 AS (SELECT doc_id, shingle, count(*) AS c FROM g3 GROUP BY 1, 2),
         |rep AS (SELECT doc_id,
         |    1.0 - CAST(count(*) AS DOUBLE) / CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS dup3
         |  FROM c3 GROUP BY 1),
         |filt AS (
         |  SELECT q.doc_id, q.text, q.lang, q.quality
         |  FROM q JOIN rep USING (doc_id)
         |  WHERE q.quality >= 2 AND rep.dup3 <= 0.2),
         |keep AS (
         |  SELECT min(doc_id) AS doc_id FROM filt
         |  GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')))
         |SELECT f.doc_id, f.lang, f.quality
         |FROM filt f JOIN keep USING (doc_id)
         |WHERE md5(CAST(f.doc_id AS VARCHAR)) <
         |  (CASE WHEN f.lang = 'en' THEN '$tEn' ELSE '$tDef' END)""".stripMargin
    },

    // batch join + q35's watermark horizon
    "q75_stream_enrich" ->
      """WITH w AS (
        |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
        |    c.c_mktsegment AS segment, count(*) AS n,
        |    round(sum(e.value), 2) AS sum_value
        |  FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |  GROUP BY 1, 2),
        |wm AS (SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events)
        |SELECT w.* FROM w, wm WHERE (w.win_start + 600) * 1000 <= wm_ms""".stripMargin,

    // q68's hop arithmetic + q35's watermark horizon: append mode emits a
    // hop only once the watermark (max ts - 30 min) passes its END
    "q71_streaming_sliding" ->
      """WITH offs AS (SELECT unnest(range(0, 3)) AS o),
        |w AS (
        |  SELECT CAST(floor(epoch(ts) / 600) * 600 - o * 600 AS BIGINT) AS win_start,
        |    event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |  FROM events, offs GROUP BY 1, 2),
        |wm AS (SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events)
        |SELECT w.* FROM w, wm WHERE (w.win_start + 1800) * 1000 <= wm_ms""".stripMargin,

    // 1-based index lateral + list element access; i-1 matches posexplode
    "q74_label_centroids" ->
      """SELECT label, CAST(i - 1 AS INT) AS dim, count(*) AS n,
        | round(avg(CAST(embedding[i] AS DOUBLE)), 6) AS mean
        |FROM embeddings,
        | LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i) r
        |GROUP BY 1, 2""".stripMargin,

    // same band stated with quantile_cont (q43's proven percentile pairing)
    "q73_length_band" ->
      """WITH thr AS (SELECT round(quantile_cont(n_chars, 0.05), 3) AS lo,
        |    round(quantile_cont(n_chars, 0.95), 3) AS hi FROM documents)
        |SELECT lang, count(*) AS n_docs, min(n_chars) AS min_chars,
        | max(n_chars) AS max_chars
        |FROM documents, thr WHERE n_chars >= lo AND n_chars <= hi
        |GROUP BY 1""".stripMargin,

    // the same md5 keys re-derived; shard via the strpos hex-digit decode
    // (SimHash-oracle precedent), positions by (key, id) rank per shard
    "q72_epoch_shuffle" ->
      """WITH ep AS (SELECT CAST(unnest(range(0, 2)) AS INT) AS epoch),
        |k AS (SELECT epoch, doc_id, md5(concat(epoch, ':', doc_id)) AS k
        |  FROM documents, ep),
        |s AS (SELECT epoch, doc_id, k,
        |    CAST((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) % 4 AS INT) AS shard
        |  FROM k)
        |SELECT epoch, doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY epoch, shard ORDER BY k, doc_id) - 1
        |    AS INT) AS pos
        |FROM s""".stripMargin,

    // Efraimidis–Spirakis keys re-derived: the 13-hex-char md5 prefix is
    // decoded to its 52-bit integer with a fixed 13-term strpos polynomial
    // (all-BIGINT arithmetic; the q72 hex-digit decode, widened), mapped to
    // the exact double (2v+1)/2^53, then ranked on round(ln(u)/w, 9) with
    // the id tiebreak — the same rounded value Spark ranks on, so a 1-2 ulp
    // ln drift can't flip a rank
    "q77_weighted_sample" -> {
      val v = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH keyed AS (
         |  SELECT doc_id, CAST(length(text) AS DOUBLE) AS weight,
         |    md5(CAST(doc_id AS VARCHAR)) AS h
         |  FROM documents WHERE length(text) > 0),
         |es AS (SELECT doc_id, weight,
         |    round(ln(CAST($v * 2 + 1 AS DOUBLE)
         |      / CAST(9007199254740992 AS DOUBLE)) / weight, 9) AS es_key
         |  FROM keyed),
         |top AS (SELECT * FROM es ORDER BY es_key DESC, doc_id ASC LIMIT 50)
         |SELECT doc_id, weight, es_key,
         |  CAST(row_number() OVER (ORDER BY es_key DESC, doc_id ASC) AS INT) AS rank
         |FROM top""".stripMargin
    },

    // the same µs-precision RANGE frame stated directly
    "q70_trailing_window" ->
      """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
        | count(*) OVER w AS n_1h,
        | round(sum(value) OVER w, 2) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    // chunk starts re-derived arithmetically: 1 + max(0, ceil((n-32)/24))
    // windows (last window = first to reach the final token, so no chunk
    // duplicates its predecessor); slice clamps at the tail in both engines
    "q69_token_chunks" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |st AS (SELECT doc_id, t, CAST(len(t) AS INT) AS n FROM toks),
        |ch AS (
        |  SELECT doc_id, CAST(i AS INT) AS chunk_no, CAST(i * 24 AS INT) AS start, t, n
        |  FROM st, LATERAL (SELECT unnest(range(0,
        |    greatest(n - 32 + 23, 0) // 24 + 1)) AS i) r)
        |SELECT doc_id, chunk_no,
        |  array_to_string(t[start + 1 : start + 32], ' ') AS chunk,
        |  least(32, n - start) AS chunk_tokens
        |FROM ch""".stripMargin,

    // q57's non-distinct 2-gram CTE rolled up to corpus vocabulary
    "q67_vocab_topk" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g2 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 2 THEN array_to_string(t[i:i+1], ' ')
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t), 2))) AS i) r),
        |pc AS (SELECT doc_id, shingle, count(*) AS c FROM g2 GROUP BY 1, 2),
        |vocab AS (SELECT shingle, CAST(sum(c) AS BIGINT) AS occurrences,
        |    count(*) AS doc_freq FROM pc GROUP BY 1),
        |ranked AS (SELECT shingle, occurrences, doc_freq,
        |    row_number() OVER (ORDER BY occurrences DESC, shingle ASC) AS rn
        |  FROM vocab)
        |SELECT shingle, occurrences, doc_freq, CAST(rn AS INT) AS rank
        |FROM ranked WHERE rn <= 50""".stripMargin,

    // every event belongs to exactly 3 hops (o = 0, 1, 2): the 10-min
    // floor-aligned start minus o slides; same epoch arithmetic as q20
    "q68_sliding_window" ->
      """WITH offs AS (SELECT unnest(range(0, 3)) AS o)
        |SELECT CAST(floor(epoch(ts) / 600) * 600 - o * 600 AS BIGINT) AS win_start,
        | event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |FROM events, offs GROUP BY 1, 2""".stripMargin,

    // per-subspace kmeans CTE chains replaying the PQ codebooks bit-exact,
    // rank-1 argmin corpus codes, ADC terms per subspace joined and summed
    // in fixed index order
    "q66_pq_ann_topk" ->
      s"""$pqAdcRankedSql
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(dist, 6) AS dist
         |FROM ranked WHERE rn <= 10""".stripMargin,

    // word-frequency table first (the BPE-trainer shape), then adjacent
    // 2-char substrings weighted by word count
    "q87_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT unnest(regexp_extract_all(text,
         |    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]')) AS w FROM documents),
         |wf AS (SELECT w, count(*) AS wcnt FROM words GROUP BY w),
         |pairs AS (
         |  SELECT substring(w, i, 2) AS pair, wcnt
         |  FROM wf, unnest(generate_series(1, length(w) - 1)) AS t(i)
         |  WHERE length(w) >= 2),
         |agg AS (SELECT pair, CAST(sum(wcnt) AS BIGINT) AS n
         |  FROM pairs GROUP BY pair),
         |ranked AS (SELECT pair, n,
         |    row_number() OVER (ORDER BY n DESC, pair ASC) AS rank FROM agg)
         |SELECT pair, n, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 50""".stripMargin,

    // per-doc adjacency (ws[i], ws[i+1]), then distinct-predecessor and
    // occurrence rollups per following word
    "q88_continuations" ->
      s"""WITH docs AS (SELECT regexp_extract_all(text,
         |    '[A-Za-z0-9]+|[^A-Za-z0-9\\s]') AS ws FROM documents),
         |bigrams AS (
         |  SELECT ws[i] AS w1, ws[i+1] AS w2
         |  FROM docs, unnest(generate_series(1, len(ws) - 1)) AS t(i)
         |  WHERE len(ws) >= 2),
         |cc AS (SELECT w2 AS word,
         |    CAST(count(DISTINCT w1) AS BIGINT) AS continuations,
         |    CAST(count(*) AS BIGINT) AS occurrences
         |  FROM bigrams GROUP BY w2),
         |ranked AS (SELECT word, continuations, occurrences,
         |    row_number() OVER (ORDER BY continuations DESC, word ASC) AS rank
         |  FROM cc)
         |SELECT word, continuations, occurrences, CAST(rank AS INT) AS rank
         |FROM ranked WHERE rank <= 50""".stripMargin,

    // the full BPE training loop, unrolled to 20 rounds of CTEs. Each
    // word's segmentation is its symbols wrapped \x01sym\x02 and
    // concatenated; the greedy left-to-right non-overlapping merge is then
    // EXACTLY SQL replace() of \x01a\x02\x01b\x02 with \x01ab\x02 (the
    // wrapping makes a cross-symbol-boundary match impossible, and a
    // merged symbol continues scanning after itself — the same semantics
    // as the Scala aggregate-fold; the corpus contains no \x01/\x02).
    // Pair counts per round re-split the wrapped string; argmax tiebreak
    // (n DESC, a ASC, b ASC) matches the Scala TakeOrdered.
    "q98_bpe_merges" -> {
      val rounds = 20
      val union = (1 to rounds).map { r =>
        s"""SELECT $r AS rnd, a AS "left", b AS "right", a || b AS merged, n
           |FROM m$r""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH ${bpeTrainCtes(rounds)}
         |SELECT CAST(rnd AS INT) AS rnd, "left", "right", merged, n FROM (
         |$union) z""".stripMargin
    },

    // DuckDB's nfc_normalize is the independent NFC implementation; the
    // dirty suffix is rebuilt with chr() (769 = U+0301 combining acute).
    // \x0B is routed through the control class, not \s — Java \s matches
    // it, RE2's does not (see Scrub.ControlPattern).
    "q103_unicode_clean" ->
      """SELECT doc_id, cleaned, CAST(length(cleaned) AS INT) AS n_clean
        |FROM (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(
        |      nfc_normalize(text || '  x' || chr(1) || 'e' || chr(769) || ' '),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS cleaned
        |  FROM documents) t""".stripMargin,

    // the same add-0.5 bigram model re-derived: context totals and the
    // continuation vocabulary V both come from the aggregated model CTE
    // (as in bigramLm), avg_logprob rounded to 4 dp on both sides
    "q104_bigram_lm" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
        |  WHERE len(ts) > 1),
        |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx FROM model GROUP BY 1),
        |v AS (SELECT CAST(count(DISTINCT w2) AS BIGINT) AS v FROM model)
        |SELECT b.doc_id,
        |  round(avg(ln((m.c + 0.5) / (u.ctx + 0.5 * v.v))), 4) AS avg_logprob,
        |  CAST(count(*) AS BIGINT) AS n_bigrams
        |FROM bg b JOIN model m USING (w1, w2) JOIN ctx u USING (w1) CROSS JOIN v
        |GROUP BY 1""".stripMargin,

    // dirty-URL synthesis replayed per residue class, then the same
    // three anchored regexp_extract decompositions and list pipeline
    // (filter tracking params → sort → rejoin); RE2 semantics match the
    // Java patterns because every pattern is lookaround/backref-free
    "q105_url_canonicalize" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS://WWW.' ELSE 'https://www.' END)
        |    || source || '.Example-' || lang || '.org'
        |    || (CASE WHEN doc_id % 3 = 0 THEN ':443' ELSE '' END)
        |    || '/Docs/' || doc_id
        |    || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
        |    || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=feed&b=2&fbclid=XYZ&a=1'
        |        ELSE '?a=1&b=2' END)
        |    || (CASE WHEN doc_id % 5 = 0 THEN '#frag' ELSE '' END) AS url
        |  FROM documents),
        |parts AS (
        |  SELECT doc_id, url,
        |    lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostraw,
        |    regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pathraw,
        |    regexp_extract(url, '^[^?#]*\?([^#]*)', 1) AS q
        |  FROM u),
        |cooked AS (
        |  SELECT doc_id, url, scheme, hostraw,
        |    regexp_replace(pathraw, '/+$', '') AS pathtrim,
        |    array_to_string(list_sort(list_filter(string_split(q, '&'),
        |      p -> p <> '' AND NOT regexp_matches(p,
        |        '^(utm_[A-Za-z0-9_]*|fbclid|gclid|msclkid|ref)='))), '&') AS qc
        |  FROM parts)
        |SELECT doc_id, url,
        |  CASE WHEN scheme = '' OR hostraw = '' THEN NULL
        |  ELSE scheme || '://'
        |    || (CASE WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |        WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |        ELSE hostraw END)
        |    || (CASE WHEN pathtrim = '' THEN '/' ELSE pathtrim END)
        |    || (CASE WHEN qc = '' THEN '' ELSE '?' || qc END)
        |  END AS canon
        |FROM cooked""".stripMargin,

    // same page synthesis, block/tag/entity chain ((?is) + lazy .*? are
    // common Java-regex/RE2 syntax), then the q103 cleanup pipeline
    "q107_html_strip" ->
      """SELECT doc_id, clean, CAST(length(clean) AS INT) AS n_clean FROM (
        |  SELECT doc_id,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(
        |      replace(replace(replace(replace(replace(replace(
        |        regexp_replace(
        |          regexp_replace(
        |            regexp_replace(
        |              '<html><head><script type="text/javascript">var x = 1 < 2;'
        |              || '</script><style>p { color: red }</style></head><body><p id="c">'
        |              || text
        |              || '</p><br/><b>tail</b> &amp;amp; &lt;fin&gt;&nbsp;&#39;q&#39;'
        |              || '</body></html>',
        |              '(?is)<script([ \t\r\n][^>]*)?>.*?</script>', ' ', 'g'),
        |            '(?is)<style([ \t\r\n][^>]*)?>.*?</style>', ' ', 'g'),
        |          '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |        '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |        '&nbsp;', ' '), '&amp;', '&')),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |      '\s+', ' ', 'g')) AS clean
        |  FROM documents) t""".stripMargin,

    // same page synthesis; the C4 line lambda and page rules restated in
    // DuckDB's list_filter (both regexes RE2-safe)
    "q108_c4_line_filter" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pg AS (SELECT doc_id, array_to_string(list_concat(
        |    [array_to_string(ws[1:8], ' ') || '.',
        |     'Enable JavaScript to view comments.',
        |     array_to_string(ws[9:11], ' '),
        |     array_to_string(ws[4:11], ' ')
        |       || (CASE WHEN doc_id % 2 = 0 THEN '!' ELSE '' END),
        |     '(c) 2026 Example Corp',
        |     array_to_string(ws[2:7], ' ') || '?'],
        |    CASE WHEN doc_id % 17 = 0 THEN ['Lorem ipsum dolor sit amet.']
        |         WHEN doc_id % 19 = 0 THEN ['function() { return 1; }']
        |         ELSE CAST([] AS VARCHAR[]) END), chr(10)) AS page FROM w),
        |k AS (SELECT doc_id, page,
        |    len(string_split(page, chr(10))) AS n_lines,
        |    list_filter(string_split(page, chr(10)), l ->
        |      regexp_matches(l, '[.!?"'']\r?$')
        |      AND len(string_split_regex(trim(l), ' +')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept FROM pg),
        |f AS (SELECT doc_id, n_lines, kept,
        |    (CASE WHEN NOT contains(lower(page), 'lorem ipsum')
        |          AND NOT contains(page, '{')
        |          AND len(kept) >= 3 THEN 1 ELSE 0 END) AS page_kept FROM k)
        |SELECT doc_id, CAST(n_lines AS INT) AS n_lines,
        |  CAST(len(kept) AS INT) AS n_kept, page_kept,
        |  CASE WHEN page_kept = 1 THEN array_to_string(kept, chr(10))
        |       ELSE '' END AS cleaned
        |FROM f""".stripMargin,

    // same paragraph synthesis; keep-first is a row_number over the md5
    // fingerprint ordered by (doc_id, pos) — the operator's min(struct)
    // winner under a different spelling (pos is 1-based here, 0-based in
    // Spark; only its order matters and it is never emitted)
    "q109_paragraph_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pr AS (SELECT doc_id, list_concat(
        |    [array_to_string(ws[1:10], ' '),
        |     'Subscribe to our newsletter ' || CAST(doc_id % 7 AS VARCHAR),
        |     'All rights reserved'],
        |    CASE WHEN doc_id % 4 = 0 THEN [array_to_string(ws[1:10], ' ')]
        |         ELSE CAST([] AS VARCHAR[]) END) AS ps FROM w),
        |x AS (SELECT doc_id, unnest(ps) AS para,
        |    unnest(generate_series(1, len(ps))) AS pos FROM pr),
        |rk AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos)
        |      AS rn FROM x),
        |k AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, chr(10) ORDER BY pos) AS cleaned
        |  FROM rk WHERE rn = 1 GROUP BY doc_id),
        |n AS (SELECT doc_id, count(*) AS n_paras FROM x GROUP BY doc_id)
        |SELECT n.doc_id, n.n_paras, coalesce(k.n_kept, 0) AS n_kept,
        |  coalesce(k.cleaned, '') AS cleaned
        |FROM n LEFT JOIN k USING (doc_id)""".stripMargin,

    // same synthesis (concat_ws skips the NULL CASE arms on both
    // engines); gram counting over md5(5-gram), and the splice restated
    // with DuckDB's 1-based indexed list lambdas
    "q111_span_excision" ->
      """WITH base AS (SELECT doc_id, concat_ws(' ', text,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'as seen on our network of partner sites today' END,
        |    CASE WHEN doc_id % 11 = 0
        |      THEN array_to_string((string_split(text, ' '))[1:5], ' ') END)
        |    AS page FROM documents),
        |w AS (SELECT doc_id, string_split(page, ' ') AS ws FROM base),
        |g AS (SELECT doc_id, s.st AS st,
        |    md5(array_to_string(ws[s.st:s.st+4], ' ')) AS fp
        |  FROM w, LATERAL (SELECT unnest(range(1, len(ws) - 3)) AS st) s
        |  WHERE len(ws) >= 5),
        |hot AS (SELECT fp FROM g GROUP BY fp HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, list_sort(list(st)) AS hs
        |  FROM (SELECT g.doc_id, g.st FROM g JOIN hot USING (fp))
        |  GROUP BY doc_id),
        |j AS (SELECT w.doc_id, w.ws,
        |    coalesce(cov.hs, CAST([] AS BIGINT[])) AS hs
        |  FROM w LEFT JOIN cov USING (doc_id)),
        |k AS (SELECT doc_id, ws, hs,
        |    list_filter(ws, (x, i) ->
        |      len(list_filter(hs, h -> h <= i AND i <= h + 4)) = 0) AS kept
        |  FROM j)
        |SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
        |  CAST(len(ws) - len(kept) AS INT) AS n_removed,
        |  coalesce(array_to_string(kept, ' '), '') AS cleaned
        |FROM k""".stripMargin,

    // rank over the 6dp-rounded score with term tiebreak on both engines
    // (q64's pattern), so ln() ulps can't flip the gate
    "q113_tfidf_keywords" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |sc AS (SELECT tf.doc_id, tf.term,
        |    round(tf * ln(n_docs / df), 6) AS score
        |  FROM tf JOIN dfreq USING (term), st),
        |rk AS (SELECT doc_id, term, score,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, term) AS rank FROM sc)
        |SELECT doc_id, term, score, CAST(rank AS INT) AS rank
        |FROM rk WHERE rank <= 5""".stripMargin,

    // the KN model re-derived from the same aggregated bigram relation:
    // ctx totals + fan-out in one rollup, continuation counts in another,
    // bigram-type total as a scalar; the probability's association order
    // mirrors the Scala expression term-for-term (all inputs are exactly
    // double-representable, so both engines round the same IEEE value at
    // 4 dp — the q104 contract)
    "q114_kn_score" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
        |  WHERE len(ts) > 1),
        |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx,
        |    CAST(count(*) AS BIGINT) AS fanout FROM model GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont
        |  FROM model GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM model)
        |SELECT b.doc_id,
        |  round(avg(ln(
        |    greatest(m.c - 0.75, 0.0) / x.ctx +
        |    (0.75 * x.fanout / x.ctx) * (n.cont / t.btypes))), 4)
        |    AS avg_logprob,
        |  CAST(count(*) AS BIGINT) AS n_bigrams
        |FROM bg b JOIN model m USING (w1, w2) JOIN ctx x USING (w1)
        |  JOIN cont n USING (w2) CROSS JOIN tot t
        |GROUP BY 1""".stripMargin,

    // the exact sketch replayed: md5 buckets decoded with the 6-digit
    // strpos polynomial (q72/q77 precedent), the d×w counter table
    // rebuilt by the same group-by, estimates as min over the probe's
    // depth rows — pure integer arithmetic end to end
    "q115_cms_counts" -> {
      val poly = (1 to 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${BigInt(16).pow(6 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH tok AS (
         |  SELECT regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents),
         |toks AS (
         |  SELECT ts[g] || ' ' || ts[g + 1] AS term
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
         |  WHERE len(ts) > 1),
         |js AS (SELECT CAST(unnest(range(1, 5)) AS INT) AS j),
         |hashed AS (SELECT j,
         |    md5('cms' || CAST(j AS VARCHAR) || ':' || term) AS hx
         |  FROM toks, js),
         |sketch AS (SELECT j, CAST($poly % 256 AS INT) AS bucket,
         |    CAST(count(*) AS BIGINT) AS cnt
         |  FROM hashed GROUP BY 1, 2),
         |exact AS (SELECT term, CAST(count(*) AS BIGINT) AS exact
         |  FROM toks GROUP BY 1),
         |topk AS (SELECT term, exact FROM exact
         |  ORDER BY exact DESC, term ASC LIMIT 50),
         |probe AS (SELECT term, exact, j,
         |    md5('cms' || CAST(j AS VARCHAR) || ':' || term) AS hx
         |  FROM topk, js),
         |est AS (SELECT p.term, p.exact, min(s.cnt) AS est
         |  FROM (SELECT term, exact, j, CAST($poly % 256 AS INT) AS bucket
         |        FROM probe) p
         |  JOIN sketch s ON s.j = p.j AND s.bucket = p.bucket
         |  GROUP BY 1, 2)
         |SELECT term, exact, est, est - exact AS overcount,
         |  CAST(row_number() OVER (ORDER BY exact DESC, term ASC) AS INT)
         |    AS rank
         |FROM est""".stripMargin
    },

    // the power iteration unrolled to 10 CTE rounds (the q98 pattern).
    // (1-d) is written as a DOUBLE subtraction so both engines compute
    // the identical IEEE value (a 0.15 decimal literal is a different
    // double); the per-round 12 dp round is the drift firewall — without
    // it sum-order ulps would compound across iterations.
    "q116_host_pagerank" -> {
      val iterCtes = (1 to 10).map { i =>
        val p = s"pr${i - 1}"
        s"""pr$i AS MATERIALIZED (
           |  SELECT nodes.node,
           |    round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / n.n
           |      + CAST(0.85 AS DOUBLE) * (coalesce(c.contrib, 0.0)
           |        + dg.dang / n.n), 12) AS pr
           |  FROM nodes
           |  LEFT JOIN (SELECT e.dst AS node, sum(p.pr / od.deg) AS contrib
           |      FROM e JOIN $p p ON p.node = e.src
           |      JOIN od ON od.node = e.src
           |      GROUP BY 1) c ON c.node = nodes.node
           |  CROSS JOIN (SELECT coalesce(sum(p.pr), 0.0) AS dang
           |      FROM $p p LEFT JOIN od ON od.node = p.node
           |      WHERE od.node IS NULL) dg
           |  CROSS JOIN n)""".stripMargin
      }.mkString(",\n")
      s"""WITH d AS MATERIALIZED (SELECT doc_id, source || '.' || lang AS host
         |  FROM documents),
         |cnt AS (SELECT CAST(count(*) AS BIGINT) AS ndocs FROM d),
         |mh AS (SELECT max(host) AS mh FROM d),
         |e0 AS (SELECT d1.host AS src, d2.host AS dst
         |  FROM d d1, cnt, d d2
         |  WHERE d2.doc_id = (d1.doc_id * 31 + 7) % ndocs),
         |e AS MATERIALIZED (SELECT DISTINCT src, dst FROM e0, mh
         |  WHERE src <> dst AND src <> mh),
         |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
         |n AS MATERIALIZED (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |od AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
         |  FROM e GROUP BY 1),
         |pr0 AS MATERIALIZED (SELECT node, 1.0 / n.n AS pr FROM nodes, n),
         |$iterCtes
         |SELECT node AS host, round(pr, 8) AS pr,
         |  CAST(row_number() OVER (ORDER BY round(pr, 8) DESC, node ASC)
         |    AS INT) AS rank
         |FROM pr10""".stripMargin
    },

    // the HLL registers rebuilt exactly: 13-hex md5 polynomial (q77),
    // bucket = top 9 bits, rho from minimal-width bin() (common to both
    // engines), max per register, then the Flajolet estimator with the
    // alpha·m² constant computed ONCE in Scala and embedded — re-deriving
    // it in SQL decimal arithmetic could round differently. The register
    // sum is exact dyadic arithmetic, so the branch predicate and
    // estimate are bit-identical across engines before the 4dp round.
    "q117_hll_distinct" -> {
      val alphaM2 = 0.7213 / (1 + 1.079 / 512) * 512 * 512
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH tok AS (
         |  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents),
         |bg AS (
         |  SELECT source, ts[g] || ' ' || ts[g + 1] AS term
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
         |  WHERE len(ts) > 1),
         |vv AS (SELECT source, $poly AS v
         |  FROM (SELECT source, md5(term) AS h FROM bg) z),
         |regs AS (SELECT source, v >> 43 AS bucket,
         |    CASE WHEN (v & 8796093022207) = 0 THEN 44
         |         ELSE 44 - length(bin(v & 8796093022207)) END AS rho
         |  FROM vv),
         |reg AS (SELECT source, bucket, max(rho) AS reg
         |  FROM regs GROUP BY 1, 2),
         |sums AS (SELECT source, sum(pow(2.0, -reg)) AS s_present,
         |    CAST(count(*) AS BIGINT) AS n_present
         |  FROM reg GROUP BY 1),
         |est AS (SELECT source,
         |    CASE WHEN CAST('$alphaM2' AS DOUBLE)
         |          / (s_present + (512 - n_present)) <= 1280.0
         |        AND (512 - n_present) > 0
         |      THEN round(512.0 * ln(512.0 / CAST(512 - n_present AS DOUBLE)), 4)
         |      ELSE round(CAST('$alphaM2' AS DOUBLE)
         |          / (s_present + (512 - n_present)), 4) END AS hll_est
         |  FROM sums),
         |exact AS (SELECT source, CAST(count(DISTINCT term) AS BIGINT)
         |    AS exact_distinct FROM bg GROUP BY 1)
         |SELECT source, exact_distinct, hll_est
         |FROM exact JOIN est USING (source)""".stripMargin
    },

    // KMV replay: same bigram universe and 13-hex-poly 52-bit hash as
    // q117, per-slice k-min via row_number, then the (k-1)·2^52/u_k
    // estimator with the numerator embedded as the same double-exact
    // product expression the Scala side computes.
    "q126_kmv_overlap" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      // one Scala-computed double on both sides (DuckDB would read the
      // inline product as DECIMAL and overflow)
      val numer = 255.0 * 4503599627370496.0
      val estU = s"CASE WHEN n < 256 THEN CAST(n AS DOUBLE) " +
        s"ELSE CAST('$numer' AS DOUBLE) / CAST(u_k AS DOUBLE) END"
      s"""WITH tok AS (
         |  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents WHERE source IN ('src0', 'src1')),
         |bg AS (
         |  SELECT source, ts[g] || ' ' || ts[g + 1] AS term
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
         |  WHERE len(ts) > 1),
         |vv AS (SELECT DISTINCT source, $poly AS v
         |  FROM (SELECT source, md5(term) AS h FROM bg) z),
         |ka AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
         |  FROM vv WHERE source = 'src0') WHERE rn <= 256),
         |kb AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
         |  FROM vv WHERE source = 'src1') WHERE rn <= 256),
         |mg AS (SELECT DISTINCT v
         |  FROM (SELECT v FROM ka UNION ALL SELECT v FROM kb)),
         |kk AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
         |  FROM mg) WHERE rn <= 256),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n, max(v) AS u_k,
         |    CAST(sum(CASE WHEN v IN (SELECT v FROM ka)
         |                   AND v IN (SELECT v FROM kb)
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_both
         |  FROM kk)
         |SELECT n, n_both,
         |  round($estU, 4) AS est_union,
         |  round(CAST(n_both AS DOUBLE) / CAST(n AS DOUBLE), 6) AS est_jaccard,
         |  round((CAST(n_both AS DOUBLE) / CAST(n AS DOUBLE)) * ($estU), 4)
         |    AS est_inter
         |FROM ag""".stripMargin
    },

    // q126's CTE chain with the region split: the union k-min sample is
    // classified into both/only-a/only-b and each region's estimate is
    // its sample fraction times the union estimate
    "q151_kmv_set_algebra" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      val numer = 255.0 * 4503599627370496.0
      val estU = s"CASE WHEN n < 256 THEN CAST(n AS DOUBLE) " +
        s"ELSE CAST('$numer' AS DOUBLE) / CAST(u_k AS DOUBLE) END"
      def reg(c: String) = s"round((CAST($c AS DOUBLE) / CAST(n AS DOUBLE)) * ($estU), 4)"
      s"""WITH tok AS (
         |  SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents WHERE source IN ('src0', 'src1')),
         |bg AS (
         |  SELECT source, ts[g] || ' ' || ts[g + 1] AS term
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
         |  WHERE len(ts) > 1),
         |vv AS (SELECT DISTINCT source, $poly AS v
         |  FROM (SELECT source, md5(term) AS h FROM bg) z),
         |ka AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
         |  FROM vv WHERE source = 'src0') WHERE rn <= 256),
         |kb AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
         |  FROM vv WHERE source = 'src1') WHERE rn <= 256),
         |mg AS (SELECT DISTINCT v
         |  FROM (SELECT v FROM ka UNION ALL SELECT v FROM kb)),
         |kk AS (SELECT v FROM (SELECT v, row_number() OVER (ORDER BY v) AS rn
         |  FROM mg) WHERE rn <= 256),
         |ag AS (SELECT CAST(count(*) AS BIGINT) AS n, max(v) AS u_k,
         |    CAST(sum(CASE WHEN v IN (SELECT v FROM ka)
         |                   AND v IN (SELECT v FROM kb)
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_both,
         |    CAST(sum(CASE WHEN v IN (SELECT v FROM ka)
         |                   AND v NOT IN (SELECT v FROM kb)
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
         |    CAST(sum(CASE WHEN v NOT IN (SELECT v FROM ka)
         |                   AND v IN (SELECT v FROM kb)
         |             THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
         |  FROM kk)
         |SELECT n, n_both, n_only_a, n_only_b,
         |  round($estU, 4) AS est_union,
         |  ${reg("n_both")} AS est_inter,
         |  ${reg("n_only_a")} AS est_only_a,
         |  ${reg("n_only_b")} AS est_only_b
         |FROM ag""".stripMargin
    },

    // the budget selection SPEC: one window cumsum in global priority
    // order against the per-lang budget — the engine's histogram-band
    // decomposition must reproduce this exactly (it is an exact
    // reshaping, not an approximation)
    "q130_token_budget" ->
      """WITH b AS (SELECT lang, doc_id,
        |    round(CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
        |      / CAST(greatest(length(text), 1) AS DOUBLE), 4) AS priority,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
        |    ORDER BY priority DESC, doc_id ASC ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM b)
        |SELECT lang, doc_id, priority, n_tokens FROM c
        |WHERE cum <= (CASE WHEN lang = 'en' THEN 2500 ELSE 1500 END)""".stripMargin,

    // q31's brute-force replay plus the cross-label predicate; rank over
    // (sim desc, id asc) is the same total order
    "q131_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, label AS q_label, v AS qv
         |  FROM e WHERE vec_id < 5),
         |scored AS (
         |  SELECT q_id, vec_id AS id, label AS neg_label,
         |    ${cosSql("qv", "v")} AS sim
         |  FROM e, q WHERE vec_id <> q_id AND label <> q_label),
         |ranked AS (SELECT q_id, id, neg_label, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT q_id, id, neg_label, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
         |FROM ranked WHERE rn <= 10""".stripMargin,

    // q114's KN scoring CTEs verbatim, then the q119 histogram replayed
    // with g = lang over the 4dp scores; quartile literals are exact
    // binary doubles so ceil(q*n) can never drift
    "q132_perplexity_bands" ->
      """WITH tok AS (
        |  SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |bg AS (
        |  SELECT doc_id, ts[g] AS w1, ts[g + 1] AS w2
        |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
        |  WHERE len(ts) > 1),
        |model AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
        |  FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS ctx,
        |    CAST(count(*) AS BIGINT) AS fanout FROM model GROUP BY 1),
        |cont AS (SELECT w2, CAST(count(*) AS BIGINT) AS cont
        |  FROM model GROUP BY 1),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS btypes FROM model),
        |sc AS (SELECT b.doc_id,
        |    round(avg(ln(
        |      greatest(m.c - 0.75, 0.0) / x.ctx +
        |      (0.75 * x.fanout / x.ctx) * (n.cont / t.btypes))), 4)
        |      AS avg_logprob,
        |    CAST(count(*) AS BIGINT) AS n_bigrams
        |  FROM bg b JOIN model m USING (w1, w2) JOIN ctx x USING (w1)
        |    JOIN cont n USING (w2) CROSS JOIN tot t
        |  GROUP BY 1),
        |o AS (SELECT d.lang AS g, s.doc_id, s.avg_logprob AS v, s.n_bigrams
        |  FROM sc s JOIN documents d USING (doc_id)),
        |rng AS (SELECT g, min(v) AS lo, max(v) AS hi,
        |    CAST(count(*) AS BIGINT) AS n FROM o GROUP BY g),
        |bins AS (SELECT o.g AS g,
        |    CASE WHEN r.hi = r.lo THEN 0
        |         ELSE LEAST(255, CAST(floor((o.v - r.lo)
        |           / ((r.hi - r.lo) / 256.0)) AS INT)) END AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM o JOIN rng r USING (g) GROUP BY 1, 2),
        |cum AS (SELECT g, bin, c,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY bin) - c AS BIGINT)
        |      AS cum_before
        |  FROM bins),
        |qs AS (SELECT 0.25 AS q UNION ALL SELECT 0.5 UNION ALL SELECT 0.75),
        |tg AS (SELECT g, lo, hi, n, q, ceil(q * n) AS t FROM rng, qs),
        |pick AS (SELECT tg.g AS g, tg.q AS q,
        |    CASE WHEN tg.hi = tg.lo THEN tg.lo
        |         ELSE tg.lo + (tg.hi - tg.lo) / 256.0
        |           * (cum.bin + (tg.t - cum.cum_before) / cum.c) END AS est
        |  FROM cum JOIN tg ON cum.g = tg.g
        |  WHERE cum.cum >= tg.t AND cum.cum_before < tg.t),
        |thr AS (SELECT g,
        |    round(max(CASE WHEN q = 0.25 THEN est END), 6) AS t25,
        |    round(max(CASE WHEN q = 0.5 THEN est END), 6) AS t50,
        |    round(max(CASE WHEN q = 0.75 THEN est END), 6) AS t75
        |  FROM pick GROUP BY 1)
        |SELECT o.doc_id, o.g AS lang, o.v AS avg_logprob, o.n_bigrams,
        |  CASE WHEN o.v <= t.t25 THEN 'tail'
        |       WHEN o.v <= t.t50 THEN 'lower_mid'
        |       WHEN o.v <= t.t75 THEN 'upper_mid'
        |       ELSE 'head' END AS band
        |FROM o JOIN thr t ON o.g = t.g""".stripMargin,

    // q26's capped inverted index verbatim; only the final measure
    // changes — both directed ratios instead of the symmetric one.
    // q135 is the prefix-filtered scale path with bit-identical output,
    // so it shares this oracle (the q31/q48 precedent).
    "q133_containment_pairs" -> containmentSql,
    "q135_containment_prefix" -> containmentSql,

    // the dispatch-closure proof: DuckDB computes the containment pair
    // count once; the engine's exact-path, prefix-path, and matched-
    // tuple counts must all equal it
    "q146_containment_dispatch" ->
      s"""SELECT c AS n_exact, c AS n_prefix, c AS n_both
         |FROM (SELECT CAST(count(*) AS BIGINT) AS c
         |      FROM ($containmentSql) pairs) t""".stripMargin,

    // the cap audit replayed over the same word-3-gram shingle relation:
    // df per shingle, mass/shingle drop counts at cap 3, and per-doc
    // kept-shingle counts for the fully-blinded-doc column
    "q148_shingle_cap_audit" ->
      s"""$shingleCte,
         |dfq AS (SELECT shingle, CAST(count(*) AS BIGINT) AS df_
         |  FROM sh GROUP BY 1),
         |s1 AS (SELECT CAST(count(*) AS BIGINT) AS n_shingles,
         |    CAST(count_if(df_ > 3) AS BIGINT) AS n_shingles_dropped,
         |    CAST(sum(df_) AS BIGINT) AS mass_total,
         |    CAST(coalesce(sum(CASE WHEN df_ > 3 THEN df_ END), 0) AS BIGINT)
         |      AS mass_dropped
         |  FROM dfq),
         |pd AS (SELECT doc_id, count_if(df_ <= 3) AS n_kept
         |  FROM sh JOIN dfq USING (shingle) GROUP BY 1),
         |s2 AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(count_if(n_kept = 0) AS BIGINT) AS n_docs_fully_dropped
         |  FROM pd)
         |SELECT n_shingles, n_shingles_dropped, mass_total, mass_dropped,
         |  round(CAST(mass_dropped AS DOUBLE) / CAST(mass_total AS DOUBLE), 6)
         |    AS mass_dropped_frac,
         |  n_docs, n_docs_fully_dropped
         |FROM s1, s2""".stripMargin,

    // q63's pair + transitive-closure CTEs, q89's split thresholds, then
    // both leakage counts; the cluster row's leaked MUST be 0
    "q138_split_leakage" -> {
      val t80 = operators.Sampling.fractionThreshold(0.8)
      val t90 = operators.Sampling.fractionThreshold(0.9)
      def splitCase(key: String) =
        s"""CASE WHEN md5(CAST($key AS VARCHAR)) < '$t80' THEN 'train'
           |     WHEN md5(CAST($key AS VARCHAR)) < '$t90' THEN 'val'
           |     ELSE 'test' END""".stripMargin
      s"""${shingleCte.replace("WITH toks", "WITH RECURSIVE toks")},
         |capped AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= 100) ok USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM capped a JOIN capped b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.3),
         |eb AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, dst AS r FROM eb
         |  UNION
         |  SELECT re.node, e.dst FROM reach re JOIN eb e ON re.r = e.src
         |  WHERE e.dst <> re.node),
         |comp AS (SELECT node, min(r) AS mn FROM reach GROUP BY node),
         |allc AS (SELECT d.doc_id,
         |    least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |naive AS (SELECT doc_id, ${splitCase("doc_id")} AS split
         |  FROM documents),
         |aware AS (SELECT doc_id, ${splitCase("component")} AS split
         |  FROM allc),
         |np AS (SELECT CAST(coalesce(sum(
         |    CASE WHEN x.split <> y.split THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS leaked
         |  FROM pairs p JOIN naive x ON x.doc_id = p.id_a
         |  JOIN naive y ON y.doc_id = p.id_b),
         |ap AS (SELECT CAST(coalesce(sum(
         |    CASE WHEN x.split <> y.split THEN 1 ELSE 0 END), 0) AS BIGINT)
         |    AS leaked
         |  FROM pairs p JOIN aware x ON x.doc_id = p.id_a
         |  JOIN aware y ON y.doc_id = p.id_b),
         |nc AS (SELECT
         |    CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
         |    CAST(count(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
         |    CAST(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test
         |  FROM naive),
         |ac AS (SELECT
         |    CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS n_train,
         |    CAST(count(*) FILTER (WHERE split = 'val') AS BIGINT) AS n_val,
         |    CAST(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS n_test
         |  FROM aware)
         |SELECT 'naive' AS strategy, np.leaked AS leaked_pairs,
         |  nc.n_train, nc.n_val, nc.n_test FROM np, nc
         |UNION ALL
         |SELECT 'cluster', ap.leaked, ac.n_train, ac.n_val, ac.n_test
         |FROM ap, ac""".stripMargin
    },

    // bit-replay of QualityFilter training: 12 unrolled MATERIALIZED GD
    // rounds (q116's CTE pattern — inlining would re-expand 2^12 scans);
    // every sum's terms pre-divided by n and every derived scalar rounded
    // exactly as the Spark side rounds
    "q139_quality_classifier" ->
      s"""$qualityTrainCte,
         |conf AS (SELECT
         |  CAST(sum(CASE WHEN mm >= 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
         |  CAST(sum(CASE WHEN mm >= 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
         |  CAST(sum(CASE WHEN mm < 0.5 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
         |  CAST(sum(CASE WHEN mm < 0.5 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
         |  FROM mf)
         |SELECT 'weight' AS kind, 'bias' AS k, wb AS v FROM w12
         |UNION ALL SELECT 'weight', 'f_tokens', w1 FROM w12
         |UNION ALL SELECT 'weight', 'f_vowel', w2 FROM w12
         |UNION ALL SELECT 'weight', 'f_wordlen', w3 FROM w12
         |UNION ALL SELECT 'weight', 'f_distinct', w4 FROM w12
         |UNION ALL SELECT 'scaler_mu', 'f_tokens', m1 FROM mu
         |UNION ALL SELECT 'scaler_mu', 'f_vowel', m2 FROM mu
         |UNION ALL SELECT 'scaler_mu', 'f_wordlen', m3 FROM mu
         |UNION ALL SELECT 'scaler_mu', 'f_distinct', m4 FROM mu
         |UNION ALL SELECT 'scaler_sd', 'f_tokens', s1 FROM sd
         |UNION ALL SELECT 'scaler_sd', 'f_vowel', s2 FROM sd
         |UNION ALL SELECT 'scaler_sd', 'f_wordlen', s3 FROM sd
         |UNION ALL SELECT 'scaler_sd', 'f_distinct', s4 FROM sd
         |UNION ALL SELECT 'confusion', 'tp', CAST(tp AS DOUBLE) FROM conf
         |UNION ALL SELECT 'confusion', 'fp', CAST(fp AS DOUBLE) FROM conf
         |UNION ALL SELECT 'confusion', 'fn', CAST(fn AS DOUBLE) FROM conf
         |UNION ALL SELECT 'confusion', 'tn', CAST(tn AS DOUBLE) FROM conf
         |UNION ALL SELECT 'metric', 'accuracy',
         |  ${sqlSnap("CAST(tp + tn AS DOUBLE)/nn.n", 6)} FROM conf, nn""".stripMargin,

    // same trained margins, banded: per-decile calibration (pos rate vs
    // band) and the cumulative-from-top threshold sweep — every value a
    // ratio of exact integer counts over bit-deterministic margins, so
    // no snapping is needed anywhere in this tail
    "q140_filter_calibration" ->
      s"""$qualityTrainCte,
         |bands AS (SELECT
         |    CAST(least(9, greatest(0, floor(mm*10))) AS INT) AS band,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos
         |  FROM mf GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_pos) AS DOUBLE) AS pos FROM bands)
         |SELECT band, n, n_pos,
         |  CAST(n_pos AS DOUBLE)/CAST(n AS DOUBLE) AS pos_rate,
         |  CAST(sum(n_pos) OVER wdesc AS DOUBLE)
         |    / CAST(sum(n) OVER wdesc AS DOUBLE) AS precision_at,
         |  CASE WHEN tot.pos = 0 THEN NULL
         |    ELSE CAST(sum(n_pos) OVER wdesc AS DOUBLE) / tot.pos END
         |    AS recall_at
         |FROM bands, tot
         |WINDOW wdesc AS (ORDER BY band DESC
         |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    // per-n gram explosion over 1-based slices; ratios of exact counts
    "q145_ngram_diversity" ->
      """WITH toks AS (SELECT
        |    regexp_split_to_array(trim(lower(text)), '\s+') AS ts
        |  FROM documents),
        |pos AS (SELECT n, ts, unnest(range(1, len(ts) - n + 2)) AS gpos
        |  FROM toks CROSS JOIN (VALUES (1),(2),(3)) nn(n)),
        |g AS (SELECT n, array_to_string(ts[gpos : gpos + n - 1], ' ') AS gram
        |  FROM pos)
        |SELECT CAST(n AS INT) AS n, CAST(count(*) AS BIGINT) AS total_ngrams,
        |  CAST(count(DISTINCT gram) AS BIGINT) AS distinct_ngrams,
        |  CAST(count(DISTINCT gram) AS DOUBLE)/CAST(count(*) AS DOUBLE)
        |    AS diversity
        |FROM g GROUP BY n""".stripMargin,

    // the k-min-hash sample replayed rank for rank: same 52-bit md5 keys,
    // 256th-smallest-distinct threshold, (value, id)-sorted row_number,
    // ⌊p·(m−1)⌋+1 read-off
    "q149_sampled_quantiles" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH h AS (SELECT doc_id, n_chars AS x, $poly AS hv
         |  FROM (SELECT doc_id, n_chars,
         |          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) z),
         |thr AS (SELECT max(hv) AS thr
         |  FROM (SELECT DISTINCT hv FROM h ORDER BY hv LIMIT 256) z),
         |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM h),
         |samp AS (SELECT x, doc_id,
         |    CAST(row_number() OVER (ORDER BY x, doc_id) AS INT) AS r
         |  FROM h, thr WHERE h.hv <= thr.thr),
         |m AS (SELECT CAST(max(r) AS INT) AS n_sample FROM samp),
         |pr AS (SELECT CAST(unnest([0.01, 0.25, 0.5, 0.75, 0.99]) AS DOUBLE) AS p)
         |SELECT pr.p, samp.x AS q, m.n_sample, tot.n_total
         |FROM pr, m, tot, samp
         |WHERE CAST(floor(pr.p * (m.n_sample - 1)) + 1 AS INT) = samp.r""".stripMargin
    },

    // q149's replay partitioned by lang: per-group 64th-smallest-distinct
    // threshold, per-group rank, same read-off
    "q150_grouped_quantiles" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH h AS (SELECT lang, doc_id, n_chars AS x, $poly AS hv
         |  FROM (SELECT lang, doc_id, n_chars,
         |          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) z),
         |thr AS (SELECT lang, max(hv) AS thr
         |  FROM (SELECT lang, hv,
         |          row_number() OVER (PARTITION BY lang ORDER BY hv) AS kr
         |        FROM (SELECT DISTINCT lang, hv FROM h) d) z
         |  WHERE kr <= 64 GROUP BY lang),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total
         |  FROM h GROUP BY 1),
         |samp AS (SELECT h.lang, x, doc_id,
         |    CAST(row_number() OVER (PARTITION BY h.lang ORDER BY x, doc_id)
         |      AS INT) AS r
         |  FROM h JOIN thr ON h.lang = thr.lang AND h.hv <= thr.thr),
         |m AS (SELECT lang, CAST(max(r) AS INT) AS n_sample
         |  FROM samp GROUP BY lang),
         |pr AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS p)
         |SELECT m.lang, pr.p, samp.x AS q, m.n_sample, tot.n_total
         |FROM pr, m
         |JOIN samp ON m.lang = samp.lang
         |JOIN tot ON m.lang = tot.lang
         |WHERE CAST(floor(pr.p * (m.n_sample - 1)) + 1 AS INT) = samp.r""".stripMargin
    },

    // the stream's final reservoir replayed: per-lang 64 smallest
    // distinct id-hashes carrying n_chars, ranked by (value, hash) —
    // the hash tie-break because the reservoir carries (h, v), not ids
    "q153_stream_quantiles" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH h AS (SELECT lang, doc_id, n_chars AS x, $poly AS hv
         |  FROM (SELECT lang, doc_id, n_chars,
         |          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) z),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total
         |  FROM h GROUP BY 1),
         |rs AS (SELECT lang, hv, x FROM (
         |    SELECT lang, hv, x,
         |      row_number() OVER (PARTITION BY lang ORDER BY hv) AS kr
         |    FROM h) z WHERE kr <= 64),
         |ranked AS (SELECT lang, x,
         |    CAST(row_number() OVER (PARTITION BY lang ORDER BY x, hv)
         |      AS INT) AS r
         |  FROM rs),
         |m AS (SELECT lang, CAST(max(r) AS INT) AS n_sample
         |  FROM ranked GROUP BY lang),
         |pr AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS p)
         |SELECT m.lang, pr.p, ranked.x AS q, m.n_sample, tot.n_total
         |FROM pr, m
         |JOIN ranked ON m.lang = ranked.lang
         |JOIN tot ON m.lang = tot.lang
         |WHERE CAST(floor(pr.p * (m.n_sample - 1)) + 1 AS INT) = ranked.r""".stripMargin
    },

    // full Gopher rule replay: every ratio the same int-derived IEEE
    // division, flags integer comparisons, keep the flag product
    "q154_gopher_rules" ->
      s"""WITH ${gopherCteSql(1)}
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
         |  ellipsis_frac, alpha_frac, stop_hits, r_words, r_mean_len,
         |  r_symbol, r_bullet, r_ellipsis, r_alpha, r_stop,
         |  CAST(r_words * r_mean_len * r_symbol * r_bullet * r_ellipsis
         |    * r_alpha * r_stop AS INT) AS keep
         |FROM gsig""".stripMargin,

    // hashing-trick vectorizer replay: md5-polynomial buckets, integer
    // weights, sqrt-of-integer norms, 6dp components — emitted as
    // (doc_id, idx, component) scalar rows off the dense hdense relation
    // (the same per-component expression the vecs list gathers)
    "q155_hashed_tf" ->
      s"""WITH ${hashedTfCteSql(64)}
         |SELECT doc_id, n_tokens, CAST(i AS INT) AS idx,
         |  CASE WHEN nn > 0 THEN round(w / nn, 6) ELSE 0.0 END AS component
         |FROM hdense""".stripMargin,

    // q155's vectors re-derived, then the q32 SRP-bucket + pair-cosine
    // replay: plane count p auto-derived from count(*) with the same
    // integer bit-length arithmetic as Similarity.autoPlanesTwoLevel,
    // the bucket a substr(48-plane bit string, 1, p) prefix (hyperplanes
    // fills plane-major from one seeded stream)
    "q156_hashed_neardup" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH ${hashedTfCteSql(64)},
         |pp AS (SELECT CAST(LEAST(48, GREATEST(1,
         |    CASE WHEN q <= 1 THEN 1
         |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
         |  FROM (SELECT (count(*) + 63) // 64 AS q FROM vecs)),
         |bv AS (SELECT doc_id, vec,
         |    substr(${bucketSql("vec", planes)}, 1, (SELECT p FROM pp))
         |      AS bucket
         |  FROM vecs),
         |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${cosSql("a.vec", "b.vec")} AS sim
         |  FROM bv a JOIN bv b USING (bucket)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, round(sim, 6) AS sim
         |FROM pairs WHERE sim >= 0.9""".stripMargin
    },

    // q154's keep aggregated per source, Wilson 95% lower bound spelled
    // as the identical IEEE chain (z and z² inlined as round-tripping
    // double literals), total-order rank on the rounded bound
    "q157_source_reputation" -> {
      val z = 1.959963984540054
      val z2 = z * z
      s"""WITH ${gopherCteSql(1)},
         |k AS (SELECT d.source,
         |    CAST(g.r_words * g.r_mean_len * g.r_symbol * g.r_bullet
         |      * g.r_ellipsis * g.r_alpha * g.r_stop AS INT) AS keep
         |  FROM documents d JOIN gsig g USING (doc_id)),
         |a AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |    CAST(sum(keep) AS BIGINT) AS n_keep
         |  FROM k GROUP BY 1),
         |s AS (SELECT source, n_docs, n_keep,
         |    CAST(n_keep AS DOUBLE) / CAST(n_docs AS DOUBLE) AS p,
         |    CAST(n_docs AS DOUBLE) AS n
         |  FROM a),
         |scored AS (SELECT source, n_docs, n_keep,
         |    round(p, 6) AS keep_rate,
         |    round((p + $z2 / (2.0 * n)
         |        - $z * sqrt(p * (1.0 - p) / n + $z2 / (4.0 * n * n)))
         |      / (1.0 + $z2 / n), 6) AS wilson_lb
         |  FROM s)
         |SELECT source, n_docs, n_keep, keep_rate, wilson_lb,
         |  CAST(row_number() OVER (ORDER BY wilson_lb DESC, source ASC)
         |    AS INT) AS rnk
         |FROM scored""".stripMargin
    },

    // q26's exact pair set + q28's banded candidates + one semi join
    "q170_lsh_recall_audit" ->
      lshRecallAuditOracle("documents", "", sampled = false),

    // the SAME audit replayed over the md5-k-min sampled sub-corpus —
    // the sample threshold, both pair passes, and the recall fold all
    // re-derived in SQL, plus the emitted sample sizes
    "q195_lsh_recall_sampled" ->
      lshRecallAuditOracle("sdocs", kminDocSampleCte(256), sampled = true),

    // q168's estimator calibration replayed over the sampled sub-corpus
    "q196_minhash_estimator_sampled" ->
      minhashEstimatorAuditOracle("sdocs", kminDocSampleCte(256)),

    // home bucket + margin-ranked single-bit flips (|dot| asc, plane
    // asc), one-bucket corpus join, cosine rank — probes as string
    // surgery on the inlined 4-plane bit string
    "q169_multiprobe_ann_topk" -> {
      val planes = Similarity.hyperplanes(3, 64)
      val mrows = planes.zipWithIndex.map { case (p, i) =>
        s"""SELECT q_id, qv, home, $i AS i,
           |  abs(${dotSql("qv", planeSql(p))}) AS m FROM qm""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |c AS (SELECT id, v, ${bucketSql("v", planes)} AS bucket FROM e),
         |qm AS (SELECT id AS q_id, v AS qv,
         |    ${bucketSql("v", planes)} AS home
         |  FROM e WHERE id < 5),
         |mrows AS ($mrows),
         |flips AS (SELECT q_id, qv,
         |    substr(home, 1, i)
         |      || (CASE WHEN substr(home, i + 1, 1) = '1'
         |          THEN '0' ELSE '1' END)
         |      || substr(home, i + 2, 3) AS bucket
         |  FROM (SELECT q_id, qv, home, i,
         |      row_number() OVER (PARTITION BY q_id ORDER BY m ASC, i ASC)
         |        AS rn
         |    FROM mrows) t WHERE rn <= 3),
         |probes AS (SELECT q_id, qv, home AS bucket FROM qm
         |  UNION ALL SELECT q_id, qv, bucket FROM flips),
         |scored AS (SELECT p.q_id, c.id, ${cosSql("c.v", "p.qv")} AS sim
         |  FROM probes p JOIN c USING (bucket) WHERE c.id <> p.q_id),
         |ranked AS (SELECT q_id, id, sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
         |FROM ranked WHERE rn <= 10""".stripMargin
    },

    // q28's banded candidates + q97's integer n_match + q26's exact
    // intersection, err computed from the two ROUNDED values
    "q168_minhash_estimator_audit" ->
      minhashEstimatorAuditOracle("documents", ""),

    // q124's quantizer CTE, then the xy2d loop unrolled one CTE per bit
    // level: rx/ry flags, d += s²·(3rx ⊕ ry), conditional flip-then-swap
    "q167_hilbert_key" -> {
      val bits = 8
      val levels = (0 until bits).map { k =>
        val s = 1L << (bits - 1 - k)
        s"""h${k + 1} AS (SELECT l_orderkey, l_linenumber,
           |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - y
           |      ELSE y END) ELSE x END AS x,
           |    CASE WHEN ry = 0 THEN (CASE WHEN rx = 1 THEN ${s - 1} - x
           |      ELSE x END) ELSE y END AS y,
           |    d + ${s * s} * CAST(xor(3 * rx, ry) AS BIGINT) AS d
           |  FROM (SELECT *,
           |      CASE WHEN (x & $s) > 0 THEN CAST(1 AS BIGINT)
           |        ELSE CAST(0 AS BIGINT) END AS rx,
           |      CASE WHEN (y & $s) > 0 THEN CAST(1 AS BIGINT)
           |        ELSE CAST(0 AS BIGINT) END AS ry
           |    FROM h$k) z)""".stripMargin
      }.mkString(",\n")
      s"""WITH b AS (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS xlo,
         |         CAST(max(l_partkey) AS BIGINT) AS xhi,
         |         CAST(min(l_suppkey) AS BIGINT) AS ylo,
         |         CAST(max(l_suppkey) AS BIGINT) AS yhi
         |  FROM lineitem),
         |s AS (
         |  SELECT xlo, ylo,
         |    greatest(0, CAST(length(bin(xhi - xlo)) AS INT) - $bits) AS sx,
         |    greatest(0, CAST(length(bin(yhi - ylo)) AS INT) - $bits) AS sy
         |  FROM b),
         |h0 AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (CAST(l_partkey AS BIGINT) - xlo) >> sx AS x,
         |    (CAST(l_suppkey AS BIGINT) - ylo) >> sy AS y,
         |    CAST(0 AS BIGINT) AS d
         |  FROM lineitem, s),
         |$levels
         |SELECT l_orderkey, l_linenumber, CAST(d AS BIGINT) AS hkey
         |FROM h$bits""".stripMargin
    },

    // windows via list slicing + md5, canonical = min (doc, pos) struct,
    // span text re-derived from the first holder's token list
    "q164_crossdoc_spans" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
        |w AS (SELECT doc_id, CAST(g AS INT) AS i,
        |    md5(array_to_string(ts[CAST(g AS INT):CAST(g + 7 AS INT)], ' '))
        |      AS h
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 8 + 2)) AS g) u
        |  WHERE len(ts) >= 8),
        |agg AS (SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        |    CAST(count(*) AS BIGINT) AS n_occ,
        |    min(struct_pack(d := doc_id, i := i)) AS first
        |  FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |top AS (SELECT h, n_docs, n_occ,
        |    struct_extract(first, 'd') AS first_doc,
        |    struct_extract(first, 'i') AS first_pos
        |  FROM agg ORDER BY n_docs DESC, n_occ DESC, h ASC LIMIT 100)
        |SELECT top.h, top.n_docs, top.n_occ, top.first_doc, top.first_pos,
        |  array_to_string(t.ts[CAST(top.first_pos AS INT):
        |    CAST(top.first_pos + 7 AS INT)], ' ') AS span,
        |  CAST(row_number() OVER (ORDER BY n_docs DESC, n_occ DESC, h ASC)
        |    AS INT) AS rank
        |FROM top JOIN t ON t.doc_id = top.first_doc""".stripMargin,

    // coverage = union of [i, i+L) over flagged non-canonical
    // occurrences; anti-join per (doc, pos); ordered reassembly; TOTAL
    "q165_crossdoc_excise" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), '\s+') AS ts FROM documents),
        |w AS (SELECT doc_id, CAST(g AS INT) AS i,
        |    md5(array_to_string(ts[CAST(g AS INT):CAST(g + 7 AS INT)], ' '))
        |      AS h
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ts) - 8 + 2)) AS g) u
        |  WHERE len(ts) >= 8),
        |canon AS (SELECT h,
        |    struct_extract(min(struct_pack(d := doc_id, i := i)), 'd') AS fd,
        |    struct_extract(min(struct_pack(d := doc_id, i := i)), 'i') AS fi
        |  FROM w GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
        |bad AS (SELECT w.doc_id, w.i FROM w JOIN canon USING (h)
        |  WHERE NOT (w.doc_id = canon.fd AND w.i = canon.fi)),
        |cov AS (SELECT DISTINCT doc_id, CAST(p AS INT) AS pos
        |  FROM bad, LATERAL (SELECT unnest(range(i, i + 8)) AS p) u),
        |tk AS (SELECT doc_id, CAST(g AS INT) AS pos, ts[CAST(g AS INT)] AS tok
        |  FROM t, LATERAL (SELECT unnest(range(1, len(ts) + 1)) AS g) u),
        |kept AS (SELECT tk.doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    array_to_string(list(tk.tok ORDER BY tk.pos), ' ') AS cleaned
        |  FROM tk ANTI JOIN cov ON cov.doc_id = tk.doc_id
        |    AND cov.pos = tk.pos
        |  WHERE tk.tok <> '' GROUP BY tk.doc_id),
        |nw AS (SELECT doc_id,
        |    CAST(len(list_filter(ts, x -> x <> '')) AS BIGINT) AS n_words
        |  FROM t)
        |SELECT nw.doc_id, nw.n_words,
        |  nw.n_words - coalesce(k.n_kept, 0) AS n_removed,
        |  coalesce(k.cleaned, '') AS cleaned
        |FROM nw LEFT JOIN kept k USING (doc_id)""".stripMargin,

    // hard-EM unigram trainer replay: recursive Viterbi dp/backtrace per
    // round, linear-budget prune, floor-snapped Laplace logp
    "q162_unigram_vocab" -> {
      s"""WITH ${unigramCtes(200, 60, 4, 2)}
         |SELECT f.piece, f.n, l.logp,
         |  CAST(row_number() OVER (ORDER BY f.n DESC, f.piece ASC) AS INT)
         |    AS rank
         |FROM ugfin f JOIN uglpF l USING (piece)""".stripMargin
    },

    // the trained model applied: one more Viterbi pass under the FINAL
    // probs (uglpF), then the q129 word-order reassembly, TOTAL over docs
    "q163_unigram_encode" -> {
      s"""WITH ${unigramCtes(200, 60, 4, 2)},
         |${unigramViterbiCtes("ugdpE", "ugbtE", "uglpF", 4)},
         |dw AS (SELECT doc_id, g AS pos, ws[CAST(g AS INT)] AS w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]') AS ws
         |        FROM documents) t,
         |       LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS g) u),
         |enc AS (SELECT doc_id, CAST(sum(len(s.pieces)) AS INT) AS n_tokens,
         |    array_to_string(flatten(list(s.pieces ORDER BY dw.pos)), ' ')
         |      AS encoded
         |  FROM dw JOIN ugbtE s USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(e.n_tokens, 0) AS n_tokens,
         |  coalesce(e.encoded, '') AS encoded
         |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin
    },

    // counts → p → sqrt chain → group-ordered list_reduce normalizer:
    // the identical fixed-order fold (first-element seed == 0.0 seed)
    "q161_temperature_mixture" ->
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY 1),
        |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total FROM c),
        |s AS (SELECT source, n_docs,
        |    CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS p
        |  FROM c CROSS JOIN t),
        |w AS (SELECT source, n_docs, p, sqrt(p) AS w FROM s),
        |tw AS (SELECT list_reduce(list(w ORDER BY source),
        |    (acc, x) -> acc + x) AS tw FROM w)
        |SELECT source, n_docs, round(p, 6) AS p,
        |  round(w / tw, 6) AS share,
        |  round(w / tw / p, 4) AS boost
        |FROM w CROSS JOIN tw""".stripMargin,

    // sign packing as the identical 32-term power-of-two sums, Hamming
    // via bit_count(xor), both windows with the same id tiebreaks
    "q160_binary_ann_topk" -> {
      def halfSql(v: String, lo: Int, hi: Int): String =
        (lo until hi).map(i =>
          s"CASE WHEN $v[${i + 1}] >= 0 THEN ${1L << (hi - 1 - i)} ELSE 0 END")
          .mkString("(", " + ", ")")
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |codes AS (SELECT id, v,
         |    CAST(${halfSql("v", 0, 32)} AS BIGINT) AS hi,
         |    CAST(${halfSql("v", 32, 64)} AS BIGINT) AS lo
         |  FROM e),
         |q AS (SELECT id AS q_id, v AS qv, hi AS qhi, lo AS qlo
         |  FROM codes WHERE id < 5),
         |short AS (SELECT q.q_id, c.id,
         |    bit_count(xor(c.hi, q.qhi)) + bit_count(xor(c.lo, q.qlo)) AS hd
         |  FROM codes c CROSS JOIN q WHERE c.id <> q.q_id),
         |cand AS (SELECT q_id, id FROM (
         |    SELECT q_id, id,
         |      row_number() OVER (PARTITION BY q_id
         |        ORDER BY hd ASC, id ASC) AS hrn
         |    FROM short) t WHERE hrn <= 80),
         |scored AS (SELECT cand.q_id, cand.id,
         |    ${cosSql("c.v", "q.qv")} AS sim
         |  FROM cand JOIN codes c ON c.id = cand.id
         |  JOIN q ON q.q_id = cand.q_id),
         |ranked AS (SELECT q_id, id, sim,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY sim DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
         |FROM ranked WHERE rn <= 10""".stripMargin
    },

    // q155's bucket weights re-derived, then the smooth-idf chain:
    // 6dp-snapped ln idf, u = w·idf, index-order list_reduce norm
    // (first-element-seeded fold == the 0.0-seeded loop: 0.0 + x = x)
    "q159_hashed_tfidf" ->
      s"""WITH ${hashedTfCteSql(64)},
         |hN AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
         |hdf AS (SELECT bucket, CAST(count(*) AS DOUBLE) AS df_
         |  FROM hag WHERE w <> 0 GROUP BY 1),
         |hidf AS (SELECT bucket,
         |    round(ln((n_docs + 1.0) / (df_ + 1.0)) + 1.0, 6) AS idf
         |  FROM hdf CROSS JOIN hN),
         |hu AS (SELECT hag.doc_id, hag.bucket,
         |    CAST(hag.w AS DOUBLE) * hidf.idf AS u
         |  FROM hag JOIN hidf USING (bucket)),
         |hud AS (SELECT hnt.doc_id, hnt.n_tokens, g.i,
         |    coalesce(hu.u, 0.0) AS u
         |  FROM hnt CROSS JOIN (SELECT unnest(range(64)) AS i) g
         |  LEFT JOIN hu ON hu.doc_id = hnt.doc_id AND hu.bucket = g.i),
         |harr AS (SELECT doc_id, min(n_tokens) AS n_tokens,
         |    list(u ORDER BY i) AS u_arr
         |  FROM hud GROUP BY 1),
         |hnorm AS (SELECT doc_id, n_tokens, u_arr,
         |    sqrt(list_reduce(list_transform(u_arr, x -> x * x),
         |      (acc, z) -> acc + z)) AS nn
         |  FROM harr)
         |SELECT h.doc_id, h.n_tokens, CAST(h.i AS INT) AS idx,
         |  CASE WHEN n.nn > 0 THEN round(h.u / n.nn, 6) ELSE 0.0 END
         |    AS component
         |FROM hud h JOIN hnorm n USING (doc_id)""".stripMargin,

    // q156's bucket relation re-derived (same auto-p prefix), then the
    // population fold: candidate-pair mass and top-bucket concentration
    "q158_srp_bucket_profile" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH ${hashedTfCteSql(64)},
         |pp AS (SELECT CAST(LEAST(48, GREATEST(1,
         |    CASE WHEN q <= 1 THEN 1
         |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
         |  FROM (SELECT (count(*) + 63) // 64 AS q FROM vecs)),
         |bv AS (SELECT substr(${bucketSql("vec", planes)}, 1,
         |    (SELECT p FROM pp)) AS bucket
         |  FROM vecs),
         |pops AS (SELECT bucket, count(*) AS n FROM bv GROUP BY 1)
         |SELECT CAST(sum(n) AS BIGINT) AS n_vecs,
         |  (SELECT p FROM pp) AS n_planes,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  CAST(max(n) AS BIGINT) AS max_pop,
         |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs,
         |  round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
         |    AS top_frac
         |FROM pops""".stripMargin
    },

    // the dispatch replayed live: the pair-load factor from exact integer
    // sums over the same 48-plane-prefix bucket pops, then BOTH pair
    // paths gated by the statistic (the ungated side's input CTE is
    // emptied, so the kmeans chain trains on nothing when SRP wins) —
    // whichever route the engine takes, the oracle takes the same one
    "q193_vector_route_dispatch" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH ${hashedTfCteSql(64)},
         |sv AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${probedSrpCteSql("s", "sv", planes, Similarity.DefaultSrpProbes)},
         |pops AS (SELECT home AS bucket, count(*) AS n FROM sbv GROUP BY 1),
         |st AS (SELECT CAST(sum(n * (n - 1)) AS DOUBLE)
         |    / (CAST(sum(n) AS DOUBLE) * CAST(63 AS DOUBLE)) AS conc
         |  FROM pops),
         |gprobes AS MATERIALIZED (SELECT id, v, bucket FROM sprobes
         |  WHERE (SELECT conc FROM st) < CAST(3.0 AS DOUBLE)),
         |spf AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    round(${cosSql("a.v", "b.v")}, 6) AS sim
         |  FROM gprobes a JOIN gprobes b USING (bucket)
         |  WHERE a.id < b.id
         |    AND ${cosSql("a.v", "b.v")} >= CAST(0.9 AS DOUBLE)),
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs
         |  WHERE (SELECT conc FROM st) >= CAST(3.0 AS DOUBLE)),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn <= ${Similarity.DefaultCellProbes}),
         |cp AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    round(${cosSql("a.v", "b.v")}, 6) AS sim
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= CAST(0.9 AS DOUBLE))
         |SELECT id_a, id_b, sim FROM spf
         |UNION ALL SELECT id_a, id_b, sim FROM cp""".stripMargin
    },

    // the sampled true-recall audit replayed end to end: md5 sample
    // threshold, hashed-TF vectors over sdocs, brute-force exact pairs,
    // both generators, and the recall folds
    "q198_vector_recall_sampled" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH ${kminDocSampleCte(256)}${hashedTfCteSql(64, "sdocs")},
         |tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${cosSql("a.vec", "b.vec")} AS sim
         |  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id),
         |tpf AS (SELECT id_a, id_b FROM tp WHERE sim >= 0.9),
         |pp AS (SELECT CAST(LEAST(48, GREATEST(1,
         |    CASE WHEN q <= 1 THEN 1
         |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
         |  FROM (SELECT (count(*) + 63) // 64 AS q FROM vecs)),
         |bv AS (SELECT doc_id, vec,
         |    substr(${bucketSql("vec", planes)}, 1, (SELECT p FROM pp))
         |      AS bucket
         |  FROM vecs),
         |spr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${cosSql("a.vec", "b.vec")} AS sim
         |  FROM bv a JOIN bv b USING (bucket)
         |  WHERE a.doc_id < b.doc_id),
         |sp AS (SELECT id_a, id_b FROM spr WHERE sim >= 0.9),
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |cpr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    ${cosSql("a.v", "b.v")} AS sim
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id),
         |cp AS (SELECT id_a, id_b FROM cpr WHERE sim >= 0.9),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tpf),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_srp FROM sp),
         |ncl AS (SELECT CAST(count(*) AS BIGINT) AS n_cell FROM cp),
         |nsd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled
         |  FROM sdocs),
         |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
         |  FROM documents)
         |SELECT CAST(0.9 AS DOUBLE) AS threshold, n_true, n_srp, n_cell,
         |  CASE WHEN n_true > 0 THEN round(CAST(n_srp AS DOUBLE)
         |    / CAST(n_true AS DOUBLE), 6) END AS recall_srp,
         |  CASE WHEN n_true > 0 THEN round(CAST(n_cell AS DOUBLE)
         |    / CAST(n_true AS DOUBLE), 6) END AS recall_cell,
         |  n_docs_sampled, n_docs_total
         |FROM nt CROSS JOIN ns CROSS JOIN ncl
         |CROSS JOIN nsd CROSS JOIN ntot""".stripMargin
    },

    // both generators replayed UNGATED, counted, and intersected on the
    // whole rounded tuple — the oracle predicts the overlap the engine
    // measures (gate-scale prover; q199 is the bounded deployment form)
    "q194_vector_route_recall" ->
      s"""WITH ${hashedTfCteSql(64)},
         |${routeOverlapBodySql()}
         |SELECT n_srp, n_cell, n_both
         |FROM ns CROSS JOIN nc CROSS JOIN nb""".stripMargin,

    // the same overlap audit replayed over the md5-k-min 256-doc sample
    // (kminDocSampleCte = the engine's exact sampling rule), plus the
    // sample-basis counts
    "q199_vector_overlap_sampled" ->
      s"""WITH ${kminDocSampleCte(256)}${hashedTfCteSql(64, "sdocs")},
         |${routeOverlapBodySql()},
         |nsd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled
         |  FROM sdocs),
         |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
         |  FROM documents)
         |SELECT n_srp, n_cell, n_both, n_docs_sampled, n_docs_total
         |FROM ns CROSS JOIN nc CROSS JOIN nb
         |CROSS JOIN nsd CROSS JOIN ntot""".stripMargin,

    // the threshold-sensitivity audit replayed per prefix: hashed-TF is
    // per-doc pure, so one vecs CTE over all documents filtered by the
    // md5-k-min rank thresholds (DISTINCT kth-smallest 52-bit key — the
    // engine's exact sampling rule) equals vectorizing each sample; each
    // prefix group re-derives planes/buckets/kmeans and, on the bounded
    // prefixes, the brute-force truth and both verified generator counts
    "q201_route_threshold_sensitivity" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH ${hashedTfCteSql(64)},
         |hv0 AS (SELECT doc_id, $poly AS hv
         |  FROM (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h
         |        FROM documents) z),
         |at AS (SELECT max(hv) AS thr
         |  FROM (SELECT DISTINCT hv FROM hv0 ORDER BY hv LIMIT 256) t),
         |bt AS (SELECT max(hv) AS thr
         |  FROM (SELECT DISTINCT hv FROM hv0 ORDER BY hv LIMIT 1024) t),
         |vh AS (SELECT v.doc_id, v.vec, h.hv
         |  FROM vecs v JOIN hv0 h USING (doc_id)),
         |sav AS (SELECT doc_id, vec FROM vh, at WHERE vh.hv <= at.thr),
         |sbv AS (SELECT doc_id, vec FROM vh, bt WHERE vh.hv <= bt.thr),
         |scv AS (SELECT doc_id, vec FROM vh),
         |${routeSensitivityGroupSql("sa", "sav", recall = true)},
         |${routeSensitivityGroupSql("sb", "sbv", recall = true)},
         |${routeSensitivityGroupSql("sc", "scv", recall = false)}
         |SELECT '0256' AS prefix, * FROM sarow
         |UNION ALL SELECT '1024' AS prefix, * FROM sbrow
         |UNION ALL SELECT 'full' AS prefix, * FROM scrow""".stripMargin
    },

    // the multi-probe cell generator replayed: same auto-k kmeans chain
    // as q193's cell route, assignment window kept to rn <= 2, pair join
    // on shared cell, DISTINCT on the whole rounded tuple (a pair can
    // co-occur in up to nProbe shared cells; sim is the same IEEE chain
    // per occurrence, so the tuple dedups exactly)
    "q202_cell_multiprobe_neardup" ->
      s"""WITH ${hashedTfCteSql(64)},
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn <= 2)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  round(${cosSql("a.v", "b.v")}, 6) AS sim
         |FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
         |WHERE ${cosSql("a.v", "b.v")} >= CAST(0.9 AS DOUBLE)""".stripMargin,

    // q198's replay with the cell assignment window at rn <= 2 and the
    // pair set DISTINCT'd — the probe dial's recall and candidate-mass
    // price on the identical sample
    "q203_cell_probe_recall_sampled" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH ${kminDocSampleCte(256)}${hashedTfCteSql(64, "sdocs")},
         |tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${cosSql("a.vec", "b.vec")} AS sim
         |  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id),
         |tpf AS (SELECT id_a, id_b FROM tp WHERE sim >= 0.9),
         |pp AS (SELECT CAST(LEAST(48, GREATEST(1,
         |    CASE WHEN q <= 1 THEN 1
         |         ELSE length(bin(CAST(q - 1 AS BIGINT))) END)) AS INT) AS p
         |  FROM (SELECT (count(*) + 63) // 64 AS q FROM vecs)),
         |bv AS (SELECT doc_id, vec,
         |    substr(${bucketSql("vec", planes)}, 1, (SELECT p FROM pp))
         |      AS bucket
         |  FROM vecs),
         |spr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${cosSql("a.vec", "b.vec")} AS sim
         |  FROM bv a JOIN bv b USING (bucket)
         |  WHERE a.doc_id < b.doc_id),
         |sp AS (SELECT id_a, id_b FROM spr WHERE sim >= 0.9),
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn <= 2),
         |cpr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    ${cosSql("a.v", "b.v")} AS sim
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id),
         |cp AS (SELECT DISTINCT id_a, id_b FROM cpr WHERE sim >= 0.9),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tpf),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_srp FROM sp),
         |ncl AS (SELECT CAST(count(*) AS BIGINT) AS n_cell FROM cp),
         |nsd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled
         |  FROM sdocs),
         |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
         |  FROM documents)
         |SELECT CAST(0.9 AS DOUBLE) AS threshold, n_true, n_srp, n_cell,
         |  CASE WHEN n_true > 0 THEN round(CAST(n_srp AS DOUBLE)
         |    / CAST(n_true AS DOUBLE), 6) END AS recall_srp,
         |  CASE WHEN n_true > 0 THEN round(CAST(n_cell AS DOUBLE)
         |    / CAST(n_true AS DOUBLE), 6) END AS recall_cell,
         |  n_docs_sampled, n_docs_total
         |FROM nt CROSS JOIN ns CROSS JOIN ncl
         |CROSS JOIN nsd CROSS JOIN ntot""".stripMargin
    },

    // the auto dispatcher's probed CELL branch replayed UNGATED (the
    // lane forces zipfConcentration = 0, so the oracle needs no
    // concentration CTE): same auto-k kmeans chain, assignment window
    // at rn <= DefaultCellProbes, DISTINCT on the rounded pair tuple —
    // a dispatcher shipping rank-1 (or any other probe count) would
    // hash-mismatch here at every SF
    "q204_auto_route_probed_cells" ->
      s"""WITH ${hashedTfCteSql(64)},
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn <= ${Similarity.DefaultCellProbes})
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  round(${cosSql("a.v", "b.v")}, 6) AS sim
         |FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
         |WHERE ${cosSql("a.v", "b.v")} >= CAST(0.9 AS DOUBLE)""".stripMargin,

    // multi-probe × nested quantizer replayed end to end: the q200
    // oracle's two Lloyd chains (fine TRAINED on rank-1 residuals — the
    // engine trains once, shared across probes) plus the r16 probe
    // composition: top-2 COARSE window keeping each probe's centroid,
    // per-(id, probe) residual, rank-1 fine assign inside each probe,
    // composite BIGINT cell = c1·kf + fc, pair join on the composite,
    // DISTINCT on the rounded tuple
    "q205_nested_multiprobe_neardup" -> {
      val ceilWant = "count(*) // 32 + CASE WHEN count(*) % 32 > 0 THEN 1 ELSE 0 END"
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |wt AS (SELECT CAST($ceilWant AS BIGINT) AS want FROM e),
         |sq AS (SELECT min(s) AS s FROM (
         |    SELECT GREATEST(1, CAST(floor(sqrt(CAST(want AS DOUBLE))) AS BIGINT) - 2) + i AS s
         |    FROM wt, range(6) t(i)) z
         |  WHERE s * s >= (SELECT want FROM wt)),
         |kk AS (SELECT CAST(LEAST(8, s) AS INT) AS kc,
         |    CAST(LEAST(8, want // LEAST(8, s)
         |      + CASE WHEN want % LEAST(8, s) > 0 THEN 1 ELSE 0 END) AS INT) AS kf
         |  FROM sq, wt),
         |${kmeansCteSqlPfx("k", "SELECT kc FROM kk",
            "SELECT LEAST(16384, GREATEST(64, 4 * kc)) FROM kk", 2, "e")},
         |kcent AS (SELECT cell, cv FROM kcent2),
         |kassign AS (SELECT id, v, cell, cv FROM (
         |    SELECT e.id, e.v, c.cell, c.cv,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, kcent c) t WHERE rn = 1),
         |resid AS (SELECT id,
         |    list_transform(list_zip(v, cv), p -> p[1] - p[2]) AS v
         |  FROM kassign),
         |${kmeansCteSqlPfx("f", "SELECT kf FROM kk",
            "SELECT LEAST(16384, GREATEST(64, 4 * kf)) FROM kk", 2, "resid")},
         |fcent AS (SELECT cell, cv FROM fcent2),
         |kprobe AS (SELECT id, v, cell, cv FROM (
         |    SELECT e.id, e.v, c.cell, c.cv,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, kcent c) t WHERE rn <= 2),
         |residp AS (SELECT id, cell AS c1, v,
         |    list_transform(list_zip(v, cv), p -> p[1] - p[2]) AS rv
         |  FROM kprobe),
         |fassignp AS (SELECT id, c1, cell AS fc FROM (
         |    SELECT r.id, r.c1, c.cell,
         |      row_number() OVER (PARTITION BY r.id, r.c1
         |        ORDER BY ${cosSql("r.rv", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM residp r, fcent c) t WHERE rn = 1),
         |comp AS (SELECT r.id, r.v,
         |    CAST(r.c1 AS BIGINT) * (SELECT kf FROM kk)
         |      + CAST(f.fc AS BIGINT) AS cell
         |  FROM residp r JOIN fassignp f ON r.id = f.id AND r.c1 = f.c1)
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  round(${cosSql("a.v", "b.v")}, 6) AS sim
         |FROM comp a JOIN comp b ON a.cell = b.cell AND a.id < b.id
         |WHERE ${cosSql("a.v", "b.v")} >= CAST(0.3 AS DOUBLE)""".stripMargin
    },

    // the q65 min-id-survivor replay over the hashed-TF vectors (the
    // output-bound lever on the concentrated corpus): same auto-k
    // kmeans chain as q193's cell route, rank-1 assignment, dropped =
    // any doc with a lower-id cosine >= 0.9 cell-mate, one row per doc
    "q206_semdedup_text" ->
      s"""WITH ${hashedTfCteSql(64)},
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT b.id FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= CAST(0.9 AS DOUBLE))
         |SELECT a.id AS doc_id, CAST(a.cell AS INT) AS cell,
         |  CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS kept
         |FROM assign a LEFT JOIN dropped d ON d.id = a.id""".stripMargin,

    // the probed-SRP pair route replayed end to end: 48-plane prefix
    // bucket, per-plane |margin| rows filtered to i < p, rank-1 flip by
    // (m asc, i asc), home ∪ flip probe set, pair join on the probed
    // bucket, DISTINCT on the rounded tuple
    "q207_srp_multiprobe_neardup" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH e0 AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |${probedSrpCteSql("s", "e0", planes, 2)}
         |SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |  round(${cosSql("a.v", "b.v")}, 6) AS sim
         |FROM sprobes a JOIN sprobes b USING (bucket)
         |WHERE a.id < b.id
         |  AND ${cosSql("a.v", "b.v")} >= CAST(0.3 AS DOUBLE)""".stripMargin
    },

    // q198's replay with the SRP side at nProbes = 2 (probed buckets +
    // DISTINCT'd pair set) and the cell side at rank-1 — the SRP probe
    // dial's recall and candidate-mass price on the identical sample
    "q208_srp_probe_recall_sampled" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH ${kminDocSampleCte(256)}${hashedTfCteSql(64, "sdocs")},
         |tp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |    ${cosSql("a.vec", "b.vec")} AS sim
         |  FROM vecs a JOIN vecs b ON a.doc_id < b.doc_id),
         |tpf AS (SELECT id_a, id_b FROM tp WHERE sim >= 0.9),
         |sv AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${probedSrpCteSql("s", "sv", planes, 2)},
         |spr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    ${cosSql("a.v", "b.v")} AS sim
         |  FROM sprobes a JOIN sprobes b USING (bucket)
         |  WHERE a.id < b.id),
         |sp AS (SELECT DISTINCT id_a, id_b FROM spr WHERE sim >= 0.9),
         |e AS (SELECT doc_id AS id, vec AS v FROM vecs),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |cpr AS (SELECT a.id AS id_a, b.id AS id_b,
         |    ${cosSql("a.v", "b.v")} AS sim
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id),
         |cp AS (SELECT id_a, id_b FROM cpr WHERE sim >= 0.9),
         |nt AS (SELECT CAST(count(*) AS BIGINT) AS n_true FROM tpf),
         |ns AS (SELECT CAST(count(*) AS BIGINT) AS n_srp FROM sp),
         |ncl AS (SELECT CAST(count(*) AS BIGINT) AS n_cell FROM cp),
         |nsd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled
         |  FROM sdocs),
         |ntot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs_total
         |  FROM documents)
         |SELECT CAST(0.9 AS DOUBLE) AS threshold, n_true, n_srp, n_cell,
         |  CASE WHEN n_true > 0 THEN round(CAST(n_srp AS DOUBLE)
         |    / CAST(n_true AS DOUBLE), 6) END AS recall_srp,
         |  CASE WHEN n_true > 0 THEN round(CAST(n_cell AS DOUBLE)
         |    / CAST(n_true AS DOUBLE), 6) END AS recall_cell,
         |  n_docs_sampled, n_docs_total
         |FROM nt CROSS JOIN ns CROSS JOIN ncl
         |CROSS JOIN nsd CROSS JOIN ntot""".stripMargin
    },

    // q150's quartile replay (p = 0.25/0.75, k = 64) feeding Tukey
    // fences and one exact counting pass
    "q152_length_outliers" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH h AS (SELECT lang, doc_id, n_chars AS x, $poly AS hv
         |  FROM (SELECT lang, doc_id, n_chars,
         |          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) z),
         |thr AS (SELECT lang, max(hv) AS thr
         |  FROM (SELECT lang, hv,
         |          row_number() OVER (PARTITION BY lang ORDER BY hv) AS kr
         |        FROM (SELECT DISTINCT lang, hv FROM h) d) z
         |  WHERE kr <= 64 GROUP BY lang),
         |samp AS (SELECT h.lang, x, doc_id,
         |    CAST(row_number() OVER (PARTITION BY h.lang ORDER BY x, doc_id)
         |      AS INT) AS r
         |  FROM h JOIN thr ON h.lang = thr.lang AND h.hv <= thr.thr),
         |m AS (SELECT lang, CAST(max(r) AS INT) AS n_sample
         |  FROM samp GROUP BY lang),
         |pr AS (SELECT CAST(unnest([0.25, 0.75]) AS DOUBLE) AS p),
         |qs AS (SELECT m.lang, pr.p, samp.x AS q
         |  FROM pr, m JOIN samp ON m.lang = samp.lang
         |  WHERE CAST(floor(pr.p * (m.n_sample - 1)) + 1 AS INT) = samp.r),
         |wide AS (SELECT lang,
         |    min(CASE WHEN p = 0.25 THEN q END) AS q1,
         |    min(CASE WHEN p = 0.75 THEN q END) AS q3
         |  FROM qs GROUP BY 1),
         |f AS (SELECT lang, q1, q3,
         |    CAST(q1 AS DOUBLE) - 3.0 * CAST(q3 - q1 AS DOUBLE) AS lo,
         |    CAST(q3 AS DOUBLE) + 3.0 * CAST(q3 - q1 AS DOUBLE) AS hi
         |  FROM wide)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(count_if(CAST(n_chars AS DOUBLE) < lo) AS BIGINT) AS n_low,
         |  CAST(count_if(CAST(n_chars AS DOUBLE) > hi) AS BIGINT) AS n_high,
         |  min(q1) AS q1, min(q3) AS q3, min(lo) AS lo, min(hi) AS hi
         |FROM documents d JOIN f ON d.lang = f.lang GROUP BY 1""".stripMargin
    },

    // q145's gram CTEs verbatim; the distinct count is replaced by the
    // q126 KMV replay (md5 → 52-bit integer → per-n k-min order
    // statistic → Beyer '07 (k−1)/u_k, exact below k).
    "q147_ngram_diversity_kmv" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      // one Scala-computed double on both sides (a DuckDB inline product
      // would be DECIMAL and overflow): (k−1)·2^52 for k = 256
      val numer = 255.0 * 4503599627370496.0
      val estD = s"CASE WHEN a.n_sk < 256 THEN CAST(a.n_sk AS DOUBLE) " +
        s"ELSE CAST('$numer' AS DOUBLE) / CAST(a.u_k AS DOUBLE) END"
      s"""WITH toks AS (SELECT
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents),
         |pos AS (SELECT n, ts, unnest(range(1, len(ts) - n + 2)) AS gpos
         |  FROM toks CROSS JOIN (VALUES (1),(2),(3)) nn(n)),
         |g AS (SELECT n, array_to_string(ts[gpos : gpos + n - 1], ' ') AS gram
         |  FROM pos),
         |tot AS (SELECT n, CAST(count(*) AS BIGINT) AS total_ngrams
         |  FROM g GROUP BY n),
         |vv AS (SELECT DISTINCT n, $poly AS v
         |  FROM (SELECT n, md5(gram) AS h FROM g) z),
         |kk AS (SELECT n, v FROM (SELECT n, v,
         |    row_number() OVER (PARTITION BY n ORDER BY v) AS rn FROM vv)
         |  WHERE rn <= 256),
         |ag AS (SELECT n, CAST(count(*) AS BIGINT) AS n_sk, max(v) AS u_k
         |  FROM kk GROUP BY n)
         |SELECT CAST(t.n AS INT) AS n, t.total_ngrams,
         |  round($estD, 4) AS est_distinct,
         |  round(($estD) / CAST(t.total_ngrams AS DOUBLE), 6)
         |    AS est_diversity
         |FROM tot t JOIN ag a ON t.n = a.n""".stripMargin
    },

    // training replay (shared CTE), margins as priority, then the q130
    // one-window budget spec — the window IS the semantics the histogram
    // decomposition is property-tested equivalent to
    "q144_quality_budget" ->
      s"""$qualityTrainCte,
         |sc AS (SELECT z.doc_id,
         |  w.wb + w.w1*z.z1 + w.w2*z.z2 + w.w3*z.z3 + w.w4*z.z4 AS priority
         |  FROM z, w12 w),
         |bb AS (SELECT d.lang, d.doc_id, sc.priority,
         |    CAST(len(regexp_split_to_array(trim(d.text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents d JOIN sc ON sc.doc_id = d.doc_id),
         |cc AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang
         |    ORDER BY priority DESC, doc_id ASC ROWS UNBOUNDED PRECEDING)
         |    AS cum FROM bb)
         |SELECT lang, doc_id, priority, n_tokens FROM cc
         |WHERE cum <= 2000""".stripMargin,

    // fingerprint sets of the two release slices; added/removed are
    // arithmetic over distinct-set counts (only the kept semi-join runs)
    "q143_release_delta" ->
      """WITH o AS (SELECT DISTINCT
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 3 <> 0),
        |nw AS (SELECT DISTINCT
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents WHERE doc_id % 5 <> 0),
        |co AS (SELECT CAST(count(*) AS BIGINT) AS docs_old FROM documents
        |  WHERE doc_id % 3 <> 0),
        |cn AS (SELECT CAST(count(*) AS BIGINT) AS docs_new FROM documents
        |  WHERE doc_id % 5 <> 0),
        |fo AS (SELECT CAST(count(*) AS BIGINT) AS fps_old FROM o),
        |fn2 AS (SELECT CAST(count(*) AS BIGINT) AS fps_new FROM nw),
        |k AS (SELECT CAST(count(*) AS BIGINT) AS fps_kept FROM o
        |  WHERE fp IN (SELECT fp FROM nw))
        |SELECT co.docs_old, cn.docs_new, fo.fps_old, fn2.fps_new,
        |  k.fps_kept, fn2.fps_new - k.fps_kept AS fps_added,
        |  fo.fps_old - k.fps_kept AS fps_removed,
        |  CASE WHEN fo.fps_old + fn2.fps_new - k.fps_kept = 0 THEN NULL
        |    ELSE CAST(k.fps_kept AS DOUBLE)
        |      / CAST(fo.fps_old + fn2.fps_new - k.fps_kept AS DOUBLE) END
        |    AS content_jaccard
        |FROM co, cn, fo, fn2, k""".stripMargin,

    // q129's encode replay (same trained vocab CTEs), aggregated per
    // lang; fertility is a ratio of exact integer sums
    "q142_tokenizer_fertility" -> {
      s"""WITH ${wordpieceCtes(200, 60, 4, 3)},
         |dw AS (SELECT doc_id, g AS pos, ws[CAST(g AS INT)] AS w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]') AS ws
         |        FROM documents) t,
         |       LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS g) u),
         |pd AS (SELECT doc_id, CAST(sum(len(s.pieces)) AS BIGINT) AS n_sub,
         |    CAST(count(*) AS BIGINT) AS n_words
         |  FROM dw JOIN wpsegF s USING (w) GROUP BY doc_id)
         |SELECT d.lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(coalesce(pd.n_words, 0)) AS BIGINT) AS n_words,
         |  CAST(sum(coalesce(pd.n_sub, 0)) AS BIGINT) AS n_subtokens,
         |  CAST(sum(coalesce(pd.n_sub, 0)) AS DOUBLE) /
         |    CAST(sum(coalesce(pd.n_words, 0)) AS DOUBLE) AS fertility
         |FROM documents d LEFT JOIN pd USING (doc_id) GROUP BY 1""".stripMargin
    },

    // q55's md5-threshold sample, then HT-weighted per-stratum sums; the
    // dyadic 1/rate weights are exact powers of two, so every weighted
    // sum is exact integer arithmetic in disguise (order-independent)
    "q141_sample_estimate" -> {
      val tEn = operators.Sampling.fractionThreshold(0.5)
      val tZh = operators.Sampling.fractionThreshold(0.25)
      val tDef = operators.Sampling.fractionThreshold(0.125)
      s"""WITH sel AS (SELECT lang,
         |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
         |      AS toks,
         |    n_chars,
         |    CASE WHEN lang = 'en' THEN 0.5 WHEN lang = 'zh' THEN 0.25
         |      ELSE 0.125 END AS rate
         |  FROM documents
         |  WHERE md5(CAST(doc_id AS VARCHAR)) <
         |    (CASE WHEN lang = 'en' THEN '$tEn'
         |          WHEN lang = 'zh' THEN '$tZh'
         |          ELSE '$tDef' END)),
         |est AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_sampled,
         |    sum(1.0/rate) AS est_docs,
         |    sum(CAST(toks AS DOUBLE)/rate) AS est_tokens,
         |    sum(CAST(n_chars AS DOUBLE)/rate) AS est_chars
         |  FROM sel GROUP BY 1),
         |ex AS (SELECT lang, CAST(count(*) AS BIGINT) AS exact_docs,
         |    CAST(sum(CAST(len(regexp_split_to_array(trim(text), '\\s+'))
         |      AS BIGINT)) AS BIGINT) AS exact_tokens,
         |    CAST(sum(n_chars) AS BIGINT) AS exact_chars
         |  FROM documents GROUP BY 1)
         |SELECT ex.lang, coalesce(est.n_sampled, 0) AS n_sampled,
         |  coalesce(est.est_docs, 0.0) AS est_docs, ex.exact_docs,
         |  coalesce(est.est_tokens, 0.0) AS est_tokens, ex.exact_tokens,
         |  coalesce(est.est_chars, 0.0) AS est_chars, ex.exact_chars
         |FROM ex LEFT JOIN est USING (lang)""".stripMargin
    },

    // one row; the fingerprint is q12/q127's normalized md5; top_lang
    // tie-breaks lexicographic-min among max-count holders
    "q137_corpus_datasheet" ->
      """WITH b AS (SELECT text AS t, lang,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
        |      AS n_tok,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |    CAST(sum(n_tok) AS BIGINT) AS n_tokens,
        |    round(avg(CAST(n_tok AS DOUBLE)), 4) AS avg_tokens FROM b),
        |langs AS (SELECT lang, count(*) AS c FROM b GROUP BY 1),
        |nl AS (SELECT CAST(count(*) AS BIGINT) AS n_langs FROM langs),
        |tl AS (SELECT min(lang) AS top_lang FROM langs
        |  WHERE c = (SELECT max(c) FROM langs)),
        |dd AS (SELECT CAST(count(DISTINCT fp) AS BIGINT) AS n_distinct FROM b)
        |SELECT s.n_docs, s.n_tokens, s.avg_tokens, nl.n_langs, tl.top_lang,
        |  round(1.0::DOUBLE - CAST(dd.n_distinct AS DOUBLE)
        |    / CAST(s.n_docs AS DOUBLE), 4) AS dup_rate
        |FROM stats s, nl, tl, dd""".stripMargin,

    // the streaming sketch replayed as a BATCH over the same relation —
    // streaming-vs-batch equivalence is exactly what the lane gates
    // (mergeable state ⇒ the final stream table equals the one-shot
    // aggregation); q115's strpos-polynomial md5 bucket decode
    "q136_stream_cms" -> {
      val poly = (1 to 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${BigInt(16).pow(6 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH toks AS (
         |  SELECT event_type || '#' || CAST(user_id % 97 AS VARCHAR) AS term
         |  FROM events),
         |js AS (SELECT CAST(unnest(range(1, 5)) AS INT) AS j),
         |hashed AS (SELECT j,
         |    md5('cms' || CAST(j AS VARCHAR) || ':' || term) AS hx
         |  FROM toks, js)
         |SELECT j, CAST($poly % 256 AS INT) AS bucket,
         |  CAST(count(*) AS BIGINT) AS cnt
         |FROM hashed GROUP BY 1, 2""".stripMargin
    },

    // per-(label, dim) means rounded 6dp FIRST (the q74 contract), then
    // both distance folds replayed strict left-to-right over dim order —
    // list_reduce seeds with the first element, Spark's aggregate with
    // 0.0; 0.0 + x == x exactly, so the folds agree bit-for-bit
    "q134_embedding_drift" -> {
      val l2 = "sqrt(list_reduce(list_transform(list_zip(vp, vq), " +
        "x -> (x[1] - x[2]) * (x[1] - x[2])), (acc, z) -> acc + z))"
      s"""WITH e AS (SELECT vec_id, label, (vec_id % 2 = 0) AS in_p,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |d AS (SELECT label, in_p, g - 1 AS dim, v[g] AS x
         |  FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS g) u),
         |m AS (SELECT label, dim,
         |    round(avg(CASE WHEN in_p THEN x END), 6) AS mp,
         |    round(avg(CASE WHEN NOT in_p THEN x END), 6) AS mq,
         |    CAST(count(*) FILTER (WHERE in_p) AS BIGINT) AS np_,
         |    CAST(count(*) FILTER (WHERE NOT in_p) AS BIGINT) AS nq_
         |  FROM d GROUP BY 1, 2),
         |p AS (SELECT label, max(np_) AS n_p, max(nq_) AS n_q,
         |    list(mp ORDER BY dim) AS vp, list(mq ORDER BY dim) AS vq
         |  FROM m WHERE mp IS NOT NULL AND mq IS NOT NULL GROUP BY 1)
         |SELECT label, n_p, n_q,
         |  round($l2, 6) AS l2_shift,
         |  round(${cosSql("vp", "vq")}, 6) AS cos_sim
         |FROM p""".stripMargin
    },

    // soft-dedup weights: same normalized-md5 fingerprint as q12; the
    // 1.0/n division is exactly-rounded IEEE on both engines
    "q127_dup_weights" ->
      """SELECT doc_id,
        |  count(*) OVER w AS n_copies,
        |  1.0::DOUBLE / count(*) OVER w AS weight
        |FROM documents
        |WINDOW w AS (
        |  PARTITION BY md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')))""".stripMargin,

    // full WordPiece training replay: recursive-CTE longest-match
    // segmentation per round, same integer budget schedule; float-free
    // so the match is exact
    "q128_wordpiece_vocab" -> {
      s"""WITH ${wordpieceCtes(200, 60, 4, 3)}
         |SELECT v.piece, coalesce(c.n, 0) AS n,
         |  CAST(row_number() OVER (ORDER BY coalesce(c.n, 0) DESC, v.piece ASC)
         |    AS INT) AS rank
         |FROM wpv3 v LEFT JOIN wpcF c USING (piece)""".stripMargin
    },

    // encode replay: per-doc word positions LATERAL-unnested, joined to
    // the final segmentation relation, reassembled in word order. LEFT
    // JOIN back from documents keeps the relation TOTAL: a zero-word doc
    // (empty/whitespace-only text) emits (doc_id, 0, '') exactly like the
    // engine's posexplode_outer path, instead of silently dropping out.
    "q129_wordpiece_encode" -> {
      s"""WITH ${wordpieceCtes(200, 60, 4, 3)},
         |dw AS (SELECT doc_id, g AS pos, ws[CAST(g AS INT)] AS w
         |  FROM (SELECT doc_id,
         |          regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]') AS ws
         |        FROM documents) t,
         |       LATERAL (SELECT unnest(range(1, len(ws) + 1)) AS g) u),
         |enc AS (SELECT doc_id, CAST(sum(len(s.pieces)) AS INT) AS n_tokens,
         |    array_to_string(flatten(list(s.pieces ORDER BY dw.pos)), ' ')
         |      AS encoded
         |  FROM dw JOIN wpsegF s USING (w) GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(e.n_tokens, 0) AS n_tokens,
         |  coalesce(e.encoded, '') AS encoded
         |FROM documents d LEFT JOIN enc e USING (doc_id)""".stripMargin
    },

    // the DSIR pipeline replayed: unigram+bigram features hashed with the
    // 6-hex polynomial, add-0.5-smoothed target/raw bucket distributions
    // (sums CAST to BIGINT — DuckDB integer sums are HUGEINT), per-doc
    // likelihood-ratio sums rounded 4dp, Gumbel keys from the q77 52-bit
    // md5 uniform rounded 4dp pre-addition
    "q118_dsir_select" -> {
      val poly6 = (1 to 6).map(i =>
        s"(strpos('0123456789abcdef', substr(hx, $i, 1)) - 1) * ${BigInt(16).pow(6 - i)}")
        .mkString("(", " + ", ")")
      val poly13 = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH tok AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS is_target,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents),
         |uni AS (SELECT doc_id, is_target, unnest(ts) AS feat FROM tok),
         |bi AS (SELECT doc_id, is_target, ts[g] || ' ' || ts[g + 1] AS feat
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
         |  WHERE len(ts) > 1),
         |feats AS (SELECT doc_id, is_target,
         |    CAST($poly6 % 1024 AS INT) AS bucket
         |  FROM (SELECT doc_id, is_target, md5('dsir:' || feat) AS hx
         |        FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi) z0) z),
         |perdoc AS (SELECT doc_id, is_target, bucket,
         |    CAST(count(*) AS BIGINT) AS c
         |  FROM feats GROUP BY 1, 2, 3),
         |stats AS (SELECT bucket,
         |    CAST(sum(CASE WHEN is_target THEN c ELSE 0 END) AS BIGINT) AS ct,
         |    CAST(sum(CASE WHEN is_target THEN 0 ELSE c END) AS BIGINT) AS cr
         |  FROM perdoc GROUP BY 1),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt,
         |    CAST(sum(cr) AS BIGINT) AS tr FROM stats),
         |rated AS (SELECT bucket,
         |    ln(((ct + 0.5) / (tt + 512.0)) / ((cr + 0.5) / (tr + 512.0)))
         |      AS lr
         |  FROM stats, tot),
         |scored AS (SELECT p.doc_id, round(sum(p.c * r.lr), 4) AS logw
         |  FROM perdoc p JOIN rated r USING (bucket)
         |  WHERE NOT p.is_target GROUP BY 1),
         |keyed AS (SELECT doc_id, logw,
         |    logw + round(-ln(-ln(
         |      CAST($poly13 * 2 + 1 AS DOUBLE) / 9007199254740992.0)), 4)
         |      AS key
         |  FROM (SELECT doc_id, logw, md5(CAST(doc_id AS VARCHAR)) AS h
         |        FROM scored) s),
         |top AS (SELECT * FROM keyed ORDER BY key DESC, doc_id ASC LIMIT 100)
         |SELECT doc_id, logw, key,
         |  CAST(row_number() OVER (ORDER BY key DESC, doc_id ASC) AS INT)
         |    AS rank
         |FROM top""".stripMargin
    },

    // equi-width histogram quantiles replayed literally: the same two-pass
    // bounds -> 256-bin counts -> cumulative pick with in-bin linear
    // interpolation; every op is IEEE add/sub/mul/div + floor/ceil, so the
    // doubles agree bit-for-bit before the 3dp round
    "q119_histogram_quantiles" ->
      """WITH o AS (SELECT o_orderstatus AS g, CAST(o_totalprice AS DOUBLE) AS v
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |rng AS (SELECT g, min(v) AS lo, max(v) AS hi,
        |    CAST(count(*) AS BIGINT) AS n FROM o GROUP BY g),
        |b AS (SELECT o.g AS g,
        |    CASE WHEN r.hi = r.lo THEN 0
        |         ELSE LEAST(255, CAST(floor((o.v - r.lo)
        |           / ((r.hi - r.lo) / 256.0)) AS INT)) END AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM o JOIN rng r USING (g) GROUP BY 1, 2),
        |cum AS (SELECT g, bin, c,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY g ORDER BY bin) - c AS BIGINT)
        |      AS cum_before
        |  FROM b),
        |qs AS (SELECT 0.5 AS q UNION ALL SELECT 0.9),
        |tg AS (SELECT g, lo, hi, n, q, ceil(q * n) AS t FROM rng, qs),
        |pick AS (SELECT tg.g AS g, tg.q AS q,
        |    CASE WHEN tg.hi = tg.lo THEN tg.lo
        |         ELSE tg.lo + (tg.hi - tg.lo) / 256.0
        |           * (cum.bin + (tg.t - cum.cum_before) / cum.c) END AS est,
        |    tg.n AS n
        |  FROM cum JOIN tg ON cum.g = tg.g
        |  WHERE cum.cum >= tg.t AND cum.cum_before < tg.t)
        |SELECT g AS o_orderstatus,
        |  round(max(CASE WHEN q = 0.5 THEN est END), 3) AS p50_est,
        |  round(max(CASE WHEN q = 0.9 THEN est END), 3) AS p90_est,
        |  max(n) AS n
        |FROM pick GROUP BY 1""".stripMargin,

    // the full scrub chain replayed: q107's strip stack over this lane's
    // page synthesis, the q103 cleanup applied per LINE, the q108 C4
    // rules, then the q109 keep-first dedup over the survivors only
    "q120_crawl_pipeline" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |pg AS (SELECT doc_id,
        |    '<html><head><script type="text/javascript">var x = 1 < 2;'
        |    || '</script><style>p { color: red }</style></head>' || chr(10)
        |    || '<body>' || chr(10)
        |    || array_to_string(
        |      ['<p id="a">' || array_to_string(ws[1:8], ' ') || '.</p>',
        |       '<p>Enable JavaScript to view comments.</p>',
        |       '<p>Syndicated update number ' || CAST(doc_id % 7 AS VARCHAR)
        |         || ' from our partner network.</p>',
        |       '<p>' || array_to_string(ws[4:11], ' ')
        |         || (CASE WHEN doc_id % 2 = 0 THEN '!' ELSE '' END) || '</p>',
        |       '<p>(c) 2026 Example Corp</p>',
        |       '<p>' || array_to_string(ws[2:7], ' ') || ' &amp; more?</p>'],
        |      chr(10))
        |    || (CASE WHEN doc_id % 17 = 0
        |          THEN chr(10) || '<p>Lorem ipsum dolor sit amet.</p>'
        |        WHEN doc_id % 19 = 0
        |          THEN chr(10) || '<p>function() { return 1; }</p>'
        |        ELSE '' END)
        |    || chr(10) || '</body></html>' AS page
        |  FROM w),
        |st AS (SELECT doc_id,
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(
        |        regexp_replace(
        |          regexp_replace(page,
        |            '(?is)<script([ \t\r\n][^>]*)?>.*?</script>', ' ', 'g'),
        |          '(?is)<style([ \t\r\n][^>]*)?>.*?</style>', ' ', 'g'),
        |        '(?s)</?[A-Za-z!][^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&') AS stripped
        |  FROM pg),
        |cl AS (SELECT doc_id, array_to_string(list_filter(
        |      list_transform(string_split(stripped, chr(10)), l ->
        |        trim(regexp_replace(regexp_replace(nfc_normalize(l),
        |          '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |          '\s+', ' ', 'g'))),
        |      l -> l <> ''), chr(10)) AS clean_page
        |  FROM st),
        |k AS (SELECT doc_id, clean_page,
        |    list_filter(string_split(clean_page, chr(10)), l ->
        |      regexp_matches(l, '[.!?"'']\r?$')
        |      AND len(string_split_regex(trim(l), ' +')) >= 5
        |      AND NOT contains(lower(l), 'javascript')) AS kept
        |  FROM cl),
        |surv AS (SELECT doc_id, array_to_string(kept, chr(10)) AS page
        |  FROM k
        |  WHERE NOT contains(lower(clean_page), 'lorem ipsum')
        |    AND NOT contains(clean_page, '{') AND len(kept) >= 3),
        |x AS (SELECT doc_id, unnest(string_split(page, chr(10))) AS para,
        |    unnest(generate_series(1, len(string_split(page, chr(10))))) AS pos
        |  FROM surv),
        |rk AS (SELECT doc_id, pos, para,
        |    row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, pos)
        |      AS rn FROM x),
        |kk AS (SELECT doc_id, count(*) AS n_kept,
        |    string_agg(para, chr(10) ORDER BY pos) AS cleaned
        |  FROM rk WHERE rn = 1 GROUP BY doc_id),
        |n AS (SELECT doc_id, count(*) AS n_paras FROM x GROUP BY doc_id)
        |SELECT n.doc_id, n.n_paras, coalesce(kk.n_kept, 0) AS n_kept,
        |  coalesce(kk.cleaned, '') AS cleaned
        |FROM n LEFT JOIN kk USING (doc_id)""".stripMargin,

    // the same smoothed union-vocab KL summands; ranked on the 6dp-rounded
    // magnitude with term tiebreak so ln ulp drift cannot flip the set
    "q122_distribution_drift" ->
      """WITH t AS (
        |  SELECT TRY_CAST(regexp_extract(source, '^src(\d+)$', 1) AS INT) < 10
        |      AS in_p,
        |    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
        |  FROM documents),
        |c AS (SELECT term,
        |    CAST(sum(CASE WHEN in_p THEN 1 ELSE 0 END) AS BIGINT) AS cp,
        |    CAST(sum(CASE WHEN in_p THEN 0 ELSE 1 END) AS BIGINT) AS cq
        |  FROM t WHERE term <> '' GROUP BY 1),
        |tot AS (SELECT CAST(sum(cp) AS BIGINT) AS np,
        |    CAST(sum(cq) AS BIGINT) AS nq,
        |    CAST(count(*) AS BIGINT) AS v FROM c),
        |s AS (SELECT term,
        |    (cp + 0.5) / (np + 0.5 * v) AS p,
        |    (cq + 0.5) / (nq + 0.5 * v) AS q
        |  FROM c, tot),
        |sc AS (SELECT term, round(p, 6) AS p, round(q, 6) AS q,
        |    round(p * ln(p / q), 6) AS contrib,
        |    round(abs(p * ln(p / q)), 6) AS mag
        |  FROM s),
        |top AS (SELECT * FROM sc ORDER BY mag DESC, term ASC LIMIT 50)
        |SELECT term, p, q, contrib,
        |  CAST(row_number() OVER (ORDER BY mag DESC, term ASC) AS INT) AS rank
        |FROM top""".stripMargin,

    // the q119 single-group histogram restated over n_chars, then the
    // same band filter + per-lang rollup as q73
    "q121_length_band_hist" ->
      """WITH o AS (SELECT CAST(n_chars AS DOUBLE) AS v FROM documents
        |  WHERE n_chars IS NOT NULL),
        |rng AS (SELECT min(v) AS lo0, max(v) AS hi0,
        |    CAST(count(*) AS BIGINT) AS n FROM o),
        |b AS (SELECT
        |    CASE WHEN r.hi0 = r.lo0 THEN 0
        |         ELSE LEAST(255, CAST(floor((o.v - r.lo0)
        |           / ((r.hi0 - r.lo0) / 256.0)) AS INT)) END AS bin,
        |    CAST(count(*) AS BIGINT) AS c
        |  FROM o, rng r GROUP BY 1),
        |cum AS (SELECT bin, c,
        |    CAST(sum(c) OVER (ORDER BY bin) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (ORDER BY bin) - c AS BIGINT) AS cum_before
        |  FROM b),
        |qs AS (SELECT 0.05 AS q UNION ALL SELECT 0.95),
        |tg AS (SELECT lo0, hi0, n, q, ceil(q * n) AS t FROM rng, qs),
        |pick AS (SELECT tg.q AS q,
        |    CASE WHEN tg.hi0 = tg.lo0 THEN tg.lo0
        |         ELSE tg.lo0 + (tg.hi0 - tg.lo0) / 256.0
        |           * (cum.bin + (tg.t - cum.cum_before) / cum.c) END AS est
        |  FROM cum, tg WHERE cum.cum >= tg.t AND cum.cum_before < tg.t),
        |thr AS (SELECT
        |    round(max(CASE WHEN q = 0.05 THEN est END), 3) AS lo,
        |    round(max(CASE WHEN q = 0.95 THEN est END), 3) AS hi
        |  FROM pick)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents, thr
        |WHERE n_chars >= lo AND n_chars <= hi
        |GROUP BY lang""".stripMargin,

    // the histogram disc-quantile cuts restated: cumulative counts over
    // distinct token-count values, cut k = min value reaching k/3 of the
    // corpus; the only non-integer op is the same int/double division
    "q112_curriculum_order" ->
      """WITH s AS (SELECT doc_id,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT)
        |      AS n_tokens FROM documents),
        |hist AS (SELECT n_tokens AS v, count(*) AS cnt FROM s GROUP BY 1),
        |c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum,
        |    sum(cnt) OVER () AS total FROM hist),
        |cuts AS (SELECT k, min(v) AS cut
        |  FROM c, (SELECT unnest([1, 2]) AS k) t
        |  WHERE cum >= k * total / 3.0 GROUP BY k),
        |ca AS (SELECT list_sort(list(cut)) AS cuts FROM cuts)
        |SELECT doc_id, n_tokens,
        |  CAST(len(list_filter(ca.cuts, x -> x < n_tokens)) + 1 AS INT)
        |    AS phase,
        |  md5('epoch0:' || CAST(doc_id AS VARCHAR)) AS ord
        |FROM s, ca""".stripMargin,

    // exact brute-force max-cosine vs the bench slice, same 6dp rounding
    // on the EMITTED value (the kept flag derives from the rounded sim on
    // both sides, so an engine ulp can never flip it)
    "q106_semantic_decontam" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |b AS (SELECT v AS bv FROM e WHERE vec_id < 20),
         |sims AS (
         |  SELECT e.vec_id, round(max(${cosSql("e.v", "b.bv")}), 6) AS max_sim
         |  FROM e, b GROUP BY 1)
         |SELECT e.vec_id, s.max_sim,
         |  CASE WHEN s.max_sim IS NOT NULL AND s.max_sim >= CAST(0.95 AS DOUBLE)
         |    THEN 0 ELSE 1 END AS kept
         |FROM e LEFT JOIN sims s ON s.vec_id = e.vec_id""".stripMargin,

    // q98's training chain re-derives the merge tables m1..m20, then each
    // DOCUMENT is wrapped the same way (words joined by \x03 so no merge
    // crosses a word boundary) and the 20 merges applied in training
    // order via chained replace() — the SQL mirror of bpeEncode's
    // literal-replace chain; symbols re-extracted between the wrappers
    "q101_bpe_encode" -> {
      val rounds = 20
      val applyCtes = (1 to rounds).map { r =>
        s"""d$r AS MATERIALIZED (SELECT doc_id,
           |    replace(s, chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2),
           |      chr(1) || m.a || m.b || chr(2)) AS s
           |  FROM d${r - 1}, m$r m)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${bpeTrainCtes(rounds)},
         |d0 AS MATERIALIZED (SELECT doc_id, array_to_string(list_transform(
         |    regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\\s]'),
         |    w -> regexp_replace(w, '(.)', chr(1) || '\\1' || chr(2), 'g')),
         |    chr(3)) AS s FROM documents),
         |$applyCtes,
         |toks AS (SELECT doc_id, regexp_extract_all(s,
         |    chr(1) || '([^' || chr(2) || ']+)' || chr(2), 1) AS t
         |  FROM d$rounds)
         |SELECT doc_id, CAST(len(t) AS INT) AS n_tokens,
         |  array_to_string(t, ' ') AS encoded
         |FROM toks""".stripMargin
    },

    // the streaming lane has no within-delta dedup (stateless by design),
    // so the oracle is the plain index anti join over the delta rows
    "q94_stream_ingest_dedup" ->
      """WITH fp AS (SELECT doc_id, lang, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250)
        |SELECT doc_id, lang, source FROM fp
        |WHERE doc_id >= 250 AND fp NOT IN (SELECT fp FROM idx)""".stripMargin,

    // plain anti joins replay the bloom+confirm lane exactly (the sketch
    // never decides the answer, only the work the exact check sees)
    "q93_incremental_dedup" ->
      """WITH fp AS (SELECT doc_id, lang, source,
        |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |  FROM documents),
        |idx AS (SELECT DISTINCT fp FROM fp WHERE doc_id < 250),
        |delta AS (SELECT * FROM fp WHERE doc_id >= 250),
        |within AS (
        |  SELECT d.* FROM delta d
        |  JOIN (SELECT fp, min(doc_id) AS keep FROM delta GROUP BY fp) w
        |    ON d.doc_id = w.keep)
        |SELECT doc_id, lang, source FROM within
        |WHERE fp NOT IN (SELECT fp FROM idx)""".stripMargin,

    // the two exact rankings at depth 20, fused by 1/(60+rank); a two-term
    // IEEE sum is order-independent, so the fused score is exact
    "q92_rrf_fusion" ->
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 5),
         |cosr AS (SELECT q_id, id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
         |  FROM (SELECT q_id, vec_id AS id, ${cosSql("qv", "v")} AS sim
         |        FROM e, q WHERE vec_id <> q_id)),
         |dotr AS (SELECT q_id, id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
         |  FROM (SELECT q_id, vec_id AS id, ${dotSql("qv", "v")} AS sim
         |        FROM e, q WHERE vec_id <> q_id)),
         |u AS (SELECT q_id, id, rn FROM cosr WHERE rn <= 20
         |  UNION ALL SELECT q_id, id, rn FROM dotr WHERE rn <= 20),
         |f AS (SELECT q_id, id, round(sum(1.0 / (60.0 + rn)), 6) AS rrf_score,
         |    CAST(count(*) AS BIGINT) AS n_systems FROM u GROUP BY 1, 2),
         |r AS (SELECT q_id, id, rrf_score, n_systems,
         |    row_number() OVER (PARTITION BY q_id
         |      ORDER BY rrf_score DESC, id ASC) AS rn FROM f)
         |SELECT q_id, id, rrf_score, n_systems, CAST(rn AS INT) AS rank
         |FROM r WHERE rn <= 10""".stripMargin,

    // share^alpha reweighting in the same arithmetic order as the
    // operator; 6dp rounding absorbs libm pow ulp differences
    "q90_mixture_plan" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs
        |  FROM documents GROUP BY lang),
        |t AS (SELECT sum(n_docs) AS total FROM c),
        |w AS (SELECT lang, n_docs, n_docs / total AS share,
        |    pow(n_docs / total, 0.3) AS tw FROM c, t),
        |s AS (SELECT sum(tw) AS tw_total FROM w)
        |SELECT lang, n_docs, round(share, 6) AS raw_share,
        |  round(tw / tw_total, 6) AS temp_share,
        |  round(least(1.0, 1000 * (tw / tw_total) / n_docs), 6)
        |    AS sample_fraction
        |FROM w, s""".stripMargin,

    // the same md5 sample key + cumulative thresholds the operator inlines
    "q89_hash_split" -> {
      val t80 = operators.Sampling.fractionThreshold(0.8)
      val t90 = operators.Sampling.fractionThreshold(0.8 + 0.1)
      s"""SELECT doc_id, lang,
         |  CASE WHEN md5(CAST(doc_id AS VARCHAR)) < '$t80' THEN 'train'
         |       WHEN md5(CAST(doc_id AS VARCHAR)) < '$t90' THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },

    // q66's ADC chain truncated at 240 candidates (the 24×k deployment
    // config), then the refine stage: exact cosine over the candidates'
    // raw vectors, re-ranked to 10
    "q86_pq_refined_topk" ->
      s"""$pqAdcRankedSql,
         |cand AS (SELECT q_id, id FROM ranked WHERE rn <= 240),
         |ex AS (
         |  SELECT cd.q_id, cd.id, ${cosSql("q.qv", "e2.v")} AS sim
         |  FROM cand cd JOIN e e2 ON e2.id = cd.id
         |  JOIN qq q ON q.q_id = cd.q_id),
         |rr AS (SELECT q_id, id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
         |  FROM ex)
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
         |FROM rr WHERE rn <= 10""".stripMargin,

    // q38's coarse CTEs (kmeans + rank-1 assign + top-2 probe) composed
    // with q66's subspace CTEs (codebooks + codes), ADC restricted to the
    // probed candidate set — the same two bit-exact trainings, one query
    // the layout round trip must agree with a direct scan of the source
    // table — partition dirs and file splits carry no information loss
    "q78_partitioned_write" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id
        |FROM documents WHERE lang = 'en' GROUP BY 1""".stripMargin,

    "q76_ivfpq_ann_topk" ->
      s"""${ivfPqRankedSql(2)}
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(dist, 6) AS dist
         |FROM ranked WHERE rn <= 10""".stripMargin,

    // the build/serve split changes WHERE the quantizers live (parquet
    // index vs in-plan recomputation), not WHAT is computed — the oracle
    // re-derives the identical training, serves 240 ADC candidates at
    // probe 6, and refines them with exact cosine; a serve-path mismatch
    // with the stored codebooks or refine store would hash-mismatch here
    "q99_ann_index_serve" ->
      s"""${ivfPqRankedSql(6)},
         |$serveRefineTailSql""".stripMargin,

    // same serve+refine tail, but the quantizer-training CTEs see only
    // the historical subset (id < 400) — exactly what the stored index
    // carries after build(old) + append(delta with stored codebooks)
    "q102_ann_index_append" ->
      s"""${ivfPqRankedSql(6, Some("id < 400"))},
         |$serveRefineTailSql""".stripMargin,

    // kmeans CTE chain with AUTO-DERIVED k = ceil(count/64) (bit-exact
    // centroid replay; k and sample size computed in SQL by the same
    // integer arithmetic as Similarity.autoCentroids) + rank-1 cell
    // assignment + within-cell pair scan; dropped = id_b of any qualifying
    // (a < b) pair
    "q65_semdedup" ->
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |dropped AS (
         |  SELECT DISTINCT b.id FROM assign a JOIN assign b
         |    ON a.cell = b.cell AND a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= CAST(0.3 AS DOUBLE))
         |SELECT a.id AS vec_id, CAST(a.cell AS INT) AS cell,
         |  CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS kept
         |FROM assign a LEFT JOIN dropped d ON d.id = a.id""".stripMargin,

    // the nested coarse × residual-fine quantizer replayed end to end:
    // want = ceil(n/32); (kc, kf) by the same integer ceil-sqrt split as
    // Similarity.quantizerLevelsSplit (float-sqrt hint, corrected by
    // stepping — min s in [hint−2, hint+3] with s² ≥ want); coarse Lloyd
    // chain on raw vectors, rank-1 coarse assign, residual v − coarse_cv,
    // fine Lloyd chain TRAINED ON RESIDUALS, rank-1 fine assign, composite
    // BIGINT cell = c1·kf + c2, then the q65 min-id-survivor tail on the
    // composite cells
    "q200_nested_quantizer" -> {
      val ceilWant = "count(*) // 32 + CASE WHEN count(*) % 32 > 0 THEN 1 ELSE 0 END"
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |wt AS (SELECT CAST($ceilWant AS BIGINT) AS want FROM e),
         |sq AS (SELECT min(s) AS s FROM (
         |    SELECT GREATEST(1, CAST(floor(sqrt(CAST(want AS DOUBLE))) AS BIGINT) - 2) + i AS s
         |    FROM wt, range(6) t(i)) z
         |  WHERE s * s >= (SELECT want FROM wt)),
         |kk AS (SELECT CAST(LEAST(8, s) AS INT) AS kc,
         |    CAST(LEAST(8, want // LEAST(8, s)
         |      + CASE WHEN want % LEAST(8, s) > 0 THEN 1 ELSE 0 END) AS INT) AS kf
         |  FROM sq, wt),
         |${kmeansCteSqlPfx("k", "SELECT kc FROM kk",
            "SELECT LEAST(16384, GREATEST(64, 4 * kc)) FROM kk", 2, "e")},
         |kcent AS (SELECT cell, cv FROM kcent2),
         |kassign AS (SELECT id, v, cell, cv FROM (
         |    SELECT e.id, e.v, c.cell, c.cv,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, kcent c) t WHERE rn = 1),
         |resid AS (SELECT id,
         |    list_transform(list_zip(v, cv), p -> p[1] - p[2]) AS v
         |  FROM kassign),
         |${kmeansCteSqlPfx("f", "SELECT kf FROM kk",
            "SELECT LEAST(16384, GREATEST(64, 4 * kf)) FROM kk", 2, "resid")},
         |fcent AS (SELECT cell, cv FROM fcent2),
         |fassign AS (SELECT id, cell FROM (
         |    SELECT r.id, c.cell,
         |      row_number() OVER (PARTITION BY r.id
         |        ORDER BY ${cosSql("r.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM resid r, fcent c) t WHERE rn = 1),
         |comp AS (SELECT k.id, k.v,
         |    CAST(k.cell AS BIGINT) * (SELECT kf FROM kk)
         |      + CAST(f.cell AS BIGINT) AS cell
         |  FROM kassign k JOIN fassign f USING (id)),
         |dropped AS (
         |  SELECT DISTINCT b.id FROM comp a JOIN comp b
         |    ON a.cell = b.cell AND a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= CAST(0.3 AS DOUBLE))
         |SELECT a.id AS vec_id, a.cell,
         |  CASE WHEN d.id IS NULL THEN 1 ELSE 0 END AS kept
         |FROM comp a LEFT JOIN dropped d ON d.id = a.id""".stripMargin
    },

    // same BM25 formula re-derived: LATERAL unnest tf, per-term conditional
    // sums added in the same fixed order; constants are interpolated from
    // the identical Scala doubles (Double.toString round-trips) and CAST to
    // DOUBLE (bare literals would parse as DECIMAL in DuckDB)
    "q64_bm25_rank" -> {
      val (k1, b) = (1.2, 0.75)
      def d(x: Double) = s"CAST($x AS DOUBLE)"
      s"""WITH toks AS (
         |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
         |dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS dl FROM toks),
         |st AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(CAST(sum(dl) AS BIGINT) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avgdl
         |  FROM dl),
         |tf AS (SELECT doc_id, tok AS term, CAST(count(*) AS BIGINT) AS tf
         |  FROM toks, LATERAL (SELECT unnest(t) AS tok) u
         |  WHERE tok IN ('spark', 'join', 'vector') GROUP BY 1, 2),
         |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id, tf.term,
         |    ln(${d(1.0)} + (n - df + ${d(0.5)}) / (df + ${d(0.5)}))
         |    * (tf * ${d(k1 + 1.0)})
         |    / (tf + ${d(k1)} * (${d(1.0 - b)} + ${d(b)} * dl / avgdl)) AS s
         |  FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), st),
         |p AS (SELECT doc_id,
         |    sum(CASE WHEN term = 'spark' THEN s END) AS s_0,
         |    sum(CASE WHEN term = 'join' THEN s END) AS s_1,
         |    sum(CASE WHEN term = 'vector' THEN s END) AS s_2
         |  FROM sc GROUP BY 1),
         |tot AS (SELECT doc_id,
         |    round(coalesce(s_0, ${d(0.0)}) + coalesce(s_1, ${d(0.0)})
         |      + coalesce(s_2, ${d(0.0)}), 6) AS score FROM p)
         |SELECT doc_id, CAST(rn AS INT) AS rank, score FROM (
         |  SELECT doc_id, score,
         |    row_number() OVER (ORDER BY score DESC, doc_id) AS rn FROM tot) z
         |WHERE rn <= 20""".stripMargin
    },

    // connected components as transitive closure: a recursive CTE floods
    // reachability over the symmetric q26 edge set (set-semantics UNION
    // guarantees termination), comp = min reachable node — independent of
    // the Spark side's star-contraction algorithm
    "q63_dedup_clusters" ->
      s"""${shingleCte.replace("WITH toks", "WITH RECURSIVE toks")},
         |capped AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= 100) ok USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM capped a JOIN capped b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.3),
         |eb AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, dst AS r FROM eb
         |  UNION
         |  SELECT re.node, e.dst FROM reach re JOIN eb e ON re.r = e.src
         |  WHERE e.dst <> re.node),
         |comp AS (SELECT node, min(r) AS mn FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component
         |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".stripMargin,

    // q28's band-candidate CTEs + exact Jaccard verify on candidates only
    // (minhashNearDupPairs), then q63's transitive-closure components —
    // the LSH-edge cluster composition replayed end-to-end
    "q123_lsh_dedup_clusters" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
        .mkString("\nUNION ALL ")
      s"""${shingleCte.replace("WITH toks", "WITH RECURSIVE toks")},
         |sig AS ($minhashSigSelect),
         |banded AS ($bands),
         |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM banded a JOIN banded b USING (band, key)
         |  WHERE a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS n_inter
         |  FROM cand c
         |  JOIN sh a ON a.doc_id = c.id_a
         |  JOIN sh b ON b.doc_id = c.id_b AND b.shingle = a.shingle
         |  GROUP BY 1, 2),
         |pairs AS (
         |  SELECT c.id_a, c.id_b FROM cand c
         |  JOIN inter i ON i.id_a = c.id_a AND i.id_b = c.id_b
         |  JOIN sizes sa ON sa.doc_id = c.id_a
         |  JOIN sizes sb ON sb.doc_id = c.id_b
         |  WHERE CAST(i.n_inter AS DOUBLE)
         |    / CAST(sa.sz + sb.sz - i.n_inter AS DOUBLE) >= 0.3),
         |eb AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, dst AS r FROM eb
         |  UNION
         |  SELECT re.node, e.dst FROM reach re JOIN eb e ON re.r = e.src
         |  WHERE e.dst <> re.node),
         |comp AS (SELECT node, min(r) AS mn FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component
         |FROM documents d LEFT JOIN comp c ON c.node = d.doc_id""".stripMargin
    },

    // q97's band/verify CTE chain, inverted: the surviving corpus is the
    // delta minus every delta_id with a verified index match. One-pass
    // replay is sound because the stream compares delta vs static index
    // only (batch-split invariant).
    "q125_stream_neardup_ingest" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM ")
      val dbands = bands.map(_ + "dsig").mkString("\nUNION ALL ")
      val ibands = bands.map(_ + "isig").mkString("\nUNION ALL ")
      val nMatch = (0 until 8)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$shingleCte,
         |sig AS ($minhashSigSelect),
         |dsig AS (SELECT * FROM sig WHERE doc_id >= 250),
         |isig AS (SELECT * FROM sig WHERE doc_id < 250),
         |dband AS ($dbands),
         |iband AS ($ibands),
         |cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS index_id
         |  FROM dband d JOIN iband i USING (band, key)),
         |matched AS (SELECT DISTINCT c.delta_id
         |  FROM cand c JOIN dsig a ON a.doc_id = c.delta_id
         |  JOIN isig b ON b.doc_id = c.index_id
         |  WHERE CAST($nMatch AS BIGINT) >= 4)
         |SELECT d.doc_id, d.lang, d.source
         |FROM documents d
         |WHERE d.doc_id >= 250
         |  AND d.doc_id NOT IN (SELECT delta_id FROM matched)""".stripMargin
    },

    // Replays zorderKey's exact integer pipeline: global bounds, the
    // bit-truncation quantizer (shift = bitLength(range) - 8 via
    // length(bin(...)) — DuckDB's bin() is exact at any magnitude, no
    // double log2), then the 8-bit Morton interleave term by term.
    "q124_zorder_key" -> {
      val terms = (0 until 8).map(b =>
        s"((((qx >> $b) & 1) << ${2 * b + 1}) | (((qy >> $b) & 1) << ${2 * b}))")
        .mkString(" | ")
      s"""WITH b AS (
         |  SELECT CAST(min(l_partkey) AS BIGINT) AS xlo,
         |         CAST(max(l_partkey) AS BIGINT) AS xhi,
         |         CAST(min(l_suppkey) AS BIGINT) AS ylo,
         |         CAST(max(l_suppkey) AS BIGINT) AS yhi
         |  FROM lineitem),
         |s AS (
         |  SELECT xlo, ylo,
         |    greatest(0, CAST(length(bin(xhi - xlo)) AS INT) - 8) AS sx,
         |    greatest(0, CAST(length(bin(yhi - ylo)) AS INT) - 8) AS sy
         |  FROM b),
         |q AS (
         |  SELECT l_orderkey, l_linenumber,
         |    (CAST(l_partkey AS BIGINT) - xlo) >> sx AS qx,
         |    (CAST(l_suppkey AS BIGINT) - ylo) >> sy AS qy
         |  FROM lineitem, s)
         |SELECT l_orderkey, l_linenumber, CAST($terms AS BIGINT) AS zkey
         |FROM q""".stripMargin
    },

    // q63's transitive-closure CTE chain, then q21's quality expression
    // and the per-cluster argmax restated as a row_number ordered by
    // (q DESC, doc_id DESC) — the operator's max(struct(q, id)) winner
    "q110_cluster_reps" ->
      s"""${shingleCte.replace("WITH toks", "WITH RECURSIVE toks")},
         |capped AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= 100) ok USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM capped a JOIN capped b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
         |pairs AS (
         |  SELECT id_a, id_b FROM inter
         |  JOIN sizes sa ON sa.doc_id = id_a
         |  JOIN sizes sb ON sb.doc_id = id_b
         |  WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.3),
         |eb AS (SELECT id_a AS src, id_b AS dst FROM pairs
         |       UNION SELECT id_b, id_a FROM pairs),
         |reach AS (
         |  SELECT src AS node, dst AS r FROM eb
         |  UNION
         |  SELECT re.node, e.dst FROM reach re JOIN eb e ON re.r = e.src
         |  WHERE e.dst <> re.node),
         |comp AS (SELECT node, min(r) AS mn FROM reach GROUP BY node),
         |ct AS (SELECT d.doc_id,
         |    least(d.doc_id, coalesce(c.mn, d.doc_id)) AS component
         |  FROM documents d LEFT JOIN comp c ON c.node = d.doc_id),
         |scored AS (SELECT doc_id,
         |    (CASE WHEN length(text) BETWEEN 20 AND 100000 THEN 1 ELSE 0 END
         |     + CASE WHEN len(regexp_split_to_array(trim(text), '\\s+'))
         |         BETWEEN 5 AND 20000 THEN 1 ELSE 0 END
         |     + CASE WHEN CAST(length(regexp_replace(lower(text), '[^aeiou]', '', 'g')) AS DOUBLE)
         |         / CAST(greatest(length(text), 1) AS DOUBLE) > 0.15
         |         THEN 1 ELSE 0 END) AS q
         |  FROM documents),
         |rk AS (SELECT ct.component, ct.doc_id, s.q,
         |    row_number() OVER (PARTITION BY ct.component
         |      ORDER BY s.q DESC, ct.doc_id DESC) AS rn,
         |    count(*) OVER (PARTITION BY ct.component) AS nm
         |  FROM ct JOIN scored s USING (doc_id))
         |SELECT component, CAST(nm AS BIGINT) AS n_members,
         |  doc_id AS rep_id, q AS rep_score
         |FROM rk WHERE rn = 1""".stripMargin,

    // the oracle states the range predicate directly; the operator's bin
    // bucketing must be invisible in the result
    "q59_range_join" ->
      """SELECT o_orderkey, count(*) AS n_shipped,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM orders JOIN lineitem
        |  ON l_shipdate BETWEEN o_orderdate
        |    AND o_orderdate + INTERVAL 13 DAY
        |WHERE o_orderpriority = '1-URGENT' AND year(o_orderdate) = 1996
        |GROUP BY 1""".stripMargin,

    // non-distinct n-gram multisets (short docs collapse to one whole-
    // sequence shingle, mirroring Dedup.shingleRows); doubles are raw
    // per-row scalars (identical IEEE ops both engines)
    "q57_repetition_profile" ->
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
        |g3 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 3 THEN array_to_string(t[i:i+2], ' ')
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t) - 1, 2))) AS i) r),
        |g2 AS (
        |  SELECT doc_id,
        |    CASE WHEN len(t) >= 2 THEN array_to_string(t[i:i+1], ' ')
        |         ELSE array_to_string(t, ' ') END AS shingle
        |  FROM toks, LATERAL (SELECT unnest(range(1, greatest(len(t), 2))) AS i) r),
        |c3 AS (SELECT doc_id, shingle, count(*) AS c FROM g3 GROUP BY 1, 2),
        |c2 AS (SELECT doc_id, shingle, count(*) AS c FROM g2 GROUP BY 1, 2),
        |s3 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total, count(*) AS nd
        |       FROM c3 GROUP BY 1),
        |s2 AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS total2,
        |       CAST(max(c) AS BIGINT) AS top FROM c2 GROUP BY 1)
        |SELECT s3.doc_id,
        |  1.0 - CAST(s3.nd AS DOUBLE) / CAST(s3.total AS DOUBLE) AS dup_3gram_frac,
        |  CAST(s2.top AS DOUBLE) / CAST(s2.total2 AS DOUBLE) AS top_2gram_frac,
        |  s3.total AS n_3grams
        |FROM s3 JOIN s2 USING (doc_id)""".stripMargin,

    "q45_pivot_events" ->
      """SELECT CAST(user_id % 10 AS INT) AS user_bucket,
        | count(*) FILTER (WHERE event_type = 'click') AS n_click,
        | count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        | count(*) FILTER (WHERE event_type = 'error') AS n_error,
        | count(*) FILTER (WHERE event_type = 'view') AS n_view,
        | count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase
        |FROM events GROUP BY 1""".stripMargin,

    "q46_set_ops" ->
      """WITH f AS (SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'),
        |big AS (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000)
        |SELECT custkey, 'both' AS src FROM (SELECT custkey FROM f INTERSECT SELECT custkey FROM big)
        |UNION ALL
        |SELECT custkey, 'f_only' AS src FROM (SELECT custkey FROM f EXCEPT SELECT custkey FROM big)""".stripMargin,

    "q44_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_price,
        | count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q36_distinct_agg" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q37_cube_orders" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        | round(avg(o_totalprice), 4) AS avg_price
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)""".stripMargin,

    // batch q20's windows restricted to the watermark-closed horizon:
    // append mode emits a window only once the watermark (max event time
    // minus the 30-minute delay, millisecond precision) passes its end
    "q35_streaming_tumbling" ->
      """WITH w AS (
        |  SELECT CAST(floor(epoch(ts) / 600) * 600 AS BIGINT) AS win_start,
        |    event_type, count(*) AS n, round(sum(value), 2) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |wm AS (SELECT epoch_ms(max(ts)) - 1800000 AS wm_ms FROM events)
        |SELECT w.* FROM w, wm WHERE (w.win_start + 600) * 1000 <= wm_ms""".stripMargin,

    // the attribution join as one self-join over the bounded table.
    // ts truncated to µs FIRST (make_timestamp(epoch_us(...))) so the join
    // predicate sees the same precision Spark's ns→µs normalization does —
    // an untruncated ns comparison could order sub-µs neighbors differently
    "q61_stream_interval_join" ->
      """WITH ev AS (SELECT event_id, user_id, event_type,
        |    make_timestamp(epoch_us(ts)) AS ts FROM events)
        |SELECT c.event_id AS click_id, v.event_id AS view_id,
        | c.user_id, epoch_us(c.ts) AS click_us, epoch_us(v.ts) AS view_us
        |FROM ev c JOIN ev v
        |  ON c.user_id = v.user_id
        |  AND v.ts >= c.ts AND v.ts <= c.ts + INTERVAL 180 MINUTE
        |WHERE c.event_type = 'click' AND v.event_type = 'view'""".stripMargin,

    // q61's join with the outer lane: matched pairs plus unmatched clicks
    // whose state the final watermark closed. The watermark is the MIN of
    // the two streams' (max event time - delay) — empirically pinned:
    // max-over-all-events over-emits by 2 rows at sf0.01. 10800000000 µs
    // = the 180-minute lag, 14400000000 µs = the 240-minute delay.
    // NOTE this CTE replays Spark's INTERNAL watermark-advancement rule
    // (per-stream max minus delay, strict <), pinned against Spark 4.1.2.
    // If a Spark upgrade changes no-data-batch/watermark semantics, this
    // gate fails as an opaque hash mismatch — diagnose via
    // StreamingSpec's behavioral outer-join tests FIRST (they assert the
    // semantics directly); only then re-pin the rule here.
    "q91_stream_outer_join" ->
      """WITH e2 AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
        |    FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts_us AS click_us
        |  FROM e2 WHERE event_type = 'click'),
        |v AS (SELECT event_id AS view_id, user_id, ts_us AS view_us
        |  FROM e2 WHERE event_type = 'view'),
        |wm AS (SELECT least(
        |    (SELECT max(ts_us) FROM e2 WHERE event_type = 'click'),
        |    (SELECT max(ts_us) FROM e2 WHERE event_type = 'view'))
        |    - 14400000000 AS w),
        |matched AS (
        |  SELECT c.click_id, v.view_id, c.user_id, c.click_us, v.view_us
        |  FROM c JOIN v ON c.user_id = v.user_id
        |    AND v.view_us >= c.click_us
        |    AND v.view_us <= c.click_us + 10800000000),
        |unmatched AS (
        |  SELECT c.click_id, CAST(NULL AS BIGINT) AS view_id, c.user_id,
        |    c.click_us, CAST(NULL AS BIGINT) AS view_us
        |  FROM c, wm
        |  WHERE NOT EXISTS (SELECT 1 FROM v WHERE v.user_id = c.user_id
        |      AND v.view_us >= c.click_us
        |      AND v.view_us <= c.click_us + 10800000000)
        |    AND c.click_us + 10800000000 < wm.w)
        |SELECT * FROM matched UNION ALL SELECT * FROM unmatched""".stripMargin,

    // doubled delivery deduped on event_id = the source rows, exactly once
    "q58_streaming_dedup" ->
      """SELECT DISTINCT event_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM events""".stripMargin,

    // `capped` mirrors Dedup.shingleSet's maxShingleDocFreq=100 stop-shingle
    // drop (sh is distinct per (doc_id, shingle), so count(*) is doc freq)
    "q26_jaccard_pairs" ->
      s"""$shingleCte,
         |capped AS (
         |  SELECT sh.doc_id, sh.shingle FROM sh
         |  JOIN (SELECT shingle FROM sh GROUP BY shingle
         |        HAVING count(*) <= 100) ok USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM capped GROUP BY 1),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
         |  FROM capped a JOIN capped b USING (shingle)
         |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
         |SELECT id_a, id_b, n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
         |  CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) AS jaccard
         |FROM inter JOIN sizes sa ON sa.doc_id = id_a
         |JOIN sizes sb ON sb.doc_id = id_b
         |WHERE CAST(n_inter AS DOUBLE) / CAST(sa.sz + sb.sz - n_inter AS DOUBLE) >= 0.3""".stripMargin,

    "q27_minhash_signatures" -> s"$shingleCte\n$minhashSigSelect",

    "q28_minhash_lsh_pairs" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM sig")
        .mkString("\nUNION ALL ")
      s"""$shingleCte,
         |sig AS ($minhashSigSelect),
         |banded AS ($bands)
         |SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |FROM banded a JOIN banded b USING (band, key)
         |WHERE a.doc_id < b.doc_id""".stripMargin
    },

    // signatures are per-doc (independent of the rest of the corpus), so
    // one sig-over-all split by doc_id equals the operator's two halves;
    // integer n_match >= ceil(0.5*8)=4 verify — no float boundary
    "q97_incremental_neardup" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, $b AS band, md5(mh${2 * b} || '|' || mh${2 * b + 1}) AS key FROM ")
      val dbands = bands.map(_ + "dsig").mkString("\nUNION ALL ")
      val ibands = bands.map(_ + "isig").mkString("\nUNION ALL ")
      val nMatch = (0 until 8)
        .map(i => s"CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""$shingleCte,
         |sig AS ($minhashSigSelect),
         |dsig AS (SELECT * FROM sig WHERE doc_id >= 250),
         |isig AS (SELECT * FROM sig WHERE doc_id < 250),
         |dband AS ($dbands),
         |iband AS ($ibands),
         |cand AS (SELECT DISTINCT d.doc_id AS delta_id, i.doc_id AS index_id
         |  FROM dband d JOIN iband i USING (band, key)),
         |ver AS (SELECT c.delta_id, c.index_id,
         |    CAST($nMatch AS BIGINT) AS n_match
         |  FROM cand c JOIN dsig a ON a.doc_id = c.delta_id
         |  JOIN isig b ON b.doc_id = c.index_id)
         |SELECT delta_id, index_id, n_match,
         |  round(n_match / 8.0, 6) AS est_jaccard
         |FROM ver WHERE n_match >= 4""".stripMargin
    },

    "q29_simhash" -> s"$simhashSigCte\nSELECT doc_id, simhash FROM sig",

    "q30_simhash_pairs" -> {
      val bands = (0 until 4).map(b =>
        s"SELECT doc_id, simhash, $b AS band, substring(simhash, ${4 * b + 1}, 4) AS key FROM sig")
        .mkString("\nUNION ALL ")
      val ham = hammingSql("sh_a", "sh_b")
      s"""$simhashSigCte,
         |banded AS ($bands),
         |pairs AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS sh_a, b.simhash AS sh_b
         |  FROM banded a JOIN banded b USING (band, key)
         |  WHERE a.doc_id < b.doc_id)
         |SELECT id_a, id_b, CAST($ham AS INT) AS hamming
         |FROM pairs WHERE $ham <= 3""".stripMargin
    },

    "q31_cosine_topk" -> bruteForceTopKSql,

    // identical contract: the TopKAggregator form must reproduce the
    // window-rank form exactly (ties broken by id on both sides)
    "q48_topk_agg" -> bruteForceTopKSql,

    // the DEFAULT auto-dispatched entry replayed with its gate (the q193
    // shape over embeddings): concentration from exact-integer bucket
    // sums; SRP pairs kept only when conc < 3, the kmeans-cell input
    // emptied then (so the whole cell chain trains on nothing); UNION of
    // the two mutually-exclusive routes. Plane count auto-derived:
    // p = bit-length(ceil(count/64) - 1), planes a PREFIX of the inlined
    // 48-plane max set — bucket = substr(full bit string, 1, p) at any
    // corpus size.
    "q32_cosine_neardup" -> {
      val planes = Similarity.hyperplanes(48, 64)
      s"""WITH e0 AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${probedSrpCteSql("s", "e0", planes, Similarity.DefaultSrpProbes)},
         |pops AS (SELECT home AS bucket, count(*) AS n FROM sbv GROUP BY 1),
         |st AS (SELECT CAST(sum(n * (n - 1)) AS DOUBLE)
         |    / (CAST(sum(n) AS DOUBLE) * CAST(63 AS DOUBLE)) AS conc
         |  FROM pops),
         |gprobes AS MATERIALIZED (SELECT id, v, bucket FROM sprobes
         |  WHERE (SELECT conc FROM st) < CAST(3.0 AS DOUBLE)),
         |spf AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    round(${cosSql("a.v", "b.v")}, 6) AS sim
         |  FROM gprobes a JOIN gprobes b USING (bucket)
         |  WHERE a.id < b.id
         |    AND ${cosSql("a.v", "b.v")} >= CAST(0.3 AS DOUBLE)),
         |e AS (SELECT id, v FROM e0
         |  WHERE (SELECT conc FROM st) >= CAST(3.0 AS DOUBLE)),
         |${kmeansCteSqlAuto(64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn <= ${Similarity.DefaultCellProbes}),
         |cp AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         |    round(${cosSql("a.v", "b.v")}, 6) AS sim
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.id < b.id
         |  WHERE ${cosSql("a.v", "b.v")} >= CAST(0.3 AS DOUBLE))
         |SELECT id_a, id_b, sim FROM spf
         |UNION ALL SELECT id_a, id_b, sim FROM cp""".stripMargin
    },

    "q38_ivf_ann_topk" ->
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |${kmeansCteSql(8, 64, 2)},
         |cent AS (SELECT cell, cv FROM cent2),
         |assign AS (
         |  SELECT id, v, cell FROM (
         |    SELECT e.id, e.v, c.cell,
         |      row_number() OVER (PARTITION BY e.id
         |        ORDER BY ${cosSql("e.v", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM e, cent c) t WHERE rn = 1),
         |q AS (SELECT id AS q_id, v AS qv FROM e WHERE id < 5),
         |probe AS (
         |  SELECT q_id, qv, cell FROM (
         |    SELECT q.q_id, q.qv, c.cell,
         |      row_number() OVER (PARTITION BY q.q_id
         |        ORDER BY ${cosSql("q.qv", "c.cv")} DESC, c.cell ASC) AS rn
         |    FROM q, cent c) t WHERE rn <= 6),
         |scored AS (
         |  SELECT p.q_id, a.id, ${cosSql("p.qv", "a.v")} AS sim
         |  FROM assign a JOIN probe p USING (cell) WHERE a.id <> p.q_id),
         |ranked AS (SELECT q_id, id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
         |FROM ranked WHERE rn <= 10""".stripMargin,

    // multi-table SRP-LSH (p=2, L=8): per-table bucket collisions UNIONed
    // (set semantics — the cross-table duplicate collapse; sim is a pure
    // function of the pair, so identical rows merge), then ranked. Table t
    // draws its planes from seed 42+t, matching Similarity.hyperplanes.
    "q33_lsh_ann_topk" -> {
      val nTables = 8
      val tableCtes = (0 until nTables).map { t =>
        val planes = Similarity.hyperplanes(2, 64, 42L + t)
        s"""b$t AS (SELECT id, v, ${bucketSql("v", planes)} AS bucket FROM e),
           |q$t AS (SELECT id AS q_id, v AS qv, bucket FROM b$t WHERE id < 5)""".stripMargin
      }.mkString(",\n")
      val tableSelects = (0 until nTables).map { t =>
        s"""SELECT q_id, id, ${cosSql("qv", "v")} AS sim
           |  FROM b$t JOIN q$t USING (bucket) WHERE id <> q_id""".stripMargin
      }.mkString("\nUNION\n")
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |$tableCtes,
         |scored AS (
         |$tableSelects),
         |ranked AS (SELECT q_id, id, sim,
         |    row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, id ASC) AS rn
         |  FROM scored)
         |SELECT q_id, id, CAST(rn AS INT) AS rank, round(sim, 6) AS sim
         |FROM ranked WHERE rn <= 10""".stripMargin
    },

    // dense grid via generate_series between each user's first/last
    // observed hour; LOCF = last_value IGNORE NULLS over the bucket
    // order (rows-unbounded-preceding, same frame as the Spark window)
    "q171_event_gapfill" ->
      """WITH obs AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    CAST(count(*) AS BIGINT) AS n_obs, round(sum(value), 2) AS v_obs
        |  FROM events GROUP BY 1, 2),
        |spans AS (SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |  FROM obs GROUP BY 1),
        |dense AS (SELECT user_id,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM spans)
        |SELECT d.user_id, d.bucket,
        |  coalesce(o.n_obs, 0) AS n_events,
        |  o.n_obs IS NULL AS is_gap,
        |  last_value(o.v_obs IGNORE NULLS) OVER (
        |    PARTITION BY d.user_id ORDER BY d.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled
        |FROM dense d LEFT JOIN obs o
        |  ON d.user_id = o.user_id AND d.bucket = o.bucket""".stripMargin,

    // gaps-and-islands: change flag (null-safe lag compare) → running-sum
    // segment id → per-segment min(ts)/count → lead() for valid_to; ties
    // broken by event_id in BOTH engines so interval boundaries never
    // depend on partition order
    "q172_scd2_intervals" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NOT DISTINCT FROM event_type
        |      THEN 0 ELSE 1 END AS chg
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |seg AS (
        |  SELECT *, sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM marked),
        |segs AS (
        |  SELECT user_id, seg, min(event_type) AS attr_value,
        |    min(ts) AS valid_from, CAST(count(*) AS BIGINT) AS n_events
        |  FROM seg GROUP BY 1, 2)
        |SELECT user_id, attr_value, valid_from,
        |  lead(valid_from) OVER w2 AS valid_to,
        |  n_events,
        |  lead(valid_from) OVER w2 IS NULL AS is_current
        |FROM segs
        |WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, seg)""".stripMargin,

    // the bucketed layout changes the PLAN, not the relation — the oracle
    // is the plain join aggregate
    "q173_bucketed_join" ->
      """SELECT o_orderpriority,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    // unigram + bigram phrase stream joined to the same VALUES dictionary
    // the lane broadcasts (q174Dict rendered verbatim)
    "q174_dictionary_tags" -> {
      val values = q174Dict
        .map { case (t, p) => s"('$t', '$p')" }.mkString(",\n  ")
      s"""WITH toks AS (SELECT doc_id,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents),
         |phr AS (
         |  SELECT doc_id, unnest(ts) AS phrase FROM toks
         |  UNION ALL
         |  SELECT doc_id, unnest(list_transform(range(1, len(ts)),
         |      i -> ts[i] || ' ' || ts[i + 1])) AS phrase
         |  FROM toks WHERE len(ts) > 1),
         |dict(tag, phrase) AS (VALUES
         |  $values)
         |SELECT doc_id, tag, count(*) AS n_hits
         |FROM phr JOIN dict USING (phrase) GROUP BY 1, 2""".stripMargin
    },

    // q117's register replay, rolled up: per-lang registers + the global
    // merge via GROUPING SETS — merged-register max == direct registers,
    // the same identity the Spark side exploits
    "q175_hll_rollup" -> {
      val alphaM2 = 0.7213 / (1 + 1.079 / 512) * 512 * 512
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH tok AS (
         |  SELECT coalesce(lang, '<null>') AS lang,
         |    coalesce(source, '<null>') AS source,
         |    regexp_split_to_array(trim(lower(text)), '\\s+') AS ts
         |  FROM documents),
         |bg AS (
         |  SELECT lang, source, ts[g] || ' ' || ts[g + 1] AS term
         |  FROM tok, LATERAL (SELECT unnest(range(1, len(ts))) AS g) u
         |  WHERE len(ts) > 1),
         |vv AS (SELECT lang, $poly AS v
         |  FROM (SELECT lang, md5(term) AS h FROM bg) z),
         |regs AS (SELECT lang, v >> 43 AS bucket,
         |    CASE WHEN (v & 8796093022207) = 0 THEN 44
         |         ELSE 44 - length(bin(v & 8796093022207)) END AS rho
         |  FROM vv),
         |reg AS (SELECT coalesce(lang, '<all>') AS lang, bucket, max(rho) AS reg
         |  FROM regs GROUP BY GROUPING SETS ((lang, bucket), (bucket))),
         |sums AS (SELECT lang, sum(pow(2.0, -reg)) AS s_present,
         |    CAST(count(*) AS BIGINT) AS n_present
         |  FROM reg GROUP BY 1),
         |est AS (SELECT lang,
         |    CASE WHEN CAST('$alphaM2' AS DOUBLE)
         |          / (s_present + (512 - n_present)) <= 1280.0
         |        AND (512 - n_present) > 0
         |      THEN round(512.0 * ln(512.0 / CAST(512 - n_present AS DOUBLE)), 4)
         |      ELSE round(CAST('$alphaM2' AS DOUBLE)
         |          / (s_present + (512 - n_present)), 4) END AS hll_est
         |  FROM sums),
         |exact AS (SELECT coalesce(lang, '<all>') AS lang,
         |    CAST(count(DISTINCT term) AS BIGINT) AS exact_distinct,
         |    CAST(count(DISTINCT (lang, source)) AS BIGINT) AS n_sketches
         |  FROM bg GROUP BY GROUPING SETS ((lang), ()))
         |SELECT lang, exact_distinct, n_sketches, hll_est
         |FROM exact JOIN est USING (lang)""".stripMargin
    },

    // document-frequency PMI over the deterministic top-25 vocabulary
    // (df desc, token asc — a total order, so the LIMIT boundary and the
    // final top-50 agree between engines)
    "q176_pmi_pairs" ->
      """WITH dt AS (SELECT DISTINCT doc_id, t FROM (
        |    SELECT doc_id,
        |      unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS t
        |    FROM documents)
        |  WHERE t <> ''),
        |dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY 1),
        |vocab AS (SELECT t, df FROM dfreq ORDER BY df DESC, t LIMIT 25),
        |kept AS (SELECT doc_id, dt.t FROM dt JOIN vocab ON dt.t = vocab.t),
        |pairs AS (SELECT a.t AS x, b.t AS y
        |  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.t < b.t),
        |cxy AS (SELECT x, y, CAST(count(*) AS BIGINT) AS c_xy
        |  FROM pairs GROUP BY 1, 2),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
        |SELECT x, y, c_xy,
        |  round(ln(CAST(c_xy AS DOUBLE) * n_docs / (vx.df * vy.df)), 4) AS pmi
        |FROM cxy CROSS JOIN n
        |JOIN vocab vx ON cxy.x = vx.t JOIN vocab vy ON cxy.y = vy.t
        |WHERE c_xy >= 5
        |ORDER BY pmi DESC, x, y LIMIT 50""".stripMargin,

    // Monday-start ISO weeks in both engines; week_index by day-diff/7
    "q177_cohort_retention" ->
      """WITH firsts AS (
        |  SELECT user_id, CAST(date_trunc('week', min(ts)) AS DATE)
        |    AS cohort_week
        |  FROM events GROUP BY 1),
        |activity AS (
        |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
        |    AS week
        |  FROM events),
        |sizes AS (SELECT cohort_week, CAST(count(*) AS BIGINT)
        |    AS cohort_size
        |  FROM firsts GROUP BY 1),
        |act AS (
        |  SELECT f.cohort_week,
        |    CAST(date_diff('day', f.cohort_week, a.week) / 7 AS INT)
        |      AS week_index,
        |    CAST(count(*) AS BIGINT) AS n_active
        |  FROM activity a JOIN firsts f USING (user_id)
        |  GROUP BY 1, 2)
        |SELECT CAST(act.cohort_week AS VARCHAR) AS cohort_week,
        |  week_index, n_active, cohort_size,
        |  round(CAST(n_active AS DOUBLE) / cohort_size, 4) AS retention
        |FROM act JOIN sizes USING (cohort_week)""".stripMargin,

    // last-touch tie order (touch_ts DESC, touch_type DESC) replays the
    // as-of union-merge's carried-struct tiebreak; first-touch replays
    // the min-struct (ts, event_id, type) order
    "q178_touch_attribution" ->
      """WITH touches AS (SELECT user_id, ts AS touch_ts,
        |    event_id AS touch_tie, event_type AS touch_type
        |  FROM events WHERE event_type IN ('view', 'click', 'signup')),
        |convs AS (SELECT user_id, ts, event_id, value AS conv_value
        |  FROM events WHERE event_type = 'purchase'),
        |last_pick AS (
        |  SELECT c.event_id, c.conv_value, t.touch_type
        |  FROM convs c LEFT JOIN touches t
        |    ON c.user_id = t.user_id AND t.touch_ts <= c.ts
        |  QUALIFY row_number() OVER (PARTITION BY c.event_id
        |    ORDER BY t.touch_ts DESC, t.touch_type DESC) = 1),
        |la AS (SELECT coalesce(touch_type, 'none') AS touch_type,
        |    CAST(count(*) AS BIGINT) AS n_last,
        |    round(sum(conv_value), 2) AS value_last
        |  FROM last_pick GROUP BY 1),
        |firsts AS (
        |  SELECT user_id, touch_ts, touch_type FROM touches
        |  QUALIFY row_number() OVER (PARTITION BY user_id
        |    ORDER BY touch_ts, touch_tie, touch_type) = 1),
        |first_pick AS (
        |  SELECT CASE WHEN f.user_id IS NULL OR f.touch_ts > c.ts
        |      THEN 'none' ELSE f.touch_type END AS touch_type,
        |    c.conv_value
        |  FROM convs c LEFT JOIN firsts f USING (user_id)),
        |fa AS (SELECT touch_type, CAST(count(*) AS BIGINT) AS n_first,
        |    round(sum(conv_value), 2) AS value_first
        |  FROM first_pick GROUP BY 1)
        |SELECT coalesce(fa.touch_type, la.touch_type) AS touch_type,
        |  coalesce(n_first, 0) AS n_first,
        |  coalesce(value_first, 0.0) AS value_first,
        |  coalesce(n_last, 0) AS n_last,
        |  coalesce(value_last, 0.0) AS value_last
        |FROM fa FULL JOIN la ON fa.touch_type = la.touch_type""".stripMargin,

    // ordered list() aggregate = the engine's sorted collect; adjacency
    // counted over 1-based window starts
    "q179_event_patterns" ->
      """WITH seqs AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS tl
        |  FROM events GROUP BY 1)
        |SELECT user_id, CAST(len(tl) AS BIGINT) AS n_events,
        |  CASE WHEN len(tl) >= 3 THEN
        |    CAST(len(list_filter(range(1, len(tl) - 1),
        |      i -> tl[i] = 'view' AND tl[i+1] = 'click'
        |        AND tl[i+2] = 'purchase')) AS BIGINT)
        |  ELSE 0 END AS n_matches
        |FROM seqs""".stripMargin,

    // epoch_us == unix_micros: exact integer weights on both sides
    "q180_time_weighted_avg" ->
      """WITH stepped AS (
        |  SELECT user_id, value,
        |    CAST(lead(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) - epoch_us(ts) AS DOUBLE) AS dt_us,
        |    epoch_us(ts) AS us
        |  FROM events)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(max(us) - min(us) AS DOUBLE) / 1e6, 6) AS span_seconds,
        |  CASE WHEN sum(dt_us) > 0 THEN round(sum(value * dt_us) / sum(dt_us), 4)
        |    ELSE round(max(value), 4) END AS twa
        |FROM stepped GROUP BY 1""".stripMargin,

    // last-writer-wins replayed as a (ts DESC, event_id DESC) window;
    // tombstoned keys drop AFTER the winner is chosen, same as the engine
    "q181_changelog_compact" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_versions
        |  FROM events)
        |SELECT user_id, n_versions, ts AS last_ts, value AS current_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // DuckDB's levenshtein == Spark's (q47 precedent); the length band
    // only prunes — the WHERE re-verifies every candidate
    "q182_fuzzy_name_join" ->
      """WITH names AS (SELECT p_name AS name,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM part GROUP BY 1)
        |SELECT a.name AS name_a, b.name AS name_b,
        |  CAST(levenshtein(a.name, b.name) AS INT) AS dist,
        |  a.n_rows AS n_rows_a, b.n_rows AS n_rows_b
        |FROM names a JOIN names b ON a.name < b.name
        |  AND abs(length(a.name) - length(b.name)) <= 3
        |WHERE levenshtein(a.name, b.name) <= 3""".stripMargin,

    // canonical a<b<c triple join — orientation-free, so it checks the
    // engine's degree-ordered iterator from a different construction
    "q183_triangle_census" ->
      """WITH d AS (SELECT doc_id, source || '.' || lang AS host
        |  FROM documents
        |  WHERE source IS NOT NULL AND lang IS NOT NULL),
        |cnt AS (SELECT greatest(count(*) // 13, 1) AS m FROM d),
        |bh AS (SELECT DISTINCT doc_id % m AS bucket, host
        |  FROM d CROSS JOIN cnt),
        |und AS (SELECT DISTINCT a.host AS a, b.host AS b
        |  FROM bh a JOIN bh b ON a.bucket = b.bucket AND a.host < b.host),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM (
        |  SELECT a AS v FROM und UNION ALL SELECT b AS v FROM und) z
        |  GROUP BY 1),
        |tri AS (SELECT CAST(count(*) AS BIGINT) AS n_triangles
        |  FROM und e1 JOIN und e2 ON e2.a = e1.b
        |  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(sum(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges FROM deg),
        |ne AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM und)
        |SELECT n_nodes, n_edges, n_triangles, n_wedges,
        |  CASE WHEN n_wedges > 0
        |    THEN round(3.0 * n_triangles / n_wedges, 4)
        |    ELSE 0.0 END AS global_clustering
        |FROM agg CROSS JOIN ne CROSS JOIN tri""".stripMargin,

    // the stream must land on the BATCH compaction relation under any
    // micro-batch split — q181's oracle gates both, verbatim (the q166 ⇄
    // q80 move)
    "q184_stream_changelog" ->
      """WITH ranked AS (
        |  SELECT user_id, ts, value, event_type,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rn,
        |    CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT)
        |      AS n_versions
        |  FROM events)
        |SELECT user_id, n_versions, ts AS last_ts, value AS current_value
        |FROM ranked WHERE rn = 1 AND event_type <> 'error'""".stripMargin,

    // q182's pair relation as edges, the q63 recursive-CTE closure for
    // components (min reachable name), canonical spelling by
    // (n_rows DESC, name DESC) — the engine's max-struct order
    "q185_entity_resolution" ->
      """WITH RECURSIVE names AS (SELECT p_name AS name,
        |    CAST(count(*) AS BIGINT) AS n_rows
        |  FROM part GROUP BY 1),
        |pairs AS (SELECT a.name AS na, b.name AS nb
        |  FROM names a JOIN names b ON a.name < b.name
        |    AND abs(length(a.name) - length(b.name)) <= 2
        |  WHERE levenshtein(a.name, b.name) <= 2),
        |eb AS (SELECT na AS src, nb AS dst FROM pairs
        |  UNION SELECT nb, na FROM pairs),
        |reach AS (
        |  SELECT src AS node, dst AS r FROM eb
        |  UNION
        |  SELECT re.node, e.dst FROM reach re JOIN eb e ON re.r = e.src
        |  WHERE e.dst <> re.node),
        |comp AS (SELECT node, min(r) AS mn FROM reach GROUP BY node),
        |wc AS (SELECT n.name, n.n_rows,
        |    least(n.name, coalesce(c.mn, n.name)) AS entity
        |  FROM names n LEFT JOIN comp c ON c.node = n.name),
        |ent AS (SELECT entity, CAST(count(*) AS BIGINT) AS n_names,
        |    CAST(sum(n_rows) AS BIGINT) AS entity_rows
        |  FROM wc GROUP BY 1),
        |canon AS (SELECT entity, name AS canonical_name FROM wc
        |  QUALIFY row_number() OVER (PARTITION BY entity
        |    ORDER BY n_rows DESC, name DESC) = 1)
        |SELECT wc.name, wc.entity, wc.n_rows, ent.n_names,
        |  ent.entity_rows, canon.canonical_name
        |FROM wc JOIN ent USING (entity) JOIN canon USING (entity)""".stripMargin,

    // argmax replayed (c DESC, k DESC == max(struct)); entropy identity
    // H = Σ(−c·ln c)/N + ln N over the key relation only
    "q186_skew_profile" ->
      """WITH counts AS (SELECT user_id AS k, CAST(count(*) AS BIGINT) AS c
        |  FROM events GROUP BY 1),
        |hot AS (SELECT k, c FROM counts ORDER BY c DESC, k DESC LIMIT 1),
        |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |    CAST(sum(c) AS BIGINT) AS n_rows,
        |    sum(-c * ln(c)) AS sclogc
        |  FROM counts)
        |SELECT n_keys, n_rows, hot.k AS hot_key, hot.c AS hot_count,
        |  round(CAST(hot.c AS DOUBLE) / n_rows, 6) AS max_key_frac,
        |  CASE WHEN n_keys > 1
        |    THEN round((sclogc / n_rows + ln(n_rows)) / ln(n_keys), 4)
        |    ELSE 0.0 END AS entropy_ratio,
        |  CAST(ceil(CAST(hot.c AS DOUBLE) * n_keys / n_rows) AS BIGINT)
        |    AS recommended_salts
        |FROM agg CROSS JOIN hot""".stripMargin,

    // q150's direct-computation oracle verbatim (probs swapped in): the
    // merged sketch must land on the direct per-lang sample exactly
    "q187_kmin_rollup" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH h AS (SELECT coalesce(lang, '<null>') AS lang, doc_id,
         |    n_chars AS x, $poly AS hv
         |  FROM (SELECT lang, doc_id, n_chars,
         |          md5(CAST(doc_id AS VARCHAR)) AS h FROM documents) z),
         |thr AS (SELECT lang, max(hv) AS thr
         |  FROM (SELECT lang, hv,
         |          row_number() OVER (PARTITION BY lang ORDER BY hv) AS kr
         |        FROM (SELECT DISTINCT lang, hv FROM h) d) z
         |  WHERE kr <= 64 GROUP BY lang),
         |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_total
         |  FROM h GROUP BY 1),
         |samp AS (SELECT h.lang, x, doc_id,
         |    CAST(row_number() OVER (PARTITION BY h.lang ORDER BY x, doc_id)
         |      AS INT) AS r
         |  FROM h JOIN thr ON h.lang = thr.lang AND h.hv <= thr.thr),
         |m AS (SELECT lang, CAST(max(r) AS INT) AS n_sample
         |  FROM samp GROUP BY lang),
         |pr AS (SELECT CAST(unnest([0.25, 0.5, 0.9]) AS DOUBLE) AS p)
         |SELECT m.lang, pr.p, samp.x AS q, m.n_sample, tot.n_total
         |FROM pr, m
         |JOIN samp ON m.lang = samp.lang
         |JOIN tot ON m.lang = tot.lang
         |WHERE CAST(floor(pr.p * (m.n_sample - 1)) + 1 AS INT) = samp.r""".stripMargin
    },

    // the bins change the PLAN, not the relation — the oracle is the
    // plain theta overlap join
    "q188_interval_overlap" ->
      """WITH spans AS (SELECT user_id,
        |    min(epoch_us(ts)) AS lo_us, max(epoch_us(ts)) AS hi_us
        |  FROM events GROUP BY user_id, date_trunc('day', ts)),
        |wins AS (SELECT DISTINCT epoch_us(date_trunc('hour', ts)) AS win_lo,
        |    epoch_us(date_trunc('hour', ts)) + 3599999999 AS win_hi
        |  FROM events WHERE event_type = 'error'),
        |ov AS (SELECT s.user_id,
        |    least(s.hi_us, w.win_hi) - greatest(s.lo_us, w.win_lo) + 1 AS o_us
        |  FROM spans s JOIN wins w
        |    ON s.lo_us <= w.win_hi AND w.win_lo <= s.hi_us)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_overlaps,
        |  round(CAST(sum(o_us) AS DOUBLE) / 1e6, 4) AS overlap_seconds
        |FROM ov GROUP BY 1""".stripMargin,

    // nearest = min |Δ|; ties prefer the backward direction, then the
    // carried-struct max (err_id DESC) — the engine's two-pass pick
    "q189_nearest_event_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS t_us
        |  FROM events WHERE event_type = 'purchase'),
        |e AS (SELECT user_id, epoch_us(ts) AS err_us, event_id AS err_id
        |  FROM events WHERE event_type = 'error'),
        |j AS (SELECT p.event_id, p.user_id, p.t_us, e.err_us, e.err_id,
        |    abs(e.err_us - p.t_us) AS ad
        |  FROM p LEFT JOIN e USING (user_id))
        |SELECT event_id, user_id, t_us, err_us AS nearest_err_us,
        |  err_us - t_us AS delta_err_us, err_id
        |FROM j
        |QUALIFY row_number() OVER (PARTITION BY event_id
        |  ORDER BY ad ASC NULLS LAST, (err_us > t_us) ASC, err_id DESC) = 1""".stripMargin,

    // covariance invariants from plain sums: C = E[xxᵀ] − μμᵀ entry-wise,
    // PR = tr²/‖C‖²_F — both engines spell the identical division/product
    // chains; only sum order differs, far inside the rounding
    "q190_embedding_isotropy" ->
      """WITH e AS (SELECT vec_id,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n_vecs FROM e),
        |x AS (SELECT vec_id, g.i - 1 AS i, v[g.i] AS xi
        |  FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i) g),
        |means AS (SELECT i, sum(xi) / n_vecs AS mu
        |  FROM x CROSS JOIN n GROUP BY i, n_vecs),
        |d AS (SELECT CAST(count(*) AS BIGINT) AS dim FROM means),
        |s2 AS (SELECT a.i AS i, b.i AS j, sum(a.xi * b.xi) AS s
        |  FROM x a JOIN x b USING (vec_id) GROUP BY 1, 2),
        |cov AS (SELECT s2.i, s2.j, s2.s / n_vecs - ma.mu * mb.mu AS c,
        |    n_vecs, dim
        |  FROM s2 CROSS JOIN n CROSS JOIN d
        |  JOIN means ma ON ma.i = s2.i JOIN means mb ON mb.i = s2.j),
        |agg AS (SELECT n_vecs, dim,
        |    sum(CASE WHEN i = j THEN c ELSE 0.0 END) AS tr,
        |    sum(c * c) AS fr
        |  FROM cov GROUP BY 1, 2),
        |mn AS (SELECT sum(mu * mu) AS m2 FROM means)
        |SELECT n_vecs, dim, round(tr, 6) AS trace, round(fr, 6) AS frob_sq,
        |  round(tr * tr / fr, 4) AS participation_ratio,
        |  round(m2, 6) AS mean_norm_sq
        |FROM agg CROSS JOIN mn""".stripMargin,

    // same 52-bit md5 prefix, same chr(1)/chr(0) row framing; hugeint
    // sum crosses as VARCHAR (Spark's decimal does the same)
    "q191_corpus_digest" -> {
      val poly = (1 to 13).map(i =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1) * ${BigInt(16).pow(13 - i)}")
        .mkString("(", " + ", ")")
      s"""WITH rows_ AS (SELECT coalesce(lang, '<null>') AS lang,
         |    md5(coalesce(CAST(doc_id AS VARCHAR), chr(0)) || chr(1) ||
         |        coalesce(text, chr(0))) AS h
         |  FROM documents),
         |hv AS (SELECT lang, $poly AS v FROM rows_)
         |SELECT coalesce(lang, '<all>') AS lang,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  bit_xor(v) AS xor_digest,
         |  CAST(sum(v) AS VARCHAR) AS sum_digest
         |FROM hv GROUP BY GROUPING SETS ((lang), ())""".stripMargin
    },

    // projection components = the engine's dot fold × the same 1/√k
    // double literal; per-pair ratio = the two L2 folds — every chain
    // replayed verbatim, only aggregate order differs (rounded)
    "q192_jl_distortion" -> {
      val planes = Similarity.hyperplanes(16, 64, 42L)
      val invSqrtK = 1.0 / math.sqrt(16.0)
      val pvSql = planes.map(p =>
        s"${dotSql("v", planeSql(p))} * CAST('$invSqrtK' AS DOUBLE)")
        .mkString("[", ",\n      ", "]")
      s"""WITH e AS (SELECT vec_id AS id,
         |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |pe AS (SELECT id, v, $pvSql AS pv FROM e),
         |q AS (SELECT id AS q_id, v AS qv, pv AS qpv FROM pe WHERE id < 5),
         |d AS (SELECT ${l2Sql("pe.v", "q.qv")} AS d2,
         |    ${l2Sql("pe.pv", "q.qpv")} AS pd2
         |  FROM pe JOIN q ON pe.id <> q.q_id),
         |r AS (SELECT sqrt(pd2) / sqrt(d2) AS ratio FROM d WHERE d2 > 0)
         |SELECT 16 AS k, CAST(count(*) AS BIGINT) AS n_pairs,
         |  round(avg(ratio), 4) AS mean_ratio,
         |  round(min(ratio), 4) AS min_ratio,
         |  round(max(ratio), 4) AS max_ratio,
         |  round(avg(abs(ratio - 1)), 4) AS mean_abs_distortion
         |FROM r""".stripMargin
    },
  ) ++ bangumiOracle ++ mediaOracle
}
