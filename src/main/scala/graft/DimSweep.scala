package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Similarity}

/** Dimension-scaling sweep (dev tool, r14 verdict task 3): every
  * oracle-gated vector lane runs at the fixture's dim = 64, but
  * production embeddings are 768–4096 — d-scaling is the one axis the
  * row-count slope gate never exercises. This main widens the sf
  * embeddings to {64, 256, 512, 1024, 2048, 4096} dims (r16 extended the
  * r15 sweep two doublings to cover the full production range) and times
  * the four vector operator families at each width, min-of-2 per cell,
  * one JSON line out.
  *
  * Widening is TILING, not JL expansion: `tile_k(v) = concat(v × k)/√k`
  * preserves every pairwise cosine EXACTLY (and unit norms), so the
  * candidate sets, pair counts, and outputs of every operator are
  * identical across dims — the measured delta is purely the d-cost of
  * the fold expressions (graft_dot codegen, SRP plane dots, centroid
  * argmax columns, PQ subspace L2s). A gaussian JL expansion would also
  * perturb the pair structure (confounding the measurement) and inlines
  * d_out × 64 plane literals into one projection expression — itself a
  * codegen liability at d ≥ 512.
  *
  * Ops timed per dim (sf0.1 defaults: 2,000 vectors):
  *  - brute:  bruteForceTopK, 5 broadcast queries, k = 10
  *  - srp:    embeddingNearDupPairs (explicit SRP; auto planes)
  *  - cells:  cellNearDupPairs (auto-k k-means route)
  *  - ivfpq:  ivfPqTopK (8 coarse cells, m = 8 subspaces)
  */
object DimSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()

    val base = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))

    def tile(df: DataFrame, k: Int): DataFrame =
      if (k <= 1) df
      else {
        val inv = 1.0 / math.sqrt(k.toDouble)
        df.select(col("vec_id"),
          transform(flatten(array_repeat(col("embedding"), k)),
            x => x * lit(inv)).as("embedding"))
      }

    def time(body: => DataFrame): Double = {
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // r17 (verdict task 2): driver-side TRAINING cost at production k·d —
    // the r16 sweep measured assignment at d = 4096 but trained only at
    // gate k (≤ 224-row samples). SPARK_GRAFT_SWEEP_MODE=train times
    // kmeansCentroids (sortedSample collect + 2 parallelized Lloyd
    // iterations) at (k, d) ∈ {1024, 4096} × {2048, 4096} with the
    // PRODUCTION sample autoSampleSize(k) — run against a corpus with
    // ≥ 16384 vectors (/tmp/testdata_sf1) so the sample is not
    // corpus-clipped. Min-of-2, one JSON line.
    if (sys.env.getOrElse("SPARK_GRAFT_SWEEP_MODE", "assign") == "train") {
      val ks = sys.env.getOrElse("SPARK_GRAFT_TRAIN_KS", "1024,4096")
        .split(",").map(_.trim.toInt).toSeq
      val ds = sys.env.getOrElse("SPARK_GRAFT_TRAIN_DS", "2048,4096")
        .split(",").map(_.trim.toInt).toSeq
      val tout = scala.collection.mutable.LinkedHashMap[String, Double]()
      for (d <- ds; k <- ks) {
        val ed = tile(base, d / 64).localCheckpoint(eager = true)
        def run(): Double = {
          val t0 = System.nanoTime()
          Similarity.kmeansCentroids(ed, "vec_id", "embedding", k,
            Similarity.autoSampleSize(k))
          (System.nanoTime() - t0) / 1e9
        }
        val m = math.min(run(), run())
        tout(s"train_k${k}_d$d") = m
        System.err.println(f"[dimsweep] train_k${k}_d$d%-16s $m%.2f s")
        Checkpoints.quiesce(spark)
      }
      val tcells = tout.map { case (k, v) =>
        s""""$k":${String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(v))}"""
      }.mkString(",")
      println(s"""{"metric":"train_sweep","sf":"$sfDir","cells":{$tcells}}""")
      spark.stop()
      return
    }

    // r18 (verdict task 4): the SRP probe DIAL CURVE. DefaultSrpProbes=2
    // shipped on one measured point (recall 1.0 at ~2× rank-0 candidate
    // mass); this mode measures nProbes ∈ {1,2,3,4} — true recall +
    // verified-pair mass on the fixed 256-doc q208 sample (thresholds
    // 0.9 and 0.8 — 0.8 admits more boundary pairs, where the knee
    // shows) and on a 256-vector embeddings sample (threshold 0.3),
    // plus the generator's solo cost on the FULL embeddings corpus per
    // probe count. One JSON line per corpus.
    if (sys.env.getOrElse("SPARK_GRAFT_SWEEP_MODE", "assign") == "srpcurve") {
      import graft.operators.{Dedup, TextAnalysis}
      val sdocs = Dedup.kminDocSample(
        Tables.load(spark, sfDir, "documents")
          .select(col("doc_id"), col("text")), "doc_id", 256)
        .localCheckpoint(eager = true)
      val tf = TextAnalysis.hashedTfVectors(sdocs, "doc_id", "text",
        dim = 64).select(col("doc_id"), col("vec"))
        .localCheckpoint(eager = true)
      val emb = base.orderBy(md5(col("vec_id").cast("string"))).limit(256)
        .localCheckpoint(eager = true)
      def curve(tag: String, c: DataFrame, id: String, v: String,
          thr: Double): Unit = {
        val rows = (1 to 4).map { p =>
          val r = Similarity.nearDupRecallAudit(c, id, v, thr, dim = 64,
            srpProbes = p).head()
          s""""p$p":{"n_true":${r.getAs[Long]("n_true")},""" +
            s""""n_srp":${r.getAs[Long]("n_srp")},""" +
            s""""recall_srp":${r.getAs[Double]("recall_srp")}}"""
        }
        println(s"""{"metric":"srp_probe_curve","corpus":"$tag",""" +
          s""""threshold":$thr,"sf":"$sfDir",${rows.mkString(",")}}""")
      }
      curve("docs_tf64", tf, "doc_id", "vec", 0.9)
      curve("docs_tf64", tf, "doc_id", "vec", 0.8)
      curve("embeddings", emb, "vec_id", "embedding", 0.3)
      // solo generator cost on the full corpus per probe count
      val costs = (1 to 4).map { p =>
        def run(): Double = time {
          Similarity.embeddingNearDupPairsMultiProbe(base, "vec_id",
            "embedding", 0.3, nProbes = p, dim = 64)
        }
        run() // warm
        val m = math.min(run(), run())
        Checkpoints.quiesce(spark)
        s""""p$p":${String.format(java.util.Locale.ROOT, "%.3f",
          Double.box(m))}"""
      }
      println(s"""{"metric":"srp_probe_cost","corpus":"embeddings_full",""" +
        s""""sf":"$sfDir",${costs.mkString(",")}}""")
      spark.stop()
      return
    }

    val out = scala.collection.mutable.LinkedHashMap[String, Double]()
    for (d <- Seq(64, 256, 512, 1024, 2048, 4096)) {
      val ed = tile(base, d / 64).localCheckpoint(eager = true)
      val q = ed.filter(col("vec_id") < 5).localCheckpoint(eager = true)
      def cell(op: String)(body: => DataFrame): Unit = {
        time(body) // warm: classload + codegen settle outside the clock
        val a = time(body)
        val b = time(body)
        out(s"${op}_d$d") = math.min(a, b)
        System.err.println(f"[dimsweep] ${op}_d$d%-14s ${math.min(a, b)}%.3f s")
      }
      cell("brute") {
        Similarity.bruteForceTopK(ed, q, "vec_id", "embedding", 10)
      }
      cell("srp") {
        Similarity.embeddingNearDupPairs(ed, "vec_id", "embedding", 0.3,
          dim = d)
      }
      // the r17 shipped default on balanced corpora: probed SRP at
      // nProbes = 2 — its d-cost is the rank-0 dots once (the __dots
      // consolidation) plus the fan-out join's doubled candidate mass
      cell("srp2") {
        Similarity.embeddingNearDupPairsMultiProbe(ed, "vec_id",
          "embedding", 0.3, nProbes = 2, dim = d)
      }
      cell("cells") {
        Similarity.cellNearDupPairs(ed, "vec_id", "embedding", 0.3)
      }
      cell("ivfpq") {
        Similarity.ivfPqTopK(ed, q, "vec_id", "embedding", 10, m = 8)
      }
      Checkpoints.quiesce(spark)
    }
    val cells = out.map { case (k, v) =>
      s""""$k":${String.format(java.util.Locale.ROOT, "%.3f",
        Double.box(v))}"""
    }.mkString(",")
    // parseable single line, distinct metric name (the Bench rollup rule)
    println(s"""{"metric":"dim_sweep","sf":"$sfDir","cells":{$cells}}""")
    spark.stop()
  }
}
