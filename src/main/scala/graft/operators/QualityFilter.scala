package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

/** Trained document-quality classifier: full-batch gradient descent on a
  * linear model over engineered text-quality signals — the "distill an
  * expensive quality signal into a cheap scan-stage scorer" step every
  * large pretraining pipeline runs (GPT-3's WebText-similarity logistic
  * filter, CCNet's fastText stage, LLaMA/RedPajama's quality classifiers).
  * The teacher label here is a deterministic rule so the whole training
  * run is oracle-replayable; in production it is an LLM-judge or
  * reference-corpus label — the machinery below is unchanged.
  *
  * Reference scope: the reference project scores records with fixed
  * heuristics only (rating/status rollups — `bangumi_data_analysis.py`);
  * a TRAINED filter is pure extension surface for the 100 TB corpus case.
  *
  * Scale shape (the reason this is written the way it is):
  *  - Featurization is ONE scan — integer token/char counts and two
  *    regex strips, all codegen'd column arithmetic, no shuffle.
  *  - The model is K+1 doubles (K = 4 signals + bias). Training never
  *    shuffles the corpus: each round is one pass over the checkpointed
  *    feature relation producing a K+1-value partial-aggregated gradient
  *    (map-side combine; bytes moved per round = K doubles per partition).
  *    The only driver-side values are the model itself and 1-row aggregate
  *    read-backs — bounded by CONFIG, never by corpus size.
  *  - Scoring is scan-stage arithmetic against broadcast-literal weights:
  *    zero shuffle, fully codegen'd, exactly [[Sampling.hashSplit]]'s
  *    deployment shape.
  *
  * Cross-engine exactness (the q116 pageRank drift-firewall pattern,
  * extended): per-document signals are integer-count ratios (every scalar
  * op IEEE-identical across engines); corpus-level sums are the only
  * order-dependent step, so every sum is of per-row terms pre-divided by n
  * (keeping partial magnitudes ~1, reassociation error well under 1e-12)
  * and every derived scalar is snapped to a decimal grid. The snap is
  * NOT the engines' round(): lr=0.5 times a 6dp gradient lands EXACTLY
  * on 7-digit halves, where Spark (shortest-repr BigDecimal HALF_UP)
  * and DuckDB (x*10^p then std::round) legitimately disagree — observed
  * in development as single weights off by one last digit. Instead both
  * sides spell the identical IEEE chain floor(x*10^p + 0.5)/10^p, which
  * maps equal input doubles to equal outputs UNCONDITIONALLY; the only
  * residual cross-engine risk is a corpus-sum drift (~1e-12) straddling
  * a 6dp half-step (5e-7) — a ~1e-6-per-rounding event. Per-document
  * margins are not snapped at all: a fixed-order scalar fold over
  * identical inputs is already bit-deterministic. Gradients/weights snap
  * at 6dp (they are 1e-3..0.5 — the optimizer loses nothing), scaler
  * moments at 6dp, z-scores at 10dp. No transcendentals: the link is
  * identity with a 0.5 decision threshold (least-squares "linear
  * probability" training) because exp() is NOT bit-standardized across
  * libms and a logistic link would straddle rounding boundaries between
  * engines; squares are spelled `x*x` (IEEE-exact product), never `pow`.
  */
object QualityFilter {

  /** Feature order is part of the model contract. */
  val FeatureNames: Seq[String] = Seq("f_tokens", "f_vowel", "f_wordlen", "f_distinct")

  /** Decimal-grid snap floor(x*10^p + 0.5)/10^p — the SAME IEEE scalar
    * chain the oracle SQL spells, so equal doubles snap equally in every
    * engine (round() does not guarantee that; see the class doc). Spark's
    * floor on doubles yields LongType; dividing that exact integer by the
    * same power restores an identical double on both sides.
    */
  private def snap(c: Column, p: Int): Column = {
    val pow = lit(math.pow(10.0, p))
    floor(c * pow + lit(0.5)) / pow
  }

  /** The trained artifact: z-score scaler + linear weights (bias head). */
  final case class Model(
      n: Long,
      mu: Seq[Double],
      sd: Seq[Double],
      bias: Double,
      weights: Seq[Double])

  /** The engineered signal columns over a text column, in [[FeatureNames]]
    * order: f_tokens = tokenCount/100; f_vowel = vowel ratio; f_wordlen =
    * mean token length / 10; f_distinct = type-token ratio. All ratios of
    * integer counts — exact-deterministic scalar arithmetic.
    */
  private def signalCols(textCol: String): Seq[Column] = {
    val toks = TextAnalysis.tokens(col(textCol))
    val ntok = size(toks).cast("double")
    val sumLen = aggregate(toks, lit(0), (acc, t) => acc + length(t)).cast("double")
    Seq(
      ntok / lit(100.0),
      TextAnalysis.vowelRatio(col(textCol)),
      sumLen / greatest(ntok, lit(1.0)) / lit(10.0),
      size(array_distinct(toks)).cast("double") / greatest(ntok, lit(1.0)))
  }

  /** Per-document quality signals + teacher label, one scan. */
  def signals(docs: DataFrame, idCol: String, textCol: String,
      label: Column): DataFrame =
    docs.select(col(idCol).as("doc_id") +: label.cast("double").as("y") +:
      signalCols(textCol).zip(FeatureNames).map { case (c, f) => c.as(f) }: _*)

  /** Fit scaler + weights: `rounds` full-batch GD steps at learning rate
    * `lr` on least-squares loss, weights from zero. Deterministic and
    * rerun-stable: same corpus -> bit-identical model.
    */
  def fit(docs: DataFrame, idCol: String, textCol: String, label: Column,
      rounds: Int = 12, lr: Double = 0.5): Model = {
    require(rounds >= 1, "rounds must be >= 1")
    val sig = signals(docs, idCol, textCol, label).transform(Checkpoints.trackedEager)
    val n = sig.count()
    require(n > 0, "cannot fit on an empty corpus")
    val nd = lit(n.toDouble)
    // two-pass scaler: mean then stdev, both snapped at 6dp (coarse on
    // purpose — the 5e-7 half-step dwarfs any sum-order drift even at sf1,
    // and scaler precision is irrelevant to the model)
    val muExprs = FeatureNames.map(f => snap(sum(col(f) / nd), 6).as(f))
    val muRow = sig.agg(muExprs.head, muExprs.tail: _*).head()
    val mu = FeatureNames.indices.map(muRow.getDouble)
    val sdExprs = FeatureNames.zip(mu).map { case (f, m) =>
      val d = col(f) - lit(m)
      snap(sqrt(snap(sum(d * d / nd), 12)), 6).as(f)
    }
    val sdRow = sig.agg(sdExprs.head, sdExprs.tail: _*).head()
    val sd = FeatureNames.indices.map(i =>
      if (sdRow.getDouble(i) == 0.0) 1.0 else sdRow.getDouble(i))
    val z = zFrame(sig, mu, sd).transform(Checkpoints.trackedEager)
    // Dataset.unpersist is a cache-manager call and a NO-OP for
    // checkpoint blocks (the plan is a LogicalRDD, never registered
    // there) — release through the RDD, or the blocks live forever
    Checkpoints.release(sig)
    var bias = 0.0
    var w = Vector.fill(FeatureNames.size)(0.0)
    for (_ <- 1 to rounds) {
      // the margin is scan-stage literal arithmetic; gradient terms are
      // pre-divided by n so partial sums stay O(1); the updated weights
      // are computed inside the same 1-row select so every snap runs
      // through the same engine-side floor chain as the oracle
      val m = margin(bias, w)
      val updExprs =
        snap(lit(bias) - lit(lr) * snap(sum((m - col("y")) / nd), 6), 6)
          .as("bias") +:
        FeatureNames.zip(w).map { case (f, wj) =>
          snap(lit(wj) - lit(lr) *
            snap(sum((m - col("y")) * col(s"z_$f") / nd), 6), 6).as(f)
        }
      val upd = z.agg(updExprs.head, updExprs.tail: _*).head()
      bias = upd.getDouble(0)
      w = Vector.tabulate(FeatureNames.size)(i => upd.getDouble(i + 1))
    }
    Checkpoints.release(z) // model is driver-side; nothing reads z now
    Model(n, mu, sd, bias, w)
  }

  /** Standardized feature frame: z_f = snap((f - mu)/sd, 10). */
  private def zFrame(sig: DataFrame, mu: Seq[Double], sd: Seq[Double]): DataFrame =
    sig.select(col("doc_id") +: col("y") +:
      FeatureNames.zipWithIndex.map { case (f, i) =>
        snap((col(f) - lit(mu(i))) / lit(sd(i)), 10).as(s"z_$f")
      }: _*)

  // unrounded on purpose: a fixed-order scalar fold over identical
  // inputs is bit-deterministic in every engine
  private def margin(bias: Double, w: Seq[Double]): Column =
    FeatureNames.zip(w).foldLeft(lit(bias): Column) {
      case (acc, (f, wj)) => acc + lit(wj) * col(s"z_$f")
    }

  /** Scan-stage scorer: adds the margin (`scoreCol`) and the
    * 0.5-thresholded `predCol` to `docs`. Zero joins, zero shuffle — the
    * deployment path at corpus scale.
    */
  def score(model: Model, docs: DataFrame, textCol: String,
      scoreCol: String = "q_score", predCol: String = "q_pred"): DataFrame = {
    val zCols = signalCols(textCol).zipWithIndex.map { case (c, i) =>
      snap((c - lit(model.mu(i))) / lit(model.sd(i)), 10)
    }
    val m = FeatureNames.indices.foldLeft(lit(model.bias): Column) {
      (acc, i) => acc + lit(model.weights(i)) * zCols(i)
    }
    docs.withColumn(scoreCol, m)
      .withColumn(predCol, (col(scoreCol) >= 0.5).cast("int"))
  }

  /** Calibration + threshold sweep of a fitted model against the teacher:
    * margins banded into deciles (clamped to [0, 0.9]), then per band the
    * observed positive rate (calibration: does score ≈ probability?) and
    * the cumulative-from-the-top precision/recall (threshold sweep: what
    * does thresholding at band/10 buy?) — the numbers that pick a filter
    * threshold for a target precision before a 100 TB filtering run.
    *
    * Scale shape: one corpus scan into a ≤10-row band relation; the
    * ordered window and the total-positives cross join run on that
    * band-bounded relation, never the corpus (the unpartitioned window is
    * deliberate and safe: its input is ≤ 10 rows by construction). Every
    * output is a ratio of exact integer counts — no rounding needed
    * anywhere, so cross-engine equality is unconditional given the
    * bit-deterministic margins.
    */
  def calibration(docs: DataFrame, idCol: String, textCol: String,
      label: Column, model: Model): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = zFrame(signals(docs, idCol, textCol, label), model.mu, model.sd)
      .withColumn("m", margin(model.bias, model.weights))
    val bands = scored
      .groupBy(least(lit(9L), greatest(lit(0L), floor(col("m") * 10)))
        .cast("int").as("band"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("n_pos"))
    val tot = bands.agg(sum(col("n_pos")).cast("double").as("pos"))
    val w = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands.crossJoin(broadcast(tot))
      .select(col("band"), col("n"), col("n_pos"),
        (col("n_pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        (sum(col("n_pos")).over(w).cast("double") /
          sum(col("n")).over(w).cast("double")).as("precision_at"),
        when(col("pos") === 0.0, lit(null).cast("double"))
          .otherwise(sum(col("n_pos")).over(w).cast("double") / col("pos"))
          .as("recall_at"))
  }

  /** Train + evaluate, emitting the full artifact as a tagged relation:
    * ('weight', name, w), ('scaler_mu'/'scaler_sd', name, v),
    * ('confusion', tp|fp|fn|tn, count), ('metric', accuracy, v) — the
    * model card a pipeline publishes next to its filtered corpus.
    */
  def trainReport(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, label: Column, rounds: Int = 12,
      lr: Double = 0.5): DataFrame = {
    val model = fit(docs, idCol, textCol, label, rounds, lr)
    val scored = zFrame(signals(docs, idCol, textCol, label), model.mu, model.sd)
      .withColumn("m", margin(model.bias, model.weights))
    val conf = scored.agg(
      sum(when(col("m") >= 0.5 && col("y") === 1.0, 1L).otherwise(0L)).as("tp"),
      sum(when(col("m") >= 0.5 && col("y") === 0.0, 1L).otherwise(0L)).as("fp"),
      sum(when(col("m") < 0.5 && col("y") === 1.0, 1L).otherwise(0L)).as("fn"),
      sum(when(col("m") < 0.5 && col("y") === 0.0, 1L).otherwise(0L)).as("tn"))
      // accuracy snaps through the same floor chain as the oracle
      .select(col("tp"), col("fp"), col("fn"), col("tn"),
        snap((col("tp") + col("tn")).cast("double") / lit(model.n.toDouble), 6)
          .as("acc"))
      .head()
    val (tp, fp, fn, tn) =
      (conf.getLong(0), conf.getLong(1), conf.getLong(2), conf.getLong(3))
    val acc = conf.getDouble(4)
    val rows =
      Row("weight", "bias", model.bias) +:
      (FeatureNames.zip(model.weights).map { case (f, w) => Row("weight", f, w) } ++
        FeatureNames.zip(model.mu).map { case (f, m) => Row("scaler_mu", f, m) } ++
        FeatureNames.zip(model.sd).map { case (f, s) => Row("scaler_sd", f, s) } ++
        Seq(Row("confusion", "tp", tp.toDouble), Row("confusion", "fp", fp.toDouble),
          Row("confusion", "fn", fn.toDouble), Row("confusion", "tn", tn.toDouble),
          Row("metric", "accuracy", acc)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("kind", StringType, nullable = false),
        StructField("k", StringType, nullable = false),
        StructField("v", DoubleType, nullable = false))))
  }

  /** Per-group gate-pass reputation with a Wilson score lower bound —
    * the domain/source-level filtering decision: a raw keep-rate ranks a
    * 3-doc source that passed 3/3 above a 10k-doc source at 95%, while
    * the Wilson 95% lower confidence bound (Wilson 1927; the standard
    * "sort by lower bound" fix) penalizes exactly the small-n groups a
    * whole-domain drop/keep decision must not trust. Used to decide
    * which HOSTS to crawl-block or down-weight, where per-document
    * gating ([[graft.operators.TextAnalysis.gopherRules]]) decides
    * documents.
    *
    * Shape at 100 TB: one map-side-combinable (group, 2-long) aggregate
    * over the gate column — group count is hosts/sources (bounded),
    * never documents; the rank is a window over that bounded relation.
    * Determinism: n/k are exact longs, z is a fixed double literal, so
    * every derived double is the same IEEE chain in any engine; rounded
    * 6dp at the boundary with a (bound desc, group asc) total-order rank.
    *
    * Output: groupCol, n_docs, n_keep, keep_rate, wilson_lb, rnk. */
  def reputationReport(
      df: DataFrame,
      groupCol: String,
      keepCol: Column,
      z: Double = 1.959963984540054): DataFrame = {
    val agg = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        count_if(keepCol === 1).as("n_keep"))
    val n = col("n_docs").cast("double")
    val p = col("n_keep").cast("double") / n
    val z2 = lit(z * z)
    val lb = (p + z2 / (lit(2.0) * n) -
      lit(z) * sqrt(p * (lit(1.0) - p) / n + z2 / (lit(4.0) * n * n))) /
      (lit(1.0) + z2 / n)
    val scored = agg.select(col(groupCol), col("n_docs"), col("n_keep"),
      round(p, 6).as("keep_rate"), round(lb, 6).as("wilson_lb"))
    scored.withColumn("rnk",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("wilson_lb").desc, col(groupCol).asc)).cast("int"))
  }
}
