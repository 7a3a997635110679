package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.{AsofJoin, Dedup, Fusion, RangeJoin, Sampling, Similarity, TextAnalysis}

/** Unit coverage for the training-data operators. */
class OperatorsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "THE  quick   Brown fox jumps over the lazy dog"), // ws/case variant
    (3L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (4L, "completely different content about spark engines")
  ).toDF("doc_id", "text")

  test("fingerprint is invariant to case and whitespace runs") {
    val fps = docs.select($"doc_id", TextAnalysis.fingerprint($"text").as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) === fps(2L))
    assert(fps(1L) !== fps(3L))
  }

  test("exact dedup keeps min doc_id per normalized text") {
    val groups = Dedup.exactGroups(docs, "doc_id", "text")
    assert(groups.count() === 3)
    val g = groups.filter($"n_copies" === 2).collect()(0)
    assert(g.getAs[Long]("keep_id") === 1L)
    assert(Dedup.exact(docs, "doc_id", "text").count() === 3)
  }

  test("3-gram Jaccard finds the near-dup pair") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("maxShingleDocFreq drops hot stop-shingles from the index") {
    // "common tail phrase" appears in every doc (a stop-shingle); the unique
    // heads share nothing. With the cap at 3 < 5 docs the hot shingle is
    // dropped, so no pair survives; uncapped, all 10 pairs intersect on it.
    val hot = (1L to 5L).map(i => (i, s"head$i phrase$i tail$i common tail phrase"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.shingleSet(hot, "doc_id", "text", 3)
    val capped = Dedup.shingleSet(hot, "doc_id", "text", 3, maxShingleDocFreq = 3)
    val hotShingles = uncapped.groupBy($"shingle").count().filter($"count" > 3)
      .select("shingle").as[String].collect()
    assert(hotShingles.nonEmpty)
    assert(capped.filter($"shingle".isin(hotShingles.toSeq: _*)).count() === 0)
    // survivors are exactly the non-hot shingles, for every doc
    assert(capped.count() === uncapped.count() - 5 * hotShingles.length)
  }

  test("short documents contribute a whole-text shingle") {
    val short = Seq((1L, "one two")).toDF("doc_id", "text")
    val sh = short.select(explode(Dedup.shingles($"text", 3)).as("s"))
      .collect().map(_.getString(0))
    assert(sh.toSeq === Seq("one two"))
  }

  test("codegen shingleRows emits the exact explode(shingles) multiset") {
    // covers: normal docs, repeated shingles (multiplicity), a doc exactly
    // n tokens long, shorter-than-n docs, and empty text — for n = 1, 2, 3
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a b a b a b"),          // repeated windows -> multiplicity
      (3L, "x y z"),                // exactly 3 tokens
      (4L, "one two"),              // shorter than n=3
      (5L, "solo"),                 // single token
      (6L, "")                      // empty
    ).toDF("doc_id", "text")
    for (n <- 1 to 3) {
      val viaArray = corpus
        .select($"doc_id", explode(Dedup.shingles($"text", n)).as("shingle"))
        .groupBy("doc_id", "shingle").count()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      val viaRows = Dedup.shingleRows(corpus, "doc_id", "text", n)
        .groupBy("doc_id", "shingle").count()
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
      assert(viaRows === viaArray, s"multiset mismatch at n=$n")
    }
  }

  test("minhash signature is deterministic and k-wide") {
    val a = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8).collect()
    val b = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 8).collect()
    assert(a.map(_.toSeq).toSet === b.map(_.toSeq).toSet)
    assert(a.head.length === 9) // id + mh0..mh7
  }

  test("minhash LSH candidates include the near-dup, verify filters jaccard") {
    val near = Dedup.minhashNearDupPairs(docs, "doc_id", "text", 3, 8, 2, 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    assert(near.toSet.subsetOf(Set((1L, 3L), (1L, 2L), (2L, 3L))))
  }

  test("lshPlan sizes (bands, rows) from the S-curve; deeper threshold, deeper bands") {
    // pinned against an independent Python computation of the same
    // closed forms (b = ceil(ln(1-rec)/ln(1-t^r)), fp at s = t/2)
    val p03 = Dedup.lshPlan(0.3, 0.9, 128)
    assert((p03._1, p03._2) === (25, 2))
    val p05 = Dedup.lshPlan(0.5, 0.9, 128)
    assert((p05._1, p05._2) === (18, 3))
    val p08 = Dedup.lshPlan(0.8, 0.9, 128)
    assert((p08._1, p08._2) === (13, 8))
    assert(Dedup.lshPlan(0.8, 0.99, 256)._1 === 26)
    for (p <- Seq(p03, p05, p08)) {
      assert(p._3 >= 0.9, s"recall at threshold must hold: $p")
      assert(p._1 * p._2 <= 128, s"signature must fit: $p")
      assert(p._4 < p._3, s"fp at t/2 below recall at t: $p")
    }
    // the plan is valid input for the executor: bands tile the signature
    assert((p03._1 * p03._2) % p03._2 === 0)
  }

  test("KMV sketch: estimates near exact overlap; shard merge = k-min of sketches") {
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    // independent bigram derivation (adjacent-pair transform, not the
    // operator's own helper)
    val terms = docs.filter($"source".isin("src0", "src1"))
      .select($"source",
        explode(expr("transform(sequence(1, greatest(size(split(trim(lower(text)), '\\\\s+')) - 1, 0)), " +
          "i -> concat(split(trim(lower(text)), '\\\\s+')[i-1], ' ', split(trim(lower(text)), '\\\\s+')[i]))"))
          .as("term"))
    val setA = terms.filter($"source" === "src0")
      .select("term").distinct().collect().map(_.getString(0)).toSet
    val setB = terms.filter($"source" === "src1")
      .select("term").distinct().collect().map(_.getString(0)).toSet
    val exactUnion = (setA ++ setB).size.toDouble
    val exactInter = (setA & setB).size.toDouble
    val est = TextAnalysis.kmvBigramOverlap(
      docs, "source", "text", "src0", "src1", 256).head()
    val (eu, ej, ei) = (est.getAs[Double]("est_union"),
      est.getAs[Double]("est_jaccard"), est.getAs[Double]("est_inter"))
    assert(math.abs(eu - exactUnion) / exactUnion < 0.2,
      s"union est $eu vs exact $exactUnion")
    assert(math.abs(ei - exactInter) / exactInter < 0.25,
      s"inter est $ei vs exact $exactInter")
    assert(math.abs(ej - exactInter / exactUnion) < 0.15)
    // set-difference estimates complete the algebra: |A∖B| and |B∖A|
    // from the same two sketches, within the sampling envelope of the
    // exact differences
    val alg = TextAnalysis.kmvBigramSetAlgebra(
      docs, "source", "text", "src0", "src1", 256).head()
    val exactOnlyA = (setA -- setB).size.toDouble
    val exactOnlyB = (setB -- setA).size.toDouble
    assert(math.abs(alg.getAs[Double]("est_only_a") - exactOnlyA) /
      math.max(1.0, exactOnlyA) < 0.25,
      s"onlyA est ${alg.getAs[Double]("est_only_a")} vs exact $exactOnlyA")
    assert(math.abs(alg.getAs[Double]("est_only_b") - exactOnlyB) /
      math.max(1.0, exactOnlyB) < 0.25,
      s"onlyB est ${alg.getAs[Double]("est_only_b")} vs exact $exactOnlyB")
    // the four regions partition the union sample exactly
    assert(alg.getAs[Long]("n_both") + alg.getAs[Long]("n_only_a") +
      alg.getAs[Long]("n_only_b") === alg.getAs[Long]("n"))
    // merge associativity: the sketch of the combined slice equals the
    // k-min of the two shard sketches' values
    val sk = TextAnalysis.kmvSketch(terms, "source", "term", 64)
      .localCheckpoint(eager = true)
    val mergedShards = sk.select($"v").distinct()
      .orderBy($"v").limit(64).collect().map(_.getLong(0)).toSeq
    val combined = TextAnalysis.kmvSketch(
      terms.withColumn("source", lit("all")), "source", "term", 64)
      .select($"v").orderBy($"v").collect().map(_.getLong(0)).toSeq
    assert(mergedShards === combined)
  }

  test("sampledQuantiles: exact when k >= n, rank-bounded when sampling") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"doc_id", $"n_chars")
    val n = docs.count()
    val exactSorted = docs.orderBy($"n_chars", $"doc_id")
      .select($"n_chars").collect().map(_.getLong(0))
    val probs = Seq(0.01, 0.25, 0.5, 0.75, 0.99)
    def exactQ(p: Double) =
      exactSorted(math.floor(p * (exactSorted.length - 1)).toInt)
    // k >= n: the sample IS the corpus and the read-off is the exact
    // positional quantile
    val full = operators.Sampling.sampledQuantiles(docs, "doc_id",
      $"n_chars", probs, k = 100000)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    for (p <- probs) assert(full(p) === exactQ(p), s"p=$p")
    // k = 256 over 500 docs: a genuine sample; each estimate must land
    // within a rank window of ~4 standard errors (n·√(p(1−p)/k))
    val est = operators.Sampling.sampledQuantiles(docs, "doc_id",
      $"n_chars", probs, k = 256)
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    for (p <- probs) {
      val tol = math.max(4.0 * n * math.sqrt(p * (1 - p) / 256), 8.0).toInt
      val lo = exactSorted(math.max(0,
        math.floor(p * (n - 1)).toInt - tol))
      val hi = exactSorted(math.min(n.toInt - 1,
        math.floor(p * (n - 1)).toInt + tol))
      assert(est(p) >= lo && est(p) <= hi,
        s"p=$p est ${est(p)} outside rank window [$lo, $hi]")
    }
  }

  test("outlierReport: Tukey fences from exact quartiles flag planted tails") {
    import spark.implicits._
    // one tight group with planted extremes; k >= n so quartiles are the
    // exact positional read-off and fences are hand-computable:
    // values 100..115 (16 docs) + outliers 1 and 100000
    val base = (0 until 16).map(i => ("en", i.toLong, 100L + i))
    val docs = (base :+ (("en", 90L, 1L)) :+ (("en", 91L, 100000L)))
      .toDF("lang", "doc_id", "n_chars")
    val r = operators.Scrub.outlierReport(docs, "lang", "doc_id",
      col("n_chars"), k = 1000, fence = 3.0).head()
    val xs = docs.select($"n_chars", $"doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).sortBy(identity).map(_._1)
    val q1 = xs(math.floor(0.25 * (xs.length - 1)).toInt)
    val q3 = xs(math.floor(0.75 * (xs.length - 1)).toInt)
    val (lo, hi) = (q1 - 3.0 * (q3 - q1), q3 + 3.0 * (q3 - q1))
    assert(r.getAs[Long]("q1") === q1 && r.getAs[Long]("q3") === q3)
    assert(r.getAs[Double]("lo") === lo && r.getAs[Double]("hi") === hi)
    assert(r.getAs[Long]("n_docs") === 18L)
    assert(r.getAs[Long]("n_low") === 1L && r.getAs[Long]("n_high") === 1L)
  }

  test("sampledQuantilesByGroup: per-group exact when k >= group, sane when sampling") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.01/documents.parquet")
      .select($"lang", $"doc_id", $"n_chars")
    val probs = Seq(0.25, 0.5, 0.9)
    val byLang = docs.collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.map(r => (r.getLong(2), r.getLong(1)))
        .sortBy(identity).map(_._1)).toMap
    // k >= every group: per-group exact positional quantiles
    val full = operators.Sampling.sampledQuantilesByGroup(docs, "lang",
      "doc_id", $"n_chars", probs, k = 100000)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getLong(2)).toMap
    for ((lang, xs) <- byLang; p <- probs) {
      val want = xs(math.floor(p * (xs.length - 1)).toInt)
      assert(full((lang, p)) === want, s"$lang p=$p")
    }
    // k = 64: big groups genuinely sample; every estimate stays inside
    // its group's value range and rows stay one per (group, p)
    val est = operators.Sampling.sampledQuantilesByGroup(docs, "lang",
      "doc_id", $"n_chars", probs, k = 64).collect()
    assert(est.length === byLang.size * probs.size)
    for (r <- est) {
      val xs = byLang(r.getString(0))
      assert(r.getLong(2) >= xs.head && r.getLong(2) <= xs.last)
      assert(r.getInt(3) <= math.max(64, 1) + 4) // n_sample ≈ k (ties slack)
    }
  }

  test("kmin_values aggregate: k smallest distinct, partial-merge invariant") {
    import spark.implicits._
    // duplicates + shuffled order + many partitions → exercises update
    // dedup, the saturated fast path, and cross-partition partial merge
    val vals = (1L to 500L).flatMap(v => Seq(v, v, 1000L - v))
    val df = scala.util.Random.shuffle(vals).toDF("v").repartition(13)
    val got = df.selectExpr("kmin_values(v, 16) AS ks")
      .head().getSeq[Long](0)
    assert(got === vals.distinct.sorted.take(16))
    // group keys see independent sketches; empty-input groups never arise
    // (no rows → no group), and a group smaller than k returns it whole
    val small = Seq(("a", 7L), ("a", 7L), ("a", 3L), ("b", 9L))
      .toDF("g", "v").groupBy($"g")
      .agg(expr("kmin_values(v, 16)").as("ks"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(small("a") === Seq(3L, 7L) && small("b") === Seq(9L))
  }

  test("ngramDiversitySketch: exact below k, estimate tracks exact above it") {
    import spark.implicits._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    def exact(n: Int): (Long, Long) = {
      val grams = docs
        .select(explode(when(size(TextAnalysis.tokens(lower($"text"))) >= n,
          transform(
            sequence(lit(1),
              size(TextAnalysis.tokens(lower($"text"))) - lit(n) + lit(1)),
            i => array_join(
              slice(TextAnalysis.tokens(lower($"text")), i, lit(n)), " ")))
          .otherwise(array().cast("array<string>"))).as("gram"))
      val r = grams.agg(count(lit(1)), countDistinct($"gram")).head()
      (r.getLong(0), r.getLong(1))
    }
    // k far above the distinct-gram count → the sketch is the full set
    // and the Beyer estimator's below-k branch reproduces q145 exactly
    val big = TextAnalysis.ngramDiversitySketch(docs, "text", 3, k = 100000)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    for (n <- 1 to 3) {
      val (total, distinct) = exact(n)
      val (gotTotal, gotDist, gotDiv) = big(n)
      assert(gotTotal === total)
      assert(gotDist === distinct.toDouble)
      assert(math.abs(gotDiv - distinct.toDouble / total) < 1e-6)
    }
    // k = 256 (the lane config): bounded sketch, estimate within the
    // ~1/√k envelope of the exact distinct count for every n
    val small = TextAnalysis.ngramDiversitySketch(docs, "text", 3, k = 256)
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    for (n <- 1 to 3) {
      val (_, distinct) = exact(n)
      assert(math.abs(small(n) - distinct) / distinct < 0.2,
        s"n=$n est ${small(n)} vs exact $distinct")
    }
  }

  test("minhashNearDupPairsAuto: planned signature, every pair exactly verified") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val pairs = Dedup.minhashNearDupPairsAuto(
      docs, "doc_id", "text", 3, 0.5, 0.9, 64).collect()
    assert(pairs.nonEmpty, "fixture has near-dup families at t=0.5")
    assert(pairs.forall(_.getAs[Double]("jaccard") >= 0.5))
    // recall check against exact all-pairs at the same threshold: the
    // planned signature must hold the configured 0.9 target on this corpus
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5).collect()
    val got = pairs.map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = exact.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(want.nonEmpty)
    val recall = got.count(want.contains).toDouble / want.size
    assert(recall >= 0.9, s"planned LSH recall $recall below target")
  }

  test("blockedPairs: a < b only, null keys never pair, one row per shared key") {
    val keyed = Seq[(Long, Option[String], String)](
      (1L, Some("x"), "p1"), (1L, Some("y"), "p1"), // 1 and 2 share x and y
      (2L, Some("x"), "p2"), (2L, Some("y"), "p2"),
      (8L, Some("x"), "p8"),                        // shares only x
      (3L, Some("solo"), "p3"),                     // a one-member key
      (4L, None, "p4"), (5L, None, "p5"),           // null keys
      (6L, Some("z"), "p6"), (6L, Some("z"), "p6")  // one id twice under z
    ).toDF("id", "k", "p")
    val out = Dedup.blockedPairs(keyed, "id", Seq("k"), Seq("p"))
    assert(out.columns.toSeq === Seq("id_a", "id_b", "p_a", "p_b"))
    val rows = out.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(rows.forall { case (a, b, _, _) => a < b }, "only id_a < id_b")
    assert(rows.forall { case (a, b, pa, pb) => pa == s"p$a" && pb == s"p$b" })
    val ids = rows.flatMap { case (a, b, _, _) => Seq(a, b) }.toSet
    assert(!ids.exists(Set(3L, 4L, 5L, 6L)),
      "no self pairs, no one-member keys, no null-key pairs")
    // multiplicity = shared-key count: the contract that tells callers
    // when a relation with several keys per id needs .distinct()
    val mult = rows.groupBy { case (a, b, _, _) => (a, b) }
      .map { case (k, v) => k -> v.length }
    assert(mult === Map((1L, 2L) -> 2, (1L, 8L) -> 1, (2L, 8L) -> 1))
  }

  test("simhash: identical docs collide, near-dups land close") {
    val two = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhash(two, "doc_id", "text")
      .collect().map(_.getString(1))
    assert(sigs(0) === sigs(1))
    assert(sigs(0).matches("[0-9a-f]{16}"))
    val pairs = Dedup.simhashNearDupPairs(two, "doc_id", "text", 3).collect()
    assert(pairs.length === 1 && pairs(0).getAs[Int]("hamming") === 0)
  }

  test("two-level pigeonhole blocking is exact: equals brute-force Hamming<=3 pairs") {
    // the nested (band, sub-block) 28-bit keys must find EXACTLY the pairs
    // an exhaustive O(n²) scan finds — blocking prunes candidates, never
    // results. Real corpus slice so band values actually collide.
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val sig = Dedup.simhash(docs, "doc_id", "text")
    val a = sig.select($"doc_id".as("id_a"), $"simhash".as("sh_a"))
    val b = sig.select($"doc_id".as("id_b"), $"simhash".as("sh_b"))
    val brute = a.crossJoin(b).filter($"id_a" < $"id_b")
      .select($"id_a", $"id_b",
        Dedup.simhashHamming($"sh_a", $"sh_b").as("hamming"))
      .filter($"hamming" <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val banded = Dedup.simhashNearDupPairs(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(banded === brute)
    assert(brute.nonEmpty, "fixture must exercise at least one real pair")
    // the C(6,3) combination-blocking dial must find the same exact set
    val combo = Dedup.simhashNearDupPairsCombinatorial(docs, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(combo === brute)
  }

  test("simhash64 expression is bit-identical to the composed formulation") {
    // real corpus slice: CJK, punctuation, repeated tokens, short docs
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(Seq((9001L, "a"), (9002L, "a a a b"), (9003L, "  "),
        (9004L, "многоязычный 多语言 text")).toDF("doc_id", "text"))
    val viaExpr = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaAgg = Dedup.simhashComposed(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaExpr === viaAgg)
    // and the expression stays inside whole-stage codegen (no interpreted
    // fallback): the project evaluating simhash64 must carry the `*(n)`
    // codegen-span marker in the executed plan
    val plan = Dedup.simhash(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("simhash64") && l.trim.stripPrefix(":- ").startsWith("*(")), plan)
  }

  /** The composed string forms the shingle kernels replaced, kept as the
    * independent references they are checked against: per-shingle seeded
    * md5 hex, min-aggregated per document, and xxhash64 of each shingle,
    * both over [[Dedup.shingleRows]]. */
  private def minhashOf(shingle: Column, seed: Int): Column =
    md5(concat(lit(s"$seed:"), shingle))

  private def minhashComposed(df: DataFrame, n: Int, k: Int): DataFrame = {
    val aggs = (0 until k).map(i => min(minhashOf($"shingle", i)).as(s"mh$i"))
    Dedup.shingleRows(df, "doc_id", "text", n)
      .groupBy($"doc_id").agg(aggs.head, aggs.tail: _*)
  }

  private def shingleHashesComposed(df: DataFrame, n: Int): DataFrame =
    Dedup.shingleRows(df, "doc_id", "text", n)
      .select($"doc_id", xxhash64($"shingle").as("shingle"))

  test("minhash_sig and shingle_hashes kernels are bit-identical to the composed forms") {
    // real corpus slice plus the edge rows of the short-document rule:
    // null / empty / whitespace-only text, fewer than n and exactly n
    // tokens, repeated windows, CJK and Cyrillic, one id on two rows
    val edge = Seq[(Long, Option[String])](
      (9001L, None), (9002L, Some("")), (9003L, Some("   ")),
      (9004L, Some("\t \n")), (9005L, Some("a")), (9006L, Some("a b")),
      (9007L, Some("a b c")), (9008L, Some("a b a b a b a b")),
      (9009L, Some("многоязычный 多语言 text 孤独摇滚！ ぼっち・ざ・ろっく")),
      (9010L, Some("\tleading tab and  double  space")),
      (9011L, Some("same id first row with words")),
      (9011L, Some("same id second row")))
      .toDF("doc_id", "text")
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
      .union(edge)
    def sigs(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> (1 until r.length).map(r.getString)).toMap
    def hashes(df: DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    for (n <- Seq(1, 2, 3)) {
      for (k <- Seq(1, 8)) {
        val viaKernel = sigs(Dedup.minhashSignatures(docs, "doc_id", "text", n, k))
        assert(viaKernel === sigs(minhashComposed(docs, n, k)), s"n=$n k=$k")
        assert(viaKernel.contains(9011L) && !viaKernel.contains(9001L))
      }
      // the multiset, duplicates included, and the operator's distinct set
      val multiset = docs.select($"doc_id",
        explode(GraftFunctions.shingle_hashes(TextAnalysis.tokens($"text"), n)))
      assert(hashes(multiset) === hashes(shingleHashesComposed(docs, n)), s"n=$n")
      assert(hashes(Dedup.cappedShingleHashes(docs, "doc_id", "text", n, 0L)) ===
        hashes(shingleHashesComposed(docs, n).distinct()), s"n=$n")
    }
    // null elements (split never makes them): concat_ws skips them, and
    // shingleRows' zip drops a window whose last token is null
    val nulls = spark.sql("""SELECT
      shingle_hashes(array('x', null, 'y'), 2) = array(xxhash64('y')),
      shingle_hashes(array('x', null, 'y'), 3) = array(xxhash64('x y')),
      minhash_sig(array('x', null, 'y'), 2, 1) = array(md5('0:y')),
      minhash_sig(array('x', null), 2, 1) IS NULL""").head()
    assert((0 until 4).forall(nulls.getBoolean))
    // both kernels stay inside whole-stage codegen (no interpreted
    // fallback): the operator evaluating each carries the `*(n)` marker
    val tokens = TextAnalysis.tokens($"text")
    for ((fn, q) <- Seq(
        "minhash_sig" -> docs.select(GraftFunctions.minhash_sig(tokens, 3, 8)),
        "shingle_hashes" -> docs.select(
          explode(GraftFunctions.shingle_hashes(tokens, 3))))) {
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(l => l.contains(fn) &&
        l.trim.stripPrefix(":- ").stripPrefix("+- ").startsWith("*(")), plan)
    }
  }

  test("cosine top-k ranks the identical vector first") {
    val corpus = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val q = corpus.filter($"vec_id" === 1L)
    val top = Similarity.bruteForceTopK(corpus, q, "vec_id", "embedding", 2)
      .orderBy($"rank").collect()
    assert(top(0).getAs[Long]("id") === 4L) // identical vector, sim 1.0
    assert(top(0).getAs[Double]("sim") === 1.0)
    assert(top(1).getAs[Long]("id") === 2L)
  }

  test("aggregator top-k matches the window top-k (bounded-shuffle path)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 3)
    val viaWindow = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaAgg = Similarity.bruteForceTopKAgg(e, q, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(viaAgg === viaWindow)
  }

  test("SRP bucketing: identical vectors share a bucket (ANN finds them)") {
    val corpus = (0 until 32).map(i =>
      (i.toLong, Array.tabulate(8)(d => math.sin(i * 8 + d).toFloat)))
      .toDF("vec_id", "embedding")
      .union(Seq((99L, Array.tabulate(8)(d => math.sin(0 * 8 + d).toFloat)))
        .toDF("vec_id", "embedding"))
    val q = corpus.filter($"vec_id" === 0L)
    val ann = Similarity.lshBucketedTopK(corpus, q, "vec_id", "embedding",
      3, nPlanes = 4, dim = 8)
    val ids = ann.collect().map(_.getAs[Long]("id"))
    assert(ids.contains(99L)) // the exact duplicate vector
  }

  test("IVF probes contain the exact nearest neighbor for most queries") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 5)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", 10,
      nCentroids = 4, nProbe = 2)
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getLong(1)).toSet).toMap
    // approximate: demand the true NN is found for >= 3 of 5 queries
    val hits = exact.count { case (qid, nn) => ivf.getOrElse(qid, Set.empty)(nn) }
    assert(hits >= 3, s"IVF recall too low: $hits/5")
  }

  test("sampled k-means: deterministic across runs, one centroid per cell") {
    val vecs = (0L until 24L).map(i =>
      (i, Seq.tabulate(4)(d => ((i * 7 + d * 3) % 11).toDouble + 1.0)))
    val df = vecs.toDF("id", "v")
    val a = Similarity.kmeansCentroids(df, "id", "v", 4, sampleSize = 16, iters = 2)
    val b = Similarity.kmeansCentroids(df, "id", "v", 4, sampleSize = 16, iters = 2)
    assert(a.toSeq === b.toSeq) // bit-identical, not just close
    assert(a.map(_._1).toSeq === (0 until 4))
    assert(a.forall(_._2.forall(x => !x.isNaN && !x.isInfinite)))
    // refined centroids are means, so they leave the initial vector set
    val initSet = vecs.take(16).map(_._2).toSet
    assert(a.exists(c => !initSet.contains(c._2)))
  }

  test("rolling-hash chunks survive a prefix insertion (shift resistance)") {
    val rnd = new scala.util.Random(7)
    val base = Seq.fill(120)(rnd.alphanumeric.take(6).mkString).mkString(" ")
    val shifted = "INSERTED PREFIX " + base
    val df = Seq((1L, base), (2L, shifted)).toDF("doc_id", "text")
    val chunks = df.select($"doc_id",
      explode(graft.functions.GraftFunctions.rolling_chunks($"text")).as("fp"))
    val shared = chunks.groupBy($"fp").count().filter($"count" > 1).count()
    assert(shared > 0, "no shared chunks after prefix shift")
    // identical docs share everything
    val dup = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
      .select($"doc_id",
        explode(graft.functions.GraftFunctions.rolling_chunks($"text")).as("fp"))
      .groupBy($"fp").count()
    assert(dup.filter($"count" =!= 2).count() === 0)
  }

  test("as-of join picks the latest right row at-or-before each left row") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    val left = Seq((1L, ts(10), "l10"), (1L, ts(20), "l20"), (2L, ts(30), "l30"))
      .toDF("k", "t", "lv")
    val right = Seq((1L, ts(5), "a"), (1L, ts(20), "b"), (1L, ts(25), "c"))
      .toDF("k", "rt", "rv")
    val out = AsofJoin.asofJoin(left, right, "k", "t", "rt")
      .collect().map(r => (r.getAs[String]("lv"), r.getAs[String]("rv"))).toSet
    // t=10 → a (5); t=20 → b (inclusive <=); k=2 has no right rows → dropped
    assert(out === Set(("l10", "a"), ("l20", "b")))
    val outer = AsofJoin.asofJoin(left, right, "k", "t", "rt", inner = false)
    assert(outer.count() === 3)
  }

  test("as-of join never stitches values across different right rows") {
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(s * 1000L)
    val left = Seq((1L, ts(30), "l30")).toDF("k", "t", "lv")
    val right = Seq((1L, ts(1), Some("x1"), Some("y1")),
      (1L, ts(2), Option.empty[String], Some("y2")))
      .toDF("k", "rt", "rx", "ry")
    val out = AsofJoin.asofJoin(left, right, "k", "t", "rt").head()
    // the match is the t=2 row: rx must be NULL, not carried from t=1
    assert(out.getAs[String]("rx") === null)
    assert(out.getAs[String]("ry") === "y2")
  }

  test("token counting and quality bands") {
    val d = Seq((1L, "  Hello, world! This is a test.  ")).toDF("doc_id", "text")
    val r = d.select(
      TextAnalysis.tokenCount($"text").as("n"),
      TextAnalysis.bpeishTokenCount($"text").as("b"),
      TextAnalysis.qualityScore($"text").as("q")).collect()(0)
    assert(r.getAs[Int]("n") === 6)
    assert(r.getAs[Int]("b") === 9) // 6 alnum runs + , ! .
    assert(r.getAs[Int]("q") === 3)
  }

  test("binned range join equals the naive range predicate") {
    val points = (0L to 100L).map(p => (p, s"p$p")).toDF("p", "ptag")
    val intervals = Seq(
      (1L, 0L, 0L),    // single-point interval, boundary inclusive both ends
      (2L, 5L, 25L),   // spans multiple bins (width 7)
      (3L, 13L, 14L),  // straddles a bin boundary
      (4L, 98L, 150L), // runs past the point domain
      (5L, 40L, 30L),  // empty (hi < lo): matches nothing
      (6L, 17L, 17L)
    ).toDF("iv_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", 7L)
      .select($"iv_id", $"p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (id, lo, hi) <- Seq((1L, 0L, 0L), (2L, 5L, 25L), (3L, 13L, 14L),
        (4L, 98L, 150L), (5L, 40L, 30L), (6L, 17L, 17L))
      p <- 0L to 100L if p >= lo && p <= hi
    } yield (id, p)).toSet
    assert(got === want)
    assert(want.count(_._1 == 1L) === 1 && !want.exists(_._1 == 5L))
  }

  test("funnel picks the earliest strictly-ordered chain and drops incompletes") {
    import java.sql.Timestamp
    def t(m: String) = Timestamp.valueOf(s"2024-01-01 00:$m:00")
    val events = Seq(
      // user 1: completes; signup BEFORE the click must not count, the
      // later signup does; earliest valid purchase picked
      (1L, "signup", t("01")), (1L, "click", t("02")), (1L, "signup", t("05")),
      (1L, "purchase", t("06")), (1L, "purchase", t("09")),
      // user 2: all stages present but purchase precedes signup → incomplete
      (2L, "click", t("01")), (2L, "purchase", t("02")), (2L, "signup", t("03")),
      // user 3: missing signup entirely
      (3L, "click", t("01")), (3L, "purchase", t("02"))
    ).toDF("user_id", "event_type", "ts")
    val out = graft.operators.Funnel
      .stageTimes(events, "user_id", "event_type", "ts",
        Seq("click", "signup", "purchase"))
      .collect().map(r => r.getLong(0) ->
        ((r.getTimestamp(1), r.getTimestamp(2), r.getTimestamp(3)))).toMap
    assert(out.keySet === Set(1L))
    assert(out(1L) === ((t("02"), t("05"), t("06"))))
  }

  test("range join bins exactly at nanosecond-epoch magnitudes (> 2^53)") {
    // double division has ulp ≈ 256 at 1.2e18: float bin math here would
    // assign boundary points to the wrong bin and silently drop matches
    val base = 1L << 60
    val w = 1000L
    val offs = Seq(-1001L, -1000L, -999L, -1L, 0L, 1L, 999L, 1000L, 1500L, 2000L)
    val points = offs.map(o => Tuple1(base + o)).toDF("p")
    val intervals = Seq((1L, base - 1000L, base + 999L), (2L, base + 1000L, base + 1999L))
      .toDF("iv_id", "lo", "hi")
    val got = RangeJoin.pointInInterval(points, intervals, "p", "lo", "hi", w)
      .select($"iv_id", $"p").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = (for {
      (id, lo, hi) <- Seq((1L, base - 1000L, base + 999L), (2L, base + 1000L, base + 1999L))
      o <- offs; p = base + o if p >= lo && p <= hi
    } yield (id, p)).toSet
    assert(got === want)
  }

  test("repetition profile: exact fractions incl. short-doc collapse") {
    val d = Seq(
      // 6 tokens → 4 3-grams all distinct → dup 0; 5 2-grams, "a b" ×2 → top 2/5
      (1L, "a b c a b d"),
      // fully repetitive: "x y x y x y" → 3-grams {xyx,yxy,xyx,yxy} → dup 1/2
      (2L, "x y x y x y"),
      // shorter than 3 tokens: one whole-sequence shingle, zero repetition
      (3L, "hi there"),
      (4L, "solo")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionProfile(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getLong(3)))).toMap
    assert(r(1L) === ((0.0, 2.0 / 5.0, 4L)))
    assert(r(2L) === ((0.5, 3.0 / 5.0, 4L))) // "x y" appears 3× of 5 2-grams
    assert(r(3L) === ((0.0, 1.0, 1L)))
    assert(r(4L) === ((0.0, 1.0, 1L)))
  }

  test("bm25 matches a hand-computed score and drops no-match docs") {
    val d = Seq(
      (1L, "spark spark table"), // tf(spark)=2, dl=3
      (2L, "join table row pad"), // tf(join)=1, dl=4
      (3L, "no match here at all") // dl=5, no query term → dropped
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25Scores(d, "doc_id", "text", Seq("spark", "join"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // N=3, avgdl=4; df=1 for both terms → idf = ln(1 + 2.5/1.5)
    // (StrictMath: Spark's Log expression uses it, 1 ulp off Math.log)
    val idf = java.lang.StrictMath.log(1.0 + (3L - 1L + 0.5) / (1L + 0.5))
    def s(tf: Long, dl: Long) =
      idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / 4.0))
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === s(2, 3))
    assert(got(2L) === s(1, 4))
  }

  test("bpeTrain: hand-computed merge schedule, greedy apply, early stop") {
    // words: aaab ×3, banana ×2. Every round's argmax (count desc, then
    // (left, right) lexicographic) and greedy left-to-right apply is
    // hand-derived; the trainer must stop at 7 when no pair remains.
    val d = Seq((1L, "aaab aaab banana"), (2L, "banana aaab"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeTrain(d, "text", 20)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
      .sortBy(_._1)
    val want = Seq(
      (1, "a", "a", "aa", 6L), // "aaa" counts the overlap, merges once
      (2, "a", "n", "an", 4L), // 4-4 tie vs (n,a) → left asc
      (3, "a", "b", "ab", 3L), // 3-3 tie vs (aa,a) → "a" < "aa"
      (4, "aa", "ab", "aaab", 3L),
      (5, "an", "a", "ana", 2L), // 2-2-2 tie → ("an","a") minimal
      (6, "an", "ana", "anana", 2L),
      (7, "b", "anana", "banana", 2L))
    assert(got.toSeq === want)
  }

  test("bpeTrain: merge schedule is prefix-stable in nMerges") {
    val d = Tables.load(spark, "/root/testdata/sf0.001", "documents")
      .limit(40)
    val long = TextAnalysis.bpeTrain(d, "text", 8).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
      .sortBy(_._1)
    val short = TextAnalysis.bpeTrain(d, "text", 4).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(4)))
      .sortBy(_._1)
    assert(long.length === 8 && short.length === 4)
    assert(long.take(4).toSeq === short.toSeq)
  }

  test("wordpieceTrain/Encode: hand-computed vocab, fallback chars, budget") {
    // words: abcd ×3, ab, cd, xy. Seed (multi budget 4): ab(4), cd(4),
    // abc(3), bc(3) + all chars — xy(1) misses the budget. Round 1
    // (budget → vocabSize=2): segment [abc d][ab][cd][x y] → multi kept
    // = abc(3), ab(1 — 1-1 tie vs cd, lex asc); chars kept = only those
    // APPEARING as pieces = {d, x, y}. Final segmentation falls back to
    // the single char for c (membership never blocks the length-1
    // fallback), so c's count lands outside the vocab and is dropped by
    // the artifact join.
    val d = Seq((1L, "abcd abcd ab cd"), (2L, "abcd xy")).toDF("doc_id", "text")
    val vocab = TextAnalysis.wordpieceTrain(d, "text",
        seedSize = 4, vocabSize = 2, maxPieceLen = 3, rounds = 1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
      .sortBy(_._3)
    assert(vocab.toSeq === Seq(("d", 4L, 1), ("abc", 3L, 2), ("ab", 1L, 3),
      ("x", 1L, 4), ("y", 1L, 5)))
    val enc = TextAnalysis.wordpieceEncode(d, "doc_id", "text",
        vocab.map(_._1).toSeq, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1)
    assert(enc.toSeq === Seq(
      (1L, 7, "abc d abc d ab c d"),
      (2L, 4, "abc d x y")))
  }

  test("wordpieceEncode: longest match wins over greedy shorter pieces") {
    // vocab has both "ab" and "abc": MaxMatch must take "abc" at pos 1
    // of "abcd", never "ab" + "cd"
    val d = Seq((1L, "abcd")).toDF("doc_id", "text")
    val enc = TextAnalysis.wordpieceEncode(d, "doc_id", "text",
      Seq("ab", "abc", "cd", "d"), 3).collect()
    assert(enc.head.getString(2) === "abc d")
  }

  test("wordpieceEncode: relation is TOTAL — zero-word docs emit (0, '')") {
    // empty and whitespace-only texts have zero pre-tokens; the encode
    // must still emit one row per doc (n_tokens = 0, encoded = ''), the
    // contract the q129/q142 LEFT-JOIN oracles replay — dropping such
    // docs would silently shrink every downstream join on doc_id
    val d = Seq((1L, "ab"), (2L, ""), (3L, "  \t "))
      .toDF("doc_id", "text")
    val enc = TextAnalysis.wordpieceEncode(d, "doc_id", "text",
        Seq("ab"), 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .sortBy(_._1)
    assert(enc.toSeq === Seq((1L, 1, "ab"), (2L, 0, ""), (3L, 0, "")))
  }

  test("duplicateWeights: 1/n_copies per exact-duplicate group") {
    // "A  b" and "a b" normalize to the same fingerprint → weight 0.5
    val d = Seq((1L, "A  b"), (2L, "a b"), (3L, "c")).toDF("doc_id", "text")
    val got = Dedup.duplicateWeights(d, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.toSeq === Seq((1L, 2L, 0.5), (2L, 2L, 0.5), (3L, 1L, 1.0)))
  }

  test("tokenBudgetSelect: whole/boundary/dropped bins, intra-bin id tiebreak") {
    // bins=4 over [0,1]: d1,d2 → bin3 (whole), d3 → bin2 (whole),
    // {d4,d6} → bin1 (boundary: cumBefore=30, 30+7>35), d5 → bin0
    // (dropped: cumBefore=37>35). Boundary order (p desc, id asc) keeps
    // d4 (cum 33) and drops d6 (cum 37).
    val d = Seq((1L, 0.9, 10L), (2L, 0.8, 10L), (3L, 0.6, 10L),
      (4L, 0.3, 3L), (6L, 0.3, 4L), (5L, 0.1, 10L))
      .toDF("doc_id", "p", "t").withColumn("g", lit("x"))
    val got = Sampling.tokenBudgetSelect(d, "g", "doc_id",
        col("p"), col("t"), budget = 35L, bins = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(1L, 2L, 3L, 4L))
  }

  test("tokenBudgetSelect: histogram-band decomposition equals the window spec") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val pr = round(TextAnalysis.vowelRatio(col("text")), 4)
    val tk = TextAnalysis.tokenCount(col("text"))
    for ((budget, bins) <- Seq((1500L, 7), (2500L, 256), (0L, 2))) {
      val got = Sampling.tokenBudgetSelect(docs, "lang", "doc_id",
          pr, tk, budget, bins = bins)
        .select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("p").desc, col("doc_id").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      val want = docs.select(col("lang"), col("doc_id"), pr.as("p"),
          tk.cast("long").as("t"))
        .withColumn("cum", sum(col("t")).over(w))
        .filter(col("cum") <= budget)
        .select("lang", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(got === want, s"budget=$budget bins=$bins")
    }
    // per-group budgets: equivalence against the per-group window spec;
    // a lang absent from the budgets dim (zh) must vanish entirely
    val budgets = Seq(("en", 1500L), ("de", 800L), ("es", 800L),
      ("fr", 800L)).toDF("lang", "budget")
    val gotPg = Sampling.tokenBudgetSelectPerGroup(docs, "lang", "doc_id",
        pr, tk, budgets, bins = 7)
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("p").desc, col("doc_id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wantPg = docs.select(col("lang"), col("doc_id"), pr.as("p"),
        tk.cast("long").as("t"))
      .withColumn("cum", sum(col("t")).over(w))
      .join(budgets, Seq("lang"))
      .filter(col("cum") <= col("budget"))
      .select("lang", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(gotPg === wantPg)
    assert(!gotPg.exists(_._1 == "zh"), "unbudgeted group must be dropped")
  }

  test("semDeDup keeps the min id of each near-identical group") {
    val e = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f)),
      (11L, Array(0.99f, 0.01f, 0.0f)), // ≈ 10 → dropped
      (12L, Array(0.0f, 1.0f, 0.0f)),
      (13L, Array(0.0f, 0.98f, 0.02f)), // ≈ 12 → dropped
      (14L, Array(0.0f, 0.0f, -1.0f)) // alone in direction → kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semDeDup(e, "vec_id", "embedding", 0.95, nCentroids = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out === Map(10L -> 1, 11L -> 0, 12L -> 1, 13L -> 0, 14L -> 1))
  }

  test("auto quantizer sizing: integer identities and clamps") {
    // k = ceil(n / cell), integer-exact at the boundaries a float
    // log/ceil could miss by 1 ulp
    assert(Similarity.autoCentroids(500, 64) === 8)
    assert(Similarity.autoCentroids(512, 64) === 8)
    assert(Similarity.autoCentroids(513, 64) === 9)
    assert(Similarity.autoCentroids(1, 64) === 1)
    assert(Similarity.autoCentroids(0, 64) === 1)
    assert(Similarity.autoCentroids(Long.MaxValue, 64) === 65536) // clamp
    assert(Similarity.autoSampleSize(8) === 64)
    assert(Similarity.autoSampleSize(32) === 128)
    assert(Similarity.autoSampleSize(100000) === 16384) // clamp
    // p = smallest power of two with 2^p buckets >= ceil(n / bucket);
    // exact at powers of two: 4096/64 = 64 = 2^6 → exactly 6 planes
    assert(Similarity.autoPlanes(500, 64) === 3)
    assert(Similarity.autoPlanes(2000, 64) === 5)
    assert(Similarity.autoPlanes(4096, 64) === 6)
    assert(Similarity.autoPlanes(4097, 64) === 7)
    assert(Similarity.autoPlanes(64, 64) === 1)
    assert(Similarity.autoPlanes(Long.MaxValue, 64) === 24) // clamp
    // monotone non-decreasing in n — corpus growth never shrinks the
    // quantizer
    val ns = Seq(1L, 63L, 64L, 65L, 500L, 2000L, 5000L, 100000L)
    assert(ns.map(Similarity.autoCentroids(_, 64)).sliding(2)
      .forall(w => w.head <= w.last))
    assert(ns.map(Similarity.autoPlanes(_, 64)).sliding(2)
      .forall(w => w.head <= w.last))
  }

  test("join-based cell assignment equals the expression form (incl. ties/nulls)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("v"))
    val cents = Similarity.kmeansCentroids(
      Tables.load(spark, "/root/testdata/sf0.001", "embeddings"),
      "vec_id", "embedding", 8)
    val expr = Similarity.assignCellsExpr(e, cents)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val join = Similarity.assignCellsViaJoin(e, cents)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(join === expr)
    // and the dispatcher picks the join path for k > MaxExprCentroids
    // without changing semantics on a duplicated-centroid tie fixture
    val tied = cents ++ cents.map { case (i, cv) => (i + 8, cv) } // exact ties
    val exprT = Similarity.assignCellsExpr(e, tied)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joinT = Similarity.assignCellsViaJoin(e, tied)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(joinT === exprT) // ties → lowest cell on both paths
  }

  test("assignCells dispatch is d-aware: k*dim over the literal budget takes the join path") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val dim = 512
    val e = (0 until 100).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
      .toDF("id", "v")
      .select(col("id"), col("v").cast("array<double>").as("v"))
    def cents(k: Int) = Array.tabulate(k)(i =>
      i -> Seq.fill(dim)(rnd.nextGaussian()))
    // 2 * 512 = 1024 <= budget (1024, r16-retuned) → expression path (no
    // join in the plan) — the zero-shuffle envelope explicit IVF coarse
    // quantizers (k=8 × d=64 = 512) and sf0.01 gate auto-ks sit in
    val low = Similarity.assignCells(e, cents(2))
    assert(!low.queryExecution.executedPlan.toString.contains("Join"),
      "under the literal budget the plan must stay scan-stage")
    // 64 * 512 = 32768 > budget → join path even though k <= 256: the
    // r15 dim sweep measured the inlined-literal argmax growing linearly
    // in d, and the r16 n=200k re-measure found the expr form 25× slower
    // than the join form already at 3,584 literals (equal parallelism) —
    // the per-row interpreted cost that an n=2,000 sweep cannot see
    val hi = Similarity.assignCells(e, cents(64))
    assert(hi.queryExecution.executedPlan.toString.contains("Join"),
      "past the literal budget the join form must take over")
    // and the two paths still agree at this width (direct calls bypass
    // the dispatcher, so both forms run regardless of the budget)
    val c = cents(24)
    val a = Similarity.assignCellsExpr(e, c).select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = Similarity.assignCellsViaJoin(e, c).select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b)
  }

  test("auto-config pair generators equal the explicitly-sized runs") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val n = e.count()
    val k = Similarity.autoCentroids(n, 64)
    val auto = Similarity.semDeDup(e, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    val explicit = Similarity.semDeDup(e, "vec_id", "embedding", 0.3,
      nCentroids = k)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).sorted
    assert(auto.toSeq === explicit.toSeq)
    val p = Similarity.autoPlanes(n, 64)
    val autoP = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding", 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    val explicitP = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding",
      0.3, nPlanes = p)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(autoP.toSeq === explicitP.toSeq)
  }

  test("quantizerLevels: balanced ceil-sqrt split, one level while it fits") {
    // one level while want fits the flat bound
    assert(Similarity.quantizerLevels(100, 65536) === ((100, 1)))
    assert(Similarity.quantizerLevels(65536, 65536) === ((65536, 1)))
    assert(Similarity.quantizerLevels(0, 65536) === ((1, 1)))
    // just past the clamp: 257 × 256 = 65792 >= 65537, both levels flat
    assert(Similarity.quantizerLevels(65537, 65536) === ((257, 256)))
    // the spec-forced low clamp the two-level e2e test uses
    assert(Similarity.quantizerLevels(15, 4) === ((4, 4)))
    // product covers want whenever within the combined bound
    for (w <- Seq(65537L, 100000L, 1000000L, 65536L * 65536L)) {
      val (kc, kf) = Similarity.quantizerLevels(w, 65536)
      assert(kc.toLong * kf >= w, s"want=$w got ($kc, $kf)")
      assert(kc <= 65536 && kf <= 65536)
    }
    // past the combined bound: clamps to (maxFlat, maxFlat)
    assert(Similarity.quantizerLevels(65536L * 65536L + 1, 65536) ===
      ((65536, 65536)))
  }

  test("autoPlanesTwoLevel: equals autoPlanes below 24, extends to 48, clamps past") {
    for (n <- Seq(1L, 64L, 500L, 4096L, 4097L, 1L << 29))
      assert(Similarity.autoPlanesTwoLevel(n, 64) ===
        Similarity.autoPlanes(n, 64), s"n=$n")
    // q = 2^30 needs 30 planes — past the one-level 24, within two-level 48
    assert(Similarity.autoPlanes(64L << 30, 64) === 24)
    assert(Similarity.autoPlanesTwoLevel(64L << 30, 64) === 30)
    assert(Similarity.autoPlanesTwoLevel(Long.MaxValue, 64) === 48) // clamp
  }

  test("semDeDup two-level path (forced-low clamp): exact-dup semantics, LONG cell") {
    import spark.implicits._
    // 40 distinct deterministic directions + exact duplicates of 10 of
    // them; identical vectors share the coarse cell AND the residual fine
    // cell by construction (same expressions), so min-id-survivor
    // semantics must survive the nesting. Seeded fixture: the spec
    // self-validates that no DISTINCT pair reaches the 0.99 threshold.
    val rnd = new scala.util.Random(7)
    val base = Array.fill(40)(Array.fill(8)(rnd.nextGaussian().toFloat))
    for {
      i <- base.indices; j <- base.indices if i < j
      ci = base(i).map(_.toDouble); cj = base(j).map(_.toDouble)
    } {
      val cos = ci.zip(cj).map { case (a, b) => a * b }.sum /
        (math.sqrt(ci.map(x => x * x).sum) * math.sqrt(cj.map(x => x * x).sum))
      assert(cos < 0.99, s"fixture broke: base $i ~ $j at $cos")
    }
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 10).map(i => ((100 + i).toLong, base(i * 3))) // dups of 0,3,6,…
    val e = rows.toSeq.toDF("vec_id", "embedding")
    // want = ceil(50/8) = 7 > maxFlatCells=4 → two-level (kc=3? no: ceil
    // sqrt 7 = 3, kf = ceil(7/3) = 3) — quantizerLevels(7,4) = (3,3)
    val out = Similarity.semDeDup(e, "vec_id", "embedding", 0.99,
      targetCellSize = 8, maxFlatCells = 4)
    assert(out.schema("cell").dataType ===
      org.apache.spark.sql.types.LongType, "composite cell must widen to long")
    val got = out.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    // every duplicate (id 100+) drops; every original (the min id) survives
    for (i <- 0 until 10) assert(got((100 + i).toLong) === 0, s"dup ${100 + i}")
    for (i <- 0 until 40) assert(got(i.toLong) === 1, s"original $i")
    // the composite key actually uses BOTH levels: some cell >= kFine
    val cells = out.select("cell").distinct().collect().map(_.getLong(0))
    assert(cells.exists(_ >= 3), s"no coarse split in ${cells.toSeq.sorted}")
  }

  test("embeddingNearDupPairs two-level plane budget: dup pairs survive the wider key") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = Array.fill(20)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((20L, base(0)), (21L, base(5))) // exact duplicates
    val e = rows.toSeq.toDF("vec_id", "embedding")
    // n=22, targetBucketSize=1 → q=22 → p wants 5; maxPlanesPerLevel=2
    // clamps the two-level total at 4 — the nested path, active at toy n
    val out = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding",
      0.999, targetBucketSize = 1, maxPlanesPerLevel = 2, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors collide at ANY plane count (same bit string) —
    // the only pairs at cos >= 0.999 in this fixture are the two dups
    assert(out === Set((0L, 20L), (5L, 21L)))
    // and the auto path equals the explicitly-sized run at the same p
    val explicit = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding",
      0.999, nPlanes = 4, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out === explicit)
  }

  test("sampled audits: k >= n degrades to the exact audit") {
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val full = Dedup.lshRecallAudit(docs, "doc_id", "text", 3, 8, 2, 0.3)
      .collect().head
    val samp = Dedup.lshRecallAuditSampled(docs, "doc_id", "text", 3, 8, 2,
      0.3, sampleSize = 100000).collect().head
    // the whole corpus is under the k-min threshold, so every audit
    // number must be the exact one and the sizes must coincide
    for (c <- Seq("n_true", "n_candidates", "n_caught"))
      assert(samp.getAs[Long](c) === full.getAs[Long](c), c)
    assert(samp.getAs[Double]("recall") === full.getAs[Double]("recall"))
    assert(samp.getAs[Long]("n_docs_sampled") ===
      samp.getAs[Long]("n_docs_total"))
    val fullEst = Dedup.minhashEstimatorAudit(docs, "doc_id", "text", 3, 8, 2)
      .collect().map(_.toSeq).sortBy(_.toString)
    val sampEst = Dedup.minhashEstimatorAuditSampled(docs, "doc_id", "text",
      3, 8, 2, sampleSize = 100000)
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(sampEst.toSeq === fullEst.toSeq)
  }

  test("cellNearDupPairs: exact dups share the argmax cell and pair up") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = Array.fill(20)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      Seq((20L, base(0)), (21L, base(5))) // exact duplicates
    val e = rows.toSeq.toDF("vec_id", "embedding")
    val out = Similarity.cellNearDupPairs(e, "vec_id", "embedding", 0.999,
      targetCellSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical vectors score identically against every centroid → same
    // argmax cell, so the only cos >= 0.999 pairs are the two dup pairs
    assert(out === Set((0L, 20L), (5L, 21L)))
  }

  test("vector route dispatch: load factor sends collapse to cells, balance to srp") {
    import spark.implicits._
    // total direction collapse: every vector on the SAME ray → one sign
    // bucket at any plane count; the occupied-bucket second moment would
    // read this as "balanced" (1.0) — the pair-load factor must not
    val coll = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(1.0f + i * 1e-6f))).toDF("vec_id", "embedding")
    val cColl = Similarity.srpBucketConcentration(coll, "vec_id",
      "embedding", dim = 8)
    assert(cColl > 4.0 && cColl < 5.0, s"collapse load factor $cColl") // 299/63
    assert(Similarity.vectorRouteFor(coll, "vec_id", "embedding", dim = 8)
      === "cells")
    // balanced: seeded gaussian directions spread over the sign buckets
    val rnd = new scala.util.Random(17)
    val bal = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cBal = Similarity.srpBucketConcentration(bal, "vec_id", "embedding",
      dim = 8)
    assert(cBal < 3.0, s"balanced load factor $cBal")
    assert(Similarity.vectorRouteFor(bal, "vec_id", "embedding", dim = 8)
      === "srp")
    // the dispatcher's output IS the routed generator's output — since
    // r17 the SRP branch ships the MULTI-PROBE form at DefaultSrpProbes
    val autoBal = Similarity.embeddingNearDupPairsAuto(bal, "vec_id",
      "embedding", 0.9, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    val srpBal = Similarity.embeddingNearDupPairsMultiProbe(bal, "vec_id",
      "embedding", 0.9, nProbes = Similarity.DefaultSrpProbes, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sorted
    assert(autoBal.toSeq === srpBal.toSeq)
    // ...and a superset of the rank-0 comparison form
    val srp0Bal = Similarity.embeddingNearDupPairs(bal, "vec_id",
      "embedding", 0.9, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(srp0Bal.toSet.subsetOf(autoBal.toSet))
    val autoColl = Similarity.embeddingNearDupPairsAuto(coll, "vec_id",
      "embedding", 0.999999, dim = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // since r16 the dispatcher's cell branch ships the MULTI-PROBE form
    // at DefaultCellProbes — its output is that generator's, exactly...
    val probedColl = Similarity.cellNearDupPairsMultiProbe(coll, "vec_id",
      "embedding", 0.999999, nProbe = Similarity.DefaultCellProbes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(autoColl === probedColl)
    // ...and a superset of the rank-1 comparison form
    val cellColl = Similarity.cellNearDupPairs(coll, "vec_id", "embedding",
      0.999999)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellColl.subsetOf(autoColl),
      s"rank-1 pairs missing from the probed default: ${cellColl.diff(autoColl)}")
  }

  test("multi-probe cell pairs: nProbe=1 equals the single-cell form; nProbe=2 is a superset") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    val base = Array.fill(60)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 8).map(i => ((60 + i).toLong, base(i * 7))) // exact dups
    val e = rows.toSeq.toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = pairs(Similarity.cellNearDupPairs(e, "vec_id",
      "embedding", 0.999, targetCellSize = 8))
    // the rank-1 probe IS the single-cell assignment
    val p1 = pairs(Similarity.cellNearDupPairsMultiProbe(e, "vec_id",
      "embedding", 0.999, nProbe = 1, targetCellSize = 8))
    assert(p1 === single)
    // more probes only ADD boundary pairs, never drop any
    val p2 = pairs(Similarity.cellNearDupPairsMultiProbe(e, "vec_id",
      "embedding", 0.999, nProbe = 2, targetCellSize = 8))
    assert(single.subsetOf(p2),
      s"missing from nProbe=2: ${single.diff(p2)}")
    // the audit's probe dial reports the same ordering, and both stay
    // subsets of the brute-force truth
    def audit(probes: Int) = Similarity.nearDupRecallAudit(e, "vec_id",
      "embedding", 0.999, dim = 8, targetCellSize = 8,
      cellProbes = probes).collect().head
    val (a1, a2) = (audit(1), audit(2))
    assert(a1.getAs[Long]("n_true") === a2.getAs[Long]("n_true"))
    assert(a2.getAs[Long]("n_cell") >= a1.getAs[Long]("n_cell"))
    assert(a2.getAs[Long]("n_cell") <= a2.getAs[Long]("n_true"))
  }

  test("nearDupRecallAudit: generators are subsets of truth; recall counts match sets") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val base = Array.fill(30)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 6).map(i => ((30 + i).toLong, base(i * 5))) // exact dups
    val e = rows.toSeq.toDF("vec_id", "embedding")
    val thr = 0.999
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(
      e.select(col("vec_id").as("id_a"),
          Similarity.asDouble(col("embedding")).as("v_a"))
        .crossJoin(e.select(col("vec_id").as("id_b"),
          Similarity.asDouble(col("embedding")).as("v_b")))
        .filter(col("id_a") < col("id_b"))
        .filter(Similarity.cosine(col("v_a"), col("v_b")) >= thr)
        .select("id_a", "id_b"))
    val srp = pairSet(Similarity.embeddingNearDupPairs(e, "vec_id",
      "embedding", thr, dim = 8).select("id_a", "id_b"))
    val cell = pairSet(Similarity.cellNearDupPairs(e, "vec_id",
      "embedding", thr, targetCellSize = 8).select("id_a", "id_b"))
    // both generators verify with the same cosine predicate → subsets
    assert(srp.subsetOf(exact), s"srp emitted non-true pairs: ${srp -- exact}")
    assert(cell.subsetOf(exact), s"cell emitted non-true pairs: ${cell -- exact}")
    val audit = Similarity.nearDupRecallAudit(e, "vec_id", "embedding",
      thr, dim = 8, targetCellSize = 8).collect().head
    assert(audit.getAs[Long]("n_true") === exact.size.toLong)
    assert(audit.getAs[Long]("n_srp") === srp.size.toLong)
    assert(audit.getAs[Long]("n_cell") === cell.size.toLong)
    // exact duplicates collide in ANY sign bucket and share the argmax
    // cell, so both recalls are 1.0 on this fixture
    assert(audit.getAs[Double]("recall_srp") === 1.0)
    assert(audit.getAs[Double]("recall_cell") === 1.0)
  }

  test("routeOverlapAudit: counts match the generators; n_both bounded by both") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val base = Array.fill(30)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 5).map(i => ((30 + i).toLong, base(i * 6))) // exact dups
    val e = rows.toSeq.toDF("vec_id", "embedding")
    val thr = 0.999
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val srp = pairSet(Similarity.embeddingNearDupPairs(e, "vec_id",
      "embedding", thr, dim = 8).select("id_a", "id_b"))
    val cell = pairSet(Similarity.cellNearDupPairs(e, "vec_id",
      "embedding", thr, targetCellSize = 8).select("id_a", "id_b"))
    val audit = Similarity.routeOverlapAudit(e, "vec_id", "embedding",
      thr, dim = 8, targetCellSize = 8).collect().head
    assert(audit.getAs[Long]("n_srp") === srp.size.toLong)
    assert(audit.getAs[Long]("n_cell") === cell.size.toLong)
    // both paths verify with the same cosine over the same vectors, so
    // the tuple-join intersection is exactly the pair-set intersection
    assert(audit.getAs[Long]("n_both") === (srp intersect cell).size.toLong)
    // exact dups are found by BOTH generators → overlap is non-trivial
    assert(audit.getAs[Long]("n_both") >= 5L)
  }

  test("routeSensitivityRow: candidate masses match populations; recall vs truth") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val base = Array.fill(40)(Array.fill(8)(rnd.nextGaussian().toFloat))
    val rows = base.zipWithIndex.map { case (v, i) => (i.toLong, v) } ++
      (0 until 6).map(i => ((40 + i).toLong, base(i * 5))) // exact dups
    val e = rows.toSeq.toDF("vec_id", "embedding")
    val r = Similarity.routeSensitivityRow(e, "vec_id", "embedding", 0.999,
      dim = 8, targetBucketSize = 8, targetCellSize = 8,
      measureRecall = true).collect().head
    assert(r.getAs[Long]("n_docs") === 46L)
    // cand masses are Σ n(n−1)/2 over the actual generator partitions
    val srpPairs = Similarity.embeddingNearDupPairs(e, "vec_id",
      "embedding", -2.0, dim = 8, targetBucketSize = 8).count()
    assert(r.getAs[Long]("cand_srp") === srpPairs,
      "cand_srp must equal the SRP pair stage's candidate count")
    assert(r.getAs[Long]("cand_cell") >= 0L)
    // exact dups are true pairs found by both generators
    assert(r.getAs[Long]("n_true") >= 6L)
    assert(r.getAs[Double]("recall_srp") === 1.0) // dups collide in any bucket
    assert(Set("srp", "cells").contains(r.getAs[String]("route")))
    // without measureRecall the recall trio is NULL, the rest identical
    val r2 = Similarity.routeSensitivityRow(e, "vec_id", "embedding", 0.999,
      dim = 8, targetBucketSize = 8, targetCellSize = 8).collect().head
    assert(r2.isNullAt(r2.fieldIndex("n_true")))
    assert(r2.isNullAt(r2.fieldIndex("recall_cell")))
    assert(r2.getAs[Double]("concentration") ===
      r.getAs[Double]("concentration"))
  }

  test("nested auto quantizer: LONG composite cells decompose as c1*kf+c2") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val e = (0 until 320).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // want = ceil(320/16) = 20 > maxFlatCells 4 → nested. Assert against
    // the ACTUAL split (r15 advisor: the old comment assumed kf = 5, but
    // the kf clamp engages — ceil-sqrt 5 clamps to kc = 4, then
    // kf = min(4, ceil(20/4)) = 4), so the bounds come from the same
    // function the engine calls, not a hand-derived decomposition.
    val (kc, kf) = Similarity.quantizerLevelsSplit(20, 4)
    assert((kc, kf) === (4, 4), "split(20, 4) must clamp BOTH levels at 4")
    val out = Similarity.semDeDup(e, "vec_id", "embedding", 0.999,
      targetCellSize = 16, maxFlatCells = 4)
    assert(out.schema("cell").dataType ===
      org.apache.spark.sql.types.LongType,
      "the nested path must widen cell to LONG (composite exceeds Int)")
    val cells = out.select("cell").as[Long].collect()
    // composite = c1*kf + c2 with c1 < kc and c2 < kf
    assert(cells.forall(c => c >= 0 && c < kc.toLong * kf &&
      c / kf < kc && c % kf < kf))
    // the split actually uses BOTH levels: more distinct composites than
    // any single level could express alone
    assert(cells.distinct.length > math.max(kc, kf),
      s"only ${cells.distinct.length} distinct cells — fine level unused?")
    assert(out.count() === 320L) // every vector assigned exactly once
  }

  test("multi-probe composes with the nested quantizer: rank-1 containment, nProbe=1 identity, pair superset") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val e = (0 until 320).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val c = e.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("v"))
    // forced-nested params: want = ceil(320/16) = 20 > maxFlatCells 4
    val single = Similarity.autoAssignCells(c, 0, 16, 4)
    val probed = Similarity.autoAssignCellsTopK(c, 0, 16, 4, 2)
    assert(probed.schema("cell").dataType ===
      org.apache.spark.sql.types.LongType,
      "nested multi-probe must keep the LONG composite cell")
    // training is identical, so the rank-1 probe IS the single two-level
    // assignment: every (id, cell) of the rank-1 relation appears in the
    // probed relation (the superset-by-construction core)
    val missing = single.select("id", "cell")
      .except(probed.select("id", "cell")).count()
    assert(missing === 0L,
      s"$missing rank-1 assignments absent from the probe set")
    // each id carries at most nProbe probes, at least 1
    val perId = probed.groupBy("id").count().agg(
      org.apache.spark.sql.functions.min("count"),
      org.apache.spark.sql.functions.max("count")).collect().head
    assert(perId.getLong(0) >= 1L && perId.getLong(1) <= 2L)
    // nProbe = 1 is the single-cell form EXACTLY (bit-identical relation)
    val p1 = Similarity.autoAssignCellsTopK(c, 0, 16, 4, 1)
      .select("id", "cell").collect().map(r => (r.getLong(0), r.getLong(1)))
    val s1 = single.select("id", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(p1.sorted.toSeq === s1.sorted.toSeq)
    // and therefore the probed PAIR set is a superset of the rank-1 one
    // under forced nesting, at the public API
    val pairs1 = Similarity.cellNearDupPairs(e, "vec_id", "embedding",
      0.5, targetCellSize = 16, maxFlatCells = 4)
    val pairs2 = Similarity.cellNearDupPairsMultiProbe(e, "vec_id",
      "embedding", 0.5, nProbe = 2, targetCellSize = 16, maxFlatCells = 4)
    assert(pairs1.except(pairs2).count() === 0L,
      "nested multi-probe pair set must contain every rank-1 pair")
  }

  test("Checkpoints: release frees blocks; releaseTracked frees operator internals only") {
    import spark.implicits._
    import graft.operators.Checkpoints
    // Persistent RDDs are followed by id, not by a session-wide count:
    // Spark's ContextCleaner unpersists RDDs that earlier tests left
    // unreferenced whenever the JVM collects them, so the count can drop
    // in the middle of this test. The sentinel checkpoints below stay
    // referenced until the end, so the cleaner cannot touch them, and
    // each release must leave every one of them persisted.
    def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet
    def checkpointIds(df: => org.apache.spark.sql.DataFrame)
        : (org.apache.spark.sql.DataFrame, Set[Int]) = {
      val before = persisted()
      val out = df
      val ids = persisted() -- before
      assert(ids.size === 1, "localCheckpoint must add one persistent RDD")
      (out, ids)
    }
    // release(df) drops exactly the checkpoint's persistent RDD
    val (cp, cpIds) = checkpointIds(Seq(1, 2, 3).toDF("x").localCheckpoint(eager = true))
    val (keep, keepIds) = checkpointIds(Seq(4, 5).toDF("y").localCheckpoint(eager = true))
    Checkpoints.release(cp)
    assert((persisted() & cpIds).isEmpty,
      "release must unpersist the checkpoint's RDD")
    assert(keepIds.subsetOf(persisted()),
      "release must leave every other checkpoint alone")
    // a pair-generator call registers its internal checkpoints; a USER
    // checkpoint (the input below) is untouched by releaseTracked
    Checkpoints.releaseTracked()
    assert(keepIds.subsetOf(persisted()),
      "releaseTracked must leave untracked checkpoints alone")
    val rnd = new scala.util.Random(7)
    val (e, userIds) = checkpointIds((0 until 200).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding").localCheckpoint(eager = true))
    val base = persisted()
    Similarity.cellNearDupPairs(e, "vec_id", "embedding", 0.9,
      targetCellSize = 16)
      .write.format("noop").mode("overwrite").save()
    assert(Checkpoints.trackedCount >= 1,
      "the pair generator must register its internal checkpoint")
    val internal = persisted() -- base
    assert(internal.nonEmpty)
    Checkpoints.releaseTracked()
    assert(Checkpoints.trackedCount === 0)
    assert((persisted() & internal).isEmpty,
      "releaseTracked must free the operator-internal blocks")
    assert((userIds ++ keepIds).subsetOf(persisted()),
      "releaseTracked must free only the operator-internal blocks")
    // release of a tracked checkpoint also drops its registry entry
    val tracked = Checkpoints.trackedEager(Seq(6).toDF("z"))
    assert(Checkpoints.trackedCount === 1)
    Checkpoints.release(tracked)
    assert(Checkpoints.trackedCount === 0,
      "release must drop the registry entry of a tracked checkpoint")
    Checkpoints.release(e)
    Checkpoints.release(keep)
  }


  test("iterative components hold O(1) checkpointed generations") {
    import spark.implicits._
    import graft.operators.{Checkpoints, Components}
    Checkpoints.releaseTracked()
    val n0 = spark.sparkContext.getPersistentRDDs.size
    // a 64-node path graph: alternatingStars needs several rounds, so the
    // pre-r17 behavior would leave 2 checkpoints per round; now at most
    // the final generation survives the call
    val edges = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val comp = Components.alternatingStars(edges, "a", "b")
    assert(comp.select(countDistinct(col("component"))).collect()
      .head.getLong(0) === 1L)
    val leaked = spark.sparkContext.getPersistentRDDs.size - n0
    assert(leaked <= 1,
      s"$leaked checkpointed generations survive — rolling release broken?")
    Checkpoints.releaseTracked()
  }

  test("multi-probe SRP pairs: rank-0 containment, probe monotonicity, nProbes=1 identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val e = (0 until 300).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val p0 = Similarity.embeddingNearDupPairs(e, "vec_id", "embedding",
      0.5, dim = 8, targetBucketSize = 16)
    val p2 = Similarity.embeddingNearDupPairsMultiProbe(e, "vec_id",
      "embedding", 0.5, nProbes = 2, dim = 8, targetBucketSize = 16)
    val p3 = Similarity.embeddingNearDupPairsMultiProbe(e, "vec_id",
      "embedding", 0.5, nProbes = 3, dim = 8, targetBucketSize = 16)
    // the home bucket is probe row 1, so pair sets are supersets of the
    // rank-0 SRP route; probe sets are margin-order prefixes of each
    // other, so recall is monotone in nProbes
    assert(p0.except(p2).count() === 0L,
      "probed SRP pair set must contain every rank-0 pair")
    assert(p2.except(p3).count() === 0L,
      "probe sets are prefixes: nProbes=3 must contain nProbes=2")
    // nProbes = 1 is the rank-0 route exactly
    val p1 = Similarity.embeddingNearDupPairsMultiProbe(e, "vec_id",
      "embedding", 0.5, nProbes = 1, dim = 8, targetBucketSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(p1 === p0.collect().map(r => (r.getLong(0), r.getLong(1)))
      .sorted.toSeq)
    // probe fan-out shape: exactly nProbes DISTINCT buckets per vector
    // (each flip differs from home at a distinct plane)
    val c = e.select(col("vec_id").as("id"),
      Similarity.asDouble(col("embedding")).as("v"))
    val fan = Similarity.probedSrpBuckets(c,
      Similarity.hyperplanes(5, 8), 3)
      .groupBy("id")
      .agg(countDistinct(col("bucket")).as("nb"), count(lit(1)).as("n"))
      .agg(min(col("nb")), max(col("nb")), min(col("n")), max(col("n")))
      .collect().head
    assert((fan.getLong(0), fan.getLong(1), fan.getLong(2),
      fan.getLong(3)) === ((3L, 3L, 3L, 3L)))
  }

  test("explicit nCentroids above the nesting bound stays FLAT (INT cells)") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val e = (0 until 400).map(i =>
      (i.toLong, Array.fill(8)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    // 300 > NestAboveCells=256: an explicit k must be honored as exactly
    // flat single-level cells (INT), never silently replaced by a nested
    // ~sqrt(k)x√k quantizer with LONG composite ids
    val out = Similarity.semDeDup(e, "vec_id", "embedding", 0.999,
      nCentroids = 300)
    assert(out.schema("cell").dataType ===
      org.apache.spark.sql.types.IntegerType,
      "explicit k must keep the flat INT cell path")
    // cell ids past 256 in use prove k was NOT clamped to the nesting
    // bound (singleton training clusters pin their own points, so the
    // high-id centroids win their members' argmax)
    val maxCell = out.agg(org.apache.spark.sql.functions.max("cell"))
      .collect().head.getInt(0)
    assert(maxCell >= 256, s"no cell id past the nesting bound: $maxCell")
  }

  test("scan-parallelism guard keys on n*k*d work, explicit-k path included") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    // ONE input partition = the compacted-layout shape (single parquet
    // row group); d = 64 so the work product uses the calibration dim
    val rows = (0 until 64).map(i =>
      (i.toLong, Array.fill(64)(rnd.nextGaussian())))
    val c = spark.createDataset(rows).toDF("id", "v").coalesce(1)
    assert(c.rdd.getNumPartitions === 1)
    // EXPLICIT k at the flat bound: 64*65536*64 = 2.7e8 >= 2^26 -> the
    // r16 defect class (cell-count proxy never fired for explicit k)
    // must now engage the round-robin repartition
    val big = Similarity.trainQuantizer(c, 65536, 64, 65536)
    assert(big.cp.rdd.getNumPartitions ===
      spark.sparkContext.defaultParallelism,
      "explicit-k quantizer must load-balance material scoring work")
    // EXPLICIT small k: 64*8*64 = 33k << 2^26 -> sub-second lanes keep
    // their zero-extra-shuffle plan (the r16 retune's concern)
    val small = Similarity.trainQuantizer(c, 8, 64, 65536)
    assert(small.cp.rdd.getNumPartitions === 1,
      "immaterial work must not pay the exchange")
    // AUTO mode at gate scale (want = 1 cell) stays untouched too
    val auto = Similarity.trainQuantizer(c, 0, 64, 65536)
    assert(auto.cp.rdd.getNumPartitions === 1)
    // and the guarded relation feeds IDENTICAL assignment semantics:
    // training samples by md5 rank, so centroids match bit-for-bit
    val cb = big.asInstanceOf[Similarity.FlatQuantizer].centroids
    val cs = Similarity.kmeansCentroids(c, "id", "v", 65536,
      Similarity.autoSampleSize(65536))
    assert(cb.toSeq === cs.toSeq,
      "repartitioning must not change the deterministic training sample")
  }

  test("off-driver lloyd: distributed assignment is bit-identical at any partition count") {
    import spark.implicits._
    val rnd = new scala.util.Random(43)
    val points: Array[IndexedSeq[Double]] = Array.fill(257)(
      IndexedSeq.fill(24)(rnd.nextGaussian()))
    // 1) the primitive kernel mirrors the boxed reference scorers bit
    //    for bit, hoisted norms included (cosS = dotS/(normS*normS))
    val cs = points.take(17).map(_.toArray)
    val cn = cs.map(Similarity.normP)
    points.foreach { p =>
      val pa = p.toArray
      val seqBest = {
        var best = 0; var bestS = Similarity.cosS(p, cs(0).toIndexedSeq)
        var j = 1
        while (j < cs.length) {
          val s = Similarity.cosS(p, cs(j).toIndexedSeq)
          if (s > bestS) { best = j; bestS = s }
          j += 1
        }
        best
      }
      assert(Similarity.assignOne(pa, Similarity.normP(pa), cs, cn,
        isCos = true) === seqBest)
    }
    // 2) a full training FORCED through the Spark-job dispatch
    //    (offDriverWork = 0) equals the driver-thread training — the
    //    oracle-replayed IEEE chain survives the dispatch
    val onDriver = Similarity.lloyd(points, 17, 3, isCos = true, None,
      offDriverWork = Long.MaxValue)
    val offDriver = Similarity.lloyd(points, 17, 3, isCos = true,
      Some(spark), offDriverWork = 0L)
    assert(offDriver.map(_._1).toSeq === onDriver.map(_._1).toSeq)
    (onDriver zip offDriver).foreach { case ((_, a), (_, b)) =>
      assert(a === b, "distributed assignment changed a centroid")
    }
    // L2 flavor too (the PQ codebook path)
    val onL2 = Similarity.lloyd(points, 9, 2, isCos = false, None,
      offDriverWork = Long.MaxValue)
    val offL2 = Similarity.lloyd(points, 9, 2, isCos = false,
      Some(spark), offDriverWork = 0L)
    (onL2 zip offL2).foreach { case ((_, a), (_, b)) => assert(a === b) }
    // 3) the assignment job itself is partition-count invariant
    val sc = spark.sparkContext
    val pts = points.map(_.toArray)
    val bP = sc.broadcast(pts)
    val bN = sc.broadcast(pts.map(Similarity.normP))
    try {
      val ref = Similarity.assignDistributed(spark, bP, bN, cs, cn,
        isCos = true, parts = 1)
      Seq(3, 7, 32).foreach { parts =>
        assert(Similarity.assignDistributed(spark, bP, bN, cs, cn,
          isCos = true, parts = parts).toSeq === ref.toSeq,
          s"assignment drifted at parts=$parts")
      }
    } finally { bP.destroy(); bN.destroy() }
  }

  test("countAndDim skips null vectors (size(NULL) = -1 must not zero d)") {
    import spark.implicits._
    // a LEADING null vector: under the legacy sizeOfNull default
    // size(NULL) = -1 (not NULL), so an unguarded first(ignoreNulls)
    // reads it and collapses d to 0, silently disabling the n*k*d
    // repartition guard for the whole corpus (r17 advisor)
    val rows: Seq[(Long, Array[Double])] =
      (0L, null.asInstanceOf[Array[Double]]) +:
        (1 until 8).map(i => (i.toLong, Array.fill(16)(i.toDouble)))
    val c = spark.createDataset(rows).toDF("id", "v").coalesce(1)
    val (n, d) = Similarity.countAndDim(c)
    assert(n === 8L)
    assert(d === 16, s"leading null vector must be skipped, read d=$d")
    // all-null corpus: conservative d = 0, guard stays off
    val allNull = spark.createDataset(Seq(
      (0L, null.asInstanceOf[Array[Double]]))).toDF("id", "v")
    assert(Similarity.countAndDim(allNull) === ((1L, 0)))
  }

  test("pq codes: identical vectors share codes; self-query ranks its dup first") {
    val base = Array.tabulate(8)(i => i.toFloat / 8f)
    val e = Seq(
      (0L, base), (1L, base), // exact duplicates
      (2L, base.map(x => 1f - x)),
      (3L, base.map(x => x * 3f + 1f)),
      (4L, base.map(x => -x))
    ).toDF("vec_id", "embedding")
    val top = Similarity.pqTopK(e, e.filter($"vec_id" === 0), "vec_id",
      "embedding", 4, m = 4, codebookSize = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3)))
    // vec 1 is bit-identical to the query → same codes → ADC dist of rank 1
    // is the query's own quantization error, strictly minimal
    assert(top.head._1 === 1L)
    assert(top.map(_._2).toSeq === Seq(1, 2, 3, 4))
    assert(top.forall(_._3 >= 0.0))
  }

  test("ANN index build/serve: stored index reproduces ivfPqTopK in a fresh session") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 3)
    val idx = java.nio.file.Files.createTempDirectory("graft-idx").toString
    // TRAIN job: build + persist (centroids, codebooks, codes)
    Similarity.buildIvfPqIndex(e, "vec_id", "embedding", idx,
      nCentroids = 4, m = 4, codebookSize = 4)
    // SERVE job: a separate session, touching only the stored index and
    // the query vectors — no retraining, no raw corpus scan
    val serve = spark.newSession()
    val q2 = Tables.load(serve, "/root/testdata/sf0.001", "embeddings")
      .filter(col("vec_id") < 3)
    val served = Similarity.ivfPqTopKFromIndex(serve, idx, q2,
      "vec_id", "embedding", 5, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sorted
    val direct = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 2, m = 4, codebookSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getDouble(3))).sorted
    assert(served.toSeq === direct.toSeq)
    // the index really is the compact artifact: codes carry m small ints
    // per doc, never the raw vectors
    val codeCols = spark.read.parquet(s"$idx/codes").columns.toSet
    assert(codeCols === Set("id", "cell", "code_0", "code_1", "code_2", "code_3"))
  }

  test("incremental index append: delta encoded with stored codebooks, retrievable") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = java.nio.file.Files.createTempDirectory("graft-idx-app").toString
    Similarity.buildIvfPqIndex(e, "vec_id", "embedding", idx,
      nCentroids = 4, m = 4, codebookSize = 4)
    val codesBefore = spark.read.parquet(s"$idx/codes").count()
    // the delta: an exact copy of vec 0's vector under a fresh id — it
    // must quantize into vec 0's cell with vec 0's codes and, after the
    // exact refine, rank FIRST for the vec-0 query (cosine 1.0, id 9999
    // beats nothing else at sim 1.0 except... nothing: ids are distinct)
    val dup = e.filter($"vec_id" === 0)
      .select(lit(9999L).as("vec_id"), col("embedding"))
    Similarity.appendToIvfPqIndex(spark, idx, dup, "vec_id", "embedding")
    assert(spark.read.parquet(s"$idx/codes").count() === codesBefore + 1)
    assert(spark.read.parquet(s"$idx/vectors")
      .filter(col("id") === 9999L).count() === 1)
    val got = Similarity.ivfPqServeRefined(spark, idx,
      e.filter($"vec_id" === 0), "vec_id", "embedding", 5,
      nProbe = 4, candidateFactor = 10)
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(1), r.getDouble(3)))
    assert(got.head._1 === 9999L, s"appended duplicate not ranked first: ${got.toSeq}")
    assert(got.head._2 === 1.0)
  }

  test("ivfPqTopK probing every cell equals plain pqTopK (and recall holds)") {
    val e = Tables.load(spark, "/root/testdata/sf0.001", "embeddings")
    val q = e.filter($"vec_id" < 3)
    // same codebooks, ADC restricted to all cells ≡ unrestricted ADC
    val all = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 4, m = 4, codebookSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    val pq = Similarity.pqTopK(e, q, "vec_id", "embedding", 5,
      m = 4, codebookSize = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).sorted
    assert(all.toSeq === pq.toSeq)
    // probing 2 of 4 cells still returns a full top-5 per query
    val probed = Similarity.ivfPqTopK(e, q, "vec_id", "embedding", 5,
      nCentroids = 4, nProbe = 2, m = 4, codebookSize = 4)
      .collect().groupBy(_.getLong(0))
    assert(probed.keySet === Set(0L, 1L, 2L))
    probed.values.foreach(rows => assert(rows.length === 5))
  }

  test("topNgrams counts occurrences vs doc-freq and ranks deterministically") {
    val d = Seq(
      (1L, "a b a b c"), // 2-grams: "a b"×2, "b a", "b c"
      (2L, "a b x"), // "a b", "b x"
      (3L, "solo") // short doc → whole-sequence shingle "solo"
    ).toDF("doc_id", "text")
    val got = TextAnalysis.topNgrams(d, "doc_id", "text", 2, 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(got.toSeq === Seq(
      ("a b", 3L, 2L, 1), // 3 occurrences across 2 docs
      ("b a", 1L, 1L, 2), // ties broken by shingle asc
      ("b c", 1L, 1L, 3)))
  }

  test("tokenChunks: overlap, tail clamp, and short-doc single chunk") {
    val d = Seq(
      // 7 tokens, size 4 step 3 → ceil((7-4)/3) = 1 → starts 0, 3 only
      // (a third window at 6 would cover no new token)
      (1L, "t0 t1 t2 t3 t4 t5 t6"),
      (2L, "a b"), // short → one chunk
      (3L, "x0 x1 x2 x3 x4") // 5 tokens → starts 0, 3; tail clamps to 2
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tokenChunks(d, "doc_id", "text", 4, 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq === Seq(
      (1L, 0, "t0 t1 t2 t3", 4),
      (1L, 1, "t3 t4 t5 t6", 4), // 1-token overlap at each boundary
      (2L, 0, "a b", 2),
      (3L, 0, "x0 x1 x2 x3", 4),
      (3L, 1, "x3 x4", 2))) // tail clamp, still adds x4
  }

  test("language ID votes on stopword profile") {
    val d = Seq(
      (1L, "the cat sat on a mat and it is warm"),
      (2L, "gato sentado alfombra caliente siempre")).toDF("doc_id", "text")
    val out = d.select($"doc_id", TextAnalysis.langId($"text").as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "en")
    assert(out(2L) === "unknown")
  }

  test("deflateRatios: repetitive text compresses far below noise; sizes exact") {
    val rep = ("spam " * 400).trim                  // highly repetitive
    val noise = (1 to 400).map(i => (i * 2654435761L).toHexString).mkString(" ")
    val d = Seq((1L, rep), (2L, noise), (3L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.deflateRatios(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(got(1L)._1 === rep.getBytes("UTF-8").length)
    assert(got(1L)._3 < 0.05, s"repetitive ratio ${got(1L)._3}")
    assert(got(2L)._3 > 0.5, s"noise ratio ${got(2L)._3}")
    assert(got(3L)._1 === 0 && got(3L)._3 >= 0.0) // empty doc: guarded div
    // deterministic across runs (reused per-partition Deflater resets fully)
    val again = TextAnalysis.deflateRatios(d, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getDouble(3))).toMap
    assert(again === got)
  }

  test("heavyHitters is exact under sketch eviction pressure") {
    // 1000 rows: "hot" on every row, "warm" on every 5th, unique filler
    // everywhere else — tiny theta forces the MG sketch through constant
    // evictions across 8 partitions (merge path exercised), yet the
    // recount must still be exact
    val rows = (0 until 1000).map { i =>
      val extra = if (i % 5 == 0) "warm" else s"u$i"
      (i.toLong, s"hot $extra")
    }
    val df = spark.createDataFrame(rows).toDF("doc_id", "text").repartition(8)
    val got = TextAnalysis.heavyHitters(df, "text", 0.1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // totals: 2000 tokens; hot=1000 (50%), warm=200 (10% exactly = ceil ok)
    assert(got === Map("hot" -> 1000L, "warm" -> 200L))
    // theta above warm's share drops it
    val high = TextAnalysis.heavyHitters(df, "text", 0.2)
      .collect().map(_.getString(0)).toSeq
    assert(high === Seq("hot"))
  }

  test("bloomDecontaminate equals the exact anti join; empty bench is a no-op") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // shares 3-grams w/ bench
      (11L, "completely different content about spark engines"),
      (12L, "tiny doc"), // < n tokens → whole-text shingle
      (13L, "quick brown fox appears here too")  // shares "quick brown fox"
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "the quick brown fox ran away"),
      (2L, "tiny doc")).toDF("doc_id", "text")
    val survivors = Dedup.bloomDecontaminate(corpus, bench, "doc_id", "text", 3)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(survivors === Seq(11L))
    // exact reference: any doc with >= 1 overlapping shingle is dropped
    val overlapping = Dedup.benchmarkOverlap(corpus, bench, "doc_id", "text", 3, 1L)
      .collect().map(_.getLong(0)).toSet
    assert(overlapping === Set(10L, 12L, 13L))
    // empty bench → null sketch → corpus unchanged
    val none = Dedup.bloomDecontaminate(corpus, bench.filter($"doc_id" < 0),
      "doc_id", "text", 3)
    assert(none.count() === 4)
  }

  test("weightedSampleK: ES weight bias, scale invariance, zero-weight exclusion") {
    import graft.operators.Sampling
    // 400 rows, ids 0..399; weight 100 for ids < 40, weight 1 otherwise —
    // heavy rows are 40/400 = 10% of the corpus but ~10/11 of the total mass
    val d = spark.range(400).toDF("id")
      .withColumn("w", when($"id" < 40, 100.0).otherwise(1.0))
    val got = Sampling.weightedSampleK(d, "id", $"w", 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getInt(3)))
    assert(got.length === 50)
    assert(got.map(_._3).sorted.toSeq === (1 to 50)) // dense ranks
    // P(heavy in sample) ≈ 10/11: with 40 heavy rows and k=50 the sample
    // must be dominated by heavy ids (uniform would pick ~5 of them)
    val heavy = got.count(_._1 < 40L)
    assert(heavy >= 30, s"expected heavy-weight dominance, got $heavy/50 heavy")
    // u^(1/w) ordering is invariant under weight scaling (monotonic map)
    val scaled = Sampling.weightedSampleK(
        d.withColumn("w", $"w" * 7.0), "id", $"w", 50)
      .collect().map(r => (r.getLong(0), r.getInt(3)))
    assert(scaled.map(_._1).toSeq === got.map(_._1).toSeq)
    // w <= 0 rows are excluded (P ∝ 0), never sampled
    val withZero = d.withColumn("w", when($"id" >= 40, 0.0).otherwise($"w"))
    val onlyHeavy = Sampling.weightedSampleK(withZero, "id", $"w", 50)
      .collect().map(_.getLong(0))
    assert(onlyHeavy.length === 40 && onlyHeavy.forall(_ < 40L))
  }

  test("incrementalExact stays exact under a deliberately saturated sketch") {
    // a 64-bit sketch for a 300-row delta saturates completely (fill → 1,
    // the warning path): the bloom then passes ~everything to the exact
    // anti join, so the RESULT must not change — only the work bound does
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val delta = docs.filter($"doc_id" >= 200)
    val index = docs.filter($"doc_id" < 200)
      .select(operators.TextAnalysis.fingerprint($"text").as("fp")).distinct()
    val sat = operators.Dedup.incrementalExact(delta, index, "doc_id", "text",
      estimatedDeltaFps = 300L, numBits = 64L)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val auto = operators.Dedup.incrementalExact(delta, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(sat.toSeq === auto.toSeq)
  }

  test("bloomBitsFor: 16 bits/item, power-of-two, literal-size clamps") {
    import graft.functions.GraftFunctions.bloomBitsFor
    assert(bloomBitsFor(0L) === (1L << 20)) // floor
    assert(bloomBitsFor(65536L) === (1L << 20)) // 16 * 2^16 exactly
    assert(bloomBitsFor(65537L) === (1L << 21)) // next power of two
    // ceiling = Spark's runtime.bloomFilter.maxNumBits DEFAULT: asking
    // for more would be silently Math.min'd by BloomFilterAggregate and
    // every size-derived diagnostic would lie about the real sketch
    assert(bloomBitsFor(1L << 40) === (1L << 26))
  }

  test("bloom sketch is never silently smaller than bloomBitsFor requests") {
    // the whole saturation-diagnostic story rests on requested == actual;
    // Spark caps requests at spark.sql.optimizer.runtime.bloomFilter.
    // maxNumBits, so the bloomBitsFor ceiling must not exceed it
    import graft.functions.GraftFunctions
    val maxConf = spark.conf
      .get("spark.sql.optimizer.runtime.bloomFilter.maxNumBits").toLong
    assert(GraftFunctions.bloomBitsFor(Long.MaxValue / 32) <= maxConf,
      s"bloomBitsFor ceiling exceeds Spark's cap $maxConf")
    val df = (1L to 1000L).toDF("x")
    val s = GraftFunctions.sizedBloomSketch(df,
      org.apache.spark.sql.functions.xxhash64($"x"), 1000L, 0L, "spec").get
    // actual bit size == the requested floor (2^20), proving no cap bit
    assert(GraftFunctions.bloomDataBits(s)._2 === GraftFunctions.bloomBitsFor(1000L))
  }

  test("incrementalExact: within-delta dupes, index collisions, ws/case variants") {
    val index = Seq("seen before", "also  SEEN  here").toDF("text")
      .select(TextAnalysis.fingerprint($"text").as("fp"))
    val delta = Seq(
      (10L, "brand new document"),
      (11L, "seen before"),          // exact index hit → dropped
      (12L, "ALSO seen   here"),     // normalized index hit → dropped
      (13L, "brand  NEW document"),  // within-delta dup of 10 → dropped
      (14L, "another fresh one")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalExact(delta, index, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(10L, 14L))
    // empty index: pure within-delta dedup
    val noIdx = Dedup.incrementalExact(delta,
      index.filter($"fp" === "none"), "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(noIdx === Seq(10L, 11L, 12L, 14L))
  }

  test("incrementalMinhashPairs flags edited re-posts against a signature index") {
    val history = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (2L, "completely unrelated historical text about database engines")
    ).toDF("doc_id", "text")
    val indexSigs = Dedup.minhashSignatures(history, "doc_id", "text", 3, 8)
    val delta = Seq(
      // doc 1 with one word edited — a re-post, must match history doc 1
      (10L, "the quick brown fox jumps over the lazy cat and runs away fast"),
      (11L, "entirely fresh delta document about streaming watermarks")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalMinhashPairs(delta, indexSigs,
        "doc_id", "text", 3, 8, 2, minMatchFraction = 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.map(p => (p._1, p._2)).toSet === Set((10L, 1L)))
    val (_, _, nMatch, est) = got.head
    assert(nMatch >= 4L && nMatch <= 8L)
    assert(est === BigDecimal(nMatch / 8.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("rrf fuses rankings by reciprocal rank: hand-computed order") {
    // system A ranks [1,2,3]; system B ranks [3,2,4].
    //   doc 2: 1/62 + 1/62 = .032258   doc 3: 1/63 + 1/61 = .032262
    //   doc 1: 1/61 = .016393          doc 4: 1/63 = .015873
    // fused order: 3, 2, 1, 4 — a doc two systems agree on beats either
    // system's solo #1
    val a = Seq((7L, 1L, 1), (7L, 2L, 2), (7L, 3L, 3)).toDF("q_id", "id", "rank")
    val b = Seq((7L, 3L, 1), (7L, 2L, 2), (7L, 4L, 3)).toDF("q_id", "id", "rank")
    val got = Fusion.rrf(Seq(a, b), k = 4)
      .collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._4).toSeq
    assert(got.map(_._1) === Seq(3L, 2L, 1L, 4L))
    assert(got.map(_._3) === Seq(2L, 2L, 1L, 1L)) // n_systems
    assert(got(0)._2 === BigDecimal(1.0 / 63 + 1.0 / 61)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // single-system fusion is a no-op reranking of that system
    val solo = Fusion.rrf(Seq(a), k = 3).collect()
      .map(r => (r.getLong(1), r.getInt(4))).sortBy(_._2).toSeq
    assert(solo.map(_._1) === Seq(1L, 2L, 3L))
    // system order must not matter (the union is a set of contributions)
    val ab = Fusion.rrf(Seq(a, b), k = 4).collect().map(_.toString).sorted
    val ba = Fusion.rrf(Seq(b, a), k = 4).collect().map(_.toString).sorted
    assert(ab.sameElements(ba))
    // a malformed system listing one doc twice contributes only its best
    // rank, and n_systems counts SYSTEMS, not rows
    val dup = Seq((7L, 2L, 2), (7L, 2L, 5), (7L, 1L, 1)).toDF("q_id", "id", "rank")
    val g = Fusion.rrf(Seq(dup), k = 2).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getLong(3))).toList
    assert(g.map(_._1).toSet === Set(1L, 2L))
    assert(g.forall(_._3 === 1L), s"n_systems inflated: $g")
    assert(g.find(_._1 == 2L).get._2 === BigDecimal(1.0 / 62)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("nfc_normalize composes marks, fast-paths ASCII, stays codegen'd") {
    val rows = Seq(
      (1L, "éclair"),        // decomposed → composes to é
      (2L, "éclair"),          // already precomposed → unchanged
      (3L, "plain ascii"),          // ASCII identity fast path
      (4L, "각"),   // Hangul jamo → syllable 각
      (5L, null.asInstanceOf[String]))
      .toDF("id", "s")
    val out = rows
      .select($"id", graft.functions.GraftFunctions.nfc_normalize($"s").as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "éclair")
    assert(out(2L) === "éclair")
    assert(out(3L) === "plain ascii")
    assert(out(4L) === "각")
    assert(out(5L) === null)
    // idempotence: a normalized string is a fixed point
    val twice = rows.filter($"s".isNotNull)
      .select(graft.functions.GraftFunctions.nfc_normalize(
        graft.functions.GraftFunctions.nfc_normalize($"s")).as("n2"))
      .collect().map(_.getString(0)).toSet
    assert(twice === Set("éclair", "plain ascii", "각"))
    // and it runs inside a WholeStageCodegen span, not interpreted (a
    // parquet scan, not the local relation — Catalyst constant-folds
    // projections over LocalRelation before any codegen happens)
    val plan = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.functions.GraftFunctions.nfc_normalize($"text").as("n"))
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
      l.contains("nfc_normalize") && l.trim.stripPrefix(":- ").startsWith("*(")),
      plan)
  }

  test("normalizeText: NFC + control strip + whitespace collapse + trim") {
    val rows = Seq(
      (1L, "  a \t\n b  "),          // runs of real whitespace collapse
      (2L, "a\u0001b\u007Fc"),       // C0/DEL controls stripped, no space
      (3L, "a\u000Bb"),              // \x0B via control class (Java-vs-RE2 \s gap)
      (4L, "é \u0002 fin "))   // NFC first, then strip, then collapse
      .toDF("id", "s")
    val out = rows
      .select($"id", operators.Scrub.normalizeText($"s").as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) === "a b")
    assert(out(2L) === "abc")
    assert(out(3L) === "ab")
    assert(out(4L) === "é fin")
  }

  test("bigram LM matches a hand-computed add-k model") {
    // corpus: d1 = "a b a b", d2 = "b c", d3 = "a" (no bigrams → dropped).
    // model: c(a,b)=2 c(b,a)=1 c(b,c)=1; ctx: a→2 b→2; V = |{a,b,c}| = 3.
    val docs = Seq((1L, "A b a B"), (2L, "b C"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLm(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val pAB = math.log((2 + 0.5) / (2 + 0.5 * 3)) // P(b|a)
    val pBA = math.log((1 + 0.5) / (2 + 0.5 * 3)) // P(a|b)
    val pBC = math.log((1 + 0.5) / (2 + 0.5 * 3)) // P(c|b)
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) === ((r4((pAB + pBA + pAB) / 3), 3L)))
    assert(got(2L) === ((r4(pBC), 1L)))
  }

  test("canonicalizeUrl: case, ports, params, fragments, slashes, malformed") {
    val cases = Seq(
      // scheme+host case-fold; path case preserved
      (1L, "HTTPS://WWW.Example.ORG/Docs/A", "https://www.example.org/Docs/A"),
      // default port stripped per scheme; non-default kept
      (2L, "https://h.org:443/a", "https://h.org/a"),
      (3L, "http://h.org:80/a", "http://h.org/a"),
      (4L, "https://h.org:8080/a", "https://h.org:8080/a"),
      (5L, "http://h.org:443/a", "http://h.org:443/a"),
      // fragment dropped; tracking params dropped; survivors sorted
      (6L, "https://h.org/p?utm_source=x&b=2&fbclid=z&a=1#frag",
        "https://h.org/p?a=1&b=2"),
      // all-tracking query collapses to no query at all
      (7L, "https://h.org/p?utm_medium=m&gclid=g", "https://h.org/p"),
      // trailing slashes trimmed, root and empty path both canon to /
      (8L, "https://h.org/docs///", "https://h.org/docs"),
      (9L, "https://h.org/", "https://h.org/"),
      (10L, "https://h.org", "https://h.org/"),
      // malformed: no scheme -> null (quarantine lane, like urlHost)
      (11L, "not a url", null),
      (12L, "://missing.scheme/a", null),
      // '?' INSIDE a query value: the query starts at the FIRST '?', so
      // nothing before the embedded one is dropped
      (13L, "https://h.org/p?b=2&redirect=/x?y=2&a=1",
        "https://h.org/p?a=1&b=2&redirect=/x?y=2"))
      .toDF("id", "url", "want")
    val got = cases
      .select($"id", operators.Scrub.canonicalizeUrl($"url").as("got"), $"want")
      .collect()
    got.foreach { r =>
      assert(r.getAs[String]("got") === r.getAs[String]("want"),
        s"id=${r.getLong(0)}")
    }
  }

  test("stripHtml: block content, tags, entity decode order") {
    val cases = Seq(
      // script/style CONTENT vanishes (incl. a '<' inside the code),
      // case-insensitive tag match, attributes on the opening tag
      (1L, "a<SCRIPT type=\"x\">var y = 1 < 2;</script>b", "a b"),
      (2L, "a<style>p { color: red }</STYLE>b", "a b"),
      // multiline block content ((?s) in the block pattern)
      (3L, "a<script>\nline1\nline2\n</script>b", "a b"),
      // plain tags become spaces so block boundaries don't glue words
      (4L, "<p>one</p><br/>two", "one two"),
      // the five named entities; &amp; decodes LAST so an author-escaped
      // &amp;lt; ends as the literal text "&lt;", never a second-pass '<'
      (5L, "&lt;x&gt; &quot;q&quot; &#39;s&#39;&nbsp;end", "<x> \"q\" 's' end"),
      (6L, "&amp;amp; &amp;lt;", "&amp; &lt;"),
      // name boundary: <style-card> is an ordinary tag, NOT a style block
      (7L, "<style-card>keep me</style-card><style>p{}</style>end", "keep me end"),
      // free-standing comparisons in prose are not pseudo-tags
      (8L, "profit was < 100 but growth > 5 percent", "profit was < 100 but growth > 5 percent"))
      .toDF("id", "html", "want")
    val got = cases
      .select($"id",
        operators.Scrub.normalizeText(operators.Scrub.stripHtml($"html"))
          .as("c"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) === "a b")
    assert(got(2L) === "a b")
    assert(got(3L) === "a b")
    assert(got(4L) === "one two")
    assert(got(5L) === "<x> \"q\" 's' end")
    assert(got(6L) === "&amp; &lt;")
    assert(got(7L) === "keep me end",
      "style-card must not open a style block; blocks pair per name")
    assert(got(8L) === "profit was < 100 but growth > 5 percent",
      "unescaped comparisons in prose must survive the tag stripper")
  }

  test("c4 line rules: punctuation, min-words, javascript, page-level drops") {
    val good = Seq(
      "This sentence has enough words to survive here.",
      "Enable JavaScript to view comments.",          // javascript rule
      "Too short.",                                   // < 5 words
      "no terminal punctuation on this line either way", // punct rule
      "A second fine sentence closes with a question mark?",
      "And a third good line ends with an exclamation!").mkString("\n")
    val cases = Seq(
      (1L, good),                                       // 3 kept -> page kept
      (2L, good + "\nLorem ipsum dolor sit amet."),     // page: lorem
      (3L, good + "\nvar f = function() { return 1; }"),// page: brace
      (4L, "One good line to keep around here today.\n" + // 2 kept < 3
        "Second good line to keep around here today."),
      // CRLF page: the \r must not defeat the terminal-punct test (and
      // must do so IDENTICALLY in the DuckDB replay — RE2's $ does not
      // match before a trailing \r, Java's does)
      (5L, "First fine sentence survives the carriage return.\r\n" +
        "Second fine sentence survives the carriage return too.\r\n" +
        "Third fine sentence survives the carriage return as well.\r"))
      .toDF("id", "page")
    val kept = operators.Scrub.c4KeptLines($"page")
    val out = cases.select($"id", size(kept).as("n"),
        operators.Scrub.c4PageKeep($"page", kept).as("keep"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(out(1L) === ((3, true)))
    assert(out(2L) === ((4, false)), "lorem page must drop regardless of lines")
    assert(out(3L) === ((3, false)), "curly-brace page must drop")
    assert(out(4L) === ((2, false)), "fewer than 3 surviving lines drops the page")
    assert(out(5L) === ((3, true)), "CRLF lines keep their terminal punctuation")
  }

  test("paragraphDedup keeps the first global occurrence, incl. within-doc repeats") {
    val docs = Seq(
      (1L, "alpha unique one\nshared footer\nalpha unique one"),
      (2L, "beta unique two\nshared footer"),
      (3L, "shared footer"))
      .toDF("id", "t")
    val out = operators.Dedup.paragraphDedup(docs, "id", "t")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((3L, 2L, "alpha unique one\nshared footer")),
      "doc 1 owns both first occurrences; its own repeat of p1 drops")
    assert(out(2L) === ((2L, 1L, "beta unique two")))
    assert(out(3L) === ((1L, 0L, "")), "all-duplicate doc ends empty, not missing")
  }

  test("clusterRepresentatives picks max quality, ties to the highest id") {
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "component")
    val scores = Seq((1L, 2), (2L, 3), (3L, 3), (4L, 1)).toDF("doc_id", "q")
    val out = operators.Components
      .clusterRepresentatives(clusters, "doc_id", "component", scores, "q")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(out(1L) === ((3L, 3L, 3)),
      "docs 2 and 3 tie on q=3; the higher id wins deterministically")
    assert(out(4L) === ((1L, 4L, 1)))
  }

  test("exciseRepeatedSpans cuts cross-doc and within-doc repeats in place") {
    val docs = Seq(
      (1L, "a b c d e f g h"),        // shares "a b c d e" with doc 2
      (2L, "x y a b c d e q"),        // ...at a different offset
      (3L, "p q r s t u p q r s t u"),// repeats ITSELF -> fully covered
      (4L, "one two three"))          // shorter than w: no grams, untouched
      .toDF("id", "t")
    val out = operators.Dedup.exciseRepeatedSpans(docs, "id", "t", 5, 2L)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(out(1L) === ((8, 5, "f g h")))
    assert(out(2L) === ((8, 5, "x y q")))
    assert(out(3L) === ((12, 12, "")),
      "within-doc repetition counts toward occurrences and excises both copies")
    assert(out(4L) === ((3, 0, "one two three")))
  }

  test("curriculumOrder: disc cuts, boundaries fall low, ties absorb phases") {
    // values 1..9, N=9, targets 3 and 6 -> cuts {3, 6}:
    // phase 1 = {1,2,3} (boundary value 3 falls LOW), 2 = {4,5,6}, 3 = {7,8,9}
    val df = (1 to 9).map(i => (i.toLong, i)).toDF("id", "c")
    val out = operators.Sampling.curriculumOrder(df, "id", "c", 3)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(out === Map(1L -> 1, 2L -> 1, 3L -> 1, 4L -> 2, 5L -> 2, 6L -> 2,
      7L -> 3, 8L -> 3, 9L -> 3))
    // degenerate: one value spans every target -> everything lands phase 1
    val ties = (1 to 6).map(i => (i.toLong, 5)).toDF("id", "c")
    val tied = operators.Sampling.curriculumOrder(ties, "id", "c", 3)
      .collect().map(_.getInt(2)).toSet
    assert(tied === Set(1), "all-equal corpus collapses to the first phase")
    // the order key is the replay-stable md5 of seed:id
    val ord = operators.Sampling.curriculumOrder(df, "id", "c", 3, "epoch0")
      .filter($"id" === 1L).head().getString(3)
    assert(ord === java.security.MessageDigest.getInstance("MD5")
      .digest("epoch0:1".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString)
  }

  test("tfidfKeywords matches hand-computed tf·ln(N/df) with rounded-rank order") {
    // N=3; df: apple 1, banana 2, cherry 2, date 1
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date"))
      .toDF("doc_id", "text")
    val out = operators.TextAnalysis.tfidfKeywords(docs, "doc_id", "text", 2)
      .collect()
      .map(r => (r.getLong(0), r.getInt(3)) -> ((r.getString(1), r.getDouble(2))))
      .toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out((1L, 1)) === (("apple", r6(2 * math.log(3.0)))))
    assert(out((1L, 2)) === (("banana", r6(math.log(1.5)))))
    assert(out((3L, 1)) === (("cherry", r6(3 * math.log(1.5)))))
    assert(out((3L, 2)) === (("date", r6(math.log(3.0)))))
    assert(out.size === 6, "k=2 per document")
  }

  test("knBigramScore matches a hand-computed interpolated KN model") {
    // q104's fixture. model: c(a,b)=2 c(b,a)=1 c(b,c)=1.
    // ctx: a→(2, fanout 1), b→(2, fanout 2); cont: a=b=c=1; btypes=3.
    // P(b|a) = (2−.75)/2 + (.75·1/2)(1/3) = 0.75
    // P(a|b) = P(c|b) = (1−.75)/2 + (.75·2/2)(1/3) = 0.375
    val docs = Seq((1L, "A b a B"), (2L, "b C"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.knBigramScore(docs, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.keySet === Set(1L, 2L))
    assert(got(1L) ===
      ((r4((math.log(0.75) + math.log(0.375) + math.log(0.75)) / 3), 3L)))
    assert(got(2L) === ((r4(math.log(0.375)), 1L)))
  }

  test("cmsSketch: one-sided error, row-sum invariant, mergeable by sum") {
    // width 4 forces collisions; every estimate must still dominate the
    // exact count (CMS's one-sided guarantee), and each hash row's
    // counters must sum to the total stream length.
    val terms = Seq("a", "b", "c", "d", "e", "a", "a", "b", "f", "g")
      .toDF("term")
    val sk = TextAnalysis.cmsSketch(terms, "term", 3, 4)
    val counters = sk.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    (1 to 3).foreach { j =>
      assert(counters.collect { case ((`j`, _), c) => c }.sum === 10L,
        s"row $j must sum to the stream length")
    }
    val est = TextAnalysis.cmsTopKCompare(
      Seq((1L, terms.collect().map(_.getString(0)).mkString(" ")))
        .toDF("doc_id", "text").selectExpr("text"), "text", 50, 3, 4)
      .collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getAs[Long]("overcount") >= 0L,
        s"CMS must never undercount: ${r.mkString(",")}")
    }
    // mergeability: sketch(A ∪ B) == sketch(A) ⊎ sketch(B) elementwise
    val a = Seq("a", "b", "c", "a").toDF("term")
    val b = Seq("b", "d", "e").toDF("term")
    val merged = TextAnalysis.cmsSketch(a.union(b), "term", 3, 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val partA = TextAnalysis.cmsSketch(a, "term", 3, 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val partB = TextAnalysis.cmsSketch(b, "term", 3, 4).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val summed = (partA.keySet ++ partB.keySet).map(k =>
      k -> (partA.getOrElse(k, 0L) + partB.getOrElse(k, 0L))).toMap
    assert(merged === summed, "sketches must merge by elementwise sum")
  }

  test("hllDistinct: linear-count floor, duplicate invariance, ~1/√m accuracy") {
    // one distinct key lands in linear counting: 512·ln(512/511) ≈ 1.001
    val one = Seq(("g", "only-key"), ("g", "only-key")).toDF("grp", "k")
    val e1 = TextAnalysis.hllDistinct(one, "grp", "k")
      .collect().head.getDouble(1)
    assert(math.abs(e1 - 1.0) < 0.01, s"single key estimated $e1")

    // registers are max-merged: duplicating the stream changes nothing
    val keys = (1 to 5000).map(i => ("g", s"key-$i")).toDF("grp", "k")
    val est = TextAnalysis.hllDistinct(keys, "grp", "k")
      .collect().head.getDouble(1)
    val estDup = TextAnalysis.hllDistinct(keys.union(keys), "grp", "k")
      .collect().head.getDouble(1)
    assert(est === estDup, "duplicates must not move the estimate")

    // standard error is 1.04/√512 ≈ 4.6%; this fixed hash realization
    // must land well inside 2σ of the true 5000
    assert(math.abs(est - 5000.0) / 5000.0 < 0.10, s"estimate $est")
  }

  test("embeddingDecontaminate flags the planted eval leak, keeps the rest") {
    val bench = Seq((100L, Array(1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Array(2.0f, 0.0f, 0.0f)),  // scaled copy: cosine 1.0 -> dropped
      (2L, Array(0.0f, 1.0f, 0.0f)),  // orthogonal -> kept
      (3L, Array(1.0f, 1.0f, 0.0f)))  // cos = 1/sqrt(2) ~ 0.707 -> kept at 0.95
      .toDF("vec_id", "embedding")
    val out = operators.Dedup
      .embeddingDecontaminate(corpus, bench, "vec_id", "embedding", 0.95)
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getInt(2)))).toMap
    assert(out(1L) === ((1.0, 0)))
    assert(out(2L) === ((0.0, 1)))
    assert(out(3L)._2 === 1)
    assert(math.abs(out(3L)._1 - 1.0 / math.sqrt(2)) < 1e-6)
    // an EMPTY benchmark means nothing to decontaminate against: every
    // corpus row survives (kept=1, null max_sim) — not zero rows
    val none = operators.Dedup
      .embeddingDecontaminate(corpus, bench.limit(0), "vec_id", "embedding",
        0.95)
      .collect().map(r => (r.getLong(0), r.isNullAt(1), r.getInt(2)))
    assert(none.toSet === Set((1L, true, 1), (2L, true, 1), (3L, true, 1)))
  }

  test("histogramQuantiles: error bounded by bin width, exact on constant groups") {
    import spark.implicits._
    // two groups: a spread-out one (error bound applies) and a constant one
    val vals = (1 to 1000).map(i => ("a", i * 3.7)) ++ (1 to 50).map(_ => ("k", 42.0))
    val df = vals.toDF("g", "v").repartition(5)
    val got = operators.Quantiles
      .histogramQuantiles(df, "g", "v", Seq(0.5, 0.9), 256)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    // group a: exact rank-ceil quantiles are element ceil(q*1000)
    val exactA50 = 500 * 3.7
    val exactA90 = 900 * 3.7
    val binW = (1000 * 3.7 - 1 * 3.7) / 256
    assert(math.abs(got(("a", 0.5))._1 - exactA50) <= binW, s"p50 ${got(("a", 0.5))}")
    assert(math.abs(got(("a", 0.9))._1 - exactA90) <= binW, s"p90 ${got(("a", 0.9))}")
    assert(got(("a", 0.5))._2 === 1000L)
    // constant group: hi == lo short-circuits to the exact value
    assert(got(("k", 0.5)) === ((42.0, 50L)))
    assert(got(("k", 0.9)) === ((42.0, 50L)))
  }

  test("histogramQuantiles: nulls neither count toward n nor shift bins (percentile() semantics)") {
    import spark.implicits._
    // 100 real values 1..100 plus 40 nulls — percentile() ignores nulls, so
    // p50 must target rank ceil(0.5*100)=50, not ceil(0.5*140)=70, and no
    // null bin may inflate the cumulative counts
    val df = ((1 to 100).map(i => ("a", Some(i.toDouble))) ++
      (1 to 40).map(_ => ("a", Option.empty[Double]))).toDF("g", "v")
    val got = operators.Quantiles
      .histogramQuantiles(df, "g", "v", Seq(0.5, 1.0), 256)
      .collect().map(r => r.getDouble(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(got(0.5)._2 === 100L, "n must exclude nulls")
    val binW = (100.0 - 1.0) / 256
    assert(math.abs(got(0.5)._1 - 50.0) <= binW, s"p50 ${got(0.5)}")
    assert(math.abs(got(1.0)._1 - 100.0) < 1e-9, "q=1 is the non-null max")
    // an all-null group vanishes (no spurious rows), matching percentile()
    val g2 = (1 to 5).map(_ => ("z", Option.empty[Double])).toDF("g", "v")
    assert(operators.Quantiles
      .histogramQuantiles(g2, "g", "v", Seq(0.5), 16).count() === 0L)
  }

  test("histogramQuantiles: aggregation state is bins-bounded, not group-sized") {
    import spark.implicits._
    // q=1.0 must return the group max exactly (last bin, interpolates to hi)
    val df = (1 to 512).map(i => ("g", i.toDouble)).toDF("g", "v")
    val top = operators.Quantiles
      .histogramQuantiles(df, "g", "v", Seq(1.0), 512)
      .collect().head.getDouble(2)
    assert(math.abs(top - 512.0) < 1e-9)
  }

  test("distributionDrift matches hand-computed smoothed KL summands") {
    import spark.implicits._
    // P side: "a a b", Q side: "a c c c" -> vocab {a,b,c}, np=3, nq=4
    val df = Seq((true, "a a b"), (false, "a c c c")).toDF("side", "text")
    val got = operators.TextAnalysis
      .distributionDrift(df, "text", col("side"), 10)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getInt(4)))).toMap
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val (np, nq, v, k) = (3.0, 4.0, 3.0, 0.5)
    def pq(cp: Double, cq: Double) =
      ((cp + k) / (np + k * v), (cq + k) / (nq + k * v))
    for ((term, cp, cq) <- Seq(("a", 2.0, 1.0), ("b", 1.0, 0.0), ("c", 0.0, 3.0))) {
      val (p, q) = pq(cp, cq)
      val (gp, gq, gc, _) = got(term)
      assert(gp === r6(p) && gq === r6(q), s"$term p/q")
      assert(gc === r6(p * math.log(p / q)), s"$term contrib")
    }
    // rank follows |contrib| desc with term tiebreak, 1-based dense
    val byRank = got.toSeq.sortBy(_._2._4).map(_._1)
    val expOrder = got.toSeq
      .sortBy { case (t, (p, q, c, _)) => (-math.abs(r6(p * math.log(p / q))), t) }
      .map(_._1)
    assert(byRank === expOrder)
    assert(got.values.map(_._4).toSeq.sorted === Seq(1, 2, 3))
  }

  test("hardNegativeTopK: cross-label only, equals brute force on the cross-label slice") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 40L).map { i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat), (i % 3).toInt)
    }.toDF("vec_id", "embedding", "label")
    val anchors = vecs.filter($"vec_id" < 3)
    val got = Similarity.hardNegativeTopK(vecs, anchors, "vec_id",
      "embedding", "label", 5).collect()
    // every emitted negative carries a label different from its anchor's
    val labelOf = vecs.select($"vec_id", $"label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    got.foreach { r =>
      val (qid, id, negLabel) = (r.getLong(0), r.getLong(1), r.getInt(2))
      assert(negLabel === labelOf(id))
      assert(negLabel !== labelOf(qid), s"same-label negative for anchor $qid")
    }
    // per anchor: exactly k rows, ranks 1..k, sim non-increasing
    got.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      assert(rows.length === 5)
      val byRank = rows.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq === (1 to 5))
      val sims = byRank.map(_.getDouble(4)).toSeq
      assert(sims === sims.sorted.reverse)
    }
    // equals bruteForceTopK run over the pre-filtered cross-label corpus
    for (a <- 0L until 3L) {
      val corpus = vecs.filter($"label" =!= labelOf(a).toInt)
      val exp = Similarity.bruteForceTopK(corpus.unionByName(anchors.filter($"vec_id" === a)),
        anchors.filter($"vec_id" === a), "vec_id", "embedding", 5)
        .collect().map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      val g = got.filter(_.getLong(0) == a)
        .map(r => (r.getLong(1), r.getInt(3), r.getDouble(4))).toSet
      assert(g === exp, s"anchor $a")
    }
  }

  test("containmentPairs: embedded excerpt scores 1.0 where Jaccard stays sub-threshold") {
    import spark.implicits._
    val body = (1 to 40).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 8).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, body), (2L, excerpt), (3L, "entirely unrelated content here"))
      .toDF("doc_id", "text")
    val pairs = Dedup.containmentPairs(df, "doc_id", "text", 3, 0.9)
      .collect()
    assert(pairs.length === 1)
    val p = pairs.head
    assert((p.getLong(0), p.getLong(1)) === ((1L, 2L)))
    // excerpt: 8 tokens -> 6 distinct 3-gram shingles, all inside body
    assert(p.getLong(2) === 6L && p.getLong(4) === 6L)
    assert(p.getDouble(6) === 1.0) // cont_b: excerpt fully contained
    // the same pair is invisible to Jaccard at any usable threshold
    val j = Dedup.ngramJaccardPairs(df, "doc_id", "text", 3, 0.3).collect()
    assert(!j.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L))
  }

  test("containmentPairsPrefix equals the exact inverted index across random corpora") {
    import spark.implicits._
    // the prefix filter is a candidate-recall optimization; output must be
    // BIT-identical to the exact operator at every threshold — including
    // t·sz exactly integral (t = 0.4, even sizes), where a float-ceil
    // overshoot without the slack row silently drops boundary pairs
    val rnd = new scala.util.Random(11)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    for (trial <- 0 until 3; t <- Seq(0.4, 0.5, 0.8); cap <- Seq(0L, 8L)) {
      val docs = (0 until 30).map { i =>
        val len = 4 + rnd.nextInt(20)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val exact = Dedup.containmentPairs(docs, "doc_id", "text", 2, t, cap)
        .collect()
      val pref = Dedup.containmentPairsPrefix(docs, "doc_id", "text", 2, t, cap)
        .collect()
      assert(key(pref) === key(exact), s"trial $trial t=$t cap=$cap")
      if (t == 0.4 && cap == 0L)
        assert(exact.nonEmpty, s"trial $trial: degenerate fixture, nothing compared")
    }
  }

  test("prefix verify via sharedInter equals the re-derived verify (r19 q146 path)") {
    import spark.implicits._
    // the dispatch audit hands the prefix path the exact path's
    // (id_a, id_b, n_inter) relation instead of re-deriving counts from
    // cand × shingles; output must be BIT-identical — every candidate
    // pair co-occurs, so the inner join may not lose a pair or change
    // a count, at thresholds including the integral-t·sz boundary
    val rnd = new scala.util.Random(23)
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    for (trial <- 0 until 3; t <- Seq(0.4, 0.5, 0.8)) {
      val docs = (0 until 25).map { i =>
        val len = 4 + rnd.nextInt(16)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val sh = Dedup.cappedShingleHashes(docs, "doc_id", "text", 2,
        maxShingleDocFreq = 8L)
      val inter = Dedup.pairIntersectionsGrouped(sh, "doc_id")
      val shared = Dedup.containmentPrefixFromShingles(sh, "doc_id", t,
        sharedInter = Some(inter)).collect()
      val rederived = Dedup.containmentPrefixFromShingles(sh, "doc_id", t)
        .collect()
      assert(key(shared) === key(rederived), s"trial $trial t=$t")
    }
  }

  test("containment dispatch: flat df routes exact, Zipf df routes prefix, output invariant") {
    import spark.implicits._
    // FLAT density: identical docs → every shingle df = N exactly →
    // concentration E[df²]/E[df]² = 1.0 → exact inverted index
    val flat = (0 until 12).map(i => (i.toLong, "p q r s t u v w"))
      .toDF("doc_id", "text")
    assert(Dedup.containmentPathFor(flat, "doc_id", "text", 2) === "exact")
    // ZIPF head: one corpus-hot phrase rides every doc, the rest of each
    // doc is df=1-unique → second moment dominated by the hot shingle
    val zipf = (0 until 40).map { i =>
      (i.toLong, "hot shared phrase " + (0 until 10).map(j => s"u${i}_$j").mkString(" "))
    }.toDF("doc_id", "text")
    assert(Dedup.containmentPathFor(zipf, "doc_id", "text", 3) === "prefix")
    // dispatch can change the plan, never the answer: auto ≡ exact on both
    def key(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6))).toSet
    for ((docs, n) <- Seq((flat, 2), (zipf, 3))) {
      val auto = Dedup.containmentPairsAuto(docs, "doc_id", "text", n, 0.5)
      val exact = Dedup.containmentPairs(docs, "doc_id", "text", n, 0.5)
      assert(key(auto.collect()) === key(exact.collect()))
    }
  }

  test("shingleCapReport: flat-vocab corpus trips the cap cliff loudly") {
    import spark.implicits._
    // the silent-failure scenario the report exists for: every shingle's
    // df exceeds the cap, so the pair join would see an EMPTY relation —
    // the report must show 100% mass dropped and every doc fully blinded
    val d = (0 until 5).map(i => (i.toLong, "a b c d e")).toDF("doc_id", "text")
    val r = Dedup.shingleCapReport(d, "doc_id", "text", 3, 3L).head()
    assert(r.getLong(0) === 3L)        // n_shingles: "a b c","b c d","c d e"
    assert(r.getLong(1) === 3L)        // all dropped (df = 5 > 3)
    assert(r.getLong(2) === 15L && r.getLong(3) === 15L) // mass total/dropped
    assert(r.getDouble(4) === 1.0)     // mass_dropped_frac
    assert(r.getLong(5) === 5L && r.getLong(6) === 5L) // every doc blinded
    // mixed corpus: one hot shingle over the cap, unique tails under it
    val mixed = ((0 until 4).map(i => (i.toLong, s"hot pair t${i}a t${i}b")) :+
      (9L, "totally different words here")).toDF("doc_id", "text")
    val m = Dedup.shingleCapReport(mixed, "doc_id", "text", 2, 3L).head()
    // "hot pair" df=4 is the only shingle over cap 3
    assert(m.getLong(1) === 1L)
    assert(m.getLong(3) === 4L)
    assert(m.getLong(6) === 0L)        // tails keep every doc visible
  }

  test("perplexityBands: per-language quartile split, short docs drop, bands partition") {
    import spark.implicits._
    // 16 scored docs in lang 'x' (distinct score ladder via word repetition),
    // plus a 1-token doc that must drop (no bigrams), plus a second language
    // whose banding is independent of x's thresholds
    val xDocs = (1L to 16L).map { i =>
      val common = "alpha beta " * 4
      val rare = (1L to i).map(j => s"rare${i}_$j").mkString(" ")
      (i, common + rare, "x")
    }
    val extra = Seq((100L, "solo", "x"), (200L, "gamma delta gamma delta", "y"),
      (201L, "gamma delta noise word salad", "y"))
    val df = (xDocs ++ extra).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.perplexityBands(df, "doc_id", "text", "lang")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getDouble(2), r.getString(4)))).toMap
    assert(!got.contains(100L), "1-token doc must carry no score")
    assert(got.keySet.size === 18)
    // bands partition each language and respect score order: every doc in a
    // better band scores >= every doc in a worse band (within one language)
    val order = Map("tail" -> 0, "lower_mid" -> 1, "upper_mid" -> 2, "head" -> 3)
    for (lang <- Seq("x", "y")) {
      val rows = got.values.filter(_._1 == lang).toSeq
      assert(rows.map(_._3).toSet.subsetOf(order.keySet))
      for (a <- rows; b <- rows if order(a._3) > order(b._3))
        assert(a._2 >= b._2, s"$lang: ${a._3}(${a._2}) vs ${b._3}(${b._2})")
    }
    // x's 16 distinct-ish scores spread across all four bands
    assert(got.values.filter(_._1 == "x").map(_._3).toSet === order.keySet)
  }

  test("ngram diversity: hand-computed distinct-n ratios; short docs drop out per n") {
    // corpus: "a b a b" (4 tok), "a b" (2 tok), "c" (1 tok)
    // 1-grams: 7 total {a,b,c}=3 distinct; 2-grams: "a b","b a","a b" + "a b"
    //   = 4 total {a b, b a}=2 distinct (the 1-tok doc contributes none);
    // 3-grams: "a b a","b a b" = 2 total 2 distinct (only the 4-tok doc)
    val q = SparkEntry.queries("q145_ngram_diversity")
    import spark.implicits._
    val base = Seq("a b a b", "a b", "c").toDF("text")
      .select(TextAnalysis.tokens(lower(col("text"))).as("ts"))
    val out = (1 to 3).map { n =>
      base.select(explode(when(size(col("ts")) >= n,
          transform(sequence(lit(1), size(col("ts")) - lit(n) + lit(1)),
            i => array_join(slice(col("ts"), i, lit(n)), " ")))
        .otherwise(array().cast("array<string>"))).as("gram"))
        .agg(count(lit(1)).as("t"), countDistinct(col("gram")).as("d")).head()
    }
    assert((out(0).getLong(0), out(0).getLong(1)) === ((7L, 3L)))
    assert((out(1).getLong(0), out(1).getLong(1)) === ((4L, 2L)))
    assert((out(2).getLong(0), out(2).getLong(1)) === ((2L, 2L)))
  }

  test("quality-budget composition: per-lang budget respected and selection maximal") {
    // the q144 shape on the sf0.001 fixture: per lang, the selected
    // prefix fits the budget AND the next-priority unselected doc would
    // not (greedy maximality of the (priority desc, id) order)
    val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
    val label = (length(col("text")) >= 300) &&
      (TextAnalysis.vowelRatio(col("text")) >= lit(0.28))
    val model = operators.QualityFilter.fit(docs, "doc_id", "text", label)
    val scored = operators.QualityFilter.score(model, docs, "text")
      .select(col("lang"), col("doc_id"), col("q_score"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
    val sel = Sampling.tokenBudgetSelect(
        operators.QualityFilter.score(model, docs, "text"), "lang", "doc_id",
        col("q_score"), TextAnalysis.tokenCount(col("text")), 2000L,
        lo = -1.0, hi = 2.0)
      .collect().map(r => r.getAs[String]("lang") -> r.getAs[Long]("doc_id"))
    val byLang = sel.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val all = scored.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    byLang.foreach { case (lang, ids) =>
      val ordered = all.filter(_._1 == lang).sortBy(t => (-t._3, t._2))
      val used = ordered.filter(t => ids(t._2)).map(_._4).sum
      assert(used <= 2000L, s"$lang over budget: $used")
      // maximality: the selected set IS the longest fitting prefix
      val prefix = ordered.scanLeft(0L)(_ + _._4).tail
        .zip(ordered).takeWhile(_._1 <= 2000L).map(_._2._2).toSet
      assert(ids === prefix, s"$lang selection is not the greedy prefix")
    }
  }

  test("releaseDelta: hand-computed content diff; fingerprints see through ws/case/ids") {
    import spark.implicits._
    // old: A, B, C + a ws/case near-copy of A (same fingerprint) -> 3 fps
    // new: B, C (re-id'd), D -> 3 fps; kept {B,C}, added {D}, removed {A}
    val oldR = Seq((1L, "alpha doc one"), (2L, "beta doc two"),
      (3L, "gamma doc three"), (4L, "  ALPHA   doc  one ")).toDF("doc_id", "text")
    val newR = Seq((900L, "beta doc two"), (901L, "gamma doc three"),
      (902L, "delta doc four")).toDF("doc_id", "text")
    val r = TextAnalysis.releaseDelta(oldR, newR, "text").collect().head
    assert((r.getLong(0), r.getLong(1)) === ((4L, 3L)), "raw doc counts")
    assert((r.getLong(2), r.getLong(3)) === ((3L, 3L)), "distinct fps")
    assert(r.getLong(4) === 2L, "kept")
    assert(r.getLong(5) === 1L, "added")
    assert(r.getLong(6) === 1L, "removed")
    assert(r.getDouble(7) === 0.5, "jaccard = 2 / (3 + 3 - 2)")
    // both releases empty -> NULL jaccard, all counts zero
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val e = TextAnalysis.releaseDelta(empty, empty, "text").collect().head
    assert((0 to 6).forall(i => e.getLong(i) === 0L))
    assert(e.isNullAt(7), "empty-vs-empty must be NULL, not NaN")
  }

  test("tokenizer fertility: fragmenting language pays more subwords per word") {
    import spark.implicits._
    // lang "aa": 2-char words (whole vocab pieces after training);
    // lang "bb": 8-char words that must fragment under maxPieceLen=4
    val docs = ((0 until 20).map(i => (i.toLong, "aa", "ab cd ab cd ab")) ++
      (0 until 20).map(i => (100L + i, "bb", "abcdefgh abcdefgh"))).toDF(
      "doc_id", "lang", "text")
    val pieces = TextAnalysis.wordpieceTrain(docs, "text",
        seedSize = 100, vocabSize = 30, maxPieceLen = 4, rounds = 2)
      .select(col("piece")).collect().map(_.getString(0)).toSeq
    val enc = TextAnalysis.wordpieceEncode(docs, "doc_id", "text", pieces, 4)
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_sub"))
    val fert = docs.select(col("doc_id"), col("lang"),
        TextAnalysis.bpeishTokenCount(col("text")).cast("long").as("n_words"))
      .join(enc, Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(sum(col("n_words")).as("w"), sum(col("n_sub")).as("s"),
        (sum(col("n_sub")).cast("double") / sum(col("n_words")).cast("double"))
          .as("fertility"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(fert("aa")._1 === 100L, "aa word count") // 20 docs x 5 words
    assert(fert("bb")._1 === 40L, "bb word count")  // 20 docs x 2 words
    // 8-char words need >= 2 pieces under maxPieceLen 4; 2-char words in
    // a 30-piece vocab trained on them segment whole
    assert(fert("bb")._3 > fert("aa")._3,
      s"fragmenting lang must have higher fertility: $fert")
    assert(fert("aa")._3 === fert("aa")._2.toDouble / fert("aa")._1.toDouble)
  }

  test("htEstimate: HT weights are exact (shard-additive), tolerant, dyadic-gated") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val docs = (0 until 600).map { i =>
      val lang = Seq("en", "de", "fr")(i % 3)
      (i.toLong, lang, Seq.fill(5 + rnd.nextInt(20))("tok").mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val vals = Seq("tokens" -> operators.TextAnalysis.tokenCount(col("text")))
    val rates = Map("en" -> 0.5, "de" -> 0.25)
    def est(df: org.apache.spark.sql.DataFrame) =
      Sampling.htEstimate(df, "lang", "doc_id", vals, rates, 0.125)
        .collect().map(r => r.getString(0) ->
          (r.getDouble(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    val full = est(docs)
    // estimator lands near exact at these rates/sizes (hash ~ uniform)
    full.foreach { case (lang, (estD, exD, estT, exT)) =>
      assert(math.abs(estD - exD) / exD <= 0.45, s"$lang docs: $estD vs $exD")
      assert(math.abs(estT - exT) / exT <= 0.45, s"$lang tokens: $estT vs $exT")
    }
    // dyadic weights make the weighted sums EXACT integer arithmetic:
    // estimates from two disjoint shards add to the full-corpus estimate
    // bit-for-bit (the map-side-combinability proof)
    val a = est(docs.filter(col("doc_id") < 300))
    val b = est(docs.filter(col("doc_id") >= 300))
    full.keys.foreach { lang =>
      assert(a(lang)._1 + b(lang)._1 === full(lang)._1, s"$lang doc est not additive")
      assert(a(lang)._3 + b(lang)._3 === full(lang)._3, s"$lang token est not additive")
    }
    // non-dyadic rate violates the determinism contract
    intercept[IllegalArgumentException] {
      Sampling.htEstimate(docs, "lang", "doc_id", vals, Map("en" -> 0.3), 0.125)
    }
    // a stratum whose sample is empty estimates 0 next to its exact count
    val tiny = Seq((1L, "xx", "a b c")).toDF("doc_id", "lang", "text")
    val zeroRate = Sampling.htEstimate(tiny, "lang", "doc_id", vals,
      Map.empty, 0.0078125).collect()
    if (zeroRate.head.getLong(1) == 0L) {
      assert(zeroRate.head.getDouble(2) === 0.0)
      assert(zeroRate.head.getLong(3) === 1L)
    }
  }

  test("QualityFilter: learns a separable teacher, refit is bit-identical, scorer agrees") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    // 120 docs: long docs (30-40 tokens) vs short (5-9) — teacher = long
    val docs = (0 until 120).map { i =>
      val n = if (i % 2 == 0) 30 + rnd.nextInt(11) else 5 + rnd.nextInt(5)
      (i.toLong, Seq.fill(n)(Seq("alpha", "beta", "gam", "delta", "ee")(rnd.nextInt(5)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val label = length(col("text")) >= 80
    val m1 = operators.QualityFilter.fit(docs, "doc_id", "text", label)
    val m2 = operators.QualityFilter.fit(docs, "doc_id", "text", label)
    assert(m1 === m2, "refit on the same corpus must be bit-identical")
    // the scorer must agree with the training-side confusion counts
    val scored = operators.QualityFilter.score(m1, docs, "text")
    val agree = scored.withColumn("y", label.cast("int"))
      .filter(col("q_pred") === col("y")).count()
    assert(agree >= 108, s"separable teacher should reach >= 90% ($agree/120)")
    val rep = operators.QualityFilter.trainReport(spark, docs, "doc_id", "text", label)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rep(("confusion", "tp")) + rep(("confusion", "tn")) === agree.toDouble)
    assert(rep(("metric", "accuracy")) >= 0.9)
  }

  test("QualityFilter.calibration: bands partition the corpus; recall walks to 1") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val docs = (0 until 150).map { i =>
      val n = 5 + rnd.nextInt(40)
      (i.toLong, Seq.fill(n)(Seq("alpha", "beta", "gam", "delta", "ee")(rnd.nextInt(5)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val label = length(col("text")) >= 80
    val m = operators.QualityFilter.fit(docs, "doc_id", "text", label)
    val cal = operators.QualityFilter.calibration(docs, "doc_id", "text", label, m)
      .orderBy(col("band").desc).collect()
    assert(cal.map(_.getAs[Long]("n")).sum === 150L, "bands must partition the corpus")
    val recalls = cal.map(_.getAs[Double]("recall_at"))
    assert(recalls.zip(recalls.tail).forall { case (a, b) => a <= b },
      s"cumulative recall must be monotone: ${recalls.mkString(", ")}")
    assert(math.abs(recalls.last - 1.0) < 1e-12, "bottom threshold recalls everything")
    cal.foreach { r =>
      assert(r.getAs[Long]("n_pos") <= r.getAs[Long]("n"))
      val pr = r.getAs[Double]("pos_rate")
      assert(pr >= 0.0 && pr <= 1.0)
    }
  }

  test("QualityFilter: constant corpus hits the sd=0 guard without NaN") {
    import spark.implicits._
    val docs = (0 until 20).map(i => (i.toLong, "same text here every time"))
      .toDF("doc_id", "text")
    val m = operators.QualityFilter.fit(docs, "doc_id", "text",
      length(col("text")) >= 10, rounds = 3)
    assert(m.sd.forall(_ == 1.0), "zero-variance features must fall back to sd=1")
    assert((m.bias +: m.weights).forall(v => !v.isNaN && !v.isInfinite))
    // all labels are 1; three rounds of lr=0.5 from zero walk the bias
    // toward 1 — and every prediction is already correct at 0.5
    val rep = operators.QualityFilter.trainReport(spark, docs, "doc_id", "text",
      length(col("text")) >= 10, rounds = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rep(("metric", "accuracy")) === 1.0)
  }

  test("clusterAwareSplit: no straddling pairs; singletons keep the naive assignment") {
    import spark.implicits._
    // 30 base docs + 10 near-dup copies (token appended) → real pair edges
    val rnd = new scala.util.Random(5)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h", "i", "j")
    val base = (0 until 30).map { i =>
      (i.toLong, Seq.fill(12 + rnd.nextInt(10))(vocab(rnd.nextInt(10))).mkString(" "))
    }
    val copies = (0 until 10).map(i => (100L + i, base(i)._2 + " tail"))
    val docs = (base ++ copies).toDF("doc_id", "text")
    val splits = Seq(("train", 0.6), ("val", 0.2), ("test", 0.2))
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      .select("id_a", "id_b")
    assert(pairs.count() >= 10, "fixture must produce near-dup edges")
    val clusters = operators.Components.dedupClusters(
      docs.select(col("doc_id")), "doc_id", pairs, "id_a", "id_b")
    val aware = Sampling.clusterAwareSplit(docs, "doc_id", clusters,
      "doc_id", "component", splits)
    val naive = Sampling.hashSplit(docs, "doc_id", splits)
    // every document assigned exactly once
    assert(aware.count() === docs.count())
    // zero near-dup pairs straddle a split boundary
    val s = aware.select(col("doc_id"), col("split")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    pairs.collect().foreach { r =>
      assert(s(r.getLong(0)) === s(r.getLong(1)),
        s"pair (${r.getLong(0)}, ${r.getLong(1)}) straddles splits")
    }
    // docs in no pair (singleton clusters) get hashSplit's exact assignment
    val paired = pairs.collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    val n = naive.collect().map(r => r.getAs[Long]("doc_id") ->
      r.getAs[String]("split")).toMap
    (s.keySet -- paired).foreach(id => assert(s(id) === n(id), s"singleton $id moved"))
  }

  test("corpusDatasheet: hand-computed one-row report, lexicographic top-lang tie") {
    import spark.implicits._
    // 5 docs: one ws/case duplicate pair (1, 2); langs en×2, de×2, fr×1 —
    // en/de tie on count, the report must pick the lexicographic min "de"
    val df = Seq(
      (1L, "Alpha  beta", "en"), (2L, "alpha beta", "de"),
      (3L, "gamma delta epsilon", "en"), (4L, "zeta", "de"),
      (5L, "eta theta", "fr")
    ).toDF("doc_id", "text", "lang")
    val r = TextAnalysis.corpusDatasheet(df, "text", "lang").collect()
    assert(r.length === 1)
    val row = r.head
    assert(row.getAs[Long]("n_docs") === 5L)
    assert(row.getAs[Long]("n_tokens") === (2 + 2 + 3 + 1 + 2).toLong)
    assert(row.getAs[Double]("avg_tokens") === 2.0)
    assert(row.getAs[Long]("n_langs") === 3L)
    assert(row.getAs[String]("top_lang") === "de")
    assert(row.getAs[Double]("dup_rate") === 0.2) // 4 distinct fingerprints / 5
  }

  test("embeddingDrift: hand-computed centroid shift; one-sided labels drop") {
    import spark.implicits._
    // label 0: P = {(1,0), (0,1)} -> centroid (0.5, 0.5); Q = {(1,1)}.
    // l2 = sqrt(0.25 + 0.25); cos = 1.0 (same direction).
    // label 1 exists only on the P side -> must drop.
    val df = Seq(
      (0L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 0), (1L, Array(1f, 1f), 0),
      (4L, Array(1f, 0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val got = Similarity.embeddingDrift(df, "embedding", "label",
      col("vec_id") % 2 === 0).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet === Set(0))
    val (np, nq, l2, cos) = got(0)
    assert(np === 2L && nq === 1L)
    assert(l2 === BigDecimal(math.sqrt(0.5))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(cos === 1.0)
  }

  test("gopherRules: each rule fires on its crafted violator only") {
    import spark.implicits._
    val good = (("the data " * 30).trim + " and more words here") // 64 words
    val short = "the quick and brown"                  // < 50 words
    val hashy = ("the " * 60).trim + " " + ("#tag " * 10).trim // symbol spam
    val bullets = (1 to 4).map(i => s"- item number $i").mkString("\n") // all bullet lines
    val ells = "first line ends...\nsecond also ends...\nthird too..." // 100% ellipsis
    val nums = ("the " * 10 + "123 " * 50).trim        // <80% alphabetic words
    val longw = ("the " * 2 + "pneumonoultramicroscopic " * 60).trim // mean len > 10
    val df = Seq((1L, good), (2L, short), (3L, hashy), (4L, bullets),
      (5L, ells), (6L, nums), (7L, longw)).toDF("doc_id", "text")
    val g = TextAnalysis.gopherRules(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(g(1L).getAs[Int]("keep") === 1)
    assert(g(2L).getAs[Int]("r_words") === 0)
    assert(g(3L).getAs[Int]("r_symbol") === 0)
    assert(g(3L).getAs[Int]("r_words") === 1) // 70 words: only the symbol rule fires
    assert(g(4L).getAs[Int]("r_bullet") === 0)
    assert(g(4L).getAs[Double]("bullet_frac") === 1.0)
    assert(g(5L).getAs[Int]("r_ellipsis") === 0)
    assert(g(6L).getAs[Int]("r_alpha") === 0)
    assert(g(7L).getAs[Int]("r_mean_len") === 0)
    // the required-stopword rule: "the be" alone is 2 hits, "the" is 1
    val hits = TextAnalysis.gopherRules(
      Seq((1L, "the be"), (2L, "the xx")).toDF("doc_id", "text"),
      "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("stop_hits"), r.getAs[Int]("r_stop")))).toMap
    assert(hits(1L) === ((2, 1)))
    assert(hits(2L) === ((1, 0)))
  }

  test("hashedTfVectors: unit norm, bag-of-words invariance, total relation") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "ALPHA  beta alpha gamma"), // case/ws/order variant: same bag
      (3L, "delta epsilon zeta"),
      (4L, "   ")                      // token-less -> zero vector
    ).toDF("doc_id", "text")
    val v = TextAnalysis.hashedTfVectors(df, "doc_id", "text", dim = 16)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"),
          r.getSeq[Double](r.fieldIndex("vec")).toVector))).toMap
    assert(v.keySet === Set(1L, 2L, 3L, 4L)) // total: the empty doc stays
    assert(v(4L)._1 === 0L && v(4L)._2.forall(_ === 0.0))
    assert(v(1L)._2 === v(2L)._2) // bag-of-words + lowercase invariance
    assert(v(1L)._1 === 4L)
    v.values.filter(_._1 > 0).foreach { case (_, vec) =>
      assert(vec.length === 16)
      val ss = vec.map(x => x * x).sum
      assert(math.abs(ss - 1.0) < 1e-5, s"norm^2 = $ss") // 6dp rounding slack
    }
    // the composition path: identical bags collide in every SRP bucket and
    // score cosine 1.0 through embeddingNearDupPairs
    val pairs = Similarity.embeddingNearDupPairs(
      TextAnalysis.hashedTfVectors(df, "doc_id", "text", dim = 16)
        .select($"doc_id", $"vec"),
      "doc_id", "vec", 0.99, nPlanes = 2, dim = 16).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 2L)))
    assert(pairs.head.getAs[Double]("sim") === 1.0)
  }

  test("reputationReport: Wilson lower bound demotes tiny perfect groups") {
    import spark.implicits._
    // src_small: 3/3 keep (rate 1.0); src_big: 95/100 (rate 0.95). The raw
    // rate ranks small first; the 95% lower bound must rank big first
    // (LB(3/3) ~ 0.44, LB(95/100) ~ 0.887).
    val rows = (1 to 3).map(i => (s"s$i", "src_small", 1)) ++
      (1 to 100).map(i => (s"b$i", "src_big", if (i <= 95) 1 else 0))
    val df = rows.toDF("doc_id", "source", "keep")
    val r = operators.QualityFilter.reputationReport(df, "source", $"keep")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(r("src_big").getAs[Int]("rnk") === 1)
    assert(r("src_small").getAs[Int]("rnk") === 2)
    assert(r("src_big").getAs[Long]("n_keep") === 95L)
    assert(r("src_small").getAs[Double]("keep_rate") === 1.0)
    val lbBig = r("src_big").getAs[Double]("wilson_lb")
    val lbSmall = r("src_small").getAs[Double]("wilson_lb")
    assert(lbBig > 0.88 && lbBig < 0.90)
    assert(lbSmall > 0.43 && lbSmall < 0.45)
  }

  test("lshRecallAudit: catches planted near-dups; empty corpus yields null recall") {
    import spark.implicits._
    val base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val df = Seq(
      (1L, base), (2L, base),                     // exact dup: J = 1
      (3L, base + " w11"),                        // near dup
      (4L, "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10")      // unrelated
    ).toDF("doc_id", "text")
    val audit = operators.Dedup.lshRecallAudit(df, "doc_id", "text",
      n = 3, numHashes = 8, rowsPerBand = 2, threshold = 0.3)
      .collect().head
    assert(audit.getAs[Long]("n_true") >= 2L)     // (1,2) and (1,3)/(2,3)
    // J=1 pairs collide on every band; on this fixture all true pairs
    // are high-J, so the audit must report full recall
    assert(audit.getAs[Double]("recall") === 1.0)
    assert(audit.getAs[Long]("n_caught") === audit.getAs[Long]("n_true"))
    assert(audit.getAs[Double]("threshold") === 0.3)
    // no true pairs -> recall NULL, not NaN/zero
    val none = operators.Dedup.lshRecallAudit(
      Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text"),
      "doc_id", "text", 3, 8, 2, 0.9).collect().head
    assert(none.getAs[Long]("n_true") === 0L)
    assert(none.isNullAt(none.fieldIndex("recall")))
  }

  test("lshRecallAudit union-aggregate equals the semi-join reference (r19 q170 fix)") {
    import spark.implicits._
    // the audit's counts are now one hash aggregation over the tagged
    // union of the two pair sets (the former left_semi join auto-
    // broadcast the corpus-growing candidate relation — OOM at sf1);
    // per-random-corpus the three counts must equal the definitionally
    // computed reference: n_true = |truePairs|, n_candidates = |cand|,
    // n_caught = |truePairs with >=1 candidate occurrence|
    val rnd = new scala.util.Random(31)
    val vocab = Vector("a", "b", "c", "d", "e", "f", "g", "h")
    for (trial <- 0 until 3) {
      val docs = (0 until 30).map { i =>
        val len = 5 + rnd.nextInt(20)
        (i.toLong, Seq.fill(len)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
      }.toDF("doc_id", "text")
      val truePairs = operators.Dedup.ngramJaccardPairs(docs, "doc_id",
        "text", 3, 0.3, 100).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val cand = operators.Dedup.minhashLshPairs(docs, "doc_id", "text",
        3, 8, 2).select("id_a", "id_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val candSet = cand.toSet
      val audit = operators.Dedup.lshRecallAudit(docs, "doc_id", "text",
        3, 8, 2, 0.3).collect().head
      assert(audit.getAs[Long]("n_true") === truePairs.length.toLong,
        s"trial $trial n_true")
      assert(audit.getAs[Long]("n_candidates") === cand.length.toLong,
        s"trial $trial n_candidates")
      assert(audit.getAs[Long]("n_caught") ===
        truePairs.count(candSet.contains).toLong, s"trial $trial n_caught")
    }
  }

  test("minhashEstimatorAudit: identical docs score 1/1/0; estimate brackets exact") {
    import spark.implicits._
    val base = "alpha beta gamma delta epsilon zeta eta theta"
    val df = Seq(
      (1L, base), (2L, base),                       // identical pair
      (3L, base + " iota kappa"),                   // high-overlap variant
      (4L, "totally different words nothing shared here at all")
    ).toDF("doc_id", "text")
    val audit = operators.Dedup.minhashEstimatorAudit(df, "doc_id", "text",
      n = 3, numHashes = 8, rowsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    val ident = audit((1L, 2L))
    assert(ident.getAs[Int]("n_match") === 8)
    assert(ident.getAs[Double]("est_jaccard") === 1.0)
    assert(ident.getAs[Double]("jaccard") === 1.0)
    assert(ident.getAs[Double]("err") === 0.0)
    // every audited pair: est and exact both in [0,1], err = est - exact
    audit.values.foreach { r =>
      val (e, j, d) = (r.getAs[Double]("est_jaccard"),
        r.getAs[Double]("jaccard"), r.getAs[Double]("err"))
      assert(e >= 0.0 && e <= 1.0 && j >= 0.0 && j <= 1.0)
      assert(math.abs(d - BigDecimal(e - j).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    }
    // doc 4 shares no shingle with anything: if LSH even proposes it
    // (it should not at 8 hashes), exact must be 0
    audit.keys.foreach { case (a, b) => assert(a != 4L && (b != 4L || {
      audit((a, b)).getAs[Double]("jaccard") == 0.0})) }
  }

  test("hilbert index: a space-filling curve (bijective, unit-step), beats morton locality") {
    import spark.implicits._
    // full 8x8 grid at bits=3: the index must be a BIJECTION onto 0..63
    // and consecutive indexes must be 4-adjacent cells (|dx|+|dy| = 1) -
    // the defining Hilbert property, which Morton violates at every
    // quadrant seam.
    val n = 8
    val grid = (for { x <- 0 until n; y <- 0 until n }
      yield (x.toLong, y.toLong)).toDF("x", "y")
    val d = grid.select(col("x"), col("y"),
        graft.functions.GraftFunctions.graft_hilbert2d(col("x"), col("y"), 3)
          .as("d"))
      .collect().map(r => r.getLong(2) -> ((r.getLong(0), r.getLong(1))))
      .sortBy(_._1)
    assert(d.map(_._1).toSeq === (0L until 64L))
    d.sliding(2).foreach { case Array((_, (x1, y1)), (_, (x2, y2))) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) === 1L,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
    // morton, for contrast, has seam jumps (so the assertion above is
    // actually discriminating): count them
    val mort = grid.select(
        operators.Layout.interleaveBits(col("x"), col("y"), 3).as("d"),
        col("x"), col("y"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .sortBy(_._1)
    val mortonJumps = mort.sliding(2).count {
      case Array((_, (x1, y1)), (_, (x2, y2))) =>
        math.abs(x1 - x2) + math.abs(y1 - y2) > 1L
    }
    assert(mortonJumps > 0)
    // interpreted eval path agrees with codegen (Literal fold)
    val lit2 = graft.functions.HilbertIndex2D(
      org.apache.spark.sql.catalyst.expressions.Literal(6L),
      org.apache.spark.sql.catalyst.expressions.Literal(2L), 3).eval()
    assert(d.find(_._2 == ((6L, 2L))).get._1 === lit2)
    // hilbertKey wiring: quantizer + null contract match zorderKey's
    val df = Seq((1L, 1, 10L, 20L), (2L, 1, 40L, 80L))
      .toDF("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val keyed = operators.Layout.hilbertKey(df, "l_partkey", "l_suppkey", 8).collect()
    assert(keyed.map(_.getAs[Long]("hkey")).distinct.length === 2)
  }

  test("crossDoc span dedup: first occurrence kept, later ones excised") {
    import spark.implicits._
    val span = "one two three four five six seven eight" // exactly L=8
    val df = Seq(
      (1L, s"alpha $span beta"),
      (2L, s"gamma delta $span"),
      (3L, s"$span"),
      (4L, "unrelated words only here nothing shared at all"),
      (5L, "")
    ).toDF("doc_id", "text")
    val rep = operators.Dedup.crossDocSpanReport(df, "doc_id", "text", 8, 10)
      .collect()
    // the planted span is the only 8-gram in >= 2 docs... plus its
    // shifted variants inside docs 1-3 never align across docs except
    // the exact span (different offsets -> same window text). Check the
    // exact-span row: 3 docs, 3 occurrences, doc 1 owns it (min doc id).
    val exact = rep.filter(_.getAs[String]("span") === span)
    assert(exact.length === 1)
    assert(exact.head.getAs[Long]("n_docs") === 3L)
    assert(exact.head.getAs[Long]("n_occ") === 3L)
    assert(exact.head.getAs[Long]("first_doc") === 1L)
    assert(exact.head.getAs[Int]("first_pos") === 2)
    val ex = operators.Dedup.crossDocExcise(df, "doc_id", "text", 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_words"), r.getAs[Long]("n_removed"),
          r.getAs[String]("cleaned")))).toMap
    assert(ex.keySet === Set(1L, 2L, 3L, 4L, 5L)) // total
    assert(ex(1L)._3 === s"alpha $span beta") // canonical holder intact
    assert(ex(1L)._2 === 0L)
    assert(ex(2L)._3 === "gamma delta")        // span excised
    assert(ex(2L)._2 === 8L)
    assert(ex(3L)._3 === "" && ex(3L)._2 === 8L) // whole doc was the span
    assert(ex(4L)._2 === 0L)                   // untouched
    assert(ex(5L)._1 === 0L && ex(5L)._3 === "")
    // longer shared run: a 9-token repeat is covered by its 2 windows and
    // removed wholly from the non-canonical doc
    val long9 = span + " nine"
    val df2 = Seq((1L, s"x $long9 y"), (2L, s"$long9 tail")).toDF("doc_id", "text")
    val ex2 = operators.Dedup.crossDocExcise(df2, "doc_id", "text", 8)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("cleaned")).toMap
    assert(ex2(1L) === s"x $long9 y")
    assert(ex2(2L) === "tail")
  }

  test("unigram Viterbi: optimizes likelihood where greedy longest-match fails") {
    import spark.implicits._
    // "unable": greedy MaxMatch grabs "unab" and strands "l","e"; Viterbi
    // must pick "un"+"able" because its total log-prob is higher.
    val lp = Seq("u" -> -6.0, "n" -> -6.0, "a" -> -6.0, "b" -> -6.0,
      "l" -> -6.0, "e" -> -6.0, "un" -> -2.0, "able" -> -2.5,
      "unab" -> -1.0)
    val df = Seq((1L, "unable")).toDF("doc_id", "text")
    val enc = TextAnalysis.unigramEncode(df, "doc_id", "text", lp, 4)
      .collect().head
    assert(enc.getAs[String]("encoded") === "un able")
    assert(enc.getAs[Int]("n_tokens") === 2)
    // greedy on the same vocab proves the counterexample is real
    val greedy = TextAnalysis.wordpieceEncode(df, "doc_id", "text",
      lp.map(_._1), 4).collect().head
    assert(greedy.getAs[String]("encoded") === "unab l e")
    // UNK floor: a char outside the vocab still segments (as itself),
    // at the -100 penalty, and never derails neighbors
    val unk = TextAnalysis.unigramEncode(
      Seq((1L, "unxable")).toDF("doc_id", "text"), "doc_id", "text", lp, 4)
      .collect().head
    assert(unk.getAs[String]("encoded") === "un x able")
    // tie-break: equal-score paths prefer the SHORTEST piece at each end
    val tie = Seq("a" -> -1.0, "aa" -> -2.0) // "aa": a+a = -2.0 == aa
    val t = TextAnalysis.unigramEncode(
      Seq((1L, "aa")).toDF("doc_id", "text"), "doc_id", "text", tie, 4)
      .collect().head
    assert(t.getAs[String]("encoded") === "a a")
    // empty doc stays (total relation)
    val e = TextAnalysis.unigramEncode(
      Seq((1L, "  ")).toDF("doc_id", "text"), "doc_id", "text", lp, 4)
      .collect().head
    assert(e.getAs[Int]("n_tokens") === 0 && e.getAs[String]("encoded") === "")
  }

  test("unigramTrain: hard-EM keeps frequent multigrams, totals over chars") {
    import spark.implicits._
    // "the" dominates: after EM the piece "the" must survive pruning and
    // absorb the mass; every corpus char must remain in the vocab
    val docs = Seq((1L, "the the the the cat"), (2L, "the hat the"),
      (3L, "the cat sat")).toDF("doc_id", "text")
    val v = TextAnalysis.unigramTrain(docs, "text", seedSize = 20,
      vocabSize = 6, maxPieceLen = 3, rounds = 2).collect()
    val byPiece = v.map(r => r.getAs[String]("piece") ->
      ((r.getAs[Long]("n"), r.getAs[Double]("logp"),
        r.getAs[Int]("rank")))).toMap
    assert(byPiece.contains("the"))
    assert(byPiece("the")._1 === 7L) // 7 occurrences, Viterbi picks it whole
    assert(byPiece("the")._3 === 1)  // top rank
    val chars = "thecasth".toSet.map((c: Char) => c.toString)
    chars.foreach(c => assert(byPiece.contains(c), s"char $c dropped"))
    // logp snapped to the 6dp grid and consistent with Laplace over n
    val tot = v.map(_.getAs[Long]("n")).sum.toDouble
    val nv = v.length.toDouble
    byPiece.foreach { case (_, (n, lp, _)) =>
      val want = math.floor(math.log((n + 1.0) / (tot + nv)) * 1e6 + 0.5) / 1e6
      assert(lp === want)
    }
  }

  test("temperatureMixture: alpha<1 flattens toward uniform, alpha=1 is identity") {
    import spark.implicits._
    val rows = (1 to 90).map(i => (s"a$i", "big")) ++
      (1 to 9).map(i => (s"b$i", "mid")) ++ Seq(("c1", "tiny"))
    val df = rows.toDF("doc_id", "source")
    def shares(num: Int, den: Int) =
      Sampling.temperatureMixture(df, "source", num, den).collect()
        .map(r => r.getAs[String]("source") ->
          ((r.getAs[Double]("p"), r.getAs[Double]("share"),
            r.getAs[Double]("boost")))).toMap
    val t1 = shares(1, 1) // alpha = 1: share == p, boost == 1
    t1.values.foreach { case (p, sh, b) =>
      assert(math.abs(sh - p) < 2e-6); assert(b === 1.0) }
    val t2 = shares(1, 2) // alpha = 1/2
    assert(math.abs(t2.values.map(_._2).sum - 1.0) < 1e-5)
    assert(t2("tiny")._3 > 1.0 && t2("big")._3 < 1.0) // tail boosted
    assert(t2("tiny")._2 > t1("tiny")._2 && t2("big")._2 < t1("big")._2)
    val t4 = shares(1, 4) // colder temperature flattens more
    assert(t4("tiny")._2 > t2("tiny")._2)
    assert(t4("big")._2 < t2("big")._2)
    // big stays the largest share at every temperature (order preserved)
    Seq(t1, t2, t4).foreach { t =>
      assert(t("big")._2 > t("mid")._2 && t("mid")._2 > t("tiny")._2) }
    // 3/4 sits between 1/2 and 1 on both ends
    val t34 = shares(3, 4)
    assert(t34("tiny")._2 < t2("tiny")._2 && t34("tiny")._2 > t1("tiny")._2)
    intercept[IllegalArgumentException] {
      Sampling.temperatureMixture(df, "source", 2, 3).collect() }
  }

  test("hashedTfIdfVectors: idf demotes corpus-wide tokens, unit norm, total") {
    import spark.implicits._
    // "common" appears in every doc; "rare" in doc 1 only. With smooth
    // idf the rare bucket must carry more absolute mass than the common
    // bucket inside doc 1, even though both have tf = 1 there.
    val df = Seq(
      (1L, "common rare"),
      (2L, "common"),
      (3L, "common"),
      (4L, "")
    ).toDF("doc_id", "text")
    val v = TextAnalysis.hashedTfIdfVectors(df, "doc_id", "text", dim = 16)
      .collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"),
          r.getSeq[Double](r.fieldIndex("vec")).toVector))).toMap
    assert(v.keySet === Set(1L, 2L, 3L, 4L)) // total
    assert(v(4L)._2.forall(_ === 0.0))
    // bucket indexes via the same md5 arithmetic the operator uses
    def bucket(tok: String): Int = {
      val hx = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hx.substring(0, 6), 16) % 16).toInt
    }
    val (bc, br) = (bucket("common"), bucket("rare"))
    assert(bc !== br) // fixture precondition: no collision at dim 16
    val d1 = v(1L)._2
    assert(math.abs(d1(br)) > math.abs(d1(bc)),
      s"rare ${d1(br)} should outweigh common ${d1(bc)}")
    // unit norm modulo 6dp rounding
    v.values.filter(_._1 > 0).foreach { case (_, vec) =>
      assert(math.abs(vec.map(x => x * x).sum - 1.0) < 1e-5)
    }
    // docs 2 and 3 have identical text -> identical vectors
    assert(v(2L)._2 === v(3L)._2)
  }

  test("srpBucketProfile: candidate mass equals the pair stage's work") {
    import spark.implicits._
    // two tight direction clusters + one singleton: with p=1 plane the
    // profile must report the exact Σ n(n-1)/2 the pair join would score
    val mk = (base: Seq[Double], eps: Double) =>
      base.zipWithIndex.map { case (x, i) => x + (if (i == 0) eps else 0.0) }
    val a = Seq(1.0, 0.2, 0.1, 0.0)
    val b = Seq(-1.0, -0.3, 0.2, 0.1)
    val rows = (0 until 5).map(i => (i.toLong, mk(a, i * 0.01))) ++
      (5 until 8).map(i => (i.toLong, mk(b, (i - 5) * 0.01)))
    val df = rows.toDF("id", "v")
    val prof = Similarity.srpBucketProfile(df, "id", "v",
      nPlanes = 1, dim = 4).collect().head
    assert(prof.getAs[Long]("n_vecs") === 8L)
    assert(prof.getAs[Int]("n_planes") === 1)
    // exact candidate mass: whatever the 1-plane split is, Σ n(n-1)/2 must
    // equal the count of within-bucket pairs the join emits
    val pairsEmitted = Similarity.embeddingNearDupPairs(df, "id", "v",
      threshold = -1.0, nPlanes = 1, dim = 4).count()
    assert(prof.getAs[Long]("cand_pairs") === pairsEmitted)
    assert(prof.getAs[Long]("max_pop") >= 4L) // one cluster dominates
    assert(prof.getAs[Double]("top_frac") ===
      prof.getAs[Long]("max_pop").toDouble / 8.0)
    // auto-p path: tiny corpus derives p=1 and stays total
    val auto = Similarity.srpBucketProfile(df, "id", "v", dim = 4)
      .collect().head
    assert(auto.getAs[Int]("n_planes") === 1)
    assert(auto.getAs[Long]("n_vecs") === 8L)
  }

  test("VecFold codegen == HOF fold bit-for-bit, incl. null semantics") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{aggregate, zip_with, lit, expr}
    // adversarial doubles: denormals, huge/small magnitude mixes where
    // summation ORDER changes the result, negatives, exact binary fracs
    val rnd = new scala.util.Random(7)
    val vecs = (1 to 64).map { i =>
      (i.toLong, Vector.fill(17)(
        (rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(20) - 10)))
    }
    val df = vecs.toDF("id", "v")
    val pairs = df.as("a").crossJoin(df.as("b"))
      .selectExpr("a.v AS x", "b.v AS y")
    val cmp = pairs.select(
      expr("graft_dot(x, y)").as("cg_dot"),
      aggregate(zip_with($"x", $"y", (p, q) => p * q), lit(0.0),
        (acc, p) => acc + p).as("hof_dot"),
      expr("graft_sqdist(x, y)").as("cg_l2"),
      aggregate(zip_with($"x", $"y", (p, q) => (p - q) * (p - q)), lit(0.0),
        (acc, p) => acc + p).as("hof_l2")).collect()
    cmp.foreach { r =>
      // bit-for-bit: compare raw long bits, not approximate equality
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
    }
    // null semantics match the HOF chain: length mismatch / null element /
    // null array all poison the fold to null
    val edge = spark.sql(
      """SELECT
        |  graft_dot(array(1.0d, 2.0d), array(3.0d)) AS len_mismatch,
        |  graft_dot(array(1.0d, cast(null as double)), array(1.0d, 1.0d))
        |    AS null_elem,
        |  graft_dot(cast(null as array<double>), array(1.0d)) AS null_arr,
        |  graft_dot(cast(array() as array<double>),
        |    cast(array() as array<double>)) AS empty,
        |  graft_sqdist(array(1.0d, 2.0d), array(3.0d)) AS l2_mismatch
        |""".stripMargin).collect().head
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    assert(edge.getDouble(3) === 0.0)
    assert(edge.isNullAt(4))
    // interpreted path (eval) agrees with codegen: force via filter on a
    // literal-foldable context
    val lit2 = graft.functions.VecDot(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(1.5, -2.25), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType)),
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        Array(4.0, 8.0), org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType))).eval()
    assert(lit2 === (1.5 * 4.0 + (-2.25) * 8.0))
  }

  test("dictionaryTags matches token boundaries, not substrings; folds case") {
    val d = Seq(
      (1L, "Art is long"),               // 'art' as a full token
      (2L, "this part is departed"),      // 'art' only inside other tokens
      (3L, "ART art art"),                // 3 hits, case-folded
      (4L, "hash join beats hash and join apart") // bigram + 2 unigram hits
    ).toDF("doc_id", "text")
    val dict = Seq("a" -> "art", "h" -> "hash", "j" -> "hash join")
    val out = operators.Tagging.dictionaryTags(d, "doc_id", "text", dict)
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.get((1L, "a")).contains(1L))
    assert(!out.keySet.exists(_._1 == 2L), "'part'/'departed' must not fire 'art'")
    assert(out((3L, "a")) === 3L)
    assert(out((4L, "h")) === 2L, "both 'hash' tokens count")
    assert(out((4L, "j")) === 1L, "adjacent 'hash join' fires the bigram")
  }

  test("dictionaryTags normalizes dictionary phrases like the corpus side") {
    val d = Seq((1L, "the hash join wins")).toDF("doc_id", "text")
    // mixed case + a whitespace run: must match, not silently never fire
    val out = operators.Tagging.dictionaryTags(d, "doc_id", "text",
      Seq("j" -> "Hash  Join")).collect()
    assert(out.length === 1 && out.head.getLong(2) === 1L)
  }

  test("hllBigramRollup folds NULL group values to a sentinel, not <all>") {
    val d = Seq(
      (1L, "a b c d", null.asInstanceOf[String], "s0"),
      (2L, "a b c d", "en", null.asInstanceOf[String]),
      (3L, "x y z w", "en", "s1")
    ).toDF("doc_id", "text", "lang", "source")
    val out = TextAnalysis.hllBigramRollup(d, "lang", "source", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(out.contains("<null>"), "null lang keeps its own group")
    assert(out("<null>") === ((3L, 1L)), "3 bigrams, 1 sketch under <null>")
    assert(out("en")._2 === 2L, "null source counts as the <null> sketch")
    assert(out("<all>")._1 === 6L, "grand total spans every group once")
    assert(out.size === 3, "no duplicate or mispaired <all> rows")
  }

  test("dictionaryTags rejects phrases longer than the n-gram join supports") {
    val d = Seq((1L, "x")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      operators.Tagging.dictionaryTags(d, "doc_id", "text",
        Seq("t" -> "one two three four five"))
    }
  }

  test("pmiPairs: document-frequency PMI with support floor, hand-checked") {
    // 6 docs; x,y co-occur in 3; x in docs {1,2,3,4}, y in {1,2,3,5} (df 4
    // each), z in {3,5} (its pairs fall below the floor except with y? no:
    // (y,z) co-occurs in docs 3 and 5 — exactly at the floor)
    val d = Seq(
      (1L, "x y"), (2L, "x y"), (3L, "x y z"),
      (4L, "x"), (5L, "y z w"), (6L, "w")
    ).toDF("doc_id", "text")
    val out = operators.Tagging.pmiPairs(d, "doc_id", "text",
      topV = 10, minPairDocs = 2, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    val xy = out.find(t => t._1 == "x" && t._2 == "y").get
    assert(xy._3 === 3L)
    // pmi = ln(3·6 / (4·4)) = ln(1.125)
    assert(math.abs(xy._4 - BigDecimal(math.log(1.125))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-12)
    // (y,z): 2 docs, passes floor; (x,z): 1 doc, dropped
    assert(out.exists(t => t._1 == "y" && t._2 == "z"))
    assert(!out.exists(t => t._1 == "x" && t._2 == "z"))
    // every pair is emitted in x<y orientation exactly once
    assert(out.forall(t => t._1 < t._2))
    assert(out.map(t => (t._1, t._2)).distinct.length === out.length)
  }

  test("pmiPairs: topV caps the vocabulary deterministically") {
    val d = Seq((1L, "a b c"), (2L, "a b c"), (3L, "a b"), (4L, "c d"))
      .toDF("doc_id", "text")
    // df: a=3 b=3 c=3 d=1; topV=3 keeps {a,b,c} (ties broken by token asc)
    val out = operators.Tagging.pmiPairs(d, "doc_id", "text",
      topV = 3, minPairDocs = 1, k = 10).collect()
    assert(out.forall(r => Set("a", "b", "c")(r.getString(0)) &&
      Set("a", "b", "c")(r.getString(1))), "d must be pruned by topV")
  }

  test("cohortRetention: first-week cohorts, per-week active fractions") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-16 10:00:00")),
      (2L, ts("2024-01-10 10:00:00")),
      (3L, ts("2024-01-03 10:00:00")), (3L, ts("2024-01-09 10:00:00"))
    ).toDF("user_id", "ts")
    val out = graft.operators.Funnel.cohortRetention(ev, "user_id", "ts")
      .collect()
      .map(r => (r.getDate(0).toString, r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // cohort of Mon 2024-01-01: users 1 and 3
    assert(out(("2024-01-01", 0)) === ((2L, 2L, 1.0)))
    assert(out(("2024-01-01", 1)) === ((1L, 2L, 0.5)), "u3 active in week 1")
    assert(out(("2024-01-01", 2)) === ((1L, 2L, 0.5)), "u1 active in week 2")
    // cohort of Mon 2024-01-08: user 2 only
    assert(out(("2024-01-08", 0)) === ((1L, 1L, 1.0)))
    assert(out.size === 4)
  }

  test("attribution: first/last touch credit, 'none' bucket, totals agree") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val ev = Seq(
      // u1: view → click → purchase(10): first=view, last=click
      (1L, ts("2024-01-01 01:00:00"), 1L, "view", 0.0),
      (1L, ts("2024-01-01 02:00:00"), 2L, "click", 0.0),
      (1L, ts("2024-01-01 03:00:00"), 3L, "purchase", 10.0),
      // u2: purchase(5) with no touch ever → none/none
      (2L, ts("2024-01-01 01:00:00"), 4L, "purchase", 5.0),
      // u3: purchase(7) BEFORE its only touch → none/none;
      //     purchase(1) after the click → click/click
      (3L, ts("2024-01-01 01:00:00"), 5L, "purchase", 7.0),
      (3L, ts("2024-01-01 02:00:00"), 6L, "click", 0.0),
      (3L, ts("2024-01-01 03:00:00"), 7L, "purchase", 1.0)
    ).toDF("user_id", "ts", "event_id", "event_type", "value")
    val out = graft.operators.Funnel.attribution(ev, "user_id", "ts",
      "event_id", "event_type", "value", Seq("view", "click", "signup"),
      "purchase")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("view") === ((1L, 10.0, 0L, 0.0)))
    assert(out("click") === ((1L, 1.0, 2L, 11.0)))
    assert(out("none") === ((2L, 12.0, 2L, 12.0)))
    // self-audit: both models distribute the same total value
    assert(out.values.map(_._2).sum === out.values.map(_._4).sum)
  }

  test("adjacentPatternCounts: strict adjacency, overlapping windows count") {
    def ts(i: Int) = new java.sql.Timestamp(i * 1000L)
    val ev = Seq(
      (1L, "view"), (1L, "click"), (1L, "purchase"), (1L, "view"),
      (1L, "click"), (1L, "view"), (1L, "click"), (1L, "purchase"),
      (2L, "view"), (2L, "purchase")
    ).zipWithIndex.map { case ((u, e), i) => (u, ts(i), i.toLong, e) }
      .toDF("user_id", "ts", "event_id", "event_type")
    val out = graft.operators.Funnel.adjacentPatternCounts(ev, "user_id",
      "ts", "event_id", "event_type", Seq("view", "click", "purchase"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) === ((8L, 2L)), "view,click at 4-5 is broken by view at 6")
    assert(out(2L) === ((2L, 0L)), "short sequences emit 0, never error")
    // overlapping pattern: (a,a) over [a,a,a] counts both window starts
    val ev2 = Seq((9L, ts(1), 1L, "a"), (9L, ts(2), 2L, "a"),
      (9L, ts(3), 3L, "a")).toDF("user_id", "ts", "event_id", "event_type")
    val o2 = graft.operators.Funnel.adjacentPatternCounts(ev2, "user_id",
      "ts", "event_id", "event_type", Seq("a", "a")).head()
    assert(o2.getLong(2) === 2L)
  }

  test("fuzzyNameJoin: banding never loses a pair; counts carried; a<b") {
    val d = Seq("cold bolt", "old bolt", "old bolt", "gold bolts",
      "red gear", "red gears", "anvil").zipWithIndex
      .map { case (n, i) => (i.toLong, n) }.toDF("id", "nm")
    val out = operators.Dedup.fuzzyNameJoin(d, "nm", 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getInt(2), r.getLong(3), r.getLong(4))).toMap
    // dist 1 pair, with the duplicate row count carried on the b side
    assert(out(("cold bolt", "old bolt")) === ((1, 1L, 2L)))
    // length diff exactly maxDist (9 vs 10 chars, dist 2) — the band edge
    assert(out(("gold bolts", "old bolt")) === ((2, 1L, 2L)))
    assert(out(("red gear", "red gears")) === ((1, 1L, 1L)))
    // nothing pairs with 'anvil'; orientation is always name_a < name_b
    assert(!out.keySet.exists(p => p._1 == "anvil" || p._2 == "anvil"))
    assert(out.keySet.forall(p => p._1 < p._2))
    // exactness against brute force at this scale
    val names = d.select("nm").distinct().collect().map(_.getString(0))
    val brute = (for {
      a <- names; b <- names if a < b
      dst = {
        val m = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to a.length; j <- 1 to b.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        m(a.length)(b.length)
      }
      if dst <= 2
    } yield (a, b)).toSet
    assert(out.keySet === brute, "length banding must be lossless")
  }

  test("k-min reservoir rollup equals sketching the coarse group directly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fineIn = docs.select(
      concat_ws("|", col("lang"), col("source")).as("ls"),
      col("doc_id"), col("n_chars"))
    val fine = Sampling.reservoirByGroup(fineIn, "ls", "doc_id",
      col("n_chars"), 32)
    val rolled = Sampling.reservoirRollup(fine,
      substring_index(col("ls"), "|", 1), "lang", 32)
    val direct = Sampling.reservoirByGroup(
      docs.select(col("lang"), col("doc_id"), col("n_chars")),
      "lang", "doc_id", col("n_chars"), 32)
    def canon(df: org.apache.spark.sql.DataFrame, g: String) = df.collect()
      .map(r => r.getAs[String](g) ->
        (r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(0), p.getLong(1))).sorted, r.getLong(2)))
      .toMap
    assert(canon(rolled, "lang") === canon(direct, "lang"),
      "k smallest of the union must equal the merged per-part k-minima")
  }

  test("intervalOverlap: each overlapping pair appears exactly once; equals theta join") {
    val rnd = new scala.util.Random(11)
    val left = (1 to 60).map { i =>
      val lo = rnd.nextInt(1000).toLong; (i.toLong, lo, lo + rnd.nextInt(300))
    }.toDF("lid", "llo", "lhi")
    val right = (1 to 40).map { j =>
      val lo = rnd.nextInt(1000).toLong; (j.toLong, lo, lo + rnd.nextInt(150))
    }.toDF("rid", "rlo", "rhi")
    val got = operators.RangeJoin.intervalOverlap(left, right,
      "llo", "lhi", "rlo", "rhi", 50L)
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === got.distinct.length,
      "the overlap-start-bin filter must make pairs unique WITHOUT distinct()")
    val brute = left.collect().flatMap { l =>
      right.collect().collect {
        case r if l.getLong(1) <= r.getLong(2) && r.getLong(1) <= l.getLong(2) =>
          (l.getLong(0), r.getLong(0))
      }
    }
    assert(got.sorted.toSeq === brute.sorted.toSeq,
      "binned overlap join must equal the theta join")
  }

  test("nearestJoin: direction pick, tie preference, and no-match nulls") {
    val purchases = Seq((1L, 10L, 100L), (2L, 10L, 205L), (3L, 10L, 300L),
      (4L, 99L, 50L)).toDF("pid", "k", "t")
    val errs = Seq((10L, 90L, 7L), (10L, 210L, 8L), (10L, 400L, 9L))
      .toDF("k", "e", "eid")
    val out = operators.AsofJoin.nearestJoin(purchases, errs, "k", "t", "e")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]),
          Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]))).toMap
    assert(out(1L) === ((Some(90L), Some(-10L), Some(7L))),
      "backward 90 (d=10) beats forward 210 (d=110)")
    assert(out(2L) === ((Some(210L), Some(5L), Some(8L))),
      "forward 210 (d=5) beats backward 90 (d=115)")
    // t=300: backward 210 (d=90), forward 400 (d=100) → backward
    assert(out(3L) === ((Some(210L), Some(-90L), Some(8L))))
    assert(out(4L) === ((None, None, None)), "keys without right rows null-fill")
    // exact tie: backward 95 (d=5) vs forward 105 (d=5) → backward wins
    val tied = operators.AsofJoin.nearestJoin(
      Seq((1L, 1L, 100L)).toDF("pid", "k", "t"),
      Seq((1L, 95L, 1L), (1L, 105L, 2L)).toDF("k", "e", "eid"),
      "k", "t", "e").head()
    assert(tied.getLong(3) === 95L && tied.getLong(4) === -5L)
  }

  test("isotropyReport: PR reads 1 when collapsed, k on k equal axes") {
    // collapse onto axis 0: C = diag(var, 0, 0, 0) → PR exactly 1
    val collapsed = Seq(1.0f, 2.0f, 3.0f, 4.0f)
      .map(a => Tuple1(Array(a, 0.0f, 0.0f, 0.0f))).toDF("v")
    val c = operators.Similarity.isotropyReport(collapsed, "v").head()
    assert(c.getLong(1) === 4L)
    assert(c.getDouble(4) === 1.0, "one live axis → participation ratio 1")
    // two independent equal-variance axes → PR exactly 2
    val two = Seq((1.0f, 1.0f), (1.0f, -1.0f), (-1.0f, 1.0f),
      (-1.0f, -1.0f)).map { case (a, b) =>
      Tuple1(Array(a, b, 0.0f)) }.toDF("v")
    val t = operators.Similarity.isotropyReport(two, "v").head()
    assert(t.getDouble(4) === 2.0, "two equal live axes → PR 2")
    assert(t.getDouble(5) === 0.0, "centered input has zero mean norm")
  }

  test("corpusDigest: order-invariant, framing-safe, change-sensitive") {
    val base = Seq((1L, "aa", "g"), (2L, "bb", "g"), (3L, "cc", "h"))
      .toDF("id", "t", "g")
    def dig(df: org.apache.spark.sql.DataFrame) =
      operators.Dedup.corpusDigest(df, "g", Seq("id", "t")).collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val d1 = dig(base)
    // partitioning and row order never move the digest
    assert(dig(base.repartition(7).sortWithinPartitions("t")) === d1)
    // a single-cell change moves the group digest AND the grand total
    val d2 = dig(Seq((1L, "aa", "g"), (2L, "bX", "g"), (3L, "cc", "h"))
      .toDF("id", "t", "g"))
    assert(d2("g") !== d1("g"))
    assert(d2("<all>") !== d1("<all>"))
    assert(d2("h") === d1("h"), "untouched slices keep their digest")
    // duplicating a row cancels in XOR but NOT in (count, sum) — the
    // reason the digest carries all three
    val d3 = dig(Seq((1L, "aa", "g"), (1L, "aa", "g"), (2L, "bb", "g"),
      (3L, "cc", "h")).toDF("id", "t", "g"))
    assert(d3("g")._1 === 3L)
    assert(d3("g")._3 !== d1("g")._3)
    // column framing: ("ab","c") and ("a","bc") must hash apart
    val f1 = dig(Seq((1L, "x", "g")).toDF("id", "t", "g")
      .select(lit("ab").as("id"), lit("c").as("t"), col("g")))
    val f2 = dig(Seq((1L, "x", "g")).toDF("id", "t", "g")
      .select(lit("a").as("id"), lit("bc").as("t"), col("g")))
    assert(f1("g")._2 !== f2("g")._2)
    // null cell and empty string hash apart
    val n1 = dig(Seq((1L, null.asInstanceOf[String], "g")).toDF("id", "t", "g"))
    val n2 = dig(Seq((1L, "", "g")).toDF("id", "t", "g"))
    assert(n1("g")._2 !== n2("g")._2)
  }

  test("jlDistortionReport: distortion shrinks with k; dup pairs excluded") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    def report(k: Int) = operators.Similarity.jlDistortionReport(
      docs, "vec_id", "embedding", dim = 64, k = k, nQueries = 4).head()
    val r8 = report(8)
    val r32 = report(32)
    // JL: more projected dims → tighter concentration of the ratio
    assert(r32.getDouble(5) < r8.getDouble(5),
      s"k=32 distortion ${r32.getDouble(5)} !< k=8 ${r8.getDouble(5)}")
    assert(r8.getDouble(2) > 0.5 && r8.getDouble(2) < 1.5,
      "mean ratio must sit near 1 (the 1/sqrt(k) scale is unbiased)")
    assert(r32.getDouble(3) > 0.0, "zero-distance pairs must be excluded")
    // degenerate projection request rejected
    intercept[IllegalArgumentException] {
      operators.Similarity.jlDistortionReport(docs, "vec_id", "embedding",
        dim = 64, k = 64, nQueries = 4)
    }
  }

  test("HLL register rollup equals sketching the coarse group directly") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val rolled = TextAnalysis.hllBigramRollup(docs, "lang", "source", "text")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(3))).toMap
    // direct per-lang sketch over the same bigram universe (q117's op,
    // grouped by lang instead of source) — register merge must be exact
    val direct = TextAnalysis.hllBigramCardinality(docs, "lang", "text")
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    direct.foreach { case (lang, (exact, est)) =>
      assert(rolled(lang) === ((exact, est)),
        s"rollup-merged estimate must be bit-identical for $lang")
    }
    assert(rolled.contains("<all>"), "grand-total row present")
  }
}
