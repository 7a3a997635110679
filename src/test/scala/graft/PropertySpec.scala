package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions
import graft.operators.SnapshotMerge

/** Property-based invariants (SURVEY §5.4): the infobox parser is total,
  * and the merge algebra preserves its set identities on arbitrary
  * snapshots. Samples are generated with ScalaCheck and evaluated in one
  * Spark pass per property (a job per sample would be pathological).
  */
class PropertySpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("infobox_to_map never throws on arbitrary input (total function)") {
    val junk = samples(Gen.asciiPrintableStr, 150) ++
      samples(Gen.alphaNumStr.map(s => s"""[{"key":"$s","value":"$s"}]"""), 50) ++
      Seq(null, "", "[]", "{}", "[null]", "[1,2]", """[{"key":null}]""",
        """[{"value":"x"}]""", "\u0000￿", "[{\"key\":\"k\",\"value\":{}}]")
    // one Spark pass; success = no exception, every row null-or-map
    val out = junk.toDF("j")
      .select(GraftFunctions.infobox_to_map($"j").as("m"))
      .collect()
    assert(out.length === junk.length)
  }

  private val snapshotGen: Gen[Seq[(Option[Long], Double)]] =
    Gen.listOfN(40, for {
      k <- Gen.option(Gen.choose(0L, 25L))
      v <- Gen.choose(0, 5).map(_.toDouble)
    } yield (k, v))

  test("merge algebra: key identity, lane disjointness, idempotence") {
    val pairs = samples(Gen.zip(snapshotGen, snapshotGen), 4)
    pairs.zipWithIndex.foreach { case ((s0, t0), i) =>
      // dedupe keys within each snapshot (merge assumes keyed snapshots)
      def frame(rows: Seq[(Option[Long], Double)]) =
        rows.groupBy(_._1).map { case (k, vs) => (k, vs.head._2) }.toSeq
          .toDF("id", "bal")
      val src = frame(s0)
      val tgt = frame(t0)
      val actions = SnapshotMerge.mergeActions(src, tgt, "id", Seq("bal"))
        .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("action")))

      val srcKeys = src.filter($"id".isNotNull).collect().map(_.getLong(0)).toSet
      val tgtKeys = tgt.filter($"id".isNotNull).collect().map(_.getLong(0)).toSet
      val byAction = actions.groupBy(_._2).view.mapValues(_.map(_._1).toSet)
        .toMap.withDefaultValue(Set.empty[Long])

      assert(byAction("insert") === (srcKeys -- tgtKeys), s"case $i inserts")
      assert(byAction("delete") === (tgtKeys -- srcKeys), s"case $i deletes")
      assert(byAction("update") ++ byAction("unchanged") === (srcKeys & tgtKeys),
        s"case $i updates/unchanged")
      assert((byAction("insert") & byAction("delete")).isEmpty)

      // merged keys = source keys; NA target rows pass through
      val merged = SnapshotMerge.merge(src, tgt, "id")
      val mergedKeys = merged.filter($"id".isNotNull)
        .collect().map(_.getLong(0)).toSet
      assert(mergedKeys === srcKeys, s"case $i merged-key identity")
      assert(merged.filter($"id".isNull).count() ===
        src.filter($"id".isNull).count(), s"case $i source-NA passthrough")

      // idempotence: merging the merge result against itself changes nothing
      val again = SnapshotMerge.mergeActions(
        merged.drop("is_active"), merged.drop("is_active"), "id", Seq("bal"))
      assert(again.filter($"action" =!= "unchanged").count() === 0,
        s"case $i idempotence")
    }
  }

  test("range join equals the naive predicate on arbitrary intervals") {
    // random interval sets (some empty, some inverted, widths from 0 to
    // far past the domain), three bin widths incl. one larger than any
    // interval and one of 1 — results must be bin-width-invariant
    val ivGen = Gen.listOfN(30, for {
      lo <- Gen.choose(-20L, 120L)
      len <- Gen.oneOf(Gen.const(0L), Gen.choose(1L, 15L), Gen.choose(-10L, 200L))
    } yield (lo, lo + len))
    val points = (-10L to 110L).map(p => Tuple1(p)).toDF("p")
    samples(ivGen, 6).zipWithIndex.foreach { case (ivs, i) =>
      val intervals = ivs.zipWithIndex.map { case ((lo, hi), id) =>
        (id.toLong, lo, hi) }.toDF("iv_id", "lo", "hi")
      val want = (for {
        ((lo, hi), id) <- ivs.zipWithIndex
        p <- -10L to 110L if p >= lo && p <= hi
      } yield (id.toLong, p)).toSet
      Seq(1L, 7L, 500L).foreach { w =>
        val got = graft.operators.RangeJoin
          .pointInInterval(points, intervals, "p", "lo", "hi", w)
          .select($"iv_id", $"p").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(got === want, s"case $i width $w")
      }
    }
  }

  test("packing invariants hold on arbitrary corpora") {
    val docGen = Gen.listOfN(40, for {
      id <- Gen.choose(-50L, 50L)
      n <- Gen.choose(1, 30)
    } yield (id, n))
    samples(docGen, 5).zipWithIndex.foreach { case (docs0, i) =>
      val docs = docs0.distinctBy(_._1) // ids must be unique
      val df = docs.toDF("doc_id", "n").select($"doc_id",
        concat_ws(" ", transform(sequence(lit(1), $"n"), _ => lit("w"))).as("text"))
      val out = graft.operators.Packing
        .packGreedy(df, "doc_id", "text", budget = 20, nBuckets = 4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
      assert(out.length === docs.length, s"case $i row identity")
      // every pack except possibly those holding one oversized doc fits
      out.groupBy(t => (t._2, t._3)).foreach { case ((b, p), rows) =>
        val total = rows.map(_._4.toLong).sum
        assert(total <= 20 || rows.length == 1,
          s"case $i bucket $b pack $p overflows with ${rows.length} docs")
      }
      // pack indices are contiguous from 1 within each bucket
      out.groupBy(_._2).foreach { case (b, rows) =>
        val packs = rows.map(_._3).distinct.sorted
        assert(packs === (1 to packs.length), s"case $i bucket $b contiguity")
        // ascending id order never jumps back to an earlier pack
        val byId = rows.sortBy(_._1).map(_._3)
        assert(byId === byId.sorted, s"case $i bucket $b monotonic packs")
      }
    }
  }

  test("concatBlocks invariants hold on arbitrary corpora") {
    val docGen = Gen.listOfN(30, for {
      id <- Gen.choose(-50L, 50L)
      n <- Gen.choose(1, 40)
    } yield (id, n))
    samples(docGen, 5).zipWithIndex.foreach { case (docs0, i) =>
      val docs = docs0.distinctBy(_._1)
      val df = docs.toDF("doc_id", "n").select($"doc_id",
        concat_ws(" ", transform(sequence(lit(1), $"n"), _ => lit("w"))).as("text"))
      val out = graft.operators.Packing
        .concatBlocks(df, "doc_id", "text", blockSize = 16, nBuckets = 4)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
      // token conservation: block occupancies sum to the corpus total
      assert(out.map(_._4).sum === docs.map(_._2.toLong).sum, s"case $i tokens")
      out.groupBy(_._1).foreach { case (b, rows) =>
        val sorted = rows.sortBy(_._2)
        // contiguous block ids from 0; every block full except the last
        assert(sorted.map(_._2).toSeq === sorted.indices.map(identity),
          s"case $i bucket $b contiguity")
        assert(sorted.dropRight(1).forall(_._4 === 16L), s"case $i bucket $b fill")
        assert(sorted.last._4 >= 1L && sorted.last._4 <= 16L)
        // consecutive blocks meet exactly at the boundary doc: block b's
        // last doc either precedes or IS block b+1's first doc
        sorted.sliding(2).foreach {
          case Array(a, c) =>
            assert(a._6 <= c._5, s"case $i bucket $b span order")
            assert(a._5 <= a._6, s"case $i bucket $b span sanity")
          case _ =>
        }
      }
    }
  }

  test("packing survives empty/whitespace docs under BOTH tokenizers") {
    // the armed trap: bpeishTokenCount returns 0 for empty text, and an
    // unguarded concatBlocks span sequence(k, k-1) would DOUBLE-COUNT the
    // doc into two blocks (Spark generates descending sequences)
    val docGen = Gen.listOfN(30, for {
      id <- Gen.choose(-50L, 50L)
      text <- Gen.oneOf(Gen.const(""), Gen.const("   "), Gen.const("\t\n"),
        Gen.choose(1, 25).map(n => Seq.fill(n)("w").mkString(" ")))
    } yield (id, text))
    val counters = Seq[
      (String, org.apache.spark.sql.Column => org.apache.spark.sql.Column)](
      "tokenCount" -> graft.operators.TextAnalysis.tokenCount,
      "bpeishTokenCount" -> graft.operators.TextAnalysis.bpeishTokenCount)
    samples(docGen, 4).zipWithIndex.foreach { case (docs0, i) =>
      val docs = docs0.distinctBy(_._1)
      val df = docs.toDF("doc_id", "text")
      counters.foreach { case (cname, counter) =>
        // token totals as the counter itself sees them
        val perDoc = df.select($"doc_id",
            greatest(counter($"text"), lit(0)).cast("long").as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val blocks = graft.operators.Packing
          .concatBlocks(df, "doc_id", "text", blockSize = 16, nBuckets = 4,
            tokenCounter = counter)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
            r.getLong(4), r.getLong(5)))
        // token conservation: no doc is ever double-counted into two blocks
        assert(blocks.map(_._4).sum === perDoc.values.sum,
          s"case $i/$cname block token conservation")
        blocks.groupBy(_._1).foreach { case (b, rows) =>
          val sorted = rows.sortBy(_._2)
          assert(sorted.map(_._2).toSeq === sorted.indices.map(identity),
            s"case $i/$cname bucket $b contiguity")
          assert(sorted.dropRight(1).forall(_._4 === 16L),
            s"case $i/$cname bucket $b fill")
        }
        val packs = graft.operators.Packing
          .packGreedy(df, "doc_id", "text", budget = 20, nBuckets = 4,
            tokenCounter = counter)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getInt(3)))
        // greedy keeps row identity (empty docs still get an assignment)
        assert(packs.length === docs.length, s"case $i/$cname row identity")
        packs.groupBy(t => (t._2, t._3)).foreach { case ((b, p), rows) =>
          val total = rows.map(_._4.toLong).sum
          assert(total <= 20 || rows.count(_._4 > 0) == 1,
            s"case $i/$cname bucket $b pack $p overflow")
        }
      }
    }
  }

  test("weightedSampleK inclusion follows total weight order on replicated corpora") {
    // two strata of equal count but 20x weight difference; sampling half
    // the rows must overwhelmingly pick the heavy stratum (ES guarantee)
    val df = spark.range(200).toDF("id")
      .select($"id", when($"id" < 100, 200.0).otherwise(10.0).as("w"))
    val got = graft.operators.Sampling.weightedSampleK(df, "id", $"w", 100)
      .collect().map(_.getLong(0))
    assert(got.length === 100)
    assert(got.count(_ < 100L) >= 85, s"heavy stratum ${got.count(_ < 100L)}/100")
  }

  test("kmin_values equals sorted-distinct-take-k on arbitrary inputs") {
    // arbitrary longs (duplicates, negatives, extremes), arbitrary k,
    // arbitrary partitioning — the aggregate must always equal the
    // reference order statistic computed in plain Scala
    val cases = (0 until 12).map { i =>
      val g = for {
        n  <- Gen.choose(0, 300)
        vs <- Gen.listOfN(n, Gen.oneOf(
          Gen.choose(-50L, 50L), Gen.choose(Long.MinValue, Long.MaxValue)))
        k  <- Gen.choose(1, 40)
        np <- Gen.choose(1, 9)
      } yield (vs, k, np)
      g.apply(Gen.Parameters.default, Seed(1000L + i)).get
    }
    for (((vs, k, np), i) <- cases.zipWithIndex) {
      val want = vs.distinct.sorted.take(k)
      val got =
        if (vs.isEmpty) Seq.empty // zero-row agg returns one empty array
        else vs.toDF("v").repartition(np)
          .selectExpr(s"kmin_values(v, $k) AS ks")
          .head().getSeq[Long](0)
      assert(got === want, s"case $i: n=${vs.length} k=$k parts=$np")
    }
  }

  test("incrementalExact equals the naive two-anti-join reference") {
    val textGen = Gen.oneOf("aa bb", "aa  BB", "cc dd", "ee", "ff gg hh", "ii")
    val corpusGen = Gen.listOfN(30, textGen)
    samples(Gen.zip(corpusGen, corpusGen), 4).zipWithIndex.foreach {
      case ((idxTexts, deltaTexts), i) =>
        val index = idxTexts.zipWithIndex
          .map { case (t, j) => (j.toLong, t) }.toDF("doc_id", "text")
          .select(graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
          .distinct()
        val delta = deltaTexts.zipWithIndex
          .map { case (t, j) => (100L + j, t) }.toDF("doc_id", "text")
        val got = graft.operators.Dedup
          .incrementalExact(delta, index, "doc_id", "text")
          .select("doc_id").collect().map(_.getLong(0)).toSet
        // reference: min-id per normalized delta text, minus index hits
        def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
        val idxSet = idxTexts.map(norm).toSet
        val want = deltaTexts.zipWithIndex.map { case (t, j) => (100L + j, norm(t)) }
          .groupBy(_._2).values.map(_.map(_._1).min)
          .filter(id => !idxSet.contains(
            norm(deltaTexts((id - 100L).toInt))))
          .toSet
        assert(got === want, s"case $i")
    }
  }

  test("dedup exact is idempotent and minimal") {
    val docs = samples(Gen.oneOf("a b c", "a  B c", "x y", "p q r s"), 60)
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = graft.operators.Dedup.exact(docs, "doc_id", "text")
    val twice = graft.operators.Dedup.exact(once, "doc_id", "text")
    assert(once.count() === twice.count())
    assert(once.count() ===
      docs.select(graft.operators.TextAnalysis.fingerprint($"text")).distinct().count())
  }

  test("paragraphDedup equals a sequential keep-first reference on random corpora") {
    // small paragraph pool forces heavy cross-doc and within-doc collisions
    val paraGen = Gen.oneOf("alpha one", "beta two", "gamma three", "delta")
    val docGen = Gen.choose(1, 5).flatMap(n => Gen.listOfN(n, paraGen))
    (0 until 3).foreach { round =>
      val docs = samples(docGen, 12).zipWithIndex
        .map { case (ps, i) => (i.toLong, ps.mkString("\n")) }
      val got = graft.operators.Dedup
        .paragraphDedup(docs.toDF("id", "t"), "id", "t")
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
        .toMap
      val seen = scala.collection.mutable.Set[String]()
      val want = docs.sortBy(_._1).map { case (id, t) =>
        val ps = t.split("\n", -1)
        val kept = ps.filter(seen.add)
        id -> ((ps.length.toLong, kept.length.toLong, kept.mkString("\n")))
      }.toMap
      assert(got === want, s"round $round")
    }
  }

  test("exciseRepeatedSpans equals an occurrence-count reference on random corpora") {
    val w = 3
    // 4-word vocab, lengths straddling the span width (incl. < w docs)
    val docGen = Gen.choose(0, 9)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf("a", "b", "c", "d")))
      .map(_.mkString(" "))
    (0 until 3).foreach { round =>
      val docs = samples(docGen, 15).zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
      val got = graft.operators.Dedup
        .exciseRepeatedSpans(docs.toDF("id", "t"), "id", "t", w, 2L)
        .collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
        .toMap
      val allGrams = docs.flatMap { case (_, t) =>
        val ws = t.split(" ", -1)
        if (ws.length < w) Seq.empty
        else (0 to ws.length - w).map(s => ws.slice(s, s + w).mkString(" "))
      }
      val occ = allGrams.groupBy(identity).view.mapValues(_.size).toMap
      val want = docs.map { case (id, t) =>
        val ws = t.split(" ", -1)
        val hits =
          if (ws.length < w) Seq.empty
          else (0 to ws.length - w)
            .filter(s => occ(ws.slice(s, s + w).mkString(" ")) >= 2)
        val covered = hits.flatMap(s => s until s + w).toSet
        val kept = ws.zipWithIndex.collect { case (x, i) if !covered(i) => x }
        id -> ((ws.length, covered.size, kept.mkString(" ")))
      }.toMap
      assert(got === want, s"round $round")
    }
  }

  test("curriculumOrder phases are monotone in complexity and partition the corpus") {
    val docGen = Gen.choose(1, 40)
    (0 until 3).foreach { round =>
      val rows = samples(docGen, 50).zipWithIndex
        .map { case (c, i) => (i.toLong, c) }
      val out = graft.operators.Sampling
        .curriculumOrder(rows.toDF("id", "c"), "id", "c", 4)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      assert(out.length === rows.length, "phases must partition the corpus")
      assert(out.forall(t => t._3 >= 1 && t._3 <= 4))
      val byPhase = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      val phases = byPhase.keys.toSeq.sorted
      phases.sliding(2).foreach {
        case Seq(lo, hi) =>
          assert(byPhase(lo).max <= byPhase(hi).min,
            s"round $round: phase $lo must not exceed phase $hi")
        case _ =>
      }
    }
  }

  test("histogramQuantiles: estimate within one bin width of the exact quantile") {
    // arbitrary grouped doubles (mixed magnitudes, duplicates, constant
    // groups) -> for every (group, q) the histogram estimate must sit
    // within (hi - lo)/bins of the exact rank-ceil(q*n) order statistic,
    // and exactly ON it when the group is constant
    val gen = Gen.listOfN(60, for {
      g <- Gen.choose(0, 3)
      v <- Gen.oneOf(Gen.choose(-1e6, 1e6), Gen.const(7.25),
        Gen.choose(-1.0, 1.0))
    } yield (s"g$g", v))
    val data = samples(gen, 8).flatten
    val bins = 64
    val df = data.toDF("g", "v").repartition(5)
    val got = graft.operators.Quantiles
      .histogramQuantiles(df, "g", "v", Seq(0.25, 0.5, 0.9, 1.0), bins)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    val byG = data.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for (((g, q), est) <- got) {
      val vs = byG(g)
      val exact = vs(math.max(0, math.ceil(q * vs.length).toInt - 1))
      val width = (vs.last - vs.head) / bins
      assert(math.abs(est - exact) <= width + 1e-9,
        s"group $g q=$q est=$est exact=$exact width=$width n=${vs.length}")
    }
    // every (group, quantile) combination must be present exactly once
    assert(got.size === byG.size * 4)
  }

  // ---- temporal/event operator invariants vs independent references ----

  /** Seeded pseudo-random event log shared by the temporal properties:
    * keys with wildly different densities, duplicate timestamps, and
    * value mixes — the shapes that break window/tie assumptions. */
  private def randomLog(seed: Int, n: Int): Seq[(Long, java.sql.Timestamp, Long, String, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val k = (rnd.nextInt(7) * rnd.nextInt(3)).toLong // skewed keys
      // coarse time grid on purpose: duplicate (key, ts) pairs occur
      val t = new java.sql.Timestamp(rnd.nextInt(50) * 60000L)
      val op = if (rnd.nextInt(5) == 0) "D" else "U"
      (k, t, i.toLong, op, rnd.nextInt(100) / 4.0)
    }
  }

  test("property: scd2 intervals tile each key's timeline exactly") {
    val rows = randomLog(13, 400)
    val df = rows.toDF("k", "ts", "id", "op", "v")
    val out = graft.operators.Temporal.scd2(df, "k", "ts", "id", "op")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2),
        Option(r.getTimestamp(3)), r.getLong(4)))
    // every event in exactly one segment; one open segment per key
    assert(out.map(_._5).sum === rows.length.toLong)
    val byK = out.groupBy(_._1)
    byK.foreach { case (k, segs) =>
      assert(segs.count(_._4.isEmpty) === 1, s"key $k open segments")
      val ordered = segs.sortBy(s => (s._3.getTime, s._4.map(_.getTime)
        .getOrElse(Long.MaxValue)))
      ordered.toSeq.sliding(2).foreach {
        case Seq(a, b) =>
          assert(a._4.contains(b._3), s"key $k: intervals must chain")
          assert(a._2 != b._2 || a._4.isDefined,
            "adjacent segments with equal attr exist only via interleaving")
        case _ =>
      }
      // independent reference: replay the event order, compress runs
      val evs = rows.filter(_._1 == k).sortBy(e => (e._2.getTime, e._3))
      val runs = evs.foldLeft(List.empty[(String, Int)]) {
        case (acc @ ((a, c) :: tail), e) if a == e._4 => (a, c + 1) :: tail
        case (acc, e) => (e._4, 1) :: acc
      }.reverse
      assert(ordered.map(s => (s._2, s._5.toInt)).toList === runs,
        s"key $k: segment runs must match the sequential replay")
    }
  }

  test("property: gapFill grid is dense, LOCF total, observed rows exact") {
    val rows = randomLog(29, 300)
    val df = rows.toDF("k", "ts", "id", "op", "v")
    val out = graft.operators.Temporal.gapFill(df, "k", "ts", "v", "minute")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2),
        r.getBoolean(3), r.getDouble(4)))
    assert(out.forall(r => !r._5.isNaN), "LOCF never leaves NaN")
    out.groupBy(_._1).foreach { case (k, g) =>
      val times = g.map(_._2.getTime).sorted.toSeq
      // dense: consecutive buckets 1 minute apart, no holes
      times.sliding(2).foreach { case Seq(a, b) =>
        assert(b - a === 60000L, s"key $k grid hole")
      case _ => }
      // observed rows carry exact counts; first bucket is observed
      assert(!g.minBy(_._2.getTime)._4, s"key $k first bucket must be observed")
      assert(g.map(_._3).sum === rows.count(_._1 == k).toLong)
    }
  }

  test("property: compactChangelog equals a sequential last-writer replay") {
    val rows = randomLog(47, 500)
    val df = rows.toDF("k", "ts", "id", "op", "v")
    val got = graft.operators.SnapshotMerge.compactChangelog(
      df, "k", "ts", "id", col("op") === "D", "v").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    val ref = rows.groupBy(_._1).flatMap { case (k, evs) =>
      val last = evs.maxBy(e => (e._2.getTime, e._3))
      if (last._4 == "D") None
      else Some(k -> (evs.length.toLong, last._5))
    }
    assert(got === ref)
  }

  test("property: attribution totals equal conversion totals in BOTH models") {
    val rows = randomLog(61, 500).map { case (k, t, id, op, v) =>
      val types = Seq("view", "click", "signup", "purchase", "error")
      (k, t, id, types((id % 5).toInt), v)
    }
    val df = rows.toDF("k", "ts", "id", "etype", "v")
    val out = graft.operators.Funnel.attribution(df, "k", "ts", "id",
      "etype", "v", Seq("view", "click", "signup"), "purchase").collect()
    val convTotal = BigDecimal(rows.filter(_._4 == "purchase").map(_._5).sum)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
    def tot(i: Int) = BigDecimal(out.map(_.getDouble(i)).sum)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP)
    assert(tot(2) === convTotal, "first-touch credit must conserve value")
    assert(tot(4) === convTotal, "last-touch credit must conserve value")
    assert(out.map(_.getLong(1)).sum === out.map(_.getLong(3)).sum)
  }

  test("property: timeWeightedAvg equals a sequential trapezoid-free replay") {
    val rows = randomLog(83, 400)
    val df = rows.toDF("k", "ts", "id", "op", "v")
    val got = graft.operators.Temporal.timeWeightedAvg(df, "k", "ts", "id", "v")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows.groupBy(_._1).foreach { case (k, evs) =>
      val ord = evs.sortBy(e => (e._2.getTime, e._3))
      val ws = ord.zip(ord.tail).map { case (a, b) =>
        (a._5, (b._2.getTime - a._2.getTime) * 1000.0) // micros
      }
      val wtot = ws.map(_._2).sum
      val want =
        if (wtot > 0) ws.map { case (v, w) => v * w }.sum / wtot
        else ord.map(_._5).max
      assert(math.abs(got(k) - want) < 5e-5, s"key $k twa")
    }
  }

  test("property: Spark-generated MySQL DDL parses; the Derby dialect never does") {
    // r15 verdict task 6: the hand-picked JdbcLoadSpec negative cases
    // promoted to a property — random StructTypes through the REAL
    // bridge (GraftJdbcDdlBridge → JdbcUtils.schemaString, the exact
    // statement Spark's JDBC writer executes), asserted against the
    // MySQL 8 grammar on both dialects. DDL building is string-only: no
    // Spark jobs, so the 60-schema sweep is cheap.
    import org.apache.spark.sql.GraftJdbcDdlBridge
    import org.apache.spark.sql.types._
    import graft.sinks.{JdbcLoad, MySqlDdl}
    val leafGen: Gen[DataType] = Gen.oneOf(
      StringType, IntegerType, LongType, DoubleType, FloatType, ShortType,
      BooleanType, BinaryType, TimestampType, DateType,
      DecimalType(10, 2), DecimalType(38, 18))
    val fieldGen = for {
      base <- Gen.alphaLowerChar
      dt <- leafGen
      nullable <- Gen.oneOf(true, false)
    } yield (base, dt, nullable)
    val schemaGen: Gen[StructType] = for {
      k <- Gen.choose(1, 12)
      fs <- Gen.listOfN(k, fieldGen)
    } yield StructType(fs.zipWithIndex.map { case ((b, dt, nu), i) =>
      StructField(s"${b}_c$i", dt, nu) // suffix: unique case-insensitively
    })
    val schemas = samples(schemaGen, 60)
    assert(schemas.size >= 50, "generator must actually produce schemas")
    val opts = JdbcLoad.mysqlWriteOptions()
    schemas.zipWithIndex.foreach { case (schema, i) =>
      // route one string column through createTableColumnTypes — the
      // override path must survive arbitrary surrounding schemas too
      val strCol = schema.fields.find(_.dataType == StringType).map(_.name)
      val colTypes = strCol.map(c => s"$c VARCHAR(255)")
      val my = GraftJdbcDdlBridge.createTableStatement(
        "jdbc:mysql://db.example/g", s"t_$i", schema, colTypes,
        opts("createTableOptions"))
      val ast = MySqlDdl.parse(my).fold(
        err => fail(s"case $i: grammar rejected Spark's MySQL DDL: $err\n$my"),
        identity)
      assert(ast.columns.map(_.name) === schema.fieldNames.toSeq,
        s"case $i: column names must round-trip")
      schema.fields.filter(f => f.dataType == StringType &&
          !strCol.contains(f.name)).foreach { f =>
        assert(ast.columns.find(_.name == f.name).get.typeName === "LONGTEXT",
          s"case $i: unbounded strings must map to LONGTEXT")
      }
      strCol.foreach { c =>
        val cd = ast.columns.find(_.name == c).get
        assert(cd.typeName === "VARCHAR" && cd.typeArgs === Seq(255L),
          s"case $i: override column must keep VARCHAR(255)")
      }
      schema.fields.foreach { f =>
        assert(ast.columns.find(_.name == f.name).get.notNull === !f.nullable,
          s"case $i: NOT NULL must track nullability for ${f.name}")
      }
      // the SAME schema through the Derby dialect (double-quoted
      // identifiers, CLOB strings) must never satisfy the MySQL grammar
      val derby = GraftJdbcDdlBridge.createTableStatement(
        s"jdbc:derby:memory:g$i", s"t_$i", schema, None, "")
      assert(MySqlDdl.parse(derby).isLeft,
        s"case $i: Derby-dialect DDL accepted by the MySQL grammar:\n$derby")
    }
    // the r16 lexical additions, pinned: escaped quotes, signed DEFAULTs,
    // and the semantic negatives they make reachable
    assert(MySqlDdl.parse(
      "CREATE TABLE t (a INT DEFAULT -1 COMMENT 'user''s list')").isRight,
      "doubled-quote escape + signed DEFAULT must parse")
    assert(MySqlDdl.parse(
      """CREATE TABLE t (a LONGTEXT COMMENT 'a\'b\\')""").isRight,
      "backslash escapes must parse")
    assert(MySqlDdl.parse("CREATE TABLE t (a DECIMAL(-1))").isLeft,
      "negative type arguments must be rejected")
    assert(MySqlDdl.parse("CREATE TABLE t (a VARCHAR(10) DEFAULT 'x").isLeft,
      "unterminated string must still be rejected")
  }

  test("property: probed SRP fan-out equals a sequential reference replay") {
    // the r17 consolidation derives home bits / margins from one __dots
    // array instead of srpBucket over the raw vector — this replays the
    // ENTIRE fan-out (dots, sign bits, margin sort, bit flips) against a
    // driver-side reference with the same in-order fold, so any future
    // drift in the shared helper (tie-breaking, flip encoding, substr
    // arithmetic at the first/last plane) fails on VALUES, not shape
    import graft.operators.Similarity
    val rnd = new scala.util.Random(7)
    for ((d, p, nProbes) <- Seq((3, 1, 1), (3, 1, 2), (4, 3, 2), (5, 4, 5),
        (8, 6, 4))) {
      val planes = Similarity.hyperplanes(p, d)
      val rows = (0 until 24).map(i =>
        (i.toLong, Array.fill(d)(rnd.nextGaussian())))
      val c = spark.createDataset(rows).toDF("id", "v")
      val got = Similarity.probedSrpBuckets(c, planes, nProbes)
        .select("id", "bucket").collect()
        .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      def dot(a: Array[Double], b: Array[Double]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { acc += a(i) * b(i); i += 1 }
        acc
      }
      val want = rows.flatMap { case (id, v) =>
        val dots = planes.map(pl => dot(v, pl))
        val home = dots.map(x => if (x >= 0) '1' else '0').mkString
        val flips = dots.zipWithIndex
          .sortBy { case (x, i) => (math.abs(x), i) }
          .take(nProbes - 1).map(_._2)
        val probed = flips.map(i =>
          home.updated(i, if (home(i) == '1') '0' else '1'))
        (home +: probed).map(b => (id, b))
      }.sorted
      assert(got === want, s"(d=$d, p=$p, nProbes=$nProbes)")
    }
  }
}
