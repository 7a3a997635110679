package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Structured Streaming: watermarked tumbling windows and the foreachBatch
  * incremental sync (SURVEY §2.9). */
class StreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("tumbling window aggregates a memory stream with a watermark") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.tumblingCounts(df, "10 minutes", "30 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("tumbling_out").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 00:01:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 00:05:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 00:15:00"), "click", 4.0),
      (Timestamp.valueOf("2024-01-01 00:16:00"), "view", 8.0))
    q.processAllAvailable()
    val out = spark.table("tumbling_out")
      .collect().map(r => (r.getAs[Timestamp]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"),
        r.getAs[Double]("sum_value"))).toSet
    q.stop()
    assert(out === Set(
      ("2024-01-01 00:00:00.0", "click", 2L, 3.0),
      ("2024-01-01 00:10:00.0", "click", 1L, 4.0),
      ("2024-01-01 00:10:00.0", "view", 1L, 8.0)))
  }

  test("sliding windows emit only watermark-closed hops across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDF().toDF("ts", "event_type", "value")
    val q = EventStreams.slidingCounts(df, "30 minutes", "10 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sliding_out").start()
    // event at 00:25 → hops starting 00:00, 00:10, 00:20
    mem.addData((Timestamp.valueOf("2024-01-01 00:25:00"), "click", 1.0))
    q.processAllAvailable()
    // advance the watermark to 01:20 − 10 min = 01:10: all three hops
    // (ends 00:30/00:40/00:50) close; the new event's own hops stay open
    mem.addData((Timestamp.valueOf("2024-01-01 01:20:00"), "view", 2.0))
    q.processAllAvailable()
    val out = spark.table("sliding_out")
      .collect().map(r => (r.getAs[Timestamp]("win_start").toString,
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).toSet
    q.stop()
    assert(out === Set(
      ("2024-01-01 00:00:00.0", "click", 1L),
      ("2024-01-01 00:10:00.0", "click", 1L),
      ("2024-01-01 00:20:00.0", "click", 1L)))
  }

  test("streaming dedup suppresses duplicates across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("event_id", "ts", "value")
    val q = EventStreams.dedupEvents(df, Seq("event_id"), "30 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    val t1 = Timestamp.valueOf("2024-01-01 00:01:00")
    val t2 = Timestamp.valueOf("2024-01-01 00:02:00")
    val t3 = Timestamp.valueOf("2024-01-01 00:03:00")
    // batch 1: event 1 delivered twice in the same batch
    mem.addData((1L, t1, 1.0), (2L, t2, 2.0), (1L, t1, 1.0))
    q.processAllAvailable()
    // batch 2: event 1 replayed in a LATER batch (within the watermark
    // horizon) — the stateful guarantee a per-batch distinct can't give
    mem.addData((1L, t1, 1.0), (3L, t3, 3.0))
    q.processAllAvailable()
    val out = spark.table("dedup_out").collect()
      .map(r => (r.getAs[Long]("event_id"), r.getAs[Double]("value")))
    q.stop()
    assert(out.sorted.toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("stream-stream interval join matches across batches within the lag") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val cdf = clicks.toDF().toDF("c_user", "click_ts", "click_id")
    val vdf = views.toDF().toDF("v_user", "view_ts", "view_id")
    val q = EventStreams.intervalJoin(cdf, vdf, "c_user", "v_user",
        "click_ts", "view_ts", "10 minutes", "30 minutes")
      .select($"click_id", $"view_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ivj_out").start()
    val t = (m: String) => Timestamp.valueOf(s"2024-01-01 00:$m:00")
    // batch 1: click 1 (user 7), view 10 in range, view 11 out of range,
    // view 12 right user wrong direction (before the click)
    clicks.addData((7L, t("10"), 1L))
    views.addData((7L, t("15"), 10L), (7L, t("25"), 11L), (7L, t("05"), 12L))
    q.processAllAvailable()
    // batch 2: the matching view arrives a batch LATER than its click —
    // the state the join exists to keep
    views.addData((7L, t("18"), 13L), (8L, t("18"), 14L))
    q.processAllAvailable()
    val out = spark.table("ivj_out").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    q.stop()
    assert(out === Set((1L, 10L), (1L, 13L)))
  }

  test("LEFT OUTER interval join emits unmatched rows only at watermark close") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val views = MemoryStream[(Long, Timestamp, Long)]
    val cdf = clicks.toDF().toDF("c_user", "click_ts", "click_id")
    val vdf = views.toDF().toDF("v_user", "view_ts", "view_id")
    val q = EventStreams.intervalJoin(cdf, vdf, "c_user", "v_user",
        "click_ts", "view_ts", "10 minutes", "30 minutes", "leftOuter")
      .select($"click_id", $"view_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ivj_outer_out").start()
    def rows = spark.table("ivj_outer_out").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    val t = (m: String) => Timestamp.valueOf(s"2024-01-01 $m:00")
    // click 1 matches view 10; click 2 has no view in range
    clicks.addData((7L, t("00:10"), 1L), (7L, t("00:20"), 2L))
    views.addData((7L, t("00:15"), 10L))
    q.processAllAvailable()
    // the match emits eagerly; the unmatched click is still HELD — a
    // matching view could yet arrive inside watermark + lag
    assert(rows === Set((1L, 10L)))
    // advance both watermarks far past click 2's last possible match
    // (00:20 + 10min lag + 30min delay): the null row must now emit
    clicks.addData((9L, t("09:00"), 99L))
    views.addData((9L, t("09:00"), 98L))
    q.processAllAvailable()
    q.processAllAvailable() // one extra batch for the eviction scan
    assert(rows.contains((2L, -1L)), s"unmatched click never emitted: $rows")
    q.stop()
  }

  test("indexFilteredIngest drops index hits across batches, zero state") {
    implicit val sqlCtx = spark.sqlContext
    val index = Seq("seen before", "also  SEEN  here").toDF("text")
      .select(graft.operators.TextAnalysis.fingerprint($"text").as("fp"))
      .distinct()
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
    val q = EventStreams.indexFilteredIngest(stream, index, "text")
      .select($"doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_dedup_out").start()
    // batch 1: one new doc, one exact index hit
    mem.addData((1L, "fresh document"), (2L, "seen before"))
    q.processAllAvailable()
    // batch 2: a normalized index hit and another new doc — the index
    // filter applies in EVERY batch with no state carried between them
    mem.addData((3L, "ALSO seen   here"), (4L, "another fresh"))
    q.processAllAvailable()
    val got = spark.table("ingest_dedup_out").collect()
      .map(_.getLong(0)).sorted.toSeq
    q.stop()
    assert(got === Seq(1L, 4L))
  }

  test("nearDupFilteredIngest: per-batch LSH probe, batch-split invariant") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select($"doc_id", $"text")
    val indexSigs = graft.operators.Dedup.minhashSignatures(
      docs.filter($"doc_id" < 250), "doc_id", "text", 3, 8)
      .localCheckpoint(eager = true)
    val delta = docs.filter($"doc_id" >= 250).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // the one-shot reference: whole delta probed in a single pass
    val oneShot = {
      val matched = graft.operators.Dedup.incrementalMinhashPairs(
        docs.filter($"doc_id" >= 250), indexSigs,
        "doc_id", "text", 3, 8, 2, minMatchFraction = 0.5)
        .select($"delta_id").distinct()
        .collect().map(_.getLong(0)).toSet
      delta.map(_._1).filterNot(matched)
    }
    assert(oneShot.length < delta.length, "fixture must reject something")
    val target = Files.createTempDirectory("graft-neardup-t").toString + "/c"
    val mem = MemoryStream[(Long, String)]
    val q = EventStreams.nearDupFilteredIngest(
      mem.toDF().toDF("doc_id", "text"), indexSigs,
      "doc_id", "text", 3, 8, 2, minMatchFraction = 0.5, target,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0))
    // three uneven batches: the probe is delta-vs-index only, so the
    // split must not change the surviving corpus
    delta.grouped(100).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.read.parquet(target)
      .select($"doc_id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === oneShot.toSeq)
  }

  test("stateful sessionization emits closed sessions via state timeouts") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Timestamp, Double)]
    val df = mem.toDF().toDF("user_id", "ts", "value")
    val q = EventStreams.statefulSessions(df, gapMillis = 10 * 60 * 1000L,
      watermark = "0 seconds")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out").start()
    // user 7: two events 5 min apart (one session), then a 3rd event far
    // later — the gap closes session 1 inline; the late event also drives
    // the watermark past the first session's timeout
    mem.addData((7L, Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      (7L, Timestamp.valueOf("2024-01-01 00:05:00"), 2.0))
    q.processAllAvailable()
    mem.addData((7L, Timestamp.valueOf("2024-01-01 02:00:00"), 4.0))
    q.processAllAvailable()
    mem.addData((8L, Timestamp.valueOf("2024-01-01 05:00:00"), 0.0))
    q.processAllAvailable()
    val out = spark.table("sessions_out").collect()
      .map(r => (r.getAs[Long]("user_id"),
        r.getAs[Timestamp]("session_start").toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    q.stop()
    assert(out.contains((7L, "2024-01-01 00:00:00.0", 2L, 3.0)),
      s"first session missing from ${out.mkString(", ")}")
    // the 02:00 session closes once the 05:00 watermark passes its timeout
    assert(out.contains((7L, "2024-01-01 02:00:00.0", 1L, 4.0)),
      s"second session missing from ${out.mkString(", ")}")
  }

  test("incremental sync merges snapshot drops into the parquet target") {
    val target = Files.createTempDirectory("graft-target").toString + "/t"
    val sample = Seq((1L, "a", 1.0)).toDF("id", "name", "bal")

    val drop1 = Files.createTempDirectory("graft-src1").toString
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "bal")
      .write.mode("overwrite").json(drop1)
    EventStreams.incrementalSync(spark, drop1, target, "id", sample)
      .awaitTermination()
    assert(spark.read.parquet(target).count() === 2)

    // second snapshot: update 2, drop 1, add 3
    val drop2 = Files.createTempDirectory("graft-src2").toString
    Seq((2L, "b2", 20.0), (3L, "c", 3.0)).toDF("id", "name", "bal")
      .write.mode("overwrite").json(drop2)
    EventStreams.incrementalSync(spark, drop2, target, "id", sample)
      .awaitTermination()
    val after = spark.read.parquet(target)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(after === Map(2L -> "b2", 3L -> "c")) // 1 hard-deleted
  }

  test("incremental sync: stage dirs are deleted, an unreadable target is not an initial load") {
    def stageDirs(): Set[String] =
      Option(new java.io.File(System.getProperty("java.io.tmpdir")).list())
        .fold(Set.empty[String])(_.filter(_.startsWith("graft-sync-stage")).toSet)
    val sample = Seq((1L, "a", 1.0)).toDF("id", "name", "bal")
    val drop = Files.createTempDirectory("graft-src").toString
    Seq((1L, "a", 1.0)).toDF("id", "name", "bal").write.mode("overwrite").json(drop)
    val target = Files.createTempDirectory("graft-target").toString + "/t"
    val before = stageDirs()
    EventStreams.incrementalSync(spark, drop, target, "id", sample)
      .awaitTermination()
    assert(spark.read.parquet(target).count() === 1)
    assert(stageDirs() === before)

    // a target that exists but cannot be read must fail the batch, not be
    // replaced by the snapshot as if it were missing
    val broken = Files.createTempDirectory("graft-broken")
    val junk = broken.resolve("part-00000.parquet")
    Files.write(junk, "not parquet".getBytes("UTF-8"))
    intercept[Exception] {
      EventStreams.incrementalSync(spark, drop, broken.toString, "id", sample)
        .awaitTermination()
    }
    assert(new String(Files.readAllBytes(junk), "UTF-8") === "not parquet")
  }

  test("corpusIngest: exactly-once partitioned ingestion across restarts") {
    val in = Files.createTempDirectory("graft-ingest-in").toString
    val out = Files.createTempDirectory("graft-ingest-out").toString + "/corpus"
    val ckpt = Files.createTempDirectory("graft-ingest-ckpt").toString
    val schema = Seq((0L, "en", "t")).toDF("doc_id", "lang", "text").schema
    def drop(name: String, rows: (Long, String, String)*): Unit =
      Files.writeString(java.nio.file.Paths.get(in, name),
        rows.map { case (id, lang, text) =>
          s"""{"doc_id":$id,"lang":"$lang","text":"$text"}"""
        }.mkString("", "\n", "\n"))
    def ingest() = EventStreams.corpusIngest(spark, in, schema, out, ckpt,
      Seq("lang")).awaitTermination()
    def readBack() = spark.read.schema(schema).parquet(out)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet

    drop("s1.json", (1L, "en", "a"), (2L, "zh", "b"))
    ingest()
    assert(readBack() === Set((1L, "en", "a"), (2L, "zh", "b")))

    // restart with a new shard: the checkpoint skips s1, drains only s2
    drop("s2.json", (3L, "en", "c"))
    ingest()
    assert(readBack() ===
      Set((1L, "en", "a"), (2L, "zh", "b"), (3L, "en", "c")))

    // restart with nothing new: exactly-once means nothing changes
    ingest()
    assert(readBack() ===
      Set((1L, "en", "a"), (2L, "zh", "b"), (3L, "en", "c")))

    // layout is the hive-partitioned corpus shape (plus _spark_metadata,
    // the sink's commit log — the exactly-once mechanism itself)
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.contains("_spark_metadata"), "file-sink commit log missing")
    assert(dirs.filterNot(_.startsWith("_")).toSeq === Seq("lang=en", "lang=zh"))
  }

  test("streaming CMS across micro-batches equals the one-shot batch sketch") {
    // the q136 claim isolated: TextAnalysis.cmsSketch runs UNCHANGED as a
    // streaming maintainer because sketch merge IS the aggregation — so
    // the final complete-mode table after N micro-batches must be
    // bit-identical to the batch sketch over the concatenated stream,
    // regardless of how the data was split into batches
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[String]
    val q = graft.operators.TextAnalysis
      .cmsSketch(mem.toDF().toDF("term"), "term", 3, 16)
      .writeStream.outputMode("complete")
      .format("memory").queryName("cms_stream_out").start()
    val b1 = Seq("alpha", "beta", "alpha", "gamma")
    val b2 = Seq("beta", "beta", "delta")
    val b3 = Seq("alpha", "epsilon", "zeta", "alpha")
    mem.addData(b1: _*); q.processAllAvailable()
    mem.addData(b2: _*); q.processAllAvailable()
    mem.addData(b3: _*); q.processAllAvailable()
    val streamed = spark.table("cms_stream_out").collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    q.stop()
    val batch = graft.operators.TextAnalysis
      .cmsSketch((b1 ++ b2 ++ b3).toDF("term"), "term", 3, 16)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(streamed === batch)
    // row-sum invariant per hash row: every term lands in exactly one
    // bucket per row, so each row's counters sum to the stream length
    val n = (b1 ++ b2 ++ b3).size.toLong
    for (j <- 1 to 3)
      assert(streamed.collect { case ((`j`, _), c) => c }.sum === n)
  }

  test("streaming k-min reservoir across micro-batches equals the batch sample") {
    // the q153 claim isolated: kmin_pairs is a mergeable sketch, so the
    // complete-mode table after N uneven micro-batches must equal the
    // one-shot batch reservoir over the concatenated stream — and both
    // must equal the reference sample (k smallest id-hashes) computed
    // directly. Quantile read-off then agrees by construction.
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val rsvStream = graft.operators.Sampling.reservoirByGroup(
      mem.toDF().toDF("lang", "doc_id", "n_chars"),
      "lang", "doc_id", org.apache.spark.sql.functions.col("n_chars"), k = 16)
    val q = rsvStream.writeStream.outputMode("complete")
      .format("memory").queryName("rsv_stream_out").start()
    val rows = (0L until 44L).map(i =>
      (if (i % 2 == 0) "en" else "zh", i, 100L + i))
    mem.addData(rows.take(15): _*); q.processAllAvailable()
    mem.addData(rows.slice(15, 19): _*); q.processAllAvailable()
    mem.addData(rows.drop(19): _*); q.processAllAvailable()
    def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) ->
        (r.getSeq[org.apache.spark.sql.Row](1)
          .map(p => (p.getLong(0), p.getLong(1))), r.getLong(2))).toMap
    val streamed = canon(spark.table("rsv_stream_out"))
    q.stop()
    import spark.implicits._
    val batch = canon(graft.operators.Sampling.reservoirByGroup(
      rows.toDF("lang", "doc_id", "n_chars"),
      "lang", "doc_id", org.apache.spark.sql.functions.col("n_chars"), k = 16))
    assert(streamed === batch)
    // reference: the k smallest md5-52bit id hashes per lang, by hand
    def h52(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(13)
      java.lang.Long.parseLong(hex, 16)
    }
    for ((lang, (pairs, nTot)) <- batch) {
      val want = rows.filter(_._1 == lang)
        .map(r => (h52(r._2), r._3)).sortBy(_._1).take(16)
      assert(pairs === want, lang)
      assert(nTot === rows.count(_._1 == lang).toLong)
    }
  }

  test("trained quality filter deploys on a stream unchanged (stateless scorer)") {
    // QualityFilter.score is a stateless scan-stage projection, so the
    // SAME call works on a streaming relation in append mode with no
    // watermark and no state store — and any micro-batch split yields
    // bit-identical scores to the one-shot batch pass (margins are a
    // deterministic scalar fold; no corpus-level state is touched at
    // scoring time). This is the deployment path: train offline (q139),
    // ship 5 doubles, filter the ingest stream.
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(5 + (i % 30))("tok").mkString(" "))
    }
    val batchDf = docs.toDF("doc_id", "text")
    val model = operators.QualityFilter.fit(batchDf, "doc_id", "text",
      org.apache.spark.sql.functions.length(
        org.apache.spark.sql.functions.col("text")) >= 60)
    val mem = MemoryStream[(Long, String)]
    val q = operators.QualityFilter.score(model,
        mem.toDF().toDF("doc_id", "text"), "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("qf_stream_out").start()
    mem.addData(docs.take(25): _*)
    q.processAllAvailable()
    mem.addData(docs.drop(25): _*)
    q.processAllAvailable()
    val streamed = spark.table("qf_stream_out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("q_score"), r.getAs[Int]("q_pred"))).toMap
    q.stop()
    val batch = operators.QualityFilter.score(model, batchDf, "text")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Double]("q_score"), r.getAs[Int]("q_pred"))).toMap
    assert(streamed === batch, "stream scores must equal the batch pass bit-for-bit")
  }

  test("streaming Misra-Gries: candidate superset holds under adversarial batching") {
    implicit val sqlCtx = spark.sqlContext
    // heavy token: 40/100 occurrences of "hot"; theta = 0.3 -> k = 7.
    // Batches split so "hot" arrives interleaved with distinct noise that
    // constantly evicts counters - the worst case for MG state churn.
    val noise = (1 to 60).map(i => s"n$i")
    val all = (1 to 40).map(_ => "hot") ++ noise
    val batches = all.grouped(9).toSeq // 12 uneven micro-batches
    val mem = MemoryStream[String]
    val q = mem.toDS().select(
        operators.TextAnalysis.misraGriesColumn(7).name("cand"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("mg_out").start()
    // interleave: shuffle deterministically so hot is spread out
    batches.zipWithIndex.foreach { case (b, i) =>
      mem.addData(b.sortBy(t => (t.hashCode * (i + 1)).toString): _*)
      q.processAllAvailable()
    }
    val cand = spark.table("mg_out").head().getSeq[String](0)
    q.stop()
    // the guarantee: every theta-heavy token survives, regardless of order
    assert(cand.contains("hot"), s"theta-heavy token evicted: $cand")
    assert(cand.size <= 7)
  }

  test("streaming LWW changelog equals batch compaction under any batch split") {
    // q184's claim isolated: count + max(struct) are mergeable, so the
    // complete-mode table after adversarially split micro-batches —
    // including a late-arriving OLD version that must NOT displace the
    // newer winner — equals SnapshotMerge.compactChangelog over the
    // concatenated log.
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    def t(i: Int) = new Timestamp(i * 1000L)
    val rows = Seq(
      (1L, t(3), 30L, "U", 3.0), (1L, t(1), 10L, "U", 1.0),
      (2L, t(2), 20L, "U", 2.0), (2L, t(5), 50L, "D", 0.0),
      (3L, t(4), 40L, "D", 0.0), (3L, t(6), 60L, "U", 6.0),
      (1L, t(2), 15L, "U", 1.5) // late OLD version for key 1
    )
    val mem = MemoryStream[(Long, Timestamp, Long, String, Double)]
    val agg = mem.toDF().toDF("k", "ts", "id", "op", "v")
      .groupBy(col("k"))
      .agg(count(lit(1)).as("n_versions"),
        max(struct(col("ts").as("t"), col("id").as("i"),
          (col("op") === "D").as("del"), col("v").as("v"))).as("last"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("lww_stream_out").start()
    mem.addData(rows.take(3): _*); q.processAllAvailable()
    mem.addData(rows.slice(3, 5): _*); q.processAllAvailable()
    mem.addData(rows.drop(5): _*); q.processAllAvailable()
    val streamed = spark.table("lww_stream_out")
      .filter(!col("last.del"))
      .select(col("k"), col("n_versions"), col("last.t").as("last_ts"),
        col("last.v").as("current_value"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getTimestamp(2), r.getDouble(3))).toMap
    q.stop()
    val batch = graft.operators.SnapshotMerge.compactChangelog(
      rows.toDF("k", "ts", "id", "op", "v"), "k", "ts", "id",
      col("op") === "D", "v")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getTimestamp(2), r.getDouble(3))).toMap
    assert(streamed === batch)
    assert(streamed(1L) === ((3L, t(3), 3.0)), "late old version ignored")
    assert(!streamed.contains(2L), "trailing tombstone removes the key")
    assert(streamed(3L) === ((2L, t(6), 6.0)), "upsert resurrects")
  }

  test("crash recovery: state survives a mid-source kill under both providers") {
    // r17 verdict task 3: StateScale pinned throughput/memory-fit, but
    // nothing exercised checkpoint RESTART. Per provider (heap, rocksdb
    // WITH changelog checkpointing — its restore path replays deltas
    // over the last snapshot, a code path a single run never executes):
    // start a stateful query over a 2-shard file source with
    // maxFilesPerTrigger=1 and a far-off processing trigger, kill it
    // after micro-batch 0 (k=1 < n=2 — source data still unread),
    // restart from the same checkpoint with AvailableNow, and require
    // the final sink to match the no-restart full run bit-for-bit.
    // Dedup state loss would re-emit key "b"; window state loss would
    // close the first windows EMPTY (s1's rows forgotten).
    import org.apache.spark.sql.streaming.Trigger
    import org.apache.spark.sql.DataFrame

    def writeShard(dir: String, name: String, mtime: Long,
        rows: Seq[(String, Timestamp, Double)]): Unit = {
      val tmp = Files.createTempDirectory("graft-shard").toString
      rows.toDF("k", "ts", "value").coalesce(1)
        .write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .filter(_.getName.startsWith("part-")).head
      val dst = java.nio.file.Paths.get(dir, name)
      Files.move(part.toPath, dst)
      Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    def source(in: String): DataFrame = spark.readStream
      .schema("k STRING, ts TIMESTAMP, value DOUBLE")
      .option("maxFilesPerTrigger", "1").parquet(in)
    def start(df: DataFrame, out: String, ck: String,
        trigger: Trigger): org.apache.spark.sql.streaming.StreamingQuery =
      df.writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(trigger).start()
    def awaitFirstBatch(q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val deadline = System.currentTimeMillis + 60000
      while (System.currentTimeMillis < deadline &&
        !q.recentProgress.exists(_.numInputRows > 0)) Thread.sleep(100)
      assert(q.recentProgress.exists(_.numInputRows > 0),
        "no data batch completed before the kill")
    }
    def ts(s: String) = Timestamp.valueOf(s)

    val saved = Seq(
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    val results = Seq("heap", "rocksdb").map { provider =>
      EventStreams.configureStateStore(spark, provider)
      try {
        val in = Files.createTempDirectory(s"graft-cr-in-$provider").toString
        val t0 = System.currentTimeMillis
        // s1 (oldest mtime -> batch 0): a,b,c + an in-batch dup of a;
        // s2: a cross-restart dup of b, plus d, plus w@01:00 whose max
        // event time advances the watermark to 00:30 AFTER its batch;
        // s3: the batch that RUNS under that watermark — append-mode
        // windows [00:00) and [00:10) close and emit during it, carrying
        // the counts only restored state can know
        writeShard(in, "s1.parquet", t0 - 30000, Seq(
          ("a", ts("2024-01-01 00:01:00"), 1.0),
          ("b", ts("2024-01-01 00:02:00"), 2.0),
          ("c", ts("2024-01-01 00:12:00"), 3.0),
          ("a", ts("2024-01-01 00:04:00"), 4.0)))
        writeShard(in, "s2.parquet", t0 - 20000, Seq(
          ("b", ts("2024-01-01 00:05:00"), 8.0),
          ("d", ts("2024-01-01 00:06:00"), 16.0),
          ("w", ts("2024-01-01 01:00:00"), 0.0)))
        writeShard(in, "s3.parquet", t0 - 10000, Seq(
          ("z", ts("2024-01-01 02:00:00"), 0.0)))

        def dedupQ(df: DataFrame) = EventStreams.dedupEvents(
          df, Seq("k"), "2 hours")
        def windowQ(df: DataFrame) = EventStreams.tumblingCounts(
          df.withColumnRenamed("k", "event_type"), "10 minutes",
          "30 minutes")

        // killed-and-restarted run, per shape
        def restarted(shape: DataFrame => DataFrame): Set[String] = {
          val out = Files.createTempDirectory("graft-cr-out").toString + "/d"
          val ck = Files.createTempDirectory("graft-cr-ck").toString
          val q1 = start(shape(source(in)), out, ck,
            Trigger.ProcessingTime("10 minutes"))
          awaitFirstBatch(q1)
          q1.stop(); q1.awaitTermination()
          val q2 = start(shape(source(in)), out, ck, Trigger.AvailableNow())
          q2.awaitTermination()
          spark.read.parquet(out).collect()
            .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
        }
        // no-restart reference, per shape
        def fullRun(shape: DataFrame => DataFrame): Set[String] = {
          val out = Files.createTempDirectory("graft-cr-ref").toString + "/d"
          val ck = Files.createTempDirectory("graft-cr-rck").toString
          val q = start(shape(source(in)), out, ck, Trigger.AvailableNow())
          q.awaitTermination()
          spark.read.parquet(out).collect()
            .map(_.toSeq.map(String.valueOf).mkString("|")).toSet
        }

        val dedupGot = restarted(dedupQ)
        assert(dedupGot === fullRun(dedupQ),
          s"$provider: dedup diverged after restart")
        // state actually restored: exactly one row per key (b suppressed
        // ACROSS the restart), survivors are s1's first occurrences
        assert(dedupGot.count(_.startsWith("b|")) === 1)
        assert(dedupGot.exists(_.startsWith("b|2024-01-01 00:02")),
          "the s1 occurrence of b must survive, not s2's replay")
        assert(dedupGot.map(_.split('|').head) ===
          Set("a", "b", "c", "d", "w", "z"))

        val winGot = restarted(windowQ)
        assert(winGot === fullRun(windowQ),
          s"$provider: windowed counts diverged after restart")
        // s1's windows closed AFTER the restart with s1's rows intact:
        // a's pair straddles the kill in state, b's count mixes one row
        // from before the kill and one after
        assert(winGot.exists(s => s.startsWith("2024-01-01 00:00:00") &&
          s.contains("|a|") && s.endsWith("|2|5.0")),
          s"$provider: window [00:00) lost restored 'a' rows: $winGot")
        assert(winGot.exists(s => s.startsWith("2024-01-01 00:00:00") &&
          s.contains("|b|") && s.endsWith("|2|10.0")),
          s"$provider: cross-restart 'b' count wrong: $winGot")
        assert(winGot.exists(s => s.startsWith("2024-01-01 00:10:00") &&
          s.contains("|c|") && s.endsWith("|1|3.0")),
          s"$provider: window [00:10) lost restored 'c' row: $winGot")
        (dedupGot, winGot)
      } finally {
        org.apache.spark.sql.GraftStateStoreBridge.unloadAllStateStores()
        spark.streams.resetTerminated()
      }
    }
    saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    // provider equivalence: same recovered answers from both stores
    assert(results(0) === results(1),
      "heap and rocksdb recovered to different results")
  }

  test("stateStoreAdvisor reproduces the measured StateScale outcomes") {
    import graft.streaming.EventStreams.stateStoreAdvisor
    val gb = 1L << 30
    // the measured-good points: heap completed AND was 2.2-2.6x faster
    assert(stateStoreAdvisor(6000000L, 12 * gb) === "heap")   // 1.9 GB/12 GB
    assert(stateStoreAdvisor(20000000L, 12 * gb) === "heap")  // 3.9 GB/12 GB
    // the measured-fatal point: 40M keys in a 6 GB JVM OOM-killed the
    // executor; the advisor must flip well before it
    assert(stateStoreAdvisor(40000000L, 6 * gb) === "rocksdb")
    // 20M keys in 6 GB measured good (65% resident) but sits past the
    // 60% headroom line - the advisor is deliberately conservative there
    assert(stateStoreAdvisor(20000000L, 6 * gb) === "rocksdb")
    // boundary arithmetic: exactly at the fraction stays on heap
    val heap = 10 * gb
    val atLine = (heap * 0.6).toLong / 200L
    assert(stateStoreAdvisor(atLine, heap) === "heap")
    assert(stateStoreAdvisor(atLine + gb / 200L, heap) === "rocksdb")
    intercept[IllegalArgumentException](stateStoreAdvisor(-1L, heap))
    // wide aggregation state: the same key count that reads "heap" under
    // the small-key default flips to "rocksdb" once the caller declares a
    // real payload (r17 advisor: a constant 200 B/key could answer "heap"
    // into the measured OOM regime for wide state rows)
    assert(stateStoreAdvisor(6000000L, 6 * gb) === "heap")
    assert(stateStoreAdvisor(6000000L, 6 * gb, bytesPerKey = 2000L)
      === "rocksdb")
    // bytesPerKey is overhead + payload: below the measured overhead it
    // understates every provider and must be rejected
    intercept[IllegalArgumentException](
      stateStoreAdvisor(1000L, heap, bytesPerKey = 8L))
  }
}
