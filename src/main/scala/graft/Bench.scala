package graft
import org.apache.spark.sql.SparkSession
import graft.operators.Checkpoints
object Bench {

  /** One JVM health sample (r18, verdict task 1: make the in-suite
    * numbers diagnosable from the JSON alone). Code-heap pools are the
    * segmented JDK 17 names; the pre-segmentation "Code Cache" name is
    * the fallback. All counters are cumulative-monotone except
    * code_used, which can shrink under UseCodeCacheFlushing — exactly
    * the churn the probe exists to catch. */
  private def jvmSample(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    import java.lang.management.ManagementFactory
    val code = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
      p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
    Map(
      "code_used" -> code.map(_.getUsage.getUsed).sum,
      "code_max" -> code.map(_.getUsage.getMax).sum,
      "comp_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "classes" -> ManagementFactory.getClassLoadingMXBean.getLoadedClassCount.toLong,
      "unloaded" -> ManagementFactory.getClassLoadingMXBean.getUnloadedClassCount,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).sum)
  }

  /** Current commit (short sha) read straight from .git — the solo
    * adjudication record must carry provenance without assuming a git
    * binary on PATH. */
  private def gitSha(): String = {
    import java.nio.file.{Files, Paths}
    // r19 (ADVICE): a dirty working tree must not stamp the clean sha —
    // the r18 "after" solo rows were measured on an uncommitted tree and
    // the record misattributed them to the pre-change commit. Best-effort
    // `git status --porcelain`; if git is absent the sha stands alone.
    val dirty =
      try {
        val p = new ProcessBuilder("git", "status", "--porcelain")
          .redirectErrorStream(true).start()
        val out = new String(p.getInputStream.readAllBytes, "UTF-8")
        if (p.waitFor() == 0 && out.trim.nonEmpty) "-dirty" else ""
      } catch { case _: Exception => "" }
    try {
      val head = new String(Files.readAllBytes(Paths.get(".git/HEAD")),
        "UTF-8").trim
      if (!head.startsWith("ref: ")) head.take(12) + dirty
      else {
        val ref = head.drop(5)
        val f = Paths.get(".git/" + ref)
        if (Files.exists(f))
          new String(Files.readAllBytes(f), "UTF-8").trim.take(12) + dirty
        else {
          val packed = Paths.get(".git/packed-refs")
          if (!Files.exists(packed)) "unknown"
          else new String(Files.readAllBytes(packed), "UTF-8")
            .linesIterator.find(_.endsWith(ref))
            .map(_.split(" ")(0).take(12) + dirty).getOrElse("unknown")
        }
      }
    } catch { case _: Exception => "unknown" }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = GraftSession.cpus
    val spark = GraftSession.builder(cpus)
      // r19 (verdict item 2, measured): the in-suite inflation mechanism
      // is codegen-cache thrash, not code-cache flushing. Spark's
      // generated-class cache (StaticSQLConf spark.sql.codegen.cache
      // .maxEntries) holds 100 entries; the 221-lane suite generates
      // thousands, so by the time a lane's TIMED runs start, its own
      // warm-pass entries are long evicted and every run re-Janino-
      // compiles + re-JITs its whole-stage code inside the timed region
      // (bench_out.json jvm series: 7-12 s of comp_ms on exactly the
      // lanes whose in-suite/solo ratio is 1.4-1.7x; solo runs - under
      // 100 entries - never thrash, which is why they were faster).
      // Raising the cache makes the warm pass do what it was always
      // meant to do. Measurement fidelity only: no data or results are
      // cached, and single-lane (solo/driver-regression) runs are
      // unaffected. Env-overridable for A/B (SPARK_GRAFT_CODEGEN_CACHE).
      .config("spark.sql.codegen.cache.maxEntries",
        sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8000"))
      .getOrCreate()
    // Warm the file listing / parquet reader / codegen paths once per table
    // so per-query numbers measure the query, not first-touch JVM costs.
    Tables.names.foreach { t =>
      try Tables.load(spark, sfDir, t).count()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] warm-up load of $t failed: $e")
      }
    }
    // Optional comma-separated query filter for local iteration; the driver
    // never sets it, so its runs always cover the full suite.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // noop sink: materializes every output column (count() would let
    // Catalyst prune the projections and under-measure).
    val suite = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    def once(name: String,
             fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        return -1.0 // failures are sentineled, never fast successes
      }
      (System.nanoTime() - t0) / 1e9
    }
    // Full-suite WARM pass, unmeasured: min-of-2 alone was not enough —
    // rounds 2-3 showed 3-14× per-query inflation when both timed runs
    // execute before the JVM/codegen state from 50+ other queries settles
    // (C2 compilation storms, code-cache churn). One throwaway sweep lets
    // classloading + JIT reach steady state before any clock starts.
    suite.foreach { case (name, fn) => once(name, fn); Checkpoints.quiesce(spark) }
    // Timed: each query runs twice, report the min; raw pairs are kept so
    // residual inflation is diagnosable from the JSON alone. A JVM probe
    // after every lane's quiesce turns "late lanes read slow" from a
    // suspicion into a curve: if code_used saturates code_max mid-suite,
    // the JIT is flushing hot methods and re-running lanes interpreted /
    // re-warming (the r17 verdict's prime suspect for the 5× in-suite
    // swings); if comp_ms keeps climbing linearly, compilation churn is
    // stealing the measured wall clock directly.
    val jvmSeries = scala.collection.mutable.ArrayBuffer[(String, Map[String, Long])]()
    jvmSeries += (("_start", jvmSample()))
    val timed = suite.map { case (name, fn) =>
      val a = once(name, fn)
      val b = if (a >= 0) once(name, fn) else -1.0
      Checkpoints.quiesce(spark)
      jvmSeries += ((name, jvmSample()))
      (name, a, b)
    }
    val results = timed.map { case (name, a, b) =>
      name -> (if (a >= 0 && b >= 0) math.min(a, b) else -1.0)
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val raw = timed.map { case (k, a, b) => s"\"" + k + s"\":[$a,$b]" }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // Drift calibration (r17, verdict task 6): two consecutive rounds
    // spent judge+builder effort re-adjudicating host drift (r15 q85,
    // r16's fleet-wide 1.27×). qb38 is the frozen reference — its lane
    // body and the source it drives have been untouched since r12 — so
    // any round-over-round movement in THIS number is the host, not the
    // code. Protocol (documented in OPERATORS.md bench provenance):
    // compare rounds as calibration-normalized ratios
    // (t_lane/cal_now) / (t_lane_prev/cal_prev); only residual movement
    // after normalization is attributable to the diff.
    val calLane = "qb38_bangumi_source"
    val cal = results.getOrElse(calLane, -1.0)
    val calJson = s""""calibration":{"lane":"$calLane","sec":$cal}"""
    // Summary line FIRST (the driver's tail capture truncated r4's single
    // giant line), raw pairs second, and the full record ALSO written to
    // bench_out.json so the numbers survive any capture window.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec",$calJson,"queries":$qs,"sf":"$sfDir"}"""
    println(summary)
    println(s"""{"metric":"raw_pairs","raw":$raw}""")
    // Compact per-decade rollup printed LAST: the driver's capture window
    // keeps only the final ~2000 chars, which truncated r13's full
    // per-query map to the last ~41 lanes — this line is small enough to
    // always survive whole, so round-over-round comparison covers every
    // lane without bench_out.json archaeology. Decade = lane number
    // rounded down to 10 within its prefix (q110..q119 → "q110",
    // qb34..qb38 → "qb30"); values are per-decade SUMS of the min-of-2
    // seconds, 3dp. Its own metric name ("decade_totals", not a second
    // "total") so a parser keyed on metric=="total" sees exactly one
    // line; Locale.ROOT so a comma-decimal default locale can't emit
    // invalid JSON.
    val decade = "([a-z]+)([0-9]+).*".r
    val decades = results.toSeq
      .filter(_._2 >= 0)
      .groupBy { case (name, _) =>
        name match {
          case decade(p, n) => p + (n.toInt / 10 * 10).toString
          case _ => "other"
        }
      }
      .map { case (k, vs) => k -> vs.map(_._2).sum }
      .toSeq.sortBy(_._1)
      .map { case (k, v) =>
        "\"" + k + "\":" + String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
      }
      .mkString("{", ",", "}")
    val nFail = results.values.count(_ < 0)
    println(
      s"""{"metric":"decade_totals","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":$nFail,$calJson,"decade_totals":$decades,"sf":"$sfDir"}""")
    // JVM probe rollup (small enough to always survive the driver's
    // capture window): is the code cache saturating, and how much wall
    // clock went to JIT compilation / GC across the suite? The full
    // per-lane series lands in bench_out.json's "jvm" key.
    val jvmEnd = jvmSeries.last._2
    val codePeak = jvmSeries.map(_._2("code_used")).max
    val codeMax = jvmEnd("code_max")
    val jvmStart = jvmSeries.head._2
    println(s"""{"metric":"jvm_probe","code_used_peak_mb":${codePeak >> 20},""" +
      s""""code_reserved_mb":${codeMax >> 20},""" +
      s""""code_used_end_mb":${jvmEnd("code_used") >> 20},""" +
      s""""comp_ms":${jvmEnd("comp_ms") - jvmStart("comp_ms")},""" +
      s""""gc_ms":${jvmEnd("gc_ms") - jvmStart("gc_ms")},""" +
      s""""classes_end":${jvmEnd("classes")},""" +
      s""""classes_unloaded":${jvmEnd("unloaded") - jvmStart("unloaded")}}""")
    val jvmJson = jvmSeries.map { case (name, m) =>
      s"""{"lane":"$name","code_used":${m("code_used")},"comp_ms":${m("comp_ms")},""" +
        s""""classes":${m("classes")},"unloaded":${m("unloaded")},"gc_ms":${m("gc_ms")}}"""
    }.mkString("[", ",", "]")
    // Solo-adjudication record (r17 verdict task 7): two rounds of
    // judge+builder solo re-runs lived in /tmp and died with the host.
    // SPARK_GRAFT_SOLO_RECORD=<context note> appends this run's lanes
    // (normally narrowed via SPARK_GRAFT_ONLY) to a durable, committed
    // BENCH_SOLO.jsonl with provenance, so round-over-round perf claims
    // cite evidence that survives the sandbox.
    sys.env.get("SPARK_GRAFT_SOLO_RECORD").foreach { ctx =>
      val sha = gitSha()
      val lines = timed.map { case (name, a, b) =>
        val m = if (a >= 0 && b >= 0) math.min(a, b) else -1.0
        s"""{"lane":"$name","sec":$m,"raw":[$a,$b],"git_sha":"$sha",""" +
          s""""sf":"$sfDir","cpus":$cpus,"context":"$ctx"}"""
      }.mkString("", "\n", "\n")
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_SOLO.jsonl"), lines.getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case e: Exception =>
        System.err.println(s"[bench] could not append BENCH_SOLO.jsonl: ${e.getMessage}")
      }
    }
    // best-effort file record: never let a read-only cwd fail the run
    // AFTER the numbers were already printed
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"raw":$raw,"jvm":$jvmJson,"sf":"$sfDir"}\n"""
        .getBytes("UTF-8"))
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write $outPath: ${e.getMessage}")
    }
    spark.stop()
  }
}
