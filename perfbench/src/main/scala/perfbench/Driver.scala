package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.sql.DriverManager

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.bangumi.BangumiTransforms
import graft.functions.GraftFunctions
import graft.sinks.{HttpNotionApi, JdbcLoad, NotionSink, Workbook}
import graft.sources.bangumi.BangumiTableProvider

/** Drives the program through its public entry points for one benchmark
  * run, inside the program's JVM.
  *
  * Workloads:
  *  - `sync_delta`: set-up syncs the collection into empty JDBC and Notion
  *    targets and removes 0.5% of it; each timed pass restores that state
  *    and syncs a seeded delta;
  *  - `lanes_mix`: each timed pass runs 4 near-duplicate operator lanes
  *    into a noop sink.
  *
  * Untraced runs report the end-to-end figures. A traced run alternates
  * untraced and traced passes and reports per-layer figures from the traced
  * ones plus the tracing overhead. Prints one `PERFBENCH {json}` line.
  *
  * Arguments are `key=value`: workload, stub (the stub's port file), items,
  * seconds, trace, work, lanes (table directory for `lanes_mix`) and
  * launched (epoch ms at which the run started).
  */
object Driver {
  /** Near-duplicate lanes over the seeded tables, one per pair generator a
    * shared blocked-pair primitive would replace: grouped shingle postings
    * (q26), MinHash LSH bands (q28), SimHash Hamming blocks (q30) and SRP
    * buckets (q207), by family. */
  val Lanes: Seq[(String, String)] = Seq(
    "q26_jaccard_pairs" -> "dedup", "q28_minhash_lsh_pairs" -> "dedup",
    "q30_simhash_pairs" -> "dedup", "q207_srp_multiprobe_neardup" -> "similarity")

  val DerbyUrl = "jdbc:derby:memory:perfbench;create=true"
  val SourceTable = "bangumi_source"
  val TargetTable = "fact_view_logs"
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  final class Opts(args: Array[String]) {
    private val m = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k="))
    def get(k: String): Option[String] = m.get(k)
  }

  /** Benchmark-side calls to the stub's control routes. */
  final class StubControl(base: String) {
    def call(path: String, post: Boolean = true): JsonNode = {
      val b = HttpRequest.newBuilder(URI.create(base + path))
      val req = (if (post) b.POST(HttpRequest.BodyPublishers.noBody()) else b.GET()).build()
      val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
      require(resp.statusCode() == 200, s"stub $path: ${resp.statusCode()} ${resp.body()}")
      mapper.readTree(resp.body())
    }
    def counters(): JsonNode = call("/_bench/counters", post = false)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Heap and non-heap in use right after a full collection: the memory
    * the program keeps between passes. */
  private def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  private def rmTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)

  /** One timed pass: wall time and the per-layer figures it produced. */
  final case class Pass(traced: Boolean, wall: Double, cpu: Double, layers: Map[String, Double])

  /** Outcome tally: operations attempted and failed, and what failed. */
  final class Tally {
    var attempted = 0L
    var failed = 0L
    /** Failures that are the sink's known re-activation gap. */
    var known = 0L
    val problems = mutable.ArrayBuffer.empty[String]
    def fail(what: String, n: Long = 1): Unit = { failed += n; if (problems.size < 20) problems += what }
  }

  def main(args: Array[String]): Unit = {
    val o = new Opts(args)
    val workload = o("workload")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val work = Paths.get(o("work"))
    val launched = o("launched").toLong
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    // the stub starts alongside this JVM and publishes its port when ready
    val portFile = Paths.get(o("stub"))
    while (!Files.exists(portFile)) Thread.sleep(20)
    val stubUrl = s"http://127.0.0.1:${Files.readString(portFile).trim}"
    val stub = new StubControl(stubUrl)
    val probe = new Probe(() => stub.counters().path("busy_s").asDouble)
    if (traced) spark.sparkContext.addSparkListener(probe)
    val tracer = new Tracer(probe)
    val tally = new Tally
    val runner: Runner = workload match {
      case "sync_delta" =>
        new SyncRunner(spark, stubUrl, o("items").toInt, stub, tracer, tally, work)
      case "lanes_mix" => new LaneRunner(spark, o("lanes"), tracer, probe, tally, work)
      case other => sys.error(s"unknown workload $other")
    }
    def progress(what: String): Unit =
      System.err.println(f"[perfbench] ${(System.currentTimeMillis() - launched) / 1e3}%.2f s $what")
    progress("spark ready")
    runner.setup()
    // untimed passes until the JIT has compiled the hot paths; their outputs
    // are checked like the timed ones
    val warm = runner.warmPasses
    var i = 0
    while (i < warm) {
      runner.prepare(i)
      val (wall, _) = runner.pass(i, traced = false)
      runner.check(i)
      progress(f"warm pass $i took $wall%.2f s")
      i += 1
    }
    // the launcher evaluates the lanes' oracle meanwhile; keep it out of the
    // timed passes
    val oracleDone = work.resolve("lane-out").resolve("oracle.done")
    if (workload == "lanes_mix") while (!Files.exists(oracleDone)) Thread.sleep(20)
    val setupDone = System.currentTimeMillis()
    progress("set-up done")
    val passes = mutable.ArrayBuffer.empty[Pass]
    val preps = mutable.ArrayBuffer.empty[Double]
    var retained = 0.0
    val loopStart = System.nanoTime()
    def timeLeft: Boolean = (System.nanoTime() - loopStart) / 1e9 < seconds
    // traced runs alternate untraced and traced passes, so both medians come
    // from the same JVM and the ratio is the tracing overhead
    while (timeLeft || passes.count(!_.traced) < runner.minPasses ||
        (traced && passes.count(_.traced) < runner.minPasses)) {
      val tracedPass = traced && passes.size % 2 == 1
      retained = math.max(retained, retainedMb())
      val p0 = System.nanoTime()
      runner.prepare(i)
      preps += (System.nanoTime() - p0) / 1e9
      val mark = tracer.mark
      tracer.active = tracedPass
      val cpu0 = Probe.cpuSeconds()
      val (wall, layers) = tracer.span("pass")(runner.pass(i, tracedPass))
      val cpu = Probe.cpuSeconds() - cpu0
      val whole = if (!tracedPass) Map.empty[String, Double]
        else Probe.Keys.map(k => k -> tracer.delta("pass", k, mark)).toMap
      tracer.active = false
      passes += Pass(tracedPass, wall, cpu, layers ++ whole ++ runner.check(i))
      progress(f"pass $i took $wall%.2f s")
      i += 1
    }
    retained = math.max(retained, retainedMb())
    val plain = passes.filterNot(_.traced)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String, Int)]
    if (!traced) {
      val setup = (setupDone - launched) / 1e3 + median(preps.toSeq)
      metrics("setup_s") = (setup, "s", preps.size)
      // the fastest timed pass, as the suite bench's min-of-2: interference
      // from outside the program only ever adds time
      metrics("pass_s") = (plain.map(_.wall).min, "s", plain.size)
      metrics("retained_mb") = (retained, "MB", passes.size + 1)
    } else {
      val tp = passes.filter(_.traced).toSeq
      val units = runner.layerUnits ++ Probe.Units
      units.keys.toSeq.sorted.foreach { k =>
        metrics(k) = runner.setupLayers.get(k) match {
          case Some(v) => (v, units(k), 1)
          case None => (median(tp.map(_.layers.getOrElse(k, 0.0))), units(k), tp.size)
        }
      }
      metrics("jvm.peak_rss_mb") = (peakRssMb(), "MB", 1)
      metrics("trace.overhead") =
        (median(tp.map(_.wall)) / median(plain.map(_.wall).toSeq), "ratio", tp.size)
      Files.createDirectories(work.getParent.resolve("traces"))
      tracer.write(work.getParent.resolve("traces").resolve(s"$workload.jsonl"))
    }
    val mjson = metrics.map { case (k, (v, u, n)) =>
      s""""$k":{"value":$v,"unit":"$u","samples":$n}""" }.mkString("{", ",", "}")
    val problems = tally.problems.map(p => mapper.writeValueAsString(p)).mkString("[", ",", "]")
    val passJson = passes.map(p => s"""{"traced":${p.traced},"wall":${p.wall},"cpu":${p.cpu}}""")
      .mkString("[", ",", "]")
    println(s"""PERFBENCH {"workload":"$workload","attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"known":${tally.known},"problems":$problems,"passes":$passJson,"metrics":$mjson}""")
    // everything the run made lives in its work directory, which the
    // launcher deletes; skip Spark's orderly shutdown
    System.out.flush()
    Runtime.getRuntime.halt(0)
  }

  trait Runner {
    def layerUnits: Map[String, String]
    /** Untimed passes after set-up. */
    def warmPasses: Int
    /** Fewest untraced (and, in a traced run, traced) timed passes. */
    def minPasses: Int
    def setup(): Unit
    def prepare(i: Int): Unit
    /** Runs pass `i`; returns its wall seconds and per-layer figures. */
    def pass(i: Int, traced: Boolean): (Double, Map[String, Double])
    /** Checks pass `i`'s outputs outside the timed region. */
    def check(i: Int): Map[String, Double]
    /** Per-layer figures measured during set-up. */
    def setupLayers: Map[String, Double] = Map.empty
  }

  /** The Bangumi → JDBC → Notion → workbook sync. */
  final class SyncRunner(spark: SparkSession, stubUrl: String, items: Int,
      stub: StubControl, tracer: Tracer, tally: Tally, work: Path) extends Runner {

    // a sync's CPU time keeps falling over its first five or six passes
    // as the JIT catches up; above 20k items one sync outlasts that
    val warmPasses: Int = if (items > 20000) 0 else 3
    val minPasses = 3
    val layerUnits: Map[String, String] = Map(
      "sync_s" -> "s", "notion_requests" -> "count", "bangumi_requests" -> "count",
      "source.plan_s" -> "s", "source.read_s" -> "s", "source.requests" -> "count",
      "source.retries" -> "count", "source.rows" -> "count", "source.rows_missing" -> "count",
      "transform.s" -> "s", "transform.rows" -> "count",
      "jdbc.load_s" -> "s", "jdbc.sync_s" -> "s", "jdbc.rows_written" -> "count",
      "merge.useful_ratio" -> "ratio",
      "notion.readback_s" -> "s", "notion.write_s" -> "s",
      "notion.request_ms_p50" -> "ms", "notion.request_ms_p99" -> "ms",
      "notion.inserts" -> "count", "notion.updates" -> "count",
      "notion.soft_deletes" -> "count", "notion.errors" -> "count",
      "notion.useful_ratio" -> "ratio", "notion.stale_inactive" -> "count",
      "export.xlsx_s" -> "s", "export.csv_s" -> "s", "export.mb" -> "MB",
      "full_sync.cold_s" -> "s", "full_sync.merge.useful_ratio" -> "ratio",
      "full_sync.notion.useful_ratio" -> "ratio", "full_sync.notion.inserts" -> "count")

    private val conn = DriverManager.getConnection(DerbyUrl)
    private var dbId = ""
    private var types = Map.empty[String, String]
    private var lastChanged = 0L
    private var lastReport: NotionSink.WriteReport = _
    private var lastSourceRows = 0L
    private var lastQuality: Option[(Long, Long)] = None
    private var lastSummaryRows = 0L
    private var counters0: JsonNode = _

    private def sql(s: String): Unit = { val st = conn.createStatement(); try st.execute(s) finally st.close() }
    private def dropTables(): Unit = Seq(SourceTable, TargetTable).foreach { t =>
      try sql(s"DROP TABLE $t") catch { case _: java.sql.SQLException => }
    }
    private def out(i: Int): Path = work.resolve(s"out-$i")

    /** Figures of the first sync: a cold, full sync into empty targets. */
    private var fullSync = Map.empty[String, Double]
    override def setupLayers: Map[String, Double] = fullSync

    def setup(): Unit = {
      dropTables()
      val api = new HttpNotionApi(stubUrl, "bench-token", "", Map.empty)
      val parent = api.ensureParentPage(None, "Bangumi")
      // the 12 FIXTURES §2.4 properties (+ is_active for soft delete)
      types = Map("subject_id" -> "title", "subject_type" -> "number",
        "collection_type" -> "number", "name_cn" -> "rich_text", "score" -> "number",
        "rank" -> "number", "collection_total" -> "number", "created_at" -> "rich_text",
        "updated_at" -> "date", "eps" -> "number", "air_date" -> "rich_text",
        "all_tags" -> "rich_text", "is_active" -> "checkbox")
      val withParent = new HttpNotionApi(stubUrl, "bench-token", parent, types)
      withParent.ensureParentPage(Some(parent), "Bangumi")
      dbId = withParent.createDatabase("bangumi_collections", types)
      lastChanged = stub.call(s"/_bench/corpus/base?items=$items").path("in_grid").asLong
      counters0 = stub.counters()
      CountingDriver.reset()
      val w = sync(traced = false, -1)
      val full = check(-1)
      fullSync = Map("full_sync.cold_s" -> w) ++
        Seq("merge.useful_ratio", "notion.useful_ratio", "notion.inserts")
          .map(k => s"full_sync.$k" -> full(k))
      System.err.println(f"[perfbench] full sync into empty targets $w%.2f s")
      // preload: remove 0.5% of the collection in both targets, as a correct
      // sync of that removal would, so timed deltas can re-add them
      val gone = stub.call("/_bench/corpus/remove?salt=0").path("removed")
        .elements().asScala.map(_.asLong).toSeq
      sql(s"""DELETE FROM $TargetTable WHERE "subject_id" IN (${gone.mkString(",")})""")
      sql(s"CREATE TABLE saved_target AS SELECT * FROM $TargetTable WITH NO DATA")
      sql(s"INSERT INTO saved_target SELECT * FROM $TargetTable")
      stub.call("/_bench/save")
    }

    def prepare(i: Int): Unit = {
      stub.call("/_bench/restore")
      dropTables()
      sql(s"CREATE TABLE $TargetTable AS SELECT * FROM saved_target WITH NO DATA")
      sql(s"INSERT INTO $TargetTable SELECT * FROM saved_target")
      lastChanged = stub.call(s"/_bench/corpus/delta?salt=${i + 1}").path("changed").asLong
      counters0 = stub.counters()
      CountingDriver.reset()
      NotionTimings.reset()
    }

    /** The pipeline, from the source `load()` until the last sink returns. */
    private def sync(traced: Boolean, i: Int): Double = {
      val t0 = System.nanoTime()
      val src = spark.read.format(classOf[BangumiTableProvider].getName)
        .option("client", "http").option("baseUrl", stubUrl)
        .option("username", "bench").option("backoffMillis", "100")
        .load().select(col("value"))
      val parsed =
        if (!traced) {
          val p = BangumiTransforms.parseItems(src).persist(StorageLevel.MEMORY_AND_DISK)
          lastSourceRows = p.count()
          p
        } else {
          // materialize at the layer boundary so read and parse time apart
          val raw = tracer.span("source.plan")(src.persist(StorageLevel.MEMORY_AND_DISK))
          lastSourceRows = tracer.span("source.read")(raw.count())
          val p = tracer.span("transform") {
            val p = BangumiTransforms.parseItems(raw).persist(StorageLevel.MEMORY_AND_DISK)
            p.count(); p
          }
          raw.unpersist()
          p
        }
      val raw = BangumiTransforms.rawProjection(parsed, "bench")
      val analytics = BangumiTransforms.analyticsProjection(parsed)
      val (summary, quality) = tracer.span("transform") {
        val s = BangumiTransforms.categorySummary(analytics).collect()
        val q = BangumiTransforms.qualityMetrics(raw).head()
        (s, q)
      }
      lastSummaryRows = summary.map(_.getAs[Long]("fetched_items")).sum
      lastQuality = Some((quality.getAs[Long]("n_rows"), quality.getAs[Long]("n_dup_rows")))
      val fact = analytics.drop(JdbcLoad.analyticsDropCols: _*)
      tracer.span("jdbc.load")(JdbcLoad.writeOverwrite(fact, DerbyUrl, SourceTable,
        driver = CountingDriver.Name))
      tracer.span("jdbc.sync")(JdbcLoad.incrementalSync(spark, DerbyUrl, SourceTable,
        TargetTable, "subject_id", driver = CountingDriver.Name))
      val http = new HttpNotionApi(stubUrl, "bench-token", "", types, Some(dbId))
      val api = if (traced) new TimedNotionApi(http) else http
      lastReport = tracer.span("notion")(NotionSink.upsert(fact, "subject_id", api))
      Files.createDirectories(out(i))
      tracer.span("export.xlsx")(Workbook.writeXlsx(Seq(
        "raw" -> raw.withColumn("tags", to_json(col("tags"))),
        "analytics" -> analytics,
        "summary" -> BangumiTransforms.categorySummary(analytics)),
        out(i).resolve("bangumi.xlsx").toString))
      tracer.span("export.csv")(Workbook.writeCsvBom(analytics, out(i).resolve("csv").toString))
      parsed.unpersist()
      (System.nanoTime() - t0) / 1e9
    }

    def pass(i: Int, traced: Boolean): (Double, Map[String, Double]) = {
      val mark = tracer.mark
      val wall = sync(traced, i)
      if (!traced) (wall, Map.empty)
      else {
        val rb = NotionTimings.readbackNanos.get / 1e9
        (wall, Map(
          "sync_s" -> wall,
          "source.plan_s" -> tracer.seconds("source.plan", mark),
          "source.read_s" -> tracer.seconds("source.read", mark),
          "transform.s" -> tracer.seconds("transform", mark),
          "jdbc.load_s" -> tracer.seconds("jdbc.load", mark),
          "jdbc.sync_s" -> tracer.seconds("jdbc.sync", mark),
          "notion.readback_s" -> rb,
          "notion.write_s" -> (tracer.seconds("notion", mark) - rb),
          "notion.request_ms_p50" -> NotionTimings.quantileMs(0.5),
          "notion.request_ms_p99" -> NotionTimings.quantileMs(0.99),
          "export.xlsx_s" -> tracer.seconds("export.xlsx", mark),
          "export.csv_s" -> tracer.seconds("export.csv", mark)))
      }
    }

    private def targetDigest(): Check.Digest = {
      val st = conn.createStatement()
      try {
        val rs = st.executeQuery(s"SELECT * FROM $TargetTable")
        val md = rs.getMetaData
        val idx = (1 to md.getColumnCount).map(c => md.getColumnLabel(c).toLowerCase -> c).toMap
        def obj[T](c: String): T = rs.getObject(idx(c)).asInstanceOf[T]
        var d = Check.Empty
        while (rs.next()) {
          val id = rs.getLong(idx("subject_id"))
          d = d.add(id, Check.rowKey(id, rs.getInt(idx("subject_type")),
            rs.getInt(idx("collection_type")), obj[java.lang.Double]("score"),
            obj[java.lang.Integer]("rank"), obj[java.lang.Long]("collection_total"),
            obj[java.lang.Integer]("eps"), rs.getString(idx("name_cn"))))
        }
        d
      } finally st.close()
    }

    private def xlsxRows(path: Path): Map[String, Int] = {
      val zip = new java.util.zip.ZipFile(path.toFile)
      try {
        zip.entries().asScala.filter(_.getName.startsWith("xl/worksheets/sheet")).map { e =>
          val s = new String(zip.getInputStream(e).readAllBytes(), "UTF-8")
          e.getName -> "<row ".r.findAllMatchIn(s).size
        }.toMap
      } finally zip.close()
    }

    private def csvRows(dir: Path): Long =
      Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-"))
        .map(p => math.max(0, Files.readAllLines(p).size - 1).toLong).sum

    def check(i: Int): Map[String, Double] = {
      val c1 = stub.counters()
      def d(k: String): Long = c1.path(k).asLong - counters0.path(k).asLong
      val expect = stub.call("/_bench/expect", post = false)
      val notion = stub.call("/_bench/check", post = false)
      val n = expect.path("in_grid").asLong
      val exp = expect.path("jdbc")
      val got = targetDigest()
      val rep = lastReport
      val requests = d("bangumi_requests") + d("notion_requests")
      // rows the program sent to Derby: the source load and the target rewrite
      val loaded = CountingDriver.rows(SourceTable)
      val rewritten = CountingDriver.rows(TargetTable)
      tally.attempted += requests + loaded + rewritten
      tally.failed += d("failed")
      if (lastSourceRows != n) tally.fail(s"pass $i: source rows $lastSourceRows != $n")
      if (got.count != exp.path("count").asLong || got.keys != exp.path("keys").asLong ||
          got.rows != exp.path("rows").asLong)
        tally.fail(s"pass $i: JDBC target ${got.json} != expected $exp")
      if (notion.path("mismatch").asLong != 0)
        tally.fail(s"pass $i: notion state $notion", notion.path("mismatch").asLong)
      val stale = notion.path("stale_inactive").asLong
      if (stale > 0) {
        tally.fail(s"pass $i: $stale re-added keys left inactive in notion", stale)
        tally.known += stale
      }
      if (rep.errors > 0) tally.fail(s"pass $i: notion sink reported ${rep.errors} errors", rep.errors)
      if (lastSummaryRows != n || !lastQuality.contains((n, 0L)))
        tally.fail(s"pass $i: summary rows $lastSummaryRows, quality $lastQuality for $n items")
      val sheets = xlsxRows(out(i).resolve("bangumi.xlsx"))
      if (sheets.getOrElse("xl/worksheets/sheet1.xml", -1) != n + 1 ||
          sheets.getOrElse("xl/worksheets/sheet2.xml", -1) != n + 1)
        tally.fail(s"pass $i: sheet rows $sheets for $n items")
      val csv = csvRows(out(i).resolve("csv"))
      if (csv != n) tally.fail(s"pass $i: csv rows $csv != $n")
      val mb = Files.walk(out(i)).iterator().asScala.filter(Files.isRegularFile(_))
        .map(Files.size(_)).sum / 1e6
      rmTree(out(i))
      val writes = d("notion_inserts") + d("notion_patches")
      Map(
        "notion_requests" -> d("notion_requests").toDouble,
        "bangumi_requests" -> d("bangumi_requests").toDouble,
        "source.requests" -> d("bangumi_requests").toDouble,
        "source.retries" -> d("retries").toDouble,
        "source.rows" -> lastSourceRows.toDouble,
        "source.rows_missing" -> (n - lastSourceRows).toDouble,
        "transform.rows" -> lastSourceRows.toDouble,
        "jdbc.rows_written" -> (loaded + rewritten).toDouble,
        "merge.useful_ratio" -> (if (rewritten == 0) 0.0 else lastChanged.toDouble / rewritten),
        "notion.inserts" -> rep.inserted.toDouble, "notion.updates" -> rep.updated.toDouble,
        "notion.soft_deletes" -> rep.softDeleted.toDouble, "notion.errors" -> rep.errors.toDouble,
        "notion.useful_ratio" -> (if (writes == 0) 0.0 else d("notion_useful_writes").toDouble / writes),
        "notion.stale_inactive" -> stale.toDouble,
        "export.mb" -> mb)
    }
  }

  /** The operator-lane mix, each lane into a noop sink. */
  final class LaneRunner(spark: SparkSession, dir: String, tracer: Tracer,
      probe: Probe, tally: Tally, work: Path) extends Runner {

    private def short(n: String): String = n.takeWhile(_ != '_')

    // set-up already ran every lane once; a lane pass costs twice a sync
    val warmPasses = 1
    val minPasses = 2
    val layerUnits: Map[String, String] =
      (Seq("lanes_s", "dedup_lanes_s", "similarity_lanes_s").map(_ -> "s") ++
        Lanes.flatMap { case (n, _) =>
          Seq(s"lane.${short(n)}.s" -> "s", s"lane.${short(n)}.driver_s" -> "s",
            s"lane.${short(n)}.task_s" -> "s", s"lane.${short(n)}.shuffle_mb" -> "MB")
        }).toMap

    /** Drop what a lane leaves behind, outside the timed region, as the
      * suite bench does between lanes. */
    private def quiesce(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      graft.operators.Checkpoints.releaseTracked()
      org.apache.spark.sql.GraftStateStoreBridge.unloadAllStateStores()
      spark.streams.resetTerminated()
      System.gc()
    }

    /** Warm pass: every lane once, its output written for the oracle check. */
    def setup(): Unit = {
      val outDir = work.resolve("lane-out")
      Files.createDirectories(outDir)
      val sqls = Lanes.map { case (n, _) =>
        s"${mapper.writeValueAsString(n)}:${mapper.writeValueAsString(SparkEntry.oracleSql(n))}" }
      // the launcher evaluates the oracle as soon as this file appears
      val tmp = Files.writeString(outDir.resolve("oracle_sql.tmp"), sqls.mkString("{", ",", "}"))
      Files.move(tmp, outDir.resolve("oracle_sql.json"), StandardCopyOption.ATOMIC_MOVE)
      Lanes.foreach { case (n, _) =>
        tally.attempted += 1
        val t0 = System.nanoTime()
        try SparkEntry.queries(n)(spark, dir).write.mode("overwrite")
          .parquet(outDir.resolve(n).toString)
        catch { case e: Exception => tally.fail(s"lane $n failed: $e") }
        System.err.println(f"[perfbench] warm $n ${(System.nanoTime() - t0) / 1e9}%.2f s")
        quiesce()
      }
    }

    def prepare(i: Int): Unit = quiesce()

    def pass(i: Int, traced: Boolean): (Double, Map[String, Double]) = {
      val layers = mutable.Map.empty[String, Double].withDefaultValue(0.0)
      var total = 0.0
      Lanes.foreach { case (n, family) =>
        val s = short(n)
        val before = if (traced) probe.sample() else Map.empty[String, Double]
        val mark = tracer.mark
        tally.attempted += 1
        val t0 = System.nanoTime()
        try {
          if (!traced) SparkEntry.queries(n)(spark, dir).write.format("noop").mode("overwrite").save()
          else {
            // construct + plan apart from execution, as graft.LaneProfile splits them;
            // the write then plans again, so traced lanes read slower
            val df = tracer.span(s"lane.$s.driver") {
              val df = SparkEntry.queries(n)(spark, dir)
              df.queryExecution.executedPlan
              df
            }
            tracer.span(s"lane.$s.exec")(df.write.format("noop").mode("overwrite").save())
          }
        } catch { case e: Exception => tally.fail(s"lane $n failed: $e") }
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[perfbench] pass $i $n $wall%.2f s")
        total += wall
        if (traced) {
          Thread.sleep(100) // let the listener bus deliver the lane's task ends
          val after = probe.sample()
          layers(s"lane.$s.s") = wall
          layers(s"lane.$s.driver_s") = tracer.seconds(s"lane.$s.driver", mark)
          layers(s"lane.$s.task_s") = after("spark.task_s") - before("spark.task_s")
          layers(s"lane.$s.shuffle_mb") = after("spark.shuffle_mb") - before("spark.shuffle_mb")
          layers(s"${family}_lanes_s") += wall
        }
        quiesce()
      }
      if (traced) layers("lanes_s") = total
      (total, layers.toMap)
    }

    def check(i: Int): Map[String, Double] = Map.empty
  }
}
