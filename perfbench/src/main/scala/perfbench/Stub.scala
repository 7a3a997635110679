package perfbench

import java.io.OutputStream
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentSkipListMap, ExecutorService, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** Local HTTP stand-ins for the two services the pipeline talks to: the
  * Bangumi collections API (read) and the Notion database API (write).
  *
  * Runs in its own JVM so the program's JVM measures only the program.
  * Bangumi pages are rendered once per published generation; the Notion
  * `query` cursor walks a sorted map of pages. Requests, failures and the
  * time spent inside handlers are counted here, on the service side.
  *
  * Benchmark control lives under `/_bench/`: publish a corpus generation,
  * save/restore both services' state, read counters, and check the Notion
  * pages against the corpus.
  *
  * Usage: `perfbench.Stub <items.jsonl> <seed> <items> <threads> <port-file>`
  * (start with `-Dsun.net.httpserver.nodelay=true`).
  */
object Stub {
  private val mapper = new ObjectMapper()
  val PageSize = 100

  final class Page(val id: String, val key: Long, var props: ObjectNode,
      var active: Boolean)

  final class Counters {
    val bangumiProbes, bangumiPages, notionQueries, notionInserts,
      notionPatches, notionUseful, notionOther, failed, retries,
      busyNanos = new AtomicLong()
    def bangumi: Long = bangumiProbes.get + bangumiPages.get
    def notion: Long = notionQueries.get + notionInserts.get +
      notionPatches.get + notionOther.get
    def json: String =
      s"""{"bangumi_requests":$bangumi,"bangumi_probes":${bangumiProbes.get},""" +
        s""""bangumi_pages":${bangumiPages.get},"notion_requests":$notion,""" +
        s""""notion_queries":${notionQueries.get},"notion_inserts":${notionInserts.get},""" +
        s""""notion_patches":${notionPatches.get},"notion_useful_writes":${notionUseful.get},""" +
        s""""failed":${failed.get},"retries":${retries.get},""" +
        s""""busy_s":${busyNanos.get / 1e9}}"""
  }

  /** Both services' state; every mutation of the corpus goes through one
    * lock, page writes lock their page. */
  final class State(val corpus: Corpus) {
    val counters = new Counters
    /** Item JSON per category in id order, and its pre-rendered pages. */
    @volatile var byCategory: Map[(Int, Int), Array[String]] = Map.empty
    @volatile var rendered: Map[(Int, Int), Array[Array[Byte]]] = Map.empty
    val pages = new ConcurrentSkipListMap[String, Page]()
    val seq = new AtomicLong()
    private var savedCorpus: Option[Corpus.State] = None
    private var savedPages: Seq[(String, Long, ObjectNode, Boolean)] = Nil
    private var savedSeq = 0L
    private val failedSigs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

    /** Render every category's pages for the current generation. */
    def publish(): Unit = synchronized {
      val byCat = corpus.current.groupBy(i => (i.subjectType, i.collectionType))
      byCategory = byCat.map { case (k, v) =>
        k -> v.toArray.sortBy(_.id).map(i => Corpus.render(i.node)) }
      rendered = byCategory.map { case (k, rows) =>
        k -> rows.grouped(PageSize).zipWithIndex.map { case (g, p) =>
          body(g, rows.length, PageSize, p.toLong * PageSize)
        }.toArray
      }
    }

    def body(rows: Seq[String], total: Int, limit: Int, offset: Long): Array[Byte] =
      rows.mkString("{\"data\":[", ",", s"""],"total":$total,"limit":$limit,"offset":$offset}""")
        .getBytes(UTF_8)

    def save(): Unit = synchronized {
      savedCorpus = Some(corpus.snapshot())
      savedPages = pages.values.asScala.map(p => (p.id, p.key, p.props.deepCopy(), p.active)).toSeq
      savedSeq = seq.get
    }

    def restore(): Unit = synchronized {
      savedCorpus.foreach(corpus.restore)
      pages.clear()
      savedPages.foreach { case (id, k, pr, a) => pages.put(id, new Page(id, k, pr.deepCopy(), a)) }
      seq.set(savedSeq)
      publish()
    }

    def noteFailure(sig: String): Unit = { counters.failed.incrementAndGet(); failedSigs.add(sig) }
    def noteRequest(sig: String): Unit =
      if (!failedSigs.isEmpty && failedSigs.remove(sig)) counters.retries.incrementAndGet()
  }

  /** Serves `state` on an ephemeral localhost port with `threads` handler
    * threads; stop with `server.stop(0)` and shut the executor down. */
  def serve(state: State, threads: Int): (HttpServer, ExecutorService) = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 512)
    val pool = Executors.newFixedThreadPool(threads)
    server.setExecutor(pool)
    server.createContext("/", (ex: HttpExchange) => handle(state, ex))
    server.start()
    (server, pool)
  }

  def main(args: Array[String]): Unit = {
    val Array(fixture, seed, items, threads, portFile) = args
    val state = new State(new Corpus(Corpus.template(fixture), seed.toLong))
    state.corpus.base(items.toInt)
    state.publish()
    val (server, pool) = serve(state, threads.toInt)
    val tmp = Paths.get(portFile + ".tmp")
    Files.write(tmp, server.getAddress.getPort.toString.getBytes(UTF_8))
    Files.move(tmp, Paths.get(portFile), StandardCopyOption.ATOMIC_MOVE)
    // run until the benchmark closes our stdin (or kills us)
    while (System.in.read() >= 0) {}
    server.stop(0)
    pool.shutdownNow()
    System.exit(0)
  }

  private def query(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split("&")).flatMap { kv =>
      kv.split("=", 2) match {
        case Array(k, v) => Some(k -> URLDecoder.decode(v, UTF_8))
        case _ => None
      }
    }.toMap

  private def send(ex: HttpExchange, code: Int, bytes: Array[Byte]): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    val out: OutputStream = ex.getResponseBody
    out.write(bytes)
    out.close()
  }

  private def sendJson(ex: HttpExchange, code: Int, s: String): Unit = send(ex, code, s.getBytes(UTF_8))

  def handle(st: State, ex: HttpExchange): Unit = {
    val t0 = System.nanoTime()
    val path = ex.getRequestURI.getPath
    val method = ex.getRequestMethod
    val bodyBytes = ex.getRequestBody.readAllBytes()
    val control = path.startsWith("/_bench/")
    val sig = s"$method ${ex.getRequestURI} ${java.util.Arrays.hashCode(bodyBytes)}"
    if (!control) st.noteRequest(sig)
    try {
      if (control) controlRoute(st, ex, path, method)
      else if (path.startsWith("/v0/users/")) bangumi(st, ex)
      else if (path.startsWith("/v1/")) notion(st, ex, path, method, bodyBytes)
      else sendJson(ex, 404, """{"error":"not found"}""")
    } catch {
      case e: Exception =>
        try sendJson(ex, 500, mapper.writeValueAsString(Map("error" -> e.toString).asJava))
        catch { case _: Exception => }
    } finally {
      ex.close()
      if (!control) {
        if (ex.getResponseCode / 100 != 2) st.noteFailure(sig)
        st.counters.busyNanos.addAndGet(System.nanoTime() - t0)
      }
    }
  }

  private def bangumi(st: State, ex: HttpExchange): Unit = {
    val q = query(ex)
    val cat = (q("subject_type").toInt, q("type").toInt)
    val limit = q.getOrElse("limit", "30").toInt
    val offset = q.getOrElse("offset", "0").toLong
    val rows = st.byCategory.getOrElse(cat, Array.empty[String])
    if (limit == 1 && offset == 0) st.counters.bangumiProbes.incrementAndGet()
    else st.counters.bangumiPages.incrementAndGet()
    val pre = st.rendered.getOrElse(cat, Array.empty[Array[Byte]])
    if (limit == PageSize && offset % PageSize == 0 && offset / PageSize < pre.length)
      send(ex, 200, pre((offset / PageSize).toInt))
    else {
      val slice = rows.slice(offset.toInt, (offset + limit).toInt)
      send(ex, 200, st.body(slice.toSeq, rows.length, limit, offset))
    }
  }

  private def pageJson(p: Page): String = {
    val props = mapper.writeValueAsString(p.props)
    val sep = if (p.props.size() == 0) "" else ","
    s"""{"object":"page","id":"${p.id}","properties":${props.dropRight(1)}$sep"is_active":{"checkbox":${p.active}}}}"""
  }

  private def keyOf(props: JsonNode): Long = {
    val t = props.path("subject_id").path("title")
    if (t.isArray && t.size() > 0) t.get(0).path("text").path("content").asText("").toLongOption.getOrElse(-1L)
    else -1L
  }

  private def notion(st: State, ex: HttpExchange, path: String, method: String,
      body: Array[Byte]): Unit = {
    val c = st.counters
    val req = if (body.isEmpty) mapper.createObjectNode() else mapper.readTree(body)
    (method, path) match {
      case ("POST", "/v1/databases") =>
        c.notionOther.incrementAndGet()
        sendJson(ex, 200, """{"object":"database","id":"db-bench"}""")
      case ("POST", p) if p.startsWith("/v1/databases/") && p.endsWith("/query") =>
        c.notionQueries.incrementAndGet()
        val size = math.max(1, math.min(100, req.path("page_size").asInt(100)))
        val cursor = req.path("start_cursor").asText("")
        val it = (if (cursor.isEmpty) st.pages else st.pages.tailMap(cursor, false))
          .values().iterator()
        val out = new java.lang.StringBuilder("""{"object":"list","results":[""")
        var n = 0
        var last = ""
        while (n < size && it.hasNext) {
          val pg = it.next()
          if (n > 0) out.append(',')
          pg.synchronized(out.append(pageJson(pg)))
          last = pg.id; n += 1
        }
        val more = it.hasNext
        out.append(s"""],"has_more":$more,"next_cursor":${if (more) "\"" + last + "\"" else "null"}}""")
        sendJson(ex, 200, out.toString)
      case ("POST", "/v1/pages") =>
        if (req.path("parent").has("workspace")) {
          c.notionOther.incrementAndGet()
          sendJson(ex, 200, """{"object":"page","id":"parent-bench"}""")
        } else {
          c.notionInserts.incrementAndGet()
          c.notionUseful.incrementAndGet()
          val props = req.path("properties") match {
            case o: ObjectNode => o
            case _ => mapper.createObjectNode()
          }
          val active = !props.has("is_active") || props.path("is_active").path("checkbox").asBoolean(true)
          props.remove("is_active")
          val id = f"p${st.seq.incrementAndGet()}%010d"
          st.pages.put(id, new Page(id, keyOf(props), props, active))
          sendJson(ex, 200, s"""{"object":"page","id":"$id"}""")
        }
      case ("PATCH", p) if p.startsWith("/v1/pages/") =>
        c.notionPatches.incrementAndGet()
        val id = p.stripPrefix("/v1/pages/")
        val pg = st.pages.get(id)
        if (pg == null) sendJson(ex, 404, s"""{"object":"error","message":"no page $id"}""")
        else {
          val changed = pg.synchronized {
            var ch = false
            req.path("properties").fields().asScala.foreach { e =>
              if (e.getKey == "is_active") {
                val a = e.getValue.path("checkbox").asBoolean(true)
                if (a != pg.active) { pg.active = a; ch = true }
              } else if (pg.props.get(e.getKey) != e.getValue) {
                pg.props.set[JsonNode](e.getKey, e.getValue); ch = true
              }
            }
            ch
          }
          if (changed) c.notionUseful.incrementAndGet()
          sendJson(ex, 200, s"""{"object":"page","id":"$id"}""")
        }
      case _ =>
        sendJson(ex, 404, """{"object":"error","message":"unknown route"}""")
    }
  }

  private def controlRoute(st: State, ex: HttpExchange, path: String, method: String): Unit = {
    val q = query(ex)
    path match {
      case "/_bench/corpus/base" =>
        st.synchronized { st.corpus.base(q("items").toInt); st.publish() }
        sendJson(ex, 200, s"""{"in_grid":${st.corpus.inGridCount}}""")
      case "/_bench/corpus/delta" =>
        val d = st.synchronized { val d = st.corpus.applyDelta(q("salt").toLong); st.publish(); d }
        sendJson(ex, 200, s"""{"in_grid":${st.corpus.inGridCount},"updated":${d.updated},""" +
          s""""removed":${d.removed},"added":${d.added},"re_added":${d.reAdded},"changed":${d.changed}}""")
      case "/_bench/corpus/remove" =>
        // the state a correct sync of the removal leaves: pages inactive
        val gone = st.synchronized {
          val g = st.corpus.removeSome(q("salt").toLong).toSet
          st.pages.values.asScala.filter(p => g(p.key)).foreach(p => p.synchronized(p.active = false))
          st.publish(); g.toSeq.sorted
        }
        sendJson(ex, 200, gone.mkString("{\"removed\":[", ",", "]}"))
      case "/_bench/save" => st.save(); sendJson(ex, 200, "{}")
      case "/_bench/restore" => st.restore(); sendJson(ex, 200, "{}")
      case "/_bench/counters" => sendJson(ex, 200, st.counters.json)
      case "/_bench/expect" =>
        sendJson(ex, 200, st.synchronized(Check.expectJson(st.corpus)))
      case "/_bench/check" =>
        sendJson(ex, 200, st.synchronized(Check.notionJson(st.corpus, st.pages.values.asScala)))
      case _ => sendJson(ex, 404, """{"error":"unknown control route"}""")
    }
  }
}
