package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.HttpNotionApi
import graft.sources.bangumi.HttpBangumiClient

/** The stub's wire contract, driven by the program's own HTTP clients. */
class StubSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val state = new Stub.State(
    new Corpus(Corpus.template("../src/main/resources/bangumi/items.jsonl"), 7L))
  state.corpus.base(1200)
  state.publish()
  private val (server, pool) = Stub.serve(state, 2)
  private val base = s"http://127.0.0.1:${server.getAddress.getPort}"
  private val mapper = new ObjectMapper()
  private val http = HttpClient.newHttpClient()

  override def afterAll(): Unit = { server.stop(0); pool.shutdownNow() }

  private def post(path: String, body: String): String =
    http.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString()).body()

  test("bangumi paging: probe totals and pages reproduce each category in id order") {
    val client = new HttpBangumiClient(base, "bench")
    for (st <- Corpus.SubjectTypes; ct <- Corpus.CollectionTypes) {
      val want = state.corpus.inGrid.filter(i => i.subjectType == st && i.collectionType == ct)
        .map(_.id).toSeq.sorted
      assert(client.fetchTotal(st, ct) == want.size)
      val got = Iterator.from(0).map(p => client.fetchPage(st, ct, p * 100L, 100))
        .takeWhile(_.nonEmpty).flatten
        .map(j => mapper.readTree(j).get("subject_id").asLong).toSeq
      assert(got == want)
      // an odd page size is rendered on demand with the same rows
      assert(client.fetchPage(st, ct, 3, 7).map(j => mapper.readTree(j).get("subject_id").asLong) ==
        want.slice(3, 10))
      assert(client.fetchPage(st, ct, want.size.toLong, 100).isEmpty)
    }
  }

  test("notion cursor pages through every page exactly once") {
    val types = Map("subject_id" -> "title", "score" -> "number", "is_active" -> "checkbox")
    val api = new HttpNotionApi(base, "t", "parent", types, Some("db-bench"))
    (1 to 250).foreach(k => api.insert(k.toLong, Map("subject_id" -> k.toString, "score" -> "5")))
    assert(api.existingRecords().keySet == (1 to 250).map(_.toLong).toSet)
    val first = mapper.readTree(post("/v1/databases/db-bench/query", """{"page_size":100}"""))
    assert(first.get("results").size == 100 && first.get("has_more").asBoolean)
    var cursor = first.get("next_cursor").asText
    var seen = first.get("results").elements().asScala.map(_.get("id").asText).toSeq
    var more = true
    while (more) {
      val page = mapper.readTree(post("/v1/databases/db-bench/query",
        s"""{"page_size":100,"start_cursor":"$cursor"}"""))
      seen ++= page.get("results").elements().asScala.map(_.get("id").asText)
      more = page.get("has_more").asBoolean
      cursor = page.path("next_cursor").asText(null)
    }
    assert(seen.size == 250 && seen.distinct.size == 250 && cursor == null)
  }

  test("writes that change nothing are counted as not useful") {
    val types = Map("subject_id" -> "title", "score" -> "number", "is_active" -> "checkbox")
    val api = new HttpNotionApi(base, "t", "parent", types, Some("db-bench"))
    api.insert(9001L, Map("subject_id" -> "9001", "score" -> "5"))
    val page = api.existingRecords()(9001L)
    val useful0 = state.counters.notionUseful.get
    api.update(page, Map("subject_id" -> "9001", "score" -> "5"))
    assert(state.counters.notionUseful.get == useful0)
    api.update(page, Map("subject_id" -> "9001", "score" -> "6"))
    assert(state.counters.notionUseful.get == useful0 + 1)
    api.softDelete(page)
    api.softDelete(page)
    assert(state.counters.notionUseful.get == useful0 + 2)
    assert(!state.pages.get(page).active)
  }

  test("unknown pages fail and are counted") {
    val failed0 = state.counters.failed.get
    val api = new HttpNotionApi(base, "t", "parent", Map.empty, Some("db-bench"))
    assertThrows[RuntimeException](api.softDelete("p-missing"))
    assert(state.counters.failed.get == failed0 + 1)
  }
}
