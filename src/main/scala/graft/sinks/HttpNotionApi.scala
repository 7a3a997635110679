package graft.sinks

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.sinks.NotionSink.{ExistingPage, NotionApi}

/** Live-wire [[NotionSink.NotionApi]] over `java.net.http` — the production
  * transport behind the trait the sink already writes through (reference
  * `/root/reference/notion_data_ingestion.py`: `create_database` :83-133
  * POST `/v1/databases`; `get_existing_records` :135-203 cursor-paginated
  * POST `/v1/databases/{id}/query`; insert :379-386 POST `/v1/pages`;
  * `soft_delete_record` :205-244 PATCH `/v1/pages/{id}` with
  * `is_active: {checkbox: false}`; headers :39-44 Bearer token +
  * `Notion-Version: 2022-06-28`).
  *
  * Typed property JSON (`format_property` :246-290): the sink pre-formats
  * values to strings ([[NotionSink.formatProperties]]); this class re-wraps
  * each by its declared property type — `title`/`rich_text` as 2000-char
  * text runs, `number` as a bare JSON number, `checkbox` as a boolean,
  * `date` as `{date: {start: …}}`; `is_active` is always a checkbox.
  * [[existingPages]] reads each property back into that string form, so
  * the sink can skip rows whose page already holds them.
  *
  * Topology at scale: the instance that ships into `foreachPartition` is
  * just endpoint config (`@transient lazy` HttpClient — one keep-alive pool
  * per executor task, the reference's pooled-session analogue R5). Status
  * 429/5xx raise so the sink's existing `Retry.withBackoff` (R1) and per-row
  * isolation (R4) drive the retries; the API never retries internally to
  * avoid double-delay envelopes.
  */
class HttpNotionApi(
    baseUrl: String,
    token: String,
    parentPageId: String,
    propertyTypes: Map[String, String],
    existingDatabaseId: Option[String] = None,
    timeoutSeconds: Long = 30L) extends NotionApi {

  @transient private lazy val http: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofSeconds(timeoutSeconds))
    .build()

  @transient private lazy val mapper = new ObjectMapper()

  /** Set by [[createDatabase]] on the driver BEFORE the write runs, so the
    * per-task serialized copies all carry the resolved id. */
  @volatile private var databaseId: String =
    existingDatabaseId.getOrElse("")

  /** Resolved by [[ensureParentPage]] (reference step 1) when the ctor
    * param is empty; [[createDatabase]] parents the database under it. */
  @volatile private var resolvedParentId: String = parentPageId

  private def request(method: String, path: String, body: Option[JsonNode]): JsonNode = {
    val b = HttpRequest.newBuilder(URI.create(s"$baseUrl$path"))
      .timeout(Duration.ofSeconds(timeoutSeconds))
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
      .header("Notion-Version", "2022-06-28")
    val req = body match {
      case Some(j) => b.method(method,
        HttpRequest.BodyPublishers.ofString(mapper.writeValueAsString(j))).build()
      case None => b.method(method, HttpRequest.BodyPublishers.noBody()).build()
    }
    val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2)
      throw new RuntimeException(
        s"notion $method $path: HTTP ${resp.statusCode()} ${resp.body().take(200)}")
    mapper.readTree(resp.body())
  }

  /** One text run, truncated at the API's 2000-char content limit. */
  private def textRun(v: String): JsonNode = {
    val run = mapper.createObjectNode()
    run.set[JsonNode]("text",
      mapper.createObjectNode().put("content", v.take(2000)))
    mapper.createArrayNode().add(run)
  }

  /** Wrap a pre-formatted value string by its declared property type. */
  private def propertyJson(name: String, v: String): JsonNode = {
    val node = mapper.createObjectNode()
    val kind =
      if (name == "is_active") "checkbox" else propertyTypes.getOrElse(name, "rich_text")
    kind match {
      case "title" => node.set[JsonNode]("title", textRun(v))
      case "number" => node.put("number", new java.math.BigDecimal(v))
      case "checkbox" => node.put("checkbox", v.toBoolean)
      case "date" => node.set[JsonNode]("date",
        mapper.createObjectNode().put("start", v))
      case _ => node.set[JsonNode]("rich_text", textRun(v))
    }
    node
  }

  private def propertiesJson(properties: Map[String, String]): ObjectNode = {
    val props = mapper.createObjectNode()
    // stable field order (the API is order-insensitive; determinism helps
    // request-log diffing in tests)
    properties.toSeq.sortBy(_._1).foreach { case (k, v) =>
      props.set[JsonNode](k, propertyJson(k, v))
    }
    props
  }

  /** `create_page` (`notion_data_ingestion.py:48-80`): no-op when an id is
    * configured; otherwise POST a workspace-parented page whose single
    * `title` property carries `title`, and remember its id as the parent
    * for [[createDatabase]]. */
  override def ensureParentPage(existing: Option[String], title: String): String = {
    val id = existing.filter(_.nonEmpty).getOrElse {
      val body = mapper.createObjectNode()
      val parent = mapper.createObjectNode().put("type", "workspace")
      parent.put("workspace", true)
      body.set[JsonNode]("parent", parent)
      val props = mapper.createObjectNode()
      val t = mapper.createObjectNode()
      t.set[JsonNode]("title", textRun(title))
      props.set[JsonNode]("title", t)
      body.set[JsonNode]("properties", props)
      request("POST", "/v1/pages", Some(body)).get("id").asText()
    }
    resolvedParentId = id
    id
  }

  override def createDatabase(name: String, properties: Map[String, String]): String = {
    if (databaseId.nonEmpty) return databaseId // reference: skip if exists
    val body = mapper.createObjectNode()
    body.set[JsonNode]("parent", mapper.createObjectNode()
      .put("type", "page_id").put("page_id", resolvedParentId))
    val title = mapper.createObjectNode().put("type", "text")
    title.set[JsonNode]("text", mapper.createObjectNode().put("content", name))
    body.set[JsonNode]("title", mapper.createArrayNode().add(title))
    val props = mapper.createObjectNode()
    properties.toSeq.sortBy(_._1).foreach { case (k, t) =>
      props.set[JsonNode](k, mapper.createObjectNode()
        .set[JsonNode](t, mapper.createObjectNode()))
    }
    body.set[JsonNode]("properties", props)
    databaseId = request("POST", "/v1/databases", Some(body)).get("id").asText()
    databaseId
  }

  /** Inverse of [[propertyJson]]: a read-back property value in the
    * string form [[NotionSink.formatProperties]] emits; `None` when empty
    * or of a type the sink never writes. */
  private def propertyValue(p: JsonNode): Option[String] = {
    def text(runs: JsonNode): String =
      runs.elements().asScala.map(_.path("text").path("content").asText("")).mkString
    def present(n: JsonNode): Option[JsonNode] = Option(n).filterNot(_.isNull)
    present(p.get("title")).map(text)
      .orElse(present(p.get("rich_text")).map(text))
      .orElse(present(p.get("number")).map { n =>
        if (n.isIntegralNumber) n.asText() else NotionSink.numString(n.asDouble())
      })
      .orElse(present(p.get("checkbox")).map(_.asBoolean().toString))
      .orElse(present(p.path("date").get("start")).map(_.asText()))
  }

  override def existingRecords(): Map[Long, String] =
    existingPages().map { case (k, p) => k -> p.pageId }

  /** S5 read-back with page state: every property decoded by
    * [[propertyValue]], `is_active` (absent = active) as the flag. */
  override def existingPages(): Map[Long, ExistingPage] = {
    require(databaseId.nonEmpty, "createDatabase first (or pass an id)")
    // key lives in the title property's first text run (the reference
    // parses subject_id the same way); rows without one are skipped
    val titleName = propertyTypes.collectFirst {
      case (n, "title") => n
    }.getOrElse("subject_id")
    val out = Map.newBuilder[Long, ExistingPage]
    var cursor: Option[String] = None
    var hasMore = true
    while (hasMore) {
      val body = mapper.createObjectNode().put("page_size", 100)
      cursor.foreach(body.put("start_cursor", _))
      val page = request("POST", s"/v1/databases/$databaseId/query", Some(body))
      page.get("results").elements().asScala.foreach { pg =>
        val props = pg.get("properties")
        val title = props.path(titleName).path("title")
        if (title.isArray && title.size() > 0) {
          val content = title.get(0).path("text").path("content").asText("")
          content.toLongOption.foreach { k =>
            val values = Map.newBuilder[String, String]
            props.fields().forEachRemaining { e =>
              if (e.getKey != "is_active")
                propertyValue(e.getValue).foreach(v => values += e.getKey -> v)
            }
            val active = props.path("is_active").path("checkbox").asBoolean(true)
            out += k -> ExistingPage(pg.get("id").asText(), Some(values.result()), active)
          }
        }
      }
      hasMore = page.path("has_more").asBoolean(false)
      cursor = Option(page.get("next_cursor")).filter(!_.isNull).map(_.asText())
    }
    out.result()
  }

  override def insert(key: Long, properties: Map[String, String]): Unit = {
    val body = mapper.createObjectNode()
    body.set[JsonNode]("parent",
      mapper.createObjectNode().put("database_id", databaseId))
    body.set[JsonNode]("properties", propertiesJson(properties))
    request("POST", "/v1/pages", Some(body))
    ()
  }

  override def update(pageId: String, properties: Map[String, String]): Unit = {
    val body = mapper.createObjectNode()
    body.set[JsonNode]("properties", propertiesJson(properties))
    request("PATCH", s"/v1/pages/$pageId", Some(body))
    ()
  }

  override def softDelete(pageId: String): Unit = {
    val body = mapper.createObjectNode()
    val props = mapper.createObjectNode()
    props.set[JsonNode]("is_active",
      mapper.createObjectNode().put("checkbox", false))
    body.set[JsonNode]("properties", props)
    request("PATCH", s"/v1/pages/$pageId", Some(body))
    ()
  }
}
