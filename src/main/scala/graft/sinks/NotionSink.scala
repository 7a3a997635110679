package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator

import graft.sources.bangumi.{RateLimiter, Retry}

/** Property-typed key-value sink modeled on the Notion database API
  * (SURVEY §2.2 K4–K7, §2.9 I3–I4; reference
  * `/root/reference/notion_data_ingestion.py`).
  *
  * The reference's per-row HTTPS POST loop (`iterrows` + one request/row)
  * becomes `foreachPartition` with a pooled client per executor, batched
  * rate-limited writes, per-row error isolation (R4 — failed rows counted,
  * pipeline continues), and `LongAccumulator` success/error counters (A5).
  * The upsert decision (insert vs update vs skip vs soft delete) is made
  * distributively by one full outer join of the frame with the read-back
  * page snapshot (S5/J4/I3) instead of a driver-side dict, so a sync
  * writes only the pages whose properties or active flag change. The
  * snapshot itself is still built on the driver by `existingPages()`.
  */
object NotionSink {

  /** One read-back page: its id, its properties in the string form
    * [[formatProperties]] emits (`None`: state unknown) and its
    * `is_active` flag. */
  case class ExistingPage(pageId: String,
      properties: Option[Map[String, String]], active: Boolean)

  /** Transport interface; production = HTTP, tests = [[InMemoryNotionApi]].
    * Implementations must be thread-safe (one instance per executor). */
  trait NotionApi extends Serializable {
    /** K4 prelude: ensure the parent page exists — pass-through when an id
      * is already configured (the reference's `create_page` short-circuit,
      * `notion_data_ingestion.py:48-80`), else create a workspace-parented
      * page carrying only a title and return its id for [[createDatabase]]
      * to hang the database under. */
    def ensureParentPage(existing: Option[String], title: String): String
    /** K4: idempotent DDL — declare the typed property schema. */
    def createDatabase(name: String, properties: Map[String, String]): String
    /** S5: read back existing (subject_id → page_id). */
    def existingRecords(): Map[Long, String]
    /** S5 with page state: subject_id → page. The default knows only the
      * ids, so every page counts as active with unknown properties. */
    def existingPages(): Map[Long, ExistingPage] =
      existingRecords().map { case (k, p) => k -> ExistingPage(p, None, true) }
    /** K5: insert one row of typed properties. Throws on failure. */
    def insert(key: Long, properties: Map[String, String]): Unit
    /** Upsert branch: replace properties of an existing page. */
    def update(pageId: String, properties: Map[String, String]): Unit
    /** K6/I3: logical delete — `is_active=false`. */
    def softDelete(pageId: String): Unit
  }

  /** StructType → Notion property-type declaration (K4; reference schema at
    * `notion_data_ingestion.py:106-119`). */
  def propertySchema(schema: StructType, titleCol: String): Map[String, String] =
    schema.fields.map { f =>
      val t = f.dataType match {
        case _ if f.name == titleCol => "title"
        case _: NumericType => "number"
        case BooleanType => "checkbox"
        case TimestampType | DateType => "date"
        case _ => "rich_text"
      }
      f.name -> t
    }.toMap

  /** F11 int/float split (reference `notion_data_ingestion.py:273-278`):
    * an integral float renders as an integer (`5`, not `5.0`). */
  private[sinks] def numString(d: Double): String =
    if (d.isWhole && math.abs(d) < 1e15) d.toLong.toString else d.toString

  /** F8/F11/F12: per-value property formatting — text truncated to 2000
    * chars, numbers passed through (integral floats as ints), timestamps
    * ISO-8601. Nulls omitted (P7). */
  def formatProperties(row: Row, schema: StructType): Map[String, String] =
    schema.fields.zipWithIndex.flatMap { case (f, i) =>
      if (row.isNullAt(i)) None
      else {
        val v = f.dataType match {
          case TimestampType =>
            val ts = row.getTimestamp(i).toLocalDateTime
            ts.format(java.time.format.DateTimeFormatter.ISO_LOCAL_DATE_TIME)
          case DoubleType => numString(row.getDouble(i))
          case FloatType => numString(row.getFloat(i).toDouble)
          case _: NumericType => row.get(i).toString
          case BooleanType => row.get(i).toString
          case _ => row.get(i).toString.take(2000)
        }
        Some(f.name -> v)
      }
    }.toMap

  /** `unchanged`: rows whose page already held their values and was
    * active, so no request was sent. */
  case class WriteReport(inserted: Long, updated: Long, softDeleted: Long,
      errors: Long, unchanged: Long)

  /** True iff an active page's read-back `stored` already holds every
    * formatted property of `props`; `numeric` names the columns compared
    * as numbers (`9` = `9.0`, `1.0E-5` = `0.000010`). */
  private def holds(props: Map[String, String],
      stored: scala.collection.Map[String, String],
      numeric: Set[String]): Boolean =
    props.forall { case (k, v) =>
      stored.get(k).exists { s =>
        s == v || numeric(k) && scala.util.Try(
          new java.math.BigDecimal(s).compareTo(new java.math.BigDecimal(v)) == 0)
          .getOrElse(false)
      }
    }

  /** Merge-write `df` (keyed by `keyCol`) into the sink: new keys insert,
    * existing keys whose page differs update, keys present only in the
    * sink soft-delete. One full outer join of the frame with the read-back
    * snapshot classifies every row, and one `foreachPartition` sends each
    * down its branch, so a mass-deletion sync stays distributed like the
    * insert/update lanes. A row is skipped iff its page is active and holds
    * every non-null formatted property already; an inactive page, or one
    * whose state the transport cannot read back, is updated with
    * `is_active = true`, so a re-added key comes back. A page that is
    * already inactive is not soft-deleted again. A frame row with a null
    * key fails and counts one error. `minIntervalMs` paces requests per
    * partition (R2: the reference's API budget is ~3 req/s).
    */
  def upsert(
      df: DataFrame,
      keyCol: String,
      api: NotionApi,
      minIntervalMs: Long = 0L): WriteReport = {
    val spark = df.sparkSession
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    // the join below appends the reserved columns; an input column with
    // one of their names would make the join ambiguous and the
    // insert/update split wrong. is_active is the sink's own flag.
    val reserved = Set("__key", "__page_id", "__props", "__active", "is_active")
    require(!schema.fieldNames.exists(reserved),
      s"input frame must not contain reserved columns ${reserved.mkString("/")}")
    val numeric = schema.fields.collect {
      case f if f.dataType.isInstanceOf[NumericType] => f.name
    }.toSet

    val existingDf = spark.createDataFrame(
      api.existingPages().toSeq.map { case (k, p) =>
        Row(k, p.pageId, p.properties.orNull, p.active)
      }.asJava,
      StructType(Seq(StructField("__key", LongType),
        StructField("__page_id", StringType),
        StructField("__props", MapType(StringType, StringType)),
        StructField("__active", BooleanType))))

    val okAcc = spark.sparkContext.longAccumulator("notion.ok")
    val updAcc = spark.sparkContext.longAccumulator("notion.updated")
    val delAcc = spark.sparkContext.longAccumulator("notion.deleted")
    val sameAcc = spark.sparkContext.longAccumulator("notion.unchanged")
    val errAcc = spark.sparkContext.longAccumulator("notion.errors")

    // S5/J4 + I3: frame ⟗ snapshot; null keys never match, so a row with
    // `__key` set and a null frame key comes from the snapshot alone
    val joined = df.join(existingDf, col(keyCol) === col("__key"), "full_outer")
    val snapKeyIdx = joined.schema.fieldIndex("__key")
    val pageIdIdx = joined.schema.fieldIndex("__page_id")
    val propsIdx = joined.schema.fieldIndex("__props")
    val activeIdx = joined.schema.fieldIndex("__active")
    joined.foreachPartition { rows: Iterator[Row] =>
      val limiter = new RateLimiter(minIntervalMs)
      // R4: retry, then count the failure and continue
      def send(acc: LongAccumulator)(request: => Unit): Unit =
        try {
          limiter.acquire()
          Retry.withBackoff(3, 100L)(request)
          acc.add(1)
        } catch { case _: Exception => errAcc.add(1) }
      rows.foreach { row =>
        val known = !row.isNullAt(propsIdx)
        val active = !row.isNullAt(activeIdx) && row.getBoolean(activeIdx)
        if (row.isNullAt(keyIdx) && !row.isNullAt(snapKeyIdx)) {
          // snapshot only: the frame lacks the key
          if (active) send(delAcc)(api.softDelete(row.getString(pageIdIdx)))
        } else if (row.isNullAt(snapKeyIdx)) {
          // no page → insert (a null frame key fails here). An unset
          // checkbox reads back false on the real API, so a new page
          // carries its flag, or the next sync re-activates it
          val props = formatProperties(row, schema)
          send(okAcc)(api.insert(row.getLong(keyIdx),
            props + ("is_active" -> "true")))
        } else {
          val props = formatProperties(row, schema)
          if (active && known &&
              holds(props, row.getMap[String, String](propsIdx), numeric))
            sameAcc.add(1) // the PATCH would change nothing
          else send(updAcc)(api.update(row.getString(pageIdIdx),
            if (active && known) props else props + ("is_active" -> "true")))
        }
      }
    }
    WriteReport(okAcc.value, updAcc.value, delAcc.value, errAcc.value,
      sameAcc.value)
  }

  object InMemoryNotionApi {
    // Stores live in JVM statics keyed by store id: Spark serializes the
    // closure-captured api instance per task, and copies must still see one
    // shared store within the local[] JVM (mirrors "HTTP client per
    // executor, remote state shared" topology of the real sink).
    private[sinks] val stores =
      new ConcurrentHashMap[String, ConcurrentHashMap[String, (Long, Map[String, String], Boolean)]]()
    private[sinks] val ids =
      new ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()
  }

  /** In-memory fake for tests (and the offline build): page_id →
    * (key, properties, is_active). `failEveryNth` injects transient R4
    * faults (absorbed by the retry envelope); `failKeys` fails EVERY
    * insert attempt for those keys — a permanent mid-batch outage the
    * retry budget cannot mask, for replay-idempotence tests. */
  class InMemoryNotionApi(
      storeId: String = java.util.UUID.randomUUID().toString,
      failEveryNth: Int = 0,
      failKeys: Set[Long] = Set.empty) extends NotionApi {

    def pages: ConcurrentHashMap[String, (Long, Map[String, String], Boolean)] =
      InMemoryNotionApi.stores.computeIfAbsent(storeId,
        _ => new ConcurrentHashMap())

    private def nextId: Long = InMemoryNotionApi.ids
      .computeIfAbsent(storeId, _ => new java.util.concurrent.atomic.AtomicLong())
      .incrementAndGet()

    private val calls = new java.util.concurrent.atomic.AtomicLong()
    private def maybeFail(): Unit =
      if (failEveryNth > 0 && calls.incrementAndGet() % failEveryNth == 0)
        throw new RuntimeException("injected sink failure")

    override def ensureParentPage(existing: Option[String], title: String): String =
      existing.getOrElse(s"parent-page-$nextId")
    override def createDatabase(name: String, properties: Map[String, String]): String =
      s"db-$name"
    override def existingRecords(): Map[Long, String] =
      existingPages().map { case (k, p) => k -> p.pageId }
    override def existingPages(): Map[Long, ExistingPage] =
      pages.asScala.map { case (pid, (k, props, active)) =>
        k -> ExistingPage(pid, Some(props), active)
      }.toMap
    override def insert(key: Long, properties: Map[String, String]): Unit = {
      if (failKeys(key))
        throw new RuntimeException(s"injected permanent failure for $key")
      maybeFail()
      // is_active is the page's flag, not a stored property
      pages.put(s"page-$nextId", (key, properties - "is_active",
        properties.get("is_active").forall(_.toBoolean)))
    }
    override def update(pageId: String, properties: Map[String, String]): Unit = {
      maybeFail()
      val cur = pages.get(pageId)
      require(cur != null, s"unknown page $pageId")
      // is_active is the page's flag, not a stored property
      val active = properties.get("is_active").fold(cur._3)(_.toBoolean)
      pages.put(pageId, (cur._1, properties - "is_active", active))
    }
    override def softDelete(pageId: String): Unit = {
      val cur = pages.get(pageId)
      require(cur != null, s"unknown page $pageId")
      pages.put(pageId, (cur._1, cur._2, false))
    }
  }
}
