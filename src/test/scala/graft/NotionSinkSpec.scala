package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.NotionSink
import graft.sinks.NotionSink.InMemoryNotionApi

/** Rate-limited typed upsert sink: insert/update/soft-delete lanes, per-row
  * error isolation, property formatting (SURVEY §2.2, §2.9 I3–I4). */
class NotionSinkSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  import scala.jdk.CollectionConverters._

  private def frame(rows: (Long, String, Double)*) =
    rows.toDF("subject_id", "name_cn", "score")

  test("fresh sink: everything inserts; properties are typed-formatted") {
    val api = new InMemoryNotionApi("t-insert")
    val report = NotionSink.upsert(
      frame((1L, "孤独摇滚！", 8.1), (2L, "x" * 3000, 9.0)),
      "subject_id", api)
    assert(report === NotionSink.WriteReport(2, 0, 0, 0, 0))
    val pages = api.pages.asScala.values.toSeq
    assert(pages.map(_._1).toSet === Set(1L, 2L))
    val long = pages.find(_._1 == 2L).get._2
    assert(long("name_cn").length === 2000) // F8 truncation
    assert(long("score") === "9") // F11: integral float renders as int
    val frac = pages.find(_._1 == 1L).get._2
    assert(frac("score") === "8.1") // non-integral keeps the fraction
  }

  test("second sync: existing keys update, missing keys soft-delete") {
    val api = new InMemoryNotionApi("t-upsert-all")
    NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)),
      "subject_id", api)
    val report = NotionSink.upsert(frame((1L, "a1", 1.5), (2L, "b2", 5.0)),
      "subject_id", api)
    assert(report.updated === 2)
    assert(report.softDeleted === 1)
    assert(report === NotionSink.WriteReport(0, 2, 1, 0, 0))
    val byKey = api.pages.asScala.values.map(p => p._1 -> p).toMap
    assert(byKey(1L)._2("name_cn") === "a1")
    assert(byKey(2L)._2("name_cn") === "b2")
    assert(byKey(3L)._3 === false) // tombstoned, not removed
  }

  private def changedUnchangedMissing(storeId: String): Unit = {
    val api = new InMemoryNotionApi(storeId)
    NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)),
      "subject_id", api)
    val report = NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b2", 5.0)),
      "subject_id", api)
    assert(report === NotionSink.WriteReport(0, 1, 1, 0, 1))
    val byKey = api.pages.asScala.values.map(p => p._1 -> p).toMap
    assert(byKey(2L)._2("name_cn") === "b2")
    assert(byKey(3L)._3 === false) // tombstoned, not removed
  }

  test("second sync: changed keys update, unchanged keys skip, missing keys soft-delete") {
    changedUnchangedMissing("t-upsert")
  }

  test("the same sync with broadcasting disabled gives the same report") {
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      changedUnchangedMissing("t-upsert-no-bc")
    }
  }

  test("a null-key frame row fails once and is not taken for a snapshot-only page") {
    val api = new InMemoryNotionApi("t-null-key")
    NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)),
      "subject_id", api)
    val withNull = Seq[(Option[Long], String, Double)](
      (Some(1L), "a", 1.0), (Some(2L), "b2", 2.0), (None, "orphan", 0.0),
      (Some(4L), "d", 4.0)).toDF("subject_id", "name_cn", "score")
    // key 3 is on the sink only; the null-key row matches no page
    assert(NotionSink.upsert(withNull, "subject_id", api) ===
      NotionSink.WriteReport(1, 1, 1, 1, 1))
    val byKey = api.pages.asScala.values.groupBy(_._1)
    assert(byKey.keySet === Set(1L, 2L, 3L, 4L))
    assert(byKey.values.forall(_.size === 1))
    assert(byKey(3L).head._3 === false)
    assert(byKey.removed(3L).values.forall(_.head._3))
    assert(byKey(2L).head._2("name_cn") === "b2")
  }

  test("per-row failures are isolated and counted (R4)") {
    val api = new InMemoryNotionApi("t-errors", failEveryNth = 4)
    // failEveryNth=4 with 3 retries: a row whose every attempt window hits
    // the 4th-call boundary can still fail; others succeed
    val report = NotionSink.upsert(
      frame((1 to 8).map(i => (i.toLong, s"r$i", i.toDouble)): _*),
      "subject_id", api)
    assert(report.inserted + report.errors === 8)
    assert(report.inserted >= 6) // retries absorb most injected faults
  }

  test("a batch killed mid-flight replays idempotently (exactly-once-ish upsert)") {
    // run 1: keys 4 and 9 fail EVERY attempt — beyond the retry budget,
    // i.e. the batch dies partially written, like a crash mid-flight
    val run1Api = new InMemoryNotionApi("t-replay", failKeys = Set(4L, 9L))
    val df = frame((1 to 10).map(i => (i.toLong, s"r$i", i.toDouble)): _*)
    val r1 = NotionSink.upsert(df, "subject_id", run1Api)
    assert(r1.inserted === 8 && r1.errors === 2)
    // replay the SAME batch on a healthy transport against the same store:
    // the upsert keys must dedupe — previously-written rows match the
    // fresh read-back snapshot and are skipped, only the missing two insert
    val run2Api = new InMemoryNotionApi("t-replay")
    val r2 = NotionSink.upsert(df, "subject_id", run2Api)
    assert(r2 === NotionSink.WriteReport(2, 0, 0, 0, 8))
    // exactly one active page per key — the replay created no duplicates
    val byKey = run2Api.pages.asScala.values.groupBy(_._1)
    assert(byKey.keySet === (1L to 10L).toSet)
    assert(byKey.values.forall(ps => ps.size === 1 && ps.head._3))
    // and a THIRD replay is a pure no-op: nothing is written
    val r3 = NotionSink.upsert(df, "subject_id",
      new InMemoryNotionApi("t-replay"))
    assert(r3 === NotionSink.WriteReport(0, 0, 0, 0, 10))
  }

  test("mass-deletion sync stays distributed and counts every tombstone") {
    val api = new InMemoryNotionApi("t-mass-delete")
    NotionSink.upsert(
      frame((1L to 5000L).map(i => (i, s"r$i", i.toDouble)): _*),
      "subject_id", api)
    // second sync keeps only 10 keys → 4990 soft deletes, run in
    // foreachPartition (no driver-side materialization of the delete set)
    val report = NotionSink.upsert(
      frame((1L to 10L).map(i => (i, s"r$i", i.toDouble)): _*),
      "subject_id", api)
    assert(report === NotionSink.WriteReport(0, 0, 4990, 0, 10))
    val active = api.pages.asScala.values.count(_._3)
    assert(active === 10)
  }

  test("re-running the same frame sends no writes") {
    val df = frame((1L, "a", 1.0), (2L, "b" * 2500, 2.5), (3L, "c", 1.0E-5))
    NotionSink.upsert(df, "subject_id", new InMemoryNotionApi("t-rerun"))
    // every insert/update attempt on this transport fails, so a clean
    // all-unchanged report proves none was made
    val rerun = new InMemoryNotionApi("t-rerun", failEveryNth = 1)
    assert(NotionSink.upsert(df, "subject_id", rerun) ===
      NotionSink.WriteReport(0, 0, 0, 0, 3))
  }

  test("a re-added key comes back active; an inactive page is not soft-deleted again") {
    val api = new InMemoryNotionApi("t-readd")
    val all = frame((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
    val two = frame((1L, "a", 1.0), (2L, "b", 2.0))
    NotionSink.upsert(all, "subject_id", api)
    assert(NotionSink.upsert(two, "subject_id", api) ===
      NotionSink.WriteReport(0, 0, 1, 0, 2))
    // key 3 is already inactive: nothing to do
    assert(NotionSink.upsert(two, "subject_id", api) ===
      NotionSink.WriteReport(0, 0, 0, 0, 2))
    // key 3 returns with its old values: its page is re-activated
    assert(NotionSink.upsert(all, "subject_id", api) ===
      NotionSink.WriteReport(0, 1, 0, 0, 2))
    val byKey = api.pages.asScala.values.map(p => p._1 -> p).toMap
    assert(byKey.values.forall(_._3))
    assert(byKey(3L)._2 === Map("subject_id" -> "3", "name_cn" -> "c",
      "score" -> "3")) // is_active is the flag, not a stored property
  }

  test("a transport without page state updates every existing page as active") {
    val mem = new InMemoryNotionApi("t-unknown")
    NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b", 2.0)), "subject_id", mem)
    mem.softDelete(mem.existingRecords()(2L))
    val idsOnly = new IdsOnlyNotionApi(mem)
    assert(NotionSink.upsert(frame((1L, "a", 1.0), (2L, "b", 2.0)),
      "subject_id", idsOnly) === NotionSink.WriteReport(0, 2, 0, 0, 0))
    assert(mem.pages.asScala.values.forall(_._3))
  }

  test("an input column named is_active is rejected") {
    val df = frame((1L, "a", 1.0)).withColumn("is_active",
      org.apache.spark.sql.functions.lit(true))
    intercept[IllegalArgumentException](
      NotionSink.upsert(df, "subject_id", new InMemoryNotionApi("t-reserved")))
  }

  test("property schema declaration maps Spark types to Notion types") {
    val df = frame((1L, "a", 1.0))
    val props = NotionSink.propertySchema(df.schema, "subject_id")
    assert(props === Map("subject_id" -> "title", "name_cn" -> "rich_text",
      "score" -> "number"))
  }
}

/** A transport with only the trait's default `existingPages`: page ids,
  * no properties or active flag. */
final class IdsOnlyNotionApi(inner: NotionSink.NotionApi)
    extends NotionSink.NotionApi {
  def ensureParentPage(existing: Option[String], title: String): String =
    inner.ensureParentPage(existing, title)
  def createDatabase(name: String, properties: Map[String, String]): String =
    inner.createDatabase(name, properties)
  def existingRecords(): Map[Long, String] = inner.existingRecords()
  def insert(key: Long, properties: Map[String, String]): Unit =
    inner.insert(key, properties)
  def update(pageId: String, properties: Map[String, String]): Unit =
    inner.update(pageId, properties)
  def softDelete(pageId: String): Unit = inner.softDelete(pageId)
}
