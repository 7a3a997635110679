package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.bangumi.BangumiTransforms
import graft.sources.bangumi.BangumiTableProvider

/** DSv2 connector: category partitioning, enum pushdown, pagination,
  * retry/circuit-breaker behavior (SURVEY §2.1, §2.10). */
class BangumiSourceSpec extends AnyFunSuite with SparkSpec {

  private def source(opts: (String, String)*) = {
    var r = spark.read.format(classOf[BangumiTableProvider].getName)
      .option("client", "fixture")
    opts.foreach { case (k, v) => r = r.option(k, v) }
    r.load()
  }

  test("scans the category grid; items outside the grid are not fetched") {
    // fixture has 7 items but id=105 is subject_type 4, outside the
    // reference's {1,2,3} grid (bangumi_data_ingestion.py:44) → 6 rows
    assert(source().count() === 6)
  }

  test("enum filter pushes into the scan (fewer partitions probed)") {
    val df = source().filter("subject_type = 2")
    assert(df.count() === 3) // 101, 101-dup, 102
    val scan = df.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("subject_type"), s"pushed filter missing in: $scan")
  }

  test("small pages exercise the pagination loop") {
    assert(source("pageSize" -> "1").count() === 6)
  }

  test("transient page failures are retried to success") {
    // every 5th call fails; Retry(3 tries) absorbs them
    assert(source("pageFailEvery" -> "5", "pageSize" -> "1").count() === 6)
  }

  test("source output feeds the transform layer end-to-end") {
    val raw = BangumiTransforms.rawProjection(
      BangumiTransforms.parseItems(source().select("value")), "graft")
    assert(raw.count() === 6)
    assert(raw.columns.length === 21)
  }
}
