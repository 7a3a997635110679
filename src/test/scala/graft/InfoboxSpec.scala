package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** F1 infobox flatten — reference semantics
  * (`/root/reference/bangumi_data_ingestion.py:263-295`). */
class InfoboxSpec extends AnyFunSuite with SparkSpec {

  private def flatten(json: String): Map[String, String] = {
    import spark.implicits._
    val row = Seq(json).toDF("j")
      .select(GraftFunctions.infobox_to_map($"j").as("m"))
      .head()
    if (row.isNullAt(0)) null else row.getMap[String, String](0).toMap
  }

  test("scalar values are stringified and trimmed") {
    assert(flatten("""[{"key":"导演","value":"  斎藤圭一郎  "}]""") ===
      Map("导演" -> "斎藤圭一郎"))
  }

  test("numeric scalar value") {
    assert(flatten("""[{"key":"话数","value":12}]""") === Map("话数" -> "12"))
  }

  test("dict value contributes .v") {
    assert(flatten("""[{"key":"放送","value":{"v":"星期六"}}]""") ===
      Map("放送" -> "星期六"))
  }

  test("dict value without v falls back to JSON text") {
    assert(flatten("""[{"key":"k","value":{"x":1}}]""") ===
      Map("k" -> """{"x":1}"""))
  }

  test("list of dicts joined with comma-space") {
    assert(flatten(
      """[{"key":"别名","value":[{"v":"Bocchi the Rock!"},{"v":"孤独摇滚"}]}]""") ===
      Map("别名" -> "Bocchi the Rock!, 孤独摇滚"))
  }

  test("list of bare scalars joined") {
    assert(flatten("""[{"key":"别名","value":["BTR","ぼざろ"]}]""") ===
      Map("别名" -> "BTR, ぼざろ"))
  }

  test("blank keys and empty/null values are dropped (Python truthiness)") {
    assert(flatten(
      """[{"key":"  ","value":"x"},{"key":"a","value":"  "},
         |{"key":"b","value":null},{"key":"c","value":[]},
         |{"key":"d","value":"ok"}]""".stripMargin.replace("\n", "")) ===
      Map("d" -> "ok"))
  }

  test("duplicate keys: last wins") {
    assert(flatten("""[{"key":"a","value":"1"},{"key":"a","value":"2"}]""") ===
      Map("a" -> "2"))
  }

  test("malformed / non-array input coerces to null") {
    assert(flatten("""{"not":"array"}""") === null)
    assert(flatten("""not json at all""") === null)
  }

  test("doGenCode compiles: results identical with codegen fallback disabled") {
    // Janino silently falls back to the interpreted path if generated code
    // fails to compile; with fallback OFF a doGenCode bug becomes a hard
    // error instead of a hidden slow path. Run through a real projection
    // (wholestage pipeline), nulls and malformed rows included.
    import spark.implicits._
    withSQLConf(
      "spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.fallback" -> "false") {
      val rows = Seq(
        """[{"key":"a","value":"1"},{"key":"b","value":[{"v":"x"},"y"]}]""",
        """[{"key":" ","value":"dropped"}]""",
        "not json", null)
        .toDF("j")
        .select(GraftFunctions.infobox_to_map($"j").as("m"))
        .collect()
      assert(rows.length === 4)
      assert(rows(0).getMap[String, String](0).toMap ===
        Map("a" -> "1", "b" -> "x, y"))
      assert(rows(1).getMap[String, String](0).toMap === Map.empty)
      assert(rows(2).isNullAt(0) && rows(3).isNullAt(0))
    }
  }
}
