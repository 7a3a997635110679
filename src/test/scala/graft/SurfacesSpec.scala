package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.bangumi.{BangumiTransforms, Fixtures}

/** Remaining I/O + SQL surfaces: CSV export (K1/K2 contract) and the
  * spark.sql text dialect over registered views + custom functions. */
class SurfacesSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("CSV export round-trips the analytics frame (UTF-8, CJK intact)") {
    val analytics = BangumiTransforms.analyticsProjection(Fixtures.items(spark))
      .drop("created_at", "updated_at") // CSV has no timestamp contract
    val out = Files.createTempDirectory("graft-csv").toString + "/analytics"
    analytics.write.option("header", "true").option("encoding", "UTF-8")
      .csv(out)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() === analytics.count())
    assert(back.filter($"name_cn" === "孤独摇滚！").count() === 2)
  }

  test("CSV export carries the utf-8-sig BOM for Excel auto-detection (K2)") {
    val out = Files.createTempDirectory("graft-bom").toString + "/analytics"
    graft.sinks.Workbook.writeCsvBom(
      Seq((1L, "孤独摇滚！"), (2L, "bocchi")).toDF("id", "name_cn"), out)
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).toSeq
    assert(parts.nonEmpty)
    parts.foreach { f =>
      val bytes = Files.readAllBytes(f.toPath)
      assert(bytes.take(3).toSeq ===
        Seq(0xef.toByte, 0xbb.toByte, 0xbf.toByte)) // utf-8-sig
    }
    // content survives the BOM pass (Spark's reader skips the BOM)
    val back = spark.read.option("header", "true").csv(out)
    assert(back.columns.toSeq === Seq("id", "name_cn"))
    assert(back.filter($"name_cn" === "孤独摇滚！").count() === 1)
  }

  test("multi-sheet xlsx round-trips sheet names, values, and widths (K1)") {
    import graft.sinks.Workbook
    val raw = Seq(
      (1L, "孤独摇滚！", 8.1, true),
      (2L, "a <b> & \"c\"", 9.0, false),
      (3L, null.asInstanceOf[String], 7.5, true)
    ).toDF("subject_id", "name_cn", "score", "active")
    val summary = Seq(("anime", 3L)).toDF("category", "n")
    val path = Files.createTempDirectory("graft-xlsx").toString + "/out.xlsx"
    Workbook.writeXlsx(
      Seq(("raw_collections", raw), ("bad[name]:longer than thirty-one chars", summary)),
      path)

    // unzip + DOM-parse the OOXML parts (JDK only, like the writer)
    val zf = new java.util.zip.ZipFile(path)
    def xml(name: String): org.w3c.dom.Document = {
      val e = zf.getEntry(name)
      assert(e != null, s"missing zip part $name")
      javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder().parse(zf.getInputStream(e))
    }
    try {
      val wb = xml("xl/workbook.xml").getElementsByTagName("sheet")
      val names = (0 until wb.getLength)
        .map(i => wb.item(i).getAttributes.getNamedItem("name").getNodeValue)
      assert(names.head === "raw_collections")
      assert(names(1) === "bad_name__longer than thirty-on") // sanitized, 31 chars
      assert(names(1).length === 31)

      val sheet = xml("xl/worksheets/sheet1.xml")
      val rows = sheet.getElementsByTagName("row")
      assert(rows.getLength === 4) // header + 3 data rows
      def cellTexts(r: Int): Seq[String] = {
        val cells = rows.item(r).asInstanceOf[org.w3c.dom.Element]
          .getElementsByTagName("c")
        (0 until cells.getLength).map(i => cells.item(i).getTextContent)
      }
      assert(cellTexts(0) === Seq("subject_id", "name_cn", "score", "active"))
      assert(cellTexts(1) === Seq("1", "孤独摇滚！", "8.1", "1"))
      assert(cellTexts(2)(1) === "a <b> & \"c\"") // XML escaping round-trips
      assert(cellTexts(3).length === 3) // null cell omitted, not empty string

      // width rule: min(max(longest value, header) + 2, 50)
      val cols = sheet.getElementsByTagName("col")
      val w0 = cols.item(0).getAttributes.getNamedItem("width").getNodeValue
      assert(w0.toDouble === ("subject_id".length + 2).toDouble)
    } finally zf.close()
  }

  test("xlsx timestamps are typed Excel datetime cells, not strings (K1)") {
    import graft.sinks.Workbook
    val ts = java.sql.Timestamp.valueOf("2024-03-15 18:30:00")
    val d = java.sql.Date.valueOf("2024-03-15")
    val df = Seq((1L, ts, d)).toDF("id", "created_at", "day")
    val path = Files.createTempDirectory("graft-xlsx-ts").toString + "/ts.xlsx"
    Workbook.writeXlsx(Seq(("t", df)), path)
    val zf = new java.util.zip.ZipFile(path)
    def xml(name: String): org.w3c.dom.Document =
      javax.xml.parsers.DocumentBuilderFactory.newInstance()
        .newDocumentBuilder().parse(zf.getInputStream(zf.getEntry(name)))
    try {
      val cells = xml("xl/worksheets/sheet1.xml").getElementsByTagName("c")
      val byRef = (0 until cells.getLength).map { i =>
        val e = cells.item(i).asInstanceOf[org.w3c.dom.Element]
        e.getAttribute("r") -> e
      }.toMap
      // B2 = the timestamp: numeric (no t= attr), styled, correct serial
      val b2 = byRef("B2")
      assert(b2.getAttribute("t") === "") // numeric cell, not inlineStr
      assert(b2.getAttribute("s") === "1")
      // 2024-03-15 is 45366 days after 1899-12-30; 18:30 = 0.770833...
      assert(math.abs(b2.getTextContent.toDouble - 45366.770833333336) < 1e-9)
      // C2 = the date: integer serial with the date style
      val c2 = byRef("C2")
      assert(c2.getAttribute("t") === "")
      assert(c2.getAttribute("s") === "2")
      assert(c2.getTextContent.toDouble === 45366.0)
      // styles.xml carries the date numFmts those style indices point at
      val xfs = xml("xl/styles.xml").getElementsByTagName("cellXfs").item(0)
        .asInstanceOf[org.w3c.dom.Element].getElementsByTagName("xf")
      assert(xfs.item(1).asInstanceOf[org.w3c.dom.Element]
        .getAttribute("numFmtId") === "164")
      assert(xfs.item(2).asInstanceOf[org.w3c.dom.Element]
        .getAttribute("numFmtId") === "165")
      val fmts = xml("xl/styles.xml").getElementsByTagName("numFmt")
      val codes = (0 until fmts.getLength).map(i =>
        fmts.item(i).asInstanceOf[org.w3c.dom.Element].getAttribute("formatCode"))
      assert(codes.contains("yyyy-mm-dd h:mm:ss") && codes.contains("yyyy-mm-dd"))
    } finally zf.close()
  }

  test("the engine is queryable through SQL text, including custom functions") {
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val revenue = spark.sql(
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |JOIN orders ON c_custkey = o_custkey
        |GROUP BY n_name ORDER BY revenue DESC LIMIT 3""".stripMargin)
    assert(revenue.count() === 3)

    val flat = spark.sql(
      """SELECT infobox_to_map('[{"key":"导演","value":"斎藤圭一郎"}]') AS m,
        |       size(rolling_chunks('some text to chunk into pieces', 4, 3)) AS n""".stripMargin)
      .head()
    assert(flat.getMap[String, String](0).get("导演").contains("斎藤圭一郎"))
    assert(flat.getInt(1) > 0)

    // 'Cafe' + U+0301 (combining acute), composed by NFC to 'Café'
    val kern = spark.sql(
      """SELECT nfc_normalize(decode(unhex('43616665CC81'), 'UTF-8')) AS nfc,
        |       graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dot""".stripMargin)
      .head()
    assert(kern.getString(0) === "Caf\u00e9")
    assert(kern.getDouble(1) === 11.0)
    val kmin = spark.sql("SELECT kmin_values(id % 7, 3) AS k FROM range(50)").head()
    assert(kmin.getSeq[Long](0) === Seq(0L, 1L, 2L))
  }
}
