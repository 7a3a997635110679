package graft

import java.math.BigDecimal
import java.nio.file.{Files, Path}
import java.sql.{Date, Timestamp}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sinks.Workbook

/** K1/K2 export writers: byte identity with the row-at-a-time writers
  * they replaced ([[WorkbookReference]]), Spark jobs per artifact, atomic
  * publish, the over-cap refusal and sheet-name de-duplication. */
class WorkbookSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def tmp(tag: String): Path = Files.createTempDirectory(s"graft-$tag")

  private def listing(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  /** Column names a CSV header must quote, every scalar type the sheets
    * render, and the values that need care: nulls, NaN and ±Infinity, XML
    * specials, control characters, CJK, padding, an over-long string. */
  private val wideSchema = StructType(Seq(
    StructField("id", LongType), StructField("name, \"quoted\"", StringType),
    StructField("n", IntegerType), StructField("score", DoubleType),
    StructField("ratio", FloatType), StructField("active", BooleanType),
    StructField("day", DateType), StructField("at", TimestampType),
    StructField("amount", DecimalType(38, 10)), StructField("note", StringType)))

  private def wideRows: Seq[Row] = Seq(
    Row(1L, "孤独摇滚！", 1, 8.1, 0.5f, true, Date.valueOf("2024-02-29"),
      Timestamp.valueOf("2024-03-15 18:30:00.123456"), new BigDecimal("0.1"), "plain"),
    Row(2L, "a <b> & \"c\" 'd'", -7, Double.NaN, Float.NaN, false,
      Date.valueOf("1900-03-01"), Timestamp.valueOf("1970-01-01 00:00:00"),
      new BigDecimal("-1234567890123456789.0123456789"), "comma, and \"quote\""),
    Row(3L, null, null, null, null, null, null, null, null, null),
    Row(4L, "ctl\u0001\u0007\u001f end", Int.MaxValue, Double.PositiveInfinity,
      Float.NegativeInfinity, true, Date.valueOf("2000-01-01"),
      Timestamp.valueOf("1999-12-31 23:59:59.999"), new BigDecimal("1E-10"), "tab\tnl\ncr\r"),
    Row(5L, "x" * 40000, Int.MinValue, Double.NegativeInfinity, 1e30f, false,
      Date.valueOf("2099-12-31"), Timestamp.valueOf("2038-01-19 03:14:07"),
      new BigDecimal("12345678901234567890123456.7890123456"), "  padded  "),
    Row(6L, "", 0, 1e20, -0.0f, true, null, null, new BigDecimal("0"), ""),
    Row(7L, "ぼっち・ざ・ろっく！ 第1話", 42, 0.1 + 0.2, 3.4e-38f, null,
      Date.valueOf("1999-01-01"), Timestamp.valueOf("2024-01-01 00:00:00.5"),
      new BigDecimal("99.5"), "line\r\nbreak"),
    Row(8L, "]]> <![CDATA[ &amp;", 8, -0.0, 2.5f, false, Date.valueOf("2024-03-15"),
      Timestamp.valueOf("2024-03-15 00:00:01"), new BigDecimal("-0.0000000001"), "#;=\"\""))

  /** Sixteen partitions over eight rows: half of them empty. */
  private def wide: DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(wideRows, 16), wideSchema)

  /** Thousands of rows over nine partitions, so row numbers cross them. */
  private def long: DataFrame = spark.range(0, 3000, 1, 9).select(
    $"id", ($"id" * 0.25).as("quarter"), concat(lit("row "), $"id").as("label"),
    ($"id" % 3 === 0).as("fizz"))

  /** A shuffled frame: an aggregate over the wide one. */
  private def grouped: DataFrame = wide.groupBy($"active")
    .agg(count(lit(1)).as("n"), max($"score").as("max_score"),
      sort_array(collect_list($"id")).as("ids"), max($"day").as("day"))

  /** Non-scalar columns (sheets only; CSV has no form for them). */
  private def nested: DataFrame = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
    Row(1L, Seq("a", null, "孤独"), Map("k" -> 1), Row("x", 2)),
    Row(2L, null, Map.empty[String, Int], null),
    Row(3L, Seq.empty[String], null, Row(null, null))), 3), StructType(Seq(
    StructField("id", LongType), StructField("tags", ArrayType(StringType)),
    StructField("counts", MapType(StringType, IntegerType)),
    StructField("pair", StructType(Seq(StructField("s", StringType), StructField("i", IntegerType)))))))

  private def emptyNoPartitions: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], wideSchema)

  private def xlsxParts(path: String): Seq[(String, Seq[Byte])] = {
    val zf = new java.util.zip.ZipFile(path)
    try zf.entries().asScala.map(e =>
      e.getName -> zf.getInputStream(e).readAllBytes().toSeq).toSeq
    finally zf.close()
  }

  private def sameBytes(what: String, got: Seq[Byte], want: Seq[Byte]): Unit =
    if (got != want) {
      val at = got.zip(want).indexWhere { case (a, b) => a != b } match {
        case -1 => math.min(got.length, want.length)
        case i => i
      }
      def around(b: Seq[Byte]) = new String(b.slice(math.max(0, at - 80), at + 80).toArray, "UTF-8")
      fail(s"$what differs at byte $at (lengths ${got.length} vs ${want.length})\n" +
        s"got:  ${around(got)}\nwant: ${around(want)}")
    }

  private def assertXlsxIdentical(sheets: Seq[(String, DataFrame)]): Unit = {
    val dir = tmp("xlsx-id")
    val got = dir.resolve("new.xlsx").toString
    val want = dir.resolve("ref.xlsx").toString
    Workbook.writeXlsx(sheets, got)
    WorkbookReference.writeXlsx(sheets, want)
    val (g, w) = (xlsxParts(got), xlsxParts(want))
    assert(g.map(_._1) === w.map(_._1))
    g.zip(w).foreach { case ((name, gb), (_, wb)) => sameBytes(name, gb, wb) }
  }

  /** The reference's part files in partition order, as one file: the
    * first part whole, the others without their BOM and header line. */
  private def referenceCsv(df: DataFrame): Seq[Byte] = {
    val dir = tmp("csv-ref").resolve("csv")
    WorkbookReference.writeCsvBom(df, dir.toString)
    val parts = listing(dir).filter(_.startsWith("part-"))
      .map(p => Files.readAllBytes(dir.resolve(p)).toSeq)
    assert(parts.nonEmpty)
    val head = parts.head.take(parts.head.indexOf('\n'.toByte) + 1)
    parts.tail.foreach(p => assert(p.take(head.length) === head))
    parts.head ++ parts.tail.flatMap(_.drop(head.length))
  }

  private def assertCsvIdentical(df: DataFrame): Unit = {
    val dir = tmp("csv-new").resolve("csv")
    Workbook.writeCsvBom(df, dir.toString)
    assert(listing(dir).filter(!_.startsWith(".")) === Seq("part-00000.csv"))
    val got = Files.readAllBytes(dir.resolve("part-00000.csv")).toSeq
    assert(got.take(3) === Seq(0xef, 0xbb, 0xbf).map(_.toByte))
    assert(got.indexOfSlice(Seq(0xef, 0xbb, 0xbf).map(_.toByte), 1) === -1) // one BOM
    sameBytes("csv", got, referenceCsv(df))
  }

  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(sc) // earlier jobs' events must not reach the listener
    sc.addSparkListener(listener)
    try { body; ListenerBusDrain(sc) } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("workbook parts are byte-identical to the row-at-a-time writer") {
    assertXlsxIdentical(Seq("wide" -> wide, "long" -> long, "grouped" -> grouped,
      "nested" -> nested))
  }

  test("workbook parts are byte-identical for empty frames, with and without partitions") {
    assertXlsxIdentical(Seq("none" -> emptyNoPartitions,
      "filtered" -> wide.filter(lit(false))))
  }

  test("CSV bytes equal the Spark CSV writer's parts, one BOM and one header") {
    assertCsvIdentical(wide)
    assertCsvIdentical(long)
    assertCsvIdentical(grouped.drop("ids"))
    assertCsvIdentical(Seq[(String, String)](("a", null), (null, null), ("", "b"))
      .toDF("only, first", "second").repartition(8, $"second"))
    assertCsvIdentical(Seq[String](null, "x", null).toDF("single"))
  }

  test("CSV of an empty frame is the BOM and the header") {
    assertCsvIdentical(emptyNoPartitions)
    assertCsvIdentical(wide.filter(lit(false)))
  }

  test("one Spark job per shuffle-free sheet, and one for the CSV") {
    val path = tmp("xlsx-jobs").resolve("out.xlsx").toString
    assert(jobsOf(Workbook.writeXlsx(Seq("a" -> wide, "b" -> long, "c" -> nested), path)) === 3)
    assert(jobsOf(Workbook.writeCsvBom(wide, tmp("csv-jobs").resolve("csv").toString)) === 1)
  }

  test("a failed sheet leaves the previous workbook byte-unchanged and no temp file") {
    val dir = tmp("xlsx-fail")
    val path = dir.resolve("out.xlsx")
    Workbook.writeXlsx(Seq("long" -> long), path.toString)
    val before = Files.readAllBytes(path).toSeq
    val bad = long.withColumn("label",
      when($"id" === 2500, raise_error(lit("injected"))).otherwise($"label"))
    val e = intercept[Exception](
      Workbook.writeXlsx(Seq("wide" -> wide, "bad" -> bad), path.toString))
    assert(e.getMessage.contains("injected"))
    assert(Files.readAllBytes(path).toSeq === before)
    assert(listing(dir) === Seq("out.xlsx"))
  }

  test("a failed CSV export leaves the previous directory byte-unchanged and no staging") {
    val parent = tmp("csv-fail")
    val dir = parent.resolve("csv")
    Workbook.writeCsvBom(long, dir.toString)
    def snapshot = listing(dir).map(f => f -> Files.readAllBytes(dir.resolve(f)).toSeq)
    val before = snapshot
    val bad = long.withColumn("label",
      when($"id" === 2500, raise_error(lit("injected"))).otherwise($"label"))
    val e = intercept[Exception](Workbook.writeCsvBom(bad, dir.toString))
    assert(e.getMessage.contains("injected"))
    assert(snapshot === before)
    assert(listing(parent) === Seq("csv"))
    // and a successful export replaces it in place
    Workbook.writeCsvBom(wide, dir.toString)
    assert(listing(parent) === Seq("csv"))
    assert(snapshot !== before)
  }

  test("a sheet over Excel's row cap is refused by name and nothing is written") {
    val dir = tmp("xlsx-cap")
    val path = dir.resolve("big.xlsx")
    val t0 = System.nanoTime()
    val e = intercept[IllegalArgumentException](Workbook.writeXlsx(
      Seq("ok" -> long, "too big" -> spark.range(Workbook.MaxDataRows + 1L).toDF("n")),
      path.toString))
    info(f"refused after ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(e.getMessage.contains("'too big'"))
    assert(!Files.exists(path))
    assert(listing(dir).isEmpty)
  }

  test("sheet names stay unique and within 31 characters past 100 duplicates") {
    val names = Workbook.uniqueSheetNames(Seq.fill(120)("x" * 40) ++ Seq("a", "A", "a_2"))
    assert(names.forall(_.length <= Workbook.MaxSheetName))
    assert(names.map(_.toLowerCase).distinct.size === names.size)
    assert(names.head === "x" * 31)
    assert(names(1) === "x" * 29 + "_2")
    assert(names(99) === "x" * 27 + "_100")
    assert(names.takeRight(3) === Seq("a", "A_2", "a_2_2"))
    assert(Workbook.uniqueSheetNames(Seq("a/b", "?")) === Seq("a_b", "_"))
  }
}

/** The K1/K2 writers as they were before each artifact became one Spark
  * job: a width job plus `limit().toLocalIterator()` per sheet, and a Spark
  * CSV write followed by a BOM copy of every part. Kept as the reference
  * the one-job writers must match byte for byte. */
private object WorkbookReference {
  import java.io.{BufferedOutputStream, FileOutputStream, OutputStreamWriter}
  import java.nio.charset.StandardCharsets
  import java.util.zip.{ZipEntry, ZipOutputStream}

  val MaxDataRows: Int = 1048575
  val MaxCellChars: Int = 32767

  private val SheetNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val RelNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val ExcelEpoch = java.time.LocalDate.of(1899, 12, 30)
  private val DateTimeStyle = 1
  private val DateStyle = 2

  def columnWidths(df: DataFrame): Seq[Double] = {
    val row = df.select(df.columns.toIndexedSeq.map(c =>
      max(length(col(c).cast("string"))).as(c)): _*).head()
    df.columns.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      val maxLen = if (row.isNullAt(i)) 0 else row.getInt(i)
      math.min(math.max(maxLen, c.length) + 2, 50).toDouble
    }
  }

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ()
      case c => sb.append(c)
    }
    sb.toString
  }

  def sanitizeSheetName(name: String): String = {
    val cleaned = name.map(c => if ("[]:*?/\\".contains(c)) '_' else c).take(31)
    if (cleaned.trim.isEmpty) "Sheet" else cleaned
  }

  private def colLetter(i: Int): String = {
    var n = i
    val sb = new StringBuilder
    while (n >= 0) { sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1 }
    sb.toString
  }

  private def cellXml(ref: String, dt: DataType, v: Any): String = {
    if (v == null) return ""
    dt match {
      case _: NumericType =>
        val d = v.toString
        if (d == "NaN" || d.endsWith("Infinity"))
          s"""<c r="$ref" t="inlineStr"><is><t>${esc(d)}</t></is></c>"""
        else s"""<c r="$ref"><v>$d</v></c>"""
      case BooleanType =>
        s"""<c r="$ref" t="b"><v>${if (v.asInstanceOf[Boolean]) 1 else 0}</v></c>"""
      case TimestampType =>
        val ldt = v.asInstanceOf[java.sql.Timestamp].toLocalDateTime
        val days = java.time.temporal.ChronoUnit.DAYS
          .between(ExcelEpoch, ldt.toLocalDate)
        val serial = days + ldt.toLocalTime.toNanoOfDay / 86400.0e9
        s"""<c r="$ref" s="$DateTimeStyle"><v>$serial</v></c>"""
      case DateType =>
        val days = java.time.temporal.ChronoUnit.DAYS
          .between(ExcelEpoch, v.asInstanceOf[java.sql.Date].toLocalDate)
        s"""<c r="$ref" s="$DateStyle"><v>$days</v></c>"""
      case _ =>
        val s = v.toString
        val t = if (s.length > MaxCellChars) s.take(MaxCellChars) else s
        s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(t)}</t></is></c>"""
    }
  }

  def writeXlsx(sheets: Seq[(String, DataFrame)], path: String): Unit = {
    require(sheets.nonEmpty, "writeXlsx: no sheets")
    val seen = scala.collection.mutable.Set.empty[String]
    val named = sheets.map { case (n, df) =>
      val base = sanitizeSheetName(n)
      var cand = base
      var i = 1
      while (!seen.add(cand.toLowerCase)) { i += 1; cand = s"${base.take(28)}_$i" }
      (cand, df)
    }
    val zip = new ZipOutputStream(
      new BufferedOutputStream(new FileOutputStream(path)), StandardCharsets.UTF_8)
    def part(name: String)(body: OutputStreamWriter => Unit): Unit = {
      zip.putNextEntry(new ZipEntry(name))
      val w = new OutputStreamWriter(zip, StandardCharsets.UTF_8)
      w.write("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
      w.write("\n")
      body(w)
      w.flush()
      zip.closeEntry()
    }
    try {
      part("[Content_Types].xml") { w =>
        w.write("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""")
        w.write("""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""")
        w.write("""<Default Extension="xml" ContentType="application/xml"/>""")
        w.write("""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""")
        named.indices.foreach { i =>
          w.write(s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
        }
        w.write("""<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""")
        w.write("</Types>")
      }
      part("_rels/.rels") { w =>
        w.write("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
        w.write(s"""<Relationship Id="rId1" Type="$RelNs/officeDocument" Target="xl/workbook.xml"/>""")
        w.write("</Relationships>")
      }
      part("xl/workbook.xml") { w =>
        w.write(s"""<workbook xmlns="$SheetNs" xmlns:r="$RelNs"><sheets>""")
        named.zipWithIndex.foreach { case ((n, _), i) =>
          w.write(s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""")
        }
        w.write("</sheets></workbook>")
      }
      part("xl/_rels/workbook.xml.rels") { w =>
        w.write("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
        named.indices.foreach { i =>
          w.write(s"""<Relationship Id="rId${i + 1}" Type="$RelNs/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""")
        }
        w.write(s"""<Relationship Id="rId${named.size + 1}" Type="$RelNs/styles" Target="styles.xml"/>""")
        w.write("</Relationships>")
      }
      part("xl/styles.xml") { w =>
        w.write(s"""<styleSheet xmlns="$SheetNs">""")
        w.write("""<numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy-mm-dd h:mm:ss"/><numFmt numFmtId="165" formatCode="yyyy-mm-dd"/></numFmts>""")
        w.write("""<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""")
        w.write("""<fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills>""")
        w.write("""<borders count="1"><border/></borders>""")
        w.write("""<cellStyleXfs count="1"><xf/></cellStyleXfs>""")
        w.write("""<cellXfs count="3"><xf/><xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="165" applyNumberFormat="1"/></cellXfs>""")
        w.write("</styleSheet>")
      }
      named.zipWithIndex.foreach { case ((_, df), si) =>
        val schema = df.schema
        val widths = columnWidths(df)
        part(s"xl/worksheets/sheet${si + 1}.xml") { w =>
          w.write(s"""<worksheet xmlns="$SheetNs"><cols>""")
          widths.zipWithIndex.foreach { case (wd, i) =>
            w.write(s"""<col min="${i + 1}" max="${i + 1}" width="$wd" customWidth="1"/>""")
          }
          w.write("</cols><sheetData>")
          w.write("""<row r="1">""")
          schema.fieldNames.zipWithIndex.foreach { case (c, i) =>
            w.write(s"""<c r="${colLetter(i)}1" t="inlineStr"><is><t>${esc(c)}</t></is></c>""")
          }
          w.write("</row>")
          val it = df.limit(MaxDataRows + 1).toLocalIterator()
          var r = 1
          while (it.hasNext) {
            val row = it.next()
            r += 1
            if (r - 1 > MaxDataRows)
              throw new IllegalArgumentException(
                s"sheet ${si + 1} exceeds Excel's $MaxDataRows data rows; split it")
            w.write(s"""<row r="$r">""")
            schema.fields.zipWithIndex.foreach { case (f, i) =>
              if (!row.isNullAt(i))
                w.write(cellXml(s"${colLetter(i)}$r", f.dataType, row.get(i)))
            }
            w.write("</row>")
          }
          w.write("</sheetData></worksheet>")
        }
      }
    } finally zip.close()
  }

  def writeCsvBom(df: DataFrame, dir: String): Unit = {
    df.write.option("header", "true").mode("overwrite").csv(dir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(conf)
    val bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)
    fs.listStatus(path).filter(_.getPath.getName.startsWith("part-"))
      .foreach { st =>
        val src = st.getPath
        val tmp = new org.apache.hadoop.fs.Path(
          src.getParent, s".${src.getName}.bom")
        val in = fs.open(src)
        val out = fs.create(tmp, true)
        try {
          out.write(bom)
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, conf, false)
        } finally { in.close(); out.close() }
        fs.delete(src, false)
        fs.rename(tmp, src)
      }
  }
}
