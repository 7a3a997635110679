package graft.sinks

import java.io.{BufferedOutputStream, ByteArrayOutputStream, IOException, OutputStream, StringWriter}
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Human-facing presentation sinks (SURVEY §2.2 K1/K2): a multi-sheet
  * Excel workbook and an Excel-compatible BOM-prefixed CSV export,
  * mirroring the reference's export stage
  * (`/root/reference/bangumi_data_ingestion.py:479-524`).
  *
  * The xlsx writer is pure JDK — an .xlsx file is a zip of OOXML parts, so
  * `java.util.zip` plus hand-built XML covers the reference's
  * `pd.ExcelWriter(engine="openpyxl")` surface without new dependencies.
  *
  * Scale posture: both artifacts are driver-side files, each built from
  * one Spark job per frame. For a sheet, every partition renders its rows'
  * cell XML on the executor (row numbers left as placeholders) together
  * with its row count and per-column maximum lengths; the driver sums the
  * counts, takes the column widths from the maxima, and fills in the row
  * numbers while it copies the text into the zip. The driver therefore
  * holds one sheet's rendered XML at a time (Excel caps a sheet at
  * 1,048,576 rows, and the writer REFUSES — loudly, no silent truncation —
  * any sheet over the cap). The CSV export holds the whole frame's
  * rendered text on the driver before it writes the file, so it is for
  * frames whose CSV fits in the driver heap and in
  * `spark.driver.maxResultSize`. Both are published atomically: built
  * beside the target and moved over it only once complete, so a failed
  * export leaves the previous one in place.
  */
object Workbook {

  /** Excel's hard per-sheet row limit, minus the header row. */
  val MaxDataRows: Int = 1048575

  /** Excel's per-cell character limit; longer strings are truncated (the
    * same bound openpyxl enforces). */
  val MaxCellChars: Int = 32767

  /** Excel's sheet-name length limit. */
  val MaxSheetName: Int = 31

  private val SheetNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val RelNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  /** Excel's 1900-system day-serial anchor (1899-12-30 absorbs the
    * deliberate off-by-two of the Lotus leap-year bug; openpyxl uses the
    * same convention, so serials agree for all dates from 1900-03-01 on). */
  private val ExcelEpoch = java.time.LocalDate.of(1899, 12, 30)

  /** cellXfs indices in styles.xml (0 = default). */
  private val DateTimeStyle = 1
  private val DateStyle = 2

  /** Row-number placeholders in executor-rendered sheet XML: `NextRow`
    * starts a row (the driver advances its counter), `ThisRow` repeats the
    * current number in a cell reference. [[esc]] strips both from values,
    * so neither can occur in rendered text. */
  private val NextRow = '\u0001'
  private val ThisRow = '\u0000'

  private val Bom = Array[Byte](0xef.toByte, 0xbb.toByte, 0xbf.toByte)

  private def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 16)
    s.foreach {
      case '&' => sb.append("&amp;")
      case '<' => sb.append("&lt;")
      case '>' => sb.append("&gt;")
      case '"' => sb.append("&quot;")
      // XML 1.0 forbids most control chars; strip rather than emit
      case c if c < ' ' && c != '\t' && c != '\n' && c != '\r' => ()
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Excel sheet-name rules: no []:*?/\ and at most 31 chars. */
  def sanitizeSheetName(name: String): String = {
    val cleaned = name.map(c => if ("[]:*?/\\".contains(c)) '_' else c).take(MaxSheetName)
    if (cleaned.trim.isEmpty) "Sheet" else cleaned
  }

  /** Sanitized names, de-duplicated case-insensitively (as Excel compares
    * them) by a `_2`, `_3`, ... suffix that still fits in 31 chars. */
  def uniqueSheetNames(names: Seq[String]): Seq[String] = {
    val seen = scala.collection.mutable.Set.empty[String]
    names.map { n =>
      val base = sanitizeSheetName(n)
      var cand = base
      var i = 1
      while (!seen.add(cand.toLowerCase)) {
        i += 1
        val suffix = s"_$i"
        cand = base.take(MaxSheetName - suffix.length) + suffix
      }
      cand
    }
  }

  private def colLetter(i: Int): String = {
    var n = i
    val sb = new StringBuilder
    while (n >= 0) { sb.insert(0, ('A' + n % 26).toChar); n = n / 26 - 1 }
    sb.toString
  }

  /** A column by name, however the name is spelled (dots, spaces, ...). */
  private def quoted(c: String): Column = col("`" + c.replace("`", "``") + "`")

  /** One cell's XML, or "" for null (blank cells are simply omitted). */
  private def cellXml(ref: String, dt: DataType, v: Any): String = {
    if (v == null) return ""
    dt match {
      case _: NumericType =>
        val d = v.toString
        // NaN/Inf have no xlsx numeric form; fall back to inline text
        if (d == "NaN" || d.endsWith("Infinity"))
          s"""<c r="$ref" t="inlineStr"><is><t>${esc(d)}</t></is></c>"""
        else s"""<c r="$ref"><v>$d</v></c>"""
      case BooleanType =>
        s"""<c r="$ref" t="b"><v>${if (v.asInstanceOf[Boolean]) 1 else 0}</v></c>"""
      case TimestampType =>
        // real Excel datetime cell: serial number + the datetime style
        // (openpyxl parity — bangumi_data_ingestion.py:479-516 writes
        // typed datetime cells, not strings)
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
        // xml:space preserves leading/trailing whitespace like openpyxl
        s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">${esc(t)}</t></is></c>"""
    }
  }

  /** One partition's share of a sheet: its row count (at most
    * `MaxDataRows + 1`, enough to prove overflow), its per-column maximum
    * `length(cast(c as string))`, and its rows' XML with placeholder row
    * numbers. */
  private final case class SheetPart(rows: Int, maxLen: Array[Int], xml: Array[Byte])

  /** Renders one partition; `rows` carries the sheet's columns followed by
    * their lengths. */
  private def renderPart(rows: Iterator[InternalRow], types: Array[DataType],
      toScala: Array[Any => Any]): SheetPart = {
    val n = types.length
    val refs = Array.tabulate(n)(i => colLetter(i) + ThisRow)
    val maxLen = new Array[Int](n)
    val sb = new java.lang.StringBuilder
    var count = 0
    while (count <= MaxDataRows && rows.hasNext) {
      val row = rows.next()
      count += 1
      sb.append("<row r=\"").append(NextRow).append("\">")
      var i = 0
      while (i < n) {
        if (!row.isNullAt(i))
          sb.append(cellXml(refs(i), types(i), toScala(i)(row.get(i, types(i)))))
        if (!row.isNullAt(n + i)) maxLen(i) = math.max(maxLen(i), row.getInt(n + i))
        i += 1
      }
      sb.append("</row>")
    }
    SheetPart(count, maxLen, sb.toString.getBytes(UTF_8))
  }

  /** Copies `xml` to `out`, replacing each placeholder with the row
    * number; returns the last row number written. */
  private def fillRowNumbers(xml: Array[Byte], firstRow: Int, out: OutputStream): Int = {
    var r = firstRow - 1
    var num = Array.emptyByteArray
    var from = 0
    var i = 0
    while (i < xml.length) {
      val b = xml(i)
      if (b == NextRow || b == ThisRow) {
        out.write(xml, from, i - from)
        if (b == NextRow) { r += 1; num = Integer.toString(r).getBytes(US_ASCII) }
        out.write(num)
        from = i + 1
      }
      i += 1
    }
    out.write(xml, from, xml.length - from)
    r
  }

  /** Runs `df`'s plan as one action (one job when the plan has no
    * shuffle), applying `f` to each partition's rows on the executors;
    * results come back in partition order. */
  private def runPartitions[U: scala.reflect.ClassTag](df: DataFrame, name: String)(
      f: Iterator[InternalRow] => U): Array[U] = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some(name)) {
      df.sparkSession.sparkContext.runJob(qe.toRdd, f)
    }
  }

  /** Writes to a fresh sibling of `path` and moves it over `path` only
    * when `write` returns; on failure the sibling is removed and `path`
    * is untouched. */
  private def publishFile(path: String)(write: OutputStream => Unit): Unit = {
    val target = Paths.get(path).toAbsolutePath
    val tmp = target.resolveSibling(s".${target.getFileName}.${UUID.randomUUID}.tmp")
    try {
      val out = new BufferedOutputStream(
        Files.newOutputStream(tmp, StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE))
      try write(out) finally out.close()
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
    } finally Files.deleteIfExists(tmp)
  }

  /** Write `sheets` as one .xlsx at local `path` (a presentation artifact,
    * like the reference's single output workbook). Sheet order and names
    * are preserved (after Excel-rule sanitization + de-duplication). Each
    * sheet is one Spark job (plus its frame's shuffle stages, if any).
    *
    * @throws IllegalArgumentException if any sheet exceeds [[MaxDataRows]]
    *         — split or aggregate instead of silently truncating.
    */
  def writeXlsx(sheets: Seq[(String, DataFrame)], path: String): Unit = {
    require(sheets.nonEmpty, "writeXlsx: no sheets")
    val named = uniqueSheetNames(sheets.map(_._1)).zip(sheets.map(_._2))
    publishFile(path) { file =>
      val zip = new ZipOutputStream(file, UTF_8)
      try {
        def part(name: String)(body: (String => Unit) => Unit): Unit = {
          zip.putNextEntry(new ZipEntry(name))
          val w = (s: String) => zip.write(s.getBytes(UTF_8))
          w("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
          w("\n")
          body(w)
          zip.closeEntry()
        }
        part("[Content_Types].xml") { w =>
          w("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""")
          w("""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""")
          w("""<Default Extension="xml" ContentType="application/xml"/>""")
          w("""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""")
          named.indices.foreach { i =>
            w(s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""")
          }
          w("""<Override PartName="/xl/styles.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.styles+xml"/>""")
          w("</Types>")
        }
        part("_rels/.rels") { w =>
          w("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
          w(s"""<Relationship Id="rId1" Type="$RelNs/officeDocument" Target="xl/workbook.xml"/>""")
          w("</Relationships>")
        }
        part("xl/workbook.xml") { w =>
          w(s"""<workbook xmlns="$SheetNs" xmlns:r="$RelNs"><sheets>""")
          named.zipWithIndex.foreach { case ((n, _), i) =>
            w(s"""<sheet name="${esc(n)}" sheetId="${i + 1}" r:id="rId${i + 1}"/>""")
          }
          w("</sheets></workbook>")
        }
        part("xl/_rels/workbook.xml.rels") { w =>
          w("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
          named.indices.foreach { i =>
            w(s"""<Relationship Id="rId${i + 1}" Type="$RelNs/worksheet" Target="worksheets/sheet${i + 1}.xml"/>""")
          }
          w(s"""<Relationship Id="rId${named.size + 1}" Type="$RelNs/styles" Target="styles.xml"/>""")
          w("</Relationships>")
        }
        part("xl/styles.xml") { w =>
          w(s"""<styleSheet xmlns="$SheetNs">""")
          // custom numFmts >= 164, the same default codes openpyxl registers
          // for datetime/date cells
          w("""<numFmts count="2"><numFmt numFmtId="164" formatCode="yyyy-mm-dd h:mm:ss"/><numFmt numFmtId="165" formatCode="yyyy-mm-dd"/></numFmts>""")
          w("""<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""")
          w("""<fills count="2"><fill><patternFill patternType="none"/></fill><fill><patternFill patternType="gray125"/></fill></fills>""")
          w("""<borders count="1"><border/></borders>""")
          w("""<cellStyleXfs count="1"><xf/></cellStyleXfs>""")
          // xf 1 = datetime (DateTimeStyle), xf 2 = date (DateStyle)
          w("""<cellXfs count="3"><xf/><xf numFmtId="164" applyNumberFormat="1"/><xf numFmtId="165" applyNumberFormat="1"/></cellXfs>""")
          w("</styleSheet>")
        }
        named.zipWithIndex.foreach { case ((name, df), si) =>
          val fields = df.schema.fields
          val types = fields.map(_.dataType)
          // converters built here, so they read the driver's SQL conf
          val toScala = types.map(CatalystTypeConverters.createToScalaConverter)
          val cols = fields.map(f => quoted(f.name))
          val parts = runPartitions(
            df.select((cols ++ cols.map(c => length(c.cast("string")))).toIndexedSeq: _*),
            s"writeXlsx sheet ${si + 1}")(renderPart(_, types, toScala))
          if (parts.map(_.rows.toLong).sum > MaxDataRows)
            throw new IllegalArgumentException(
              s"sheet ${si + 1} '$name' exceeds Excel's $MaxDataRows data rows; split it")
          part(s"xl/worksheets/sheet${si + 1}.xml") { w =>
            w(s"""<worksheet xmlns="$SheetNs"><cols>""")
            // reference width rule (bangumi_data_ingestion.py:508-516):
            // min(max(longest value, header) + 2, 50)
            fields.indices.foreach { i =>
              val maxLen = parts.foldLeft(0)((m, p) => math.max(m, p.maxLen(i)))
              val wd = math.min(math.max(maxLen, fields(i).name.length) + 2, 50).toDouble
              w(s"""<col min="${i + 1}" max="${i + 1}" width="$wd" customWidth="1"/>""")
            }
            w("</cols><sheetData>")
            w("""<row r="1">""")
            fields.zipWithIndex.foreach { case (f, i) =>
              w(s"""<c r="${colLetter(i)}1" t="inlineStr"><is><t>${esc(f.name)}</t></is></c>""")
            }
            w("</row>")
            parts.foldLeft(2)((r, p) => fillRowNumbers(p.xml, r, zip) + 1)
            w("</sheetData></worksheet>")
          }
        }
      } finally zip.close()
    }
  }

  /** K2 Excel-compat CSV: one `part-00000.csv` under `dir`, with a header
    * and the `utf-8-sig` byte-order mark the reference emits
    * (`bangumi_data_ingestion.py:522-524`) so Excel auto-detects UTF-8.
    * One Spark job renders the lines with `to_csv` (the Univocity generator
    * and defaults `DataFrameWriter.csv` uses); the driver writes them in
    * partition order into a sibling staging directory through Hadoop's
    * FileSystem and swaps it in for `dir`.
    */
  def writeCsvBom(df: DataFrame, dir: String): Unit = {
    val parts = runPartitions(
      df.select(to_csv(struct(df.columns.toIndexedSeq.map(quoted): _*))), "writeCsvBom") { rows =>
      val out = new ByteArrayOutputStream
      rows.foreach { r =>
        // a line Univocity skips (all fields empty) comes back null
        if (!r.isNullAt(0)) { r.getUTF8String(0).writeTo(out); out.write('\n') }
      }
      out.toByteArray
    }
    val header = new StringWriter
    val gen = new UnivocityGenerator(df.schema, header, new CSVOptions(
      Map.empty[String, String], true, df.sparkSession.conf.get("spark.sql.session.timeZone")))
    gen.writeHeaders()
    gen.close()

    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val raw = new HPath(dir)
    val fs = raw.getFileSystem(conf)
    val target = fs.makeQualified(raw)
    val id = UUID.randomUUID
    val stage = new HPath(target.getParent, s".${target.getName}.$id.staging")
    val old = new HPath(target.getParent, s".${target.getName}.$id.old")
    def rename(from: HPath, to: HPath): Unit =
      if (!fs.rename(from, to)) throw new IOException(s"writeCsvBom: cannot rename $from to $to")
    try {
      val out = fs.create(new HPath(stage, "part-00000.csv"), false)
      try {
        out.write(Bom)
        out.write(header.toString.getBytes(UTF_8))
        parts.foreach(out.write)
      } finally out.close()
      if (fs.exists(target)) {
        rename(target, old)
        try rename(stage, target)
        catch { case e: IOException => rename(old, target); throw e }
        fs.delete(old, true)
      } else rename(stage, target)
    } finally fs.delete(stage, true)
  }
}
