package graft.sources

import java.io.{BufferedWriter, File, OutputStreamWriter, Writer}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.zip.{Deflater, ZipEntry, ZipFile, ZipOutputStream}
import javax.xml.stream.{XMLInputFactory, XMLStreamException, XMLStreamReader}
import javax.xml.stream.XMLStreamConstants.{DTD, END_ELEMENT, START_ELEMENT}
import javax.xml.stream.util.StreamReaderDelegate

import scala.collection.immutable.ArraySeq
import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StringType, StructField, StructType}

/** Minimal XLSX adapter (S1 read / S7 write, excel_to_db/excel_to_db.py:19-39
  * and web_scheduler.py:3615-3718) built on JDK zip + StAX only — no external
  * library ships in /opt/spark/jars. Covers the subset the reference's
  * workload uses: one worksheet, header row, string/number cells (inline or
  * shared strings). Driver-side by design: the reference materializes one
  * xlsx per export anyway; large-scale data paths use parquet/csv.
  *
  * Both directions stream: the reader walks each XML part once, straight
  * from the zip entry, into per-column arrays; the writer streams each
  * sheet's XML into the zip. Every part is parsed by the JDK's own StAX
  * parser with DTDs refused, so a workbook cannot pull local files or
  * URLs into its cells through external entities.
  */
object Xlsx {

  // ---------- write ----------

  private val Preamble = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""

  private def colRef(c: Int): String = { // 0 -> A, 26 -> AA
    var n = c + 1; val sb = new StringBuilder
    while (n > 0) { val r = (n - 1) % 26; sb.insert(0, ('A' + r).toChar); n = (n - 1) / 26 }
    sb.toString
  }

  /** XML-escape `s` into `w`, writing the runs between escaped characters
    * whole (a per-character write takes the writer's lock each time). */
  private def writeEscaped(w: Writer, s: String): Unit = {
    var from = 0
    var i = 0
    while (i < s.length) {
      val esc = s.charAt(i) match {
        case '&' => "&amp;"
        case '<' => "&lt;"
        case '>' => "&gt;"
        case '"' => "&quot;"
        case _ => null
      }
      if (esc != null) {
        w.write(s, from, i - from); w.write(esc); from = i + 1
      }
      i += 1
    }
    w.write(s, from, s.length - from)
  }

  /** Write a driver-small DataFrame to a single-sheet .xlsx. */
  def write(df: DataFrame, path: String, maxRows: Int = 100000): Unit =
    writeSheets(Seq("Sheet1" -> df), path, maxRows)

  /** Write one worksheet per (name, DataFrame) — header row + inline-string
    * / numeric cells. Finite JVM numerics become numeric cells; NaN and
    * infinities, which a numeric cell cannot hold, become strings. Collects —
    * callers bound the size, as the reference does for its export
    * artifacts. */
  def writeSheets(sheets: Seq[(String, DataFrame)], path: String,
                  maxRows: Int = 100000): Unit = {
    require(sheets.nonEmpty, "at least one sheet required")
    def sheetXml(w: Writer, df: DataFrame): Unit = {
      val names = df.schema.fieldNames
      val rows = df.limit(maxRows).collect()
      val refs = names.indices.map(colRef).toArray
      def open(c: Int, r: String): Unit = {
        w.write("<c r=\""); w.write(refs(c)); w.write(r)
      }
      def text(c: Int, r: String, s: String): Unit = {
        open(c, r); w.write("\" t=\"inlineStr\"><is><t xml:space=\"preserve\">")
        writeEscaped(w, s); w.write("</t></is></c>")
      }
      def number(c: Int, r: String, v: String): Unit = {
        open(c, r); w.write("\"><v>"); w.write(v); w.write("</v></c>")
      }
      def real(c: Int, r: String, d: Double, repr: String): Unit =
        if (d.isNaN || d.isInfinite) text(c, r, repr) else number(c, r, repr)
      w.write(Preamble)
      w.write("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
      w.write("<row r=\"1\">")
      names.indices.foreach(c => text(c, "1", names(c)))
      w.write("</row>")
      var i = 0
      while (i < rows.length) {
        val row = rows(i)
        val r = Integer.toString(i + 2)
        w.write("<row r=\""); w.write(r); w.write("\">")
        var c = 0
        while (c < names.length) {
          row.get(c) match {
            case null =>
            case d: Double => real(c, r, d, d.toString)
            case f: Float => real(c, r, f.toDouble, f.toString)
            case n: java.math.BigDecimal => number(c, r, n.toPlainString)
            case n @ (_: Long | _: Int | _: Short | _: Byte) => number(c, r, n.toString)
            case other => text(c, r, other.toString)
          }
          c += 1
        }
        w.write("</row>")
        i += 1
      }
      w.write("</sheetData></worksheet>")
    }

    // write-aside + rename: a mid-write failure (disk full, a sheet's
    // collect throwing) must neither leak the ZipOutputStream fd nor
    // leave a truncated .xlsx at the destination that a later reader
    // would trust
    val dest = Paths.get(path).toAbsolutePath
    val tmp = Files.createTempFile(
      dest.getParent, "." + dest.getFileName.toString + ".", ".tmp")
    val zos = new ZipOutputStream(Files.newOutputStream(tmp))
    zos.setLevel(Deflater.BEST_SPEED)
    // never closed itself: closing it would close the zip stream mid-way
    val w = new BufferedWriter(new OutputStreamWriter(zos, UTF_8), 1 << 16)
    def entry(name: String)(body: => Unit): Unit = {
      zos.putNextEntry(new ZipEntry(name))
      body; w.flush(); zos.closeEntry()
    }
    val idx = sheets.indices
    try {
      entry("[Content_Types].xml") {
        w.write(Preamble)
        w.write("""<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
          """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
          """<Default Extension="xml" ContentType="application/xml"/>""" +
          """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""")
        idx.foreach(i => w.write(
          s"""<Override PartName="/xl/worksheets/sheet${i + 1}.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>"""))
        w.write("</Types>")
      }
      entry("_rels/.rels") {
        w.write(Preamble)
        w.write("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
          """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/>""" +
          "</Relationships>")
      }
      entry("xl/workbook.xml") {
        w.write(Preamble)
        w.write("""<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
          "<sheets>")
        idx.foreach { i =>
          w.write("<sheet name=\""); writeEscaped(w, sheets(i)._1)
          w.write(s"""" sheetId="${i + 1}" r:id="rId${i + 1}"/>""")
        }
        w.write("</sheets></workbook>")
      }
      entry("xl/_rels/workbook.xml.rels") {
        w.write(Preamble)
        w.write("""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""")
        idx.foreach(i => w.write(
          s"""<Relationship Id="rId${i + 1}" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet${i + 1}.xml"/>"""))
        w.write("</Relationships>")
      }
      sheets.zipWithIndex.foreach { case ((_, df), i) =>
        entry(s"xl/worksheets/sheet${i + 1}.xml")(sheetXml(w, df))
      }
      zos.close()
      Files.move(tmp, dest, StandardCopyOption.REPLACE_EXISTING)
    } catch { case t: Throwable =>
      try zos.close() catch { case _: Throwable => () }
      Files.deleteIfExists(tmp)
      throw t
    }
  }

  // ---------- read ----------

  private val IntegralPattern = java.util.regex.Pattern.compile("-?\\d+")

  /** Run `parse` over one zip entry with the JDK's StAX parser (never an
    * implementation that happens to be on the classpath), refusing any
    * DOCTYPE — and with it every external entity. None when the entry is
    * absent; a malformed or refused part is an IllegalArgumentException
    * naming the entry. */
  private def withReader[A](zf: ZipFile, entry: String)(
      parse: XMLStreamReader => A): Option[A] =
    Option(zf.getEntry(entry)).map { e =>
      val f = XMLInputFactory.newDefaultFactory()
      f.setProperty(XMLInputFactory.SUPPORT_DTD, java.lang.Boolean.FALSE)
      f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, java.lang.Boolean.FALSE)
      val in = zf.getInputStream(e)
      try {
        val r = new StreamReaderDelegate(f.createXMLStreamReader(in)) {
          override def next(): Int = {
            val ev = super.next()
            if (ev == DTD) throw new XMLStreamException("DOCTYPE is not allowed")
            ev
          }
        }
        try parse(r) finally r.close()
      } catch { case x: XMLStreamException =>
        throw new IllegalArgumentException(
          s"cannot read $entry in ${zf.getName}: ${x.getMessage}", x)
      } finally in.close()
    }

  /** Workbook sheet names in declared order (workbook.xml <sheet> order —
    * the order pandas indexes by). */
  def sheetNames(path: String): Seq[String] = {
    val zf = new ZipFile(new File(path))
    try parseWorkbookSheets(zf).map(_._1)
    finally zf.close()
  }

  /** Read one worksheet of an .xlsx into a DataFrame: first row = header;
    * numeric columns inferred (LongType if all integral, else DoubleType,
    * else StringType) — pandas read_excel's inference shape. Supports inline
    * and shared strings.
    *
    * Sheet selection follows `read_excel_data(file_path, sheet_name=0)`
    * (excel_to_db/excel_to_db.py:19-39): `sheetName` by name when given,
    * else `sheetIndex` by declared order (default first sheet). Unknown
    * name / out-of-range index is an error, like pandas. */
  def read(spark: SparkSession, path: String,
           sheetName: Option[String] = None, sheetIndex: Int = 0): DataFrame = {
    val zf = new ZipFile(new File(path))
    val sheet = try {
      val sheets = parseWorkbookSheets(zf)
      val entryPath = sheetName match {
        case Some(n) => sheets.find(_._1 == n).map(_._2).getOrElse(
          throw new IllegalArgumentException(
            s"no sheet named '$n' in $path (have: ${sheets.map(_._1).mkString(", ")})"))
        case None =>
          if (sheets.isEmpty && sheetIndex == 0) "xl/worksheets/sheet1.xml"
          else if (sheetIndex < 0 || sheetIndex >= sheets.length)
            throw new IllegalArgumentException(
              s"sheet index $sheetIndex out of range (0..${sheets.length - 1}) in $path")
          else sheets(sheetIndex)._2
      }
      val shared = withReader(zf, "xl/sharedStrings.xml")(parseSharedStrings)
        .getOrElse(Array.empty[String])
      withReader(zf, entryPath)(parseSheet(_, shared))
        .getOrElse(throw new IllegalArgumentException(s"no $entryPath in $path"))
    } finally zf.close()
    require(sheet.header != null, s"empty sheet in $path")

    val width = sheet.header.length
    val n = sheet.rows
    val schema = StructType(sheet.header.indices.map(c =>
      StructField(sheet.header(c), typeColumn(sheet.cols(c), n), nullable = true)))
    val data = new Array[Row](n)
    var i = 0
    while (i < n) {
      val values = new Array[Any](width)
      var c = 0
      while (c < width) { values(c) = sheet.cols(c)(i); c += 1 }
      data(i) = new GenericRow(values)
      i += 1
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(ArraySeq.unsafeWrapArray(data)), schema)
  }

  /** Infer one column's type from its `n` cell strings (nulls are empty
    * cells) and convert the cells to it in place: LongType when every value
    * is an integer that fits, else DoubleType when every value parses, else
    * StringType (also for a column with no values). */
  private def typeColumn(cells: Array[AnyRef], n: Int): DataType = {
    def convertAll(parse: String => AnyRef): Boolean = {
      val out = new Array[AnyRef](n)
      try {
        var i = 0
        while (i < n) {
          if (cells(i) != null) out(i) = parse(cells(i).asInstanceOf[String])
          i += 1
        }
        System.arraycopy(out, 0, cells, 0, n)
        true
      } catch { case _: NumberFormatException => false }
    }
    val m = IntegralPattern.matcher("")
    var seen = false
    var integral = true
    var i = 0
    while (i < n && integral) {
      if (cells(i) != null) {
        seen = true
        integral = m.reset(cells(i).asInstanceOf[String]).matches()
      }
      i += 1
    }
    if (!seen) StringType
    else if (integral && convertAll(java.lang.Long.valueOf)) LongType
    else if (convertAll(java.lang.Double.valueOf)) DoubleType
    else StringType
  }

  /** (sheet name, zip entry path) in workbook declaration order, resolved
    * through workbook.xml.rels (r:id → worksheets/sheetN.xml). */
  private def parseWorkbookSheets(zf: ZipFile): Seq[(String, String)] = {
    val rels = withReader(zf, "xl/_rels/workbook.xml.rels") { r =>
      val m = mutable.Map.empty[String, String]
      while (r.hasNext)
        if (r.next() == START_ELEMENT && r.getLocalName == "Relationship")
          m(r.getAttributeValue(null, "Id")) = r.getAttributeValue(null, "Target")
      m
    }
    def sheets(rels: collection.Map[String, String]) =
      withReader(zf, "xl/workbook.xml") { r =>
        val out = mutable.ArrayBuffer.empty[(String, String)]
        while (r.hasNext)
          if (r.next() == START_ELEMENT && r.getLocalName == "sheet") {
            // r:id, whatever prefix the workbook binds the relationship
            // namespace to
            val rid = (0 until r.getAttributeCount)
              .find(i => r.getAttributeLocalName(i) == "id").map(r.getAttributeValue)
            rid.flatMap(rels.get).foreach(t =>
              out += r.getAttributeValue(null, "name") -> s"xl/${t.stripPrefix("/xl/")}")
          }
        out.toSeq
      }
    rels.flatMap(sheets).getOrElse(Seq.empty)
  }

  /** Text of the <t> runs of a rich-text element (a shared string's <si>
    * or an inline cell's <is>), read from just after its start tag up to
    * its end tag. */
  private def richText(r: XMLStreamReader, end: String, sb: java.lang.StringBuilder): String = {
    sb.setLength(0)
    var open = true
    while (open && r.hasNext) r.next() match {
      case START_ELEMENT if r.getLocalName == "t" => sb.append(r.getElementText)
      case END_ELEMENT => open = r.getLocalName != end
      case _ =>
    }
    sb.toString
  }

  private def parseSharedStrings(r: XMLStreamReader): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    while (r.hasNext)
      if (r.next() == START_ELEMENT && r.getLocalName == "si") out += richText(r, "si", sb)
    out.toArray
  }

  /** A parsed worksheet: the header (null when the sheet has no row) and
    * `rows` body rows held as per-column cell strings, null for an empty
    * cell. */
  private final case class Sheet(header: Array[String], cols: Array[Array[AnyRef]], rows: Int)

  /** Column index of a cell reference ("B3" -> 1); -1 when it has no
    * letters. */
  private def colIndex(ref: String): Int = {
    var c = 0
    var i = 0
    while (i < ref.length && ref.charAt(i).isLetter) {
      c = c * 26 + (ref.charAt(i) - 'A' + 1)
      i += 1
    }
    c - 1
  }

  /** Walk sheetData once. The first row is the header and fixes the width:
    * cells right of it are dropped, missing cells (gaps, short rows,
    * cells without a value) stay null. A cell without a reference follows
    * the previous one. */
  private def parseSheet(r: XMLStreamReader, shared: Array[String]): Sheet = {
    val headerCells = mutable.ArrayBuffer.empty[(Int, String)]
    var header: Array[String] = null
    var cols: Array[Array[AnyRef]] = Array.empty
    var capacity = 0
    var rows = 0 // body rows begun so far; the current one is rows - 1
    var col = -1
    var kind: String = null
    var text: String = null
    val sb = new java.lang.StringBuilder
    while (r.hasNext) r.next() match {
      case START_ELEMENT => r.getLocalName match {
        case "row" =>
          col = -1
          if (header != null) {
            if (rows == capacity) {
              capacity = math.max(1024, capacity * 2)
              cols = cols.map(java.util.Arrays.copyOf(_, capacity))
            }
            rows += 1
          }
        case "c" =>
          val ref = r.getAttributeValue(null, "r")
          col = if (ref == null) col + 1 else colIndex(ref)
          kind = r.getAttributeValue(null, "t")
          text = null
        case "is" => text = richText(r, "is", sb)
        case "v" =>
          val v = r.getElementText
          text = if (kind == "s") shared(v.trim.toInt) else v
        case _ =>
      }
      case END_ELEMENT => r.getLocalName match {
        case "c" if text != null && col >= 0 =>
          if (header == null) headerCells += col -> text
          else if (col < cols.length) cols(col)(rows - 1) = text
        case "row" if header == null =>
          val width = if (headerCells.isEmpty) 0 else headerCells.map(_._1).max + 1
          header = Array.fill(width)("")
          headerCells.foreach { case (c, s) => header(c) = s }
          cols = Array.fill(width)(Array.empty[AnyRef])
        case _ =>
      }
      case _ =>
    }
    Sheet(header, cols, rows)
  }
}
