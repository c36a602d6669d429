package graft.sources

import graft.SparkSuite

class XlsxSpec extends SparkSuite {

  private val mainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
  private val relNs = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val pkgRelNs = "http://schemas.openxmlformats.org/package/2006/relationships"

  /** A workbook zip with exactly the given (entry, XML) parts. */
  private def zipOf(path: String, parts: (String, String)*): String = {
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try parts.foreach { case (name, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    } finally zos.close()
    path
  }

  private def entryText(path: String, entry: String): String = {
    val zf = new java.util.zip.ZipFile(path)
    try new String(zf.getInputStream(zf.getEntry(entry)).readAllBytes(), "UTF-8")
    finally zf.close()
  }

  private def sheetXml(rows: String) =
    s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><worksheet xmlns="$mainNs"><sheetData>$rows</sheetData></worksheet>"""

  /** Two sheets whose declared order differs from their entry names, so
    * selection must go through workbook.xml.rels ("Meta" first, stored as
    * sheet2.xml behind an absolute target; "Data" second, as sheet1.xml). */
  private def handBuiltParts(data: String, shared: Option[String]): Seq[(String, String)] = Seq(
      "xl/workbook.xml" -> (
        s"""<?xml version="1.0" encoding="UTF-8"?><workbook xmlns="$mainNs" xmlns:r="$relNs"><sheets>""" +
        """<sheet name="Meta" sheetId="1" r:id="rId2"/><sheet name="Data" sheetId="2" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" -> (
        s"""<?xml version="1.0" encoding="UTF-8"?><Relationships xmlns="$pkgRelNs">""" +
        s"""<Relationship Id="rId1" Type="$relNs/worksheet" Target="worksheets/sheet1.xml"/>""" +
        s"""<Relationship Id="rId2" Type="$relNs/worksheet" Target="/xl/worksheets/sheet2.xml"/>""" +
        s"""<Relationship Id="rId3" Type="$relNs/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" -> data,
      "xl/worksheets/sheet2.xml" -> sheetXml(
        """<row r="1"><c r="A1" t="inlineStr"><is><t>k</t></is></c></row>""" +
        """<row r="2"><c r="A2" t="inlineStr"><is><t>v</t></is></c></row>""")) ++
    shared.map("xl/sharedStrings.xml" -> _)

  private def handBuiltWorkbook(dir: String, data: String,
                                shared: Option[String] = None): String =
    zipOf(dir + "/hand.xlsx", handBuiltParts(data, shared): _*)

  test("parser parity: rich text, inline, formula, boolean, gap and empty cells") {
    val sst = s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$mainNs" count="4" uniqueCount="4">""" +
      "<si><t>id</t></si><si><r><t>a</t></r><r><rPr><b/></rPr><t>b</t></r></si>" +
      """<si><t xml:space="preserve"> calc </t></si><si><t>note</t></si></sst>"""
    val data = sheetXml(
      """<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="inlineStr"><is><t>label</t></is></c>""" +
        """<c r="C1" t="inlineStr"><is><t>flag</t></is></c><c r="D1" t="s"><v>2</v></c>""" +
        """<c r="E1" t="s"><v>3</v></c></row>""" +
      // B2: rich-text shared string; C2: self-closing (no value)
      """<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>1</v></c><c r="C2"/>""" +
        """<c r="D2" t="str"><f>"a-"&amp;A2</f><v>a-1</v></c>""" +
        """<c r="E2" t="inlineStr"><is><r><t>x</t></r><r><t>y</t></r></is></c></row>""" +
      // B3: gap column (no cell at all)
      """<row r="3"><c r="A3"><v>2</v></c><c r="C3" t="b"><v>1</v></c>""" +
        """<c r="D3" t="str"><f>"a-"&amp;A3</f><v>a-2</v></c>""" +
        """<c r="E3" t="inlineStr"><is><t>&lt;z&gt;</t></is></c></row>""" +
      // short row: E4 missing; F4 lies beyond the header and is dropped
      """<row r="4"><c r="A4"><v>3</v></c><c r="B4" t="inlineStr"><is><t>c</t></is></c>""" +
        """<c r="C4" t="b"><v>0</v></c><c r="D4" t="str"><f>"a-"&amp;A4</f><v>a-3</v></c>""" +
        """<c r="F4"><v>9</v></c></row>""")
    val path = handBuiltWorkbook(tmpDir("xlsx"), data, Some(sst))

    assert(Xlsx.sheetNames(path) == Seq("Meta", "Data"))
    val df = Xlsx.read(spark, path, sheetName = Some("Data"))
    assert(df.columns.toSeq == Seq("id", "label", "flag", " calc ", "note"))
    assert(df.schema.map(_.dataType.typeName) ==
      Seq("long", "string", "long", "string", "string"))
    val rows = df.orderBy("id").collect().map(_.toSeq)
    assert(rows.toSeq == Seq(
      Seq(1L, "ab", null, "a-1", "xy"),
      Seq(2L, null, 1L, "a-2", "<z>"),
      Seq(3L, "c", 0L, "a-3", null)))
    // the same sheet by declared index, and the other sheet by default
    assert(Xlsx.read(spark, path, sheetIndex = 1).count() == 3)
    val meta = Xlsx.read(spark, path)
    assert(meta.columns.toSeq == Seq("k") && meta.collect().map(_.getString(0)).toSeq == Seq("v"))
  }

  test("XML parts refuse a DOCTYPE: no external entity reaches a cell") {
    val dir = tmpDir("xlsx")
    val secret = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "secret.txt"), "TOP-SECRET-42").toUri
    val dtd = java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "evil.dtd"),
      s"""<!ENTITY xxe SYSTEM "$secret">""").toUri
    val sst = s"""<?xml version="1.0" encoding="UTF-8"?><sst xmlns="$mainNs"><si><t>h</t></si></sst>"""
    val data = sheetXml("""<row r="1"><c r="A1" t="s"><v>0</v></c></row>""" +
      """<row r="2"><c r="A2" t="inlineStr"><is><t>&xxe;</t></is></c></row>""")
    val parts = handBuiltParts(data, Some(sst))
    for {
      doctype <- Seq(s"""<!DOCTYPE x SYSTEM "$dtd">""",
        s"""<!DOCTYPE x [<!ENTITY xxe SYSTEM "$secret">]>""")
      (entry, _) <- parts if entry != "xl/worksheets/sheet2.xml"
    } {
      val path = zipOf(dir + "/evil.xlsx", parts.map {
        case (`entry`, xml) => entry -> xml.replaceFirst("\\?>", "?>" + doctype)
        case other => other
      }: _*)
      val e = intercept[IllegalArgumentException](
        Xlsx.read(spark, path, sheetName = Some("Data")).collect())
      assert(e.getMessage.contains(entry), e.getMessage)
      val messages = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => String.valueOf(x.getMessage))
      assert(!messages.exists(_.contains("TOP-SECRET")))
    }
  }

  test("numeric cells: finite JVM numerics are numbers, non-finite values text") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("dec", DecimalType(10, 2)),
      StructField("f", FloatType), StructField("s", ShortType),
      StructField("b", ByteType), StructField("d", DoubleType),
      StructField("big", DecimalType(20, 0))))
    val df = spark.createDataFrame(java.util.Arrays.asList(
      Row(new java.math.BigDecimal("12.50"), 1.25f, 7.toShort, 3.toByte, Double.NaN,
        new java.math.BigDecimal("12345678901234567890")),
      Row(new java.math.BigDecimal("-3.10"), Float.NaN, (-2).toShort, 0.toByte,
        Double.NegativeInfinity, java.math.BigDecimal.ONE)), schema)
    val path = tmpDir("xlsx") + "/numeric.xlsx"
    Xlsx.write(df, path)
    val xml = entryText(path, "xl/worksheets/sheet1.xml")
    Seq("""<c r="A2"><v>12.50</v></c>""", """<c r="B2"><v>1.25</v></c>""",
      """<c r="C2"><v>7</v></c>""", """<c r="D2"><v>3</v></c>""",
      """<c r="E2" t="inlineStr"><is><t xml:space="preserve">NaN</t></is></c>""",
      """<c r="B3" t="inlineStr"><is><t xml:space="preserve">NaN</t></is></c>""",
      """<c r="E3" t="inlineStr"><is><t xml:space="preserve">-Infinity</t></is></c>""",
      """<c r="F2"><v>12345678901234567890</v></c>""")
      .foreach(cell => assert(xml.contains(cell), cell))

    val back = Xlsx.read(spark, path)
    assert(back.schema.map(_.dataType.typeName) ==
      Seq("double", "double", "long", "long", "double", "double"))
    val rows = back.collect()
    assert(rows(0).getDouble(0) == 12.5 && rows(1).getDouble(0) == -3.1)
    assert(rows(0).getDouble(1) == 1.25 && rows(1).getDouble(1).isNaN)
    assert(rows.map(_.getLong(2)).toSeq == Seq(7L, -2L))
    assert(rows.map(_.getLong(3)).toSeq == Seq(3L, 0L))
    assert(rows(0).getDouble(4).isNaN && rows(1).getDouble(4) == Double.NegativeInfinity)
    // integral text too wide for a long reads as a double, not an error
    assert(rows.map(_.getDouble(5)).toSeq == Seq(1.2345678901234567e19, 1.0))
  }

  test("golden sheet XML for a fixed 3-row frame") {
    import spark.implicits._
    val df = Seq((1L, Option("a & <b>"), 1.5), (2L, None, -0.25), (3L, Some("\"q\""), 1.0e10))
      .toDF("id", "name", "amt")
    val path = tmpDir("xlsx") + "/golden.xlsx"
    Xlsx.write(df, path)
    def str(ref: String, s: String) =
      s"""<c r="$ref" t="inlineStr"><is><t xml:space="preserve">$s</t></is></c>"""
    assert(entryText(path, "xl/worksheets/sheet1.xml") ==
      """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      s"""<worksheet xmlns="$mainNs"><sheetData>""" +
      s"""<row r="1">${str("A1", "id")}${str("B1", "name")}${str("C1", "amt")}</row>""" +
      s"""<row r="2"><c r="A2"><v>1</v></c>${str("B2", "a &amp; &lt;b&gt;")}<c r="C2"><v>1.5</v></c></row>""" +
      """<row r="3"><c r="A3"><v>2</v></c><c r="C3"><v>-0.25</v></c></row>""" +
      s"""<row r="4"><c r="A4"><v>3</v></c>${str("B4", "&quot;q&quot;")}<c r="C4"><v>1.0E10</v></c></row>""" +
      "</sheetData></worksheet>")
  }

  test("xlsx write→read round-trip: header, types inferred, values intact (S1/S7)") {
    import spark.implicits._
    val df = Seq(
      (1L, "widget & co", 19.99, "2026-01-02"),
      (2L, "<gadget>", 5.5, "2026-01-03"),
      (3L, "naïve 中文", 100.0, "2026-01-04"))
      .toDF("id", "name", "price", "order_date")
    val path = tmpDir("xlsx") + "/out.xlsx"
    Xlsx.write(df, path)

    val back = Xlsx.read(spark, path)
    assert(back.columns.toSeq == Seq("id", "name", "price", "order_date"))
    assert(back.schema("id").dataType.typeName == "long")
    assert(back.schema("price").dataType.typeName == "double")
    assert(back.schema("name").dataType.typeName == "string")
    val rows = back.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows(0).getString(1) == "widget & co") // XML escaping round-trips
    assert(rows(1).getString(1) == "<gadget>")
    assert(rows(2).getString(1) == "naïve 中文")   // UTF-8 round-trips
    assert(rows(0).getDouble(2) == 19.99)
  }

  test("xlsx full-refresh ingest: the reference's excel_to_db flow (S1+S3)") {
    // export orders top-10 → xlsx → read back → truncate-load into a table
    val top = graft.operators.Relational.topOrders(spark, sfDir)
    val path = tmpDir("xlsx") + "/orders.xlsx"
    Xlsx.write(top, path)
    val staged = Xlsx.read(spark, path)
    spark.sql("DROP TABLE IF EXISTS xlsx_tgt")
    assert(Ingest.truncateLoad(staged, "xlsx_tgt") == 10)
    assert(Ingest.truncateLoad(staged, "xlsx_tgt") == 10) // idempotent refresh
    // values survived the round trip
    val a = top.selectExpr("sum(o_totalprice)").collect().head.getDouble(0)
    val b = spark.table("xlsx_tgt").selectExpr("sum(o_totalprice)")
      .collect().head.getDouble(0)
    assert(math.abs(a - b) < 1e-6)
    spark.sql("DROP TABLE xlsx_tgt")
  }

  test("multi-sheet workbook: select by name or index (excel_to_db.py:19-39)") {
    import spark.implicits._
    val sales = Seq((1L, "east", 100.0), (2L, "west", 250.0)).toDF("id", "region", "amt")
    val staff = Seq((10L, "alice"), (11L, "bob"), (12L, "carol")).toDF("id", "name")
    val path = tmpDir("xlsx") + "/book.xlsx"
    Xlsx.writeSheets(Seq("Sales" -> sales, "Staff" -> staff), path)
    assert(Xlsx.sheetNames(path) == Seq("Sales", "Staff"))
    // by name
    val byName = Xlsx.read(spark, path, sheetName = Some("Staff"))
    assert(byName.columns.toSeq == Seq("id", "name") && byName.count() == 3)
    // by index (pandas sheet_name=0 default → first sheet)
    val first = Xlsx.read(spark, path)
    assert(first.columns.toSeq == Seq("id", "region", "amt") && first.count() == 2)
    val second = Xlsx.read(spark, path, sheetIndex = 1)
    assert(second.orderBy("id").collect().map(_.getString(1)).toSeq ==
      Seq("alice", "bob", "carol"))
    // errors, like pandas
    intercept[IllegalArgumentException](Xlsx.read(spark, path, sheetName = Some("Nope")))
    intercept[IllegalArgumentException](Xlsx.read(spark, path, sheetIndex = 2))
  }

  test("mid-write failure leaves no truncated artifact (write-aside + rename)") {
    import spark.implicits._
    val dir = tmpDir("xlsx")
    val path = dir + "/book.xlsx"
    val good = Seq((1L, "a")).toDF("id", "name")
    Xlsx.writeSheets(Seq("Good" -> good), path)
    val before = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // a sheet whose collect throws mid-write must neither replace the
    // existing good workbook with a truncated zip nor leave a temp file
    val exploding = good.filter(org.apache.spark.sql.functions
      .expr("assert_true(id > 99)").isNull)
    intercept[Throwable](
      Xlsx.writeSheets(Seq("Good" -> good, "Boom" -> exploding), path))
    assert(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
      .sameElements(before), "destination workbook was clobbered")
    val leftovers = new java.io.File(dir).listFiles()
      .map(_.getName).filter(_.endsWith(".tmp"))
    assert(leftovers.isEmpty, s"temp leftovers: ${leftovers.toSeq}")
  }

  test("empty cells become nulls and don't shift columns") {
    import spark.implicits._
    val df = Seq((1L, Option.empty[String], 2.0), (2L, Some("x"), 3.0))
      .toDF("a", "b", "c")
    val path = tmpDir("xlsx") + "/nulls.xlsx"
    Xlsx.write(df, path)
    val rows = Xlsx.read(spark, path).orderBy("a").collect()
    assert(rows(0).isNullAt(1) && rows(0).getDouble(2) == 2.0)
    assert(rows(1).getString(1) == "x")
  }
}
