package graft.perfbench

import java.nio.file.{Files, Paths}
import java.sql.DriverManager

import scala.util.control.NonFatal

import graft.alerts.AlertChecker
import graft.sources.{Jdbc, Xlsx}

/** `etl_ingest`: the reference's `excel_to_db` cycle at the BASELINE size,
  * against embedded Derby (default durability: flush on commit).
  *
  *  1. `Xlsx.read` a seeded 30,920-row Shopify-order sheet;
  *  2. `Jdbc.truncateLoad` it into `erp_system.dwd_sale_shopify_order_di`;
  *  3. `Jdbc.runScript` sql_scripts row 30 (truncate + insert-select);
  *  4. `AlertChecker.check` the row-33 alias projection, then `Xlsx.write`
  *     its export;
  *  5. `Jdbc.insertRecords` a 1,000-record JSON-shaped batch.
  *
  * The reference's column `date` is a reserved word in Derby; the sheet
  * calls it `order_date`, and the row-33 projection selects that column. */
object Etl {
  val source = "erp_system.dwd_sale_shopify_order_di"
  val target = "erp_system.dwd_sale_shopify_orders_di"
  val records = "erp_system.api_records"
  val row30: String =
    s"""truncate table $target;
       |insert into $target
       |Select  *
       |from $source ;""".stripMargin
  val row33: String =
    s"""Select  order_number as 订单号,source_name as 店铺,sku as sku,order_date as 日期,created_at  as 创建日期,total_price 总价格
       |from $source""".stripMargin

  /** One cycle: wall time per step, the process CPU time of its steps
    * (the harness's read-back checks between them are not counted), and
    * its output checks. */
  final case class Cycle(stepMs: Seq[(String, Double)], cpuMs: Double, checks: Seq[Check]) {
    def totalMs: Double = stepMs.map(_._2).sum
    def ok: Boolean = checks.forall(_.ok)
  }

  private def scalar(url: String, sql: String): Any = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      rs.next(); rs.getObject(1)
    } finally c.close()
  }

  private def exec(url: String, sqls: String*): Unit = {
    val c = DriverManager.getConnection(url)
    try sqls.foreach(s => c.createStatement().execute(s)) finally c.close()
  }

  /** Data rows of the first sheet of an .xlsx, counted from its XML. */
  def xlsxDataRows(path: String): Long = {
    val zf = new java.util.zip.ZipFile(path)
    try {
      val xml = new String(zf.getInputStream(zf.getEntry("xl/worksheets/sheet1.xml"))
        .readAllBytes(), "UTF-8")
      "<row[ >]".r.findAllMatchIn(xml).size - 1L
    } finally zf.close()
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val rows = if (ctx.smoke) 3092 else 30920
    val batch = if (ctx.smoke) 100 else 1000
    // the alert fires on more than 97 % of the sheet's rows
    val alertThreshold = rows * 97L / 100
    val sheet = s"${ctx.work}/orders.xlsx"
    val warm = s"${ctx.work}/orders_warm.xlsx"
    val expect = XlsxGen.orders(sheet, ctx.seed, rows)
    XlsxGen.orders(warm, ctx.seed + 1, 1000)
    val recs = XlsxGen.records(ctx.seed, batch)
    val exportDir = Paths.get(ctx.work, "exports")
    Files.createDirectories(exportDir)

    // set-up: boot Derby, create the schema and the tables the scripts
    // expect, and warm the read and load paths on a 1,000-row sheet
    val setupT0 = Stats.now()
    val path = s"${ctx.work}/derby/etl"
    val t = Jdbc.derby(path)
    val url = s"jdbc:derby:$path;create=true"
    exec(url, "CREATE SCHEMA erp_system",
      s"CREATE TABLE $records (column1 VARCHAR(64), column2 BIGINT, column3 VARCHAR(16))")
    ctx.tracer.span("setup.truncate_load", "sources")(
      Jdbc.truncateLoad(Xlsx.read(spark, warm), t, source))
    exec(url, s"CREATE TABLE $target AS SELECT * FROM $source WITH NO DATA")

    var inserted = 0L
    def cycle(n: Int): Cycle = {
      var stepCpuNs = 0L
      val steps = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
      val checks = scala.collection.mutable.ArrayBuffer.empty[Check]
      def step[A](name: String, layer: String)(f: => A): A = {
        val cpu0 = Stats.cpuNs()
        val (a, ms) = Stats.timed(ctx.tracer.span(name, layer)(f))
        stepCpuNs += Stats.cpuNs() - cpu0
        steps += (name -> ms); a
      }
      ctx.tracer.trace(s"cycle$n", "bench") {
        val df = step("xlsx_read", "sources")(Xlsx.read(spark, sheet))
        val loaded = step("jdbc_truncate_load", "sources")(Jdbc.truncateLoad(df, t, source))
        val srcCount = scalar(url, s"SELECT COUNT(*) FROM $source").toString.toLong
        checks += Check("step 2: source rows", loaded == rows && srcCount == rows,
          s"truncateLoad returned $loaded, Derby holds $srcCount, sheet has $rows")
        step("jdbc_run_script", "sqlx")(Jdbc.runScript(spark, t, row30))
        val tgtCount = scalar(url, s"SELECT COUNT(*) FROM $target").toString.toLong
        val cents = math.round(scalar(url, s"SELECT SUM(total_price) FROM $target")
          .toString.toDouble * 100)
        checks += Check("step 3: target rows and amount sum",
          tgtCount == rows && cents == expect.totalCents,
          s"target $tgtCount rows, sum $cents cents; generator ${expect.totalCents} cents")
        val res = step("alert_check", "alerts") {
          val df33 = Jdbc.runScript(spark, t, row33).head.result.get
          (df33, AlertChecker.check("预警-查询订单", row33, df33, "rows_gt", alertThreshold))
        }
        checks += Check("step 4: alert triggers on every row",
          res._2.triggered && res._2.rowCount == rows && res._2.columns.head == "订单号",
          s"triggered=${res._2.triggered} rows=${res._2.rowCount} columns=${res._2.columns}")
        val out = exportDir.resolve(s"alert_$n.xlsx").toString
        step("xlsx_write", "sources")(Xlsx.write(res._1, out))
        val back = xlsxDataRows(out)
        Files.deleteIfExists(Paths.get(out))
        checks += Check("step 4: exported xlsx rows", back == rows, s"$back data rows")
        val ins = step("jdbc_insert_records", "sources")(
          Jdbc.insertRecords(spark, t, records, recs))
        inserted += batch
        val have = scalar(url, s"SELECT COUNT(*) FROM $records").toString.toLong
        checks += Check("step 5: insertRecords", ins == Right(batch.toLong) && have == inserted,
          s"returned $ins, table holds $have, expected $inserted")
        graft.core.Mat.releaseAll(blocking = true)
      }
      Cycle(steps.toSeq, stepCpuNs / 1e6, checks.toSeq)
    }

    def runCycle(n: Int): Cycle = try cycle(n) catch { case NonFatal(e) =>
      Cycle(Nil, 0, Seq(Check(s"cycle $n ran", ok = false, e.toString.take(300))))
    }
    // warm-up, part of set-up: full-size cycles, untimed, until the JIT has
    // compiled the read/load paths (the first two cycles run ~2x slower,
    // and cycles keep getting faster up to about the fifth)
    val warmCycles = (1 to (if (ctx.smoke) 1 else 4)).map(i => runCycle(-i))
    val setupS = ctx.sessionS + Stats.ms(setupT0, Stats.now()) / 1000
    ctx.probes.foreach(_.reset(ctx.tracer))

    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    val tStart = Stats.now()
    while (cycles.size < 2 || Stats.ms(tStart, Stats.now()) < ctx.seconds * 1000)
      cycles += runCycle(cycles.size)
    val wallMs = Stats.ms(tStart, Stats.now())
    val cpuMs = Stats.median(cycles.map(_.cpuMs).toSeq)
    val ran = warmCycles ++ cycles
    val good = ran.filter(c => c.ok && c.totalMs <= 30000)
    val failedChecks = ran.flatMap(_.checks).filterNot(_.ok)
    val checks = Seq(Check(s"every check of ${ran.size} cycles",
      failedChecks.isEmpty, failedChecks.take(3).map(c => s"${c.name}: ${c.detail}").mkString("; ")))

    def stepMs(name: String): Seq[Double] = cycles.toSeq.flatMap(_.stepMs.filter(_._1 == name).map(_._2))
    val totals = cycles.map(_.totalMs).toSeq
    val loadMs = cycles.toSeq.map(c => c.stepMs.filter(s => s._1 == "xlsx_read" ||
      s._1 == "jdbc_truncate_load").map(_._2).sum)
    val rowsPerS = rows / (Stats.median(loadMs) / 1000)
    val endToEnd = Seq(
      Metric("cpu_ms_per_op", cpuMs, "ms"),
      Metric("setup_s", setupS, "s"))
    val report = Seq(
      Metric("etl_rows_per_s", rowsPerS, "rows/s"),
      Metric("etl_cycle_p50_s", Stats.median(totals) / 1000, "s"),
      Metric("cpu_ms_per_op", cpuMs, "ms"),
      Metric("setup_s", setupS, "s"),
      Metric("failed_ratio", (ran.size - good.size).toDouble / ran.size, "ratio"),
      Metric("cycles", cycles.size, "count"),
      Metric("sheet_rows", rows, "rows"),
      Metric("insert_batch_records", batch, "records"))
    val perLayer = ctx.probes.toSeq.flatMap { p =>
      def med(n: String) = { val xs = stepMs(n); if (xs.isEmpty) 0.0 else Stats.median(xs) }
      p.sparkMetrics(wallMs, ctx.cores, cycles.size) ++ Seq(
        Metric("spark.jobs_per_cycle", p.sparkStats.jobs.size.toDouble / cycles.size, "count"),
        Metric("sources.xlsx_read_ms", med("xlsx_read"), "ms"),
        Metric("sources.jdbc_truncate_load_ms", med("jdbc_truncate_load"), "ms"),
        Metric("sources.jdbc_run_script_ms", med("jdbc_run_script"), "ms"),
        Metric("alerts.check_ms", med("alert_check"), "ms"),
        Metric("sources.xlsx_write_ms", med("xlsx_write"), "ms"),
        Metric("sources.jdbc_insert_records_ms", med("jdbc_insert_records"), "ms"))
    }
    Result(ran.size.toLong, (ran.size - good.size).toLong, checks, endToEnd, perLayer,
      report, cycles.size, notes = Seq(
        s"cycle ms: ${totals.map(t => f"$t%.0f").mkString(" ")}; read+load ms: " +
          loadMs.map(t => f"$t%.0f").mkString(" "),"Derby runs embedded with its default durability " +
        "(log flushed on every commit)"))
  }
}

/** Seeded spreadsheet and record inputs for `etl_ingest`. */
object XlsxGen {
  final case class Expect(rows: Int, totalCents: Long)

  private def esc(s: String) =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  /** A Shopify-order sheet as Excel writes it: strings in the shared
    * string table, numbers inline. */
  def orders(path: String, seed: Long, n: Int): Expect = {
    val r = new scala.util.Random(seed)
    val shops = Seq("shop-us", "shop-eu", "shop-uk", "shop-au", "shop-ca")
    val strings = new scala.collection.mutable.LinkedHashMap[String, Int]()
    var row = 1
    def ref(c: Int) = s"${('A' + c).toChar}$row"
    def s(c: Int, v: String): String = {
      val i = strings.getOrElseUpdate(v, strings.size)
      s"""<c r="${ref(c)}" t="s"><v>$i</v></c>"""
    }
    val header = Seq("order_number", "source_name", "sku", "order_date",
      "created_at", "total_price")
    val sb = new StringBuilder
    sb.append("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""")
    sb.append("""<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>""")
    sb.append("<row r=\"1\">").append(header.zipWithIndex.map { case (h, c) => s(c, h) }
      .mkString).append("</row>")
    var cents = 0L
    val day0 = java.time.LocalDate.of(2025, 11, 1)
    (0 until n).foreach { i =>
      val day = day0.plusDays(r.nextInt(30))
      val price = 500 + r.nextInt(50000) // cents
      cents += price
      row = i + 2
      sb.append(s"""<row r="$row">""")
        .append(s(0, s"#${100000 + i}")).append(s(1, shops(r.nextInt(shops.size))))
        .append(s(2, f"SKU-${r.nextInt(2000)}%04d")).append(s(3, day.toString))
        .append(s(4, f"$day ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"))
        .append(s"""<c r="${ref(5)}"><v>${java.math.BigDecimal.valueOf(price, 2).toPlainString}</v></c>""")
        .append("</row>")
    }
    sb.append("</sheetData></worksheet>")
    val shared = strings.keys.map(k => s"<si><t>${esc(k)}</t></si>").mkString(
      s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><sst xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" count="${strings.size}" uniqueCount="${strings.size}">""",
      "", "</sst>")
    val ns = "http://schemas.openxmlformats.org"
    val parts = Seq(
      "[Content_Types].xml" -> (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Types xmlns="$ns/package/2006/content-types">""" +
        s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/><Default Extension="xml" ContentType="application/xml"/>""" +
        s"""<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        s"""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/>""" +
        s"""<Override PartName="/xl/sharedStrings.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sharedStrings+xml"/></Types>"""),
      "_rels/.rels" -> (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" -> (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><workbook xmlns="$ns/spreadsheetml/2006/main" xmlns:r="$ns/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="orders" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" -> (s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?><Relationships xmlns="$ns/package/2006/relationships">""" +
        s"""<Relationship Id="rId1" Type="$ns/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/>""" +
        s"""<Relationship Id="rId2" Type="$ns/officeDocument/2006/relationships/sharedStrings" Target="sharedStrings.xml"/></Relationships>"""),
      "xl/sharedStrings.xml" -> shared,
      "xl/worksheets/sheet1.xml" -> sb.toString)
    val zos = new java.util.zip.ZipOutputStream(new java.io.FileOutputStream(path))
    try parts.foreach { case (name, body) =>
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(body.getBytes("UTF-8")); zos.closeEntry()
    } finally zos.close()
    Expect(n, cents)
  }

  /** The JSON-shaped record batch of `/api/database/insert`. */
  def records(seed: Long, n: Int): Seq[Map[String, Any]] = {
    val r = new scala.util.Random(seed * 31 + 7)
    (0 until n).map(i => Map[String, Any](
      "column1" -> s"v${r.nextInt(100000)}", "column2" -> r.nextInt(1000000).toLong,
      "column3" -> f"2025-12-${1 + r.nextInt(28)}%02d"))
  }
}
