package graft.perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.sql.{DriverManager, Timestamp}
import java.time.{Duration, LocalDateTime}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.alerts.{AlertService, InMemoryNotifier, TaskNotifier}
import graft.catalog.CatalogStore
import graft.catalog.Model._
import graft.core.GraftSession
import graft.sched.{Orchestrator, Scheduler}
import graft.serve.{AdminApi, HttpApi, Serve}
import graft.sources.Jdbc

/** `platform_mixed`: the services composed as `graft.Main.start` composes
  * them (orchestrator daemon + `HttpApi` + `AdminApi` over one
  * `CatalogStore`), a catalog seeded to the shipped `scheduler.db` volume,
  * 2 active `sql` tasks, each due once early in the measured window (the
  * daemon cannot keep up with 8 tasks every 5 s on 4 cores beside the
  * clients: the lag then only grows with the window), and 4 closed-loop
  * clients issuing a seeded 80 % read / 20 % write request mix over the
  * JDK HTTP client.
  *
  * While the daemon runs, every scheduled fire overwrites the `tasks` table.
  * `CatalogStore.read` is not isolated from a concurrent overwrite: a scan
  * that lists the old files and opens them after the swap returns a subset
  * of the rows. So a client read of `tasks` (task lists, task-log pages,
  * run-now and task edits, which look the task up) fails at random, with a
  * 404 for a task that exists or a short list. The mix therefore touches
  * only tables that no one overwrites during the window, or that are only
  * appended to: notification logs, sql scripts, db configs, the token and
  * user tables, new sql alerts (serialized by the AdminApi write lock, read
  * by nothing but the alert tick) and Derby inserts.
  *
  * The only departure from `Main.start` is the scheduler's executor: the
  * harness wraps `Scheduler.defaultExecutor` to time each scheduled fire's
  * lag (entry time minus the due `nextRun` the task snapshot carries). */
object Platform {
  val sqlTasks = 2
  /** Each task falls due once in the window: the first fires are staggered
    * over it, and the next ones come after it ends. */
  val intervalS = 60
  val clients: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val allTasks = 30
  val seededTaskLogs = 2992
  val seededAlertLogs = 143
  val seededNotifications = 20
  val sourceRows = 200
  val token = "perfbench-token-valid"
  /** After the window, how long the daemon may take to make every fire
    * that fell due in it. */
  val drainLimitMs = 30000L

  final case class Seeded(notificationsByStatus: Map[String, Int], derbyUrl: String,
                          derbyPath: String)

  /** A request of the seeded mix. */
  final case class Req(cls: String, write: Boolean, api: String, method: String,
                       path: String, body: Option[String])
  /** A completed request; `status` is -1 and `body` the error when it threw. */
  final case class Done(req: Req, ms: Double, status: Int, body: String)

  final class Services(val dir: String, val store: CatalogStore, val httpApi: HttpApi,
                       val httpPort: Int,
                       val adminApi: AdminApi, val adminPort: Int,
                       val orchestrator: Orchestrator, val cookie: String) {
    @volatile var daemon: Option[Thread] = None
    def startDaemon(): Unit = {
      val t = new Thread(() => orchestrator.runLoop(), "graft-orchestrator")
      t.setDaemon(true); t.start(); daemon = Some(t)
    }
    def stopDaemon(): Unit = { orchestrator.stopped = true; daemon.foreach(_.join(60000)) }
    def stop(): Unit = {
      stopDaemon(); adminApi.stop(); httpApi.stop()
      graft.core.Mat.releaseAllScopes(blocking = true)
    }
  }

  private def ts(t: LocalDateTime) = Timestamp.valueOf(t)
  private def target(k: Int) = s"erp_system.dwd_sale_shopify_orders_di_$k"

  /** Seed every catalog table through `CatalogStore`, the Spark tables the
    * sql tasks read and write, and the Derby table behind the insert API. */
  def seed(ctx: Ctx, store: CatalogStore, dir: String): Seeded = {
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.rng(7)
    val now = LocalDateTime.now()
    def past() = ts(now.minusSeconds(60L + r.nextInt(30 * 86400)))

    spark.sql("CREATE DATABASE IF NOT EXISTS erp_system")
    (1 to sourceRows).map(i => (s"#${100000 + i}", s"shop-${r.nextInt(5)}",
      f"SKU-${r.nextInt(2000)}%04d", (500 + r.nextInt(50000)) / 100.0))
      .toDF("order_number", "source_name", "sku", "total_price")
      .write.mode("overwrite").saveAsTable("erp_system.dwd_sale_shopify_order_di")
    (1 to sqlTasks).foreach(k => spark.table("erp_system.dwd_sale_shopify_order_di").limit(0)
      .write.mode("overwrite").saveAsTable(target(k)))

    val derbyPath = s"$dir/derby"
    val derbyUrl = s"jdbc:derby:$derbyPath;create=true"
    val c = DriverManager.getConnection(derbyUrl)
    try c.createStatement().execute(
      "CREATE TABLE api_records (column1 VARCHAR(64), column2 BIGINT, column3 VARCHAR(16))")
    finally c.close()

    store.overwrite(Seq(
      EmailConfig(1, "default", "smtp.invalid", 25, false, "u", "p", "etl@invalid",
        notificationEnabled = false, isDefault = true, ts(now)),
      EmailConfig(2, "secondary", "smtp2.invalid", 587, true, "u", "p", "ops@invalid",
        notificationEnabled = false, isDefault = false, ts(now))).toDS(), "email_configs")
    store.overwrite(Seq(DbConfig(1, "derby-local", "derby", "", 0, "", "", Some(derbyPath),
      ts(now))).toDS(), "db_configs")
    // sql_scripts row 30 (truncate + insert-select), one target per task
    store.overwrite((1 to sqlTasks).map { k =>
      SqlScript(k, s"refresh dwd_sale_shopify_orders_di_$k", Some(1L),
        s"truncate table ${target(k)};\ninsert into ${target(k)}\nSelect  *\n" +
          "from erp_system.dwd_sale_shopify_order_di ;", ts(now))
    }.toDS(), "sql_scripts")
    val tasks =
      (1 to sqlTasks).map(k => Task(k, s"refresh-$k", "sql", None, Some(k.toLong), intervalS,
        None, Some(ts(now.plusDays(1))), isActive = false, None, 0, 60, None, ts(now))) ++
      (sqlTasks + 1 to allTasks).map(k => Task(k, s"job-$k", "python",
        Some(s"uploads/job_$k.py"), None, 3600, Some(past()), Some(ts(now.plusDays(1))),
        isActive = false, if (k % 4 == 0) Some(s"${k - 1}") else None, k % 3, 60,
        if (k % 5 == 0) Some("0 9 * * *") else None, ts(now)))
    store.overwrite(tasks.toDS(), "tasks")
    val logs = (1 to seededTaskLogs).map { i =>
      val id = 1L + r.nextInt(allTasks)
      val ok = r.nextDouble() < 0.85
      TaskLog(i, id, if (ok) "success" else "failed",
        if (ok) s"SQL script $id ok: affected=-1" else "script timeout (300s)", past())
    }
    store.overwrite(logs.toDS(), "task_logs")
    store.overwrite(Seq(SqlAlert(1, "订单预警", 1, Some(1), "ops@invalid", "rows_gt", 100,
      isEnabled = false, None, Some("*/5 * * * *"), None)).toDS(), "sql_alerts")
    store.overwrite((1 to seededAlertLogs).map(i => SqlAlertLog(i, 1, "订单预警",
      if (i % 3 == 0) "triggered" else "no_trigger", "checked", past(),
      if (i % 2 == 0) Some("Row count: 0") else None)).toDS(), "sql_alert_logs")
    val notes = (1 to seededNotifications).map(i => NotificationLog(i, Some(1L + i % 8),
      s"refresh-${1 + i % 8}", if (i % 4 == 0) "failure" else "success",
      if (i % 5 == 0) None else Some(1L), "ops@invalid", s"task ${1 + i % 8}", "body",
      if (i % 6 == 0) "failed" else "sent", None, past()))
    store.overwrite(notes.toDS(), "notification_logs")
    store.overwrite(Seq.empty[TaskAlert].toDS(), "task_alerts")
    store.overwrite(Seq(
      User(1, "admin", Serve.Auth.hashPassword("admin123", Serve.Auth.newSalt()), ts(now)),
      User(2, "analyst", Serve.Auth.hashPassword("analyst", Serve.Auth.newSalt(), 1000), ts(now)),
      User(3, "ops", Serve.Auth.hashPassword("ops", Serve.Auth.newSalt(), 1000), ts(now))).toDS(),
      "users")
    store.overwrite(Seq(
      UserToken(1, 1, token, ts(now.plusDays(30)), ts(now), Some("bench")),
      UserToken(2, 2, "perfbench-token-expired", ts(now.minusDays(1)), ts(now), Some("old")),
      UserToken(3, 3, "perfbench-token-ops", ts(now.plusDays(30)), ts(now), None)).toDS(),
      "user_tokens")
    Seeded(notes.groupBy(_.status).map { case (k, v) => k -> v.size }, derbyUrl, derbyPath)
  }

  /** Wire the services the way `Main.start` does; the scheduler calls
    * `executor`. */
  def start(ctx: Ctx, store: CatalogStore, dir: String,
            executor: Task => Either[String, String]): Services = {
    val spark = ctx.spark
    val taskNotifier = new TaskNotifier(spark, store)
    val alerts = new AlertService(spark, store, new InMemoryNotifier, exportDir = s"$dir/exports")
    val scheduler = new Scheduler(spark, store, executor, taskNotifier = Some(taskNotifier))
    val orchestrator = new Orchestrator(spark, store, scheduler, alerts)
    val httpApi = new HttpApi(spark, HttpApi.Deps(
      tasks = () => store.read[Task]("tasks").toDF(),
      taskLogs = () => store.read[TaskLog]("task_logs").toDF(),
      sqlScripts = () => store.read[SqlScript]("sql_scripts").toDF(),
      notificationLogs = () => store.read[NotificationLog]("notification_logs").toDF(),
      emailConfigs = () => store.read[EmailConfig]("email_configs").toDF(),
      users = () => store.read[User]("users").toDF(),
      userTokens = () => store.read[UserToken]("user_tokens").toDF(),
      dbConfigs = () => store.read[DbConfig]("db_configs").toDF(),
      insert = (cfg, table, records) =>
        Jdbc.insertRecords(spark, Jdbc.target(cfg), table, records)))
    val httpPort = httpApi.start(0)
    val adminApi = new AdminApi(spark, store, Scheduler.defaultExecutor(spark, store),
      Some(alerts), taskNotifier = Some(taskNotifier), sessionDir = Some(s"$dir/_sessions"),
      debugEndpoints = false, taskInFlight = scheduler.inFlight,
      alertInFlight = orchestrator.alertGuard)
    val adminPort = adminApi.start(0)
    val login = newClient().send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$adminPort/api/login"))
      .POST(HttpRequest.BodyPublishers.ofString("""{"username":"admin","password":"admin123"}"""))
      .header("Content-Type", "application/json").build(),
      HttpResponse.BodyHandlers.ofString())
    require(login.statusCode == 200, s"login failed: ${login.statusCode} ${login.body}")
    val cookie = login.headers.firstValue("Set-Cookie").get.split(';').head
    new Services(dir, store, httpApi, httpPort, adminApi, adminPort, orchestrator, cookie)
  }

  def newClient(): HttpClient = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).connectTimeout(Duration.ofSeconds(30)).build()

  val blockSize = 5

  /** The seeded request sequence of client `c`, in blocks of [[blockSize]]
    * requests, 80 % reads: two notification-log pages, the sql-script list,
    * one light admin read, and one write (a new sql alert in even blocks, a
    * Derby insert in odd ones), in a seeded order. Every block has the same
    * mix, so a run that measures whole blocks measures the same mix. */
  def requests(ctx: Ctx, c: Int, blocks: Int, derbyPath: String): Seq[Req] = {
    val r = ctx.rng(100 + c)
    def notifications() = {
      val q = Seq("page=1&per_page=10", "page=2&per_page=10",
        "status=sent&page=1&per_page=20")(r.nextInt(3))
      Req("notification_logs", write = false, "http", "GET", s"/api/notification-logs?$q", None)
    }
    (0 until blocks).flatMap { b =>
      val light = if (r.nextBoolean()) "/api/db-configs" else s"/api/sql-scripts/${1 + r.nextInt(sqlTasks)}"
      val write = if (b % 2 == 0)
        Req("admin_write", write = true, "admin", "POST", "/api/sql-alerts", Some(
          s"""{"name":"bench-c$c-$b","sql_script_id":${1 + r.nextInt(sqlTasks)},""" +
            """"recipients":"ops@invalid","condition_type":"rows_gt","threshold":100,"is_enabled":false}"""))
      else {
        val recs = (0 until 10).map(k => s"""{"column1":"c$c-$b-$k","column2":${r.nextInt(1000000)},"column3":"2025-12-${10 + k}"}""")
        Req("db_insert", write = true, "http", "POST", "/api/database/insert", Some(
          s"""{"table_name":"api_records","database_name":${Json.str(derbyPath)},"db_config_id":1,"records":${recs.mkString("[", ",", "]")}}"""))
      }
      r.shuffle(Seq(notifications(), notifications(),
        Req("admin_read", write = false, "admin", "GET", "/api/sql-scripts", None),
        Req("admin_read", write = false, "admin", "GET", light, None), write))
    }
  }

  /** Validate one response against what the seeded catalog implies:
    * `None` if it holds, else what is wrong. */
  def check(d: Done, seeded: Seeded): Option[String] = {
    val req = d.req
    def fail(msg: String) = Some(s"${req.method} ${req.path}: $msg")
    if (d.status / 100 != 2) fail(s"status ${d.status} ${d.body.take(200)}")
    else if (d.ms > 30000) fail(f"${d.ms}%.0f ms, beyond the 30 s request timeout")
    else try {
      val j = Json.parse(d.body)
      req.cls match {
        case "notification_logs" =>
          val want = if (req.path.contains("status=sent")) seeded.notificationsByStatus("sent")
            else seededNotifications
          val total = j.get("pagination").get("total").asLong
          if (total != want) fail(s"total $total != $want") else None
        case "admin_read" if req.path == "/api/sql-scripts" =>
          val xs = j.get("sql_scripts").asScala.toSeq
          if (xs.size != sqlTasks) fail(s"${xs.size} scripts")
          else if (!xs.forall(_.get("db_config_name").asText == "derby-local"))
            fail("a script lost its db config name")
          else None
        case "admin_read" if req.path.startsWith("/api/sql-scripts/") =>
          if (j.get("id").asLong != req.path.stripPrefix("/api/sql-scripts/").toLong)
            fail("wrong script") else None
        case "admin_read" =>
          if (j.size != 1 || j.get(0).get("id").asLong != 1) fail("db configs") else None
        case "admin_write" =>
          if (!j.has("id")) fail("no id") else None
        case "db_insert" =>
          if (j.get("result").get("affected_rows").asLong != 10) fail("affected_rows != 10")
          else None
      }
    } catch { case NonFatal(e) => fail(s"unparseable response: ${e.getMessage}") }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    final case class Fire(taskId: Long, lagMs: Double, entryMs: Long)
    val fires = new ConcurrentLinkedQueue[Fire]()
    def executorFor(store: CatalogStore): Task => Either[String, String] = {
      val inner = Scheduler.defaultExecutor(spark, store) _
      task => {
        val now = System.currentTimeMillis()
        fires.add(Fire(task.id, task.nextRun.map(n => (now - n.getTime).toDouble)
          .getOrElse(Double.NaN), now))
        inner(task)
      }
    }

    /** Run `clients` threads, each sending its sequence's requests while
      * `more(sent)` holds; collect what came back. */
    def clientsRun(svc: Services, its: Seq[Iterator[Req]], more: Int => Boolean): Seq[Done] = {
      val done = new ConcurrentLinkedQueue[Done]()
      val threads = its.zipWithIndex.map { case (it, c) =>
        new Thread(() => {
          val client = newClient()
          var sent = 0
          while (more(sent) && it.hasNext) {
            val req = it.next()
            sent += 1
            val port = if (req.api == "http") svc.httpPort else svc.adminPort
            val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port${req.path}"))
              .timeout(Duration.ofSeconds(30)).header("Content-Type", "application/json")
            if (req.api == "http") b.header("Authorization", s"Bearer $token")
            else b.header("Cookie", svc.cookie)
            b.method(req.method, req.body.map(x => HttpRequest.BodyPublishers.ofString(x))
              .getOrElse(HttpRequest.BodyPublishers.noBody()))
            val s0 = Stats.now()
            done.add(try {
              val resp = ctx.tracer.trace(req.cls, "serve")(
                client.send(b.build(), HttpResponse.BodyHandlers.ofString()))
              Done(req, Stats.ms(s0, Stats.now()), resp.statusCode, resp.body)
            } catch { case NonFatal(e) => Done(req, Stats.ms(s0, Stats.now()), -1, e.toString) })
          }
        }, s"perfbench-client-$c")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      done.asScala.toSeq
    }

    // set-up: seed the catalog through CatalogStore, start both APIs, log
    // in, start the daemon (no task is active yet, so its ticks only read);
    // then warm up: one block of requests from one client
    val setupT0 = Stats.now()
    val (svc, seeded) = ctx.tracer.trace("setup", "bench") {
      val dir = s"${ctx.work}/catalog"
      val store = new CatalogStore(spark, dir)
      val seeded = ctx.tracer.span("seed", "catalog")(seed(ctx, store, dir))
      (ctx.tracer.span("start", "serve")(start(ctx, store, dir, executorFor(store))), seeded)
    }
    val store = svc.store
    svc.startDaemon()
    val warmT0 = Stats.now()
    val its = (0 until clients).map(c => requests(ctx, c, 500, seeded.derbyPath).iterator)
    val warm = clientsRun(svc, its.take(1), _ < blockSize)
    val setupS = ctx.sessionS + Stats.ms(setupT0, Stats.now()) / 1000
    System.err.println(f"[perfbench] set-up: session ${ctx.sessionS}%.1f s, catalog and " +
      f"services ${Stats.ms(setupT0, warmT0) / 1000}%.1f s, warm-up " +
      f"${Stats.ms(warmT0, Stats.now()) / 1000}%.1f s")

    // measured window: activate the sql tasks, due at staggered times over
    // the window's first quarter, and run the clients. The window lasts
    // --seconds and then until every task has fired once, and each client
    // ends it at a block boundary: every run measures whole blocks and the
    // same scheduled work
    val tStart = System.currentTimeMillis()
    val stagger = (ctx.seconds * 250).toLong / sqlTasks
    val dueAt = (1 to sqlTasks).map(k => k.toLong -> (tStart + 500L + (k - 1) * stagger)).toMap
    store.updateRows[Task]("tasks", t => dueAt.contains(t.id),
      t => t.copy(isActive = true, nextRun = Some(new Timestamp(dueAt(t.id)))))
    ctx.probes.foreach(_.reset(ctx.tracer))
    val t0 = Stats.now()
    val cpu0 = Stats.cpuNs()
    val deadline = t0 + (ctx.seconds * 1e9).toLong
    val hardStop = deadline + drainLimitMs * 1000000L
    def windowOpen = (Stats.now() < deadline || fires.size < sqlTasks) && Stats.now() < hardStop
    val all = clientsRun(svc, its, sent => sent % blockSize != 0 || windowOpen)
    val wallMs = Stats.ms(t0, Stats.now())
    val cpuMs = (Stats.cpuNs() - cpu0) / 1e6
    val windowEnd = System.currentTimeMillis()
    val perLayerSpark = ctx.probes.toSeq.flatMap { pr =>
      pr.drain()
      val serveJobs = pr.sparkStats.jobs.asScala.count(_.pool == GraftSession.ServePool)
      pr.sparkMetrics(wallMs, ctx.cores, 1) :+
        Metric("spark.jobs_per_request", serveJobs.toDouble / math.max(1, all.size), "count")
    }

    // every fire due a tick before the window ended is owed: let the daemon
    // make them (the harness's own reads of `tasks` may come back short
    // while the daemon rewrites it, so a short read only means "ask again")
    val owedBy = windowEnd - 1000L
    def owed(ts: Seq[Task]): Seq[Task] = ts.filter(t => dueAt.contains(t.id) &&
      t.nextRun.forall(_.getTime <= owedBy))
    val drainFrom = System.currentTimeMillis()
    var settled = false
    while (!settled && System.currentTimeMillis() - drainFrom < drainLimitMs) {
      val ts = store.read[Task]("tasks").collect().toSeq
      settled = ts.count(t => dueAt.contains(t.id)) == sqlTasks && owed(ts).isEmpty
      if (!settled) Thread.sleep(250)
    }
    svc.stopDaemon()
    val tasksNow = store.read[Task]("tasks").collect().toSeq
    val missedFires = owed(tasksNow).size.toLong
    val firesAll = fires.asScala.toSeq

    // check every response, then read back every write and every scheduled run
    val verdicts = (warm ++ all).map(d => d -> check(d, seeded))
    val bad = verdicts.collect { case (d, Some(why)) => d -> why }
    val readBack = scala.collection.mutable.ArrayBuffer.empty[Check]
    val alertsNow = store.read[SqlAlert]("sql_alerts").collect().toSeq
    val created = (warm ++ all).collect { case d if d.req.cls == "admin_write" && d.status / 100 == 2 =>
      d.req.body.get.split("\"name\":\"")(1).takeWhile(_ != '"') }
    readBack += Check("created sql alerts exist, one row each",
      created.forall(n => alertsNow.count(_.name == n) == 1) &&
        alertsNow.map(_.id).distinct.size == alertsNow.size,
      s"${created.count(n => alertsNow.count(_.name == n) != 1)} of ${created.size} " +
        s"not found once; ${alertsNow.size} alerts")
    val inserts = (warm ++ all).count(d => d.req.cls == "db_insert" && d.status / 100 == 2)
    val derbyRows = {
      val c = DriverManager.getConnection(seeded.derbyUrl)
      try { val rs = c.createStatement().executeQuery("SELECT COUNT(*) FROM api_records"); rs.next(); rs.getLong(1) }
      finally c.close()
    }
    readBack += Check("inserted records in Derby", derbyRows == inserts * 10L,
      s"$derbyRows rows for $inserts inserts")
    val logsNow = store.read[TaskLog]("task_logs").collect().toSeq
    val scheduledLogs = logsNow.filter(l => l.taskId <= sqlTasks &&
      l.executionTime.getTime >= tStart)
    readBack += Check("scheduled runs logged success",
      scheduledLogs.size == firesAll.size && scheduledLogs.forall(l => l.status == "success" &&
        l.message.startsWith(s"SQL script ${l.taskId} ok:")),
      s"${firesAll.size} fires, ${scheduledLogs.size} logs, " +
        s"${scheduledLogs.count(_.status != "success")} not success " +
        scheduledLogs.find(_.status != "success").map(_.message.take(200)).getOrElse(""))
    val targetRows = (1 to sqlTasks).filter(k => firesAll.exists(_.taskId == k))
      .map(k => spark.table(target(k)).count())
    readBack += Check("scheduled runs refreshed their targets", targetRows.forall(_ == sourceRows),
      targetRows.mkString(","))
    readBack += Check("every fire due in the window happened", missedFires == 0,
      s"${firesAll.size} fires; $missedFires tasks still due " +
        s"${(System.currentTimeMillis() - drainFrom) / 1000} s after the window")
    val taskLogFiles = java.nio.file.Files.list(java.nio.file.Paths.get(svc.dir, "task_logs"))
      .iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    svc.stop()

    val checks = Check(s"responses of ${warm.size + all.size} requests", bad.isEmpty,
      bad.take(3).map { case (d, why) => s"${d.req.cls}: $why" }.mkString("; ")) +: readBack.toSeq
    val reads = all.filterNot(_.req.write).map(_.ms)
    val writes = all.filter(_.req.write).map(_.ms)
    val lags = firesAll.map(_.lagMs)
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs, q)
    val endToEnd = Seq(
      Metric("cpu_ms_per_op", cpuMs / math.max(1, all.size), "ms"),
      Metric("setup_s", setupS, "s"))
    val byClass = all.groupBy(_.req.cls)
    val operations = warm.size + all.size + firesAll.size + missedFires
    val failed = bad.size + missedFires
    val report = Seq(
      Metric("http_read_p50_ms", p(reads, 50), "ms"),
      Metric("http_read_p99_ms", p(reads, 99), "ms"),
      Metric("http_write_p50_ms", p(writes, 50), "ms"),
      Metric("http_write_p95_ms", p(writes, 95), "ms"),
      Metric("http_rps", all.size / (wallMs / 1000), "1/s"),
      Metric("sched_fire_lag_p50_ms", p(lags, 50), "ms"),
      Metric("sched_fire_lag_p95_ms", p(lags, 95), "ms"),
      Metric("setup_s", setupS, "s"),
      Metric("failed_ratio", failed.toDouble / operations, "ratio"),
      Metric("cpu_ms_per_op", cpuMs / math.max(1, all.size), "ms"),
      Metric("read_requests", reads.size, "count"),
      Metric("write_requests", writes.size, "count"),
      Metric("sched_fires", firesAll.size, "count"))
    val perLayer = if (ctx.probes.isEmpty) Nil else {
      def med(cls: String) = byClass.get(cls).map(v => Stats.median(v.map(_.ms))).getOrElse(0.0)
      perLayerSpark ++ Seq(
        Metric("serve.notification_logs_ms", med("notification_logs"), "ms"),
        Metric("serve.admin_read_ms", med("admin_read"), "ms"),
        Metric("serve.admin_write_ms", med("admin_write"), "ms"),
        Metric("serve.db_insert_ms", med("db_insert"), "ms"),
        Metric("serve.non2xx", all.count(_.status / 100 != 2), "count"),
        Metric("sched.fires", firesAll.size, "count"),
        Metric("sched.fires_expected", firesAll.size + missedFires, "count"),
        Metric("sched.fire_lag_p50_ms", p(lags, 50), "ms"),
        Metric("catalog.task_logs_files", taskLogFiles, "count"),
        Metric("catalog.task_logs_rows", logsNow.size, "count"))
    }
    Result(operations, failed, checks, endToEnd, perLayer, report, 1, notes = Seq(
      s"request mix: ${byClass.toSeq.sortBy(_._1).map { case (k, v) => s"$k=${v.size}" }.mkString(" ")}",
      s"fire-lag samples: ${lags.size} (p95 leaves ${(lags.size * 0.05).toInt} beyond it)"))
  }
}
