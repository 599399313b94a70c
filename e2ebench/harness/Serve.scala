package e2ebench

import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import graft.api.HttpApi
import graft.functions.Buckets
import graft.operators.{CommitLog, Keyset, ListQuery, Metrics}
import graft.streaming.Pipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import Harness._

/** `serve`: the HTTP API over a bloomed events commit-log table and a
  * month-partitioned attempts log, with one closed-loop reader per route
  * (lookup, list walk, metrics) and one writer committing on a fixed
  * schedule.
  *
  * Every response is recorded (status, latency and the fields the checks
  * compare) in `responses.jsonl`; this process does not judge them. In a
  * traced run each reader first makes the same call directly against the
  * layer functions, tagged so that Spark jobs count against it. */
object Serve {

  private val Tenant = "tenant_0"
  private val Routes = Seq("lookup", "list", "metrics")

  final case class Rec(route: String, ms: Double, endMs: Long, json: String)

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    val sin = s"${c.in}/serve"
    val plan = Json.read(s"$sin/plan.json")
    val attemptsDir = s"$sin/attempts"
    val attempts: () => DataFrame = () => spark.read.parquet(attemptsDir)
    val events = spark.read.parquet(s"$sin/events.parquet")

    // set-up: the bloomed events table, then the API
    val table = s"${c.out}/events"
    val s0 = System.nanoTime()
    CommitLog.append(events, table, idCol = "event_id", tsCol = "ts", filesPerMonth = 8,
      keyBlooms = true)
    val api = HttpApi.start(spark, HttpApi.Config(
      events = spark.emptyDataFrame, destTable = s"${c.out}/dest",
      storeSecret = "e2ebench", eventsTable = Some(table), attempts = Some(attempts)))
    val base = s"http://127.0.0.1:${api.port}/api/v1/$Tenant"
    val readers = plan.get("readers").elements.asScala.toVector.map(_.elements.asScala.toVector)
    val recs = new ConcurrentLinkedQueue[Rec]()
    val direct = new ConcurrentLinkedQueue[(String, String, Double)]() // route, req, ms
    val lookupFiles = new ConcurrentLinkedQueue[Double]()
    val listRows = new ConcurrentLinkedQueue[(String, Long)]()    // req, rows returned
    val errors = new java.util.concurrent.atomic.AtomicLong()

    def enc(s: String) = URLEncoder.encode(s, "UTF-8")
    def get(client: HttpClient, url: String): (Int, String, Double) = {
      val t0 = System.nanoTime()
      val r = client.send(HttpRequest.newBuilder(java.net.URI.create(url)).GET().build(),
        HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.body(), msSince(t0))
    }
    def listReq(end: String, next: Option[String]) = ListQuery.Request(
      inFilters = Map("tenant_id" -> Seq[Any](Tenant), "status" -> Seq[Any]("failed")),
      timeFilters = Seq((ListQuery.Lte: ListQuery.TimeOp, Instant.parse(end))),
      order = Keyset.Desc, limit = 100, next = next)
    def metricsReq(start: String, end: String) = Metrics.Request(
      Instant.parse(start), Instant.parse(end), Buckets.Granularity(1, Buckets.Hour),
      Seq("count", "failed_count"))

    /** The traced run's direct call for one op, on the reader thread. */
    def directCall(op: com.fasterxml.jackson.databind.JsonNode, req: String): Unit = {
      val route = op.get("route").asText
      val t0 = System.nanoTime()
      tagged(spark, req) {
        Trace.span(s"direct.$route", req) {
          route match {
            case "lookup" =>
              val id = op.get("id").asLong
              val snap = Trace.span("operators.CommitLog.snapshot", req)(CommitLog.snapshot(table))
              val (files, _) = Trace.span("operators.CommitLog.files_for_key", req)(
                CommitLog.filesForKey(snap, id))
              lookupFiles.add(files.size.toDouble)
              Trace.span("operators.CommitLog.scan_for_key", req)(
                CommitLog.scanForKey(spark, table, "event_id", id).limit(1).collect())
            case "list" =>
              var next: Option[String] = None
              var pages = 0; var rows = 0L
              while (pages < op.get("pages").asInt && (pages == 0 || next.isDefined)) {
                val page = Trace.span("operators.ListQuery.list", req)(
                  ListQuery.list(attempts(), listReq(op.get("end").asText, next),
                    "attempts", "attempt_time", "attempt_id"))
                rows += page.rows.size; next = page.next; pages += 1
              }
              listRows.add((req, rows))
            case "metrics" =>
              val df = attempts().filter(col("tenant_id") === Tenant)
                .withColumn("ts", col("attempt_time"))
              Trace.span("operators.Metrics.query", req) {
                val res = Metrics.query(spark, df, metricsReq(op.get("start").asText,
                  op.get("end").asText), Metrics.attemptMeasures)
                try res.df.collect() finally res.cleanup()
              }
          }
        }
      }
      direct.add((route, req, msSince(t0)))
    }

    /** One op over HTTP; list ops walk `pages` pages through `next`. */
    def httpOp(op: com.fasterxml.jackson.databind.JsonNode, client: HttpClient,
               out: ConcurrentLinkedQueue[Rec]): Unit = {
      def rec(route: String, ms: Double, fields: Map[String, Any]): Unit =
        if (out != null) out.add(Rec(route, ms, nowMs(), Json.line(fields + ("route" -> route))))
      op.get("route").asText match {
        case "lookup" =>
          val id = op.get("id").asLong
          val (st, body, ms) = get(client, s"$base/events/$id")
          rec("lookup", ms, Map("id" -> id, "status" -> st,
            "row" -> (if (st == 200) body else "")))
        case "list" =>
          val end = op.get("end").asText
          var next: Option[String] = None
          var page = 0; var more = true
          val walk = java.util.UUID.randomUUID().toString
          while (more && page < op.get("pages").asInt) {
            val (st, body, ms) = get(client, s"$base/attempts?status=failed&limit=100" +
              s"&end=${enc(end)}" + next.map(n => s"&next=${enc(n)}").getOrElse(""))
            val j = if (st == 200) Json.parse(body) else null
            val ids = if (j == null) Nil
              else j.get("models").elements.asScala.map(_.get("attempt_id").asText).toList
            next = if (j == null) None else Option(j.get("next")).map(_.asText)
            rec("list", ms, Map("walk" -> walk, "end" -> end, "page" -> page,
              "status" -> st, "ids" -> ids))
            page += 1; more = next.isDefined
          }
        case "metrics" =>
          val (st, body, ms) = get(client, s"$base/metrics/attempts?measures%5B%5D=count" +
            "&measures%5B%5D=failed_count&granularity=1h" +
            s"&start=${enc(op.get("start").asText)}&end=${enc(op.get("end").asText)}")
          rec("metrics", ms, Map("start" -> op.get("start").asText,
            "end" -> op.get("end").asText, "status" -> st,
            "buckets" -> (if (st == 200) body else "")))
      }
    }

    val tableS = msSince(s0) / 1000.0
    // untimed warm-up: the first op of each reader's plan
    val w0 = System.nanoTime()
    val warmClient = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
    readers.foreach(ops => httpOp(ops.head, warmClient, null))
    val warmS = msSince(w0) / 1000.0

    val firstTimedMs = nowMs()
    val deadline = firstTimedMs + c.seconds * 1000L
    val t0 = System.nanoTime()
    val threads = readers.zipWithIndex.map { case (ops, t) =>
      new Thread(() => {
        val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        var k = 0
        while (nowMs() < deadline) {
          val op = ops(k % ops.size)
          try {
            // traced: the direct call and the HTTP call alternate which goes
            // first, so neither always finds the other's warmed caches
            if (c.traced && k % 2 == 0) directCall(op, s"r$t-$k")
            httpOp(op, client, recs)
            if (c.traced && k % 2 == 1) directCall(op, s"r$t-$k")
          } catch { case _: Exception => errors.incrementAndGet() }
          k += 1
        }
      }, s"e2ebench-reader-$t")
    }

    // writer: one delivery trigger's output per tick, as the deliver
    // workload measured it (gen.py): new event ids above the seeded range
    // into the events table, and their attempts, under a tenant no reader
    // asks for, into the attempts log. A tick that starts late commits at
    // once; the writer never skips one.
    val appendMs = new ConcurrentLinkedQueue[Double]()
    val idBase = plan.get("writer_id_base").asLong
    val wTenant = plan.get("writer_tenant").asText
    val period = plan.get("writer_period_ms").asLong
    val nEvents = plan.get("writer_events").asInt
    val nAttempts = plan.get("writer_attempts").asInt
    val writerLagMs = new java.util.concurrent.atomic.AtomicLong()
    val logCols = graft.streaming.Runner.logSchema.fieldNames.toSeq
    val writer = new Thread(() => {
      var k = 0
      var nextAt = nowMs()
      while (nowMs() < deadline) {
        try {
          // July 2024, the month after the seeded range: one file per append
          val rows = (0 until nEvents).map { j =>
            val id = idBase + k.toLong * nEvents + j
            (id, new java.sql.Timestamp(1719792000000L + (id - idBase) * 1000L),
              id % 5000, "write", 1.0)
          }.toDF("event_id", "ts", "user_id", "event_type", "value")
          val ts0 = System.nanoTime()
          tagged(spark, s"w-$k") {
            Trace.span("operators.CommitLog.append", s"w-$k")(
              CommitLog.append(rows, table, idCol = "event_id", tsCol = "ts",
                keyBlooms = true))
          }
          appendMs.add(msSince(ts0))
          val att = attempts().limit(nAttempts)
            .withColumn("attempt_id", concat(lit(s"w${k}_"), col("attempt_id")))
            .withColumn("tenant_id", lit(wTenant))
            .select(logCols.map(col): _*)
          Pipeline.logSinkBatch(att, attemptsDir)
        } catch { case _: Exception => errors.incrementAndGet() }
        k += 1
        nextAt += period
        writerLagMs.set(math.max(0L, nowMs() - nextAt))
        Thread.sleep(math.max(0L, nextAt - nowMs()))
      }
    }, "e2ebench-writer")
    writer.start()
    threads.foreach(_.start())
    threads.foreach(_.join())
    writer.join()
    val wallS = msSince(t0) / 1000.0
    val filesTotal = CommitLog.snapshot(table).files.size
    api.stop()

    val all = recs.asScala.toVector
    val w = new java.io.PrintWriter(s"${c.out}/responses.jsonl", "UTF-8")
    try all.foreach(r => w.println(r.json)) finally w.close()
    def routeMs(rt: String) = all.filter(_.route == rt).map(_.ms)
    val diag = Map[String, Any]("requests" -> all.size, "lookups" -> routeMs("lookup").size,
      "wall_s" -> wallS, "table_s" -> tableS, "warmup_s" -> warmS,
      "appends" -> appendMs.size, "writes_behind_ms" -> writerLagMs.get,
      "append_p50_ms" -> pct(appendMs.asScala.toSeq, 0.5)) ++
      Routes.flatMap(rt => Seq(
        s"${rt}_p50_ms" -> pct(routeMs(rt), 0.5), s"${rt}_p90_ms" -> pct(routeMs(rt), 0.9)))
    val layers =
      if (!c.traced) Map.empty[String, Double]
      else {
        val d = direct.asScala.toVector
        // a list op walks pages; its HTTP latency is per page
        def directMs(rt: String) =
          if (rt == "list") Trace.ms("operators.ListQuery.list") else d.filter(_._1 == rt).map(_._3)
        def jobsOf(req: String) = c.jobs.forReq(req)
        def perRoute(rt: String): Map[String, Double] = {
          val reqs = d.filter(_._1 == rt)
          Map(
            s"core.spark.jobs_per_request.$rt" ->
              reqs.map(r => jobsOf(r._2).size.toDouble).sum / math.max(1, reqs.size),
            s"core.spark.driver_gap_ms_p50.$rt" ->
              pct(reqs.map(r => r._3 - JobStats.unionMs(jobsOf(r._2))), 0.5),
            s"api.self_ms_p50.$rt" -> (pct(routeMs(rt), 0.5) - pct(directMs(rt), 0.5)))
        }
        val listReqs = listRows.asScala.toVector
        val listRead = listReqs.map(r => jobsOf(r._1).map(_.recordsRead.get).sum).sum
        val metricReqs = d.filter(_._1 == "metrics")
        val readerJobs = c.jobs.all.filter(j => j.req.startsWith("r") && j.firstTaskMs >= 0)
        Map(
          "operators.CommitLog.snapshot_ms_p50" -> pct(Trace.ms("operators.CommitLog.snapshot"), 0.5),
          "operators.CommitLog.files_for_key_ms_p50" ->
            pct(Trace.ms("operators.CommitLog.files_for_key"), 0.5),
          "operators.CommitLog.files_per_lookup_p50" -> pct(lookupFiles.asScala.toSeq, 0.5),
          "operators.CommitLog.files_total" -> filesTotal.toDouble,
          "operators.CommitLog.scan_for_key_ms_p50" ->
            pct(Trace.ms("operators.CommitLog.scan_for_key"), 0.5),
          "operators.CommitLog.append_ms_p50" -> pct(Trace.ms("operators.CommitLog.append"), 0.5),
          "operators.ListQuery.list_ms_p50" -> pct(Trace.ms("operators.ListQuery.list"), 0.5),
          "operators.ListQuery.rows_read_per_row_returned" ->
            listRead.toDouble / math.max(1L, listReqs.map(_._2).sum),
          "operators.Metrics.query_ms_p50" -> pct(Trace.ms("operators.Metrics.query"), 0.5),
          "operators.Metrics.rows_read_per_request" ->
            metricReqs.map(r => jobsOf(r._2).map(_.recordsRead.get).sum.toDouble).sum /
              math.max(1, metricReqs.size),
          "core.spark.job_wait_ms_p90" ->
            pct(readerJobs.map(j => (j.firstTaskMs - j.submitMs).toDouble), 0.9)) ++
          Routes.flatMap(perRoute)
      }
    // each latency figure weighs the three routes equally: the geometric
    // mean of the per-route percentiles, so doubling any one route's
    // latency raises it by a quarter. The rate counts requests completed
    // inside the window: a list walk or metrics call still running at the
    // deadline would stretch a wall-clock divisor.
    def geo(p: Double) = math.exp(Routes.map(rt => math.log(pct(routeMs(rt), p))).sum / 3)
    Outcome(
      e2e = Map("p50_ms" -> geo(0.5), "tail_ms" -> geo(0.9),
        "ops_per_s" -> all.count(_.endMs <= deadline) / c.seconds.toDouble),
      layers = layers, attempted = all.size + appendMs.size, failed = errors.get,
      firstTimedMs = firstTimedMs, diag = diag)
  }
}
