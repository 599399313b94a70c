package e2ebench

import java.time.Instant
import scala.jdk.CollectionConverters._

import graft.streaming.{Pipeline, Runner, Sinks}
import graft.streaming.Model.Destination
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import Harness._

/** `deliver`: the streaming delivery dataflow fed in batch cycles.
  *
  * Set-up: `Runner.start` over a `MemoryStream`, then cycle-sized warm-up batches
  * drained through the log. Each timed cycle sends one batch (every event
  * stamped with its send time), waits until the delivery query has logged
  * all of it and alert evaluation has caught up, and repeats until the
  * measured window ends (at least three cycles). Per-attempt latencies are
  * read from the log afterwards, not here. */
object Deliver {

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val din = s"${c.in}/deliver"
    val cfg = Json.read(s"$din/config.json")
    val batch = cfg.get("batch").asInt
    val failing = cfg.get("failing").elements.asScala.map(_.asText).toSet
    val dests = spark.read.schema(Encoders.product[Destination].schema)
      .json(s"$din/destinations.jsonl").as[Destination].collect().toSeq.toDS()
    // two destination types: the registry takes its persist-and-route path
    val registry = new Sinks.Registry(cfg.get("types").elements.asScala.map(t =>
      Sinks.MockSink(t.asText, failDestinations = failing)).toSeq)
    def lines(phase: String): Vector[String] = {
      val src = scala.io.Source.fromFile(s"$din/$phase.jsonl", "UTF-8")
      try src.getLines().toVector finally src.close()
    }
    val warm = lines("warm")
    val cycles = lines("cycles").grouped(batch).toVector
    def stamp(l: String, ms: Long): String =
      l.replace("%T%", Instant.ofEpochMilli(ms).toString)

    // set-up: start the delivery and alert queries
    val logPath = s"${c.out}/deliver/log"
    val s0 = System.nanoTime()
    val mem = MemoryStream[String]
    val running = Runner.start(spark, mem.toDF(), dests, registry,
      logPath = logPath, alertSinkName = "e2e_alerts",
      checkpointRoot = s"${c.out}/deliver/chk")
    val startS = msSince(s0) / 1000.0
    // warm-up batches of the cycle size: the first timed cycle should not
    // pay first-use costs
    warm.grouped(batch).foreach { b =>
      val now = nowMs()
      mem.addData(b.map(stamp(_, now)))
      running.delivery.processAllAvailable()
      running.alerts.processAllAvailable()
    }

    val warmS = msSince(s0) / 1000.0 - startS
    val trig0 = c.progress.triggers.size
    val firstTimedMs = nowMs()
    val deadline = firstTimedMs + c.seconds * 1000L
    // throughput counts delivery time only: alert evaluation triggers every
    // 500 ms, so its catch-up time would quantize each cycle to that grid
    val deliverS = Vector.newBuilder[Double]
    val alertS = Vector.newBuilder[Double]
    var k = 0
    while (k < cycles.size && (k < 3 || nowMs() < deadline)) {
      val t0 = System.nanoTime()
      mem.addData(cycles(k).map(stamp(_, nowMs())))
      running.delivery.processAllAvailable()
      deliverS += msSince(t0) / 1000.0
      val t1 = System.nanoTime()
      running.alerts.processAllAvailable()
      alertS += msSince(t1) / 1000.0
      k += 1
    }
    val timedEndMs = nowMs()
    val trig1 = c.progress.triggers.size

    val alertRows = spark.table("e2e_alerts").collect()
    val w = new java.io.PrintWriter(s"${c.out}/alerts.jsonl", "UTF-8")
    try alertRows.foreach { r =>
      w.println(Json.line(Map("tenant_id" -> r.getAs[String]("tenant_id"),
        "destination_id" -> r.getAs[String]("destination_id"),
        "kind" -> r.getAs[String]("kind"),
        "threshold_pct" -> r.getAs[Int]("threshold_pct"),
        "failure_count" -> r.getAs[Int]("failure_count"))))
    } finally w.close()
    val deliveryId = running.delivery.id.toString
    val alertsName = running.alerts.name
    running.stopAll()

    val layers =
      if (!c.traced) Map.empty[String, Double]
      else traced(c, dests.collect().toSeq, registry, cycles.head.map(stamp(_, nowMs())),
        trig0, trig1, firstTimedMs, timedEndMs, deliveryId, alertsName, logPath)
    Outcome(
      e2e = Map("ops_per_s" -> k * batch / deliverS.result().sum),
      layers = layers,
      attempted = warm.size + k.toLong * batch, failed = 0L,
      firstTimedMs = firstTimedMs,
      diag = Map("log_path" -> logPath, "start_s" -> startS, "warmup_s" -> warmS, "cycles" -> k, "deliver_s" -> deliverS.result(),
        "alerts_catch_up_s" -> alertS.result()))
  }

  private def traced(c: Ctx, dests: Seq[Destination], registry: Sinks.Registry,
                     replay: Seq[String], trig0: Int, trig1: Int,
                     fromMs: Long, toMs: Long, deliveryId: String,
                     alertsName: String, logPath: String): Map[String, Double] = {
    val spark = c.spark
    import spark.implicits._
    val all = c.progress.triggers.asScala.toVector
    val trig = all.slice(trig0, trig1).filter(_.name == "graft_delivery")
    def dur(k: String)(t: ProgressStats.Trigger): Double = t.durations.getOrElse(k, 0L).toDouble
    def p(ts: Seq[ProgressStats.Trigger], k: String, q: Double) = pct(ts.map(dur(k)), q)
    val alerts = all.filter(_.name == alertsName)
    val timedJobs = c.jobs.within(fromMs, toMs).filter(_.req == deliveryId)
    val nTrig = math.max(1, trig.size).toDouble
    val logFiles = java.nio.file.Files.walk(java.nio.file.Paths.get(logPath)).iterator
      .asScala.count(_.toString.endsWith(".parquet"))
    val logged = spark.read.parquet(logPath).count()

    // static batch replayed stage by stage; each stage's input is
    // materialized first so a span times that stage alone
    val destDs = dests.toDS()
    val stages = (0 until 3).map { i =>
      val raw = replay.toDF("value").localCheckpoint(true)
      def timed(name: String)(df: => DataFrame): (Double, DataFrame) = {
        val t0 = System.nanoTime()
        val out = Trace.span(name)(df.localCheckpoint(true))
        (msSince(t0), out)
      }
      val (v, valid) = timed("streaming.validate")(Pipeline.validateAndDefault(raw))
      val (f, fan) = timed("streaming.match_fanout")(Pipeline.matchFanout(spark, valid, destDs))
      var d = 0.0
      val outcomes = registry.deliverWith(fan) { o =>
        val r = timed("streaming.deliver")(o); d = r._1; r._2
      }
      val t0 = System.nanoTime()
      Trace.span("streaming.log_write")(
        Pipeline.logSinkBatch(outcomes, s"${c.out}/replay_log$i", 0L))
      (v, f, d, msSince(t0))
    }
    def med(xs: Seq[Double]) = pct(xs, 0.5)
    Map(
      "streaming.trigger.exec_ms_p50" -> p(trig, "triggerExecution", 0.5),
      "streaming.trigger.exec_ms_p99" -> p(trig, "triggerExecution", 0.99),
      "streaming.trigger.add_batch_ms_p50" -> p(trig, "addBatch", 0.5),
      "streaming.trigger.planning_ms_p50" -> p(trig, "queryPlanning", 0.5),
      "streaming.trigger.offsets_ms_p50" -> pct(trig.map(t =>
        dur("latestOffset")(t) + dur("getBatch")(t)), 0.5),
      "streaming.trigger.wal_ms_p50" -> p(trig, "walCommit", 0.5),
      "streaming.trigger.count" -> trig.size.toDouble,
      "streaming.trigger.rows_p50" -> pct(trig.map(_.rows.toDouble), 0.5),
      "streaming.alerts.exec_ms_p50" -> p(alerts, "triggerExecution", 0.5),
      "streaming.log.files_per_1k_attempts" -> logFiles * 1000.0 / math.max(1L, logged),
      "streaming.validate_ms" -> med(stages.map(_._1)),
      "streaming.match_fanout_ms" -> med(stages.map(_._2)),
      "streaming.deliver_ms" -> med(stages.map(_._3)),
      "streaming.log_write_ms" -> med(stages.map(_._4)),
      "core.spark.jobs_per_trigger" -> timedJobs.size / nTrig,
      "core.spark.tasks_per_trigger" -> timedJobs.map(_.tasks.get).sum / nTrig)
  }
}
