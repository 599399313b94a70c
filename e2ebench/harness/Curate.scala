package e2ebench

import scala.jdk.CollectionConverters._

import graft.SparkEntry

import Harness._

/** `curate`: LLM-data curation queries over fixed, read-only tables.
  *
  * A warm-up pass writes each result to `<out>/curate/<query>` for the
  * checks. Timed: one cold pass per five seconds of window (at least two),
  * each query alone in the seed's order (cache cleared before and after,
  * materialized through the noop sink). */
object Curate {

  def run(c: Ctx): Outcome = {
    val spark = c.spark
    val dir = s"${c.in}/curate"
    val order = Json.read(s"$dir/order.json").elements.asScala.map(_.asText).toVector

    val w0 = System.nanoTime()
    order.foreach { q =>
      spark.catalog.clearCache()
      SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"${c.out}/curate/$q")
    }
    val warmS = msSince(w0) / 1000.0

    final case class Run(q: String, s: Double, fromMs: Long, toMs: Long)
    val runs = Vector.newBuilder[Run]
    val firstTimedMs = nowMs()
    val cpu0 = ProcSample.ownCpuS()
    val t0 = System.nanoTime()
    val passes = math.max(2, c.seconds / 5)
    (0 until passes).foreach { _ =>
      order.foreach { q =>
        spark.catalog.clearCache()
        val from = nowMs(); val s0 = System.nanoTime()
        Trace.span(s"queries.$q", q) {
          SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
        }
        runs += Run(q, msSince(s0) / 1000.0, from, nowMs())
      }
      spark.catalog.clearCache()
    }
    val wallS = msSince(t0) / 1000.0
    val cpuShare = (ProcSample.ownCpuS() - cpu0) / (wallS * c.nproc)
    val all = runs.result()
    // of an even count, the median is the mean of the middle two
    def median(xs: Seq[Double]) = {
      val s = xs.sorted
      (s((s.size - 1) / 2) + s(s.size / 2)) / 2
    }
    val perQuery = order.map(q => q -> median(all.filter(_.q == q).map(_.s))).toMap
    val total = perQuery.values.sum

    val layers =
      if (!c.traced) Map.empty[String, Double]
      else order.flatMap { q =>
        val rs = all.filter(_.q == q)
        def med(f: Run => Double) = median(rs.map(f))
        def jobs(r: Run) = c.jobs.within(r.fromMs, r.toMs)
        Seq(
          s"queries.$q.s" -> perQuery(q),
          s"queries.$q.jobs" -> med(r => jobs(r).size.toDouble),
          s"queries.$q.tasks" -> med(r => jobs(r).map(_.tasks.get).sum.toDouble),
          s"queries.$q.shuffle_write_mb" ->
            med(r => jobs(r).map(_.shuffleWriteBytes.get).sum / 1048576.0),
          s"queries.$q.spill_mb" -> med(r => jobs(r).map(_.spillBytes.get).sum / 1048576.0),
          s"queries.$q.driver_gap_s" ->
            med(r => r.s - JobStats.unionMs(jobs(r)) / 1000.0),
          s"queries.$q.planning_ms" -> med(r => c.planning.within(r.fromMs, r.toMs)))
      }.toMap + ("core.cpu_busy_share" -> cpuShare)
    // each query weighs equally in the typical figure: the geometric mean
    // of the per-query medians; the tail is the slowest single cold run.
    // With one query, ops_per_s is close to 1000 / p50_ms.
    val geoMs = math.exp(perQuery.values.map(s => math.log(s * 1000.0)).sum / perQuery.size)
    Outcome(
      e2e = Map("p50_ms" -> geoMs, "tail_ms" -> all.map(_.s * 1000.0).max,
        "ops_per_s" -> all.size / wallS),
      layers = layers, attempted = order.size.toLong * (passes + 1), failed = 0L,
      firstTimedMs = firstTimedMs,
      diag = Map("passes" -> passes, "warmup_s" -> warmS, "query_total_s" -> total,
        "query_s" -> perQuery, "cpu_busy_share" -> cpuShare))
  }
}
