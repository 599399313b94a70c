package e2ebench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark process: `Harness <workload> <seed> <seconds> <trace> <nproc> <workdir>`.
  *
  * Reads the generated inputs under `<workdir>/in`, runs one workload against
  * the public functions of the program, and writes `<workdir>/out/result.json`
  * plus the outputs the checks read. The process never judges its own
  * outputs: `run.py` checks them afterwards, against expectations made from
  * the seed alone. */
object Harness {

  final case class Ctx(spark: SparkSession, seconds: Int, traced: Boolean, nproc: Int,
                       in: String, out: String, jobs: JobStats,
                       planning: PlanningStats, progress: ProgressStats)

  /** What a workload hands back: end-to-end values, per-layer values (traced
    * runs), operation counts, the wall-clock time of its first timed
    * operation and any workload-specific diagnostics. */
  final case class Outcome(e2e: Map[String, Double], layers: Map[String, Double],
                           attempted: Long, failed: Long,
                           firstTimedMs: Long, diag: Map[String, Any])

  def main(args: Array[String]): Unit = {
    val Array(workload, seed, seconds, trace, nproc, work) = args
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val proc0 = ProcSample()
    val spark = session(nproc.toInt, work)
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val jobs = new JobStats
    val planning = new PlanningStats
    val progress = new ProgressStats
    Trace.on = trace == "1"
    // listeners only in the traced run: end-to-end figures come from runs
    // with no tracing at all
    if (Trace.on) {
      spark.sparkContext.addSparkListener(jobs)
      spark.listenerManager.register(planning)
      spark.streams.addListener(progress)
    }
    val out = s"$work/out"
    new java.io.File(out).mkdirs()
    val ctx = Ctx(spark, seconds.toInt, Trace.on, nproc.toInt, s"$work/in", out,
      jobs, planning, progress)
    val outcome = workload match {
      case "deliver" => Deliver.run(ctx)
      case "serve" => Serve.run(ctx)
      case "curate" => Curate.run(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val proc1 = ProcSample()
    val confs = spark.conf.getAll.filter(_._1.startsWith("spark.")).toSeq.sortBy(_._1)
    val result = Map(
      "workload" -> workload, "seed" -> seed.toLong, "traced" -> Trace.on,
      "session_s" -> sessionS,
      "setup_s" -> (outcome.firstTimedMs - startMs) / 1000.0,
      "e2e" -> outcome.e2e, "layers" -> outcome.layers,
      "attempted" -> outcome.attempted, "failed" -> outcome.failed,
      "diag" -> outcome.diag,
      "context" -> Map(
        "nproc" -> nproc.toInt,
        "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576L,
        "master" -> spark.sparkContext.master,
        "confs" -> confs.toMap,
        "steal_s" -> (proc1.stealTicks - proc0.stealTicks) / 100.0,
        "own_cpu_s" -> (proc1.ownTicks - proc0.ownTicks) / 100.0,
        "other_cpu_s" -> ((proc1.busyTicks - proc0.busyTicks) -
          (proc1.ownTicks - proc0.ownTicks)) / 100.0,
        "peak_rss_mb" -> ProcSample.peakRssMb()))
    if (Trace.on) Trace.dump(s"$out/spans.jsonl")
    Json.write(s"$out/result.json", result)
    spark.stop()
    // HTTP handler pools and stream threads must not keep the JVM alive
    sys.exit(0)
  }

  /** One session, built as `graft.Bench` builds it, at `local[nproc]`; all
    * scratch space stays under the work directory. */
  def session(nproc: Int, work: String): SparkSession = {
    val s = graft.core.FastFs.install(SparkSession.builder())
      .master(s"local[$nproc]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.files.maxPartitionBytes", "64m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- small shared helpers ------------------------------------------------

  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }

  def nowMs(): Long = System.currentTimeMillis()

  def msSince(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body` with Spark jobs tagged as belonging to request `req`. */
  def tagged[A](spark: SparkSession, req: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.setLocalProperty(JobStats.Prop, req)
    try body finally sc.setLocalProperty(JobStats.Prop, null)
  }
}

/** /proc counters for the run context (the `graft.Bench` steal method). */
final case class ProcSample(stealTicks: Long, busyTicks: Long, ownTicks: Long)

object ProcSample {
  def apply(): ProcSample = {
    val cpu = graft.core.ProcFs.firstLine("/proc/stat").trim.split("\\s+").drop(1)
      .map(_.toLong)
    // user nice system idle iowait irq softirq steal
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    val self = graft.core.ProcFs.slurp("/proc/self/stat")
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    ProcSample(cpu(7), busy, f(11).toLong + f(12).toLong)
  }

  def peakRssMb(): Double =
    graft.core.ProcFs.slurp("/proc/self/status").split("\n")
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Process CPU seconds so far. */
  def ownCpuS(): Double = apply().ownTicks / 100.0
}

/** Minimal JSON writer over Scala maps, sequences and scalars. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def toJava(x: Any): AnyRef = x match {
    case m: Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.toSeq.sortBy(_._1.toString).foreach { case (k, v) => j.put(k.toString, toJava(v)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double if d.isNaN || d.isInfinite => null
    case null => null
    case v: AnyRef => v
    case v => v.asInstanceOf[AnyRef]
  }

  def write(path: String, x: Any): Unit =
    mapper.writeValue(new java.io.File(path), toJava(x))

  def line(x: Any): String = mapper.writeValueAsString(toJava(x))

  def read(path: String): com.fasterxml.jackson.databind.JsonNode =
    mapper.readTree(new java.io.File(path))

  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}
