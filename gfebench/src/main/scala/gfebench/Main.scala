package gfebench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its metrics; the last stdout line is
  * the result object `{correct, attempted, failed, metrics}`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   [--smoke] [--corrupt-expectation] [--work <dir>] [--results <dir>]
  *   [--source <id>]
  *
  * `--corrupt-expectation` (self-test) shifts one predicted answer, so
  * a correct engine must fail the run.
  *
  * End-to-end metrics (untraced runs) are the same for every workload:
  * `setup_s`, and `request_ms`, where a request is one release cycle
  * (release_fold) or one pass of CC, SCC and PageRank on both paths
  * (analytics_fixpoint). Traced runs report the per-layer metrics of
  * [[Layers]] instead. */
object Main {
  def log(msg: String): Unit = System.err.println(s"[gfebench] $msg")

  val workloads = Seq("release_fold", "analytics_fixpoint")

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val smoke = args.contains("--smoke")
    val workload = opts("workload")
    require(workloads.contains(workload),
      s"unknown workload $workload (known: ${workloads.mkString(", ")})")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    // smoke results are kept apart from full-size ones
    val tag = if (smoke) s"$workload-smoke" else workload
    val work = new File(opts.getOrElse("work", "work"), s"$tag-$seed-${
      if (trace) 1 else 0}").getAbsoluteFile
    Ctx.rmrf(work); work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val master = s"local[$cores]"

    val spark = SparkSession.builder()
      .master(master)
      .appName(s"gfebench-$workload")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.checkpoint.dir", new File(work, "checkpoint").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoint").getPath)
    val listener = new JobListener
    if (trace) spark.sparkContext.addSparkListener(listener)

    val tr = new Tracer(trace, s"$workload-$seed-${System.currentTimeMillis}")
    val c = new Ctx(spark, tr, work, seed,
      corrupt = args.contains("--corrupt-expectation"))
    val z = if (smoke) Sizes.smoke else Sizes.full
    val w: Workload = workload match {
      case "release_fold" => new ReleaseFold(c, z)
      case "analytics_fixpoint" => new AnalyticsFixpoint(c, z)
    }

    var error: Option[Throwable] = None
    val setupS = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[Double]
    val timed = mutable.ArrayBuffer.empty[HostClock.Timed]
    try {
      // set-up, repeated; the last state is the one measured
      val setups = if (smoke) 2 else 3
      for (rep <- 0 until setups) {
        val t = HostClock.time { tr("setup", "rep" -> rep) { w.setup(rep) } }
        setupS += t.seconds
        log(f"set-up $rep: ${t.seconds}%.2f s (wall ${t.wallS}%.2f s, " +
          f"steal ${t.stealShare}%.3f)")
      }
      // closed loop, one client: the next request is issued when the
      // previous one returned; at least one request per run
      val t0 = System.nanoTime()
      var i = 0
      while (i < 1 || (System.nanoTime() - t0) / 1e9 < seconds) {
        val t = HostClock.time(w.request(i))
        timed += t
        lat += t.seconds * 1e3
        log(f"request $i: ${t.seconds}%.2f s (wall ${t.wallS}%.2f s, " +
          f"steal ${t.stealShare}%.3f)")
        w.after(i)
        i += 1
      }
      val tf = System.nanoTime()
      w.finish()
      log(f"end-of-run checks: ${(System.nanoTime() - tf) / 1e9}%.2f s")
    } catch {
      case t: Throwable => error = Some(t)
    }

    val env = Env.collect(spark, master, seed, opts.get("source"))
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val ok = error.isEmpty && c.failed == 0 && lat.nonEmpty
    if (error.isDefined) {
      System.err.println("[gfebench] run aborted:")
      error.get.printStackTrace()
    }
    if (ok) {
      metrics("setup_s") = (Stats.median(setupS.toSeq), "s")
      metrics("request_ms") = (Stats.median(lat.toSeq), "ms")
      if (trace) {
        org.apache.spark.BenchShim.drainListeners(spark.sparkContext)
        tr.finish(listener)
        val spansOut = new File(opts.getOrElse("results", work.getParent),
          s"spans-$tag-$seed.jsonl")
        tr.writeJsonl(spansOut)
        System.err.println(s"[gfebench] spans: $spansOut")
        metrics.clear()
        Layers.metrics(tr, w, cores, lat.toSeq, timed.toSeq,
          opts.get("results"), tag)
          .foreach { case (k, v) => metrics(k) = v }
      }
    }
    val failedRatio =
      if (c.attempted == 0) 1.0 else c.failed.toDouble / c.attempted
    // every metric by name with its unit, then the environment, then
    // the result object as the last line
    metrics.foreach { case (k, (v, u)) =>
      System.out.println(f"# $k%-58s ${Json.num(v)}%s $u") }
    System.out.println(f"# ${"failed_ratio"}%-58s ${Json.num(failedRatio)} ratio")
    if (c.failures.nonEmpty)
      System.out.println("# wrong answers: " + c.failures.mkString("; "))
    val envJson = Json.obj(env.toSeq.map { case (k, v) => k -> v } ++ Seq(
      "workload" -> Json.str(workload), "trace" -> (if (trace) "1" else "0"),
      "seconds" -> Json.num(seconds), "requests" -> lat.size.toString,
      "failed_ratio" -> Json.num(failedRatio),
      "setup_samples_s" -> setupS.map(Json.num).mkString("[", ", ", "]"),
      "request_samples_ms" -> lat.map(Json.num).mkString("[", ", ", "]"),
      "request_wall_ms" -> timed.map(t => Json.num(t.wallS * 1e3))
        .mkString("[", ", ", "]"),
      "request_steal_share" -> timed.map(t => Json.num(t.stealShare))
        .mkString("[", ", ", "]")))
    System.out.println(s"# env $envJson")
    opts.get("results").foreach { d =>
      new File(d).mkdirs()
      val f = new File(d, s"$tag-$seed-${if (trace) 1 else 0}.json")
      val pw = new java.io.PrintWriter(f, "UTF-8")
      try pw.println(Json.obj(Seq("env" -> envJson, "metrics" ->
        Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        })))) finally pw.close()
    }
    spark.stop()
    if (!ok) {
      System.err.println(s"[gfebench] FAILED: ${c.failed} wrong of " +
        s"${c.attempted}" + error.fold("")(e => s"; error: $e"))
      System.exit(1)
    }
    System.out.println(Json.obj(Seq(
      "correct" -> "true",
      "attempted" -> c.attempted.toString,
      "failed" -> c.failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.map { case (k, (v, u)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    System.exit(0)
  }
}

object Env {
  /** Peak resident set of this process (Linux), in MB. */
  def peakRssMb: Double = {
    val f = new File("/proc/self/status")
    if (!f.exists()) Runtime.getRuntime.totalMemory / 1e6
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") =>
          l.replaceAll("[^0-9]", "").toDouble / 1024.0
      }.getOrElse(0.0) finally src.close()
    }
  }

  def collect(spark: SparkSession, master: String, seed: Long,
      source: Option[String]): Map[String, String] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors.toString,
    "spark_master" -> Json.str(master),
    "spark_version" -> Json.str(spark.version),
    "driver_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
    "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
      System.getProperty("java.runtime.version")),
    "seed" -> seed.toString,
    "source" -> Json.str(source.getOrElse("unknown")))
}

/** Request timing on a shared virtual host. The hypervisor can withhold
  * the CPU from a runnable vCPU ("steal", the 8th field of /proc/stat's
  * cpu line); on a 4-core virtual host it reached 18 % of a run and
  * stretched the same request by a third. A timed region therefore
  * reports its wall time scaled by the share of runnable CPU time that
  * actually ran: wall × busy ÷ (busy + steal), with busy and steal
  * summed over all CPUs across the region. Raw wall time and the steal
  * share are kept in the run's environment record. Without /proc/stat
  * the wall time is reported as is. */
object HostClock {
  /** `cpuS`: process CPU seconds spent in the region. */
  final case class Timed(wallS: Double, busy: Long, steal: Long, cpuS: Double) {
    def stealShare: Double =
      if (busy + steal == 0) 0.0 else steal.toDouble / (busy + steal)
    def seconds: Double = wallS * (1.0 - stealShare)
  }

  private val stat = new File("/proc/stat")
  /** (busy, steal) jiffies over all CPUs: user, nice, system, irq,
    * softirq; and steal. */
  private def sample(): (Long, Long) =
    if (!stat.exists()) (0L, 0L)
    else {
      val src = scala.io.Source.fromFile(stat)
      try {
        val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        (f(0) + f(1) + f(2) + f(5) + f(6), if (f.length > 7) f(7) else 0L)
      } finally src.close()
    }

  private val os = java.lang.management.ManagementFactory
    .getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def time(body: => Unit): Timed = {
    val (b0, s0) = sample()
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    val c1 = os.getProcessCpuTime
    val (b1, s1) = sample()
    Timed(wall, b1 - b0, s1 - s0, (c1 - c0) / 1e9)
  }
}
