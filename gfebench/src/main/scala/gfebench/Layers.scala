package gfebench

import java.io.File

/** Per-layer metrics of a traced run, named `<layer>.<call>.<counter>`.
  *
  * A call's spans are those of the measured requests. Per call: `s` median self wall time;
  * `calls`; `jobs`, `task_s` (summed executor run time),
  * `shuffle_bytes`, `spill_bytes`, `input_bytes` as means per call;
  * `util` = task time ÷ (wall × cores), low when a call waits on job
  * latency or the driver rather than on compute. Every traced run
  * reports every metric; a call its workload never makes reads 0. */
object Layers {
  val full = Seq("s", "calls", "jobs", "task_s", "util", "shuffle_bytes",
    "spill_bytes", "input_bytes")
  /** (call, counters reported). */
  val calls: Seq[(String, Seq[String])] =
    Seq("gfe.run", "graphload.loadAll", "graphstore.init",
      "graphstore.applyRelease").map(_ -> full) ++
    Seq("cc", "scc", "pagerank").flatMap(a => Seq("local", "dist").map(p =>
      s"graphalgorithms.${a}_$p" ->
        Seq("s", "jobs", "task_s", "util", "shuffle_bytes"))) ++
    Seq("ingest.read", "buildio.validate", "graphstore.probe",
      "graphstore.read", "motif.pathAnchored")
      .map(_ -> Seq("s", "calls", "jobs", "task_s", "util", "input_bytes")) ++
    Seq("graphqueries.labelCounts", "graphqueries.releasesHistogram",
      "graphqueries.accessionReleaseCounts").map(_ -> Seq("s", "jobs"))

  def metrics(tr: Tracer, w: Workload, cores: Int, lat: Seq[Double],
      timed: Seq[HostClock.Timed], results: Option[String], workload: String)
      : Seq[(String, (Double, String))] = {
    val byId = tr.spans.map(s => s.id -> s).toMap
    def under(s: Span, name: String): Boolean =
      Iterator.iterate(s)(x => byId.getOrElse(x.parent, null))
        .takeWhile(_ != null).exists(_.name == name)
    val measured = tr.spans.filterNot(under(_, "setup"))
    val byName = measured.groupBy(_.name)
    def of(call: String): Seq[Span] = byName.getOrElse(call, Nil).toSeq
    def mean(xs: Seq[Span])(f: Span => Double): Double =
      if (xs.isEmpty) 0.0 else xs.map(f).sum / xs.size
    def ratio(num: Double, den: Double): Double = if (den > 0) num / den else 0
    def medS(xs: Seq[Span]) = Stats.median(xs.map(_.selfMs / 1e3))

    val out = Seq.newBuilder[(String, (Double, String))]
    calls.foreach { case (call, counters) =>
      val xs = of(call)
      counters.foreach { k =>
        val v = k match {
          case "s" => medS(xs)
          case "calls" => xs.size.toDouble
          case "jobs" => mean(xs)(_.counters.jobs.toDouble)
          case "task_s" => mean(xs)(_.counters.taskMs / 1e3)
          case "util" => ratio(xs.map(_.counters.taskMs.toDouble).sum,
            xs.map(_.durMs).sum * cores)
          case "shuffle_bytes" => mean(xs)(_.counters.shuffleBytes.toDouble)
          case "spill_bytes" => mean(xs)(_.counters.spillBytes.toDouble)
          case "input_bytes" => mean(xs)(_.counters.inputBytes.toDouble)
        }
        out += s"$call.$k" -> (v, unit(k))
      }
    }

    val apply = of("graphstore.applyRelease")
    out += "graphstore.applyRelease.dirty_bucket_ratio" ->
      (Stats.median(apply.flatMap(_.attrs.get("dirty_bucket_ratio"))), "ratio")
    val withBase = apply.filter(_.attrs.contains("release_bytes"))
    out += "graphstore.applyRelease.write_amp" -> (ratio(
      withBase.map(_.counters.outputBytes.toDouble).sum,
      withBase.map(_.attrs("release_bytes")).sum), "ratio")
    def rowsReadPerRow(call: String): Double = {
      val xs = of(call)
      ratio(xs.map(_.counters.recordsRead.toDouble).sum,
        xs.flatMap(_.attrs.get("rows")).sum)
    }
    out += "graphstore.probe.rows_read_per_row" ->
      (rowsReadPerRow("graphstore.probe"), "ratio")
    out += "motif.pathAnchored.rows_read_per_row" ->
      (rowsReadPerRow("motif.pathAnchored"), "ratio")
    val extras = w.layerExtras()
    val flat = extras.getOrElse("flat_bytes", 0.0)
    out += "gfe.run.scan_amp" ->
      (ratio(mean(of("gfe.run"))(_.counters.inputBytes.toDouble), flat), "ratio")
    out += "buildio.validate.scan_amp" -> (ratio(
      mean(of("buildio.validate"))(_.counters.inputBytes.toDouble), flat),
      "ratio")
    out += "spark.gc_s" -> (measured.map(_.counters.gcMs / 1e3).sum, "s")
    out += "jvm.peak_rss_mb" -> (Env.peakRssMb, "MB")
    out += "jvm.cpu_s_per_request" ->
      (Stats.median(timed.map(_.cpuS)), "s")
    out += "host.steal_share" -> (Stats.median(timed.map(_.stealShare)), "ratio")

    val probes = of("graphstore.probe")
    out += "graphstore.probe.hit_s" ->
      (medS(probes.filter(_.attrs.get("hit").contains(1.0))), "s")
    out += "graphstore.probe.miss_s" ->
      (medS(probes.filter(_.attrs.get("hit").contains(0.0))), "s")
    out += "motif.pathAnchored.asof_s" -> (medS(of("motif.pathAnchored")
      .filter(_.attrs.get("asof").contains(1.0))), "s")
    // the same reads timed by .count(): the column work it prunes away
    Seq("graphstore.probe", "motif.pathAnchored").foreach { call =>
        val noop = Stats.median(of(call).map(_.durMs))
        val cnt = Stats.median(of(s"count:$call").map(_.durMs))
        out += s"$call.count_over_noop" -> (ratio(cnt, noop), "ratio")
      }

    out += "graphstore.store_bytes_per_input_byte" ->
      (extras.getOrElse("graphstore.store_bytes_per_input_byte", 0.0), "ratio")
    out += "graphalgorithms.local_s" ->
      (extras.getOrElse("graphalgorithms.local_s", 0.0), "s")
    out += "graphalgorithms.dist_s" ->
      (extras.getOrElse("graphalgorithms.dist_s", 0.0), "s")

    // tracing overhead against the untraced runs of the same workload
    val p50 = Stats.median(lat)
    out += "trace.request_ms" -> (p50, "ms")
    val untraced = results.flatMap(d => untracedP50(new File(d), workload))
    untraced.foreach(u => System.err.println(
      f"[gfebench] tracing overhead: traced $p50%.1f ms vs untraced $u%.1f ms"))
    out += "trace.overhead_ratio" ->
      (untraced.fold(0.0)(u => p50 / u - 1.0), "ratio")
    out.result()
  }

  private def unit(counter: String): String = counter match {
    case "s" | "task_s" => "s"
    case "calls" | "jobs" => "count"
    case "util" => "ratio"
    case _ => "bytes"
  }

  /** Median request time of the untraced results on disk for this
    * workload (any seed). */
  private def untracedP50(dir: File, workload: String): Option[Double] = {
    val re = "\"request_ms\": \\{\"value\": ([0-9.eE+-]+)".r
    val vals = Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.getName.matches(s"\\Q$workload\\E-[0-9]+-0\\.json"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f)
        try re.findFirstMatchIn(src.mkString).map(_.group(1).toDouble)
        finally src.close()
      }
    if (vals.isEmpty) None else Some(Stats.median(vals))
  }
}
