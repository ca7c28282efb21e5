package gfebench

import scala.collection.mutable
import org.apache.spark.scheduler._

/** Spark's own counters for the tasks of one job. */
final class Counters {
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var outputBytes = 0L
  def add(o: Counters): Unit = {
    jobs += o.jobs; taskMs += o.taskMs; gcMs += o.gcMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; recordsRead += o.recordsRead
    outputBytes += o.outputBytes
  }
}

/** Collects per-job task counters. Jobs are attributed to spans later,
  * by submission time: the benchmark issues one call at a time, so the
  * innermost span open when a job was submitted is the call that
  * caused it — including jobs submitted from pooled futures, which do
  * not inherit the caller's job group. */
final class JobListener extends SparkListener {
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Counters]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    val c = new Counters
    c.jobs = 1
    jobs.put(e.jobId, c)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val job = stageJob.getOrDefault(e.stageId, -1)
    if (m == null || job < 0) return
    val c = jobs.get(job)
    if (c == null) return
    c.synchronized {
      c.taskMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputBytes += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead +
        m.shuffleReadMetrics.recordsRead
      c.outputBytes += m.outputMetrics.bytesWritten
    }
  }
}

final case class Span(id: Int, parent: Int, name: String, startMs: Double,
    var endMs: Double, attrs: mutable.Map[String, Double]) {
  val counters = new Counters
  var selfMs = 0.0
  def durMs: Double = endMs - startMs
}

/** One span per call into a layer. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String, attrs: (String, Double)*)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, stack.headOption.fold(-1)(_.id), name, nowMs,
        0.0, mutable.Map(attrs: _*))
      spans += s
      stack = s :: stack
      try body
      finally { s.endMs = nowMs; stack = stack.tail }
    }

  /** Attach a measured attribute to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.attrs(key) = value)

  /** Fold job counters into spans and derive self times. */
  def finish(l: JobListener): Unit = {
    import scala.jdk.CollectionConverters._
    val byStart = spans.sortBy(_.startMs)
    l.jobs.asScala.foreach { case (job, c) =>
      val t = l.jobStart.get(job).toDouble
      // innermost span open at submission: the latest-started one
      // covering t (ms resolution on the job side)
      val owner = byStart.filter(s => s.startMs <= t + 1 && s.endMs >= t)
        .lastOption
      owner.foreach(_.counters.add(c))
    }
    val kids = spans.groupBy(_.parent)
    spans.foreach { s =>
      val cs = kids.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
        .sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      cs.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      s.selfMs = s.durMs - covered
    }
  }

  def writeJsonl(path: java.io.File): Unit = {
    path.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = s.counters
      val fields = Seq(
        "run" -> Json.str(runId), "span" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "self_ms" -> Json.num(s.selfMs), "jobs" -> c.jobs.toString,
        "task_ms" -> c.taskMs.toString, "gc_ms" -> c.gcMs.toString,
        "shuffle_bytes" -> c.shuffleBytes.toString,
        "spill_bytes" -> c.spillBytes.toString,
        "input_bytes" -> c.inputBytes.toString,
        "records_read" -> c.recordsRead.toString,
        "output_bytes" -> c.outputBytes.toString) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }
      w.println(Json.obj(fields))
    } finally w.close()
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
