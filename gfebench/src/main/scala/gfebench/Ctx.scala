package gfebench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** What one run shares across its workload code: the session, the
  * tracer, the scratch directory, and the tally of checked calls. */
final class Ctx(val spark: SparkSession, val tr: Tracer, val work: File,
    val seed: Long, val corrupt: Boolean = false) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  /** Self-test hook: shift a predicted value so that the check
    * comparing against it must fail. */
  def skew(v: Long): Long = if (corrupt) v + 1 else v

  /** Record one checked outcome; a miss fails the run. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (failures.size < 20) failures += what
      System.err.println(s"[gfebench] WRONG ANSWER: $what")
    }
  }

  /** Materialize every row and column of `df` through the `noop` sink
    * (no column pruning, no driver transfer) while observing the named
    * aggregates over the same rows; returns the observed values. */
  def run(df: Dataset[_], aggs: (String, Column)*): Map[String, Any] = {
    val obs = Observation()
    val all = if (aggs.isEmpty) Seq("n" -> count(lit(1))) else aggs
    val cols = all.map { case (n, c) => c.as(n) }
    df.observe(obs, cols.head, cols.tail: _*)
      .write.format("noop").mode("overwrite").save()
    obs.get
  }

  /** Materialize and return the rows themselves (small results only):
    * observed as one `collect_list` over the same noop-sink pass. */
  def rows(df: Dataset[_]): Seq[Row] = {
    val obs = Observation()
    val d = df.toDF()
    d.observe(obs, collect_list(struct(d.columns.map(col).toIndexedSeq: _*))
      .as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[scala.collection.Seq[Row]].toSeq
  }

  def dir(name: String): File = {
    val d = new File(work, name); d.mkdirs(); d
  }
}

object Ctx {
  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(bytesUnder).sum)
      .getOrElse(0L)
    else f.length()
}
