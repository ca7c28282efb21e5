package gfebench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.gfe.GfeBuild
import graft.graph.{GraphAlgorithms, GraphLoad, GraphStore, Motif}

/** One workload: a set-up the harness repeats and times, and a request
  * (the unit a user waits for) the harness issues in a closed loop. */
abstract class Workload(val c: Ctx) {
  /** Prepare what the requests need; called several times, the last
    * state is the one measured. */
  def setup(rep: Int): Unit
  def request(i: Int): Unit
  /** Untimed bookkeeping after request `i`. */
  def after(i: Int): Unit = ()
  /** Untimed end-of-run checks. */
  def finish(): Unit = ()
  /** Workload-specific per-layer figures (traced runs). */
  def layerExtras(): Map[String, Double] = Map.empty
}

/** Sizes of every workload, full and smoke (self-test) scale. */
final case class Sizes(
    foldBase: Int, foldGrowth: Int, foldChanged: Int, foldReleases: Int,
    communities: Int, communitySize: Int, chords: Int, chain: Int)

object Sizes {
  val full = Sizes(foldBase = 500, foldGrowth = 250, foldChanged = 8,
    foldReleases = 2, communities = 80, communitySize = 10, chords = 20,
    chain = 10)
  val smoke = Sizes(foldBase = 150, foldGrowth = 40, foldChanged = 3,
    foldReleases = 2, communities = 20, communitySize = 6, chords = 6,
    chain = 6)
}

/** release_fold: the release cycle of a standing deployment. Set-up
  * writes the seeded flat files. A request takes the base release from
  * flat file into an empty store (build, gate, loadAll, init), then
  * folds each later release on top (build with the accession registry
  * carried, gate, applyRelease), and answers at the new marker the
  * validation aggregations and the anchored reads analysts issue:
  * point probes that hit and miss, and allele→GFE→feature now and as
  * of the first marker. */
final class ReleaseFold(c: Ctx, z: Sizes) extends Workload(c) {
  val gen = new Gen(c.seed, GenSpec(base = z.foldBase, growth = z.foldGrowth,
    releases = z.foldReleases, changed = z.foldChanged))
  val rel = new Release(c, gen)
  val last: Int = z.foldReleases - 1
  var flats: IndexedSeq[File] = IndexedSeq.empty
  private var store: File = _
  private var reqDir: File = _
  private val rng = new java.util.Random(c.seed * 31 + 7)

  def setup(rep: Int): Unit = {
    val d = c.dir(s"flat-$rep")
    flats = (0 to last).map(gen.write(_, d))
  }

  def request(i: Int): Unit = {
    reqDir = c.dir(s"req-$i")
    store = new File(reqDir, "store")
    def reg(k: Int) = new File(reqDir, s"reg/$k")
    var buckets = 0
    built.clear()
    for (k <- 0 to last) {
      val r = rel.build(rel.ingest(flats(k), k), k,
        if (k == 0) None else Some(reg(k - 1)), reg(k))
      rel.gate(r, k)
      if (k == 0) {
        rel.initStore(Seq(rel.relation(r, 0)), store)
        // the dirty-bucket ratio's base; read only when traced, so the
        // untraced request holds no bookkeeping I/O
        if (c.tr.enabled) buckets = rel.buckets(store)
      } else rel.apply(rel.relation(r, k), store, buckets)
      built += r
    }
    rel.validate(store, last)
    serve(countOnly = false)
  }

  private val built = mutable.ArrayBuffer.empty[GfeBuild.BuildResult]

  /** Traced runs, untimed: the bytes of each folded release's three
    * relations as parquet, the base of applyRelease's write amp. */
  override def after(i: Int): Unit = if (c.tr.enabled) {
    val applies = c.tr.spans.filter(_.name == "graphstore.applyRelease")
      .takeRight(last)
    (1 to last).foreach { k =>
      val r = built(k)
      val d = new File(reqDir, s"rel/$k")
      r.gfeSequences.write.mode("overwrite").parquet(s"$d/seq")
      r.allFeatures.write.mode("overwrite").parquet(s"$d/feat")
      r.allGroups.write.mode("overwrite").parquet(s"$d/groups")
      applies(k - 1).attrs("release_bytes") = Ctx.bytesUnder(d).toDouble
    }
  }

  /** The anchored reads, one of each, at the newest marker. */
  private def serve(countOnly: Boolean): Unit = {
    val now = gen.releases(last).filter(_.processable)
    val base = gen.releases(0).filter(_.processable)
    def pick(xs: IndexedSeq[Allele]) = xs(rng.nextInt(xs.size))
    rel.probe(store, pick(now), hit = true, last, countOnly)
    rel.probe(store, pick(now), hit = false, last, countOnly)
    rel.khop(store, pick(now), last, None, countOnly)
    rel.khop(store, pick(base), last, Some(0), countOnly)
  }

  /** Traced runs only (about 15 s, which the run budget of the
    * untraced runs cannot spare; those still check every answer against
    * the generator): time the anchored reads by `.count()`, and check
    * that the standing store equals the refold of the same releases
    * from the builds still cached. */
  override def finish(): Unit = if (c.tr.enabled) {
    serve(countOnly = true)
    val refold = GraphLoad.loadAll(c.spark,
      built.zipWithIndex.map { case (r, k) => rel.relation(r, k) }.toSeq)
    val st = GraphStore.read(c.spark, store.getPath)
    // both sides' 11 row counts and HAS_IPD_ALLELE hashes in one job
    def facts(side: String, g: GraphLoad.Graph): DataFrame =
      ((g.vertexTables ++ g.edgeTables).toSeq.map { case (t, df) =>
        df.agg(count(lit(1)).as("v")).select(lit(t).as("k"), col("v"))
      } :+ g.hasIpdAllele.agg(coalesce(sum(shiftrightunsigned(xxhash64(
        g.hasIpdAllele.columns.map(col).toIndexedSeq: _*), 32)), lit(0L))
        .as("v")).select(lit("HAS_IPD_ALLELE#hash").as("k"), col("v")))
        .reduce(_ unionByName _).withColumn("side", lit(side))
    val got = facts("store", st).unionByName(facts("refold", refold))
      .collect().map(r => (r.getAs[String]("side"), r.getAs[String]("k")) ->
        r.getAs[Long]("v")).toMap
    def side(s: String) = got.collect { case ((`s`, k), v) => k -> v }
    c.check(s"fold r$last store ${side("store")} == refold ${side("refold")}",
      side("store") == side("refold") && side("store").size == 12)
  }

  override def layerExtras(): Map[String, Double] = Map(
    "graphstore.store_bytes_per_input_byte" ->
      Ctx.bytesUnder(store).toDouble / flats.map(_.length()).sum,
    "flat_bytes" -> flats.map(_.length().toDouble).sum / flats.size)
}

/** analytics_fixpoint: CC, SCC and integer PageRank, driver-local and
  * distributed, on a graph of dense communities plus one long chain. */
final class AnalyticsFixpoint(c: Ctx, z: Sizes) extends Workload(c) {
  val g = new AnalyticsGraph(c.seed, z.communities, z.communitySize, z.chords,
    z.chain)
  var edges: DataFrame = _
  import c.spark.implicits._

  def setup(rep: Int): Unit = {
    if (edges != null) edges.unpersist()
    edges = g.edges.toDF("src", "dst").repartition(
      c.spark.sparkContext.defaultParallelism).cache()
    edges.count()
  }

  /** One algorithm on one path, under the span
    * `graphalgorithms.<algo>_<local|dist>` (cc = connectedComponentsDF,
    * scc = stronglyConnectedComponentsDF, pagerank = pageRankIntDF). */
  private def algo(name: String, local: Boolean): (Long, Long, Long) = {
    val th = if (local) 1000000L else 0L
    val path = if (local) "local" else "dist"
    c.tr(s"graphalgorithms.${name}_$path") {
      val df = name match {
        case "cc" => GraphAlgorithms.connectedComponentsDF(edges, "src", "dst",
          localThreshold = th)
        case "scc" => GraphAlgorithms.stronglyConnectedComponentsDF(edges,
          "src", "dst", localThreshold = th)
        case "pagerank" => GraphAlgorithms.pageRankIntDF(edges, "src", "dst",
          localThreshold = th)
      }
      val cols = df.columns.map(col).toIndexedSeq
      val r = c.run(df, "n" -> count(lit(1)),
        "h" -> coalesce(sum(shiftrightunsigned(xxhash64(cols: _*), 32)),
          lit(0L)),
        "roots" -> (if (df.columns.contains("component"))
          sum(when(col("id") === col("component"), 1L).otherwise(0L))
        else lit(0L)))
      (r("n").asInstanceOf[Long], r("h").asInstanceOf[Long],
        r("roots").asInstanceOf[Long])
    }
  }

  val localS = mutable.ArrayBuffer.empty[Double]
  val distS = mutable.ArrayBuffer.empty[Double]

  def request(i: Int): Unit = c.tr("analytics", "i" -> i) {
    val algos = Seq("cc", "scc", "pagerank")
    val t0 = System.nanoTime()
    val loc = algos.map(a => algo(a, local = true))
    val t1 = System.nanoTime()
    val dis = algos.map(a => algo(a, local = false))
    val t2 = System.nanoTime()
    localS += (t1 - t0) / 1e9
    distS += (t2 - t1) / 1e9
    algos.indices.foreach { j =>
      c.check(s"${algos(j)} local == distributed", loc(j) == dis(j))
      c.check(s"${algos(j)} vertex count", loc(j)._1 == g.vertices)
    }
    c.check(s"cc components ${loc(0)._3} (want ${g.expectedCc})",
      loc(0)._3 == c.skew(g.expectedCc))
    c.check(s"scc components ${loc(1)._3} (want ${g.expectedScc})",
      loc(1)._3 == g.expectedScc)
  }

  override def layerExtras(): Map[String, Double] = Map(
    "graphalgorithms.local_s" -> Stats.median(localS.toSeq),
    "graphalgorithms.dist_s" -> Stats.median(distS.toSeq))
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
