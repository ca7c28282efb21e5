package gfebench

import java.io.File
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import graft.gfe.{BuildIO, GfeBuild}
import graft.graph.{GraphLoad, GraphQueries, GraphStore, Motif}
import graft.ingest.ImgtFlatFile
import graft.model.AlleleRecord

/** The steps of one release cycle, each a traced call into one layer,
  * each output materialized through the noop sink and checked against
  * the generator's prediction. */
final class Release(c: Ctx, gen: Gen) {
  import c.{spark, tr}
  import spark.implicits._

  type Rel = (String, DataFrame, DataFrame, DataFrame)

  /** ingest: scan and parse the flat file once. */
  def ingest(flat: File, k: Int): Dataset[AlleleRecord] = tr("ingest.read") {
    val ds = ImgtFlatFile.read(spark, flat.getPath)
    val n = c.run(ds)("n").asInstanceOf[Long]
    c.check(s"ingest r$k record count", n == gen.releases(k).size)
    ds
  }

  /** gfe: build the five relations, the error channel and the carried
    * registry; every relation is materialized. The registry is written
    * where the next release's build reads it. */
  def build(recs: Dataset[AlleleRecord], k: Int, regIn: Option[File],
      regOut: File): GfeBuild.BuildResult = tr("gfe.run") {
    val registry = regIn.map(f => GfeBuild.readRegistry(spark, f.getPath))
    val r = GfeBuild.run(spark, recs, Gen.releaseId(k), registry = registry)
    val e = gen.expected(k)
    val nSeq = c.run(r.gfeSequences)("n").asInstanceOf[Long]
    val nFeat = c.run(r.allFeatures)("n").asInstanceOf[Long]
    c.run(r.allGroups); c.run(r.allCds)
    val nErr = c.run(r.errors)("n").asInstanceOf[Long]
    GfeBuild.writeRegistry(r.registry, regOut.getPath)
    val processable = gen.releases(k).count(_.processable).toLong
    c.check(s"gfe r$k gfe_sequences rows", nSeq == processable)
    c.check(s"gfe r$k all_features rows",
      nFeat == processable * Gen.positions.size)
    c.check(s"gfe r$k error rows", nErr == e.errors)
    r
  }

  /** buildio: the post-build gate; exit code 2 (partial) is predicted
    * from the generated records without CDS. */
  def gate(r: GfeBuild.BuildResult, k: Int): Unit = tr("buildio.validate") {
    val rep = BuildIO.validate(r, Gen.releaseId(k))
    val e = gen.expected(k)
    val want = if (e.errors == 0) 0 else if (e.errors <= 10) 2 else 1
    c.check(s"buildio r$k exit code ${rep.exitCode} (want $want)",
      rep.exitCode == want && rep.errorCount == e.errors)
  }

  def relation(r: GfeBuild.BuildResult, k: Int): Rel =
    (Gen.releaseId(k), r.gfeSequences, r.allFeatures, r.allGroups)

  /** graphload + graphstore.init: load the releases and publish them
    * as a fresh store (init writes every table). */
  def initStore(rels: Seq[Rel], dir: File): Unit = {
    val g = tr("graphload.loadAll") { GraphLoad.loadAll(spark, rels) }
    tr("graphstore.init") { GraphStore.init(spark, dir.getPath, g) }
  }

  /** graphstore.applyRelease, noting its dirty-bucket ratio when the
    * store's bucket count is known. */
  def apply(rel: Rel, dir: File, buckets: Int): Unit =
    tr("graphstore.applyRelease") {
      val st = GraphStore.applyRelease(spark, dir.getPath, rel)
      if (buckets > 0) tr.note("dirty_bucket_ratio",
        st.total.toDouble / (st.dirtyBuckets.size.max(1) * buckets))
    }

  /** The validation aggregations at the newest marker, which must hold
    * releases 0..k. */
  def validate(dir: File, k: Int): Unit = {
    val g = tr("graphstore.read") { GraphStore.read(spark, dir.getPath) }
    val e0 = gen.expected(k)
    val e = e0.copy(labels = e0.labels.updated("GFE", c.skew(e0.labels("GFE"))))
    val labels = tr("graphqueries.labelCounts") {
      c.rows(GraphQueries.labelCounts(g))
    }.map(r => r.getString(0) -> r.getLong(1)).toMap
    c.check(s"labelCounts r$k $labels (want ${e.labels})", labels == e.labels)
    val hist = tr("graphqueries.releasesHistogram") {
      c.rows(GraphQueries.releasesHistogram(g))
    }.map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    c.check(s"releasesHistogram r$k", hist == e.histogram)
    val acc = tr("graphqueries.accessionReleaseCounts") {
      c.rows(GraphQueries.accessionReleaseCounts(g))
    }.map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    c.check(s"accessionReleaseCounts r$k", acc == e.accessionReleases)
  }

  /** Bucket count of the store's tables (fixed at init). */
  def buckets(dir: File): Int =
    GraphStore.layoutReport(spark, dir.getPath).map(_.buckets).max

  // ---- served reads at a marker: each checked against the generator ----

  /** One point probe of the IPD_Allele table by name; a miss asks for a
    * name the generator never issues. */
  def probe(dir: File, a: Allele, hit: Boolean, k: Int,
      countOnly: Boolean = false): Unit = {
    val key = if (hit) a.hla else a.hla.replace(":01", ":99")
    val rows = served("graphstore.probe", countOnly, "hit" -> (if (hit) 1 else 0)) {
      GraphStore.probe(spark, dir.getPath, "IPD_Allele", Seq(key).toDF("name"),
        Seq("name"))
    }
    if (!countOnly) c.check(s"probe ${if (hit) "hit" else "miss"} $key r$k",
      if (hit) rows.size == 1 && rows.head.getAs[String]("name") == key
      else rows.isEmpty)
  }

  /** allele → GFE → feature, at the newest marker or as of `asOf`; the
    * (term, rank) set and the GFE count are the generator's, and each
    * feature's accession must sit at its position in the GFE name. */
  def khop(dir: File, a: Allele, k: Int, asOf: Option[Int],
      countOnly: Boolean = false): Unit = {
    val rows = served("motif.pathAnchored", countOnly,
        "asof" -> (if (asOf.isDefined) 1 else 0)) {
      Motif.pathAnchored(spark, dir.getPath, Seq(a.hla).toDF("name"),
        Seq(Motif.Hop("HAS_IPD_ALLELE", reverse = true),
          Motif.Hop("HAS_FEATURE")), asOf)
        .select(col("n1"), col("e1_term"), col("e1_rank"), col("e1_accession"))
    }
    if (!countOnly) {
      val at = asOf.getOrElse(k)
      val g = gen.gfesOf(a.hla, at)
      c.check(s"khop ${a.hla} at r$at",
        rows.map(r => (r.getString(1), r.getInt(2))).toSet ==
          Gen.termRanks.toSet &&
          rows.size == g * Gen.termRanks.size &&
          rows.map(_.getString(0)).distinct.size == g &&
          rows.forall(consistent))
    }
  }

  /** Time a served read: rows materialized through the noop sink, or,
    * with `countOnly`, the same query timed by `.count()` (which lets
    * Catalyst prune columns) under a `count:` span. */
  private def served(call: String, countOnly: Boolean,
      attrs: (String, Double)*)(df: => DataFrame): Seq[Row] =
    if (countOnly) tr(s"count:$call", attrs: _*) { df.count(); Seq.empty }
    else tr(call, attrs: _*) {
      val rows = c.rows(df)
      tr.note("rows", rows.size)
      rows
    }

  /** A feature row's accession sits at its structural position in the
    * GFE name (locus, "w", accessions joined by "-"). */
  private def consistent(r: Row): Boolean = {
    val accs = r.getString(0).split("w", 2)(1).split("-")
    val pos = Gen.termRanks.indexOf((r.getString(1), r.getInt(2)))
    pos >= 0 && accs.length == Gen.termRanks.size &&
      accs(pos) == r.getLong(3).toString
  }
}
