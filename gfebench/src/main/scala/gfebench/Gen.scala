package gfebench

import java.io.{BufferedWriter, File, FileWriter}
import scala.collection.mutable

/** Seeded input generator. Writes IMGT/EMBL flat files in the layout
  * `graft.ingest.ImgtFlatFile` parses (the shape of
  * `graft.gfe.SyntheticRelease`: 17 features plus a CDS with
  * translation per allele), and predicts from its own model, without
  * calling the engine, what a correct build and load must answer.
  *
  * Knobs:
  *  - `pool`: variants per (locus, feature position). It sets how many
  *    alleles share a feature sequence, hence the registry's size.
  *  - `base`, `growth`, `releases`: release-to-release growth; every
  *    release is a superset of the previous one.
  *  - `changed`: alleles per release (after the first) whose sequence
  *    changes at one feature position, so GFE history accumulates.
  *  - `noCds`, `short`: unprocessable records per release. A record
  *    without CDS lands in the build's error channel (gate exit code
  *    2); a record of at most 5 bp is dropped by the processable
  *    filter.
  */
final case class GenSpec(
    base: Int,
    growth: Int = 0,
    releases: Int = 1,
    pool: Int = 40,
    changed: Int = 0,
    noCds: Int = 3,
    short: Int = 2)

object Gen {
  val loci: Vector[String] = Vector("HLA-A", "HLA-B", "HLA-C", "HLA-DRB1",
    "HLA-DQB1", "HLA-DPB1", "HLA-DQA1", "HLA-DPA1")

  /** (position name, length in bp), in structural order: 5'UTR,
    * exon1, intron1, ..., exon8, 3'UTR. */
  val positions: Vector[(String, Int)] =
    Vector(("utr5", 30)) ++
      (1 to 8).flatMap(r => Vector((s"exon$r", 18 + 3 * (r % 3))) ++
        (if (r < 8) Vector((s"intron$r", 12 + 3 * (r % 2))) else Nil)) ++
      Vector(("utr3", 24))

  /** The (term, rank) pair the build assigns to each position. */
  val termRanks: Vector[(String, Int)] = positions.map { case (p, _) =>
    if (p == "utr5") ("FIVE_PRIME_UTR", 1)
    else if (p == "utr3") ("THREE_PRIME_UTR", 1)
    else if (p.startsWith("exon")) ("EXON", p.drop(4).toInt)
    else ("INTRON", p.drop(6).toInt)
  }

  /** First release id; release k is `firstRelease + 10 k`. */
  val firstRelease = 3400
  def releaseId(k: Int): String = (firstRelease + 10 * k).toString
  /** `GfeConstants.formatRelease` for the ids above. */
  def dotted(k: Int): String = {
    val v = releaseId(k); s"${v.take(1)}.${v.slice(1, 3)}.${v(3)}"
  }
}

/** One allele in one release. `tuple` holds the variant index of each
  * feature position; `kind` is 0 normal, 1 no CDS, 2 short (≤ 5 bp). */
final case class Allele(locusIx: Int, idx: Int, tuple: Vector[Int],
    kind: Int) {
  def locus: String = Gen.loci(locusIx)
  def hla: String =
    f"$locus*${1 + idx / 900}%02d:${1 + idx % 900}%03d:01"
  def acc: String = f"HB$locusIx%d$idx%06d"
  def processable: Boolean = kind != 2
  def gfeKey: (Int, Vector[Int]) = (locusIx, tuple)
}

final class Gen(seed: Long, spec: GenSpec) {
  import Gen._
  private val rng = new java.util.Random(seed)

  private def randomBases(r: java.util.Random, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb += "ACGT".charAt(r.nextInt(4)); i += 1 }
    sb.result()
  }

  /** variants(locus)(position)(v): distinct within (locus, position). */
  val variants: Vector[Vector[Vector[String]]] = loci.indices.toVector.map {
    _ => positions.map { case (_, len) =>
      val seen = mutable.LinkedHashSet.empty[String]
      while (seen.size < spec.pool) seen += randomBases(rng, len)
      seen.toVector
    }
  }

  private def freshTuple(): Vector[Int] =
    positions.indices.toVector.map(_ => rng.nextInt(spec.pool))

  /** releases(k): every allele record of release k, in file order. */
  val releases: Vector[Vector[Allele]] = {
    val nextIdx = Array.fill(loci.size)(0)
    def mint(n: Int, kind: Int): Vector[Allele] = Vector.tabulate(n) { i =>
      val l = i % loci.size
      val a = Allele(l, nextIdx(l), freshTuple(), kind)
      nextIdx(l) += 1
      a
    }
    val first = mint(spec.noCds, 1) ++ mint(spec.short, 2) ++
      mint(spec.base, 0)
    val out = mutable.ArrayBuffer(first)
    for (_ <- 1 until spec.releases) {
      val prev = out.last
      // change one position of `changed` distinct normal alleles to a
      // variant this allele has not carried yet in this release
      val normal = prev.indices.filter(i => prev(i).kind == 0)
      val pick = mutable.LinkedHashSet.empty[Int]
      while (pick.size < math.min(spec.changed, normal.size))
        pick += normal(rng.nextInt(normal.size))
      val next = prev.zipWithIndex.map { case (a, i) =>
        if (!pick(i)) a
        else {
          val p = rng.nextInt(positions.size)
          val v = (a.tuple(p) + 1 + rng.nextInt(spec.pool - 1)) % spec.pool
          a.copy(tuple = a.tuple.updated(p, v))
        }
      }
      out += next ++ mint(spec.growth, 0)
    }
    out.toVector
  }

  def featureSeq(a: Allele, p: Int): String = variants(a.locusIx)(p)(a.tuple(p))

  /** The EMBL text of one record. */
  def record(a: Allele): String = {
    val sb = new StringBuilder(2048)
    if (a.kind == 2) {
      val s = variants(a.locusIx)(0)(a.tuple(0)).take(4)
      sb ++= s"ID   ${a.acc}; SV 1; standard; DNA; HUM; 4 BP.\n"
      sb ++= s"DE   ${a.hla}, Human MHC sequence\n"
      sb ++= "FT   source          1..4\n"
      sb ++= "SQ   Sequence 4 BP; 0 A; 0 C; 0 G; 0 T; 0 other;\n"
      sb ++= f"     ${s.toLowerCase}%-66s4\n//\n"
      return sb.result()
    }
    var pos = 1
    val segs = positions.indices.map { p =>
      val s = featureSeq(a, p)
      val r = (positions(p)._1, pos, pos + s.length - 1)
      pos += s.length
      r
    }
    val full = positions.indices.map(featureSeq(a, _)).mkString
    sb ++= s"ID   ${a.acc}; SV 1; standard; DNA; HUM; ${full.length} BP.\n"
    sb ++= s"DE   ${a.hla}, Human MHC sequence\n"
    sb ++= s"FT   source          1..${full.length}\n"
    segs.filter(_._1 != "utr3").foreach { case (p, x, y) =>
      if (p == "utr5") sb ++= s"FT   UTR             $x..$y\n"
      else {
        val kind = if (p.startsWith("exon")) "exon" else "intron"
        sb ++= f"FT   $kind%-15s $x..$y\n"
        sb ++= s"FT                   /number=\"${p.dropWhile(!_.isDigit)}\"\n"
      }
    }
    if (a.kind == 0) {
      val exons = segs.filter(_._1.startsWith("exon"))
      val join = "join(" + exons.map(s => s"${s._2}..${s._3}").mkString(",") + ")"
      sb ++= s"FT   CDS             ${join.take(46)}\n"
      join.drop(46).grouped(46).foreach(c => sb ++= s"FT                   $c\n")
      val aaLen = exons.map(s => s._3 - s._2 + 1).sum / 3
      val r = new java.util.Random(a.hla.hashCode.toLong)
      val aa = "M" + Iterator.fill(aaLen - 1)(
        "ACDEFGHIKLMNPQRSTVWY".charAt(r.nextInt(20))).mkString
      s"""/translation="$aa"""".grouped(46)
        .foreach(c => sb ++= s"FT                   $c\n")
    }
    val u3 = segs.last
    sb ++= s"FT   UTR             ${u3._2}..${u3._3}\n"
    sb ++= s"SQ   Sequence ${full.length} BP; 0 A; 0 C; 0 G; 0 T; 0 other;\n"
    full.toLowerCase.grouped(60).zipWithIndex.foreach { case (line, i) =>
      val end = math.min((i + 1) * 60, full.length)
      sb ++= f"     ${line.grouped(10).mkString(" ")}%-66s$end\n"
    }
    sb ++= "//\n"
    sb.result()
  }

  /** Write release k to `<dir>/hla.<release>.dat`; returns the file. */
  def write(k: Int, dir: File): File = {
    dir.mkdirs()
    val f = new File(dir, s"hla.${releaseId(k)}.dat")
    val w = new BufferedWriter(new FileWriter(f), 1 << 16)
    try releases(k).foreach(a => w.write(record(a))) finally w.close()
    f
  }

  // ---- predictions over the fold of releases 0..k ----

  /** What the validation aggregations must answer at marker k, when
    * releases 0..k are in the store. */
  def expected(k: Int): Expected = {
    val gfes = mutable.HashSet.empty[(Int, Vector[Int])]
    val feats = mutable.HashSet.empty[(Int, Int, Int)]
    val alleles = mutable.HashSet.empty[String]
    val accs = mutable.HashSet.empty[String]
    val relsOfPair = mutable.HashMap.empty[((Int, Vector[Int]), String), Int]
    val firstAcc = mutable.HashMap.empty[((Int, Vector[Int]), String), Int]
    val hist = mutable.ArrayBuffer.empty[(Int, Long)]
    for (r <- 0 to k) {
      val rs = releases(r).filter(_.processable)
      rs.foreach { a =>
        gfes += a.gfeKey
        a.tuple.indices.foreach(p => feats += ((a.locusIx, p, a.tuple(p))))
        alleles += a.hla
        accs += a.acc
        firstAcc.getOrElseUpdate((a.gfeKey, a.acc), r)
      }
      hist += ((releaseId(r).toInt, rs.size.toLong))
    }
    Expected(
      labels = Map("GFE" -> gfes.size.toLong, "Sequence" -> gfes.size.toLong,
        "Feature" -> feats.size.toLong, "IPD_Allele" -> alleles.size.toLong,
        "IPD_Accession" -> accs.size.toLong, "Submitter" -> 1L),
      histogram = hist.toSeq,
      accessionReleases = firstAcc.values.groupBy(identity).toSeq
        .map { case (r, xs) => (dotted(r), xs.size.toLong) }.sortBy(_._1),
      errors = releases(k).count(_.kind == 1).toLong)
  }

  /** Distinct GFE keys allele `hla` carried over releases 0..k — the
    * GFE nodes an allele→GFE hop must reach at marker k. */
  def gfesOf(hla: String, k: Int): Int =
    (0 to k).flatMap(r => releases(r).find(_.hla == hla).map(_.gfeKey))
      .distinct.size
}

final case class Expected(
    labels: Map[String, Long],
    histogram: Seq[(Int, Long)],
    accessionReleases: Seq[(String, Long)],
    errors: Long)

/** A graph of `communities` dense directed communities (a directed
  * cycle plus random chords, so each is one strongly connected
  * component) and one directed chain of `chain` vertices, whose
  * diameter sets the round count of the label-propagation fixpoints. */
final class AnalyticsGraph(seed: Long, val communities: Int, val size: Int,
    val chords: Int, val chain: Int) {
  private val rng = new java.util.Random(seed ^ 0x5DEECE66DL)
  val edges: Vector[(String, String)] = {
    val out = mutable.ArrayBuffer.empty[(String, String)]
    for (c <- 0 until communities) {
      def v(i: Int) = f"c$c%05d_$i%03d"
      for (i <- 0 until size) out += ((v(i), v((i + 1) % size)))
      for (_ <- 0 until chords) {
        val a = rng.nextInt(size); val b = rng.nextInt(size)
        if (a != b) out += ((v(a), v(b)))
      }
    }
    // descending ids along the chain: the minimal label starts at the
    // far end, so propagation needs the chain's full length in rounds
    for (i <- 0 until chain - 1)
      out += ((f"z${chain - i}%05d", f"z${chain - i - 1}%05d"))
    out.distinct.toVector
  }
  val vertices: Long = edges.flatMap(e => Seq(e._1, e._2)).distinct.size.toLong
  /** Weakly connected components: every community plus the chain. */
  def expectedCc: Long = communities + 1L
  /** Strongly connected: every community plus each chain vertex. */
  def expectedScc: Long = communities.toLong + chain
}
