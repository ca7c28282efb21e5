package graft.graph

import org.apache.spark.graphx.{Edge, Graph => XGraph}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** Graph algorithms over edge DataFrames — the GDS-plugin capability
  * surface (SURVEY.md §2.10: installed in the reference, no scripted
  * calls; parity target is capability).
  *
  * Inputs/outputs are DataFrames. The `*DF` analytics iterate as
  * plain DataFrame joins and aggregates — the min-propagation family
  * (CC, the SCC peel, BFS, weighted shortest paths) through one
  * operator, [[minPropagate]] — each with a driver-local fast path
  * below `localThreshold`. GraphX (RDD-based Pregel) remains only as
  * the reference implementation behind [[connectedComponents]],
  * [[pageRank]] and [[labelPropagation]], whose string vertex ids are
  * dictionary-encoded to longs with a deterministic first-seen index,
  * never hashed (no collision risk at 10^11 vertices).
  *
  * Scale notes: connected components is the dedup-clustering closure
  * over candidate pairs — the pair list is orders of magnitude
  * smaller than the corpus (LSH bounds it), so the iterative step
  * runs on the small derived graph, not the raw data. PageRank
  * partitions edges with EdgePartition2D (2D hash — bounds replication
  * to 2√N copies per vertex).
  */
object GraphAlgorithms {

  /** Dictionary-encode string vertices: (id: String, vid: Long). */
  private def vertexIds(edges: DataFrame, src: String, dst: String): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    edges.select(col(src).as("id"))
      .unionByName(edges.select(col(dst).as("id")))
      .distinct()
      .rdd.map(_.getString(0)).zipWithIndex()
      .toDF("id", "vid")
  }

  /** UTF-8 byte-order String ordering — matches Spark's UTF8String
    * binary comparison exactly. JVM String `<` compares UTF-16 code
    * units, which diverges from UTF-8 byte order when ids mix
    * supplementary (non-BMP) characters with chars in [U+E000,
    * U+FFFF]; every driver-local replay compares ids through THIS
    * ordering so the local == distributed bit-exactness contract
    * holds for arbitrary string keys, not just ASCII. */
  private[graft] val utf8Ordering: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }
  @inline private def utf8Lt(a: String, b: String): Boolean =
    utf8Ordering.compare(a, b) < 0

  /** Iterative Pregel rounds multiply per-partition scheduling cost;
    * size the edge partitioning to the derived graph, not to the
    * (much larger) source's parallelism. ~1M edges/partition. */
  private def graphParallelism(edgeCount: Long, spark: SparkSession): Int =
    math.max(2, math.min(spark.sparkContext.defaultParallelism,
      (edgeCount / 1000000L).toInt + 1))

  /** Run `body` with `spark.sql.shuffle.partitions` sized to the
    * derived graph (≈[[graphParallelism]], floored at 4 for join
    * intermediates), restoring the session value after. The iterative
    * fixpoints shuffle SMALL frames dozens of times per run; at the
    * session default (32 on the bench, 200 on a stock cluster) each
    * round pays partitions × stages of task-scheduling latency for
    * kilobyte tasks, and AQE's coalescing cannot help because every
    * round's `localCheckpoint` materializes before the next plan is
    * seen. Right-sizing the shuffle up front is worth 1.5-2× on the
    * multi-round ops at the 1.2M-edge xdist scale. */
  /** `perPartition` sizes the trade: label-frame fixpoints (CC, the
    * SCC peel) want few partitions (~1M edges each — the rounds are
    * scheduling-bound, measured 23→9 s at 1.2M edges going 32→4);
    * gain-scan fixpoints whose per-round work is several edge-sized
    * joins (Louvain) stay compute-bound and want real parallelism
    * (~150k edges/partition measured best at the same scale).
    *
    * NOT concurrency-safe: the session conf is shared, so a query
    * submitted on the same SparkSession while a fixpoint is inside
    * this scope silently plans with the graph-sized partition count,
    * and overlapping/nested calls restore a stale value. The engine's
    * own callers run their fixpoints single-threaded per session (the
    * bench, Verify, and every spec do); a caller that shares one
    * session across query threads should hand the algorithm a
    * `spark.newSession()` clone, which scopes the conf for free. */
  /** Materialize `df` hash-partitioned on `key` with the partitioning
    * RECORDED on the checkpointed plan, so every subsequent join on
    * `key` satisfies its distribution from the checkpoint and only
    * the OTHER side exchanges (guide §2.4 — an iterative fixpoint's
    * static edge frame must not re-shuffle every round). Under AQE
    * the checkpoint's LogicalRDD captures UnknownPartitioning (the
    * adaptive plan's partitioning is not final at capture time —
    * verified in-plan: `Scan ExistingRDD ... UnknownPartitioning`
    * with AQE on, `hashpartitioning(key, p)` with it off), so AQE is
    * disabled for just this one materialization. Same session-conf
    * scoping contract as [[withGraphShuffle]]: the engine's callers
    * run fixpoints single-threaded per session. */
  private def partitionedCheckpoint(df: DataFrame,
      key: String): DataFrame = {
    val spark = df.sparkSession
    val k = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(k)
    spark.conf.set(k, "false")
    // sortWithinPartitions too (r15 opt): the checkpoint's LogicalRDD
    // records the physical plan's outputPartitioning AND its
    // outputOrdering, so every per-round sort-merge join on `key`
    // skips not just the Exchange but the SORT of this side — an
    // iterative fixpoint otherwise re-sorts the static 10M-row edge
    // frame every round (the sort is paid once here instead)
    try df.repartition(col(key)).sortWithinPartitions(key)
      .localCheckpoint(eager = true)
    finally spark.conf.set(k, prev)
  }

  /** SIZE-GATED layout-carrying checkpoint (r16 opt, r15 VERDICT item
    * 4): the repartition + sort + AQE-scoped eager materialization of
    * [[partitionedCheckpoint]] pays off only when the frame is
    * re-joined across many rounds AND big enough that the per-round
    * exchanges it removes dominate its own one-time cost. At fixture
    * scale it is a pure regression — the r15 driver measured
    * d_dup_eigenvector 0.98 → 2.47 s after eigenvector's static frame
    * went from a plain checkpoint to the partitioned one.
    *
    * Shape: materialize a PLAIN eager checkpoint first (also what
    * truncates the lineage), size it with a count over the
    * materialized partitions (cheap — no recompute; an up-front
    * `count()` on the raw lineage was A/B-measured WORSE than no gate
    * at all: 1.90 → 2.13 s on d_dup_eigenvector, the input lineage is
    * the whole LSH candidate pipeline), and re-layout into the
    * partitioned form only past the gate — where the one extra pass
    * over an in-memory frame is noise against the per-round exchanges
    * it removes. */
  private def sizedCheckpoint(df: DataFrame, key: String,
      gate: Long = 2000000L): DataFrame = {
    val plain = df.localCheckpoint(eager = true)
    if (plain.count() > gate) partitionedCheckpoint(plain, key)
    else plain
  }

  /** Order-preserving dense-long vertex dictionary (r16 opt, guide
    * §2.2 "shuffle fewer bytes" / §4): the distributed fixpoints (CC,
    * the SCC peel) iterate on labels that start as vertex ids, so
    * every round's exchanges, sorts, and min-aggregates compare and
    * ship VARIABLE-WIDTH STRINGS. vid = rank of `id` under Spark's
    * sort order (UTF8String binary comparison = UTF-8 byte order), an
    * order-ISOMORPHISM onto dense longs: every `min`/`least`/`===`
    * the fixpoints evaluate commutes with the encoding, so round
    * structure, trim/peel decisions, and convergence counts are
    * IDENTICAL — only the row width (24-byte UTF8String fields → 8-
    * byte longs) and comparator (byte loops → long compares + radix
    * sort) change. Decoding the final labels through the dictionary
    * restores the exact (id, component = min member id) output,
    * because min-vid decodes to min-id under an order-preserving map.
    *
    * The sorted frame is materialized BEFORE zipWithIndex (which runs
    * its own partition-size count job) so the sort is paid once; the
    * result is checkpointed because zipWithIndex ids must be minted
    * exactly once. Sorted range partitions stay globally ordered
    * through AQE coalescing (adjacent ranges merge), so the
    * per-partition offset ranks are the global sort ranks. */
  private[graft] def orderedVertexDict(verts: DataFrame): DataFrame = {
    val spark = verts.sparkSession
    import spark.implicits._
    val sorted = verts.toDF("sid").sort("sid")
      .localCheckpoint(eager = true)
    sorted.rdd.map(_.getString(0)).zipWithIndex()
      .toDF("sid", "vid")
      .localCheckpoint(eager = true)
  }

  /** Encode an (a, b) string edge frame through [[orderedVertexDict]];
    * null endpoints are out of contract (the fixpoints' own joins
    * already drop them from propagation). */
  private def encodeEdges(e: DataFrame, dict: DataFrame): DataFrame =
    e.join(dict.select(col("sid").as("a"), col("vid").as("_a")), "a")
      .join(dict.select(col("sid").as("b"), col("vid").as("_b")), "b")
      .select(col("_a").as("a"), col("_b").as("b"))

  private def withGraphShuffle[T](spark: SparkSession, edgeCount: Long,
      perPartition: Long = 1000000L)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val p = math.max(2, math.min(spark.sparkContext.defaultParallelism,
      (edgeCount / perPartition).toInt + 1))
    spark.conf.set(key, math.max(4, p).toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Monotone min-propagation to a fixpoint — the one distributed
    * loop behind connected components, the SCC peel's forward and
    * backward reach, and (weighted) shortest paths. Pregel on
    * dataflow: each round is one vertex ⨝ message join plus a
    * group-by min combine.
    *
    * `init` is the state (id, v) over the whole vertex domain, v =
    * null meaning unreached. `edges` is (a, b[, w]), oriented along
    * message flow a → b and prepared by the caller (width, layout,
    * orientation); a message is v(a), or v(a) + w when a `w` column
    * is present. The update is v ← least(v, min msg).
    *
    * DELTA-SOURCED messages (r15 opt, guide §2.3): values only ever
    * decrease, so an unchanged row's messages are already folded into
    * its neighbors — each round joins the edges against last round's
    * changed rows only (a lazy filtered scan of the round checkpoint,
    * no extra job; round 1 sends from every reached row). Exact at
    * EVERY round, not just at the fixpoint: the state after round i is
    * the synchronous min over paths of ≤ i edges, which is what keeps
    * maxIter truncation identical to the driver-local replays.
    *
    * The chg flag rides the round's checkpoint (louvainDF's trick):
    * the convergence test is a `limit(1)` scan of materialized
    * partitions, not a re-join against the previous round.
    *
    * `jump` adds pointer-doubling (lbl(v) ← least(lbl(v), lbl(lbl(v))))
    * after each edge hop, for reachability labels that are themselves
    * vertex ids: lbl(v) reaches v and lbl(lbl(v)) reaches lbl(v), so
    * the composed hop is a real reachability and labels cross 2^i hops
    * after i rounds — O(log diameter) rounds, not O(diameter). The hop
    * is checkpointed on its own before the self-join. A heavier
    * variant (broadcast frontier + delta pointer-doubling with
    * trigger-set bookkeeping) was MEASURED WORSE same-window (xdist_scc
    * 22.4 → 31.4 s at 1.2M edges: ~5 extra driver jobs per round
    * outweigh the avoided exchanges), so the doubling stays full.
    *
    * Returns (final state, converged within maxIter). */
  private def minPropagate(edges: DataFrame, init: DataFrame,
      maxIter: Int, jump: Boolean = false): (DataFrame, Boolean) = {
    val msg =
      if (edges.columns.contains("w")) col("v") + col("w") else col("v")
    var state = init
    var chg = init.where(col("v").isNotNull)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbr = edges.join(chg.select(col("id").as("a"), col("v")), "a")
        .groupBy(col("b").as("id")).agg(min(msg).as("nbr"))
      // least skips nulls: an unreached row takes its first message
      val hop = state.withColumnRenamed("v", "old")
        .join(nbr, Seq("id"), "left")
        .select(col("id"), least(col("old"), col("nbr")).as("v"), col("old"))
      val relaxed = if (!jump) hop else {
        val h = hop.localCheckpoint(eager = true)
        h.join(h.select(col("id").as("_p"), col("v").as("_pv")),
            col("v") === col("_p"), "left")
          .select(col("id"), least(col("v"), col("_pv")).as("v"), col("old"))
      }
      val next = relaxed
        .select(col("id"), col("v"), (!(col("v") <=> col("old"))).as("chg"))
        .localCheckpoint(eager = true) // truncate the iterative lineage
      converged = next.where(col("chg")).limit(1).count() == 0
      state = next.select("id", "v")
      chg = next.where(col("chg")).select("id", "v")
      i += 1
    }
    (state, converged)
  }

  /** Connected components over an undirected string-keyed pair list.
    * Returns (id, component) where component = min member id
    * (lexicographic) of the cluster — a stable cluster label. */
  def connectedComponents(pairs: DataFrame, src: String, dst: String): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val vids = vertexIds(pairs, src, dst).cache()
    val edgeDf = pairs
      .join(vids.withColumnRenamed("id", src).withColumnRenamed("vid", "svid"), src)
      .join(vids.withColumnRenamed("id", dst).withColumnRenamed("vid", "dvid"), dst)
      .select("svid", "dvid")
      .cache()
    val p = graphParallelism(edgeDf.count(), spark)
    val edgeRdd = edgeDf.rdd.coalesce(p)
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = XGraph.fromEdges(edgeRdd, ())
    val cc = graph.connectedComponents().vertices.toDF("vid", "cvid")
    // component label = min original id within the component
    val labeled = cc.join(vids, "vid").select(col("id"), col("cvid"))
    val repr = labeled.groupBy("cvid").agg(min(col("id")).as("component"))
    // materialize before releasing vids: the dictionary is minted by
    // zipWithIndex, so a post-unpersist recompute is not guaranteed to
    // reproduce the same ids
    val out = labeled.join(repr, "cvid").select("id", "component")
      .localCheckpoint(eager = true)
    vids.unpersist()
    edgeDf.unpersist()
    out
  }

  /** DataFrame-native connected components: iterative min-label
    * propagation to fixpoint (label(v) ← min over N(v) ∪ {v}),
    * converging in O(component diameter) rounds — dedup clusters from
    * LSH candidates are near-cliques, so 2-4 rounds in practice.
    *
    * Same result as [[connectedComponents]] (cross-checked in
    * GraphAlgorithmsSpec); preferred in pipelines because every round
    * is a plain shuffle-join/agg that Catalyst+AQE size automatically,
    * with none of Pregel's per-round fixed cost.
    */
  def connectedComponentsDF(pairs: DataFrame, src: String, dst: String,
      maxIter: Int = 30, localThreshold: Long = 1000000L): DataFrame = {
    // Adaptive fast path: LSH bounds the candidate-pair list to a tiny
    // fraction of the corpus. Below the threshold, union-find on the
    // collected pairs beats any distributed loop (each Pregel/join
    // round costs more than the whole problem); above it, fall through
    // to the distributed fixpoint. The *input* to this operator is
    // already the reduced pair list, never the raw data.
    val spark = pairs.sparkSession
    val edgesSmall = pairs.select(col(src).cast("string"), col(dst).cast("string"))
      .cache()
    if (edgesSmall.count() <= localThreshold) {
      import spark.implicits._
      val parent = scala.collection.mutable.HashMap.empty[String, String]
      def find(x: String): String = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edgesSmall.collect().foreach { row =>
        val (a, b) = (row.getString(0), row.getString(1))
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(ra) = rb
      }
      val byRoot = parent.keys.toSeq.groupBy(find)
      val rows = byRoot.valuesIterator.flatMap { members =>
        val label = members.min(utf8Ordering)
        members.map(m => (m, label))
      }.toSeq
      edgesSmall.unpersist()
      return spark.createDataset(rows).toDF("id", "component")
    }
    // perPartition 500k (r15 opt): the 1M-edges/partition sizing was
    // tuned at the 1.2M tier, where the 4-partition floor dominates
    // either way; at 10M edges it left 2/3 of the host idle during
    // the compute-heavy full-width rounds. 500k only changes graphs
    // past ~2M edges (the small tier keeps its measured optimum).
    withGraphShuffle(spark, edgesSmall.count(), perPartition = 500000L) {
      // NOT dense-long encoded (r16): CC's min-label fixpoint
      // converges in O(component diameter) rounds — 2-4 on the
      // near-clique inputs this operator sees — so the one-time
      // dictionary sort + encode/decode joins cost more than the few
      // string rounds they would cheapen (A/B same-window: xdist_cc
      // 4.5 → 9.5 s, xdist_cc_10m 15.3 → 24.5 s encoded). The SCC
      // peel, whose two doubling fixpoints run 14+ rounds, is where
      // the encoding pays (see stronglyConnectedComponentsDF).
      // The undirected edge frame is joined on `a` EVERY round of the
      // fixpoint; hash-partition it on the join key once and
      // checkpoint (LogicalRDD preserves outputPartitioning), so each
      // round's join exchanges only the round's label frame, never
      // the 2|E|-row edge list (guide §2.4: operations keyed the same
      // way share one exchange).
      val und = partitionedCheckpoint(
        edgesSmall.toDF("a", "b")
          .unionByName(edgesSmall.toDF("b", "a").select(col("a"), col("b"))),
        "a")
      // symmetric edges: the `b` column holds every vertex
      val labels0 = und.select(col("b").as("id")).distinct()
        .withColumn("v", col("id")).cache()
      val (labels, converged) = minPropagate(und, labels0, maxIter)
      labels0.unpersist()
      und.unpersist()
      edgesSmall.unpersist()
      // A partially-converged result would silently split components —
      // fail loudly; callers raise maxIter (diameter bound) instead.
      if (!converged) throw new IllegalStateException(
        s"connectedComponentsDF did not converge in $maxIter rounds; " +
          "raise maxIter (rounds needed = max component diameter)")
      labels.withColumnRenamed("v", "component")
    }
  }

  /** PageRank over a directed string-keyed edge list.
    * Returns (id, rank) with ranks rounded to `scale` decimals for
    * engine-stable comparison. */
  def pageRank(edges: DataFrame, src: String, dst: String,
      iterations: Int = 10, resetProb: Double = 0.15,
      scale: Int = 6): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val vids = vertexIds(edges, src, dst).cache()
    val edgeDf = edges
      .join(vids.withColumnRenamed("id", src).withColumnRenamed("vid", "svid"), src)
      .join(vids.withColumnRenamed("id", dst).withColumnRenamed("vid", "dvid"), dst)
      .select("svid", "dvid")
      .cache()
    val p = graphParallelism(edgeDf.count(), spark)
    val edgeRdd = edgeDf.rdd.coalesce(p)
      .map(r => Edge(r.getLong(0), r.getLong(1), 1.0))
    val graph = XGraph.fromEdges(edgeRdd, 1.0)
      .partitionBy(org.apache.spark.graphx.PartitionStrategy.EdgePartition2D)
    val ranks = graph.staticPageRank(iterations, resetProb)
      .vertices.toDF("vid", "rank")
    val out = ranks.join(vids, "vid")
      .select(col("id"), round(col("rank"), scale).as("rank"))
      .localCheckpoint(eager = true) // see connectedComponents: vids not recompute-stable
    vids.unpersist()
    edgeDf.unpersist()
    out
  }

  /** Integer-scaled PageRank twin of [[pageRank]] — DataFrame-native
    * and bit-exact deterministic, the cross-engine-verifiable form
    * (same trick as the quantized betweenness pair-sum): ranks live in
    * long micro-units (`scale` = 10^6 per unit rank), and each
    * iteration computes
    *
    *   r'(v) = floor(0.15·scale) + Σ_{u→v} floor(85·r(u) / (100·deg(u)))
    *
    * — integer division per edge, long sums, so no float accumulation
    * order exists on ANY engine and repeated runs (or a DuckDB replay
    * with unrolled iterations) agree to the bit. This matches GraphX's
    * `staticPageRank` semantics (un-normalized, rank mass ≈ V) up to
    * the deterministic floor quantization, whose error is bounded by
    * deg·iterations micro-units. Each iteration is one equi-join on
    * the fixed-width vertex key + one partial-agg'd sum — O(E) work,
    * checkpoint-truncated lineage; the production float path for big
    * graphs stays [[pageRank]] (GraphX, EdgePartition2D).
    *
    * Returns (id, rank_ppm) with rank in parts-per-million of unit
    * rank. Vertices with no in-edges hold the bare reset mass.
    */
  /** Integer-exact eigenvector centrality (GDS `gds.eigenvector`
    * capability parity): fixed-iteration power method over the
    * undirected pair graph with per-round max-normalization —
    * x₀ ≡ 10⁶; y[v] = Σ_{u∼v} x[u]; x ← ⌊y·10⁶ / max(y)⌋. Every
    * quantity is an exact long, so the score replays bit-for-bit in
    * an unrolled-CTE oracle; the bounded iteration count is the same
    * contract GDS runs under (maxIterations, converged or not — on a
    * bipartite component the method inherits the classic period-2
    * oscillation, deterministically on both engines). Each round is
    * one equi-join on the fixed-width vertex key + a partial-agg'd
    * sum (O(E)) + a 1-row broadcast of the global max — the
    * pageRankIntDF cost shape exactly, checkpoint-truncated lineage.
    * Returns (id, eig_q) covering every vertex, in micro-units of
    * the round-8 normalized vector.
    *
    * Overflow contract (same int64 headroom discipline as
    * pageRankIntDF's): after normalization every x ≤ scale, so a
    * round's neighbor sum y ≤ deg_max·scale and the renormalization
    * computes y·scale — exact only while deg_max·scale² < 2⁶³, i.e.
    * hub degree below ~9.2·10⁶ at the default scale. Rather than
    * trusting the caller, each round guards the multiply in-plan
    * (codegen'd CASE + raise_error — no driver action, preserving the
    * single-action execution profile): a hub beyond the bound fails
    * loudly naming the remedy (lower `scale`) instead of silently
    * wrapping. */
  def eigenvectorDF(edges: DataFrame, src: String, dst: String,
      iterations: Int = 8, scale: Long = 1000000L): DataFrame = {
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    // joined on `b` every power-method round — partition on the join
    // key once with the partitioning recorded (guide §2.4), but only
    // past the size gate (r16: at fixture scale the plain checkpoint
    // is cheaper — see sizedCheckpoint)
    val und = sizedCheckpoint(
      e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        .distinct(), "b")
    val verts = und.select(col("a").as("id")).distinct()
    // Unlike the fixpoint algorithms (CC/SCC/k-core), the power
    // method reads NOTHING on the driver between rounds, so no round
    // needs an EAGER barrier. Each round's neighbor-sum frame is
    // LAZILY checkpointed: y is consumed twice (the 1-row max
    // broadcast and the main path), so the lazy checkpoint both
    // truncates the logical plan per round (two consumers of an
    // un-truncated y would double the embedded subplan every round —
    // exponential by round 8) and computes the round's shuffle once.
    // Measured latency-neutral vs eager checkpoints at sf0.1 (1.90 vs
    // 1.91 s — the round's shuffle dominates either way); kept for
    // the single-action execution profile and the linear plan.
    var x = verts.select(col("id"), lit(scale).as("val"))
    var k = 0
    while (k < iterations) {
      val y = und.join(x.select(col("id").as("b"), col("val")), "b")
        .groupBy(col("a").as("id")).agg(sum("val").as("val"))
        .localCheckpoint(eager = false)
      val m = y.agg(max("val").as("m"))
      val cap = Long.MaxValue / scale
      x = y.crossJoin(broadcast(m))
        .select(col("id"), expr(
          s"CASE WHEN val > ${cap}L THEN raise_error(concat(" +
            s"'eigenvectorDF: neighbor sum ', val, ' overflows the " +
            s"val*$scale renormalization (hub degree above " +
            s"${cap / scale} at scale=$scale); call with a smaller " +
            s"scale')) ELSE val * ${scale}L div m END").as("val"))
      k += 1
    }
    verts.join(x, Seq("id"), "left")
      .select(col("id"), coalesce(col("val"), lit(0L)).as("eig_q"))
  }

  def pageRankIntDF(edges: DataFrame, src: String, dst: String,
      iterations: Int = 10, directed: Boolean = true,
      scale: Long = 1000000L, localThreshold: Long = 1000000L,
      seeds: Option[DataFrame] = None,
      weight: Option[String] = None): DataFrame = {
    // Weighted form (GDS relationshipWeightProperty parity): integer
    // edge weights w, out-mass split ∝ w — each iteration adds
    // ⌊85·r(u)·w(u,v) / (100·W(u))⌋ with W(u) = Σ out-weight, still
    // pure integer floor math (bit-exact on any engine; caller keeps
    // 85·r·w < 2^63 — micro-unit ranks with ≤10^4-scaled weights are
    // 4 orders under that at test SF). weight = None is the w ≡ 1
    // degenerate: Σw = deg and ⌊85·r·1/(100·deg)⌋ is the unweighted
    // term, so unweighted results are bit-identical to the old form.
    // Parallel delta edges aggregate by SUM (the common GDS projection
    // choice); the unweighted path keeps its distinct() collapse.
    // Non-positive weights are dropped up front (GDS requires
    // positive relationship weights): a w = 0 edge routes no mass by
    // construction, and admitting w ≤ 0 would let a vertex's
    // out-weight SUM reach zero — where the local replay's integer
    // division throws while the distributed `div` yields null-skipped
    // contributions, a crash-vs-answer divergence on the same input.
    // After the filter every surviving out-weight sum is > 0 on both
    // paths.
    val e0 = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"),
      weight.map(w => col(w).cast("long")).getOrElse(lit(1L)).as("w"))
      .where(col("a") =!= col("b") && col("w") > 0)
    val eDir = if (directed) e0
      else e0.unionByName(
        e0.select(col("b").as("a"), col("a").as("b"), col("w")))
    // w ≡ 1 keeps the pre-weighted SCALAR plan end-to-end — no w
    // column in the edge state, count(*) degrees, no multiply in the
    // mass expression (r12 measured the generalized w≡1 path ~20%
    // over the old scalar floor at fixture scale; the specialization
    // restores it, and the w≡1 bit-identity spec guards the branch).
    val hasW = weight.isDefined
    val e = weight match {
      case None => eDir.select("a", "b").distinct()
      case Some(_) => eDir.groupBy("a", "b").agg(sum("w").as("w"))
    }
    val verts = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
      .localCheckpoint(eager = true)
    // Personalization (GDS pageRank sourceNodes): seed vertices get
    // the initial mass AND the per-iteration reset; everything else
    // holds only what flows in — rank localizes around the seeds.
    // seeds = None degenerates to the global form (every vertex
    // seeded), bit-for-bit.
    val seedDf = seeds.map(sd => sd
      .select(col(sd.columns.head).cast("string").as("id")).distinct()
      .withColumn("_seed", lit(1L)))
    val mask = seedDf match {
      case Some(sdf) => verts.join(sdf, Seq("id"), "left")
        .select(col("id"), coalesce(col("_seed"), lit(0L)).as("_seed"))
      case None => verts.withColumn("_seed", lit(1L))
    }
    // out-weight-annotated edges, built once and reused per iteration
    // (w ≡ 1 ⇒ sum(w) = count(*) out-degree, bit-identical)
    val deg =
      if (hasW) e.groupBy(col("a")).agg(sum(col("w")).as("deg"))
      else e.groupBy(col("a")).agg(count(lit(1)).as("deg"))
    val eDeg = e.join(deg, "a")
      .select((if (hasW) Seq(col("a"), col("b"), col("w"), col("deg"))
        else Seq(col("a"), col("b"), col("deg"))): _*)
      .localCheckpoint(eager = true)
    val reset = scale * 15L / 100L
    // Small-graph fast path (louvainDF discipline): the recurrence is
    // pure integer floor-division, so the local replay is bit-exact —
    // same per-edge ⌊r·85·w/(100·W)⌋ contributions, same reset mass.
    if (localThreshold > 0 && eDeg.count() <= localThreshold) {
      val spark = edges.sparkSession
      val ed = eDeg.collect().map { r =>
        if (hasW) (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))
        else (r.getString(0), r.getString(1), 1L, r.getLong(2))
      }
      val seedOf = mask.collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val ids = seedOf.keys.toSeq.sorted(utf8Ordering)
      var rankM = scala.collection.mutable.Map.empty[String, Long]
      ids.foreach(v => rankM(v) = seedOf(v) * scale)
      for (_ <- 0 until iterations) {
        val inMass = scala.collection.mutable.Map
          .empty[String, Long].withDefaultValue(0L)
        ed.foreach { case (a, b, ew, dg) =>
          inMass(b) += rankM(a) * 85L * ew / (100L * dg)
        }
        val next = scala.collection.mutable.Map.empty[String, Long]
        ids.foreach(v => next(v) = seedOf(v) * reset + inMass(v))
        rankM = next
      }
      import spark.implicits._
      return spark.createDataset(
        ids.iterator.map(v => (v, rankM(v))).toSeq)
        .toDF("id", "rank_ppm")
    }
    withGraphShuffle(edges.sparkSession, eDeg.count()) {
      // the edge frame is joined on `a` every iteration — partition it
      // on the join key once (checkpoint preserves the partitioning)
      // so the 10 rounds exchange only the rank frames (guide §2.4);
      // done inside the distributed branch only: the local fast path
      // collects eDeg and must not pay an extra shuffle
      val eP = partitionedCheckpoint(eDeg, "a")
      // the static seed-mask frame is joined on `id` every iteration —
      // same treatment as the edge frame (r15 opt): partition+sort it
      // once so each round's merge join exchanges and sorts only the
      // round's contrib aggregate, never this side
      val vm = partitionedCheckpoint(mask, "id")
      var rank = vm.select(col("id"), (col("_seed") * scale).as("r"))
      var i = 0
      while (i < iterations) {
        val contrib = eP
          .join(rank.select(col("id").as("a"), col("r")), "a")
          .groupBy(col("b").as("id"))
          .agg(sum(expr(if (hasW) "(r * 85 * w) div (100 * deg)"
            else "(r * 85) div (100 * deg)")).as("in_mass"))
        rank = vm.join(contrib, Seq("id"), "left")
          .select(col("id"),
            (col("_seed") * reset + coalesce(col("in_mass"), lit(0L))).as("r"))
          .localCheckpoint(eager = true)
        i += 1
      }
      rank.select(col("id"), col("r").as("rank_ppm"))
    }
  }

  /** FastRP-style node embeddings (GDS `gds.fastRP` capability parity
    * — the last big GDS block: node vectors the ANN tier consumes),
    * integer-exact so a DuckDB unrolled-CTE oracle replays it
    * bit-for-bit, same discipline as [[pageRankIntDF]].
    *
    * Very-sparse random projection (Achlioptas-style): each vertex's
    * initial vector e₀(v,d) is a deterministic PRF draw from
    * {+scale, −scale, 0} (density 1/2) via the 60-bit md5 hash of
    * `"$id:$d"` mod 4 — no RNG, both engines compute the identical
    * draw. Then `iterations` rounds of integer neighbor-MEAN
    * propagation, eₖ(v,d) = (Σ_{u∈N(v)} eₖ₋₁(u,d)) div deg(v)
    * (truncated integer division — Spark `div` and DuckDB `//` agree
    * toward-zero on negatives), and the output embedding is the sum
    * of the iteration frames (GDS iterationWeights ≡ [0, 1, 1, …]),
    * in micro-units of `scale`.
    *
    * Scale shape: each round is ONE equi-join of the (E·dims)-row
    * frame on the fixed-width vertex key + a codegen'd hash
    * aggregate; lineage checkpoint-truncated per round. dims rides as
    * a row dimension (vectorizing into arrays would trade the
    * hash-agg for interpreted HOF lambdas — the round-11 lesson).
    *
    * Returns (id, dim, val) exploded rows; callers needing vector
    * columns `collect_list` over dim order.
    */
  def fastRpEmbedDF(edges: DataFrame, src: String, dst: String,
      dims: Int = 8, iterations: Int = 2,
      scale: Long = 1000000L): DataFrame = {
    // the initial projection frame carries iteration-weight 0 (only
    // propagated frames contribute), so iterations = 0 would return
    // raw projections under the embedding's name — fail loudly
    require(iterations >= 1,
      s"fastRpEmbedDF needs iterations >= 1 (got $iterations)")
    val spark = edges.sparkSession
    graft.functions.NativeFunctions.register(spark)
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
    val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
    // joined on `b` every propagation round — partition+sort on the
    // join key once (r15 opt, the partitionedCheckpoint discipline),
    // size-gated (r16: plain checkpoint below the boundary)
    val undDeg = sizedCheckpoint(und.join(deg, "a"), "b")
    // every und row joins a deg row (inner on `a`, deg covers all
    // sources), so the vertex set off the CHECKPOINTED frame equals
    // und's — derived here so it never recomputes e's lineage
    val verts = undDeg.select(col("a").as("id")).distinct()
    val dimsDf = spark.range(dims).toDF("dim")
    val h = pmod(call_udf("graft_hex60",
      concat(col("id"), lit(":"), col("dim").cast("string"))), lit(4))
    var ek = verts.crossJoin(broadcast(dimsDf))
      .select(col("id"), col("dim"),
        when(h === 0, lit(scale)).when(h === 1, lit(-scale))
          .otherwise(lit(0L)).as("val"))
      .localCheckpoint(eager = true)
    var acc: DataFrame = null
    var k = 0
    while (k < iterations) {
      ek = undDeg
        .join(ek.select(col("id").as("b"), col("dim"), col("val")), "b")
        .groupBy(col("a").as("id"), col("dim"), col("deg"))
        .agg(sum("val").as("s"))
        .select(col("id"), col("dim"), expr("s div deg").as("val"))
        .localCheckpoint(eager = true)
      acc = if (acc == null) ek else acc.unionByName(ek)
      k += 1
    }
    if (acc == null) ek
    else acc.groupBy("id", "dim").agg(sum("val").as("val"))
  }

  /** DataFrame-native BFS / unweighted single-source shortest path
    * (GDS `gds.bfs` / `gds.shortestPath` capability parity —
    * template.yaml:262-263 ships the plugin unrestricted; no scripted
    * calls exist, so the parity target is capability).
    *
    * Returns (id, distance) for every vertex reachable from `sources`
    * within `maxDepth` hops (sources at distance 0). This is the
    * unit-weight case of [[weightedShortestPathsDF]]: its round i
    * settles every path of ≤ i edges, which at unit weight is the
    * level-synchronous BFS frontier, so `maxDepth` truncates exactly
    * like a depth-bounded BFS.
    */
  def shortestPathsDF(edges: DataFrame, src: String, dst: String,
      sources: Seq[String], maxDepth: Int = 30,
      directed: Boolean = false,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(sources.nonEmpty, "at least one source vertex required")
    shortestPathsDF(edges, src, dst, sources.distinct.toDF("id"),
      maxDepth, directed, localThreshold)
  }

  /** Distributed-sources variant: `sources`' FIRST column is the seed
    * vertex set, kept as a DataFrame end-to-end — the pipeline shape
    * (seed sets grow with the data, e.g. one seed per dedup cluster),
    * where a driver-side `Seq` would be a collect bottleneck. The
    * `Seq` overload above is the query-time convenience and delegates
    * here.
    */
  def shortestPathsDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, maxDepth: Int,
      directed: Boolean, localThreshold: Long): DataFrame = {
    val unit = "_unit_w"
    weightedShortestPathsDF(edges.withColumn(unit, lit(1L)), src, dst, unit,
      sources, maxDepth, directed, localThreshold)
      .select(col("id"), col("dist").cast("int").as("distance"))
  }

  /** DataFrame-native weighted single-source shortest path (GDS
    * `gds.shortestPath.dijkstra` capability parity). Non-negative
    * integer weights; returns (id, dist) for every vertex reachable
    * from `sources` (sources at dist 0).
    *
    * Bellman-Ford relaxation with convergence early-exit, run by
    * [[minPropagate]]: each round is one equi-join (changed distances
    * ⨝ edges, shuffled on the fixed-width vertex id) + a min-aggregate
    * — no priority queue, which is the right trade distributed: a
    * global PQ serializes on the driver, while whole-frontier
    * relaxation is embarrassingly parallel and settles in
    * (shortest-path hop diameter) rounds. `maxIter` is the
    * Bellman-Ford bound — exact once maxIter ≥ V−1 (or the hop
    * diameter, usually far smaller); rounds stop as soon as no
    * distance improves.
    */
  def weightedShortestPathsDF(edges: DataFrame, src: String, dst: String,
      weight: String, sources: Seq[String], maxIter: Int = 64,
      directed: Boolean = false,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    require(sources.nonEmpty, "at least one source vertex required")
    weightedShortestPathsDF(edges, src, dst, weight,
      sources.distinct.toDF("id"), maxIter, directed, localThreshold)
  }

  /** Distributed-sources variant (see [[shortestPathsDF]]'s DataFrame
    * overload): seeds stay a DataFrame end-to-end, matching GDS
    * dijkstra's server-side node-set sources. `sources`' first column
    * is the seed vertex set. The vertex domain is the edge endpoints ∪
    * the seeds: a seed absent from the edge list is still returned at
    * dist 0.
    */
  def weightedShortestPathsDF(edges: DataFrame, src: String, dst: String,
      weight: String, sources: DataFrame, maxIter: Int,
      directed: Boolean, localThreshold: Long): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"), col(weight).cast("long").as("w"))
    val und = (if (directed) e
      else e.unionByName(e.select(col("b").as("a"), col("a").as("b"), col("w"))))
      .cache()
    val seeds = sources
      .select(col(sources.columns.head).cast("string").as("id")).distinct()
    // Small-graph fast path (louvainDF/bfsSigmaDF discipline):
    // driver-local SYNCHRONOUS Bellman-Ford over the collected
    // weighted adjacency — the same round semantics as the
    // distributed loop (round i settles min over paths of ≤ i edges;
    // maxIter truncation included, which the spec pins), so integer
    // distances agree bit-for-bit in both the converged and the
    // maxIter-bounded cases. Like the distributed loop it relaxes only
    // out of the vertices that changed last round (O(E) at unit
    // weight). `localThreshold <= 0` disables the local path entirely
    // (parity tests and memory-constrained drivers).
    if (localThreshold > 0 && und.count() <= localThreshold) {
      val adj = scala.collection.mutable.Map
        .empty[String, ArrayBuffer[(String, Long)]]
      und.collect().foreach { r =>
        adj.getOrElseUpdate(r.getString(0), ArrayBuffer.empty) +=
          ((r.getString(1), r.getLong(2)))
      }
      und.unpersist()
      val dist = scala.collection.mutable.Map.empty[String, Long]
      var changed: Iterable[String] = seeds.collect().map(_.getString(0))
      changed.foreach(s => dist(s) = 0L)
      var i = 0
      while (changed.nonEmpty && i < maxIter) {
        i += 1
        // every relaxation reads last round's distances: collect the
        // improvements first, apply them after
        val upd = scala.collection.mutable.Map.empty[String, Long]
        for (u <- changed; du = dist(u);
             (v, w) <- adj.getOrElse(u, ArrayBuffer.empty)) {
          val nd = du + w
          if (nd < upd.getOrElse(v, dist.getOrElse(v, Long.MaxValue)))
            upd(v) = nd
        }
        dist ++= upd
        changed = upd.keys
      }
      import spark.implicits._
      return spark.createDataset(dist.toSeq).toDF("id", "dist")
    }
    // vertex domain = endpoints ∪ seeds, unreached = null
    val init = und.select(col("a").as("id"))
      .unionByName(und.select(col("b").as("id"))).distinct()
      .join(seeds.withColumn("v", lit(0L)), Seq("id"), "full")
      .localCheckpoint(eager = true)
    val (dist, _) = minPropagate(und, init, maxIter)
    und.unpersist()
    dist.where(col("v").isNotNull).select(col("id"), col("v").as("dist"))
  }

  /** Per-vertex triangle counts over an undirected string-keyed edge
    * list (GDS `gds.triangleCount` parity) — every vertex of the
    * input graph, 0 for vertices in no triangle.
    *
    * Degree-ordered orientation (the classic one-round MR triangle
    * algorithm): each edge points from its (degree, id)-smaller
    * endpoint to the larger, so every triangle is enumerated exactly
    * once from its minimum vertex AND the wedge fan-out of any vertex
    * is bounded by its out-degree in the oriented graph — O(√E) for
    * arbitrary graphs. An id-only orientation would let one low-id
    * hub generate a quadratic wedge set; ordering by degree first is
    * what makes the self-join survive skew at scale. The order key is
    * a (degree, id) struct compared lexicographically — no global
    * row-numbering shuffle needed.
    */
  def triangleCountsDF(pairs: DataFrame, src: String, dst: String,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val e0 = pairs
      .select(col(src).cast("string").as("x"), col(dst).cast("string").as("y"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"), greatest(col("x"), col("y")).as("y"))
      .distinct()
      .cache()
    // Small-graph fast path (louvainDF discipline): canonical-order
    // triangle enumeration over the collected adjacency — each
    // triangle found exactly once from its u<v<w edge, all three
    // member counts incremented. Exact integers; the distributed
    // degree-ordered orientation below is the arbitrary-scale path.
    if (localThreshold > 0 && e0.count() <= localThreshold) {
      val nbrs = scala.collection.mutable
        .Map.empty[String, scala.collection.mutable.Set[String]]
      e0.collect().foreach { r =>
        val (x, y) = (r.getString(0), r.getString(1))
        nbrs.getOrElseUpdate(x, scala.collection.mutable.Set.empty) += y
        nbrs.getOrElseUpdate(y, scala.collection.mutable.Set.empty) += x
      }
      e0.unpersist()
      val cnt = scala.collection.mutable.Map
        .empty[String, Long].withDefaultValue(0L)
      for ((u, nu) <- nbrs; v <- nu if utf8Lt(u, v);
           w <- nbrs(v) if utf8Lt(v, w) && nu.contains(w)) {
        cnt(u) += 1; cnt(v) += 1; cnt(w) += 1
      }
      import spark.implicits._
      return spark.createDataset(
        nbrs.keysIterator.map(v => (v, cnt(v))).toSeq)
        .toDF("id", "n_tri")
    }
    withGraphShuffle(spark, e0.count()) {
    val deg = e0.select(col("x").as("id"))
      .unionByName(e0.select(col("y").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
      .cache()
    val withDeg = e0
      .join(deg.select(col("id").as("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("id").as("y"), col("deg").as("dy")), "y")
    // partition+sort on the wedge key instead of a bare cache (r15
    // opt): the wedge self-join below reads this frame on BOTH sides
    // keyed `s` — with the layout recorded on the checkpoint the SMJ
    // needs no Exchange and no Sort on either side (two V-sized
    // exchanges + two sorts removed from the dominant join)
    val oriented = partitionedCheckpoint(withDeg.select(
      when(struct(col("dx"), col("x")) < struct(col("dy"), col("y")),
        struct(col("x").as("s"), col("y").as("t"),
          struct(col("dy").as("d"), col("y").as("v")).as("tk")))
        .otherwise(
          struct(col("y").as("s"), col("x").as("t"),
            struct(col("dx").as("d"), col("x").as("v")).as("tk")))
        .as("e"))
      .select(col("e.s").as("s"), col("e.t").as("t"), col("e.tk").as("tk")),
      "s")
    // Wedges from each triangle's minimum vertex; the closing edge
    // (v, w) with tk_v < tk_w is oriented v→w by construction, so one
    // equi-join closes it.
    val wedges = oriented.as("p").join(oriented.as("q"),
      col("p.s") === col("q.s") && col("p.tk") < col("q.tk"))
      .select(col("p.s").as("u"), col("p.t").as("v"), col("q.t").as("w"))
    val tris = wedges.join(
      oriented.select(col("s").as("v"), col("t").as("w")), Seq("v", "w"))
    val counts = tris.select(col("u").as("id"))
      .unionByName(tris.select(col("v").as("id")))
      .unionByName(tris.select(col("w").as("id")))
      .groupBy("id").agg(count(lit(1)).as("n_tri"))
    // materialize (one row per vertex) so the intermediate caches can
    // be released here instead of leaking into the shared storage pool
    val out = deg.select(col("id")).join(counts, Seq("id"), "left")
      .select(col("id"), coalesce(col("n_tri"), lit(0L)).as("n_tri"))
      .localCheckpoint(eager = true)
    e0.unpersist()
    deg.unpersist()
    oriented.unpersist()
    out
    }
  }

  /** Neighbor-set Jaccard for every vertex pair sharing ≥1 neighbor
    * (GDS `gds.nodeSimilarity` parity — the undirected Jaccard core;
    * similarity cutoffs/topK are the caller's filter over the exact
    * integer counts returned here, so no float ever enters the plan).
    *
    * Shape: one wedge self-join on the shared-neighbor key, one
    * count aggregate, two degree joins — all fixed-width columns.
    * The wedge fan-out is Σ deg(n)² over wedge centers, so hubs are
    * the scale hazard; `maxDegree` is GDS's `upperDegreeCutoff` — it
    * drops vertices above the cap from the computation entirely
    * (LSH-derived pair graphs are already band-width-bounded, so the
    * default no-op cap is safe there).
    *
    * Returns (a, b, inter_cnt, union_cnt) with a < b, string keys.
    */
  def nodeSimilarityDF(pairs: DataFrame, src: String, dst: String,
      maxDegree: Long = Long.MaxValue,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val e0 = pairs
      .select(col(src).cast("string").as("x"), col(dst).cast("string").as("y"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("x"), greatest(col("x"), col("y")).as("y"))
      .distinct()
    // Small-graph fast path (louvainDF discipline): wedge enumeration
    // over the collected adjacency, replaying the distributed
    // semantics exactly — degrees measured BEFORE the cutoff, the
    // cutoff dropping edges with either endpoint over the cap, pairs
    // emitted a<b with ≥1 shared kept neighbor. Exact integers.
    locally {
      val e0c = e0.cache()
      if (localThreshold > 0 && e0c.count() <= localThreshold) {
        val nbrs = scala.collection.mutable
          .Map.empty[String, scala.collection.mutable.Set[String]]
        e0c.collect().foreach { r =>
          val (x, y) = (r.getString(0), r.getString(1))
          nbrs.getOrElseUpdate(x, scala.collection.mutable.Set.empty) += y
          nbrs.getOrElseUpdate(y, scala.collection.mutable.Set.empty) += x
        }
        e0c.unpersist()
        val deg = nbrs.iterator.map { case (n, s) => n -> s.size.toLong }.toMap
        val kept = deg.filter(_._2 <= maxDegree).keySet
        val inter = scala.collection.mutable
          .Map.empty[(String, String), Long].withDefaultValue(0L)
        for (n <- kept.iterator;
             ms = nbrs(n).filter(kept).toArray.sorted(utf8Ordering);
             i <- ms.indices; j <- (i + 1) until ms.length)
          inter((ms(i), ms(j))) += 1
        import spark.implicits._
        return spark.createDataset(
          inter.iterator.map { case ((a, b), ic) =>
            (a, b, ic, deg(a) + deg(b) - ic)
          }.toSeq)
          .toDF("a", "b", "inter_cnt", "union_cnt")
      }
      e0c.unpersist()
    }
    val und = e0.select(col("x").as("n"), col("y").as("m"))
      .unionByName(e0.select(col("y").as("n"), col("x").as("m")))
      .cache()
    val deg0 = und.groupBy("n").agg(count(lit(1)).as("deg"))
    val deg = (if (maxDegree == Long.MaxValue) deg0
               else deg0.where(col("deg") <= maxDegree)).cache()
    val kept =
      if (maxDegree == Long.MaxValue) und
      else und.join(deg.select("n"), Seq("n"), "left_semi")
        .join(deg.select(col("n").as("m")), Seq("m"), "left_semi")
    val wedges = kept.as("u1").join(kept.as("u2"),
        col("u1.n") === col("u2.n") && col("u1.m") < col("u2.m"))
      .groupBy(col("u1.m").as("a"), col("u2.m").as("b"))
      .agg(count(lit(1)).as("inter_cnt"))
    // materialize (pairs are band-width-bounded) then release caches
    val out = wedges
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), col("inter_cnt"),
        (col("da") + col("db") - col("inter_cnt")).as("union_cnt"))
      .localCheckpoint(eager = true)
    und.unpersist()
    deg.unpersist()
    out
  }

  /** Louvain community detection (GDS `gds.louvain` parity),
    * DataFrame-native and fully deterministic.
    *
    * Standard two-phase structure: (1) local moving — each round every
    * vertex evaluates the modularity gain of joining each neighbor
    * community and takes the best strictly-positive move; (2) graph
    * contraction — communities become super-nodes (inter-community
    * weights summed, intra-community weight kept as self-loop mass)
    * and phase 1 repeats on the smaller graph, up to `maxPasses`
    * levels.
    *
    * Determinism and scale choices:
    *   - Gain comparison is INTEGER-scaled: argmax over
    *     `2m·k_{v,c} − k_v·Σtot_c` (longs) — no float accumulation
    *     order can flip a decision, so repeated runs agree exactly
    *     (products stay in-range up to ~2^31 total edge weight; far
    *     beyond any LSH-bounded pair graph).
    *   - Ties break on the smaller community label; rounds alternate
    *     move DIRECTION in community-label order (even rounds admit
    *     only moves to smaller labels, odd rounds to larger), so the
    *     synchronous-update swap oscillation cannot fire — the
    *     deterministic variant of the usual random-subset guard.
    *   - Each round is two joins + two aggregates on fixed-width
    *     (vertex, community) keys; `localCheckpoint` truncates the
    *     iterative lineage. Work per round is O(E); passes shrink the
    *     graph geometrically.
    *
    * Returns (id, community), community = min ORIGINAL member id —
    * the same stable labeling as [[connectedComponentsDF]].
    */
  /** Driver-local replay of [[louvainDF]]'s exact move schedule over a
    * collected (x < y, w) edge list. Returns None when no move ever
    * improved modularity (the caller emits the every-vertex-its-own
    * fallback over the ORIGINAL pair list — which, unlike the edge
    * list, still contains self-loop-only vertices, preserving the
    * distributed path's fallback semantics exactly). All id
    * comparisons go through [[utf8Ordering]] (UTF-8 byte order), so
    * tie-breaks agree with Spark's UTF8String comparisons for
    * ARBITRARY string keys, not just ASCII. */
  private def louvainLocal(
      es0: Array[(String, String, Long)],
      maxPasses: Int, maxRounds: Int): Option[Seq[(String, String)]] = {
    import scala.collection.mutable
    var edges = mutable.Map.empty[(String, String), Long]
    es0.foreach { case (x, y, w) => edges((x, y)) = w }
    var selfW = mutable.Map.empty[String, Long]
    var assign: mutable.Map[String, String] = null
    var pass = 0
    var movedInPass = true
    while (pass < maxPasses && movedInPass) {
      pass += 1
      val adj = mutable.Map.empty[String, mutable.Map[String, Long]]
      def addE(a: String, b: String, w: Long): Unit = {
        val m = adj.getOrElseUpdate(a, mutable.Map.empty)
        m(b) = m.getOrElse(b, 0L) + w
      }
      edges.foreach { case ((x, y), w) => addE(x, y, w); addE(y, x, w) }
      val k = mutable.Map.empty[String, Long]
      adj.foreach { case (n, ms) =>
        k(n) = ms.valuesIterator.sum + selfW.getOrElse(n, 0L) }
      selfW.foreach { case (id, sw) =>
        if (!adj.contains(id)) k(id) = sw }
      val m2 = k.valuesIterator.sum
      var state = mutable.Map.empty[String, String]
      k.keysIterator.foreach(v => state(v) = v)
      var round = 0
      var quietRounds = 0
      movedInPass = false
      while (round < maxRounds && quietRounds < 2) {
        val tot = mutable.Map.empty[String, Long]
        state.foreach { case (id, com) =>
          tot(com) = tot.getOrElse(com, 0L) + k(id) }
        val next = mutable.Map.empty[String, String]
        var movedInRound = false
        // synchronous round: kvc/tot/score all read the OLD state
        for (v <- state.keysIterator) {
          val cur = state(v)
          val kvc = mutable.Map.empty[String, Long]
          adj.getOrElse(v, mutable.Map.empty).foreach { case (m, w) =>
            val c = state(m); kvc(c) = kvc.getOrElse(c, 0L) + w }
          if (!kvc.contains(cur)) kvc(cur) = 0L
          val kv = k(v)
          def score(c: String): Long =
            m2 * kvc(c) - kv * (tot(c) - (if (c == cur) kv else 0L))
          var bestC: String = null
          var bestS = Long.MinValue
          kvc.keysIterator.foreach { c =>
            val s0 = score(c)
            if (s0 > bestS ||
                (s0 == bestS && (bestC == null || utf8Lt(c, bestC)))) {
              bestS = s0; bestC = c
            }
          }
          val stay = score(cur)
          val dirOk =
            if (round % 2 == 0) utf8Lt(bestC, cur) else utf8Lt(cur, bestC)
          val moved = bestC != cur && bestS > stay && dirOk
          if (moved) movedInRound = true
          next(v) = if (moved) bestC else cur
        }
        if (movedInRound) { movedInPass = true; quietRounds = 0 }
        else quietRounds += 1
        state = next
        round += 1
      }
      if (movedInPass) {
        assign =
          if (assign == null) state.clone()
          else assign.map { case (id, com) => id -> state(com) }
        val newEdges = mutable.Map.empty[(String, String), Long]
        val newSelf = mutable.Map.empty[String, Long]
        edges.foreach { case ((x, y), w) =>
          val cx = state(x); val cy = state(y)
          if (cx == cy) newSelf(cx) = newSelf.getOrElse(cx, 0L) + 2 * w
          else {
            val key = if (utf8Lt(cx, cy)) (cx, cy) else (cy, cx)
            newEdges(key) = newEdges.getOrElse(key, 0L) + w
          }
        }
        selfW.foreach { case (id, sw) =>
          val c = state(id); newSelf(c) = newSelf.getOrElse(c, 0L) + sw }
        selfW = newSelf
        edges = newEdges
      }
    }
    if (assign == null) None
    else {
      val lbl = mutable.Map.empty[String, String]
      assign.foreach { case (id, com) =>
        val cur = lbl.get(com)
        if (cur.isEmpty || utf8Lt(id, cur.get)) lbl(com) = id
      }
      Some(assign.iterator.map { case (id, com) => (id, lbl(com)) }.toSeq)
    }
  }

  def louvainDF(pairs: DataFrame, src: String, dst: String,
      maxPasses: Int = 3, maxRounds: Int = 8,
      broadcastVertsMax: Long = 4000000L,
      localThreshold: Long = 1000000L,
      weight: Option[String] = None): DataFrame = {
    val spark = pairs.sparkSession
    // Level-graph state: simple undirected edges (x < y, weight w)
    // plus per-node self-loop mass (2× the contracted-away internal
    // weight, so degrees stay consistent across levels).
    //
    // Weighted form (GDS relationshipWeightProperty parity): the
    // level graph already runs on integer edge weights (contraction
    // sums them), so a weighted input just seeds w from the caller's
    // integer column instead of 1 — gains, Σtot, and modularity all
    // inherit the weights with the identical deterministic move
    // schedule. Parallel input edges aggregate by SUM; weight = None
    // keeps the old distinct()+w≡1 path bit-identical.
    var edges = (weight match {
      case None => pairs
        .select(col(src).cast("string").as("x"),
          col(dst).cast("string").as("y"))
        .where(col("x") =!= col("y"))
        .select(least(col("x"), col("y")).as("x"),
          greatest(col("x"), col("y")).as("y"))
        .distinct()
        .withColumn("w", lit(1L))
      case Some(wc) => pairs
        .select(col(src).cast("string").as("x0"),
          col(dst).cast("string").as("y0"), col(wc).cast("long").as("w"))
        // w > 0: GDS requires positive relationship weights, and the
        // same guard keeps this consistent with pageRankIntDF's
        // weighted form (a w ≤ 0 edge carries no community affinity
        // and would only distort Σtot/modularity)
        .where(col("x0") =!= col("y0") && col("w") > 0)
        .select(least(col("x0"), col("y0")).as("x"),
          greatest(col("x0"), col("y0")).as("y"), col("w"))
        .groupBy("x", "y").agg(sum("w").as("w"))
    }).localCheckpoint(eager = true)
    // Same small-graph discipline as connectedComponentsDF: below the
    // threshold, a driver-local run of the IDENTICAL deterministic
    // move schedule (same integer gains, same (score desc, com asc)
    // tie-break, same parity guard, quiet-round exit, contraction,
    // and min-member labeling — GraphAlgorithmsSpec pins local ==
    // distributed on the goldens) beats ~10 shuffle stages × up to
    // maxPasses·maxRounds rounds of V-sized frames by two orders of
    // magnitude. The *input* is the reduced pair list (LSH candidate
    // graph), so the gate is usually taken; above it, the distributed
    // fixpoint below runs unchanged.
    if (edges.count() <= localThreshold) {
      val es = edges.collect().map(r =>
        (r.getString(0), r.getString(1), r.getLong(2)))
      louvainLocal(es, maxPasses, maxRounds) match {
        case Some(rows) =>
          import spark.implicits._
          return spark.createDataset(rows.toSeq).toDF("id", "community")
        case None =>
          return pairs.select(col(src).cast("string").as("id"))
            .unionByName(pairs.select(col(dst).cast("string").as("id")))
            .distinct().withColumn("community", col("id"))
      }
    }
    // NOT wrapped in withGraphShuffle: Louvain's rounds are several
    // edge-sized gain-scan joins, compute-bound at this scale —
    // measured 27.5 s at the session default vs 35-39 s with the
    // graph-sized (4-9 partition) shuffle that wins for CC/triangles.
    locally {
    var selfW = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("sw",
          org.apache.spark.sql.types.LongType))))
    // id → current top-level community (accumulated across passes)
    var assign: DataFrame = null

    var pass = 0
    var movedInPass = true
    while (pass < maxPasses && movedInPass) {
      pass += 1
      // r16 re-audit (r15 VERDICT item 7): a layout-carrying
      // checkpoint of this frame on `n` (so deg's groupBy(n) and the
      // gain scan's kvc groupBy(n, com) could skip their Exchanges —
      // HashPartitioning(n) satisfies ClusteredDistribution(n, com))
      // was A/B-measured WORSE same-window: xdist_louvain 25.4 →
      // 34.9/37.0 s over two runs. The rounds are broadcast-dominated
      // (maybeB hints every V-frame below broadcastVertsMax), so the
      // eager per-pass repartition+sort of the 2|E|-row frame buys
      // almost nothing downstream — the r11 "graph-sized shuffle
      // widths lose here" conclusion extends to recorded-layout
      // checkpoints. REVERTED to the bare cache.
      val und = edges.select(col("x").as("n"), col("y").as("m"), col("w"))
        .unionByName(edges.select(col("y").as("n"), col("x").as("m"), col("w")))
        .cache()
      // k(v) = Σ incident weight + self mass; 2m = Σ k(v)
      val deg = und.groupBy("n").agg(sum("w").as("kw"))
        .join(selfW.withColumnRenamed("id", "n"), Seq("n"), "left")
        .select(col("n").as("id"),
          (col("kw") + coalesce(col("sw"), lit(0L))).as("k"))
        .unionByName( // isolated self-loop-only nodes (contracted cliques)
          selfW.join(und.select(col("n").as("id")).distinct(),
            Seq("id"), "left_anti")
            .select(col("id"), col("sw").as("k")))
        .cache()
      // One action materializes the cached deg AND measures the level
      // graph: 2m for the gain formula, |V| for the broadcast gate.
      val degStats = deg.agg(sum("k"), count(lit(1))).head
      val m2 = degStats.getLong(0)
      val vCount = degStats.getLong(1)
      // Checkpointed/cached iterative frames carry no size stats, so
      // the planner sort-merge-joins EVERYTHING — ~8-10 shuffle
      // stages per round of tiny V-sized frames (profiled at sf0.1:
      // the suite's single most expensive query, dominated by stage
      // scheduling, not data). deg/state/tot are all ≤|V| rows of
      // fixed-width columns; when |V| is bounded, hint them broadcast
      // and a round collapses to two shuffles (the kvc aggregate and
      // the per-id window). Above the gate — a corpus-scale graph —
      // every join falls back to the shuffled plan unchanged.
      val maybeB: DataFrame => DataFrame =
        if (vCount <= broadcastVertsMax) broadcast else identity
      var state = deg.select(col("id"), col("id").as("com"))
        .localCheckpoint(eager = true)
      var round = 0
      var quietRounds = 0
      movedInPass = false
      // Dirty-vertex frontier (round 11): a vertex's candidate scores
      // change only when a move touches its own community or a
      // neighbor's community — k and kvc are static otherwise, and
      // Σtot only changes for the moved vertices' old/new communities.
      // So only vertices whose community (or a neighbor's) was
      // touched by a move in the last TWO rounds (both parity classes
      // of the direction guard) need re-scoring; everyone else
      // provably repeats their last same-parity "stay" decision, so
      // the move schedule is BIT-IDENTICAL to the full scan —
      // louvainLocal parity and the modularity oracle are untouched.
      // ADAPTIVE: the frontier only engages when both of the last two
      // rounds moved < |V|/8 vertices (touched sets kept only then —
      // null is the "everything dirty" sentinel). Mass-move rounds
      // (most of a pass on dense community structure — measured: the
      // 120k-clique synthetic moves everyone until it's suddenly
      // quiet, and an always-on frontier cost +29% there) pay one
      // extra column and a count; sparse tails — the rounds that
      // dominate on real long-convergence graphs — scan only the
      // frontier's edges.
      val frontierThreshold = math.max(1L, vCount / 8)
      var touched1: DataFrame = null // coms touched by last round
      var touched2: DataFrame = null // ... and the round before
      // Exit only after TWO consecutive quiet rounds: the parity guard
      // alternates which vertices may move per round, so a single
      // quiet round only proves one parity class is settled — exiting
      // on it would strand the other class mid-move (e.g. a 2-node
      // graph whose ids both hash to parity 1 would never merge).
      while (round < maxRounds && quietRounds < 2) {
        val dirtyIds: DataFrame =
          if (touched1 == null || touched2 == null) null
          else {
            val dcoms = touched1.unionByName(touched2).distinct()
            val members = state.join(maybeB(dcoms), "com").select("id")
            val nbrs = und
              .join(maybeB(members.withColumnRenamed("id", "m")),
                Seq("m"), "left_semi")
              .select(col("n").as("id"))
            members.unionByName(nbrs).distinct()
              .localCheckpoint(eager = true)
          }
        // Σtot per community, and k_{v,c} per (vertex, neighbor com)
        val tot = state.join(maybeB(deg), "id").groupBy("com")
          .agg(sum("k").as("tot"))
        val undS =
          if (dirtyIds == null) und
          else und.join(maybeB(dirtyIds.withColumnRenamed("id", "n")),
            Seq("n"), "left_semi")
        val kvc = undS
          .join(maybeB(state.select(col("id").as("m"), col("com"))), "m")
          .groupBy(col("n").as("id"), col("com"))
          .agg(sum("w").as("kvc"))
        val curAll = state.withColumnRenamed("com", "cur_com")
        val cur =
          if (dirtyIds == null) curAll
          else curAll.join(maybeB(dirtyIds), Seq("id"), "left_semi")
        // candidate score for v→c (c over neighbor coms ∪ current):
        // 2m·k_{v,c} − k_v·(Σtot_c − k_v·[c = cur]) , longs throughout
        val cand = kvc
          .unionByName(cur.select(col("id"), col("cur_com").as("com"))
            .join(kvc.select("id", "com"), Seq("id", "com"), "left_anti")
            .withColumn("kvc", lit(0L)))
          .join(maybeB(cur), "id").join(maybeB(deg), "id")
          .join(maybeB(tot), "com")
          .select(col("id"), col("com"), col("cur_com"), col("k"),
            (lit(m2) * col("kvc") -
              col("k") * (col("tot") -
                when(col("com") === col("cur_com"), col("k"))
                  .otherwise(lit(0L)))).as("score"))
        val w = Window.partitionBy("id")
          .orderBy(col("score").desc, col("com").asc)
        // stay_score via an unordered window over the SAME partition
        // key — both window ops share one id exchange, where a
        // separate where+join would add a shuffle per round (the
        // current community's candidate row always exists: kvc is
        // zero-filled with it above)
        val best = cand
          .withColumn("stay_score",
            max(when(col("com") === col("cur_com"), col("score")))
              .over(Window.partitionBy("id")))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") === 1)
          .select(col("id"),
            // STRICT improvement over staying (Louvain's positive-gain
            // rule — zero-gain moves would drift/oscillate) + an
            // alternating DIRECTION guard: even rounds only admit
            // moves to a smaller community label, odd rounds to a
            // larger one. All moves in a round point one way in label
            // order, so the synchronous-update pathology (two vertices
            // swapping communities forever) cannot fire — a swap needs
            // both label inequalities at once. Deterministic, no hash.
            col("com").as("cand_com"),
            (col("com") =!= col("cur_com") &&
              col("score") > col("stay_score") &&
              (if (round % 2 == 0) col("com") < col("cur_com")
               else col("com") > col("cur_com"))).as("moved"),
            col("cur_com"))
          .select(col("id"),
            when(col("moved"), col("cand_com")).otherwise(col("cur_com"))
              .as("com"),
            col("moved"),
            col("cur_com").as("prev_com"))
        // the moved flag rides the checkpoint, so convergence detection
        // is a scan of already-materialized partitions, not a re-join
        // of this round's state against the previous round's
        val nextF = best.localCheckpoint(eager = true)
        val movedRows = nextF.where(col("moved"))
        val movedCount = movedRows.count() // scan of the checkpoint
        val movedInRound = movedCount > 0
        // frontier bookkeeping: the communities this round's moves
        // touched (old ∪ new) drive round+2's dirty set — tracked
        // only below the engagement threshold (null = all dirty)
        touched2 = touched1
        touched1 =
          if (movedCount >= frontierThreshold) null
          else movedRows
            .select(explode(array(col("com"), col("prev_com"))).as("com"))
            .distinct()
            .localCheckpoint(eager = true)
        val next =
          if (dirtyIds == null) nextF.select("id", "com")
          else nextF.select("id", "com").unionByName(
              state.join(dirtyIds, Seq("id"), "left_anti"))
            .localCheckpoint(eager = true)
        if (movedInRound) { movedInPass = true; quietRounds = 0 }
        else quietRounds += 1
        state = next
        round += 1
      }
      if (movedInPass) {
        // accumulate the id→community mapping across levels
        assign =
          if (assign == null) state
          else assign.join(
            state.select(col("id").as("com0"), col("com").as("com1")),
            assign("com") === col("com0"))
            .select(assign("id"), col("com1").as("com"))
            .localCheckpoint(eager = true)
        // contract: communities → nodes; intra mass → self-loops
        val sx = state.select(col("id").as("x"), col("com").as("cx"))
        val sy = state.select(col("id").as("y"), col("com").as("cy"))
        val mapped = edges.join(maybeB(sx), "x").join(maybeB(sy), "y")
          .select(col("cx"), col("cy"), col("w"))
        val intra = mapped.where(col("cx") === col("cy"))
          .groupBy(col("cx").as("id")).agg((sum("w") * 2).as("sw"))
        val selfCarried = selfW
          .join(state.select(col("id"), col("com")), "id")
          .groupBy(col("com").as("id")).agg(sum("sw").as("sw"))
        selfW = intra.unionByName(selfCarried)
          .groupBy("id").agg(sum("sw").as("sw"))
          .localCheckpoint(eager = true)
        edges = mapped.where(col("cx") =!= col("cy"))
          .select(least(col("cx"), col("cy")).as("x"),
            greatest(col("cx"), col("cy")).as("y"), col("w"))
          .groupBy("x", "y").agg(sum("w").as("w"))
          .localCheckpoint(eager = true)
      }
      und.unpersist()
      deg.unpersist()
    }
    if (assign == null)
      // no community ever improved modularity: every vertex its own
      pairs.select(col(src).cast("string").as("id"))
        .unionByName(pairs.select(col(dst).cast("string").as("id")))
        .distinct().withColumn("community", col("id"))
    else {
      // Normalize labels to the min ORIGINAL member id (contraction
      // leaves representative ids, which need not be the minimum) —
      // the same stable labeling as connectedComponentsDF.
      val lbl = assign.groupBy("com").agg(min("id").as("community"))
      assign.join(lbl, "com").select(col("id"), col("community"))
        .localCheckpoint(eager = true)
    }
    }
  }

  /** Collected (a, b) adjacency of a small edge frame, for the
    * driver-local σ-BFS fast paths. */
  private def localAdjacency(und: DataFrame)
      : java.util.HashMap[String, Array[String]] = {
    val tmp = scala.collection.mutable.Map.empty[String, ArrayBuffer[String]]
    und.collect().foreach { r =>
      tmp.getOrElseUpdate(r.getString(0), ArrayBuffer.empty) += r.getString(1)
    }
    val adj = new java.util.HashMap[String, Array[String]]()
    tmp.foreach { case (k, v) => adj.put(k, v.toArray) }
    adj
  }

  /** Driver-local forward σ-BFS from `s` — the Brandes forward phase
    * shared by [[bfsSigmaDF]]'s and [[betweennessDF]]'s fast paths.
    * Returns (dist, σ, layers): hop distance and exact shortest-path
    * count for every vertex within `maxDepth` hops, and the BFS
    * layers deepest first (head = the last, possibly empty, layer). */
  private def localSigmaBfs(adj: java.util.HashMap[String, Array[String]],
      s: String, maxDepth: Int): (scala.collection.mutable.Map[String, Int],
      scala.collection.mutable.Map[String, Long], List[List[String]]) = {
    val dist = scala.collection.mutable.Map(s -> 0)
    val sigma = scala.collection.mutable.Map(s -> 1L)
    var layers = List(List(s))
    var depth = 0
    while (depth < maxDepth && layers.head.nonEmpty) {
      depth += 1
      val next = ArrayBuffer.empty[String]
      for (u <- layers.head; v <- adj.getOrDefault(u, Array.empty)) {
        dist.get(v) match {
          case None => dist(v) = depth; sigma(v) = sigma(u); next += v
          case Some(dv) if dv == depth => sigma(v) += sigma(u)
          case _ => ()
        }
      }
      layers = next.distinct.toList :: layers
    }
    (dist, sigma, layers)
  }

  /** Multi-source BFS with shortest-path counting — the Brandes
    * forward phase, exposed because the exact pair-sum betweenness
    * formulation (see `d_dup_betweenness`) and any σ-weighted path
    * analytics build directly on it. Returns (s, v, dist, sigma):
    * for every source s and vertex v within `maxDepth` hops, the hop
    * distance and the EXACT number of distinct shortest s→v paths
    * (σ stays an integral long — layer-synchronous partial-sum
    * aggregation, one equi-join + one partial-agg + one anti-join per
    * layer, all sources advancing together on fixed-width keys).
    */
  def bfsSigmaDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, maxDepth: Int = 30,
      directed: Boolean = false,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val und = (if (directed) e
      else e.unionByName(e.select(col("b").as("a"), col("a").as("b"))))
      .distinct().cache()
    // Small-graph fast path (same discipline as louvainDF /
    // connectedComponentsDF): the distributed loop costs ~4 shuffle
    // stages per layer of tiny frames, so a bounded graph pays more
    // in stage scheduling than in data. (dist, σ) are integers with a
    // layer-synchronous recurrence — the local replay is bit-exact,
    // not approximate. Gate on BOTH the collected edge list and the
    // |S|·|V| output bound (all-sources BFS on a big component is an
    // O(V²) pair table no driver should hold). The und.count() action
    // warms the same cache the distributed loop would use, so the
    // probe is free when the gate is not taken. BOTH gates are
    // evaluated BEFORE the edge list is collected — the |S|·|V| probe
    // uses the already-collected source list and a cheap distinct
    // count over the cached edges, so a rejected gate never pays the
    // full adjacency materialization just to discard it.
    if (localThreshold > 0 && und.count() <= localThreshold) {
      val srcs = sources
        .select(col(sources.columns.head).cast("string")).distinct()
        .collect().map(_.getString(0))
      val nAdj = und.select("a").distinct().count()
      if (srcs.length.toLong * math.max(nAdj, 1L) <= 4000000L) {
        val adj = localAdjacency(und)
        und.unpersist()
        val rows = Seq.newBuilder[(String, String, Int, Long)]
        for (s <- srcs) {
          val (dist, sigma, _) = localSigmaBfs(adj, s, maxDepth)
          dist.foreach { case (v, dv) => rows += ((s, v, dv, sigma(v))) }
        }
        import spark.implicits._
        return spark.createDataset(rows.result()).toDF("s", "v", "dist", "sigma")
      }
    }
    var visited = sources
      .select(col(sources.columns.head).cast("string").as("s")).distinct()
      .select(col("s"), col("s").as("v"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .localCheckpoint(eager = true)
    var frontier = visited
    var depth = 0
    while (depth < maxDepth && frontier.limit(1).count() > 0) {
      depth += 1
      val next = und.join(frontier.withColumnRenamed("v", "a"), "a")
        .groupBy(col("s"), col("b").as("v"))
        .agg(sum("sigma").as("sigma"))
        .join(visited.select("s", "v"), Seq("s", "v"), "left_anti")
        .withColumn("dist", lit(depth))
        .select("s", "v", "dist", "sigma")
        .localCheckpoint(eager = true)
      visited = visited.unionByName(next).localCheckpoint(eager = true)
      frontier = next
    }
    und.unpersist()
    visited
  }

  /** Betweenness centrality (GDS `gds.betweenness` parity), sampled
    * Brandes, DataFrame-native. `sources` is the pivot set as a
    * DataFrame (first column) — the distributed-seed shape; exact
    * betweenness = pass every vertex. Forward phase: one multi-source
    * BFS keyed (source, vertex) accumulating σ (shortest-path counts,
    * exact longs) layer by layer — one equi-join + partial-agg per
    * layer, all sources advance together. Backward phase: dependency
    * accumulation δ from the deepest layer up, one join per layer.
    * σ stays integral; δ is rational so the final score is a double,
    * rounded to `scale` decimals for run-stable output.
    *
    * Returns (id, betweenness) — raw ordered-pair dependency sums
    * (GDS convention; undirected symmetric pairs are counted twice,
    * callers sampling k of n sources scale by n/k).
    */
  def betweennessDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, maxDepth: Int = 30, scale: Int = 6,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val und = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct().cache()
    // Small-graph fast path: classic per-source Brandes on the
    // collected adjacency — the backward δ-loop below costs ~4
    // shuffle stages per BFS layer, all scheduling at bounded sizes.
    // The δ recurrence over the (dist(w) = dist(u)+1) edge set is
    // IDENTICAL; only double-summation order differs, which the
    // round-to-`scale` output absorbs (GraphAlgorithmsSpec pins
    // local == distributed to 1e-9 on σ-splitting fixtures). Same
    // |S|·|V| driver bound as bfsSigmaDF's gate, and like there both
    // gates run BEFORE the edge-list collect (cheap distinct count,
    // not the materialized adjacency).
    if (localThreshold > 0 && und.count() <= localThreshold) {
      val srcs = sources
        .select(col(sources.columns.head).cast("string")).distinct()
        .collect().map(_.getString(0))
      val nAdj = und.select("a").distinct().count()
      if (srcs.length.toLong * math.max(nAdj, 1L) <= 4000000L) {
        val adj = localAdjacency(und)
        und.unpersist()
        val bet = scala.collection.mutable.Map.empty[String, Double]
        val emitted = scala.collection.mutable.Set.empty[String]
        for (s <- srcs) {
          val (dist, sigma, layers) = localSigmaBfs(adj, s, maxDepth)
          // backward: deepest layer first; δ_u += σ_u/σ_w · (1+δ_w)
          val delta = scala.collection.mutable.Map
            .empty[String, Double].withDefaultValue(0.0)
          for (layer <- layers.dropRight(1); w <- layer;
               u <- adj.getOrDefault(w, Array.empty)
               if dist.get(u).contains(dist(w) - 1)) {
            delta(u) += sigma(u).toDouble / sigma(w) * (1.0 + delta(w))
          }
          dist.keysIterator.filter(_ != s).foreach { v =>
            bet(v) = bet.getOrElse(v, 0.0) + delta(v)
            emitted += v
          }
        }
        import spark.implicits._
        val rows = emitted.iterator.map { v =>
          (v, BigDecimal(bet(v))
            .setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }.toSeq
        return spark.createDataset(rows).toDF("id", "betweenness")
      }
    }
    // forward: visited(s, v, dist, sigma)
    val visited = bfsSigmaDF(edges, src, dst, sources, maxDepth)
      .localCheckpoint(eager = true)
    // backward: δ accumulation from the deepest layer down. delta
    // carries (s, v, delta); vertices at the deepest layer have δ=0.
    val maxDist = visited.agg(max("dist")).head.getInt(0)
    var delta = visited.select(col("s"), col("v"), lit(0.0).as("delta"))
      .localCheckpoint(eager = true)
    var d = maxDist
    while (d > 0) {
      val lower = visited.where(col("dist") === d)
        .join(delta, Seq("s", "v"))
        .select(col("s"), col("v").as("b"), col("sigma").as("sig_w"),
          col("delta").as("del_w"))
      val upper = visited.where(col("dist") === d - 1)
      // contribution to predecessor u (edge u–w, dist(w)=dist(u)+1):
      // σ_u/σ_w · (1 + δ_w)
      val contrib = und.join(lower, "b") // (a=u, b=w)
        .join(upper.select(col("s"), col("v").as("a"), col("sigma")),
          Seq("s", "a"))
        .groupBy(col("s"), col("a").as("v"))
        .agg(sum(col("sigma").cast("double") / col("sig_w") *
          (lit(1.0) + col("del_w"))).as("add"))
      delta = delta.join(contrib, Seq("s", "v"), "left")
        .select(col("s"), col("v"),
          (col("delta") + coalesce(col("add"), lit(0.0))).as("delta"))
        .localCheckpoint(eager = true)
      d -= 1
    }
    val out = delta.where(col("s") =!= col("v"))
      .groupBy(col("v").as("id"))
      .agg(round(sum("delta"), scale).as("betweenness"))
      .localCheckpoint(eager = true)
    und.unpersist()
    out
  }

  /** Per-vertex degree over an undirected pair list (GDS degree
    * centrality parity): distinct neighbors, self-loops dropped. One
    * symmetrize + one fixed-width-key groupBy — the cheapest
    * centrality, and the cardinality estimate every other graph pass
    * (orientation, cutoffs, salting) starts from. */
  def degreesDF(pairs: DataFrame, src: String, dst: String): DataFrame = {
    val e = pairs.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      .distinct()
      .groupBy(col("a").as("id"))
      .agg(count(lit(1)).as("degree"))
  }

  /** Harmonic closeness centrality (GDS closeness-harmonic parity):
    * H(v) = Σ_{t≠v reachable} 1/dist(v,t), integer-quantized as long
    * micro-units Σ ⌊10^6/dist⌋ so the sum has no float accumulation
    * order on any engine. Distances come from the layer-synchronous
    * multi-source BFS seeded with EVERY vertex as a DataFrame (seeds
    * never touch the driver); per-source state is the O(Σ|comp|²)
    * pair table — the exact-centrality contract. For graphs with huge
    * components, pass a sampled sources frame to bfsSigmaDF directly,
    * as betweennessDF does. */
  def harmonicCentralityDF(edges: DataFrame, src: String, dst: String,
      maxDepth: Int = 30): DataFrame = {
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val verts = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
    harmonicCentralityDF(edges, src, dst, verts, maxDepth)
  }

  /** Sampled-sources harmonic centrality — the 100×-scale path: cost
    * is O(|S|·E) instead of O(V·E), and because the graph is
    * undirected the restricted sum H_S(v) = Σ_{s∈S, s≠v} ⌊10^6 /
    * dist(s,v)⌋ is an exact integer partial of the full H(v) (no
    * estimator noise enters the quantized units — scaling back up by
    * V/|S| is the caller's choice). `sources` with every vertex
    * reproduces the exact form bit-for-bit
    * (GraphAlgorithmsSpec pins both contracts). Output covers EVERY
    * vertex of the graph; vertices unreached from S score 0. */
  def harmonicCentralityDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val verts = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
    val h = bfsSigmaDF(edges, src, dst, sources, maxDepth)
      .where(col("dist") > 0)
      .groupBy(col("v").as("id"))
      .agg(sum(expr("1000000 div dist")).as("harmonic_q"))
    verts.join(h, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("harmonic_q"), lit(0L)).as("harmonic_q"))
  }

  /** Sampled-sources CLASSIC closeness centrality (GDS
    * `gds.closeness` parity; [[harmonicCentralityDF]] is the
    * disconnect-robust cousin): C_S(v) = ⌊10⁶ · |reached(v, S)| /
    * Σ_{s∈S} dist(s, v)⌋ over the SAME multi-source σ-BFS relation —
    * one extra aggregate on the (src, v, dist) rows, zero additional
    * BFS cost beyond the harmonic form's. All-integer (count·10⁶ div
    * Σdist), so the score is hash-exact; unreached vertices score 0.
    * Wasserman–Faust component scaling is presentation and stays out
    * of the quantized units. */
  def closenessCentralityDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, maxDepth: Int): DataFrame = {
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    val verts = e.select(col("a").as("id"))
      .unionByName(e.select(col("b").as("id"))).distinct()
    val c = bfsSigmaDF(edges, src, dst, sources, maxDepth)
      .where(col("dist") > 0)
      .groupBy(col("v").as("id"))
      .agg(count(lit(1)).as("n"), sum("dist").as("sd"))
      .select(col("id"), expr("1000000 * n div sd").as("closeness_q"))
    verts.join(c, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("closeness_q"), lit(0L)).as("closeness_q"))
  }

  /** k-core of an undirected pair list (GDS kcore parity): the
    * maximal subgraph where every vertex keeps degree ≥ k, found by
    * iteratively peeling under-degree vertices. Returns the surviving
    * vertices with their in-core degree. Each round is one
    * fixed-width-key aggregate plus two semi-joins on the (shrinking)
    * edge set, lineage truncated per round — the standard distributed
    * peel; rounds are bounded by the graph's degeneracy cascade depth,
    * and non-convergence within maxIter fails loud rather than
    * returning a non-fixpoint. */
  def kCoreDF(pairs: DataFrame, src: String, dst: String, k: Int,
      maxIter: Int = 40, localThreshold: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    val e0 = pairs.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    var e = e0.unionByName(e0.select(col("b").as("a"), col("a").as("b")))
      .distinct().localCheckpoint(eager = true)
    var n = e.count()
    // Small-graph fast path (louvainDF discipline): the SAME
    // synchronous peel — every round drops ALL under-degree vertices
    // at once — over the collected adjacency, same maxIter fail-loud
    // guard. Exact integers; the distributed peel runs unchanged
    // above the gate.
    if (localThreshold > 0 && n <= localThreshold) {
      var nbrs = Map.empty[String, Set[String]]
      e.collect().foreach { r =>
        val (a, b) = (r.getString(0), r.getString(1))
        nbrs = nbrs.updated(a, nbrs.getOrElse(a, Set.empty) + b)
      }
      var itL = 0
      var convergedL = nbrs.isEmpty
      while (!convergedL && itL < maxIter) {
        itL += 1
        val keep = nbrs.collect { case (v, s) if s.size >= k => v }.toSet
        val next = nbrs.collect { case (v, s) if keep(v) =>
          v -> s.filter(keep) }.filter(_._2.nonEmpty)
        convergedL = next.size == nbrs.size &&
          next.forall { case (v, s) => nbrs(v).size == s.size }
        nbrs = next
      }
      require(convergedL,
        s"k-core peel did not converge within $maxIter rounds")
      import spark.implicits._
      return spark.createDataset(
        nbrs.iterator.map { case (v, s) => (v, s.size.toLong) }.toSeq)
        .toDF("id", "core_degree")
    }
    var it = 0
    var converged = n == 0L
    while (!converged && it < maxIter) {
      it += 1
      val keep = e.groupBy("a").agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k).select("a")
      val next = e.join(keep, Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("a", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .localCheckpoint(eager = true)
      val m = next.count()
      converged = m == n
      e = next
      n = m
    }
    require(converged,
      s"k-core peel did not converge within $maxIter rounds")
    e.groupBy(col("a").as("id")).agg(count(lit(1)).as("core_degree"))
  }

  /** Deterministic random walks (GDS randomWalk / node2vec-sampling
    * parity): one fixed-length walk per source vertex, where the
    * "random" next hop from `cur` at step k is the neighbor minimizing
    * md5("walk|k|cur|nbr") — a keyed PRF, so the walk is a pure
    * function of the graph + source (same result on any cluster
    * layout, any retry, any engine that spells md5 the same way —
    * which DuckDB does, making the walk exactly oracle-checkable,
    * unlike seeded-RNG walks whose draw order is engine-private).
    *
    * Returns (walk, step, node): step 0 is the source itself, then
    * `steps` hops over the symmetrized edge set (self-loops dropped).
    * A vertex with no neighbors ends its walk early (inner join).
    *
    * Scale shape: each hop is one shuffle-join on the frontier
    * (|walks| rows, not |V|) plus a per-walk top-1 window — O(steps)
    * stages total, frontier never exceeds Σ deg(cur) rows before the
    * rank-1 filter. Walk count scales with the sources frame; the
    * corpus-sized state never materializes. Tie-break after the hash
    * is the neighbor id (md5 ties are 2^-64 events; the order-by is
    * total either way). */
  def hashWalkDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, steps: Int = 4): DataFrame = {
    val e = edges.select(col(src).cast("string").as("a"),
      col(dst).cast("string").as("b"))
      .where(col("a") =!= col("b"))
    // the adjacency is joined on `a` at EVERY step — partition it on
    // the join key once and checkpoint (guide §2.4: the steps then
    // exchange only the walk frontier, never the edge list), which
    // also keeps the plan flat instead of embedding the und subplan
    // `steps` times. Size-gated (r16): below the boundary the plain
    // eager checkpoint keeps the flat plan without the
    // repartition+sort cost.
    val und = sizedCheckpoint(
      e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
        .distinct(), "a")
    var cur = sources
      .select(col(sources.columns.head).cast("string").as("walk"))
      .distinct()
      .select(col("walk"), col("walk").as("node"), lit(0).as("step"))
    var acc = cur
    for (k <- 1 to steps) {
      // argmin by (hash, neighbor) as a map-side-combining aggregate:
      // min over struct<h, b> orders field-by-field, so it selects
      // exactly the row a (h, b)-ordered rank-1 window would — minus
      // the per-walk sort and with partial aggregation before the
      // shuffle (a walk's candidates combine within each map task).
      // Lazily checkpointed per step (eigenvectorDF's trick): each
      // step is consumed by the next join AND the final union, and an
      // un-truncated plan would embed every prior step's subplan
      // twice over — quadratic plan growth the optimizer then chews
      // on; the lazy form truncates the logical plan with no extra
      // job.
      cur = cur.join(und, cur("node") === und("a"))
        .select(col("walk"), struct(
          md5(concat_ws("|", col("walk"), lit(k), col("node"), col("b")))
            .as("h"),
          col("b")).as("hb"))
        .groupBy("walk").agg(min("hb").as("hb"))
        .select(col("walk"), col("hb.b").as("node"), lit(k).as("step"))
        .localCheckpoint(eager = false)
      acc = acc.unionByName(cur)
    }
    acc.select(col("walk"), col("step"), col("node"))
  }

  /** Walk-context node embeddings — the walk-based member of the GDS
    * embedding family (node2vec capability parity: same walk corpus,
    * same window-co-occurrence statistics; the SGD step is replaced
    * by feature hashing, i.e. a count-sketch of each vertex's context
    * distribution — deterministic, integer-exact, and engine-
    * replayable where SGD is none of those). dim(v, k) = how often a
    * context vertex hashing to k (keyed md5 PRF mod `dims`) appears
    * within ±`window` steps of v across all [[hashWalkDF]] walks.
    * Vertices that co-occur on walks share context mass, so
    * same-community vectors land near each other (locality pinned on
    * the two-cliques fixture in GraphAlgorithmsSpec) — the same
    * contract fastRP fills propagation-style.
    *
    * Scale shape: the walk corpus is O(|sources|·steps) rows; the
    * co-occurrence pass is ONE equi-join on the fixed-width walk key
    * (fan-out ≤ 2·window per row) into a codegen'd hash agg — no
    * corpus-sized state, no all-pairs. Returns (id, dim, val). */
  def walkEmbedDF(edges: DataFrame, src: String, dst: String,
      sources: DataFrame, steps: Int = 4, window: Int = 2,
      dims: Int = 16): DataFrame = {
    graft.functions.NativeFunctions.register(edges.sparkSession)
    // lazily checkpointed: the self-join consumes the walk frame
    // twice; un-truncated, each side would embed the full steps-deep
    // walk subplan
    val w = hashWalkDF(edges, src, dst, sources, steps)
      .localCheckpoint(eager = false)
    w.as("x").join(w.as("y"), col("x.walk") === col("y.walk") &&
        col("x.step") =!= col("y.step") &&
        abs(col("x.step") - col("y.step")) <= window)
      .select(col("x.node").as("id"),
        pmod(call_udf("graft_hex60",
          concat(lit("we:"), col("y.node"))), lit(dims.toLong))
          .cast("long").as("dim"))
      .groupBy("id", "dim").agg(count(lit(1)).as("val"))
  }

  /** Strongly connected components (GDS `gds.scc` capability parity,
    * template.yaml:262-263) over a DIRECTED string-keyed edge list.
    * Returns (id, component), component = the UTF-8-minimal member id
    * — the same labeling contract as [[connectedComponentsDF]].
    *
    * Small-graph fast path below `localThreshold` collected edges:
    * iterative Kosaraju (finish-order DFS on G, then DFS on Gᵀ in
    * reverse finish order; explicit stacks, no recursion depth
    * limit). Distributed path: forward/backward min-label peeling —
    * each round runs a min-label propagation fixpoint along edge
    * direction (fwd = min id that reaches v) and one against it
    * (bwd = min id v reaches) over the still-unassigned subgraph;
    * vertices with fwd = bwd = m form exactly SCC(m) (m reaches v
    * and v reaches m, and m is then the SCC's minimal member) and
    * peel off. The globally minimal alive id always satisfies the
    * test, so every round assigns ≥1 SCC. Three accelerators keep the
    * round count graph-shape-proof (round 10's form degenerated to
    * O(condensation-chain-length) rounds and O(diameter) inner joins
    * — a 200-link chain blew the budget):
    *
    *  1. TRIM — a vertex with no in-edge or no out-edge in the alive
    *     subgraph lies on no cycle: a singleton SCC, peeled with two
    *     distinct+semi-joins and no propagation. The acyclic fringe
    *     (most of a real call/citation DAG) never pays a fixpoint.
    *  2. Pointer-DOUBLING in the min-label fixpoint — each round
    *     takes one edge hop and one label hop (lbl(v) ← lbl(lbl(v)),
    *     sound because lbl(v) reaches v and lbl(lbl(v)) reaches
    *     lbl(v)), so labels cross 2^i hops after i rounds:
    *     convergence in O(log diameter) joins, not O(diameter).
    *  3. Pair-class EDGE DROP — members of one SCC share identical
    *     reach sets, hence identical (fwd, bwd) label pairs; an edge
    *     whose endpoints disagree on the pair can never be intra-SCC
    *     and is dropped after each peel. A condensation chain's pair
    *     classes are all distinct, so every chain edge drops at once
    *     and the next round's trim sweeps the chain in one pass —
    *     O(1) outer rounds where peeling min-SCCs one at a time
    *     needed O(chain).
    *
    * Each round is O(E) equi-joins with checkpoint-truncated
    * lineage; loud failure past `maxIter` like every sibling
    * fixpoint.
    */
  def stronglyConnectedComponentsDF(edges: DataFrame, src: String,
      dst: String, maxIter: Int = 50,
      localThreshold: Long = 1000000L): DataFrame = {
    val spark = edges.sparkSession
    val es = edges
      .select(col(src).cast("string").as("a"), col(dst).cast("string").as("b"))
      .cache()
    val nE = es.count()
    if (localThreshold > 0 && nE <= localThreshold) {
      import spark.implicits._
      val rows = es.collect().map(r => (r.getString(0), r.getString(1)))
      es.unpersist()
      val verts = scala.collection.mutable.LinkedHashSet.empty[String]
      val adj = scala.collection.mutable.Map
        .empty[String, ArrayBuffer[String]]
      val radj = scala.collection.mutable.Map
        .empty[String, ArrayBuffer[String]]
      rows.foreach { case (a, b) =>
        verts += a; verts += b
        if (a != b) {
          adj.getOrElseUpdate(a, ArrayBuffer.empty) += b
          radj.getOrElseUpdate(b, ArrayBuffer.empty) += a
        }
      }
      // pass 1: finish order (iterative DFS with explicit child cursors)
      val seen = scala.collection.mutable.HashSet.empty[String]
      val order = ArrayBuffer.empty[String]
      verts.foreach { root =>
        if (!seen(root)) {
          seen += root
          val stack = ArrayBuffer((root, 0))
          while (stack.nonEmpty) {
            val (v, ci) = stack.last
            val out = adj.getOrElse(v, ArrayBuffer.empty)
            if (ci < out.length) {
              stack(stack.length - 1) = (v, ci + 1)
              val w = out(ci)
              if (!seen(w)) { seen += w; stack += ((w, 0)) }
            } else {
              stack.remove(stack.length - 1)
              order += v
            }
          }
        }
      }
      // pass 2: Gᵀ DFS in reverse finish order; each tree is one SCC
      val comp = scala.collection.mutable.HashMap.empty[String, String]
      order.reverseIterator.foreach { root =>
        if (!comp.contains(root)) {
          val members = ArrayBuffer.empty[String]
          val stack = ArrayBuffer(root)
          comp(root) = root // placeholder, relabeled below
          while (stack.nonEmpty) {
            val v = stack.remove(stack.length - 1)
            members += v
            radj.getOrElse(v, ArrayBuffer.empty).foreach { w =>
              if (!comp.contains(w)) { comp(w) = root; stack += w }
            }
          }
          val label = members.min(utf8Ordering)
          members.foreach(m => comp(m) = label)
        }
      }
      return spark.createDataset(comp.toSeq).toDF("id", "component")
    }
    // Same right-sizing as connectedComponentsDF: the peel's rounds
    // are V-sized label frames — scheduling-bound, not compute-bound
    // — so the session shuffle width pays partitions × stages of task
    // latency per round for kilobyte tasks.
    // perPartition 500k, same rationale as connectedComponentsDF's
    // (r15 opt) — and the fwd/bwd fixpoints run CONCURRENTLY here, so
    // the width is per-stream; the small tier keeps its 4-partition
    // floor either way
    withGraphShuffle(spark, nE, perPartition = 500000L) {
    // Dense-long iteration space (r16 opt): the peel's trim passes,
    // both reach fixpoints, and the pair-class edge drops all
    // exchange/sort/aggregate V- and E-sized frames every round —
    // encode ids through the order-preserving dictionary once, run
    // the whole peel on longs, decode the final labels (see
    // orderedVertexDict for the equivalence argument; round
    // structure and peel decisions are identical by construction).
    // Vertex set from the RAW edge list (a vertex with only
    // self-loops is still its own SCC).
    val dict = orderedVertexDict(
      es.select(col("a").as("id"))
        .unionByName(es.select(col("b").as("id"))).distinct())
    // self-loop drop + dedup AFTER encoding: distinct on 8-byte longs,
    // not strings
    val e0 = encodeEdges(es, dict)
      .where(col("a") =!= col("b")).distinct()
      .localCheckpoint(eager = true)
    // lazy projection of the checkpointed dictionary — NOT
    // re-materialized (every consumer scan is a cheap column prune)
    val verts0 = dict.select(col("vid").as("id"))
    es.unpersist()
    // Min-label reach along e: lbl(v) = min over {v} ∪ {u : u →* v},
    // pointer-doubled → O(log diameter) rounds. e must arrive
    // pre-partitioned on `a` (partitionedCheckpoint — done SERIALLY
    // by the caller: the helper toggles a session conf, and the
    // fwd/bwd fixpoints run as concurrent futures). The label init
    // stays LAZY (r16): `verts` is already a checkpoint (or a cheap
    // projection of one), scanned once by round 1 — an eager copy
    // paid two V-sized materializations per outer round for nothing.
    def reach(eP: DataFrame, verts: DataFrame): DataFrame = {
      val (lbl, converged) = minPropagate(eP,
        verts.withColumn("v", col("id")), maxIter, jump = true)
      if (!converged) throw new IllegalStateException(
        s"scc min-label propagation did not converge in $maxIter rounds")
      lbl.withColumnRenamed("v", "lbl")
    }
    var alive = verts0
    var e = e0 // already self-loop-free, and endpoints ⊆ verts0
    val comps = ArrayBuffer.empty[DataFrame]
    var round = 0
    while (round < maxIter && alive.limit(1).count() > 0) {
      // Trim: no in-edge or no out-edge ⇒ on no cycle ⇒ singleton
      // SCC. A few passes per round — each exposes the next layer of
      // sources/sinks; anything deeper is the propagation's job.
      var trimming = true
      var trimRounds = 0
      while (trimming && trimRounds < 3) {
        // single-shuffle degree test: present as source AND as sink
        val keep = e
          .select(col("a").as("id"), lit(1).as("_o"), lit(0).as("_i"))
          .unionByName(
            e.select(col("b").as("id"), lit(0).as("_o"), lit(1).as("_i")))
          .groupBy("id").agg(max("_o").as("_o"), max("_i").as("_i"))
          .where(col("_o") === 1 && col("_i") === 1)
          .select("id")
          .localCheckpoint(eager = true)
        val trimmed = alive.join(keep, Seq("id"), "left_anti")
          .localCheckpoint(eager = true)
        // both frames are materialized checkpoints — the counts are
        // partition scans, not recomputes
        val trimmedCnt = trimmed.count()
        if (trimmedCnt == 0) trimming = false
        else {
          comps += trimmed.withColumn("component", col("id"))
          val aliveCnt = alive.count()
          alive = keep
          // The e-rewrite exists ONLY to shrink the frames the
          // propagation scans — the fixpoints are restricted to
          // `alive` regardless (unlabeled endpoints contribute
          // nothing, and within-SCC witness paths never pass through
          // a trimmed vertex: every vertex on a u→v→u loop is on a
          // cycle). When a trim round removed a negligible slice
          // (< ~1.5% of alive — e.g. the ends of one long chain next
          // to millions of cycle vertices), rewriting the whole edge
          // list costs two edge-sized semi-joins + a materialization
          // to save almost nothing downstream, so skip it; further
          // trim layers can't expose without the rewrite, so stop
          // trimming and let the pair-class edge drop absorb the
          // stalled layers (a dropped-pair chain trims whole next
          // round). r15 opt, measured on the 10M-edge tier where trim
          // peeled 6 chain vertices for three full-edge rewrites.
          if (trimmedCnt * 64 >= aliveCnt) {
            e = e
              .join(keep.select(col("id").as("a")), Seq("a"), "left_semi")
              .join(keep.select(col("id").as("b")), Seq("b"), "left_semi")
              .select("a", "b")
              .localCheckpoint(eager = true)
          } else trimming = false
        }
        trimRounds += 1
      }
      if (alive.limit(1).count() > 0) {
        // fwd and bwd are independent fixpoints over the same edges —
        // run them as concurrent job streams: the rounds are
        // scheduling-bound at graph-sized partition counts, so the
        // scheduler interleaves them for ~2× on the propagation
        // phase (same overlap trick as the bench's graph-load tails).
        val (fwd, bwd) = {
          import scala.concurrent.{Await, Future}
          import scala.concurrent.duration.Duration
          import scala.concurrent.ExecutionContext.Implicits.global
          // pre-partition both orientations SERIALLY (the helper
          // scopes a session conf — see reach's contract), then run
          // the two fixpoints as concurrent job streams: each round
          // exchanges only its label frame (guide §2.4)
          val eF = partitionedCheckpoint(e, "a")
          val eB = partitionedCheckpoint(
            e.select(col("b").as("a"), col("a").as("b")), "a")
          val f = Future(reach(eF, alive))
          val g = Future(reach(eB, alive))
          (Await.result(f, Duration.Inf), Await.result(g, Duration.Inf))
        }
        val both = fwd.join(bwd.withColumnRenamed("lbl", "blbl"), "id")
          .localCheckpoint(eager = true)
        val scc = both.where(col("lbl") === col("blbl"))
          .select(col("id"), col("lbl").as("component"))
        comps += scc
        alive = alive.join(scc, Seq("id"), "left_anti")
          .localCheckpoint(eager = true)
        // Pair-class edge drop (soundness: same SCC ⇒ same reach
        // sets ⇒ same (fwd, bwd) minima). Edges into/out of a peeled
        // SCC always disagree on the pair; the surviving intra-SCC
        // edges of peeled components die on the alive semi-join.
        e = e
          .join(both.select(col("id").as("a"),
            col("lbl").as("_fa"), col("blbl").as("_ba")), "a")
          .join(both.select(col("id").as("b"),
            col("lbl").as("_fb"), col("blbl").as("_bb")), "b")
          .where(col("_fa") === col("_fb") && col("_ba") === col("_bb"))
          .select("a", "b")
          .join(alive.select(col("id").as("a")), Seq("a"), "left_semi")
          .localCheckpoint(eager = true)
      }
      round += 1
    }
    if (alive.limit(1).count() > 0) throw new IllegalStateException(
      s"stronglyConnectedComponentsDF did not peel all SCCs in $maxIter " +
        "rounds; raise maxIter (trim + pair-class dropping compress " +
        "most condensations to a few rounds — hitting this means an " +
        "adversarially deep alternation of cycles and branching)")
    if (comps.isEmpty)
      dict.select(col("sid").as("id"))
        .withColumn("component", col("id")).limit(0)
    else
      // decode: vid → id for both columns; min-vid decodes to the min
      // member id the string peel produced (order-preserving dict)
      comps.reduceLeft(_ unionByName _)
        .join(dict.select(col("vid").as("id"), col("sid")), "id")
        .join(dict.select(col("vid").as("component"),
          col("sid").as("_c")), "component")
        .select(col("sid").as("id"), col("_c").as("component"))
    }
  }

  /** Label propagation communities (GDS parity; k iterations). */
  def labelPropagation(pairs: DataFrame, src: String, dst: String,
      iterations: Int = 5): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val vids = vertexIds(pairs, src, dst).cache()
    val edgeDf = pairs
      .join(vids.withColumnRenamed("id", src).withColumnRenamed("vid", "svid"), src)
      .join(vids.withColumnRenamed("id", dst).withColumnRenamed("vid", "dvid"), dst)
      .select("svid", "dvid")
      .cache()
    val p = graphParallelism(edgeDf.count(), spark)
    val edgeRdd = edgeDf.rdd.coalesce(p)
      .map(r => Edge(r.getLong(0), r.getLong(1), ()))
    val graph = XGraph.fromEdges(edgeRdd, ())
    val labels = org.apache.spark.graphx.lib.LabelPropagation
      .run(graph, iterations).vertices.toDF("vid", "label")
    val out = labels.join(vids, "vid").select(col("id"), col("label"))
      .localCheckpoint(eager = true) // see connectedComponents: vids not recompute-stable
    vids.unpersist()
    edgeDf.unpersist()
    out
  }
}
