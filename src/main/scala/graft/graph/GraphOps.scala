package graft.graph

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.relational.Tables.load

/** Link-graph analytics for a crawl/training-data pipeline.
  *
  * The flagship is fixed-point PageRank: the standard quality-weighting
  * signal over a crawl's host graph (CommonCrawl-style pipelines rank
  * domains before sampling documents from them). The test graph is the
  * bipartite supplier↔part trade graph derived from `lineitem`.
  *
  * Scale design: each power-iteration round is ONE shuffle of the rank
  * table (join on `src`) plus ONE aggregation shuffle (groupBy `dst`).
  * The edge table — the 100 TB object — is degree-annotated, hash
  * partitioned on `src` ONCE and cut ([[graft.Cut]]), so every round
  * reuses its layout and only the (nodes-sized) rank table moves. Rank mass is
  * integer fixed-point (1e12 scale) with truncating division, so the
  * result is bit-reproducible under any partitioning or summation order
  * — which is what makes an exact cross-engine oracle possible, and at
  * scale makes reruns/replays byte-identical.
  */
object GraphOps {

  /** Fixed-point rank mass assigned to every node at iteration 0
    * (scale factor 1e12; bigint-safe for graphs up to ~9M nodes even if
    * all mass concentrates on one node). */
  val Scale: Long = 1000000000000L

  /** 0.15 × [[Scale]]: the teleport mass each node keeps per round at
    * damping 0.85. */
  val Teleport: Long = 150000000000L

  /** Power-iteration PageRank over a directed edge list.
    *
    * `edges` must have long columns (`src`, `dst`) and every node must
    * appear as BOTH a source and a destination (an undirected graph
    * encoded as both arcs satisfies this); dangling-node redistribution
    * is deliberately out of scope. Returns (`node`, `r`) with `r` in
    * [[Scale]] fixed-point units.
    *
    * Per-round arithmetic (exactly mirrored by the SQL oracle):
    * contribution = r div outdeg (truncating), then
    * r' = Teleport + (85 · Σ contributions) div 100.
    * Truncation loses a few units of mass per round — deterministically,
    * in every engine, under every execution order.
    */
  def pageRank(spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    val edgesDeg = degreeEdges(spark, edges)
    try pageRankRounds(edgesDeg.df, iters)
    finally edgesDeg.release()
  }

  /** The one recipe for the edge table every PageRank-family loop reads:
    * `edges` with each source's out-degree (`outdeg`), hash-partitioned
    * on `src` and cut, so every round's join on `src` reuses the layout
    * and only the node-sized rank table moves. */
  private def degreeEdges(spark: SparkSession, edges: DataFrame): graft.Cut = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    graft.Cut(edges.join(deg, "src")
      .repartition(spark.sparkContext.defaultParallelism, col("src")))
  }

  /** The power-iteration loop over an ALREADY degree-annotated,
    * partitioned, cut edge table — the shape both [[pageRank]]
    * (builds its own) and the registry queries (serving the shared
    * [[tradeEdgesDeg]] artifact) run. */
  private def pageRankRounds(edgesDeg: DataFrame, iters: Int,
      contribution: String = "r div outdeg"): DataFrame =
    pageRankFrom(edgesDeg,
      edgesDeg.select(col("src").as("node")).distinct()
        .select(col("node"), lit(Scale).as("r")),
      iters, contribution)

  /** The iteration loop from an ARBITRARY starting rank vector — shared
    * by the cold start above, the warm-started delta maintenance
    * ([[qPageRankDelta]]) and the weighted ranks
    * ([[qPageRankWeighted]]). `contribution` is the rank mass a source
    * passes along each arc. */
  private def pageRankFrom(
      edgesDeg: DataFrame, init: DataFrame, iters: Int,
      contribution: String = "r div outdeg"): DataFrame = {
    var ranks = init
    for (_ <- 1 to iters) {
      ranks = edgesDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), expr(contribution).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(expr(s"$Teleport + (85 * sum(c)) div 100").as("r"))
    }
    // cut while the edge table's cut is alive: the lazy plan reads
    // edgesDeg once per round, and recomputing the degree join per
    // round after its release would square the work. The returned frame
    // is the cut leaf (nodes-sized, the small artifact of the
    // computation); a cache that holds it releases it with Cut.release.
    graft.Cut(ranks).df
  }

  /** Weighted PageRank over the trade graph's lineitem MULTIPLICITIES —
    * the volume signal the unweighted graph's `distinct()` edge build
    * deliberately discards: a supplier shipping a part 300 times passes
    * 300× the rank mass of a one-off. Contribution from u along (u,v)
    * is `(r·w) div W(u)` (truncating, W = total out-weight), so each
    * round remains exact integer arithmetic and the unrolled oracle is
    * bit-identical. Long-safety bound: `r·w ≤ n·Scale·w_max` must stay
    * under 2^63 — fine through sf0.1 (2.1e16 × ~300); past ~1e6 nodes
    * the mass scale (or this product) moves to decimal(38,0), the same
    * dial the unweighted Scale doc calls out. Plan shape is identical
    * to [[pageRank]]: weight-annotated edges partitioned once and
    * cut, one rank shuffle + one aggregation per round. */
  def qPageRankWeighted(
      spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val ranks = rankCache.get(spark, (dir + "#weighted", iters)) {
      val pairs = load(spark, dir, "lineitem")
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .groupBy("s", "p").agg(count(lit(1)).as("w"))
      val edges = pairs
        .select((col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst"),
          col("w"))
        .unionAll(pairs.select((col("p") * 2 + 1).as("src"),
          (col("s") * 2).as("dst"), col("w")))
      val wdeg = edges.groupBy("src").agg(sum("w").as("wtot"))
      val edgesW = graft.Cut(edges.join(wdeg, "src")
        .repartition(spark.sparkContext.defaultParallelism, col("src")))
      try pageRankRounds(edgesW.df, iters, "(r * w) div wtot")
      finally edgesW.release()
    }
    ranks.select(tradeNode("node") :+ col("r").as("rank_fp"): _*)
  }

  /** One cut rank frame per (session, dir): bench loops re-invoke
    * the query; without the cache each call would stack another
    * materialized copy. */
  private val rankCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Result)

  /** Drop this session's cached query results, in every family. */
  def invalidateCaches(spark: SparkSession): Unit =
    graft.SessionCache.invalidate(spark, graft.SessionCache.Result)

  /** Personalized PageRank: teleport mass returns ONLY to the seed set,
    * so rank measures proximity to the seeds (the seed-biased crawl /
    * trust-propagation variant). Same fixed-point contract as
    * [[pageRank]]; the rank vector is SPARSE — a node appears once mass
    * has reached it, which is exactly what makes PPR tractable at scale
    * (the frontier grows by one hop per round instead of materializing
    * every node from round 0). Each round is the contribution
    * aggregation unioned with the seed teleport rows, then one sum. */
  def personalizedPageRank(
      spark: SparkSession, edges: DataFrame, seeds: DataFrame,
      iters: Int): DataFrame = {
    val edgesDeg = degreeEdges(spark, edges)
    try pprRounds(edgesDeg.df, seeds, iters)
    finally edgesDeg.release()
  }

  /** The PPR loop over a pre-built degree-annotated edge table. */
  private def pprRounds(
      edgesDeg: DataFrame, seeds: DataFrame, iters: Int): DataFrame = {
    var ranks = seeds.select(col("node"), lit(Scale).as("r"))
    for (_ <- 1 to iters) {
      // the PPR frontier is small BY DESIGN (it grows one hop per
      // round from the seeds), so broadcasting it is the honest scale
      // plan here — the edge table never moves at all. Full-graph
      // pageRank keeps the co-partitioned shuffle join instead: its
      // rank table is all nodes and broadcast would not survive scale.
      val contribs = edgesDeg
        .join(broadcast(ranks.withColumnRenamed("node", "src")), "src")
        .select(col("dst"), expr("r div outdeg").as("c"))
        .groupBy(col("dst").as("node"))
        .agg(expr("(85 * sum(c)) div 100").as("v"))
      ranks = contribs
        .unionAll(seeds.select(col("node"), lit(Teleport).as("v")))
        .groupBy("node").agg(sum("v").as("r"))
    }
    graft.Cut(ranks).df
  }

  /** Dangling-aware PageRank with a residual-based stop — the
    * production-crawl variant: real link graphs have sinks (pages with
    * no out-links), whose rank mass would otherwise leak out of the
    * system each round. Here every round redistributes the dangling
    * mass uniformly: share = (Σ r over out-degree-0 nodes) div N, and
    * r' = Teleport + (85 · (Σ contribs + share)) div 100 over the FULL
    * node universe (src ∪ dst), so sinks hold rank and total mass is
    * conserved up to truncation.
    *
    * Stop rule (mirrored exactly by the SQL oracle): after computing
    * round i, stop once max_node |r_i − r_{i−1}| < eps, else continue
    * to `maxIters`. The oracle unrolls all `maxIters` rounds but
    * FREEZES each round whose predecessor pair already converged —
    * frozen rounds are identities, so the unrolled result equals the
    * early-stopped one at whatever round the data converges. All
    * arithmetic is fixed-point integer, so the realized round count is
    * itself deterministic and engine-independent.
    *
    * Scale shape: edges degree-annotated, partitioned once, cut;
    * each round is one contribution shuffle + one node-sized left join,
    * cut per round by a [[graft.Cut]] (deep iteration — a lazy 40-round
    * chain is unanalyzable). The driver-side scalars come from the cut's
    * own forcing pass, so a round is one job: the rank frame carries a
    * static `dang` flag (no out-degree) and each cut round carries its
    * predecessor rank `rp`, and the pass sums the dangling mass Σr·[dang]
    * that round i+1's share needs and the count of nodes with
    * |r−rp| ≥ eps. max|r−rp| < eps holds exactly when that count is 0,
    * so the stop rule is the one above.
    *
    * Returns (ranks, realizedRounds). */
  def pageRankDangling(
      spark: SparkSession, edges: DataFrame, eps: Long,
      maxIters: Int): (DataFrame, Int) = {
    val edgesDeg = degreeEdges(spark, edges)
    val nodes = edges.select(col("src").as("node"))
      .unionAll(edges.select(col("dst").as("node"))).distinct()
    // one row per source: the cut's src partitioning already clusters it
    val degN = edgesDeg.df.select(col("src").as("node"), col("outdeg"))
      .distinct()
    try {
      // dang = the node has no out-degree; identical to the former
      // per-round `ranks LEFT ANTI JOIN degN` membership, hoisted out
      // of the loop because the node universe never changes
      val init = nodes.join(degN, Seq("node"), "left")
        .select(col("node"), lit(Scale).as("r"),
          col("outdeg").isNull.as("dang"))
      val start = graft.Cut(init, DanglingMass(init))
      val n = start.rows
      val (last, rounds) = graft.Cut.iterate(start, maxIters) { (prev, _) =>
        // prev's pass summed its dangling mass
        val share = prev.sum / n // both non-negative: truncating == floor == //
        val ranks = prev.df.select("node", "r", "dang")
        val contribs = edgesDeg.df
          .join(ranks.select(col("node").as("src"), col("r")), "src")
          .select(col("dst"), expr("r div outdeg").as("c"))
          .groupBy(col("dst").as("node"))
          .agg(sum("c").as("sc"))
        val round = ranks
          .select(col("node"), col("r").as("rp"), col("dang"))
          .join(contribs, Seq("node"), "left")
          .select(col("node"),
            expr(s"$Teleport + (85 * (coalesce(sc, 0L) + ${share}L)) div 100")
              .as("r"),
            col("dang"), col("rp"))
        // one pass: the next round's dangling mass and this round's
        // moved nodes
        graft.Cut(round, DanglingMass(round), Moved(round, eps))
      }((_, next) => next.sums(1) == 0)
      (last.df.select("node", "r"), rounds)
    } finally edgesDeg.release()
  }

  /** [[pageRankDangling]]'s dangling mass: Σ r over the `dang` rows. */
  private final case class DanglingMass(r: Int, dang: Int)
      extends (InternalRow => Long) with Serializable {
    override def apply(row: InternalRow): Long =
      if (!row.isNullAt(dang) && row.getBoolean(dang)) row.getLong(r) else 0L
  }
  private object DanglingMass {
    def apply(df: DataFrame): DanglingMass =
      DanglingMass(df.schema.fieldIndex("r"), df.schema.fieldIndex("dang"))
  }

  /** [[pageRankDangling]]'s residual: 1 for a node with |r − rp| ≥ eps. */
  private final case class Moved(r: Int, rp: Int, eps: Long)
      extends (InternalRow => Long) with Serializable {
    override def apply(row: InternalRow): Long =
      if (math.abs(row.getLong(r) - row.getLong(rp)) >= eps) 1L else 0L
  }
  private object Moved {
    def apply(df: DataFrame, eps: Long): Moved =
      Moved(df.schema.fieldIndex("r"), df.schema.fieldIndex("rp"), eps)
  }

  /** The trade graph's node decode, `<prefix>_type` and `<prefix>_id`
    * of the node id column `node`: suppliers are the even ids (2k),
    * parts the odd ones (2k+1). */
  private[graph] def tradeNode(
      node: String, prefix: String = "node"): Seq[Column] = Seq(
    when(pmod(col(node), lit(2)) === 0, lit("supplier"))
      .otherwise(lit("part")).as(s"${prefix}_type"),
    expr(s"$node div 2").as(s"${prefix}_id"))

  /** PageRank over the supplier↔part trade graph: distinct
    * (l_suppkey, l_partkey) pairs as undirected edges, suppliers encoded
    * as even node ids (2k) and parts as odd (2k+1). 5 rounds at damping
    * 0.85 — rank spread is already stable, and a fixed round count keeps
    * the oracle a finite SQL unrolling. */
  /** Distinct trade pairs, CUT for the duration of `body`: the
    * edge build reads the pair relation from both union branches and
    * again for degrees — left lazy, the distinct shuffle replays per
    * branch inside one action. */
  private def withTradePairs[A](spark: SparkSession, dir: String)(
      body: DataFrame => A): A = {
    // cut before body plans anything: pairs planned against
    // parquet-size estimates make the planner shuffle the node-sized
    // degree/rank tables every round; with the cut's measured rows and
    // bytes as its statistics it broadcasts them instead (measured
    // 5.3 -> 1.4 s warm for qPageRank at sf0.1). At 100 TB the same
    // stats make the planner fall back to the co-partitioned shuffle
    // join exactly when the node table outgrows the broadcast
    // threshold — the size-adaptive behavior hand-hinting can't give.
    val pairs = graft.Cut(load(spark, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct())
    try body(pairs.df) finally pairs.release()
  }

  private def tradeEdges(pairs: DataFrame): DataFrame =
    pairs
      .select((col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
      .unionAll(
        pairs.select((col("p") * 2 + 1).as("src"), (col("s") * 2).as("dst")))

  /** The degree-annotated, src-hash-partitioned, CUT undirected
    * trade-graph edge table — the compute-once-per-corpus graph
    * artifact every algorithm on this graph shares (full and
    * personalized PageRank, label propagation): at 100 TB the graph
    * table is built once and served to every algorithm, and rebuilding
    * it per query would benchmark the build, not the algorithm. */
  private val edgeDegCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private[graph] def tradeEdgesDeg(spark: SparkSession, dir: String): DataFrame =
    edgeDegCache.get(spark, dir) {
      withTradePairs(spark, dir)(pairs =>
        degreeEdges(spark, tradeEdges(pairs)).df)
    }

  def qPageRank(spark: SparkSession, dir: String, iters: Int = 5): DataFrame = {
    val ranks = rankCache.get(spark, (dir, iters))(
      pageRankRounds(tradeEdgesDeg(spark, dir), iters))
    ranks.select(tradeNode("node") :+ col("r").as("rank_fp"): _*)
  }

  /** Deterministic random walks — the DeepWalk/node2vec sampling stage
    * that turns a graph into sequence training data. Each start node
    * launches `walksPerNode` walks (walk_id = node·walksPerNode + w, so
    * ids stay disjoint and reproducible); step `i` moves to neighbor
    * number md5(walk_id:i) mod degree, where neighbors are ranked by
    * node id — hash-driven choice instead of RNG state, so the whole
    * walk relation is reproducible on any cluster and carries an exact
    * SQL oracle (the reproducibility property rand()-based samplers
    * can't give).
    *
    * Scale shape: the neighbor index is ranked per-source (window
    * bounded by a node's degree, never global), carries the source
    * degree as a column (one window shuffle produces both), and is
    * CUT for the loop's lifetime — left lazy, every step would
    * replay the full edge sort, making a DeepWalk-depth walk O(steps)
    * full edge sorts. Each step is then ONE join: the walk frontier is
    * broadcast (the PPR-frontier argument — the frontier is
    * walk-count-sized while nbr is edge-shaped, and a planner-chosen
    * shuffle join would reshuffle the full neighbor index per step,
    * measured 1.2 s/step at sf0.1) and probed map-side against the
    * resident index; the residual rk = md5(walk_id:i) mod degn
    * condition fans out only through a node's own neighbor list
    * (average-degree bounded), keeping exactly one row per walk.
    * Walk count × steps rows total; per-step cost is flat in `steps`
    * (the GraphScaleGateSpec pins this). Walk-heavy configs
    * (walks ≈ edges) would co-partition on src instead — with degn
    * resident on nbr the join key is src alone, so the cut's
    * hash(src) window layout is reusable as-is.
    *
    * Small-graph fast path: when the edge set fits a broadcast
    * (estimated from the forced edge count), the index changes SHAPE —
    * a grouped adjacency (one row per source, dst array sorted
    * ascending) built with one aggregation instead of the window sort,
    * broadcast ONCE (a single exchange, reused by every step and every
    * union branch). The hop becomes `element_at(nb, md5 mod size + 1)`
    * — the same neighbor the flat index's rk ranking picks, since
    * sort_array order IS the rank-by-dst order — so both paths honor
    * one hash contract and one oracle. The step loop is then pure plan
    * construction: no per-step broadcast build, no window; the one
    * cut of the walk corpus submits the job. The grouped
    * shape is not the scale default because a hub node's whole
    * neighbor list becomes one row (degree-unbounded array), while the
    * flat index stays row-per-edge under any skew. */
  /** The per-source neighbor index [[randomWalks]] probes: the grouped
    * sorted-adjacency form under the in-memory cap (one broadcastable
    * row per source), the (rank, degree)-annotated edge form above it
    * (each hop an equi-join on `(nsrc, rk)`, no fan-out). A
    * deterministic corpus artifact — same cache class as the
    * degree-annotated edge table, NOT the walk result. */
  def walkIndex(spark: SparkSession, edges: DataFrame,
      forceLarge: Boolean = false): DataFrame = {
    // ~16 bytes per packed (long,long) adjacency entry, against a
    // conf'd cap (`spark.graft.walkIndex.maxBytes`, default 64 MB).
    // The default is deliberately conservative: the grouped path
    // collect()s the adjacency to the driver as boxed rows before the
    // broadcast, costing several times the packed estimate transiently,
    // so a default-heap driver must stay on the flat join path (r14 —
    // the r13 hard-coded 256 MB raise OOM'd exactly that user). A
    // 24 GB bench driver sets 256 MB explicitly (Bench.scala) because
    // there the kernel path's one-pass walk beats ten serial probe
    // jobs over the sf1 trade graph's 12M-row index by ~4×; past the
    // cap the flat row-per-edge index remains the unbounded-scale
    // shape. forceLarge pins the rank-annotated (big-graph) shape —
    // the equivalence property in GraphSpec runs both paths on one
    // graph.
    // byteStringAsBytes accepts both bare counts and human-style
    // suffixed values ("256m") — a bare `_.toLong` threw a raw
    // NumberFormatException from deep inside walkIndex on the latter
    // (the r15 ADVICE item); wrap so a typo names the conf key instead
    val maxIndexBytes = spark.conf
      .getOption("spark.graft.walkIndex.maxBytes")
      .map { v =>
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(v)
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"spark.graft.walkIndex.maxBytes: unparseable byte size '$v'", e)
        }
      }
      .getOrElse(64L << 20)
    val smallIndex = !forceLarge && edges.count() * 16L < maxIndexBytes
    val ix =
      if (smallIndex)
        edges.groupBy(col("src").as("nsrc"))
          .agg(sort_array(collect_list(col("dst"))).as("nb"))
      else {
        val w = Window.partitionBy("src").orderBy("dst")
        edges
          .withColumn("rk", row_number().over(w).cast("long") - 1)
          .withColumn("degn",
            count(lit(1)).over(Window.partitionBy("src")).cast("long"))
          .select(col("src").as("nsrc"), col("dst"), col("rk"),
            col("degn"))
          // Fewer, fatter resident partitions: every step's probe job
          // pays one task per partition, and the step loop is SERIAL,
          // so task overhead multiplies by `steps`. A quarter of the
          // default parallelism keeps partitions comfortably in-memory
          // while cutting per-step scheduling latency 4× (coalesce
          // folds into the window stage — no extra shuffle).
          .coalesce(math.max(4, spark.sparkContext.defaultParallelism / 4))
      }
    graft.Cut(ix).df
  }

  def randomWalks(
      spark: SparkSession, edges: DataFrame, starts: DataFrame,
      steps: Int, walksPerNode: Int,
      index: Option[DataFrame] = None): DataFrame = {
    // caller-owned index outlives the walk (cached corpus artifact);
    // a locally built one is released on exit
    val nbr = index.getOrElse(walkIndex(spark, edges))
    val smallIndex = nbr.columns.contains("nb")
    if (smallIndex) {
      // the adjacency fit the collected-artifact cap: run every walk in
      // ONE codegen'd map pass over the start set instead of `steps`
      // serial join stages (the [[WalkKernel]] rationale) — measured
      // 3.2 s → <0.5 s for the 10-step sf0.1 trade-graph walk
      val adjMap = new java.util.HashMap[java.lang.Long, Array[Long]]
      nbr.collect().foreach { r =>
        adjMap.put(r.getLong(0), r.getSeq[Long](1).toArray)
      }
      // broadcast, not a task-binary reference: the adjacency torrents
      // to each executor once and every subsequent stage reuses it
      val kernel = spark.sparkContext.broadcast(new WalkKernel(adjMap, steps))
      val cur = starts
        .crossJoin(broadcast(spark.range(walksPerNode.toLong).toDF("w")))
        .select((col("node") * walksPerNode + col("w")).as("walk_id"),
          col("node"))
      val out = cur
        .select(col("walk_id"),
          posexplode(org.apache.spark.sql.GraftShim.column(WalkSequence(
            org.apache.spark.sql.GraftShim.expression(col("node")),
            org.apache.spark.sql.GraftShim.expression(col("walk_id")),
            kernel))).as(Seq("step", "node")))
        .select(col("walk_id"), col("step").cast("long").as("step"),
          col("node"))
      val walks = graft.Cut(out).df
      if (index.isEmpty) graft.Cut.release(nbr)
      return walks
    }
    val start = starts
      .crossJoin(broadcast(
        spark.range(walksPerNode.toLong).toDF("w")))
      .select((col("node") * walksPerNode + col("w")).as("walk_id"),
        lit(0L).as("step"), col("node"))
    val cuts = collection.mutable.Buffer.empty[graft.Cut]
    try {
      // CUT LINEAGE every step: step i feeds both the union and step
      // i+1, and with no cut the accumulated plan tree grows O(steps²)
      // and analysis/explain alone OOMs the driver (measured at 20
      // steps). Only this flat-index path (graphs past the in-memory
      // index cap) runs the loop.
      var cur = start
      for (i <- 1 to steps) {
        val hash =
          conv(substring(md5(concat_ws(":", col("walk_id"), lit(i))),
            1, 8), 16, 10).cast("long")
        val next = nbr
          .join(broadcast(cur), col("node") === col("nsrc") &&
            col("rk") === hash % col("degn"))
          .withColumn("nxt", col("dst"))
          .select(col("walk_id"), lit(i.toLong).as("step"),
            col("nxt").as("node"))
          // Walk frames are walk-count-sized; inheriting the index's
          // partition count makes every frame a fan of near-empty
          // tasks, and the final union pays steps × that fan. Narrow
          // coalesce keeps the per-frame task count flat.
          .coalesce(4)
        cuts += graft.Cut(next)
        cur = cuts.last.df
      }
      // Publish the corpus as a cut leaf, not the union: every
      // downstream ACTION (each SGNS epoch, the eval aggregate) renders
      // the full plan string for the SQL-listener event, and a union of
      // `steps` join chains made PLAN RENDERING the dominant cost of
      // q_embed_eval at sf1 (r12's "92× cliff" was the driver
      // regex-quoting tree strings, measured by stack sampling, not
      // executor compute). The leaf renders as one line.
      graft.Cut((start +: cuts.map(_.df)).reduce(_ unionAll _)).df
    } finally {
      cuts.foreach(_.release())
      if (index.isEmpty) graft.Cut.release(nbr)
    }
  }

  /** DeepWalk-shaped walk corpus over the trade graph: 2 walks × 10
    * steps from every supplier node. */
  def qRandomWalks(
      spark: SparkSession, dir: String, steps: Int = 10,
      walksPerNode: Int = 2): DataFrame = {
    rankCache.get(spark, (s"$dir#walks$walksPerNode", steps)) {
      // starts = the supplier side (even node ids) of the shared edge
      // artifact; the extra outdeg column is dropped before the walk
      val ed = tradeEdgesDeg(spark, dir)
      val starts = ed.select(col("src").as("node"))
        .filter(pmod(col("node"), lit(2)) === 0).distinct()
      randomWalks(spark, ed.select("src", "dst"), starts, steps,
        walksPerNode, index = Some(tradeWalkIndex(spark, dir)))
    }
  }

  /** Cached walk index over the trade graph, shared by every walk
    * invocation like [[tradeEdgesDeg]]: DeepWalk samples the index many
    * times, so benching the index build per walk would measure the
    * build, not the sampling. */
  private val walkIndexCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private def tradeWalkIndex(spark: SparkSession, dir: String): DataFrame =
    walkIndexCache.get(spark, dir)(
      walkIndex(spark, tradeEdgesDeg(spark, dir).select("src", "dst")))

  /** Residual stop threshold for [[qPageRankDangling]]: 1e10 fixed-point
    * units = 0.01 rank. Geometric decay at damping 0.85 puts the
    * realized round count in the teens on the trade graph — deep enough
    * to prove the per-round cut, cheap enough for the
    * bench. */
  val DanglingEps: Long = 10000000000L

  /** Unroll bound for [[qPageRankDangling]] and its oracle — the stop
    * rule normally fires first; this is the safety cap both sides share. */
  val DanglingMaxIters: Int = 40

  /** Dangling-aware PageRank over the DIRECTED trade graph: arcs only
    * supplier→part, so every part is a sink — the fixture that makes the
    * dangling-mass term load-bearing (without it, 100% of part rank
    * would leak every round). */
  def qPageRankDangling(spark: SparkSession, dir: String): DataFrame = {
    val ranks = rankCache.get(spark, (s"$dir#dangling", DanglingMaxIters))(
      withTradePairs(spark, dir) { pairs =>
        val directed = pairs.select(
          (col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst"))
        pageRankDangling(spark, directed, DanglingEps, DanglingMaxIters)._1
      })
    ranks.select(tradeNode("node") :+ col("r").as("rank_fp"): _*)
  }

  /** Seeded trade-graph PPR: proximity of every node to the suppliers of
    * one nation (n_nationkey = 3 — present at every scale factor). 5 rounds; same output contract as
    * [[qPageRank]]. */
  def qPageRankSeeded(
      spark: SparkSession, dir: String, iters: Int = 5,
      nation: Int = 3): DataFrame = {
    val ranks = rankCache.get(spark, (s"$dir#ppr$nation", iters)) {
      val seeds = load(spark, dir, "supplier")
        .filter(col("s_nationkey") === nation)
        .select((col("s_suppkey") * 2).as("node"))
      pprRounds(tradeEdgesDeg(spark, dir), seeds, iters)
    }
    ranks.select(tradeNode("node") :+ col("r").as("rank_fp"): _*)
  }

  /** Delta cutoff for [[qPageRankDelta]]: the lake's shipdates span
    * 1995..2001-11, so arcs shipped on/after 2001-06-01 are a ~5%
    * "new-edges" batch at every scale factor. */
  val DeltaCutoff: String = "2001-06-01"

  /** Incremental PageRank maintenance — the recompute-avoidance shape of
    * [[graft.similarity.Similarity]]'s IVF ingest and q_incr_agg, on the
    * graph family: ranks PUBLISHED from the pre-cutoff base graph
    * (5 cold rounds) are warm-started onto the full graph (base + the
    * ~5% edge delta) and settled with `deltaIters` = 2 rounds. New
    * nodes (first seen in the delta) enter at the cold-start mass
    * [[Scale]]; every node then re-ranks under the FULL graph's
    * degrees, so mass flows across the new arcs immediately.
    *
    * Scale rationale: a 100 TB crawl graph re-ranks daily against a
    * small edge delta; 5 + 2 rounds where the 2 run on the incremental
    * schedule replaces 5 full-graph rounds per publish — the delta run
    * costs 2 rank shuffles instead of 5 and reuses the resident
    * degree-annotated edge artifact ([[tradeEdgesDeg]]) as-is. The
    * result is NOT bit-identical to a cold full-graph run (it is a
    * warm-started approximation — that is the point); it IS exactly
    * reproducible, because every step is the same fixed-point integer
    * arithmetic, so the DuckDB oracle unrolls base rounds + warm join +
    * delta rounds and matches hash-exact. */
  def qPageRankDelta(
      spark: SparkSession, dir: String,
      baseIters: Int = 5, deltaIters: Int = 2,
      cutoff: String = DeltaCutoff): DataFrame = {
    val key = (s"$dir#delta$baseIters#$cutoff", deltaIters)
    val ranks = rankCache.get(spark, key) {
      // base subgraph: its OWN degree annotation (degrees differ from
      // the full graph's), built and dropped inside this block
      val basePairs = graft.Cut(load(spark, dir, "lineitem")
        .filter(col("l_shipdate") < lit(cutoff))
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .distinct())
      val baseED = degreeEdges(spark, tradeEdges(basePairs.df))
      basePairs.release()
      val baseRanks = pageRankRounds(baseED.df, baseIters)
      baseED.release()
      // warm start on the full graph: published rank where known,
      // cold-start mass for delta-born nodes
      val full = tradeEdgesDeg(spark, dir)
      val warm = full.select(col("src").as("node")).distinct()
        .join(baseRanks, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("r"), lit(Scale)).as("r"))
      val out = pageRankFrom(full, warm, deltaIters)
      graft.Cut.release(baseRanks)
      out
    }
    ranks.select(tradeNode("node") :+ col("r").as("rank_fp"): _*)
  }

  /** Skip-gram (center, context) pair counts from the deterministic
    * walks — the artifact a DeepWalk/node2vec embedding trainer actually
    * consumes. For every walk and every offset d in [1, window], the
    * nodes d steps apart form a pair, counted SYMMETRICALLY (both
    * directions), exactly like word2vec's context window over a token
    * stream.
    *
    * Scale shape: NO self-join of the walk relation — each offset is a
    * `lead(node, d)` over (walk_id, step), so one window sort of the
    * walk table (walks × steps rows, already partitioned by the walk
    * frames) serves every offset, and the symmetric double-count is a
    * projection-only union. The pair count aggregation is map-side
    * combinable. Fan-out is exactly 2·window rows per walk position —
    * bounded, never degree-dependent. */
  def walkPairs(walks: DataFrame, window: Int): DataFrame =
    walkPairCounts(walks, window)
      .select(tradeNode("ctr", "center") ++ tradeNode("ctx", "ctx") :+
        col("pairs"): _*)

  /** The pair counts in the COMPACT numeric node encoding
    * (`ctr`, `ctx`, `pairs`) — the form the embedding trainer
    * ([[NodeEmbed]]) consumes; [[walkPairs]] decodes it for humans.
    * ALL lead distances in one window pass: distinct lead() calls over
    * the same spec share a single Window node, so the walk corpus is
    * sorted ONCE instead of `window` times (the former per-distance
    * union re-sorted identical data per branch — the measured cost of
    * this query at sf0.1 was ~3 s of redundant sort); the symmetric
    * double-count is a projection-only union and the aggregation is
    * map-side combinable. Fan-out is exactly 2·window rows per walk
    * position — bounded, never degree-dependent. */
  private[graft] def walkPairCounts(
      walks: DataFrame, window: Int): DataFrame = {
    val w = Window.partitionBy("walk_id").orderBy("step")
    val fwd = walks
      .select(col("node").as("ctr"),
        array((1 to window).map(d => lead(col("node"), d).over(w)): _*)
          .as("ctxs"))
      .select(col("ctr"), explode(col("ctxs")).as("ctx"))
      .filter(col("ctx").isNotNull)
    fwd.unionAll(fwd.select(col("ctx").as("ctr"), col("ctr").as("ctx")))
      .groupBy("ctr", "ctx")
      .agg(count(lit(1)).as("pairs"))
  }

  /** Window (in steps, each side) for [[qWalkPairs]] — word2vec's
    * default-ish small context. */
  val PairWindow: Int = 2

  /** Skip-gram pairs over the trade-graph walk corpus ([[qRandomWalks]]
    * — same cached walk relation, so the walks are computed once per
    * session and this query adds only the window + aggregation). */
  def qWalkPairs(spark: SparkSession, dir: String): DataFrame =
    walkPairs(qRandomWalks(spark, dir), PairWindow)

  /** Synchronous label propagation — the cheap community detector used
    * to group a crawl's hosts/documents before per-community sampling
    * caps (the "don't let one mirror-farm dominate the corpus" step).
    * Every node starts labeled with its own id; each round, every node
    * adopts the most frequent label among its IN-neighbors, ties broken
    * by the SMALLEST label — both rules integer-deterministic, so a
    * fixed round count carries an exact cross-engine oracle (the
    * classic async/random-order LPA cannot).
    *
    * Scale shape: the edge list is hash-partitioned on `src` once and
    * cut; each round is ONE co-partitioned join (node-sized label
    * table moves, edges never do) + two map-side-combinable
    * aggregations — count per (dst, lbl), then argmax-by-(count, -lbl)
    * per dst via a single `min(struct(-c, lbl))` (no window sort over
    * the graph). On the undirected bipartite trade graph the
    * synchronous update alternates sides each round; an even round
    * count lands labels back on the supplier side, which is the
    * grouping the sampling caps consume. */
  def labelPropagation(
      spark: SparkSession, edges: DataFrame, iters: Int): DataFrame = {
    val edgesP = graft.Cut(edges
      .repartition(spark.sparkContext.defaultParallelism, col("src")))
    try lpaRounds(edgesP.df, iters)
    finally edgesP.release()
  }

  /** The synchronous-LPA loop over a pre-partitioned cut edge
    * table (an extra `outdeg` column, as [[tradeEdgesDeg]] carries, is
    * simply ignored). */
  private def lpaRounds(edgesP: DataFrame, iters: Int): DataFrame = {
    var labels = edgesP.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
    for (_ <- 1 to iters) {
      labels = edgesP
        .join(labels.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("dst").as("node"))
        .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
        .select(col("node"), col("m.lbl").as("lbl"))
    }
    graft.Cut(labels).df
  }

  /** Round count for [[qLabelProp]]: even (labels return to the
    * bipartite side they started on), deep enough for labels to travel
    * supplier→part→supplier twice. */
  val LabelPropIters: Int = 4

  /** Trade-graph communities: 4 synchronous LPA rounds over the
    * undirected supplier↔part graph. Output is one row per node with
    * its community label (a node id — the community's deterministic
    * representative). */
  def qLabelProp(spark: SparkSession, dir: String): DataFrame = {
    val labels = rankCache.get(spark, (s"$dir#lpa", LabelPropIters))(
      lpaRounds(tradeEdgesDeg(spark, dir), LabelPropIters))
    labels.select(tradeNode("node") :+ col("lbl").as("community"): _*)
  }

  /** The co-purchase graph as directed arcs (both directions),
    * src-partitioned and cut — the unipartite edge artifact the
    * community census runs on. */
  private val cpArcCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private[graph] def copurchaseArcs(
      spark: SparkSession, dir: String): DataFrame =
    cpArcCache.get(spark, dir) {
      val und = copurchaseEdges(spark, dir)
      graft.Cut(und.select(col("u").as("src"), col("v").as("dst"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
        .repartition(spark.sparkContext.defaultParallelism, col("src"))).df
    }

  /** Modularity census of LPA communities over the CO-PURCHASE graph —
    * the standard "is this partition better than random" score (Newman
    * Q), per community: Q_c = in_c/2m − (tot_c/2m)², where in_c counts
    * directed arcs with both ends in c, tot_c the arcs leaving c's
    * nodes, and 2m all arcs. Σ q_ppm over communities ≈ 1e6·Q — the
    * evaluation step that turns a partition into a MEASURED partition
    * (community-based sampling caps are only sound if Q clears a
    * floor). The unipartite co-purchase graph is the right substrate:
    * on the bipartite trade graph even-round LPA collapses to the two
    * sides and Q degenerates to exactly −½ (GraphSpec pins that too).
    *
    * Exact integers: both ppm terms are non-negative truncating
    * divisions on decimal(38,0) numerators (bigint-safe past 1e12
    * arcs), subtracted AFTER the division — so no negative operand ever
    * reaches an integral divide, where Spark (toward zero) and DuckDB
    * (floor) disagree. 2m rides as a one-row broadcast scalar (the HITS
    * L∞ pattern); everything else is one arc-table aggregation over the
    * shared labeled arc artifact. */
  def qModularity(spark: SparkSession, dir: String): DataFrame = {
    val key = (s"$dir#lpa-cp", LabelPropIters)
    val edges = copurchaseArcs(spark, dir)
    val labels = rankCache.get(spark, key)(lpaRounds(edges, LabelPropIters))
    modularityCensus(edges, labels)
  }

  /** The census core: `edges(src, dst)` (both arc directions) ×
    * `labels(node, lbl)` → per-community (n_nodes, in_arcs, tot_deg,
    * q_ppm). Factored so the spec can pin positive-Q detection on a
    * synthetic clustered graph independent of any label algorithm. */
  private[graph] def modularityCensus(
      edges: DataFrame, labels: DataFrame): DataFrame = {
    val arcs = edges
      .join(labels.select(col("node").as("src"), col("lbl").as("slbl")),
        "src")
      .join(labels.select(col("node").as("dst"), col("lbl").as("dlbl")),
        "dst")
    val perC = arcs.groupBy(col("slbl").as("community"))
      .agg(count(lit(1)).as("tot_deg"),
        sum(when(col("slbl") === col("dlbl"), 1L).otherwise(0L))
          .as("in_arcs"))
    val nodes = labels.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
    val twom = edges.agg(count(lit(1)).as("twom"))
    perC.join(nodes, "community")
      .crossJoin(broadcast(twom))
      .select(col("community"), col("n_nodes"), col("in_arcs"),
        col("tot_deg"),
        (expr("cast(cast(in_arcs as decimal(38,0)) * 1000000 div twom" +
            " as long)") -
          expr("cast(cast(tot_deg as decimal(38,0)) * tot_deg * 1000000" +
            " div (cast(twom as decimal(38,0)) * twom) as long)"))
          .as("q_ppm"))
  }

  // ---- co-occurrence mining + triangle census ----

  /** Support threshold for [[copurchaseEdges]]: a pair must co-occur in
    * at least this many orders to become an edge (the market-basket
    * noise gate — one shared order is coincidence, two is signal). */
  val CopurchaseMinSupport: Int = 2

  /** The co-purchase graph: canonical part pairs (`u` < `v`) that
    * co-occur in ≥ [[CopurchaseMinSupport]] distinct orders.
    *
    * Scale shape: the self-join explodes C(k,2) pairs per order, where
    * k is bounded by order SIZE (single digits in any basket-shaped
    * dataset) — a per-row-bounded explode, not a quadratic blowup — and
    * the support filter prunes before anything downstream sees the
    * pairs. The aggregation is map-side combinable on (u, v). */
  def copurchaseEdges(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    li.alias("a").join(li.alias("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= CopurchaseMinSupport)
  }

  /** Frequent co-occurrence pairs with lift — association mining's
    * effect-size (lift > 1 ⇔ the pair co-occurs more than independence
    * predicts). All counts are exact integers; lift is ONE IEEE
    * division of exact-integer operands, so it replays bit-identically
    * in any engine. */
  def qCopurchase(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val itemCnt = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c"))
    val nOrders = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n"))
    copurchaseEdges(spark, dir)
      .join(itemCnt.select(col("l_partkey").as("u"), col("c").as("c1")), "u")
      .join(itemCnt.select(col("l_partkey").as("v"), col("c").as("c2")), "v")
      .crossJoin(broadcast(nOrders))
      .select(col("u"), col("v"), col("support"),
        (  (col("support") * col("n")).cast("double")
         / (col("c1") * col("c2"))).as("lift"))
  }

  /** Directed association rules from the co-purchase pairs: each
    * undirected support-filtered pair (u, v) yields both rules u→v and
    * v→u with confidence (P[consequent | antecedent] =
    * support / count(antecedent)) and lift
    * (support·n / (count(u)·count(v))) — the rule-quality pair
    * [[qCopurchase]]'s lift alone cannot express, because confidence is
    * DIRECTIONAL (milk→bread strong, bread→milk weak when bread is
    * everywhere).
    *
    * Exact ppm integers throughout: confidence and lift are single
    * decimal(38,0) cross-multiplied divisions of exact counts, so the
    * oracle replays bit-for-bit. Scale shape inherits
    * [[copurchaseEdges]] (per-basket bounded explode, support pruning
    * before anything downstream); the item-count joins broadcast the
    * small side. */
  def qAssocRules(spark: SparkSession, dir: String): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val itemCnt = li.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("c"))
    val nOrders = li.select(col("l_orderkey")).distinct()
      .agg(count(lit(1)).as("n"))
    val pairs = copurchaseEdges(spark, dir)
    val rules = pairs.select(col("u").as("antecedent"),
        col("v").as("consequent"), col("support"))
      .unionAll(pairs.select(col("v").as("antecedent"),
        col("u").as("consequent"), col("support")))
    rules
      .join(itemCnt.select(col("l_partkey").as("antecedent"),
        col("c").as("c_ante")), "antecedent")
      .join(itemCnt.select(col("l_partkey").as("consequent"),
        col("c").as("c_cons")), "consequent")
      .crossJoin(broadcast(nOrders))
      .select(col("antecedent"), col("consequent"), col("support"),
        expr("cast((1000000 * cast(support as decimal(38,0))) div c_ante" +
          " as bigint)").as("confidence_ppm"),
        expr("""cast((1000000 * cast(support as decimal(38,0)) * n)
          |  div (cast(c_ante as decimal(38,0)) * c_cons)
          |  as bigint)""".stripMargin).as("lift_ppm"))
  }

  /** Rounds for [[qLouvain]] — enough for moves to settle on the
    * fixture graphs; synchronous moves are re-evaluated each round so
    * extra rounds only confirm the fixpoint. */
  val LouvainRounds: Int = 3

  /** Deterministic synchronous Louvain moves (phase-1 of Blondel et
    * al.) over the SUPPORT-WEIGHTED co-purchase graph — the
    * modularity-seeking community detector LPA's majority vote cannot
    * express (LPA ignores degree: a hub's label floods regardless of
    * whether the merge helps modularity).
    *
    * Each round every node re-evaluates, for every neighboring
    * community C (own community always a candidate), the exact INTEGER
    * move score `2m·k_iin(C) − k_i·(Σtot(C) − [i∈C]·k_i)` — the
    * modularity-gain numerator with the division by (2m)² cleared, so
    * the argmax never divides — and adopts the best (score DESC,
    * community ASC). Moves are synchronous (all nodes decide against
    * the same label snapshot), the standard distributed concession;
    * determinism comes from the total order, and the unrolled oracle
    * replays every round. Output: per-community census after
    * [[LouvainRounds]] — size, weighted degree mass, internal weight,
    * and the per-community modularity numerator
    * `q_num = in2·2m − Σtot²` (exact; Σ q_num / (2m)² = Q).
    *
    * Scale shape: per round one arc-side join + two bounded
    * aggregations (communities ≤ nodes); score arithmetic runs in
    * decimal(38,0) so 10¹²-arc corpora don't wrap; the loop inherits
    * the LPA linear-lineage posture (3 rounds, no nesting). */
  def qLouvain(spark: SparkSession, dir: String): DataFrame = {
    val arcs = copurchaseWeightedArcs(spark, dir)
    val k = arcs.groupBy(col("src").as("node"))
      .agg(sum("w").as("kw"))
    val m2 = arcs.agg(sum("w").as("w2"))
    val finalLabels = rankCache.get(spark, (s"$dir#louvain", LouvainRounds)) {
      // labels_{t-1} feeds THREE subtrees per round (kiin, sigtot,
      // own-community join) — without a per-round cut the round-0 work
      // replays 3^rounds times (the qBfsDist lesson). Round 1 reads the
      // lazy identity labeling; its cut starts the driver.
      def round(labels: DataFrame): graft.Cut = {
        val kiin = arcs
          .join(labels.select(col("node").as("dst"), col("lbl").as("comm")),
            "dst")
          .groupBy("src", "comm").agg(sum("w").as("kiin"))
          .unionByName(labels.select(col("node").as("src"),
            col("lbl").as("comm"), lit(0L).as("kiin")))
          .groupBy("src", "comm").agg(sum("kiin").as("kiin"))
        val sigtot = labels
          .join(k, "node")
          .groupBy(col("lbl").as("comm")).agg(sum("kw").as("sig"))
        graft.Cut(kiin
          .join(labels.select(col("node").as("src"), col("lbl").as("own")),
            "src")
          .join(k.select(col("node").as("src"), col("kw")), "src")
          // NOT broadcast: in round 1 every node is its own community,
          // so sigtot is node-sized — a plain equi-join on comm (AQE
          // may still broadcast it once communities coarsen)
          .join(sigtot, "comm")
          .crossJoin(broadcast(m2))
          .withColumn("score", expr(
            """cast(w2 as decimal(38,0)) * kiin
              |  - cast(kw as decimal(38,0))
              |    * (sig - (case when comm = own then kw else 0 end))"""
              .stripMargin))
          .groupBy(col("src").as("node"))
          .agg(min(struct((-col("score")).as("ns"), col("comm"))).as("m"))
          .select(col("node"), col("m.comm").as("lbl")))
      }
      val first = round(arcs.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("lbl")))
      graft.Cut.iterate(first, LouvainRounds - 1)((prev, _) =>
        round(prev.df))((_, _) => false)._1.df
    }
    val in2 = arcs
      .join(finalLabels.select(col("node").as("src"), col("lbl").as("la")),
        "src")
      .join(finalLabels.select(col("node").as("dst"), col("lbl").as("lb")),
        "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(sum("w").as("in2_w"))
    finalLabels
      .join(k, "node")
      .groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum("kw").as("tot_w"))
      .join(in2, Seq("community"), "left")
      .crossJoin(broadcast(m2))
      .select(col("community"), col("n_nodes"), col("tot_w"),
        coalesce(col("in2_w"), lit(0L)).as("in2_w"),
        expr("""cast(cast(coalesce(in2_w, 0) as decimal(38,0)) * w2
          |  - cast(tot_w as decimal(38,0)) * tot_w as bigint)"""
          .stripMargin).as("q_num"))
  }

  /** Support-weighted co-purchase arcs (both directions), cut per
    * (session, dir) — the weighted sibling of [[copurchaseArcs]]. */
  private val cpWArcCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private[graph] def copurchaseWeightedArcs(
      spark: SparkSession, dir: String): DataFrame =
    cpWArcCache.get(spark, dir) {
      val und = copurchaseEdges(spark, dir)
      graft.Cut(und.select(col("u").as("src"), col("v").as("dst"),
          col("support").as("w"))
        .unionAll(und.select(col("v").as("src"), col("u").as("dst"),
          col("support").as("w")))
        .repartition(spark.sparkContext.defaultParallelism, col("src"))).df
    }

  /** Item-item collaborative filtering over the co-purchase baskets —
    * the classic Amazon-style recommender shape: squared-cosine item
    * similarity from co-occurrence counts (`support²·10¹² div (c_u·c_v)`
    * — squaring avoids the square root, preserving the ranking
    * exactly), k-nearest-neighbor truncation per item, then per-user
    * recommendation scores as the sum of owned-item→candidate
    * similarities, already-owned candidates anti-joined away.
    *
    * Scale shape: candidate pairs inherit [[copurchaseEdges]]'s
    * per-basket bounded explode + support pruning; both top-k cuts exit
    * through the native [[graft.plans.TopKPerKey]] bounded heaps (never
    * a corpus sort); per-user fan-out is |owned|·k rows before the
    * anti join. Exact integers end-to-end, (score, id) total order. */
  def qItemCf(
      spark: SparkSession, dir: String,
      k: Int = 5, nUsers: Int = 20, recK: Int = 3): DataFrame = {
    val li = load(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val itemCnt = li.groupBy(col("l_partkey")).agg(count(lit(1)).as("c"))
    val pairs = copurchaseEdges(spark, dir)
    val sym = pairs.select(col("u"), col("v"), col("support"))
      .unionAll(pairs.select(col("v").as("u"), col("u").as("v"),
        col("support")))
    val sims = sym
      .join(itemCnt.select(col("l_partkey").as("u"), col("c").as("cu")), "u")
      .join(itemCnt.select(col("l_partkey").as("v"), col("c").as("cv")), "v")
      .select(col("u"), col("v"), expr(
        """cast((cast(support as decimal(38,0)) * support * 1000000000000)
          |  div (cu * cv) as bigint)""".stripMargin).as("cos2_fp"))
    val top = graft.plans.TopK.topKPerKey(sims,
      keys = Seq(col("u")),
      order = Seq(col("cos2_fp").desc, col("v").asc), k = k)
      .drop("rnk")
    val owned = load(spark, dir, "orders")
      .filter(col("o_custkey") < nUsers)
      .select(col("o_custkey").as("cust"), col("o_orderkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .select(col("cust"), col("l_partkey").as("item")).distinct()
    val cand = owned.join(top, col("item") === col("u"))
      .select(col("cust"), col("v").as("rec"), col("cos2_fp"))
      .join(owned.select(col("cust"), col("item").as("rec")),
        Seq("cust", "rec"), "left_anti")
      .groupBy("cust", "rec")
      .agg(sum("cos2_fp").as("score_fp"))
    graft.plans.TopK.topKPerKey(cand,
      keys = Seq(col("cust")),
      order = Seq(col("score_fp").desc, col("rec").asc), k = recK)
      .select(col("cust").as("c_custkey"), col("rec").as("rec_part"),
        col("score_fp"), col("rnk"))
  }

  /** Per-node triangle count + local clustering coefficient over an
    * undirected graph given as canonical edges (`u` < `v`).
    *
    * Algorithm: degree-ordered orientation — each undirected edge is
    * directed from its lower (degree, id) endpoint to the higher, so
    * every triangle is enumerated exactly once from its lowest-ordered
    * corner and, crucially, a hub's wedge work is bounded by its
    * OUT-degree, which the orientation caps at O(√E) — the difference
    * between feasible and quadratic on a power-law graph at 100 TB.
    * The (degree, id) order is packed into one scalar
    * `deg · 2³² + id` (exact while ids < 2³², the lake's id regime) so
    * both engines compare identically. Clustering is
    * 2·triangles / (deg·(deg−1)) — exact-integer operands, one IEEE
    * division.
    */
  def triangleCensus(spark: SparkSession, edges: DataFrame): DataFrame = {
    val deg = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val ok = deg.select(col("n"),
      (col("deg") * lit(4294967296L) + col("n")).as("okey"))
    val ori = edges
      .join(ok.select(col("n").as("u"), col("okey").as("ku")), "u")
      .join(ok.select(col("n").as("v"), col("okey").as("kv")), "v")
      .select(
        when(col("ku") < col("kv"), col("u")).otherwise(col("v")).as("src"),
        when(col("ku") < col("kv"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("ku"), col("kv")).as("dkey"))
    val wedges = ori.alias("x").join(ori.alias("y"),
        col("x.src") === col("y.src") && col("x.dkey") < col("y.dkey"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges.join(ori.alias("z"),
      col("b") === col("z.src") && col("c") === col("z.dst"))
    val tcnt = tri.select(col("a").as("n"))
      .unionAll(tri.select(col("b").as("n")))
      .unionAll(tri.select(col("c").as("n")))
      .groupBy("n").agg(count(lit(1)).as("triangles"))
    deg.join(tcnt, Seq("n"), "left")
      .select(col("n").as("node"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("deg") >= 2,
          (coalesce(col("triangles"), lit(0L)) * 2).cast("double")
            / (col("deg") * (col("deg") - 1)))
          .otherwise(lit(0.0)).as("clustering"))
  }

  /** Triangle census over the co-purchase graph: how clique-y are the
    * frequently-co-bought part neighborhoods. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(spark, copurchaseEdges(spark, dir))

  /** Whole-graph clustering census — the one-row summary that sits on
    * top of [[qTriangles]]' per-node view: node/edge/wedge counts and
    * the transitivity ratio 3·T/W (every per-node triangle count tallies
    * each triangle at all three corners, so Σtriangles IS 3·T and the
    * ratio needs no separate distinct-triangle pass). Exact integers;
    * the wedge count Σ d(d−1)/2 is even (d(d−1) always is), so its div
    * loses nothing. Same oriented-wedge join as the per-node census —
    * one extra global aggregate, no new graph pass. */
  def qClusteringGlobal(spark: SparkSession, dir: String): DataFrame =
    triangleCensus(spark, copurchaseEdges(spark, dir))
      .agg(count(lit(1)).as("n_nodes"),
        sum("deg").as("deg_sum"),
        sum(expr("deg * (deg - 1) div 2")).as("n_wedges"),
        sum("triangles").as("tri3"))
      .select(col("n_nodes"),
        expr("deg_sum div 2").as("n_edges"),
        col("n_wedges"),
        expr("tri3 div 3").as("n_triangles"),
        expr("cast(cast(tri3 as decimal(38,0)) * 1000000" +
          " div n_wedges as bigint)").as("transitivity_ppm"))

  /** Synchronous peel rounds for [[qKCore]] — fixed so the oracle can
    * unroll; each round removes EVERY node currently under-degree at
    * once, so the round count is bounded by the peel depth (measured ≤
    * 10 on these corpora; converged rounds are identities, so over-
    * provisioning costs only no-op rounds). */
  val KCoreRounds: Int = 16

  /** The k-core of an undirected graph (canonical edges `u` < `v`):
    * iteratively remove every node with degree < `k` until none remain
    * — run as [[KCoreRounds]] fixed synchronous rounds so the result is
    * a deterministic function of the input in any engine. The k-core is
    * the standard "dense enough to matter" subgraph gate (community
    * mining, spam-farm detection, co-occurrence noise pruning).
    *
    * Scale shape: each round is one degree aggregation + two semi-joins
    * of the edge list against the (node-sized) survivor set, cut per
    * round. A round removes edges only, so one that keeps every edge
    * is the fixpoint: the loop stops there, on the cut's own row count,
    * and the remaining rounds (identities) are skipped. Output is one
    * row per surviving node with its in-core degree. */
  def kCore(
      spark: SparkSession, edges: DataFrame, k: Int,
      rounds: Int = KCoreRounds): DataFrame = {
    val arcs = graft.Cut(edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst"))))
    val (core, _) = graft.Cut.iterate(arcs, rounds) { (prev, _) =>
      val e = prev.df
      val keep = e.groupBy(col("src").as("node"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k)
        .select("node")
      graft.Cut(e
        .join(keep.withColumnRenamed("node", "src"), Seq("src"), "left_semi")
        .join(keep.withColumnRenamed("node", "dst"), Seq("dst"), "left_semi"))
    }((prev, next) => next.rows == prev.rows)
    core.df.groupBy(col("src").as("node")).agg(count(lit(1)).as("deg_in_core"))
  }

  /** 3-core of the co-purchase graph. */
  def qKCore(spark: SparkSession, dir: String): DataFrame =
    kCore(spark, copurchaseEdges(spark, dir), 3)

  /** HITS rounds for [[qHits]]. */
  val HitsIters: Int = 3

  /** HITS hubs-and-authorities (Kleinberg) — the mutual-reinforcement
    * ranking the bipartite trade graph is literally shaped for: a
    * supplier is a good HUB when it supplies authoritative parts; a
    * part is a good AUTHORITY when good hubs supply it. PageRank
    * collapses the two roles into one score; HITS keeps them separate,
    * which is what a two-sided marketplace ranks by.
    *
    * Fixed point: scores live in integer ppm; each half-round sums
    * exact integers along arcs and renormalizes by the MAX score
    * (L∞ — the L2 norm of textbook HITS needs an IEEE sqrt; any
    * positive rescaling preserves HITS' fixpoint direction), with the
    * cross-multiply in decimal(38,0) so score·10⁶ can never wrap. The
    * per-round max is a one-row broadcast scalar — the global-scalar
    * round shape [[qPageRankDangling]] uses for its dangling mass.
    *
    * Scale shape: the arc table (distinct supplier→part pairs)
    * partitions once; each half-round is one arc-keyed join + one
    * node-keyed aggregation + a scalar crossJoin. Rounds are fixed
    * ([[HitsIters]]) so the oracle unrolls. */
  def qHits(spark: SparkSession, dir: String,
      iters: Int = HitsIters): DataFrame = {
    require(iters >= 1, s"HITS needs at least one round, got $iters")
    val scored = rankCache.get(spark, (s"$dir#hits", iters)) {
      withTradePairs(spark, dir) { pairs =>
        val arcs = graft.Cut(pairs.repartition(
          spark.sparkContext.defaultParallelism, col("s"))).df
        // one half-round: scores `v` keyed by `from` flow along the arcs
        // to `to` and renormalize by their max
        def half(scores: DataFrame, from: String, to: String): DataFrame = {
          val raw = arcs.join(scores, from)
            .groupBy(to).agg(sum("v").as("raw"))
          raw.crossJoin(broadcast(raw.agg(max("raw").as("mx"))))
            .select(col(to),
              expr("cast(cast(raw as decimal(38,0)) * 1000000" +
                " div mx as bigint)").as("v"))
        }
        val hub0 = graft.Cut(arcs.select(col("s")).distinct()
          .select(col("s"), lit(1000000L).as("v")))
        // a cut per HALF-round, deliberately: an r16 experiment made
        // auth lazy inside hub's round plan (hoping the duplicate raw
        // aggregation exchanges would dedupe via exchange reuse) and
        // MEASURED WORSE — 4.31 → 6.05 s isolated warm median, 56 → 75
        // jobs — because the max scalar subqueries re-run the raw
        // aggregation subtree per reference under AQE instead of
        // reusing it. Odd half-rounds score authorities, even ones hubs;
        // the last hub half-round is read once, by the output cut.
        val (auth, _) = graft.Cut.iterate(hub0, 2 * iters - 1) { (prev, r) =>
          graft.Cut(if (r % 2 == 1) half(prev.df, "s", "p")
            else half(prev.df, "p", "s"))
        }((_, _) => false)
        val out = graft.Cut(half(auth.df, "p", "s")
          .select(lit("hub").as("role"),
            col("s").as("node_id"), col("v").as("score_ppm"))
          .unionAll(auth.df.select(lit("authority").as("role"),
            col("p").as("node_id"), col("v").as("score_ppm"))))
        auth.release()
        graft.Cut.release(arcs)
        out.df
      }
    }
    scored
  }

  /** Max BFS depth for [[qBfsDistances]] — even (the bipartite graph
    * returns to the source side on even hops) and deep enough to cover
    * the trade graph's observed diameter from any nation's suppliers. */
  val BfsMaxDepth: Int = 6

  /** Multi-source BFS shortest-path distances — hop counts from one
    * nation's suppliers to every reachable node, the exact-distance
    * companion to [[qHyperBall]]'s neighborhood-size estimates (and the
    * primitive behind crawl-frontier depth caps and graph-distance
    * features for link prediction).
    *
    * Level-synchronous frontier expansion: each round joins only the
    * FRONTIER (nodes first reached last round) against the shared
    * src-partitioned edge artifact, anti-joins the visited set, and
    * unions the new level in. Per-round shuffle work is frontier-sized,
    * not graph-sized; rounds are bounded by [[BfsMaxDepth]] and stop
    * EARLY when a level adds no nodes (the row count of each round's
    * cut is the fixpoint test, so the early exit costs no extra
    * action). BFS levels are unique minima, so the output is
    * deterministic under any partitioning. Unreached
    * nodes are absent (mirrored by the oracle's recursive CTE). */
  def qBfsDistances(spark: SparkSession, dir: String,
      nation: String = "NATION_3", maxDepth: Int = BfsMaxDepth): DataFrame = {
    val dist = rankCache.get(spark, (s"$dir#bfs#$nation", maxDepth)) {
      val sources = load(spark, dir, "supplier")
        .join(broadcast(load(spark, dir, "nation")
            .filter(col("n_name") === nation)),
          col("s_nationkey") === col("n_nationkey"))
        .select((col("s_suppkey") * 2).as("node"))
      bfsFrom(tradeEdgesDeg(spark, dir).select("src", "dst"),
        sources, maxDepth)
    }
    dist.select(tradeNode("node") :+ col("dist"): _*)
  }

  /** Level-synchronous multi-source BFS core: `edges(src, dst)` ×
    * `sources(node)` → `(node, dist)` for every node within `maxDepth`
    * hops of any source. Returns a cut leaf (the caller's cache
    * owns its lifetime). See [[qBfsDistances]] for the scale contract. */
  private[graph] def bfsFrom(
      edges: DataFrame, sources: DataFrame, maxDepth: Int): DataFrame = {
    // a cut per round, NOT persist: round r's plan references round
    // r−1 THREE times (union + frontier + anti join), so an un-cut
    // lineage grows 3^r nodes and ANALYSIS time — not execution —
    // triples every round (measured 1.0 → 5.5 s/round by round 4 at
    // sf0.1)
    val start = graft.Cut(sources.select(col("node"), lit(0L).as("dist")))
    graft.Cut.iterate(start, maxDepth) { (visited, round) =>
      val frontier = visited.df.filter(col("dist") === (round - 1))
        .select(col("node").as("src"))
      val level = edges.join(frontier, "src")
        .select(col("dst").as("node")).distinct()
        .join(visited.df, Seq("node"), "left_anti")
        .select(col("node"), lit(round.toLong).as("dist"))
      graft.Cut(visited.df.unionAll(level))
    }((prev, next) => next.rows == prev.rows)._1.df
  }

  /** Max relaxation rounds for [[qSsspWeighted]] — Bellman-Ford round r
    * yields the cheapest path using ≤ r EDGES, so this bounds path hop
    * length, not cost; it matches [[BfsMaxDepth]] so the weighted and
    * unweighted distance maps cover the same hop horizon. */
  val SsspMaxRounds: Int = 6

  /** The weight-annotated undirected trade edge table — arc weight is
    * `min(l_quantity)` over the (supplier, part) lineitems (the
    * cheapest observed shipment; any positive deterministic integer
    * works). Cached per (session, dir) like [[tradeEdgesDeg]]; the cast
    * to long is exact because quantities are integral in the fixture
    * (and DuckDB's round-on-cast therefore agrees with Spark's
    * truncate). */
  private val wEdgeCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private[graph] def tradeEdgesWeighted(
      spark: SparkSession, dir: String): DataFrame =
    wEdgeCache.get(spark, dir) {
      val pairs = load(spark, dir, "lineitem")
        .groupBy(col("l_suppkey").as("s"), col("l_partkey").as("p"))
        .agg(min(col("l_quantity")).cast("long").as("w"))
      val edges = pairs
        .select((col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst"),
          col("w"))
        .unionAll(pairs.select((col("p") * 2 + 1).as("src"),
          (col("s") * 2).as("dst"), col("w")))
      graft.Cut(edges
        .repartition(spark.sparkContext.defaultParallelism, col("src"))).df
    }

  /** Weighted single/multi-source shortest paths — the min-cost
    * companion to [[qBfsDistances]]' hop counts (routing cost over a
    * weighted host graph, cheapest-supply-chain analytics, weighted
    * crawl-frontier budgets).
    *
    * Frontier Bellman-Ford: round r relaxes only the edges leaving
    * nodes IMPROVED in round r−1, yet computes exactly the full
    * relaxation recurrence d_r(v) = min(d_{r−1}(v), min over arcs (u,v)
    * of d_{r−1}(u)+w) — if u did not improve at r−1, its current
    * distance was already relaxed through (u,v) at the round after u
    * last improved, and distances only decrease, so skipping u never
    * changes the min (the invariant GraphSpec pins against full
    * relaxation). d_r(v) is therefore the cheapest path using ≤ r
    * edges — the exact contract the oracle's unrolled min-merge rounds
    * replay. Per-round shuffle work is frontier-sized; rounds stop
    * EARLY when nothing improves (both sides of the recurrence are
    * then fixpoints, so the cap only matters on still-shrinking
    * graphs). Pure min-plus long arithmetic: bit-reproducible under
    * any partitioning, summation order, or engine. */
  def qSsspWeighted(spark: SparkSession, dir: String,
      nation: String = "NATION_3",
      maxRounds: Int = SsspMaxRounds): DataFrame = {
    val dist = rankCache.get(spark, (s"$dir#sssp#$nation", maxRounds)) {
      val sources = load(spark, dir, "supplier")
        .join(broadcast(load(spark, dir, "nation")
            .filter(col("n_name") === nation)),
          col("s_nationkey") === col("n_nationkey"))
        .select((col("s_suppkey") * 2).as("node"))
      ssspFrom(tradeEdgesWeighted(spark, dir), sources, maxRounds)
    }
    dist.select(tradeNode("node") :+ col("dist"): _*)
  }

  /** Frontier Bellman-Ford core: `edges(src, dst, w)` × `sources(node)`
    * → `(node, dist)` where dist is the min-cost path using ≤
    * `maxRounds` edges, cut per round; returns a cut-backed frame
    * whose lifetime the caller's cache owns. */
  private[graph] def ssspFrom(
      edges: DataFrame, sources: DataFrame, maxRounds: Int): DataFrame = {
    // every source is round 0's frontier: `chg` marks it improved
    val start = graft.Cut(sources.select(col("node"), lit(0L).as("dist"))
      .groupBy("node").agg(min("dist").as("dist"))
      .withColumn("chg", lit(true)))
    graft.Cut.iterate(start, maxRounds) { (prev, _) =>
      val dist = prev.df.select("node", "dist")
      val improved = prev.df.filter(col("chg"))
      val relax = edges
        .join(improved.select(col("node").as("src"), col("dist").as("sd")),
          "src")
        .select(col("dst").as("node"), (col("sd") + col("w")).as("cand"))
        .groupBy("node").agg(min("cand").as("cand"))
      // full-outer min-merge: a node unseen by either side keeps the
      // other's value; `chg` marks strict improvements (the next
      // frontier), and the cut counts them as the fixpoint test
      graft.Cut.flagged(dist.join(relax, Seq("node"), "full_outer")
        .select(col("node"),
          when(col("dist").isNull ||
              (col("cand").isNotNull && col("cand") < col("dist")),
            col("cand")).otherwise(col("dist")).as("dist"),
          (col("dist").isNull ||
            (col("cand").isNotNull && col("cand") < col("dist"))).as("chg")),
        "chg")
    }((_, next) => next.sum == 0)._1.df.select("node", "dist")
  }

  /** Below this edge count the forest is solved with a driver-side
    * Kruskal over the (already aggregated, support-filtered) edge set —
    * the same size-gated strategy switch as the dedup-cluster
    * [[graft.pipeline.TrainingData]] local solve, and justified the same
    * way: the SUPPORT-THRESHOLDED co-purchase graph is a sliver of the
    * corpus, so even very large runs often land under the gate, and the
    * tie-break order (w, u, v) is identical in both paths so the output
    * is bit-for-bit the same forest (GraphSpec pins local == forced
    * distributed). The distributed Borůvka loop below carries anything
    * larger in O(log V) rounds. */
  private[graph] val MstLocalSolveMaxEdges = 2L << 20

  private def kruskalLocal(edges: DataFrame): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val es = edges.select("u", "v", "w").as[(Long, Long, Long)].collect()
      .sortBy { case (u, v, w) => (w, u, v) }
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val kept = es.iterator.flatMap { case (u, v, w) =>
      val (ru, rv) = (find(u), find(v))
      if (ru == rv) None else { parent(ru) = rv; Some((u, v, w)) }
    }.toSeq
    kept.toDF("u", "v", "w")
  }

  /** Minimum spanning forest via Borůvka contraction — the bulk-
    * synchronous MST algorithm that actually scales: every round EVERY
    * component picks its lightest outgoing edge simultaneously, so the
    * component count at least halves per round and the whole forest
    * lands in O(log V) rounds of edge-table joins (Kruskal's global
    * sort + sequential union-find has no distributed formulation;
    * Prim's is one-frontier-at-a-time). The classic substrate for
    * single-linkage clustering and network-backbone extraction.
    *
    * Determinism: edge weights need not be distinct — selection
    * minimizes the struct (w, u, v), which is a total order, so the
    * forest is THE lexicographic-minimum MST under any partitioning
    * (GraphSpec pins it against a driver-side Kruskal with the same
    * tie-break). Contraction details: each component's chosen arc forms
    * a functional pointer graph whose only cycles are 2-cycles (mutual
    * lightest-edge picks — with the total order, a longer pointer cycle
    * would need a strictly decreasing closed weight walk); the smaller
    * component id of each 2-cycle becomes the root, and pointer
    * jumping (p ← p(p), component-sized table, depth halves per hop)
    * flattens every tree onto its root.
    *
    * Scale shape: per round, ONE join of the edge table against the
    * node→component map (edges stay the big relation; the map is
    * node-sized), one map-side-combinable min per component, and
    * pointer jumps on the COMPONENT-sized table only. Lineage is cut
    * per round. Not SQL-expressible
    * (inter-round argmin + contraction), so the registry entry is
    * rows-only by design — exactness is pinned in-suite instead. */
  private[graph] def boruvkaForest(
      edgesIn: DataFrame, maxRounds: Int = 64,
      localSolveMax: Long = MstLocalSolveMaxEdges): DataFrame = {
    val edges = graft.Cut(edgesIn) // resident across rounds
    if (edges.rows <= localSolveMax) {
      val out = kruskalLocal(edges.df)
      edges.release()
      return out
    }
    // the round's candidate cuts stay until the end: the per-round
    // chosen-edge frames read them, and are unioned ONCE at the end (no
    // round re-copies the accumulated forest)
    val cands = collection.mutable.Buffer.empty[graft.Cut]
    val comp0 = graft.Cut(edges.df.select(col("u").as("node"))
      .unionAll(edges.df.select(col("v").as("node")))
      .distinct()
      .select(col("node"), col("node").as("comp")))
    // a round with no candidate edge returns its input: the forest is
    // complete. The cap is one round past maxRounds, so a loop that ran
    // more than maxRounds rounds is one that maxRounds did not finish.
    val (last, rounds) = graft.Cut.iterate(comp0, maxRounds + 1) { (comp, _) =>
      val eC = edges.df
        .join(comp.df.select(col("node").as("u"), col("comp").as("cu")), "u")
        .join(comp.df.select(col("node").as("v"), col("comp").as("cv")), "v")
        .filter(col("cu") =!= col("cv"))
      // every component's lightest outgoing arc (both directions feed
      // the min, so each side of an edge sees it)
      val cand = graft.Cut(eC
        .select(col("cu").as("c"),
          struct(col("w"), col("u"), col("v"), col("cv").as("o")).as("e"))
        .unionAll(eC.select(col("cv").as("c"),
          struct(col("w"), col("u"), col("v"), col("cu").as("o")).as("e")))
        .groupBy("c").agg(min("e").as("e")))
      cands += cand
      if (cand.rows == 0) comp
      else {
        // pointer graph parent(c) = other side; 2-cycles root at the
        // smaller id, then jump p <- p(p) until flat. The convergence
        // flag rides IN the jump join (y.p != x.p), and the jump's cut
        // counts it: one job per jump.
        val par0 = cand.df.select(col("c"), col("e.o").as("p"))
        val ptr0 = graft.Cut(par0.alias("a")
          .join(par0.alias("b"), col("a.p") === col("b.c"))
          .select(col("a.c").as("c"),
            when(col("b.p") === col("a.c") && col("a.c") < col("a.p"),
              col("a.c")).otherwise(col("a.p")).as("p")))
        val (ptr, _) = graft.Cut.iterate(ptr0, Int.MaxValue)((ptr, _) =>
          graft.Cut.flagged(ptr.df.alias("x")
            .join(ptr.df.alias("y"), col("x.p") === col("y.c"))
            .select(col("x.c").as("c"), col("y.p").as("p"),
              (col("y.p") =!= col("x.p")).as("chg")), "chg"))(
          (_, jump) => jump.sum == 0)
        val next = graft.Cut(comp.df.alias("m")
          .join(ptr.df.alias("r"), col("m.comp") === col("r.c"), "left")
          .select(col("m.node").as("node"),
            coalesce(col("r.p"), col("m.comp")).as("comp")))
        ptr.release()
        next
      }
    }(_ eq _)
    // loud failure beats a silently partial forest: exhausting the round
    // budget with live inter-component edges means a component larger
    // than 2^maxRounds nodes (or a contraction bug) — the
    // connectedComponentsImpl convergence discipline
    if (rounds > maxRounds) throw new IllegalStateException(
      s"Borůvka did not converge in $maxRounds rounds — " +
        "raise maxRounds (component count halves per round)")
    val empty = edges.df.select("u", "v", "w").limit(0)
    val forest = graft.Cut(cands.map(_.df.select(col("e.u").as("u"),
        col("e.v").as("v"), col("e.w").as("w")))
      .foldLeft(empty)(_ unionAll _).distinct())
    cands.foreach(_.release())
    last.release()
    edges.release()
    forest.df
  }

  private val misCache =
    graft.SessionCache.frames[String](graft.SessionCache.Result)

  /** Luby's maximal independent set over the co-purchase graph — the
    * classic symmetry-breaking primitive (a MIS is a conflict-free
    * activation set: no two chosen products are co-purchase neighbors,
    * and no product could be added without a conflict).
    *
    * Each round r draws every still-undecided node a FRESH salted
    * priority key = md5('mis:r:n')·2³¹ + n (u32 hash in the high bits,
    * the node id as tiebreak — a strict total order, and the whole key
    * fits signed-64 exactly: (2³²−1)·2³¹ + (2³¹−1) = 2⁶³−1). A node
    * joins the MIS when its key beats every undecided neighbor's
    * (adjacent winners are impossible: each would have to beat the
    * other); winners' neighbors are decided OUT; both leave the
    * undecided set. Expected round count is O(log n) — Luby's theorem:
    * each round removes a constant fraction of edges in expectation —
    * and the salted-hash draw replays identically in DuckDB, so the
    * whole unrolled execution carries an exact oracle.
    *
    * Scale shape: per round, two semi-joins restrict the resident edge
    * artifact to undecided endpoints, one (node) aggregation takes the
    * neighbor min, one anti-join shrinks the undecided set; every
    * frame crossing rounds is cut, and the undecided cut's row count is
    * the convergence probe. */
  def qLubyMis(spark: SparkSession, dir: String, maxRounds: Int = 64)
      : DataFrame =
    misCache.get(spark, dir)(
      lubyMis(copurchaseEdges(spark, dir).select("u", "v"), maxRounds))

  /** The Luby rounds of [[qLubyMis]] over any undirected edge frame
    * `(u, v)`: `(node, in_mis, mis_round)`, a cut leaf. */
  private[graph] def lubyMis(edgesIn: DataFrame, maxRounds: Int): DataFrame = {
    val eCut = graft.Cut(edgesIn)
    val edges = eCut.df
    val und0 = graft.Cut(
      edges.select(col("u").as("n"))
        .unionAll(edges.select(col("v").as("n"))).distinct())
    // each round's decided nodes stay cut until the output is cut
    val decided = collection.mutable.ArrayBuffer.empty[graft.Cut]
    val (rest, _) = graft.Cut.iterate(und0, maxRounds) { (und, round) =>
      val r = round - 1
      val pri = und.df.withColumn("k", expr(
        s"""cast(conv(substring(md5(concat('mis:$r:',
           |  cast(n as string))), 1, 8), 16, 10) as long)
           |  * 2147483648 + n""".stripMargin))
      val act = edges
        .join(und.df.select(col("n").as("u")), Seq("u"), "left_semi")
        .join(und.df.select(col("n").as("v")), Seq("v"), "left_semi")
      val arcs = act.select(col("u").as("a"), col("v").as("b"))
        .unionAll(act.select(col("v").as("a"), col("u").as("b")))
      val nbrMin = arcs
        .join(pri.select(col("n").as("b"), col("k").as("kb")), "b")
        .groupBy(col("a").as("n")).agg(min("kb").as("mk"))
      val winners = pri.join(nbrMin, Seq("n"), "left")
        .filter(col("mk").isNull || col("k") < col("mk"))
        .select("n")
      val losers = arcs
        .join(winners.select(col("n").as("a")), Seq("a"), "left_semi")
        .select(col("b").as("n")).distinct()
      val dec = graft.Cut(
        winners.select(col("n"), lit(1L).as("in_mis"),
            lit(r.toLong).as("mis_round"))
          .unionAll(losers.select(col("n"), lit(0L).as("in_mis"),
            lit(r.toLong).as("mis_round"))))
      decided += dec
      graft.Cut(und.df.join(dec.df.select("n"), Seq("n"), "left_anti"))
    }((_, next) => next.rows == 0)
    require(rest.rows == 0, s"Luby MIS did not converge in $maxRounds rounds")
    val out = graft.Cut(decided.map(_.df).reduce(_ unionAll _)
      .select(col("n").as("node"), col("in_mis"), col("mis_round")))
    eCut.release()
    rest.release()
    decided.foreach(_.release())
    out.df
  }

  /** The lexicographic-minimum spanning forest of the co-purchase
    * graph, association distance `1e6 div support` (strong co-purchase
    * = short edge) — the single-linkage backbone of the product graph.
    * Output: the forest edges with their distance and support. */
  private val mstCache =
    graft.SessionCache.frames[String](graft.SessionCache.Result)

  def qMst(spark: SparkSession, dir: String): DataFrame =
    // session-cached like rankCache: repeated calls reuse ONE cut
    // result instead of accreting orphaned leaf blocks per call
    mstCache.get(spark, dir) {
      // materialize the (expensive) co-purchase aggregation ONCE — it
      // is referenced both as the forest input and the final support
      // join
      val e = graft.Cut(copurchaseEdges(spark, dir)
        .select(col("u"), col("v"),
          expr("1000000 div support").as("w"), col("support")))
      val forest = boruvkaForest(e.df.select("u", "v", "w"))
      val res = graft.Cut(forest.join(e.df, Seq("u", "v", "w"))
        .select(col("u"), col("v"), col("w").as("dist"), col("support")))
      // free the intermediates (re-materialization on eviction walks
      // their still-defined lineage — rare and slow, never wrong)
      graft.Cut.release(forest)
      e.release()
      res.df
    }

  /** Degree distribution of the trade graph in log₂ buckets, per node
    * type — the first diagnostic run on any new graph (power-law tail ⇒
    * salting/orientation decisions downstream). The bucket is
    * `length(bin(deg)) − 1` — floor(log₂) by bit length, pure integer,
    * no IEEE log at exact powers of two. One aggregation over the
    * shared degree-annotated edge artifact. */
  def qDegreeHist(spark: SparkSession, dir: String): DataFrame =
    tradeEdgesDeg(spark, dir)
      .select(col("src").as("node"), col("outdeg")).distinct()
      .select(tradeNode("node") ++ Seq(
        (length(bin(col("outdeg"))) - 1).cast("long").as("bucket"),
        col("outdeg")): _*)
      .groupBy("node_type", "bucket")
      .agg(count(lit(1)).as("n_nodes"),
        min("outdeg").as("min_deg"), max("outdeg").as("max_deg"),
        sum("outdeg").as("sum_deg"))

  /** Hub gate for [[qLinkPredict]]: a shared neighbor with degree above
    * this contributes no evidence (its 1/deg weight is ≈ 0 anyway, and
    * dropping it bounds per-center wedge fan-out — the difference
    * between O(E·D) and a hub-quadratic blowup on a power-law graph). */
  val LinkPredictMaxDeg: Int = 64

  /** Link prediction over the co-purchase graph: for NON-adjacent part
    * pairs within two hops, the common-neighbor count and the
    * resource-allocation index (Σ_z 1/deg(z) over shared neighbors z) —
    * the classic "who should be connected next" scores used to densify
    * a co-occurrence graph or propose retrieval candidates.
    *
    * RA is summed in integer ppm (`1e6 div deg(z)` per wedge — exact
    * integer semantics in any engine, no IEEE accumulation), so the
    * ranking oracles bit-exact. Scale shape: wedge enumeration is an
    * equi-self-join on the center node with per-center fan-out capped by
    * [[LinkPredictMaxDeg]]; the aggregation is map-side combinable on
    * the candidate pair; existing edges leave via one anti join against
    * the (support-gated, already small) edge list. */
  def qLinkPredict(spark: SparkSession, dir: String,
      minCn: Int = 2): DataFrame = {
    val und = copurchaseEdges(spark, dir)
    val adj = und.select(col("u").as("z"), col("v").as("n"))
      .unionAll(und.select(col("v").as("z"), col("u").as("n")))
    val deg = adj.groupBy("z").agg(count(lit(1)).as("deg"))
    val adjD = adj.join(deg, "z").filter(col("deg") <= LinkPredictMaxDeg)
    val wedges = adjD.alias("x").join(adjD.alias("y"),
        col("x.z") === col("y.z") && col("x.n") < col("y.n"))
      .select(col("x.n").as("a"), col("y.n").as("b"), col("x.deg").as("degz"))
    wedges.groupBy("a", "b")
      .agg(count(lit(1)).as("cn"),
        sum(expr("1000000 div degz")).as("ra_ppm"))
      .filter(col("cn") >= minCn)
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
  }

  /** HyperBall neighborhood function (Boldi & Vigna 2013): how many
    * nodes are within distance r of each node, for every node AT ONCE —
    * the primitive behind graph diameter / centrality estimates on
    * web-scale graphs, where per-node BFS is |V| traversals and exact
    * ball materialization is quadratic. Each node carries a 256-register
    * HLL of its ball; one round of "merge every in-neighbor's sketch"
    * advances every ball's radius by 1, so radius R costs R edge-joins
    * of a sketch table bounded by |V|·256 rows — NOT by ball sizes,
    * which is the entire trick.
    *
    * Registers here are the deterministic [[graft.relational.Sketches]]
    * HLL in sparse (node, bucket, mj) form; merge is `max` per
    * register, which commutes and is idempotent — any shuffle order,
    * any duplicate-arc multiplicity, same registers, so the DuckDB
    * oracle replays the rounds exactly. Per-node estimates are rounded
    * to 1e-4 and summed as integers (a double sum over nodes would be
    * order-dependent); output is the neighborhood function
    * N(r) = Σ_v |ball(v, r)| for r = 0..2 over the trade graph. */
  /** The HyperBall register rounds: ball sketches for r = 0..radius,
    * each a cut leaf, released with the cache entry. Registers
    * travel PACKED (one 256-byte blob per node, merged by the native
    * hll_merge aggregate) — the sparse (node, bucket, mj) relation paid
    * one shuffle row per register per arc and ran ~6x slower at sf0.1
    * (13.6 s → 2.1 s); the DuckDB oracles keep the sparse relational
    * form, so their hash-equality pins blob == sparse. Each round is
    * one src-join (edges stay resident on src) + one node-keyed blob
    * aggregation, lineage cut round-over-round. */
  /** One artifact per (session, corpus): the ball sketches are the
    * standing per-corpus relation all three HyperBall consumers
    * (neighborhood function, harmonic centrality, effective diameter)
    * read — computing them per query paid the register rounds three
    * times over (~3×3 s at sf0.1). */
  private val hyperBallCache =
    new graft.SessionCache[String, Seq[DataFrame]](
      graft.SessionCache.Artifact, _.foreach(graft.Cut.release))

  /** Deepest radius any consumer asks for — the cached rounds are built
    * once at this depth and prefixes serve shallower queries. */
  private val HyperBallMaxRadius = 3

  private def hyperBallRounds(
      spark: SparkSession, dir: String, radius: Int): Seq[DataFrame] = {
    require(radius <= HyperBallMaxRadius,
      s"raise HyperBallMaxRadius past $HyperBallMaxRadius")
    hyperBallCache.get(spark, dir) {
      import graft.relational.Sketches
      val (bucket, rho) = Sketches.hllRegister(col("node"), "hb")
      val edges = tradeEdgesDeg(spark, dir).select("src", "dst")
      val seed = graft.Cut(edges.select(col("src").as("node")).distinct()
        .select(col("node"),
          graft.functions.hll_seed_blob(bucket, rho).as("blob"))).df
      Iterator.iterate(seed) { prev =>
        graft.Cut(prev
          .unionAll(edges.join(prev, col("src") === col("node"))
            .select(col("dst").as("node"), col("blob")))
          .groupBy("node")
          .agg(graft.functions.hll_merge(col("blob")).as("blob"))).df
      }.take(HyperBallMaxRadius + 1).toSeq
    }.take(radius + 1)
  }

  /** Per-node ball-size estimate in 1e-4 fixed point. */
  private def ballEstE4(regs: DataFrame): DataFrame = {
    import graft.relational.Sketches
    regs.select(col("node"), floor(Sketches.hllEstimate(
        graft.functions.hll_blob_zs(col("blob")),
        graft.functions.hll_blob_zeros(col("blob")))
        * 10000 + 0.5).cast("long").as("est_e4"))
  }

  def qHyperBall(spark: SparkSession, dir: String, radius: Int = 2): DataFrame = {
    val rounds = hyperBallRounds(spark, dir, radius)
    val out = rounds.zipWithIndex.map { case (regs, r) =>
      ballEstE4(regs)
        .agg(count(lit(1)).as("n_nodes"),
          sum("est_e4").as("nf_e4"))
        .select(lit(r.toLong).as("r"), col("n_nodes"), col("nf_e4"))
    }.reduce(_ unionAll _)
    val rows = out.collect() // the cached round frames stay resident
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** Harmonic-centrality estimates from the HyperBall neighborhood
    * function (Boldi & Vigna's application): per node,
    * H ≈ Σ_{r=1..radius} (N(r) − N(r−1))/r — each shell of newly
    * reachable nodes weighted by 1/distance. The top-k most central
    * nodes surface, with the shell sizes that produced them. All in
    * 1e-4 fixed point. The REGISTERS are monotone under max-merge, but
    * the HLL ESTIMATE is not quite: at the linear-counting crossover
    * (raw estimate passing 640) a node's ball estimate can dip a few
    * e-4 units between rounds — and on a negative difference Spark's
    * truncating `div` and DuckDB's floor `//` disagree. Shell
    * differences therefore clamp at 0 on both sides (a negative shell
    * is estimator noise, and a negative 1/r contribution would be
    * semantically wrong for a centrality anyway). Same round artifacts
    * as [[qHyperBall]] (one extra node-keyed join per radius, no new
    * graph pass). */
  def qHarmonicCentrality(
      spark: SparkSession, dir: String,
      radius: Int = 2, k: Int = 20): DataFrame = {
    val rounds = hyperBallRounds(spark, dir, radius)
    val perNode = rounds.zipWithIndex.map { case (regs, r) =>
      ballEstE4(regs).withColumnRenamed("est_e4", s"est$r")
    }
    val joined = perNode.reduce(_.join(_, "node"))
    val harmonic = (1 to radius)
      .map(r => expr(s"greatest(est$r - est${r - 1}, 0L) div $r"))
      .reduce(_ + _)
    val out = joined
      .select(tradeNode("node") ++ Seq(col("node"),
        harmonic.as("harmonic_e4")): _*)
      .orderBy(col("harmonic_e4").desc, col("node"))
      .limit(k)
      .select("node_type", "node_id", "harmonic_e4")
    val rows = out.collect() // the cached round frames stay resident
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** Sampled-source betweenness centrality (Brandes 2001) over the
    * co-purchase graph — the who-sits-on-the-paths centrality that
    * PageRank's flow view misses. Exact Brandes from the `nSources`
    * smallest node ids (a deterministic pilot sample — the standard
    * scale posture, since all-sources betweenness is |V| BFS sweeps):
    * a level-synchronous FORWARD pass counts shortest paths σ for all
    * sources AT ONCE (the multi-source-BFS trick — the frontier carries
    * a source column, so one round of joins advances every source), and
    * the BACKWARD dependency accumulation walks the stored levels
    * deepest-first with the textbook recurrence
    *   δ(v) = Σ_{w: succ} σ_v · (2²⁰ + δ_w) div σ_w
    * held in 2²⁰ fixed point with truncating division — deterministic
    * in any engine, replayed bit-for-bit by the GraphSpec JVM oracle
    * (inter-level recursion is not SQL-expressible, so the registry
    * entry is rows-only by design, the q_mst precedent). Centrality is
    * the per-node sum of δ over sources, excluding endpoints.
    *
    * Scale shape: forward rounds shuffle only frontier-sized relations
    * (≤ sources × |V| rows in total across the run); levels are cut
    * and retained for the backward pass; the backward rounds
    * join two adjacent levels against the resident arc table. Below
    * [[MstLocalSolveMaxEdges]] edges the whole computation local-solves
    * on the driver with the SAME integer arithmetic (GraphSpec pins
    * local == forced-distributed). */
  private val betwCache =
    graft.SessionCache.frames[(String, Int, Int)](graft.SessionCache.Result)

  def qBetweenness(
      spark: SparkSession, dir: String, nSources: Int = 8, k: Int = 20,
      maxDepth: Int = 64,
      localSolveMax: Long = MstLocalSolveMaxEdges): DataFrame =
    // session-cached (the qMst posture): one cut result per
    // (session, dir, params), owned by the cache
    betwCache.get(spark, (dir, nSources, k)) {
      val edges = graft.Cut(copurchaseEdges(spark, dir).select("u", "v"))
      val out = betweennessOver(spark, edges.df, edges.rows, nSources, k,
        maxDepth, localSolveMax)
      edges.release()
      out
    }

  private val BetweennessFp = 1L << 20

  /** Core of [[qBetweenness]] over a materialized canonical edge frame.
    * Exposed so the spec can force the distributed path. */
  private[graph] def betweennessOver(
      spark: SparkSession, edges: DataFrame, nEdges: Long,
      nSources: Int, k: Int, maxDepth: Int,
      localSolveMax: Long): DataFrame = {
    import spark.implicits._
    if (nEdges <= localSolveMax) {
      val es = edges.select("u", "v").as[(Long, Long)].collect()
      return brandesLocal(spark, es, nSources, k, maxDepth)
    }
    val cuts = collection.mutable.Buffer.empty[graft.Cut]
    def cut(df: DataFrame): graft.Cut = { cuts += graft.Cut(df); cuts.last }
    val arcs = cut(
      edges.select(col("u").as("a"), col("v").as("b"))
        .unionAll(edges.select(col("v").as("a"), col("u").as("b")))).df
    val sources = edges.select(col("u").as("node"))
      .unionAll(edges.select(col("v").as("node")))
      .distinct().orderBy("node").limit(nSources)
    // forward: levels(d) = (s, v, sigma)
    val levels = collection.mutable.Buffer.empty[DataFrame]
    var frontier = cut(sources
      .select(col("node").as("s"), col("node").as("v"), lit(1L).as("sigma")))
    levels += frontier.df
    var seen = cut(frontier.df.select("s", "v")).df
    var d = 0
    while (frontier.rows > 0 && d < maxDepth) {
      val nxt = cut(frontier.df
        .join(arcs, col("v") === col("a"))
        .groupBy(col("s"), col("b").as("v2"))
        .agg(sum("sigma").as("sigma"))
        .withColumnRenamed("v2", "v")
        .join(seen, Seq("s", "v"), "left_anti"))
      if (nxt.rows > 0) {
        levels += nxt.df
        seen = cut(seen.unionAll(nxt.df.select("s", "v"))).df
      }
      frontier = nxt; d += 1
    }
    // backward: deepest level has delta 0; walk up
    var delta = levels.last.select(col("s"), col("v"), lit(0L).as("delta"))
    val perLevelDeltas = collection.mutable.Buffer.empty[DataFrame]
    perLevelDeltas += delta
    for (di <- (levels.size - 2) to 0 by -1) {
      val wLvl = levels(di + 1).select(col("s"), col("v").as("w"),
          col("sigma").as("sigma_w"))
        .join(delta.select(col("s"), col("v").as("w"),
          col("delta").as("delta_w")), Seq("s", "w"))
      val contrib = levels(di).select(col("s"), col("v"),
          col("sigma").as("sigma_v"))
        .join(arcs, col("v") === col("a"))
        .join(wLvl, col("b") === col("w") &&
          wLvl("s") === levels(di)("s")) // same-source predecessor arcs
      val d2 = cut(contrib
        .groupBy(levels(di)("s").as("s"), col("v"))
        .agg(sum(expr(
          s"sigma_v * ($BetweennessFp + delta_w) div sigma_w"))
          .as("delta"))).df
      // nodes at this level with no successors keep delta 0
      delta = cut(levels(di).select("s", "v")
        .join(d2, Seq("s", "v"), "left")
        .na.fill(0L, Seq("delta"))).df
      perLevelDeltas += delta
    }
    // centrality: sum of deltas over sources, endpoints excluded
    // (depth-0 rows are the sources themselves — drop them)
    val nonSource = perLevelDeltas.init // last appended frame is depth 0
    val all = nonSource.reduce(_ unionAll _)
    val res = graft.Cut(all
      .filter(col("v") =!= col("s"))
      .groupBy(col("v").as("node"))
      .agg(sum("delta").as("centrality_fp"))
      .orderBy(col("centrality_fp").desc, col("node").asc)
      .limit(k))
    cuts.foreach(_.release())
    res.df
  }

  /** Driver Brandes with the SAME fixed-point integer recurrence AND
    * the same depth cap — the local and distributed paths must stay
    * bit-identical on any input, including graphs whose eccentricity
    * exceeds `maxDepth` (the spec's contract). */
  private def brandesLocal(
      spark: SparkSession, es: Array[(Long, Long)],
      nSources: Int, k: Int, maxDepth: Int): DataFrame = {
    import spark.implicits._
    val adj = (es ++ es.map(_.swap)).groupBy(_._1).view
      .mapValues(_.map(_._2).toIndexedSeq).toMap
    val sources = adj.keys.toSeq.sorted.take(nSources)
    val cent = collection.mutable.Map.empty[Long, Long]
    sources.foreach { s =>
      // BFS with path counts
      val depth = collection.mutable.Map(s -> 0)
      val sigma = collection.mutable.Map(s -> 1L)
      val order = collection.mutable.ArrayBuffer(s)
      var qi = 0
      while (qi < order.length) {
        val v = order(qi); qi += 1
        // depth cap mirrors the distributed loop's `d < maxDepth`:
        // nodes at maxDepth are discovered but never expanded
        if (depth(v) < maxDepth) {
          adj.getOrElse(v, IndexedSeq.empty).foreach { w =>
            if (!depth.contains(w)) {
              depth(w) = depth(v) + 1; sigma(w) = 0L; order += w
            }
            if (depth(w) == depth(v) + 1) sigma(w) += sigma(v)
          }
        }
      }
      val delta = collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      order.reverseIterator.foreach { w =>
        adj.getOrElse(w, IndexedSeq.empty).foreach { v =>
          if (depth.get(v).contains(depth(w) - 1))
            delta(v) += sigma(v) * (BetweennessFp + delta(w)) / sigma(w)
        }
        if (w != s) cent(w) = cent.getOrElse(w, 0L) + delta(w)
      }
    }
    cent.toSeq.sortBy { case (n, c) => (-c, n) }.take(k)
      .toDF("node", "centrality_fp")
  }

  /** Deterministic independent-cascade influence spread (Kempe,
    * Kleinberg & Tardos's IC model over its live-edge interpretation):
    * each directed arc of the co-purchase graph fires independently
    * with probability p, and a seed's spread is its reachable set
    * through the fired arcs. The coin is a salted md5 of the ORDERED
    * arc — deterministic, so one live-edge world is fixed per corpus
    * and the DuckDB oracle replays reachability with a recursive CTE
    * (the same derandomized-mechanism posture as
    * [[graft.relational.DataQuality.qDpCounts]]: a real estimator
    * would average worlds over secret salts; this operator's job is to
    * be verifiable). Multi-seed BFS — all seeds advance in one join
    * round each (the [[qBetweenness]] forward shape), frontiers cut,
    * loud failure on round-budget exhaustion. Output: seed, reached-set size, live-arc count. */
  def qInfluenceSpread(
      spark: SparkSession, dir: String, nSeeds: Int = 3,
      pPct: Int = 30, maxRounds: Int = 64): DataFrame = {
    val und = copurchaseEdges(spark, dir).select("u", "v")
    val arcsAll = und.select(col("u").as("a"), col("v").as("b"))
      .unionAll(und.select(col("v").as("a"), col("u").as("b")))
    val arcs = graft.Cut(arcsAll.filter(expr(
      "cast(conv(substring(md5(concat('ic:', cast(a as string), ':'," +
        s" cast(b as string))), 1, 8), 16, 10) as bigint) % 100 < $pPct")))
    val seeds = und.select(col("u").as("node"))
      .unionAll(und.select(col("v").as("node")))
      .distinct().orderBy("node").limit(nSeeds)
    val cuts = collection.mutable.Buffer(arcs)
    var frontier = graft.Cut(
      seeds.select(col("node").as("s"), col("node").as("v")))
    cuts += frontier
    // `seen` is a LAZY union of the already-cut round leaves, so
    // re-reading the union costs cache scans only, and the former
    // per-round cut of seen ∪ nxt — a second action + a full rewrite of
    // the visited set every round — is gone (r16; one action per round
    // instead of two). Union depth is bounded by the round cap.
    var seen = frontier.df
    var round = 0
    while (frontier.rows > 0 && round < maxRounds) {
      val nxt = graft.Cut(frontier.df
        .join(arcs.df, col("v") === col("a"))
        .select(col("s"), col("b").as("v")).distinct()
        .join(seen, Seq("s", "v"), "left_anti"))
      cuts += nxt
      if (nxt.rows > 0) seen = seen.unionAll(nxt.df)
      frontier = nxt; round += 1
    }
    if (frontier.rows > 0) throw new IllegalStateException(
      s"cascade did not settle in $maxRounds rounds")
    val out = seen.groupBy(col("s").as("seed"))
      .agg(count(lit(1)).as("n_reached"))
      .withColumn("n_live_arcs", lit(arcs.rows))
      .orderBy("seed")
    val rows = out.collect() // nSeeds rows — force, then free the run
    cuts.foreach(_.release())
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** Degree assortativity of the trade graph — Newman's r: the Pearson
    * correlation of endpoint degrees over every (symmetrized) arc.
    * Negative r is the disassortative hub-leaf signature of bipartite
    * trade/web graphs; it decides orientation and salting strategies
    * downstream the same way [[qDegreeHist]]'s tail does. The
    * [[graft.relational.EventQueries.qCorrMatrix]] discipline: every
    * moment (M, Σd_u, Σd_u², Σd_u·d_v) is an exact integer aggregate —
    * symmetry makes the x and y marginals identical so one moment table
    * serves both — and the correlation is assembled at the end from
    * decimal-exact numerators with one IEEE division; the integer
    * covariance numerator ships as the hash anchor. Shuffle profile:
    * the resident degree-annotated edge artifact joined once more on
    * dst (node-sized table), one global aggregate. */
  def qAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val ed = tradeEdgesDeg(spark, dir) // (src, dst, outdeg) symmetrized
    val deg = ed.select(col("src").as("dst"), col("outdeg").as("ddeg"))
      .distinct()
    val m = ed.join(deg, "dst")
      .agg(count(lit(1)).as("m"),
        sum("outdeg").as("sx"),
        sum(expr("outdeg * outdeg")).as("sxx"),
        sum(expr("outdeg * ddeg")).as("sxy"))
    m.select(col("m"), col("sx"), col("sxx"), col("sxy"))
      .withColumn("cov_num", expr(
        "cast(m as decimal(38,0)) * sxy - cast(sx as decimal(38,0)) * sx"))
      .withColumn("var_num", expr(
        "cast(m as decimal(38,0)) * sxx - cast(sx as decimal(38,0)) * sx"))
      .select(col("m").as("n_arcs"), col("sx"), col("sxx"), col("sxy"),
        col("cov_num").cast("long").as("cov_num"),
        round(expr("cast(cov_num as double) / cast(var_num as double)"), 6)
          .as("assortativity"))
  }

  /** Effective diameter (the 90th-percentile pairwise distance) from the
    * HyperBall neighborhood function — THE diameter statistic for
    * web-scale graphs, where the exact diameter is both intractable
    * (all-pairs) and meaningless (one stray path dominates). r_eff is
    * the smallest radius whose neighborhood function clears 90% of
    * N(radius); the fractional refinement interpolates linearly inside
    * that shell (Palmer/Faloutsos ANF convention) in exact 1e-4 fixed
    * point: with the crossing shell [N(r−1), N(r)],
    *   d_eff_e4 = (r−1)·10⁴ + (9·N_max − 10·N(r−1))·10⁴
    *              div (10·(N(r) − N(r−1)))
    * — strictly positive denominator by minimality of r, all-integer,
    * non-negative floor divisions only. The argmin windows run over the
    * radius+1 aggregate rows (bounded by the radius constant, not the
    * graph — the defended global-window posture). Costs the same
    * cut [[hyperBallRounds]] artifacts as [[qHyperBall]], two
    * extra radii deep. */
  def qEffectiveDiameter(
      spark: SparkSession, dir: String, radius: Int = 3): DataFrame = {
    val rounds = hyperBallRounds(spark, dir, radius)
    val nf = rounds.zipWithIndex.map { case (regs, r) =>
      ballEstE4(regs)
        .agg(count(lit(1)).as("n_nodes"), sum("est_e4").as("nf_e4"))
        .select(lit(r.toLong).as("r"), col("n_nodes"), col("nf_e4"))
    }.reduce(_ unionAll _)
    val rows = nf.collect() // the cached round frames stay resident
    val nfDf = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), nf.schema)
    val tgt = nfDf.filter(col("r") === radius)
      .select(col("nf_e4").as("nf_max"))
    val w = Window.orderBy("r") // radius+1 rows — bounded by a constant
    nfDf.crossJoin(broadcast(tgt))
      .withColumn("nf_prev", lag("nf_e4", 1).over(w))
      .filter(col("nf_e4") * 10 >= col("nf_max") * 9)
      .withColumn("rn", row_number().over(Window.orderBy("r")))
      .filter(col("rn") === 1)
      .select(col("r").as("r_eff"), col("n_nodes"),
        col("nf_e4").as("nf_r"), col("nf_max"),
        when(col("r") === 0, lit(0L)).otherwise(
          (col("r") - 1) * 10000 +
            expr("(nf_max * 9 - nf_prev * 10) * 10000" +
              " div ((nf_e4 - nf_prev) * 10)")).as("d_eff_e4"))
  }

  /** Strongly connected components of the DIRECTED nation-level trade
    * graph — the directed-reachability census missing from the
    * otherwise-undirected graph family: an edge cust_nation → supp_nation
    * for every lineitem (demand flows from the buyer's nation to the
    * seller's), thresholded to at-or-above-MEAN pair volume so the
    * census reflects structural trade routes, not one-off orders (a
    * scale-free gate: `n · n_pairs ≥ Σn` in exact integers). SCC id is
    * the canonical `min{u : u →* v and v →* u}` (v itself included).
    *
    * Scale shape: the ONLY corpus-scale pass is the edge census — a
    * lineitem⨝orders join plus broadcast dimension hops, aggregated to
    * nation pairs with map-side combine. The thresholded graph is
    * bounded by nations² (625 cells), so the reachability closure runs
    * driver-side over the COLLECTED census (Floyd–Warshall on a bitset —
    * the [[graft.relational.Inference.qMarkovStationary]] bounded-collect
    * posture); at 100 TB only the census grows, never the closure.
    * Isolated nations surface as singleton SCCs. */
  def qSccTrade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nations = load(spark, dir, "nation")
      .select(col("n_nationkey").cast("int").as("nk"), col("n_name"))
    val e0 = load(spark, dir, "lineitem")
      .join(load(spark, dir, "orders"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(load(spark, dir, "customer")
          .select("c_custkey", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(load(spark, dir, "supplier")
          .select("s_suppkey", "s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("c_nationkey").cast("int").as("src"),
        col("s_nationkey").cast("int").as("dst"))
      .agg(count(lit(1)).as("n"))
    val cells = e0.as[(Int, Int, Long)].collect()
    val nPairs = cells.length.toLong
    val tot = cells.map(_._3).sum
    val edges = cells.filter(c => c._3 * nPairs >= tot)
    val nodes = nations.as[(Int, String)].collect().sortBy(_._1)
    val idx = nodes.map(_._1).zipWithIndex.toMap
    val k = nodes.length
    // Floyd–Warshall reachability over ≤ nations² cells
    val reach = Array.fill(k, k)(false)
    edges.foreach(e => reach(idx(e._1))(idx(e._2)) = true)
    for (m <- 0 until k; i <- 0 until k if reach(i)(m);
         j <- 0 until k if reach(m)(j)) reach(i)(j) = true
    val sccId = (0 until k).map { v =>
      (0 until k).collectFirst {
        case u if u == v || (reach(u)(v) && reach(v)(u)) => nodes(u)._1
      }.get
    }
    val sizes = sccId.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val outDeg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    nodes.indices.map { v =>
      (nodes(v)._2, sccId(v).toLong, sizes(sccId(v)),
        outDeg.getOrElse(nodes(v)._1, 0L))
    }.toDF("nation", "scc_id", "scc_size", "n_out")
  }
}
