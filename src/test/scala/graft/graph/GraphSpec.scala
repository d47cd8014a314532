package graft.graph

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** PageRank: fixed-point contract against an in-memory reference
  * simulator, bit-identity across shuffle layouts, and the lineitem
  * trade-graph query shape. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** Driver-side reference of GraphOps.pageRank's per-round arithmetic:
    * truncating long division per edge, then damp. */
  private def simulate(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = out.keys.map(_ -> GraphOps.Scale).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (s, _) => r(s) / out(s) }.sum
      }.toMap
      r = in.map { case (n, s) => n -> (GraphOps.Teleport + 85L * s / 100L) }
    }
    r
  }

  // undirected path 1-2-3 plus a pendant 4 on node 2, both arcs each
  private val pathEdges: Seq[(Long, Long)] =
    Seq(1L -> 2L, 2L -> 1L, 2L -> 3L, 3L -> 2L, 2L -> 4L, 4L -> 2L)

  test("pageRank matches the exact fixed-point simulator") {
    val got = GraphOps
      .pageRank(spark, pathEdges.toDF("src", "dst"), iters = 5)
      .as[(Long, Long)].collect().toMap
    assert(got === simulate(pathEdges, 5))
    // the hub (node 2) must outrank every leaf
    assert(got(2L) > got(1L) && got(2L) > got(3L) && got(2L) > got(4L))
  }

  test("pageRank is bit-identical across shuffle layouts") {
    val df = pathEdges.toDF("src", "dst")
    val a = GraphOps.pageRank(spark, df.repartition(1), 4)
      .as[(Long, Long)].collect().toMap
    val b = GraphOps.pageRank(spark, df.repartition(7, col("dst")), 4)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  /** PPR reference: sparse rank map, teleport only to seeds. */
  private def simulatePpr(
      edges: Seq[(Long, Long)], seeds: Set[Long], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r: Map[Long, Long] = seeds.map(_ -> GraphOps.Scale).toMap
    for (_ <- 1 to iters) {
      val in = edges.filter(e => r.contains(e._1)).groupBy(_._2)
        .view.mapValues { es =>
          85L * es.map { case (s, _) => r(s) / out(s) }.sum / 100L
        }.toMap
      r = (in.keySet ++ seeds).map { n =>
        n -> (in.getOrElse(n, 0L) +
          (if (seeds.contains(n)) GraphOps.Teleport else 0L))
      }.toMap
    }
    r
  }

  test("personalized pagerank matches the sparse-frontier simulator") {
    val seeds = Set(1L)
    val got = GraphOps.personalizedPageRank(spark,
      pathEdges.toDF("src", "dst"), Seq(1L).toDF("node"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got === simulatePpr(pathEdges, seeds, 4))
    // proximity: the seed outranks its neighbor, which outranks the far
    // leaves (3 and 4 are symmetric around node 2)
    assert(got(1L) > got(2L) && got(2L) > got(3L) && got(3L) === got(4L))
    // sparsity: after 1 round only the seed and its neighbors hold mass
    val oneRound = GraphOps.personalizedPageRank(spark,
      pathEdges.toDF("src", "dst"), Seq(1L).toDF("node"), iters = 1)
      .as[(Long, Long)].collect().toMap
    assert(oneRound.keySet === Set(1L, 2L))
  }

  test("random walks equal a JVM replay of the md5-hop contract") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = (pairs ++ pairs.map(p => (p._2, p._1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toIndexedSeq).toMap
    val (steps, walksPerNode) = (10, 2)
    val want = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    adj.keys.filter(_ % 2 == 0).foreach { start =>
      for (w <- 0 until walksPerNode) {
        val walkId = start * walksPerNode + w
        var at = start
        want += ((walkId, 0L, start))
        for (i <- 1 to steps) {
          val ns = adj(at)
          val rk = java.lang.Long.parseLong(
            md5hex(s"$walkId:$i").take(8), 16) % ns.length
          at = ns(rk.toInt)
          want += ((walkId, i.toLong, at))
        }
      }
    }
    val got = GraphOps.qRandomWalks(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === want.toSet)
    // every walk is complete: steps 0..steps present per walk_id, and
    // each start node launches walksPerNode distinct walks
    got.groupBy(_._1).values.foreach(w =>
      assert(w.map(_._2) === (0L to steps.toLong).toSet))
    assert(got.map(_._1).size ===
      adj.keys.count(_ % 2 == 0) * walksPerNode)
  }

  /** Driver-side reference of pageRankDangling: full node universe,
    * uniform dangling redistribution, residual stop. Returns (ranks,
    * realized rounds). */
  private def simulateDangling(
      edges: Seq[(Long, Long)], eps: Long,
      maxIters: Int): (Map[Long, Long], Int) = {
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    val n = nodes.size.toLong
    var r = nodes.map(_ -> GraphOps.Scale).toMap
    var i = 0
    var converged = false
    while (i < maxIters && !converged) {
      i += 1
      val dm = nodes.filterNot(out.contains).map(r).sum
      val share = dm / n
      val in = edges.groupBy(_._2).view.mapValues { es =>
        es.map { case (s, _) => r(s) / out(s) }.sum
      }.toMap
      val next = nodes.map(nd => nd ->
        (GraphOps.Teleport + 85L * (in.getOrElse(nd, 0L) + share) / 100L))
        .toMap
      val resid = nodes.map(nd => math.abs(next(nd) - r(nd))).max
      r = next
      converged = resid < eps
    }
    (r, i)
  }

  test("dangling pagerank matches the simulator, stops early, holds sink rank") {
    // 1→2, 1→3, 2→3: node 3 is a sink; without redistribution its mass
    // (and 85% of the graph's, eventually) would leak every round
    val edges = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L)
    val eps = 10000000000L
    val (want, wantRounds) = simulateDangling(edges, eps, 40)
    val (gotDf, gotRounds) =
      GraphOps.pageRankDangling(spark, edges.toDF("src", "dst"), eps, 40)
    val got = gotDf.as[(Long, Long)].collect().toMap
    assert(got === want)
    assert(gotRounds === wantRounds)
    assert(gotRounds < 40, "residual stop never fired")
    // the sink holds the most rank (everything flows into it), and mass
    // is conserved up to truncation
    assert(got(3L) > got(1L) && got(3L) > got(2L))
    val total = got.values.sum
    assert(total <= 3 * GraphOps.Scale)
    assert(total > (3 * GraphOps.Scale * 0.999).toLong)
  }

  test("q_pagerank_dangling: sinks hold rank, mass conserved at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    val res = GraphOps.qPageRankDangling(spark, dir).cache()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val nSupp = li.select("l_suppkey").distinct().count()
    val nPart = li.select("l_partkey").distinct().count()
    assert(res.filter($"node_type" === "supplier").count() === nSupp)
    assert(res.filter($"node_type" === "part").count() === nPart)
    val total = res.agg(sum($"rank_fp")).as[Long].head()
    val init = (nSupp + nPart) * GraphOps.Scale
    assert(total <= init)
    assert(total > (init * 0.999).toLong)
    // every part is a sink in the directed graph; redistribution must
    // leave ALL of them ranked above bare teleport mass
    val minPart = res.filter($"node_type" === "part")
      .agg(min($"rank_fp")).as[Long].head()
    assert(minPart > GraphOps.Teleport)
    res.unpersist()
  }

  test("q_pagerank covers every trade-graph node and conserves mass") {
    val dir = "/root/testdata/sf0.001"
    val res = GraphOps.qPageRank(spark, dir).cache()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
    val nSupp = li.select("l_suppkey").distinct().count()
    val nPart = li.select("l_partkey").distinct().count()
    assert(res.filter($"node_type" === "supplier").count() === nSupp)
    assert(res.filter($"node_type" === "part").count() === nPart)
    // truncating division only LOSES mass, a bounded few units per
    // node per round — total stays within 1e-6 of the initial mass
    val total = res.agg(sum($"rank_fp")).as[Long].head()
    val init = (nSupp + nPart) * GraphOps.Scale
    assert(total <= init)
    assert(total > (init * 0.999999).toLong)
    res.unpersist()
  }

  test("delta pagerank: empty delta == cold run; real delta covers all nodes") {
    val dir = "/root/testdata/sf0.001"
    // cutoff past the lake's max shipdate -> base graph IS the full
    // graph, so 3 warm-started + 2 settle rounds must equal a cold
    // 5-round run bit-for-bit (the warm start is a pure continuation)
    val cold = GraphOps.qPageRank(spark, dir, iters = 5).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cont = GraphOps.qPageRankDelta(spark, dir,
      baseIters = 3, deltaIters = 2, cutoff = "2002-01-01").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(cont === cold)
    // the real cutoff: every full-graph node ranks (delta-born nodes
    // enter at cold-start mass and re-rank under full degrees)
    val delta = GraphOps.qPageRankDelta(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(delta.keySet === cold.keySet)
    assert(delta.values.forall(_ > 0))
  }

  test("walk pairs match a driver replay of the symmetric window") {
    // hand-built walk corpus: two walks, one shared node (10)
    val walks = Seq(
      (0L, 0L, 10L), (0L, 1L, 11L), (0L, 2L, 12L), (0L, 3L, 13L),
      (1L, 0L, 20L), (1L, 1L, 10L), (1L, 2L, 21L))
      .toDF("walk_id", "step", "node")
    val window = 2
    val byWalk = Seq(Seq(10L, 11L, 12L, 13L), Seq(20L, 10L, 21L))
    val want = scala.collection.mutable.Map.empty[(Long, Long), Long]
      .withDefaultValue(0L)
    for (wk <- byWalk; i <- wk.indices; d <- 1 to window
         if i + d < wk.size) {
      want((wk(i), wk(i + d))) += 1
      want((wk(i + d), wk(i))) += 1
    }
    val got = GraphOps.walkPairs(walks, window)
      .select(
        when($"center_type" === "supplier", $"center_id" * 2)
          .otherwise($"center_id" * 2 + 1).as("a"),
        when($"ctx_type" === "supplier", $"ctx_id" * 2)
          .otherwise($"ctx_id" * 2 + 1).as("b"),
        $"pairs")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, n) => (a, b) -> n }.toMap
    assert(got === want.toMap)
    // symmetry: every (a,b) count equals its (b,a) mirror
    got.foreach { case ((a, b), n) => assert(got((b, a)) === n) }
  }

  /** Driver-side reference of labelPropagation: most frequent
    * in-neighbor label, min-label tiebreak, synchronous rounds. */
  private def simulateLpa(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    var lbl = edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to iters) {
      lbl = edges.groupBy(_._2).view.mapValues { es =>
        val cnt = es.groupBy(e => lbl(e._1)).view.mapValues(_.size).toMap
        cnt.toSeq.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lbl
  }

  test("label propagation matches the simulator and separates cliques") {
    // two triangles bridged by one edge (3-4); undirected as both arcs
    val und = Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 4L -> 5L, 4L -> 6L,
      5L -> 6L, 3L -> 4L)
    val edges = und ++ und.map(_.swap)
    val got = GraphOps
      .labelPropagation(spark, edges.toDF("src", "dst"), 4)
      .as[(Long, Long)].collect().toMap
    assert(got === simulateLpa(edges, 4))
    // min-label floods each triangle; the bridge doesn't merge them
    assert(got(1L) === got(2L))
    assert(got(5L) === got(6L))
    assert(got(1L) !== got(5L))
  }

  test("triangle census: K4 + pendant, every triangle counted once") {
    // K4 on {1,2,3,4} (4 triangles, 3 per node) + pendant edge 1-5
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (1L, 5L)).toDF("u", "v")
    val got = GraphOps.triangleCensus(spark, edges)
      .orderBy("node").as[(Long, Long, Long, Double)].collect()
    assert(got === Seq(
      (1L, 4L, 3L, 0.5), // 3 of C(4,2)=6 neighbor pairs close
      (2L, 3L, 3L, 1.0),
      (3L, 3L, 3L, 1.0),
      (4L, 3L, 3L, 1.0),
      (5L, 1L, 0L, 0.0)))
    // global count: per-node triangles sum to 3x the triangle count
    assert(got.map(_._3).sum === 3 * 4)
  }

  test("k-core peels pendant chains, keeps the clique, converges") {
    // K4 on {1,2,3,4} + a chain 4-5-6 hanging off it: the 3-core is
    // exactly the K4 (peeling 6 exposes 5, then 5 peels too — the
    // multi-round cascade the fixed unroll must cover)
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("u", "v")
    val got = GraphOps.kCore(spark, edges, 3)
      .orderBy("node").as[(Long, Long)].collect()
    assert(got === Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)))
    // k above the densest degree empties the graph
    assert(GraphOps.kCore(spark, edges, 5).isEmpty)
  }

  test("walk kernel path == step-join path on random graphs") {
    // the two walk implementations (collected-adjacency kernel vs
    // per-step rank join) must be indistinguishable on ANY graph; seeds
    // chosen deterministically so the case replays
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 3) {
      val n = 6 + rnd.nextInt(10)
      val und = (for {
        u <- 0L until n.toLong; v <- (u + 1) until n.toLong
        if rnd.nextInt(100) < 35
      } yield (u, v)).toSeq
      // keep every node reachable: chain fallback for isolated nodes
      val chain = (0L until (n - 1).toLong).map(i => (i, i + 1))
      val edges = (und ++ chain).distinct
        .flatMap { case (u, v) => Seq((u, v), (v, u)) }
        .toDF("src", "dst")
      val starts = edges.select(col("src").as("node")).distinct()
      val small = GraphOps.randomWalks(spark, edges, starts, 6, 2,
        index = Some(GraphOps.walkIndex(spark, edges)))
      val large = GraphOps.randomWalks(spark, edges, starts, 6, 2,
        index = Some(GraphOps.walkIndex(spark, edges, forceLarge = true)))
      val a = small.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val b = large.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(a === b, s"trial $trial: kernel and join paths diverged")
      assert(a.nonEmpty)
      // RENDER-CLIFF guard (r13): the large path must publish a FRESH
      // LEAF, not the union of per-step join chains — every downstream
      // ACTION renders the full plan string for the SQL-listener event,
      // and the nested-InMemoryRelation union made plan RENDERING the
      // dominant cost of q_embed_eval at sf1 (the r12 "92×" verdict).
      // A leaf renders in one line; bound the whole tree string tightly
      // so a regression to lineage-carrying publication fails here.
      val rendered = large.queryExecution.logical.numberedTreeString
      assert(rendered.length < 2000,
        s"walk corpus plan renders ${rendered.length} chars — the large" +
          " path stopped publishing a leaf (r12 q_embed_eval cliff class)")
    }
  }

  test("degree histogram: buckets partition nodes, sum_deg = edge count") {
    val dir = "/root/testdata/sf0.001"
    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_suppkey", "l_partkey").distinct()
    val nPairs = pairs.count()
    val nSupp = pairs.select("l_suppkey").distinct().count()
    val nPart = pairs.select("l_partkey").distinct().count()
    val got = GraphOps.qDegreeHist(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(got.map(_._3).sum === nSupp + nPart)
    // undirected bipartite: each side's degrees sum to the pair count
    assert(got.filter(_._1 == "supplier").map(_._6).sum === nPairs)
    assert(got.filter(_._1 == "part").map(_._6).sum === nPairs)
    // bit-length bucket bounds: 2^bucket <= deg < 2^(bucket+1)
    got.foreach { case (_, b, _, lo, hi, _) =>
      assert(lo >= (1L << b) && hi < (1L << (b + 1)))
    }
  }

  test("link prediction: CN + RA equal a JVM replay, no existing edges") {
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.copurchaseEdges(spark, dir)
      .select("u", "v").as[(Long, Long)].collect()
    val adj = edges.flatMap { case (u, v) => Seq(u -> v, v -> u) }
    val deg = adj.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nbrs = adj.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val want = scala.collection.mutable.Map[(Long, Long), (Long, Long)]()
    nbrs.foreach { case (z, ns) =>
      if (deg(z) <= GraphOps.LinkPredictMaxDeg) {
        val s = ns.sorted
        for (i <- s.indices; j <- i + 1 until s.length) {
          val k = (s(i), s(j))
          val (cn, ra) = want.getOrElse(k, (0L, 0L))
          want(k) = (cn + 1, ra + 1000000L / deg(z))
        }
      }
    }
    val edgeSet = edges.toSet
    val expected = want.toMap
      .filter(_._2._1 >= 2).filterNot(p => edgeSet.contains(p._1))
    val got = GraphOps.qLinkPredict(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.size === expected.size)
    expected.foreach { case (k, v) => assert(got(k) === v, s"pair $k") }
    assert(got.nonEmpty)
    // scored pairs are genuinely non-adjacent
    got.keys.foreach(k => assert(!edgeSet.contains(k)))
  }

  test("weighted pagerank: mass bounded, volume signal changes the ranking") {
    val dir = "/root/testdata/sf0.001"
    val w = GraphOps.qPageRankWeighted(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val u = GraphOps.qPageRank(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(w.keySet === u.keySet, "same node universe")
    // truncating fixed point only loses mass: total <= n * Scale
    assert(w.values.map(BigInt(_)).sum <= BigInt(w.size) * GraphOps.Scale)
    w.values.foreach(r => assert(r >= GraphOps.Teleport))
    // the multiplicity signal is real: some pair of nodes ranks in a
    // different ORDER than under the unweighted graph
    val nodes = w.keys.toSeq.sorted
    val flipped = nodes.combinations(2).exists { case Seq(a, b) =>
      (w(a) - w(b)).sign * (u(a) - u(b)).sign < 0
    }
    assert(flipped, "weights should reorder at least one pair")
  }

  test("hyperball: N(r) tracks the exact BFS neighborhood function") {
    val dir = "/root/testdata/sf0.001"
    val pairs = graft.relational.Tables.load(spark, dir, "lineitem")
      .selectExpr("l_suppkey as s", "l_partkey as p").distinct()
      .collect().map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val adj = (pairs.map { case (s, p) => s -> p } ++
      pairs.map { case (s, p) => p -> s })
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val nodes = adj.keySet
    // exact neighborhood function by per-node frontier expansion
    def nf(r: Int): Long = nodes.toSeq.map { v =>
      var ball = Set(v)
      (1 to r).foreach(_ => ball = ball ++ ball.flatMap(adj(_)))
      ball.size.toLong
    }.sum
    val got = GraphOps.qHyperBall(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set(0L, 1L, 2L))
    got.values.foreach { case (n, _) => assert(n === nodes.size.toLong) }
    // estimates within 10% of the exact N(r) (256-register HLL summed
    // over all nodes: per-node rsd 6.5% averages down across the sum)
    (0 to 2).foreach { r =>
      val exact = nf(r).toDouble
      val est = got(r.toLong)._2 / 10000.0
      assert(math.abs(est - exact) <= 0.10 * exact,
        s"r=$r est $est vs exact $exact")
    }
    // monotone: a bigger ball never estimates smaller
    assert(got(0L)._2 <= got(1L)._2 && got(1L)._2 <= got(2L)._2)
  }

  test("copurchase graph: support threshold and census agree on testdata") {
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.copurchaseEdges(spark, dir)
    assert(edges.filter(col("u") >= col("v")).isEmpty) // canonical
    assert(edges.filter(col("support") < GraphOps.CopurchaseMinSupport).isEmpty)
    val census = GraphOps.qTriangles(spark, dir)
    val nodes = edges.select(col("u").as("n"))
      .unionAll(edges.select(col("v").as("n"))).distinct().count()
    assert(census.count() === nodes)
  }

  test("BFS levels match a driver-side reference on a cyclic graph") {
    // square 1-2-3-4-1 with a tail 4-5-6 and an unreachable island 8-9
    val arcs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L,
      4L -> 5L, 5L -> 6L, 8L -> 9L)
    val edges = (arcs ++ arcs.map(_.swap)).toDF("src", "dst")
    val got = GraphOps
      .bfsFrom(edges, Seq(1L).toDF("node"), maxDepth = 10)
      .as[(Long, Long)].collect().toMap
    // cycle gives two equal-length routes to 3; the min (level) wins
    assert(got === Map(1L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L,
      5L -> 2L, 6L -> 3L)) // island 8-9 absent
  }

  test("BFS multi-source takes the minimum over sources and caps depth") {
    val arcs = (1L to 6L).sliding(2).map(p => p.head -> p.last).toSeq
    val edges = (arcs ++ arcs.map(_.swap)).toDF("src", "dst")
    val multi = GraphOps
      .bfsFrom(edges, Seq(1L, 6L).toDF("node"), maxDepth = 10)
      .as[(Long, Long)].collect().toMap
    assert(multi === Map(1L -> 0L, 6L -> 0L, 2L -> 1L, 5L -> 1L,
      3L -> 2L, 4L -> 2L))
    val capped = GraphOps
      .bfsFrom(edges, Seq(1L).toDF("node"), maxDepth = 2)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
  }

  test("HITS matches a driver-side replay; max score normalizes to 1e6") {
    val dir = "/root/testdata/sf0.001"
    val pairs = graft.relational.Tables.load(spark, dir, "lineitem")
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct().as[(Long, Long)].collect().toSeq
    var hub = pairs.map(_._1).distinct.map(_ -> 1000000L).toMap
    var auth = Map.empty[Long, Long]
    for (_ <- 1 to GraphOps.HitsIters) {
      val aRaw = pairs.groupBy(_._2).view
        .mapValues(_.map(x => hub(x._1)).sum).toMap
      val aMax = aRaw.values.max
      auth = aRaw.view.mapValues(r =>
        (BigInt(r) * 1000000 / aMax).toLong).toMap
      val hRaw = pairs.groupBy(_._1).view
        .mapValues(_.map(x => auth(x._2)).sum).toMap
      val hMax = hRaw.values.max
      hub = hRaw.view.mapValues(r =>
        (BigInt(r) * 1000000 / hMax).toLong).toMap
    }
    val got = GraphOps.qHits(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = hub.map { case (s, h) => ("hub", s) -> h } ++
      auth.map { case (p, a) => ("authority", p) -> a }
    assert(got === want)
    // L-infinity normalization: each role's best score is exactly 1e6
    assert(got.filterKeys(_._1 == "hub").values.max === 1000000L)
    assert(got.filterKeys(_._1 == "authority").values.max === 1000000L)
    assert(got.values.forall(v => v >= 0 && v <= 1000000L))
  }

  test("modularity census: arc partition invariants and a driver replay") {
    val dir = "/root/testdata/sf0.001"
    val q = GraphOps.qModularity(spark, dir).collect()
    // independent driver-side LPA replay over the co-purchase arcs
    // (same contract as lpaRounds: max count, min label tiebreak)
    val und = GraphOps.copurchaseEdges(spark, dir)
      .select("u", "v").as[(Long, Long)].collect()
    val arcs = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    var lbl = arcs.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LabelPropIters)
      lbl = arcs.groupBy(_._2).map { case (d, as) =>
        val cnt = as.groupBy(a => lbl(a._1)).view.mapValues(_.size).toMap
        val mc = cnt.values.max
        d -> cnt.collect { case (l, c) if c == mc => l }.min
      }
    val twom = arcs.length.toLong
    // every arc lands in exactly one community's tot_deg; in_arcs ≤ tot
    assert(q.map(_.getLong(3)).sum === twom)
    assert(q.forall(r => r.getLong(2) <= r.getLong(3)))
    // exact ppm replay per community
    val want = arcs.groupBy(a => lbl(a._1)).map { case (c, as) =>
      val tot = as.length.toLong
      val in = as.count(a => lbl(a._2) == c).toLong
      c -> ((BigInt(1000000) * in / twom
        - BigInt(1000000) * tot * tot / (BigInt(twom) * twom)).toLong,
        tot, in)
    }
    val got = q.map(r => r.getLong(0) ->
      ((r.getLong(4), r.getLong(3), r.getLong(2)))).toMap
    assert(got === want)
    // Newman bound. On this dense synthetic fixture LPA floods to one
    // community and the census correctly DIAGNOSES the worthless
    // partition as Q = 0 (single community: in = 2m ⇒ both ppm terms
    // are 1e6) — the "measure before trusting" story. Positive-Q
    // detection on a genuinely clustered graph is pinned below.
    val totalQ = q.map(_.getLong(4)).sum
    assert(totalQ >= -500000L && totalQ <= 1000000L)
    if (q.length == 1) assert(totalQ === 0L)
  }

  test("modularity census detects real cluster structure (two cliques)") {
    // two 4-cliques bridged by one edge; labels = the true cliques
    val cliqueA = Seq(1L, 2L, 3L, 4L)
    val cliqueB = Seq(11L, 12L, 13L, 14L)
    def clique(ns: Seq[Long]) =
      for (a <- ns; b <- ns if a != b) yield (a, b)
    val arcs = clique(cliqueA) ++ clique(cliqueB) ++ Seq((4L, 11L), (11L, 4L))
    val edges = arcs.toDF("src", "dst")
    val labels = (cliqueA.map(_ -> 1L) ++ cliqueB.map(_ -> 2L))
      .toDF("node", "lbl")
    val got = GraphOps.modularityCensus(edges, labels).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))).toMap
    // 2m = 26 arcs; each clique: 12 internal arcs, tot 13
    // q = 1e6·12/26 − 1e6·13²/26² = 461538 − 250000 = 211538
    assert(got === Map(
      1L -> ((4L, 12L, 13L, 211538L)), 2L -> ((4L, 12L, 13L, 211538L))))
    assert(got.values.map(_._4).sum > 400000L) // strongly clustered
  }

  test("SSSP takes the cheap 2-hop route over the expensive direct edge") {
    // 1→2 costs 10 direct, but 1→3→2 costs 1+2=3; tail 2→4 extends it
    val arcs = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L), (2L, 4L, 5L))
    val edges = (arcs ++ arcs.map(a => (a._2, a._1, a._3)))
      .toDF("src", "dst", "w")
    val got = GraphOps.ssspFrom(edges, Seq(1L).toDF("node"), maxRounds = 6)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 0L, 3L -> 1L, 2L -> 3L, 4L -> 8L))
    // the round cap bounds path LENGTH: with one round only the direct
    // edges are reachable, so 2 keeps its expensive 1-hop cost
    val capped = GraphOps.ssspFrom(edges, Seq(1L).toDF("node"), maxRounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(capped === Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
  }

  test("SSSP frontier relaxation equals full Bellman-Ford on a cycle") {
    // ring 1..5 (unit weights) + chord 1-4 cost 10: frontier skipping
    // must still find the ring-route minima everywhere
    val ring = (1L to 5L).map(i => (i, i % 5 + 1, 1L))
    val arcs = ring :+ ((1L, 4L, 10L))
    val edges = (arcs ++ arcs.map(a => (a._2, a._1, a._3)))
      .toDF("src", "dst", "w")
    def full(rounds: Int): Map[Long, Long] = {
      val es = arcs ++ arcs.map(a => (a._2, a._1, a._3))
      var d = Map(1L -> 0L)
      for (_ <- 1 to rounds)
        d = (d.toSeq ++ es.flatMap { case (s, t, w) =>
          d.get(s).map(ds => t -> (ds + w)) })
          .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
      d
    }
    for (r <- 1 to 4) {
      val got = GraphOps.ssspFrom(edges, Seq(1L).toDF("node"), r)
        .as[(Long, Long)].collect().toMap
      assert(got === full(r), s"round $r")
    }
  }

  test("SSSP is identical across shuffle layouts and multi-source") {
    val arcs = Seq((1L, 2L, 3L), (2L, 3L, 4L), (3L, 4L, 1L), (4L, 1L, 2L),
      (4L, 5L, 7L))
    val edges = (arcs ++ arcs.map(a => (a._2, a._1, a._3)))
      .toDF("src", "dst", "w")
    val a = GraphOps.ssspFrom(edges.repartition(1),
      Seq(1L, 5L).toDF("node"), 6).as[(Long, Long)].collect().toMap
    val b = GraphOps.ssspFrom(edges.repartition(5, col("dst")),
      Seq(1L, 5L).toDF("node"), 6).as[(Long, Long)].collect().toMap
    assert(a === b)
    assert(a(5L) === 0L && a(1L) === 0L)
    assert(a(4L) === 2L) // via node 1's side, not 5's direct 7
  }

  test("Borůvka forest matches known MSTs on synthetic graphs") {
    // square 1-2-3-4 with weights forcing the diagonal out:
    // MST = {1-2:1, 2-3:2, 3-4:3}; edge 4-1:9 excluded
    val sq = Seq((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L), (1L, 4L, 9L))
      .toDF("u", "v", "w")
    val gotSq = GraphOps.boruvkaForest(sq, localSolveMax = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotSq === Set((1L, 2L, 1L), (2L, 3L, 2L), (3L, 4L, 3L)))
    // equal weights: the lexicographic-minimum MST wins deterministically
    // (cycle 1-2-3 all weight 5 -> drop the lexicographically largest 2-3)
    val tie = Seq((1L, 2L, 5L), (1L, 3L, 5L), (2L, 3L, 5L)).toDF("u", "v", "w")
    val gotTie = GraphOps.boruvkaForest(tie, localSolveMax = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotTie === Set((1L, 2L, 5L), (1L, 3L, 5L)))
    // two disconnected components: a spanning FOREST, one tree each
    val forest2 = Seq((1L, 2L, 1L), (2L, 3L, 2L), (1L, 3L, 3L),
      (10L, 11L, 1L)).toDF("u", "v", "w")
    val gotF = GraphOps.boruvkaForest(forest2, localSolveMax = 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(gotF === Set((1L, 2L, 1L), (2L, 3L, 2L), (10L, 11L, 1L)))
    // a chain forces multi-round contraction with long pointer trees
    val chain = (1L to 12L).sliding(2).map(p => (p.head, p.last, p.head))
      .toSeq.toDF("u", "v", "w")
    val gotC = GraphOps.boruvkaForest(chain, localSolveMax = 0)
      .as[(Long, Long, Long)].collect()
    assert(gotC.length === 11) // every chain edge is in the MST
  }

  test("Borůvka equals a driver-side Kruskal on the co-purchase graph") {
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.copurchaseEdges(spark, dir)
      .select(col("u"), col("v"), expr("1000000 div support").as("w"))
      .as[(Long, Long, Long)].collect()
    // Kruskal with the same (w, u, v) total order + union-find
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val want = edges.sortBy(e => (e._3, e._1, e._2)).flatMap {
      case (u, v, w) =>
        val (ru, rv) = (find(u), find(v))
        if (ru == rv) None else { parent(ru) = rv; Some((u, v, w)) }
    }.toSet
    val got = GraphOps.qMst(spark, dir)
      .select("u", "v", "dist").as[(Long, Long, Long)].collect().toSet
    assert(got === want)
    // forest size = nodes - components (Kruskal's count pins both)
    assert(got.size === want.size)
  }

  test("effective diameter replays from the HyperBall neighborhood function") {
    val dir = "/root/testdata/sf0.001"
    val nf = GraphOps.qHyperBall(spark, dir, radius = 3).collect()
      .map(r => r.getLong(0).toInt -> ((r.getLong(1), r.getLong(2)))).toMap
    val nfMax = nf(3)._2
    val rEff = (0 to 3).find(r => nf(r)._2 * 10 >= nfMax * 9).get
    val dEff =
      if (rEff == 0) 0L
      else {
        val (prev, cur) = (nf(rEff - 1)._2, nf(rEff)._2)
        (rEff - 1) * 10000L +
          (nfMax * 9 - prev * 10) * 10000L / ((cur - prev) * 10)
      }
    val Array(row) = GraphOps.qEffectiveDiameter(spark, dir).collect()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) ===
      ((rEff.toLong, nf(0)._1, nf(rEff)._2, nfMax, dEff)))
    // the interpolation lands inside the crossing shell
    assert(row.getLong(4) >= (rEff - 1).max(0) * 10000L &&
      row.getLong(4) <= rEff * 10000L)
  }

  test("betweenness: distributed equals local on known graphs and the corpus") {
    // path 1-2-3-4-5: with sources {1..5} (all), middle node 3 sits on
    // the most pairs; exact integer deltas replayed below
    val path = (1L to 5L).sliding(2).map(s => (s.head, s.last)).toSeq
    val pathDf = path.toDF("u", "v")
    val local = GraphOps.betweennessOver(spark, pathDf, path.size,
      nSources = 5, k = 10, maxDepth = 16,
      localSolveMax = Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dist = GraphOps.betweennessOver(spark, pathDf, path.size,
      nSources = 5, k = 10, maxDepth = 16, localSolveMax = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(local.toSeq === dist.toSeq)
    assert(local.head._1 === 3L, "middle of the path is most between")
    // depth-cap parity: a 25-node path with maxDepth = 8 truncates BOTH
    // paths identically (eccentricity 24 > cap)
    val long = (1L to 25L).sliding(2).map(s => (s.head, s.last)).toSeq
    val longDf = long.toDF("u", "v")
    val lc = GraphOps.betweennessOver(spark, longDf, long.size,
      nSources = 3, k = 30, maxDepth = 8,
      localSolveMax = Long.MaxValue).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dc = GraphOps.betweennessOver(spark, longDf, long.size,
      nSources = 3, k = 30, maxDepth = 8, localSolveMax = 0).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(lc.toSeq === dc.toSeq, "cap semantics identical on both paths")
    // and on the real co-purchase graph at sf0.001 (8 pilot sources)
    val dir = "/root/testdata/sf0.001"
    val edges = GraphOps.copurchaseEdges(spark, dir).select("u", "v")
    val n = edges.count()
    val l2 = GraphOps.betweennessOver(spark, edges, n, 8, 20, 16,
      Long.MaxValue).collect().map(r => (r.getLong(0), r.getLong(1)))
    val d2 = GraphOps.betweennessOver(spark, edges, n, 8, 20, 16, 0)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(l2.toSeq === d2.toSeq)
    assert(l2.nonEmpty && l2.head._2 > 0)
  }

  test("influence spread equals the JVM live-edge reachability replay") {
    val dir = "/root/testdata/sf0.001"
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val und = GraphOps.copurchaseEdges(spark, dir)
      .select("u", "v").as[(Long, Long)].collect()
    val arcs = und.flatMap { case (u, v) => Seq((u, v), (v, u)) }
    def fires(a: Long, b: Long): Boolean =
      java.lang.Long.parseLong(md5hex(s"ic:$a:$b").take(8), 16) % 100 < 30
    val live = arcs.filter((fires _).tupled)
    val adj = live.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val nodes = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val want = nodes.take(3).map { s =>
      val seen = collection.mutable.Set(s)
      var frontier = Set(s)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .filterNot(seen)
        seen ++= frontier
      }
      (s, seen.size.toLong, live.length.toLong)
    }
    val got = GraphOps.qInfluenceSpread(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq === want.toSeq)
    assert(got.forall(_._2 >= 1))
  }

  test("global clustering census folds the per-node triangle census") {
    val dir = "/root/testdata/sf0.001"
    val perNode = GraphOps.qTriangles(spark, dir).collect()
      .map(r => (r.getLong(1), r.getLong(2))) // (deg, triangles)
    val wedges = perNode.map { case (d, _) => d * (d - 1) / 2 }.sum
    val tri3 = perNode.map(_._2).sum
    val Array(row) = GraphOps.qClusteringGlobal(spark, dir).collect()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) ===
      ((perNode.length.toLong, perNode.map(_._1).sum / 2, wedges,
        tri3 / 3, tri3 * 1000000L / wedges)))
    assert(tri3 % 3 === 0L, "every triangle tallies at exactly 3 corners")
  }

  test("assortativity equals the exact JVM moment replay") {
    val dir = "/root/testdata/sf0.001"
    val pairs = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_suppkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0) * 2, r.getLong(1) * 2 + 1))
    val arcs = pairs ++ pairs.map(_.swap)
    val deg = arcs.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val m = arcs.length.toLong
    val sx = arcs.map(a => deg(a._1)).sum
    val sxx = arcs.map(a => deg(a._1) * deg(a._1)).sum
    val sxy = arcs.map(a => deg(a._1) * deg(a._2)).sum
    val cov = BigInt(m) * sxy - BigInt(sx) * sx
    val vr = BigInt(m) * sxx - BigInt(sx) * sx
    val want = BigDecimal(cov.toDouble / vr.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val Array(row) = GraphOps.qAssortativity(spark, dir).collect()
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getLong(4)) === ((m, sx, sxx, sxy, cov.toLong)))
    assert(row.getDouble(5) === want)
    // bipartite trade graphs are disassortative (hubs link to leaves)
    assert(row.getDouble(5) < 0.0)
  }

  test("Luby MIS is a Result: invalidateCaches makes the rerun recompute") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = "/root/testdata/sf0.001"
    val before = GraphOps.qLubyMis(spark, dir)
    before.collect()
    GraphOps.invalidateCaches(spark)
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    val after = try {
      val df = GraphOps.qLubyMis(spark, dir)
      df.collect()
      // listener bus is async — wait for the count to settle
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && jobs.get() != last) {
        last = jobs.get()
        Thread.sleep(100)
      }
      df
    } finally spark.sparkContext.removeSparkListener(counter)
    assert(!(after eq before), "the cached result survived the drop")
    // a cache hit is one collect job; the Luby rounds run many
    assert(jobs.get() > 1, s"jobs=${jobs.get()}")
  }

  test("Luby MIS: independent, maximal, every node decided once") {
    val dir = "/root/testdata/sf0.001"
    val mis = GraphOps.qLubyMis(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = GraphOps.copurchaseEdges(spark, dir)
      .select("u", "v").collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    // coverage: decided exactly once (the map would have collapsed dups —
    // check the raw row count too)
    assert(GraphOps.qLubyMis(spark, dir).count() === nodes.length.toLong)
    assert(mis.keySet === nodes.toSet)
    // independence: no edge inside the MIS
    edges.foreach { case (u, v) =>
      assert(!(mis(u) == 1L && mis(v) == 1L), s"adjacent MIS pair $u-$v")
    }
    // maximality: every OUT node has an MIS neighbor
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2))
    nodes.filter(mis(_) == 0L).foreach { n =>
      assert(nbrs(n).exists(mis(_) == 1L), s"node $n not dominated")
    }
  }

  test("BFS is identical across shuffle layouts") {
    val arcs = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L, 4L -> 5L)
    val edges = (arcs ++ arcs.map(_.swap)).toDF("src", "dst")
    val a = GraphOps.bfsFrom(edges.repartition(1), Seq(1L).toDF("node"), 6)
      .as[(Long, Long)].collect().toMap
    val b = GraphOps
      .bfsFrom(edges.repartition(5, col("dst")), Seq(1L).toDF("node"), 6)
      .as[(Long, Long)].collect().toMap
    assert(a === b)
  }

  test("SCC: independent BFS-closure replay from raw tables") {
    val dir = "/root/testdata/sf0.001"
    import graft.relational.Tables.load
    val got = GraphOps.qSccTrade(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // replay: raw-join census, mean gate, per-node BFS both directions
    val cells = load(spark, dir, "lineitem").select("l_orderkey", "l_suppkey")
      .join(load(spark, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(load(spark, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").as("src")),
        col("o_custkey") === col("c_custkey"))
      .join(load(spark, dir, "supplier")
        .select(col("s_suppkey"), col("s_nationkey").as("dst")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("src", "dst").count()
      .as[(Long, Long, Long)].collect()
    val tot = cells.map(_._3).sum
    val es = cells.filter(_._3 * cells.length >= tot)
      .map(c => (c._1.toInt, c._2.toInt))
    val adj = es.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def reach(s: Int): Set[Int] = {
      var seen = Set.empty[Int]; var frontier = adj.getOrElse(s, Set())
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- seen
      }
      seen
    }
    val nations = load(spark, dir, "nation")
      .select("n_nationkey", "n_name").as[(Long, String)].collect()
    val fw = nations.map(n => n._1.toInt -> reach(n._1.toInt)).toMap
    val want = nations.map { case (nk, name) =>
      val v = nk.toInt
      val sccId = nations.map(_._1.toInt).sorted.collectFirst {
        case u if u == v || (fw(u)(v) && fw(v)(u)) => u
      }.get
      name -> (sccId.toLong,
        nations.count { m =>
          val x = m._1.toInt
          val xid = nations.map(_._1.toInt).sorted.collectFirst {
            case u if u == x || (fw(u)(x) && fw(x)(u)) => u
          }.get
          xid == sccId
        }.toLong,
        es.count(_._1 == v).toLong)
    }.toMap
    assert(got === want.map { case (k, (a, b, c)) => k -> ((a, b, c)) })
    // sanity: at least one multi-nation SCC and the ids are members
    assert(got.values.exists(_._2 > 1L), "trade graph fully fragmented?")
  }

  test("louvain census equals a JVM replay of the synchronous move rounds") {
    val dir = "/root/testdata/sf0.001"
    val got = GraphOps.qLouvain(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    val und = GraphOps.copurchaseWeightedArcs(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val k = und.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val w2 = und.map(_._3).sum
    var lbl = k.keys.map(n => n -> n).toMap
    for (_ <- 1 to GraphOps.LouvainRounds) {
      val kiin = und.groupBy(a => (a._1, lbl(a._2)))
        .view.mapValues(_.map(_._3).sum).toMap
      val cands = kiin.keys.map(_._1).toSet.union(lbl.keySet)
        .flatMap { n =>
          (kiin.keys.filter(_._1 == n).map(_._2).toSet + lbl(n))
            .map(c => (n, c, kiin.getOrElse((n, c), 0L)))
        }
      val sig = lbl.toSeq.groupBy(_._2).view
        .mapValues(_.map(x => k(x._1)).sum).toMap
      lbl = cands.groupBy(_._1).map { case (n, cs) =>
        n -> cs.toSeq.map { case (_, c, kin) =>
          val score = BigInt(w2) * kin - BigInt(k(n)) *
            (sig(c) - (if (c == lbl(n)) k(n) else 0L))
          (c, score)
        }.minBy { case (c, s) => (-s, c) }._1
      }
    }
    val want = lbl.toSeq.groupBy(_._2).map { case (comm, ms) =>
      val nodes = ms.map(_._1).toSet
      val in2 = und.filter(a => nodes(a._1) && lbl(a._2) == comm)
        .map(_._3).sum
      val tot = ms.map(x => k(x._1)).sum
      comm -> ((ms.length.toLong, tot, in2,
        (BigInt(in2) * w2 - BigInt(tot) * tot).toLong))
    }
    assert(got === want)
    // the partition is genuinely modular: sum q_num / (2m)^2 > 0
    val q = got.values.map(v => BigInt(v._4)).sum
    assert(q > 0, s"non-positive modularity numerator $q")
    assert(got.values.map(_._1).sum === k.size.toLong)
    assert(got.values.map(_._2).sum === w2)
  }

  test("item CF recommendations equal a JVM kNN-item replay") {
    val dir = "/root/testdata/sf0.001"
    val got = GraphOps.qItemCf(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val li = graft.relational.Tables.load(spark, dir, "lineitem")
      .selectExpr("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val cnt = li.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val pairSupport = li.groupBy(_._1).values.flatMap { basket =>
      basket.map(_._2).sorted.combinations(2).map(p => (p(0), p(1)))
    }.toSeq.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= 2).toMap
    val sims = pairSupport.toSeq.flatMap { case ((u, v), s) =>
      val fp = (BigInt(s) * s * BigInt(1000000000000L) /
        (BigInt(cnt(u)) * cnt(v))).toLong
      Seq((u, v, fp), (v, u, fp))
    }
    val top = sims.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, v, fp) => (-fp, v) }.take(5)).toMap
    val orders = graft.relational.Tables.load(spark, dir, "orders")
      .filter("o_custkey < 20").selectExpr("o_custkey", "o_orderkey")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val liByOrder = li.groupBy(_._1)
    val owned = orders.flatMap { case (c, o) =>
      liByOrder.getOrElse(o, Array.empty[(Long, Long)])
        .map(x => (c, x._2))
    }.distinct.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val want = owned.flatMap { case (c, items) =>
      val scores = items.toSeq.flatMap(i => top.getOrElse(i, Nil))
        .filterNot { case (_, v, _) => items(v) }
        .groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq
      scores.sortBy { case (v, fp) => (-fp, v) }.take(3)
        .zipWithIndex.map { case ((v, fp), i) => (c, v, fp, i + 1L) }
    }.toSet
    assert(got === want)
    assert(got.nonEmpty, "no recommendations at sf0.001")
  }
}
