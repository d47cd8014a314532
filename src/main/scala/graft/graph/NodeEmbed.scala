package graft.graph

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.relational.Tables.load

/** Fixed-point node-embedding trainer over the walk skip-gram pairs —
  * the step that CLOSES the graph-embedding loop: walks
  * ([[GraphOps.qRandomWalks]]) → skip-gram pair counts
  * ([[GraphOps.walkPairCounts]]) → trained embedding table. The
  * objective is SGNS-as-weighted-matrix-factorization (Levy & Goldberg
  * 2014, "Neural Word Embedding as Implicit Matrix Factorization"):
  * squared loss pushing dot(e_a, e_b) toward 1.0 on observed pairs
  * (weighted by pair count) and toward 0.0 on `NegK` deterministic
  * hashed negatives per pair — squared loss instead of the sigmoid
  * form so every gradient is LINEAR integer arithmetic with no
  * transcendental to diverge across engines.
  *
  * Exactness discipline (the [[graft.pipeline.QualityClassifier]]
  * recipe): embeddings are fixed-point longs at scale 1e3 (= 1.0),
  * initialized from md5 of the node id, updated by full-batch gradient
  * descent with sign-safe truncating division, and clamped to
  * [-2000, 2000] per step — so the trained table replays
  * bit-identically in DuckDB (the unrolled-epoch oracle) and a JVM
  * BigInt replay (NodeEmbedSpec).
  *
  * Scale shape — the part that differs from the classifier: the model
  * here is node-count-sized, so it NEVER collects to the driver.
  * Embeddings live as a distributed (node, v0..v3) table; each epoch
  * is two equi-joins of the persisted training rows against it (center
  * and context side), one node-keyed gradient aggregation (map-side
  * combinable, decimal(38,0) sums), and one left join applying the
  * update — all shuffles on the node key, lineage cut per epoch.
  * Negative sampling is a per-row hash
  * expression (no sampling state, no RNG): negatives landing on a node
  * outside the walk vocabulary simply drop out of the context join,
  * identically in both engines.
  */
object NodeEmbed {

  /** Embedding dimensions (as columns v0..v{Dims-1}). */
  val Dims: Int = 4

  /** Fixed-point scale of one embedding coordinate (1e3 = 1.0). */
  val S: Long = 1000L

  /** Full-batch epochs. */
  val Epochs: Int = 2

  /** Deterministic hashed negatives per positive pair row. */
  val NegK: Int = 2

  /** Per-coordinate clamp after each update (±2.0): bounds every
    * later product (dot ≤ Dims·4e6) so per-row arithmetic stays in
    * long range no matter how many epochs run. */
  val Clamp: Long = 2000L

  /** Learning-rate divisor: step = Σ w·err·v / (Σ w · LrDiv), i.e.
    * lr = S²/LrDiv = 0.25 in real units. */
  val LrDiv: Long = 4000000L

  /** Sign-safe truncating division (Spark `div` truncates toward zero,
    * DuckDB `//` floors; this CASE form is truncation in both). */
  private def sdiv(a: String, b: String): String =
    s"(CASE WHEN $a >= 0 THEN ($a) div $b ELSE -((-($a)) div $b) END)"

  /** md5-seeded initial coordinate in [-1000, 1000]: 4 hex chars of
    * md5("emb:<node>:<i>") mod 2001, shifted. */
  private def init(i: Int): Column =
    (conv(substring(md5(concat(lit("emb:"), col("node").cast("string"),
      lit(s":$i"))), 1, 4), 16, 10).cast("long") % 2001L) - 1000L

  /** One training epoch: gradient of the weighted squared loss wrt the
    * CENTER side of every row (the symmetric positive pairs cover both
    * sides; negative rows update only their center — documented
    * asymmetry, mirrored in the oracle). */
  private def epoch(emb: DataFrame, rows: DataFrame): DataFrame = {
    val ea = emb.select(col("node").as("a") +:
      (0 until Dims).map(i => col(s"v$i").as(s"a$i")): _*)
    val eb = emb.select(col("node").as("b") +:
      (0 until Dims).map(i => col(s"v$i").as(s"b$i")): _*)
    val dot = (0 until Dims).map(i => col(s"a$i") * col(s"b$i"))
      .reduce(_ + _)
    val grads = rows
      .join(ea, "a").join(eb, "b")
      .withColumn("err", dot - col("t"))
      .groupBy(col("a").as("node"))
      .agg(sum("w").as("wa"),
        (0 until Dims).map(i =>
          sum((col("w") * col("err") * col(s"b$i")).cast("decimal(38,0)"))
            .as(s"g$i")): _*)
    emb.join(grads, Seq("node"), "left_outer")
      .select(col("node") +:
        (0 until Dims).map { i =>
          val step = sdiv(s"g$i", s"(cast(wa as decimal(38,0)) * $LrDiv)")
          expr(s"greatest(${-Clamp}L, least(${Clamp}L, " +
            s"v$i - coalesce($step, 0L)))").as(s"v$i")
        }: _*)
  }

  /** Training rows (a, b, w, t): positives at t = S² (dot = 1.0) from
    * the pair counts, plus `NegK` hashed negatives at t = 0 per
    * positive. `ns`/`np` are the supplier/part key-space sizes the
    * negative hash indexes into (dense 0-based keys, the testdata
    * convention): idx < ns → supplier idx, else part (idx − ns). */
  private[graph] def trainingRows(
      pairCounts: DataFrame, ns: Long, np: Long): DataFrame = {
    // ONE pass: the positive and its NegK negatives explode from a
    // per-row struct array — a union of NegK+1 branches would re-run
    // the pair-count lineage (window over the walk corpus) per branch,
    // measured at ~1.2 s/branch at sf0.1
    val negs = (0 until NegK).map { i =>
      val idx = conv(substring(md5(concat(lit("nw:"),
        col("ctr").cast("string"), lit(":"), col("ctx").cast("string"),
        lit(s":$i"))), 1, 8), 16, 10).cast("long") % (ns + np)
      struct(
        when(idx < ns, idx * 2).otherwise((idx - ns) * 2 + 1).as("b"),
        lit(0L).as("t"))
    }
    pairCounts
      .select(col("ctr").as("a"), col("pairs").as("w"),
        explode(array(
          struct(col("ctx").as("b"), lit(S * S).as("t")) +: negs: _*))
          .as("bt"))
      .select(col("a"), col("bt.b").as("b"), col("w"), col("bt.t").as("t"))
  }

  /** Train embeddings over an arbitrary numeric pair-count relation
    * (`ctr`, `ctx`, `pairs`) and node universe. */
  def train(
      spark: SparkSession, pairCounts: DataFrame, nodes: DataFrame,
      ns: Long, np: Long, epochs: Int = Epochs): DataFrame = {
    // hash-partition the persisted training rows by the center node
    // (r16, guide §2.4): every epoch joins on `a` and aggregates the
    // gradient BY `a`, so with rows resident in hash(a) layout the
    // per-epoch gradient aggregation needs no rows-sized exchange (the
    // embedding sides broadcast at bench scale; at cluster scale the
    // a-side join and the aggregation still reuse this layout while
    // only the b-side moves). One build-time exchange, partitioning
    // only — every gradient sum is exact decimal arithmetic, so the
    // trained table is bit-identical under any layout.
    val rows = trainingRows(pairCounts, ns, np)
      .repartition(col("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    rows.count()
    try {
      // the INITIAL table is cut too (r13): epoch 1 evaluates emb
      // THREE times (center side, context side, update join), and when
      // `nodes` is a distinct over the corpus-sized edge table that
      // tripled an 11.8M-row shuffle at sf1 — one cut of the
      // node-count-sized init table buys all three back. EPOCH outputs
      // are cut for the same reason: each feeds both sides of the next
      // epoch's join, and without the cut lineage doubles per epoch and
      // the final plan re-runs every prior epoch twice
      var emb = graft.Cut(nodes
        .select(col("node") +: (0 until Dims).map(i => init(i).as(s"v$i")): _*))
      for (_ <- 1 to epochs) emb = emb.next(epoch(emb.df, rows))
      emb.df
    } finally rows.unpersist(blocking = false)
  }

  /** One trained embedding table per (session, dir), shared by the
    * decoded registry query and the eval census; training is the
    * measured operator. */
  private val embCache =
    graft.SessionCache.frames[String](graft.SessionCache.Result)

  /** The trained (node, v0..v{Dims-1}) table for the trade graph. */
  def trainedEmbeddings(spark: SparkSession, dir: String): DataFrame =
    embCache.get(spark, dir) {
      val pairCounts = GraphOps.walkPairCounts(
        GraphOps.qRandomWalks(spark, dir), GraphOps.PairWindow)
      val nodes = GraphOps.tradeEdgesDeg(spark, dir)
        .select(col("src").as("node")).distinct()
      val ns = load(spark, dir, "supplier").count()
      val np = load(spark, dir, "part").count()
      // train ends in a cut — already materialized
      train(spark, pairCounts, nodes, ns, np)
    }

  /** The registered query: DeepWalk-style embeddings of the trade
    * graph — walks and pair counts come from the session-cached walk
    * relation, so this query prices exactly the TRAINING step. Output
    * is the decoded embedding table (node_type, node_id, v0..v3). */
  def qNodeEmbed(spark: SparkSession, dir: String): DataFrame =
    trainedEmbeddings(spark, dir)
      .select(
        when(pmod(col("node"), lit(2)) === 0, lit("supplier"))
          .otherwise(lit("part")).as("node_type") +:
        expr("node div 2").as("node_id") +:
        (0 until Dims).map(i => col(s"v$i")): _*)

  /** "Measure, don't guess" for the trained embeddings — the
    * edge-vs-hashed-random PAIRED comparison (the q_minhash_eval
    * discipline applied to the training artifact): for every
    * supplier→part arc of the trade graph, score the TRUE partner and a
    * deterministic md5-hashed random part with the trained dot product,
    * and census how often the true edge wins. A pipeline reads win_ppm
    * before trusting the embeddings for retrieval or link completion;
    * near 500000 (coin-flip) means the embeddings carry no edge signal.
    * On THIS synthetic trade graph that is the honest verdict: the
    * supplier→part relation is ~25% dense with no community structure,
    * so no embedding can beat a random part — and the census says so
    * (NodeEmbedSpec pins the converse: on a two-community fixture the
    * same trainer at depth reads far above coin-flip). That asymmetry
    * is the point of shipping the eval next to the trainer.
    *
    * All integer: dots are fixed-point sums, means ship as truncating
    * `div`, the win census is a paired comparison per arc. A hashed
    * partner that fell outside the walk vocabulary contributes dot 0
    * (LEFT join + coalesce — mirrored in the oracle), which is also the
    * honest null score for an untrained node. One scan of the edge
    * artifact, three node-keyed joins against the kilobyte-per-row
    * embedding table, one global aggregate. */
  def qEmbedEval(spark: SparkSession, dir: String): DataFrame = {
    val emb = trainedEmbeddings(spark, dir)
    val np = load(spark, dir, "part").count()
    val arcs = GraphOps.tradeEdgesDeg(spark, dir)
      .select(col("src"), col("dst"))
      .filter(pmod(col("src"), lit(2)) === 0)
    val rnd = conv(substring(md5(concat(lit("ne:"),
      col("src").cast("string"), lit(":"), col("dst").cast("string"))),
      1, 8), 16, 10).cast("long") % np * 2 + 1
    def side(alias: String): DataFrame =
      emb.select(col("node").as(alias) +:
        (0 until Dims).map(i => col(s"v$i").as(s"$alias$i")): _*)
    def dot(a: String, b: String): Column =
      (0 until Dims).map(i => col(s"$a$i") * col(s"$b$i")).reduce(_ + _)
    arcs
      .withColumn("rnd", rnd)
      .join(side("s"), col("src") === col("s"))
      .join(side("p"), col("dst") === col("p"))
      .join(side("r"), col("rnd") === col("r"), "left_outer")
      .select(dot("s", "p").as("edge_dot"),
        coalesce(dot("s", "r"), lit(0L)).as("rand_dot"))
      .agg(count(lit(1)).as("n_arcs"),
        // sign-safe truncating means: dot sums can be negative, where
        // Spark `div` and DuckDB `//` disagree
        expr(sdiv("sum(edge_dot)", "count(1)")).as("mean_edge_dot"),
        expr(sdiv("sum(rand_dot)", "count(1)")).as("mean_rand_dot"),
        expr("(1000000 * sum(CASE WHEN edge_dot > rand_dot THEN 1 ELSE 0 END))"
          + " div count(1)").as("win_ppm"))
  }
}
