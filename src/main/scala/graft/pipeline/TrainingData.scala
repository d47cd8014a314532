package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.relational.Tables

/** Corpus-preparation operators a training-data pipeline runs AFTER
  * dedup/quality scoring: cluster near-duplicates and pick canonical
  * docs, assign deterministic train/val/test splits, stratify-sample by
  * class, and pack documents into fixed token budgets. Everything is
  * hash- or order-deterministic (no RNG state), so identical inputs give
  * identical corpora on any cluster size — the reproducibility property
  * training pipelines need and `rand()`-based sampling can't give.
  */
object TrainingData {

  import Tables.load

  /** One computed cluster table per (session, dir): the iterative label
    * propagation is this module's only multi-job operator, and both its
    * direct query and the corpus-build composition consume the SAME
    * small cut result — recomputing it per caller would re-run the
    * whole loop. Invalidation releases the cut. */
  private val clusterCache =
    graft.SessionCache.frames[String](graft.SessionCache.Result)

  /** Same contract for the incremental two-batch fixture: one computed
    * (existing ⊕ delta) keep-list per (session, dir). */
  private val incrementalCache =
    graft.SessionCache.frames[String](graft.SessionCache.Result)

  /** Drop this session's cached query results, in every family. */
  def invalidateCaches(spark: SparkSession): Unit =
    graft.SessionCache.invalidate(spark, graft.SessionCache.Result)

  /** Near-dup CLUSTERS from the exact-verified pair relation: connected
    * components, labeled by the minimum doc_id in each component, with
    * the canonical-keeper flag (the member equal to its cluster id).
    * Completes the dedup story: pairs say "these two match"; the cluster
    * keep-list is what a pipeline actually deletes against.
    *
    * Algorithm: alternating LARGE-STAR / SMALL-STAR contraction (Kiveris
    * et al., "Connected Components in MapReduce and Beyond") — per round,
    * large-star rewires every neighbor larger than a node to the
    * neighborhood minimum, small-star rewires the smaller neighbors
    * likewise; each pair of min-joins at least HALVES long chains, so the
    * round count is O(log diameter), not O(diameter) like plain label
    * propagation — the difference between 7 and 64 rounds on a 64-node
    * chain (asserted in TrainingDataSpec), and the property that makes
    * the loop safe against a pathological chain at 100 TB. The edge set
    * contracts to stars (every member adjacent to its component min) and
    * termination is an edge-set fixpoint, counted by one full-outer
    * anti-comparison per round (one action/round, same discipline as
    * before). Overrunning the round cap FAILS rather than silently
    * returning unconverged (wrong) labels.
    *
    * Oracle: DuckDB recursive-CTE reachability computing min reachable
    * id per node — an independent formulation of the same fixpoint.
    *
    * The result is cached per (session, dir) — the same cut
    * frame is returned to every caller, so do NOT release it; use
    * [[graft.SessionCache.invalidate]] when the underlying data
    * changes. */
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame =
    clusterCache.get(spark, dir) {
      connectedComponentsImpl(graft.dedup.Dedup.qMinhashLshPairs(spark, dir)
        .select(col("d1"), col("d2")), spark)._1
    }

  /** Connected components over an undirected pair relation `(d1, d2)` via
    * large-star/small-star; returns (doc_id, cluster_id, is_keeper) for
    * every endpoint, cluster labeled by its minimum member. Exposed for
    * reuse (and for TrainingDataSpec's synthetic-chain convergence
    * fixture, which feeds a 64-node path and asserts ≤ 8 rounds). */
  private[graft] def connectedComponents(
      pairs: DataFrame, spark: SparkSession): DataFrame =
    connectedComponentsWithRounds(pairs, spark)._1

  /** [[connectedComponents]] plus the number of contraction rounds taken
    * (the last round is the fixpoint-confirming one) — the observable the
    * O(log diameter) convergence test pins down. Forces the DISTRIBUTED
    * star-contraction path (`localSolveMax = 0`) so the convergence
    * assertion can't be satisfied vacuously by the small-input local
    * solve. */
  private[graft] def connectedComponentsWithRounds(
      pairs: DataFrame, spark: SparkSession): (DataFrame, Int) =
    connectedComponentsImpl(pairs, spark, localSolveMax = 0L)

  /** A canonical edge set's fingerprint, summed by the cut's forcing
    * pass: per row xxhash64(lo) ⊕ xxhash64(hi), so (row count, wrapping
    * sum) identifies the set up to a 64-bit collision. */
  private object EdgeFingerprint
      extends (org.apache.spark.sql.catalyst.InternalRow => Long)
      with Serializable {
    override def apply(r: org.apache.spark.sql.catalyst.InternalRow): Long = {
      import org.apache.spark.sql.catalyst.expressions.XXH64
      XXH64.hashLong(r.getLong(0), 0x9E3779B97F4A7C15L) ^
        XXH64.hashLong(r.getLong(1), 0xC2B2AE3D27D4EB4FL)
    }
  }

  /** Core loop. Returns (labels, rounds); the labels are a projection
    * of a cut, released by [[graft.Cut.release]] (a frames cache does
    * that on drop).
    *
    * Algorithm as documented on [[qDedupClusters]]; the execution shape
    * is ONE Spark job per contraction round: the round's new edge set is
    * cut with its [[EdgeFingerprint]] sum, and (rows, sum) is the
    * fixpoint probe. Only when the fingerprint repeats does an
    * exact symmetric-difference count run to CONFIRM set equality (a
    * 64-bit sum collision would otherwise terminate the loop early), so
    * the exact check costs one job for the whole loop instead of one per
    * round — the r4 shape (eager checkpoint + full-outer count every
    * round) doubled the job count and made per-round overhead the
    * dominant cost at small SF. */
  /** Below this edge count the component labels are solved with a
    * driver-side union-find over the (already canonicalized, deduped,
    * cached) edge set instead of the iterative loop — the same
    * size-gated strategy switch AQE applies to joins. Honest footprint
    * at the 2M-edge gate: the raw longs are 32 MB, but the collected
    * Tuple2s and the boxed-Long HashMap behind [[localSolve]] push the
    * real driver cost to a few hundred MB — fine for the multi-GB
    * drivers this targets, and a primitive-array union-find is the
    * 10× cut if the gate ever needs to rise. The verified near-dup
    * relation at real thresholds is a sliver of the corpus, so in
    * practice even 100 TB pipelines often land under the gate; anything
    * larger takes the O(log diameter) distributed loop below. */
  private val LocalSolveMaxEdges = 2L << 20

  private def connectedComponentsImpl(
      pairs: DataFrame, spark: SparkSession,
      localSolveMax: Long = LocalSolveMaxEdges): (DataFrame, Int) = {
    // canonical undirected edge set (lo < hi), deduped once up front —
    // star-contraction is a SET algorithm; the fixpoint test needs
    // canonical rows. Endpoints cast to long so the fingerprint fold and
    // the emitted cluster ids have one stable type.
    val initial = graft.Cut(pairs
      .select(least(col("d1"), col("d2")).cast("long").as("lo"),
        greatest(col("d1"), col("d2")).cast("long").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .distinct(), EdgeFingerprint)
    if (initial.rows <= localSolveMax)
      return localSolve(initial, spark)
    // O(log² n) worst case for star-contraction; 64 rounds is orders of
    // magnitude above any reachable graph and exists only to turn an
    // implementation bug into a loud failure instead of an infinite loop.
    // The driver's cap is one round more, so a loop that ran more than
    // maxRounds rounds is one that maxRounds did not converge.
    val maxRounds = 64
    val (stars, rounds) = graft.Cut.iterate(initial, maxRounds + 1) {
        (edges, _) =>
      // LARGE-STAR: from the symmetric neighborhood view, connect every
      // strictly-larger neighbor v of u to m = min(Γ(u) ∪ {u}). m ≤ u < v
      // keeps the (lo, hi) orientation canonical by construction.
      val sym = edges.df.select(col("lo").as("u"), col("hi").as("v"))
        .unionAll(edges.df.select(col("hi").as("u"), col("lo").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // NOT deduped here: `min` is duplicate-insensitive and the round's
      // final distinct dedups anyway — an intermediate distinct would add
      // a full extra exchange of the largest intermediate (the join and
      // the groupBy below both hash-partition by `hi`, so Spark reuses
      // one exchange for both consumers).
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u") && col("v") =!= col("m"))
        .select(col("m").as("lo"), col("v").as("hi"))
      // SMALL-STAR: per high endpoint, rewire its smaller neighbors (and
      // itself) to their minimum. v ∈ smaller(hi) ⇒ v ≥ m, so orientation
      // stays canonical here too.
      val smins = large.groupBy("hi").agg(min("lo").as("m"))
      graft.Cut(large.join(smins, "hi")
        .filter(col("lo") =!= col("m"))
        .select(col("m").as("lo"), col("lo").as("hi"))
        .unionAll(smins.select(col("m").as("lo"), col("hi")))
        .distinct(), EdgeFingerprint)
    } { (prev, next) =>
      // fingerprint probe; exact confirm only on a hit (≈ once per loop)
      next.rows == prev.rows && next.sum == prev.sum &&
        prev.df.withColumn("a", lit(1))
          .join(next.df.withColumn("b", lit(1)), Seq("lo", "hi"),
            "full_outer")
          .filter(col("a").isNull || col("b").isNull)
          .count() == 0
    }
    if (rounds > maxRounds)
      throw new IllegalStateException(
        s"star contraction did not converge in $maxRounds rounds")
    // converged stars: each non-root node has exactly one edge, to its
    // component minimum, and roots label themselves. No round drops a
    // node: large-star keeps every node, as the larger end of an edge
    // from a smaller neighbor or as the minimum of its own neighborhood,
    // and small-star keeps every node of large-star's edges. So the
    // node universe, every ORIGINAL endpoint, is the converged edge
    // set's endpoints, read inside this same job. Result materialized
    // to a leaf so the loop's cut can be freed without the caller's
    // action replaying the whole loop.
    val nodes = stars.df.select(col("lo").as("id"))
      .unionAll(stars.df.select(col("hi").as("id")))
      .distinct()
    val result = graft.Cut(nodes
      .join(stars.df.select(col("hi").as("id"), col("lo").as("root")),
        Seq("id"), "left")
      .select(col("id").as("doc_id"),
        coalesce(col("root"), col("id")).as("cluster_id")))
    val labeled = result.df
      .withColumn("is_keeper", col("doc_id") === col("cluster_id"))
    stars.release()
    (labeled, rounds)
  }

  /** Small-input strategy: the canonicalized edge set already sits in
    * cached blocks; pull it to the driver, union-find it (path-halving,
    * union-by-min so labels are component minima exactly like the
    * distributed loop), and hand back a cut leaf frame with the
    * identical (doc_id, cluster_id, is_keeper) contract. Rounds = 0 —
    * no contraction ran. */
  private def localSolve(
      initial: graft.Cut, spark: SparkSession): (DataFrame, Int) = {
    val edges = initial.df.collect().map(r => (r.getLong(0), r.getLong(1)))
    initial.release()
    val parent = new java.util.HashMap[Long, Long](edges.length * 2)
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val p = parent.get(x)
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    val labels = edges.iterator
      .flatMap { case (a, b) => Iterator(a, b) }
      .toArray.distinct
      .map(n => org.apache.spark.sql.Row(n, find(n)))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cluster_id",
        org.apache.spark.sql.types.LongType, nullable = false)))
    val result = graft.Cut(
      spark.createDataFrame(
        spark.sparkContext.parallelize(labels.toIndexedSeq,
          math.max(1, math.min(spark.sparkContext.defaultParallelism,
            labels.length / 4096 + 1))),
        schema))
    (result.df.withColumn("is_keeper", col("doc_id") === col("cluster_id")),
      0)
  }

  /** Incremental near-dup ingest: fold a batch of NEW verified pair
    * edges into an existing keep-list WITHOUT recomputing untouched
    * components — the operation a 100 TB pipeline runs per ingest, where
    * full-corpus recluster would be the cost cliff.
    *
    * `existing` is the prior (doc_id, cluster_id, …) table (pair
    * endpoints only — the contract [[qDedupClusters]] emits, labels =
    * component minima); `newEdges` is the verified pair relation (d1, d2)
    * of the ingest (see [[graft.dedup.Dedup.minhashLshPairsDelta]] —
    * pairs touching at least one new doc; edges between old docs are
    * also legal and simply merge their clusters).
    *
    * Shape: every known endpoint in `newEdges` is CONTRACTED to its
    * cluster id (itself the min member's doc id), so connectivity through
    * old members is preserved while the component solve runs on a graph
    * proportional to the INGEST, not the corpus. Contracting a connected
    * subgraph preserves reachability, and each super-node's id is the min
    * of its members, so the solved labels are exactly the from-scratch
    * component minima — the incremental result provably equals
    * [[qDedupClusters]] over the union corpus (asserted against the
    * from-scratch run in TrainingDataSpec, and by `q_dedup_incremental`'s
    * oracle, which IS the from-scratch recursive CTE). Untouched clusters
    * never enter a shuffle: they pass through the final left join
    * unchanged.
    *
    * The result is a projection of a cut, materialized before return:
    * callers that CHAIN folds (the streaming ingest) free a superseded
    * generation with [[graft.Cut.release]] right after. */
  def incrementalClusters(
      existing: DataFrame, newEdges: DataFrame,
      spark: SparkSession): DataFrame = {
    val labels = existing.select(
      col("doc_id").cast("long").as("doc_id"),
      col("cluster_id").cast("long").as("cluster_id"))
    // contract known endpoints to their cluster's super-node
    val mapped = newEdges
      .select(col("d1").cast("long").as("d1"), col("d2").cast("long").as("d2"))
      .join(labels.select(col("doc_id").as("d1"), col("cluster_id").as("c1")),
        Seq("d1"), "left")
      .join(labels.select(col("doc_id").as("d2"), col("cluster_id").as("c2")),
        Seq("d2"), "left")
      .select(coalesce(col("c1"), col("d1")).as("d1"),
        coalesce(col("c2"), col("d2")).as("d2"))
    // component labels over the delta graph only; nodes are new docs,
    // touched super-nodes, and previously-isolated old docs
    val (deltaLabels, _) = connectedComponentsImpl(mapped, spark)
    val delta = deltaLabels
      .select(col("doc_id").as("node"), col("cluster_id").as("label"))
    // relabel ONLY the clusters whose super-node landed in the delta
    // graph (the remap relation is bounded by the ingest size)
    val remap = delta
      .join(labels.select(col("cluster_id").as("node")).distinct(), "node")
      .select(col("node").as("cluster_id"), col("label"))
    val updated = labels
      .join(remap, Seq("cluster_id"), "left")
      .select(col("doc_id"),
        coalesce(col("label"), col("cluster_id")).as("cluster_id"))
    // endpoints the old keep-list has never seen: the new docs plus
    // previously-isolated old docs a new edge just touched (super-node
    // ids are existing doc_ids, so the anti-join drops them here — their
    // members, itself included, flow through the remap path above)
    val fresh = delta
      .join(labels.select(col("doc_id").as("node")), Seq("node"), "left_anti")
      .select(col("node").as("doc_id"), col("label").as("cluster_id"))
    val out = graft.Cut(updated.unionAll(fresh))
    graft.Cut.release(deltaLabels)
    out.df.withColumn("is_keeper", col("doc_id") === col("cluster_id"))
  }

  /** Two-batch incremental-ingest fixture over `documents`: "yesterday's"
    * keep-list is the clusters over even doc_ids only (in a real pipeline
    * that state is read back from the lake, so here it is derived by
    * restricting the pair relation — batch membership is a pairwise
    * property); "today's" ingest is the odd half, its pair relation
    * generated the honest incremental way — probing the new band
    * signatures against the full signature store
    * ([[graft.dedup.Dedup.minhashLshPairsDelta]]). The output must equal
    * [[qDedupClusters]] from scratch; the oracle is literally the
    * from-scratch recursive CTE. */
  def qDedupIncremental(spark: SparkSession, dir: String): DataFrame =
    incrementalCache.get(spark, dir) {
        val oldPairs = graft.dedup.Dedup.qMinhashLshPairs(spark, dir)
          .filter(col("d1") % 2 === 0 && col("d2") % 2 === 0)
          .select("d1", "d2")
        val (existing, _) = connectedComponentsImpl(oldPairs, spark)
        val delta = graft.dedup.Dedup
          .minhashLshPairsDelta(spark, dir, id => id % 2 === 1)
          .select("d1", "d2")
        val result = incrementalClusters(existing, delta, spark)
        graft.Cut.release(existing)
        result
      }

  /** THE split policy — one definition, because two drifting copies of
    * the 80/90 cut or the hash width would silently put docs in
    * different splits in different queries (the contamination guarantee
    * is only as strong as its single source of truth). */
  private def bucketOf(docId: Column): Column =
    conv(substring(md5(docId.cast("string")), 1, 8), 16, 10)
      .cast("long") % 100

  private def splitOf(bucket: Column): Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** THE per-source cap priority — single definition shared by
    * [[qSourceCap]] and [[qCorpusBuildV2]], for the same reason
    * [[bucketOf]] is singular: a drifting copy of the salt string or the
    * tiebreak would silently keep different docs in different queries. */
  private def capPriority: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy("source")
      .orderBy(md5(concat_ws(":", lit("cap"), col("doc_id").cast("string"))),
        col("doc_id"))

  /** THE per-language quality-gate priority and integer threshold —
    * shared by [[qQualityGate]] and [[qCorpusBuildV2]]. */
  private def gatePriority: org.apache.spark.sql.expressions.WindowSpec =
    Window.partitionBy("lang").orderBy(col("n_chars").desc, col("doc_id"))

  private def gateKeeps(rn: Column, nL: Column, keepPerMille: Int): Column =
    rn * 1000L <= nL * keepPerMille + 999L

  /** Exact-dup losers (every non-min doc of each text group) — shared by
    * [[qCorpusBuild]] and [[qCorpusBuildV2]]. Input needs (doc_id, text). */
  private def exactDupLosers(docs: DataFrame): DataFrame = docs
    .groupBy(md5(col("text")).as("h"))
    .agg(min("doc_id").as("keep"), collect_list("doc_id").as("all"))
    .select(explode(col("all")).as("doc_id"), col("keep"))
    .filter(col("doc_id") =!= col("keep"))
    .select("doc_id")

  /** Deterministic train/val/test assignment: bucket = leading 32 bits of
    * md5(doc_id) mod 100, split at 80/90. Hash-based (not `rand()`), so
    * the split is stable across runs, partitionings, and engines — a doc
    * never migrates between train and test when the corpus is rebuilt,
    * which is the contamination guarantee that matters. */
  def qSplitAssign(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), bucketOf(col("doc_id")).as("bucket"))
      .withColumn("split", splitOf(col("bucket")))

  /** Stratified sampling with per-class rates (rare classes kept whole,
    * dominant classes downsampled — the class-rebalancing step of a
    * training mix), decided per row by a content hash so the sample is
    * reproducible and join-free. Output is the per-class census the
    * pipeline logs: totals, sampled counts, achieved rate. */
  def qStratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("event_type") === "purchase", 1000)
      .when(col("event_type") === "click", 100)
      .otherwise(10) // per-mille
    load(spark, dir, "events")
      .withColumn("keep",
        (conv(substring(md5(col("event_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000) < rate)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
      .withColumn("achieved_rate",
        round(col("n_sampled").cast("double") / col("n_total"), 4))
  }

  /** The capstone composition — a corpus BUILD in one relation: quality
    * gate (token count + repetition bound) → exact-dup losers removed
    * (md5 groups keep min doc_id) → near-dup cluster losers removed
    * (the [[qDedupClusters]] keep-list) → deterministic split assignment
    * → per-(split, lang) census. Every stage is an operator this library
    * ships individually; the composition is what a user actually runs,
    * and it stays one declarative plan end-to-end (the dedup relations
    * are computed over the FULL corpus, then subtracted from the
    * quality-passing set — order documented because it changes counts).
    * All stages are hash/order-deterministic, so the whole five-stage
    * pipeline carries a single DuckDB oracle. */
  def qCorpusBuild(
      spark: SparkSession, dir: String,
      minTokens: Int = 20, maxBigramFrac: Double = 0.2): DataFrame = {
    // near-dup losers: cluster members that are not the canonical keeper
    val nearLosers = qDedupClusters(spark, dir)
      .filter(!col("is_keeper"))
      .select("doc_id")
    corpusCensus(
      corpusQualifiedExact(spark, dir, minTokens, maxBigramFrac)
        .join(nearLosers, Seq("doc_id"), "left_anti"))
  }

  /** [[qCorpusBuild]] WITHOUT the near-dup cluster stage — exactly the
    * stages a single SQL relation can express, which makes it the Scala
    * twin of the `corpus_build()` table function
    * ([[graft.GraftExtensions]]): quality gate → exact-dup losers
    * removed → split assignment → census. Cluster subtraction needs the
    * iterative large-star/small-star operator and stays Scala-only. */
  def qCorpusBuildExact(
      spark: SparkSession, dir: String,
      minTokens: Int = 20, maxBigramFrac: Double = 0.2): DataFrame =
    corpusCensus(corpusQualifiedExact(spark, dir, minTokens, maxBigramFrac))

  /** Quality-passing, exact-dup-free (doc_id, lang, text, n_tokens) —
    * the shared front of [[qCorpusBuild]] and [[qCorpusBuildExact]]. */
  private def corpusQualifiedExact(
      spark: SparkSession, dir: String,
      minTokens: Int, maxBigramFrac: Double): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("text"),
        size(split(col("text"), " ", -1)).cast("long").as("n_tokens"))
    // quality: enough tokens, not repetition-dominated (the same gram
    // counting the repetition stats use). The length gate applies BEFORE
    // the bigram explode — a doc that can't pass minTokens must not pay
    // for the pipeline's heaviest shuffle (conjunctive gates + inner
    // join make this equivalent).
    val longEnough = docs.filter(col("n_tokens") >= minTokens)
    val bigrams = graft.functions.shingle_list(col("text"), 2)
    val bgTop = longEnough
      .select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max("c").as("top_bg"), sum("c").as("n_bg"))
    val qualified = longEnough.join(bgTop, "doc_id")
      .filter(col("top_bg").cast("double") / col("n_bg") <= maxBigramFrac)
      .select("doc_id", "lang", "text", "n_tokens")
    // exact-dup losers: any copy that is not its text group's min doc_id
    qualified.join(
      exactDupLosers(load(spark, dir, "documents")), Seq("doc_id"), "left_anti")
  }

  /** Split assignment + per-(split, lang) census — the shared tail of
    * the corpus-build capstones. */
  private def corpusCensus(kept: DataFrame): DataFrame =
    kept
      .withColumn("bucket", bucketOf(col("doc_id")))
      .withColumn("split", splitOf(col("bucket")))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))

  /** Train/eval DECONTAMINATION — the check every pretraining pipeline
    * runs before shipping a corpus: a training document that shares
    * verbatim n-grams with the held-out split leaks evaluation data into
    * the weights. Flags every train-split doc sharing at least one
    * 4-token shingle with any test-split doc, with the hit count and the
    * contaminated fraction of its shingle set.
    *
    * Scale shape: the eval side collapses to a DISTINCT shingle set
    * (benchmarks are tiny next to the corpus, so this set broadcasts),
    * and the train side meets it in a shingle equi-join — one pass over
    * the corpus shingles, never doc×doc. Splits come from [[bucketOf]],
    * THE split policy, so the operator decontaminates exactly the splits
    * [[qSplitAssign]] ships. */
  def qDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    // the dedup module's cut shingle frame: both branches below
    // (eval set + train probe) read it without re-running the kernel
    val docs = graft.dedup.Dedup.shingleArrays(spark, dir)
      .withColumn("bucket", bucketOf(col("doc_id")))
    val evalShingles = docs.filter(col("bucket") >= 90)
      .select(explode(col("sh_arr")).as("sh"))
      .distinct()
    docs.filter(col("bucket") < 80)
      .select(col("doc_id"),
        size(col("sh_arr")).cast("long").as("n_shingles"),
        explode(col("sh_arr")).as("sh"))
      .join(evalShingles, "sh")
      .groupBy("doc_id")
      // sh_arr is a distinct-shingle SET, so plain count = distinct hits;
      // n_shingles is functionally dependent on doc_id — carried through
      // max() so partial aggregation stays effective
      .agg(max("n_shingles").as("n_shingles"),
        count(lit(1)).as("n_hits"))
      .withColumn("frac",
        round(col("n_hits").cast("double") / col("n_shingles"), 4))
  }

  /** Duplicate-PASSAGE detection (Lee et al., "Deduplicating Training
    * Data Makes Language Models Better"): document-level dedup misses
    * boilerplate passages repeated across otherwise-distinct documents,
    * and those verbatim spans are what models memorize. Flags, per
    * train-corpus doc, how many of its distinct 8-token spans also occur
    * in at least one OTHER document.
    *
    * Scale shape: an inverted-index pass — explode spans, count docs per
    * span (map-side combinable), keep spans with ≥ 2 docs, join back on
    * the span key. Both the count and the join hash-partition by span,
    * so Catalyst reuses one exchange; nothing is ever doc × doc. */
  def qDupPassages(spark: SparkSession, dir: String, n: Int = 8): DataFrame = {
    val spans = load(spark, dir, "documents")
      .select(col("doc_id"),
        explode(graft.functions.shingle_set(col("text"), n)).as("span"))
    val shared = spans
      .groupBy("span").agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= 2)
    spans
      .join(shared, "span")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_spans"),
        max("n_docs").as("max_span_docs"))
  }

  /** The round-5 capstone — corpus build v2, composing the NEW pipeline
    * stages end-to-end in one declarative plan (order matters and is the
    * contract):
    *
    *   1. per-language quality gate (top `keepPerMille`‰ by length —
    *      [[qQualityGate]]'s integer threshold);
    *   2. per-source frequency cap over the gate's SURVIVORS
    *      ([[qSourceCap]]'s salted priority);
    *   3. exact-dup and near-dup keep-lists computed over the FULL
    *      corpus (same contract as [[qCorpusBuild]] — dedup relations
    *      are corpus-level facts, not survivor-level);
    *   4. train/test decontamination: TRAIN docs sharing any 4-token
    *      shingle with the TEST split are dropped (eval shingles also
    *      corpus-level: you decontaminate against what you evaluate on);
    *   5. [[qSplitAssign]]'s split policy → per-(split, lang) census.
    *
    * Every stage is an operator this library ships individually; all are
    * hash/order-deterministic, so the five-stage composition carries a
    * single DuckDB oracle. */
  def qCorpusBuildV2(
      spark: SparkSession, dir: String,
      keepPerMille: Int = 700, cap: Int = 15): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("text"))
    val byLang = Window.partitionBy("lang")
    val gated = docs
      .withColumn("grn", row_number().over(gatePriority).cast("long"))
      .withColumn("n_l", count(lit(1)).over(byLang))
      .filter(gateKeeps(col("grn"), col("n_l"), keepPerMille))
      .drop("grn", "n_l")
    val capped = gated
      .withColumn("crn", row_number().over(capPriority))
      .filter(col("crn") <= cap)
      .select("doc_id", "lang", "n_chars")
    val exactLosers = exactDupLosers(docs)
    val nearLosers = qDedupClusters(spark, dir)
      .filter(!col("is_keeper"))
      .select("doc_id")
    // PERSISTED per-doc shingle arrays shared with the whole dedup module
    // (qDedupClusters above shingles the corpus through the same cache) —
    // without it the two contamination branches would each re-run the
    // shingling kernel over the corpus
    val sh = graft.dedup.Dedup.shingleArrays(spark, dir)
      .withColumn("bucket", bucketOf(col("doc_id")))
    val evalShingles = sh.filter(col("bucket") >= 90)
      .select(explode(col("sh_arr")).as("s")).distinct()
    val contaminated = sh.filter(col("bucket") < 80)
      .select(col("doc_id"), explode(col("sh_arr")).as("s"))
      .join(evalShingles, "s")
      .select("doc_id").distinct()
    capped
      .join(exactLosers, Seq("doc_id"), "left_anti")
      .join(nearLosers, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .withColumn("split", splitOf(bucketOf(col("doc_id"))))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
  }

  /** Capstone v3 — the MODEL-DRIVEN corpus build, composing the
    * round-7 selector family the way a production pretraining pipeline
    * chains them (the CCNet/LLaMA recipe: classifier filter → semantic
    * dedup → importance resampling):
    *   1. [[graft.pipeline.QualityClassifier]]'s trained discriminative
    *      score replaces v2's heuristic n_chars gate — per-language rank
    *      by (score desc, doc_id), keep the top `keepPerMille` share.
    *      RANK, not the sign of the score: on a corpus where the
    *      classes aren't separable the raw keep bit collapses to the
    *      majority class, while the rank gate always yields the
    *      requested share of most-reference-like docs;
    *   2. [[graft.similarity.Similarity.qSemDedup]]'s semantic-cluster
    *      losers (adaptive cell count) drop near-duplicate MEANING the
    *      shingle pipelines can't see — vec_id joins doc_id, the
    *      embeddings table being the documents' vector column;
    *   3. [[qDsirWeights]]' importance resample: a salted uniform draw
    *      in [0, 2·10⁶) kept when it lands under the doc's mean
    *      per-token DSIR weight (ppm) — docs that look like the target
    *      distribution survive proportionally more often, the DSIR
    *      paper's sampling step made hash-deterministic;
    *   4. the singular split policy ([[bucketOf]]/[[splitOf]]) →
    *      per-(split, lang) census.
    *
    * Scale shape: stage 1 windows inside lang partitions (never a
    * global total order); stage 2's pair work is bounded per trained
    * cell; stage 3 is a map-side filter on an aggregate already keyed
    * by doc; the census is one shuffle. The classifier model and IVF
    * centroids are the session's cached kilobyte artifacts — training
    * cost is shared with q_quality_classifier / q_semdedup, not paid
    * again here. */
  def qCorpusBuildV3(
      spark: SparkSession, dir: String,
      keepPerMille: Int = 600, drawScale: Long = 2000000L): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val scored = graft.pipeline.QualityClassifier
      .qQualityClassifier(spark, dir)
      .select(col("doc_id"), col("score_fp"))
    val byLangScore = Window.partitionBy("lang")
      .orderBy(col("score_fp").desc, col("doc_id"))
    val gated = docs.join(scored, "doc_id")
      .withColumn("grn", row_number().over(byLangScore).cast("long"))
      .withColumn("n_l", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(gateKeeps(col("grn"), col("n_l"), keepPerMille))
      .select("doc_id", "lang", "n_chars")
    val semLosers = graft.similarity.Similarity.qSemDedup(spark, dir)
      .filter(!col("is_keeper"))
      .select(col("vec_id").as("doc_id"))
    // salted per-policy draw (the salt-every-hash-policy rule): both
    // sides of the comparison are nonnegative integers, so Spark `div`
    // and DuckDB `//` agree without the sign-safe CASE
    val sampled = qDsirWeights(spark, dir)
      .filter(
        conv(substring(md5(concat(lit("v3samp:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long")
          % drawScale < expr("dsir_score div n_tokens"))
      .select("doc_id")
    gated
      .join(semLosers, Seq("doc_id"), "left_anti")
      .join(sampled, Seq("doc_id"), "left_semi")
      .withColumn("split", splitOf(bucketOf(col("doc_id"))))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))
  }

  /** Greedy contiguous sequence packing: docs in doc_id order are packed
    * into fixed token budgets (`capacity`), each doc assigned to the bin
    * its RUNNING token total falls in — the streaming approximation of
    * bin packing every large-scale pretokenizer uses (true first-fit is
    * inherently sequential; contiguous packing is one window scan and
    * within a few percent of it on shuffled corpora). Output is the
    * per-bin census: docs, tokens, fill ratio. */
  def qPackSequences(
      spark: SparkSession, dir: String, capacity: Int = 2048,
      tokenCount: Column => Column = c =>
        size(split(c, " ", -1)).cast("long")): DataFrame = {
    // `tokenCount` is the billing unit: whitespace tokens by default, or
    // any per-doc counter — e.g. `graft.functions.bpe_count` for subword
    // budgets, which is what a real pretokenizer packs against
    // packing is per-language (streams are per-shard in a real pipeline):
    // the window partitions by lang, so the sequential scan parallelizes
    // across shards instead of serializing the corpus through one sort
    val w = Window.partitionBy("lang").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        tokenCount(col("text")).as("n_tokens"))
      .withColumn("running", sum("n_tokens").over(w))
      // bin of the doc's START offset: a doc straddling a boundary stays
      // in the bin it began in (contiguous packing semantics)
      .withColumn("bin",
        floor((col("running") - col("n_tokens")) / capacity).cast("long"))
      .groupBy("lang", "bin")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"))
      .withColumn("fill",
        round(col("n_tokens").cast("double") / capacity, 4))
  }

  /** Per-source frequency cap (the domain-cap policy of RefinedWeb/C4
    * lineage pipelines): at most `cap` docs per source, chosen by
    * deterministic md5 priority (doc_id tiebreak) so the SAME docs
    * survive on every run and engine — a `rand()` cap would re-draw the
    * corpus each rebuild. Output is the per-source census with a kept
    * doc-id checksum, so the oracle verifies WHICH docs were kept, not
    * just how many.
    *
    * Scale shape: one window partitioned by source (sources are
    * many, none corpus-sized), then a map-side-combinable census. */
  def qSourceCap(
      spark: SparkSession, dir: String, cap: Int = 15): DataFrame = {
    // SALTED priority hash ([[capPriority]]): the split policy draws its
    // buckets from md5(doc_id), and ordering the cap by the same value
    // would keep exactly the low-bucket docs — the capped corpus would
    // compose into an almost-all-train split (a 60% cap would leave test
    // EMPTY). Every hash-derived policy in this module must draw from a
    // distinct salted stream.
    load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .withColumn("rn", row_number().over(capPriority))
      .groupBy("source")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("rn") <= cap, col("doc_id"))).as("kept_docid_sum"))
  }

  /** Per-language quality-percentile gate: keep the top `keepPerMille`‰
    * of docs per language by content length (desc, doc_id tiebreak) —
    * the relative-threshold filtering stage (CCNet-style "keep the best
    * fraction per shard") that a fixed absolute cutoff can't express,
    * because languages have different length distributions. Integer
    * arithmetic only: kept iff `rn ≤ ceil(p·n)` computed as
    * `rn·1000 ≤ p‰·n + 999` — no double percentile to drift across
    * engines. Census output with the kept-set's cutoff length.
    *
    * Scale shape: one window per language plus a map-side-combinable
    * census — same discipline as [[qSourceCap]]. */
  def qQualityGate(
      spark: SparkSession, dir: String, keepPerMille: Int = 700): DataFrame = {
    val byLang = Window.partitionBy("lang")
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .withColumn("rn", row_number().over(gatePriority).cast("long"))
      .withColumn("n_l", count(lit(1)).over(byLang))
      .withColumn("keep", gateKeeps(col("rn"), col("n_l"), keepPerMille))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        min(when(col("keep"), col("n_chars"))).as("cut_chars"))
  }

  /** Quality-priority cluster representatives: per near-dup cluster, keep
    * the LONGEST member (n_chars desc, doc_id tiebreak) instead of the
    * min-id member — the keeper policy real pipelines run, because the
    * longest near-duplicate is usually the least-truncated capture of
    * the underlying page. Consumes the same cached cluster table as
    * [[qDedupClusters]], so the propagation loop runs once per session.
    *
    * Scale shape: one window partitioned by cluster_id over the
    * (small) clustered-doc set — clusters are bounded by near-dup
    * fan-in, never the corpus. */
  def qDedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClusters(spark, dir).select("doc_id", "cluster_id")
    val docs = load(spark, dir, "documents").select(col("doc_id"), col("n_chars"))
    val byCluster = Window.partitionBy("cluster_id")
    val best = Window.partitionBy("cluster_id")
      .orderBy(col("n_chars").desc, col("doc_id"))
    clusters
      .join(docs, "doc_id")
      .withColumn("rn", row_number().over(best))
      .withColumn("n_members", count(lit(1)).over(byCluster))
      .filter(col("rn") === 1)
      .select(col("cluster_id"),
        col("doc_id").as("rep_doc_id"),
        col("n_chars").as("rep_chars"),
        col("n_members"))
  }

  /** Temperature-weighted language sampling (the multilingual-mix policy
    * of mT5/XLM-R): per-language sampling share q_l ∝ (n_l/N)^alpha —
    * alpha < 1 UPSAMPLES tail languages relative to their natural share —
    * then a per-doc keep decision by deterministic md5 threshold so the
    * drawn mix is reproducible across runs, partitionings, and engines.
    * Output is the per-language census a pipeline logs: natural count,
    * integer keep-rate (parts-per-million), drawn count, achieved rate.
    *
    * Scale shape: the rate table is one tiny aggregate (rows = languages)
    * cross-joined back as a broadcast; the keep decision is a stateless
    * per-row hash compare — no shuffle beyond the census groupBy.
    *
    * Determinism contract: the threshold is FLOORED to integer ppm before
    * the compare, so the engine-boundary risk is one doc whose 20-bit
    * hash lands exactly on a rate whose double value straddles an integer
    * — verified hash-exact against DuckDB at sf0.01 and sf0.1. */
  def qLangSampleTemp(
      spark: SparkSession, dir: String,
      alpha: Double = 0.3, targetFrac: Double = 0.5): DataFrame = {
    val docs = load(spark, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum("n_docs").as("total"))
    // weights quantized to fixed point BEFORE the normalizing sum: a
    // double sum over shuffled partials merges in fetch order, and the
    // 1-ulp drift could flip a floor() boundary between runs/engines —
    // integer sums are order-independent (the same discipline as the
    // embedding centroids). The per-value pow() 1-ulp risk remains and
    // is covered by the integer-ppm flooring below.
    val weights = counts.crossJoin(broadcast(total))
      .withColumn("wt_fp",
        round(pow(col("n_docs").cast("double") / col("total"), lit(alpha))
          * 1e12).cast("long"))
    val wsum = weights.agg(sum("wt_fp").as("wsum_fp"))
    // expected kept from lang l = targetFrac·N·q_l; keep-rate = that / n_l
    val rates = weights.crossJoin(broadcast(wsum))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          floor(lit(targetFrac) * (col("wt_fp") / col("wsum_fp"))
            * col("total") / col("n_docs") * 1e6).cast("long")))
      .select("lang", "n_docs", "rate_ppm")
    docs
      .withColumn("u_ppm",
        conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .join(broadcast(rates), "lang")
      .groupBy("lang")
      .agg(first("n_docs").as("n_docs"),
        first("rate_ppm").as("rate_ppm"),
        sum(when(col("u_ppm") < col("rate_ppm"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("achieved_rate",
        round(col("n_kept").cast("double") / col("n_docs"), 4))
  }

  /** Context-window CHUNKING — the doc → training-example explosion every
    * pretraining pipeline runs: overlapping `window`-token slices every
    * `stride` tokens (stride < window ⇒ overlap carries context across
    * boundaries), each doc contributing `ceil((n-window)/stride) + 1`
    * windows (short docs contribute one). Integer arithmetic only; the
    * per-(lang) census reports docs, windows, full windows, and the
    * token sum ACROSS windows (overlap double-counted — that is what the
    * trainer actually consumes).
    *
    * Scale shape: the explode is per-row bounded (≤ n/stride windows per
    * doc — no corpus-sized intermediate), the census aggregates with
    * map-side combine, and nothing shuffles except the tiny groupBy. */
  def qChunkWindows(
      spark: SparkSession, dir: String,
      window: Int = 256, stride: Int = 192): DataFrame = {
    require(stride > 0 && window >= stride,
      s"need 0 < stride <= window, got window=$window stride=$stride")
    load(spark, dir, "documents")
      .select(col("lang"),
        size(split(col("text"), " ", -1)).cast("long").as("n"))
      .withColumn("n_win",
        when(col("n") <= window, 1L)
          .otherwise(expr(s"(n - $window + ${stride - 1}) div $stride") + 1L))
      .select(col("lang"), col("n"),
        explode(sequence(lit(0L), col("n_win") - 1L)).as("k"))
      .withColumn("wlen",
        least(lit(window.toLong), col("n") - col("k") * stride))
      .groupBy("lang")
      .agg(sum(when(col("k") === 0, 1L).otherwise(0L)).as("n_docs"),
        count(lit(1)).as("n_windows"),
        sum(when(col("wlen") === window, 1L).otherwise(0L)).as("n_full"),
        sum("wlen").as("token_sum"))
  }

  /** Domain-MIX resampling: draw a target corpus of `targetPpm`‰‰ of the
    * documents with EQUAL share per source (the mixture-flattening step
    * between "crawl proportions" and "what the model should see" —
    * uniform here; any weight vector slots into the same shape). The
    * per-source accept rate is computed in INTEGERS end-to-end —
    * `min(1e6, (N·targetPpm) div (S·n_d))` parts-per-million — and each
    * doc draws a salted md5 uniform against it ([[qSourceCap]]'s salting
    * rule: every hash policy its own stream), so the drawn mix is
    * byte-stable across runs, partitionings, and engines. Census per
    * source: natural count, rate, drawn count, achieved rate.
    *
    * Scale shape: the rate table is one tiny aggregate broadcast back;
    * the keep decision is a stateless per-row hash compare — no shuffle
    * beyond the census groupBy. Integer headroom: N·targetPpm ≤ 2⁶³
    * holds to corpora of ~9×10¹² docs. */
  def qDomainMix(
      spark: SparkSession, dir: String, targetPpm: Long = 500000L): DataFrame = {
    val docs = load(spark, dir, "documents").select(col("doc_id"), col("source"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val totals = counts.agg(sum("n_docs").as("total"),
      count(lit(1)).as("n_sources"))
    val rates = counts.crossJoin(broadcast(totals))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"(total * $targetPpm) div (n_sources * n_docs)")))
      .select("source", "n_docs", "rate_ppm")
    docs
      .withColumn("u_ppm",
        conv(substring(md5(concat_ws(":", lit("mix"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .join(broadcast(rates), "source")
      .groupBy("source")
      .agg(first("n_docs").as("n_docs"),
        first("rate_ppm").as("rate_ppm"),
        sum(when(col("u_ppm") < col("rate_ppm"), 1L).otherwise(0L))
          .as("n_kept"))
      .withColumn("achieved_rate",
        round(col("n_kept").cast("double") / col("n_docs"), 4))
  }

  /** DoReMi-flavored domain-mixture OPTIMIZATION — the step between
    * [[qDomainMix]]'s static weights and a tuned mixture: multiplicative
    * weights on per-domain excess loss. Each domain's loss is its
    * low-quality ppm rate (the [[graft.text.TextOps.qTextQuality]] gate,
    * cross-multiplied — one corpus aggregation); then `rounds` rounds of
    *   w ← w · (10⁶ + η·(loss − w-avg loss) div 10⁶) div 10⁶
    * in pure integer arithmetic (η in ppm; div truncates toward zero in
    * Spark, DuckDB `//`, and Scala `/` alike — the negative-excess
    * agreement q_holt_winters established). Domains above the weighted
    * mean loss gain weight (they need more gradient), below lose —
    * emitted per round with the normalized share so the whole
    * trajectory is hash-checked, not just the fixed point.
    *
    * Scale shape: ONE map-side-combinable corpus pass to the per-domain
    * loss census; the iteration runs on the collected domain table (the
    * kilobyte model-publish pattern — domain mixtures are tens of named
    * sources by construction; a web-scale domain universe would swap in
    * the broadcast-join shape of [[qDomainMix]]). Headroom: w stays
    * within (1±η)^rounds of 10⁶, every product ≤ ~10¹³ — longs. */
  def qMixMw(
      spark: SparkSession, dir: String,
      rounds: Int = 4, etaPpm: Long = 200000L): DataFrame = {
    import spark.implicits._
    val loss = load(spark, dir, "documents")
      .select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .cast("long").as("n_stop"))
      .withColumn("low",
        !(col("n_tokens").between(20, 80) &&
          col("n_stop") * 5 < col("n_tokens")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("low"), 1L).otherwise(0L)).as("n_low"))
      .select(col("source"),
        expr("(n_low * 1000000) div n_docs").as("loss_ppm"))
      .as[(String, Long)].collect().sortBy(_._1)
    var w = loss.map { case (s, l) => (s, l, 1000000L) }
    val out = scala.collection.mutable.Buffer[(String, Long, Long, Long, Long)]()
    for (t <- 0 to rounds) {
      val totW = w.map(_._3).sum
      out ++= w.map { case (s, l, wi) =>
        (s, t.toLong, l, wi, wi * 1000000L / totW)
      }
      if (t < rounds) {
        val totWl = w.map { case (_, l, wi) => wi * l }.sum
        val wavg = totWl / totW
        w = w.map { case (s, l, wi) =>
          val factor = 1000000L + etaPpm * (l - wavg) / 1000000L
          (s, l, wi * factor / 1000000L)
        }
      }
    }
    spark.createDataFrame(out.toSeq)
      .toDF("source", "step", "loss_ppm", "w", "share_ppm")
  }

  /** Capstone v6 — the MIXTURE-TUNED release: one declarative funnel
    * chaining this round's new model-driven families end-to-end.
    *
    *   1. **mix**: per-source acceptance rate
    *      `min(10⁶, share·n_sources)` from the [[qMixMw]] step-4 tuned
    *      mixture (above-uniform domains keep everything, downweighted
    *      domains thin out), salted-md5 draw on its own "v6:" stream;
    *   2. **lex**: the [[graft.text.TextOps.qLexiconFilter]] blocklist
    *      gate (shared per-doc frame — one definition);
    *   3. **model**: boosted-stump predicted distinct-token mass
    *      (Σ leaf contributions of the
    *      [[BoostedStumps.qBoostedStumps]] model) ≥ `predThreshold` —
    *      the model-based quality gate.
    *
    * Census per (source, lang) with the stage funnel (n_base ≥ n_mix ≥
    * n_lex ≥ n_final). Scale shape: both trained artifacts arrive as
    * kilobyte broadcast literals (the model-publish pattern); every
    * gate is a stateless per-row expression; ONE corpus pass + the tiny
    * census groupBy. The oracle replays mixture training, stump
    * training, and all three gates in a single chained CTE program. */
  def qCorpusBuildV6(
      spark: SparkSession, dir: String,
      predThreshold: Long = 22000000L): DataFrame = {
    import spark.implicits._
    val shares = qMixMw(spark, dir).filter(col("step") === 4)
      .select("source", "share_ppm").as[(String, Long)].collect()
    val nSources = shares.length
    val rateMap = typedlit(shares.map { case (s, sh) =>
      s -> math.min(1000000L, sh * nSources)
    }.toMap)
    val model = graft.pipeline.BoostedStumps.qBoostedStumps(spark, dir)
      .select("feature", "threshold", "left_fp", "right_fp")
      .as[(String, Long, Long, Long)].collect()
    val pred = model.map { case (fe, th, dl, dr) =>
      when(col(fe) <= th, dl).otherwise(dr)
    }.reduce(_ + _)
    load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("f1"),
        col("n_chars").cast("long").as("f2"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .cast("long").as("f3"))
      .join(graft.text.TextOps.lexiconPerDoc(spark, dir)
        .select("doc_id", "flagged"), "doc_id")
      .withColumn("u",
        conv(substring(md5(concat(lit("v6:"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .withColumn("mix", col("u") <
        coalesce(element_at(rateMap, col("source")), lit(0L)))
      .withColumn("lex", col("mix") && !col("flagged"))
      .withColumn("mdl", col("lex") && pred >= predThreshold)
      .groupBy("source", "lang")
      .agg(count(lit(1)).as("n_base"),
        sum(when(col("mix"), 1L).otherwise(0L)).as("n_mix"),
        sum(when(col("lex"), 1L).otherwise(0L)).as("n_lex"),
        sum(when(col("mdl"), 1L).otherwise(0L)).as("n_final"))
  }

  /** Deterministic global training-order shuffle + balanced shard
    * assignment: every doc gets a seed-keyed md5 shuffle key, a CONTIGUOUS
    * global position in shuffle-key order, and a shard of `perShard`
    * consecutive positions — the exact-size output shards a pretraining
    * writer emits. Output is the per-shard census (count, position range,
    * doc-id checksum).
    *
    * Scale shape — this is the operator where the naive formulation is a
    * scale-killer: `row_number().over(Window.orderBy(...))` with no
    * partition key funnels the CORPUS through one task. Instead the sort
    * stays distributed (range-partition exchange on the shuffle key +
    * within-partition sort) and the contiguous rank comes from
    * `zipWithIndex`, whose only extra cost is one tiny per-partition
    * count pass to compute partition offsets — the classic
    * total-order-at-scale pattern. */
  def qGlobalShuffle(
      spark: SparkSession, dir: String,
      perShard: Int = 100, seed: String = "graft"): DataFrame = {
    import spark.implicits._
    val keyed = load(spark, dir, "documents")
      .select(col("doc_id"),
        md5(concat_ws(":", lit(seed), col("doc_id").cast("string")))
          .as("shuffle_key"))
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    // range partitions are emitted in key order, so zipWithIndex's
    // partition-offset prefix sums give the true global rank
    val ranked = keyed
      .repartitionByRange(parts, col("shuffle_key"))
      .sortWithinPartitions("shuffle_key")
      .select("doc_id").rdd
      .zipWithIndex()
      .map { case (r, i) => (r.getLong(0), i + 1L) }
      .toDF("doc_id", "pos")
    ranked
      // `div`, not `/`: SQL `/` is double division, and a double quotient
      // only floors correctly below 2^53 — integer div has no cliff
      .withColumn("shard", expr(s"(pos - 1) div $perShard"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        min("pos").as("first_pos"),
        max("pos").as("last_pos"),
        sum("doc_id").as("docid_sum"))
  }

  /** DSIR-style importance weights: score every document by how much its
    * hashed-unigram profile resembles a target domain (here lang = `en`)
    * relative to the whole corpus — the data-selection signal used to
    * tilt a raw crawl toward a quality domain before sampling.
    *
    * Token → 64 md5-derived buckets (the same hashing-trick convention
    * as feature hashing); per-bucket weight is the add-one-smoothed
    * frequency ratio in integer ppm, w_b = (ct_b+1)·1e6 div (cb_b+1)
    * computed with truncating division so every engine agrees bit-for-
    * bit; a document's score is the exact integer sum of its tokens'
    * bucket weights. (Real DSIR sums log-ratios; the integer ratio keeps
    * the same ordering signal while staying oracle-exact.)
    *
    * Scale shape: two map-side-combinable counting aggregations build the
    * 64-row weight table — the tiny model artifact — which then
    * broadcast-joins onto the token stream; one groupBy(doc_id) emits the
    * scores. Nothing quadratic, no driver loops, and the weight table is
    * what a pipeline would persist to reuse across corpus versions. */
  def qDsirWeights(
      spark: SparkSession, dir: String,
      targetLang: String = "en", dims: Int = 64): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        explode(graft.text.TextOps.tokens(col("text"))).as("tok"))
      .withColumn("bucket", // salted: an unsalted md5(tok) byte would
        // correlate with any other policy reusing md5(tok) bits (the
        // repo's salt-every-hash-policy rule; qDomainMix salts 'mix')
        conv(substring(md5(concat(lit("dsir:"), col("tok"))), 1, 2), 16, 10)
          .cast("long") % dims)
    val bg = toks.groupBy("bucket").agg(count(lit(1)).as("cb"))
    val tg = toks.filter(col("lang") === targetLang)
      .groupBy("bucket").agg(count(lit(1)).as("ct"))
    val weights = bg.join(tg, Seq("bucket"), "left")
      .select(col("bucket"),
        expr("((coalesce(ct, 0) + 1) * 1000000) div (cb + 1)").as("w"))
    toks.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("w").as("dsir_score"))
  }

  /** Leakage-free split assignment: near-duplicate documents must land
    * in the SAME split, or test measures memorization of train (the
    * dedup-aware refinement of [[qSplitAssign]]). Group key = the
    * near-dup cluster label where one exists, else the doc itself —
    * and the split is THE single split policy ([[bucketOf]]/[[splitOf]])
    * applied to the GROUP key, so docs with no near-dups keep exactly
    * their [[qSplitAssign]] split and the two assignments never drift.
    *
    * Scale shape: one left join of the corpus against the (cluster-
    * member-sized) cluster table; the split decision is a map-only
    * hash. */
  def qSplitLeakfree(spark: SparkSession, dir: String): DataFrame = {
    val clusters = qDedupClusters(spark, dir).select("doc_id", "cluster_id")
    load(spark, dir, "documents").select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("group_id", coalesce(col("cluster_id"), col("doc_id")))
      .select(col("doc_id"), col("group_id"),
        splitOf(bucketOf(col("group_id"))).as("split"))
  }

  /** Token-budget mixture solver — the calculation that turns "train on
    * B tokens with equal source shares" into per-source sampling rates:
    * each source's rate is min(1, (B / nSources) / its token count) in
    * integer ppm, and the census reports both the expectation and the
    * ACTUAL salted-draw outcome (kept docs/tokens), since the drawn
    * corpus is what ships. All counts integer-exact. */
  def qTokenBudget(
      spark: SparkSession, dir: String,
      budgetTokens: Long = 100000L): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(graft.text.TextOps.tokens(col("text"))).cast("long")
          .as("n_toks"))
    val perSource = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_toks").as("src_toks"))
    val nSources = perSource.agg(count(lit(1)).as("n_sources"))
    val rates = perSource.crossJoin(broadcast(nSources))
      .withColumn("rate_ppm",
        least(lit(1000000L),
          expr(s"(($budgetTokens div n_sources) * 1000000) div src_toks")))
      .select("source", "n_docs", "src_toks", "rate_ppm")
    docs
      .withColumn("u_ppm",
        conv(substring(md5(concat_ws(":", lit("tokbudget"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .join(broadcast(rates), "source")
      .groupBy("source")
      .agg(first("n_docs").as("n_docs"),
        first("src_toks").as("src_toks"),
        first("rate_ppm").as("rate_ppm"),
        sum(when(col("u_ppm") < col("rate_ppm"), 1L).otherwise(0L))
          .as("kept_docs"),
        sum(when(col("u_ppm") < col("rate_ppm"), col("n_toks"))
          .otherwise(0L)).as("kept_toks"))
  }

  /** Uniform k-per-group sample — the eval-set construction op: a
    * fixed, reproducible handful of docs from EVERY source regardless
    * of source size (a global sample would starve small sources). The
    * priority is a salted content hash ordered as a hex string (both
    * engines compare the same characters), doc_id tiebreak, served by
    * the native top-k operator — per-partition heaps, never a window
    * sort of the corpus. */
  def qGroupSample(
      spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    graft.plans.TopK.topKPerKey(
      load(spark, dir, "documents")
        .select(col("doc_id"), col("source"),
          md5(concat_ws(":", lit("gsamp"),
            col("doc_id").cast("string"))).as("pri")),
      keys = Seq(col("source")),
      order = Seq(col("pri").asc, col("doc_id").asc),
      k = k)

  /** Fixed-size importance sample by sequential Poisson (priority)
    * sampling: priority = u / w (integer ppm arithmetic), keep the `n`
    * globally smallest — inclusion probability ≈ proportional to the
    * DSIR importance weight, but with an EXACT output size, which is
    * what a budgeted pipeline actually wants ([[qDsirResample]]'s
    * Bernoulli draw only controls the size in expectation).
    *
    * Scale shape: priorities are map-only over the scored corpus; the
    * global smallest-n is a TakeOrdered (per-partition heaps, no full
    * sort); ties broken by doc_id so the cut is total. */
  def qPrioritySample(
      spark: SparkSession, dir: String, n: Int = 200): DataFrame =
    qDsirWeights(spark, dir)
      .withColumn("avg_w",
        greatest(expr("dsir_score div n_tokens"), lit(1L)))
      .withColumn("u_ppm",
        conv(substring(md5(concat_ws(":", lit("prio"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .withColumn("pri", expr("(u_ppm * 1000000) div avg_w"))
      .select("doc_id", "avg_w", "pri")
      .orderBy(col("pri"), col("doc_id"))
      .limit(n)

  /** DSIR end-to-end: turn the importance weights into an actually
    * DRAWN corpus. Acceptance probability is min(1, w̄ / 10⁶) where
    * w̄ = `dsir_score div n_tokens` is the per-token mean importance in
    * ppm (w̄ ≈ 10⁶ ⇔ the doc looks exactly like the target
    * distribution), decided by the repo's standard salted integer-ppm
    * draw — so the sample is reproducible across engines, runs, and
    * partitionings, and composable with every other ppm gate. Output is
    * the surviving docs with their weight and draw (the audit columns a
    * selection pipeline keeps).
    *
    * Scale shape: weights are a broadcast 64-row relation (inherited
    * from [[qDsirWeights]]); the draw and gate are map-only over the
    * corpus — no additional shuffle beyond the score aggregation. */
  def qDsirResample(spark: SparkSession, dir: String): DataFrame =
    qDsirWeights(spark, dir)
      .withColumn("avg_w", expr("dsir_score div n_tokens"))
      .withColumn("u_ppm",
        conv(substring(md5(concat_ws(":", lit("dsirsample"),
          col("doc_id").cast("string"))), 1, 8), 16, 10)
          .cast("long") % 1000000L)
      .filter(col("u_ppm") < col("avg_w"))
      .select("doc_id", "n_tokens", "dsir_score", "avg_w", "u_ppm")

  /** Capstone v4 — the round's new operators composed into one corpus
    * build, each stage a different family:
    *   1. QUALITY: keep the top 60% per language by the RRF ensemble
    *      rank ([[qQualityEnsemble]] — heuristic + perplexity +
    *      classifier, fused);
    *   2. NEAR-DUP: for every prefix-filtered set-similarity pair
    *      ([[graft.dedup.Dedup.qSetSimJoin]], Jaccard ≥ 3/5), drop the
    *      side with the WORSE fused quality (tie → higher doc_id) — the
    *      pairwise survivor rule, resolved from the same rrf artifact,
    *      so dedup keeps the best copy rather than an arbitrary one;
    *   3. DECONTAMINATION: drop every document containing the eval
    *      phrase ("hash join") at token-adjacency — the positional
    *      phrase-search relation ([[graft.text.TextOps.qPhraseSearch]])
    *      used as a kill list;
    *   4. census by the standard hash split.
    * Every stage is integer/rank deterministic, so the composed oracle
    * (ensemble chain + setsim pairs + phrase CTE) is hash-exact. */
  /** The v4 capstone's survivor set — ensemble gate, setsim
    * pairwise-survivor dedup, phrase decontamination — as a reusable
    * frame (doc_id, lang, n_chars): [[qCorpusBuildV4]] censuses it by
    * split and [[qCorpusBuildV5]] privacy-gates its release. */
  private def corpusSurvivorsV4(
      spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val rrf = qQualityEnsemble(spark, dir)
      .select(col("doc_id"), col("rrf_ppm"))
    val byLang = Window.partitionBy("lang")
      .orderBy(col("rrf_ppm").desc, col("doc_id"))
    val gated = docs.join(rrf, "doc_id")
      .withColumn("qrn", row_number().over(byLang).cast("long"))
      .withColumn("n_l", count(lit(1)).over(Window.partitionBy("lang")))
      .filter(gateKeeps(col("qrn"), col("n_l"), 600))
    // pairwise survivor: the loser of each near-dup pair (worse rrf,
    // ties to the higher id) leaves, regardless of gate survival of
    // its partner — a dropped winner must still kill its echo
    val pairs = graft.dedup.Dedup.qSetSimJoin(spark, dir)
      .select(col("d1"), col("d2"))
      .join(rrf.select(col("doc_id").as("d1"), col("rrf_ppm").as("q1")), "d1")
      .join(rrf.select(col("doc_id").as("d2"), col("rrf_ppm").as("q2")), "d2")
    val losers = pairs.select(
      when(col("q1") < col("q2"), col("d1"))
        .when(col("q2") < col("q1"), col("d2"))
        .otherwise(greatest(col("d1"), col("d2"))).as("doc_id"))
      .distinct()
    val contaminated = graft.text.TextOps.qPhraseSearch(spark, dir)
      .select("doc_id")
    gated
      .join(losers, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
  }

  def qCorpusBuildV4(spark: SparkSession, dir: String): DataFrame =
    corpusSurvivorsV4(spark, dir)
      .withColumn("split", splitOf(bucketOf(col("doc_id"))))
      .groupBy("split", "lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"))

  /** Capstone v5 — the privacy-gated RELEASE of the v4 corpus: before a
    * curated corpus ships, its per-language composition goes through the
    * round's privacy gates. Per language of the survivor set:
    * the k-anonymity census over the release's quasi-identifier classes
    * (source × 256-char length bucket — what a scraped-corpus datasheet
    * exposes), and the ε-DP Laplace-noised document count (the
    * [[graft.relational.DataQuality.qDpCounts]] mechanism, same
    * deterministic salted-md5 draw so the oracle replays it). One
    * aggregation over the survivor frame; the census and noise math run
    * on the language-sized class table. */
  def qCorpusBuildV5(spark: SparkSession, dir: String): DataFrame = {
    val src = load(spark, dir, "documents").select("doc_id", "source")
    val classes = corpusSurvivorsV4(spark, dir)
      .join(src, "doc_id")
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 256").as("len_bucket"))
      .agg(count(lit(1)).as("sz"))
    classes.groupBy("lang")
      .agg(count(lit(1)).as("n_classes"),
        sum("sz").as("n_docs"),
        min("sz").as("min_class_size"),
        sum(when(col("sz") < 5, col("sz")).otherwise(0L)).as("n_risky"))
      .withColumn("u", expr(
        "cast(conv(substring(md5(concat('graft-dp:', lang)), 1, 13)," +
          " 16, 10) as double) / 4503599627370496.0"))
      .withColumn("noise", expr(
        "cast(floor(-10.0 * sign(u - 0.5)" +
          " * ln(greatest(1.0 - 2.0 * abs(u - 0.5), 1e-15)) + 0.5)" +
          " as bigint)"))
      .select(col("lang"), col("n_docs"),
        (col("n_docs") + col("noise")).as("n_noisy"),
        col("n_classes"), col("min_class_size"), col("n_risky"),
        expr("n_risky * 1000000 div n_docs").as("risk_ppm"))
  }

  /** Per-language rank without a per-lang window: distributed total
    * order over (lang, keys) via range-partition + zipWithIndex (the
    * qGlobalShuffle pattern), then rank-within-lang = global position −
    * the language's first position + 1 (a broadcast join against the
    * n_langs-row offset table). Bit-identical to
    * `row_number().over(Window.partitionBy("lang").orderBy(keys))` for
    * any total key order (the last key must break all ties), but never
    * funnels a whole language through one task — the low-cardinality
    * posture the per-lang window cannot escape. */
  private def langRankOf(
      spark: SparkSession, df: DataFrame, out: String,
      keys: Seq[Column]): DataFrame = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val order = col("lang").asc +: keys
    val pos = df
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
      .select("doc_id", "lang").rdd
      .zipWithIndex()
      .map { case (r, i) => (r.getLong(0), r.getString(1), i) }
      .toDF("doc_id", "lang", "gpos")
    val off = pos.groupBy("lang").agg(min("gpos").as("goff"))
    pos.join(broadcast(off), "lang")
      .select(col("doc_id"), (col("gpos") - col("goff") + 1L).as(out))
  }

  /** Reciprocal-rank-fusion ENSEMBLE of the pipeline's three quality
    * signals — the way production selection actually combines judges
    * whose scores live on incomparable scales (a stopword ppm, a
    * log-likelihood, a fixed-point logit): convert each to a RANK
    * within its language (quality norms are language-relative), then
    * fuse as Σ 10⁶ div (60 + rank), the RRF form
    * [[graft.similarity.HybridRetrieval]] uses for retrieval. All
    * integer once ranked, so the composed oracle (which replays the
    * classifier's full training chain) stays hash-exact.
    *
    * Rank shape is VOLUME-ADAPTIVE: a window partitioned by language
    * funnels a whole language through one task, which only hurts once
    * languages are big — so when the MEAN docs-per-language exceeds
    * `fallbackOverDocsPerLang` (a near-monolingual corpus at scale; the
    * per-lang window's one-task sort is the bottleneck) the ranks
    * switch to the [[langRankOf]] total-order shape, and below it the
    * window path wins on job-count overhead. Both shapes produce
    * identical ranks (TrainingDataSpec pins window == fallback), so the
    * oracle holds on either path. */
  def qQualityEnsemble(
      spark: SparkSession, dir: String,
      fallbackOverDocsPerLang: Long = 250000L): DataFrame = {
    val heur = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .cast("long").as("n_stop"))
      .select(col("doc_id"), col("lang"),
        expr("(n_stop * 1000000) div n_tokens").as("stop_ppm"))
    val ppl = graft.text.TextOps.qPerplexity(spark, dir)
      .select(col("doc_id"), col("nll"))
    val clf = QualityClassifier.qQualityClassifier(spark, dir)
      .select(col("doc_id"), col("score_fp"))
    val joined = heur.join(ppl, "doc_id").join(clf, "doc_id")
    val census = load(spark, dir, "documents")
      .agg(count(lit(1)).as("n"), countDistinct("lang").as("l")).head
    val docsPerLang =
      if (census.getLong(1) == 0) 0L
      else census.getLong(0) / census.getLong(1)
    val ranked =
      if (docsPerLang <= fallbackOverDocsPerLang) {
        def rank(order: Column*): Column =
          row_number().over(Window.partitionBy("lang").orderBy(order: _*))
            .cast("long")
        joined
          .withColumn("r_heur", rank(col("stop_ppm").asc, col("doc_id").asc))
          .withColumn("r_ppl", rank(col("nll").asc, col("doc_id").asc))
          .withColumn("r_clf", rank(col("score_fp").desc, col("doc_id").asc))
      } else {
        // three rank passes branch from this frame; the cut runs the
        // (expensive) classifier/perplexity lineage ONCE, instead of
        // four replays
        val j = graft.Cut(joined).df
        j.join(langRankOf(spark, j, "r_heur",
            Seq(col("stop_ppm").asc, col("doc_id").asc)), "doc_id")
          .join(langRankOf(spark, j, "r_ppl",
            Seq(col("nll").asc, col("doc_id").asc)), "doc_id")
          .join(langRankOf(spark, j, "r_clf",
            Seq(col("score_fp").desc, col("doc_id").asc)), "doc_id")
      }
    ranked.select(col("doc_id"), col("lang"),
      col("r_heur"), col("r_ppl"), col("r_clf"),
      expr("1000000 div (60 + r_heur) + 1000000 div (60 + r_ppl)" +
        " + 1000000 div (60 + r_clf)").as("rrf_ppm"))
  }
}
