package graft.relational

import graft.SparkSpec

/** Physical-plan audits: the properties that decide 100 TB behavior must
  * hold in the EXECUTED plan, not just be intended — a regression that
  * stops a filter reaching the scan or flips a broadcast to sort-merge is
  * invisible to result-correctness tests. */
class PlanAuditSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // force AQE to finalize the adaptive plan
    df.queryExecution.executedPlan.toString
  }

  test("q6: filters are pushed down to the parquet scan") {
    val plan = planOf(RelationalQueries.q6ForecastRevenue(spark, dir))
    assert(plan.contains("PushedFilters: ["), plan)
    // the shipdate range predicate must reach the scan, not sit in a
    // post-scan Filter only
    assert(plan.contains("GreaterThanOrEqual(l_shipdate") ||
      plan.contains("IsNotNull(l_shipdate"), plan)
  }

  test("q1: column pruning — scan reads only the 6 needed lineitem columns") {
    val plan = planOf(RelationalQueries.q1PricingSummary(spark, dir))
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_returnflag") &&
      readSchema.contains("l_quantity"), readSchema)
    // lineitem has more columns; the wide ones must NOT be read
    assert(!readSchema.contains("l_orderkey"), readSchema)
  }

  test("q5: all six dimension joins broadcast (no sort-merge on small dims)") {
    val plan = planOf(RelationalQueries.q5LocalSupplierVolume(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("near-dup/fuzzy-dedup/ANN candidates are equi-joins, never nested loops") {
    // the round-2 scale fault: an all-pairs theta join executes as a
    // (broadcast-)nested-loop over the corpus. The banded rewrites must
    // keep every candidate join an equi-join — pin it in the plan.
    val plans = Seq(
      "q_embedding_neardup" ->
        graft.similarity.Similarity.qEmbeddingNearDup(spark, dir),
      "q_ann_lsh_verified" ->
        graft.similarity.Similarity.qAnnLshVerified(spark, dir),
      "q_edit_distance" ->
        graft.dedup.Dedup.qEditDistancePairs(spark, dir))
    plans.foreach { case (name, df) =>
      val plan = planOf(df)
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name fell back to a nested loop:\n$plan")
      assert(!plan.contains("CartesianProduct"),
        s"$name produced a cartesian:\n$plan")
    }
  }

  test("LSH-verified ANN top-k runs through the native heap operator") {
    graft.plans.TopKRewrite.enable(spark)
    try {
      val plan = planOf(
        graft.similarity.Similarity.qAnnLshVerified(spark, dir))
      // TopKRewriteRule must catch the row_number()<=k pattern here too —
      // a window sort of all candidate pairs is what it exists to avoid
      assert(plan.contains("TopK"), plan)
    } finally graft.plans.TopKRewrite.disable(spark)
  }

  test("AQE splits a skewed join partition at runtime (no manual salting)") {
    import org.apache.spark.sql.functions._
    val restore = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      // 90% of the big side lands on key 0 — the straggler the reference's
      // static uniform split has no answer for (server.c:440-447 stub)
      val big = spark.range(0, 400000)
        .select(when(col("id") % 10 < 9, 0L).otherwise(col("id") % 100).as("k"),
          col("id").as("v"))
      val small = spark.range(0, 100)
        .select(col("id").as("k"), (col("id") * 2).as("w"))
      val j = big.join(small, "k")
      assert(j.collect().length === 400000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan)
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("salted join keeps its shuffle-hash shape, salt inside the join keys") {
    // salting presumes a SHUFFLE join (a broadcast join has no reduce-side
    // partition to skew): the shuffle_hash hint must hold against AQE's
    // broadcast preference at tiny SF, and the salt column must be part of
    // the physical join keys — that is the whole mechanism (Skew.scala's
    // scaladoc documents when salting applies vs AQE's partition split)
    val plan = planOf(Skew.qSaltedJoin(spark, dir))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    val shjLine = plan.linesIterator
      .find(_.contains("ShuffledHashJoin")).getOrElse("")
    assert(shjLine.contains("__salt"), shjLine)
    // result stays salt-free: the mechanism must be invisible downstream
    assert(!Skew.qSaltedJoin(spark, dir).columns.contains("__salt"))
  }

  test("round-5 joins keep their scale shapes: no nested loops, eval set broadcasts") {
    // q_ack_rtt: interval join with equi keys (connid, seqnum) — the
    // range predicate must ride on a hash/merge join, not force a BNL
    val rtt = planOf(EventQueries.qAckRtt(spark, dir))
    assert(!rtt.contains("BroadcastNestedLoopJoin") &&
      !rtt.contains("CartesianProduct"), rtt)
    // q_decontaminate: the distinct eval-shingle set is the small side
    // and must broadcast (a benchmark is tiny next to a 100 TB corpus)
    val decon = planOf(graft.pipeline.TrainingData.qDecontaminate(spark, dir))
    assert(decon.contains("BroadcastHashJoin"), decon)
    assert(!decon.contains("BroadcastNestedLoopJoin"), decon)
    // q_dup_passages: inverted-index pass — span count and join-back are
    // plain equi-joins
    val dup = planOf(graft.pipeline.TrainingData.qDupPassages(spark, dir))
    assert(!dup.contains("BroadcastNestedLoopJoin") &&
      !dup.contains("CartesianProduct"), dup)
  }

  test("third-wave operators keep their scale shapes: PQ broadcasts, shuffle avoids the one-partition window") {
    // q_ann_pq: every codebook/LUT join must be a BROADCAST hash join
    // (cells × dims metadata against data rows) — a sort-merge or
    // nested-loop appearing here means the 6-byte-code ADC scan stopped
    // streaming
    val pq = planOf(graft.similarity.Similarity.qAnnPq(spark, dir))
    assert(pq.contains("BroadcastHashJoin"), pq)
    assert(!pq.contains("BroadcastNestedLoopJoin") &&
      !pq.contains("CartesianProduct"), pq)
    // q_global_shuffle: the total order must come from a RANGE exchange
    // (distributed sort), never a single-partition window — the plan
    // must not contain a partition-less Window sort
    val gs = graft.pipeline.TrainingData.qGlobalShuffle(spark, dir)
    gs.collect()
    val gsPlan = gs.queryExecution.executedPlan.toString
    assert(!gsPlan.contains("Window"), gsPlan)
    // q_dedup_keep_best: the doc-length join rides on the tiny clustered
    // set; no nested loops anywhere
    val kb = planOf(graft.pipeline.TrainingData.qDedupKeepBest(spark, dir))
    assert(!kb.contains("BroadcastNestedLoopJoin") &&
      !kb.contains("CartesianProduct"), kb)
    // q_lang_sample_temp: the per-language rate table must broadcast back
    // onto the corpus (it is rows = languages)
    val ls = planOf(graft.pipeline.TrainingData.qLangSampleTemp(spark, dir))
    assert(ls.contains("BroadcastHashJoin"), ls)
  }

  test("round-6 operators keep their scale shapes") {
    // pagerank: the degree-annotated edge table and the ranks are cuts,
    // so the result reads a cut leaf and never re-derives the
    // distinct+degree chain from the lake (no FileScan); no nested
    // loops anywhere
    val pr = planOf(graft.graph.GraphOps.qPageRank(spark, dir))
    assert(pr.contains("Scan ExistingRDD"), pr)
    assert(!pr.contains("FileScan"), pr)
    assert(!pr.contains("CartesianProduct") &&
      !pr.contains("BroadcastNestedLoopJoin"), pr)
    // dsir: the 64-row weight table broadcasts onto the token stream —
    // the corpus-sized side must never sort-merge against a model table
    val dw = planOf(graft.pipeline.TrainingData.qDsirWeights(spark, dir))
    assert(dw.contains("BroadcastHashJoin"), dw)
    // value clip: the per-type bounds broadcast back onto events, and
    // the rank window runs over the DISTINCT-value histogram (its input
    // is the aggregated freq relation, visible as an exchange+agg
    // upstream of Window, not a corpus-wide raw sort)
    val vc = planOf(graft.relational.EventQueries.qValueClip(spark, dir))
    assert(vc.contains("BroadcastHashJoin"), vc)
    assert(!vc.contains("CartesianProduct"), vc)
  }

  test("round-8 second-wave operators keep their scale shapes") {
    // q2: the Europe-supplier and filtered-part dims broadcast into the
    // one fact aggregation; no nested loops
    val q2 = planOf(RelationalQueries.q2MinCostSupplier(spark, dir))
    assert(q2.contains("BroadcastHashJoin"), q2)
    assert(!q2.contains("CartesianProduct") &&
      !q2.contains("BroadcastNestedLoopJoin"), q2)
    // q4: the correlated EXISTS must execute as a LEFT SEMI join
    val q4 = planOf(RelationalQueries.q4OrderPriority(spark, dir))
    assert(q4.contains("LeftSemi"), q4)
    // q16: the NOT IN exclusion executes as a broadcast ANTI join, and
    // the part-attribute filters reach the dim before the fact join
    val q16 = planOf(RelationalQueries.q16SupplierCensus(spark, dir))
    assert(q16.contains("LeftAnti"), q16)
    assert(!q16.contains("CartesianProduct"), q16)
    // Theil-Sen: the pair explode is an equi-join on event_type (never
    // a nested loop), and the median rank window partitions by type
    val ts = planOf(EventQueries.qTheilSen(spark, dir))
    assert(!ts.contains("CartesianProduct") &&
      !ts.contains("BroadcastNestedLoopJoin"), ts)
    // nDCG: weight/prefix literal tables broadcast onto the k-bounded
    // lists — the label join must not sort-merge against a 10-row table
    val nd = planOf(graft.similarity.HybridRetrieval.qNdcgEval(spark, dir))
    assert(nd.contains("BroadcastHashJoin"), nd)
  }

  test("round-9 operators: broadcasts hold, no cartesians, heap top-k planned") {
    // item CF: candidate generation stays an equi-join; both top-k
    // cuts go through the native heap operator (no Window over the
    // similarity relation)
    val cf = planOf(graft.graph.GraphOps.qItemCf(spark, dir))
    assert(!cf.contains("CartesianProduct"), cf)
    assert(cf.contains("FinalTopK"), cf)
    assert(!cf.contains("Window"), cf)
    // cluster sample: the quota cut is the heap operator too
    val cs = planOf(graft.similarity.Similarity.qClusterSample(spark, dir))
    assert(cs.contains("FinalTopK") && !cs.contains("Window"), cs)
    // ER: the block self-join is an equi-join on the block key
    val er = planOf(graft.dedup.Dedup.qErEntities(spark, dir))
    assert(!er.contains("CartesianProduct") &&
      !er.contains("BroadcastNestedLoopJoin"), er)
    // OOD: the parameter table broadcasts onto the q16 rows and the
    // top-k exits through TakeOrdered, not a global sort
    val ood = planOf(graft.similarity.Similarity.qOodScore(spark, dir))
    assert(ood.contains("BroadcastHashJoin"), ood)
    assert(ood.contains("TakeOrderedAndProject"), ood)
  }

  test("round-10 sketch operators keep their scale shapes") {
    // dyadic quantiles: the counter build must partial-aggregate before
    // its exchange (map-side combine is what bounds the shuffle at the
    // fixed counter-table size), and the estimate join is a broadcast of
    // the tiny published model — no cartesian anywhere
    val dq = planOf(Sketches.qDyadicQuantiles(spark, dir))
    assert(dq.contains("partial_"), dq)
    assert(dq.contains("BroadcastHashJoin"), dq)
    assert(!dq.contains("CartesianProduct"), dq)
    // sliding HLL: window membership is enumerated offsets, so BOTH
    // window joins carry the HOUR in their equi keys — a type-only equi
    // key with the hour range as a residual is a per-type
    // quasi-cartesian over the spine (measured 3.5x this query's cost)
    val hs = planOf(Sketches.qHllSliding(spark, dir))
    assert(!hs.contains("CartesianProduct") &&
      !hs.contains("BroadcastNestedLoopJoin"), hs)
    assert(hs.contains("hll_merge"), hs)
    val joinLines = hs.linesIterator.filter(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin")).toSeq
    assert(joinLines.nonEmpty, hs)
    assert(joinLines.forall(_.contains("hour")), joinLines.mkString("\n"))
  }

  test("q_vocab_coverage ranks through the bounded heap, not a vocabulary-wide window") {
    // only ranks <= 1000 are consumed: the type table must route through
    // the native TopKPerKey single-group heap — an unpartitioned
    // row_number window here is a one-partition funnel over the whole
    // vocabulary (10^8-10^9 types on a real multilingual corpus)
    val plan = planOf(graft.text.TextOps.qVocabCoverage(spark, dir))
    assert(plan.contains("TopK"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("crack scan is a single whole-stage-codegen'd Range→Project→Filter") {
    val df = graft.crack.CrackQuery.matches(spark,
      "81fe8bfe87576c3ecb22426f8e57847382917acf", 4)
    val plan = df.queryExecution.executedPlan.toString
    // "*(1)" on every operator = one shared whole-stage-codegen stage
    assert(plan.linesIterator.filter(_.trim.nonEmpty).forall(_.contains("*(1)")),
      plan)
    assert(plan.contains("Range"), plan)
    // no exchange: the generated scan filters in place, SURVEY §3.3
    assert(!plan.contains("Exchange"), plan)
  }
}
