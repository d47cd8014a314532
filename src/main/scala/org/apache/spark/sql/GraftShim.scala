package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Spark internals: Column <-> Expression
  * conversion and native-function registration. Kept to the minimum
  * surface the graft engine needs.
  */
object GraftShim {

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)

  /** Stable per-session identity (sessionUUID lives on the classic
    * session class, not the api-facing one). */
  def sessionId(spark: SparkSession): String =
    spark.asInstanceOf[classic.SparkSession].sessionUUID

  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Session-aware Column → Expression conversion: eagerly converts the
    * column node to a plain catalyst expression (UnresolvedAttribute /
    * SortOrder / ...) that the analyzer can resolve inside CUSTOM logical
    * nodes. [[expression]]'s lazy wrapper only resolves inside Spark's own
    * operators. */
  def expressionFor(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** Register a native Catalyst expression as a session-scoped SQL function. */
  def registerFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Register a logical-plan-producing TABLE function (the
    * `SELECT * FROM f(...)` surface; same session scope as
    * [[registerFunction]]). */
  def registerTableFunction(
      spark: SparkSession,
      name: String,
      builder: Seq[Expression] => catalyst.plans.logical.LogicalPlan): Unit =
    spark.asInstanceOf[classic.SparkSession].sessionState.tableFunctionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** The (unanalyzed) logical plan behind a DataFrame. */
  def logicalPlan(df: DataFrame): catalyst.plans.logical.LogicalPlan =
    df.queryExecution.logical

  /** Wrap a logical plan back into a DataFrame on this session. */
  def ofRows(
      spark: SparkSession,
      plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** The leaf of a [[graft.Cut]] over `rdd`, the copied rows of
    * `origin`'s executed plan: origin's partitioning and ordering (from
    * `LogicalRDD.fromDataset`), but only the measured statistics. Under
    * AQE the executed plan is an `AdaptiveSparkPlanExec`, which reports
    * no partitioning, so an explicit `repartition(n, key)` would be lost
    * and every later join on the key would shuffle the cut again. `rdd`
    * holds the rows of the FINAL adaptive plan (the forcing pass ran
    * it), so its hash partitioning is kept when it is a plain one over
    * the leaf's own columns with `rdd`'s partition count, and a
    * one-partition final plan (a top-k, a global aggregate) stays
    * `SinglePartition`, so a later aggregate or join reads it without
    * a shuffle. An AQE coalesced read's `CoalescedHashPartitioning` is
    * not kept. It would be sound, since joins treat it as
    * co-partitioned only with the same bucket ranges (CutSpec pins that
    * dropping it keeps joins exact), but keeping it measured more jobs
    * at sf0.001: q_hits 42 → 45 and q_semdedup 24 → 33. A frame that
    * must keep its layout is cut after `repartition(n, key)`. */
  def ofInternalRows(
      origin: DataFrame,
      rdd: org.apache.spark.rdd.RDD[catalyst.InternalRow],
      rows: Long, bytes: Long): DataFrame = {
    import catalyst.plans.physical.{HashPartitioning, SinglePartition}
    val ds = origin.asInstanceOf[classic.Dataset[_]]
    val from = execution.LogicalRDD.fromDataset(rdd, ds, isStreaming = false)
    val ours = catalyst.expressions.AttributeSet(from.output)
    val partitioning = ds.queryExecution.executedPlan match {
      case a: execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan.outputPartitioning match {
          case h: HashPartitioning if h.references.subsetOf(ours) &&
              h.numPartitions == rdd.getNumPartitions => h
          case SinglePartition if rdd.getNumPartitions == 1 => SinglePartition
          case _ => from.outputPartitioning
        }
      case _ => from.outputPartitioning
    }
    val stats = catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(math.max(bytes, 1L)), rowCount = Some(BigInt(rows)))
    val leaf = execution.LogicalRDD(from.output, rdd, partitioning,
      from.outputOrdering, isStreaming = false)(ds.sparkSession, Some(stats))
    ofRows(ds.sparkSession, leaf.newInstance())
  }
}
