package graft.plans

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Promise}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** The first row of `child` in partition order: the first row of the
  * lowest-indexed partition that has one, or nothing.
  *
  * Over a `Range` (contiguous, ascending ordinal partitions) and
  * order-preserving per-row operators this is the row with the smallest
  * ordinal, which is how the crack plan gets the minimum preimage without
  * a `Sort → Limit 1` over the whole keyspace: every task stops at its
  * own first row, and the scan stops as soon as the answer is known. */
case class FirstHit(child: LogicalPlan) extends UnaryNode {

  override def output: Seq[Attribute] = child.output

  override def maxRows: Option[Long] = Some(1L)

  override protected def withNewChildInternal(newChild: LogicalPlan): FirstHit =
    copy(child = newChild)
}

/** Plans [[FirstHit]]; `register` installs it on a session from now on
  * (idempotent). A session built with
  * `spark.sql.extensions=graft.GraftExtensions` has it already. */
object FirstHitStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case FirstHit(child) => FirstHitExec(planLater(child)) :: Nil
    case _ => Nil
  }

  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
}

/** One job over every partition of `child`. Each task returns its
  * partition's first row and stops there. The job is cancelled as soon as
  * some partition p has a row and every partition below p has finished
  * empty; p's row is the answer. Tasks launch in index order, so a child
  * with no row at all costs exactly one full scan. */
case class FirstHitExec(child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def outputPartitioning: Partitioning = SinglePartition

  override def executeCollect(): Array[InternalRow] = {
    val rdd = child.execute()
    val n = rdd.getNumPartitions
    if (n == 0) return Array.empty // a job of no tasks reports no results
    val firstRow = (rows: Iterator[InternalRow]) =>
      if (rows.hasNext) Some(rows.next().copy()) else None
    // firsts(p) is null while partition p runs; `low` is the lowest
    // partition not yet known to be empty
    val firsts = new Array[Option[InternalRow]](n)
    var low = 0
    val answer = Promise[Option[InternalRow]]()
    val job = sparkContext.submitJob(rdd, firstRow, 0 until n,
      (p: Int, first: Option[InternalRow]) => firsts.synchronized {
        firsts(p) = first
        while (low < n && firsts(low) != null && firsts(low).isEmpty) low += 1
        if (low == n) answer.trySuccess(None)
        else if (firsts(low) != null) answer.trySuccess(firsts(low))
      }, ())
    // the job's end also ends the wait: success has decided already (each
    // task's result is handled before the job completes), and failure or
    // cancellation carries its error
    job.onComplete(_.failed.foreach(answer.tryFailure))(ExecutionContext.parasitic)
    try Await.result(answer.future, Duration.Inf).toArray
    finally if (!job.isCompleted) job.cancel()
  }

  /** Inside a larger query: the 0 or 1 rows of [[executeCollect]]. */
  override protected def doExecute(): RDD[InternalRow] =
    sparkContext.parallelize(executeCollect().toSeq, 1)

  override protected def withNewChildInternal(newChild: SparkPlan): FirstHitExec =
    copy(child = newChild)
}
