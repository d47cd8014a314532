package graft

import org.apache.spark.{Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The lineage cut: the one way graft materialises a frame. An
  * iterative loop carries each round into the next through one, driven
  * by [[Cut.iterate]], and
  * every frame an operator reads more than once, or a
  * [[SessionCache]] holds, is one. Un-cut, round r's plan nests every
  * earlier round, often several times over (BFS reads the visited set
  * three times per round), and analysis time grows geometrically.
  *
  * `Cut(df)` copies the rows of `df`'s executed plan into a persisted
  * RDD and returns a leaf over it (fresh output attributes):
  *  - ONE forcing job fills the blocks, and it is the round's probe: it
  *    counts the rows (`rows`) and sums each per-row [[Cut.Measure]]
  *    (`sums`: a changed-row count, a set fingerprint, a mass), so no
  *    loop runs a separate action over a frame it just cut.
  *  - The leaf records `df`'s output partitioning and ordering (under
  *    AQE, the final plan's plain hash or single-partition layout), so
  *    the next round's join on the same key plans no exchange on its
  *    side: a `repartition(n, key)` edge table stays where it is every
  *    round.
  *  - Its statistics are the rows and bytes the pass measured, never the
  *    origin plan's estimate. A `localCheckpoint` leaf keeps that
  *    estimate, and a join's estimate is the product of its sides', so a
  *    loop joining its own output squares it every round (q_mst wedged
  *    in megadigit BigInt stats math by round 3 at sf0.01).
  *  - [[Cut#release]] frees the blocks at once, where a checkpoint's
  *    linger until GC. The RDD keeps its lineage, so a read after
  *    release, or after a lost block, recomputes instead of failing.
  *
  * The pass is a named function object, not a lambda:
  * `SparkContext.clean` introspects a lambda's capturing class through
  * the thread context classloader, which a previously-run streaming
  * micro-batch thread can leave unable to resolve graft classes (the
  * ClosureCleaner NPE that flaked two suites in a full test run). */
private[graft] final class Cut private (
    val df: DataFrame, val rows: Long, val sums: IndexedSeq[Long],
    rdd: RDD[InternalRow]) {

  /** The first measure's sum (0 without a measure). */
  def sum: Long = sums.headOption.getOrElse(0L)

  /** Free the cut's blocks. */
  def release(): Unit = rdd.unpersist(blocking = false)
}

private[graft] object Cut {

  /** A per-row contribution to one of [[Cut#sums]] (wrapping Long
    * addition). */
  type Measure = (InternalRow => Long) with Serializable

  def apply(df: DataFrame, measures: Measure*): Cut = {
    val rdd = new Rows(df.queryExecution.toRdd, df.queryExecution.analyzed)
      .setName("graft.Cut")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val parts = df.sparkSession.sparkContext
      .runJob(rdd, new Pass(measures.toArray, df.schema.defaultSize))
    def total(i: Int): Long = parts.iterator.map(_(i)).sum
    new Cut(GraftShim.ofInternalRows(df, rdd, total(0), total(1)),
      total(0), measures.indices.map(m => total(2 + m)), rdd)
  }

  /** The round driver: every loop that carries a frame from round to
    * round through a cut runs here. From `init` (round 0), round r =
    * 1, 2, … is `step(round r-1, r)`, until `done(round r-1, round r)`
    * holds or `maxRounds` rounds ran. `done` reads what the rounds'
    * forcing passes measured (`rows`, `sums`), so the stop rule costs no
    * job of its own. A step that returns its input has nothing left to
    * do; `eq` as the rule stops there.
    *
    * Release rule: once round r is cut and `done` has read both rounds,
    * round r-1 is released, `init` included, unless the step returned
    * it. So when the driver returns, the last round is the only cut of
    * the loop still persisted, and the caller owns it. Returns that cut
    * and the number of rounds run. */
  def iterate(init: Cut, maxRounds: Int)(step: (Cut, Int) => Cut)(
      done: (Cut, Cut) => Boolean): (Cut, Int) = {
    @annotation.tailrec
    def go(prev: Cut, round: Int): (Cut, Int) =
      if (round >= maxRounds) (prev, round)
      else {
        val next = step(prev, round + 1)
        val stop = done(prev, next)
        if (next ne prev) prev.release()
        if (stop) (next, round + 1) else go(next, round + 1)
      }
    go(init, 0)
  }

  /** Cut `df`; `sum` counts the rows whose boolean column `flag` is
    * true. */
  def flagged(df: DataFrame, flag: String): Cut =
    apply(df, TrueAt(df.schema.fieldIndex(flag)))

  /** Release the cut `df` reads when `df` is a cut leaf or a projection
    * of one, else nothing: for owners that hold the frame, not the
    * [[Cut]] (a cached result, a streaming fold's state). */
  def release(df: DataFrame): Unit = {
    @annotation.tailrec
    def leaf(p: LogicalPlan): Option[RDD[_]] = p match {
      case l: LogicalRDD if l.rdd.isInstanceOf[Rows] => Some(l.rdd)
      case p: Project => leaf(p.child)
      case _ => None
    }
    leaf(GraftShim.logicalPlan(df)).foreach(_.unpersist(blocking = false))
  }

  /** `plan`, and for each cut leaf it reaches, directly or through
    * other cuts, the plan the leaf was cut from under a projection that
    * gives the origin's output the leaf's attributes: what a plan audit
    * reads to see through lineage cuts. Each leaf instance is expanded
    * once, so a loop's rounds cost one plan each. */
  private[graft] def lineage(plan: LogicalPlan): Seq[LogicalPlan] = {
    val seen = collection.mutable.Set.empty[(Int, Seq[ExprId])]
    def expand(p: LogicalPlan): Seq[LogicalPlan] =
      p +: p.collectWithSubqueries {
        case l: LogicalRDD if l.rdd.isInstanceOf[Rows] &&
            seen.add((l.rdd.id, l.output.map(_.exprId))) =>
          val o = l.rdd.asInstanceOf[Rows].origin
          expand(Project(o.output.zip(l.output).map { case (a, b) =>
            Alias(a, b.name)(b.exprId) }, o))
      }.flatten
    expand(plan)
  }

  /** A cut's RDD: copies of `parent`'s rows (unsafe rows are reused per
    * partition, so persisting needs copies). Its class is how
    * [[release]] and [[lineage]] tell a cut leaf from any other
    * RDD-backed relation. `origin`, the analyzed plan it was cut from,
    * stays on the driver for [[lineage]] and lives as long as the RDD,
    * whose own dependencies already hold the physical plan of the same
    * round. */
  private final class Rows(
      parent: RDD[InternalRow], @transient val origin: LogicalPlan)
      extends RDD[InternalRow](parent) {
    override protected def getPartitions: Array[Partition] =
      firstParent[InternalRow].partitions
    override def compute(
        split: Partition, ctx: TaskContext): Iterator[InternalRow] =
      firstParent[InternalRow].iterator(split, ctx).map(_.copy())
  }

  private final case class TrueAt(ordinal: Int)
      extends (InternalRow => Long) with Serializable {
    override def apply(r: InternalRow): Long =
      if (!r.isNullAt(ordinal) && r.getBoolean(ordinal)) 1L else 0L
  }

  /** The forcing pass over one partition: (rows, bytes, one sum per
    * measure). A row that is not unsafe counts as the schema's default
    * row size. */
  private final class Pass(measures: Array[Measure], rowSize: Long)
      extends (Iterator[InternalRow] => Array[Long]) with Serializable {
    override def apply(it: Iterator[InternalRow]): Array[Long] = {
      val acc = new Array[Long](2 + measures.length)
      while (it.hasNext) {
        val r = it.next()
        acc(0) += 1
        acc(1) += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => rowSize
        })
        var m = 0
        while (m < measures.length) {
          acc(2 + m) += measures(m)(r)
          m += 1
        }
      }
      acc
    }
  }
}
