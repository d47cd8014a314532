package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The lineage cut: the one way an iterative loop carries a frame into
  * its next round. Un-cut, round r's plan nests every earlier round,
  * often several times over (BFS reads the visited set three times per
  * round), and analysis time grows geometrically.
  *
  * `Cut(df)` copies the rows of `df`'s executed plan into a persisted
  * RDD and returns a leaf over it (fresh output attributes):
  *  - ONE forcing job fills the blocks, and it is the round's probe: it
  *    counts the rows (`rows`) and sums a per-row [[Cut.Measure]]
  *    (`sum`: a changed-row count, a set fingerprint), so no loop runs
  *    a separate action over a frame it just cut.
  *  - The leaf records `df`'s output partitioning and ordering, so the
  *    next round's join on the same key plans no exchange on its side.
  *  - Its statistics are the rows and bytes the pass measured, never the
  *    origin plan's estimate. A `localCheckpoint` leaf keeps that
  *    estimate, and a join's estimate is the product of its sides', so a
  *    loop joining its own output squares it every round (q_mst wedged
  *    in megadigit BigInt stats math by round 3 at sf0.01).
  *  - [[Cut#release]] frees the blocks at once, where a checkpoint's
  *    linger until GC. The RDD keeps its lineage, so a read after
  *    release, or after a lost block, recomputes instead of failing.
  *
  * Row copies and the pass are named function objects, not lambdas:
  * `SparkContext.clean` introspects a lambda's capturing class through
  * the thread context classloader, which a previously-run streaming
  * micro-batch thread can leave unable to resolve graft classes (the
  * ClosureCleaner NPE that flaked two suites in a full test run). */
private[graft] final class Cut private (
    val df: DataFrame, val rows: Long, val sum: Long,
    rdd: RDD[InternalRow]) {

  /** Free the cut's blocks. */
  def release(): Unit = rdd.unpersist(blocking = false)

  /** Cut `df`, this frame's next round, then release this cut. */
  def next(df: DataFrame): Cut = {
    val n = Cut(df)
    release()
    n
  }
}

private[graft] object Cut {

  /** A per-row contribution to [[Cut#sum]] (wrapping Long addition). */
  type Measure = (InternalRow => Long) with Serializable

  /** Every cut's RDD carries this name: how [[release]] tells a cut leaf
    * from any other RDD-backed relation. */
  private val Name = "graft.Cut"

  def apply(df: DataFrame, measure: Measure = NoMeasure): Cut = {
    val rdd = df.queryExecution.toRdd.map(CopyRow)
      .setName(Name)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val parts = df.sparkSession.sparkContext
      .runJob(rdd, new Pass(measure, df.schema.defaultSize))
    def total(i: Int): Long = parts.iterator.map(_(i)).sum
    new Cut(GraftShim.ofInternalRows(df, rdd, total(0), total(1)),
      total(0), total(2), rdd)
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
      case l: LogicalRDD if l.rdd.name == Name => Some(l.rdd)
      case p: Project => leaf(p.child)
      case _ => None
    }
    leaf(GraftShim.logicalPlan(df)).foreach(_.unpersist(blocking = false))
  }

  /** Unsafe rows are reused per partition: persisting needs copies. */
  private object CopyRow
      extends (InternalRow => InternalRow) with Serializable {
    override def apply(r: InternalRow): InternalRow = r.copy()
  }

  private object NoMeasure extends (InternalRow => Long) with Serializable {
    override def apply(r: InternalRow): Long = 0L
  }

  private final case class TrueAt(ordinal: Int)
      extends (InternalRow => Long) with Serializable {
    override def apply(r: InternalRow): Long =
      if (!r.isNullAt(ordinal) && r.getBoolean(ordinal)) 1L else 0L
  }

  /** The forcing pass over one partition: (rows, bytes, sum). A row that
    * is not unsafe counts as the schema's default row size. */
  private final class Pass(measure: Measure, rowSize: Long)
      extends (Iterator[InternalRow] => Array[Long]) with Serializable {
    override def apply(it: Iterator[InternalRow]): Array[Long] = {
      var rows = 0L; var bytes = 0L; var sum = 0L
      while (it.hasNext) {
        val r = it.next()
        rows += 1
        bytes += (r match {
          case u: UnsafeRow => u.getSizeInBytes.toLong
          case _ => rowSize
        })
        sum += measure(r)
      }
      Array(rows, bytes, sum)
    }
  }
}
