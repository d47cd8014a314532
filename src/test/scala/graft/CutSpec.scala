package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Sums the first (long) column: a caller-defined [[Cut.Measure]]. */
private object FirstLong extends (InternalRow => Long) with Serializable {
  override def apply(r: InternalRow): Long = r.getLong(0)
}

/** The lineage cut's contract: statistics that cannot compound,
  * partitioning that survives, deterministic release, and a forcing
  * pass that is the probe. */
class CutSpec extends SparkSpec {
  import spark.implicits._

  /** The cut under test, in one place. */
  private def cut(df: DataFrame): DataFrame = Cut(df).df

  private def measuredBytes(df: DataFrame): BigInt =
    BigInt(df.queryExecution.toRdd
      .map(_.asInstanceOf[UnsafeRow].getSizeInBytes.toLong).sum().toLong)

  test("8 rounds of self-joining a cut: sizeInBytes stays near the measured bytes") {
    var x = cut((1L to 200L).toDF("node")
      .select(col("node"), (col("node") % 7).as("g")))
    for (_ <- 1 to 8)
      x = cut(x.as("a").join(x.as("b"), col("a.node") === col("b.node"))
        .select(col("a.node").as("node"), (col("a.g") + col("b.g")).as("g")))
    val est = x.queryExecution.optimizedPlan.stats.sizeInBytes
    val bytes = measuredBytes(x)
    assert(x.count() === 200L)
    assert(est <= bytes * 4, s"estimate $est vs measured $bytes bytes")
  }

  test("a cut keeps its hash partitioning: the join plans no exchange on the cut side") {
    val keys = Seq("spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
      val c = Cut((1L to 1000L).toDF("node")
        .repartition(parts, col("node"))
        .select(col("node"), (col("node") * 2).as("x")))
      val other = spark.range(1000L).select(col("id").as("node"), col("id").as("y"))
      val plan = c.df.join(other, "node").queryExecution.executedPlan
      val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
      assert(smj.isDefined, plan.treeString)
      def exchanges(p: SparkPlan) = p.collect { case e: ShuffleExchangeExec => e }
      def scansCut(p: SparkPlan) = p.collect {
        case s if s.nodeName.contains("ExistingRDD") => s }.nonEmpty
      val (cutSide, otherSide) = smj.get.children.partition(scansCut)
      assert(cutSide.size === 1, plan.treeString)
      assert(exchanges(cutSide.head).isEmpty, plan.treeString)
      assert(exchanges(otherSide.head).nonEmpty, plan.treeString)
      c.release()
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("release() drops the cut's RDD from the persistent RDDs") {
    def rddOf(df: DataFrame) =
      df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id
    val c = Cut((1L to 100L).toDF("n"))
    val id = rddOf(c.df)
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    c.release()
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
    // the leaf stays readable after release: it recomputes
    assert(c.df.count() === 100L)
    // a frame that projects a cut releases it too, as a frames cache does
    val d = Cut((1L to 10L).toDF("n"))
    val dId = rddOf(d.df)
    Cut.release(d.df.select((col("n") + 1).as("m")))
    assert(!spark.sparkContext.getPersistentRDDs.contains(dId))
  }

  test("the forcing pass's count and sum equal a separate count and aggregate") {
    val df = (1L to 1000L).toDF("x")
      .select(col("x"), (col("x") % 3 === 0).as("chg"))
      .filter(col("x") % 5 =!= 0)
    val plain = Cut(df)
    assert(plain.rows === df.count())
    assert(plain.sum === 0L)
    val flagged = Cut.flagged(df, "chg")
    assert(flagged.rows === df.count())
    assert(flagged.sum === df.filter(col("chg")).count())
    val summed = Cut(df, FirstLong)
    assert(summed.sum === df.agg(sum("x")).head().getLong(0))
    Seq(plain, flagged, summed).foreach(_.release())
  }
}
