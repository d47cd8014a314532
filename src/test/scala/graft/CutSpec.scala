package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.physical.{
  HashPartitioningLike, SinglePartition}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions._

/** Sums the first (long) column: a caller-defined [[Cut.Measure]]. */
private object FirstLong extends (InternalRow => Long) with Serializable {
  override def apply(r: InternalRow): Long = r.getLong(0)
}

/** Counts the rows whose second (boolean) column is true: a second
  * caller-defined [[Cut.Measure]]. */
private object SecondTrue extends (InternalRow => Long) with Serializable {
  override def apply(r: InternalRow): Long = if (r.getBoolean(1)) 1L else 0L
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

  test("under AQE a coalesced cut drops its layout and joins exactly on its key") {
    // 16 hash buckets coalesced into about 4 read partitions: partition
    // i holds a contiguous range of buckets, not pmod(hash, 4) = i, so
    // a leaf that claimed HashPartitioning(k, 4) would be joined
    // against a side shuffled to 4 buckets, or to a cut coalesced into
    // other ranges, without an exchange, and most keys would miss
    val conf = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "16")
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      def byKey(n: Long, keys: Long) = spark.range(n)
        .groupBy((col("id") % keys).as("k")).agg(count(lit(1)).as("n"))
      val a = Cut(byKey(20000L, 1000L))
      val b = Cut(byKey(5000L, 1000L))
      val c = Cut(byKey(7000L, 300L))
      val leaf = a.df.queryExecution.logical.asInstanceOf[LogicalRDD]
      val parts = leaf.rdd.getNumPartitions
      assert(parts > 1 && parts < 16, s"coalesced to $parts partitions")
      assert(!leaf.outputPartitioning.isInstanceOf[HashPartitioningLike],
        leaf.outputPartitioning)
      val other = spark.range(1000L).select(col("id").as("k"))
      assert(a.df.join(other, "k").count() === 1000L)
      def total(x: DataFrame, y: DataFrame) = x.as("x").join(y.as("y"), "k")
        .agg(count(lit(1)), sum(col("x.n") * 10000 + col("y.n"))).head()
      assert(total(a.df, b.df) ===
        total(byKey(20000L, 1000L), byKey(5000L, 1000L)))
      assert(total(a.df, c.df) ===
        total(byKey(20000L, 1000L), byKey(7000L, 300L)))
      Seq(a, b, c).foreach(_.release())
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("a one-partition cut stays SinglePartition: an aggregate over it plans no exchange") {
    val c = Cut(spark.range(100L).toDF().orderBy(col("id").desc).limit(10))
    val leaf = c.df.queryExecution.logical.asInstanceOf[LogicalRDD]
    assert(leaf.outputPartitioning === SinglePartition)
    val agg = c.df.groupBy(col("id") % 2).count()
    assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"),
      agg.queryExecution.executedPlan.treeString)
    assert(agg.collect().map(_.getLong(1)).sorted.toSeq === Seq(5L, 5L))
    c.release()
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

  private def leafId(c: Cut): Int =
    c.df.queryExecution.logical.asInstanceOf[LogicalRDD].rdd.id

  /** Round r of the driver tests keeps the rows n < 10 - r: 10 - r rows. */
  private def shrink(prev: Cut, r: Int): Cut =
    Cut(prev.df.filter(col("n") < 10 - r))

  test("iterate stops on the first round its rule holds and releases every superseded round") {
    val before = persistedCuts
    val init = Cut((0L until 10L).toDF("n"))
    val made = collection.mutable.Buffer(init)
    val (last, rounds) = Cut.iterate(init, 8) { (prev, r) =>
      val next = shrink(prev, r)
      made += next
      next
    }((_, next) => next.rows <= 6)
    assert(rounds === 4)
    assert(made.size === 5, "no step ran after the rule held")
    assert(last.rows === 6L)
    assert(last eq made.last)
    assert(persistedCuts -- before === Set(leafId(last)))
    assert(last.df.count() === 6L)
    last.release()
  }

  test("iterate honours its cap, and a step that returns its input stops the loop unreleased") {
    val before = persistedCuts
    val (capped, rounds) = Cut.iterate(Cut((0L until 10L).toDF("n")), 3)(
      shrink)((_, _) => false)
    assert(rounds === 3)
    assert(capped.rows === 7L)
    assert(persistedCuts -- before === Set(leafId(capped)))
    capped.release()
    // rounds 1-4 shrink; round 5 finds nothing to do and returns its input
    val (fixed, n) = Cut.iterate(Cut((0L until 10L).toDF("n")), 8) {
      (prev, r) => if (r <= 4) shrink(prev, r) else prev
    }(_ eq _)
    assert(n === 5)
    assert(fixed.rows === 6L)
    assert(persistedCuts -- before === Set(leafId(fixed)))
    assert(fixed.df.count() === 6L)
    fixed.release()
    // no round to run: init comes back as it went in
    val init = Cut((0L until 10L).toDF("n"))
    val (same, zero) = Cut.iterate(init, 0)(shrink)((_, _) => true)
    assert((same eq init) && zero === 0)
    assert(persistedCuts -- before === Set(leafId(init)))
    init.release()
    assert(persistedCuts -- before === Set.empty)
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

  test("two measures from one pass equal two separate aggregates") {
    val df = (1L to 1000L).toDF("x")
      .select(col("x"), (col("x") % 3 === 0).as("chg"))
      .filter(col("x") % 5 =!= 0)
    val both = Cut(df, FirstLong, SecondTrue)
    assert(both.rows === df.count())
    assert(both.sums === IndexedSeq(
      df.agg(sum("x")).head().getLong(0),
      df.filter(col("chg")).count()))
    assert(both.sum === both.sums(0))
    both.release()
  }
}
