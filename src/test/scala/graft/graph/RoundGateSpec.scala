package graft.graph

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** Structural round gates: what each loop's lineage cut is for, asserted
  * directly instead of through seconds. A loop's returned plan must not
  * grow with its round count, and the registry's iterative queries must
  * not run more Spark jobs than they do today. */
class RoundGateSpec extends SparkSpec {
  import spark.implicits._

  private def planNodes(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case p => p }.size

  /** An undirected path over `n` nodes, both arc directions. */
  private def pathArcs(n: Long): DataFrame = {
    val arcs = (1L until n).map(i => (i, i + 1))
    (arcs ++ arcs.map(_.swap)).toDF("src", "dst")
  }

  test("bfsFrom: the returned plan is the same size at 2 rounds and at 6") {
    val edges = pathArcs(12)
    val src = Seq(1L).toDF("node")
    val two = GraphOps.bfsFrom(edges, src, 2)
    val six = GraphOps.bfsFrom(edges, src, 6)
    assert(two.agg(max("dist")).head().getLong(0) === 2L)
    assert(six.agg(max("dist")).head().getLong(0) === 6L)
    assert(planNodes(two) === planNodes(six))
  }

  test("ssspFrom: the returned plan is the same size at 2 rounds and at 6") {
    val edges = pathArcs(12).withColumn("w", lit(1L))
    val src = Seq(1L).toDF("node")
    val two = GraphOps.ssspFrom(edges, src, 2)
    val six = GraphOps.ssspFrom(edges, src, 6)
    assert(two.agg(max("dist")).head().getLong(0) === 2L)
    assert(six.agg(max("dist")).head().getLong(0) === 6L)
    assert(planNodes(two) === planNodes(six))
  }

  test("kCore: the returned plan is the same size at 2 rounds and at 6") {
    // a 2-core peel of a path strips both ends every round, so the path
    // is still shrinking after 6 rounds
    val edges = (1L until 30L).map(i => (i, i + 1)).toDF("u", "v")
    val two = GraphOps.kCore(spark, edges, 2, rounds = 2)
    val six = GraphOps.kCore(spark, edges, 2, rounds = 6)
    assert(two.count() === 26L)
    assert(six.count() === 18L)
    assert(planNodes(two) === planNodes(six))
  }

  test("pageRankDangling: the returned plan is the same size at 2 rounds and at 6") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L).toDF("src", "dst")
    // eps 0 never converges: every round up to the cap runs
    val (two, r2) = GraphOps.pageRankDangling(spark, edges, 0L, 2)
    val (six, r6) = GraphOps.pageRankDangling(spark, edges, 0L, 6)
    assert((r2, r6) === ((2, 6)))
    assert(planNodes(two) === planNodes(six))
  }

  test("lubyMis: the returned plan is the same size at 2 rounds and at 6") {
    // node ids chosen so that on this path each round's salted priority
    // rises along the undecided suffix: exactly one winner per round, so
    // the first 4 nodes take 2 rounds and all 12 take 6
    val path = Seq(4353L, 14609L, 18782L, 17206L, 12303L, 9954L, 3077L,
      81L, 17881L, 11369L, 9526L, 5412L)
    def mis(n: Int) = GraphOps.lubyMis(
      path.take(n).zip(path.take(n).tail)
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
        .toDF("u", "v"), 64)
    val two = mis(4)
    val six = mis(12)
    assert(two.agg(max("mis_round")).head().getLong(0) === 1L)
    assert(six.agg(max("mis_round")).head().getLong(0) === 5L)
    assert(planNodes(two) === planNodes(six))
  }

  /** The RDD ids of the cut leaves `df` reads. */
  private def leaves(df: DataFrame): Set[Int] = df.queryExecution.logical
    .collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Release the cuts `df` reads. */
  private def free(df: DataFrame): Unit = leaves(df).foreach(id =>
    spark.sparkContext.getPersistentRDDs.get(id).foreach(_.unpersist()))

  /** The Spark jobs `body` starts, once the listener bus has settled. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      body
      // listener bus is async — wait for the count to settle
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && jobs.get() != last) {
        last = jobs.get()
        Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(counter)
    jobs.get()
  }

  /** The four round-driven loops at a given round count, each on a
    * fixture that still changes at round 6 (so no early stop), with the
    * Spark jobs a round of it costs. */
  private val loops: Seq[(String, Int, Int => DataFrame)] = Seq(
    ("bfsFrom", 4, (n: Int) =>
      GraphOps.bfsFrom(pathArcs(12), Seq(1L).toDF("node"), n)),
    ("ssspFrom", 4, (n: Int) => GraphOps.ssspFrom(
      pathArcs(12).withColumn("w", lit(1L)), Seq(1L).toDF("node"), n)),
    ("kCore", 3, (n: Int) => GraphOps.kCore(spark,
      (1L until 30L).map(i => (i, i + 1)).toDF("u", "v"), 2, rounds = n)),
    ("pageRankDangling", 4, (n: Int) => GraphOps.pageRankDangling(spark,
      Seq(1L -> 2L, 2L -> 3L, 3L -> 1L, 3L -> 4L).toDF("src", "dst"),
      0L, n)._1))

  test("the round-driven loops leave only the cut they return persisted") {
    loops.foreach { case (name, _, run) =>
      val before = persistedCuts
      val out = run(6)
      assert((persistedCuts -- before) === leaves(out), name)
      assert(leaves(out).size === 1, name)
      free(out)
    }
  }

  test("the round-driven loops run a constant number of jobs per round") {
    val measured = loops.map { case (name, _, run) =>
      val at2 = jobsOf(free(run(2)))
      val at6 = jobsOf(free(run(6)))
      (name, at6 - at2)
    }
    info(measured.map { case (l, d) => s"$l: 4 rounds = $d jobs" }
      .mkString(", "))
    loops.zip(measured).foreach { case ((name, perRound, _), (_, d)) =>
      assert(d === 4 * perRound, s"$name: 4 more rounds ran $d jobs")
    }
  }

  /** Jobs each query ran at sf0.001 with its corpus artifacts warm and
    * its session-cached result dropped (the perfbench iterative request
    * shape), measured once every materialised frame was a lineage cut.
    * A query may run fewer, never more. */
  private val jobBudget = Map(
    "q_pagerank" -> 12, "q_pagerank_dangling" -> 21, "q_hits" -> 41,
    "q_sssp" -> 22, "q_label_prop" -> 14, "q_kcore" -> 10,
    "q_bfs_dist" -> 21, "q_louvain" -> 41, "q_dedup_clusters" -> 8,
    "q_corpus_build" -> 17)

  test("iterative queries run no more jobs than their budget") {
    val dir = "/root/testdata/sf0.001"
    val qs = jobBudget.keys.toSeq.sorted
    qs.foreach(q => graft.SparkEntry.queries(q)(spark, dir).collect())
    val counts = qs.map { q =>
      graft.SessionCache.invalidate(spark, graft.SessionCache.Result)
      q -> jobsOf(graft.SparkEntry.queries(q)(spark, dir).collect())
    }
    info(counts.map { case (q, n) => s"$q=$n" }.mkString(" "))
    counts.foreach { case (q, n) =>
      assert(n <= jobBudget(q), s"$q ran $n jobs, budget ${jobBudget(q)}")
    }
  }
}
