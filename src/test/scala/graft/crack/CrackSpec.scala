package graft.crack

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.SparkException
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd, SparkListenerTaskStart}
import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
import org.apache.spark.sql.functions.{col, lit, sha1, udf}
import org.scalatest.concurrent.{Signaler, TimeLimitedTests}
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.plans.{FirstHit, FirstHitExec, FirstHitStrategy}

/** Known-answer vectors from FIXTURES.md §1 (reference query parity:
  * `request.c` / `worker.c:41-56,84`). */
class CrackSpec extends SparkSpec with TimeLimitedTests {

  // Every test runs under a limit far above the slowest one (the len-6
  // gate, about 15-30 s), so a crack that never returns fails its test by
  // name instead of stalling the suite. The signaler cancels the running
  // jobs, which ends a FirstHitExec wait, and interrupts the test thread.
  override val timeLimit: Span = Span(300, Seconds)
  override val defaultTestSignaler: Signaler = (t: Thread) => {
    spark.sparkContext.cancelAllJobs()
    t.interrupt()
  }

  /** `body`'s result and the tasks that started while it ran (the
    * listener bus is async, so the count is read once it settles). */
  private def withTaskStarts[T](body: => T): (T, Int) = {
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val counter = new SparkListener {
      override def onTaskStart(ts: SparkListenerTaskStart): Unit =
        started.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(counter)
    try {
      val out = body
      val deadline = System.nanoTime() + 5_000_000_000L
      var last = -1
      while (System.nanoTime() < deadline && started.get() != last) {
        last = started.get()
        Thread.sleep(100)
      }
      (out, started.get())
    } finally spark.sparkContext.removeSparkListener(counter)
  }

  private def firstHit(df: DataFrame): DataFrame = {
    FirstHitStrategy.register(spark)
    GraftShim.ofRows(spark, FirstHit(GraftShim.logicalPlan(df)))
  }

  test("len=2: domain min / max / early / X1-wrap-regression vectors") {
    assert(CrackQuery.crack(spark, "e0c9035898dd52fc65c41454cec9c4d2611bfb37", 2)
      === Some("aa"))
    assert(CrackQuery.crack(spark, "d7dacae2c968388960bf8970080a980ed5c5dcb7", 2)
      === Some("zz"))
    assert(CrackQuery.crack(spark, "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2)
      === Some("ab"))
    // with 10 partitions the reference's last worker wrapped and never
    // terminated; our exact tiling must still find "ad"
    assert(CrackQuery.crack(spark, "4aeb195cd69ed93520b9b4129636264e0cdc0153", 2,
      parallelism = 10) === Some("ad"))
  }

  test("len=4: found (min, max, middle, word) and not-found") {
    assert(CrackQuery.crack(spark, "70c881d4a26984ddce795f6f71817c9cf4480e79", 4)
      === Some("aaaa"))
    assert(CrackQuery.crack(spark, "cb990257247b592eaaed54b84b32d96b7904fd95", 4)
      === Some("zzzz"))
    assert(CrackQuery.crack(spark, "81fe8bfe87576c3ecb22426f8e57847382917acf", 4)
      === Some("abcd"))
    assert(CrackQuery.crack(spark, "a94a8fe5ccb19ba61c4c0873d391e987982fbbd3", 4)
      === Some("test"))
    // sha1("1234") has no [a-z]^4 preimage → "x"
    assert(CrackQuery.crack(spark, "7110eda4d09e062aa5e4a390b0a572ac0d2c0220", 4)
      === None)
  }

  test("fused sha1 kernel == generic sha1(num_to_pass) pipeline on full len-3 domain") {
    // every ordinal where the fused kernel fires must be exactly the set
    // the generic pipeline finds, for several targets incl. no-match
    val targets = Seq(
      "a9993e364706816aba3e25717850c26c9cd0d89d", // sha1("abc")
      "d0be2dc421be4fcd0172e5afceea3970e2f3d940", // sha1("apple") — len 5, no len-3 match
      "29abf2a2bcc77a2b1f9a9a0a0c5113cfc4cd3b58") // arbitrary
    targets.foreach { hex =>
      val generic = spark.range(0, 17576)
        .select(graft.functions.num_to_pass(col("id"), 3).as("pass"))
        .filter(sha1(col("pass")) === lit(hex))
        .collect().map(_.getString(0)).toSet
      val fused = CrackQuery.matches(spark, hex, 3)
        .collect().map(_.getString(0)).toSet
      assert(fused === generic, hex)
    }
  }

  test("parallelism edge cases: 1, 11, more partitions than keys") {
    assert(CrackQuery.crack(spark, "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2,
      parallelism = 1) === Some("ab"))
    assert(CrackQuery.crack(spark, "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2,
      parallelism = 11) === Some("ab"))
    assert(CrackQuery.crack(spark, "86f7e437faa5a7fce15d1ddcb9eaeaea377667b8", 1,
      parallelism = 100) === Some("a"))
  }

  test("crack: early exit finds the answer; a miss returns None") {
    assert(CrackQuery.crack(spark, "81fe8bfe87576c3ecb22426f8e57847382917acf", 4)
      === Some("abcd"))
    assert(CrackQuery.crack(spark, "7110eda4d09e062aa5e4a390b0a572ac0d2c0220", 4)
      === None)
  }

  test("crack: early hit cancels sibling tasks (launched < tiles)") {
    // sha1("aaaaa") — ordinal 0, so tile 0 hits instantly while 255 other
    // tiles are queued behind local[4]'s cores
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val hash = md.digest("aaaaa".getBytes).map("%02x".format(_)).mkString
    val (hit, started) = withTaskStarts(
      CrackQuery.crack(spark, hash, 5, parallelism = 256))
    assert(hit === Some("aaaaa"))
    assert(started < 256,
      s"cancel-on-hit must keep queued tiles from launching, started=$started")
  }

  test("len-6 throughput gate: fused kernel sustains the per-core floor") {
    // pins the fused-kernel claim (CrackQuery.scaladoc: no per-candidate
    // string/hex/digest allocation) against regression: a full 26^6 ≈
    // 309M-ordinal scan through CrackQuery.crack, timed. The floor is
    // per-core so the same gate holds at local[4] (suite) and local[32]
    // (bench box); an all-zeros digest has no preimage, so every tile
    // scans to completion — the clean full-throughput measurement.
    val cores = spark.sparkContext.defaultParallelism
    val keyspace = graft.keyspace.Keyspace.size(6)
    assert(keyspace === 308915776L)
    def measure(): Double = {
      val t0 = System.nanoTime()
      val hit = CrackQuery.crack(spark, "0" * 40, 6, parallelism = cores)
      val secs = (System.nanoTime() - t0) / 1e9
      assert(hit.isEmpty)
      val rate = keyspace / secs
      info(f"len-6 full scan: $secs%.1f s, ${rate / 1e6}%.1f M SHA-1/s on $cores cores")
      rate
    }
    // measured 30-32 M/s at local[4]; a fallback to per-candidate
    // allocation (~2× slower, see the kernel-equivalence case) lands
    // ~15 M/s — the 20 M floor trips on that regression with 1.5×
    // headroom, and holds a fortiori at local[32]. A wall-clock gate on
    // a shared box can lose to transient load, so one below-floor run
    // earns one re-measure, and a second below-floor run is judged
    // RELATIVE to the box: raw JDK SHA-1 over the same 6-byte messages,
    // run at the SAME parallelism (so SMT sharing and external load
    // depress kernel and yardstick together), is the box-speed
    // calibration; the guarded regression halves the KERNEL rate but
    // not the yardstick, so the aggregate ratio still trips. Healthy
    // ratio measures 0.69-0.88 (this box loaded and unloaded); the
    // allocation fallback lands ~0.41; the floor is 0.55.
    def calibrationRate(): Double = {
      val perThread = 4000000
      val total = new java.util.concurrent.atomic.AtomicLong()
      val t0 = System.nanoTime()
      val threads = (0 until cores).map { _ =>
        new Thread(() => {
          val md = java.security.MessageDigest.getInstance("SHA-1")
          val buf = new Array[Byte](6)
          val out = new Array[Byte](20)
          var i = 0
          while (i < perThread) {
            buf(0) = (i & 0x1f).toByte
            md.update(buf, 0, 6)
            md.digest(out, 0, 20)
            i += 1
          }
          total.addAndGet(perThread.toLong)
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      total.get() / ((System.nanoTime() - t0) / 1e9)
    }
    val rate = { val r1 = measure(); if (r1 >= 20e6) r1 else measure() }
    if (rate < 20e6) {
      val cal = calibrationRate()
      val ratio = rate / cal
      info(f"below absolute floor; calibration ${cal / 1e6}%.1f M/s " +
        f"aggregate on $cores threads, ratio $ratio%.2f")
      assert(ratio >= 0.55,
        f"aggregate ${rate / 1e6}%.1f M SHA-1/s AND calibrated ratio " +
          f"$ratio%.2f below the floor — kernel regression, not box load")
    }
  }

  test("crack: a miss scans every tile and returns None") {
    // "1234"'s sha1 has no len-2 preimage
    val (hit, started) = withTaskStarts(CrackQuery.crack(spark,
      "7110eda4d09e062aa5e4a390b0a572ac0d2c0220", 2, parallelism = 8))
    assert(hit === None)
    assert(started === 8)
  }

  test("FirstHit: several hits give partition 0's, though a higher partition ends first") {
    // hits at 999 (the last row of partition 0, which sleeps first) and at
    // 1000, 2000, 3000 (the first rows of partitions 1-3, which end at
    // once): the answer is the minimum, not the first hit reported
    val slowLastRow = udf { (id: Long) =>
      if (id == 999L) { Thread.sleep(1000); true } else id > 0 && id % 1000 == 0
    }
    val ended = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    val order = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = ended.add(te.taskInfo.index)
    }
    spark.sparkContext.addSparkListener(order)
    try {
      val hits = firstHit(spark.range(0, 4000, 1, 4).filter(slowLastRow(col("id"))).toDF())
        .collect().map(_.getLong(0)).toSeq
      assert(hits === Seq(999L))
      val deadline = System.nanoTime() + 5_000_000_000L
      while (ended.size < 4 && System.nanoTime() < deadline) Thread.sleep(50)
      assert(ended.size === 4 && ended.toArray.last === 0, s"task end order: $ended")
    } finally spark.sparkContext.removeSparkListener(order)
  }

  test("crackDF and SQL crack() plan FirstHitExec, never TakeOrderedAndProject") {
    def assertFirstHit(df: DataFrame): Unit = {
      val plan = df.queryExecution.executedPlan
      assert(plan.collect { case f: FirstHitExec => f }.size === 1, plan)
      assert(plan.collect { case t: TakeOrderedAndProjectExec => t }.isEmpty, plan)
      assert(df.collect().map(_.getString(0)).toSeq === Seq("abcd"))
    }
    val abcd = "81fe8bfe87576c3ecb22426f8e57847382917acf"
    assertFirstHit(CrackQuery.crackDF(spark, abcd, 4))
    assertFirstHit(spark.sql(s"SELECT * FROM crack('$abcd', 4)"))
    // a fresh session: no spark.sql.extensions, no strategy registered yet
    val fresh = spark.newSession()
    assert(fresh.experimental.extraStrategies.isEmpty)
    assertFirstHit(CrackQuery.crackDF(fresh, abcd, 4))
    val freshSql = spark.newSession()
    graft.functions.registerAll(freshSql)
    assertFirstHit(freshSql.sql(s"SELECT * FROM crack('$abcd', 4, 8)"))
  }

  test("FirstHit: a task that throws in partition k fails the query, not hangs") {
    val failAt2 = udf { (id: Long) =>
      if (id == 2500L) throw new IllegalStateException("injected failure in partition 2")
      false
    }
    val e = intercept[SparkException] {
      firstHit(spark.range(0, 4000, 1, 4).filter(failAt2(col("id"))).toDF()).collect()
    }
    assert(e.getMessage.contains("injected failure in partition 2"), e.getMessage)
  }

  test("crack: cancelAllJobs during a crack raises, not hangs") {
    // a len-6 miss scans ~309M keys, many seconds at local[4]
    val crack = Future(CrackQuery.crack(spark, "0" * 40, 6, parallelism = 64))(
      ExecutionContext.global)
    val deadline = System.nanoTime() + 60_000_000_000L
    while (spark.sparkContext.statusTracker.getActiveJobIds().isEmpty &&
      !crack.isCompleted && System.nanoTime() < deadline) Thread.sleep(20)
    spark.sparkContext.cancelAllJobs()
    val e = intercept[SparkException](Await.result(crack, 60.seconds))
    assert(e.getMessage.contains("cancel"), e.getMessage)
  }

  test("crackMany: batch of hashes in one scan (fused == broadcast join)") {
    val hashes = Seq(
      "81fe8bfe87576c3ecb22426f8e57847382917acf", // abcd
      "a94a8fe5ccb19ba61c4c0873d391e987982fbbd3", // test
      "7110eda4d09e062aa5e4a390b0a572ac0d2c0220"  // not found
    )
    val expected = Map(
      "81fe8bfe87576c3ecb22426f8e57847382917acf" -> "abcd",
      "a94a8fe5ccb19ba61c4c0873d391e987982fbbd3" -> "test")
    val fused = CrackQuery.crackMany(spark, hashes, 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val joined = CrackQuery.crackManyJoin(spark, hashes, 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(fused === expected)
    assert(joined === expected)
    // empty batch: normal empty result; malformed hex: loud plan-time error
    assert(CrackQuery.crackMany(spark, Nil, 4).count() === 0)
    intercept[IllegalArgumentException] {
      CrackQuery.crackMany(spark, Seq("zz" * 20), 4)
    }
  }

  test("sha1_multi_ordinal_match via SQL with an array literal") {
    graft.functions.registerAll(spark)
    val rows = spark.sql(
      """SELECT id, sha1_multi_ordinal_match(id, 3,
        |  array('a9993e364706816aba3e25717850c26c9cd0d89d')) AS slot
        |FROM range(0, 17576)""".stripMargin)
      .where("slot >= 0").collect()
    assert(rows.map(_.getLong(0)).toSeq === Seq(28L)) // "abc"
  }

  test("crack() SQL table function: found, not-found, and composability") {
    graft.functions.registerAll(spark)
    // found: the reference's `./request <hash> 4` as one SQL statement
    val found = spark.sql(
      "SELECT * FROM crack('81fe8bfe87576c3ecb22426f8e57847382917acf', 4)")
      .collect()
    assert(found.map(_.getString(0)).toSeq === Seq("abcd"))
    // not-found: sha1("1234") has no [a-z]^4 preimage → empty, ≅ "x"
    val miss = spark.sql(
      "SELECT * FROM crack('7110eda4d09e062aa5e4a390b0a572ac0d2c0220', 4)")
    assert(miss.count() === 0)
    assert(miss.schema.fieldNames.toSeq === Seq("pass"))
    // a TABLE function composes like any relation (joins, filters, CTEs)
    val composed = spark.sql(
      """SELECT upper(pass) AS up
        |FROM crack('81fe8bfe87576c3ecb22426f8e57847382917acf', 4, 8)
        |WHERE pass LIKE 'a%'""".stripMargin).collect()
    assert(composed.map(_.getString(0)).toSeq === Seq("ABCD"))
    // malformed hex is a loud analysis-time error, not an empty result
    intercept[Exception] {
      spark.sql("SELECT * FROM crack('zz', 4)").collect()
    }
  }

  test("crack_candidates() SQL table function: the S1 keyspace scan in SQL") {
    graft.functions.registerAll(spark)
    val rows = spark.sql(
      """SELECT count(*) AS n, min(pass) AS lo, max(pass) AS hi
        |FROM crack_candidates(2)""".stripMargin).collect()(0)
    assert(rows.getLong(0) === 676L)
    assert(rows.getString(1) === "aa")
    assert(rows.getString(2) === "zz")
    // the reference's whole query, composed from the SQL pieces alone
    val sqlCrack = spark.sql(
      """SELECT pass FROM crack_candidates(3)
        |WHERE sha1(pass) = 'a9993e364706816aba3e25717850c26c9cd0d89d'""".stripMargin)
      .collect()
    assert(sqlCrack.map(_.getString(0)).toSeq === Seq("abc"))
  }
}
