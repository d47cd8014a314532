package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.CrackService._
import graft.streaming.SessionTracker._

/** MemoryStream replays of the LSP/DPC streaming semantics (FIXTURES.md §2).
  * Assertions pin state-machine outputs, not wall-clock behavior. */
class StreamingSpec extends SparkSpec {

  /** A verdict whose job spec is irrelevant: with timers off the fold
    * never rescans, so only (reqId, partId, nParts, found, pass) matter. */
  private def verdict(
      reqId: Long, partId: Int, nParts: Int, found: Boolean, pass: String) =
    JobVerdict(reqId, partId, nParts, "0" * 40, 4, found, pass)

  /** Verdict batches through the fMGWS fold (timers off). */
  private def runVerdicts(batches: Seq[Seq[JobVerdict]]): Seq[CrackReply] = {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[JobVerdict]
    val name = s"replies_${System.nanoTime()}"
    val q = CrackService.replyStreamRecovering(input.toDS(), timeoutMs = 0L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      batches.foreach { b => input.addData(b); q.processAllAvailable() }
      spark.table(name).as[CrackReply].collect().toSeq
    } finally q.stop()
  }

  test("streaming rolling outliers == batch window twin on ordered feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = graft.relational.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "event_id", "ts div 1000 as ts_us",
        "cast(floor(value * 100 + 0.5) as long) as cents")
      .as[(String, Long, Long, Long)].collect()
      .map(r => graft.streaming.RollingAnomaly.ValueEvent(r._1, r._2, r._3, r._4))
      .sortBy(e => (e.tsUs, e.eventId))
    // three time-ordered micro-batches: state must carry across batches
    val batches = rows.grouped(math.max(1, rows.length / 3 + 1)).toSeq
    val input = MemoryStream[graft.streaming.RollingAnomaly.ValueEvent]
    val name = s"outliers_${System.nanoTime()}"
    val q = graft.streaming.RollingAnomaly.detect(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name)
          .as[graft.streaming.RollingAnomaly.Outlier].collect()
      } finally q.stop()
    val want = graft.relational.EventQueries.qRollingOutliers(spark, dir)
      .collect()
      .map(r => r.getLong(1) -> ((r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    val gotMap = got
      .map(o => o.eventId -> ((o.cents, o.winN, o.winSum, o.winSumsq))).toMap
    assert(gotMap === want)
    assert(gotMap.nonEmpty)
  }

  test("streaming HLL == batch sketch under shuffled feed and any batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = graft.relational.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "user_id").as[(String, Long)].collect()
      .map(r => graft.streaming.StreamingSketch.UserEvent(r._1, r._2))
    // adversarial order: registers merge by max, so ANY order converges
    // (the property the ordered-feed ring-buffer twin does NOT have)
    val shuffled = rows.sortBy(e => (e.userId * 2654435761L) ^ e.eventType.##)
    val batches = shuffled.grouped(math.max(1, rows.length / 4 + 1)).toSeq
    val input = MemoryStream[graft.streaming.StreamingSketch.UserEvent]
    val name = s"hll_${System.nanoTime()}"
    val q = graft.streaming.StreamingSketch.distinctUsers(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        // update mode appends one row per (key, batch): latest wins
        spark.table(name)
          .as[graft.streaming.StreamingSketch.Estimate].collect()
          .zipWithIndex.groupBy(_._1.eventType)
          .map { case (t, v) => t -> v.maxBy(_._2)._1.hllEst }
      } finally q.stop()
    val want = graft.relational.Sketches.qHllDistinct(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(2)).toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming sliding HLL == batch q_hll_sliding under any batch split") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = graft.relational.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "ts div 1000 div 3600000000 as hour",
        "user_id")
      .as[(String, Long, Long)].collect()
      .map(r => graft.streaming.StreamingSketch.HourEvent(r._1, r._2, r._3))
    // batch ground truth: (type, hour) -> trailing-3h hll_est
    val want = graft.relational.Sketches.qHllSliding(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(3)).toMap
    // adversarial order + arbitrary split: per-hour registers merge by
    // max, so any feed converges to the batch registers
    val shuffled = rows.sortBy(e =>
      (e.userId * 0x9E3779B97F4A7C15L) ^ e.hour ^ e.eventType.##)
    val batches = shuffled.grouped(math.max(1, rows.length / 4 + 1)).toSeq

    def lastPerKey(table: String): Map[(String, Long), Double] =
      spark.table(table)
        .as[graft.streaming.StreamingSketch.SlidingEst].collect()
        .zipWithIndex.groupBy(v => (v._1.eventType, v._1.hour))
        .map { case (k, v) => k -> v.maxBy(_._2)._1.hllEst }

    val input = MemoryStream[graft.streaming.StreamingSketch.HourEvent]
    val name = s"shll_${System.nanoTime()}"
    val q = graft.streaming.StreamingSketch.slidingDistinct(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        lastPerKey(name)
      } finally q.stop()
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("space-saving guarantees hold under any arrival order") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val capacity = 16
    val rows = graft.relational.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "user_id % 40").as[(String, Long)].collect()
      .map(r => graft.streaming.StreamingSketch.ItemRow(r._1, r._2))
    val exact = rows.groupBy(e => (e.key, e.item))
      .map { case (k, v) => k -> v.length.toLong }
    val perKeyN = rows.groupBy(_.key).map { case (k, v) => k -> v.length.toLong }
    // two adversarial orders: the summary CONTENTS may differ, the
    // guarantees may not
    val orders = Seq(
      rows.sortBy(e => (e.item * 2654435761L) ^ e.key.##),
      rows.sortBy(e => (e.key, e.item)))
    orders.foreach { feed =>
      val batches = feed.grouped(math.max(1, feed.length / 4 + 1)).toSeq
      val input = MemoryStream[graft.streaming.StreamingSketch.ItemRow]
      val name = s"ss_${System.nanoTime()}"
      val q = graft.streaming.StreamingSketch
        .heavyHitters(input.toDS(), capacity)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      val got =
        try {
          val cuts = scala.collection.mutable.ArrayBuffer(0L)
          batches.foreach { b =>
            input.addData(b); q.processAllAvailable()
            cuts += spark.table(name).count()
          }
          // update mode appends a full summary per batch, but only for
          // keys that saw data in that batch — take each key's LATEST
          // emitted summary (slice rows into batches by the cuts)
          val all = spark.table(name)
            .as[graft.streaming.StreamingSketch.HitterEst].collect()
          val perBatch = cuts.toSeq.sliding(2).toSeq
            .map { w => all.slice(w.head.toInt, w.last.toInt) }
          perBatch.flatMap(_.groupBy(_.key)).toMap // later batches win
        } finally q.stop()
      val byKey = got
      assert(byKey.keySet === perKeyN.keySet)
      byKey.foreach { case (key, hitters) =>
        assert(hitters.length <= capacity)
        // space-saving invariant: every event incremented exactly one
        // counter, so counts total the per-key stream length
        assert(hitters.map(_.count).sum === perKeyN(key))
        hitters.foreach { h =>
          val t = exact.getOrElse((key, h.item), 0L)
          assert(t <= h.count && h.count - h.err <= t,
            s"$key item ${h.item}: true $t not in [${h.count - h.err}, ${h.count}]")
        }
        // completeness: every true heavy hitter (freq > n/capacity)
        // survives eviction — the order-free guarantee
        val present = hitters.map(_.item).toSet
        exact.foreach { case ((k, item), t) =>
          if (k == key && t > perKeyN(key) / capacity)
            assert(present.contains(item),
              s"$key heavy item $item (freq $t) missing")
        }
      }
    }
  }

  test("streaming KMV quantiles == batch sketch under shuffled feed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val rows = graft.relational.Tables.load(spark, dir, "events")
      .selectExpr("event_type", "event_id",
        "cast(floor(value * 100 + 0.5) as long) as cents")
      .as[(String, Long, Long)].collect()
      .map(r => graft.streaming.StreamingSketch.ValueRow(r._1, r._2, r._3))
    val shuffled = rows.sortBy(e => e.eventId * 0x9E3779B97F4A7C15L)
    val batches = shuffled.grouped(math.max(1, rows.length / 4 + 1)).toSeq
    val input = MemoryStream[graft.streaming.StreamingSketch.ValueRow]
    val name = s"kmv_${System.nanoTime()}"
    val q = graft.streaming.StreamingSketch.quantiles(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name)
          .as[graft.streaming.StreamingSketch.QuantileEst].collect()
          .zipWithIndex.groupBy(_._1.eventType)
          .map { case (t, v) =>
            val last = v.maxBy(_._2)._1
            t -> ((last.nSample.toLong, last.p50Est, last.p95Est))
          }
      } finally q.stop()
    val want = graft.relational.Sketches.qKmvQuantiles(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(4), r.getLong(6))))
      .toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("streaming CUSUM == batch closed form on ordered feed; 2 longs of state") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val batch = graft.relational.EventQueries.qCusum(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    // reconstruct each type's reference mean from its series (the batch
    // query derives it the same way)
    val mu = batch.groupBy(_._1).view.mapValues { g =>
      g.map(_._3).sum / g.length
    }.toMap
    val points = batch.map { case (t, day, y, _, _) =>
      graft.streaming.RollingAnomaly.DailyPoint(t, day, y, mu(t))
    }.sortBy(p => (p.day, p.eventType))
    val batches = points.grouped(math.max(1, points.length / 3 + 1)).toSeq
    val input = MemoryStream[graft.streaming.RollingAnomaly.DailyPoint]
    val name = s"cusum_${System.nanoTime()}"
    val q = graft.streaming.RollingAnomaly.cusum(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name)
          .as[graft.streaming.RollingAnomaly.CusumAlarm].collect()
          .map(a => (a.eventType, a.day) -> ((a.cusum, a.alarm))).toMap
      } finally q.stop()
    val want = batch
      .map { case (t, day, _, c, al) => (t, day) -> ((c, al)) }.toMap
    assert(got === want)
    assert(got.nonEmpty)
  }

  test("A1: eager reply on first found; stragglers don't re-emit") {
    val replies = runVerdicts(Seq(
      Seq(verdict(7L, 0, 3, found = false, null)),
      Seq(verdict(7L, 1, 3, found = true, "abcd")),
      Seq(verdict(7L, 2, 3, found = false, null)) // straggler
    ))
    assert(replies === Seq(CrackReply(7L, "f", "abcd")))
  }

  test("A2: 'x' only after ALL partitions report not-found") {
    val replies = runVerdicts(Seq(
      Seq(verdict(1L, 0, 3, found = false, null),
        verdict(1L, 1, 3, found = false, null)),
      Seq(verdict(1L, 2, 3, found = false, null))
    ))
    assert(replies === Seq(CrackReply(1L, "x", null)))
  }

  test("A1 duplicate-found is idempotent (reference overwrites, server.c:291)") {
    val replies = runVerdicts(Seq(
      Seq(verdict(2L, 0, 2, found = true, "mzzz")),
      Seq(verdict(2L, 1, 2, found = true, "zzzz")) // late dup found
    ))
    assert(replies === Seq(CrackReply(2L, "f", "mzzz")))
  }

  test("verdict step: eager f with a straggler; the straggler only frees state") {
    val (s1, r1, d1) = CrackService.step(7L, None,
      Iterator(verdict(7L, 0, 3, found = false, null)))
    assert(r1.isEmpty && !d1)
    val (s2, r2, d2) = CrackService.step(7L, Some(s1),
      Iterator(verdict(7L, 1, 3, found = true, "abcd")))
    assert(r2 === Seq(CrackReply(7L, "f", "abcd")) && !d2 && s2.replied)
    val (_, r3, d3) = CrackService.step(7L, Some(s2),
      Iterator(verdict(7L, 2, 3, found = false, null)))
    assert(r3.isEmpty && d3)
  }

  test("verdict step: x only after every tile; a duplicate found keeps the first") {
    val (s1, r1, d1) = CrackService.step(1L, None, Iterator(
      verdict(1L, 0, 3, found = false, null), verdict(1L, 1, 3, found = false, null)))
    assert(r1.isEmpty && !d1 && s1.seen === Seq(0, 1))
    val (_, r2, d2) = CrackService.step(1L, Some(s1),
      Iterator(verdict(1L, 2, 3, found = false, null)))
    assert(r2 === Seq(CrackReply(1L, "x", null)) && d2)
    val (s3, r3, d3) = CrackService.step(2L, None, Iterator(
      verdict(2L, 0, 2, found = true, "mzzz"), verdict(2L, 1, 2, found = true, "zzzz")))
    assert(r3 === Seq(CrackReply(2L, "f", "mzzz")) && d3 && s3.pass === "mzzz")
  }

  test("verdict step: a repeated partId never completes a request early") {
    // a count-based fold would see 3 verdicts of 3 here and reply x
    val (s1, r1, d1) = CrackService.step(3L, None, Iterator(
      verdict(3L, 0, 3, found = false, null), verdict(3L, 0, 3, found = false, null),
      verdict(3L, 1, 3, found = false, null)))
    assert(r1.isEmpty && !d1 && s1.seen === Seq(0, 1))
    val (s2, r2, d2) = CrackService.step(3L, Some(s1),
      Iterator(verdict(3L, 1, 3, found = false, null)))
    assert(r2.isEmpty && !d2)
    val (_, r3, d3) = CrackService.step(3L, Some(s2),
      Iterator(verdict(3L, 2, 3, found = false, null)))
    assert(r3 === Seq(CrackReply(3L, "x", null)) && d3)
  }

  test("verdict step: interleaved requests fold independently") {
    val (a1, ra1, _) = CrackService.step(10L, None,
      Iterator(verdict(10L, 0, 2, found = false, null)))
    val (b1, rb1, db1) = CrackService.step(11L, None,
      Iterator(verdict(11L, 0, 2, found = true, "test")))
    assert(ra1.isEmpty && rb1 === Seq(CrackReply(11L, "f", "test")) && !db1)
    val (_, ra2, da2) = CrackService.step(10L, Some(a1),
      Iterator(verdict(10L, 1, 2, found = false, null)))
    assert(ra2 === Seq(CrackReply(10L, "x", null)) && da2)
    val (_, rb2, db2) = CrackService.step(11L, Some(b1),
      Iterator(verdict(11L, 1, 2, found = false, null)))
    assert(rb2.isEmpty && db2)
  }

  test("verdict fold: default and RocksDB state stores reply identically") {
    val batches = Seq(
      Seq(verdict(1L, 0, 3, found = false, null),
        verdict(2L, 0, 2, found = true, "mzzz"),
        verdict(3L, 0, 2, found = false, null)),
      Seq(verdict(1L, 0, 3, found = false, null), // repeated tile
        verdict(1L, 1, 3, found = false, null),
        verdict(2L, 1, 2, found = true, "zzzz"), // late duplicate found
        verdict(4L, 0, 1, found = true, "test")),
      Seq(verdict(1L, 2, 3, found = false, null),
        verdict(3L, 1, 2, found = true, "abcd")))
    // the reply stream must not depend on which provider stores the
    // fold's state
    val hdfs = runVerdicts(batches).sortBy(_.reqId)
    val rocks = withRocksDbProvider(runVerdicts(batches)).sortBy(_.reqId)
    assert(hdfs === Seq(CrackReply(1L, "x", null), CrackReply(2L, "f", "mzzz"),
      CrackReply(3L, "f", "abcd"), CrackReply(4L, "f", "test")))
    assert(rocks === hdfs)
  }

  test("T8 straggler recovery: dropped verdict's tile is rescanned on timeout") {
    import org.apache.spark.sql.streaming.TestGroupState
    // "ab" is ordinal 1 at len 2; 3 tiles over [0, 675] put it in tile 0.
    // Feed verdicts for tiles 1 and 2 only (tile 0's worker is lost),
    // then fire the processing-time timeout: recovery must rescan tile 0
    // and reply f/ab.
    val hash = "da23614e02469a0d7c7bd1bdab5c9c474b1904dc"
    val fold = CrackService.foldVerdictsRecovering(
      1000L, CrackPipeline.scanTile) _
    val state = TestGroupState.create[RecoveryState](
      optionalState = org.apache.spark.api.java.Optional.empty[RecoveryState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val live = fold(21L, Iterator(
      JobVerdict(21L, 1, 3, hash, 2, found = false, null),
      JobVerdict(21L, 2, 3, hash, 2, found = false, null)), state).toSeq
    assert(live.isEmpty, "incomplete request must not reply yet")
    assert(state.exists && state.get.seen.toSet === Set(1, 2))
    assert(state.getTimeoutTimestampMs.isPresent, "timer must be armed")
    val timedOut = TestGroupState.create[RecoveryState](
      optionalState = org.apache.spark.api.java.Optional.of(state.get),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 5000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = fold(21L, Iterator.empty, timedOut).toSeq
    assert(out === Seq(CrackReply(21L, "f", "ab")))
    assert(timedOut.isRemoved)
  }

  test("T8 straggler recovery: all-lost not-found request still answers x") {
    import org.apache.spark.sql.streaming.TestGroupState
    val hash = "7110eda4d09e062aa5e4a390b0a572ac0d2c0220" // "1234": no len-2 preimage
    val fold = CrackService.foldVerdictsRecovering(
      1000L, CrackPipeline.scanTile) _
    val timedOut = TestGroupState.create[RecoveryState](
      optionalState = org.apache.spark.api.java.Optional.of(
        RecoveryState(hash, 2, 4, Seq(0, 2), found = false, null, replied = false)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 5000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = true)
    val out = fold(33L, Iterator.empty, timedOut).toSeq
    assert(out === Seq(CrackReply(33L, "x", null)))
    assert(timedOut.isRemoved)
  }

  test("straggler recovery fires END-TO-END with live processing-time timers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // "ab" (ordinal 1, len 2) lives in tile 0 of 3 — and tile 0's verdict
    // never arrives. The 300 ms processing-time timeout must rescan it
    // and still answer f/ab. processAllAvailable would never return with
    // timers on (timer-only batches run continuously), so the assertion
    // POLLS the sink with a deadline instead.
    val hash = "da23614e02469a0d7c7bd1bdab5c9c474b1904dc"
    val input = MemoryStream[JobVerdict]
    val name = s"livetimer_${System.nanoTime()}"
    val q = CrackService.replyStreamRecovering(input.toDS(), timeoutMs = 300L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Seq(
        JobVerdict(77L, 1, 3, hash, 2, found = false, null),
        JobVerdict(77L, 2, 3, hash, 2, found = false, null)))
      val deadline = System.nanoTime() + 60_000_000_000L
      var replies = Seq.empty[CrackReply]
      while (replies.isEmpty && System.nanoTime() < deadline) {
        Thread.sleep(100)
        replies = spark.table(name).as[CrackReply].collect().toSeq
      }
      assert(replies === Seq(CrackReply(77L, "f", "ab")),
        "timeout recovery must rescan the lost tile and reply")
    } finally q.stop()
  }

  test("recovering pipeline end-to-end (timers off) matches the plain fold") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[CrackPipeline.CrackJob]
    val name = s"recov_${System.nanoTime()}"
    // timeoutMs = 0: NoTimeout mode — identical semantics to replyStream,
    // and processAllAvailable terminates (timer batches would spin it)
    val q = CrackPipeline.replyStreamRecovering(input.toDS(), timeoutMs = 0L)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Seq(
        CrackPipeline.CrackJob(41L, "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", 2, 4),
        CrackPipeline.CrackJob(42L, "7110eda4d09e062aa5e4a390b0a572ac0d2c0220", 2, 4)))
      q.processAllAvailable()
      val replies = spark.table(name).as[CrackReply].collect().toSet
      assert(replies === Set(
        CrackReply(41L, "f", "ab"), CrackReply(42L, "x", null)))
    } finally q.stop()
  }

  test("independent requests keep independent state") {
    val replies = runVerdicts(Seq(
      Seq(verdict(10L, 0, 1, found = false, null),
        verdict(11L, 0, 1, found = true, "test"))
    )).toSet
    assert(replies === Set(
      CrackReply(10L, "x", null), CrackReply(11L, "f", "test")))
  }

  test("F5/T5: in-order delivery, dup drop, out-of-order drop per connection") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val input = MemoryStream[LspPacket]
    val name = s"events_${System.nanoTime()}"
    // epochCnt = 0: no processing-time timers (they spin the microbatch
    // loop); the timeout branch is covered by the TestGroupState test below
    val q = SessionTracker.eventStream(input.toDS(), epochCnt = 0)
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      input.addData(Seq(
        LspPacket(5L, 1L, 10), LspPacket(5L, 2L, 10))) // clean in-order
      q.processAllAvailable()
      input.addData(Seq(
        LspPacket(5L, 2L, 10),  // retransmit (T5)
        LspPacket(5L, 5L, 10),  // future seqnum (F5 drop)
        LspPacket(5L, 3L, 10))) // next expected
      q.processAllAvailable()
      val events = spark.table(name).as[ConnEvent].collect().toSeq
      assert(events.count(_.event == Delivered) === 3)
      assert(events.filter(_.event == DupDropped).map(_.seqnum) === Seq(2L))
      assert(events.filter(_.event == OutOfOrderDropped).map(_.seqnum) === Seq(5L))
    } finally q.stop()
  }

  test("F5/T5 gate: delivers in seqnum order, drops dups and future seqnums") {
    val (st, out) = SessionTracker.gate(ConnState(3L, silentEpochs = 2), Iterator(
      LspPacket(4L, 7L, 1), LspPacket(4L, 3L, 1), LspPacket(4L, 2L, 1),
      LspPacket(4L, 4L, 1)))
    assert(out === Seq(ConnEvent(4L, DupDropped, 2L), ConnEvent(4L, Delivered, 3L),
      ConnEvent(4L, Delivered, 4L), ConnEvent(4L, OutOfOrderDropped, 7L)))
    // liveness is the adapter's business, not the gate's
    assert(st === ConnState(5L, silentEpochs = 2))
  }

  test("T4 epoch branch: quiet epochs re-ACK last delivered, then T2 evicts") {
    import org.apache.spark.sql.streaming.TestGroupState
    def fire(st: ConnState): (Seq[ConnEvent], TestGroupState[ConnState]) = {
      val state = TestGroupState.create[ConnState](
        optionalState = org.apache.spark.api.java.Optional.of(st),
        timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
        batchProcessingTimeMs = 1000L,
        eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
        hasTimedOut = true)
      (SessionTracker.trackConn(2000L, 5)(5L, Iterator.empty, state).toSeq, state)
    }
    // epochs 1..4 quiet: keep-alive re-ACK of seqnum 6 (expectedNext 7),
    // silent count climbs, timer re-arms
    val (out1, st1) = fire(ConnState(7L))
    assert(out1 === Seq(ConnEvent(5L, SessionTracker.KeepAliveAck, 6L)))
    assert(st1.get === ConnState(7L, silentEpochs = 1))
    assert(st1.getTimeoutTimestampMs.isPresent)
    val (out4, st4) = fire(ConnState(7L, silentEpochs = 3))
    assert(out4 === Seq(ConnEvent(5L, SessionTracker.KeepAliveAck, 6L)))
    assert(st4.get === ConnState(7L, silentEpochs = 4))
    // 5th consecutive quiet epoch: eviction
    val (out5, st5) = fire(ConnState(7L, silentEpochs = 4))
    assert(out5 === Seq(ConnEvent(5L, SessionTracker.TimedOut, -1L)))
    assert(st5.isRemoved)
  }

  test("T2 liveness resets on traffic: a packet zeroes the silent count") {
    import org.apache.spark.sql.streaming.TestGroupState
    val state = TestGroupState.create[ConnState](
      optionalState = org.apache.spark.api.java.Optional.of(
        ConnState(3L, silentEpochs = 4)),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.ProcessingTimeTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    val out = SessionTracker.trackConn(2000L, 5)(5L,
      Iterator(LspPacket(5L, 3L, 1)), state).toSeq
    assert(out === Seq(ConnEvent(5L, SessionTracker.Delivered, 3L)))
    assert(state.get === ConnState(4L, silentEpochs = 0))
  }

  test("F5 ordering within a batch follows seqnum order, not arrival order") {
    import org.apache.spark.sql.streaming.TestGroupState
    val state = TestGroupState.create[ConnState](
      optionalState = org.apache.spark.api.java.Optional.empty[ConnState](),
      timeoutConf = org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout(),
      batchProcessingTimeMs = 1000L,
      eventTimeWatermarkMs = org.apache.spark.api.java.Optional.empty[Long](),
      hasTimedOut = false)
    // arrival order 3,1,2 — the tracker sorts, so all three deliver
    val out = SessionTracker.trackConn(0L, 0)(9L, Iterator(
      LspPacket(9L, 3L, 1), LspPacket(9L, 1L, 1), LspPacket(9L, 2L, 1)), state).toSeq
    assert(out.map(_.event).forall(_ == SessionTracker.Delivered))
    assert(state.get === ConnState(4L))
  }

  test("watermark dedup drops retransmits (dropDuplicatesWithinWatermark)") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    case class TsPacket(connid: Long, seqnum: Long, ts: Timestamp)
    val input = MemoryStream[(Long, Long, Timestamp)]
    val name = s"dedup_${System.nanoTime()}"
    val ds = input.toDS().toDF("connid", "seqnum", "ts")
    val q = ds.withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("connid", "seqnum")
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00")
      def t(s: Int) = Timestamp.valueOf(f"2024-01-01 00:0$s:00")
      input.addData(Seq((1L, 1L, t0), (1L, 1L, t(1)), (1L, 2L, t(2)), (1L, 1L, t(3))))
      q.processAllAvailable()
      assert(spark.table(name).count() === 2) // (1,1) once + (1,2) once
    } finally q.stop()
  }

  test("event-time tumbling window with watermark drops late data") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Double)]
    val name = s"win_${System.nanoTime()}"
    // the LIBRARY surface (same function q_window_tumbling oracles in
    // batch), driven as a real watermarked stream
    val q = EventTimeWindows.tumblingCounts(
        input.toDF().toDF("connid", "ts", "value"),
        "ts", "5 minutes", "10 minutes", Seq("connid"))
      .select(date_format(col("win_start"), "HH:mm").as("w"),
        col("connid"), col("n_events"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def t(m: Int, s: Int = 0) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    try {
      input.addData(Seq((1L, t(1), 1.0), (1L, t(3), 2.0), (1L, t(7), 4.0)))
      q.processAllAvailable()
      // advance watermark far past the first windows so they finalize
      input.addData(Seq((1L, t(40), 8.0)))
      q.processAllAvailable()
      // a record older than the watermark must be DROPPED, not revive a
      // closed window (T7 late-data handling, generalized to event time)
      input.addData(Seq((1L, t(2), 100.0)))
      input.addData(Seq((1L, t(55), 16.0))) // push watermark: 10:40 window finalizes
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // exact finalized set: a leaked late row would surface as a second
      // 10:00 row (append mode emits each finalized window once)
      assert(rows.sorted === Seq(
        ("10:00", 1L, 2L), ("10:05", 1L, 1L), ("10:40", 1L, 1L)),
        s"unexpected finalized windows: ${rows.toSeq}")
    } finally q.stop()
  }

  test("session windows on a stream: merge within gap, finalize past watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp)]
    val name = s"sess_${System.nanoTime()}"
    val q = EventTimeWindows.sessionCounts(
        input.toDF().toDF("connid", "ts"),
        "ts", "5 minutes", "10 minutes", Seq("connid"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def t(m: Int, s: Int = 0) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:$s%02d")
    def us(m: Int, s: Int = 0) = t(m, s).getTime * 1000L
    try {
      // 10:01 and 10:04 merge (3 min < 5); 10:08 extends; 10:13:00 —
      // EXACTLY gap after 10:08 — still extends (the boundary is
      // inclusive for merging; this assertion pins that semantics, which
      // the q_session_window oracle must mirror with a `> gap` break);
      // 10:18:01 is one second past the gap and starts a new session
      input.addData(Seq((1L, t(1)), (1L, t(4)), (1L, t(8)), (1L, t(13)),
        (1L, t(18, 1))))
      q.processAllAvailable()
      // push the watermark far enough that both sessions finalize
      input.addData(Seq((1L, t(59))))
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(rows.sorted === Seq(
        (1L, us(1), us(13) + 300000000L, 4L), // [10:01, 10:18): 4 events
        (1L, us(18, 1), us(18, 1) + 300000000L, 1L)), // [10:18:01, 10:23:01)
        s"unexpected finalized sessions: ${rows.toSeq}")
    } finally q.stop()
  }

  test("stream-static join: live events enrich against a broadcast dimension") {
    // the remaining §2.10 join mode: a STREAM probing a STATIC dim —
    // Spark plans it as a broadcast join re-executed per micro-batch, no
    // state kept (unlike stream-stream). The dim intentionally misses one
    // key: inner-join semantics must drop that event, not null-fill it.
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dim = Seq((1L, "us"), (2L, "eu")).toDF("connid", "region")
    val input = MemoryStream[(Long, Double)]
    val name = s"enrich_${System.nanoTime()}"
    val q = input.toDF().toDF("connid", "value")
      .join(broadcast(dim), "connid")
      .groupBy("region").agg(sum("value").as("total"))
      .writeStream.format("memory").queryName(name)
      .outputMode("complete").start()
    try {
      input.addData(Seq((1L, 1.0), (2L, 2.0), (1L, 4.0), (3L, 100.0)))
      q.processAllAvailable()
      input.addData(Seq((2L, 8.0), (3L, 100.0)))
      q.processAllAvailable()
      val rows = spark.table(name).collect()
        .map(r => (r.getString(0), r.getDouble(1))).toMap
      assert(rows === Map("us" -> 5.0, "eu" -> 10.0),
        s"connid 3 (absent from dim) must not leak: $rows")
    } finally q.stop()
  }

  test("stream-stream ACK join: eager RTT, outer null only after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sends = MemoryStream[(Long, Long, Timestamp)]
    val acks = MemoryStream[(Long, Long, Timestamp)]
    val name = s"ackrtt_${System.nanoTime()}"
    val q = AckCorrelation.correlateAcks(
        sends.toDF().toDF("connid", "seqnum", "send_ts"),
        acks.toDF().toDF("connid", "seqnum", "ack_ts"),
        ackHorizon = "5 seconds", watermark = "10 seconds",
        joinType = "left_outer")
      .select(col("connid"), col("seqnum"), col("rtt_ms"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def t(s: Int) = Timestamp.valueOf(f"2024-01-01 10:00:$s%02d")
    try {
      // s1 acked in-horizon (2 s), s2 acked too late (8 s > 5 s), s3 never
      sends.addData(Seq((1L, 1L, t(10)), (1L, 2L, t(20)), (1L, 3L, t(30))))
      acks.addData(Seq((1L, 1L, t(12)), (1L, 2L, t(28))))
      q.processAllAvailable()
      // inner matches emit EAGERLY — before any watermark movement
      val eager = spark.table(name).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(eager.toSeq === Seq((1L, 1L, 2000L)),
        s"eager inner emission: ${eager.toSeq}")
      // push both watermarks far past send+horizon; the unmatched sends
      // finalize with NULL ack (the retransmission-needed signal) —
      // watermark updates land a batch late, so poll
      sends.addData(Seq((9L, 99L, t(50))))
      acks.addData(Seq((9L, 98L, t(50))))
      val deadline = System.nanoTime() + 30_000_000_000L
      def outerRows() = {
        q.processAllAvailable()
        spark.table(name).filter(col("rtt_ms").isNull).collect()
          .map(r => (r.getLong(0), r.getLong(1)))
      }
      var outs = outerRows()
      while (outs.length < 2 && System.nanoTime() < deadline) {
        Thread.sleep(100)
        sends.addData(Seq.empty)
        outs = outerRows()
      }
      assert(outs.sorted.toSeq === Seq((1L, 2L), (1L, 3L)),
        s"unacked sends after watermark: ${outs.toSeq}")
    } finally q.stop()
  }

  test("event-time sliding windows: each event in width/slide windows") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val input = MemoryStream[(Long, Timestamp, Double)]
    val name = s"slide_${System.nanoTime()}"
    val q = EventTimeWindows.slidingCounts(
        input.toDF().toDF("connid", "ts", "value"),
        "ts", "10 minutes", "5 minutes", "10 minutes", Seq("connid"))
      .select(date_format(col("win_start"), "HH:mm").as("w"),
        col("connid"), col("n_events"))
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      input.addData(Seq((1L, t(7), 1.0), (1L, t(8), 1.0)))
      q.processAllAvailable()
      input.addData(Seq((1L, t(59), 1.0))) // watermark 10:49 finalizes both
      q.processAllAvailable()
      val rows = spark.table(name)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // events at 10:07/10:08 belong to the 10:00-10:10 AND 10:05-10:15
      // windows (width/slide = 2 windows each)
      assert(rows.sorted === Seq(("10:00", 1L, 2L), ("10:05", 1L, 2L)),
        s"unexpected sliding windows: ${rows.toSeq}")
    } finally q.stop()
  }

  test("S3: file-based source — new files are processed incrementally") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src").toFile
    val ckpt = java.nio.file.Files.createTempDirectory("graft_stream_ck").toFile
    def writeFile(n: String, lines: Seq[String]): Unit = {
      val f = new java.io.File(dir, n)
      val w = new java.io.PrintWriter(f)
      try lines.foreach(w.println) finally w.close()
    }
    // wire-log replay: the same LspPacket schema the UDP source would emit
    writeFile("batch0.json", Seq(
      """{"connid":1,"seqnum":1,"payloadLen":3}""",
      """{"connid":1,"seqnum":2,"payloadLen":3}""",
      """{"connid":1,"seqnum":2,"payloadLen":3}"""))
    val packets = spark.readStream
      .schema("connid LONG, seqnum LONG, payloadLen INT")
      .option("maxFilesPerTrigger", "1")
      .json(dir.getAbsolutePath)
      .as[LspPacket]
    val name = s"filesrc_${System.nanoTime()}"
    val q = SessionTracker.eventStream(packets, epochCnt = 0)
      .writeStream.format("memory").queryName(name)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val first = spark.table(name).as[ConnEvent].collect()
      assert(first.count(_.event == Delivered) === 2)
      assert(first.count(_.event == DupDropped) === 1)
      // a file that arrives later is picked up with state carried over
      writeFile("batch1.json", Seq(
        """{"connid":1,"seqnum":3,"payloadLen":3}""",
        """{"connid":1,"seqnum":9,"payloadLen":3}"""))
      q.processAllAvailable()
      val all = spark.table(name).as[ConnEvent].collect()
      assert(all.count(_.event == Delivered) === 3) // seqnum 3 continues 1,2
      assert(all.count(_.event == OutOfOrderDropped) === 1) // 9 is future
    } finally q.stop()
  }

  test("streaming conformal: cal-then-test feed replays the batch operator") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    val res = graft.relational.Tables.load(spark, dir, "lineitem")
      .join(graft.relational.Tables.load(spark, dir, "part"),
        org.apache.spark.sql.functions.expr("l_partkey = p_partkey"))
      .selectExpr("l_returnflag as grp", "l_orderkey % 2 as half",
        """abs(floor(l_extendedprice * 100 + 0.5) div cast(l_quantity as bigint)
          | - floor(p_retailprice * 100 + 0.5)) as res""".stripMargin)
      .as[(String, Long, Long)].collect()
      .map(r => graft.streaming.StreamingSketch.ResidRow(r._1, r._2, r._3))
    // phase feed: ALL calibration first, then test — prequential
    // coverage then equals the batch operator's final-qhat coverage
    val (cal, test) = res.partition(_.half == 1L)
    val input = MemoryStream[graft.streaming.StreamingSketch.ResidRow]
    val name = s"conf_${System.nanoTime()}"
    val q = graft.streaming.StreamingSketch.conformal(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update")
      .start()
    val got =
      try {
        Seq(cal, test).foreach { b =>
          input.addData(b.toSeq); q.processAllAvailable()
        }
        spark.table(name)
          .as[graft.streaming.StreamingSketch.ConformalEst].collect()
          .zipWithIndex.groupBy(_._1.grp)
          .map { case (g, v) => g -> v.maxBy(_._2)._1 }
      } finally q.stop()
    val want = graft.relational.Inference.qConformal(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(got.keySet === want.keySet)
    got.foreach { case (g, est) =>
      val (nCal, qhat, nTest, nCov) = want(g)
      assert(est.nCal === nCal, s"$g nCal")
      assert(est.qhat === qhat, s"$g qhat")
      assert(est.nTest === nTest, s"$g nTest")
      assert(est.nCovered === nCov, s"$g coverage")
    }
    // interleaved feed: same final qhat (histogram state is order-free)
    val shuffled = res.sortBy(r => (r.res * 2654435761L) ^ r.grp.##)
    val input2 = MemoryStream[graft.streaming.StreamingSketch.ResidRow]
    val name2 = s"conf2_${System.nanoTime()}"
    val q2 = graft.streaming.StreamingSketch.conformal(input2.toDS())
      .writeStream.format("memory").queryName(name2).outputMode("update")
      .start()
    val got2 =
      try {
        shuffled.grouped(math.max(1, shuffled.length / 3 + 1))
          .foreach { b => input2.addData(b.toSeq); q2.processAllAvailable() }
        spark.table(name2)
          .as[graft.streaming.StreamingSketch.ConformalEst].collect()
          .zipWithIndex.groupBy(_._1.grp)
          .map { case (g, v) => g -> v.maxBy(_._2)._1 }
      } finally q2.stop()
    got2.foreach { case (g, est) =>
      assert(est.qhat === want(g)._2, s"$g interleaved qhat")
      assert(est.nCal === want(g)._1 && est.nTest === want(g)._3)
    }
  }

  test("streaming conformal: residual histogram is capped, coarsening stays conservative") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 3x the bin cap in DISTINCT residual values: without the cap this
    // state would hold 12288 bins; with it, coarsening must kick in and
    // qhat may only move UP (round-up grid = wider interval = coverage
    // never silently lost)
    val nVals = 3 * graft.streaming.StreamingSketch.ConformalMaxBins
    val rows = (0 until nVals).map(i =>
      graft.streaming.StreamingSketch.ResidRow("g", 1L, i * 7L))
    val exactQhat = {
      val sorted = rows.map(_.res).sorted
      sorted(((9 * sorted.length + 18) / 10 - 1).toInt)
    }
    val input = MemoryStream[graft.streaming.StreamingSketch.ResidRow]
    val name = s"confcap_${System.nanoTime()}"
    val q = graft.streaming.StreamingSketch.conformal(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update")
      .start()
    val est =
      try {
        rows.grouped(4096).foreach { b =>
          input.addData(b.toSeq); q.processAllAvailable()
        }
        spark.table(name)
          .as[graft.streaming.StreamingSketch.ConformalEst].collect()
          .zipWithIndex.maxBy(_._2)._1
      } finally q.stop()
    assert(est.nCal === nVals.toLong)
    assert(est.qhat >= exactQhat, "coarsened qhat must be conservative")
    // the coarse grid is at most a few doublings past the cap ratio
    assert(est.qhat - exactQhat < 64L,
      s"qhat ${est.qhat} drifted far from exact $exactQhat")
  }
}
