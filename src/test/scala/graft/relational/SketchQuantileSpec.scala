package graft.relational

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SparkSpec
import graft.streaming.StreamingSketch

/** The dyadic count-min quantile sketch's contract: one-sided rank error
  * (CM never undercounts, so the estimate sits at-or-below the exact
  * quantile), order/partition-freeness (additive counters), and the
  * streaming twin folding to the batch operator's exact estimates under
  * any feed order or batch split. */
class SketchQuantileSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("batch: estimates are one-sided (<= exact) and close; n is exact") {
    val rows = Sketches.qDyadicQuantiles(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, p50, p50e, p95, p95e) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(p50e <= p50, s"${r.getString(0)}: p50 est $p50e > exact $p50")
      assert(p95e <= p95, s"${r.getString(0)}: p95 est $p95e > exact $p95")
      // pragmatic closeness: the estimate's true CDF mass reaches at
      // least 90% of the target rank (observed error ~0.5% at test SFs)
      assert(p50e >= p50 - math.max(4, p50 / 10), s"p50 est $p50e far from $p50")
      assert(p95e >= p95 - math.max(4, p95 / 10), s"p95 est $p95e far from $p95")
      assert(n > 0)
    }
  }

  test("collision-free counters reproduce exact quantiles (walk correctness)") {
    // a small fixed multiset; with 512 buckets these few dyadic nodes
    // are collision-free under the fixed md5 salts, so the walk's answer
    // must be EXACTLY the t-th smallest value
    val values = Seq(3L, 3L, 7L, 10L, 10L, 10L, 99L, 1000L, 4096L, 123456L)
    var counters = Map.empty[Long, Long]
    values.foreach { v =>
      (0 until 24).foreach { j =>
        (0 until 3).foreach { i =>
          val k = StreamingSketch.dqKey(i, j,
            Sketches.md5BucketSlice(s"dq:$j:${v >> j}", i, 512))
          counters = counters.updated(k, counters.getOrElse(k, 0L) + 1L)
        }
      }
    }
    val sorted = values.sorted
    (1 to values.length).foreach { t =>
      assert(StreamingSketch.dqQuantile(counters, t.toLong) === sorted(t - 1),
        s"rank $t")
    }
  }

  test("streaming twin == batch operator under shuffled feed and batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Tables.load(spark, dir, "events")
      .selectExpr("event_type", "event_id",
        "cast(floor(value * 100 + 0.5) as long) as cents")
      .as[(String, Long, Long)].collect()
      .map(r => StreamingSketch.ValueRow(r._1, r._2, r._3))
    val shuffled = rows.sortBy(e => e.eventId * 0x9E3779B97F4A7C15L)
    val batches = shuffled.grouped(math.max(1, rows.length / 5 + 1)).toSeq
    val input = MemoryStream[StreamingSketch.ValueRow]
    val name = s"dq_${System.nanoTime()}"
    val q = StreamingSketch.dyadicQuantiles(input.toDS())
      .writeStream.format("memory").queryName(name).outputMode("update").start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table(name)
          .as[StreamingSketch.DyadicEst].collect()
          .zipWithIndex.groupBy(_._1.eventType)
          .map { case (t, v) =>
            val last = v.maxBy(_._2)._1
            t -> ((last.n, last.p50Est, last.p95Est))
          }
      } finally q.stop()
    val want = Sketches.qDyadicQuantiles(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(3), r.getLong(5))))
      .toMap
    assert(got === want)
    assert(got.nonEmpty)
  }
}
