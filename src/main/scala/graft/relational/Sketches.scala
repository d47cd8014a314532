package graft.relational

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deterministic sketches — the bounded-memory cardinality/frequency
  * path for 100 TB, built so the SAME bits come out of any engine.
  *
  * Spark's own `approx_count_distinct`/`approx_percentile` produce
  * engine-specific values (q_sketch_stats wraps them in accuracy
  * assertions instead); these two operators take the other route: the
  * sketch algorithm itself is pinned to md5-derived integer arithmetic,
  * so a DuckDB replay of the formula is bit-identical and the driver's
  * hash compare works on the sketch OUTPUT, not around it.
  *
  * - [[qHllDistinct]]: HyperLogLog (Flajolet et al. 2007) with m=256
  *   registers. Register index = first 8 hash bits; rank = leading-zero
  *   count of the next 60 bits + 1, computed EXACTLY via the classic
  *   bit-smear + popcount (no floating log2 — `floor(log2(v))` misrounds
  *   at 2^k boundaries where the double ulp exceeds the gap). The
  *   indicator sum stays in integer space scaled by 2^61 (a decimal —
  *   256·2^61 outgrows a long), so one IEEE division produces the
  *   estimate; the standard small-range linear-counting branch uses
  *   `ln` exactly as the perplexity oracles already do. Per-group state
  *   is 256 bytes no matter how many rows stream through — THE sketch
  *   property that replaces a shuffle-heavy count(DISTINCT) at scale —
  *   and registers merge by max, so partial aggregation applies.
  * - [[qHeavyHitters]]: count-min (Cormode & Muthukrishnan 2005) with
  *   d=4 salted rows × w=1024 buckets (ε = e/w ≈ 0.27% of total mass,
  *   δ = e^-4). Counters build from the exact per-token partial counts
  *   (map-side combinable; the token-TYPE table is Heaps-law bounded,
  *   the same scale argument as BPE training), and the estimate for any
  *   token is the min over its d counters — never an underestimate,
  *   which the spec asserts. The 4×1024 counter table is a broadcast
  *   artifact, the published-model serving shape.
  */
object Sketches {

  import Tables.load

  private val TwoPow61 = 2305843009213693952L // exact, fits a long

  /** Bit-smear + popcount bit-length: after OR-ing in all right shifts,
    * the value has bitlen(v) one-bits. Exact in 64-bit integer ops in
    * any engine (DuckDB mirrors with `>>`/`|`/bit_count). */
  private def smearBitlen(v: Column): Column = {
    val s = Seq(1, 2, 4, 8, 16, 32).foldLeft(v)((c, k) =>
      c.bitwiseOR(shiftright(c, k)))
    bit_count(s)
  }

  /** (bucket, rho) register coordinates of one value under `salt` —
    * bucket from the first 8 hash bits, rank = 61 − bitlen of the next
    * 60. Shared by [[qHllDistinct]] and the HyperBall neighborhood
    * estimator ([[graft.graph.GraphOps.qHyperBall]]). */
  private[graft] def hllRegister(value: Column, salt: String): (Column, Column) = {
    val h = md5(concat(lit(salt + ":"), value.cast("string")))
    (conv(substring(h, 1, 2), 16, 10).cast("int"),
      lit(61) - smearBitlen(
        conv(substring(h, 3, 15), 16, 10).cast("bigint")))
  }

  /** Aggregates over a register column named `mj`: the 2^61-scaled
    * indicator sum (decimal-exact) and the zero-register count. */
  private[graft] def hllZs: Column =
    sum(expr("cast(shiftleft(cast(1 as bigint), 61 - mj) as decimal(38,0))")) +
      (lit(256) - count(lit(1))).cast("decimal(38,0)") * lit(TwoPow61)
  private[graft] def hllV0: Column =
    (lit(256) - count(lit(1))).cast("bigint")

  /** Estimate from (`zs`, `v0`) columns: raw HLL with the standard
    * small-range linear-counting branch. Unrounded double. */
  private[graft] def hllEstimate(zs: Column, v0: Column): Column = {
    val raw = expr("cast(0.7213 as double)/(cast(1.0 as double)" +
      " + cast(1.079 as double)/cast(256.0 as double))" +
      " * cast(65536.0 as double) * cast(2305843009213693952.0 as double)")
      ./(zs.cast("double"))
    when(raw <= 640.0 && v0 > 0, lit(256.0) * log(lit(256.0) / v0))
      .otherwise(raw)
  }

  /** HLL distinct users per event type, next to the exact count it
    * approximates. m=256; output is deterministic cross-engine. */
  def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = load(spark, dir, "events")
    val (bucket, rho) = hllRegister(col("user_id"), "hll")
    val regs = ev
      .select(col("event_type"), bucket.as("bucket"), rho.as("rho"))
      .groupBy("event_type", "bucket")
      .agg(max("rho").as("mj"))
    val est = regs.groupBy("event_type")
      // z·2^61 exactly: present registers contribute 2^(61-mj),
      // absent ones (register 0) contribute 2^61 each
      .agg(hllZs.as("zs"), hllV0.as("v0"))
      .select(col("event_type"),
        round(hllEstimate(col("zs"), col("v0")), 2).as("hll_est"))
    ev.groupBy("event_type")
      .agg(countDistinct("user_id").as("n_exact"))
      .join(broadcast(est), Seq("event_type"))
  }

  /** Trailing-window distinct users per (type, hour) from PER-HOUR HLL
    * blobs — the reason a pipeline keeps mergeable sketches instead of
    * recounting: hour h's trailing-w distinct estimate re-merges w
    * already-built 256-byte blobs (a bounded self-join on the hour
    * spine), while the exact path re-scans every overlapping window's
    * raw rows. At 100 TB the blob table is hours × types × 256 bytes —
    * kilobytes per day — and ANY window (trailing 3 h, calendar day,
    * month) re-aggregates from it without touching the fact table.
    * Register merge is elementwise max (associative, idempotent), so
    * overlapping windows are exactly as accurate as disjoint ones; the
    * estimate formula is the deterministic [[qHllDistinct]] one, so the
    * oracle replays the whole pipeline bit-for-bit. Exact trailing
    * counts ride along as ground truth. */
  def qHllSliding(
      spark: SparkSession, dir: String, windowHours: Int = 3): DataFrame = {
    import graft.functions.{hll_merge, hll_seed_blob, hll_blob_zs, hll_blob_zeros}
    val ev = load(spark, dir, "events")
      .select(col("event_type"),
        expr("ts div 1000 div 3600000000").as("hour"), col("user_id"))
    val (bucket, rho) = hllRegister(col("user_id"), "hll")
    // sparse-first: the per-event stage max-combines 1-byte register
    // rows (not 256-byte seed blobs — 30x less transient allocation);
    // blobs pack AFTER the registers collapse to <= 256 rows per group
    val regs = ev
      .select(col("event_type"), col("hour"),
        bucket.as("bucket"), rho.as("rho"))
      .groupBy("event_type", "hour", "bucket").agg(max("rho").as("mj"))
    val blobs = regs.groupBy("event_type", "hour")
      .agg(hll_merge(
        hll_seed_blob(col("bucket"), col("mj").cast("int"))).as("blob"))
    // trailing membership as EXPLICIT offsets, so every window join is
    // a full (type, hour) equi-join with fan-out w — a range predicate
    // residual on a type-only equi key is a per-type quasi-cartesian
    // over the hour spine (measured 3.5x this query's cost at sf0.1; at
    // a year of hours it would dominate everything)
    val offsets = (0 until windowHours).map(o => col("hour") - lit(o.toLong))
    val wanted = explode(array(offsets: _*)).as("src_hour")
    val trailing = blobs.select(col("event_type"), col("hour"), wanted)
      .join(blobs.select(col("event_type"),
          col("hour").as("src_hour"), col("blob")),
        Seq("event_type", "src_hour"))
      .groupBy("event_type", "hour")
      .agg(hll_merge(col("blob")).as("blob"))
      .select(col("event_type"), col("hour"),
        round(hllEstimate(hll_blob_zs(col("blob")),
          hll_blob_zeros(col("blob"))), 2).as("hll_est"))
    val du = ev.select("event_type", "hour", "user_id").distinct()
    val exact = du.select(col("event_type"), col("hour")).distinct()
      .select(col("event_type"), col("hour"), wanted)
      .join(du.select(col("event_type"), col("hour").as("src_hour"),
        col("user_id")), Seq("event_type", "src_hour"))
      .groupBy("event_type", "hour")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(trailing, Seq("event_type", "hour"))
  }

  /** Audience overlap between event types via HLL set algebra: each
    * type's user set becomes one 256-byte register blob (built by the
    * native `hll_merge` aggregate — one sketch row per type leaves the
    * exchange); the pair's UNION sketch is elementwise max of two
    * blobs, and the intersection estimate is inclusion–exclusion
    * |A| + |B| − |A∪B| — no pairwise re-scan of the raw data, which is
    * the point: at 100 TB, n sets → n sketches → n² overlaps from
    * kilobytes, where the exact path re-shuffles the fact table per
    * pair. The exact overlap count rides along as ground truth; all
    * estimates are the deterministic register formula, so the oracle
    * replays them from the sparse register relation bit-for-bit. */
  def qAudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.{hll_blob_union, hll_blob_zeros, hll_blob_zs, hll_merge, hll_seed_blob}
    val ev = load(spark, dir, "events").select("event_type", "user_id")
    val (bucket, rho) = hllRegister(col("user_id"), "hll")
    val blobs = ev
      .select(col("event_type"), hll_seed_blob(bucket, rho).as("blob"))
      .groupBy("event_type").agg(hll_merge(col("blob")).as("blob"))
    def est(blob: Column): Column =
      hllEstimate(hll_blob_zs(blob), hll_blob_zeros(blob))
    val pairs = blobs.select(col("event_type").as("type_a"),
        col("blob").as("blob_a"))
      .crossJoin(broadcast(blobs.select(col("event_type").as("type_b"),
        col("blob").as("blob_b"))))
      .filter(col("type_a") < col("type_b"))
      .withColumn("blob_u", hll_blob_union(col("blob_a"), col("blob_b")))
      .select(col("type_a"), col("type_b"),
        round(est(col("blob_u")), 2).as("union_est"),
        round(est(col("blob_a")) + est(col("blob_b"))
          - est(col("blob_u")), 2).as("inter_est"))
    val exact = ev.distinct()
      .withColumnRenamed("event_type", "type_a")
      .join(ev.distinct().withColumnRenamed("event_type", "type_b"),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_both"))
    // the PAIRS side drives: a type pair with zero shared users has no
    // exact row, but the disjoint-audience case is exactly what the
    // sketch algebra answers without a rescan — every pair must surface,
    // with n_both coalesced to 0
    pairs.join(exact, Seq("type_a", "type_b"), "left_outer")
      .withColumn("n_both", coalesce(col("n_both"), lit(0L)))
  }

  /** KMV (bottom-k by hash) quantile sketch: per event type, the 256
    * rows with the smallest salted-md5 rank form a uniform-without-
    * replacement sample whose rank-selected quantiles estimate the
    * population's. The property that makes this a SKETCH and not just a
    * sample: bottom-k by a fixed hash is MERGEABLE — bottom-k of a
    * union is computable from per-partition bottom-ks, which is exactly
    * what the native [[graft.plans.TopK]] operator exploits (map-side
    * heaps, `partitions × keys × k` rows through the exchange, never a
    * per-type sort of the fact table). Estimates and exact values are
    * integer-cent rank selections (smallest value whose rank reaches
    * ⌈q·n⌉, in integer cross-multiplied form), so the oracle replays
    * the whole pipeline bit-for-bit — hash ranks are md5 hex strings,
    * compared lexicographically the same way in any engine. */
  def qKmvQuantiles(
      spark: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val ev = load(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        md5(concat(lit("kmv:"), col("event_id").cast("string"))).as("hk"))
    val sample = graft.plans.TopK.topKPerKey(ev,
      keys = Seq(col("event_type")),
      order = Seq(col("hk").asc, col("event_id").asc),
      k = k).drop("rnk")
    // rank-select over the per-type DISTINCT-value histogram (the
    // q_value_clip discipline) — the exact side must not per-type-sort
    // the raw fact rows when a value histogram carries the same ranks
    def rankSelect(df: DataFrame, p50: String, p95: String): DataFrame = {
      val hist = df.groupBy("event_type", "cents")
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy("event_type").orderBy("cents")
      hist.withColumn("cum", sum("cnt").over(w))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
        .groupBy("event_type")
        .agg(min(when(col("cum") * 2 >= col("n"), col("cents"))).as(p50),
          min(when(col("cum") * 20 >= col("n") * 19, col("cents"))).as(p95),
          max("n").as(p50 + "_n"))
    }
    rankSelect(ev, "p50_cents", "p95_cents")
      .withColumnRenamed("p50_cents_n", "n")
      .join(broadcast(rankSelect(sample, "p50_est", "p95_est")
        .withColumnRenamed("p50_est_n", "n_sample")), Seq("event_type"))
      .select("event_type", "n", "n_sample",
        "p50_cents", "p50_est", "p95_cents", "p95_est")
  }

  /** Self-join-size / second frequency moment via the AMS sign sketch
    * (Alon–Matias–Szegedy 1996, bucketed "fast AMS" form): F₂ =
    * Σ_k cnt(k)² IS the size of a self-equi-join — the number the
    * optimizer needs to predict whether `lineitem ⋈ lineitem ON
    * partkey` explodes, and the canonical key-skew scalar. Each of d=5
    * rows hashes keys into w=1024 buckets with a ±1 sign; the row
    * estimate Σ_b c[b]² is UNBIASED (cross terms carry independent
    * signs and cancel in expectation — the plain count-min inner
    * product only upper-bounds, and on near-uniform keys overshot ~3×
    * here), and the median of 5 rows concentrates (rel. std ≈
    * √(2/w) ≈ 4%). Counters build from exact per-key partials
    * (map-side combinable); final state is 5×1024 longs that merge by
    * ADDITION across partitions/days — why engines keep sketches, not
    * histograms, in table stats. Decimal squares: c² outgrows a long
    * once a bucket nets > 3B rows. */
  def qF2Moment(spark: SparkSession, dir: String): DataFrame = {
    val cnt = load(spark, dir, "lineitem")
      .groupBy("l_partkey").agg(count(lit(1)).as("cnt"))
    def bucketCol(i: Int): Column =
      conv(substring(md5(concat(lit(s"f2b$i:"),
        col("l_partkey").cast("string"))), 1, 5), 16, 10)
        .cast("bigint") % 1024
    def signCol(i: Int): Column =
      when(conv(substring(md5(concat(lit(s"f2s$i:"),
        col("l_partkey").cast("string"))), 1, 1), 16, 10)
        .cast("bigint") % 2 === 0, 1L).otherwise(-1L)
    val withRows = cnt.select(col("cnt") +: (0 until 5).flatMap(i =>
      Seq(bucketCol(i).as(s"b$i"), signCol(i).as(s"s$i"))): _*)
    val stacked = withRows.selectExpr(
      "stack(5, 0, b0, s0 * cnt, 1, b1, s1 * cnt, 2, b2, s2 * cnt," +
        " 3, b3, s3 * cnt, 4, b4, s4 * cnt) as (i, bucket, sc)")
    val est = stacked.groupBy("i", "bucket")
      .agg(sum("sc").as("c"))
      .groupBy("i")
      .agg(sum(expr("cast(c as decimal(38,0)) * c")).as("f2_row"))
      .agg(expr("element_at(array_sort(collect_list(f2_row)), 3)")
        .as("est")) // median of the 5 row estimates
    val exact = cnt.agg(
      sum(expr("cast(cnt as decimal(38,0)) * cnt")).as("exact_f2"),
      count(lit(1)).as("n_keys"))
    exact.crossJoin(broadcast(est))
      .select(col("n_keys"),
        col("exact_f2").cast("long").as("exact_f2"),
        col("est").cast("long").as("est_f2"))
  }

  /** Count-min estimates for the top-20 tokens by exact count: the
    * estimate can only overcount (collisions add, never subtract). */
  def qHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    def bucketCol(i: Int): Column =
      conv(substring(md5(concat(lit(s"cm$i:"), col("tok"))), 1, 5), 16, 10)
        .cast("bigint") % 1024
    val tc = load(spark, dir, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("n_exact"))
      .select(col("tok"), col("n_exact"),
        bucketCol(0).as("b0"), bucketCol(1).as("b1"),
        bucketCol(2).as("b2"), bucketCol(3).as("b3"))
    // 4 counter rows per token TYPE (not per occurrence — the exact
    // partial counts aggregate first), then sum into the 4×1024 table
    val stacked = tc.selectExpr("n_exact",
      "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (i, bucket)")
    val counters = stacked.groupBy("i", "bucket")
      .agg(sum("n_exact").as("cnt"))
    val top = tc
      .orderBy(col("n_exact").desc, col("tok")).limit(20)
    top.selectExpr("tok", "n_exact",
        "stack(4, 0, b0, 1, b1, 2, b2, 3, b3) as (i, bucket)")
      .join(broadcast(counters), Seq("i", "bucket"))
      .groupBy("tok", "n_exact")
      .agg(min("cnt").as("n_cms"))
  }

  /** `conv(substring(md5(s), 1+5·slice, 5), 16, 10) % width` replayed
    * in the JVM — the one hash both engines and the driver-side
    * quantile walk must agree on. Slices of ONE digest serve as the
    * count-min rows (md5 bits are independent, and one digest per node
    * costs a third of three salted ones — q_dyadic_quantiles' hot
    * loop). */
  private[graft] def md5BucketSlice(s: String, slice: Int, width: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(5 * slice, 5 * slice + 5), 16) % width
  }

  /** Mergeable quantile sketch over an UNBOUNDED integer domain — the
    * missing sibling of the HLL/count-min/AMS/KMV family. The repo's
    * exact quantiles all rank-select over the distinct-VALUE histogram,
    * which needs that histogram to exist; this operator's state is a
    * fixed `levels × d × w` table of dyadic count-min counters (Cormode
    * & Muthukrishnan 2005 §4 range queries), independent of both row
    * count and value cardinality.
    *
    * Construction: each value v contributes one count to its dyadic
    * ancestor node `(j, v >> j)` per level j; each node is count-min
    * hashed (d md5-salted rows × w buckets). est_rank(x) sums the CM
    * estimates of the ≤`levels` dyadic nodes tiling [0, x), and the
    * α-quantile walks the implicit binary trie top-down, taking bit j
    * when the rank accumulated so far stays below the target. All state
    * is ADDITIVE — order-free, partition-free, mergeable by `+` — so
    * unlike KLL (whose compaction depends on arrival order) the sketch
    * is a pure function of the multiset and a DuckDB replay is
    * bit-identical (SketchQuantileSpec pins partitioning-invariance and
    * the one-sided rank error; the oracle unrolls the same walk).
    *
    * Scale shape: the stacked node stream map-side combines into
    * ≤ types·d·levels·w counter rows before the one exchange; the
    * collected counter table is a fixed-size published model (the
    * qHeavyHitters broadcast-artifact shape) and the trie walk reads
    * only `levels·d` counters per quantile. Count-min never
    * undercounts, so est_rank ≥ true rank and the estimate can only sit
    * at-or-below the exact quantile — the spec pins that direction. */
  def qDyadicQuantiles(
      spark: SparkSession, dir: String,
      levels: Int = 24, d: Int = 3, width: Int = 512): DataFrame = {
    val cap = (1L << levels) - 1
    val ev = load(spark, dir, "events")
      .select(col("event_type"),
        least(floor(col("value") * 100 + 0.5).cast("long"), lit(cap))
          .as("cents"))
    // this query also publishes the EXACT quantiles for comparison, so
    // the per-(type, value) histogram exists anyway — build the
    // counters from it (one md5 per DISTINCT dyadic node, weighted by
    // cnt) instead of once per raw row. The counters are additive, so
    // the result is identical; a sketch-only deployment on a domain too
    // distinct-heavy for a value histogram would hash per raw row with
    // map-side combine straight into the same fixed counter table.
    val histCut = graft.Cut(ev.groupBy("event_type", "cents")
      .agg(count(lit(1)).as("cnt")))
    val hist = histCut.df
    try {
      // one dyadic node per (distinct value, level): (j, cents >> j);
      // ONE md5 per node, its d 5-hex-char slices the CM row buckets
      val nodes = hist.select(col("event_type"), col("cnt"),
        posexplode(array((0 until levels).map(j =>
          shiftright(col("cents"), j)): _*)).as(Seq("j", "nb")))
        .withColumn("hx", md5(concat(lit("dq:"), col("j").cast("string"),
          lit(":"), col("nb").cast("string"))))
      def cmBucket(i: Int): Column =
        conv(substring(col("hx"), 1 + 5 * i, 5), 16, 10)
          .cast("bigint") % width
      val stacked = nodes
        .select(Seq(col("event_type"), col("j"), col("cnt")) ++
          (0 until d).map(i => cmBucket(i).as(s"b$i")): _*)
        .selectExpr("event_type", "j", "cnt",
          s"stack($d, ${(0 until d).map(i => s"$i, b$i").mkString(", ")}) as (i, bucket)")
      val counters = stacked.groupBy("event_type", "i", "j", "bucket")
        .agg(sum("cnt").as("cnt"))

      // model-publish: the fixed-size counter table collects driver-side
      // and the trie walk runs there (levels·d lookups per quantile)
      val cmap = counters.collect().map(r =>
        (r.getString(0), r.getInt(1), r.getInt(2), r.getLong(3)) ->
          r.getLong(4)).toMap
      val ns = hist.groupBy("event_type").agg(sum("cnt").as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      dyadicResult(spark, hist, cmap, ns, levels, d, width)
    } finally histCut.release()
  }

  private def dyadicResult(
      spark: SparkSession, hist: DataFrame,
      cmap: Map[(String, Int, Int, Long), Long], ns: Map[String, Long],
      levels: Int, d: Int, width: Int): DataFrame = {
    def est(t: String, j: Int, nb: Long): Long =
      (0 until d).iterator.map(i => cmap.getOrElse(
        (t, i, j, md5BucketSlice(s"dq:$j:$nb", i, width)), 0L)).min
    def quantile(t: String, target: Long): Long = {
      var v = 0L
      var r = 0L
      var j = levels - 1
      while (j >= 0) {
        val c = est(t, j, v >> j)
        if (r + c < target) { v |= 1L << j; r += c }
        j -= 1
      }
      v
    }
    import spark.implicits._
    val ests = ns.toSeq.sortBy(_._1).map { case (t, n) =>
      (t, quantile(t, (n + 1) / 2), quantile(t, (19 * n + 19) / 20))
    }.toDF("event_type", "p50_est", "p95_est")

    // exact side for comparison: rank-select over the SAME distinct-
    // value histogram (the qKmvQuantiles discipline)
    val w = Window.partitionBy("event_type").orderBy("cents")
    val exact = hist.withColumn("cum", sum("cnt").over(w))
      .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max("n").as("n"),
        min(when(col("cum") * 2 >= col("n"), col("cents"))).as("p50_cents"),
        min(when(col("cum") * 20 >= col("n") * 19, col("cents")))
          .as("p95_cents"))
    exact.join(broadcast(ests), "event_type")
      .select("event_type", "n", "p50_cents", "p50_est",
        "p95_cents", "p95_est")
  }
}
