package graft.streaming

import java.security.MessageDigest

import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{Dataset, Encoders}

/** Streaming twin of [[graft.relational.Sketches.qHllDistinct]]: the
  * same deterministic 256-register HLL maintained ONLINE per key, one
  * estimate row per (key, micro-batch) in update fashion.
  *
  * The property this twin exists to pin (StreamingSpec): register
  * merge is `max`, which commutes and is idempotent, so — unlike the
  * ring-buffer twin [[RollingAnomaly]], whose contract requires ordered
  * feed — ANY batch split and ANY arrival order converge to the exact
  * batch registers, and the final estimate equals `q_hll_distinct`'s
  * `hll_est` bit-for-bit. That is the sketch property that makes 256
  * bytes of state per key sufficient for distinct-counting an unbounded
  * stream (and what lets partial sketches merge across executors,
  * micro-batches, or days of checkpoints at 100 TB).
  */
object StreamingSketch {

  final case class UserEvent(eventType: String, userId: Long)
  final case class Registers(mj: Vector[Byte])
  final case class Estimate(eventType: String, nRegisters: Int, hllEst: Double)

  /** (bucket, rank) of one value — the JVM replay of
    * `Sketches.hllRegister` (first hex byte = bucket; rank = 61 − bit
    * length of the next 15 hex chars' 60-bit value). */
  private[graft] def register(userId: Long): (Int, Byte) = {
    val hex = MessageDigest.getInstance("MD5")
      .digest(s"hll:$userId".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val bucket = Integer.parseInt(hex.substring(0, 2), 16)
    val v = BigInt(hex.substring(2, 17), 16)
    (bucket, (61 - v.bitLength).toByte)
  }

  /** The estimate Spark's codegen'd expression computes, replayed with
    * the same operation order (cf. `Sketches.hllEstimate`). */
  private[graft] def estimate(mj: IndexedSeq[Byte]): Double = {
    val present = mj.count(_ > 0)
    val zs = mj.map(m => if (m > 0) BigInt(1) << (61 - m) else BigInt(1) << 61).sum
    val raw = 0.7213 / (1.0 + 1.079 / 256.0) * 65536.0 *
      2305843009213693952.0 / BigDecimal(zs).toDouble
    val v0 = 256 - present
    val est = if (raw <= 640.0 && v0 > 0) 256.0 * math.log(256.0 / v0) else raw
    BigDecimal(est).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  private def updateGroup(
      eventType: String,
      events: Iterator[UserEvent],
      state: GroupState[Registers]): Iterator[Estimate] = {
    val mj = state.getOption.map(_.mj.toArray)
      .getOrElse(Array.fill[Byte](256)(0))
    events.foreach { e =>
      val (b, r) = register(e.userId)
      if (r > mj(b)) mj(b) = r
    }
    state.update(Registers(mj.toVector))
    Iterator.single(
      Estimate(eventType, mj.count(_ > 0), estimate(mj.toIndexedSeq)))
  }

  /** Update-mode estimate stream: one refreshed row per key per batch. */
  def distinctUsers(events: Dataset[UserEvent]): Dataset[Estimate] = {
    implicit val regEnc = Encoders.product[Registers]
    implicit val estEnc = Encoders.product[Estimate]
    events
      .groupByKey(_.eventType)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateGroup)
  }

  // ---- sliding-window HLL twin ------------------------------------------

  final case class HourEvent(eventType: String, hour: Long, userId: Long)

  /** Per-hour HLL registers as sorted parallel arrays (`hours(i)`'s 256
    * registers are `regs.slice(i*256, (i+1)*256)`); the hours are
    * sorted, so the serialized state is deterministic.
    *
    * State-size bound: 256 bytes per (key, hour) — the hour spine is
    * CALENDAR-bounded, so a year of hourly sketches is 8760 × 256 B
    * ≈ 2.2 MB per key regardless of row count or distinct cardinality;
    * that is the whole point of keeping mergeable per-hour blobs instead
    * of per-window user sets (which grow with the data). */
  final case class HourRegisters(hours: Vector[Long], regs: Vector[Byte])

  final case class SlidingEst(eventType: String, hour: Long, hllEst: Double)

  /** Absorb the batch into per-hour max-registers, then emit the
    * refreshed trailing-`windowHours` estimate for every hour whose
    * window the batch TOUCHED — an hour h's estimate can only change
    * when some source hour in [h-w+1, h] absorbed rows, so emission is
    * restricted to [min touched, max touched + w - 1] (re-emitting the
    * whole calendar spine per batch would be O(total-hours) work and
    * sink rows per micro-batch — quadratic over a long-running stream).
    * Each emitted estimate re-merges w of the 256-byte register sets,
    * exactly the batch operator's explicit-offset window re-merge
    * ([[graft.relational.Sketches.qHllSliding]]). Register merge is max
    * (commutative, idempotent), so any batch split or arrival order
    * lands on the identical registers, and the LAST emission per
    * (key, hour) equals the batch `hll_est` bit-for-bit (the suite pins
    * it — untouched windows keep their prior emission, which is already
    * final). */
  private def updateSliding(windowHours: Int)(
      eventType: String,
      events: Iterator[HourEvent],
      state: GroupState[HourRegisters]): Iterator[SlidingEst] = {
    val m = scala.collection.mutable.Map.empty[Long, Array[Byte]]
    state.getOption.foreach { s =>
      s.hours.zipWithIndex.foreach { case (h, i) =>
        m(h) = s.regs.slice(i * 256, (i + 1) * 256).toArray
      }
    }
    var tMin = Long.MaxValue
    var tMax = Long.MinValue
    events.foreach { e =>
      val mj = m.getOrElseUpdate(e.hour, Array.fill[Byte](256)(0))
      val (b, r) = register(e.userId)
      if (r > mj(b)) mj(b) = r
      if (e.hour < tMin) tMin = e.hour
      if (e.hour > tMax) tMax = e.hour
    }
    val hours = m.keys.toVector.sorted
    val touched =
      if (tMin > tMax) Vector.empty // empty batch: nothing changed
      else hours.filter(h => h >= tMin && h <= tMax + (windowHours - 1))
    val ests = touched.map { h =>
      val merged = Array.fill[Byte](256)(0)
      var o = 0
      while (o < windowHours) {
        m.get(h - o).foreach { mj =>
          var i = 0
          while (i < 256) {
            if (mj(i) > merged(i)) merged(i) = mj(i)
            i += 1
          }
        }
        o += 1
      }
      SlidingEst(eventType, h, estimate(merged.toIndexedSeq))
    }
    state.update(HourRegisters(hours, hours.flatMap(h => m(h).toVector)))
    ests.iterator
  }

  /** Update-mode trailing-window distinct estimates per (key, hour) —
    * the streaming twin of `q_hll_sliding`. */
  def slidingDistinct(
      events: Dataset[HourEvent], windowHours: Int = 3): Dataset[SlidingEst] = {
    implicit val stEnc = Encoders.product[HourRegisters]
    implicit val esEnc = Encoders.product[SlidingEst]
    events
      .groupByKey(_.eventType)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateSliding(windowHours))
  }

  // ---- KMV bottom-k quantile twin --------------------------------------

  final case class ValueRow(eventType: String, eventId: Long, cents: Long)
  final case class Bottom(rows: Vector[(String, Long, Long)]) // (hash, id, cents)
  final case class QuantileEst(eventType: String, nSample: Int,
      p50Est: Long, p95Est: Long)

  private[graft] def kmvHash(eventId: Long): String = {
    MessageDigest.getInstance("MD5")
      .digest(s"kmv:$eventId".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** Bottom-k state folded online: like the HLL registers, min-k of a
    * union is min-k of per-piece min-ks — ANY batch split or arrival
    * order converges to the batch sketch, and the rank-selected
    * estimates equal [[graft.relational.Sketches.qKmvQuantiles]]'
    * est columns exactly (StreamingSpec pins it). State is bounded at
    * k rows per key forever. */
  private def updateBottomK(k: Int)(
      eventType: String,
      events: Iterator[ValueRow],
      state: GroupState[Bottom]): Iterator[QuantileEst] = {
    var rows = state.getOption.map(_.rows).getOrElse(Vector.empty)
    events.foreach { e =>
      val entry = (kmvHash(e.eventId), e.eventId, e.cents)
      // warm-state fast path: once the sketch is full, the common case
      // is a hash at or past the current k-th — drop it without the
      // per-event distinct + full re-sort (state, and therefore every
      // downstream estimate, is unchanged: such an entry could never
      // enter the bottom-k anyway, and rows stays sorted so `last` IS
      // the max)
      val skip = rows.length == k && {
        val (mh, mid, _) = rows.last
        entry._1 > mh || (entry._1 == mh && entry._2 >= mid)
      }
      if (!skip)
        rows = (entry +: rows)
          .distinct.sortBy { case (h, id, _) => (h, id) }.take(k)
    }
    state.update(Bottom(rows))
    val cents = rows.map(_._3).sorted
    val n = cents.length
    def sel(num: Int, den: Int): Long = // smallest r with den*r >= num*n
      cents(((n * num + den - 1) / den) - 1)
    Iterator.single(QuantileEst(eventType, n, sel(1, 2), sel(19, 20)))
  }

  /** Update-mode per-key quantile estimates from bounded bottom-k state. */
  def quantiles(events: Dataset[ValueRow], k: Int = 256): Dataset[QuantileEst] = {
    implicit val stEnc = Encoders.product[Bottom]
    implicit val qEnc = Encoders.product[QuantileEst]
    events
      .groupByKey(_.eventType)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateBottomK(k))
  }

  // ---- dyadic count-min quantile twin -----------------------------------

  final case class DyadicState(counters: Map[Long, Long], n: Long)
  final case class DyadicEst(
      eventType: String, n: Long, p50Est: Long, p95Est: Long)

  private val DqLevels = 24
  private val DqRows = 3
  private val DqWidth = 512

  /** (i, j, bucket) packed into one map key. */
  private[graft] def dqKey(i: Int, j: Int, bucket: Long): Long =
    (i.toLong * DqLevels + j) * DqWidth + bucket

  private def dqEst(counters: Map[Long, Long], j: Int, nb: Long): Long = {
    var c = Long.MaxValue
    var i = 0
    while (i < DqRows) {
      val cnt = counters.getOrElse(dqKey(i, j,
        graft.relational.Sketches.md5BucketSlice(s"dq:$j:$nb", i, DqWidth)),
        0L)
      if (cnt < c) c = cnt
      i += 1
    }
    c
  }

  /** The batch operator's top-down trie walk
    * ([[graft.relational.Sketches.qDyadicQuantiles]]), on the streaming
    * counter state. */
  private[graft] def dqQuantile(
      counters: Map[Long, Long], target: Long): Long = {
    var v = 0L
    var r = 0L
    var j = DqLevels - 1
    while (j >= 0) {
      val c = dqEst(counters, j, v >> j)
      if (r + c < target) { v |= 1L << j; r += c }
      j -= 1
    }
    v
  }

  /** Dyadic count-min counters folded online: every update is a counter
    * INCREMENT, so like the HLL registers (max) and KMV bottom-k (min-k)
    * the state is an order-free function of the rows seen — any batch
    * split or arrival order lands on the byte-identical counter map, and
    * the per-batch estimates equal the batch operator's est columns
    * exactly (SketchQuantileSpec pins it). State is capped at
    * `d·levels·w` entries per key BY CONSTRUCTION (36,864 counters) no
    * matter how many rows or distinct values stream through — the
    * bounded-state property the residual-histogram conformal twin has
    * to bucket to get. */
  private def updateDyadic(
      eventType: String,
      events: Iterator[ValueRow],
      state: GroupState[DyadicState]): Iterator[DyadicEst] = {
    val s = state.getOption.getOrElse(DyadicState(Map.empty, 0L))
    var counters = s.counters
    var n = s.n
    val cap = (1L << DqLevels) - 1
    events.foreach { e =>
      val cents = math.min(e.cents, cap)
      var j = 0
      while (j < DqLevels) {
        val nb = cents >> j
        var i = 0
        while (i < DqRows) {
          val k = dqKey(i, j,
            graft.relational.Sketches.md5BucketSlice(s"dq:$j:$nb", i, DqWidth))
          counters = counters.updated(k, counters.getOrElse(k, 0L) + 1L)
          i += 1
        }
        j += 1
      }
      n += 1
    }
    state.update(DyadicState(counters, n))
    Iterator.single(DyadicEst(eventType, n,
      dqQuantile(counters, (n + 1) / 2),
      dqQuantile(counters, (19 * n + 19) / 20)))
  }

  /** Update-mode per-key dyadic-CM quantile estimates from the bounded
    * counter state — the unbounded-domain sibling of [[quantiles]]
    * (KMV needs distinct-heavy ids; this needs nothing). */
  def dyadicQuantiles(events: Dataset[ValueRow]): Dataset[DyadicEst] = {
    implicit val stEnc = Encoders.product[DyadicState]
    implicit val qEnc = Encoders.product[DyadicEst]
    events
      .groupByKey(_.eventType)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateDyadic)
  }

  // ---- space-saving heavy-hitters twin ---------------------------------

  final case class ItemRow(key: String, item: Long)
  /** (item, count, err) triples; count ≥ true frequency ≥ count − err. */
  final case class SsCounters(rows: Vector[(Long, Long, Long)])
  final case class HitterEst(key: String, item: Long, count: Long, err: Long)

  /** Space-saving (Metwally et al.) maintained online: `capacity`
    * counters per key; a miss on a full summary EVICTS the minimum
    * counter (item tiebreak) and inherits its count as the new item's
    * error bound. Streaming twin of the count-min heavy hitters
    * ([[graft.relational.Sketches.qHeavyHitters]]) with the complementary
    * trade: count-min never evicts but overcounts every item through
    * collisions; space-saving tracks exact counts for items that never
    * lose their counter and brackets the rest with a per-item `err`.
    *
    * Unlike the HLL/KMV twins the summary CONTENTS are arrival-order-
    * dependent (eviction is history-sensitive) — what the algorithm
    * GUARANTEES order-free, and what StreamingSpec pins under shuffled
    * feeds, is: (a) `count − err ≤ true ≤ count` for every surviving
    * item, and (b) every item with true frequency > n/capacity is IN
    * the summary. State is `capacity` triples per key forever. */
  private def updateSpaceSaving(capacity: Int)(
      key: String,
      events: Iterator[ItemRow],
      state: GroupState[SsCounters]): Iterator[HitterEst] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Long, (Long, Long)]
    state.getOption.foreach(_.rows.foreach { case (i, c, e) => m(i) = (c, e) })
    events.foreach { ev =>
      m.get(ev.item) match {
        case Some((c, e)) => m(ev.item) = (c + 1, e)
        case None if m.size < capacity => m(ev.item) = (1L, 0L)
        case None =>
          val (evicted, (minC, _)) = m.minBy { case (i, (c, _)) => (c, i) }
          m.remove(evicted)
          m(ev.item) = (minC + 1, minC)
      }
    }
    val rows = m.toVector.map { case (i, (c, e)) => (i, c, e) }
      .sortBy { case (i, c, e) => (-c, i, e) }
    state.update(SsCounters(rows))
    rows.iterator.map { case (i, c, e) => HitterEst(key, i, c, e) }
  }

  /** Update-mode per-key space-saving summaries (full summary per batch). */
  def heavyHitters(
      events: Dataset[ItemRow], capacity: Int = 16): Dataset[HitterEst] = {
    implicit val stEnc = Encoders.product[SsCounters]
    implicit val hhEnc = Encoders.product[HitterEst]
    events
      .groupByKey(_.key)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateSpaceSaving(capacity))
  }

  // ---- streaming split-conformal twin ----------------------------------

  final case class ResidRow(grp: String, half: Long, res: Long)
  final case class ConformalState(
      hist: Map[Long, Long], shift: Int,
      nCal: Long, nTest: Long, nCovered: Long)
  final case class ConformalEst(grp: String, nCal: Long, qhat: Long,
      nTest: Long, nCovered: Long)

  /** Residual-histogram bin cap: below it the state is the EXACT
    * distinct-value histogram (and the batch replay is exact, as the
    * suite pins); above it bins coarsen by doubling the grid width —
    * residuals round UP to the top of their 2^shift cell, so q̂ can only
    * move conservative (wider interval, coverage preserved) and state
    * stays ≤ cap bins per group forever. The cap is what the
    * dyadic-quantile twin gets for free from its fixed counter table. */
  private[graft] val ConformalMaxBins = 4096

  /** Round `res` up to the top of its 2^shift grid cell (identity at
    * shift 0; residuals are non-negative by construction — they are
    * absolute errors). */
  private def gridUp(res: Long, shift: Int): Long =
    res | ((1L << shift) - 1)

  /** Double the grid width until the histogram fits the bin cap. */
  private def coarsen(
      hist: Map[Long, Long], shift: Int): (Map[Long, Long], Int) = {
    var h = hist
    var s = shift
    while (h.size > ConformalMaxBins) {
      s += 1
      h = h.groupBy { case (v, _) => gridUp(v, s) }
        .map { case (v, g) => v -> g.values.sum }
    }
    (h, s)
  }

  /** The `ceil(0.9·(n+1))`-th smallest calibration residual from the
    * value histogram — the [[graft.relational.Inference.qConformal]]
    * quantile walk, on the streaming state. −1 while no calibration. */
  private[graft] def conformalQhat(
      hist: Map[Long, Long], nCal: Long): Long =
    if (nCal == 0) -1L
    else {
      val m = (9 * nCal + 18) / 10
      var cum = 0L
      var q = -1L
      val it = hist.toSeq.sortBy(_._1).iterator
      while (q == -1L && it.hasNext) {
        val (v, c) = it.next()
        cum += c
        if (cum >= m) q = v
      }
      q
    }

  /** Batch-prequential update: a micro-batch's CALIBRATION rows are
    * absorbed into the residual histogram first, then its TEST rows are
    * judged against the refreshed q̂ — order-free within the batch (the
    * group iterator is unordered; splitting by half first removes the
    * dependence). Test rows arriving before any calibration count as
    * uncovered — there is no interval to cover them yet. */
  private def updateConformal(
      grp: String,
      rows: Iterator[ResidRow],
      state: GroupState[ConformalState]): Iterator[ConformalEst] = {
    val s = state.getOption
      .getOrElse(ConformalState(Map.empty, 0, 0L, 0L, 0L))
    val (cal, test) = rows.toSeq.partition(_.half == 1L)
    val grown = cal.foldLeft(s.hist)((h, r) => {
      val v = gridUp(r.res, s.shift)
      h.updated(v, h.getOrElse(v, 0L) + 1L)
    })
    val (hist, shift) = coarsen(grown, s.shift)
    val nCal = s.nCal + cal.length
    val qhat = conformalQhat(hist, nCal)
    val covered = if (nCal == 0) 0L
      else test.count(_.res <= qhat).toLong
    val next = ConformalState(hist, shift, nCal,
      s.nTest + test.length, s.nCovered + covered)
    state.update(next)
    Iterator.single(
      ConformalEst(grp, next.nCal, qhat, next.nTest, next.nCovered))
  }

  /** Streaming split-conformal calibration — the [[quantiles]]-family
    * twin of the batch q_conformal: per group, a residual-value
    * histogram capped at [[ConformalMaxBins]] bins (exact below the cap,
    * conservatively grid-coarsened above it — a wide residual domain
    * must not grow state without limit) plus running prequential test
    * coverage. Feeding all calibration before any test replays the
    * batch operator exactly while the cap is not hit (pinned
    * in-suite). */
  def conformal(rows: Dataset[ResidRow]): Dataset[ConformalEst] = {
    implicit val stEnc = Encoders.product[ConformalState]
    implicit val esEnc = Encoders.product[ConformalEst]
    rows
      .groupByKey(_.grp)(Encoders.STRING)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(updateConformal)
  }
}
