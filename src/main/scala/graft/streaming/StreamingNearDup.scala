package graft.streaming

import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.{DataFrame, Dataset}

import graft.similarity.HyperplaneLsh

/** Streaming INCREMENTAL near-dup ingest — the online twin of
  * [[graft.similarity.Similarity.qEmbeddingNearDupStrict]]'s banded
  * candidate generation: as embedding rows arrive, each is indexed into
  * its `tables × bands` LSH buckets (the state), compared exactly
  * against the bucket's residents, and every (earlier, later) pair
  * above the cosine threshold is emitted ONCE — the serving-side shape
  * of near-dedup, where a 100 TB index is standing state and each new
  * document pays only its own bucket probes instead of a corpus join.
  *
  * Exactly-once pair emission without a downstream dedup stage: a
  * colliding pair is seen by every bucket the two signatures share, so
  * each bucket recomputes the pair's FIRST matching (table, band) key
  * from the two signature vectors it already stores and emits only if
  * that key is itself — the stateful mirror of the batch side's
  * first-matching-band join predicate. Emission depends only on the
  * pair's two signature vectors, never on arrival order or batch
  * split, so the emitted SET equals the batch relation under ANY
  * split (spec-pinned), the [[StreamingSketch]] order-independence
  * discipline.
  *
  * State honesty: each resident is stored in all `tables × bands`
  * buckets (vector + signatures), so state is ~16× the corpus here. A
  * production index stores (id, signatures) per bucket and fetches
  * vectors from the serving store for the exact check; the 16× is the
  * price of keeping this operator self-contained, not of the shape. */
object StreamingNearDup {

  /** One incoming embedding row. */
  final case class VecIn(vecId: Long, embedding: Seq[Float])

  /** A row routed to one (table·band, bval) bucket, carrying everything
    * the exact check needs. */
  final case class BandedVec(
      tb: Int, bval: Long, vecId: Long, sigs: Seq[Long],
      embedding: Seq[Float], norm: Double)

  /** Bucket state: residents in arrival order. */
  final case class Bucket(rows: Seq[BandedVec])

  /** An emitted near-dup pair (d1 < d2 by id, sim rounded to 6). */
  final case class NearDupPair(d1: Long, d2: Long, sim: Double)

  /** LSH geometry: the batch door's, by reference — retuning one side
    * cannot silently desynchronize the twins. */
  val Tables: Int = graft.similarity.Similarity.StrictTables
  val BandsPerTable: Int = graft.similarity.Similarity.StrictBandsPerTable
  val BandBits: Int = graft.similarity.Similarity.StrictBandBits

  private[streaming] def signatures(v: Seq[Float]): Seq[Long] = {
    val ad = new GenericArrayData(v.toArray)
    (0 until Tables).map(t =>
      HyperplaneLsh.bucket(ad, 64, graft.similarity.Similarity.strictSeed(t)))
  }

  private def bandVal(sig: Long, b: Int): Long =
    (sig >> (b * BandBits)) & 0xffffL

  /** First matching (table·band) key of two signature vectors, or -1. */
  private[streaming] def firstMatch(sa: Seq[Long], sb: Seq[Long]): Int = {
    var t = 0
    while (t < Tables) {
      var b = 0
      while (b < BandsPerTable) {
        if (bandVal(sa(t), b) == bandVal(sb(t), b)) return t * BandsPerTable + b
        b += 1
      }
      t += 1
    }
    -1
  }

  /** Same arithmetic as the batch side: double-accumulated float dot,
    * norms precomputed, HALF_UP rounding to 6 decimals. */
  private def sim(a: BandedVec, b: BandedVec): Double = {
    var s = 0.0
    var i = 0
    while (i < a.embedding.length) {
      s += a.embedding(i).toDouble * b.embedding(i).toDouble
      i += 1
    }
    BigDecimal(s / (a.norm * b.norm))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** One bucket's batch: compare each ACCEPTED fresh row against the
    * residents, emit first-match pairs above threshold, and append the
    * accepted rows to the bucket. A re-delivered id (at-least-once
    * producer, re-ingested doc) is already indexed: storing it again
    * would re-emit its pairs on every later collision, breaking
    * exactly-once — so it is neither compared nor stored. */
  private def updateBucket(threshold: Double)(
      key: (Int, Long), rows: Iterator[BandedVec],
      state: GroupState[Bucket]): Iterator[NearDupPair] = {
    // deterministic within-batch order (the emitted SET is order-free;
    // this just makes transcripts reproducible)
    val fresh = rows.toSeq.sortBy(_.vecId)
    val out = Seq.newBuilder[NearDupPair]
    var residents = state.getOption.map(_.rows).getOrElse(Seq.empty)
    var residentIds = residents.map(_.vecId).toSet
    fresh.foreach { r =>
      if (!residentIds.contains(r.vecId)) {
        residents.foreach { s =>
          if (firstMatch(s.sigs, r.sigs) == key._1) {
            val (a, b) = if (s.vecId < r.vecId) (s, r) else (r, s)
            val c = sim(a, b)
            if (c > threshold) out += NearDupPair(a.vecId, b.vecId, c)
          }
        }
        residents = residents :+ r
        residentIds += r.vecId
      }
    }
    state.update(Bucket(residents))
    out.result().iterator
  }

  /** The streaming query: embedding rows → per-bucket incremental exact
    * near-dup pairs above `threshold` (append mode; one row per pair,
    * exactly once). Each vector is routed to its `tables × bands`
    * buckets, carrying the signatures and the norm the exact check
    * needs. */
  def pairs(in: Dataset[VecIn], threshold: Double): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    val banded = in.flatMap { v =>
      val sigs = signatures(v.embedding)
      var dot = 0.0
      v.embedding.foreach(x => dot += x.toDouble * x.toDouble)
      val norm = math.sqrt(dot)
      for {
        t <- 0 until Tables; b <- 0 until BandsPerTable
      } yield BandedVec(t * BandsPerTable + b, bandVal(sigs(t), b),
        v.vecId, sigs, v.embedding, norm)
    }
    banded
      .groupByKey(r => (r.tb, r.bval))
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(updateBucket(threshold))
      .toDF()
  }
}
