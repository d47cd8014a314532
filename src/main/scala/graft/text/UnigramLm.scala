package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** A word type during unigram-LM training: the word and its corpus
  * frequency (top-level for encoder codegen, like [[BpeType]]). */
private[text] case class UniType(w: String, freq: Long)

/** UNIGRAM-LM TOKENIZER TRAINING (Kudo, "Subword Regularization";
  * the SentencePiece unigram model) — the OTHER major subword family
  * next to [[BpeTrain]]'s merge learning: instead of growing pieces
  * bottom-up by pair merging, seed a large candidate inventory and fit
  * piece log-probabilities by Viterbi-EM, segmenting each word into its
  * maximum-likelihood piece sequence.
  *
  * Like BPE training, the per-round argmax (here: the per-word Viterbi
  * lattice best path) feeds the next round's statistics, so the operator
  * is not SQL-expressible and is verified by an independent in-memory
  * reference (UnigramLmSpec enumerates ALL 2^(L-1) segmentations per
  * word and applies the documented total order — a stronger check than
  * replaying the same DP) plus a local == forced-distributed parity pin,
  * the q_bpe_learn discipline.
  *
  * Scale shape — identical to BPE training, and the reason both belong
  * on Spark: the corpus is touched ONCE by a map-side-combinable word
  * count; everything after runs on the Heaps-bounded word-TYPE table.
  * Each EM round is one flatMap (per-type Viterbi over a BROADCAST
  * piece-score map — vocab-sized, kilobytes) plus one piece-count
  * aggregation whose result is vocab-bounded, so the collect is
  * constant-size no matter the corpus. Types tables under
  * [[LocalSolveMaxTypes]] solve on the driver (the size-gated strategy
  * switch [[BpeTrain]] and TrainingData use).
  *
  * Determinism contract: seed selection orders by (weight desc, piece
  * UTF-8 asc); scores are FIXED-POINT `round(1e6 · ln(cnt/total))`
  * computed with StrictMath.log (bit-identical on every JVM, unlike
  * Math.log's 1-ulp license); the Viterbi total order is (score desc,
  * piece count asc, then piece-length sequence compared from the LAST
  * piece backwards, longer first). Identical corpora learn identical
  * models on any cluster. */
object UnigramLm {

  /** Longest candidate piece (substring) considered at seeding. */
  val MaxPieceLen: Int = 4

  /** Multi-character seed inventory size (single characters are always
    * kept besides, so every word stays segmentable). */
  val SeedMultiPieces: Int = 48

  /** Fixed EM rounds. Fixed rather than convergence-tested so the
    * operator's cost is a contract (k corpus-free rounds over the type
    * table), the same dial BPE's `numMerges` is. */
  val EmRounds: Int = 3

  /** Same driver-solve gate as [[BpeTrain]]: under this many word types
    * the EM loop runs in memory; above it, the distributed twin. */
  private val LocalSolveMaxTypes = 2L << 20

  /** Fixed-point log-probability: `round(1e6 · ln(cnt/total))`.
    * StrictMath for cross-JVM bit-identity. */
  private[text] def scoreFp(cnt: Long, total: Long): Long =
    math.round(1e6 * StrictMath.log(cnt.toDouble / total.toDouble))

  /** Viterbi-best segmentation of `w` under `scores`, with the
    * documented total order: maximize summed score; tie → fewer pieces;
    * tie → longer pieces from the END backwards (backLen comparison at
    * each DP node composes to exactly that global order, because equal
    * backLen implies the same — already optimal — prefix). Returns null
    * only if some character of `w` is absent from `scores` (the trainer
    * never lets that happen; the encoder surfaces it as a require). */
  private[text] def segment(
      w: String, scores: scala.collection.Map[String, Long]): Seq[String] = {
    val n = w.length
    val best = new Array[Long](n + 1)
    val pieces = new Array[Int](n + 1)
    val back = new Array[Int](n + 1)
    val reach = new Array[Boolean](n + 1)
    reach(0) = true
    var j = 1
    while (j <= n) {
      var l = 1
      val maxL = math.min(j, MaxPieceLen)
      while (l <= maxL) {
        val i = j - l
        if (reach(i)) {
          scores.get(w.substring(i, j)) match {
            case Some(s) =>
              val cs = best(i) + s
              val cp = pieces(i) + 1
              val better = !reach(j) ||
                cs > best(j) ||
                (cs == best(j) && (cp < pieces(j) ||
                  (cp == pieces(j) && l > back(j))))
              if (better) {
                reach(j) = true; best(j) = cs; pieces(j) = cp; back(j) = l
              }
            case None =>
          }
        }
        l += 1
      }
      j += 1
    }
    if (!reach(n)) return null
    var out = List.empty[String]
    var k = n
    while (k > 0) { out ::= w.substring(k - back(k), k); k -= back(k) }
    out
  }

  /** The learned model: piece → (final Viterbi count, fixed-point score),
    * in deterministic (piece UTF-8) order. */
  def learn(docs: DataFrame, textCol: String): Seq[(String, Long, Long)] =
    learnImpl(docs, textCol, LocalSolveMaxTypes)

  /** `localSolveMax = 0` forces the distributed loop (parity pin). */
  private[text] def learnImpl(
      docs: DataFrame, textCol: String,
      localSolveMax: Long): Seq[(String, Long, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // THE corpus pass (see scaladoc): word-type frequencies
    val cut = graft.Cut(docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)].map { case (w, f) => UniType(w, f) }
      .toDF())
    try {
      val types = cut.df.as[UniType]
      if (cut.rows <= localSolveMax) solve(types.collect().toSeq, collectLocal)
      else solve(types, collectDistributed)
    } finally cut.release()
  }

  /** Seed + EM over either representation of the types table; `agg`
    * abstracts the ONE distributed-vs-local difference (weighted
    * piece-count aggregation), so parity is structural. */
  private def solve[T](
      types: T, agg: (T, Option[scala.collection.Map[String, Long]])
        => Map[String, Long]): Seq[(String, Long, Long)] = {
    // seed: overlapping substring weights (None = no model: count raw
    // substrings), then top-SeedMultiPieces multi-char by (weight desc,
    // piece utf8 asc) + every single char
    val subCnt = agg(types, None)
    val chars = subCnt.keysIterator.filter(_.length == 1).toSeq
    val multi = subCnt.iterator.filter(_._1.length > 1).toSeq
      .sortWith { case ((p1, w1), (p2, w2)) =>
        if (w1 != w2) w1 > w2 else BpeTrain.utf8Lt(p1, p2)
      }
      .take(SeedMultiPieces).map(_._1)
    var cnt: Map[String, Long] =
      (chars ++ multi).map(p => p -> subCnt(p)).toMap
    var round = 0
    while (round <= EmRounds) {
      val total = cnt.valuesIterator.sum
      val scores = cnt.map { case (p, c) => (p, scoreFp(c, total)) }
      if (round == EmRounds)
        return scores.toSeq
          .map { case (p, s) => (p, cnt(p), s) }
          .sortWith((a, b) => BpeTrain.utf8Lt(a._1, b._1))
      // E-step (Viterbi counts) + M-step prune: multi-char pieces the
      // best paths never use drop out; single chars stay segmentable
      // with a count floor of 1
      val vit = agg(types, Some(scores))
      cnt = cnt.collect {
        case (p, _) if p.length == 1 => p -> math.max(vit.getOrElse(p, 0L), 1L)
        case (p, _) if vit.getOrElse(p, 0L) > 0 => p -> vit(p)
      }
      round += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Overlapping substrings of `w` up to [[MaxPieceLen]]. */
  private def substrings(w: String): Iterator[String] =
    for {
      i <- (0 until w.length).iterator
      l <- (1 to math.min(MaxPieceLen, w.length - i)).iterator
    } yield w.substring(i, i + l)

  /** Weighted piece counts, in memory: raw substring weights when no
    * model is given, Viterbi-path counts under the model otherwise. */
  private def collectLocal(
      types: Seq[UniType],
      model: Option[scala.collection.Map[String, Long]]): Map[String, Long] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Long]
    types.foreach { t =>
      val ps = model match {
        case None => substrings(t.w)
        case Some(m) => segment(t.w, m).iterator
      }
      ps.foreach(p => acc.update(p, acc.getOrElse(p, 0L) + t.freq))
    }
    acc.toMap
  }

  /** The distributed twin: one flatMap + map-side-combinable groupBy per
    * round; the result is vocab-bounded, so the collect is tiny. The
    * model rides the closure (kilobytes — piece strings + longs). */
  private def collectDistributed(
      types: Dataset[UniType],
      model: Option[scala.collection.Map[String, Long]]): Map[String, Long] = {
    val spark = types.sparkSession
    import spark.implicits._
    val m = model.map(mm => scala.collection.Map(mm.toSeq: _*))
    types
      .flatMap { t =>
        val ps = m match {
          case None => substrings(t.w).toSeq
          case Some(mm) => segment(t.w, mm)
        }
        ps.map(p => (p, t.freq))
      }
      .toDF("p", "freq")
      .groupBy("p").agg(sum("freq").as("c"))
      .as[(String, Long)]
      .collect().toMap
  }

  /** Tokens of `text` under a learned model (whitespace pre-split, then
    * per-word Viterbi) — the inference door the spec drives. */
  def encode(text: String, model: Seq[(String, Long, Long)]): Seq[String] = {
    val scores = model.map { case (p, _, s) => (p, s) }.toMap
    text.split(" ", -1).iterator.filter(_.nonEmpty).flatMap { w =>
      val seg = segment(w, scores)
      require(seg != null, s"unsegmentable word under model: $w")
      seg
    }.toSeq
  }

  /** Driver-contract query: the learned unigram-LM vocabulary as a
    * relation (piece, cnt, score_fp). Deterministic for a fixed corpus;
    * rows-only checked (iterative argmax — see object scaladoc). */
  def qUnigramLm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.relational.Tables.load(spark, dir, "documents")
    learn(docs, "text").toDF("piece", "cnt", "score_fp")
  }
}
