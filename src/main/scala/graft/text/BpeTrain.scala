package graft.text

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A word type mid-training: its current symbol sequence and corpus
  * frequency. Top-level (not nested) so the generated encoder code can
  * reach the constructor. */
private[text] case class BpeType(syms: Seq[String], freq: Long)

/** One learned merge: rank = order learned, `left + right → left+right`,
  * `pairFreq` = the weighted pair count that won the round. */
case class BpeMerge(rank: Int, left: String, right: String, pairFreq: Long)

/** BPE TRAINING — learning the merge table [[BpeVocab]]-style inference
  * consumes, as a Spark operator (Sennrich et al., "Neural Machine
  * Translation of Rare Words with Subword Units"). Not SQL-expressible
  * (each round's argmax feeds the next round's tokenization), so it is
  * verified by an independent in-memory reference implementation in
  * BpeTrainSpec rather than a DuckDB oracle.
  *
  * Scale shape — the point of doing this on Spark: BPE training's working
  * set is the word-TYPE table (distinct words weighted by frequency),
  * which grows ~O(corpus^0.5) (Heaps' law), not with the corpus. So the
  * 100 TB corpus is touched EXACTLY ONCE, by a map-side-combinable word
  * count; the k merge rounds then run over the types relation, each round
  * one pair-count aggregation (map-side combinable, keyed by symbol pair)
  * plus one argmax and one symbol-rewrite map. Mirroring
  * [[graft.pipeline.TrainingData]]'s component solve, a types table under
  * `localSolveMax` is pulled to the driver and solved in memory — at real
  * vocabulary sizes (10⁵–10⁶ types) that is the common case, and the
  * distributed loop stays the spill-safe path for pathological corpora.
  */
object BpeTrain {

  /** Below this many word types the merge loop runs on the driver — the
    * same size-gated strategy switch AQE applies to joins. 2M types ×
    * ~100 B is ~200 MB: comfortable driver memory, milliseconds per
    * round vs a Spark job per round. */
  private val LocalSolveMaxTypes = 2L << 20

  /** Learn `numMerges` merges from the corpus behind `docs(textCol)`.
    * Deterministic: ties on pair frequency break to the lexicographically
    * smallest (left, right), so identical corpora learn identical tables
    * on any cluster. Stops early when no pair repeats (pairFreq < 2 —
    * merging a singleton pair compresses nothing). */
  def learnMerges(
      docs: DataFrame, textCol: String, numMerges: Int): Seq[BpeMerge] =
    learnMergesImpl(docs, textCol, numMerges, LocalSolveMaxTypes)

  /** `localSolveMax = 0` forces the distributed loop — BpeTrainSpec pins
    * local/distributed parity with it (the convergence-test discipline of
    * `connectedComponentsWithRounds`). */
  private[text] def learnMergesImpl(
      docs: DataFrame, textCol: String, numMerges: Int,
      localSolveMax: Long): Seq[BpeMerge] = {
    require(numMerges >= 1, "numMerges must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    // THE corpus pass: word-type frequencies, one map-side-combinable
    // aggregation; everything after runs on the (small) types relation
    val types = graft.Cut(docs
      .select(explode(split(col(textCol), " ", -1)).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("freq"))
      .as[(String, Long)]
      .map { case (w, f) =>
        BpeType(w.codePoints().toArray.toSeq.map(Character.toString), f)
      }
      .toDF())
    try {
      if (types.rows <= localSolveMax)
        localSolve(types.df.as[BpeType].collect(), numMerges)
      else distributedSolve(types, numMerges)
    } finally types.release()
  }

  /** Lexicographic order on UTF-8 bytes (unsigned) — identical to BOTH
    * codepoint order and Spark's `UTF8String` binary order, so the local
    * and distributed argmax break frequency ties identically even on
    * supplementary-plane symbols. Java `String.compareTo` is UTF-16
    * code-unit order, which sorts a surrogate-pair emoji BELOW U+E000..
    * U+FFFF characters and would make the two paths learn different
    * tables (pinned by the supplementary-plane BpeTrainSpec case). */
  private[text] def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val n = math.min(x.length, y.length)
    var i = 0
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** The merge loop over an in-memory types table. Pair counting per
    * round is proportional to total symbols across types — the same work
    * the distributed loop shuffles, without the per-round job. */
  private def localSolve(
      types0: Array[BpeType], numMerges: Int): Seq[BpeMerge] = {
    var types = types0
    val merges = Seq.newBuilder[BpeMerge]
    var rank = 0
    var done = false
    while (rank < numMerges && !done) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      types.foreach { t =>
        var i = 0
        while (i < t.syms.length - 1) {
          val k = (t.syms(i), t.syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + t.freq)
          i += 1
        }
      }
      def beats(p: ((String, String), Long), q: ((String, String), Long)): Boolean =
        if (p._2 != q._2) p._2 > q._2
        else if (p._1._1 != q._1._1) utf8Lt(p._1._1, q._1._1)
        else utf8Lt(p._1._2, q._1._2)
      val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
        case (None, kv) => Some(kv)
        case (Some(acc), kv) => Some(if (beats(kv, acc)) kv else acc)
      }
      best match {
        case Some(((a, b), f)) if f >= 2 =>
          merges += BpeMerge(rank, a, b, f)
          types = types.map(t => t.copy(syms = mergePair(t.syms, a, b)))
          rank += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** One Spark job per round: pair-count aggregation (map-side
    * combinable), driver argmax on its tiny result, symbol rewrite map.
    * Each round's types are cut and the previous round's cut released —
    * the lineage-truncation discipline of the cluster fixpoint loop. A
    * round with no repeated pair learns nothing and returns its input,
    * which stops the loop. */
  private def distributedSolve(
      types0: graft.Cut, numMerges: Int): Seq[BpeMerge] = {
    val spark = types0.df.sparkSession
    import spark.implicits._
    val merges = Seq.newBuilder[BpeMerge]
    graft.Cut.iterate(types0, numMerges) { (types, round) =>
      val best = types.df.as[BpeType]
        .flatMap(t => t.syms.sliding(2).collect {
          case Seq(a, b) => (a, b, t.freq)
        })
        .toDF("a", "b", "freq")
        .groupBy("a", "b").agg(sum("freq").as("f"))
        .orderBy(desc("f"), asc("a"), asc("b"))
        .limit(1)
        .as[(String, String, Long)]
        .collect().headOption
      best match {
        case Some((a, b, f)) if f >= 2 =>
          merges += BpeMerge(round - 1, a, b, f)
          graft.Cut(types.df.as[BpeType]
            .map(t => t.copy(syms = mergePair(t.syms, a, b))).toDF())
        case _ => types
      }
    }(_ eq _)._1.release()
    merges.result()
  }

  /** Apply one merge left-to-right, non-overlapping — the classic BPE
    * rewrite: `a b c` under merge (a,b) → `ab c`; `a a a` under (a,a) →
    * `aa a` (the leftmost pair wins, the merged token does not re-pair
    * with the symbol it just consumed within the same pass). */
  private[text] def mergePair(
      syms: Seq[String], a: String, b: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
        out += a + b
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.result()
  }

  /** Driver-contract query: the top-16 merges learned from the corpus,
    * as a relation (rank, left, right, merged, pair_freq). Deterministic
    * for a fixed corpus; rows-only checked (the iterative argmax is not
    * SQL-expressible — see object scaladoc). */
  def qBpeLearn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.relational.Tables.load(spark, dir, "documents")
    learnMerges(docs, "text", numMerges = 16)
      .map(m => (m.rank, m.left, m.right, m.left + m.right, m.pairFreq))
      .toDF("rank", "left", "right", "merged", "pair_freq")
  }
}
