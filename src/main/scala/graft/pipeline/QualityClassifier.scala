package graft.pipeline

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.relational.Tables.load

/** Model-based quality filtering — the fastText-style discriminative
  * selector (Joulin et al., "Bag of Tricks for Efficient Text
  * Classification"; the quality-filter use is the GPT-3/CCNet recipe):
  * train a linear classifier to separate a trusted REFERENCE slice from
  * the general corpus, then score every document and keep the
  * reference-like ones. Complements the pipeline's other selectors —
  * heuristic quality (rule thresholds), perplexity (generative LM), and
  * DSIR (n-gram importance reweighting) — with the one standard family
  * it lacked: a trained discriminative model.
  *
  * Everything is EXACT fixed-point integer arithmetic so the trained
  * weights — and therefore every score — replay bit-identically in any
  * engine (the q_dsir_weights discipline):
  *   - features: the hashing trick over tokens (md5 salted `qc:` per the
  *     repo's salt-every-hash-policy rule), signed counts, plus a bias
  *     feature at dim = `dims`;
  *   - model: logistic regression with the HARD sigmoid
  *     p = clamp(0, S, S/2 + z/4) — piecewise-linear, so no
  *     transcendental whose libm rounding could diverge across engines;
  *   - training: `epochs` rounds of full-batch gradient descent,
  *     gradient and step divisions truncating-toward-zero (the sign-safe
  *     CASE form in the oracle, native `div`/BigInt division here).
  *
  * Scale shape: the feature table is built once and cut (one
  * stateless explode + one map-side-combinable aggregation); each epoch
  * is two shuffles over it — a doc-keyed score aggregation and a
  * dim-keyed gradient aggregation whose output is `dims`+1 rows. The
  * model is a collected-kilobyte artifact re-broadcast per epoch (the
  * model-publishing shape); nothing corpus-sized ever reaches the
  * driver. Gradient sums accumulate in decimal(38,0): at 100 TB the
  * per-dim Σ err·x overflows a long at ~3e7 docs, the one place this
  * operator would silently diverge at scale.
  */
object QualityClassifier {

  /** Fixed-point scale for probabilities and weights (1e6 = 1.0). */
  val S: Long = 1000000L

  /** Sign-safe truncating division as a SQL fragment — Spark `div`
    * truncates toward zero but DuckDB `//` floors, and they disagree on
    * negative numerators; this CASE form is truncation in both. */
  private def sdiv(a: String, b: String): String =
    s"(CASE WHEN $a >= 0 THEN ($a) div $b ELSE -((-($a)) div $b) END)"

  /** Hashed signed token-count features + bias row per labeled doc.
    * `docs` needs (doc_id, text, y). */
  private def features(docs: DataFrame, dims: Int): DataFrame = {
    val h = md5(concat(lit("qc:"), col("tok")))
    val feats = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"),
        (conv(substring(h, 1, 2), 16, 10).cast("long") % dims).as("dim"),
        when(conv(substring(h, 3, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum("sign").as("x"))
    val bias = docs
      .select(col("doc_id"), lit(dims.toLong).as("dim"), lit(1L).as("x"))
    feats.unionAll(bias).join(docs.select("doc_id", "y"), "doc_id")
  }

  /** Train on labeled docs (doc_id, text, y∈{0,1}) and score every doc:
    * returns (doc_id, label, score_fp, keep) where score_fp is the
    * final fixed-point logit and keep = score_fp >= 0 (hard-sigmoid
    * probability >= 0.5). */
  def classify(
      spark: SparkSession, docs: DataFrame, dims: Int = 64,
      epochs: Int = 4): DataFrame = {
    // hash-partition the cut feature table by doc_id (r16, guide
    // §2.4: two operations keyed the same way share one exchange): every
    // epoch aggregates scores BY doc_id and joins the err table BACK on
    // doc_id, and `err` itself descends from that same aggregation — so
    // with xy resident in hash(doc_id) layout the per-epoch score
    // aggregation needs no exchange and the xy ⋈ err join is
    // co-partitioned on both sides, leaving ONE tiny exchange per epoch
    // (the 65-row dim-keyed gradient, map-side combined). The layout
    // costs one corpus-sized exchange at build time and is partitioning
    // only: every sum is exact integer/decimal arithmetic, so the
    // trained weights are bit-identical under any layout. The partition
    // count is explicit because a cut keeps a plain hash layout, not an
    // AQE-coalesced one.
    val xyCut = graft.Cut(features(docs, dims)
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id")))
    val xy = xyCut.df
    try {
      val n = BigInt(docs.count())
      var w: Map[Long, BigInt] =
        (0L to dims.toLong).map(_ -> BigInt(0)).toMap

      def weightsDf = spark.createDataFrame(
        w.toSeq.map { case (d, v) => (d, v.toLong) }
      ).toDF("dim", "w")

      def scores = xy
        .join(broadcast(weightsDf), "dim")
        .groupBy("doc_id")
        .agg(sum(col("x") * col("w")).as("z"), first(col("y")).as("y"))

      for (_ <- 1 to epochs) {
        // p = hard sigmoid, err = p - y·S; both bounded by S so the
        // per-row arithmetic never needs more than a long
        val err = scores.select(col("doc_id"),
          (expr(s"greatest(0L, least(${S}L, ${S / 2}L + ${sdiv("z", "4")}))")
            - col("y") * S).as("err"))
        // dim-keyed gradient sums in decimal(38,0): the collected model
        // artifact is dims+1 rows, kilobytes
        val grads = xy
          .join(err, "doc_id")
          .groupBy("dim")
          .agg(sum((col("err") * col("x")).cast("decimal(38,0)")).as("g"))
          .collect()
          .map(r => r.getLong(0) -> BigInt(r.getDecimal(1).toBigInteger))
          .toMap
        // BigInt / truncates toward zero — the same sign-safe contract
        w = w.map { case (d, wv) =>
          d -> (wv - grads.getOrElse(d, BigInt(0)) / n / 4)
        }
      }
      // materialize WHILE the feature table is resident: the returned
      // frame is the published model-scores artifact (doc-count rows),
      // and a lazy return would replay feature hashing + the final
      // score join on every consumer (v3 corpus build, calibration)
      graft.Cut(scores.select(col("doc_id"), col("y").as("label"),
        col("z").as("score_fp"), (col("z") >= 0).as("keep"))).df
    } finally xyCut.release()
  }

  /** The registered query: reference slice = sources src0..src4 (the
    * trusted-corpus stand-in), everything else negative. On the
    * synthetic corpus the token distribution carries no source signal,
    * so the trained model honestly predicts the majority class — the
    * SPEC proves learning on a separable fixture; the oracle proves the
    * training arithmetic bit-exactly either way. */
  /** One scored frame per (session, dir, dims, epochs): the trained
    * scores are the session's published classifier, shared by the
    * corpus-build capstone and the calibration census; training is the
    * operator being measured. */
  private val scoreCache =
    graft.SessionCache.frames[(String, Int, Int)](graft.SessionCache.Result)

  def qQualityClassifier(
      spark: SparkSession, dir: String, dims: Int = 64,
      epochs: Int = 4): DataFrame = {
    scoreCache.get(spark, (dir, dims, epochs)) {
      val docs = load(spark, dir, "documents")
        .select(col("doc_id"), col("text"),
          when(substring(col("source"), 4, 10).cast("int") < 5, 1L)
            .otherwise(0L).as("y"))
      classify(spark, docs, dims, epochs)
    }
  }

  /** Reliability diagram (calibration census) of the trained scorer:
    * predicted probability p = hard-sigmoid(z) in ppm, binned into 10
    * equal-width bins; per bin the mean predicted confidence vs the
    * observed positive rate, both as EXACT truncating-division ppm of
    * integer sums (p >= 0, so `div` and `//` agree), and their absolute
    * gap — the per-bin term of expected calibration error. A selection
    * pipeline reads this before trusting classifier thresholds: a
    * high-confidence bin whose observed rate disagrees is exactly where
    * a score cut silently mislabels. One map pass over the cached
    * scored frame + a 10-group aggregate. */
  /** Exact ROC AUC of the trained scorer against its training labels —
    * the threshold-free companion to [[qCalibration]]'s reliability
    * view: AUC = P(score⁺ > score⁻) + ½P(=), computed as the
    * Mann-Whitney U statistic over the SCORE HISTOGRAM in doubled
    * integer units (the [[graft.relational.EventQueries.qMannWhitney]]
    * algebra — 2U absorbs tie half-credit, everything stays exact).
    * The cumulative window runs over DISTINCT fixed-point scores, whose
    * cardinality is bounded by the score range (a dims/clamp constant),
    * not the corpus — the defended bounded-histogram posture of
    * qKsTest. Ships the integer 2U numerator as the hash anchor and
    * AUC in ppm. */
  def qAuc(
      spark: SparkSession, dir: String, dims: Int = 64,
      epochs: Int = 4): DataFrame = {
    val h = qQualityClassifier(spark, dir, dims, epochs)
      .groupBy("score_fp")
      .agg(sum(col("label")).as("np"),
        sum(lit(1L) - col("label")).as("nn"))
    val w = Window.orderBy("score_fp")
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("cumnn", coalesce(sum("nn").over(w), lit(0L)))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(expr("2 * cast(np as decimal(38,0)) * cumnn" +
          " + cast(np as decimal(38,0)) * nn")).as("u2"))
      .select(col("n_pos"), col("n_neg"),
        col("u2").cast("long").as("auc_x2"),
        expr("cast(u2 * 500000 div (cast(n_pos as decimal(38,0)) * n_neg)" +
          " as bigint)").as("auc_ppm"))
  }

  def qCalibration(
      spark: SparkSession, dir: String, dims: Int = 64,
      epochs: Int = 4): DataFrame =
    qQualityClassifier(spark, dir, dims, epochs)
      .select(col("label"),
        expr(s"greatest(0L, least(${S}L, ${S / 2}L + ${sdiv("score_fp", "4")}))")
          .as("p"))
      .select(col("label"), col("p"),
        least(lit(9), expr("p div 100000")).as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("p")).as("sp"), sum(col("label")).as("sy"))
      .select(col("bin"), col("n_docs"),
        expr("sp div n_docs").as("conf_ppm"),
        expr("(1000000 * sy) div n_docs").as("acc_ppm"),
        expr("abs(sp div n_docs - (1000000 * sy) div n_docs)").as("gap_ppm"))
}
