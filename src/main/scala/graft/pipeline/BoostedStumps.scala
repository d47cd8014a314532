package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.relational.Tables.load

/** Gradient-boosted depth-1 regression stumps over document features —
  * the model-based scoring primitive between the hand-rule heuristics
  * ([[graft.text.TextOps.qTextQuality]]) and the logistic classifier
  * ([[QualityClassifier]]): `rounds` rounds of "fit the best single
  * threshold split to the residuals, subtract the leaf means".
  *
  * Exact-integer training end-to-end, so the full model (and the
  * residual trajectory) replays bit-for-bit in DuckDB:
  *   - features f1 = token count, f2 = n_chars, f3 = stopword count;
  *     target y = distinct-token count in 10⁶ fixed point;
  *   - candidate thresholds are 7 fixed integer grid points per feature
  *     (`mn + (mx−mn)·i div 8` — data-derived but rank-free, constant
  *     across rounds since features never change);
  *   - split gain is the SSE reduction (S_L·n_R − S_R·n_L)²/(n_L·n_R),
  *     compared across candidates by BigInt cross-multiplication (no
  *     division ever enters the argmax), ties broken by (feature,
  *     threshold);
  *   - leaf values are truncating divisions S div n (Spark `div`,
  *     DuckDB `//`, Java `/` agree on negatives — the q_holt_winters
  *     contract).
  *
  * Scale shape (the [[QualityClassifier]] pattern): each round is ONE
  * map-side-combinable aggregation pass computing all 21 candidate
  * (count, sum) pairs as conditional aggregates — a single collected
  * row of kilobytes — plus one scalar |residual| pass; the argmax runs
  * driver-side on the 21-row census (the model-publish step), and the
  * residual update is a stateless broadcast-literal map. Nothing
  * corpus-sized ever leaves the executors. Headroom: |S·n| ≤ ~10¹⁹
  * needs corpora below ~10⁷ docs at this fixed-point scale — rescale
  * the target for more.
  */
object BoostedStumps {

  /** One fitted stump round. */
  final case class Stump(fe: String, th: Long, nl: Long, dl: Long,
      dr: Long, absResid: Long)

  /** The shared feature frame `(doc_id, f1, f2, f3, y)`. */
  private[pipeline] def featFrame(
      spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("f1"),
        col("n_chars").cast("long").as("f2"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .cast("long").as("f3"),
        (size(array_distinct(split(col("text"), " "))).cast("long")
          * 1000000L).as("y"))

  /** Full training run over `train` — the grid derives from the SAME
    * slice (a held-out fold never leaks its range into the grid). */
  private[pipeline] def train(
      spark: SparkSession, train: DataFrame, rounds: Int): Seq[Stump] = {
    import spark.implicits._
    val b = train.agg(
      min("f1"), max("f1"), min("f2"), max("f2"), min("f3"), max("f3"))
      .as[(Long, Long, Long, Long, Long, Long)].collect().head
    val grid = Seq(("f1", b._1, b._2), ("f2", b._3, b._4),
      ("f3", b._5, b._6))
    val cands = for {
      (fe, mn, mx) <- grid; i <- 1 to 7
    } yield (fe, mn + (mx - mn) * i / 8)
    var cur = train.withColumn("r", col("y"))
    val out = scala.collection.mutable.Buffer[Stump]()
    var exhausted = false
    for (_ <- 1 to rounds if !exhausted) {
      val aggs = cands.flatMap { case (fe, th) =>
        Seq(
          sum(when(col(fe) <= th, 1L).otherwise(0L))
            .as(s"n_${fe}_$th"),
          sum(when(col(fe) <= th, col("r")).otherwise(0L))
            .as(s"s_${fe}_$th"))
      } ++ Seq(count(lit(1)).as("n_all"), sum("r").as("s_all"))
      val row = cur.agg(aggs.head, aggs.tail: _*).collect().head
      val nAll = row.getAs[Long]("n_all")
      val sAll = row.getAs[Long]("s_all")
      val splits = cands.flatMap { case (fe, th) =>
        val nl = row.getAs[Long](s"n_${fe}_$th")
        val sl = row.getAs[Long](s"s_${fe}_$th")
        if (nl == 0 || nl == nAll) None
        else {
          val (nr, sr) = (nAll - nl, sAll - sl)
          val num = BigInt(sl) * nr - BigInt(sr) * nl
          Some((fe, th, nl, sl, nr, sr, num * num, BigInt(nl) * nr))
        }
      }
      // every grid candidate degenerate (constant features, or a CV
      // training slice too small to straddle any threshold): there is
      // no split to make — stop boosting instead of reduceLeft-throwing
      if (splits.isEmpty) exhausted = true
      else {
        val best = splits.reduceLeft { (a, c) =>
          // a beats c iff gain(a) > gain(c), tiebreak (feature, th) asc
          val cmp = a._7 * c._8 - c._7 * a._8
          if (cmp > 0 || (cmp == 0 &&
            (a._1 < c._1 || (a._1 == c._1 && a._2 <= c._2)))) a
          else c
        }
        val (fe, th, nl, sl, _, sr, _, _) = best
        val (dl, dr) = (sl / nl, sr / (nAll - nl))
        cur = cur.withColumn("r",
          col("r") - when(col(fe) <= th, dl).otherwise(dr))
        val absResid = cur.agg(sum(abs(col("r")))).as[Long].collect().head
        out += Stump(fe, th, nl, dl, dr, absResid)
      }
    }
    out.toSeq
  }

  /** Sum of leaf contributions — the model's prediction column (a
    * zero-stump model predicts 0, the boosting identity). */
  private[pipeline] def predict(model: Seq[Stump]): Column =
    model.map(m => when(col(m.fe) <= m.th, m.dl).otherwise(m.dr))
      .foldLeft(lit(0L))(_ + _)

  def qBoostedStumps(
      spark: SparkSession, dir: String, rounds: Int = 3): DataFrame = {
    val feats = graft.Cut(featFrame(spark, dir))
    try {
      val model = train(spark, feats.df, rounds)
      spark.createDataFrame(model.zipWithIndex.map { case (m, i) =>
        (i + 1L, m.fe, m.th, m.nl, m.dl, m.dr, m.absResid)
      }).toDF(
        "step", "feature", "threshold", "n_left", "left_fp", "right_fp",
        "abs_resid")
    } finally feats.release()
  }

  /** k-fold cross-validation of the stump model — the "does the quality
    * scorer generalize" census a pipeline checks before gating a corpus
    * on model output: per fold, train on `doc_id % folds ≠ f` (the grid
    * re-derived from the training slice only — no leakage), score the
    * held-out fold, and report the exact mean-absolute-error census.
    *
    * Scale shape: folds × the [[train]] pass structure (each a handful
    * of kilobyte-collect aggregations), plus one held-out census pass
    * per fold — all map-side combinable; the per-fold model ships back
    * as a broadcast literal. Folds are INDEPENDENT read-only consumers
    * of the cut feature table, so they are submitted
    * CONCURRENTLY (guide §2.6: overlap independent jobs so the next
    * fold's tasks back-fill executors idled by the current fold's
    * kilobyte-collect barriers) — r15 measured the sequential loop at
    * ~35 driver round-trips of ~90 ms each with the cluster idle
    * between them. Each fold's computation (and so the census) is
    * bit-identical to the sequential order; only the submission
    * overlaps. */
  def qStumpCrossval(
      spark: SparkSession, dir: String,
      folds: Int = 5, rounds: Int = 2): DataFrame = {
    import spark.implicits._
    val cut = graft.Cut(featFrame(spark, dir))
    val feats = cut.df
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(folds, 4))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val out = scala.concurrent.Await.result(
        scala.concurrent.Future.sequence((0 until folds).map { f =>
          scala.concurrent.Future {
            val tr = feats.filter(col("doc_id") % folds =!= f)
            val model = train(spark, tr, rounds)
            val nTrain = tr.count()
            val (nTest, sumAbsErr) = feats
              .filter(col("doc_id") % folds === f)
              .agg(count(lit(1)).cast("long"),
                coalesce(sum(abs(col("y") - predict(model))), lit(0L)))
              .as[(Long, Long)].collect().head
            // a fold can hold zero docs (n_docs < folds, sparse doc_id
            // space): report it as an empty census, not a division error
            val mae = if (nTest == 0) 0L else sumAbsErr / nTest
            (f.toLong, nTrain, nTest, sumAbsErr, mae)
          }
        }), scala.concurrent.duration.Duration.Inf)
      spark.createDataFrame(out)
        .toDF("fold", "n_train", "n_test", "sum_abs_err", "mae_fp")
    } finally {
      pool.shutdown()
      cut.release()
    }
  }
}
