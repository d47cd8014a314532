package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.EqualTo
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.functions._

/** Coverage gate for the bench's sf1 scale-sentinel list — the
  * q_edit_distance lesson institutionalized.
  *
  * That query hid a real 66× cliff at 10× data while costing 0.57 s at
  * sf0.1: cheap enough to never enter the cost-ranked top-20, shaped
  * exactly like the queries that cliff (a join over DERIVED candidate
  * keys, where data distribution — not plan structure — decides the
  * fan-in). The sentinel list exists so such shapes get a measured 10×
  * point every round; this spec makes the list's COVERAGE a contract
  * instead of a memory: every registry query whose analyzed plan
  * contains a candidate join (a join fed by an explode, or a pure
  * theta join with no equality predicate) must either be in
  * [[graft.Bench.scaleSentinels]] or on the audited allowlist below,
  * with the family sentinel named. A new candidate-join query fails
  * here until someone decides — and writes down — which sentinel
  * prices its shape.
  */
class ScaleSentinelSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  /** True when the analyzed plan (subqueries included) contains a Join
    * that is candidate-shaped — the shape whose output size is a DATA
    * property the optimizer cannot bound, which is where 10×-data
    * cliffs hide. Flagged when NEITHER side is provably ≤ 1 row
    * (scalar normalizer/total joins are pointwise, not pairing) AND
    * either (a) the join has no equality predicate at all (theta /
    * cross: the all-pairs shape), or (b) an explode/Generate feeds
    * BOTH sides (a derived-key × derived-key bucket join: bands,
    * shingles, cells, spans — per-bucket fan-in is set by collision
    * statistics, not schema). One-sided explodes against a stored
    * relation are deliberately NOT flagged: their fan-in is bounded by
    * the stored side's key multiplicity, a schema property the other
    * suites already pin. The plan is read through its lineage cuts
    * ([[graft.Cut.lineage]]): a join inside a cut artifact's build, or
    * a key an explode derived before the cut, counts as the query's. */
  private def candidateJoinTags(df: DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{
      Alias, And, EqualNullSafe, Expression}
    val nodes = graft.Cut.lineage(df.queryExecution.analyzed)
      .flatMap(_.collectWithSubqueries { case n => n })
    // taint: attribute ids produced by a Generate (explode/posexplode)
    // plus everything aliased from them, to a fixed point — "derived
    // candidate key" means the join key traces back to a generator
    var tainted = nodes.collect {
      case g: logical.Generate => g.generatorOutput.map(_.exprId.id)
    }.flatten.toSet
    var changed = true
    while (changed) {
      changed = false
      for (n <- nodes; e <- n.expressions) e.foreach {
        case a: Alias
            if !tainted(a.exprId.id) &&
              a.references.exists(r => tainted(r.exprId.id)) =>
          tainted += a.exprId.id; changed = true
        case _ => ()
      }
    }
    def conjuncts(c: Expression): Seq[Expression] = c match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case e => Seq(e)
    }
    def scalarish(p: logical.LogicalPlan): Boolean =
      p.maxRows.exists(_ <= 1)
    // histogram/normalizer sides (aggregate-derived): the codebase's
    // documented bounded-census pattern — a theta/cross against one is
    // pointwise enrichment, not pairing
    def censusish(p: logical.LogicalPlan): Boolean =
      p.exists { case _: logical.Aggregate => true; case _ => false }
    nodes.collect { case j: logical.Join => j }.flatMap { j =>
      if (scalarish(j.left) || scalarish(j.right)) None
      else {
        val cs = j.condition.toSeq.flatMap(conjuncts)
        val eqKeys = cs.collect {
          case e: EqualTo => Seq(e.left, e.right)
          case e: EqualNullSafe => Seq(e.left, e.right)
        }.flatten
        if (eqKeys.isEmpty) {
          // no equi key at all: the all-pairs shape — unless one side
          // is a bounded census/normalizer
          if (censusish(j.left) || censusish(j.right)) None
          else Some(s"theta[${j.joinType}](${j.condition.map(_.sql)
            .getOrElse("cross")})".take(110))
        } else {
          val cand = eqKeys.filter(_.references.exists(r =>
            tainted(r.exprId.id)))
          if (cand.isEmpty) None
          else Some(s"candKey[${j.joinType}](${cand.map(_.sql).distinct
            .mkString(", ")})".take(110))
        }
      }
    }
  }

  private def hasCandidateJoin(df: DataFrame): Boolean =
    candidateJoinTags(df).nonEmpty

  test("detector self-test: explode-fed joins and theta joins are seen") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // explode-fed equi-join: the banded-candidate shape
    val spans = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val byTok = spans.groupBy("tok").agg(count(lit(1)).as("n"))
    assert(hasCandidateJoin(spans.join(byTok, "tok")))
    // pure theta join: the all-pairs shape
    val l = docs.select(col("doc_id").as("a"))
    val r = docs.select(col("doc_id").as("b"))
    assert(hasCandidateJoin(l.join(r, col("a") < col("b"))))
    // a plain attribute equi-join is NOT candidate-shaped
    val dim = docs.select(col("lang")).distinct()
    assert(!hasCandidateJoin(docs.join(dim, "lang")))
    // a scalar-normalizer theta join is pointwise, not pairing
    val tot = docs.agg(count(lit(1)).as("n"))
    assert(!hasCandidateJoin(docs.join(tot, col("doc_id") <= col("n"))))
    // a one-sided explode against a stored relation is key-bounded
    assert(!hasCandidateJoin(spans.join(docs.select("doc_id"), "doc_id")))
  }

  test("every candidate-join registry query has a scale sentinel or audit") {
    // Audited non-sentinel candidate-join queries (r12 audit, written
    // against the detector's printed tag for each). Each entry names
    // the SENTINEL that prices its shape (same generator family + join
    // key) or the bound that caps its fan-in.
    val allow = Map(
      // -- banded/shingle dedup family: (band|bucket|sh|span) candidate
      // equi-joins, priced by the q_minhash_lsh / q_setsim_join /
      // q_simhash sentinels (measured 3.8-4.8x at sf1, r11) --
      "q_dedup_sql" -> "q_minhash_lsh (SQL door, same bands)",
      "q_simhash_sql" -> "q_simhash (SQL door)",
      "q_minhash_eval" -> "q_minhash_lsh (signature-vs-exact eval join)",
      "q_ngram_jaccard" -> "q_setsim_join (sh equi-join, df-capped)",
      "q_ngram_jaccard_sql" -> "q_setsim_join (SQL door)",
      "q_ngram_novelty" -> "q_setsim_join (sh inverted index)",
      "q_weighted_jaccard" -> "q_setsim_join (sh equi-join)",
      "q_containment" -> "q_setsim_join (prefix-filtered sh join)",
      "q_substr_dedup" -> "q_edit_distance (gram-blocked candidates)",
      "q_dup_passages" -> "q_corpus_build (span inverted index; in v4+ funnels)",
      "q_decontaminate" -> "q_corpus_build (sh semijoin vs eval split)",
      "q_phrase_search" -> "bounded: (doc_id, pos) key — fan-in 1 per position",
      // -- corpus funnels: doc_id-keyed anti/semi joins vs derived
      // loser/winner lists (fan-in 1 per doc), priced by q_corpus_build --
      "q_corpus_build_exact" -> "q_corpus_build (same anti-join funnel)",
      "q_corpus_build_v2" -> "q_corpus_build",
      "q_corpus_build_v3" -> "q_corpus_build (+dim-bounded model join)",
      "q_corpus_build_v4" -> "q_corpus_build (measured 24s->? sf1 leg r11)",
      "q_corpus_build_v5" -> "q_corpus_build (measured sf1 leg r11)",
      "q_quality_ensemble" -> "q_corpus_build (tok gate over Heaps-bounded types)",
      // -- ANN family: cell/band/subspace probes over published index
      // artifacts, priced by q_ann_ivfpq (measured 9.5x at sf1 r11);
      // brute/eval forms are nQueries-bounded by a literal filter --
      "q_ann_lsh" -> "q_ann_ivfpq (band probe; recall-gated twin)",
      "q_ann_lsh_verified" -> "q_ann_ivfpq (band probe, exact re-rank)",
      "q_ann_ivf" -> "q_ann_ivfpq (cell probe)",
      "q_ann_pq" -> "q_ann_ivfpq (ADC, sub <= 8 x cell <= 64)",
      "q_ann_bruteforce" -> "bounded: qid < nQueries literal (k*N linear)",
      "q_ann_q8" -> "bounded: qid < nQueries literal",
      "q_ann_sql" -> "bounded: qid < nQueries literal (SQL door)",
      "q_knn_eval" -> "bounded: qid < nQueries literal",
      "q_hard_negatives" -> "q_ann_ivfpq + q_embedding_neardup (band probe)",
      "q_semantic_decontam" -> "bounded: eval side <= nQueries rows (broadcast)",
      // r15: q_ivf_ingest / q_embedding_outliers / q_cluster_sample
      // left this list entirely — the IvfAssign two-level index turned
      // their corpus×cells assignment joins into a stateless projection
      "q_kmeanspp_seed" -> "bounded: corpus x k seeds (k constant)",
      "q_mmr_rerank" -> "bounded: corpus x the one query vector (vec_id = 0)",
      "q_mutual_knn" -> "q_mutual_knn_ivf (exact-by-contract N^2 twin, scaladoc-priced)",
      "q_mutual_knn_lsh" ->
        ("q_mutual_knn_ivf (the default LINEAR mutual-kNN scale door). " +
          "This is the priced recall-first door: bucket-quota bounded " +
          "(r14), measured 107s cold sf1 — demoted from the sentinel " +
          "list because its honest cost sits at the leg cap on a " +
          "loaded box"),
      "q_neardup_strict_twins" ->
        "q_embedding_neardup_strict (the SAME door; registered for the scale-cheap twin oracle)",
      // -- embedding stats: join keys range over the dim/subspace
      // domain (<= 64), fan-in is dim-bounded per row --
      "q_embed_whiten" -> "bounded: d in [0, 64)",
      // -- node-embedding epochs: pair rows join the embedding table,
      // one row per node (fan-in 1 on the table side) --
      "q_node_embed" -> "bounded: node key, one embedding row per node",
      "q_embed_eval" -> "bounded: node key, one embedding row per node",
      // -- walk corpus: the start set crossed with the walksPerNode
      // constant (a broadcast range) --
      "q_random_walks" -> "bounded: starts x walksPerNode (w constant)",
      "q_walk_pairs" -> "bounded: starts x walksPerNode (w constant)",
      "q_ood_score" -> "bounded: d in [0, 64)",
      "q_pca_power" -> "bounded: i in [0, 64)",
      "q_auc" -> "bounded: dim key (score-vector index)",
      "q_calibration" -> "bounded: dim key",
      "q_quality_classifier" -> "bounded: dim key (stump features)",
      // -- token/type-table joins: tok keys range over the Heaps-
      // bounded type table (sf1 text probe r11: 14 shapes 0.8-3.7x) --
      "q_bigram_lm" -> "Heaps-bounded type join (r11 sf1 text probe)",
      "q_collocations" -> "Heaps-bounded pair census",
      "q_chi2_features" -> "Heaps-bounded (tok, lang) census",
      "q_kneser_ney" -> "Heaps-bounded continuation counts",
      "q_naive_bayes" -> "Heaps-bounded (tok, lang) likelihoods",
      "q_perplexity" -> "Heaps-bounded LM join",
      "q_token_entropy" -> "Heaps-bounded type join",
      "q_stopword_prune" -> "Heaps-bounded anti-join on tok",
      "q_tfidf_topk" -> "q_bm25_topk (same posting join)",
      "q_doc_jaccard_topk" -> "q_bm25_topk (posting join, df-capped)",
      "q_rrf_fusion" -> "q_bm25_topk (fused posting joins)",
      "q_ndcg_eval" -> "q_bm25_topk (retrieved x truth, k-bounded)",
      "q_mrr_eval" -> "q_bm25_topk (retrieved x truth, k-bounded)",
      "q_langid_profile" -> "bounded: tri key <= 26^3 per lang",
      "q_schema_profile" -> "bounded: col_name key <= schema width",
      "q_textrank" -> "bounded: within-doc sentence pairs (doc-length capped)",
      // -- hash-bucket sampling / calendar-spine equi-joins: key
      // domains bounded by construction (100 buckets, 24x31 hours) --
      "q_dsir_resample" -> "bounded: bucket in [0, 100)",
      "q_dsir_weights" -> "bounded: hashed-ngram bucket domain (2^13)",
      "q_priority_sample" -> "bounded: bucket in [0, 100)",
      "q_interval_join" -> "bounded: hour-bucket key, calendar spine",
      "q_gap_fill" -> "bounded: hr key, calendar spine",
      "q_slo_burn" -> "bounded: hour key, calendar spine",
      "q_acf" -> "bounded: explicit-offset hour key (lags <= 24)",
      "q_hll_sliding" -> "bounded: src_hour explicit-offset key (window w)",
      "q_dpp_prune" -> "bounded: event_date key, calendar spine",
      "q_heavy_hitters" -> "bounded: (i, bucket) sketch grid (rows x width)",
      "q_effective_diameter" -> "bounded: radius-row spine x distance census",
      "q_salted_join" -> "bounded: salt factor constant (the salting demo)")
    val tagged = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val tags =
          try candidateJoinTags(fn(spark, dir))
          catch { case _: Throwable => Nil } // build failures belong to other suites
        if (tags.nonEmpty) Some(name -> tags.head) else None
      }
    tagged.foreach { case (n, t) => info(s"$n: $t") }
    val offenders = tagged.map(_._1).toSet
    val sentinels = graft.Bench.scaleSentinels.toSet
    info(s"candidate-join queries: ${offenders.toSeq.sorted}")
    val uncovered = offenders.diff(sentinels).diff(allow.keySet)
    assert(uncovered.isEmpty,
      s"candidate-join queries with NO scale sentinel and no audit: " +
        s"$uncovered — add to Bench.scaleSentinels (preferred for a new " +
        "shape family) or record the pricing sentinel/bound here")
    // hygiene: sentinels must exist, and allowlist entries must still
    // be candidate-shaped (stale audits get deleted, not hoarded)
    val ghost = sentinels.diff(graft.SparkEntry.queries.keySet)
    assert(ghost.isEmpty, s"sentinels not in the registry: $ghost")
    val stale = allow.keySet.diff(offenders)
    assert(stale.isEmpty,
      s"stale allowlist entries (no candidate join anymore): $stale")
  }
}
