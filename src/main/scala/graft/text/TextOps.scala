package graft.text

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.relational.Tables

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table: token counting, quality scoring, language-ID
  * heuristics, document fingerprinting. All pure column expressions
  * (codegen'd, no UDFs) — at 100 TB these run entirely map-side with a
  * single final aggregation shuffle where one exists.
  */
object TextOps {

  import Tables.load

  def tokens(text: Column): Column = split(text, " ")

  /** Per-language corpus stats (exact integer sums; the average is a single
    * deterministic division over them). */
  def qTextStatsByLang(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(size(tokens(col("text")))).as("total_tokens"),
        round(sum("n_chars").cast("double") / count(lit(1)), 4)
          .as("avg_chars"))

  /** Token counting: whitespace tokens plus a regex word tokenizer
    * ("BPE-ish": alpha runs / digit runs / single punctuation). */
  def qTokenCount(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens_ws"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
          .cast("long").as("n_tokens_re"),
        col("n_chars"))

  /** Subword (BPE-inference) token counting next to the whitespace count:
    * the number a real pretokenizer bills sequence budgets in. The native
    * [[graft.text.BpeTokenCount]] kernel scans each doc once
    * (greedy leftmost-longest vocab matching — see [[graft.text.BpeVocab]]);
    * `chars_per_tok` is the compression the merge table achieves. */
  def qTokenBpe(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_tokens_ws"),
        graft.functions.bpe_count(col("text")).as("n_tokens_bpe"),
        col("n_chars"))
      // a whitespace-only doc has zero subword tokens: NULL ratio on both
      // engines (DuckDB's IEEE division would yield inf, not NULL — the
      // oracle mirrors this guard with nullif)
      .select(col("doc_id"), col("n_tokens_ws"), col("n_tokens_bpe"),
        round(col("n_chars").cast("double") /
          when(col("n_tokens_bpe") =!= 0, col("n_tokens_bpe")), 4)
          .as("chars_per_tok"))

  /** Content-defined chunking — dedup-STABLE chunk boundaries: a token
    * whose md5-derived hash ≡ 0 (mod `divisor`, expected chunk length)
    * closes the current chunk, so boundaries depend only on local
    * content and survive insertions elsewhere in the document — the
    * property fixed-stride windows (`qChunkWindows`) lack, and the
    * reason storage/passage dedup uses CDC. Emits a per-chunk census
    * with an order-exact content hash (the passage-dedup key).
    *
    * Scale shape: map (token hash) + a per-document prefix count — the
    * window is partitioned by doc and bounded by document length, never
    * corpus-wide — + one groupBy(doc, chunk). */
  def qCdcChunks(
      spark: SparkSession, dir: String, divisor: Int = 16): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .withColumn("is_b", // salted (see qDsirWeights): the token-hash
        // policy at qTfidfTopK already shares md5(tok) byte 1
        when(conv(substring(md5(concat(lit("cdc:"), col("tok"))), 1, 4),
          16, 10).cast("long") % divisor === 0, 1L).otherwise(0L))
    // exclusive prefix count: a boundary token still belongs to the
    // chunk it closes; the next token starts the next chunk
    val w = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("chunk_id", coalesce(sum("is_b").over(w), lit(0L)))
      .groupBy("doc_id", "chunk_id")
      .agg(count(lit(1)).as("n_tokens"),
        min("pos").cast("long").as("first_pos"),
        md5(array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ")).as("chunk_hash"))
  }

  /** Tokenizer fertility by language — the vocab-coverage diagnostic
    * that drives tokenizer decisions: pieces-per-word (fertility) and
    * the share of fallback (out-of-vocab single-codepoint) pieces, per
    * language. A language with high fertility or fallback share is
    * under-served by the merge vocab — exactly what you measure before
    * re-training a tokenizer on a new corpus mix. Map-only until one
    * per-language aggregation; integer counts, one division each. */
  def qTokenizerFertility(spark: SparkSession, dir: String): DataFrame = {
    val idMap = typedlit(graft.text.BpeVocab.idOf)
    val docs = load(spark, dir, "documents")
    val words = docs.groupBy("lang")
      .agg(sum(size(filter(tokens(col("text")), t => t =!= "")).cast("long"))
        .as("n_words"))
    val pieces = docs
      .select(col("lang"),
        explode(graft.functions.bpe_pieces(col("text"))).as("piece"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_pieces"),
        sum(when(element_at(idMap, col("piece")).isNull, 1L).otherwise(0L))
          .as("n_fallback"))
    words.join(pieces, "lang")
      .select(col("lang"), col("n_words"), col("n_pieces"), col("n_fallback"),
        expr("n_pieces * 1000000 div n_words").as("fertility_ppm"),
        expr("n_fallback * 1000000 div n_pieces").as("fallback_ppm"))
  }

  /** Subword ENCODING — the id sequence itself, what a pretokenizer
    * actually writes next to packed sequences: every document's greedy-
    * BPE pieces in scan order with their stable vocab ids (fallback
    * single-codepoint pieces get id −1; a real tokenizer's byte-fallback
    * ids are a fixed offset away). Map-only until the explode; the vocab
    * id lookup is a 45-entry literal map in codegen, not a join. The
    * oracle replays the scan with the recursive CTE of q_token_bpe plus
    * the shared id'd vocab list, so the full (doc, seq, piece, id)
    * relation is hash-checked, not just counted. */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val idMap = typedlit(graft.text.BpeVocab.idOf)
    load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.functions.bpe_pieces(col("text")))
          .as(Seq("seq", "piece")))
      .select(col("doc_id"), col("seq").cast("long").as("seq"), col("piece"),
        coalesce(element_at(idMap, col("piece")), lit(-1))
          .cast("long").as("piece_id"))
  }

  /** PII scrubbing — the redaction pass a training pipeline runs before
    * text ships: count and replace emails / phone numbers / IPv4
    * addresses with type tags. Pure regexp column expressions (three
    * codegen'd `regexp_replace`s, map-only — no shuffle at any scale).
    *
    * The synthetic corpus carries no PII, so the fixture INJECTS it
    * deterministically (the dup-injection pattern of
    * `qRetransmitDetect`): every 3rd doc gains an email, every 4th a
    * phone, every 5th an IP, all derived from doc_id — the oracle
    * replays the same injection and the scrub-hash proves byte-exact
    * redaction output, not just matching counts. Patterns stay in the
    * regex subset Java and RE2 share (no lookaround, no backrefs). */
  def qPiiScrub(spark: SparkSession, dir: String): DataFrame = {
    val email = "[a-z0-9.]+@[a-z0-9.]+[.][a-z]+"
    val phone = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
    val ip = "[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}"
    val seeded = load(spark, dir, "documents")
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"), lit("@mail.example.com")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          concat(lit(" call 555-010-"), format_string("%04d", col("doc_id") % 10000)))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string")))
          .otherwise(lit(""))).as("text"))
    seeded.select(
      col("doc_id"),
      regexp_count(col("text"), lit(email)).cast("long").as("n_emails"),
      regexp_count(col("text"), lit(phone)).cast("long").as("n_phones"),
      regexp_count(col("text"), lit(ip)).cast("long").as("n_ips"),
      md5(regexp_replace(regexp_replace(regexp_replace(col("text"),
        email, "<EMAIL>"), phone, "<PHONE>"), ip, "<IP>")).as("scrub_hash"))
  }

  /** Quality scoring from length + stopword-ratio signals. */
  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .cast("long").as("n_stop"))
      .withColumn("stop_ratio",
        round(col("n_stop").cast("double") / col("n_tokens"), 4))
      .withColumn("quality",
        when(col("n_tokens").between(20, 80) && col("stop_ratio") < 0.2, "good")
          .otherwise("low"))

  /** Lexicon blocklist gate (the C4/RefinedWeb "bad-word list" filter):
    * per-document hit count against a fixed broadcast-literal lexicon
    * and a two-clause flag — absolute (≥ 3 hits) OR rate (hits ≥ 4% of
    * tokens, cross-multiplied to `hits·25 ≥ n_tokens` so no division
    * enters the gate). Census per source: docs, flagged, kept, total
    * hits — the filter report a corpus release attaches.
    *
    * Scale shape: the lexicon is a codegen'd literal IN list (never a
    * join), the per-doc pass is map-only, and the census is one
    * map-side-combinable groupBy over source cardinality. */
  /** Per-document lexicon hit frame `(doc_id, source, n_tokens, hits,
    * flagged)` — the one definition [[qLexiconFilter]]'s census and the
    * capstone v6 gate both consume. */
  private[graft] def lexiconPerDoc(
      spark: SparkSession, dir: String): DataFrame = {
    val lex = Seq("slow", "dup", "drop", "big")
      .map("'" + _ + "'").mkString(", ")
    load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(expr(s"filter(split(text, ' '), t -> t IN ($lex))"))
          .cast("long").as("hits"))
      .withColumn("flagged",
        col("hits") >= 3 || col("hits") * 25 >= col("n_tokens"))
  }

  def qLexiconFilter(spark: SparkSession, dir: String): DataFrame = {
    lexiconPerDoc(spark, dir)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("flagged"), 1L).otherwise(0L)).as("n_flagged"),
        sum("hits").as("total_hits"))
      .withColumn("n_kept", col("n_docs") - col("n_flagged"))
  }

  /** Fixed watchlist for [[qMultiMatch]] (and its oracle, which
    * interpolates the same literals): shared-prefix nests
    * (`ta`/`tab`/`table`, `par`/`part`) exercise suffix-link emit
    * propagation, and space-containing patterns (`an s`, `ch b`,
    * `he t`) match across token boundaries — occurrences no
    * token-granular surface can see. */
  private[graft] val Watchlist: Seq[String] = Seq(
    "table", "tab", "ta", "scan", "an s", "a a", "row", "window",
    "win", "order", "rde", "stream", "e a", "value", "alu", "lu",
    "spark", "par", "part", "art", "batch", "ch b", "the", "he t",
    // apostrophe-bearing literal (r14): real watchlists carry these
    // (names, contractions); it rides the census end-to-end to pin the
    // oracle generator's '' escaping against the DuckDB replay
    "o'brien")

  /** Watchlist census: per-pattern document frequency and total
    * (overlapping) occurrence count, via ONE Aho–Corasick automaton
    * pass per document ([[AhoCorasick]]) — the corpus-release report
    * for a contamination/PII/blocklist phrase list.
    *
    * Scale shape: the automaton is a query-literal compiled once per
    * executor; the scan is map-only (`text` is the only column read);
    * the census is a map-side-combinable groupBy over the P-sized
    * pattern-id space. P patterns cost ONE corpus read — the whole
    * point vs P `contains` passes — so at 100 TB this is strictly
    * scan-bound. */
  def qMultiMatch(spark: SparkSession, dir: String,
      patterns: Seq[String] = Watchlist): DataFrame = {
    val counts = load(spark, dir, "documents")
      .select(posexplode(
        graft.functions.multi_match(col("text"), patterns))
        .as(Seq("pid", "cnt")))
      .groupBy("pid")
      .agg(sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum("cnt").as("hits"))
    counts
      .select(element_at(
          lit(patterns.toArray), col("pid").cast("int") + 1).as("pattern"),
        col("n_docs"), col("hits"))
  }

  /** Vocabulary growth curve (the empirical Heaps'-law census): distinct
    * token types seen after the first 1, 2, 4, …, 2^⌈log₂N⌉ documents of
    * a DETERMINISTIC md5-shuffled corpus order — the curve a tokenizer /
    * dedup planner reads to size vocab tables and predict novelty decay
    * (cf. the Heaps-bounded windows elsewhere in the repo, which this
    * operator lets you justify empirically per corpus).
    *
    * Exact at scale: the global order is the qGlobalShuffle
    * range-partition + zipWithIndex total order (never a one-task
    * window over the corpus); each token type reduces to its FIRST
    * position (one groupBy min); checkpoints are log-bounded (≤ 64
    * power-of-two buckets), so the cumulative walk runs over a
    * constant-size histogram. ceil(log₂) comes from BIT LENGTH, never
    * IEEE log (the q_degree_hist rule). */
  def qVocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"),
        md5(concat(lit("vg:"), col("doc_id").cast("string"))).as("skey"))
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    val pos = docs
      .repartitionByRange(parts, col("skey"))
      .sortWithinPartitions("skey")
      .select(col("doc_id")).rdd.zipWithIndex()
      .map { case (r, i) => (r.getLong(0), i + 1L) }
      .toDF("doc_id", "pos")
    // three cheap deterministic re-scans of the ranked view (the plan's
    // three subtrees) beat a leaked corpus-sized cut; the RDD
    // zipWithIndex replays identically per scan
    val ranked = docs.join(pos, "doc_id")
      .select(col("pos"), size(col("toks")).cast("long").as("nt"),
        array_distinct(col("toks")).as("dtoks"))
    def bucketOf(c: Column): Column =
      when(c === 1, 0L).otherwise(length(bin(c - 1)).cast("long"))
    val vb = ranked
      .select(col("pos"), explode(col("dtoks")).as("tok"))
      .groupBy("tok").agg(min("pos").as("fp"))
      .groupBy(bucketOf(col("fp")).as("b"))
      .agg(count(lit(1)).as("v"))
    val db = ranked
      .groupBy(bucketOf(col("pos")).as("b"))
      .agg(count(lit(1)).as("nd"), sum("nt").as("tt"))
    val n = ranked.agg(count(lit(1)).as("nn"))
    val w = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    db.join(vb, Seq("b"), "left")
      .crossJoin(broadcast(n))
      .select(
        expr("shiftleft(cast(1 as bigint), cast(b as int))")
          .as("checkpoint"),
        least(expr("shiftleft(cast(1 as bigint), cast(b as int))"),
          col("nn")).as("n_docs"),
        sum("tt").over(w).as("tokens_seen"),
        sum(coalesce(col("v"), lit(0L))).over(w).as("vocab_size"))
  }

  /** Cohen's kappa between two independent quality raters — the
    * agreement statistic an annotation pipeline reports before trusting
    * a heuristic (or model) labeler: observed agreement corrected for
    * the agreement two UNRELATED raters would reach by chance. Rater A
    * is the length gate (20 <= tokens <= 80), rater B the stopword-rate
    * gate (n_stop/n_tokens < 0.2, cross-multiplied to the integer
    * `5·n_stop < n_tokens` so no division enters the label) — the two
    * halves of [[qTextQuality]]'s conjunction, scored separately.
    *
    * kappa = (N·agree − Σ marginal products) / (N² − Σ marginal
    * products): both terms are exact BIGINTs from the 2×2 census, and
    * kappa itself is the ONE IEEE division of the pair — bit-identical
    * in any engine (the q_embedding_cov discipline; kappa may be
    * negative, where truncating-div ppm would round toward zero
    * differently per engine). One map pass + a single-row aggregate —
    * nothing corpus-global beyond four counters, so the census is
    * map-side combinable at any scale. */
  def qKappa(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(
        size(tokens(col("text"))).cast("long").as("n_tokens"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .cast("long").as("n_stop"))
      .select(
        col("n_tokens").between(20, 80).cast("int").as("a"),
        (col("n_stop") * 5 < col("n_tokens")).cast("int").as("b"))
      .agg(
        sum(when(col("a") === 0 && col("b") === 0, 1).otherwise(0))
          .cast("long").as("n00"),
        sum(when(col("a") === 0 && col("b") === 1, 1).otherwise(0))
          .cast("long").as("n01"),
        sum(when(col("a") === 1 && col("b") === 0, 1).otherwise(0))
          .cast("long").as("n10"),
        sum(when(col("a") === 1 && col("b") === 1, 1).otherwise(0))
          .cast("long").as("n11"))
      .select(col("n00"), col("n01"), col("n10"), col("n11"),
        expr("""CAST(
            (n00 + n01 + n10 + n11) * (n00 + n11)
            - ((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10))
          AS DOUBLE) / (
            (n00 + n01 + n10 + n11) * (n00 + n01 + n10 + n11)
            - ((n10 + n11) * (n01 + n11) + (n00 + n01) * (n00 + n10)))""")
          .as("kappa"))

  /** Stopword-census language-ID heuristic, reported as a confusion matrix
    * against the labeled `lang` column. */
  def qLangGuess(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("lang"),
        size(expr("filter(split(text, ' '), t -> t IN ('the', 'a'))"))
          .as("en_hits"))
      .withColumn("guessed",
        when(col("en_hits") >= 2, "en")
          .when(col("en_hits") === 1, "en_maybe")
          .otherwise("unk"))
      .groupBy("lang", "guessed")
      .agg(count(lit(1)).as("n_docs"))

  /** Character-n-gram language identification (Cavnar & Trenkle,
    * "N-Gram-Based Text Categorization") — the profile-rank classifier
    * that upgrades [[qLangGuess]]'s two-stopword heuristic: per
    * language, the top-`p` character trigrams by frequency on the
    * even-doc training half form a rank profile; each odd-doc test
    * document builds its own profile and is classified by minimum
    * out-of-place distance (Σ |doc rank − lang rank|, with a fixed
    * `penalty` for trigrams absent from the language profile). Output
    * is the (true lang, predicted lang) confusion census.
    *
    * All-integer: ranks are (freq DESC, trigram ASC) row numbers,
    * distances are integer sums, prediction is the (distance, lang)
    * argmin — every engine replays identically. (The synthetic corpus
    * draws all languages from one token pool, so prediction QUALITY is
    * untestable here — the q_naive_bayes posture; the mechanism is
    * what the oracle pins.)
    *
    * Scale shape: profiles are p rows per language (a broadcast
    * relation); per-doc ranks run in doc-partitioned windows; the
    * distance join touches only docProfile×langProfile matches plus a
    * langs-sized broadcast grid — never corpus×corpus. The per-lang
    * profile window runs over the charset³-bounded trigram universe
    * (documented bounded-cardinality posture). */
  def qLangIdProfile(
      spark: SparkSession, dir: String,
      p: Int = 20, penalty: Int = 20): DataFrame = {
    val docs = load(spark, dir, "documents")
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), col("lang"), col("text"))
    def tris(df: DataFrame): DataFrame = df
      .select(col("doc_id"), col("lang"),
        explode(sequence(lit(1), length(col("text")) - 2)).as("i"),
        col("text"))
      .select(col("doc_id"), col("lang"),
        expr("substring(text, i, 3)").as("tri"))
    val langProf = tris(docs.filter(col("doc_id") % 2 === 0))
      .groupBy("lang", "tri").agg(count(lit(1)).as("freq"))
      .withColumn("lrank", row_number().over(
        Window.partitionBy("lang")
          .orderBy(col("freq").desc, col("tri"))).cast("long"))
      .filter(col("lrank") <= p)
      .select(col("lang").as("cand"), col("tri"), col("lrank"))
    val docProf = tris(docs.filter(col("doc_id") % 2 === 1))
      .groupBy("doc_id", "lang", "tri").agg(count(lit(1)).as("freq"))
      .withColumn("drank", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(col("freq").desc, col("tri"))).cast("long"))
      .filter(col("drank") <= p)
    val matched = docProf
      .join(broadcast(langProf), "tri")
      .groupBy("doc_id", "cand")
      .agg(sum(abs(col("drank") - col("lrank"))).as("msum"),
        count(lit(1)).as("mcnt"))
    val profSize = docProf.groupBy("doc_id")
      .agg(first("lang").as("true_lang"), count(lit(1)).as("psize"))
    val langs = langProf.select("cand").distinct()
    profSize
      .crossJoin(broadcast(langs))
      .join(matched, Seq("doc_id", "cand"), "left")
      .withColumn("dist",
        coalesce(col("msum"), lit(0L)) +
          (col("psize") - coalesce(col("mcnt"), lit(0L))) * penalty)
      .groupBy("doc_id", "true_lang")
      .agg(min(struct(col("dist"), col("cand"))).as("m"))
      .groupBy(col("true_lang").as("lang"),
        col("m.cand").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Position-weighted rolling-hash document fingerprint (exact integer
    * arithmetic → deterministic across engines). */
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
      .groupBy("doc_id")
      .agg((sum((col("pos") + 1) *
        (ascii(substring(col("tok"), 1, 1)) * 31 + length(col("tok"))))
        % 1000000007L).as("fingerprint"))

  /** Feature hashing (the hashing trick, Weinberger et al., "Feature
    * Hashing for Large Scale Multitask Learning"): every token hashes to
    * one of `dims` buckets with a hash-derived ±1 sign, and the document
    * vector is the signed occurrence count per bucket — the cheap,
    * training-free text embedding that needs NO vocabulary table, so it
    * works identically on the first and the trillionth document. Output
    * is the sparse (doc_id, dim, weight) fingerprint table; weights are
    * INTEGER sums, so the result is bit-reproducible and exactly oracled
    * (md5-derived bucket/sign — replayable in any engine, unlike
    * xxhash).
    *
    * Scale shape: one stateless explode + one hash aggregation keyed by
    * (doc_id, dim) — map-side combinable, nothing corpus-global. */
  def qFeatureHash(
      spark: SparkSession, dir: String, dims: Int = 64): DataFrame = {
    val h = md5(col("tok"))
    load(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .select(col("doc_id"),
        (conv(substring(h, 1, 2), 16, 10).cast("long") % dims).as("dim"),
        when(conv(substring(h, 3, 1), 16, 10).cast("long") % 2 === 0, 1L)
          .otherwise(-1L).as("sign"))
      .groupBy("doc_id", "dim")
      .agg(sum("sign").as("weight"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): corpus-level
    * salient terms as the PageRank of the word co-occurrence graph —
    * the unsupervised keyword signal a corpus card or topic-drift
    * monitor reads. Composition, not new machinery: the DF-gated
    * stopword rule of [[qStopwordPrune]] filters the token stream,
    * adjacency IN THE FILTERED SEQUENCE (the classic formulation)
    * yields distinct co-occurrence pairs, and the shared fixed-point
    * [[graft.graph.GraphOps.pageRank]] loop ranks the resulting
    * undirected graph — text feeding the graph family's kernel
    * unchanged (node ids are words; the loop is id-type-agnostic).
    *
    * Scale shape: the token explode and pair distinct are map-side
    * bounded; the graph is VOCABULARY-sized (Heaps-bounded, like the
    * BPE type tables), orders smaller than the corpus; ranking costs
    * the usual one rank-shuffle per round. Top-k exits through a
    * deterministic (rank desc, word) order. */
  def qTextRank(spark: SparkSession, dir: String,
      iters: Int = 5, k: Int = 30): DataFrame = {
    val docs = load(spark, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val stop = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("dfq"))
      .crossJoin(broadcast(n))
      .filter(col("dfq") >= col("n_docs") * 0.8)
      .select(col("tok"))
    val kept = toks.join(broadcast(stop), Seq("tok"), "left_anti")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = kept.withColumn("prev", lag("tok", 1).over(w))
      .filter(col("prev").isNotNull && col("prev") =!= col("tok"))
    val und = bi.select(least(col("prev"), col("tok")).as("a"),
      greatest(col("prev"), col("tok")).as("b")).distinct()
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    textRankCache.get(spark, (dir, iters))(
      graft.graph.GraphOps.pageRank(spark, edges, iters))
      .orderBy(col("r").desc, col("node"))
      .limit(k)
      .select(col("node").as("word"), col("r").as("rank_fp"))
  }

  /** Per-(session, dir, iters) word ranks of [[qTextRank]]: the rank
    * frame is a cut, and the cache is what releases it. */
  private val textRankCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Result)

  /** Data-driven stopword pruning — the vocabulary-filter step of a
    * training pipeline: tokens whose document frequency exceeds
    * `dfFrac` of the corpus are dropped, and each document's text is
    * rebuilt in token order. The stoplist is derived IN-PLAN from the
    * corpus (no fixed word list survives 100 languages at 100 TB) and is
    * tiny by construction (high-df tokens are bounded by the threshold),
    * so the filter is a broadcast anti-join — per-document work stays
    * map-side. */
  def qStopwordPrune(
      spark: SparkSession, dir: String, dfFrac: Double = 0.8): DataFrame = {
    val docs = load(spark, dir, "documents")
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val stop = toks.select("doc_id", "tok").distinct()
      .groupBy("tok").agg(count(lit(1)).as("dfq"))
      .crossJoin(broadcast(n))
      .filter(col("dfq") >= col("n_docs") * dfFrac)
      .select(col("tok"))
    toks.join(broadcast(stop), Seq("tok"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(sort_array(collect_list(struct(col("pos"), col("tok")))),
            x => x.getField("tok")), " ").as("pruned_text"))
  }

  /** Unigram language-model quality score — the CCNet-style filter
    * signal: documents whose tokens are improbable under a language
    * model trained on the corpus itself score high (boilerplate, noise,
    * wrong-language text) and get filtered. The "model" is the corpus
    * unigram distribution with add-one smoothing — derived IN-PLAN like
    * the stopword list (two bounded aggregations), never a shipped
    * artifact, so the operator runs on any corpus slice without a
    * training step.
    *
    * Shuffle profile at 100 TB: one token-keyed shuffle to count, one
    * token-keyed join to score (both bounded by vocabulary, not corpus,
    * on the build side), one doc-keyed aggregation. `nll` is the mean
    * negative log-likelihood (rounded at 4, inside the ±30%-noise-proof
    * band the other double aggregates use); `ppl = exp(nll)` is derived
    * from the ROUNDED nll so both engines exponentiate the same value. */
  /** Interpolated bigram LM negative log-likelihood — one order deeper
    * than [[qPerplexity]]'s unigram (the CCNet-style quality signal):
    * p(w|prev) = λ·c(prev,w)/c(prev) + (1−λ)·(c(w)+1)/(T+V), λ = 0.75.
    * The interpolation floor means unseen bigrams never zero the
    * likelihood. Counts are exact integers; the per-token probability
    * is a fixed IEEE expression and the NLL rounds to 4 decimals — the
    * same log-determinism envelope the unigram oracle has held since
    * round 4. Docs shorter than 2 tokens have no bigrams and are
    * absent, mirrored by the oracle.
    *
    * Scale shape: bigram extraction is a per-doc window (bounded
    * partitions); both count tables aggregate map-side; the scoring
    * join is stream × bigram-vocab on (prev, tok) — co-shuffled, not
    * broadcast, because a real corpus's bigram vocabulary outgrows any
    * broadcast threshold. */
  def qBigramLm(spark: SparkSession, dir: String): DataFrame = {
    val lam = 0.75
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
    val bic = bi.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val uc = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val totals = uc.agg(sum("c1").cast("double").as("t"),
      count(lit(1)).cast("double").as("v"))
    val p = lit(lam) * col("c2").cast("double") / col("cp") +
      lit(1 - lam) * (col("c1") + 1).cast("double") / (col("t") + col("v"))
    bi.join(bic, Seq("prev", "tok"))
      .join(uc.select(col("tok").as("prev"), col("c1").as("cp")), "prev")
      .join(uc, "tok")
      .crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 4).as("nll"))
      .withColumn("ppl", round(exp(col("nll")), 2))
  }

  /** Kneser-Ney-smoothed bigram NLL — the production-grade smoothing
    * the interpolated-count model ([[qBigramLm]]) approximates: the
    * backoff weight redistributes a fixed absolute discount D per seen
    * bigram, and the unigram backoff is the CONTINUATION probability
    * (in how many distinct contexts does this word appear) rather than
    * raw frequency — the fix that stops high-count-but-single-context
    * tokens (the "San Francisco" effect) from dominating the backoff
    * mass. KN is what real n-gram quality filters (CCNet lineage) ship.
    *
    *   p(w|prev) = (c(prev,w) − D)/c(prev)
    *             + D·N₁₊(prev,·)/c(prev) · N₁₊(·,w)/|bigram types|
    *
    * Only observed bigrams are scored (c ≥ 1 > D, so the discounted
    * term never clamps). All model inputs are exact integer counts from
    * three map-side-combinable aggregations over the bigram-type table
    * (Heaps-bounded, like the vocabulary); D = 0.75 is exact in binary,
    * the per-token probability is one fixed IEEE expression, and the
    * NLL rounds at 4 — the established qBigramLm determinism envelope.
    *
    * Scale shape matches qBigramLm: the scoring join is stream ×
    * bigram-vocab on (prev, tok), co-shuffled; the context and
    * continuation tables join on single-token keys (vocab-sized). */
  def qKneserNey(spark: SparkSession, dir: String): DataFrame = {
    val disc = 0.75
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
    val bic = bi.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val ctx = bic.groupBy("prev")
      .agg(sum("c2").as("cp"), count(lit(1)).as("n1p_prev"))
    val cont = bic.groupBy("tok").agg(count(lit(1)).as("n1p_tok"))
    val types = bic.agg(count(lit(1)).as("n_types"))
    val p = (col("c2").cast("double") - lit(disc)) / col("cp") +
      lit(disc) * col("n1p_prev").cast("double") / col("cp") *
        (col("n1p_tok").cast("double") / col("n_types"))
    bi.join(bic, Seq("prev", "tok"))
      .join(ctx, "prev")
      .join(cont, "tok")
      .crossJoin(broadcast(types))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(-log(p)), 4).as("nll"))
      .withColumn("ppl", round(exp(col("nll")), 2))
  }

  /** Vocabulary coverage curve: the share of all token OCCURRENCES
    * covered by the top-k most frequent types, at k ∈ {10, 100, 1000} —
    * the Zipf-head diagnostic that sizes a tokenizer vocabulary (and
    * predicts the fallback rate [[qTokenizerFertility]] measures).
    *
    * Shares are exact integer ppm. Only ranks ≤ 1000 are ever read, so
    * the type table routes through the native [[graft.plans.TopKPerKey]]
    * bounded heap (single group, k = 1000) instead of a global
    * `row_number` window — a vocabulary-wide single-partition sort is
    * exactly the funnel a 10⁸–10⁹-type multilingual corpus can't afford
    * (PlanAuditSpec pins the Window-free plan). Ties rank by
    * (count desc, token) so the curve is engine-deterministic; the
    * totals come from a separate map-side-combinable aggregation over
    * the full type table. */
  def qVocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val uc = load(spark, dir, "documents")
      .select(explode(tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val globals = uc.agg(
      sum("c").as("total"), count(lit(1)).as("n_vocab"))
    val top = graft.plans.TopK.topKPerKey(
      uc, Nil, Seq(col("c").desc, col("tok")), 1000)
    val heads = top.agg(
      sum(when(col("rnk") <= 10, col("c")).otherwise(0L)).as("c10"),
      sum(when(col("rnk") <= 100, col("c")).otherwise(0L)).as("c100"),
      sum(col("c")).as("c1000"))
    val wide = heads.crossJoin(broadcast(globals))
    wide.select(explode(array(
        struct(lit(10L).as("k"), col("c10").as("covered")),
        struct(lit(100L).as("k"), col("c100").as("covered")),
        struct(lit(1000L).as("k"), col("c1000").as("covered"))))
        .as("p"), col("total"), col("n_vocab"))
      .select(col("p.k").as("k"),
        expr("p.covered * 1000000 div total").as("covered_ppm"),
        col("n_vocab"), col("total").as("total_tokens"))
  }

  /** Per-source dataset card: the one-row-per-source summary manifest a
    * data release ships (doc/char/token counts, language spread, exact
    * duplicate rate) — every column an exact integer from one grouped
    * pass over the corpus (token counts map-side, dup census via
    * count − distinct-md5). */
  def qDatasetCard(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_chars").as("total_chars"),
        sum(size(tokens(col("text"))).cast("long")).as("total_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(md5(col("text")))).as("dup_docs"))

  /** PMI-lift collocation mining — the phrase-discovery pass a tokenizer
    * or n-gram vocabulary build runs first: adjacent-token bigrams whose
    * observed count beats independence by ≥ 1.2× (`lift = P(ab)/(P(a)P(b))
    * = c_ab·N/(c_a·c_b)`), with a minimum-support gate. (The synthetic
    * corpus is near-independent — max lift at support 10 is ≈1.56 — so
    * the gate sits where it separates signal from the ≈1.0 bulk; a
    * natural corpus would use 2-10×.)
    *
    * Lift is an exact integer ppm (decimal(38,0) intermediates — c·N·10⁶
    * outgrows a long on a real corpus), so the ranking oracles bit-exact;
    * no logarithm means no IEEE hazard at all. Scale shape: same as the
    * bigram LM — per-doc windows for extraction, two map-side-combinable
    * count tables, and the scoring join keyed on the bigram vocabulary
    * (never broadcast: a 100 TB corpus's bigram table is itself huge; the
    * support gate prunes it before the join). */
  def qCollocations(spark: SparkSession, dir: String,
      minCount: Int = 10): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"), posexplode(tokens(col("text")))
        .as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val bi = toks
      .withColumn("prev", lag(col("tok"), 1).over(w))
      .filter(col("prev").isNotNull)
    val bic = bi.groupBy("prev", "tok").agg(count(lit(1)).as("c2"))
    val uc = toks.groupBy("tok").agg(count(lit(1)).as("c1"))
    val tot = toks.agg(count(lit(1)).as("n"))
    bic.filter(col("c2") >= minCount)
      .join(uc.select(col("tok").as("prev"), col("c1").as("ca")), "prev")
      .join(uc.select(col("tok"), col("c1").as("cb")), "tok")
      .crossJoin(broadcast(tot))
      .select(col("prev"), col("tok"), col("c2"), col("ca"), col("cb"),
        expr("cast((cast(c2 as decimal(38,0)) * n * 1000000)" +
          " div (cast(ca as decimal(38,0)) * cb) as bigint)").as("lift_ppm"))
      .filter(col("lift_ppm") >= 1200000L)
  }

  /** Exact phrase search over a positional inverted index — the IR
    * primitive behind quoted-query search and n-gram decontamination
    * at passage granularity. Postings are (tok, doc, pos); a k-term
    * phrase is k−1 equi-joins on (doc, pos−offset), so each term's
    * pushed-down posting list is what flows into the join — never the
    * corpus. At 100 TB the postings table is the standing artifact
    * (bucketed by `tok`); the per-term filters here reach the scan as
    * pushed predicates, the same access path. Occurrence counts are
    * offset-invariant, so the 0-based Spark positions and the oracle's
    * 1-based `generate_subscripts` agree without reconciliation. */
  def qPhraseSearch(spark: SparkSession, dir: String,
      phrase: Seq[String] = Seq("hash", "join")): DataFrame = {
    require(phrase.nonEmpty)
    val postings = load(spark, dir, "documents")
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val first = postings.filter(col("tok") === phrase.head)
      .select(col("doc_id"), col("pos"))
    phrase.zipWithIndex.drop(1)
      .foldLeft(first) { case (acc, (t, i)) =>
        acc.join(postings.filter(col("tok") === t)
          .select(col("doc_id"), (col("pos") - i).as("pos")),
          Seq("doc_id", "pos"))
      }
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occ"))
  }

  def qPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
    val cnt = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
    val totals = cnt.agg(
      sum("cnt").cast("double").as("t"), count(lit(1)).cast("double").as("v"))
    val nll = avg(-log((col("cnt") + 1).cast("double") / (col("t") + col("v"))))
    toks.join(cnt, "tok").crossJoin(broadcast(totals))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), round(nll, 4).as("nll"))
      .withColumn("ppl", round(exp(col("nll")), 2))
  }

  /** Repetition-based quality stats — the Gopher/Dolma filter family:
    * excessive repetition (a token or n-gram dominating the document) is
    * the strongest cheap signal of boilerplate and degenerate text. All
    * columns are exact integer ratios (max count / total count), so the
    * operator is deterministic in any engine. Per-doc aggregates over
    * token and bigram counts — two bounded shuffles keyed by
    * (doc, gram), the same profile as tf-idf. */
  def qRepetitionStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val toksArr = tokens(col("text"))
    val tok = docs.select(col("doc_id"), explode(toksArr).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_distinct_tokens"),
        max("c").as("top_tok"))
    // native non-distinct shingle kernel: the interpreted transform +
    // element_at formulation costs ~2x on this hot path
    val bigrams = graft.functions.shingle_list(col("text"), 2)
    val bg = docs.select(col("doc_id"), explode(bigrams).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_bigrams"), max("c").as("top_bigram"))
    tok.join(bg, "doc_id")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        round(col("top_tok").cast("double") / col("n_tokens"), 4)
          .as("top_tok_frac"),
        round(col("top_bigram").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_frac"))
  }

  /** Per-document keyword extraction: top-3 tokens by a rational tf-idf
    * (`tf × N / df` — no logarithm, so the score is an exact integer
    * ratio and ranks identically in any IEEE engine), ranked by the
    * native [[graft.plans.TopKPerKey]] operator. The classic
    * shuffle-profile win: token stats are two bounded aggregations, and
    * the per-document ranking ships k rows per doc per partition instead
    * of window-sorting every (doc, token) pair. */
  def qTfidfTopK(spark: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val docs = load(spark, dir, "documents")
    // N computed in-plan (1-row broadcast) — a driver-side count() would
    // cost an extra full scan and a blocking job before the query starts
    val n = docs.agg(count(lit(1)).as("n"))
    val tf = docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("dfq"))
    val scored = tf.join(dfreq, "tok").crossJoin(broadcast(n))
      .select(col("doc_id"), col("tok"),
        round((col("tf") * col("n")).cast("double") / col("dfq"), 6).as("score"))
    graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("doc_id")),
      order = Seq(col("score").desc, col("tok").asc),
      k = k)
  }

  /** BM25 top-k retrieval — the lexical half of a RAG / retrieval
    * pipeline: for each query document, the k best OTHER documents by a
    * BM25-family score over the query's distinct tokens.
    *
    * Scoring is the repo's RATIONAL variant: the idf odds
    * `(N-df+0.5)/(df+0.5)` are kept as a fraction instead of logged, and
    * k1=1.2, b=0.75 with `avgdl = T/N` (T = total corpus tokens) are
    * folded into integer coefficients, so each per-term score is one
    * exact-integer numerator over one exact-integer denominator:
    * {{{
    *   num = 44·tf·T·(2(N−df)+1)·10^6
    *   den = (20·tf·T + 6·T + 18·dl·N)·(2df+1)
    * }}}
    * `num div den` is an exact fixed-point (1e-6) integer, so the
    * per-document SUM over query terms is order-free and the ranking
    * replays bit-identically in any engine — no IEEE addition anywhere.
    *
    * Scale shape: the query-term relation (nQueries docs × their
    * distinct tokens) is broadcast and pruned INTO the posting list
    * before anything shuffles — the corpus-sized tf table is touched
    * only on query tokens; df and doc-length side tables are
    * vocabulary-/doc-count-sized; the final ranking ships k rows per
    * query per partition through the native TopKPerKey operator instead
    * of window-sorting all candidates. */
  def bm25TopK(docs: DataFrame, nQueries: Int, k: Int,
      tfOpt: Option[DataFrame] = None): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // tfOpt: the CUT inverted index (see [[qBm25TopK]]). Left
    // lazy, the tf subtree would replay its tokenize + count once per
    // consumer (dl, stats, dfreq, qterms, postings = 4-5 full corpus
    // scans — this query's whole bench cost).
    val tf = tfOpt.getOrElse(docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // N and T in-plan as a 1-row broadcast (every doc has >= 1 token:
    // split always yields a non-empty array, so dl covers all docs)
    val stats = dl.agg(count(lit(1)).as("n"), sum("dl").as("t"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("dfq"))
    val qterms = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("tok")).distinct()
    val perTerm = tf
      .join(broadcast(qterms), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .join(dfreq, "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("num",
        dec(lit(44)) * dec(col("tf")) * dec(col("t")) *
          dec(lit(2) * (col("n") - col("dfq")) + lit(1)) * dec(lit(1000000L)))
      .withColumn("den",
        (dec(lit(20)) * dec(col("tf")) * dec(col("t")) +
          dec(lit(6)) * dec(col("t")) +
          dec(lit(18)) * dec(col("dl")) * dec(col("n"))) *
          dec(lit(2) * col("dfq") + lit(1)))
      .select(col("qid"), col("doc_id"),
        expr("CAST(num div den AS BIGINT)").as("s_fp"))
    val scored = perTerm.groupBy("qid", "doc_id")
      .agg(sum("s_fp").as("score_fp"))
    graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("qid")),
      order = Seq(col("score_fp").desc, col("doc_id").asc),
      k = k)
  }

  /** BM25 retrieval over the documents corpus: queries are docs with
    * `doc_id < 20`, k = 10. */
  /** The corpus inverted index (doc_id, tok, tf) — the artifact a real
    * retrieval system builds ONCE and serves every query from, cached
    * per (session, dir). Hash-partitioned on `tok` so the per-query
    * posting probes land without a shuffle of the index. */
  private val tfCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private def cachedTf(spark: SparkSession, dir: String): DataFrame =
    tfCache.get(spark, dir)(
      graft.Cut(load(spark, dir, "documents")
        .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
        .groupBy("doc_id", "tok")
        .agg(count(lit(1)).as("tf"))
        .repartition(spark.sparkContext.defaultParallelism, col("tok"))).df)

  def qBm25TopK(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 10): DataFrame =
    bm25TopK(load(spark, dir, "documents"), nQueries, k,
      tfOpt = Some(cachedTf(spark, dir)))

  /** Doc-to-doc weighted-Jaccard top-k: for each query document, the k
    * most similar OTHER documents by the token-multiset Jaccard
    * `Σmin(tf_q,tf_d) / Σmax(tf_q,tf_d)` — the sparse-lexical
    * counterpart of embedding near-dup, and a fully EXACT similarity:
    * `Σmax = |q| + |d| − Σmin`, so the score is one integer ppm
    * division with no IEEE arithmetic anywhere.
    *
    * Scale shape: the query side (nQueries docs × their tokens)
    * broadcasts into the shared inverted index (the cached BM25 tf
    * relation — one tokenize pass per corpus per session), Σmin
    * aggregates map-side on (qid, did), doc lengths join from a
    * doc-count-sized side table, and the ranking ships k rows per query
    * per partition through the native TopKPerKey operator. */
  def qDocJaccardTopK(
      spark: SparkSession, dir: String,
      nQueries: Int = 10, k: Int = 5): DataFrame = {
    val tf = cachedTf(spark, dir)
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    val qtf = tf.filter(col("doc_id") < nQueries)
      .select(col("doc_id").as("qid"), col("tok"), col("tf").as("qtf"))
    val inter = tf
      .join(broadcast(qtf), "tok")
      .filter(col("doc_id") =!= col("qid"))
      .groupBy(col("qid"), col("doc_id").as("did"))
      .agg(sum(least(col("tf"), col("qtf"))).as("inter"))
    val scored = inter
      .join(broadcast(dl.filter(col("doc_id") < nQueries)
        .select(col("doc_id").as("qid"), col("dl").as("qlen"))), "qid")
      .join(dl.select(col("doc_id").as("did"), col("dl").as("dlen")), "did")
      .select(col("qid"), col("did"),
        expr("inter * 1000000 div (qlen + dlen - inter)").as("sim_ppm"))
    graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("qid")),
      order = Seq(col("sim_ppm").desc, col("did").asc),
      k = k)
  }

  /** χ²-ranked feature selection: the k tokens most positively
    * associated with each language by the 2×2 document-frequency test —
    * the classic preprocessing step before training any text classifier
    * ([[qNaiveBayes]]'s natural companion; chi2 ranks what NB then
    * weighs). With a = df(tok, lang), b = docs(lang) − a,
    * c = df(tok) − a, d = N − docs(lang) − df(tok) + a:
    *   χ²·10³ = N·(ad − bc)²·1000 div ((a+b)(c+d)(a+c)(b+d))
    * — all-integer cross-multiplication (the ad−bc square stays within
    * decimal(38,0) at any corpus where N fits an int64's square root),
    * positive-association filter ad > bc, ranked by the native
    * [[graft.plans.TopKPerKey]] operator so only langs×k rows survive
    * the exchange. Document-level presence, not token counts, is the
    * standard chi2 contingency basis. */
  def qChi2Features(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val docs = load(spark, dir, "documents")
    val pres = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(tokens(col("text")))).as("tok"))
    val a = pres.groupBy("lang", "tok").agg(count(lit(1)).as("a"))
    val langN = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
    val dfTok = pres.groupBy("tok").agg(count(lit(1)).as("dft"))
    val n = docs.agg(count(lit(1)).as("n"))
    val scored = a
      .join(broadcast(langN), "lang")
      .join(dfTok, "tok")
      .crossJoin(broadcast(n))
      .withColumn("b", col("nl") - col("a"))
      .withColumn("c", col("dft") - col("a"))
      .withColumn("d", col("n") - col("nl") - col("dft") + col("a"))
      .filter(expr("a * d > b * c")) // positive association only
      .select(col("lang"), col("tok"),
        expr("cast(cast(n as decimal(38,0))" +
          " * (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)" +
          " * (cast(a as decimal(38,0)) * d - cast(b as decimal(38,0)) * c)" +
          " * 1000 div (cast(a + b as decimal(38,0)) * (c + d) * (a + c)" +
          " * (b + d)) as bigint)").as("chi2_milli"))
    graft.plans.TopK.topKPerKey(scored,
      keys = Seq(col("lang")),
      order = Seq(col("chi2_milli").desc, col("tok").asc),
      k = k)
  }

  /** Lexical-diversity census per language — the vocabulary-richness
    * panel (type-token ratio, hapax share, Simpson repeat probability)
    * that complements [[qRepetitionStats]]' per-document view with the
    * per-corpus one. Everything is an exact integer ratio in ppm:
    * Simpson's D is the collision probability Σc(c−1) / (N(N−1)) of
    * drawing the same type twice, hapaxes are count-1 types (Zipf's tail
    * mass — the sampling-sensitivity caveat applies at any scale, which
    * is why N rides along). One (lang, tok) aggregation — the same
    * bounded shuffle profile as tf-idf; every downstream number is a
    * k-row fold over the type table. */
  def qLexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
      .groupBy("lang", "tok").agg(count(lit(1)).as("c"))
      .groupBy("lang")
      .agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
        sum(expr("c * (c - 1)")).as("coll"))
      .select(col("lang"), col("n_tokens"), col("n_types"), col("n_hapax"),
        expr("n_types * 1000000 div n_tokens").as("ttr_ppm"),
        expr("n_hapax * 1000000 div n_types").as("hapax_ppm"),
        expr("cast(cast(coll as decimal(38,0)) * 1000000" +
          " div (cast(n_tokens as decimal(38,0)) * (n_tokens - 1))" +
          " as bigint)").as("simpson_ppm"))

  /** Per-language unigram entropy and KL divergence from the corpus
    * mixture — the information-theoretic corpus diagnostics next to
    * [[qLexicalDiversity]]'s type ratios: H says how predictable a
    * language's token stream is (what a compressor/tokenizer can
    * exploit); KL(lang ‖ corpus) says how far the language's unigram
    * distribution sits from the pooled stream (the signal behind
    * DSIR-style importance weights, reported as a per-language
    * scalar).
    *
    * Micronat discipline (the [[qNaiveBayes]] ln family): every term
    * is count · floor(10⁶·ln(ratio)) with the ratio built from the
    * SAME double expression text in both engines, summed in
    * decimal(38,0), one truncating division by N at the end. Every
    * language token appears in the corpus, so KL needs no smoothing
    * (g ≥ c > 0). One token aggregation + one type-table join —
    * map-side combinable at any scale; the type table is
    * Heaps-bounded. */
  def qTokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val toks = load(spark, dir, "documents")
      .select(col("lang"), explode(tokens(col("text"))).as("tok"))
    val cnt = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val langTot = cnt.groupBy("lang")
      .agg(sum("c").as("nn"), count(lit(1)).as("n_types"))
    val corp = toks.groupBy("tok").agg(count(lit(1)).as("g"))
    val corpTot = corp.agg(sum("g").as("gg"))
    cnt
      .join(broadcast(langTot), "lang")
      .join(corp, "tok")
      .crossJoin(broadcast(corpTot))
      .select(col("lang"), col("nn"), col("n_types"),
        expr("cast(c as decimal(38,0))" +
          " * cast(floor(ln(cast(nn as double) / c) * 1e6) as bigint)")
          .as("h_term"),
        expr("cast(c as decimal(38,0))" +
          " * cast(floor(ln(cast(c as double) * gg" +
          " / (cast(nn as double) * g)) * 1e6) as bigint)")
          .as("kl_term"))
      .groupBy("lang")
      .agg(first("nn").as("n_tokens"), first("n_types").as("n_types"),
        expr("cast(sum(h_term) div first(nn) as bigint)")
          .as("h_micronat"),
        expr("cast(sum(kl_term) div first(nn) as bigint)")
          .as("kl_micronat"))
  }

  /** Multinomial naive-Bayes language classifier, trained and evaluated
    * on the corpus itself (the resubstitution confusion matrix) — the
    * generative counterpart to [[qLangGuess]]'s n-gram heuristic and
    * the SGD classifier's discriminative score. Laplace-smoothed token
    * likelihoods per language plus a class prior, scored additively per
    * token occurrence, argmax with a lexicographic tiebreak.
    *
    * Determinism posture: weights are floor(1e6·ln((c+1)/(T+V))) — the
    * one ln-based family in the repo (the [[qPerplexity]] / HLL
    * linear-counting precedent). The floor boundary only flips when an
    * engine pair's ln differs across an integer multiple of 1e-6 in the
    * weight, i.e. with probability ~1e-9 per distinct (lang, token)
    * model cell; scores are sums of those shared integer weights, so
    * any discrepancy would be a single cell's ±1 micronat — far below
    * every argmax margin on real text. Scale shape: the model is a
    * (vocab × langs) relation built from one token aggregation — the
    * standing artifact a 100 TB run would bucket by token; the scoring
    * pass is one equi-join of the token stream against it (langs
    * multiply the stream by k, not the corpus by vocab), one (doc,
    * lang) aggregation, one per-doc argmax window. */
  def qNaiveBayes(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    val toks = docs.select(col("doc_id"), col("lang"),
      explode(tokens(col("text"))).as("tok"))
    val cnt = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val langTot = cnt.groupBy("lang").agg(sum("c").as("t"))
    val vocabN = cnt.select("tok").distinct().agg(count(lit(1)).as("v"))
    // dense (tok × lang) weight grid: unseen cells get the same Laplace
    // floor weight as any once-removed token (c = 0)
    val grid = cnt.select("tok").distinct()
      .crossJoin(broadcast(langTot))
      .join(cnt, Seq("lang", "tok"), "left")
      .na.fill(0L, Seq("c"))
      .crossJoin(broadcast(vocabN))
      .select(col("lang").as("mlang"), col("tok"),
        floor(log((col("c") + 1).cast("double") / (col("t") + col("v"))
          .cast("double")) * 1e6).cast("long").as("w"))
    val prior = docs.groupBy("lang").agg(count(lit(1)).as("nd"))
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n"))))
      .select(col("lang").as("mlang"),
        floor(log(col("nd").cast("double") / col("n").cast("double")) * 1e6)
          .cast("long").as("prior_w"))
    val scored = toks
      .join(grid, "tok") // k langs per token occurrence
      .groupBy(col("doc_id"), col("lang"), col("mlang"))
      .agg(sum("w").as("tok_w"))
      .join(broadcast(prior), "mlang")
      .withColumn("score", col("tok_w") + col("prior_w"))
    val pick = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("mlang").asc)
    scored
      .withColumn("rn", row_number().over(pick))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("mlang").as("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
  }
}
