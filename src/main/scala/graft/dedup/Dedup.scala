package graft.dedup

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.relational.Tables

/** Deduplication operators for a training-data pipeline: exact,
  * n-gram-Jaccard, MinHash+LSH, and SimHash near-dup detection over the
  * `documents` table.
  *
  * Scale design: shingling, signatures and banding are all per-row column
  * expressions (no UDFs, no explode until the last possible moment). The
  * only shuffles are (a) the band-bucket grouping — whose fan-in is bounded
  * by band-hash cardinality, not corpus size — and (b) the candidate-pair
  * verification join, whose size LSH keeps near-linear. A naive
  * all-pairs token join would be quadratic in documents-per-token and is
  * exactly what this module avoids at 100 TB.
  *
  * Pipeline ORDER contract: run [[qDedupExact]] (or the `dedup_exact()`
  * TVF) BEFORE the pairwise near-dup operators. Identical texts share
  * every shingle, signature and band, so a group of m verbatim copies
  * contributes m²/2 candidate pairs to EVERY pairwise relation here —
  * work and output that exact dedup removes for one cheap content-hash
  * aggregation. (Real crawl corpora are 20-30% exact dups with huge
  * degenerate groups — empty pages, boilerplate.) The r11 sf1 sentinel
  * measured exactly this multiplicity² shape on duplicate part NAMES in
  * the edit-distance family, which is why [[qEditDistancePairs]] is
  * dictionary-first internally; the text operators keep the raw-doc_id
  * relation (their published output) and delegate degenerate-group
  * removal to the exact pass that every corpus pipeline runs first
  * ([[graft.pipeline.TrainingData.qCorpusBuild]] stages it that way).
  */
object Dedup {

  import Tables.load

  /** Exact dedup with a deterministic keeper: groups of identical texts,
    * keyed by content hash, keeping the smallest doc_id. */
  def qDedupExact(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .filter(col("n_copies") > 1)

  /** Contiguous 4-token shingles (distinct per doc) via the native
    * single-pass [[graft.text.ShingleSet]] kernel (the HOF formulation —
    * `transform` + `slice` + `array_join` + `array_distinct` — evaluates
    * interpreted and costs ~2× on the dedup hot path). 4-gram shingles
    * keep the shingle vocabulary large enough that the candidate join
    * stays near-linear (see module scaladoc). */
  def shingles(text: Column, n: Int = 4): Column =
    graft.functions.shingle_set(text, n)

  /** Documents hash-repartitioned on `doc_id`: shingling/signature maps
    * then run on all cores even when the source parquet is one split
    * (locally it is; at scale the repartition cost is noise next to the
    * per-token work it parallelizes). */
  private def docs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .repartition(spark.sparkContext.defaultParallelism, col("doc_id"))

  /** Per-doc distinct shingle ARRAYS, computed once and cached: every
    * consumer (signature generation, candidate explode, exact-Jaccard
    * verification) branches from this frame, and without the cut each
    * branch would re-run the shingling kernel over the corpus. The cache
    * holds one string array per document — at 100 TB this is the
    * materialized intermediate you would write to a staging table between
    * pipeline stages, not an unbounded driver-side structure.
    *
    * ONE cut frame per (session, dir): repeated query invocations
    * (a benchmark loop, a notebook) must reuse the cache entry, not stack
    * a new one per call. */
  private val shingleCache =
    graft.SessionCache.frames[String](graft.SessionCache.Artifact)

  private[graft] def shingleArrays(spark: SparkSession, dir: String): DataFrame =
    shingleCache.get(spark, dir)(
      graft.Cut(docs(spark, dir)
        .select(col("doc_id"), shingles(col("text")).as("sh_arr"))).df)

  /** Hot shingle TYPE list (document frequency > maxDf) per (session,
    * dir, maxDf) — a corpus artifact under the same intermediate-cache
    * contract as [[shingleArrays]]: the df aggregation over the shingle
    * stream is one full map-side-combinable shuffle, and every capped
    * consumer (Jaccard, containment, repeated bench runs) must probe the
    * SAME tiny cut list instead of re-aggregating the corpus. */
  private val hotShingleCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Artifact)

  private def hotShingles(
      spark: SparkSession, dir: String, maxDf: Int): DataFrame =
    hotShingleCache.get(spark, (dir, maxDf)) {
      val sh = shingleArrays(spark, dir)
        .select(col("doc_id"), explode(col("sh_arr")).as("sh"))
      // the list is tiny, the aggregation isn't
      graft.Cut(sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("sh")).df
    }

  /** Per-doc shingle ARRAYS over the df ≤ maxDf universe — the capped
    * twin of [[shingleArrays]], capped at the ARRAY level
    * (`array_except` against the broadcast hot list) rather than by
    * anti-joining the exploded stream: the Jaccard/containment plans
    * reference the shingle relation THREE times (both self-join sides +
    * sizes), and a stream-side anti join would re-pay the probe per
    * reference, while capped arrays restore the exact uncapped plan
    * shape (sizes are a projection again, no extra shuffle). When the
    * corpus has NO hot shingle — every test SF — the cached uncapped
    * arrays are returned as-is: zero cost until a boilerplate key
    * actually appears. */
  private val cappedArrCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Artifact)

  private def cappedShingleArrays(
      spark: SparkSession, dir: String, maxDf: Int): DataFrame = {
    if (maxDf == Int.MaxValue) return shingleArrays(spark, dir)
    val hot = hotShingles(spark, dir, maxDf)
    if (hot.isEmpty) shingleArrays(spark, dir)
    else cappedArrCache.get(spark, (dir, maxDf))(
      graft.Cut(shingleArrays(spark, dir)
        .crossJoin(broadcast(hot.agg(collect_list("sh").as("hot_arr"))))
        .select(col("doc_id"),
          array_except(col("sh_arr"), col("hot_arr")).as("sh_arr"))).df)
  }

  /** Distributed global rarity rank of the shingle TYPE table: total
    * order by (freq, sh), rarest first, rank contiguous from 1. The
    * shingle universe grows LINEARLY with the corpus, so the naive
    * `row_number().over(Window.orderBy(...))` formulation — fine for the
    * bounded-cardinality histograms elsewhere in the repo — would funnel
    * a corpus-sized relation through one task here. Instead the sort
    * stays distributed (range-partition exchange on (freq, sh) +
    * within-partition sort; range partitions are emitted in key order)
    * and the contiguous rank comes from `zipWithIndex`, whose only extra
    * cost is one per-partition count pass for the offsets — the same
    * total-order-at-scale pattern as
    * [[graft.pipeline.TrainingData.qGlobalShuffle]]. */
  private def rarityRank(spark: SparkSession, sh: DataFrame): DataFrame = {
    import spark.implicits._
    val parts = math.max(spark.sparkContext.defaultParallelism, 1)
    sh.groupBy("sh").agg(count(lit(1)).as("freq"))
      .repartitionByRange(parts, col("freq"), col("sh"))
      .sortWithinPartitions("freq", "sh")
      .select("sh").rdd
      .zipWithIndex()
      .map { case (r, i) => (r.getString(0), i + 1L) }
      .toDF("sh", "rk")
  }

  /** Exact-Jaccard verification of candidate (d1, d2) pairs from cached
    * shingle arrays: two equi-joins fetch the arrays, and the
    * intersection/union counts come from a per-pair `array_intersect` —
    * no re-shingling, no candidate×shingle explode through a shuffle. */
  private def verifyJaccard(
      candidates: DataFrame, shArr: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(shArr.select(col("doc_id").as("d1"), col("sh_arr").as("arr1")), "d1")
      .join(shArr.select(col("doc_id").as("d2"), col("sh_arr").as("arr2")), "d2")
      .withColumn("inter", size(array_intersect(col("arr1"), col("arr2"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("arr1")) + size(col("arr2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))

  /** Shingle stream with document-frequency > `maxDf` types removed —
    * the PPJoin-standard hot-shingle cap: a boilerplate shingle (license
    * header, nav bar) shared by F documents makes the shared-shingle
    * self-join emit F² rows for that one type, a quadratic hot key on
    * real web data. Shingles that frequent carry ~no similarity signal,
    * so the cap drops them from BOTH the candidate join and the
    * size/intersection accounting (Jaccard/containment are then computed
    * over the capped shingle universe — the oracle CTEs mirror the same
    * universe). The hot TYPE list is tiny (≤ total-shingles/maxDf
    * types, in practice the boilerplate set), so the anti join
    * broadcasts under AQE; the stream itself never re-shuffles. */
  private[dedup] def capHotShingles(sh: DataFrame, maxDf: Int): DataFrame =
    if (maxDf == Int.MaxValue) sh
    else {
      val hot = sh.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("sh")
      sh.join(hot, Seq("sh"), "left_anti")
    }

  /** Exact n-gram (4-token shingle) Jaccard near-dup pairs at
    * threshold >= 0.5, over the df ≤ `maxDf` shingle universe
    * ([[capHotShingles]] — bounds the self-join's per-type fan-out to
    * maxDf² instead of corpus-quadratic on boilerplate). The
    * shingle-keyed self-join EMITS one row per shared shingle, so
    * `count` per (d1, d2) IS the exact intersection — one
    * map-side-combinable aggregation, no distinct pass and no per-pair
    * array re-intersection; union sizes count the same capped universe.
    * Integer intersection/union counts; the single division is
    * deterministic, so an SQL oracle matches exactly. */
  def qNgramJaccardPairs(
      spark: SparkSession, dir: String, threshold: Double = 0.5,
      maxDf: Int = 1000): DataFrame =
    ngramJaccardOverArrays(cappedShingleArrays(spark, dir, maxDf), threshold)

  /** [[qNgramJaccardPairs]] over a frame of shingle arrays
    * ([[shingleArraysOf]]) — also the spec's entry for exercising the
    * hot-shingle cap on synthetic boilerplate corpora (no session cache:
    * the frame path caps the exploded stream inline and re-derives
    * sizes from it — same capped universe, uncached shape). */
  private[graft] def ngramJaccardPairsOf(
      shArr: DataFrame, threshold: Double = 0.5,
      maxDf: Int = 1000): DataFrame = {
    val sh = capHotShingles(
      shArr.select(col("doc_id"), explode(col("sh_arr")).as("sh")), maxDf)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    ngramJaccardJoin(sh, sizes, threshold)
  }

  private def ngramJaccardOverArrays(
      shArr: DataFrame, threshold: Double): DataFrame =
    ngramJaccardJoin(
      shArr.select(col("doc_id"), explode(col("sh_arr")).as("sh")),
      shArr.select(col("doc_id"), size(col("sh_arr")).cast("long").as("sz")),
      threshold)

  private def ngramJaccardJoin(
      sh: DataFrame, sizes: DataFrame, threshold: Double): DataFrame =
    sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), round(col("jaccard"), 6).as("jaccard"))

  /** Prefix-filtered set-similarity self-join (AllPairs / PPJoin
    * lineage: Bayardo et al. 2007) at Jaccard ≥ 3/5 — the LOSSLESS
    * upgrade of the shared-shingle candidate generator: under any fixed
    * total order of the shingle universe, two sets with Jaccard ≥ τ
    * MUST collide inside their (1−τ)-fraction prefixes, so only prefix
    * entries enter the candidate join. The order used is global rarity
    * (frequency, then shingle — rarest first), which both satisfies the
    * theorem and minimizes fan-out, since the head of every prefix is
    * the least-shared shingle the doc owns. A symmetric length filter
    * (3·|a| ≤ 5·|b| ∧ 3·|b| ≤ 5·|a|) prunes inside the join condition.
    *
    * Scale shape: the rarity rank is the DISTRIBUTED total order of
    * [[rarityRank]] over the shingle TYPE table (which grows linearly
    * with the corpus — a one-partition window here would be the scale
    * killer); candidates then verify via the cached arrays. At sf0.001
    * this generates ~3x fewer candidates than the shared-shingle join
    * (DedupSpec measures it); the gap widens with corpus size because
    * frequent shingles leave every prefix. Gate and outputs are exact
    * integers (5·∩ ≥ 3·∪; ppm by integer division), so the quadratic
    * DuckDB oracle matches bit-for-bit. */
  def qSetSimJoin(spark: SparkSession, dir: String): DataFrame = {
    val shArr = shingleArrays(spark, dir)
    val sh = shArr.select(col("doc_id"), explode(col("sh_arr")).as("sh"))
    val sizes = shArr.select(col("doc_id"),
      size(col("sh_arr")).cast("long").as("sz"))
    val rank = rarityRank(spark, sh)
    // prefix length p = n − ceil(3n/5) + 1, all integer arithmetic
    val prefix = sh.join(rank, "sh").join(sizes, "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("rk")))
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
      .select(col("doc_id"), col("sh"), col("sz"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 3 <= col("b.sz") * 5 &&
          col("b.sz") * 3 <= col("a.sz") * 5)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    cand
      .join(shArr.select(col("doc_id").as("d1"), col("sh_arr").as("arr1")), "d1")
      .join(shArr.select(col("doc_id").as("d2"), col("sh_arr").as("arr2")), "d2")
      .withColumn("inter",
        size(array_intersect(col("arr1"), col("arr2"))).cast("long"))
      .withColumn("uni",
        size(col("arr1")) + size(col("arr2")) - col("inter"))
      .filter(col("inter") * 5 >= col("uni") * 3)
      .select(col("d1"), col("d2"), col("inter"),
        col("uni").cast("long").as("uni"),
        expr("(inter * 1000000) div uni").as("jac_ppm"))
  }

  /** Candidate-pair count of the prefix-filtered generator vs the plain
    * shared-shingle generator (the DedupSpec pruning gauge). */
  private[graft] def setSimCandidateCounts(
      spark: SparkSession, dir: String): (Long, Long) = {
    val shArr = shingleArrays(spark, dir)
    val sh = shArr.select(col("doc_id"), explode(col("sh_arr")).as("sh"))
    val shared = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    val sizes = shArr.select(col("doc_id"),
      size(col("sh_arr")).cast("long").as("sz"))
    val rank = rarityRank(spark, sh)
    val prefix = sh.join(rank, "sh").join(sizes, "doc_id")
      .withColumn("pos", row_number().over(
        Window.partitionBy("doc_id").orderBy("rk")))
      .filter(col("pos") <= col("sz") - expr("(3 * sz + 4) div 5") + 1)
    val pruned = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          col("a.sz") * 3 <= col("b.sz") * 5 &&
          col("b.sz") * 3 <= col("a.sz") * 5)
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    (pruned, shared)
  }

  /** Asymmetric shingle containment — the partial-duplication signal
    * Jaccard misses: a short document pasted inside a much longer one has
    * low Jaccard but containment ≈ 1 from the short side. Emits DIRECTED
    * pairs (`d1` contained in `d2`) at containment = |A∩B| / |A| ≥ 0.9,
    * via the same shared-shingle equi-join as exact Jaccard (the count
    * per ordered pair IS the intersection), over the df ≤ `maxDf`
    * capped universe ([[capHotShingles]]) so candidate fan-in is HARD
    * bounded by maxDf per shingle type — never all-pairs, never
    * boilerplate-quadratic. The gate compares integers
    * (10·inter ≥ 9·|A|); the reported containment is one deterministic
    * division. Documents with fewer than 5 capped shingles are skipped:
    * a two-shingle doc "contained" anywhere is noise, and the floor
    * keeps the relation stable as the corpus grows. */
  def qContainmentPairs(
      spark: SparkSession, dir: String, minShingles: Int = 5,
      maxDf: Int = 1000): DataFrame = {
    val shArr = cappedShingleArrays(spark, dir, maxDf)
    val sh = shArr.select(col("doc_id"), explode(col("sh_arr")).as("sh"))
    val sizes = shArr.select(col("doc_id"),
      size(col("sh_arr")).cast("long").as("sz"))
    sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .filter(col("sz1") >= minShingles &&
        col("inter") * 10 >= col("sz1").cast("long") * 9)
      .select(col("d1"), col("d2"),
        round(col("inter").cast("double") / col("sz1"), 6).as("containment"))
  }

  /** MinHash signature of `numHashes` permutations over a shingle-array
    * column, via the native one-pass [[graft.text.MinHashSig]] kernel
    * (k running minima per row; the HOF formulation hashes every shingle
    * k times through interpreted lambdas). NULL for empty shingle sets. */
  def minhashSignature(shingleCol: Column, numHashes: Int): Column =
    graft.functions.minhash_sig(shingleCol, numHashes)

  /** Per-doc (band, bucket) LSH keys from MinHash signatures — the
    * "signature store" relation: at scale this is what a pipeline
    * persists between ingests so a new batch can probe it without
    * re-signing the corpus. */
  private def bandedOf(
      shArr: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    val sigs = shArr
      .select(col("doc_id"), minhashSignature(col("sh_arr"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)
    sigs.select(
      col("doc_id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => xxhash64(b, slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))))
        .as(Seq("band", "bucket")))
  }

  /** Per-doc distinct shingle arrays of an arbitrary `(doc_id, text)`
    * frame — the frame-based entry the streaming/incremental path uses
    * (the dir-based queries go through the cached [[shingleArrays]]). */
  def shingleArraysOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingles(col("text")).as("sh_arr"))

  /** MinHash + LSH near-dup pairs: signatures → banded bucket join for
    * candidates → exact Jaccard verification. Scale path for near-dedup:
    * candidate generation is linear in corpus size (band-bucket grouping),
    * never all-pairs. Approximate in recall only — every reported pair is
    * exact-verified. */
  def qMinhashLshPairs(
      spark: SparkSession, dir: String,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    minhashLshPairsOf(shingleArrays(spark, dir), numHashes, bands, threshold)

  /** [[qMinhashLshPairs]] over a frame of shingle arrays
    * ([[shingleArraysOf]]). */
  def minhashLshPairsOf(
      shArr: DataFrame,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val banded = bandedOf(shArr, numHashes, bands)
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    verifyJaccard(candidates, shArr, threshold)
  }

  /** DELTA variant of [[qMinhashLshPairs]] for incremental ingest: every
    * verified near-dup pair TOUCHING a new-batch document (`isNew` on
    * its doc_id), found by probing the new docs' band signatures against
    * the full signature store. The probe side is the batch, the build
    * side the store, the join a band-bucket equi-join — work is linear
    * in batch size (× bucket fan-in), never corpus-quadratic, which is
    * what makes per-ingest dedup affordable at 100 TB. Because both
    * band-bucket collision and Jaccard verification are PAIRWISE
    * properties, the delta relation is exactly the full-corpus pair
    * relation restricted to pairs with a new endpoint — no recall drift
    * vs recomputing from scratch. */
  def minhashLshPairsDelta(
      spark: SparkSession, dir: String, isNew: Column => Column,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame =
    minhashLshPairsDeltaOf(shingleArrays(spark, dir), isNew,
      numHashes, bands, threshold)

  /** [[minhashLshPairsDelta]] over a frame of shingle arrays covering the
    * WHOLE corpus (store + batch) — the streaming ingest entry point. */
  def minhashLshPairsDeltaOf(
      shArr: DataFrame, isNew: Column => Column,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val banded = bandedOf(shArr, numHashes, bands)
    deltaPairs(shArr, banded.filter(isNew(col("doc_id"))), banded, threshold)
  }

  /** [[minhashLshPairsDeltaOf]] with batch membership given as an id
    * FRAME (a streaming micro-batch is a relation, not an id formula):
    * the probe side is a semi-join of the signature store against the
    * batch ids — still linear in batch size at any corpus size. */
  def minhashLshPairsDeltaIds(
      shArr: DataFrame, newIds: DataFrame,
      numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    val banded = bandedOf(shArr, numHashes, bands)
    deltaPairs(shArr,
      banded.join(newIds.select("doc_id"), Seq("doc_id"), "left_semi"),
      banded, threshold)
  }

  private def deltaPairs(
      shArr: DataFrame, probe: DataFrame, banded: DataFrame,
      threshold: Double): DataFrame = {
    // canonicalize (lo, hi) then dedup: a new-new pair collides from both
    // probe directions, a new-old pair from one; distinct unifies both
    val candidates = probe.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("d1"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
      .distinct()
    verifyJaccard(candidates, shArr, threshold)
  }

  /** 64-bit SimHash signature: per-bit majority vote over token hashes,
    * emitted as 4 × 16-bit band values (bands double as LSH buckets).
    * Computed by the native one-pass [[graft.text.SimHashBands]] kernel —
    * a pure map; the explode-then-64-aggregates formulation costs a full
    * groupBy shuffle of every token in the corpus. `md5Hash` selects the
    * engine-portable token hash (oracle-checkable) over XXH64 (fast). */
  private def simhashBands(
      spark: SparkSession, dir: String, md5Hash: Boolean): DataFrame = {
    val sig = graft.functions.simhash_bands(col("text"), md5Hash)
    docs(spark, dir)
      .select(col("doc_id") +: (0 until 4).map(k =>
        element_at(sig, k + 1).as(s"band$k")): _*)
  }

  /** Edit-distance fuzzy dedup over part names, blocked on the COMPOUND
    * key (brand, length): `levenshtein(a, b) >= |len(a) - len(b)|`, so a
    * pair at distance <= maxDist can only live within a ±maxDist length
    * window — the probe side explodes each name into its 2·maxDist+1
    * admissible partner lengths and the join is a pure equi-join on
    * (brand, length). This is PROVABLY lossless (the length-lower-bound
    * lemma, property-tested in DedupSpec), so the result relation — and
    * the oracle — are identical to the brand-only join, while the band
    * key's cardinality is brands × distinct-lengths instead of a fixed 25,
    * and each pair is matched at exactly one (brand, length) bucket (no
    * dedup pass needed).
    *
    * Per-pair work is bounded too: the banded `levenshtein(_, _, maxDist)`
    * computes only the 2·maxDist+1 diagonal stripe of the DP matrix and
    * early-exits (returning -1) when the distance exceeds the bound —
    * O(len·maxDist) instead of O(len²) on the ~never-matching majority.
    * At 100 TB the same discipline extends to content-derived segment keys
    * (PassJoin-style partition signatures) when length alone leaves bands
    * too heavy; the length band is the right first cut because it costs
    * one integer per row. */
  def qEditDistancePairs(
      spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame = {
    val part = Tables.load(spark, dir, "part")
      .select(col("p_partkey"), col("p_brand"), col("p_name"))
    // DICTIONARY-FIRST (r11): the banded DP runs once per distinct
    // (brand, name) PAIR, never per key pair — with duplicate names (a
    // real catalog's default; the sf1 sentinel measured the row-level
    // formulation at 67x under 10x data with saturated blocks) the
    // row-level join repeats the identical levenshtein multiplicity²
    // times. Key pairs come back from two name-keyed equi-joins; the
    // output relation (and the oracle) are unchanged — same-name key
    // pairs surface as dist-0 rows exactly as before.
    val names = part.select(col("p_brand"), col("p_name"),
        length(col("p_name")).as("len")).distinct()
      .repartition(spark.sparkContext.defaultParallelism, col("p_brand"),
        col("len"))
    val probes = names.select(col("p_brand"), col("p_name").as("n1"),
      explode(sequence(col("len") - maxDist, col("len") + maxDist)).as("plen"))
    // each unordered name pair meets at exactly one (brand, plen) bucket
    // under the n1 <= n2 order (n1 == n2 is the same dictionary row
    // joining itself at plen == len: the duplicate-name group)
    val namePairs = probes
      .join(names.select(col("p_brand"), col("p_name").as("n2"),
          col("len").as("plen")),
        Seq("p_brand", "plen"))
      .filter(col("n1") <= col("n2"))
      .select(col("p_brand"), col("n1"), col("n2"),
        levenshtein(col("n1"), col("n2"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
    val keys = part.select(col("p_brand"), col("p_name"), col("p_partkey"))
    namePairs
      .join(keys.select(col("p_brand"), col("p_name").as("n1"),
          col("p_partkey").as("ka")), Seq("p_brand", "n1"))
      .join(keys.select(col("p_brand"), col("p_name").as("n2"),
          col("p_partkey").as("kb")), Seq("p_brand", "n2"))
      // same-name groups orient inside the group; distinct-name pairs
      // appear once (disjoint key groups) and orient by least/greatest
      .filter(col("n1") =!= col("n2") || col("ka") < col("kb"))
      .select(least(col("ka"), col("kb")).as("k1"),
        greatest(col("ka"), col("kb")).as("k2"), col("dist"))
  }

  /** SimHash near-dup pairs: candidates share at least one 16-bit band
    * (pigeonhole: hamming<=3 guarantees a shared band), verified by exact
    * hamming distance over the full 64-bit signature. */
  def qSimhashPairs(
      spark: SparkSession, dir: String, maxHamming: Int = 3,
      md5Hash: Boolean = false): DataFrame = {
    val sigs = simhashBands(spark, dir, md5Hash)
    val banded = sigs.select(col("doc_id"),
      posexplode(array((0 until 4).map(k => col(s"band$k")): _*))
        .as(Seq("band", "value")))
    val candidates = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.value") === col("b.value") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val sigA = sigs.select(col("doc_id").as("d1") +:
      (0 until 4).map(k => col(s"band$k").as(s"a$k")): _*)
    val sigB = sigs.select(col("doc_id").as("d2") +:
      (0 until 4).map(k => col(s"band$k").as(s"b$k")): _*)
    val hamming = (0 until 4).map(k =>
      bit_count(col(s"a$k").bitwiseXOR(col(s"b$k")))).reduce(_ + _)
    candidates.join(sigA, "d1").join(sigB, "d2")
      .withColumn("hamming", hamming.cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("d1", "d2", "hamming")
  }

  /** LSH design evaluation — "measure, don't guess" for the banded
    * MinHash candidate generator: the confusion census of raw band
    * collisions against exact-Jaccard ground truth, as one distributed
    * query. The production signature kernel hashes with XXH64 (fast,
    * not SQL-replayable), so this eval runs an md5-permutation TWIN of
    * the same banding scheme — min over shingles of the first 60 bits
    * of md5("mh<seed>:"||shingle) per permutation, band bucket = the
    * joined signature slice — making every count (and the derived
    * precision/recall ppm, truncating division) bit-exact in any
    * engine. Ground truth reuses the shared-shingle exact-Jaccard join
    * (never all-pairs: a true pair at threshold >= 0.5 must share a
    * shingle). At 100 TB the eval costs one extra pass over the
    * signature store and is how a pipeline picks (bands, rows) before
    * committing a full dedup sweep: recall_ppm bounds what the sweep
    * misses, precision_ppm prices the verification stage's fan-in. */
  def qMinhashEval(
      spark: SparkSession, dir: String,
      numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val shArr = shingleArrays(spark, dir)
    val ex = shArr.select(col("doc_id"), explode(col("sh_arr")).as("sh"))
    // Shape note (r11 adjudication): hashing per distinct shingle TYPE
    // and joining back was measured 2x SLOWER isolated (2.44 s vs 1.25 s
    // median, n=5, sf0.1) — the type-distinct + join-back shuffles of the
    // occurrence stream cost more than the md5s they save, while this
    // direct form aggregates map-side (partial min per doc) with no
    // pre-aggregation shuffle at all. Keep the md5s inline.
    val mins = ex.groupBy("doc_id").agg(
      min(permHash(0)).as("m0"),
      (1 until numHashes).map(s => min(permHash(s)).as(s"m$s")): _*)
    val banded = mins.select(col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        concat_ws(":", (0 until rows).map(i =>
          col(s"m${b * rows + i}")): _*)): _*)).as(Seq("band", "bucket")))
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    // ground truth = the TRUE Jaccard relation (uncapped): the eval
    // prices the LSH scheme against reality, not the capped universe
    val truth = qNgramJaccardPairs(spark, dir, threshold, maxDf = Int.MaxValue)
      .select("d1", "d2")
    cand.withColumn("c", lit(1))
      .join(truth.withColumn("t", lit(1)), Seq("d1", "d2"), "full_outer")
      .agg(
        sum(when(col("c") === 1 && col("t") === 1, 1).otherwise(0))
          .cast("long").as("tp"),
        sum(when(col("c") === 1 && col("t").isNull, 1).otherwise(0))
          .cast("long").as("fp"),
        sum(when(col("c").isNull && col("t") === 1, 1).otherwise(0))
          .cast("long").as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        expr("CASE WHEN tp + fp > 0 THEN (1000000 * tp) div (tp + fp) END")
          .as("precision_ppm"),
        expr("CASE WHEN tp + fn > 0 THEN (1000000 * tp) div (tp + fn) END")
          .as("recall_ppm"))
  }

  /** Per-document shingle novelty — the corpus-freshness census a
    * pipeline reads before ingesting another crawl snapshot: for each
    * document, the ppm share of its distinct 4-token shingles whose
    * FIRST corpus occurrence (minimum doc_id over the whole lake) is
    * this document. Boilerplate-heavy or near-duplicate documents score
    * near 0; genuinely new text scores near 10⁶. Ordering is by doc_id
    * (the lake's ingest order) — the same "first seen wins" contract as
    * keep-best dedup.
    *
    * Scale shape: one first-seen aggregation over the shared cached
    * shingle stream (map-side combinable min), one shingle-keyed join
    * back, one per-doc count — no window, no self-join. Shingle-less
    * documents (under 4 tokens) surface with zero counts rather than
    * dropping out. */
  def qNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleArrays(spark, dir)
      .select(col("doc_id"), explode(col("sh_arr")).as("sh"))
    val firstSeen = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    val perDoc = sh.join(firstSeen, "sh")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
    load(spark, dir, "documents").select("doc_id", "source")
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr(
        "case when n_shingles = 0 then 0L" +
          " else (1000000 * n_novel) div n_shingles end"))
  }

  /** TF-WEIGHTED Jaccard near-dup pairs — the multiset refinement of
    * [[qNgramJaccardPairs]]: J_w = Σ_s min(tf_a, tf_b) / Σ_s max(tf_a,
    * tf_b) over NON-distinct 4-token shingle counts, which separates
    * documents that share shingle TYPES but repeat them very
    * differently (a page quoting a sentence once vs a spam page looping
    * it fifty times tie under set Jaccard and diverge here). Uses the
    * identity Σmax = tot_a + tot_b − Σmin, so only SHARED types enter
    * the pairwise join — one row per shared (pair, type), summed
    * map-side. Same PPJoin hot cap as the set variant (type document
    * frequency > maxDf dropped from candidates AND totals — the oracle
    * CTE mirrors the capped universe), so per-type fan-out stays ≤
    * maxDf². All-integer gate 2·Σmin ≥ Σmax (threshold 0.5); ppm by
    * integer division. */
  def qWeightedJaccard(
      spark: SparkSession, dir: String, maxDf: Int = 1000): DataFrame = {
    // capped tf table cut per (session, dir, maxDf) — THREE plan
    // references (both self-join sides + totals) and repeated bench
    // runs reuse one materialization, the shingleCache contract
    val ctf = tfCache.get(spark, (dir, maxDf)) {
      val tf = docs(spark, dir)
        .select(col("doc_id"),
          explode(graft.functions.shingle_list(col("text"), 4)).as("sh"))
        .groupBy("doc_id", "sh").agg(count(lit(1)).as("tf"))
      val hot = tf.groupBy("sh").agg(count(lit(1)).as("df"))
        .filter(col("df") > maxDf).select("sh")
      graft.Cut(tf.join(hot, Seq("sh"), "left_anti")).df
    }
    val tot = ctf.groupBy("doc_id").agg(sum("tf").as("tot"))
    val inter = ctf.select(col("doc_id").as("d1"), col("sh"),
        col("tf").as("tf1"))
      .join(ctf.select(col("doc_id").as("d2"), col("sh"),
        col("tf").as("tf2")), "sh")
      .filter(col("d1") < col("d2"))
      .groupBy("d1", "d2")
      .agg(sum(least(col("tf1"), col("tf2"))).as("inter_w"))
    inter
      .join(tot.select(col("doc_id").as("d1"), col("tot").as("t1")), "d1")
      .join(tot.select(col("doc_id").as("d2"), col("tot").as("t2")), "d2")
      .withColumn("union_w", col("t1") + col("t2") - col("inter_w"))
      .filter(expr("2 * inter_w >= union_w"))
      .select(col("d1"), col("d2"), col("inter_w"), col("union_w"),
        expr("inter_w * 1000000 div union_w").as("jw_ppm"))
  }

  /** Capped per-doc shingle tf table per (session, dir, maxDf) — the
    * [[shingleArrays]] intermediate-cache contract for the WEIGHTED
    * (non-distinct) shingle universe. */
  private val tfCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Artifact)

  /** Permutation `s` of the md5-twin MinHash: first 15 hex chars (60
    * bits, sign-safe in a BIGINT) of md5("mh<s>:"||shingle). */
  private def permHash(s: Int): Column =
    conv(substring(md5(concat(lit(s"mh$s:"), col("sh"))), 1, 15), 16, 10)
      .cast("long")

  /** Entity resolution over the part-name dictionary — the
    * block → verify → cluster → canonicalize pipeline of record
    * linkage: names dedupe to a dictionary FIRST (the at-scale move —
    * pairwise work runs on distinct names, never on rows), blocking on
    * the last name token bounds candidate generation to within-block
    * pairs, `levenshtein ≤ maxEdit` verifies, and connected components
    * (min-member label, the [[graft.pipeline.TrainingData]]
    * star-contraction machinery) merge transitive matches. Every name
    * — including singletons — gets an entity; the canonical name is the
    * label member's (label = min name_id, so it is unique by
    * construction). Census per entity: name variants, physical rows,
    * canonical string.
    *
    * Scale shape: the dictionary is corpus-distinct (Heaps-bounded for
    * names), blocks bound the quadratic verify to block² — the
    * documented ER posture (a skewed block would get a second key, the
    * hot-shingle-cap discipline); the component solve is O(log d)
    * rounds. */
  def qErEntities(
      spark: SparkSession, dir: String, maxEdit: Int = 2): DataFrame = {
    val names = Tables.load(spark, dir, "part")
      .groupBy("p_name")
      .agg(min("p_partkey").as("name_id"), count(lit(1)).as("n_parts"))
      .withColumn("block", element_at(split(col("p_name"), " "), -1))
    val cand = names
      .select(col("block"), col("p_name").as("name_a"),
        col("name_id").as("id_a"))
      .join(names.select(col("block"), col("p_name").as("name_b"),
        col("name_id").as("id_b")), "block")
      .filter(col("id_a") < col("id_b"))
      .filter(levenshtein(col("name_a"), col("name_b")) <= maxEdit)
    val cc = graft.pipeline.TrainingData.connectedComponents(
      cand.select(col("id_a").as("d1"), col("id_b").as("d2")), spark)
    val labeled = names
      .join(cc.select(col("doc_id").as("name_id"), col("cluster_id")),
        Seq("name_id"), "left")
      .withColumn("entity_id",
        coalesce(col("cluster_id"), col("name_id")))
    labeled.groupBy("entity_id")
      .agg(count(lit(1)).as("n_names"), sum("n_parts").as("n_parts"))
      .join(labeled.filter(col("name_id") === col("entity_id"))
        .select(col("entity_id"), col("p_name").as("canonical_name")),
        "entity_id")
  }
}
