package graft.similarity

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.functions.vec_dot
import graft.relational.Tables

/** Similarity search over the `embeddings` table (`Array[Float]`, 64-dim,
  * unit-norm).
  *
  * Two paths:
  *   - [[qAnnBruteForce]]: exact cosine top-k — the correctness baseline.
  *   - [[qAnnLshBuckets]]: the scale path — sign-bit (axis-aligned
  *     hyperplane) LSH buckets with multi-probe, so candidate generation is
  *     a bucket-equi-join instead of a cross join. At 100 TB the cross join
  *     is impossible; the bucket join shuffles each side once on a
  *     low-cardinality key.
  *
  * Scoring uses the native [[FloatVectorDot]] kernel (codegen'd), with
  * per-vector norms computed ONCE before pairing — the naive per-pair
  * norm recomputation triples the hot-loop cost. Fold order is fixed
  * left-to-right, so results are bit-reproducible across engines.
  */
object Similarity {

  import Tables.load

  /** Published-model cache: trained index artifacts (IVF centroids, PQ
    * codebooks) are computed ONCE per (session, dir, config) and reused
    * across queries — a pipeline trains an index and serves it; deriving
    * the identical deterministic centroids again on every query would
    * re-pay the training scan each time. Values are the COLLECTED
    * kilobyte-scale codebooks (cells × dims doubles), never persisted
    * distributed frames, so entries cost memory proportional to the
    * model, not the corpus. */
  private val modelCache =
    new graft.SessionCache[String, AnyRef](graft.SessionCache.Artifact, _ => ())

  private def publishedModel[T <: AnyRef](
      spark: SparkSession, dir: String, tag: String)(train: => T): T =
    modelCache.get(spark, s"$dir#$tag")(
      train).asInstanceOf[T]

  /** Mean within-cell occupancy the adaptive cell count targets:
    * within-cell pair work is quadratic in occupancy, so bounding the
    * mean bounds the expected SemDeDup/outlier scan cost per cell. */
  val TargetCellOccupancy: Long = 100L

  /** Broadcast ceiling for the trained-centroid relation: past ~64k
    * cells the collected index artifact stops being a kilobyte-to-
    * megabyte broadcast (64k × 64 doubles ≈ 32 MB) and a real system
    * shards the index instead — beyond the cap the occupancy bound
    * intentionally yields to the publish-and-broadcast design. */
  val MaxCells: Int = 65536

  /** Scale-adaptive Lloyd cell count: ceil(n / occupancy), floored at 16
    * (the historical fixed dial) and capped at [[MaxCells]]. Derived
    * from the corpus count so a 100× corpus gets ~100× cells instead of
    * 100× occupancy — the quadratic within-cell blowup the fixed dial
    * tripped on. Mirrored exactly by the oracle SQL
    * (`greatest(16, (count(*) + 99) // 100)`). */
  def adaptiveCells(n: Long): Int =
    math.min(MaxCells.toLong,
      math.max(16L, (n + TargetCellOccupancy - 1) / TargetCellOccupancy))
      .toInt

  /** [[adaptiveCells]] for a dir's embeddings corpus; the count is a
    * parquet-metadata read, cached with the published models. */
  private def adaptiveCellsFor(spark: SparkSession, dir: String): Int =
    adaptiveCells(publishedModel[java.lang.Long](spark, dir, "corpus-n") {
      java.lang.Long.valueOf(load(spark, dir, "embeddings").count())
    }.longValue())

  /** Cosine from a native left-to-right fold (for ad-hoc use; the queries
    * below precompute norms instead of re-deriving them per pair). */
  def cosine(a: Column, b: Column): Column =
    vec_dot(a, b) / (sqrt(vec_dot(a, a)) * sqrt(vec_dot(b, b)))

  private def withNorm(df: DataFrame, v: String): DataFrame =
    df.withColumn("norm", sqrt(vec_dot(col(v), col(v))))

  /** Corpus with norms, hash-repartitioned on `vec_id`: the pairwise
    * stages downstream parallelize by the STREAMED side's partitioning,
    * and a small parquet arrives as one split — which would serialize the
    * whole quadratic stage onto one core. At 100 TB the scan has many
    * splits and this repartition is a cheap no-op by comparison; locally
    * it is the difference between 1 and 32 busy cores. */
  private def corpus(
      spark: SparkSession, dir: String, norm: Boolean = true): DataFrame = {
    val base = load(spark, dir, "embeddings")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
    if (norm) withNorm(base, "embedding") else base
  }

  /** Exact brute-force cosine top-k for query vectors `vec_id < nQueries`.
    * Deterministic: rank by rounded similarity with id tiebreak. */
  def qAnnBruteForce(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5): DataFrame = {
    val emb = corpus(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val c = emb
      .select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm").as("nn"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** 64-plane sign signature (one long) — the fine-grained LSH fingerprint
    * the banded candidate generators below slice into bands. */
  private def signSignature(emb: Column): Column = signBucket(emb, 64)

  /** Mask with the LOWEST bit of each `bandBits`-wide group set (e.g.
    * 0x5555… for 2-bit bands). */
  private def groupLowBits(bandBits: Int): Long =
    (0 until 64 / bandBits).foldLeft(0L)((m, k) => m | (1L << (k * bandBits)))

  /** Explode a signature frame into its `64 / bandBits` bands. Output:
    * (idAs, sigAs, band, bval, lowmask) where `lowmask` covers the signature
    * bits BELOW this band (a per-band literal, carried through the explode
    * so the join's first-match filter needs no variable-distance shift). */
  private def bandedSig(
      df: DataFrame, idFrom: String, idAs: String, sigAs: String,
      bandBits: Int): DataFrame = {
    val bands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    val bandStructs = array((0 until bands).map { k =>
      struct(
        shiftright(col("sig"), k * bandBits).bitwiseAND(lit(mask)).as("bval"),
        lit((1L << (k * bandBits)) - 1).as("lowmask"))
    }: _*)
    df.select(col(idFrom).as(idAs), col("sig").as(sigAs),
        posexplode(bandStructs).as(Seq("band", "bv")))
      .select(col(idAs), col(sigAs), col("band"),
        col("bv.bval").as("bval"), col("bv.lowmask").as("lowmask"))
  }

  /** Join condition that emits each colliding pair at EXACTLY ONE band —
    * its first matching one — so no downstream `distinct` is needed: the
    * xor of the signatures has a zero `bandBits`-group at every matching
    * band; `m` marks non-matching bands with one bit each, and requiring
    * `popcount(m & lowmask) == band` means every band below this one
    * mismatched. */
  private def firstMatchingBand(
      sa: Column, sb: Column, bandBits: Int): Column = {
    val x = sa.bitwiseXOR(sb)
    val m = (1 until bandBits)
      .foldLeft(x)((acc, i) => acc.bitwiseOR(shiftright(x, i)))
      .bitwiseAND(lit(groupLowBits(bandBits)))
    bit_count(m.bitwiseAND(col("lowmask"))) === col("band")
  }

  /** Embedding-cosine near-dup pairs above a threshold (the embedding
    * variant of near-dedup), as banded-LSH candidate generation + exact
    * cosine verification — never an all-pairs theta join.
    *
    * Candidates are pairs whose 64-plane sign signatures agree on at least
    * one of the 32 two-bit bands, produced by a band-keyed EQUI-join (each
    * side shuffled once on (band, bval); work is partitioned by band key,
    * unlike a broadcast-nested-loop which ships every row everywhere). Each
    * colliding pair is emitted exactly once via [[firstMatchingBand]], then
    * verified with the exact rounded cosine, so the output relation is
    * EXACTLY the brute-force one as long as no true pair escapes all 32
    * bands.
    *
    * Band width is the recall/pruning dial, and it must be read honestly:
    * at threshold 0.4 on this corpus the background is isotropic (pair
    * cosine ≈ N(0, 1/64); 0.4 is a ~3σ tail, not planted structure), so a
    * pair at the threshold disagrees per plane with p = acos(0.4)/π ≈ 0.37
    * and only narrow 2-bit bands push the all-bands-miss probability to
    * (1-0.63²)³² ≈ 9e-8 — at the price of candidates ≈ collisions ≈ most
    * pairs. That is the information-theoretic reality of a near-background
    * threshold (LSH ρ → 1), not an implementation limit: at a real-world
    * near-dup threshold (0.8+) the same code with wider bands (e.g. 8×8)
    * prunes aggressively. What the banding buys HERE is execution shape:
    * bounded per-key join fan-in and no broadcast of the corpus, which is
    * what survives a 1000-executor scale-up. Recall 1.0 vs brute force on
    * the test corpora is asserted in SimilaritySpec, and the DuckDB oracle
    * (the exact all-pairs relation) stays byte-identical. */
  def qEmbeddingNearDup(
      spark: SparkSession, dir: String, threshold: Double = 0.4,
      bandBits: Int = 2): DataFrame = {
    val emb = corpus(spark, dir)
      .withColumn("sig", signSignature(col("embedding")))
    val left = bandedSig(emb, "vec_id", "d1", "sa", bandBits)
    val right = bandedSig(emb, "vec_id", "d2", "sb", bandBits)
      .withColumnRenamed("band", "band2")
      .withColumnRenamed("bval", "bval2")
      .drop("lowmask")
    val pairs = left.join(right,
      col("band") === col("band2") && col("bval") === col("bval2") &&
        col("d1") < col("d2") &&
        firstMatchingBand(col("sa"), col("sb"), bandBits))
      .select(col("d1"), col("d2"))
    val v = emb.select(col("vec_id"), col("embedding"), col("norm"))
    pairs
      .join(v.select(col("vec_id").as("d1"), col("embedding").as("av"),
        col("norm").as("na")), "d1")
      .join(v.select(col("vec_id").as("d2"), col("embedding").as("bv"),
        col("norm").as("nb")), "d2")
      .select(col("d1"), col("d2"),
        round(vec_dot(col("av"), col("bv")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") > threshold)
  }

  /** Id offset for the deterministic near-dup twins
    * [[plantedCorpus]] plants — above any GenScale-shifted key
    * (copies shift by 1e8; 10 copies stay under 1e9). */
  val TwinOffset: Long = 1000000000L

  /** The embeddings corpus plus a DETERMINISTIC near-duplicate twin for
    * every `vec_id % 4 == 0` vector: `twin[i] = float(v[i] * (1 + ε_i))`
    * with `ε_i = ((vec_id*7 + i*3) mod 13 - 6) / 40 ∈ [-0.15, 0.15]`,
    * giving pair cosines ≈ 0.995. Integer jitter arithmetic + explicit
    * double-multiply-then-float-cast make the twins bit-identical in any
    * engine, so the DuckDB oracle rebuilds the same corpus. The synthetic
    * tables carry no planted high-cosine structure (pair cosine
    * ≈ N(0, 1/64), so nothing sits above ~0.5); the twins give the
    * strict-threshold door a non-empty, scale-proportional answer —
    * the fixture-in-query pattern q_wav_features established. */
  private[graft] def plantedCorpus(
      spark: SparkSession, dir: String): DataFrame = {
    val base = load(spark, dir, "embeddings").select("vec_id", "embedding")
    // two selects: the jitter is keyed by the ORIGINAL vec_id, and a
    // single select would let Spark's lateral-column-alias resolution
    // bind the lambda's vec_id to the shifted alias instead
    val twins = base.filter(col("vec_id") % 4 === 0)
      .select(col("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") *
            (lit(1.0) + ((col("vec_id") * 7 + i * 3) % 13 - 6) / 40.0))
            .cast("float")).as("embedding"))
      .select((col("vec_id") + TwinOffset).as("vec_id"), col("embedding"))
    withNorm(base.unionByName(twins), "embedding")
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
  }

  /** Strict-door LSH geometry, shared with the streaming twin
    * [[graft.streaming.StreamingNearDup]] so the two sides can never
    * silently index with different configurations: `StrictTables`
    * independent 64-plane signatures (hyperplane seed
    * [[strictSeed]](t)), each sliced into [[StrictBandsPerTable]]
    * bands of [[StrictBandBits]] bits. */
  val StrictTables: Int = 4
  val StrictBandsPerTable: Int = 4
  val StrictBandBits: Int = 16

  /** Hyperplane seed of strict-door table `t`. */
  def strictSeed(t: Int): Long = 1L + t

  /** Embedding near-dup pairs at a REALISTIC threshold (0.8+), with the
    * production LSH configuration the [[qEmbeddingNearDup]] scaladoc
    * promises: [[StrictTables]] independent 64-plane signatures (seeded
    * hyperplane sets), each sliced into 16-bit bands, so candidate
    * generation is a (table·band, bval) EQUI-join whose background
    * collision rate is ~`tables · 4 / 2^16` ≈ 2.4e-4 of N² — wide bands
    * prune the isotropic background aggressively instead of admitting
    * most pairs the way the 2-bit recall-first door must at threshold
    * 0.4. Multi-table OR-construction keeps recall: a true pair at
    * cosine ≈ 0.995 agrees per plane with p ≈ 0.97, so it misses all
    * 4 bands of all 4 tables with p ≈ 2e-7 — and on the FROZEN test
    * corpora the realized recall is exactly 1.0 (spec-pinned against
    * brute force), which is what lets this door carry the exact
    * all-pairs DuckDB oracle over [[plantedCorpus]].
    *
    * Each colliding pair is verified ONCE: the join keeps a band-pair
    * row only when its band is the pair's FIRST matching (table, band)
    * key — the multi-table generalization of [[firstMatchingBand]],
    * computed as a static codegen'd when-chain over the 16 band
    * comparisons — so no downstream `distinct` shuffle of the candidate
    * set is needed, and the streaming twin's stateful emission rule is
    * literally this predicate.
    *
    * At 100 TB: each side shuffles once on the band key (16 rows per
    * vector, carrying the 4 signature longs), candidate verification
    * touches ~2.4e-4 of the pair space plus the true near-dups, and
    * nothing is broadcast or enumerated all-pairs — the shape that
    * makes near-dedup at strict thresholds linear-ish in practice, and
    * the measured contrast to the priced q_embedding_neardup physics
    * case (sf1 sentinel rides both). Two decades measured (r14): 4.3×
    * at sf0.1→sf1, 16.2× at sf1→sf10 (128 shuffle partitions; at the
    * sweep's fixed 32 the same data read 2.8× worse from sort-spill —
    * partition count is the deployment dial, not the plan). The
    * residual super-linearity is the banding identity: the random-
    * collision term is N²/2^bandBits per band — banding divides the
    * quadratic's constant by 65536, it does not change the exponent,
    * and on isotropic corpora no exact-threshold shortlist can. */
  def qEmbeddingNearDupStrict(
      spark: SparkSession, dir: String, threshold: Double = 0.8): DataFrame = {
    val tables = StrictTables
    val bandsPerTable = StrictBandsPerTable
    val bandBits = StrictBandBits
    val emb = plantedCorpus(spark, dir)
    val sigCols = (0 until tables).map(t => s"sig$t")
    val sigged = emb.select(
      col("vec_id") +: (0 until tables).map(t =>
        signBucketSeeded(col("embedding"), 64, strictSeed(t)).as(s"sig$t")): _*)
    val bandStructs = array((for {
      t <- 0 until tables; b <- 0 until bandsPerTable
    } yield struct(
      lit(t * bandsPerTable + b).as("tb"),
      shiftright(col(s"sig$t"), b * bandBits).bitwiseAND(lit(0xffffL))
        .as("bval"))): _*)
    val banded = sigged
      .select(col("vec_id") +: sigCols.map(col) :+
        explode(bandStructs).as("b"): _*)
      .select(col("vec_id") +: sigCols.map(col) :+
        col("b.tb").as("tb") :+ col("b.bval").as("bval"): _*)
    // first matching (table, band) key of the two signature sets, as a
    // static when-chain (16 codegen'd band comparisons, no HOF lambdas)
    def bandOf(side: String, k: Int): Column =
      shiftright(col(s"$side.sig${k / bandsPerTable}"),
        (k % bandsPerTable) * bandBits).bitwiseAND(lit(0xffffL))
    val firstMatch = (0 until tables * bandsPerTable)
      .foldLeft(Option.empty[Column]) { (acc, k) =>
        val hit = bandOf("l", k) === bandOf("r", k)
        Some(acc match {
          case None => when(hit, lit(k))
          case Some(c) => c.when(hit, lit(k))
        })
      }.get.otherwise(lit(-1))
    val cands = banded.as("l")
      .join(banded.as("r"),
        col("l.tb") === col("r.tb") && col("l.bval") === col("r.bval") &&
          col("l.vec_id") < col("r.vec_id") && firstMatch === col("l.tb"))
      .select(col("l.vec_id").as("d1"), col("r.vec_id").as("d2"))
    val v = emb.select(col("vec_id"), col("embedding"), col("norm"))
    cands
      .join(v.select(col("vec_id").as("d1"), col("embedding").as("av"),
        col("norm").as("na")), "d1")
      .join(v.select(col("vec_id").as("d2"), col("embedding").as("bv"),
        col("norm").as("nb")), "d2")
      .select(col("d1"), col("d2"),
        round(vec_dot(col("av"), col("bv")) / (col("na") * col("nb")), 6)
          .as("sim"))
      .filter(col("sim") > threshold)
  }

  /** int8-quantized top-k: symmetric per-vector scalar quantization
    * (`q = round(x / s)`, `s = max|x| / 127`), scored with the exact
    * integer dot kernel and per-pair rescale `s_a·s_b·(q_a·q_b)`.
    *
    * The memory path for ANN at 100 TB: int8 vectors are 4× smaller than
    * float32, and a bandwidth-bound scan speeds up proportionally; the
    * scores approximate cosine numerators within ~1% for unit-norm data.
    * Every arithmetic step (max, round-half-up, integer products,
    * left-to-right double fold) is engine-reproducible, so unlike LSH
    * this approximation carries an exact DuckDB oracle. */
  def qAnnQuantized(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5): DataFrame = {
    // norm = false: the quantized scorer derives its scale from max|x|,
    // and this is the bandwidth-sensitive path — don't compute a norm
    // per row only to discard it
    val emb = corpus(spark, dir, norm = false)
      .withColumn("sc",
        greatest(array_max(transform(col("embedding"), x => abs(x)))
          .cast("double") / 127.0, lit(1e-30)))
      .withColumn("qv",
        transform(col("embedding"), x => round(x / col("sc")).cast("int")))
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("qv").as("qa"), col("sc").as("sa"))
    val c = emb.select(col("vec_id").as("nid"), col("qv").as("qb"),
      col("sc").as("sb"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(col("sa") * col("sb") * vec_dot(col("qa"), col("qb")), 6)
          .as("qsim"))
    val w = Window.partitionBy("qid").orderBy(col("qsim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Binary quantization ANN — the 1-bit-per-dimension extreme of the
    * compression family ([[qAnnQuantized]] is 8-bit, [[qAnnPq]] is
    * codebook): each 64-dim vector collapses to ONE long of sign bits,
    * so the first-phase scan is an XOR + popcount per candidate (64
    * bits moved instead of 256 bytes — the 32× bandwidth cut that makes
    * BQ the memory-bound serving choice), and only a `shortlist`-sized
    * re-rank touches real floats. Hamming on sign codes is a monotone
    * proxy for angle in expectation; the spec measures the realized
    * recall against brute force and gates it. Everything is
    * deterministic — codes are exact integer packs, the shortlist cut
    * orders by (hamming, id) and the re-rank by (rounded sim, id) — so
    * the DuckDB oracle replays the whole pipeline bit-for-bit.
    *
    * At 100 TB: codes are 8 bytes/vector (a 6 TB side-table for a
    * trillion vectors) scanned columnar; the float fetch happens only
    * for shortlist hits, the same access pattern as the PQ index. */
  def qAnnBinary(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, shortlist: Int = 50): DataFrame = {
    val emb = corpus(spark, dir)
    // sign-bit pack via posexplode + integer sum, split into two 32-bit
    // halves (a single 64-bit pack needs 1<<63, which signed engines
    // disagree on): deterministic in any engine (ties at 0.0 map to
    // bit 0), codegen-friendly, one shuffle
    val codes = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("j", "x")))
      .groupBy("vec_id")
      .agg(
        sum(expr("case when x > cast(0 as float) and j < 32" +
          " then shiftleft(cast(1 as bigint), j)" +
          " else cast(0 as bigint) end")).as("lo"),
        sum(expr("case when x > cast(0 as float) and j >= 32" +
          " then shiftleft(cast(1 as bigint), j - 32)" +
          " else cast(0 as bigint) end")).as("hi"))
    val q = codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("lo").as("qlo"), col("hi").as("qhi"))
    val c = codes.select(col("vec_id").as("nid"), col("lo").as("nlo"),
      col("hi").as("nhi"))
    val short = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (bit_count(col("qlo").bitwiseXOR(col("nlo"))) +
          bit_count(col("qhi").bitwiseXOR(col("nhi"))))
          .cast("long").as("hamming"))
      .withColumn("hrnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("hamming"), col("nid"))))
      .filter(col("hrnk") <= shortlist)
      .select("qid", "nid", "hamming")
    val vecs = emb.select(col("vec_id"), col("embedding"), col("norm"))
    short
      .join(vecs.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn")), "qid")
      .join(vecs.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm").as("nn")), "nid")
      .select(col("qid"), col("nid"), col("hamming"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(col("sim").desc, col("nid")))
        .cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Random-hyperplane LSH bucket id (native kernel; every plane projects
    * the full vector, so collisions track cosine similarity). */
  def signBucket(emb: Column, bits: Int): Column =
    graft.functions.hyperplane_bucket(emb, bits)

  /** Per-table bucket id: independent hyperplane sets via distinct seeds. */
  private def signBucketSeeded(emb: Column, bits: Int, seed: Long): Column =
    org.apache.spark.sql.GraftShim.column(HyperplaneBucket(
      org.apache.spark.sql.GraftShim.expression(emb), bits, seed))

  /** EXACT top-k via IVF-style cell pruning — the provably-lossless scale
    * path. Vectors are assigned to cells (here: hyperplane-LSH buckets, so
    * assignment is a cheap native expression and needs no trained model);
    * per cell we keep a normalized mean-direction centroid `c` and radius
    * `r = max ||x̂ - c||` over members. For any query `q̂`, every member of
    * a cell satisfies `cos(q, x) <= q̂·c + r` (Cauchy-Schwarz on
    * `q̂·x̂ = q̂·c + q̂·(x̂-c)`), so a cell whose bound is below the
    * running k-th-best similarity cannot contain a result and is skipped
    * WITHOUT being scanned.
    *
    * Two-phase search (the standard IVF pattern): (1) scan the 2 cells
    * nearest the query by centroid similarity to establish a k-th-best
    * lower bound; (2) scan exactly the cells whose bound can still beat it
    * (minus a float margin), re-rank exactly. The margin makes the output
    * bit-identical to brute force even under rounding ties: any pruned
    * vector's similarity is > 1e-6 below the k-th best, so it can never
    * displace a kept row at 6-decimal rounding with id tiebreak.
    *
    * At 100 TB: bucket/partition the corpus by `cell` so phase 2 is a
    * partition-pruned scan; centroids and radii are a tiny broadcast
    * maintained incrementally on ingest. Pruning power depends on how
    * clustered the corpus is (worst case = full scan, still exact). */
  def qAnnIvfExact(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 10, bits: Int = 4): DataFrame = {
    val margin = 1e-6
    val emb = corpus(spark, dir)
      .withColumn("cell", signBucket(col("embedding"), bits))

    // mean direction per cell: elementwise sum of unit vectors, normalized
    val dims = emb
      .select(col("cell"), col("norm"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy("cell", "dim").agg(sum(col("v") / col("norm")).as("s"))
    val cents = dims.groupBy("cell")
      .agg(sort_array(collect_list(struct(col("dim"), col("s")))).as("ds"))
      .select(col("cell"), transform(col("ds"), x => x.getField("s")).as("craw"))
      .withColumn("cnorm", sqrt(vec_dot(col("craw"), col("craw"))))
      .select(col("cell"),
        transform(col("craw"), x => x / col("cnorm")).as("cvec"))
    val radii = emb.join(cents, "cell")
      .groupBy("cell")
      .agg(min(vec_dot(col("embedding"), col("cvec")) / col("norm")).as("mc"))
      .withColumn("r",
        sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("mc"))))
    // cells × (dims + 1) doubles — a published-index artifact like the
    // Lloyd centroids; correctness never depends on its float summation
    // order because the 1e-6 pruning margin makes the OUTPUT equal brute
    // force for any centroid within float error (see module scaladoc)
    val cellsMetaRows = publishedModel(spark, dir, s"ivfmeta-$bits") {
      import spark.implicits._
      cents.join(radii, "cell").select("cell", "cvec", "r")
        .as[(Long, Seq[Double], Double)].collect().toIndexedSeq
    }
    val cellsMeta = {
      import spark.implicits._
      spark.createDataFrame(cellsMetaRows).toDF("cell", "cvec", "r")
    }

    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn"))
    val qc = q.crossJoin(broadcast(cellsMeta))
      .withColumn("qc_sim", vec_dot(col("qv"), col("cvec")) / col("qn"))
      .withColumn("bound", col("qc_sim") + col("r"))
    val cand = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
      col("norm").as("nn"), col("cell"))

    // phase 1: nearest 2 cells establish the k-th-best lower bound
    val wCell = Window.partitionBy("qid").orderBy(col("qc_sim").desc, col("cell"))
    val probeA = qc.withColumn("crnk", row_number().over(wCell))
      .filter(col("crnk") <= 2)
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
    val wA = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    val kth = probeA.join(cand, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"),
        (vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("sim"),
        col("nid"))
      .withColumn("rn", row_number().over(wA))
      .groupBy("qid")
      .agg(coalesce(max(when(col("rn") === k, col("sim"))), lit(-2.0)).as("kth"))

    // phase 2: scan exactly the cells whose bound can still matter
    val probeB = qc.join(kth, "qid")
      .filter(col("bound") >= col("kth") - margin)
      .select(col("qid"), col("qv"), col("qn"), col("cell"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    probeB.join(cand, Seq("cell"))
      .filter(col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Approximate top-k: candidates limited to the query's LSH bucket plus
    * all buckets within hamming distance `probeDist` (multi-probe). The
    * recall/cost dial: raise `bits` as the corpus grows (keeping bucket
    * size ~constant), raise `probeDist` for recall. Measured against
    * [[qAnnBruteForce]] in the test suite. */
  def qAnnLshBuckets(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, bits: Int = 4,
      probeDist: Int = 2, tables: Int = 1): DataFrame = {
    require(tables >= 1)
    val base = corpus(spark, dir)
    // XOR masks of all bit patterns with popcount <= probeDist
    val masks = (0L until (1L << bits))
      .filter(m => java.lang.Long.bitCount(m) <= probeDist)
    // candidates from each independent hash table (per-table hyperplane
    // seeds), unioned: P(miss) multiplies across tables, so recall rises
    // fast at a fixed probe depth — the standard multi-table LSH lever.
    // Each table emits bare (qid, nid) PAIRS — no vectors, no scores —
    // and the cross-table union is deduped BEFORE the re-rank, so every
    // surviving pair pays exactly one vec_dot instead of up to
    // tables × |masks| of them (within one table a pair collides at most
    // once: the candidate has a single bucket and the XOR probes are
    // distinct, so only the cross-table dedup does real work).
    val perTable = (0 until tables).map { t =>
      val emb = base.withColumn("bucket",
        signBucketSeeded(col("embedding"), bits, 42L + t))
      val probes = transform(
        lit(masks.toArray),
        m => col("bucket").bitwiseXOR(m))
      val q = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), explode(probes).as("bucket"))
      val c = emb.select(col("vec_id").as("nid"), col("bucket"))
      q.join(c, Seq("bucket"))
        .filter(col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"))
    }
    val pairs = perTable.reduce(_.unionAll(_)).distinct()
    val v = base.select(col("vec_id"), col("embedding"), col("norm"))
    val scored = pairs
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Per-label mean embeddings (centroids) with DETERMINISTIC distributed
    * accumulation: each component is quantized to 16-bit fixed point
    * (`round(x · 2¹⁶)`) and summed as INTEGERS — integer addition is
    * exactly commutative/associative, so the distributed sum is
    * bit-identical under any partitioning or reduction order, where a
    * float sum drifts with task scheduling. The mean rescales the exact
    * integer sum once. This is the reproducible-reduction discipline a
    * training pipeline needs for centroids/statistics it will compare
    * across runs, and it is fully shuffle-bounded: one (label, dim)-keyed
    * aggregation, rows = vectors × dims, state = labels × dims. Output is
    * exploded (label, dim, mean, n_vectors) — scalar columns, exact
    * oracle. Quantization error ≤ 2⁻¹⁷ per component — measured against
    * the float mean in SimilaritySpec. */
  def qEmbeddingCentroids(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")
      .select(col("label").cast("long").as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .withColumn("q", round(col("v").cast("double") * (1L << 16)).cast("long"))
      .groupBy("label", "dim")
      .agg(count(lit(1)).as("n_vectors"), sum("q").as("sq"))
      .select(col("label"), col("dim").cast("long").as("dim"),
        round(col("sq") / 65536.0 / col("n_vectors"), 6).as("mean"),
        col("n_vectors"))

  /** Upper-triangle covariance matrix of the embedding dimensions — the
    * statistic PCA/whitening preprocessing starts from. Same fixed-point
    * discipline as the centroids: components quantize to `round(x·2¹⁶)`,
    * and the three sufficient statistics (Σqᵢ, Σqⱼ, Σqᵢqⱼ) accumulate as
    * INTEGERS, so the distributed covariance is bit-reproducible and
    * carries an exact oracle. Overflow headroom: |q| ≤ ~2¹⁷, products
    * ≤ 2³⁴, so the Σqᵢqⱼ sum holds ~2²⁹ ≈ 500M vectors per partition-
    * free total — beyond that, scale the quantization down a bit.
    *
    * Determinism contract: the numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ is computed
    * EXACTLY as a decimal(38,0) integer (headroom to ~10⁹ vectors), and
    * the only inexact step is ONE IEEE-754 division of that integer by
    * n²·2³² — identical bit pattern in any engine. A decimal
    * `round(x, 6)` here is NOT portable: Spark rounds the decimal
    * expansion half-up via BigDecimal while double-native engines round
    * a scaled double, and the two disagree on ulp-edge values (this
    * query's round-5 oracle hash miss).
    *
    * Scale shape: dim pairs come from a SECOND posexplode of the same
    * co-located embedding array — zero pre-aggregation shuffle (the
    * self-join formulation would exchange vectors×dims rows twice); the
    * only exchange is the 64·65/2 = 2080-key aggregate with map-side
    * combine — state is O(dims²), rows stream. */
  /** Iteration count for [[qPcaPower]] — fixed so the oracle can unroll
    * it; the output is DEFINED as the 60-round process, not as "the
    * converged eigenvector" (which no finite process reaches exactly).
    * 60 rounds: these embeddings' eigengap is small (λ₁/λ₂ ≈ 1.07), so
    * projection correlation with the true dominant axis crosses 0.999
    * only around round 60 (8 rounds left it at 0.38 — measured, and the
    * spec gates it). Each round is a 64×64 integer matrix-vector
    * product — driver-side microseconds, oracle-side a trivial CTE. */
  val PcaIters: Int = 60

  /** Fixed-point scale of the power-iteration vector (ppm components
    * after each renormalization). */
  val PcaScale: Long = 1000000L

  /** Principal-component projection via exact-integer power iteration —
    * the dimensionality-reduction / whitening prep step of an embedding
    * pipeline (outlier axes, decorrelation, spectral diagnostics).
    *
    * The covariance NUMERATOR matrix `N_ij = n·Σqᵢqⱼ − Σqᵢ·Σqⱼ` (q16
    * fixed-point, the [[qEmbeddingCov]] sufficient statistics) is
    * collected — dims × dims integers, kilobytes, the model-publishing
    * shape — and power-iterated on the driver with arbitrary-precision
    * integers: v ← N·v, renormalized each round to max|component| =
    * [[PcaScale]] via sign-split magnitude division (|w|·S div m, sign
    * reapplied — floor-vs-truncate never diverges because the division
    * only ever sees non-negative operands). N is n²·cov, so its
    * dominant eigenvector IS the covariance's. Every step is exact
    * integer arithmetic from a fixed all-ones start, so the whole
    * process — including the projection — replays bit-identically in
    * the unrolled DuckDB oracle.
    *
    * Output is the DATA-sized product: every vector's projection onto
    * the dominant axis, `proj_fp = Σ q16(xᵢ)·vᵢ` (exact long). Scale
    * shape: two corpus scans (stats, projection), everything between is
    * a kilobyte artifact; the q16 sufficient-statistic sums stay within
    * long up to ~10⁹ vectors — switch the stats aggregation to
    * decimal(38,0) beyond that. */
  def qPcaPower(spark: SparkSession, dir: String): DataFrame = {
    def q16l(c: Column): Column =
      round(c.cast("double") * (1L << 16)).cast("long")
    val q16d = load(spark, dir, "embeddings")
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("vec_id"), col("i"), q16l(col("xi")).as("q16"))
    val eig: IndexedSeq[(Int, Long)] =
      publishedModel(spark, dir, "pca-eigvec") {
        def dec(c: Column): Column = c.cast("decimal(38,0)")
        val stats = load(spark, dir, "embeddings")
          .select(col("embedding"),
            posexplode(col("embedding")).as(Seq("i", "xi")))
          .select(col("i"), col("xi"),
            posexplode(col("embedding")).as(Seq("j", "xj")))
          .filter(col("i") <= col("j"))
          .select(col("i"), col("j"),
            q16l(col("xi")).as("qi"), q16l(col("xj")).as("qj"))
          .groupBy("i", "j")
          .agg(count(lit(1)).as("n"), sum("qi").as("si"),
            sum("qj").as("sj"), sum(col("qi") * col("qj")).as("spp"))
          .select(col("i"), col("j"),
            (dec(col("spp")) * dec(col("n")) - dec(col("si")) * dec(col("sj")))
              .as("nu"))
          .collect()
        val upper = stats.map(r =>
          (r.getInt(0), r.getInt(1), BigInt(r.getDecimal(2).toBigInteger)))
        val dims = upper.map(_._2).max + 1
        val m = Array.ofDim[BigInt](dims, dims)
        upper.foreach { case (i, j, nu) => m(i)(j) = nu; m(j)(i) = nu }
        val s = BigInt(PcaScale)
        var v = IndexedSeq.fill(dims)(s)
        for (_ <- 1 to PcaIters) {
          val w = (0 until dims).map(i =>
            (0 until dims).map(j => m(i)(j) * v(j)).sum)
          val mx = w.map(_.abs).max
          v = w.map(x => x.signum match {
            case -1 => -((-x * s) / mx)
            case _ => (x * s) / mx
          })
        }
        (0 until dims).map(i => (i, v(i).toLong))
      }
    import spark.implicits._
    val eigDf = spark.createDataFrame(eig).toDF("i", "vi")
    q16d.join(broadcast(eigDf), "i")
      .groupBy("vec_id")
      .agg(sum(col("q16") * col("vi")).as("proj_fp"))
  }

  def qEmbeddingCov(spark: SparkSession, dir: String): DataFrame = {
    def q16(c: Column): Column =
      round(c.cast("double") * (1L << 16)).cast("long")
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    load(spark, dir, "embeddings")
      .select(col("embedding"), posexplode(col("embedding")).as(Seq("i", "xi")))
      .select(col("i"), col("xi"),
        posexplode(col("embedding")).as(Seq("j", "xj")))
      .filter(col("i") <= col("j"))
      .select(col("i"), col("j"), q16(col("xi")).as("qi"), q16(col("xj")).as("qj"))
      .groupBy("i", "j")
      .agg(count(lit(1)).as("n"),
        sum("qi").as("si"), sum("qj").as("sj"),
        sum(col("qi") * col("qj")).as("spp"))
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
        ((dec(col("spp")) * dec(col("n")) - dec(col("si")) * dec(col("sj")))
          .cast("double")
          / (col("n") * col("n")).cast("double") / 4294967296.0).as("cov"),
        col("n").as("n_vectors"))
  }

  /** LSH ANN with a dense-enough candidate graph that the exact re-ranked
    * result EQUALS brute force on real corpora — the oracle-able companion
    * to [[qAnnLshBuckets]] (same pattern that made MinHash+LSH dedup
    * exactly checkable: approximate candidate generation, exact
    * verification, empirically-total recall).
    *
    * Candidates are neighbors sharing ≥ 1 of the 32 two-bit bands of the
    * 64-plane sign signature (band-keyed equi-join, each pair emitted once
    * via [[firstMatchingBand]]); survivors are re-ranked by exact rounded
    * cosine. A neighbor escapes all 32 bands with probability
    * (1 - p²)³², p = 1 - θ/π — ≈ 1.6e-4 even for an ORTHOGONAL pair, and
    * ≤ 9e-8 at cosine ≥ 0.4 — so on any fixed corpus the top-k survives
    * intact (asserted row-for-row vs brute force in SimilaritySpec; the
    * DuckDB oracle is the brute-force SQL). */
  def qAnnLshVerified(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, bandBits: Int = 2): DataFrame = {
    val emb = corpus(spark, dir)
      .withColumn("sig", signSignature(col("embedding")))
    val left = bandedSig(emb.filter(col("vec_id") < nQueries),
      "vec_id", "qid", "sa", bandBits)
    val right = bandedSig(emb, "vec_id", "nid", "sb", bandBits)
      .withColumnRenamed("band", "band2")
      .withColumnRenamed("bval", "bval2")
      .drop("lowmask")
    val pairs = left.join(right,
      col("band") === col("band2") && col("bval") === col("bval2") &&
        col("qid") =!= col("nid") &&
        firstMatchingBand(col("sa"), col("sb"), bandBits))
      .select(col("qid"), col("nid"))
    val v = emb.select(col("vec_id"), col("embedding"), col("norm"))
    val scored = pairs
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Product-quantization ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search") with exact re-rank — the IVF-PQ serving
    * shape: 64 dims → 8 subspaces × 8 dims, each vector-quantized to 64
    * centroids, so a vector compresses to 8 six-bit codes (6 bytes — 42×
    * smaller than float32). Queries build an ADC lookup table (one
    * query-to-centroid partial dot per (subspace, cell)); a candidate's
    * approximate score is 8 table lookups summed; the ADC top-`shortlist`
    * is then re-ranked with EXACT cosine and the true top-k emitted.
    *
    * Codebook training is Lloyd's algorithm UNROLLED to one deterministic
    * round from a Forgy seed (centroid c = the subvector of vec_id c —
    * actual data points, which is what keeps the seeds spread out; a
    * random-PARTITION init collapses every centroid onto the global mean
    * and never recovers). Every float reduction is replaced by a
    * fixed-point integer sum (the [[qEmbeddingCentroids]] discipline):
    * centroid means accumulate `round(x·2¹⁶)`, assignment distances and
    * ADC partials accumulate `floor(··1e12 + ½)`. Integer sums are
    * order-independent, so codebook, codes, shortlist, and final ranks
    * are bit-identical under any partitioning — which is what lets this
    * APPROXIMATE index carry an exact DuckDB oracle (like q8, unlike
    * LSH). Training reads only a deterministic half-sample
    * (`vec_id % trainMod == 0`); measured recall@5 vs brute force at
    * sf0.01: 0.89, vs 0.91 for a second Lloyd round — two more stages of
    * critical path for +0.02, the dial a larger corpus would turn (floor
    * 0.8 pinned in SimilaritySpec).
    *
    * Scale shape: at 100 TB the codebook trains on a deterministic hash
    * sample and broadcasts (8×64×8 doubles — kilobytes); encoding is one
    * stateless map; the ADC scan reads 6 bytes/vector instead of 256,
    * and only `shortlist` candidates per query ever touch the full
    * float vectors again. The row-exploded joins here ARE that broadcast
    * pattern (cells × dims metadata joined to data rows); nothing is
    * ever query × corpus × dims materialized beyond the grouped fold. */
  /** The PQ encode pipeline shared by [[qAnnPq]] and [[qAnnIvfPq]]:
    * trains the codebook (Forgy + one fixed-point Lloyd round on the
    * `vec_id % trainMod == 0` slice, published via the model cache),
    * encodes the whole corpus, and builds the queries' ADC lookup
    * table. Returns (codes (vec_id, sub, cell), lut (qid, sub, cell,
    * l), norms (vec_id, norm)) — all the artifacts an ADC consumer
    * needs; 'cell' here is the PQ CODEWORD id, not an IVF cell. */
  private def pqArtifacts(
      spark: SparkSession, dir: String, nQueries: Int,
      cells: Int, trainMod: Int): (DataFrame, DataFrame, DataFrame) = {
    val emb = corpus(spark, dir)
    // (vec_id, sub, xs[8]): the subvector frame — rows = vectors × 8, and
    // every training/encoding stage is a BROADCAST join against cells×8
    // codebook metadata plus a hash aggregation (no window sorts: argmin
    // is min(struct(dist, cell)), which combines map-side)
    val subArr = array((0 until 8).map(s =>
      transform(slice(col("embedding"), s * 8 + 1, 8),
        x => x.cast("double"))): _*)
    val subs = emb.select(col("vec_id"),
      posexplode(subArr).as(Seq("sub", "xs")))
    // fixed-point integer sums, UNROLLED over the 8 dims: HOF lambdas
    // (zip_with/aggregate) evaluate interpreted and would dominate the
    // 26M-row assignment scans; element_at chains stay inside whole-stage
    // codegen. Integer addition is associative, so the unrolled
    // left-to-right sum is the same order-independent value the oracle's
    // SQL SUM computes.
    //
    // Quantizer: floor(x + 0.5), NOT round() — Spark's round on a double
    // routes through BigDecimal, and one allocation per term × 8 terms ×
    // cells × rows made the two assignment scans this query's hottest
    // stages (~2 s of its bench line). floor is one IEEE primitive with
    // the identical bit pattern in any engine, so it is also STRICTLY
    // more portable than decimal rounding for this fixed-point use.
    def unrolled(term: Int => Column): Column =
      (0 until 8).map(term).reduce(_ + _)
    def q12(x: Column): Column = floor(x * 1e12 + 0.5)
    def distTo(ms: Column): Column = unrolled { i =>
      val diff = element_at(col("xs"), i + 1) - element_at(ms, i + 1)
      q12(diff * diff)
    }
    // the codebook trains on a DETERMINISTIC HALF-SAMPLE (vec_id % 2):
    // k-means quality is statistically indifferent to the sample while
    // the two training scans halve — the dial a 100 TB run turns much
    // further (train on hash-sampled per mille, encode everything)
    val train = subs.filter(col("vec_id") % trainMod === 0)
    // one unrolled Lloyd round against an array codebook (sub, cell, ms)
    def assign(input: DataFrame, cent: DataFrame): DataFrame = input
      .join(broadcast(cent), "sub")
      .select(col("vec_id"), col("sub"), col("cell"),
        distTo(col("ms")).as("dist"))
      .groupBy("vec_id", "sub")
      .agg(min(struct(col("dist"), col("cell"))).as("mc"))
      .select(col("vec_id"), col("sub"), col("mc.cell").as("cell"))
    // fixed-point centroid means for an assignment, fused to ONE
    // aggregation: 8 per-dim integer sums in a single groupBy (no
    // explode, no regroup) — same arithmetic, two fewer stages per round
    def mean(assigned: DataFrame): DataFrame = train
      .join(assigned, Seq("vec_id", "sub"))
      .groupBy("sub", "cell")
      .agg(count(lit(1)).as("n"),
        array((0 until 8).map(i =>
          sum(round(element_at(col("xs"), i + 1) * (1L << 16))
            .cast("long"))): _*).as("sq"))
      .select(col("sub"), col("cell"),
        transform(col("sq"), s => round(s / 65536.0 / col("n"), 6)).as("ms"))
    // Forgy seed: centroid c = the actual subvector of vec_id c
    val forgy = subs.filter(col("vec_id") < cells)
      .select(col("sub"), col("vec_id").cast("int").as("cell"),
        transform(col("xs"), x => round(x, 6)).as("ms"))
    // materialize the trained codebook ONCE (8 subs × ≤64 cells rows):
    // it feeds three consumers (codes, LUT, and their joins), and left
    // lazy each one would replay the whole two-round training job chain.
    // This is the model-publishing step of real PQ — at 100 TB the
    // codebook trains on a sample and ships to every executor as exactly
    // this kind of tiny local relation.
    import spark.implicits._
    val codebook = spark.createDataFrame(
      publishedModel(spark, dir, s"pq-$cells-$trainMod") {
        mean(assign(train, forgy))
          .as[(Int, Int, Seq[Double])].collect().toIndexedSeq
      }).toDF("sub", "cell", "ms")
    val codes = assign(subs, codebook)
    // ADC lookup table: query partial dots per (subspace, cell)
    val lut = subs.filter(col("vec_id") < nQueries)
      .join(broadcast(codebook), "sub")
      .select(col("vec_id").as("qid"), col("sub"), col("cell"),
        unrolled(i => q12(element_at(col("xs"), i + 1)
          * element_at(col("ms"), i + 1))).as("l"))
    val norms = emb.select(col("vec_id"), col("norm"))
    (codes, lut, norms)
  }

  def qAnnPq(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5,
      cells: Int = 64, shortlist: Int = 50, trainMod: Int = 2): DataFrame = {
    val emb = corpus(spark, dir)
    val (codes, lut, norms) = pqArtifacts(spark, dir, nQueries, cells, trainMod)
    // candidate score = 8 integer table lookups summed; the LUT (queries ×
    // 8 × cells) broadcasts, so the scan streams the 6-byte codes once
    val adc = codes.select(col("vec_id").as("nid"), col("sub"), col("cell"))
      .join(broadcast(lut), Seq("sub", "cell"))
      .filter(col("qid") =!= col("nid"))
      .groupBy("qid", "nid")
      .agg(sum("l").as("s_fp"))
      // only the query rows' norms broadcast — not the corpus's
      .join(broadcast(norms.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("norm").as("qn"))), "qid")
      .join(norms.select(col("vec_id").as("nid"), col("norm").as("nn")),
        "nid")
      .select(col("qid"), col("nid"),
        round(col("s_fp") / 1e12 / (col("qn") * col("nn")), 6).as("psim"))
    shortlistRerank(spark, dir, adc, shortlist, k)
  }

  /** ADC-scored candidates → `shortlist` best per query by partial
    * similarity → exact float re-rank → top `k`. Only `shortlist`
    * candidates per query ever read the full vectors — the serving-index
    * tail shared by [[qAnnPq]] and [[qAnnIvfPq]]. */
  private def shortlistRerank(
      spark: SparkSession, dir: String, adc: DataFrame,
      shortlist: Int, k: Int): DataFrame = {
    val wAdc = Window.partitionBy("qid").orderBy(col("psim").desc, col("nid"))
    val short = adc.withColumn("srnk", row_number().over(wAdc))
      .filter(col("srnk") <= shortlist)
      .select("qid", "nid")
    val v = corpus(spark, dir)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val rerank = short
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm").as("nn")), "nid")
      .select(col("qid"), col("nid"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    rerank.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** IVF-PQ — the composition a real vector-serving index runs: IVF
    * cell pruning picks WHERE to look (the query's `nProbe` nearest
    * trained cells), PQ asymmetric-distance scoring decides WHAT to
    * shortlist inside those cells (8 integer table lookups per 6-bit
    * code — never the float vectors), and only the shortlist is exactly
    * re-ranked. Both index artifacts are the SAME published models the
    * standalone operators serve ([[qSemDedup]]'s full-corpus IVF
    * assignment, [[qAnnPq]]'s codebook) — trained once per session,
    * shared by every consumer.
    *
    * Determinism: cell training/assignment and the probe ranking use
    * the fixed-point `floor(·1e12 + ½)` metric, ADC sums are integers —
    * the whole pipeline replays bit-exactly in DuckDB, so unlike plain
    * LSH ANN this APPROXIMATE index carries a full exact oracle.
    *
    * Scale shape: the probe gate applies BEFORE the ADC lookup join, so
    * only `nProbe / cells` of the code postings are ever read per query
    * — in a real deployment the postings are partitioned by cell and
    * the gate is a partition prune; centroids, probe lists, LUT, and
    * query norms are all broadcast kilobytes. */
  def qAnnIvfPq(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, nProbe: Int = 4,
      pqCells: Int = 64, shortlist: Int = 50, trainMod: Int = 2): DataFrame = {
    val nc = adaptiveCellsFor(spark, dir)
    val assigned = cachedAssignment(spark, dir, nc)
      .select(col("vec_id").as("nid"), col("cell").as("ivf_cell"))
    val embXs = corpus(spark, dir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("xs"))
    val centroids = lloydCentroids(spark, embXs, embXs, nc, dir, "full")
    val wProbe = Window.partitionBy("qid").orderBy(col("dist"), col("ivf_cell"))
    val probe = embXs.filter(col("vec_id") < nQueries)
      .crossJoin(broadcast(centroids))
      .select(col("vec_id").as("qid"), col("cell").as("ivf_cell"),
        cellDist(col("ms")).as("dist"))
      .withColumn("crnk", row_number().over(wProbe))
      .filter(col("crnk") <= nProbe)
      .select("qid", "ivf_cell")
    val (codes, lut, norms) =
      pqArtifacts(spark, dir, nQueries, pqCells, trainMod)
    val gated = codes.select(col("vec_id").as("nid"), col("sub"), col("cell"))
      .join(assigned, "nid")
      .join(broadcast(probe), "ivf_cell")
      .filter(col("qid") =!= col("nid"))
    val adc = gated
      .join(broadcast(lut), Seq("qid", "sub", "cell"))
      .groupBy("qid", "nid")
      .agg(sum("l").as("s_fp"))
      .join(broadcast(norms.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), col("norm").as("qn"))), "qid")
      .join(norms.select(col("vec_id").as("nid"), col("norm").as("nn")),
        "nid")
      .select(col("qid"), col("nid"),
        round(col("s_fp") / 1e12 / (col("qn") * col("nn")), 6).as("psim"))
    shortlistRerank(spark, dir, adc, shortlist, k)
  }

  /** HARD-NEGATIVE mining — the contrastive-training data op: per query
    * vector, the top-k most similar neighbors of a DIFFERENT label
    * (similar-but-wrong examples are what contrastive/metric losses
    * learn from; random negatives are too easy to carry gradient).
    *
    * Scale shape: the [[qAnnLshVerified]] banded candidate generator
    * (band-keyed equi-join over 2-bit signature bands, each pair emitted
    * once) with the label-mismatch predicate applied BEFORE the exact
    * re-rank — never query × corpus. The all-bands-escape bound
    * (≈ 1.6e-4 even for orthogonal pairs) is label-independent, so the
    * result provably-rarely differs from the brute-force relation and
    * carries the brute-force-with-label-filter DuckDB oracle, equality
    * asserted row-for-row in SimilaritySpec. */
  def qHardNegatives(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5, bandBits: Int = 2): DataFrame = {
    val emb = corpus(spark, dir)
      .withColumn("sig", signSignature(col("embedding")))
    val left = bandedSig(emb.filter(col("vec_id") < nQueries),
      "vec_id", "qid", "sa", bandBits)
    val right = bandedSig(emb, "vec_id", "nid", "sb", bandBits)
      .withColumnRenamed("band", "band2")
      .withColumnRenamed("bval", "bval2")
      .drop("lowmask")
    val pairs = left.join(right,
      col("band") === col("band2") && col("bval") === col("bval2") &&
        col("qid") =!= col("nid") &&
        firstMatchingBand(col("sa"), col("sb"), bandBits))
      .select(col("qid"), col("nid"))
    val v = emb.select(col("vec_id"), col("embedding"), col("norm"),
      col("label").cast("long").as("label"))
    val scored = pairs
      .join(v.select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn"), col("label").as("ql")), "qid")
      .join(v.select(col("vec_id").as("nid"), col("embedding").as("nv"),
        col("norm").as("nn"), col("label").as("nl")), "nid")
      .filter(col("ql") =!= col("nl"))
      .select(col("qid"), col("nid"), col("nl").as("neg_label"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Incremental IVF INGEST — the index-maintenance half of the ANN
    * story, the [[graft.pipeline.TrainingData.incrementalClusters]]
    * counterpart for vector indexes: an existing index (centroids trained
    * on the resident batch, vec_id % trainMod == 0) absorbs a NEW batch
    * by pure assignment — no retraining, no touch of resident postings.
    * Output is the per-cell ingest census: resident count, new count, and
    * the new batch's summed quantized distance (the drift signal a real
    * pipeline watches to decide when retraining IS due).
    *
    * Same determinism discipline as [[qAnnPq]]: Forgy seed + one Lloyd
    * round, fixed-point integer centroid means, `floor(·1e12 + ½)`
    * distance quantization — assignment is bit-stable under any
    * partitioning, so the census carries an exact DuckDB oracle.
    *
    * Scale shape: centroids are collected once (cells × 64 doubles —
    * kilobytes) and broadcast; assignment is one stateless map over the
    * ingest (crossJoin against the tiny centroid relation + a map-side-
    * combinable argmin); the census shuffles `cells` rows. At 100 TB the
    * resident index never re-shuffles — exactly why ingest-by-assignment
    * exists. */
  def qIvfIngest(
      spark: SparkSession, dir: String,
      cells: Int = 0, trainMod: Int = 2): DataFrame = {
    val nc = if (cells > 0) cells else adaptiveCellsFor(spark, dir)
    val emb = corpus(spark, dir, norm = false)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("xs"))
    val centroids = lloydCentroids(spark, emb,
      emb.filter(col("vec_id") % trainMod === 0), nc, dir, s"mod$trainMod")
    assignCells(emb, centroids)
      .groupBy("cell")
      .agg(
        sum(when(col("vec_id") % trainMod === 0, 1L).otherwise(0L))
          .as("n_existing"),
        sum(when(col("vec_id") % trainMod =!= 0, 1L).otherwise(0L))
          .as("n_new"),
        coalesce(sum(when(col("vec_id") % trainMod =!= 0, col("dist"))),
          lit(0L)).as("new_dist_fp"))
      .select(col("cell").cast("long").as("cell"),
        col("n_existing"), col("n_new"), col("new_dist_fp"))
  }

  /** Fixed-point `floor(x·1e12 + ½)`-quantized distance of a row's `xs`
    * array to a centroid array, unrolled over the 64 dims so it stays in
    * whole-stage codegen (see [[qAnnPq]] for why round() is banned from
    * these scans). */
  private def cellDist(ms: Column): Column =
    // the fused [[Q12SqDist]] kernel — bit-identical to the 64-term
    // `floor((xs[i] - ms[i])² · 1e12 + 0.5)` column sum it replaces
    // (VectorExpressionsSpec pins the equivalence on random vectors),
    // ~40× cheaper per pair. This is THE hot loop of every trained-
    // index consumer: the N × cells assignment crossJoin spelled as 64
    // element_at trees timed q_mutual_knn_ivf out at sf10 (r14 decade
    // probe) on pure expression overhead.
    org.apache.spark.sql.GraftShim.column(Q12SqDist(
      org.apache.spark.sql.GraftShim.expression(col("xs")),
      org.apache.spark.sql.GraftShim.expression(ms)))

  /** Nearest trained cell per vector — (vec_id, xs) in, (vec_id, cell,
    * dist) out, bit-identical to [[assignCellsFlat]] (SimilaritySpec
    * pins the equality). r15 (guide §2.4/§3): the flat N × cells
    * crossJoin + argmin evaluated the q12 metric against EVERY centroid
    * and shuffled an aggregation per vector; with the scale-adaptive
    * cell count (cells ≈ N/100) that is O(N²/100) — the r14 sf10 probe
    * measured q_mutual_knn_ivf at 33× for 10× data on this exact term.
    * The [[IvfAssign]] kernel probes a driver-built two-level index
    * (√k meta-centroids + exact triangle-inequality pruning) instead:
    * O(N·(√k + survivors)) work, ZERO exchanges (the plan is a stateless
    * projection), same collected-and-broadcast model-publish contract
    * the centroid relation already had.
    *
    * EAGER: constructing the returned frame collects the centroid model
    * (≤ [[MaxCells]] rows — the same ≤33.5 MB bound the broadcast had)
    * and builds the meta level on the driver AT PLAN-CONSTRUCTION TIME,
    * so calling this runs the jobs behind `cent` immediately rather
    * than on the first action. */
  private[similarity] def assignCells(input: DataFrame, cent: DataFrame): DataFrame = {
    import org.apache.spark.sql.GraftShim
    val spark = cent.sparkSession
    import spark.implicits._
    val rows = cent
      .select(col("cell").cast("int"), col("ms"))
      .as[(Int, Seq[Double])].collect().sortBy(_._1)
    val index = new IvfCellIndex(
      rows.map(_._1), rows.map(_._2.toArray))
    input
      .select(col("vec_id"), GraftShim.column(IvfAssign(
        GraftShim.expression(col("xs")), index)).as("mc"))
      .select(col("vec_id"), col("mc.cell").as("cell"),
        col("mc.dist").as("dist"))
  }

  /** The pre-r15 flat assignment — crossJoin against the broadcast
    * centroid relation + min-struct argmin. Kept as the executable
    * specification [[assignCells]] is pinned against. */
  private[similarity] def assignCellsFlat(
      input: DataFrame, cent: DataFrame): DataFrame =
    input
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), cellDist(col("ms")).as("dist"), col("cell"))
      .groupBy("vec_id")
      .agg(min(struct(col("dist"), col("cell"))).as("mc"))
      .select(col("vec_id"), col("mc.cell").as("cell"),
        col("mc.dist").as("dist"))

  /** One deterministic Lloyd round from a Forgy seed over `train`
    * (Forgy rows come from the full `emb` so cell ids are stable
    * regardless of the train slice), fixed-point integer means — the
    * [[qAnnPq]] codebook discipline on full 64-dim vectors. Returned
    * COLLECTED as a tiny local relation: the published-index step; at
    * 100 TB this is exactly the artifact that ships to executors. */
  private def lloydCentroids(
      spark: SparkSession, emb: DataFrame, train: DataFrame,
      cells: Int, dir: String, trainTag: String): DataFrame = {
    val rows = publishedModel(spark, dir, s"ivf-$cells-$trainTag") {
      val forgy = emb.filter(col("vec_id") < cells)
        .select(col("vec_id").cast("int").as("cell"),
          transform(col("xs"), x => round(x, 6)).as("ms"))
      val mean = train
        .join(assignCells(train, forgy).select("vec_id", "cell"), "vec_id")
        .groupBy("cell")
        .agg(count(lit(1)).as("n"),
          array((0 until 64).map(i =>
            sum(round(element_at(col("xs"), i + 1) * (1L << 16))
              .cast("long"))): _*).as("sq"))
        .select(col("cell"),
          transform(col("sq"), s => round(s / 65536.0 / col("n"), 6)).as("ms"))
      import spark.implicits._
      mean.as[(Int, Seq[Double])].collect().toIndexedSeq
    }
    import spark.implicits._
    spark.createDataFrame(rows).toDF("cell", "ms")
  }

  /** k-means|| seeding (Bahmani et al., VLDB 2012) — the DISTRIBUTED
    * k-means++ initialization: instead of k strictly sequential
    * D²-weighted draws (k full corpus scans, each dependent on the
    * last), each of `rounds` passes samples ~`ell` candidates
    * INDEPENDENTLY per point with probability min(1, ℓ·D²(x)/ΣD²),
    * then the tiny candidate set is weighted by how many points each
    * candidate is nearest to — the weighted set a final driver-side
    * clustering consumes. This is the seeding story the Forgy-sampled
    * Lloyd training ([[lloydCentroids]]) lacks: Forgy can seed two
    * centroids inside one dense blob and none in a small far cluster;
    * D²-weighting provably (O(log k)-competitive) spreads seeds.
    *
    * Determinism: seeds are DATA POINTS (exact float→double casts — no
    * rounding anywhere); distances are the fixed-point q12 integers of
    * [[cellDist]]; the per-(round, point) draw is a salted md5 integer
    * in [0, 10⁶); and the accept test cross-multiplies in
    * decimal(38,0), so every engine replays the identical candidate
    * set. ΣD² sums as decimal — at 100 TB the long sum of 10¹⁵-scale
    * quantized distances would wrap.
    *
    * Scale shape: per round ONE corpus pass (broadcast seed relation,
    * map-side min) + a kilobyte candidate collect (the model-publish
    * step); the weighting pass is one more broadcast-argmin
    * aggregation. Candidate count is E[ℓ]·rounds + 1 — independent of
    * corpus size. */
  def qKmeansParSeed(
      spark: SparkSession, dir: String,
      rounds: Int = 3, ell: Int = 8): DataFrame = {
    val emb = load(spark, dir, "embeddings")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("xs"))
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    emb.count()
    try {
      import spark.implicits._
      val seed0 = emb.orderBy("vec_id").limit(1)
        .as[(Long, Seq[Double])].collect().head
      var seeds: IndexedSeq[(Long, Long, Seq[Double])] =
        IndexedSeq((seed0._1, 0L, seed0._2))
      for (r <- 1 to rounds) {
        val seedDf = broadcast(spark
          .createDataFrame(seeds.map { case (id, _, xs) => (id, xs) })
          .toDF("seed_id", "ms"))
        val d2 = emb.crossJoin(seedDf)
          .groupBy("vec_id")
          .agg(min(cellDist(col("ms"))).as("d2"), first(col("xs")).as("xs"))
        val total = d2.agg(
          sum(col("d2").cast("decimal(38,0)")).as("total_d2"))
        val accepted = d2.crossJoin(broadcast(total))
          .withColumn("u_ppm",
            conv(substring(md5(concat(lit(s"kmpp:$r:"),
              col("vec_id").cast("string"))), 1, 8), 16, 10)
              .cast("long") % 1000000L)
          .filter(expr("cast(u_ppm as decimal(38,0)) * total_d2" +
            s" < cast(d2 as decimal(38,0)) * ${ell}000000"))
          .select(col("vec_id"), col("xs"))
          .as[(Long, Seq[Double])].collect().sortBy(_._1)
        seeds = seeds ++ accepted.map { case (id, xs) => (id, r.toLong, xs) }
      }
      val seedDf = broadcast(spark
        .createDataFrame(seeds.map { case (id, _, xs) => (id, xs) })
        .toDF("seed_id", "ms"))
      val weights = emb.crossJoin(seedDf)
        .select(col("vec_id"), cellDist(col("ms")).as("d"), col("seed_id"))
        .groupBy("vec_id")
        .agg(min(struct(col("d"), col("seed_id"))).as("m"))
        .groupBy(col("m.seed_id").as("seed_id"))
        .agg(count(lit(1)).as("weight"))
      spark.createDataFrame(seeds.map { case (id, r, _) => (id, r) })
        .toDF("seed_id", "pick_round")
        .join(weights, Seq("seed_id"), "left_outer")
        .select(col("seed_id"), col("pick_round"),
          coalesce(col("weight"), lit(0L)).as("weight"))
    } finally emb.unpersist(blocking = false)
  }

  /** Embedding outlier mining — the data-quality sweep that catches
    * mis-embedded or off-distribution vectors: the `k` vectors farthest
    * from their own assigned centroid (trained full-corpus index — the
    * SAME cached artifact [[qSemDedup]] serves), by the fixed-point
    * quantized distance, id tiebreak. At scale this is a stateless map
    * over the corpus (broadcast centroids) plus a per-partition top-k
    * merge (TakeOrdered) — no sort of the corpus, no shuffle at all. */
  def qEmbeddingOutliers(
      spark: SparkSession, dir: String,
      cells: Int = 0, k: Int = 20): DataFrame =
    cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
      .orderBy(col("dist").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dist").as("dist_fp"))

  /** Local Outlier Factor (Breunig et al., SIGMOD 2000) over the
    * embedding corpus — the DENSITY-relative outlier score
    * [[qEmbeddingOutliers]]'s global centroid distance cannot express:
    * a vector on the rim of a tight cluster scores high even when a
    * diffuse cluster's core sits farther from its centroid.
    *
    * Neighborhoods are CELL-RESTRICTED (the cached full-corpus IVF
    * assignment [[qSemDedup]] serves) — the standard at-scale
    * concession: exact corpus×corpus kNN is quadratic, same-cell kNN is
    * the per-cell quadratic the index already bounds, and the oracle
    * replays the identical cell-restricted definition, so the contract
    * stays exact. Vectors alone in their cell have no neighborhood and
    * drop out (mirrored in the oracle).
    *
    * Exact-integer chain: distances are squared euclidean on the q16
    * grid — d² = qq(a) + qq(b) − 2·⟨qa,qb⟩, every term an exact
    * integer below 2⁵³ so the double-dot kernel is exact; k-distance
    * and reach-dist are max/greatest of integers; lrd is scaled to
    * fixed-point 10¹⁸ by one truncating decimal division; LOF_ppm is
    * one more. Top-`topN` by (lof desc, id) exits through TakeOrdered —
    * a per-partition heap merge, no global sort. */
  def qLof(
      spark: SparkSession, dir: String,
      cells: Int = 0, k: Int = 8, topN: Int = 50): DataFrame = {
    val assigned = cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
    val q = assigned.select(col("vec_id"), col("cell"),
        transform(col("embedding"),
          x => round(x.cast("double") * 65536)).as("q"))
      .withColumn("qq", vec_dot(col("q"), col("q")))
    val pairs = q.select(col("cell"), col("vec_id").as("a"),
        col("q").as("qa"), col("qq").as("qqa"))
      .join(q.select(col("cell"), col("vec_id").as("b"),
        col("q").as("qb"), col("qq").as("qqb")), "cell")
      .filter(col("a") =!= col("b"))
      .select(col("cell"), col("a"), col("b"),
        (col("qqa") + col("qqb")
          - lit(2.0) * vec_dot(col("qa"), col("qb")))
          .cast("long").as("d2"))
    // per-NODE window: partition size = cell-mate count, bounded by the
    // index cell population — never corpus-sized
    val w = Window.partitionBy("a").orderBy(col("d2"), col("b"))
    val knn = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .persist(StorageLevel.MEMORY_AND_DISK)
    knn.count()
    try {
      val kd = knn.groupBy("a")
        .agg(max("d2").as("kdist"), count(lit(1)).as("cnt"),
          first("cell").as("cell"))
      val lrd = knn
        .join(kd.select(col("a").as("b"), col("kdist").as("kdist_b")), "b")
        .groupBy("a")
        .agg(sum(greatest(col("kdist_b"), col("d2"))).as("sumreach"))
        .join(kd, "a")
        .withColumn("lrd_fp", expr(
          """case when sumreach = 0
            |  then cast(1000000000000000000 as decimal(38,0))
            |  else (cast(cnt as decimal(38,0)) * 1000000000000000000)
            |    div sumreach end""".stripMargin))
      val out = knn
        .join(lrd.select(col("a").as("b"), col("lrd_fp").as("lrd_b")), "b")
        .groupBy("a").agg(sum("lrd_b").as("sum_lrd_b"))
        .join(lrd, "a")
        .select(col("a").as("vec_id"), col("cell").cast("long").as("cell"),
          col("cnt").as("n_nbrs"),
          col("lrd_fp").cast("long").as("lrd_fp"),
          expr("""cast((sum_lrd_b * 1000000)
            |  div (cast(cnt as decimal(38,0)) * lrd_fp) as bigint)"""
            .stripMargin).as("lof_ppm"))
        .orderBy(col("lof_ppm").desc, col("vec_id"))
        .limit(topN)
      val rows = out.collect()
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
    } finally knn.unpersist(blocking = false)
  }

  /** Embedding-space decontamination — the SEMANTIC twin of the shingle
    * and phrase decontamination passes: a training vector is
    * contaminated when it sits within cosine `threshold` of ANY
    * held-out eval vector (paraphrased eval leakage that no lexical
    * overlap check can see). Emits each contaminated vector with its
    * closest eval match (max sim, eval-id tiebreak) — the removal list
    * plus the evidence a release review wants.
    *
    * The scale shape is the best one in the ANN family: the eval set is
    * SMALL by construction, so it broadcasts and the whole pass is a
    * stateless map over the training corpus — no shuffle at all until
    * the final per-vector argmax (map-side combinable). Arithmetic is
    * the brute-force ANN contract (rounded cosine, id tiebreaks), so
    * the DuckDB replay is exact. */
  def qSemanticDecontam(
      spark: SparkSession, dir: String,
      nEval: Int = 50, threshold: Double = 0.35): DataFrame = {
    val emb = corpus(spark, dir)
    val eval = emb.filter(col("vec_id") < nEval)
      .select(col("vec_id").as("eval_id"), col("embedding").as("ev"),
        col("norm").as("en"))
    emb.filter(col("vec_id") >= nEval)
      .select(col("vec_id"), col("embedding"), col("norm"))
      .crossJoin(broadcast(eval))
      .select(col("vec_id"), col("eval_id"),
        round(vec_dot(col("embedding"), col("ev"))
          / (col("norm") * col("en")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .groupBy("vec_id")
      .agg(max(struct(col("sim"), (-col("eval_id")).as("neg")))
        .as("best"))
      .select(col("vec_id"), (-col("best.neg")).as("eval_id"),
        col("best.sim").as("sim"))
  }

  /** Mutual-kNN pair mining with Artetxe & Schwenk's RATIO margin
    * ("Margin-based Parallel Corpus Mining", ACL 2019) — the alignment
    * miner's contract: a pair qualifies only when each vector is in the
    * OTHER's top-k (mutual nearest neighbors kill hub vectors that sit
    * close to everything), and the margin rescales the pair similarity
    * by the mean similarity of the two k-neighborhoods, so a pair is
    * strong RELATIVE to its local density, not in absolute cosine.
    *
    * Determinism: rank by the [[qAnnBruteForce]] contract (rounded
    * cosine desc, id tiebreak); the 6-dp rounded sim is recovered to an
    * EXACT integer micro-sim s6 (the double is within 1e-9 of the
    * integer, so round() is unambiguous in any engine), neighborhood
    * sums and the margin are then pure long arithmetic:
    * margin_ppm = 2k·s6·10⁶ div (Σknn(a) + Σknn(b)) — > 10⁶ means the
    * pair beats the mean of its neighborhoods. Pairs with nonpositive
    * sim or neighborhood mass carry no mining signal and are gated out
    * (deterministically, in both engines).
    *
    * Scale shape: the kNN stage here is the exact brute-force
    * N²-candidate scan (the family's correctness baseline, id-
    * partitioned so it parallelizes); at 100 TB the candidate generator
    * swaps for the banded-LSH or IVF shortlist ([[qAnnLshVerified]] /
    * [[qAnnIvf]]) with this exact same downstream algebra — mutual
    * filter, neighborhood sums, integer margin — which touches only
    * N·k rows. */
  def qMutualKnn(
      spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val knn = mutualKnnCache.get(spark, (dir, k)) {
      val emb = corpus(spark, dir)
      val l = emb.select(col("vec_id").as("a"), col("embedding").as("va"),
        col("norm").as("na"))
      val r = emb.select(col("vec_id").as("b"), col("embedding").as("vb"),
        col("norm").as("nb"))
      // Shape note (r11): "score each unordered pair once" rewrites were
      // measured SLOWER than this direct form at sf1 (a<b + mirrored
      // union: 97 s — the union branches are separate subtrees, the join
      // runs twice; a<b + post-scoring explode: 74 s — the N² pair
      // ENUMERATION in the theta join dominates, not the halved dots,
      // and the explode adds per-row overhead; direct a =!= b: 66 s).
      // The exact miner's cost is intrinsic to its N² baseline contract;
      // the scale path is swapping the GENERATOR (see
      // [[mutualKnnFromLists]] / [[lshKnnLists]]), not micro-optimizing
      // the exact scan.
      val scored = l.join(r, col("a") =!= col("b"))
        .select(col("a"), col("b"),
          round(vec_dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
            .as("sim"))
      val w = Window.partitionBy("a").orderBy(col("sim").desc, col("b"))
      scored.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= k)
        .select(col("a"), col("b"),
          expr("cast(round(sim * 1000000, 0) as bigint)").as("s6"))
        .persist()
    }
    mutualKnnFromLists(knn, k)
  }

  /** The mutual-kNN miner's downstream ALGEBRA — mutual filter,
    * neighborhood sums, integer ratio margin — over ANY per-vector
    * top-k list relation `(a, b, s6)` (k rows per a, s6 = 6-dp integer
    * micro-sim). This is the swap point the [[qMutualKnn]] scaladoc
    * promises: the exact N² generator, the banded-LSH shortlist
    * ([[lshKnnLists]]), or an IVF shortlist all feed the identical
    * algebra, which touches only N·k rows (SimilaritySpec pins
    * generator-agnosticism and the LSH swap's pair recall). */
  def mutualKnnFromLists(knn: DataFrame, k: Int): DataFrame = {
    val ksum = knn.groupBy("a").agg(sum("s6").as("ksum"))
    val fwd = knn.filter(col("a") < col("b"))
    val rev = knn.filter(col("a") > col("b"))
      .select(col("b").as("a"), col("a").as("b"))
    fwd.join(rev, Seq("a", "b"), "left_semi")
      .join(ksum.select(col("a"), col("ksum").as("ka")), "a")
      .join(ksum.select(col("a").as("b"), col("ksum").as("kb")), "b")
      .filter(col("s6") > 0 && col("ka") + col("kb") > 0)
      .select(col("a"), col("b"), col("s6").as("sim_i6"),
        expr(s"(${2L * k} * s6 * 1000000) div (ka + kb)").as("margin_ppm"))
  }

  /** Per-vector top-k lists from the banded-LSH candidate join — the
    * ALL-queries generalization of [[qAnnLshVerified]]'s shortlist (no
    * `vec_id < nQueries` gate), in [[mutualKnnFromLists]]'s `(a, b, s6)`
    * shape. Approximate in recall only (a true neighbor escaping every
    * band is absent from the list); every emitted similarity is exact.
    * At scale this is the miner's candidate generator: candidate volume
    * is bounded by band-bucket fan-in instead of N². */
  def lshKnnLists(
      spark: SparkSession, dir: String,
      k: Int = 10, bandBits: Int = 2,
      quota: Int = Int.MaxValue): DataFrame = {
    val pairs = lshCandidatePairs(spark, dir, bandBits, quota)
    val v = corpus(spark, dir)
      .select(col("vec_id"), col("embedding"), col("norm"))
    val scored = pairs
      .join(v.select(col("vec_id").as("a"), col("embedding").as("qv"),
        col("norm").as("qn")), "a")
      .join(v.select(col("vec_id").as("b"), col("embedding").as("nv"),
        col("norm").as("nn")), "b")
      .select(col("a"), col("b"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("a").orderBy(col("sim").desc, col("b"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a"), col("b"),
        expr("cast(round(sim * 1000000, 0) as bigint)").as("s6"))
  }

  /** Per-vector top-k lists restricted to each vector's IVF cell — the
    * third [[mutualKnnFromLists]] generator (exact N², banded LSH,
    * IVF), and the one that is LINEAR by construction: cells scale
    * with the corpus ([[adaptiveCells]], mean occupancy ~100), so the
    * candidate relation is N · occupancy rows — never N², and unlike
    * the sign-band shortlist its cost does NOT degrade on isotropic
    * corpora (collision statistics are irrelevant; the cell partition
    * is the bound). Recall is bounded by cell co-membership of true
    * neighbors — lists are exact WITHIN the cell, approximate across
    * (SimilaritySpec pins the within-cell lists against an
    * independently-built reference). Every stage — Forgy + one-Lloyd
    * training, fixed-point assignment, rounded-cosine ranks — is the
    * published deterministic index contract, so [[qMutualKnnIvf]]
    * replays bit-exactly in DuckDB. */
  /** The published full-corpus index's assignment relation
    * (vec_id, cell) — the artifact an IVF consumer joins against
    * (served from the same per-session cache as every other index
    * consumer: dedup, outliers, drift, the kNN lists below). */
  def ivfAssignment(
      spark: SparkSession, dir: String, cells: Int = 0): DataFrame =
    cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
      .select(col("vec_id"), col("cell"))

  def ivfKnnLists(
      spark: SparkSession, dir: String,
      k: Int = 10, cells: Int = 0): DataFrame = {
    val assigned = cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
    val scored = assigned
      .select(col("cell"), col("vec_id").as("a"),
        col("embedding").as("va"), col("norm").as("na"))
      .join(assigned.select(col("cell"), col("vec_id").as("b"),
        col("embedding").as("vb"), col("norm").as("nb")), "cell")
      .filter(col("a") =!= col("b"))
      .select(col("a"), col("b"),
        round(vec_dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
          .as("sim"))
    val w = Window.partitionBy("a").orderBy(col("sim").desc, col("b"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("a"), col("b"),
        expr("cast(round(sim * 1000000, 0) as bigint)").as("s6"))
  }

  /** Mutual-kNN over the IVF-cell shortlist — the LINEAR registry door
    * (the [[qMutualKnn]] scaladoc's promised third generator). Same
    * N·k downstream algebra; candidate volume bounded by cell
    * occupancy, which holds on ANY corpus, isotropic included — the
    * complement of [[qMutualKnnLsh]]'s recall-first shape. Semantics:
    * neighborhoods are cell-restricted (the serving contract of an IVF
    * index), and the DuckDB oracle replays the full pipeline —
    * training, assignment, within-cell ranks, mutual margin — exactly. */
  def qMutualKnnIvf(
      spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    mutualKnnFromLists(ivfKnnLists(spark, dir, k), k)

  /** The banded-LSH candidate PAIR relation (a ≠ b, each colliding pair
    * emitted at exactly one band via [[firstMatchingBand]]) — the
    * generator under [[lshKnnLists]], exposed `private[graft]` so the
    * suite can MEASURE band selectivity directly: at 2-bit bands an
    * isotropic pair collides with prob 1−(1−p²)³² ≈ 1 (recall-first,
    * no pruning — the [[qEmbeddingNearDup]] physics), while at 8-bit
    * bands on a clustered corpus the same join prunes to a few percent
    * of N² (SimilaritySpec pins both ends with counts). */
  private[graft] def lshCandidatePairs(
      spark: SparkSession, dir: String, bandBits: Int,
      quota: Int = Int.MaxValue): DataFrame = {
    val emb = corpus(spark, dir)
      .withColumn("sig", signSignature(col("embedding")))
    if (quota == Int.MaxValue) {
      val left = bandedSig(emb, "vec_id", "a", "sa", bandBits)
      val right = bandedSig(emb, "vec_id", "b", "sb", bandBits)
        .withColumnRenamed("band", "band2")
        .withColumnRenamed("bval", "bval2")
        .drop("lowmask")
      left.join(right,
        col("band") === col("band2") && col("bval") === col("bval2") &&
          col("a") =!= col("b") &&
          firstMatchingBand(col("sa"), col("sb"), bandBits))
        .select(col("a"), col("b"))
    } else {
      // BOUNDED bucket membership (r14): each (band, bval) bucket keeps
      // its first `quota` members in md5-of-id order (deterministic,
      // id-decorrelated), so per-band candidate volume is
      // buckets × quota² instead of the isotropic N²-per-band physics —
      // the shape a 100 TB serving index actually runs (a hub bucket
      // cannot take the join superlinear). Below the quota nothing
      // truncates, and the emitted PAIR SET equals the unbounded
      // path's exactly (SimilaritySpec pins both: set equality under
      // the quota, strict-subset above it). Dedup is an explicit
      // distinct over the skinny (a, b) relation: firstMatchingBand
      // would drop a pair whose first signature-matching band had it
      // truncated, even though a later band legitimately carries it.
      val w = Window.partitionBy("band", "bval")
        .orderBy(md5(col("a").cast("string")), col("a"))
      val kept = bandedSig(emb, "vec_id", "a", "sa", bandBits)
        .select(col("a"), col("band"), col("bval"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= quota)
        .drop("rk")
      kept.join(kept.select(col("a").as("b"), col("band"), col("bval")),
          Seq("band", "bval"))
        .filter(col("a") =!= col("b"))
        .select(col("a"), col("b")).distinct()
    }
  }

  /** Per-(session, dir, k) persisted kNN lists for [[qMutualKnn]] —
    * three plan references (both mutual sides + neighborhood sums) and
    * repeat bench runs share one N² scan. */
  private val mutualKnnCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Artifact)

  /** The mutual-kNN miner in its 100 TB form — [[lshKnnLists]]'s
    * banded-LSH shortlist feeding [[mutualKnnFromLists]]'s N·k algebra.
    * This is the registry door to the scale path the [[qMutualKnn]]
    * scaladoc promises: candidate volume is bounded by (band, bval)
    * equi-join fan-in instead of the exact miner's N² enumeration, and
    * everything downstream of list generation touches only N·k rows.
    *
    * Approximate in recall ONLY (a true neighbor escaping all
    * 64/bandBits bands is absent from its list); every emitted
    * similarity and margin is exact. At the default 32 two-bit bands
    * the all-bands-miss probability is ≤ (1 - p²)³² with
    * p = 1 - θ/π — ≈ 1.6e-4 even for an orthogonal pair — so on the
    * test corpora the output EQUALS [[qMutualKnn]] row-for-row
    * (SimilaritySpec pins the equality; the DuckDB oracle is the exact
    * miner's SQL, the [[qAnnLshVerified]] pattern). The kNN lists
    * persist per (session, dir, k, bandBits) like the exact miner's —
    * the documented compute-once-per-corpus artifact shape.
    *
    * Cost honesty (the [[qEmbeddingNearDup]] physics, measured r12
    * cold-to-cold): on ISOTROPIC embeddings an average pair matches
    * ~8 of the 32 bands (per-band collision ≈ 0.25), so an UNBOUNDED
    * banded equi-join enumerates ~8·N² pair-band combos — 3.2 s vs the
    * exact theta join's 9.4 s at N = 2k, but 67 s vs 52 s at N = 20k,
    * and a GC-bound timeout on a loaded box (the r13 sf1 leg's one
    * dead sentinel). The registered door therefore runs the BOUNDED
    * bucket quota (`spark.graft.lsh.bucketQuota`, default 1024): each
    * (band, bval) bucket keeps its first `quota` members in md5 order,
    * capping per-band candidate volume at buckets × quota² no matter
    * the corpus — the published serving-index shape at 100 TB, where a
    * hub bucket must not take the join superlinear. Below the quota
    * (every test SF: the largest sf0.1 bucket is ~500) the shortlist —
    * and therefore the output — EQUALS the unbounded path's, which is
    * how the row-for-row-vs-[[qMutualKnn]] oracle stays exact; above
    * it (sf1+: ~5000-member buckets) recall is traded for the bound,
    * the documented approximate-in-recall-only contract. Pass
    * `spark.graft.lsh.bucketQuota=2147483647` to run the unbounded
    * physics case explicitly. */
  def qMutualKnnLsh(
      spark: SparkSession, dir: String,
      k: Int = 10, bandBits: Int = 2): DataFrame = {
    val quota = spark.conf.getOption("spark.graft.lsh.bucketQuota")
      .map(_.toInt).getOrElse(1024)
    val knn = lshKnnCache.get(spark, (dir, k, bandBits, quota)) {
      val lists = lshKnnLists(spark, dir, k, bandBits, quota).persist()
      lists.count() // populate before the algebra's three readers race
      lists
    }
    mutualKnnFromLists(knn, k)
  }

  /** Per-(session, dir, k, bandBits, quota) persisted banded-LSH kNN
    * lists for [[qMutualKnnLsh]] — same sharing contract as
    * [[mutualKnnCache]]. */
  private val lshKnnCache = graft.SessionCache
    .frames[(String, Int, Int, Int)](graft.SessionCache.Artifact)

  /** Semantic dedup (Abbas et al., "SemDeDup") — near-duplicate MEANING,
    * not near-duplicate text: cluster the corpus embeddings (Forgy + one
    * Lloyd round, the [[qIvfIngest]] index), then within each cell link
    * every pair whose exact cosine clears `threshold` and emit connected
    * components labeled by their minimum member, keeper = the label —
    * the same (id, cluster_id, is_keeper) contract as
    * [[graft.pipeline.TrainingData.qDedupClusters]], so downstream
    * keep-list consumers are interchangeable.
    *
    * Scale shape: candidate pairs are bounded per CELL, never corpus ×
    * corpus — the cell count is the dial (cells ∝ N keeps within-cell
    * pair work linear); the component solve reuses the O(log diameter)
    * star-contraction machinery. Oracle: the full pipeline replayed in
    * DuckDB — centroid training, assignment, within-cell cosine pairs,
    * recursive-CTE reachability. */
  /** Corpus-sized cached intermediate (the contract of
    * [[graft.dedup.Dedup.shingleArrays]]): every vector's assignment
    * (cell, quantized dist) under the published full-corpus index, plus
    * its embedding and norm — what a pipeline persists NEXT TO the
    * index so every index consumer (dedup, outliers, drift) reads one
    * materialization instead of re-running the crossJoin + argmin scan.
    * One persisted frame per (session, dir, cells). */
  private val assignCache =
    graft.SessionCache.frames[(String, Int)](graft.SessionCache.Artifact)

  private def cachedAssignment(
      spark: SparkSession, dir: String, cells: Int): DataFrame =
    assignCache.get(spark, (dir, cells)) {
        val embN = corpus(spark, dir)
        val emb = embN.select(col("vec_id"),
          transform(col("embedding"), x => x.cast("double")).as("xs"))
        val centroids = lloydCentroids(spark, emb, emb, cells, dir, "full")
        val a = assignCells(emb, centroids)
          .join(embN.select(col("vec_id"), col("embedding"), col("norm")),
            "vec_id")
          .persist(StorageLevel.MEMORY_AND_DISK)
        a.count() // populate before any self-join's two readers race
        a
      }

  def qSemDedup(
      spark: SparkSession, dir: String,
      cells: Int = 0, threshold: Double = 0.4): DataFrame = {
    val assigned = cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
    val pairs = assigned
      .select(col("cell"), col("vec_id").as("d1"),
        col("embedding").as("v1"), col("norm").as("n1"))
      .join(assigned.select(col("cell"), col("vec_id").as("d2"),
        col("embedding").as("v2"), col("norm").as("n2")), "cell")
      .filter(col("d1") < col("d2"))
      .filter(round(vec_dot(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 6) >= threshold)
      .select("d1", "d2")
    graft.pipeline.TrainingData.connectedComponents(pairs, spark)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("is_keeper"))
  }

  /** [[qSemDedup]] restricted to a deterministic 1-in-`mod` sample of
    * IVF cells (`cell % mod == 0`) — the scale-cheap oracle twin (the
    * [[qEmbeddingNearDupStrict]] twin-restriction pattern, r14):
    * SemDeDup's pair relation and its connected components are CLOSED
    * within a cell by construction, so the sampled restriction is
    * EXACT for the sampled cells — the output equals qSemDedup's rows
    * whose vectors live in sampled cells (SimilaritySpec pins the
    * equality). What it buys: the DuckDB replay's within-cell pair
    * scan and recursive-CTE reachability shrink by `mod`×, which is
    * what kept the sf1 oracle sweep inside its cap after the full
    * replay outgrew a 900 s box budget (the index-training replay —
    * full-corpus by necessity, both engines — is unchanged). */
  def qSemDedupCells(
      spark: SparkSession, dir: String,
      cells: Int = 0, threshold: Double = 0.4, mod: Int = 4): DataFrame = {
    val assigned = cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
      .filter(col("cell") % mod === 0)
    val pairs = assigned
      .select(col("cell"), col("vec_id").as("d1"),
        col("embedding").as("v1"), col("norm").as("n1"))
      .join(assigned.select(col("cell"), col("vec_id").as("d2"),
        col("embedding").as("v2"), col("norm").as("n2")), "cell")
      .filter(col("d1") < col("d2"))
      .filter(round(vec_dot(col("v1"), col("v2"))
        / (col("n1") * col("n2")), 6) >= threshold)
      .select("d1", "d2")
    graft.pipeline.TrainingData.connectedComponents(pairs, spark)
      .select(col("doc_id").as("vec_id"), col("cluster_id"),
        col("is_keeper"))
  }

  /** kNN-classifier evaluation: predict each query vector's label by
    * majority vote of its k exact-cosine neighbors (excluding itself),
    * and report the label confusion census — the embedding-quality probe
    * a pipeline runs before trusting vectors for dedup/search (if kNN
    * can't recover labels, SemDeDup thresholds are meaningless).
    *
    * Deterministic end-to-end: rounded-similarity ranking with id
    * tiebreak (the brute-force ANN contract), majority vote broken by
    * SMALLEST label via one `min(struct(-votes, label))` — no window
    * over the vote table. Scale: queries × corpus is the documented
    * brute-force baseline shape; swap the candidate generator for the
    * IVF/LSH index to serve it at 100 TB. */
  def qKnnEval(spark: SparkSession, dir: String,
      nQueries: Int = 100, k: Int = 5): DataFrame = {
    val emb = corpus(spark, dir)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"),
        col("norm").as("qn"), col("label").cast("long").as("true_label"))
    val c = emb.select(col("vec_id").as("nid"), col("embedding").as("nv"),
      col("norm").as("nn"), col("label").cast("long").as("nl"))
    val scored = q.join(c, col("qid") =!= col("nid"))
      .select(col("qid"), col("true_label"), col("nid"), col("nl"),
        round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
          .as("sim"))
    val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
    val votes = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .groupBy("qid", "true_label", "nl")
      .agg(count(lit(1)).as("votes"))
    votes.groupBy("qid", "true_label")
      .agg(min(struct((-col("votes")).as("nv"), col("nl"))).as("best"))
      .select(col("true_label"), col("best.nl").as("pred_label"))
      .groupBy("true_label", "pred_label")
      .agg(count(lit(1)).as("n"))
  }

  /** Matryoshka truncation evaluation — recall@k of PREFIX-truncated
    * embeddings against the full-dimension exact top-k, one census row
    * per truncation width. MRL-trained embedders promise that the first
    * d' dimensions alone retrieve well; this measures that promise on
    * the actual corpus before a pipeline commits to serving truncated
    * vectors (d'/64 of the memory and dot-product cost per dimension
    * dropped). All arithmetic is the brute-force ANN contract —
    * rounded-cosine ranking with id tiebreak per width, integer overlap
    * counts, one truncating ppm division — so the census replays
    * bit-exact in the DuckDB oracle.
    *
    * Scale shape: each width is the documented queries × corpus
    * brute-force baseline (the eval runs on a sampled query set, never
    * corpus × corpus); truncated norms are precomputed per side before
    * the pairwise join, and the per-width frames are independent — at
    * 100 TB each would swap in the IVF candidate generator like every
    * other exact-rerank consumer. */
  def qMrlEval(
      spark: SparkSession, dir: String,
      nQueries: Int = 20, k: Int = 5,
      widths: Seq[Int] = Seq(8, 16, 32)): DataFrame = {
    val emb = corpus(spark, dir, norm = false)

    def topkAt(d: Int): DataFrame = {
      val v: Column => Column =
        c => if (d >= 64) c else slice(c, 1, d)
      val q = emb.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("qid"), v(col("embedding")).as("qv"))
        .withColumn("qn", sqrt(vec_dot(col("qv"), col("qv"))))
      val c = emb
        .select(col("vec_id").as("nid"), v(col("embedding")).as("nv"))
        .withColumn("nn", sqrt(vec_dot(col("nv"), col("nv"))))
      val scored = q.join(c, col("qid") =!= col("nid"))
        .select(col("qid"), col("nid"),
          round(vec_dot(col("qv"), col("nv")) / (col("qn") * col("nn")), 6)
            .as("sim"))
      val w = Window.partitionBy("qid").orderBy(col("sim").desc, col("nid"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= k)
        .select("qid", "nid")
    }

    val truth = topkAt(64).persist()
    truth.count()
    val out = widths.map { d =>
      topkAt(d).join(truth, Seq("qid", "nid"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(d.toLong).as("trunc_dim"), col("hits"),
          expr(s"(1000000 * hits) div ${nQueries.toLong * k}")
            .as("recall_ppm"))
    }.reduce(_.unionAll(_))
    // materialize before truth unpersists (the census is `widths` rows)
    val rows = out.collect()
    truth.unpersist(blocking = false)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), out.schema)
  }

  /** MMR (maximal marginal relevance) diversified top-k: re-rank a
    * relevance shortlist so each pick maximizes
    * `λ·rel − (1−λ)·max-sim-to-already-picked` — the standard diversity
    * pass between retrieval and a RAG/context window, which plain top-k
    * (near-duplicate neighbors waste the budget) cannot express.
    *
    * Determinism: relevance and pairwise similarity are `floor(cos·1e12
    * + ½)` fixed-point longs; the MMR score is the integer
    * `7·rel_fp − 3·max_s` (λ = 0.7 scaled by 10), so every greedy pick
    * replays bit-exact in DuckDB's unrolled-CTE oracle.
    *
    * Scale shape: the only corpus-sized work is the relevance scan +
    * `TakeOrdered` shortlist cut (no global sort, no quadratic stage);
    * everything after runs on the shortlist (pairwise sims = k'² rows).
    * The greedy loop is inherently sequential in k — k tiny jobs over
    * broadcast-sized frames, lineage cut per pick. */
  def qMmrRerank(
      spark: SparkSession, dir: String,
      shortlistK: Int = 20, k: Int = 5): DataFrame = {
    def q12(x: Column): Column = floor(x * 1e12 + 0.5).cast("long")
    val emb = corpus(spark, dir)
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qv"), col("norm").as("qn"))
    val short = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        q12(vec_dot(col("embedding"), col("qv"))
          / (col("norm") * col("qn"))).as("rel_fp"),
        col("embedding"), col("norm"))
      .orderBy(col("rel_fp").desc, col("vec_id")).limit(shortlistK)
      .persist()
    val sims = short.select(col("vec_id").as("a"),
        col("embedding").as("va"), col("norm").as("na"))
      .join(short.select(col("vec_id").as("b"),
        col("embedding").as("vb"), col("norm").as("nb")),
        col("a") =!= col("b"))
      .select(col("a"), col("b"),
        q12(vec_dot(col("va"), col("vb"))
          / (col("na") * col("nb"))).as("s_fp"))
      .persist()
    try {
      var chosen = graft.Cut(short
        .select(col("vec_id"), col("rel_fp"))
        .orderBy(col("rel_fp").desc, col("vec_id")).limit(1)
        .select(col("vec_id"), col("rel_fp"), lit(1L).as("mmr_rank")))
      for (r <- 2 to k) {
        val sel = chosen.df.select(col("vec_id"))
        val maxSim = sims
          .join(sel.withColumnRenamed("vec_id", "b"), "b")
          .groupBy(col("a").as("vec_id")).agg(max("s_fp").as("max_s"))
        val pick = short.select(col("vec_id"), col("rel_fp"))
          .join(sel, Seq("vec_id"), "left_anti")
          .join(maxSim, "vec_id")
          .select(col("vec_id"), col("rel_fp"),
            (col("rel_fp") * 7 - col("max_s") * 3).as("score"))
          .orderBy(col("score").desc, col("vec_id")).limit(1)
          .select(col("vec_id"), col("rel_fp"), lit(r.toLong).as("mmr_rank"))
        chosen = chosen.next(chosen.df.unionByName(pick))
      }
      chosen.df.select(col("mmr_rank"), col("vec_id"), col("rel_fp"))
    } finally {
      short.unpersist(blocking = false)
      sims.unpersist(blocking = false)
    }
  }

  /** Greedy k-center coreset (Gonzalez's farthest-point traversal, the
    * classic 2-approximation) — the DIVERSITY-first selection primitive
    * the D²-weighted [[qKmeansParSeed]] randomizes: deterministically
    * pick the point farthest from everything picked so far, `k` times.
    * The picks cover the corpus within the last radius (no point sits
    * farther than `radius_fp` from a pick), which is exactly what a
    * coreset/eval-panel builder wants from 100 TB of embeddings.
    *
    * Scale shape: k passes, each ONE corpus scan against the broadcast
    * pick set (map-side min) ending in a TakeOrdered(1) heap merge —
    * never a quadratic stage, never a corpus collect; the pick set is
    * the kilobyte published artifact. Determinism: q12 fixed-point
    * distances ([[cellDist]]), vec_id tiebreak on every argmax, first
    * pick = minimum vec_id. `radius_fp` is the pick's distance to the
    * set BEFORE it joins (pick 0 ⇒ 0) — a non-increasing coverage
    * radius sequence the spec pins. */
  def qKcenterCoreset(
      spark: SparkSession, dir: String, k: Int = 8): DataFrame = {
    val emb = corpus(spark, dir, norm = false)
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("xs"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    emb.count()
    try {
      import spark.implicits._
      val seed0 = emb.orderBy("vec_id").limit(1)
        .as[(Long, Seq[Double])].collect().head
      var picks = IndexedSeq((seed0._1, 0L, 0L))
      var vecs = IndexedSeq((seed0._1, seed0._2))
      for (r <- 1 until k) {
        val centers = broadcast(
          spark.createDataFrame(vecs).toDF("cid", "ms"))
        val far = emb.crossJoin(centers)
          .groupBy("vec_id")
          .agg(min(cellDist(col("ms"))).as("d"), first(col("xs")).as("xs"))
          .orderBy(col("d").desc, col("vec_id")).limit(1)
          .as[(Long, Long, Seq[Double])].collect().head
        picks = picks :+ ((far._1, r.toLong, far._2))
        vecs = vecs :+ ((far._1, far._3))
      }
      spark.createDataFrame(picks)
        .toDF("vec_id", "pick_order", "radius_fp")
        .select(col("pick_order"), col("vec_id"), col("radius_fp"))
    } finally emb.unpersist(blocking = false)
  }

  /** Per-dimension whitening of the embedding corpus — the
    * standardization step between raw vectors and anything
    * distance-based ([[qEmbeddingCov]] diagnoses the covariance; this
    * operator APPLIES the diagonal part): for each of the 64 dims, the
    * exact q16 sufficient statistics (n, Σq, Σq²), the integer standard
    * deviation via the [[graft.relational.Inference.qWilsonCtr]]
    * exact-isqrt chain (double seed + two Newton steps + ±1 guards —
    * bit-independent of the seed), and the whitened-transform census
    * Σ|z| with z = (q·n − Σq)·10⁶ div isqrt(n·Σq² − (Σq)²) — the
    * evidence the transform itself (not just its parameters) is
    * engine-exact. Truncating division on both engines (z is signed).
    *
    * Scale shape: two map-side-combinable passes (moments, then the
    * broadcast-stats transform census); all per-dim arithmetic runs in
    * decimal(38,0) — n·Σq² headroom to ~10⁹ vectors. A constant
    * dimension (isqrt = 0) whitens to 0 rather than dividing. */
  /** The q16 per-(vec, dim) relation `(vec_id, d, q)` — shared by the
    * whitening family. */
  private def q16Rows(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "embeddings")
      .select(col("vec_id"),
        posexplode(transform(col("embedding"), x => x.cast("double")))
          .as(Seq("d0", "xv")))
      .select(col("vec_id"), col("d0").cast("long").as("d"),
        round(col("xv") * 65536).cast("long").as("q"))

  /** Per-dim whitening parameters `(d, n, s, isq)` with isq the exact
    * integer sqrt of the variance numerator n·Σq² − (Σq)² — one
    * definition under [[qEmbedWhiten]] and [[qOodScore]]. */
  private def whitenStats(spark: SparkSession, dir: String): DataFrame =
    q16Rows(spark, dir).groupBy("d").agg(
      count(lit(1)).as("n"),
      sum(expr("cast(q as decimal(38,0))")).as("s"),
      sum(expr("cast(q as decimal(38,0)) * q")).as("ss"))
      .withColumn("x", expr("n * ss - s * s"))
      .withColumn("r0", expr(
        "greatest(cast(1 as decimal(38,0))," +
          " cast(sqrt(cast(x as double)) as decimal(38,0)) + 2)"))
      .withColumn("r1", expr("(r0 + x div r0) div 2"))
      .withColumn("r2", expr("(r1 + x div r1) div 2"))
      .withColumn("r3", expr("case when r2 * r2 > x then r2 - 1 else r2 end"))
      .withColumn("isq",
        expr("case when (r3 + 1) * (r3 + 1) <= x then r3 + 1 else r3 end"))
      .select("d", "n", "s", "isq")

  def qEmbedWhiten(spark: SparkSession, dir: String): DataFrame = {
    val r = q16Rows(spark, dir)
    val isq = whitenStats(spark, dir)
    val za = r.join(broadcast(isq), "d")
      .select(col("d"), expr(
        """case when isq = 0 then cast(0 as decimal(38,0))
          |else ((cast(q as decimal(38,0)) * n - s) * 1000000) div isq
          |end""".stripMargin).as("z"))
      .groupBy("d").agg(sum(abs(col("z"))).as("saz"))
    isq.join(za, "d")
      .select(col("d"), col("n"),
        expr("cast((s * 1000000) div n as bigint)").as("mean_fp"),
        expr("cast((isq * 1000000) div n as bigint)").as("sd_fp"),
        col("saz").cast("long").as("sum_absz"))
  }

  /** Diagonal-Mahalanobis OOD scoring — the global-moment outlier
    * detector that completes the family: [[qEmbeddingOutliers]] ranks
    * by distance to the assigned CENTROID, [[qLof]] by local density;
    * this ranks by variance-standardized distance from the corpus MEAN
    * (Σ_d z_d² with z from the [[whitenStats]] parameters) — the
    * classic "is this embedding even from the training distribution"
    * gate. z is scaled to 10³ so a 64-dim score stays far inside a
    * long at any plausible standardization (spec'd), truncating signed
    * division on both engines.
    *
    * Scale shape: one stateless map pass against the broadcast
    * parameter table + a map-side-combinable per-vector sum, exiting
    * through TakeOrdered — no corpus sort, no shuffle beyond the
    * 64-rows-per-vector reduction. */
  def qOodScore(
      spark: SparkSession, dir: String, k: Int = 20): DataFrame = {
    val z2 = q16Rows(spark, dir)
      .join(broadcast(whitenStats(spark, dir)), "d")
      .select(col("vec_id"), expr(
        """case when isq = 0 then cast(0 as bigint)
          |else cast(((cast(q as decimal(38,0)) * n - s) * 1000) div isq
          |  as bigint) end""".stripMargin).as("z"))
      .groupBy("vec_id")
      .agg(sum(expr("z * z")).as("score"))
    load(spark, dir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("label"))
      .join(z2, "vec_id")
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)
  }

  /** Cluster-balanced prototype sample — `quota` exemplars per IVF
    * cell, nearest-to-centroid first: the antipode of
    * [[qEmbeddingOutliers]] and the "small balanced slice that still
    * shows every mode of the corpus" a curriculum or eval-set builder
    * draws. Balance is structural (every cell contributes ≤ quota
    * regardless of cell mass), so a dominant blob cannot crowd the
    * sample the way a uniform draw lets it.
    *
    * Reuses the cached full-corpus assignment artifact (the one
    * materialization [[qSemDedup]]/[[qLof]]/[[qEmbeddingOutliers]]
    * already share) and exits through the native
    * [[graft.plans.TopKPerKey]] heap operator — per-partition bounded
    * heaps, a shuffle of cells×quota rows, no corpus sort. */
  def qClusterSample(
      spark: SparkSession, dir: String,
      cells: Int = 0, quota: Int = 10): DataFrame = {
    val assigned = cachedAssignment(spark, dir,
      if (cells > 0) cells else adaptiveCellsFor(spark, dir))
    graft.plans.TopK.topKPerKey(
      assigned.select(col("vec_id"), col("cell").cast("long").as("cell"),
        col("dist").as("dist_fp")),
      keys = Seq(col("cell")),
      order = Seq(col("dist_fp").asc, col("vec_id").asc),
      k = quota)
  }
}
