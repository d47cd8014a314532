package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic 10× upsampler for the scale-leg bench: builds an
  * sf1-shaped dataset from `/root/testdata/sf0.1` when no driver-provided
  * sf1 exists (the testdata tree is read-only, so the derived copy lands
  * under the repo working dir and is gitignored).
  *
  * Shape contract — the point is a 10×-rows probe with the SAME schema
  * and join structure, not distribution-perfect TPC-H:
  *   - every int64 entity key shifts by `copy · 10⁸` on BOTH sides of
  *     each join (fact and dimension), so per-copy join fan-outs match
  *     the original and cross-copy keys never collide;
  *   - int32 nation/region dims stay fixed (dimension tables are
  *     calendar/geography-bounded in real lakes, not corpus-scaled);
  *   - `documents.text` copies prefix EVERY token with `c<copy>`:
  *     within-copy duplicate/near-dup structure is preserved exactly
  *     (so dedup relations scale linearly with copies) while cross-copy
  *     shingle overlap is zero — verbatim text copies would instead
  *     make every doc a 10-member near-dup cluster and grow the pair
  *     relation 45×, a data artifact masquerading as a plan regression;
  *   - `embeddings.embedding` copies rotate the vector by `copy`
  *     positions: norms and per-vector distributions survive, cross-copy
  *     cosine decorrelates (verbatim copies would make 10-way exact
  *     ANN/neardup ties), and `vec_id < nQueries` query sets stay
  *     copy-0-only so retrieval evals scale linearly in corpus size;
  *   - `events.ts` is unchanged: the hour spine is calendar-bounded by
  *     design, so 10× data means 10× traffic per hour, not 10× hours.
  */
object GenScale {

  private val KeyOffset = 100000000L

  /** Key columns to shift per table (int64 entity keys only). */
  private val keyCols: Map[String, Seq[String]] = Map(
    "customer" -> Seq("c_custkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "part" -> Seq("p_partkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "region" -> Seq.empty,
    "nation" -> Seq.empty)

  /** Tables copied verbatim once (fixed-size dimensions). */
  private val fixedTables = Set("region", "nation")

  private def copyOf(name: String, df: DataFrame, i: Int): DataFrame = {
    val shifted = keyCols(name).foldLeft(df)((d, k) =>
      d.withColumn(k, col(k) + lit(i * KeyOffset)))
    name match {
      case "documents" if i > 0 =>
        // prefix every token; recompute n_chars so the (text, n_chars)
        // pair stays internally consistent in the derived copies
        shifted
          .withColumn("text", array_join(
            transform(split(col("text"), " "),
              t => concat(lit(s"c$i"), t)), " "))
          .withColumn("n_chars", length(col("text")).cast("long"))
      case "embeddings" if i > 0 =>
        // rotation offset in [1, dim-1] for EVERY copy — `i % dim` would
        // degenerate to the identity at copy == dim, silently recreating
        // the verbatim-copy ANN-tie artifact this rotation exists to
        // prevent; dim comes from the data, not a hard-coded 64.
        // Past dim-1 copies the rotations CYCLE, so copies i and
        // i+(dim-1) would carry identical vectors (an exact cross-copy
        // dup per vector — the same tie artifact at 100 copies); every
        // second rotation cycle therefore NEGATES the vector — norms
        // and pairwise geometry within a copy survive, and
        // cos(v, -v) = -1 decorrelates the cycle twins. Copies 1..9
        // (the sf1 build) never reach a second cycle, so sf1 data is
        // byte-identical to what this produced before the extension.
        val r = s"((${i - 1} % (size(embedding) - 1)) + 1)"
        shifted.withColumn("embedding", expr(
          s"concat(slice(embedding, $r + 1, size(embedding) - $r), " +
            s"slice(embedding, 1, $r))"))
          .withColumn("embedding", expr(
            s"CASE WHEN ((${i - 1} div (size(embedding) - 1)) % 2) = 1 " +
              "THEN transform(embedding, x -> -x) ELSE embedding END"))
      case _ => shifted
    }
  }

  /** Disjointness guard: the shifted copy spaces only stay disjoint if
    * every source key fits under [[KeyOffset]] — a larger source would
    * silently overlap copies and corrupt join fan-outs, so fail loudly
    * before writing anything (ADVICE r11; GenScaleSpec pins both the
    * pass and the loud fail). */
  private[tools] def assertKeyHeadroom(base: DataFrame, name: String): Unit =
    if (keyCols(name).nonEmpty) {
      val maxes = base.select(keyCols(name).map(k => max(col(k)).as(k)): _*)
        .collect()(0)
      keyCols(name).zipWithIndex.foreach { case (k, i) =>
        val m = if (maxes.isNullAt(i)) 0L else maxes.getLong(i)
        require(m < KeyOffset,
          s"GenScale: $name.$k max $m >= KeyOffset $KeyOffset — " +
            "shifted copy key spaces would collide")
      }
    }

  /** The rotation+negation decorrelation covers exactly TWO rotation
    * cycles: at copies >= 2·(dim-1)+1 cycle 2 repeats cycle 0 verbatim,
    * silently reviving the cross-copy ANN-tie artifact the scheme
    * exists to prevent (r15 ADVICE). Current max is 100 copies at
    * dim 64 (bound 126) — fail loudly before the latent bound is
    * crossed, not after ties corrupt a probe. */
  private[tools] def assertEmbeddingCopyBound(
      base: DataFrame, copies: Int): Unit =
    if (copies > 1) {
      val dim = base.selectExpr("size(embedding)").head().getInt(0)
      require(copies <= 2 * (dim - 1),
        s"GenScale: $copies embedding copies exceed the 2*(dim-1) = " +
          s"${2 * (dim - 1)} decorrelation bound — rotation cycles " +
          "would repeat and re-create verbatim cross-copy duplicates")
    }

  /** Build `dstDir` (10 key-shifted copies of every `srcDir` table) if
    * absent; reuse silently when the completion marker exists. */
  def ensure(spark: SparkSession, srcDir: String, dstDir: String,
      copies: Int = 10): Unit = {
    val marker = Paths.get(dstDir, "_GENSCALE_DONE")
    if (Files.exists(marker)) return
    Files.createDirectories(Paths.get(dstDir))
    keyCols.keys.toSeq.sorted.foreach { name =>
      val base = spark.read.parquet(s"$srcDir/$name.parquet")
      if (!fixedTables(name)) assertKeyHeadroom(base, name)
      if (name == "embeddings") assertEmbeddingCopyBound(base, copies)
      val out =
        if (fixedTables(name)) base
        else (0 until copies).map(copyOf(name, base, _)).reduce(_ unionByName _)
      // a few files per table so scans parallelize like real lake input
      // (scaled with the copy count: 8 at the 10× build, 32 at 100×,
      // keeping per-file size in the same range)
      val files = if (fixedTables(name)) 1 else math.max(8, copies / 3)
      out.repartition(files)
        .write.mode("overwrite").parquet(s"$dstDir/$name.parquet")
    }
    Files.createFile(marker)
  }

  /** Standalone builder for the sf1 Verify sweep: the bench builds the
    * upsample lazily inside its own session, but the oracle sweep
    * (`graft.Verify` + `tools/check_oracle.py`) needs the dataset to
    * exist BEFORE Verify starts. Args: srcDir dstDir [copies]. */
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val copies = if (args.length > 2) args(2).toInt else 10
    val spark = graft.LocalSession()
    try ensure(spark, src, dst, copies)
    finally spark.stop()
  }
}
