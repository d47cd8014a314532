package graft.crack

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.{num_to_pass, pass_to_num}
import graft.keyspace.Keyspace

/** Driver-contract (SparkEntry) wrappers for the crack-parity operators —
  * `(SparkSession, sfDir) => DataFrame` shape. The keyspace is generated,
  * so `sfDir` is unused; expected answers come from FIXTURES.md §1. */
object CrackQueries {

  /** sha1("abcd")-preimage search over [a-z]^4 (found path, A1). */
  def qCrackFound(spark: SparkSession, dir: String): DataFrame =
    CrackQuery.crackDF(spark, "81fe8bfe87576c3ecb22426f8e57847382917acf", 4)

  /** sha1("1234") has no [a-z]^4 preimage (exhausted path, A2 → "x"). */
  def qCrackNotFound(spark: SparkSession, dir: String): DataFrame =
    CrackQuery.crackDF(spark, "7110eda4d09e062aa5e4a390b0a572ac0d2c0220", 4)

  /** Batch of targets in one scan (broadcast dimension join). */
  def qCrackMulti(spark: SparkSession, dir: String): DataFrame =
    CrackQuery.crackMany(spark, Seq(
      "81fe8bfe87576c3ecb22426f8e57847382917acf", // abcd
      "a94a8fe5ccb19ba61c4c0873d391e987982fbbd3", // test
      "7110eda4d09e062aa5e4a390b0a572ac0d2c0220"  // no preimage
    ), 4)

  /** Larger-keyspace crack: sha1("hello") over the 11.8M-candidate len-5
    * domain — a single codegen'd stage scanning ~12M sha1/partitioned scan
    * (the reference caps at len 6 / uint32; we support len ≤ 13). */
  def qCrackLen5(spark: SparkSession, dir: String): DataFrame =
    CrackQuery.crackDF(spark, "aaf4c61ddcc5e8a2dabede0f3b482cd9aea9434d", 5)

  /** Cancel-on-first-hit (§7.4): the crack plan's FirstHit stops at the
    * hit and cancels the tiles above it (≅ "f <pass>" to stdout). */
  def qCrackChunked(spark: SparkSession, dir: String): DataFrame =
    CrackQuery.crackDF(spark, "81fe8bfe87576c3ecb22426f8e57847382917acf", 4)

  /** Multi-length search: sha1("ab") hunted across len ∈ 1..4 — the
    * generator-style generalization (union of range scans). */
  def qCrackMultiLen(spark: SparkSession, dir: String): DataFrame =
    CrackQuery.crackLens(spark,
      "da23614e02469a0d7c7bd1bdab5c9c474b1904dc", Seq(1, 2, 3, 4))

  /** The reference's entry point as PURE SQL (SURVEY §4.2 stretch;
    * `request.c:40-75`): the registered `crack` TABLE function returns
    * [[CrackQuery.crackPlan]], the one plan [[CrackQuery.crackDF]] also
    * wraps, so this is the found-path known answer through the SQL front
    * door. Registration is
    * idempotent (createOrReplaceTempFunction), so calling it here keeps
    * the query self-contained on any session. */
  def qCrackSql(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.registerAll(spark)
    spark.sql(
      "SELECT * FROM crack('81fe8bfe87576c3ecb22426f8e57847382917acf', 4)")
  }

  /** Codec round-trip over the whole len-3 keyspace (P4/P5 parity). */
  def qKeyspaceRoundtrip(spark: SparkSession, dir: String): DataFrame =
    spark.range(0, Keyspace.size(3))
      .select(col("id"),
        num_to_pass(col("id"), 3).as("pass"))
      .withColumn("back", pass_to_num(col("pass")))

  /** X1 partitioning parity: exact 10-way tiling of the len-4 keyspace
    * with bounds in both ordinal and string form (no overshoot — the
    * reference's `server.c:387-433` quirk, fixed). */
  def qKeyspaceTile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (lo, hi) = Keyspace.fullRange(4)
    Keyspace.tile(lo, hi, 10).zipWithIndex
      .map { case ((s, e), i) => (i.toLong, s, e) }
      .toDF("part_id", "lo", "hi")
      .select(col("part_id"), col("lo"), col("hi"),
        num_to_pass(col("lo"), 4).as("lo_pass"),
        num_to_pass(col("hi"), 4).as("hi_pass"))
  }
}
