package graft.crack

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, CaseWhen, EqualTo, Expression, GreaterThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.Min
import org.apache.spark.sql.catalyst.plans.logical
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}

import graft.keyspace.{Keyspace, NumToPass, Sha1MultiOrdinalMatch, Sha1OrdinalMatch}
import graft.plans.{FirstHit, FirstHitStrategy}

/** Batch re-expression of the reference's one parameterized query
  * (SURVEY.md §0):
  *
  * {{{
  * SELECT password FROM generate_keyspace(len)
  * WHERE sha1_hex(password) = :target_hash
  * LIMIT 1
  * }}}
  *
  * The whole request/server/worker round-trip (`request.c`, `server.c`,
  * `worker.c`) collapses into one whole-stage-codegen'd Spark job:
  * `Range → Filter(sha1 = h) → Project(NumToPass) → FirstHit`.
  * `spark.range` supplies the reference's uniform range partitioning
  * (`server.c:333-438`) exactly — ordinal tiling with no overshoot — at
  * arbitrary parallelism instead of the reference's cap of 10(+1) workers.
  * `FirstHit` answers at the first hit like the reference
  * (`server.c:251-256`), but always with the minimum preimage.
  */
object CrackQuery {

  // -- the crack plans, built session-free: each plan below is the ONE
  // definition of its query, wrapped into a DataFrame by the builders
  // further down and returned as-is by the SQL table functions
  // ([[graft.GraftExtensions.tableBuilders]]). Analysis may run on a
  // micro-batch or foreign-session thread where `SparkSession.active` is
  // not the session that owns the query, so a plan that consulted it
  // would graft itself onto the wrong session; these cannot. --

  /** Ordinal `Range` leaf over `[lo, hi]` inclusive, plus its `id`
    * attribute. */
  private def keyspaceRange(
      len: Int, lo: Long, hi: Long, parallelism: Int): (logical.Range, Attribute) = {
    require(lo >= 0 && hi < Keyspace.size(len) && lo <= hi,
      s"bounds [$lo, $hi] invalid for len=$len")
    val range = logical.Range(lo, hi + 1, 1, Some(parallelism))
    (range, range.output.head)
  }

  private def passOf(id: Attribute, len: Int): Alias =
    Alias(NumToPass(id, Literal(len)), "pass")()

  /** `Range → Project(pass)`: the generated keyspace scan over ordinals
    * `[lo, hi]` (S1/S2: `worker.c:77-101`, `request.c:40-47`). */
  private[graft] def candidatesPlan(
      len: Int, lo: Long, hi: Long, parallelism: Int): LogicalPlan = {
    val (range, id) = keyspaceRange(len, lo, hi, parallelism)
    logical.Project(Seq(passOf(id, len)), range)
  }

  /** `Range → Filter(Sha1OrdinalMatch) → Project(pass)`: the crack hot
    * scan. The fused [[graft.keyspace.Sha1OrdinalMatch]] kernel allocates
    * no candidate string, hex or digest per row (measured ~2x the
    * `sha1(num_to_pass(..)) = hex` pipeline); `pass` is materialized for
    * the (0 or 1) hits only. */
  private def matchesPlan(
      hashHex: String, len: Int, lo: Long, hi: Long, parallelism: Int): LogicalPlan = {
    val (range, id) = keyspaceRange(len, lo, hi, parallelism)
    logical.Project(Seq(passOf(id, len)),
      logical.Filter(Sha1OrdinalMatch(id, len, hashHex.toLowerCase), range))
  }

  /** The reference's query over the full `[a-z]^len` domain under
    * [[graft.plans.FirstHit]]: deterministic first-found-wins (the minimum
    * preimage), since `Range` tiles are ascending ordinal ranges and
    * `num_to_pass` preserves order for a fixed `len`. */
  private[graft] def crackPlan(hashHex: String, len: Int, parallelism: Int): LogicalPlan = {
    val (lo, hi) = Keyspace.fullRange(len)
    FirstHit(matchesPlan(hashHex, len, lo, hi, parallelism))
  }

  /** A batch of targets in ONE full-domain scan: the fused
    * [[graft.keyspace.Sha1MultiOrdinalMatch]] kernel binary-searches the
    * sorted digest batch per candidate (one SHA-1 + log2(B) 20-byte
    * compares), so the scan cost is independent of batch size. Output
    * `(hash, pass)`, the minimum preimage per found target; a target with
    * no preimage is absent. Malformed hex fails here, at plan time. */
  private[graft] def crackMultiPlan(
      hashes: Seq[String], len: Int, parallelism: Int): LogicalPlan = {
    val (lo, hi) = Keyspace.fullRange(len)
    val (range, id) = keyspaceRange(len, lo, hi, parallelism)
    val matcher = Sha1MultiOrdinalMatch(id, len, hashes)
    val slot = Alias(matcher, "slot")()
    val hit = logical.Filter(GreaterThanOrEqual(slot.toAttribute, Literal(0)),
      logical.Project(Seq(id, slot), range))
    // slot index → the sorted hex it matched (a CaseWhen over the bounded
    // batch — no versioned ElementAt constructor to chase)
    val hash = Alias(CaseWhen(matcher.sortedHex.zipWithIndex.map { case (h, i) =>
      (EqualTo(slot.toAttribute, Literal(i)), Literal(h): Expression)
    }), "hash")()
    val pass = passOf(id, len)
    logical.Aggregate(Seq(hash.toAttribute),
      Seq(hash.toAttribute, Alias(Min(pass.toAttribute).toAggregateExpression(), "pass")()),
      logical.Project(Seq(hash, pass), hit))
  }

  /** Generated keyspace scan over ordinals `[lo, hi]` inclusive.
    * Splittable, ordered, codegen'd via `RangeExec`. */
  def candidates(
      spark: SparkSession,
      len: Int,
      lo: Long,
      hi: Long,
      parallelism: Int): DataFrame =
    GraftShim.ofRows(spark, candidatesPlan(len, lo, hi, parallelism))

  /** Full-domain candidate scan (`lower="a"*len`, `upper="z"*len`). */
  def candidates(spark: SparkSession, len: Int, parallelism: Int = 32): DataFrame = {
    val (lo, hi) = Keyspace.fullRange(len)
    candidates(spark, len, lo, hi, parallelism)
  }

  /** All matches in `[a-z]^len` for `target` (usually 0 or 1 rows for
    * SHA-1). */
  def matches(
      spark: SparkSession,
      hashHex: String,
      len: Int,
      parallelism: Int = 32): DataFrame = {
    val (lo, hi) = Keyspace.fullRange(len)
    matchesOrdinals(spark, hashHex, len, lo, hi, parallelism)
  }

  /** All matches among ordinals `[lo, hi]` ([[matchesPlan]]). */
  def matchesOrdinals(
      spark: SparkSession,
      hashHex: String,
      len: Int,
      lo: Long,
      hi: Long,
      parallelism: Int): DataFrame =
    GraftShim.ofRows(spark, matchesPlan(hashHex, len, lo, hi, parallelism))

  /** First-found-wins crack (A1/L3). Unlike the reference — racy: whichever
    * worker replies first wins, `server.c:275-306` — this is deterministic:
    * the lexicographically smallest preimage. Empty result ≅ reply "x". */
  def crackDF(
      spark: SparkSession,
      hashHex: String,
      len: Int,
      parallelism: Int = 32): DataFrame = {
    FirstHitStrategy.register(spark)
    GraftShim.ofRows(spark, crackPlan(hashHex, len, parallelism))
  }

  /** `./request host:port <hash> <len>` ≅ `crack(hash, len)`:
    * `Some(pass)` ≅ "f <pass>", `None` ≅ "x". */
  def crack(
      spark: SparkSession,
      hashHex: String,
      len: Int,
      parallelism: Int = 32): Option[String] =
    crackDF(spark, hashHex, len, parallelism)
      .collect().headOption.map(_.getString(0))

  /** Generalization the reference lacks: crack a whole batch of target
    * hashes in ONE keyspace scan ([[crackMultiPlan]]);
    * [[crackManyJoin]] keeps the equivalent broadcast-join formulation
    * (the `msgs ⋈ broadcast(workers)` pattern, SURVEY.md §2.4). */
  def crackMany(
      spark: SparkSession,
      hashes: Seq[String],
      len: Int,
      parallelism: Int = 32): DataFrame = {
    if (hashes.isEmpty) {
      // nothing to crack is a normal empty result, not an error
      // (malformed hex IS an error — a digest that can never match is a
      // caller bug that silence would hide)
      import spark.implicits._
      return Seq.empty[(String, String)].toDF("hash", "pass")
    }
    GraftShim.ofRows(spark, crackMultiPlan(hashes, len, parallelism))
  }

  /** Broadcast-join formulation of [[crackMany]] (J1 parity pattern). */
  def crackManyJoin(
      spark: SparkSession,
      hashes: Seq[String],
      len: Int,
      parallelism: Int = 32): DataFrame = {
    import spark.implicits._
    val targets = hashes.map(_.toLowerCase).toDF("hash")
    candidates(spark, len, parallelism)
      .join(broadcast(targets), sha1(col("pass")) === col("hash"))
      .groupBy("hash")
      .agg(min("pass").as("pass"))
  }

  /** Multi-length search — the generalization SURVEY.md §2.11 flags as
    * needing a generator: the keyspace becomes the union of `[a-z]^len`
    * for each candidate length. Expressed as a union of range scans (NOT
    * an exploded sequence — materializing a 26^len-element array per row
    * would not survive scale). Returns all matches with their length;
    * deterministic order by (len, pass). */
  def crackLens(
      spark: SparkSession,
      hashHex: String,
      lens: Seq[Int],
      parallelism: Int = 32): DataFrame = {
    require(lens.nonEmpty)
    lens.map { len =>
      val (lo, hi) = Keyspace.fullRange(len)
      matchesOrdinals(spark, hashHex, len, lo, hi, parallelism)
        .select(lit(len).as("len"), col("pass"))
    }.reduce(_.unionAll(_))
      .orderBy("len", "pass")
  }
}
