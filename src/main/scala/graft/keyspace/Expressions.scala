package graft.keyspace

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the base-26 keyspace codec — the only
  * custom expressions the crack-parity engine needs (SURVEY.md §2.11, §4.2).
  * Both are codegen'd so the hot scan loop
  * (`Range → NumToPass → sha1 filter`) stays inside whole-stage codegen,
  * avoiding the reference's per-candidate malloc/free anti-pattern
  * (`worker.c:27, 98-100`).
  *
  * Note: inputs must already be (BIGINT, INT) / STRING — the `graft.functions`
  * helpers and SQL builders insert casts (`AbstractDataType` is
  * `private[sql]` in Spark 4, so `ExpectsInputTypes` is unavailable to
  * third-party expressions).
  */

/** `num_to_pass(ordinal, len)` — ordinal → `[a-z]^len` string.
  * Re-expression of `pass_num2char` (`server.c:211-224`). Errors on
  * out-of-range ordinals unless `wrap = true`, which reproduces the
  * reference's silent mod-26^len wrap.
  */
case class NumToPass(left: Expression, right: Expression, wrap: Boolean = false)
    extends BinaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "num_to_pass"

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType && right.dataType == IntegerType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BIGINT, INT), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
    }

  override protected def nullSafeEval(num: Any, len: Any): Any =
    Keyspace.numToPassUTF8(num.asInstanceOf[Long], len.asInstanceOf[Int], wrap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (n, l) => s"graft.keyspace.Keyspace.numToPassUTF8($n, $l, $wrap)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NumToPass =
    copy(left = newLeft, right = newRight)
}

/** `pass_to_num(pass)` — `[a-z]{1,13}` string → ordinal; NULL on invalid
  * input (SQL-friendly analog of `pass_char2num`, `server.c:199-209`).
  */
case class PassToNum(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "pass_to_num"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) {
      TypeCheckResult.TypeCheckSuccess
    } else {
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires STRING, got ${child.dataType.simpleString}")
    }

  override protected def nullSafeEval(input: Any): Any =
    Keyspace.passToNumBoxed(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("passToNum")
      s"""
         |java.lang.Long $tmp = graft.keyspace.Keyspace.passToNumBoxed($c);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.longValue();
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PassToNum =
    copy(child = newChild)
}

/** One thread's SHA-1 crack-kernel state: the digest, the candidate and
  * output buffers, and the last `(ordinal, len)` the candidate holds. A
  * scan in ascending ordinal order (every `Range` tile, every
  * [[graft.streaming.CrackPipeline.scanTile]]) steps the candidate's
  * base-26 successor in place instead of decoding every ordinal. Not
  * thread-safe: generated code holds one per task, [[CrackKernels]] one
  * per thread. */
private[graft] final class Sha1KernelState {
  private val md = java.security.MessageDigest.getInstance("SHA-1")
  private val buf = new Array[Byte](Keyspace.MaxLen)
  private val out = new Array[Byte](20)
  private var last = 0L
  private var lastLen = 0 // no candidate yet: the first call decodes

  /** `sha1(base26(ordinal, len))` into the reused output buffer. */
  private def digest(ordinal: Long, len: Int): Array[Byte] = {
    if (len == lastLen && ordinal == last + 1) {
      // in-place lexicographic successor with carry (z→a), worker.c:21-39
      var p = len - 1
      while (p >= 0 && buf(p) == 'z') { buf(p) = 'a'; p -= 1 }
      if (p >= 0) buf(p) = (buf(p) + 1).toByte
    } else {
      Keyspace.decodeInto(ordinal, len, buf)
      lastLen = len
    }
    last = ordinal
    md.update(buf, 0, len)
    md.digest(out, 0, 20)
    out
  }

  /** Does `sha1(base26(ordinal, len)) == target`? Raw 20-byte compare —
    * no string, hex, or digest allocation per candidate. */
  def matches(ordinal: Long, len: Int, target: Array[Byte]): Boolean =
    java.util.Arrays.equals(digest(ordinal, len), target)

  /** Index of `sha1(base26(ordinal, len))` in `targets` (flat array of
    * sorted 20-byte digests), or -1 — binary search per candidate, so a
    * batch of B targets costs one hash + log2(B) 20-byte compares per
    * candidate instead of B string equalities or a join probe. */
  def multiMatch(ordinal: Long, len: Int, targets: Array[Byte]): Int = {
    val d = digest(ordinal, len)
    var lo = 0
    var hi = targets.length / 20 - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val c = java.util.Arrays.compare(d, 0, 20, targets, mid * 20, mid * 20 + 20)
      if (c == 0) return mid
      else if (c < 0) hi = mid - 1
      else lo = mid + 1
    }
    -1
  }
}

/** Zero-allocation SHA-1 match kernels for the crack hot loop, on one
  * [[Sha1KernelState]] per thread (the interpreted path; generated code
  * keeps its own state and skips the thread-local lookup). */
object CrackKernels {

  private[keyspace] val state = ThreadLocal.withInitial[Sha1KernelState](() => new Sha1KernelState)

  def sha1MatchesOrdinal(ordinal: Long, len: Int, target: Array[Byte]): Boolean =
    state.get().matches(ordinal, len, target)

  /** A task's own [[Sha1KernelState]], as a field of the generated class. */
  private[keyspace] def kernelState(ctx: CodegenContext): String = {
    val cls = classOf[Sha1KernelState].getName
    ctx.addMutableState(cls, "sha1State", v => s"$v = new $cls();")
  }

  def hexToBytes(hex: String): Array[Byte] = {
    require(hex.length == 40, s"expected 40-char sha1 hex, got '$hex'")
    val out = new Array[Byte](20)
    var i = 0
    while (i < 40) {
      // explicit digit check: Integer.parseInt(_, 16) accepts signs,
      // which would let garbage like "-1-1..." through as a "digest"
      val d = Character.digit(hex.charAt(i), 16)
      if (d < 0)
        throw new IllegalArgumentException(
          s"not a sha1 hex digest: '$hex' (non-hex at char $i)")
      if (i % 2 == 0) out(i / 2) = (d << 4).toByte
      else out(i / 2) = (out(i / 2) | d).toByte
      i += 1
    }
    out
  }
}

/** `sha1_multi_ordinal_match(ordinal)` — index of the matching digest in
  * the (sorted) target batch, or -1. The multi-target fusion of the crack
  * scan: one SHA-1 + binary search per candidate for any batch size. */
case class Sha1MultiOrdinalMatch(
    child: Expression, len: Int, digestsHex: Seq[String])
    extends UnaryExpression {

  require(len >= 1 && len <= 13, s"len must be in [1, 13], got $len")
  require(digestsHex.nonEmpty, "need at least one target digest")

  /** Target digests in sorted binary order. Kept as SEPARATE @transient
    * lazy vals (not one tuple-destructured val): Scala 2 attaches the
    * annotation to the synthetic tuple field only when the val is flat,
    * so a tuple pattern would silently serialize the computed tables with
    * the expression. */
  @transient private lazy val sortedDigests: Seq[Array[Byte]] =
    digestsHex.map(h => CrackKernels.hexToBytes(h.toLowerCase))
      .sortWith((a, b) => java.util.Arrays.compare(a, b) < 0)

  /** Sorted flat digest bytes (the binary-search table). */
  @transient lazy val flat: Array[Byte] = {
    val out = new Array[Byte](sortedDigests.length * 20)
    sortedDigests.zipWithIndex.foreach { case (d, i) =>
      System.arraycopy(d, 0, out, i * 20, 20)
    }
    out
  }

  /** The hex string at each sorted slot (maps match index → digest). */
  @transient lazy val sortedHex: Seq[String] =
    sortedDigests.map(d => d.map("%02x".format(_)).mkString)

  override def dataType: DataType = IntegerType
  override def prettyName: String = "sha1_multi_ordinal_match"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT ordinal, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    CrackKernels.state.get().multiMatch(input.asInstanceOf[Long], len, flat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val flatRef = ctx.addReferenceObj("sha1Targets", flat, "byte[]")
    val state = CrackKernels.kernelState(ctx)
    defineCodeGen(ctx, ev, c => s"$state.multiMatch($c, $len, $flatRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sha1MultiOrdinalMatch =
    copy(child = newChild)
}

/** `sha1_ordinal_match(ordinal)` — TRUE iff the `len`-char base-26
  * candidate at `ordinal` SHA-1-hashes to `digestHex`. The fused form of
  * `sha1(num_to_pass(ordinal, len)) = hex` for the crack scan (F1+P5+P7):
  * the generic pipeline materializes a UTF8String candidate, copies it to
  * bytes, allocates a MessageDigest (commons-codec does, per row) and a
  * 40-char hex string per candidate; this kernel does none of that, so
  * candidate strings are only built for HITS. */
case class Sha1OrdinalMatch(child: Expression, len: Int, digestHex: String)
    extends UnaryExpression {

  require(len >= 1 && len <= 13, s"len must be in [1, 13], got $len")

  @transient private lazy val digest = CrackKernels.hexToBytes(digestHex)

  override def dataType: DataType = org.apache.spark.sql.types.BooleanType
  override def prettyName: String = "sha1_ordinal_match"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT ordinal, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    CrackKernels.sha1MatchesOrdinal(input.asInstanceOf[Long], len, digest)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val digestRef = ctx.addReferenceObj("sha1Target", digest, "byte[]")
    val state = CrackKernels.kernelState(ctx)
    defineCodeGen(ctx, ev, c => s"$state.matches($c, $len, $digestRef)")
  }

  override protected def withNewChildInternal(newChild: Expression): Sha1OrdinalMatch =
    copy(child = newChild)
}
