package graft.keyspace

import org.apache.spark.unsafe.types.UTF8String

/** Pure base-26 keyspace math — no Spark dependencies.
  *
  * The reference models the password keyspace as the ordered domain of
  * fixed-length strings over `[a-z]`, bijective with integers `[0, 26^len)`
  * (codec: `server.c:199-224`; successor fn: `worker.c:21-39`; full-domain
  * bounds `a^len..z^len`: `request.c:42-47`).
  *
  * Deliberate deltas from the reference (see SURVEY.md §7.4):
  *   - `Long` ordinals allow `len <= 13` (reference: `uint32` caps len at 6,
  *     `server.c:200`).
  *   - `numToPass` errors on out-of-range by default; the reference's silent
  *     mod-26^len wrap (`server.c:211-224`) is available behind `wrap=true`.
  *   - [[tile]] exactly covers `[lo, hi]` with no overshoot — the reference's
  *     uniform split (`server.c:387-433`) can overshoot the true upper bound
  *     by up to n-1 ordinals, which combined with mod-wrap sends its last
  *     worker into a non-terminating scan.
  *   - The successor function is ordinal `+1`, so the reference's all-`z`
  *     undefined behavior (`worker.c:28-38`) is unrepresentable.
  */
object Keyspace {

  val Radix = 26
  /** 26^14 > 2^63; 13 is the largest length whose keyspace fits in a Long. */
  val MaxLen = 13

  private val pows: Array[Long] = {
    val a = new Array[Long](MaxLen + 1)
    a(0) = 1L
    var i = 1
    while (i <= MaxLen) { a(i) = a(i - 1) * Radix; i += 1 }
    a
  }

  /** Keyspace cardinality 26^len. */
  def size(len: Int): Long = {
    require(len >= 1 && len <= MaxLen, s"len must be in [1, $MaxLen], got $len")
    pows(len)
  }

  /** Full-domain bounds `[0, 26^len - 1]` ≅ `["a"*len, "z"*len]`
    * (`request.c:40-47`). */
  def fullRange(len: Int): (Long, Long) = (0L, size(len) - 1)

  /** Ordinal → fixed-length `[a-z]` string, as raw ASCII bytes. */
  def numToPassBytes(num: Long, len: Int, wrap: Boolean): Array[Byte] = {
    require(len >= 1 && len <= MaxLen, s"len must be in [1, $MaxLen], got $len")
    if (num < 0) throw new IllegalArgumentException(s"negative ordinal $num")
    val bytes = new Array[Byte](len)
    if (decodeInto(num, len, bytes) != 0 && !wrap)
      throw new IllegalArgumentException(
        s"ordinal $num out of range for len=$len keyspace (size ${pows(len)})")
    bytes
  }

  /** `num`'s low `len` base-26 digits as `[a-z]` into `buf`, unchecked;
    * returns the quotient left above them (0 when `num` fits). */
  private[keyspace] def decodeInto(num: Long, len: Int, buf: Array[Byte]): Long = {
    var n = num
    var i = len - 1
    while (i >= 0) {
      buf(i) = ('a' + (n % Radix)).toByte
      n /= Radix
      i -= 1
    }
    n
  }

  /** Ordinal → `UTF8String` (called from generated code — keep signature
    * primitive-only). */
  def numToPassUTF8(num: Long, len: Int, wrap: Boolean): UTF8String =
    UTF8String.fromBytes(numToPassBytes(num, len, wrap))

  def numToPass(num: Long, len: Int, wrap: Boolean = false): String =
    new String(numToPassBytes(num, len, wrap), java.nio.charset.StandardCharsets.US_ASCII)

  /** `[a-z]^len` string → ordinal; throws on invalid input. */
  def passToNum(s: String): Long = {
    val r = passToNumOrNull(s.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    if (r == null)
      throw new IllegalArgumentException(s"'$s' is not a [a-z]{1,$MaxLen} string")
    r.longValue()
  }

  /** Null-returning variant for SQL semantics (invalid input → NULL).
    * Called from generated code. */
  def passToNumBoxed(u: UTF8String): java.lang.Long =
    if (u == null) null else passToNumOrNull(u.getBytes)

  private def passToNumOrNull(bytes: Array[Byte]): java.lang.Long = {
    val len = bytes.length
    if (len < 1 || len > MaxLen) return null
    var acc = 0L
    var i = 0
    while (i < len) {
      val c = bytes(i)
      if (c < 'a' || c > 'z') return null
      acc = acc * Radix + (c - 'a')
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Split `[lo, hi]` (inclusive) into at most `n` contiguous, disjoint,
    * exactly-covering sub-ranges, sizes differing by at most 1.
    *
    * Fixes the reference's splitter (`server.c:387-433`) which (a) admits
    * cap+1 workers via a post-increment check (`server.c:350-352`) and
    * (b) lets the last partition overshoot `hi` by up to n-1.
    */
  def tile(lo: Long, hi: Long, n: Int): IndexedSeq[(Long, Long)] = {
    require(n >= 1, s"partition count must be >= 1, got $n")
    require(lo <= hi, s"empty range [$lo, $hi]")
    val total = hi - lo + 1
    val parts = math.min(n.toLong, total).toInt
    val base = total / parts
    val rem = total % parts
    val out = new Array[(Long, Long)](parts)
    var start = lo
    var i = 0
    while (i < parts) {
      val sz = base + (if (i < rem) 1L else 0L)
      out(i) = (start, start + sz - 1)
      start += sz
      i += 1
    }
    out.toIndexedSeq
  }
}
