package graft.lsp

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.functions.{lsp_decode, lsp_encode}

class LspWireSpec extends SparkSpec {

  private def row(b: Array[Byte]) = LspWire.decode(b)

  test("known wire vector: connid=1 seqnum=2 payload='abc'") {
    val bytes = LspWire.encode(1L, 2L, "abc".getBytes(US_ASCII))
    assert(bytes.map(_ & 0xff).toSeq ===
      Seq(0x08, 0x01, 0x10, 0x02, 0x1a, 0x03, 0x61, 0x62, 0x63))
    val r = row(bytes)
    assert(r.getLong(0) === 1L && r.getLong(1) === 2L)
    assert(new String(r.getBinary(2), US_ASCII) === "abc")
  }

  test("known wire vectors: seeded random frames match a test-local encoder") {
    // the LSPMessage layout written out by hand, independent of the codec:
    // 0x08 varint(connid) 0x10 varint(seqnum) 0x1a varint(len) payload
    def varint(v: Long): Seq[Int] =
      if ((v & ~0x7fL) == 0) Seq(v.toInt) else ((v & 0x7f) | 0x80).toInt +: varint(v >>> 7)
    def frame(c: Long, s: Long, p: Array[Byte]): Seq[Int] = {
      val pl = if (p == null) Array.emptyByteArray else p
      (0x08 +: varint(c)) ++ (0x10 +: varint(s)) ++ (0x1a +: varint(pl.length)) ++
        pl.map(_ & 0xff)
    }
    val rng = new scala.util.Random(438)
    // [0, 2^63) with every varint width equally likely
    def id(): Long = (rng.nextLong() & Long.MaxValue) >>> rng.nextInt(63)
    val edges = Seq(0L, 127L, 128L, (1L << 32) - 1, Long.MaxValue)
    val cases = edges.map(v => (v, v, Array[Byte](1))) ++
      Seq((3L, 4L, null: Array[Byte])) ++
      Seq.fill(2000)((id(), id(),
        if (rng.nextInt(20) == 0) null
        else Array.fill(rng.nextInt(65))(rng.nextInt(256).toByte)))
    cases.foreach { case (c, s, p) =>
      val bytes = LspWire.encode(c, s, p)
      assert(bytes.map(_ & 0xff).toSeq === frame(c, s, p), s"($c, $s)")
      val r = row(bytes)
      assert(r.getLong(0) === c && r.getLong(1) === s)
      assert(r.getBinary(2).toSeq === Option(p).getOrElse(Array.emptyByteArray).toSeq)
    }
  }

  test("SQL NULL in, NULL out: lsp_encode/lsp_decode never throw on NULL or bad frames") {
    val viaSql = spark.sql(
      """SELECT lsp_encode(NULL, 1, CAST('x' AS BINARY)),
        |       lsp_encode(1, NULL, CAST('x' AS BINARY)),
        |       lsp_encode(1, 1, NULL),
        |       lsp_decode(NULL),
        |       lsp_decode(X'1A7F61')""".stripMargin).collect()(0)
    assert((0 until 5).forall(viaSql.isNullAt), viaSql)
    val bin = lit(null).cast("binary")
    val viaFunctions = spark.range(1).select(
      lsp_encode(lit(null), lit(1L), lit(Array[Byte](1))),
      lsp_encode(lit(1L), lit(null), lit(Array[Byte](1))),
      lsp_encode(lit(1L), lit(1L), bin),
      lsp_decode(bin),
      lsp_decode(lit(Array[Byte](0x1a, 0x7f, 0x61)))).collect()(0)
    assert((0 until 5).forall(viaFunctions.isNullAt), viaFunctions)
  }

  test("multi-byte varints round-trip (uint32 range and beyond)") {
    val rng = new scala.util.Random(7)
    (1 to 500).foreach { _ =>
      val c = rng.nextLong(1L << 32)
      val s = rng.nextLong(1L << 32)
      val p = Array.fill(rng.nextInt(50))(rng.nextInt(256).toByte)
      val r = row(LspWire.encode(c, s, p))
      assert(r.getLong(0) === c && r.getLong(1) === s)
      assert(r.getBinary(2).toSeq === p.toSeq)
    }
  }

  test("decode skips unknown fields; defaults for omitted fields") {
    // field 4 varint (0x20) + field 5 length-delimited (0x2a)
    // + field 6 fixed64 (0x31) + field 7 fixed32 (0x3d) — all skipped,
    // matching protobuf-c unknown-field handling
    val extra = Array[Byte](0x20, 0x7f, 0x2a, 0x02, 0x58, 0x59,
      0x31, 1, 2, 3, 4, 5, 6, 7, 8, 0x3d, 1, 2, 3, 4,
      0x08, 0x05, 0x10, 0x06, 0x1a, 0x01, 0x7a)
    val r = row(extra)
    assert(r.getLong(0) === 5L && r.getLong(1) === 6L)
    assert(new String(r.getBinary(2), US_ASCII) === "z")
    // proto3-style omission: missing fields decode as defaults
    val defaults = row(Array[Byte](0x08, 0x09))
    assert(defaults.getLong(0) === 9L && defaults.getLong(1) === 0L)
    assert(defaults.getBinary(2).length === 0)
  }

  test("malformed frames decode to null (truncated varint / bad length / bad wire type)") {
    assert(row(Array[Byte](0x08, 0xff.toByte)) === null)            // truncated varint
    assert(row(Array[Byte](0x1a, 0x7f, 0x61)) === null)             // length > remaining
    assert(row(Array[Byte](0x0d, 0x00, 0x00)) === null)             // truncated fixed32
    assert(row(Array[Byte](0x31, 0x00, 0x00, 0x00, 0x00)) === null) // truncated fixed64
    assert(row(Array[Byte](0x0b)) === null)                         // wire type 3 (group) unsupported
  }

  test("DataFrame roundtrip through codegen'd expressions") {
    val df = spark.range(0, 1000)
      .select(col("id").as("connid"), (col("id") * 7).as("seqnum"),
        concat_ws_payload)
      .select(lsp_decode(lsp_encode(col("connid"), col("seqnum"), col("payload")))
        .as("m"), col("connid"), col("seqnum"), col("payload"))
    val bad = df.filter(
      col("m.connid") =!= col("connid") ||
        col("m.seqnum") =!= col("seqnum") ||
        col("m.payload") =!= col("payload")).count()
    assert(bad === 0)
  }

  private def concat_ws_payload =
    org.apache.spark.sql.functions
      .concat(lit("msg-"), col("id").cast("string")).cast("binary").as("payload")
}
