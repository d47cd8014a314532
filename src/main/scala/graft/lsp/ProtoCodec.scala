package graft.lsp

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, SpecializedGetters, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Schema-DRIVEN protobuf wire codec, the only one in graft (S4/S5):
  * where the reference compiles one fixed message (`lsp.pb-c.c:22-55`
  * generated for `LSPMessage{1,2,3}`), this codec takes the message shape
  * as DATA, so an evolved schema (new fields, renamed fields, new message
  * types) is a spec-string change, not a code change. [[LspWire]] is that
  * LSPMessage spec.
  *
  * Spec syntax — one clause per field, comma-separated:
  * {{{ "<number>:<name>:<type>[,...]"   e.g. "1:connid:uint64,2:seqnum:uint64,3:payload:bytes" }}}
  * Types: `uint64`/`int64`/`uint32`/`int32` (varint → BIGINT), `sint64`
  * (zigzag varint → BIGINT), `bool` (varint → BOOLEAN), `double`
  * (fixed64), `float` (fixed32), `string`/`bytes` (length-delimited);
  * any type suffixed `[]` is a REPEATED field (→ ARRAY); a
  * parenthesized sub-spec is a NESTED MESSAGE (→ STRUCT, NULL when
  * absent), e.g. `{{{ 4:tags:string[],5:loc:(1:lat:double,2:lon:double) }}}`.
  *
  * Decode semantics are proto3's: unknown fields are skipped by wire
  * type (forward compatibility — an old reader handles a new writer),
  * absent fields read as defaults (0 / false / "" / empty / empty array;
  * absent MESSAGES read NULL — the one case proto3 distinguishes
  * presence), `null` for a malformed buffer. Repeated occurrences of a
  * scalar keep the LAST value; repeated fields CONCATENATE across
  * occurrences and accept both packed (one length-delimited run) and
  * unpacked (one tag per element) wire layouts. Encoding packs numeric
  * repeated fields (proto3's default) and emits one tag per element for
  * strings/bytes/messages.
  *
  * Both directions are single-pass, allocation-light kernels usable from
  * whole-stage codegen — at 100 TB the decode sits directly behind the
  * scan (the same hot position `lspmessage__unpack` holds in the
  * reference's receive loop).
  */
object ProtoCodec {

  sealed trait PType extends Serializable { def sqlType: DataType }
  sealed abstract class PScalar(val wire: Int, val sqlType: DataType) extends PType
  case object PVarint extends PScalar(0, LongType)   // uint/int 32/64
  case object PZigzag extends PScalar(0, LongType)   // sint64
  case object PBool extends PScalar(0, BooleanType)
  case object PDouble extends PScalar(1, DoubleType) // fixed64
  case object PString extends PScalar(2, StringType)
  case object PBytes extends PScalar(2, BinaryType)
  case object PFloat extends PScalar(5, FloatType)   // fixed32

  /** Nested message: wire type 2, decodes recursively, NULL when absent. */
  final case class PMessage(schema: Schema) extends PType {
    def sqlType: DataType = schema.sqlSchema
  }

  /** Repeated field (array of a scalar or message element type). */
  final case class PRepeated(elem: PType) extends PType {
    require(!elem.isInstanceOf[PRepeated], "repeated-of-repeated is not a thing")
    def sqlType: DataType = ArrayType(elem.sqlType,
      containsNull = elem.isInstanceOf[PMessage])
  }

  final case class Field(number: Int, name: String, ptype: PType)

  /** Parsed message shape. Field order in the spec = struct field order. */
  final case class Schema(fields: Seq[Field]) {
    require(fields.nonEmpty, "proto spec needs at least one field")
    require(fields.map(_.number).distinct.size == fields.size,
      s"duplicate field numbers in ${fields.map(_.number)}")
    require(fields.map(_.name).distinct.size == fields.size,
      s"duplicate field names in ${fields.map(_.name)}")

    val sqlSchema: StructType =
      StructType(fields.map(f => StructField(f.name, f.ptype.sqlType,
        nullable = f.ptype.isInstanceOf[PMessage])))

    /** slot index by field number; -1 = unknown (skip). Dense array only
      * while field numbers are small — proto extension ranges go up to
      * 2^29-1 and must not allocate a max-sized table. */
    private val denseSlots: Array[Int] = {
      val max = fields.map(_.number).max
      if (max > 4096) null
      else {
        val arr = Array.fill(max + 1)(-1)
        fields.zipWithIndex.foreach { case (f, i) => arr(f.number) = i }
        arr
      }
    }
    private val sparseSlots: Map[Int, Int] =
      if (denseSlots != null) null
      else fields.zipWithIndex.map { case (f, i) => f.number -> i }.toMap

    private def slot(number: Int): Int =
      if (denseSlots != null) {
        if (number >= 0 && number < denseSlots.length) denseSlots(number)
        else -1
      } else sparseSlots.getOrElse(number, -1)

    // Per-field facts hoisted out of the per-frame paths: the decode and
    // encode loops index these arrays instead of walking `fields`.
    private val types: Array[PType] = fields.map(_.ptype).toArray
    /** Encode-side tag of each field: its scalar wire type, else 2
      * (messages, packed runs and string/bytes elements are all
      * length-delimited). */
    private val tags: Array[Long] = fields.map { f =>
      (f.number.toLong << 3) | (f.ptype match {
        case t: PScalar => t.wire
        case _ => 2
      })
    }.toArray
    /** proto3 defaults — what an absent field reads as. Cloned per decode;
      * repeated slots get a fresh builder only when the schema has any. */
    private val template: Array[Any] = types.map {
      case PVarint | PZigzag => 0L
      case PBool => false
      case PDouble => 0.0
      case PFloat => 0.0f
      case PString => UTF8String.EMPTY_UTF8
      case PBytes => Array.emptyByteArray
      case _: PMessage => null // absence is observable for messages
      case _: PRepeated => null
    }
    private val repeatedSlots: Array[Int] =
      types.indices.filter(s => types(s).isInstanceOf[PRepeated]).toArray

    def decode(bytes: Array[Byte]): InternalRow = {
      val values = template.clone()
      var k = 0
      while (k < repeatedSlots.length) {
        values(repeatedSlots(k)) = mutable.ArrayBuffer.empty[Any]
        k += 1
      }
      def elems(s: Int) = values(s).asInstanceOf[mutable.ArrayBuffer[Any]]
      val r = new Reader(bytes)
      try {
        while (r.i < bytes.length) {
          val tag = r.readVarint()
          val wire = (tag & 7).toInt
          val s = slot((tag >>> 3).toInt)
          if (s < 0) r.skip(wire) // unknown field
          else types(s) match {
            case t: PScalar if t.wire == wire => values(s) = r.scalar(t)
            case m: PMessage if wire == 2 => values(s) = r.message(m)
            case PRepeated(t: PScalar) if t.wire == wire => elems(s) += r.scalar(t)
            case PRepeated(t: PScalar) if wire == 2 && t.wire != 2 =>
              // packed run of numeric elements
              val n = r.len()
              val end = r.i + n
              val buf = elems(s)
              while (r.i < end) buf += r.scalar(t)
              if (r.i != end)
                throw new IllegalArgumentException("packed run overran")
            case PRepeated(m: PMessage) if wire == 2 => elems(s) += r.message(m)
            case _ => r.skip(wire) // type drift
          }
        }
        k = 0
        while (k < repeatedSlots.length) {
          val s = repeatedSlots(k)
          values(s) = new GenericArrayData(elems(s).toArray)
          k += 1
        }
        new GenericInternalRow(values)
      } catch {
        case _: IllegalArgumentException => null
        case _: ArrayIndexOutOfBoundsException => null
      }
    }

    /** Encode a struct row laid out exactly as [[sqlSchema]]. Emits every
      * present field in spec order (the packer style of
      * `lspmessage__pack` — explicit defaults on the wire for scalars, so
      * decode-with-defaults is lossless for any value including zeros;
      * NULL messages and empty arrays emit nothing). */
    def encode(row: InternalRow): Array[Byte] = {
      val w = new Writer(64)
      var s = 0
      while (s < types.length) {
        types(s) match {
          case m: PMessage =>
            if (!row.isNullAt(s)) {
              w.writeVarint(tags(s))
              w.bytes(m.schema.encode(row.getStruct(s, m.schema.fields.size)))
            }
          case _ if row.isNullAt(s) =>
            throw new IllegalArgumentException(
              s"proto_encode: field '${fields(s).name}' is NULL — proto3 scalars and " +
                "repeated fields have no null representation (only nested " +
                "messages may be NULL)")
          case t: PScalar =>
            w.writeVarint(tags(s))
            w.scalar(t, row, s)
          case PRepeated(t: PScalar) if t.wire != 2 =>
            // packed (proto3 default for numeric elements): element
            // values into a side buffer, then one length-delimited run
            val arr = row.getArray(s)
            if (arr.numElements() > 0) {
              val run = new Writer(arr.numElements() * 4)
              var j = 0
              while (j < arr.numElements()) { run.scalar(t, arr, j); j += 1 }
              w.writeVarint(tags(s))
              w.bytes(run.result)
            }
          case PRepeated(t) =>
            val arr = row.getArray(s)
            var j = 0
            while (j < arr.numElements()) {
              w.writeVarint(tags(s))
              t match {
                case m: PMessage =>
                  w.bytes(m.schema.encode(arr.getStruct(j, m.schema.fields.size)))
                case sc: PScalar => w.scalar(sc, arr, j) // string / bytes
                case _: PRepeated => throw new IllegalStateException("unreachable")
              }
              j += 1
            }
        }
        s += 1
      }
      w.result
    }
  }

  /** THE wire-format reader: a cursor over one frame. Every malformation
    * (truncation, overlong varint, bad length, unsupported wire type)
    * throws IllegalArgumentException, which [[Schema.decode]] turns into
    * a null row. */
  private final class Reader(bytes: Array[Byte]) {
    var i = 0

    def readVarint(): Long = {
      var shift = 0
      var acc = 0L
      while (i < bytes.length) {
        val b = bytes(i) & 0xff
        i += 1
        acc |= (b & 0x7fL) << shift
        if ((b & 0x80) == 0) return acc
        shift += 7
        if (shift > 63) throw new IllegalArgumentException("varint too long")
      }
      throw new IllegalArgumentException("truncated varint")
    }
    def len(): Int = {
      val len64 = readVarint()
      // reject before toInt: a >2^31 length must not alias into a
      // small-looking value and decode misaligned garbage
      if (len64 < 0 || len64 > Int.MaxValue || i + len64.toInt > bytes.length)
        throw new IllegalArgumentException("bad length")
      len64.toInt
    }
    /** Little-endian fixed32/64. */
    def fixed(n: Int): Long = {
      if (i + n > bytes.length)
        throw new IllegalArgumentException(s"truncated fixed$n")
      var acc = 0L
      var k = 0
      while (k < n) { acc |= (bytes(i + k) & 0xffL) << (8 * k); k += 1 }
      i += n
      acc
    }
    def scalar(t: PScalar): Any = t match {
      case PVarint => readVarint()
      case PBytes =>
        val n = len()
        val v = java.util.Arrays.copyOfRange(bytes, i, i + n)
        i += n
        v
      case PString =>
        val n = len()
        val v = UTF8String.fromBytes(bytes, i, n)
        i += n
        v
      case PZigzag =>
        val raw = readVarint()
        (raw >>> 1) ^ -(raw & 1)
      case PBool => readVarint() != 0L
      case PDouble => java.lang.Double.longBitsToDouble(fixed(8))
      case PFloat => java.lang.Float.intBitsToFloat(fixed(4).toInt)
    }
    def message(m: PMessage): InternalRow = {
      val n = len()
      val sub = m.schema.decode(java.util.Arrays.copyOfRange(bytes, i, i + n))
      if (sub == null)
        throw new IllegalArgumentException("malformed nested message")
      i += n
      sub
    }
    def skip(wire: Int): Unit = wire match {
      case 0 => readVarint()
      case 1 => fixed(8)
      case 2 =>
        // NOT `i += len()`: the LHS `i` is read BEFORE len() advances it
        // past the length varint, so += would rewind
        val n = len()
        i += n
      case 5 => fixed(4)
      case w => throw new IllegalArgumentException(s"unsupported wire type $w")
    }
  }

  /** THE wire-format writer — one implementation shared by the top-level
    * message body and packed-run side buffers, so the scalar encodings
    * can never diverge between the two paths. A plain growable array:
    * ByteArrayOutputStream synchronizes every write. */
  private final class Writer(capacity: Int) {
    private var buf = new Array[Byte](math.max(capacity, 16))
    private var n = 0

    private def room(k: Int): Unit =
      if (n + k > buf.length)
        buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, n + k))
    def writeVarint(value: Long): Unit = {
      room(10)
      var v = value
      while ((v & ~0x7fL) != 0) {
        buf(n) = ((v & 0x7f) | 0x80).toByte
        n += 1
        v >>>= 7
      }
      buf(n) = v.toByte
      n += 1
    }
    def fixed(v: Long, k: Int): Unit = {
      room(k)
      var j = 0
      while (j < k) { buf(n) = (v >>> (8 * j)).toByte; n += 1; j += 1 }
    }
    /** Length-prefixed bytes. */
    def bytes(b: Array[Byte]): Unit = {
      writeVarint(b.length.toLong)
      room(b.length)
      System.arraycopy(b, 0, buf, n, b.length)
      n += b.length
    }
    /** Scalar VALUE bytes (no tag) of `src(ord)` — a row field or an
      * array element, shared by plain and packed paths. */
    def scalar(t: PScalar, src: SpecializedGetters, ord: Int): Unit = t match {
      case PVarint => writeVarint(src.getLong(ord))
      case PZigzag =>
        val x = src.getLong(ord)
        writeVarint((x << 1) ^ (x >> 63))
      case PBool => writeVarint(if (src.getBoolean(ord)) 1L else 0L)
      case PDouble => fixed(java.lang.Double.doubleToLongBits(src.getDouble(ord)), 8)
      case PFloat =>
        fixed(java.lang.Float.floatToIntBits(src.getFloat(ord)) & 0xffffffffL, 4)
      case PString => bytes(src.getUTF8String(ord).getBytes)
      case PBytes => bytes(src.getBinary(ord))
    }
    def result: Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Split on `sep` at paren depth 0 only (nested specs contain both
    * commas and colons). */
  private def splitTop(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; cur.append('(')
      case ')' => depth -= 1; cur.append(')')
      case c if c == sep && depth == 0 => out += cur.result(); cur.clear()
      case c => cur.append(c)
    }
    require(depth == 0, s"unbalanced parentheses in proto spec '$s'")
    out += cur.result()
    out.result()
  }

  def parse(spec: String): Schema = Schema(
    splitTop(spec, ',').map { clause =>
      clause.split(":", 3) match {
        case Array(num, name, tpe0) =>
          var tpe = tpe0.trim
          val repeated = tpe.endsWith("[]")
          if (repeated) tpe = tpe.dropRight(2).trim
          val base: PType =
            if (tpe.startsWith("(") && tpe.endsWith(")"))
              PMessage(parse(tpe.substring(1, tpe.length - 1)))
            else tpe.toLowerCase match {
              case "uint64" | "int64" | "uint32" | "int32" => PVarint
              case "sint64" | "sint32" => PZigzag
              case "bool" => PBool
              case "double" => PDouble
              case "float" => PFloat
              case "string" => PString
              case "bytes" => PBytes
              case other => throw new IllegalArgumentException(
                s"unknown proto type '$other' in clause '$clause'")
            }
          val n = num.trim.toInt
          require(n >= 1 && n < (1 << 29), s"field number $n out of range")
          Field(n, name.trim, if (repeated) PRepeated(base) else base)
        case _ => throw new IllegalArgumentException(
          s"bad proto spec clause '$clause' (want number:name:type)")
      }
    })
}

/** `proto_decode(bytes, 'spec')` → typed struct per the spec; NULL on
  * malformed input (the generic `lspmessage__unpack`). */
case class ProtoDecode(child: Expression, spec: String) extends UnaryExpression {

  @transient lazy val schema: ProtoCodec.Schema = ProtoCodec.parse(spec)

  override def dataType: DataType = schema.sqlSchema
  override def nullable: Boolean = true
  override def prettyName: String = "proto_decode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    schema.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val schemaRef = ctx.addReferenceObj("protoSchema", schema,
        classOf[ProtoCodec.Schema].getName)
      val tmp = ctx.freshName("protoDecoded")
      s"""
         |InternalRow $tmp = $schemaRef.decode($b);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): ProtoDecode =
    copy(child = newChild)
}

/** `proto_encode(struct, 'spec')` → wire bytes (the generic
  * `lspmessage__pack`); the struct's fields must match the spec's order
  * and types. */
case class ProtoEncode(child: Expression, spec: String) extends UnaryExpression {

  @transient lazy val schema: ProtoCodec.Schema = ProtoCodec.parse(spec)

  override def dataType: DataType = BinaryType
  override def prettyName: String = "proto_encode"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // positional and nullability-blind: the wire cares about types and
    // order, not struct field names or Spark's inferred nullability
    case st: StructType
        if st.fields.length == schema.sqlSchema.fields.length &&
          st.fields.zip(schema.sqlSchema.fields).forall { case (a, b) =>
            DataType.equalsStructurally(a.dataType, b.dataType,
              ignoreNullability = true)
          } =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName input must be ${schema.sqlSchema.simpleString}, got ${other.simpleString}")
  }

  override protected def nullSafeEval(input: Any): Any =
    schema.encode(input.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val schemaRef = ctx.addReferenceObj("protoSchema", schema,
      classOf[ProtoCodec.Schema].getName)
    defineCodeGen(ctx, ev, r => s"$schemaRef.encode($r)")
  }

  override protected def withNewChildInternal(newChild: Expression): ProtoEncode =
    copy(child = newChild)
}
