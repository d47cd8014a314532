package graft.lsp

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.types._

/** The LSPMessage protobuf frame (S4/S5, SURVEY.md §2.1). The reference
  * links generated protobuf-c code (`lsp.pb-c.c:22-55`) for:
  *
  * {{{ message LSPMessage { uint32 connid=1; uint32 seqnum=2; bytes payload=3; } }}}
  *
  * Here that message is one spec string parsed once into a
  * [[ProtoCodec.Schema]], the only protobuf codec in graft; this object
  * holds no wire-format code of its own. [[encode]] always emits all
  * three fields in field order (protobuf-c's packer for a fully-populated
  * message); [[decode]] also accepts omitted defaulted fields
  * (proto3-style) and skips unknown fields by wire type.
  */
object LspWire {

  private val schema =
    ProtoCodec.parse("1:connid:uint64,2:seqnum:uint64,3:payload:bytes")

  /** Frame bytes; a null payload encodes as empty. */
  def encode(connid: Long, seqnum: Long, payload: Array[Byte]): Array[Byte] =
    schema.encode(new GenericInternalRow(Array[Any](connid, seqnum,
      if (payload == null) Array.emptyByteArray else payload)))

  /** Returns (connid, seqnum, payload), or null on malformed input. */
  def decode(bytes: Array[Byte]): InternalRow = schema.decode(bytes)

  val decodedSchema: StructType = schema.sqlSchema
}

/** `lsp_encode(connid, seqnum, payload)` → protobuf frame bytes
  * (≅ `lspmessage__pack`, `lsp.pb-c.c:22-35`). */
case class LspEncode(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "lsp_encode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == LongType && second.dataType == LongType &&
      third.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (BIGINT, BIGINT, BINARY), got " +
        s"(${first.dataType.simpleString}, ${second.dataType.simpleString}, ${third.dataType.simpleString})")

  override protected def nullSafeEval(c: Any, s: Any, p: Any): Any =
    LspWire.encode(c.asInstanceOf[Long], s.asInstanceOf[Long], p.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, s, p) => s"graft.lsp.LspWire.encode($c, $s, $p)")

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): LspEncode =
    copy(first = f, second = s, third = t)
}

/** `lsp_decode(bytes)` → `struct<connid, seqnum, payload>`; NULL on
  * malformed frames (≅ `lspmessage__unpack`, `lsp.pb-c.c:43-55`). */
case class LspDecode(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LspWire.decodedSchema
  override def nullable: Boolean = true
  override def prettyName: String = "lsp_decode"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BINARY, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(input: Any): Any =
    LspWire.decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, b => {
      val tmp = ctx.freshName("lspDecoded")
      s"""
         |InternalRow $tmp = graft.lsp.LspWire.decode($b);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): LspDecode =
    copy(child = newChild)
}
