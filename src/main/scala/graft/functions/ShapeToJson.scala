package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `to_json` of one of several record shapes, picked per row.
  *
  * `children` is an int selector followed by the values the shapes
  * read. The selector picks a shape; each field of a shape is one
  * value, or one field of a struct value, and is a string or a bigint
  * (the DWD beans hold nothing else; analysis rejects other types).
  * The bytes are those of
  * `CASE selector WHEN k THEN to_json(struct(<shape k>)) END`:
  *  - a null field is left out, or written `"f":null` when
  *    `spark.sql.jsonGenerator.ignoreNullFields` is false;
  *  - strings are escaped as Jackson does: `\"`, `\\`, `\b \t \n \f
  *    \r`, other bytes below 0x20 as `\u00XX` with uppercase hex, and
  *    nothing else (no `/`, U+2028 or non-ASCII escapes);
  *  - a string that is not valid UTF-8 is written as `to_json` writes
  *    it, decoded to a Java string (invalid bytes become U+FFFD) and
  *    encoded again.
  *
  * Why not that CASE: whole-stage codegen generates the code of every
  * field of every shape again in every streaming micro-batch, and for
  * the log demux's five record shapes (74 fields) that doubled the
  * per-batch planning and code generation of the small-batch pipeline.
  * Here the generated code reads each value once and makes one call
  * that assembles and writes the record, so it does not grow with the
  * shapes.
  *
  * Why not `to_json`'s own evaluator: in a warm profile of the demux
  * task on 20k `log_bulk` envelopes, writing the records through it
  * took 41% of the task's CPU samples: 27% in the Jackson generator
  * (decoding each `UTF8String` to a Java string 10%, writing it back
  * 13%, field names 8%) and 10% in `UnsafeRow.get` boxing every bigint
  * for a generic row. Here each record is written as UTF-8 bytes into
  * one reusable buffer: field-name prefixes are encoded once, struct
  * fields are read with typed getters, bigints are written as digits,
  * and ASCII strings are copied in one pass. The same profile reads
  * 24% for this writer, on a task that takes about 20% less CPU.
  */
private[graft] case class ShapeToJson(
    children: Seq[Expression],
    shapes: Seq[Seq[ShapeToJson.Field]])
    extends Expression {
  import ShapeToJson._

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  private def valueType(f: Field) = children(f.value + 1).dataType

  /** The type of field `f`, if its struct field exists. */
  private def fieldType(f: Field): Option[DataType] = f.field match {
    case None => Some(valueType(f))
    case Some(n) => valueType(f) match {
      case s: StructType => s.find(_.name == n).map(_.dataType)
      case _ => None
    }
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = shapes.flatten.iterator.map(f => (f, fieldType(f))).collectFirst {
      case (f, None) => s"value ${f.value} has no struct field ${f.field.get}"
      case (f, Some(t)) if !t.isInstanceOf[StringType] && t != LongType =>
        s"field ${f.name} is ${t.sql}; " +
          "ShapeToJson writes only STRING and BIGINT fields"
    }
    if (children.head.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("selector must be int")
    else bad.fold(TypeCheckResult.TypeCheckSuccess: TypeCheckResult)(
      TypeCheckResult.TypeCheckFailure(_))
  }

  /** Per shape, per field: where to read it and its `"name":` bytes. */
  @transient private lazy val layouts = shapes.map(_.map { f =>
    val ordinal = f.field.fold(-1)(
      valueType(f).asInstanceOf[StructType].fieldIndex(_))
    Slot(f.value + 1, ordinal, fieldType(f).get == LongType,
      nameBytes(f.name))
  }.toArray)

  @transient private lazy val ignoreNulls =
    SQLConf.get.jsonGeneratorIgnoreNullFields

  // the record buffer: every task deserializes its own copy of the
  // expression, so one instance never writes two records at once
  @transient private var buf: Array[Byte] = _
  @transient private var pos = 0

  private def ensure(n: Int): Unit =
    if (pos + n > buf.length)
      buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

  private def put(bs: Array[Byte]): Unit = {
    ensure(bs.length)
    System.arraycopy(bs, 0, buf, pos, bs.length)
    pos += bs.length
  }

  /** Decimal digits of `x`, counted on the negative side so that
    * `Long.MinValue` needs no special case.
    */
  private def putLong(x: Long): Unit = {
    var neg = if (x < 0) x else -x
    var digits = 1
    var t = neg / 10
    while (t != 0) { digits += 1; t /= 10 }
    val end = pos + digits + (if (x < 0) 1 else 0)
    ensure(end - pos)
    if (x < 0) buf(pos) = '-'
    var i = end - 1
    while (i >= end - digits) {
      buf(i) = ('0' - neg % 10).toByte
      neg /= 10
      i -= 1
    }
    pos = end
  }

  /** `s` as a JSON string, quotes included. */
  private def putString(s: UTF8String): Unit = {
    val len = s.numBytes
    val base = s.getBaseObject
    val offset = s.getBaseOffset
    val start = pos
    ensure(2 + 6 * len)
    buf(pos) = '"'
    pos += 1
    var high = false
    var i = 0
    while (i < len) {
      val b = Platform.getByte(base, offset + i)
      val e = if (b < 0) null else Escapes(b)
      if (e == null) {
        high |= b < 0
        buf(pos) = b
        pos += 1
      } else {
        System.arraycopy(e, 0, buf, pos, e.length)
        pos += e.length
      }
      i += 1
    }
    buf(pos) = '"'
    pos += 1
    // ASCII is valid UTF-8; anything else pays one validity scan
    if (high && !s.isValid) {
      pos = start
      putString(UTF8String.fromString(s.toString))
    }
  }

  /** The record of the shape `values(0)` picks; `values` holds the
    * children's values in order.
    */
  def write(values: Array[Any]): UTF8String = {
    if (values(0) == null) return null
    val slots = layouts(values(0).asInstanceOf[Int])
    if (buf == null) buf = new Array[Byte](256)
    pos = 0
    put(Open)
    var first = true
    var j = 0
    while (j < slots.length) {
      val f = slots(j)
      val x = values(f.value)
      val top = f.ordinal < 0
      val isNull = x == null ||
        (!top && x.asInstanceOf[InternalRow].isNullAt(f.ordinal))
      if (!isNull || !ignoreNulls) {
        if (!first) put(Comma)
        first = false
        put(f.name)
        if (isNull) put(Null)
        else if (f.isLong) putLong(
          if (top) x.asInstanceOf[Long]
          else x.asInstanceOf[InternalRow].getLong(f.ordinal))
        else putString(
          if (top) x.asInstanceOf[UTF8String]
          else x.asInstanceOf[InternalRow].getUTF8String(f.ordinal))
      }
      j += 1
    }
    put(Close)
    UTF8String.fromBytes(java.util.Arrays.copyOf(buf, pos))
  }

  override def eval(input: InternalRow): Any =
    write(children.map(_.eval(input)).toArray)

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val values = ctx.addMutableState("Object[]", "shapeValues",
      v => s"$v = new Object[${children.size}];")
    val self = ctx.addReferenceObj("shapeToJson", this)
    val reads = children.zipWithIndex.map { case (c, k) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |$values[$k] = ${e.isNull} ? null : (Object) (${e.value});""".stripMargin
    }
    ev.copy(code = code"""
      |${reads.mkString("\n")}
      |UTF8String ${ev.value} = $self.write($values);
      |boolean ${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ShapeToJson =
    copy(children = newChildren)
}

private[graft] object ShapeToJson {

  /** A record field: its output name, the value it reads (an index
    * into the values after the selector) and, for a struct value, the
    * struct field.
    */
  case class Field(name: String, value: Int, field: Option[String])

  /** A resolved field: the index into `write`'s values, the struct
    * ordinal (-1: the value itself), bigint or string, and the
    * `"name":` bytes.
    */
  private case class Slot(value: Int, ordinal: Int, isLong: Boolean,
      name: Array[Byte])

  private def ascii(s: String) = s.getBytes("US-ASCII")
  private val Open = ascii("{")
  private val Comma = ascii(",")
  private val Close = ascii("}")
  private val Null = ascii("null")

  /** Per ASCII byte, its escape in a JSON string, or null. */
  private val Escapes: Array[Array[Byte]] = Array.tabulate(128) { c =>
    c.toChar match {
      case '"' => ascii("\\\"")
      case '\\' => ascii("\\\\")
      case '\b' => ascii("\\b")
      case '\t' => ascii("\\t")
      case '\n' => ascii("\\n")
      case '\f' => ascii("\\f")
      case '\r' => ascii("\\r")
      case _ if c < 0x20 => ascii(f"\\u$c%04X")
      case _ => null
    }
  }

  /** `"name":` as `to_json` writes a field name. */
  private def nameBytes(name: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    out.write('"')
    for (b <- name.getBytes("UTF-8"))
      if (b < 0 || Escapes(b) == null) out.write(b) else out.write(Escapes(b))
    out.write(ascii("\":"))
    out.toByteArray
  }
}
