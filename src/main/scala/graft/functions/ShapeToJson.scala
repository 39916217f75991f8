package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode,
  FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** An envelope's records as `array<struct<topic, value>>`: per shape
  * whose guard holds, in shape order, its record as `to_json` writes it.
  *
  * `children` is one boolean guard per shape, then the values the
  * shapes read. A shape is a topic, the value it unnests if any, and
  * its fields. A shape gives one record, or, if it unnests an array
  * value, one record per element in array order (a null array gives
  * none, a null element one without its element fields). Each field
  * is one value, or one field of a struct value, or, for the value its
  * shape unnests, one field of the element; it is a string or a bigint
  * (the DWD beans hold nothing else; analysis rejects other types).
  * Each record's bytes are those of `to_json(struct(<its fields>))`:
  *  - a null field is left out, or written `"f":null` when
  *    `spark.sql.jsonGenerator.ignoreNullFields` is false;
  *  - strings are escaped as Jackson does: `\"`, `\\`, `\b \t \n \f
  *    \r`, other bytes below 0x20 as `\u00XX` with uppercase hex, and
  *    nothing else (no `/`, U+2028 or non-ASCII escapes);
  *  - a string that is not valid UTF-8 is written as `to_json` writes
  *    it, decoded to a Java string (invalid bytes become U+FFFD) and
  *    encoded again.
  *
  * Why not `inline(array(when(guard, struct(topic, to_json(struct(
  * ...))))...))`, with `transform` over the unnested arrays: `transform`
  * is `CodegenFallback` and takes its operator out of whole-stage
  * codegen, and whole-stage codegen generates the code of every field
  * of every shape again in every streaming micro-batch; for the log
  * demux's five record shapes (74 fields) a CASE of `to_json` arms
  * doubled the per-batch planning and code generation of the
  * small-batch pipeline. Here the generated code reads each value once
  * and makes one call that walks the shapes and writes the records,
  * so it does not grow with the shapes.
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
    shapes: Seq[ShapeToJson.Shape])
    extends Expression {
  import ShapeToJson._

  override def dataType: DataType = Records
  override def nullable: Boolean = false

  private def valueType(v: Int) = children(shapes.size + v).dataType

  /** What field `f` of shape `s` reads from: its value, or the element
    * of the value `s` unnests.
    */
  private def sourceType(s: Shape, f: Field) = valueType(f.value) match {
    case ArrayType(e, _) if s.unnest.contains(f.value) => e
    case t => t
  }

  /** The type of field `f` of shape `s`, if its struct field exists. */
  private def fieldType(s: Shape, f: Field): Option[DataType] = f.field match {
    case None => Some(sourceType(s, f))
    case Some(n) => sourceType(s, f) match {
      case st: StructType => st.find(_.name == n).map(_.dataType)
      case _ => None
    }
  }

  override def checkInputDataTypes(): TypeCheckResult = {
    val bad = shapes.indices.iterator.collect {
      case k if children(k).dataType != BooleanType => s"guard $k is not BOOLEAN"
    } ++ shapes.iterator.flatMap(_.unnest).collect {
      case v if !valueType(v).isInstanceOf[ArrayType] => s"value $v is not an array"
    } ++ shapes.iterator.flatMap(s => s.fields.map(f => (f, fieldType(s, f)))).collect {
      case (f, None) => s"value ${f.value} has no struct field ${f.field.get}"
      case (f, Some(t)) if !t.isInstanceOf[StringType] && t != LongType =>
        s"field ${f.name} is ${t.sql}; ShapeToJson writes only STRING and BIGINT fields"
    }
    bad.nextOption().fold(TypeCheckResult.TypeCheckSuccess: TypeCheckResult)(
      TypeCheckResult.TypeCheckFailure(_))
  }

  /** Per shape: its topic, the array it unnests, and per field where
    * to read it and its `"name":` bytes.
    */
  @transient private lazy val layouts = shapes.map { s =>
    Layout(UTF8String.fromString(s.topic), s.unnest.fold(-1)(shapes.size + _),
      s.unnest.map(valueType(_).asInstanceOf[ArrayType].elementType).orNull,
      s.fields.map { f =>
        Slot(if (s.unnest.contains(f.value)) -1 else shapes.size + f.value,
          f.field.fold(-1)(sourceType(s, f).asInstanceOf[StructType].fieldIndex(_)),
          fieldType(s, f).get == LongType, nameBytes(f.name))
      }.toArray)
  }.toArray

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

  /** The record of `slots`, reading `values` and the unnested
    * element `elem`.
    */
  private def record(slots: Array[Slot], values: Array[Any],
      elem: Any): UTF8String = {
    pos = 0
    put(Open)
    var first = true
    var j = 0
    while (j < slots.length) {
      val f = slots(j)
      val x = if (f.value < 0) elem else values(f.value)
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

  /** The records of the shapes whose guards hold; `values` holds the
    * children's values in order.
    */
  def records(values: Array[Any]): ArrayData = {
    if (buf == null) buf = new Array[Byte](256)
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    for (k <- layouts.indices if values(k) == true) {
      val l = layouts(k)
      def emit(elem: Any): Unit =
        out += InternalRow(l.topic, record(l.slots, values, elem))
      if (l.unnest < 0) emit(null)
      else if (values(l.unnest) != null)
        values(l.unnest).asInstanceOf[ArrayData]
          .foreach(l.elementType, (_, e) => emit(e))
    }
    new GenericArrayData(out.toArray)
  }

  override def eval(input: InternalRow): Any =
    records(children.map(_.eval(input)).toArray)

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
      |ArrayData ${ev.value} = $self.records($values);""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ShapeToJson =
    copy(children = newChildren)
}

private[graft] object ShapeToJson {

  /** A record shape: its topic, the value it unnests (an index into
    * the values after the guards) if any, and its fields.
    */
  case class Shape(topic: String, unnest: Option[Int], fields: Seq[Field])

  /** A record field: its output name, the value it reads (an index
    * into the values after the guards) and, for a struct value or the
    * element of the value its shape unnests, the struct field.
    */
  case class Field(name: String, value: Int, field: Option[String])

  /** The result type: the records as (topic, value) pairs. */
  private val Records = ArrayType(StructType(Seq(
    StructField("topic", StringType), StructField("value", StringType))),
    containsNull = false)

  /** A resolved shape: the topic, the index of the array it unnests
    * into `records`' values (-1: none) and its element type, and the
    * fields.
    */
  private case class Layout(topic: UTF8String, unnest: Int,
      elementType: DataType, slots: Array[Slot])

  /** A resolved field: the index into `records`' values (-1: the
    * unnested element), the struct ordinal (-1: the value itself),
    * bigint or string, and the `"name":` bytes.
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
