package graft.functions

import java.nio.charset.StandardCharsets
import java.util.Locale

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.json.JsonToStructsEvaluator
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** `from_json(child, schema)` for a schema of strings, bigints,
  * structs and arrays, read from the value's UTF-8 bytes.
  *
  * The result is that of `from_json` with default options, value for
  * value: a `GenericInternalRow` per struct, a `GenericArrayData` per
  * array, a `UTF8String` per string and a boxed `Long` per bigint. A
  * fast path reads the bytes directly and accepts only strict RFC 8259
  * input whose meaning it knows exactly:
  *  - one top-level object, with nothing but whitespace around it;
  *  - keys without escapes or non-ASCII bytes; a schema field's key
  *    at most once per object; an unknown key that equals no field's
  *    name ignoring case, whose value is skipped with strict JSON
  *    validation up to a fixed nesting depth;
  *  - string fields given as strings or `null`, with the escapes
  *    `\" \\ \/ \b \f \n \r \t \uXXXX` (no surrogate `\u` escapes) and
  *    non-ASCII bytes only where they are valid UTF-8 by the JDK
  *    decoder's rules;
  *  - bigint fields given as `null` or an integer of at most 18 digits
  *    without leading zeros;
  *  - struct and array fields given as objects, arrays or `null`.
  * Any other input — invalid UTF-8 (which `from_json`'s
  * `InputStreamReader` turns into U+FFFD), single quotes, comments,
  * floats or `true` in a field, numbers in string fields, raw control
  * characters, duplicate keys, trailing content, empty input — is read
  * by `from_json`'s own `JsonToStructsEvaluator`, with its default
  * options and the session time zone (no field of a schema it admits
  * reads one). That fallback is what `from_json` runs, so its rows
  * are `from_json`'s by construction; the fast path's rows are the
  * ones Jackson gives for the inputs it accepts (`ReadJsonStructSpec`
  * checks both against `from_json`).
  *
  * Why: `from_json` decodes each value to chars with an
  * `InputStreamReader`, makes every string field a Java `String` and
  * encodes it back with `UTF8String.fromString`, and as a
  * `CodegenFallback` it keeps its projection out of whole-stage
  * codegen. In a warm profile of the log demux task on 20k `log_bulk`
  * envelopes, `JsonToStructs` took 43% of the task's CPU samples (559
  * of 1309). Here unescaped string bytes are copied straight into a
  * `UTF8String`, digits are read into a `long`, keys are matched byte
  * for byte, and the generated code makes one call to [[read]]. The
  * same profile reads 29% for this parse (251 of 863 samples): the
  * parse takes less than half the CPU, and the task a third less.
  */
private[graft] case class ReadJsonStruct(
    child: Expression,
    schema: StructType)
    extends UnaryExpression {

  override def dataType: DataType = ReadJsonStruct.asNullable(schema)
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = {
    def bad(path: String, t: DataType): Option[String] = t match {
      case StringType | LongType => None
      case s: StructType => s.fields.iterator
        .flatMap(f => bad(s"$path.${f.name}", f.dataType)).nextOption()
      case ArrayType(e, _) => bad(s"$path[]", e)
      case _ => Some(s"field ${path.stripPrefix(".")} is ${t.sql}; " +
        "ReadJsonStruct reads only STRING and BIGINT leaves, structs and arrays")
    }
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure("input must be a string")
    else bad("", schema).fold(TypeCheckResult.TypeCheckSuccess: TypeCheckResult)(
      TypeCheckResult.TypeCheckFailure(_))
  }

  // every task deserializes its own copy of the expression, so one
  // reader never parses two values at once
  @transient private lazy val reader = new ReadJsonStruct.Reader(schema)

  @transient private lazy val evaluator = JsonToStructsEvaluator(Map.empty,
    dataType, SQLConf.get.columnNameOfCorruptRecord,
    Some(SQLConf.get.sessionLocalTimeZone),
    SQLConf.get.getConf(SQLConf.VARIANT_ALLOW_DUPLICATE_KEYS))

  /** The fast path's row for `value`, or null if it does not accept
    * `value`.
    */
  def fast(value: UTF8String): InternalRow = reader.read(value)

  /** `from_json(value, schema)`. */
  def read(value: UTF8String): InternalRow = {
    val row = reader.read(value)
    if (row != null) row
    else evaluator.evaluate(value).asInstanceOf[InternalRow]
  }

  override protected def nullSafeEval(value: Any): Any =
    read(value.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("readJsonStruct", this)
    nullSafeCodeGen(ctx, ev, v =>
      s"""${ev.value} = $self.read($v);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ReadJsonStruct = copy(child = newChild)
}

private[graft] object ReadJsonStruct {

  /** `t` with every struct field and array element nullable, as
    * `from_json` returns it.
    */
  private def asNullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = asNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(asNullable(e), containsNull = true)
    case other => other
  }

  // longer inputs, keys and skipped numbers than these fall back;
  // they stay far below Jackson's limits under `from_json` (strings of
  // 20M chars, names of 50k chars, numbers of 1000 chars, nesting
  // depth 1000), so the fast path never accepts what Jackson rejects
  private val MaxInput = 16 << 20
  private val MaxKey = 256
  private val MaxSkippedNumber = 64
  private val MaxSkipDepth = 64

  /** Rejection: the value goes to the fallback. */
  private object Reject extends scala.util.control.ControlThrowable

  private final val Str = 0
  private final val Lng = 1
  private final val Obj = 2
  private final val Arr = 3

  /** A schema node: its kind, and per kind the field names (as UTF-8
    * and lower-cased) and nodes, or the element node. `seen` and
    * `items` are scratch space for the object or array being read:
    * a node is never read inside itself.
    */
  private final class Node(t: DataType) {
    val kind: Int = t match {
      case StringType => Str
      case LongType => Lng
      case _: StructType => Obj
      case _: ArrayType => Arr
    }
    private val fields = t match {
      case s: StructType => s.fields
      case _ => Array.empty[StructField]
    }
    val names: Array[Array[Byte]] = fields.map(_.name.getBytes(StandardCharsets.UTF_8))
    val lower: Set[String] = fields.map(_.name.toLowerCase(Locale.ROOT)).toSet
    val children: Array[Node] = fields.map(f => new Node(f.dataType))
    val elem: Node = t match {
      case ArrayType(e, _) => new Node(e)
      case _ => null
    }
    val seen = new Array[Boolean](fields.length)
    var items = new Array[Any](16)
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\r' || b == '\t'

  private def hex(b: Byte): Int =
    if (b >= '0' && b <= '9') b - '0'
    else if (b >= 'a' && b <= 'f') b - 'a' + 10
    else if (b >= 'A' && b <= 'F') b - 'A' + 10
    else -1

  /** The fast path over one schema; `read` parses one value at a time. */
  private final class Reader(schema: StructType) {
    private val root = new Node(schema)
    private var base: AnyRef = _
    private var off = 0L
    private var end = 0
    private var pos = 0
    private var buf = new Array[Byte](64)

    /** The row for `v`, or null if the fast path does not accept it. */
    def read(v: UTF8String): InternalRow = {
      if (v.numBytes >= MaxInput) return null
      base = v.getBaseObject
      off = v.getBaseOffset
      end = v.numBytes
      pos = 0
      try {
        ws()
        if (peek() != '{') return null
        val row = struct(root)
        ws()
        if (pos != end) null else row
      } catch {
        case Reject => null
      } finally base = null
    }

    private def at(i: Int): Byte = Platform.getByte(base, off + i)

    private def peek(): Byte = {
      if (pos >= end) throw Reject
      at(pos)
    }

    private def next(): Byte = {
      val b = peek()
      pos += 1
      b
    }

    private def ws(): Unit =
      while (pos < end && isWs(at(pos))) pos += 1

    private def expect(c: Char): Unit = if (next() != c) throw Reject

    private def literal(s: String): Unit = {
      var i = 0
      while (i < s.length) { expect(s.charAt(i)); i += 1 }
    }

    /** The value at `pos`, of node `n`'s type. */
    private def value(n: Node): Any = {
      val b = peek()
      if (b == 'n') { literal("null"); null }
      else n.kind match {
        case Str => if (b != '"') throw Reject; string()
        case Lng => long()
        case Obj => if (b != '{') throw Reject; struct(n)
        case Arr => if (b != '[') throw Reject; array(n)
      }
    }

    private def struct(n: Node): InternalRow = {
      pos += 1
      val row = new GenericInternalRow(n.children.length)
      java.util.Arrays.fill(n.seen, false)
      ws()
      if (peek() == '}') { pos += 1; return row }
      var hint = 0
      while (true) {
        val k = key(n, hint)
        ws(); expect(':'); ws()
        if (k < 0) skip(1)
        else {
          if (n.seen(k)) throw Reject
          n.seen(k) = true
          row.update(k, value(n.children(k)))
          hint = k + 1
        }
        ws()
        val b = next()
        if (b == '}') return row
        if (b != ',') throw Reject
        ws()
      }
      row
    }

    private def array(n: Node): ArrayData = {
      pos += 1
      ws()
      if (peek() == ']') {
        pos += 1
        return new GenericArrayData(Array.empty[Any])
      }
      var items = n.items
      var count = 0
      while (true) {
        val x = value(n.elem)
        if (count == items.length) {
          items = java.util.Arrays.copyOf(
            items.asInstanceOf[Array[AnyRef]], count * 2).asInstanceOf[Array[Any]]
          n.items = items
        }
        items(count) = x
        count += 1
        ws()
        val b = next()
        if (b == ']') return new GenericArrayData(java.util.Arrays.copyOf(
          items.asInstanceOf[Array[AnyRef]], count).asInstanceOf[Array[Any]])
        if (b != ',') throw Reject
        ws()
      }
      null
    }

    /** The index of the field whose key starts at `pos`, trying `hint`
      * first, or -1 for an unknown key.
      */
    private def key(n: Node, hint: Int): Int = {
      if (peek() != '"') throw Reject
      pos += 1
      val start = pos
      var b = peek()
      while (b != '"') {
        // escapes, control characters and non-ASCII bytes fall back
        if (b < 0x20 || b == '\\') throw Reject
        pos += 1
        b = peek()
      }
      val len = pos - start
      pos += 1
      if (len > MaxKey) throw Reject
      val names = n.names
      if (hint < names.length && matches(names(hint), start, len)) return hint
      var k = 0
      while (k < names.length) {
        if (matches(names(k), start, len)) return k
        k += 1
      }
      // a key that is a field's name in another case falls back
      val key = new String(bytes(start, len), StandardCharsets.US_ASCII)
      if (n.lower.contains(key.toLowerCase(Locale.ROOT))) throw Reject
      -1
    }

    private def bytes(start: Int, len: Int): Array[Byte] = {
      val bs = new Array[Byte](len)
      Platform.copyMemory(base, off + start, bs, Platform.BYTE_ARRAY_OFFSET, len)
      bs
    }

    private def matches(name: Array[Byte], start: Int, len: Int): Boolean =
      name.length == len && {
        var j = 0
        while (j < len && at(start + j) == name(j)) j += 1
        j == len
      }

    /** An integer of at most 18 digits without leading zeros. */
    private def long(): java.lang.Long = {
      val neg = peek() == '-'
      if (neg) pos += 1
      val start = pos
      val n = digits()
      if (n == 0 || n > 18 || (n > 1 && at(start) == '0')) throw Reject
      var x = 0L
      var i = start
      while (i < pos) {
        x = x * 10 + (at(i) - '0')
        i += 1
      }
      if (neg) -x else x
    }

    /** The string at `pos`: its unescaped bytes are copied as they are. */
    private def string(): UTF8String = {
      pos += 1
      val start = pos
      while (true) {
        val b = peek()
        if (b == '"') {
          pos += 1
          return UTF8String.fromBytes(bytes(start, pos - 1 - start))
        }
        if (b == '\\') return escaped(start)
        if (b >= 0 && b < 0x20) throw Reject
        pos = if (b < 0) utf8(pos) else pos + 1
      }
      null
    }

    /** The rest of a string that has an escape at `pos`, decoded. */
    private def escaped(start: Int): UTF8String = {
      var n = pos - start
      if (buf.length < n + 4) buf = new Array[Byte](2 * n + 4)
      Platform.copyMemory(base, off + start, buf, Platform.BYTE_ARRAY_OFFSET, n)
      while (true) {
        // room for the longest step: a 4-byte sequence
        if (buf.length < n + 4) buf = java.util.Arrays.copyOf(buf, 2 * n + 4)
        val b = peek()
        if (b == '"') {
          pos += 1
          return UTF8String.fromBytes(java.util.Arrays.copyOf(buf, n))
        }
        if (b == '\\') {
          pos += 1
          val c: Int = next() match {
            case '"' => '"'
            case '\\' => '\\'
            case '/' => '/'
            case 'b' => '\b'
            case 'f' => '\f'
            case 'n' => '\n'
            case 'r' => '\r'
            case 't' => '\t'
            case 'u' => unicode()
            case _ => throw Reject
          }
          if (c < 0x80) {
            buf(n) = c.toByte
            n += 1
          } else if (c < 0x800) {
            buf(n) = (0xC0 | c >> 6).toByte
            buf(n + 1) = (0x80 | c & 0x3F).toByte
            n += 2
          } else {
            if (c >= 0xD800 && c < 0xE000) throw Reject
            buf(n) = (0xE0 | c >> 12).toByte
            buf(n + 1) = (0x80 | c >> 6 & 0x3F).toByte
            buf(n + 2) = (0x80 | c & 0x3F).toByte
            n += 3
          }
        } else if (b >= 0 && b < 0x20) throw Reject
        else {
          val to = if (b < 0) utf8(pos) else pos + 1
          while (pos < to) {
            buf(n) = at(pos)
            n += 1
            pos += 1
          }
        }
      }
      null
    }

    /** The code unit of the four hex digits at `pos`. */
    private def unicode(): Int = {
      var c = 0
      var i = 0
      while (i < 4) {
        val h = hex(next())
        if (h < 0) throw Reject
        c = c << 4 | h
        i += 1
      }
      c
    }

    /** The end of the well-formed UTF-8 sequence of 2-4 bytes at `p`. */
    private def utf8(p: Int): Int = {
      val b0 = at(p) & 0xFF
      def cont(i: Int, lo: Int, hi: Int): Unit = {
        if (p + i >= end) throw Reject
        val b = at(p + i) & 0xFF
        if (b < lo || b > hi) throw Reject
      }
      if (b0 >= 0xC2 && b0 <= 0xDF) { cont(1, 0x80, 0xBF); p + 2 }
      else if (b0 >= 0xE0 && b0 <= 0xEF) {
        cont(1, if (b0 == 0xE0) 0xA0 else 0x80, if (b0 == 0xED) 0x9F else 0xBF)
        cont(2, 0x80, 0xBF)
        p + 3
      } else if (b0 >= 0xF0 && b0 <= 0xF4) {
        cont(1, if (b0 == 0xF0) 0x90 else 0x80, if (b0 == 0xF4) 0x8F else 0xBF)
        cont(2, 0x80, 0xBF)
        cont(3, 0x80, 0xBF)
        p + 4
      } else throw Reject
    }

    /** Skips the JSON value at `pos`, validating it strictly. */
    private def skip(depth: Int): Unit = {
      if (depth > MaxSkipDepth) throw Reject
      peek() match {
        case '"' => skipString()
        case '{' =>
          pos += 1
          ws()
          if (peek() == '}') pos += 1
          else {
            var more = true
            while (more) {
              if (peek() != '"') throw Reject
              val start = pos
              skipString()
              if (pos - start > MaxKey) throw Reject
              ws(); expect(':'); ws()
              skip(depth + 1)
              ws()
              val b = next()
              if (b == '}') more = false
              else if (b != ',') throw Reject
              else ws()
            }
          }
        case '[' =>
          pos += 1
          ws()
          if (peek() == ']') pos += 1
          else {
            var more = true
            while (more) {
              skip(depth + 1)
              ws()
              val b = next()
              if (b == ']') more = false
              else if (b != ',') throw Reject
              else ws()
            }
          }
        case 't' => literal("true")
        case 'f' => literal("false")
        case 'n' => literal("null")
        case _ => skipNumber()
      }
    }

    private def skipString(): Unit = {
      pos += 1
      var b = next()
      while (b != '"') {
        if (b == '\\') next() match {
          case '"' | '\\' | '/' | 'b' | 'f' | 'n' | 'r' | 't' =>
          case 'u' => unicode()
          case _ => throw Reject
        }
        else if (b >= 0 && b < 0x20) throw Reject
        else if (b < 0) pos = utf8(pos - 1)
        b = next()
      }
    }

    private def digits(): Int = {
      val start = pos
      while (pos < end && at(pos) >= '0' && at(pos) <= '9') pos += 1
      pos - start
    }

    /** `-? (0 | [1-9][0-9]*) (. [0-9]+)? ([eE] [+-]? [0-9]+)?` */
    private def skipNumber(): Unit = {
      val start = pos
      if (peek() == '-') pos += 1
      val lead = pos
      val n = digits()
      if (n == 0 || (n > 1 && at(lead) == '0')) throw Reject
      if (pos < end && at(pos) == '.') {
        pos += 1
        if (digits() == 0) throw Reject
      }
      if (pos < end && (at(pos) == 'e' || at(pos) == 'E')) {
        pos += 1
        if (pos < end && (at(pos) == '+' || at(pos) == '-')) pos += 1
        if (digits() == 0) throw Reject
      }
      if (pos - start > MaxSkippedNumber) throw Reject
    }
  }
}
