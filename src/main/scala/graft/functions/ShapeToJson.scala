package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow,
  TimeZoneAwareExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.json.StructsToJsonEvaluator
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `to_json` of one of several record shapes, picked per row.
  *
  * `children` is an int selector followed by the values the shapes
  * read. The selector picks a shape; each field of a shape is one
  * value, or one field of a struct value. The record is written by the
  * evaluator `to_json` uses, with `to_json`'s default options, so the
  * bytes are those of
  * `CASE selector WHEN k THEN to_json(struct(<shape k>)) END`.
  *
  * Why not that CASE: whole-stage codegen generates the code of every
  * field of every shape again in every streaming micro-batch, and for
  * the log demux's five record shapes (74 fields) that doubled the
  * per-batch planning and code generation of the small-batch pipeline.
  * Here the generated code reads each value once and makes one call
  * that assembles and writes the record, so it does not grow with the
  * shapes.
  */
private[graft] case class ShapeToJson(
    children: Seq[Expression],
    shapes: Seq[Seq[ShapeToJson.Field]],
    timeZoneId: Option[String] = None)
    extends Expression with TimeZoneAwareExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Some(timeZoneId))

  private def valueType(f: ShapeToJson.Field) = children(f.value + 1).dataType

  override def checkInputDataTypes(): TypeCheckResult = {
    def resolves(f: ShapeToJson.Field) = f.field.forall(n =>
      valueType(f) match {
        case s: StructType => s.fieldNames.contains(n)
        case _ => false
      })
    if (children.head.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure("selector must be int")
    else shapes.flatten.find(!resolves(_)) match {
      case Some(f) => TypeCheckResult.TypeCheckFailure(
        s"value ${f.value} has no struct field ${f.field.get}")
      case None => TypeCheckResult.TypeCheckSuccess
    }
  }

  /** Per shape: its record schema, and per field the value it reads
    * and the ordinal of the struct field (-1: the value itself).
    */
  @transient private lazy val layouts = shapes.map { fs =>
    val resolved = fs.map { f =>
      val t = valueType(f)
      f.field match {
        case None => (StructField(f.name, t), (f.value, -1))
        case Some(n) =>
          val s = t.asInstanceOf[StructType]
          (StructField(f.name, s(n).dataType), (f.value, s.fieldIndex(n)))
      }
    }
    (StructType(resolved.map(_._1)), resolved.map(_._2).toArray)
  }

  @transient private lazy val writers = layouts.map { case (schema, _) =>
    StructsToJsonEvaluator(Map.empty, schema, timeZoneId)
  }

  /** The record of the shape `values(0)` picks; `values` holds the
    * children's values in order.
    */
  def write(values: Array[Any]): UTF8String = {
    if (values(0) == null) return null
    val k = values(0).asInstanceOf[Int]
    val (schema, sources) = layouts(k)
    val record = new Array[Any](sources.length)
    var j = 0
    while (j < record.length) {
      val (v, ordinal) = sources(j)
      val x = values(v + 1)
      record(j) =
        if (ordinal < 0 || x == null) x
        else x.asInstanceOf[InternalRow].get(ordinal, schema(j).dataType)
      j += 1
    }
    writers(k).evaluate(new GenericInternalRow(record)).asInstanceOf[UTF8String]
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
}
