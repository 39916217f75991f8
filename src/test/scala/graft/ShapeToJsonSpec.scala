package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import graft.functions.ShapeToJson
import graft.functions.ShapeToJson.{Field, Shape}

/** Differential spec: `ShapeToJson` writes, per row, the records of
  * the shapes whose guards hold, each with the bytes of
  * `to_json(struct(<its fields>))`, under both null-field settings,
  * with and without code generation.
  */
class ShapeToJsonSpec extends SparkSpec {
  import spark.implicits._

  private def hex(bytes: Array[Byte]) = bytes.map("%02X".format(_)).mkString

  // string cells as hex of their bytes, so invalid UTF-8 can be built
  // by `cast(unhex(h) as string)`
  private val strings: Seq[String] =
    (0 until 128).map(c => hex(s"x${c.toChar}y".getBytes(UTF_8))) ++
      Seq(hex((0 until 128).map(_.toByte).toArray), "",
        hex("\u6570\u636E\u4ED3\u5E93".getBytes(UTF_8)),
        hex("\uD83D\uDE00".getBytes(UTF_8)),
        hex("a\u2028b".getBytes(UTF_8)),
        hex("\u00E9/\u00FC".getBytes(UTF_8))) ++
      // invalid UTF-8: a lone continuation byte, 0xFF, a truncated
      // 3-byte sequence, an encoded surrogate, an overlong NUL, a code
      // point past U+10FFFF, a truncated emoji, a bad byte between
      // ASCII, a quote after a bad byte
      Seq("80", "FF", "E4B8", "EDA080", "C080", "F4908080", "F09F98",
        "61FE62", "C322")

  private val longs: Seq[Option[Long]] = Seq(Long.MinValue, Long.MaxValue,
    0L, -1L, 9L, 10L, -10L, 99L, 100L, 1690000005000L).map(Some(_)) :+ None

  /** id, sel, g (int), s (string), n (bigint), r struct<a: string,
    * b: bigint, c: string> and rs array<struct<a, b, c>>: a null
    * selector every 13th row, a null s every 5th, a null r every 7th,
    * a null r.c every 4th, a null n every 11th; g is a bit set of
    * guards, null every 17th row; rs is null, empty, [r', null, r''] or
    * [r''] in turn. One further row holds lone surrogates, which Spark
    * stores as `?`.
    */
  private def input: DataFrame = {
    val rows = strings.indices.map { i =>
      (i, if (i % 13 == 12) None else Some(i % 3),
        if (i % 17 == 16) None else Some(i % 32),
        if (i % 5 == 4) None else Some(strings(i)),
        longs(i % longs.size),
        i % 7 == 6,
        if (i % 4 == 3) None else Some(strings((i * 7) % strings.size)))
    }
    val fromHex = spark.sparkContext.parallelize(rows, 2)
      .toDF("id", "sel", "g", "h", "n", "rnull", "ch")
      .select(col("id"), col("sel"), col("g"),
        unhex(col("h")).cast("string").as("s"), col("n"), col("rnull"),
        unhex(col("ch")).cast("string").as("c"))
    val surrogate = spark.sparkContext
      .parallelize(Seq((strings.size, 0, 31, "a\uD800b", -1L, false,
        "\uDC00")), 1)
      .toDF("id", "sel", "g", "s", "n", "rnull", "c")
    val e1 = struct(col("s").as("a"), col("n").as("b"), col("c").as("c"))
    val e2 = struct(col("c").as("a"), lit(null).cast("bigint").as("b"),
      col("s").as("c"))
    val turn = col("id") % 4
    fromHex.union(surrogate).select(col("id"), col("sel"), col("g"),
      col("s"), col("n"),
      when(!col("rnull"), e1).as("r"),
      when(turn === 1, slice(array(e1), 1, 0))
        .when(turn === 2, array(e1, when(lit(false), e1), e2))
        .when(turn === 3, array(e2)).as("rs"))
  }

  private val values = Seq(col("s"), col("n"), col("r"), col("rs"))

  // shape 0: top-level and struct fields; shape 1: a nullable first
  // field and a name to escape; shape 2: one field, `{}` when it is null
  private val single = Seq(
    Seq(Field("s", 0, None), Field("n", 1, None), Field("a", 2, Some("a")),
      Field("b", 2, Some("b")), Field("c", 2, Some("c"))),
    Seq(Field("c", 2, Some("c")), Field("q\"\\\t", 1, None),
      Field("s", 0, None)),
    Seq(Field("b", 2, Some("b"))))
    .zipWithIndex.map { case (fs, k) => Shape(s"t$k", None, fs) }

  // shape 3 unnests rs between top-level and struct fields; shape 4
  // unnests it too, `{}` for a null element
  private val unnesting = Seq(
    Shape("t3", Some(3), Seq(Field("s", 0, None), Field("a", 3, Some("a")),
      Field("rb", 2, Some("b")), Field("b", 3, Some("b")),
      Field("c", 3, Some("c")))),
    Shape("t4", Some(3), Seq(Field("c", 3, Some("c")))))

  private def shapeToJson(guards: Seq[Column], shapes: Seq[Shape]): Column =
    Bridge.column(ShapeToJson((guards ++ values).map(Bridge.expression),
      shapes))

  /** `to_json(struct(<shape's fields>))`, reading the unnested
    * element from `elem`.
    */
  private def reference(shape: Shape, elem: Column): Column =
    to_json(struct(shape.fields.map { f =>
      val v = if (shape.unnest.contains(f.value)) elem else values(f.value)
      f.field.fold(v)(v.getField).as(f.name)
    }: _*))

  /** Asserts that `ShapeToJson` sits in a codegen stage exactly when
    * whole-stage codegen is on.
    */
  private def assertStaged(df: DataFrame, mode: String): Unit = {
    val staged = df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec if w.child.exists(
          _.expressions.exists(_.exists(_.isInstanceOf[ShapeToJson]))) => w
    }
    assert(staged.nonEmpty == (mode == "whole-stage codegen"))
  }

  private def text(b: Seq[Byte]) = new String(b.toArray, UTF_8)

  for (ignore <- Seq("true", "false"); (mode, confs) <- codegenModes)
    // guards sel = k: one record per row, that of CASE sel WHEN k
    // THEN to_json(struct(<shape k>)) END
    test(s"ShapeToJson equals to_json(struct(...)) byte for byte: " +
        s"$mode, ignoreNullFields=$ignore") {
      withConfs(confs :+
          ("spark.sql.jsonGenerator.ignoreNullFields" -> ignore): _*) {
        val caseRef = single.zipWithIndex.foldLeft(when(lit(false), lit(null))) {
          case (c, (shape, k)) => c.when(col("sel") === k, reference(shape, null))
        }
        val out = input.select(caseRef.cast("binary").as("want"),
          col("sel"), posexplode_outer(shapeToJson(
            single.indices.map(col("sel") === _), single)))
          .select(col("want"), col("sel"), col("pos"), col("col.topic"),
            col("col.value").cast("binary"))
        assertStaged(out, mode)
        val rows = out.collect()
          .map(r => (Option(r.getAs[Array[Byte]](0)).map(_.toSeq),
            Option(r.getAs[Integer](1)), Option(r.getAs[Integer](2)),
            Option(r.getString(3)), Option(r.getAs[Array[Byte]](4)).map(_.toSeq)))
        // one row per input row: one record, or none for a null selector
        assert(rows.length == strings.size + 1)
        val wrong = rows.filter { case (want, sel, pos, topic, got) =>
          got != want || topic != sel.map(k => s"t$k") ||
            pos != sel.map(_ => 0)
        }
        assert(wrong.isEmpty, wrong.take(3).map { case (w, _, _, t, g) =>
          (t, g.map(text), w.map(text))
        }.mkString("\n"))
        // the cases the input is built to reach all occur
        val written = rows.flatMap(_._1).map(text)
        assert(rows.exists(_._1.isEmpty))
        assert(written.contains("{}") == (ignore == "true"))
        assert(written.exists(_.contains("\\u001F")))
        assert(written.exists(_.contains("\uFFFD")))
        assert(written.exists(_.startsWith("{\"q\\\"")) == (ignore == "true"))
        assert(written.exists(_.contains("-9223372036854775808")))
      }
    }

  for (ignore <- Seq("true", "false"); (mode, confs) <- codegenModes)
    test(s"ShapeToJson with overlapping guards and unnested arrays equals " +
        s"per-shape to_json(struct(...)) frames in shape and element " +
        s"order: $mode, ignoreNullFields=$ignore") {
      withConfs(confs :+
          ("spark.sql.jsonGenerator.ignoreNullFields" -> ignore): _*) {
        val shapes = single ++ unnesting
        val guards = shapes.indices.map(k => (col("g").bitwiseAND(1 << k)) =!= 0)
        val df = input
        val got = df.select(col("id"), posexplode(shapeToJson(guards, shapes)))
          .select(col("id"), col("pos"), col("col.topic"),
            col("col.value").cast("binary"))
        assertStaged(got, mode)
        val frames = shapes.zip(guards).zipWithIndex.map {
          case ((shape, guard), k) =>
            val rows = df.filter(guard)
            val recs = shape.unnest match {
              case None => rows.select(col("id"), lit(0).as("pos"),
                reference(shape, null).as("v"))
              case Some(_) => rows.select(col("*"), posexplode(col("rs")))
                .select(col("id"), col("pos"), reference(shape, col("col")).as("v"))
            }
            recs.select(col("id"), lit(k).as("shape"), col("pos"),
              lit(shape.topic).as("topic"), col("v").cast("binary"))
        }
        def byRow(rows: Seq[(Int, Int, String, Seq[Byte])]) =
          rows.groupBy(_._1).map { case (id, rs) =>
            id -> rs.sortBy(_._2).map(r => (r._3, r._4)) }
        val gotRows = byRow(got.collect().toSeq.map(r => (r.getInt(0),
          r.getInt(1), r.getString(2), r.getAs[Array[Byte]](3).toSeq)))
        val wantRows = byRow(frames.reduce(_ union _).collect().toSeq.map(r =>
          (r.getInt(0), r.getInt(1) * 1000 + r.getInt(2), r.getString(3),
            r.getAs[Array[Byte]](4).toSeq)))
        val wrong = (gotRows.keySet ++ wantRows.keySet).toSeq.sorted
          .filter(id => gotRows.get(id) != wantRows.get(id))
        assert(wrong.isEmpty, wrong.take(3).map(id =>
          (id, gotRows.get(id).map(_.map(r => (r._1, text(r._2)))),
            wantRows.get(id).map(_.map(r => (r._1, text(r._2)))))).mkString("\n"))
        // the cases the input is built to reach all occur: a row with
        // every shape's records, a row with none, a null, an empty and
        // a null-element array under shape 3's guard, and
        // the null element's record
        val counts = gotRows.values.map(_.map(_._1).distinct.size)
        assert(counts.max == shapes.size && gotRows.size < strings.size + 1)
        val unnestedIds = df.filter(guards(3)).select(col("id")).as[Int].collect()
        assert(unnestedIds.map(_ % 4).toSet == Set(0, 1, 2, 3))
        val t4 = gotRows.values.flatten.filter(_._1 == "t4").map(r => text(r._2))
        assert(t4.toSet.contains("{}") == (ignore == "true"))
        assert(t4.toSet.contains("{\"c\":null}") == (ignore == "false"))
      }
    }

  private def analysisError(guard: Column, shape: Shape) = {
    val df = Seq((1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("d", "t")
      .select(lit(true).as("guard"), struct(col("d"), col("t")).as("r"))
    intercept[AnalysisException](df.select(Bridge.column(ShapeToJson(
      Seq(guard, col("r")).map(Bridge.expression), Seq(shape))))).getMessage
  }

  test("ShapeToJson rejects field types other than string and bigint") {
    for ((field, sql) <- Seq("d" -> "DOUBLE", "t" -> "TIMESTAMP")) {
      val e = analysisError(col("guard"),
        Shape("t", None, Seq(Field("x", 0, Some(field)))))
      assert(e.contains(
        s"field x is $sql; ShapeToJson writes only STRING and BIGINT fields"), e)
    }
  }

  test("ShapeToJson rejects guards other than boolean and unnested " +
      "values other than arrays") {
    val guard = analysisError(lit(1), Shape("t", None, Nil))
    assert(guard.contains("guard 0 is not BOOLEAN"), guard)
    val unnest = analysisError(col("guard"), Shape("t", Some(0), Nil))
    assert(unnest.contains("value 0 is not an array"), unnest)
  }
}
