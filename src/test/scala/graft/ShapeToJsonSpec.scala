package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import graft.functions.ShapeToJson
import graft.functions.ShapeToJson.Field

/** Differential spec: `ShapeToJson` writes the bytes of
  * `CASE sel WHEN k THEN to_json(struct(<shape k>)) END`, under both
  * null-field settings, with and without code generation.
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

  /** sel, s (string), n (bigint) and r struct<a: string, b: bigint,
    * c: string>: a null selector every 13th row, a null s every 5th,
    * a null r every 7th, a null r.c every 4th, a null n every 11th.
    * One further row holds lone surrogates, which Spark stores as `?`.
    */
  private def input: DataFrame = {
    val rows = strings.indices.map { i =>
      (if (i % 13 == 12) None else Some(i % 3),
        if (i % 5 == 4) None else Some(strings(i)),
        longs(i % longs.size),
        i % 7 == 6,
        if (i % 4 == 3) None else Some(strings((i * 7) % strings.size)))
    }
    val fromHex = spark.sparkContext.parallelize(rows, 2)
      .toDF("sel", "h", "n", "rnull", "ch")
      .select(col("sel"), unhex(col("h")).cast("string").as("s"),
        col("n"), col("rnull"), unhex(col("ch")).cast("string").as("c"))
    val surrogate = spark.sparkContext
      .parallelize(Seq((0, "a\uD800b", -1L, false, "\uDC00")), 1)
      .toDF("sel", "s", "n", "rnull", "c")
    fromHex.union(surrogate).select(col("sel"), col("s"), col("n"),
      when(!col("rnull"), struct(col("s").as("a"), col("n").as("b"),
        col("c").as("c"))).as("r"))
  }

  // shape 0: top-level and struct fields; shape 1: a nullable first
  // field and a name to escape; shape 2: one field, `{}` when it is null
  private val shapes = Seq(
    Seq(Field("s", 0, None), Field("n", 1, None), Field("a", 2, Some("a")),
      Field("b", 2, Some("b")), Field("c", 2, Some("c"))),
    Seq(Field("c", 2, Some("c")), Field("q\"\\\t", 1, None),
      Field("s", 0, None)),
    Seq(Field("b", 2, Some("b"))))

  private val values = Seq(col("s"), col("n"), col("r"))

  private def shapeToJson: Column =
    Bridge.column(ShapeToJson(
      (col("sel") +: values).map(Bridge.expression), shapes))

  private def reference: Column =
    shapes.zipWithIndex.foldLeft(when(lit(false), lit(null))) {
      case (c, (fs, k)) => c.when(col("sel") === k,
        to_json(struct(fs.map { f =>
          val v = values(f.value)
          f.field.fold(v)(v.getField).as(f.name)
        }: _*)))
    }

  for (ignore <- Seq("true", "false"); (mode, confs) <- codegenModes)
    test(s"ShapeToJson equals to_json(struct(...)) byte for byte: " +
        s"$mode, ignoreNullFields=$ignore") {
      withConfs(confs :+
          ("spark.sql.jsonGenerator.ignoreNullFields" -> ignore): _*) {
        val df = input
        val out = df.select(shapeToJson.cast("binary").as("got"),
          reference.cast("binary").as("want"))
        val staged = out.queryExecution.executedPlan.collect {
          case w: WholeStageCodegenExec if w.child.exists(
              _.expressions.exists(_.exists(_.isInstanceOf[ShapeToJson]))) => w
        }
        assert(staged.nonEmpty == (mode == "whole-stage codegen"))
        val rows = out.collect()
          .map(r => (Option(r.getAs[Array[Byte]](0)).map(_.toSeq),
            Option(r.getAs[Array[Byte]](1)).map(_.toSeq)))
        assert(rows.length == strings.size + 1)
        val wrong = rows.filter { case (g, w) => g != w }
        assert(wrong.isEmpty, wrong.take(3).map { case (g, w) =>
          (g.map(b => new String(b.toArray, UTF_8)),
            w.map(b => new String(b.toArray, UTF_8)))
        }.mkString("\n"))
        // the cases the input is built to reach all occur
        val written = rows.flatMap(_._2).map(b => new String(b.toArray, UTF_8))
        assert(rows.exists(_._2.isEmpty))
        assert(written.contains("{}") == (ignore == "true"))
        assert(written.exists(_.contains("\\u001F")))
        assert(written.exists(_.contains("\uFFFD")))
        assert(written.exists(_.startsWith("{\"q\\\"")) == (ignore == "true"))
        assert(written.exists(_.contains("-9223372036854775808")))
      }
    }

  test("ShapeToJson rejects field types other than string and bigint") {
    val df = Seq((1.5, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
      .toDF("d", "t")
      .select(lit(0).as("sel"), struct(col("d"), col("t")).as("r"))
    for ((field, sql) <- Seq("d" -> "DOUBLE", "t" -> "TIMESTAMP")) {
      val e = intercept[AnalysisException](df.select(Bridge.column(
        ShapeToJson(Seq(col("sel"), col("r")).map(Bridge.expression),
          Seq(Seq(Field("x", 0, Some(field))))))))
      assert(e.getMessage.contains(
        s"field x is $sql; ShapeToJson writes only STRING and BIGINT fields"),
        e.getMessage)
    }
  }
}
