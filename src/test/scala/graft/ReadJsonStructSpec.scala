package graft

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{AnalysisException, Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ReadJsonStruct
import graft.ops.GmallSynth
import graft.schemas.Gmall

/** Differential spec: `ReadJsonStruct` reads the log envelope exactly
  * as `from_json(value, Gmall.logEnvelopeSchema)` does, row for row,
  * with and without code generation; its fast path accepts exactly the
  * strict inputs of its contract, and every clean envelope.
  */
class ReadJsonStructSpec extends SparkSpec {
  import spark.implicits._

  private val schema = Gmall.logEnvelopeSchema

  /** The UTF-8 bytes of `s`, with `%u` for a JSON `\\u` escape (in
    * triple quotes, Scala reads `\\u` escapes itself).
    */
  private def json(s: String) = s.replace("%u", "\\u").getBytes(UTF_8)

  private def hex(bytes: Array[Byte]) = bytes.map("%02X".format(_)).mkString
  private def unhexed(h: String) =
    h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** `s` as a JSON string, quotes included, escaped the way the
    * benchmark's envelope writer escapes it.
    */
  private def q(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  /** Envelopes with the values of the benchmark's generator that need
    * care: a CJK brand and keyword, the escaped `"pro"` keyword, the
    * error message with a backslash, a newline and a tab.
    */
  private val benchLike: Seq[String] = {
    val brand = "\u5c0f\u7c73"
    val keyword = "\u624b\u673a"
    val msg = " Exception in thread \\  java.net.SocketTimeoutException\n\tat " +
      "com.atguigu.gmall2020.mock.log.bean.AppError.main(AppError.java:4242)"
    def common(ba: String) =
      s""""common":{"ar":"110000","ba":${q(ba)},"ch":"xiaomi",""" +
        """"is_new":"0","md":"Xiaomi 13","mid":"mid_17","os":"iOS 16.4",""" +
        """"uid":"42","vc":"v2.1.134"}"""
    Seq(
      s"""{${common(brand)},"err":{"error_code":1002,"msg":${q(msg)}},""" +
        """"page":{"during_time":1500,"item":""" + q("headset \"pro\"") +
        ""","item_type":"keyword","last_page_id":"home","page_id":"search",""" +
        """"source_type":"query"},"displays":[{"display_type":"query",""" +
        """"item":"7","item_type":"sku_id","order":"1","pos_id":"3"}],""" +
        """"ts":1767225600456}""",
      s"""{${common("OPPO")},"page":{"during_time":19999,""" +
        """"item":""" + q(keyword) + ""","item_type":"keyword",""" +
        """"page_id":"good_list"},"displays":[],"ts":1767225600001}""",
      s"""{${common("Honor")},"page":{"during_time":1000,"item":"1,7,999",""" +
        """"item_type":"sku_ids","last_page_id":"cart","page_id":"trade"},""" +
        """"actions":[{"action_id":"cart_add","item":"7","item_type":"sku_id",""" +
        """"ts":1767225599456},{"action_id":"favor_add","item":"8",""" +
        """"item_type":"sku_id","ts":1767225598456}],"ts":1767225600456}""",
      s"""{${common("vivo")},"err":{"error_code":4000,"msg":${q(msg)}},""" +
        """"start":{"entry":"icon","loading_time":1000,"open_ad_id":"20",""" +
        """"open_ad_ms":1000,"open_ad_skip_ms":0},"ts":1767225600456}""",
      s"""{${common("Apple")},"ts":1767225600456}""")
  }

  /** Inputs the fast path accepts. */
  private val accepted: Seq[Array[Byte]] = (benchLike ++ Seq(
    """{"ts":1}""",
    " \t\r\n{\"ts\":1} \n\t\r",
    "{}",
    """{ "common" : { } , "ts" : -0 }""",
    """{"common":null,"page":null,"displays":null,"actions":null,""" +
      """"start":null,"err":null,"ts":null}""",
    """{"displays":[],"actions":[ ]}""",
    """{"displays":[null,{},{"order":"1","item":null}]}""",
    """{"ts":0}""",
    """{"ts":-123456789012345678}""",
    """{"ts":999999999999999999}""",
    """{"common":{"mid":"a\"b\\c\/d\be\ff\ng\rh\ti%u0041%u00e9%u4E2D%u0000j"}}""",
    "{\"common\":{\"ba\":\"\u5c0f\u7c73\",\"md\":\"\u00e9\uD83D\uDE00\u007f\"}}",
    "{\"common\":{\"mid\":\"\\u00e9\u00e9\\n\uD83D\uDE00\\t\"}}",
    """{"x":{"a":[1,-2.5e+3,0.5,1E7,true,false,null,"y\\\"%u00ff"],"b":{}},""" +
      """"y":[],"z":"","ts":1}""",
    """{"ts":1,"ts_":2,"tss":3}""",
    """{"err":{"msg":"x","error_code":-5}}""",
    """{"start":{"open_ad_skip_ms":0,"entry":"e"}}""",
    "{\"x\":\"%ud800\",\"ts\":1}")).map(json)

  /** Inputs the fast path leaves to `from_json`'s evaluator. */
  private val fallback: Seq[Array[Byte]] = Seq(
    "", "   ", "[]", """[{"ts":1}]""", "\"x\"", "1", "null",
    """{"ts":1} x""", """{"ts":1}{"ts":2}""", """{"ts":1},""",
    """{"ts":1,}""", """{,"ts":1}""", """{"ts" 1}""", """{"ts":1 "err":{}}""",
    """{"ts":1""", """{"common":{"mid":"x"}""", """{"common":{"mid":"x}}""",
    "{'ts':1}", """{"common":{'mid':'x'}}""", """{"common":{"mid":'x'}}""",
    """{"ts":1 /* c */}""", "// c\n{\"ts\":1}", """{ts:1}""",
    """{"ts":1.0}""", """{"ts":1e3}""", """{"ts":1E3}""", """{"ts":true}""",
    """{"ts":false}""", """{"ts":"1"}""", """{"ts":01}""", """{"ts":-01}""",
    """{"ts":1234567890123456789}""", """{"ts":-1234567890123456789}""",
    """{"ts":9223372036854775808}""", """{"ts":-}""", """{"ts":+1}""",
    """{"ts":.5}""", """{"ts":NaN}""", """{"ts":Infinity}""", """{"ts":nul}""",
    """{"ts":nullx}""", """{"ts":1x}""", """{"ts":1]""",
    """{"common":{"mid":1}}""", """{"common":{"mid":-1.5}}""",
    """{"common":{"mid":true}}""", """{"common":{"mid":{"a":1}}}""",
    """{"common":{"mid":["a"]}}""", """{"page":"x"}""", """{"page":[]}""",
    """{"page":1}""", """{"displays":{}}""", """{"displays":["x"]}""",
    """{"displays":[1]}""", """{"displays":[[]]}""", """{"displays":[{},]}""",
    """{"ts":1,"ts":2}""", """{"ts":null,"ts":2}""",
    """{"common":{"mid":"a","mid":"b"}}""", """{"TS":1}""", """{"Common":{}}""",
    """{"common":{"MID":"x"}}""", """{"common":{"m%u0069d":"x"}}""",
    """{"t%u0073":1}""", """{"common":{"mid":"%ud83d%ude00"}}""",
    """{"common":{"mid":"%uDFFF"}}""", """{"common":{"mid":"\x"}}""",
    """{"common":{"mid":"%u12"}}""", """{"common":{"mid":"%u12G4"}}""",
    """{"common":{"mid":"\'"}}""", """{"x":NaN,"ts":1}""",
    """{"x":01,"ts":1}""", """{"x":1.,"ts":1}""", """{"x":1e,"ts":1}""",
    """{"x":tru,"ts":1}""", """{"x":[1,],"ts":1}""", """{"x":{"a"},"ts":1}""",
    """{"x":{"a":1,},"ts":1}""", """{"x":{'a':1},"ts":1}""",
    """{"x":"\q","ts":1}""",
    "{\"x\":" + "[" * 70 + "]" * 70 + ",\"ts\":1}",
    "{\"x\":" + "1" * 65 + ",\"ts\":1}",
    "{\"" + "k" * 300 + "\":1,\"ts\":1}",
    "{\"x\":{\"" + "k" * 300 + "\":1},\"ts\":1}",
    "{\"k\u00e9\":1,\"ts\":1}",
    "{\"ts\":1}\u00a0", "\u00a0{\"ts\":1}", "\uFEFF{\"ts\":1}",
    "{\"ts\":1}\u0000", "{\"ts\":\u000b1}", "{\"ts\":1\u000c}",
    "{\"common\":{\"mid\":\"a\u0001b\"}}", "{\"common\":{\"mid\":\"a\nb\"}}",
    "{\"common\":{\"mid\":\"a\tb\"}}", "{\"x\":\"a\u001fb\",\"ts\":1}"
  ).map(json) ++ {
    // invalid UTF-8 in a string field, an escaped string field, a
    // skipped value and a key: a lone continuation byte, 0xFF, an
    // overlong NUL, an overlong slash, an encoded surrogate, a code
    // point past U+10FFFF, a truncated 3-byte and 4-byte sequence
    val bad = Seq("80", "FF", "C080", "C0AF", "EDA080", "F4908080", "E4B8",
      "F09F98", "C3", "E0808F", "F08F8080")
    def wrap(pre: String, bytes: String, post: String) =
      pre.getBytes(UTF_8) ++ unhexed(bytes) ++ post.getBytes(UTF_8)
    bad.flatMap(b => Seq(
      wrap("{\"common\":{\"mid\":\"a", b, "z\"}}"),
      wrap("{\"common\":{\"mid\":\"\\n", b, "\"}}"),
      wrap("{\"common\":{\"mid\":\"a", b, "\"}}"),
      wrap("{\"x\":[\"", b, "\"],\"ts\":1}"),
      wrap("{\"", b, "\":1,\"ts\":1}")))
  }

  private def fastOf(bytes: Array[Byte]): Boolean =
    ReadJsonStruct(Bridge.expression(lit("")), schema)
      .fast(UTF8String.fromBytes(bytes)) != null

  private def readJson(c: Column): Column =
    Bridge.column(ReadJsonStruct(Bridge.expression(c), schema))

  /** Asserts `ReadJsonStruct` and `from_json` read every value alike,
    * byte for byte: the rows are compared as `UnsafeRow`s, since a
    * collected `Row` decodes strings and so hides invalid UTF-8. Each
    * runs in its own query: `from_json` is `CodegenFallback`, which
    * keeps its projection out of whole-stage codegen.
    */
  private def assertSame(values: Seq[Array[Byte]], mode: String): Unit = {
    val in = spark.sparkContext.parallelize(values.map(hex), 4).toDF("h")
      .select(unhex(col("h")).cast("string").as("value"))
    val got = in.select(readJson(col("value")))
    val want = in.select(from_json(col("value"), schema))
    val staged = got.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec if w.child.exists(
          _.expressions.exists(_.exists(_.isInstanceOf[ReadJsonStruct]))) => w
    }
    assert(staged.nonEmpty == (mode == "whole-stage codegen"))
    assert(got.schema.head.dataType == want.schema.head.dataType)
    def rows(df: DataFrame) = df.queryExecution.toRdd.map(_.copy()).collect()
    val (g, w) = (rows(got), rows(want))
    assert(g.length == values.size && w.length == values.size)
    assert((g ++ w).forall(_.isInstanceOf[UnsafeRow]))
    val wrong = values.indices.filter(i => g(i) != w(i))
    assert(wrong.isEmpty, wrong.take(3).map { i =>
      s"${new String(values(i), UTF_8)}\n  got  ${g(i)}\n  want ${w(i)}"
    }.mkString("\n"))
  }

  /** Deletes, inserts or flips one to three bytes of `src`. */
  private def mutate(src: Array[Byte], r: scala.util.Random): Array[Byte] = {
    val alphabet = "{}[]:,\"\\/ntfrbu0123456789-+.eE \t\r\nxA'".getBytes(UTF_8) ++
      Seq(0x00, 0x01, 0x1F, 0x7F, 0x80, 0xBF, 0xC3, 0xE4, 0xED, 0xF0, 0xFF)
        .map(_.toByte)
    val buf = scala.collection.mutable.ArrayBuffer(src.toIndexedSeq: _*)
    for (_ <- 0 to r.nextInt(3)) {
      val i = r.nextInt(buf.length)
      r.nextInt(3) match {
        case 0 => buf.remove(i)
        case 1 => buf.insert(i, alphabet(r.nextInt(alphabet.length)))
        case _ => buf(i) =
          if (r.nextBoolean()) alphabet(r.nextInt(alphabet.length))
          else (buf(i) ^ (1 << r.nextInt(8))).toByte
      }
    }
    buf.toArray
  }

  private lazy val clean: Seq[Array[Byte]] =
    GmallSynth.logLines(Tables.events(spark, sf("sf0.001")))
      .as[String].collect().toSeq.map(_.getBytes(UTF_8)) ++
      benchLike.map(_.getBytes(UTF_8))

  private lazy val mutants: Seq[Array[Byte]] = {
    val r = new scala.util.Random(20261019L)
    val pool = clean.take(400) ++ accepted
    Seq.fill(20000)(mutate(pool(r.nextInt(pool.size)), r))
  }

  test("the fast path accepts exactly the strict inputs of its contract") {
    val wrong = accepted.filterNot(fastOf) ++ fallback.filter(fastOf)
    assert(wrong.isEmpty, wrong.map(new String(_, UTF_8)).mkString("\n"))
  }

  test("the fast path accepts every clean envelope, benchmark values " +
      "included") {
    assert(clean.size > benchLike.size)
    val missed = clean.filterNot(fastOf)
    assert(missed.isEmpty, missed.take(3).map(new String(_, UTF_8)).mkString("\n"))
  }

  for ((mode, confs) <- codegenModes) {
    test(s"ReadJsonStruct equals from_json row for row on the edge list: $mode") {
      withConfs(confs: _*)(assertSame(accepted ++ fallback, mode))
    }

    test(s"ReadJsonStruct equals from_json row for row on 20k byte " +
        s"mutations of log envelopes: $mode") {
      // both paths are exercised
      val fast = mutants.count(fastOf)
      assert(fast > mutants.size / 5 && fast < mutants.size * 4 / 5, fast)
      withConfs(confs: _*)(assertSame(mutants, mode))
    }
  }

  test("ReadJsonStruct rejects types other than string, bigint, struct " +
      "and array") {
    val df = Seq("{}").toDF("value")
    for ((t, sql) <- Seq(DoubleType -> "DOUBLE", TimestampType -> "TIMESTAMP",
        MapType(StringType, StringType) -> "MAP<STRING, STRING>")) {
      val bad = StructType(Seq(StructField("a", StringType),
        StructField("b", ArrayType(StructType(Seq(StructField("c", t)))))))
      val e = intercept[AnalysisException](df.select(Bridge.column(
        ReadJsonStruct(Bridge.expression(col("value")), bad))).collect())
      assert(e.getMessage.contains(s"field b[].c is $sql; ReadJsonStruct " +
        "reads only STRING and BIGINT leaves, structs and arrays"), e.getMessage)
    }
  }
}
