package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Demux, GmallSynth}

/** Golden-row + partition-property tests for the log demux (R1/T2-T9).
  * Mirrors SURVEY §5's rebuild test strategy items 2-3.
  */
class DemuxSpec extends SparkSpec {
  import spark.implicits._

  private def parsedOf(lines: String*) =
    Demux.parse(lines.toDF("value"))

  private val pageJson =
    """{"common":{"ar":"1","ba":"b","ch":"c","is_new":"1","md":"m",
      |"mid":"mid_1","os":"o","uid":"7","vc":"v"},
      |"page":{"during_time":1200,"item":"35","item_type":"sku_id",
      |"last_page_id":"home","page_id":"detail","source_type":"promo"},
      |"displays":[{"display_type":"promo","item":"4","item_type":"sku_id",
      |"order":"1","pos_id":"2"},
      |{"display_type":"query","item":"5","item_type":"sku_id",
      |"order":"2","pos_id":"3"}],
      |"actions":[{"action_id":"cart_add","item":"35",
      |"item_type":"sku_id","ts":1690000006000}],
      |"ts":1690000005000}""".stripMargin.replaceAll("\n", "")

  private val errJson =
    """{"common":{"mid":"mid_9"},"page":{"page_id":"x"},
      |"err":{"error_code":13,"msg":"boom"},"ts":1}"""
      .stripMargin.replaceAll("\n", "")

  private val startJson =
    """{"common":{"mid":"mid_2","uid":"8"},
      |"start":{"entry":"icon","loading_time":1500,"open_ad_id":"7",
      |"open_ad_ms":8000,"open_ad_skip_ms":0},"ts":2}"""
      .stripMargin.replaceAll("\n", "")

  /** The DWD record contracts of the reference's beans in `bean/`
    * (`sourceType` as `source_type`), and the error record: each
    * branch frame's names, order and types. `topicValues` writes the
    * same keys in the same order (the differential tests below).
    */
  private def record(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t) })
  private val commonFields = Seq("mid", "user_id", "province_id",
    "channel", "is_new", "model", "operate_system", "version_code",
    "brand").map(_ -> StringType)
  private val pageFields = commonFields ++ Seq("page_id" -> StringType,
    "last_page_id" -> StringType, "page_item" -> StringType,
    "page_item_type" -> StringType, "during_time" -> LongType,
    "source_type" -> StringType)
  private val errorLog = record("mid" -> StringType,
    "error_code" -> LongType, "msg" -> StringType, "ts" -> LongType)
  private val pageLog = record(pageFields :+ ("ts" -> LongType): _*)
  private val pageDisplayLog = record(pageFields ++ Seq(
    "display_type" -> StringType, "display_item" -> StringType,
    "display_item_type" -> StringType, "display_order" -> StringType,
    "display_pos_id" -> StringType, "ts" -> LongType): _*)
  private val pageActionLog = record(pageFields ++ Seq(
    "action_id" -> StringType, "action_item" -> StringType,
    "action_item_type" -> StringType, "action_ts" -> LongType,
    "ts" -> LongType): _*)
  private val startLog = record(commonFields ++ Seq(
    "entry" -> StringType, "open_ad_id" -> StringType,
    "loading_time_ms" -> LongType, "open_ad_ms" -> LongType,
    "open_ad_skip_ms" -> LongType, "ts" -> LongType): _*)

  test("page branch projects 16 PageLog columns") {
    val rows = Demux.pages(parsedOf(pageJson)).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("mid") == "mid_1")
    assert(r.getAs[String]("user_id") == "7")
    assert(r.getAs[String]("page_id") == "detail")
    assert(r.getAs[Long]("during_time") == 1200L)
    assert(r.getAs[Long]("ts") == 1690000005000L)
    assert(pageLog.length == 16)
    assert(Demux.pages(parsedOf(pageJson)).schema == pageLog)
  }

  test("err short-circuits page/start even when present") {
    val parsed = parsedOf(errJson, pageJson, startJson)
    assert(Demux.errors(parsed).count() == 1)
    assert(Demux.pages(parsed).count() == 1)     // errJson excluded
    assert(Demux.starts(parsed).count() == 1)
    val err = Demux.errors(parsed).collect().head
    assert(err.getAs[Long]("error_code") == 13L)
    assert(err.getAs[String]("mid") == "mid_9")
    assert(Demux.errors(parsed).schema == errorLog)
  }

  test("explode multiplicity: |displays| rows, parent fields repeated") {
    val d = Demux.displays(parsedOf(pageJson)).collect()
    assert(d.length == 2)
    assert(d.map(_.getAs[String]("display_item")).sorted.toSeq ==
      Seq("4", "5"))
    assert(d.forall(_.getAs[String]("page_id") == "detail"))
    assert(pageDisplayLog.length == 21)
    assert(Demux.displays(parsedOf(pageJson)).schema == pageDisplayLog)
  }

  test("action rows keep both action ts and record ts") {
    val a = Demux.actions(parsedOf(pageJson)).collect()
    assert(a.length == 1)
    assert(a.head.getAs[Long]("action_ts") == 1690000006000L)
    assert(a.head.getAs[Long]("ts") == 1690000005000L)
    assert(pageActionLog.length == 20)
    assert(Demux.actions(parsedOf(pageJson)).schema == pageActionLog)
  }

  test("start branch independent of page; 15 StartLog columns") {
    val s = Demux.starts(parsedOf(startJson)).collect()
    assert(s.length == 1)
    assert(s.head.getAs[Long]("loading_time_ms") == 1500L)
    assert(startLog.length == 15)
    assert(Demux.starts(parsedOf(startJson)).schema == startLog)
  }

  test("missing keys parse to null (fastjson leniency)") {
    val p = Demux.pages(parsedOf(
      """{"common":{"mid":"m1"},"page":{"page_id":"p1"},"ts":5}"""))
      .collect().head
    assert(p.getAs[String]("user_id") == null)
    assert(p.getAs[Any]("during_time") == null)
  }

  test("demux partition property on synthesized events") {
    val events = Tables.events(spark, sf("sf0.001"))
    val parsed = Demux.parse(GmallSynth.logLines(events)).cache()
    val byType = events.groupBy("event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(Demux.errors(parsed).count() == byType("error"))
    assert(Demux.pages(parsed).count() ==
      byType("view") + byType("click") + byType("purchase"))
    assert(Demux.starts(parsed).count() == byType("signup"))
    // explode count = Σ array sizes
    val dispSum = parsed.filter(col("err").isNull)
      .select(coalesce(size(col("displays")), lit(0)).as("n"))
      .agg(sum("n")).collect().head.getLong(0)
    assert(Demux.displays(parsed).count() == dispSum)
    parsed.unpersist()
  }

  // malformed and drifted envelopes: the parse's fallback path
  private val notJson = "not json {{"
  private val truncated = pageJson.take(pageJson.length / 2)
  private val wrongShape = """{"some":"json","but":"wrong shape"}"""
  private val driftedDisplays =
    pageJson.replaceFirst("\"displays\":\\[.*?\\],", "\"displays\":{},")
  private val badDuringTime =
    pageJson.replace("\"during_time\":1200", "\"during_time\":\"abc\"")

  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.as[(String, String)].collect().toSeq.sorted

  /** The explode-based branch frames, serialized per branch and
    * unioned as (topic, value): a differential check of topicValues'
    * one walk over the branch table.
    */
  private def unionOfBranches(parsed: org.apache.spark.sql.DataFrame) =
    Seq(
      Demux.ErrorTopic -> Demux.errors(parsed),
      Demux.PageTopic -> Demux.pages(parsed),
      Demux.DisplayTopic -> Demux.displays(parsed),
      Demux.ActionTopic -> Demux.actions(parsed),
      Demux.StartTopic -> Demux.starts(parsed)
    ).map { case (topic, branch) =>
      Demux.toJsonValue(branch).select(lit(topic).as("topic"), col("value"))
    }.reduce(_ unionByName _)

  /** Lines as a one-file text source, so the demux runs compiled
    * over a single input partition (a local Seq would fold the parse
    * into the optimizer).
    */
  private def textLines(lines: String*) = {
    val dir = java.nio.file.Files.createTempDirectory("demux-edge")
      .resolve("lines").toString
    lines.toDF("value").coalesce(1).write.text(dir)
    spark.read.text(dir)
  }

  test("one-pass topicValues equals union-of-branches bit-for-bit") {
    val lines = GmallSynth.logLines(
      Tables.events(spark, sf("sf0.001"))).select("value")
    val onePass = multiset(
      graft.streaming.LogPipeline.demuxToTopicValue(lines))
    val union = multiset(unionOfBranches(Demux.parse(lines)))
    assert(onePass.nonEmpty)
    assert(onePass == union)
  }

  test("one-pass topicValues on edge envelopes: null display, empty " +
      "arrays, page-less displays, err short-circuit, bare envelope") {
    val common = "\"common\":{\"mid\":\"m1\",\"uid\":\"7\"}"
    val page = "\"page\":{\"page_id\":\"detail\",\"during_time\":5}"
    val start = "\"start\":{\"entry\":\"icon\",\"loading_time\":9}"
    val err = "\"err\":{\"error_code\":13,\"msg\":\"boom\"}"
    val disps = "\"displays\":[{\"item\":\"4\",\"order\":\"1\"},null," +
      "{\"item\":\"5\",\"order\":\"2\"}]"
    val acts = "\"actions\":[{\"action_id\":\"cart_add\",\"ts\":6}]"
    val noArrays = "\"displays\":[],\"actions\":[]"
    def env(ts: Int, parts: String*) =
      (common +: parts :+ s"\"ts\":$ts").mkString("{", ",", "}")
    val lines = textLines(
      env(1, page, disps),                          // null element
      env(2, page, noArrays),                       // empty arrays
      env(3, disps, acts),                          // no page: nothing
      env(4, err, page, disps, acts),               // err only
      env(5, err, start),                           // err only
      env(6, page, start),                          // page + start
      env(7),                                       // bare: nothing
      notJson, truncated, wrongShape,               // nothing
      env(8, page, "\"displays\":{}"),              // drifted array
      env(9, "\"page\":{\"page_id\":\"p\",\"during_time\":\"abc\"}"))
    val onePass = multiset(
      graft.streaming.LogPipeline.demuxToTopicValue(lines))
    assert(onePass == multiset(unionOfBranches(Demux.parse(lines))))
    assert(onePass.groupBy(_._1).map { case (t, r) => t -> r.size } ==
      Map(Demux.ErrorTopic -> 2, Demux.PageTopic -> 5,
        Demux.DisplayTopic -> 3, Demux.StartTopic -> 1))
    assert(graft.streaming.LogPipeline.demuxToTopicValue(
      textLines(notJson, truncated, wrongShape)).isEmpty)
    // the null display element still emits a record, with no element
    // fields (to_json drops nulls)
    assert(onePass.contains((Demux.DisplayTopic,
      "{\"mid\":\"m1\",\"user_id\":\"7\",\"page_id\":\"detail\"," +
        "\"during_time\":5,\"ts\":1}")))
  }

  test("one-pass topicValues writes the same records without " +
      "whole-stage codegen and interpreted") {
    // ShapeToJson has a codegen path inside a stage, one in a plain
    // projection, and an interpreted one
    val lines = textLines(pageJson, errJson,
      """{"common":{"mid":"m2"},"start":{"entry":"icon"},"ts":3}""",
      notJson, truncated, driftedDisplays, badDuringTime)
    def run() = multiset(
      graft.streaming.LogPipeline.demuxToTopicValue(lines))
    val compiled = run()
    assert(compiled.size == 12)
    assert(compiled == multiset(unionOfBranches(Demux.parse(lines))))
    for ((_, confs) <- codegenModes.tail)
      assert(withConfs(confs: _*)(run()) == compiled)
  }

  test("one-pass topicValues emits err, page, displays, actions, " +
      "start in order within an envelope") {
    val common = "\"common\":{\"mid\":\"m1\"}"
    def topicsOf(line: String) =
      graft.streaming.LogPipeline.demuxToTopicValue(textLines(line))
        .as[(String, String)].collect().toSeq
    val full = topicsOf(s"""{$common,"page":{"page_id":"p"},""" +
      """"displays":[{"item":"d1"},{"item":"d2"}],""" +
      """"actions":[{"action_id":"a1"}],"start":{"entry":"e"},"ts":1}""")
    assert(full.map(_._1) == Seq(Demux.PageTopic, Demux.DisplayTopic,
      Demux.DisplayTopic, Demux.ActionTopic, Demux.StartTopic))
    // displays keep their array order
    assert(full(1)._2.contains("\"display_item\":\"d1\"") &&
      full(2)._2.contains("\"display_item\":\"d2\""))
    val errd = topicsOf(s"""{$common,"err":{"error_code":1},""" +
      """"page":{"page_id":"p"},"start":{"entry":"e"},"ts":2}""")
    assert(errd.map(_._1) == Seq(Demux.ErrorTopic))
  }

  test("keyProfile: per-key presence counts/ppm; unexpected keys " +
      "flagged; keys never observed are absent") {
    val lines = Seq(
      """{"common":{"mid":"m1"},"page":{"page_id":"p1"},"ts":1}""",
      """{"common":{"mid":"m2"},"page":{"page_id":"p2"},"ts":2}""",
      """{"common":{"mid":"m3"},"start":{"entry":"e0"},"ts":3}""",
      """{"common":{"mid":"m4"},"rogue":{"x":1},"ts":4}"""
    ).toDF("value")
    val out = Demux.keyProfile(lines,
      Seq("common", "page", "displays", "actions", "start", "ts"))
      .collect().map(r => r.getAs[String]("json_key") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("present_ppm"),
          r.getAs[Boolean]("expected"))).toMap
    assert(out === Map(
      "common" -> ((4L, 1000000L, true)),
      "ts" -> ((4L, 1000000L, true)),
      "page" -> ((2L, 500000L, true)),
      "start" -> ((1L, 250000L, true)),
      // drift: present but not in the contract
      "rogue" -> ((1L, 250000L, false))))
    // displays/actions never observed -> no zero-count rows
    assert(!out.contains("displays") && !out.contains("actions"))
  }

  test("pageStats + dailyUv: DWS rollups with exact UV and " +
      "truncated mean dwell") {
    // same page twice from two mids, second page once from one mid
    val l1 = pageJson
    val l2 = pageJson.replace("\"mid\":\"mid_1\"", "\"mid\":\"mid_2\"")
    val l3 = pageJson
      .replace("\"page_id\":\"detail\"", "\"page_id\":\"home2\"")
      .replace("\"during_time\":1200", "\"during_time\":99")
    val pages = Demux.pages(parsedOf(l1, l2, l3))
    val st = Demux.pageStats(pages).collect()
      .map(r => r.getAs[String]("page_id") ->
        (r.getAs[Long]("n_views"), r.getAs[Long]("n_visitors"),
          r.getAs[Long]("sum_during"),
          r.getAs[Long]("avg_during_milli"))).toMap
    assert(st("detail") == ((2L, 2L, 2400L, 1200000L)))
    assert(st("home2") == ((1L, 1L, 99L, 99000L)))
    val uv = Demux.dailyUv(pages).collect()
    // all three rows share ts 1690000005000 → one day, 2 distinct mids
    assert(uv.length === 1)
    assert(uv.head.getAs[Long]("n_visits") === 3L)
    assert(uv.head.getAs[Long]("n_uv") === 2L)
  }

  test("errorsByVersion: error stream attributes through the page " +
      "stream's device map; error-free versions read zero") {
    val pages = Seq(("m1", "v1"), ("m1", "v1"), ("m2", "v1"),
      ("m3", "v2")).toDF("mid", "version_code")
    val errors = Seq("m1", "m1", "m9").map(Tuple1(_)).toDF("mid")
    val m = Demux.errorsByVersion(errors, pages).collect()
      .map(r => r.getAs[String]("version_code") ->
        (r.getAs[Long]("n_devices"), r.getAs[Long]("n_err_devices"),
          r.getAs[Long]("n_errors"),
          r.getAs[Long]("err_device_ppm"))).toMap
    // m9 has no page rows -> unattributable, dropped by the join
    assert(m("v1") == ((2L, 1L, 2L, 500000L)))
    assert(m("v2") == ((1L, 0L, 0L, 0L)))
  }

  test("newUserShare: first-touch max per device-day; exact new-UV " +
      "ppm; visits and UV both counted") {
    // day 1: mid a new (2 visits, one row flag 0 — max wins), mid b
    // returning; day 2: mid b returning only
    val day1 = 1690000000000L
    val day2 = day1 + 86400000L
    val rows = Seq(
      ("a", "1", day1), ("a", "0", day1 + 1000), ("b", "0", day1),
      ("b", "0", day2)
    ).toDF("mid", "is_new", "ts")
    val m = Demux.newUserShare(rows).collect()
      .map(r => r.getAs[java.sql.Date]("d").toString ->
        (r.getAs[Long]("n_visits"), r.getAs[Long]("n_uv"),
          r.getAs[Long]("n_new_uv"), r.getAs[Long]("new_ppm")))
      .toMap
    assert(m.size === 2)
    val v = m.values.toSeq.sortBy(-_._1)
    assert(v.head == ((3L, 2L, 1L, 500000L))) // day 1
    assert(v.last == ((1L, 1L, 0L, 0L)))      // day 2
  }

  test("itemCtr: exposures and actions rollup before the join; " +
      "action-only items keep a zero-exposure NULL-ctr row") {
    val displays = Seq("i1", "i1", "i1", "i2")
      .map(Tuple1(_)).toDF("display_item")
    val actions = Seq("i1", "i3", "i3")
      .map(Tuple1(_)).toDF("action_item")
    val m = Demux.itemCtr(displays, actions).collect()
      .map(r => r.getAs[String]("item") ->
        (r.getAs[Long]("n_displays"), r.getAs[Long]("n_actions"),
          Option(r.getAs[Any]("ctr_ppm")))).toMap
    assert(m("i1") == ((3L, 1L, Some(333333L))))
    assert(m("i2") == ((1L, 0L, Some(0L))))
    assert(m("i3") == ((0L, 2L, None))) // instrumentation gap
  }

  test("sessionStats: chain break and null referrer start sessions; " +
      "intact chain continues one; bounce counted on 1-page sessions") {
    // mid m1: home(null ref) -> detail(ref home, intact) |
    //   cart(ref 'other', BROKEN -> new session, 1 page = bounce)
    // mid m2: one page with non-null ref (first row starts a session)
    val rows = Seq(
      ("m1", "home", None, "e1", 100L, 1000L),
      ("m1", "detail", Some("home"), "e2", 200L, 2000L),
      ("m1", "cart", Some("other"), "e3", 300L, 3000L),
      ("m2", "promo", Some("x"), "e4", 50L, 1000L)
    ).toDF("mid", "page_id", "last_page_id", "page_item",
      "during_time", "ts")
    val st = Demux.sessionStats(rows).collect()
      .map(r => r.getAs[String]("entry_page") ->
        (r.getAs[Long]("n_sessions"), r.getAs[Long]("n_bounces"),
          r.getAs[Long]("sum_pages"), r.getAs[Long]("bounce_ppm"),
          r.getAs[Long]("pages_per_session_milli"))).toMap
    assert(st("home") == ((1L, 0L, 2L, 0L, 2000L)))
    assert(st("cart") == ((1L, 1L, 1L, 1000000L, 1000L)))
    assert(st("promo") == ((1L, 1L, 1L, 1000000L, 1000L)))
  }

  test("pageFlow: edge rollup with exact outflow shares; entry " +
      "views group under the NULL source row") {
    import spark.implicits._
    val pages = Seq(
      (Option("p1"), "p2"), (Option("p1"), "p2"), (Option("p1"), "p3"),
      (Option.empty[String], "p2"))
      .toDF("last_page_id", "page_id")
    val m = graft.ops.Demux.pageFlow(pages).collect()
      .map(r => (Option(r.getAs[String]("last_page_id")),
        r.getAs[String]("page_id")) ->
        (r.getAs[Long]("n_visits"), r.getAs[Long]("share_ppm"))).toMap
    assert(m((Some("p1"), "p2")) == ((2L, 666666L)))
    assert(m((Some("p1"), "p3")) == ((1L, 333333L)))
    assert(m((None, "p2")) == ((1L, 1000000L)))
  }
}
