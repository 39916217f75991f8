package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import graft.functions.ShapeToJson
import graft.schemas.Gmall

/** The rebuilt 5-way log demultiplexer (reference R1/T2-T9:
  * `app/OdsBaseLogApp.scala:85-207`).
  *
  * The reference demuxes with a per-record if/else tree inside
  * `foreachPartition`; here each branch is a declarative
  * `DataFrame => DataFrame` so the exact same plan runs in batch (over
  * parquet, oracle-checked) and in Structured Streaming (over Kafka /
  * MemoryStream, see graft.streaming.LogPipeline). All narrow ops — no
  * shuffle anywhere in the demux; at 100 TB this is a pure map-side
  * pipeline that scales linearly with input partitions.
  *
  * Branch semantics preserved exactly (SURVEY §7.5-3):
  *  - `err` short-circuits everything (`OdsBaseLogApp.scala:95-99`);
  *  - page/displays/actions only when `page` present (`:117-170`);
  *  - `start` independent of page (`:174-188`);
  *  - missing JSON keys → null fields (fastjson leniency → nullable
  *    `from_json` schema).
  */
object Demux {

  /** T2: raw Kafka-shaped `value: string` → typed envelope columns. A
    * filter on the parsed columns is pushed below `from_json` as one
    * more schema-pruned parse per predicate unless the parse is
    * materialized first; every branch's guard is one, so
    * `DemuxQueries.parsed` and `CdcQueries.parsedEnv` persist it.
    */
  def parse(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("value").cast("string"),
        Gmall.logEnvelopeSchema).as("j"))
      .select(col("j.*"))

  /** Quarantine branch for records the envelope parse rejects: not
    * JSON at all, or JSON that lacks every envelope section. The
    * reference discards these inside its per-record try/catch
    * (`OdsBaseLogApp.scala` fastjson parse); a pipeline at scale
    * routes them to a dead-letter topic with a reason instead of
    * dropping them silently. Map-side only.
    */
  def quarantine(raw: DataFrame): DataFrame = {
    val v = col("value").cast("string")
    val parsed = from_json(v, Gmall.logEnvelopeSchema)
    raw
      .select(v.as("raw_value"), parsed.as("j"))
      // PERMISSIVE from_json yields an all-null struct (not null) on
      // bad input, so JSON validity needs its own probe
      .withColumn("reason",
        when(get_json_object(col("raw_value"), "$").isNull,
          lit("not_json"))
          .when(col("j.common").isNull && col("j.err").isNull &&
            col("j.page").isNull && col("j.start").isNull,
            lit("no_envelope_section")))
      .filter(col("reason").isNotNull)
      .select(col("raw_value"), col("reason"))
  }

  val ErrorTopic   = "DWD_ERROR_LOG"
  val PageTopic    = "DWD_PAGE_LOG"
  val DisplayTopic = "DWD_PAGE_DISPLAY"
  val ActionTopic  = "DWD_PAGE_ACTION"
  val StartTopic   = "DWD_START_LOG"

  /** T4 common projection, shared by every non-error branch
    * (`OdsBaseLogApp.scala:102-114`).
    */
  private val commonCols = Seq(
    "common.mid" -> "mid",
    "common.uid" -> "user_id",
    "common.ar" -> "province_id",
    "common.ch" -> "channel",
    "common.is_new" -> "is_new",
    "common.md" -> "model",
    "common.os" -> "operate_system",
    "common.vc" -> "version_code",
    "common.ba" -> "brand"
  )

  private val pageCols = Seq(
    "page.page_id" -> "page_id",
    "page.last_page_id" -> "last_page_id",
    "page.item" -> "page_item",
    "page.item_type" -> "page_item_type",
    "page.during_time" -> "during_time",
    "page.source_type" -> "source_type"
  )

  /** One DWD record shape: the envelope rows it takes (`guard`), the
    * (envelope field path, output name) pairs it keeps, and — for the
    * exploded branches — the array it unnests (one record per
    * element) with the element's (field, output name) pairs. Every
    * record ends with the envelope `ts`.
    */
  private case class Branch(
      guard: Column,
      fields: Seq[(String, String)],
      unnest: Option[String] = None,
      elemFields: Seq[(String, String)] = Nil
  ) {
    /** The record's columns, given the unnested element if any. */
    def columns(elem: Option[Column]): Seq[Column] =
      fields.map { case (f, name) => col(f).as(name) } ++
        elem.toSeq.flatMap(e => elemFields.map {
          case (f, name) => e.getField(f).as(name)
        }) :+ col("ts")
  }

  private val isErr = col("err").isNotNull
  private val onPage = !isErr && col("page").isNotNull

  /** The five branches, keyed by DWD topic in the reference's emit
    * order; guards as in the object doc. The per-branch frames and the
    * one-pass [[topicValues]] both read this table.
    */
  private val branches = scala.collection.immutable.ListMap(
    // T3: error branch — whole record routed, nothing else extracted
    ErrorTopic -> Branch(isErr, Seq(
      "common.mid" -> "mid",
      "err.error_code" -> "error_code",
      "err.msg" -> "msg")),
    // T5: PageLog (16 cols, `bean/PageLog.scala:3-20`)
    PageTopic -> Branch(onPage, commonCols ++ pageCols),
    // T6: PageDisplayLog (21 cols, `bean/PageDisplayLog.scala:3-26`)
    DisplayTopic -> Branch(onPage, commonCols ++ pageCols,
      Some("displays"), Seq(
        "display_type" -> "display_type",
        "item" -> "display_item",
        "item_type" -> "display_item_type",
        "order" -> "display_order",
        "pos_id" -> "display_pos_id")),
    // T7: PageActionLog (20 cols; per-action ts kept alongside record
    // ts, `OdsBaseLogApp.scala:163-165`)
    ActionTopic -> Branch(onPage, commonCols ++ pageCols,
      Some("actions"), Seq(
        "action_id" -> "action_id",
        "item" -> "action_item",
        "item_type" -> "action_item_type",
        "ts" -> "action_ts")),
    // T8: StartLog (15 cols, `bean/StartLog.scala:3-19`)
    StartTopic -> Branch(!isErr && col("start").isNotNull,
      commonCols ++ Seq(
        "start.entry" -> "entry",
        "start.open_ad_id" -> "open_ad_id",
        "start.loading_time" -> "loading_time_ms",
        "start.open_ad_ms" -> "open_ad_ms",
        "start.open_ad_skip_ms" -> "open_ad_skip_ms"))
  )

  /** One branch as its own frame. `explode` drops null/empty arrays —
    * same as the reference's foreach over a present-only array
    * (`OdsBaseLogApp.scala:136-138`).
    */
  private def branch(topic: String, parsed: DataFrame): DataFrame = {
    val b = branches(topic)
    val rows = parsed.filter(b.guard)
    b.unnest match {
      case None => rows.select(b.columns(None): _*)
      case Some(arr) =>
        rows.select(col("*"), explode(col(arr)).as("__elem"))
          .select(b.columns(Some(col("__elem"))): _*)
    }
  }

  def errors(parsed: DataFrame): DataFrame = branch(ErrorTopic, parsed)

  def pages(parsed: DataFrame): DataFrame = branch(PageTopic, parsed)

  def displays(parsed: DataFrame): DataFrame = branch(DisplayTopic, parsed)

  def actions(parsed: DataFrame): DataFrame = branch(ActionTopic, parsed)

  def starts(parsed: DataFrame): DataFrame = branch(StartTopic, parsed)

  // --- typed DWD surface (`Dataset[bean]`, the reference's
  // `bean/*.scala` case classes) — same plans as the untyped branch
  // functions, with compile-time field safety for downstream code ---

  def pagesTyped(parsed: DataFrame): Dataset[Gmall.PageLog] =
    pages(parsed).as(Encoders.product[Gmall.PageLog])

  def startsTyped(parsed: DataFrame): Dataset[Gmall.StartLog] =
    starts(parsed).as(Encoders.product[Gmall.StartLog])

  def displaysTyped(parsed: DataFrame): Dataset[Gmall.PageDisplayLog] =
    displays(parsed).as(Encoders.product[Gmall.PageDisplayLog])

  def actionsTyped(parsed: DataFrame): Dataset[Gmall.PageActionLog] =
    actions(parsed).as(Encoders.product[Gmall.PageActionLog])

  /** T9: serialize any branch back to a Kafka-ready JSON `value`. */
  def toJsonValue(branch: DataFrame): DataFrame =
    branch.select(to_json(struct(col("*"))).as("value"))

  /** Envelope schema-drift audit — the check a demux pipeline runs
    * BEFORE trusting its `from_json` schema (a producer quietly
    * adding, renaming, or branch-gating a top-level key is the #1
    * silent breaker of T2-style parsing: `from_json` just nulls what
    * it doesn't know). Per top-level JSON key observed in the raw
    * stream: the number of lines carrying it, its presence rate in
    * ppm, and whether the key is in the EXPECTED contract set —
    * unexpected keys are producer drift to quarantine-and-alert on;
    * expected keys with a collapsed presence rate are branch
    * starvation (e.g. a broken upstream filter dropping every
    * `start` record).
    *
    * Scale shape: one `json_object_keys` projection + explode per
    * line (map-side, no parse of the VALUES — key enumeration is a
    * linear token scan), one partial-aggregated groupBy bounded by
    * the key domain, a 1-row total broadcast. Output is
    * key-domain-sized.
    */
  def keyProfile(raw: DataFrame,
      expectedKeys: Seq[String]): DataFrame = {
    require(expectedKeys.nonEmpty, "need a non-empty contract set")
    val total = raw.agg(count(lit(1)).as("__total"))
    raw.select(explode(json_object_keys(col("value")))
        .as("json_key"))
      .groupBy(col("json_key"))
      .agg(count(lit(1)).as("n_rows"))
      .crossJoin(broadcast(total))
      .select(col("json_key"), col("n_rows"),
        expr("n_rows * 1000000 div __total").as("present_ppm"),
        col("json_key").isin(expectedKeys: _*).as("expected"))
      .orderBy(col("json_key"))
  }

  /** ALL FIVE branches in literally one pass, the exact shape of the
    * reference's per-record if/else (`OdsBaseLogApp.scala:95-188`).
    * The union-of-branches plan evaluates the `from_json` parse once
    * per BRANCH LEG (batch callers persist the envelope; a streaming
    * plan cannot), so this form is what the 5 s-micro-batch pipeline
    * runs: one parse + one Generate per record.
    *
    * Each envelope's records are numbered 0..n-1 in emit order (err,
    * page, displays, actions, start). A projection below the
    * Generate computes, once per envelope, every branch's cumulative
    * end offset (1 for a taken scalar branch, the array size for a
    * taken exploded one); the Generate explodes the record index `i`;
    * one projection above it picks, by a CASE on `i`, the topic and
    * the branch, and writes the branch's record with
    * [[graft.functions.ShapeToJson]]: the envelope columns and each
    * exploded branch's element `arr[i - start]` are read once, and the
    * branch's record shape (from the branch table) names the field of
    * each. Values match `toJsonValue(branch)` bit-for-bit
    * (differential spec asserts it).
    *
    * No lambda HOF: `transform` builds an `ArrayTransform`, which is
    * `CodegenFallback` in Spark 4.1.2, so the earlier per-branch
    * `transform` arrays took the Generate and every display/action
    * record's struct + `to_json` out of whole-stage codegen. Here
    * everything above the parse compiles into one codegen stage (only
    * `JsonToStructs` stays interpreted): `log_bulk` throughput 13.3k →
    * 17.8k envelopes/s, p50 latency 2.82 → 2.03 s, with `log_trickle`
    * p50 unchanged (364 → 368 ms; medians of 5 and 10 alternating
    * pairs, 4 vCPU). The records are not a CASE of
    * `to_json(struct(...))` arms: see [[graft.functions.ShapeToJson]]
    * for why. Since `ShapeToJson` writes the records' UTF-8 bytes
    * itself rather than through Jackson, `log_bulk` reads 25.1k →
    * 31.0k envelopes/s and p50 1.45 → 1.17 s (medians of 10
    * alternating pairs, 4 vCPU; the writer's share of the demux task's
    * CPU samples fell from 41% to 24%), `log_trickle` p50 227 → 211 ms.
    */
  def topicValues(parsed: DataFrame): DataFrame = {
    val bs = branches.toSeq
    // below the Generate, once per envelope: each branch's cumulative
    // end offset
    val counts = bs.map { case (_, b) =>
      b.unnest match {
        case None => when(b.guard, 1).otherwise(0)
        case Some(arr) =>
          when(b.guard && col(arr).isNotNull, size(col(arr))).otherwise(0)
      }
    }
    val endNames = bs.indices.map(k => s"__end$k")
    val ends = counts.tail.scanLeft(counts.head)(_ + _)
      .zip(endNames).map { case (e, n) => e.as(n) }
    val i = col("__i")
    val total = col(endNames.last)
    val starts = lit(0) +: endNames.init.map(col)
    // CASE on the record index: the first branch whose end lies past it
    val conds = endNames.map(e => i < col(e))
    def pick(arms: Seq[Column]) =
      conds.zip(arms).tail.foldLeft(when(conds.head, arms.head)) {
        case (c, (cond, arm)) => c.when(cond, arm)
      }
    // what the records read: the top-level envelope columns their
    // field paths start with, then each exploded branch's element
    // (`get` is null off the branch's index range)
    val tops = (bs.flatMap(_._2.fields.map(_._1.split('.').head)) :+ "ts")
      .distinct
    val exploded = bs.indices.filter(k => bs(k)._2.unnest.isDefined)
    val values = tops.map(col) ++ exploded.map(k =>
      get(col(bs(k)._2.unnest.get), i - starts(k)))
    // one record shape per branch, in `Branch.columns` order: the
    // envelope fields, the element fields, `ts`
    def envelope(name: String, path: String) = path.split('.') match {
      case Array(c) => ShapeToJson.Field(name, tops.indexOf(c), None)
      case Array(c, f) => ShapeToJson.Field(name, tops.indexOf(c), Some(f))
    }
    val shapes = bs.indices.map { k =>
      val b = bs(k)._2
      val elem = tops.size + exploded.indexOf(k)
      b.fields.map { case (p, name) => envelope(name, p) } ++
        b.elemFields.map { case (f, name) =>
          ShapeToJson.Field(name, elem, Some(f)) } :+
        envelope("ts", "ts")
    }
    val value = Bridge.column(ShapeToJson(
      (pick(bs.indices.map(lit(_))) +: values).map(Bridge.expression),
      shapes))
    parsed
      .select(col("*") +: ends: _*)
      // sequence(0, -1) is [0, -1], so an envelope with no record
      // explodes a null instead
      .select(col("*"),
        explode(when(total > 0, sequence(lit(0), total - 1))).as("__i"))
      .select(pick(bs.map { case (topic, _) => lit(topic) }).as("topic"),
        value.as("value"))
  }

  /** DWS page-traffic rollup over the demuxed page stream — the
    * summary layer the reference's warehouse builds downstream of
    * its DWD demux: per page, views, unique visitors (exact
    * distinct mid — the key-integrity cost a UV metric must pay),
    * dwell mass and truncated mean dwell. One rollup,
    * |pages| rows.
    */
  def pageStats(pages: DataFrame): DataFrame =
    pages.groupBy(col("page_id"))
      .agg(count(lit(1)).as("n_views"),
        countDistinct(col("mid")).as("n_visitors"),
        sum(col("during_time")).as("sum_during"))
      .withColumn("avg_during_milli",
        expr("sum_during * 1000 div n_views"))

  /** DWS daily unique visitors from the page stream (the classic
    * first-visit-dedup DAU read): per event-time day, visits and
    * exact distinct mids. `ts` is the envelope's epoch millis;
    * the day derives in session UTC.
    */
  def dailyUv(pages: DataFrame): DataFrame =
    pages
      .select(expr("CAST(timestamp_millis(ts) AS DATE)").as("d"),
        col("mid"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_visits"),
        countDistinct(col("mid")).as("n_uv"))

  /** Error rate by app version — the release-health read joining the
    * demuxed error stream back to the device→version map the page
    * stream carries (the error envelope itself has no version — the
    * T3 quarantine ships only mid/code/msg, so the attribution IS a
    * join): per version, devices, devices that errored (exact ppm),
    * total errors. Both sides reduce to per-mid rollups before the
    * join — |devices|-sized tables meet, never event streams.
    * Devices that error without EVER appearing in the page stream
    * bucket under a NULL version_code row (full outer, not left):
    * dropping them would make n_errors silently disagree with the
    * raw error stream, and unattributable errors ARE the
    * data-quality signal (the pointInTimeLookup/itemCtr convention).
    */
  def errorsByVersion(
      errors: DataFrame,
      pages: DataFrame
  ): DataFrame = {
    val vmap = pages.groupBy(col("mid"))
      .agg(max(col("version_code")).as("version_code"))
    val em = errors.groupBy(col("mid"))
      .agg(count(lit(1)).as("__n_err"))
    vmap.join(em, Seq("mid"), "full_outer")
      .groupBy(col("version_code"))
      .agg(count(lit(1)).as("n_devices"),
        count(when(col("__n_err").isNotNull, lit(1)))
          .as("n_err_devices"),
        sum(coalesce(col("__n_err"), lit(0L))).as("n_errors"))
      .withColumn("err_device_ppm",
        expr("n_err_devices * 1000000 div n_devices"))
      .orderBy(col("version_code"))
  }

  /** DWS page-flow transition matrix — the navigation read the
    * reference's warehouse builds over its demuxed page stream: per
    * (source page, destination page) edge, visits and the exact ppm
    * share of the source page's outflow. The envelope carries the
    * edge directly (`last_page_id` → `page_id`), so this is ONE
    * rollup + a source-total window over the page×page domain
    * (bounded by the app's page inventory at any corpus size) — no
    * sessionization, no per-user windows. Entry views (null
    * last_page_id) group under the NULL source row, which is the
    * entry-mix read for free.
    */
  def pageFlow(pages: DataFrame): DataFrame = {
    val edges = pages
      .groupBy(col("last_page_id"), col("page_id"))
      .agg(count(lit(1)).as("n_visits"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("last_page_id"))
    edges
      .withColumn("__src_total", sum(col("n_visits")).over(w))
      .withColumn("share_ppm",
        expr("n_visits * 1000000 div __src_total"))
      .drop("__src_total")
  }

  /** DWS new-vs-returning daily mix — the acquisition read off the
    * envelope's `is_new` flag: per event-time day, visits and exact
    * distinct devices on each side plus the new-device ppm share of
    * UV. One rollup beside [[dailyUv]]; the flag is taken per
    * (day, mid) as MAX (a device that flips mid-day counts as new
    * that day — the standard first-touch convention).
    */
  def newUserShare(pages: DataFrame): DataFrame = {
    val dm = pages
      .select(expr("CAST(timestamp_millis(ts) AS DATE)").as("d"),
        col("mid"),
        (col("is_new") === "1").cast("int").as("nu"))
      .groupBy(col("d"), col("mid"))
      .agg(count(lit(1)).as("n_visits"), max(col("nu")).as("nu"))
    dm.groupBy(col("d"))
      .agg(sum(col("n_visits")).as("n_visits"),
        count(lit(1)).as("n_uv"),
        sum(col("nu").cast("long")).as("n_new_uv"))
      .withColumn("new_ppm", expr("n_new_uv * 1000000 div n_uv"))
  }

  /** DWS item exposure→action conversion — the CTR read joining the
    * two exploded streams the demux produced (T6 displays, T7
    * actions): per item, how many exposures, how many actions, and
    * the exact ppm conversion. Both sides reduce to item rollups
    * BEFORE the join (|items|-sized tables meet, not event streams);
    * items acted on without a logged display keep a zero-exposure
    * row (the instrumentation-gap signal), via the full outer join.
    */
  def itemCtr(displays: DataFrame, actions: DataFrame): DataFrame = {
    val shows = displays.groupBy(col("display_item").as("item"))
      .agg(count(lit(1)).as("n_displays"))
    val acts = actions.groupBy(col("action_item").as("item"))
      .agg(count(lit(1)).as("n_actions"))
    shows.join(acts, Seq("item"), "full_outer")
      .select(col("item"),
        coalesce(col("n_displays"), lit(0L)).as("n_displays"),
        coalesce(col("n_actions"), lit(0L)).as("n_actions"))
      .withColumn("ctr_ppm", expr(
        """CASE WHEN n_displays = 0 THEN NULL
          | ELSE n_actions * 1000000 div n_displays END"""
          .stripMargin))
  }

  /** DWS referrer-chain sessionization — the session rebuild the
    * page log supports WITHOUT a session id or a gap heuristic (the
    * gap form is [[graft.ops.Relational]]'s q_sessionize): a session
    * continues while the referrer chain is intact (this row's
    * `last_page_id` equals the previous row's `page_id`); a null
    * referrer or a broken chain starts a new one — the reference's
    * warehouse entry/bounce analysis over its DWD page stream. Per
    * entry page: sessions, bounce (single-page) ppm, pages/session
    * and dwell in exact milli. Determinism: rows order per mid by
    * (ts, page_item) — page_item carries the unique event id in this
    * corpus, making the per-mid order total; windows partition by
    * mid, so the pass scales with the busiest device, never the
    * corpus.
    */
  def sessionStats(pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("mid"))
      .orderBy(col("ts"), col("page_item"))
    val seg = pages
      .withColumn("__prev", lag(col("page_id"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("last_page_id").isNull ||
          col("last_page_id") =!= col("__prev"), 1L).otherwise(0L))
      .withColumn("__sess", sum(col("__brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val per = seg.groupBy(col("mid"), col("__sess"))
      .agg(count(lit(1)).as("n_pages"),
        sum(col("during_time")).as("sum_during"),
        min(struct(col("ts"), col("page_item"), col("page_id")))
          .as("__first"))
      .select(col("n_pages"), col("sum_during"),
        col("__first.page_id").as("entry_page"))
    per.groupBy(col("entry_page"))
      .agg(count(lit(1)).as("n_sessions"),
        count(when(col("n_pages") === 1, lit(1))).as("n_bounces"),
        sum(col("n_pages")).as("sum_pages"),
        sum(col("sum_during")).as("sum_during"))
      .select(col("entry_page"), col("n_sessions"), col("n_bounces"),
        col("sum_pages"), col("sum_during"),
        expr("n_bounces * 1000000 div n_sessions").as("bounce_ppm"),
        expr("sum_pages * 1000 div n_sessions")
          .as("pages_per_session_milli"))
  }
}
