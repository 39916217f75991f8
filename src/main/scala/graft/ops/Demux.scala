package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
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

  /** T2: raw Kafka-shaped `value: string` → typed envelope columns. */
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
    col("common.mid").as("mid"),
    col("common.uid").as("user_id"),
    col("common.ar").as("province_id"),
    col("common.ch").as("channel"),
    col("common.is_new").as("is_new"),
    col("common.md").as("model"),
    col("common.os").as("operate_system"),
    col("common.vc").as("version_code"),
    col("common.ba").as("brand")
  )

  private val pageCols = Seq(
    col("page.page_id").as("page_id"),
    col("page.last_page_id").as("last_page_id"),
    col("page.item").as("page_item"),
    col("page.item_type").as("page_item_type"),
    col("page.during_time").as("during_time"),
    col("page.source_type").as("source_type")
  )

  /** One DWD record shape: the envelope rows it takes (`guard`), the
    * envelope columns it keeps, and — for the exploded branches — the
    * array it unnests (one record per element) with the element's
    * (field, output name) pairs. Every record ends with the envelope
    * `ts`.
    */
  private case class Branch(
      guard: Column,
      fields: Seq[Column],
      unnest: Option[String] = None,
      elemFields: Seq[(String, String)] = Nil
  ) {
    /** The record's columns, given the unnested element if any. */
    def columns(elem: Option[Column]): Seq[Column] =
      fields ++ elem.toSeq.flatMap(e => elemFields.map {
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
      col("common.mid").as("mid"),
      col("err.error_code").as("error_code"),
      col("err.msg").as("msg"))),
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
        col("start.entry").as("entry"),
        col("start.open_ad_id").as("open_ad_id"),
        col("start.loading_time").as("loading_time_ms"),
        col("start.open_ad_ms").as("open_ad_ms"),
        col("start.open_ad_skip_ms").as("open_ad_skip_ms")))
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

  /** ALL FIVE branches in literally one pass: per input row, build an
    * array of (topic, value) elements — err short-circuit, page,
    * per-display, per-action, start — and explode it. The union-of-
    * branches plan evaluates the `from_json` parse once per BRANCH
    * LEG (batch callers persist the envelope; a streaming plan
    * cannot), so this form is what the 5 s-micro-batch pipeline
    * runs: one parse + one Generate per record, the exact shape of
    * the reference's per-record if/else (`OdsBaseLogApp.scala:
    * 95-188`). Built from the same branch table as the per-branch
    * frames, so values match `toJsonValue(branch)` bit-for-bit
    * (differential spec asserts it).
    */
  def topicValues(parsed: DataFrame): DataFrame = {
    def el(topic: String, payload: Column) =
      struct(lit(topic).as("topic"), to_json(payload).as("value"))
    val empty = array()
      .cast("array<struct<topic:string,value:string>>")
    val arrays = branches.map { case (topic, b) =>
      b.unnest match {
        case None =>
          when(b.guard, array(el(topic, struct(b.columns(None): _*))))
            .otherwise(empty)
        case Some(arr) =>
          when(b.guard && col(arr).isNotNull, transform(col(arr),
            e => el(topic, struct(b.columns(Some(e)): _*))))
            .otherwise(empty)
      }
    }
    parsed
      .select(explode(concat(arrays.toSeq: _*)).as("tv"))
      .select(col("tv.topic").as("topic"), col("tv.value").as("value"))
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
