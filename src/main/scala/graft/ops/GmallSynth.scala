package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic events→gmall-log synthesizer.
  *
  * The reference's demux input is gmall app-log JSON on Kafka
  * (FIXTURES.md §A1); the driver testdata has no such topic, so we
  * derive the JSON deterministically from `events.parquet` and run the
  * REAL demux pipeline (concat → Demux.parse → branch) over it. Every
  * derivation below is simple integer/modulo arithmetic so the DuckDB
  * oracle can compute the expected flat output directly from `events`
  * — the JSON round-trip itself is what's under test.
  *
  * Branch coverage mapping (event_type → envelope parts):
  *  - error               → `err` AND `page` (exercises the err
  *    short-circuit at `app/OdsBaseLogApp.scala:95-99`: page must NOT
  *    be emitted for these rows)
  *  - view/click/purchase → `page`; click adds `displays` (1+k%3
  *    elements), purchase adds `actions` (1+k%2 elements)
  *  - signup              → `start`
  */
object GmallSynth {

  private def s(c: Column): Column = c.cast("string")

  /** events(event_id, ts, user_id, event_type, value, props) →
    * single-column `value: string` of log-envelope JSON.
    *
    * Written with `concat`: every value is a digit string or fixed
    * literal, so no JSON escaping is needed (the parse side is what
    * the demux queries test). Not `to_json(struct(...))`, which wrote
    * the same lines but more slowly: on sf0.1 (`local[4]`, 4 shuffle
    * partitions, a noop sink, rounds 2-12 in one JVM, 4 vCPUs) it took
    * a median of ~670 ms per round against ~560 ms here.
    */
  def logLines(events: DataFrame): DataFrame = {
    // The sf0.1 parquet is one file → one input split, which would
    // serialize the (expensive) JSON round-trip on a single core. A
    // Kafka source would arrive partitioned; reproduce that here with
    // one cheap hash shuffle into spark.sql.shuffle.partitions splits.
    val e = events
      .repartition(col("event_id"))
      // coalesce-guard the derived fields: concat null-propagates, so a
      // single null k/value would silently drop the whole record (the
      // oracle's withK fragment applies the same defaults)
      .withColumn("k",
        coalesce(get_json_object(col("props"), "$.k").cast("int"), lit(0)))
      .withColumn("value", coalesce(col("value"), lit(0.0)))
      .withColumn("ems", unix_millis(col("ts")))

    val commonJson = concat(
      lit("\"common\":{\"ar\":\""), s(col("user_id") % 34),
      lit("\",\"ba\":\"brand"), s(col("user_id") % 5),
      lit("\",\"ch\":\"ch"), s(col("user_id") % 4),
      lit("\",\"is_new\":\""), s(col("user_id") % 2),
      lit("\",\"md\":\"m"), s(col("user_id") % 7),
      lit("\",\"mid\":\"mid_"), s(col("user_id")),
      lit("\",\"os\":\"os"), s(col("user_id") % 3),
      lit("\",\"uid\":\""), s(col("user_id")),
      lit("\",\"vc\":\"v"), s(col("user_id") % 9),
      lit("\"}"))

    val pageJson = concat(
      lit(",\"page\":{\"during_time\":"),
      s(floor(col("value") * 100).cast("long")),
      lit(",\"item\":\""), s(col("event_id")),
      lit("\",\"item_type\":\"sku_id\",\"last_page_id\":\"p"),
      s(col("k") % 7),
      lit("\",\"page_id\":\"p"), s(col("k") % 10),
      lit("\",\"source_type\":\"s"), s(col("k") % 3),
      lit("\"}"))

    val displaysJson = concat(
      lit(",\"displays\":["),
      array_join(transform(sequence(lit(0), col("k") % 3), i =>
        concat(
          lit("{\"display_type\":\"promo\",\"item\":\""),
          s(col("event_id") * 10 + i),
          lit("\",\"item_type\":\"sku_id\",\"order\":\""), s(i),
          lit("\",\"pos_id\":\""), s(col("k") % 5),
          lit("\"}"))), ","),
      lit("]"))

    val actionsJson = concat(
      lit(",\"actions\":["),
      array_join(transform(sequence(lit(0), col("k") % 2), i =>
        concat(
          lit("{\"action_id\":\"a"), s((col("k") + i) % 5),
          lit("\",\"item\":\""), s(col("event_id")),
          lit("\",\"item_type\":\"sku_id\",\"ts\":"),
          s(col("ems") + i * 1000),
          lit("}"))), ","),
      lit("]"))

    val startJson = concat(
      lit(",\"start\":{\"entry\":\"e"), s(col("k") % 3),
      lit("\",\"loading_time\":"), s((col("k") * 10).cast("long")),
      lit(",\"open_ad_id\":\""), s(col("k") % 10),
      lit("\",\"open_ad_ms\":"), s((col("k") * 20).cast("long")),
      lit(",\"open_ad_skip_ms\":"), s(((col("k") % 2) * 100).cast("long")),
      lit("}"))

    val errJson = concat(
      lit(",\"err\":{\"error_code\":"), s(col("k").cast("long")),
      lit(",\"msg\":\"boom_"), s(col("k")), lit("\"}"))

    e.select(
      concat(
        lit("{"), commonJson,
        when(col("event_type").isin("view", "click", "purchase", "error"),
          pageJson).otherwise(lit("")),
        when(col("event_type") === "click", displaysJson)
          .otherwise(lit("")),
        when(col("event_type") === "purchase", actionsJson)
          .otherwise(lit("")),
        when(col("event_type") === "signup", startJson)
          .otherwise(lit("")),
        when(col("event_type") === "error", errJson).otherwise(lit("")),
        lit(",\"ts\":"), s(col("ems")), lit("}")
      ).as("value"))
  }
}
