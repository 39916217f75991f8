package graft.schemas

import org.apache.spark.sql.types._

/** Explicit schemas for the reference's two Kafka envelopes.
  *
  * The reference parses input JSON schemalessly with fastjson
  * (`app/OdsBaseLogApp.scala:57-64`) — missing keys become nulls. We
  * declare the envelope as an all-nullable `StructType` so `from_json`
  * reproduces exactly that leniency (SURVEY §1.3, §7.5-3).
  *
  * The four DWD output records (the reference's beans in `bean/`) are
  * not declared here: `graft.ops.Demux`'s branch table is their one
  * definition, and its branch frames carry their names, order and
  * types. Every field is a nullable STRING or BIGINT, so JSON nulls
  * survive (fastjson's nullable Long behavior).
  */
object Gmall {

  val commonSchema: StructType = StructType(
    Seq("ar", "ba", "ch", "is_new", "md", "mid", "os", "uid", "vc")
      .map(StructField(_, StringType, nullable = true))
  )

  val pageSchema: StructType = StructType(Seq(
    StructField("during_time", LongType),
    StructField("item", StringType),
    StructField("item_type", StringType),
    StructField("last_page_id", StringType),
    StructField("page_id", StringType),
    StructField("source_type", StringType)
  ))

  val displaySchema: StructType = StructType(Seq(
    StructField("display_type", StringType),
    StructField("item", StringType),
    StructField("item_type", StringType),
    StructField("order", StringType),
    StructField("pos_id", StringType)
  ))

  val actionSchema: StructType = StructType(Seq(
    StructField("action_id", StringType),
    StructField("item", StringType),
    StructField("item_type", StringType),
    StructField("ts", LongType)
  ))

  val startSchema: StructType = StructType(Seq(
    StructField("entry", StringType),
    StructField("loading_time", LongType),
    StructField("open_ad_id", StringType),
    StructField("open_ad_ms", LongType),
    StructField("open_ad_skip_ms", LongType)
  ))

  val errSchema: StructType = StructType(Seq(
    StructField("error_code", LongType),
    StructField("msg", StringType)
  ))

  /** Full log envelope (Kafka topic ODS_BASE_LOG; FIXTURES.md §A1). */
  val logEnvelopeSchema: StructType = StructType(Seq(
    StructField("common", commonSchema),
    StructField("page", pageSchema),
    StructField("displays", ArrayType(displaySchema)),
    StructField("actions", ArrayType(actionSchema)),
    StructField("start", startSchema),
    StructField("err", errSchema),
    StructField("ts", LongType)
  ))

  /** Maxwell CDC envelope (topic ODS_BASE_DB; FIXTURES.md §A2). The
    * `data` payload is dynamically shaped → MapType keeps it generic.
    */
  val maxwellEnvelopeSchema: StructType = StructType(Seq(
    StructField("table", StringType),
    StructField("type", StringType),
    StructField("data", MapType(StringType, StringType)),
    // Maxwell emits the PREVIOUS values of changed columns on updates
    StructField("old", MapType(StringType, StringType))
  ))
}
