package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.Demux

/** Structured-Streaming wiring for the log demux (reference
  * `app/OdsBaseLogApp.scala`, SURVEY §3.1).
  *
  * The reference's DStream topology (5 s micro-batches, manual Redis
  * offsets, per-partition producer flush) maps to:
  *  - `readStream.format("kafka")` + `Trigger.ProcessingTime("5
  *    seconds")` (S1/S2; micro-batch cadence),
  *  - checkpointLocation (S3/K3; offset resume + at-least-once commit
  *    ordering — data sinks flush before the commit log advances; T1
  *    input counts are `StreamingQueryProgress.numInputRows`),
  *  - the built-in Kafka sink with a computed `topic` column (K1 —
  *    one sink writes all 5 DWD topics; producer pooling/batching is
  *    the sink's job, reproducing the reference's per-partition flush
  *    amortization),
  *  - one parse + one Generate per record (`Demux.topicValues`, no
  *    persist) to demux 5 ways in a single source pass (E1/E2 —
  *    mirrors the reference's single traversal).
  *
  * The transform core is the SAME `Demux` functions the batch/oracle
  * path uses — streaming here is wiring, not logic.
  */
object LogPipeline {

  /** Kafka source (reference S1/S2: subscribe, group id, latest).
    * Offset resume is the checkpoint's job — no Redis equivalent
    * needed (SURVEY §2.1 S3).
    */
  def fromKafka(
      spark: SparkSession,
      bootstrap: String,
      topic: String,
      startingOffsets: String = "latest"
  ): DataFrame =
    spark.readStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .load()

  /** The 5-way demux as (topic → JSON value) rows in ONE DataFrame —
    * the Kafka sink routes on the `topic` column, so a single
    * streaming query serves all branches (no 5× source re-read, one
    * checkpoint, atomic-enough commit ordering).
    *
    * Uses the literally-one-pass form (`Demux.topicValues`: one parse
    * + one Generate per record); a union of the per-branch frames
    * would re-parse per branch leg in a streaming plan (no persist
    * there).
    */
  def demuxToTopicValue(raw: DataFrame): DataFrame =
    Demux.topicValues(Demux.parse(raw))

  /** End-to-end: Kafka ODS topic → 5 DWD topics, 5 s micro-batches,
    * checkpointed. Runs the one-pass demux (one parse + one Generate
    * per record); the single query keeps offset commit ordering
    * identical to the reference (flush before offset save,
    * `OdsBaseLogApp.scala:194,205`).
    *
    * This query may set Spark 4.1.2's `asyncProgressTrackingEnabled`
    * option, which writes the offset and commit logs off the batch's
    * critical path: Spark allows it only for a stateless query,
    * without a `Once` or `AvailableNow` trigger, into the Kafka,
    * memory, console or noop sink, and this query is all of those.
    * `CdcPipeline.start` is not: Spark rejects the option on a
    * `foreachBatch` sink. The option is not set: its gain is
    * unmeasured, and measuring it needs a Kafka broker and the
    * spark-sql-kafka connector.
    */
  def start(
      spark: SparkSession,
      bootstrap: String,
      sourceTopic: String,
      checkpoint: String
  ): StreamingQuery =
    demuxToTopicValue(fromKafka(spark, bootstrap, sourceTopic))
      .writeStream
      .format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()
}
