package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ops.Cdc

/** Structured-Streaming wiring for the CDC pipeline (reference
  * `app/OdsBaseDbApp.scala`, SURVEY §3.2).
  *
  * The reference's per-batch driver hook (reload Redis routing sets,
  * broadcast, then route records) is exactly `foreachBatch`: the
  * routing loader runs on the driver every trigger — live
  * reconfiguration without restart (SURVEY §7.5-1) — and the routed
  * writes happen inside the same batch, preserving the at-least-once
  * ordering (data before offsets).
  */
object CdcPipeline {

  /** One micro-batch of the CDC flow, factored out so batch tests and
    * the streaming query run the identical logic:
    * parse → normalize ops → fact rows to per-table/op topics,
    * dim rows compacted last-write-wins by primary key.
    */
  def processBatch(
      batch: DataFrame,
      routing: DataFrame,
      factSink: DataFrame => Unit,
      dimSink: DataFrame => Unit
  ): Unit = {
    // Stamp arrival order `__seq` here, on the materialized batch
    // (monotonically_increasing_id is not allowed on a streaming DF):
    // the LWW tiebreaker — the reference's "last processed wins"
    // iteration order, `OdsBaseDbApp.scala:160-164`. Per-partition the
    // id is ascending in row order, matching Kafka per-partition order.
    // Cdc.parse is a narrow projection, so the partitions and their row
    // order (hence the ids) are those of the raw batch.
    val parsed = Cdc.parse(batch)
      .withColumn("__seq", monotonically_increasing_id())
    val normalized = Cdc.normalizeOps(parsed).persist()
    try {
      val facts = Cdc.withTopic(
        Cdc.routeMatching(normalized, routing, "fact"))
        .select(col("topic"),
          to_json(col("data")).as("value"))
      factSink(facts)
      val dims = Cdc.lastWriteWins(
        Cdc.routeMatching(normalized, routing, "dim"),
        keys = Seq(col("table"), col("data")("id")),
        order = Seq(col("__seq"))
      )
      dimSink(dims)
    } finally normalized.unpersist()
  }

  /** Streaming entry: Kafka CDC topic → fact topics + dim upserts.
    * `loadRouting` is called per batch on the driver (the reference's
    * per-batch Redis `smembers` + re-broadcast, `OdsBaseDbApp.scala:
    * 89-99`).
    */
  def start(
      spark: SparkSession,
      bootstrap: String,
      sourceTopic: String,
      checkpoint: String,
      loadRouting: () => DataFrame,
      factSink: DataFrame => Unit,
      dimSink: DataFrame => Unit
  ): StreamingQuery =
    LogPipeline.fromKafka(spark, bootstrap, sourceTopic)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        processBatch(batch, loadRouting(), factSink, dimSink)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start()
}
