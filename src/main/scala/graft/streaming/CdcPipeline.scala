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
  *
  * Dim last-write-wins follows the source's partition order: within a
  * partition the last write per (table, id) wins, as the reference's
  * Redis `SET`s in partition order do. (Parse, op normalization and
  * routing are narrow, so a partition's rows keep the source
  * partition's arrival order.) Keys whose writes all sit in
  * one source partition, as Maxwell's `producer_partition_by=
  * primary_key` or `database` keeps them, get exactly one row, the
  * last write. A key whose writes span partitions gets one row per
  * partition, in no defined order at the sink. A
  * `monotonically_increasing_id` stamp plus a window would guarantee
  * no more: the stamp orders by partition index first, so it keeps
  * the write from the highest partition, not the latest one.
  */
object CdcPipeline {

  /** One micro-batch of the CDC flow, factored out so batch tests and
    * the streaming query run the identical logic:
    * parse → normalize ops → fact rows to per-table/op topics,
    * dim rows compacted last-write-wins by (table, id) per partition.
    *
    * Two narrow Spark jobs per batch, the fact sink's and the dim
    * sink's: routing is an `isin` filter against the routing list,
    * read once per batch on the driver, and the compaction runs
    * inside each partition, so neither has a broadcast exchange or a
    * shuffle. The parsed batch is persisted so the second job reads
    * it instead of parsing again.
    */
  def processBatch(
      batch: DataFrame,
      routing: DataFrame,
      factSink: DataFrame => Unit,
      dimSink: DataFrame => Unit
  ): Unit = {
    val names = Cdc.routingNames(routing)
    val normalized = Cdc.normalizeOps(Cdc.parse(batch)).persist()
    try {
      val facts = Cdc.withTopic(
        Cdc.routeNames(normalized, names, "fact"))
        .select(col("topic"),
          to_json(col("data")).as("value"))
      factSink(facts)
      val dims = Cdc.lastWriteWinsInPartition(
        Cdc.routeNames(normalized, names, "dim"),
        keys = Seq(col("table"), col("data")("id")))
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
