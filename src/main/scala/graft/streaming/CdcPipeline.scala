package graft.streaming

import java.util.concurrent.{CompletableFuture, CompletionException, ThreadPoolExecutor}
import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
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
  * ordering (data before offsets). The reference writes facts and
  * dims in one `foreachPartition` pass; here they are two Spark jobs
  * over one cached parse that run at the same time, so a batch costs
  * about one job's driver round trip, not two ([[processBatch]]).
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
    * Each sink runs one narrow Spark job: routing is an `isin`
    * filter against the routing list, read once per batch on the
    * driver, and the compaction runs inside each partition, so
    * neither has a broadcast exchange or a shuffle. The parse, not
    * the normalized frame, is persisted: Catalyst would push the op
    * filter below `from_json` as a second, `type`-only parse. Both
    * jobs read the one cached parse, and the block manager's lock
    * computes each cached partition once even when both jobs reach
    * it at the same time. An envelope whose `data` did not parse
    * reaches neither sink ([[Cdc.routeMatching]]).
    *
    * The sink contract:
    *  - the dim sink runs on a second driver thread while the fact
    *    sink runs on the caller's, so the two must not share
    *    unsynchronized state;
    *  - the dim sink's thread carries the caller's thread-locals (job
    *    group, SQL execution id, active session, confs), so stopping
    *    the query cancels its job too;
    *  - this returns only after both sinks finish, so a batch's data
    *    is written before its offsets commit. If either fails, it
    *    waits for the other (never cancels it), then rethrows the
    *    failed sink's own exception, not wrapped (the fact sink's when
    *    both fail, with the dim sink's added as suppressed), and
    *    unpersists the parse only after both are done;
    *  - a dim sink may therefore write for a batch whose fact sink
    *    failed. The replay of that batch writes the same last-write-
    *    wins upserts again, which are idempotent, so the dims
    *    converge.
    * The overlap pays where the executors have idle cores while one
    * job runs; on a cluster with every core busy, only the
    * driver-side overlap (planning, scheduling, result handling)
    * remains.
    */
  def processBatch(
      batch: DataFrame,
      routing: DataFrame,
      factSink: DataFrame => Unit,
      dimSink: DataFrame => Unit
  ): Unit = {
    val names = Cdc.routingNames(routing)
    val parsed = Cdc.parse(batch).persist()
    try {
      val normalized = Cdc.normalizeOps(parsed)
      val dimDone = SQLExecution.withThreadLocalCaptured(
          batch.sparkSession.asInstanceOf[classic.SparkSession],
          DimSinkThreads) {
        dimSink(Cdc.lastWriteWinsInPartition(
          Cdc.routeNames(normalized, names, "dim"),
          keys = Seq(col("table"), col("data")("id"))))
      }
      try factSink(Cdc.withTopic(
          Cdc.routeNames(normalized, names, "fact"))
        .select(col("topic"), to_json(col("data")).as("value")))
      catch { case f: Throwable =>
        failureOf(dimDone).foreach(f.addSuppressed)
        throw f
      }
      failureOf(dimDone).foreach(throw _)
    } finally parsed.unpersist()
  }

  /** The dim sinks' driver threads: daemon, named `cdc-dim-sink-N`,
    * at most 8 (one per CDC query running at once; a ninth query's
    * dim sink waits for a free thread); idle ones exit after a minute.
    */
  private lazy val DimSinkThreads: ThreadPoolExecutor =
    Bridge.daemonThreadPool("cdc-dim-sink", 8)

  /** Waits for `done`, uninterruptibly (the caller's interrupt stays
    * set), and returns what its body threw, unwrapped.
    */
  private def failureOf(done: CompletableFuture[Unit]): Option[Throwable] =
    try { done.join(); None }
    catch { case e: CompletionException => Some(e.getCause) }

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
