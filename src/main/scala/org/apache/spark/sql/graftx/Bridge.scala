package org.apache.spark.sql.graftx

import java.util.concurrent.ThreadPoolExecutor
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, Dataset}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.ThreadUtils

/** Column ↔ Expression bridge.
  *
  * Spark 4 made the public `Column` API backend-agnostic and hid the
  * classic Expression constructor behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). Custom Catalyst
  * expressions (graft.functions.*) still need to surface as Columns,
  * so this one-liner lives in an `org.apache.spark.sql` subpackage —
  * the standard extension-library pattern.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** A DataFrame over catalyst rows that already have `schema`'s
    * layout, such as rows a `queryExecution.toRdd` pass hands back
    * unchanged (`SparkSession.internalCreateDataFrame` is
    * `private[sql]`).
    */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: RDD[InternalRow],
      schema: StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** A pool of at most `maxThreads` daemon threads named
    * `prefix-N`; idle threads exit after 60 s (Spark's
    * `ThreadUtils.newDaemonCachedThreadPool`, `private[spark]`).
    */
  def daemonThreadPool(prefix: String, maxThreads: Int): ThreadPoolExecutor =
    ThreadUtils.newDaemonCachedThreadPool(prefix, maxThreads)

  /** The materialized RDD behind a checkpointed Dataset
    * (`ds.checkpoint`/`ds.localCheckpoint` both return a Dataset whose
    * analyzed plan is a `LogicalRDD` leaf). Iterative operators need
    * the handle to `unpersist` superseded rounds' checkpoint blocks —
    * `Dataset.unpersist` only consults the CacheManager, which never
    * sees checkpoint storage, so without this the blocks linger until
    * GC-driven ContextCleaner cleanup.
    */
  def leafRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.analyzed match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Rebuild a checkpointed Dataset's `LogicalRDD` leaf WITHOUT the
    * inherited statistics. `Dataset.checkpoint`/`localCheckpoint`
    * call `LogicalRDD.rewriteStatsAndConstraints`, which copies the
    * PRE-truncation plan's estimated `sizeInBytes` into the leaf. In
    * an iterative operator whose round plan references the previous
    * snapshot more than once (e.g. a pointer-jump self-join), that
    * estimate is a PRODUCT of the previous leaf's estimate with
    * itself — it squares every round, its BigInt digit count doubles,
    * and round planning goes exponential in Catalyst's stats walk
    * (measured: dupClusters rounds 16→23 at 0.8 s → 284 s, main
    * thread pinned in `BigInteger.multiplyToomCook3` under
    * `SizeInBytesOnlyStatsPlanVisitor`). Dropping `originStats`
    * resets the leaf to `defaultSizeInBytes` — constant per round;
    * inside a loop every join is keyed on the snapshot anyway, so
    * nothing useful is lost.
    */
  def statsResetLeaf(ds: Dataset[_]): org.apache.spark.sql.DataFrame =
    ds.queryExecution.analyzed match {
      case l: LogicalRDD =>
        val session = ds.sparkSession
          .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        org.apache.spark.sql.classic.Dataset.ofRows(session,
          LogicalRDD(l.output, l.rdd, l.outputPartitioning,
            l.outputOrdering, l.isStreaming, l.stream)(
            session, None, None))
      case _ => ds.toDF()
    }
}
