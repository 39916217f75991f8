package graft.ops

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge
import graft.schemas.Gmall

/** Rebuilt CDC (Maxwell-envelope) pipeline: reference
  * `app/OdsBaseDbApp.scala` (T10/T11, R2-R4).
  *
  * Pure DataFrame transforms shared by batch and streaming; the
  * reference's per-record if/else inside `foreachPartition` becomes
  * filter/when and an `isin` probe against the routing list, all
  * narrow. Last-write-wins is one rule, the last row per key in a
  * partition's row order wins (the reference's per-partition Redis
  * `SET` order), with two entry points: [[lastWriteWinsInPartition]]
  * applies it as rows arrive, with no shuffle (the streaming
  * pipeline's), and [[lastWriteWins]] applies it after one shuffle on
  * the key and a sort on an explicit order (the batch queries').
  */
object Cdc {

  /** Parse raw `value: string` Maxwell JSON into (table, type, data,
    * old).
    */
  def parse(raw: DataFrame): DataFrame =
    raw
      .select(from_json(col("value").cast("string"),
        Gmall.maxwellEnvelopeSchema).as("j"))
      .select(col("j.*"))

  /** T10 (`OdsBaseDbApp.scala:112-121`): normalize Maxwell op types —
    * bootstrap-insert/insert → I, update → U, anything else (deletes
    * included) dropped.
    */
  def normalizeOps(env: DataFrame): DataFrame =
    normalizeOpsWithDeletes(env).filter(col("op") =!= "D")

  /** T11 (`OdsBaseDbApp.scala:126-129`): value-derived routing key —
    * topic = upper(table) + "_" + op. The Kafka sink honors a `topic`
    * column, so this single expression replaces the reference's
    * per-record producer dispatch.
    */
  def withTopic(df: DataFrame): DataFrame =
    df.withColumn("topic",
      concat(upper(col("table")), lit("_"), col("op")))

  /** R2 (`OdsBaseDbApp.scala:89-99`): route rows whose table is in the
    * (small, per-batch-reloadable) routing list for `kind`. As in the
    * reference, the list is read on the driver (here: when the frame
    * is built, so once per streaming batch) and every row does one
    * set probe, `table IN (names)`: a narrow filter, with no join and
    * no broadcast exchange. A null `table` (an envelope that is not
    * JSON), a table missing from the list, a `kind` with no tables, or
    * a null `data` (no `data`, or one that is not an object) routes
    * nothing. A null `data` would reach the fact sink as a null value,
    * a Kafka tombstone, and the dim sink with a null id. Nothing
    * counts these drops yet.
    */
  def routeMatching(
      df: DataFrame,
      routing: DataFrame,
      kind: String
  ): DataFrame = routeNames(df, routingNames(routing), kind)

  /** The routing list read on the driver: table names per kind. A
    * caller routing several kinds reads it once (each read is a Spark
    * query).
    */
  private[graft] def routingNames(
      routing: DataFrame): Map[String, Seq[String]] =
    routing.select(col("kind"), col("table_name")).collect().toSeq
      .groupMap(_.getString(0))(_.getString(1))

  /** [[routeMatching]] against a routing list already read. */
  private[graft] def routeNames(
      df: DataFrame,
      names: Map[String, Seq[String]],
      kind: String
  ): DataFrame =
    df.filter(col("table").isin(names.getOrElse(kind, Nil): _*) &&
      col("data").isNotNull)

  /** Op normalization INCLUDING deletes: Maxwell `delete` → D
    * tombstones (the reference's HBase path issues real deletes,
    * `Hbase/src/main/java/com/atguigu/HbaseDML.java` deleteData; its
    * Redis dim path only overwrites). Used by the tombstone-aware
    * compaction below; the plain [[normalizeOps]] keeps the reference's
    * I/U-only routing semantics. The one Maxwell type → op table.
    */
  def normalizeOpsWithDeletes(env: DataFrame): DataFrame =
    env
      .withColumn("op",
        when(col("type").isin("bootstrap-insert", "insert"), lit("I"))
          .when(col("type") === "update", lit("U"))
          .when(col("type") === "delete", lit("D"))
          .otherwise(lit(null).cast("string")))
      .filter(col("op").isNotNull)

  /** Per-table CDC op-mix audit — the churn profile of a feed
    * (inserts grow a table, updates/deletes REWRITE it): operation
    * counts and the rewrite share in exact ppm, per source table.
    * A dimension whose churn_ppm drifts up is the first sign its
    * upstream started full-row refreshing — the LWW upsert then
    * burns write amplification for no information. One conditional
    * rollup, |tables| rows out.
    */
  def opMixAudit(normalized: DataFrame): DataFrame =
    normalized
      .groupBy(col("table").as("src_table"))
      .agg(
        count(lit(1)).as("n_ops"),
        count(when(col("op") === "I", lit(1))).as("n_insert"),
        count(when(col("op") === "U", lit(1))).as("n_update"),
        count(when(col("op") === "D", lit(1))).as("n_delete"))
      .withColumn("churn_ppm", expr(
        "(n_update + n_delete) * 1000000 div n_ops"))

  /** Hot-key profile of a CDC feed — the top keys by change volume
    * with their exact ppm share. A keyed sink (LWW dim upsert,
    * MERGE target) serializes per key, so one key absorbing percents
    * of the feed IS the write bottleneck; the profile names it
    * before the sink does. One rollup + TakeOrdered top-N (never a
    * global sort), same shape as the layout skew advisor.
    */
  def hotKeys(
      normalized: DataFrame,
      keyCol: String,
      topN: Int = 20
  ): DataFrame = {
    val byKey = normalized.groupBy(col(keyCol).as("key"))
      .agg(count(lit(1)).as("n_changes"))
    byKey
      .crossJoin(broadcast(
        byKey.agg(sum(col("n_changes")).as("n_total"),
          count(lit(1)).as("n_keys"))))
      .select(col("key"), col("n_changes"), col("n_total"),
        col("n_keys"),
        expr("n_changes * 1000000 div n_total").as("share_ppm"))
      .orderBy(col("n_changes").desc, col("key"))
      .limit(topN)
  }

  /** Keyed compaction honoring tombstones: newest row per key wins,
    * and if the newest is a delete the key disappears entirely —
    * the materialized-view semantics of a keyed store fed by CDC.
    * [[lastWriteWins]] (the last write per key in `order`, across
    * partitions), then a tombstone filter over its rows.
    */
  def compactWithTombstones(
      df: DataFrame,
      keys: Seq[Column],
      order: Column
  ): DataFrame =
    lastWriteWins(df, keys, Seq(order)).filter(col("op") =!= "D")

  /** Changed-column extraction from update envelopes: Maxwell's
    * `old` map holds the previous values of exactly the columns an
    * update touched, so exploding it yields one (column, before,
    * after) row per changed cell — the change-tracking feed a
    * downstream audit/SCD pipeline consumes. Map-side only (one
    * Generate off the parsed envelope).
    */
  def changedColumns(env: DataFrame): DataFrame =
    env
      .filter(col("op") === "U" && col("old").isNotNull)
      .select(col("table").as("src_table"),
        col("data")("id").cast("long").as("id"),
        col("data"),
        explode(col("old")).as(Seq("col_name", "old_value")))
      .select(col("src_table"), col("id"), col("col_name"),
        col("old_value"),
        element_at(col("data"), col("col_name")).as("new_value"))

  /** R4 (`OdsBaseDbApp.scala:139-166`): keyed last-write-wins across
    * partitions. The rule is the stream's, [[lastWriteWinsInPartition]],
    * on rows clustered by key (`repartition(keys)`, one shuffle) and
    * sorted by `order` within each partition, so the last write per
    * key in `order` wins. `order` must be unique per key (CDC
    * offsets/ids are); on a tie the surviving row is whichever the
    * sort put last. Only batch code runs it (`q_cdc_dim_lww`,
    * [[compactWithTombstones]], [[applySnapshot]]). Its costs:
    *  - the shuffle's map stage runs when the frame is built, not at
    *    its first action: the pass reads `queryExecution.toRdd`, and
    *    under AQE that runs the map stage;
    *  - no map-side pre-filter: a `row_number` window plan shuffles
    *    only each map partition's survivors (`WindowGroupLimit`
    *    `Partial` before its exchange); this shuffles every row;
    *  - no spill: the hash map holds one row per distinct key of a
    *    shuffle partition and does not spill, where a window's sort
    *    does. In the stream, the micro-batch bounds that map.
    */
  def lastWriteWins(
      df: DataFrame,
      keys: Seq[Column],
      order: Seq[Column]
  ): DataFrame =
    lastWriteWinsInPartition(
      df.repartition(keys: _*).sortWithinPartitions(order: _*), keys)

  /** R4 as the reference runs it (`OdsBaseDbApp.scala:139-166`, a
    * Redis `SET` per record in partition order). The rule: within each
    * partition, the last row per key in the partition's row order
    * wins. No shuffle and no order column: each partition keeps the
    * last row it reads per key in a hash map keyed on a copy of the
    * key, and emits those rows.
    *
    * A key whose rows sit in two partitions keeps one row per
    * partition, so this is last-write-wins only when each key's
    * writes stay in one partition (see `CdcPipeline`;
    * [[lastWriteWins]] shuffles them there first). The pass reads
    * and returns catalyst rows, so every row keeps its bytes (a
    * `Row`-encoder round trip would turn a map column into a Scala
    * map and reorder its keys).
    */
  private[graft] def lastWriteWinsInPartition(
      df: DataFrame,
      keys: Seq[Column]
  ): DataFrame = {
    val keyExprs = df.select(keys: _*).queryExecution.analyzed
      .asInstanceOf[Project].projectList
    val input = df.queryExecution.analyzed.output
    val rows = df.queryExecution.toRdd.mapPartitions { it =>
      val key = UnsafeProjection.create(keyExprs, input)
      val last = new java.util.LinkedHashMap[UnsafeRow, InternalRow]
      it.foreach(r => last.put(key(r).copy(), r.copy()))
      last.values.iterator.asScala
    }
    Bridge.internalCreateDataFrame(df.sparkSession, rows, df.schema)
  }

  /** SCD Type-2 history build from a change feed: where [[lastWriteWins]]
    * keeps only the newest row per key (the reference's Redis point
    * upsert, `app/OdsBaseDbApp.scala:139-166`), this keeps EVERY
    * version, stamped with its validity interval — the warehouse-side
    * "slowly changing dimension" read of the same Maxwell stream.
    *
    * Each I/U row opens a version at its own `order` value and closes
    * at the next change of any kind for that key (update, re-insert,
    * or delete); a D tombstone closes its predecessor and emits no
    * version of its own. `valid_to IS NULL` marks the current version
    * — so a key whose last event is a delete has no current row, the
    * same end-state [[compactWithTombstones]] produces.
    *
    * One shuffle on the key (the window partition); the per-key sort
    * is the price of interval stamping and is exactly the work any
    * SCD2 build must do. `order` must be unique per key (CDC
    * offsets/ids are) — ties would make `lead` nondeterministic.
    */
  def scd2History(
      df: DataFrame,
      keys: Seq[Column],
      order: Column
  ): DataFrame = {
    val w = Window.partitionBy(keys: _*).orderBy(order.asc)
    df.withColumn("valid_from", order)
      .withColumn("valid_to", lead(order, 1).over(w))
      .filter(col("op") =!= "D")
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** Point-in-time (as-of) lookup against an [[scd2History]] table —
    * the fact-enrichment read SCD2 exists to serve: each fact row
    * picks the dimension version whose validity interval contains
    * its own `asOf` stamp (`valid_from <= asOf < valid_to`, open
    * current version = null `valid_to`). LEFT join — a fact probing
    * a deleted gap (after a D closed a version, before any re-insert
    * opens one) or an unkeyed dimension keeps its row with null
    * version columns and `matched = false`, which is exactly the
    * data-quality signal a warehouse wants surfaced, not dropped.
    *
    * Shape at scale: one equi-shuffle on the dimension key; the
    * interval predicate rides the join condition, and versions per
    * key are bounded by that key's change count — never a
    * corpus-cross range join.
    */
  def pointInTimeLookup(
      history: DataFrame,
      facts: DataFrame,
      keys: Seq[String],
      asOf: Column
  ): DataFrame = {
    val hk = keys.zipWithIndex.foldLeft(history) {
      case (df, (k, i)) => df.withColumnRenamed(k, s"__hk_$i")
    }
    val cond = keys.zipWithIndex.map { case (k, i) =>
      col(k) === col(s"__hk_$i")
    }.reduce(_ && _) &&
      col("valid_from") <= asOf &&
      (col("valid_to").isNull || asOf < col("valid_to"))
    facts.join(hk, cond, "left")
      .drop(keys.indices.map(i => s"__hk_$i"): _*)
      .withColumn("matched", col("valid_from").isNotNull)
  }

  /** MERGE-INTO semantics for a keyed snapshot — the row-level
    * sibling of [[maintainSumCount]] (that one maintains an
    * AGGREGATE; this one maintains the TABLE): apply a CDC delta
    * batch to a unique-keyed base snapshot, producing the post-delta
    * snapshot. Within the batch the LAST op per key in `order` wins,
    * by [[lastWriteWins]] (`order` — CDC offsets/ids — must be unique
    * per key, so U-then-D nets to absent and D-then-I nets to the
    * re-inserted row); keys untouched by the delta pass through by
    * anti-join.
    *
    * `delta` carries the base's payload columns plus `op` and the
    * order column. Cost shape: one delta-keyed compaction + one
    * base-vs-(compacted delta keys) anti-join on the snapshot key —
    * the join the storage layer (Delta/Iceberg MERGE, the HBase
    * upsert K5 models) executes; nothing rescans more than the base
    * once.
    */
  def applySnapshot(
      base: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      order: Column
  ): DataFrame = {
    val last = lastWriteWins(delta, keys.map(col), Seq(order))
    val survivors = base.join(
      last.select(keys.map(col): _*), keys, "left_anti")
    val upserts = last.filter(col("op") =!= "D")
      .select(base.columns.map(col).toSeq: _*)
    survivors.unionByName(upserts)
  }

  /** Keyed snapshot diff — `Text.corpusDiff`'s relational sibling and
    * the inverse direction of the CDC family (CDC APPLIES a known
    * delta; this RECOVERS the delta between two snapshots when no
    * change feed exists — migration checks, backfill verification,
    * vendor-feed regression): rows hash over their `payload` columns
    * (md5 of a unit-separated concat with an explicit null sentinel,
    * so NULL ≠ empty-string and column boundaries can't alias), the
    * two hash projections full-outer join on the key, and each key
    * classifies added / removed / changed / unchanged. Emits the
    * per-status counts — diffs move 16-byte hashes, never rows.
    */
  def snapshotDiff(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String],
      payload: Seq[String]
  ): DataFrame = {
    require(payload.nonEmpty, "snapshotDiff: empty payload column list")
    def hashed(df: DataFrame, as: String) = df.select(
      keys.map(col) :+
        md5(concat_ws("\u001f",
          payload.map(c => coalesce(col(c).cast("string"),
            lit("\u0000"))): _*)).as(as): _*)
    hashed(a, "a_hash")
      .join(hashed(b, "b_hash"), keys, "full_outer")
      .select(
        when(col("a_hash").isNull, "added")
          .when(col("b_hash").isNull, "removed")
          .when(col("a_hash") === col("b_hash"), "unchanged")
          .otherwise("changed").as("status"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("status"))
  }

  /** CDC delta consistency audit — the trust check run BEFORE
    * [[applySnapshot]]/[[maintainSumCount]] consume an untrusted
    * feed (their docstrings state the delta-matches-base
    * precondition; this measures it): per violation class, how many
    * delta ops break the contract —
    *  - `insert_on_present`: a key's FIRST delta op is I but the key
    *    already exists in the base;
    *  - `modify_on_absent`: first op is U or D but the key is not in
    *    the base;
    *  - `bad_sequence`: within a key's (order-sorted) op run, I
    *    follows a live row (I/U without an intervening D) or U/D
    *    follows a D.
    * One shuffle on the delta key (first-op window + lag share it),
    * one broadcast-shaped join against the base's key projection;
    * output is 3 rows of counts regardless of feed size.
    */
  def deltaConsistencyAudit(
      base: DataFrame,
      delta: DataFrame,
      keys: Seq[String],
      order: Column
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order.asc)
    val seq = delta.withColumn("__rn", row_number().over(w))
      .withColumn("__prev", lag(col("op"), 1).over(w))
    val withBase = seq.join(
      base.select(keys.map(col): _*).distinct()
        .withColumn("__in_base", lit(1)),
      keys, "left")
    val flags = withBase.select(
      when(col("__rn") === 1 && col("op") === "I" &&
        col("__in_base").isNotNull, 1L).otherwise(0L)
        .as("insert_on_present"),
      when(col("__rn") === 1 && col("op").isin("U", "D") &&
        col("__in_base").isNull, 1L).otherwise(0L)
        .as("modify_on_absent"),
      when((col("__prev").isin("I", "U") && col("op") === "I") ||
        (col("__prev") === "D" && col("op").isin("U", "D")), 1L)
        .otherwise(0L).as("bad_sequence"))
    flags.agg(
        sum(col("insert_on_present")).as("insert_on_present"),
        sum(col("modify_on_absent")).as("modify_on_absent"),
        sum(col("bad_sequence")).as("bad_sequence"))
      .selectExpr(
        """stack(3,
          | 'bad_sequence', bad_sequence,
          | 'insert_on_present', insert_on_present,
          | 'modify_on_absent', modify_on_absent)
          | AS (violation, n)""".stripMargin)
      .orderBy(col("violation"))
  }

  /** Incremental materialized-view maintenance for SUM/COUNT
    * aggregates — the operation that lets a 100 TB warehouse serve an
    * up-to-date aggregate WITHOUT rescanning the fact: given the
    * stored view `baseAgg = (key, sum_v, n_rows)` and a CDC delta
    * batch `(key, op ∈ I/U/D, v, old_v)` (Maxwell's `data`/`old`
    * columns, [[normalizeOps]] upstream), each op contributes an
    * exact-decimal adjustment — insert `(+v, +1)`, delete
    * `(−v, −1)`, update `(v − old_v, 0)` — aggregated per key and
    * merged into the base by ONE full-outer join on the view key.
    * Groups whose row count reaches zero are dropped (the view of a
    * fully-deleted group is no row, matching a recompute).
    *
    * Cost shape: delta-sized aggregation + view-sized merge join —
    * the fact table is never touched, which is the entire point; the
    * registered query's oracle RECOMPUTES the view from the
    * post-delta state, so the equivalence maintenance ≡ recompute is
    * hash-checked, not assumed. Sums ride decimal(18,4) (the `dsum`
    * convention) so base+delta merge order cannot perturb the
    * result; the double surface is produced once at the end.
    *
    * Precondition (the CDC contract): the delta matches the base —
    * inserts for absent rows, updates/deletes carrying the CURRENT
    * stored values. A delta that lies (deleting a never-inserted
    * row) yields exactly the wrong totals it claims, as in any
    * incremental view engine; pair with [[graft.ops.Audit]] checks
    * upstream when the feed is untrusted.
    */
  def maintainSumCount(baseAgg: DataFrame, delta: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(18,4)")
    val d = delta
      .select(col("key"),
        // unknown ops FAIL the job rather than silently skew the
        // view (a null adjustment would vanish inside sum())
        when(col("op") === "I", dec(col("v")))
          .when(col("op") === "D", -dec(col("v")))
          .when(col("op") === "U", dec(col("v")) - dec(col("old_v")))
          .otherwise(raise_error(concat(lit("maintainSumCount: " +
            "unknown op "), col("op"))).cast("decimal(18,4)"))
          .as("dv"),
        when(col("op") === "I", lit(1L))
          .when(col("op") === "D", lit(-1L))
          .otherwise(lit(0L)).as("dn"))
      .groupBy(col("key"))
      .agg(sum(col("dv")).as("delta_sum"), sum(col("dn")).as("delta_n"))
    baseAgg
      .select(col("key"), dec(col("sum_v")).as("base_sum"),
        col("n_rows").as("base_n"))
      .join(d, Seq("key"), "full_outer")
      .select(col("key"),
        (coalesce(col("base_sum"), lit(0).cast("decimal(18,4)")) +
          coalesce(col("delta_sum"), lit(0).cast("decimal(18,4)")))
          .as("sum_dec"),
        (coalesce(col("base_n"), lit(0L)) +
          coalesce(col("delta_n"), lit(0L))).as("n_rows"))
      .filter(col("n_rows") > 0)
      .select(col("key"), col("n_rows"),
        col("sum_dec").cast("double").as("sum_v"))
  }

  /** Concurrent-writer conflict detection — BEFORE two delta batches
    * merge into one keyed target, which keys do they both touch and
    * how badly: per conflicting key, each side's op count and sorted
    * distinct-op set, classified `delete_conflict` (either side
    * deletes — order decides existence) vs `update_conflict`
    * (last-writer-wins loses one side's update). The read a
    * multi-writer MERGE coordinator takes to decide serialize vs
    * auto-retry. Two key-rollups + one inner join — only the
    * conflicting keys ever materialize. The op profile ships as a
    * sorted CSV string, not array<string>: the set is tiny and
    * ordered, the CSV is semantically identical, and array columns in
    * a final schema crash the driver gate's pandas row sort
    * (unhashable numpy.ndarray — the r14 red row).
    */
  def conflictingKeys(
      a: DataFrame,
      b: DataFrame,
      keys: Seq[String]
  ): DataFrame = {
    def side(df: DataFrame, tag: String): DataFrame =
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as(s"n_ops_$tag"),
          array_join(array_sort(collect_set(col("op"))), ",")
            .as(s"ops_$tag"))
    side(a, "a").join(side(b, "b"), keys)
      .withColumn("conflict_type",
        when(array_contains(split(col("ops_a"), ","), "D") ||
          array_contains(split(col("ops_b"), ","), "D"),
          "delete_conflict")
          .otherwise("update_conflict"))
  }

  /** Duplicate-delivery profile of a raw CDC feed — the
    * at-least-once reality check run BEFORE trusting any downstream
    * count: Kafka redelivers on rebalance/timeout, Maxwell replays
    * on restart, and every duplicate line double-applies in a
    * consumer whose sink is not idempotent (this op sizes how much
    * such a sink would have to absorb). Per table over the raw
    * `value` lines:
    * messages, distinct lines, duplicate count/ppm, and the worst
    * single line's copy count (`max_copies` — 2 means occasional
    * redelivery, 10+ means a replay loop).
    *
    * Shape at scale: one groupBy on (table, line) — message-sized,
    * map-side combinable (dups collapse in the partial aggregate) —
    * then a table-sized rollup.
    */
  def dupDeliveryProfile(lines: DataFrame): DataFrame =
    lines
      .select(get_json_object(col("value"), "$.table")
        .as("src_table"), col("value"))
      .groupBy(col("src_table"), col("value"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("src_table"))
      .agg(sum(col("n")).as("n_msgs"),
        count(lit(1)).as("n_unique"),
        max(col("n")).as("max_copies"))
      .select(col("src_table"), col("n_msgs"), col("n_unique"),
        (col("n_msgs") - col("n_unique")).as("n_dup"),
        expr("(n_msgs - n_unique) * 1000000 div n_msgs")
          .as("dup_ppm"),
        col("max_copies"))
      .orderBy(col("src_table"))

  /** CDC schema-drift profile — the column-set evolution monitor for
    * a Maxwell-style feed: upstream DDL (ADD/DROP COLUMN, a producer
    * version change) shows up as keys appearing or vanishing from the
    * `data` map, and the first symptom downstream is silent NULLs in
    * a consumer that assumed a stable schema. Per (table, column):
    * rows carrying the column, exact presence ppm, first/last id seen
    * with it, and a status derived from the table's own id bounds —
    * `added` (first seen after the table's first row), `dropped`
    * (last seen before its last), `windowed` (both), `stable`.
    * [[changedColumns]] is the per-ROW update diff; this is the
    * per-COLUMN lifecycle over the whole feed.
    *
    * Status reads only the ENDPOINTS, so a column present at both
    * ends but absent for a long interior stretch (flapping producer,
    * revert-then-reapply DDL) still reads `stable` — that dropout is
    * exposed by `span_ppm`: rows carrying the column per million ids
    * of its OWN [first_id, last_id] span. Under the dense-unique-id
    * feed contract (binlog pk), `span_ppm` well below 1,000,000 on a
    * `stable` column is interior dropout; drill in with the
    * [[sequenceGaps]] machinery on the column-filtered id stream.
    * (Ids repeating across ops can push span_ppm above 1e6 — the
    * signal is relative to the table's other columns either way.)
    *
    * Scale shape: one scan; the key explosion is #columns-per-row
    * (schema-sized, single digits) — output and both aggregates are
    * (table x column)-sized; the per-table bounds broadcast back.
    */
  def schemaDrift(env: DataFrame): DataFrame = {
    val rows = env.select(col("table").as("src_table"),
      col("data")("id").cast("long").as("id"),
      map_keys(col("data")).as("ks"))
    val tot = rows.groupBy(col("src_table"))
      .agg(count(lit(1)).as("n_rows"), min(col("id")).as("t_min"),
        max(col("id")).as("t_max"))
    rows
      .select(col("src_table"), col("id"),
        explode(col("ks")).as("col_name"))
      .groupBy(col("src_table"), col("col_name"))
      .agg(count(lit(1)).as("n_present"),
        min(col("id")).as("first_id"), max(col("id")).as("last_id"))
      .join(broadcast(tot), "src_table")
      .select(col("src_table"), col("col_name"), col("n_present"),
        expr("n_present * 1000000 div n_rows").as("presence_ppm"),
        expr("n_present * 1000000 div (last_id - first_id + 1)")
          .as("span_ppm"),
        col("first_id"), col("last_id"),
        when(col("first_id") > col("t_min") &&
          col("last_id") < col("t_max"), "windowed")
          .when(col("first_id") > col("t_min"), "added")
          .when(col("last_id") < col("t_max"), "dropped")
          .otherwise("stable").as("status"))
      .orderBy(col("src_table"), col("col_name"))
  }

  /** CDC sequence-gap detection — binlog/offset integrity from the
    * id stream itself: per table, the observed ids split into
    * consecutive-run islands (`id − row_number` constant-run key, the
    * gaps-and-islands trick) and the profile reports how much of the
    * [min, max] span is MISSING plus the largest single hole — the
    * first question after any replication incident ("did we lose a
    * range, or scattered rows?"). Per-table windows over the
    * DISTINCT id set; islands are |gaps|-sized, never row-sized.
    */
  def sequenceGaps(
      normalized: DataFrame,
      tableCol: String = "table",
      idExpr: Column => Column = _ ("id")
  ): DataFrame = {
    val ids = normalized
      .select(col(tableCol).as("src_table"),
        idExpr(col("data")).cast("long").as("id"))
      .distinct()
    val w = Window.partitionBy(col("src_table")).orderBy(col("id"))
    val isl = ids
      .withColumn("grp", col("id") - row_number().over(w))
      .groupBy(col("src_table"), col("grp"))
      .agg(min(col("id")).as("run_start"),
        max(col("id")).as("run_end"),
        count(lit(1)).as("run_len"))
    val wi = Window.partitionBy(col("src_table"))
      .orderBy(col("run_start"))
    isl
      .withColumn("next_start", lead(col("run_start"), 1).over(wi))
      .groupBy(col("src_table"))
      .agg(
        sum(col("run_len")).as("n_ids"),
        min(col("run_start")).as("min_id"),
        max(col("run_end")).as("max_id"),
        count(lit(1)).as("n_islands"),
        max(when(col("next_start").isNotNull,
          col("next_start") - col("run_end") - 1)).as("largest_gap"))
      .withColumn("n_missing",
        expr("max_id - min_id + 1 - n_ids"))
      .withColumn("missing_ppm",
        expr("n_missing * 1000000 div (max_id - min_id + 1)"))
  }

  /** Arrival-disorder profile of a keyed feed — how out-of-order do
    * ids actually arrive, per table: the measured fact behind every
    * buffering decision (watermark width, sequencer reorder window,
    * MERGE batch size). A row is an INVERSION when its id is below
    * the running maximum of everything that arrived before it; the
    * regression depth `prev_max − id` is how far back the sequencer
    * must reach. Output per table: rows, inversions, exact ppm, and
    * the maximum regression depth (NULL when perfectly ordered).
    *
    * Scale shape — the two-level prefix-max, NOT one window per
    * table (a hot table would serialize onto one task): arrival
    * partitions into calendar days, the running max runs inside each
    * (table, day) partition, day maxima roll up to a per-table
    * day-prefix window (calendar-bounded), and the effective
    * previous-max is `greatest(intra-day prev, prior-day prefix)` —
    * exactly equal to the global running max, computed with no
    * row-scale single partition anywhere.
    */
  def disorderProfile(
      feed: DataFrame,
      tableCol: String = "src_table",
      idCol: String = "id",
      dayCol: String = "d",
      orderCols: Seq[String] = Seq("arr_k")
  ): DataFrame = {
    val ord = orderCols.map(col) :+ col(idCol)
    val wDay = Window.partitionBy(col(tableCol), col(dayCol))
      .orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = feed
      .withColumn("__local_prev", max(col(idCol)).over(wDay))
    val dayMax = feed
      .groupBy(col(tableCol), col(dayCol))
      .agg(max(col(idCol)).as("__day_max"))
    val wPrefix = Window.partitionBy(col(tableCol))
      .orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val dayPrefix = dayMax
      .withColumn("__prior_prefix", max(col("__day_max")).over(wPrefix))
      .select(col(tableCol), col(dayCol), col("__prior_prefix"))
    withLocal
      .join(dayPrefix, Seq(tableCol, dayCol))
      .withColumn("__prev_max",
        greatest(col("__local_prev"), col("__prior_prefix")))
      .groupBy(col(tableCol))
      .agg(
        count(lit(1)).as("n_rows"),
        count(when(col(idCol) < col("__prev_max"), lit(1)))
          .as("n_inversions"),
        max(when(col(idCol) < col("__prev_max"),
          col("__prev_max") - col(idCol))).as("max_regression"))
      .withColumn("inversion_ppm",
        expr("n_inversions * 1000000 div n_rows"))
  }

  /** The repo's md5-60 ROW hash over named columns, the per-row
    * term of [[checksumDiff]]'s bucket fingerprints. Each column
    * coalesces to a chr(1)-prefixed sentinel BEFORE concat_ws
    * (chr(1) cannot appear in sane data, so NULL gets its own hash
    * byte-sequence distinct from every real value including '').
    */
  def rowHash60(hashCols: Seq[String]): Column = {
    val nullSentinel = lit("\u0001NULL")
    val hashInput = concat_ws("|",
      hashCols.map(c => coalesce(col(c).cast("string"), nullSentinel)): _*)
    conv(substring(md5(hashInput), 1, 15), 16, 10).cast("long")
  }

  /** Replica checksum validation — "is the CDC-maintained copy still
    * byte-equal to the source" answered WITHOUT shipping rows: both
    * sides reduce to per-bucket (row count, 60-bit-row-hash sum)
    * fingerprints, and only the |buckets|-row fingerprint tables
    * meet (the standard pt-table-checksum / online-verification
    * shape — at 100 TB each side is one scan + one count-sized
    * rollup, and a mismatched bucket names the key range to re-sync,
    * so repair reads only that slice). Row hash is the md5-60 family
    * (engine-identical by the repo convention); the bucket sum
    * promotes to DECIMAL(38,0) BEFORE aggregation so a bucket of any
    * size stays exact (2⁶⁰-bounded terms — a BIGINT sum wraps past
    * ~2³ rows·2⁶⁰), then the FINAL fingerprint narrows mod 2⁶¹−1 to
    * BIGINT: a checksum is mod-compatible by definition, and a wide
    * decimal in a final schema hash-diverges at the driver gate
    * (Spark parquet vs DuckDB fetchdf map DECIMAL(38,0) to different
    * pandas dtypes — the r14 red row). `keyExpr` buckets by
    * `pmod(key, nBuckets)`.
    *
    * NULL handling: each hash column is coalesced to a
    * chr(1)-prefixed sentinel BEFORE concat_ws, because Spark's concat_ws
    * SKIPS null arguments — without the sentinel ('a',NULL) collides
    * with (NULL,'a') and with ('a'), and a NULL row silently hashes
    * like a shorter row instead of dropping/diverging loudly (the
    * q_text_blocking_eval lesson). Caveat, documented not solved: a
    * literal '|' INSIDE a value can still collide across column
    * boundaries ('a|b', 'c') vs ('a', 'b|c') — acceptable for a
    * drift monitor over keyed dims; use a control-char delimiter in
    * hashCols expressions if values may contain '|'.
    *
    * Output: one row per bucket present on either side, both
    * fingerprints, and the verdict — `match` iff counts AND sums
    * agree. Hash collisions: a false "match" needs colliding 60-bit
    * SUMS mod 2⁶¹−1, detectable-in-principle but 2⁻⁶⁰-grade; the op
    * is a drift MONITOR, not a cryptographic proof, and says so here.
    */
  def checksumDiff(
      source: DataFrame,
      replica: DataFrame,
      keyCol: String,
      hashCols: Seq[String],
      nBuckets: Int = 32
  ): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    def fp(df: DataFrame, side: String): DataFrame =
      df.select(
        pmod(col(keyCol), lit(nBuckets.toLong)).as("bucket"),
        rowHash60(hashCols).as("__h"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as(s"n_$side"),
          sum(col("__h").cast("decimal(38,0)")).as(s"sum_$side"))
    // Mersenne-prime modulus: 2^61-1 fits BIGINT in both engines and
    // the exact DECIMAL sums narrow identically (all terms >= 0)
    val m61 = lit(2305843009213693951L)
    fp(source, "src")
      .join(fp(replica, "dst"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_src"), lit(0L)).as("n_src"),
        coalesce(col("n_dst"), lit(0L)).as("n_dst"),
        pmod(coalesce(col("sum_src"), lit(0).cast("decimal(38,0)")),
          m61).cast("long").as("sum_src"),
        pmod(coalesce(col("sum_dst"), lit(0).cast("decimal(38,0)")),
          m61).cast("long").as("sum_dst"))
      .withColumn("is_match",
        col("n_src") === col("n_dst") &&
          col("sum_src") === col("sum_dst"))
  }
}
