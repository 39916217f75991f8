package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational surface of the rebuilt engine (SURVEY.md §2.6): joins,
  * hash aggregations, window functions, top-k, set ops, scalar funcs.
  *
  * Everything here is a pure `DataFrame => DataFrame` composition of
  * built-in Catalyst operators — no UDFs, no collects — so plans stay
  * inside WholeStageCodegen and scale by partitioning alone. Aggregates
  * over doubles go through exact DECIMAL sums (`dsum`) so results are
  * order-independent: a 1000-executor shuffle reduces in arbitrary
  * order, and bitwise-reproducible results are what the DuckDB oracle
  * (and any sane 100 TB pipeline) needs.
  */
object Relational {

  /** Order-independent exact sum of a double column: cast each value to
    * DECIMAL (exact, no rounding ambiguity — no double is exactly on a
    * half-ulp-of-scale-4 boundary), sum exactly, cast back to double.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** Exact sum of a product of two doubles: operands are converted to
    * decimal first so the multiply itself is exact decimal arithmetic.
    */
  def dsum2(a: Column, b: Column): Column =
    sum(a.cast("decimal(18,4)") * b.cast("decimal(18,4)")).cast("double")

  /** Deterministic average = exact decimal sum / count. */
  def davg(c: Column): Column = dsum(c) / count(c)

  // --- Aggregation --------------------------------------------------

  /** TPC-H Q1-style pricing summary: partial-agg (map-side combine)
    * then 4-group reduce; the scan prunes to 7 of 11 columns.
    * Reference has no aggregation at all (SURVEY §2.6) — this is the
    * rebuild's canonical hash-agg.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        sum(
          col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") -
              col("l_discount").cast("decimal(18,4)"))
        ).cast("double").as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order")
      )
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** count(distinct) + multi-distinct in one agg (expand-based plan). */
  def distinctAgg(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows")
      )
      .orderBy(col("l_returnflag"))

  /** ROLLUP over two grouping levels; NULL-filled subtotal rows. */
  def rollupAgg(customer: DataFrame, nation: DataFrame): DataFrame =
    customer
      .join(nation, customer("c_nationkey") === nation("n_nationkey"))
      .rollup(col("n_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
      .orderBy(
        col("n_name").asc_nulls_first,
        col("c_mktsegment").asc_nulls_first
      )

  /** CUBE over two dims. */
  def cubeAgg(orders: DataFrame): DataFrame =
    orders
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(
        col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first
      )

  // --- Joins --------------------------------------------------------

  /** TPC-H Q3-style: 3-way join + agg + top-10. customer is the small
    * side → broadcast; orders⋈lineitem shuffles on orderkey only once.
    */
  def shippingPriority(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame
  ): DataFrame = {
    val cutoff = lit("1995-03-15").cast("timestamp")
    customer
      .filter(col("c_mktsegment") === "BUILDING")
      .join(orders, col("c_custkey") === col("o_custkey"))
      .filter(col("o_orderdate") < cutoff)
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_shipdate") > cutoff)
      .groupBy(col("l_orderkey"), col("o_orderdate"))
      .agg(
        sum(
          col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") -
              col("l_discount").cast("decimal(18,4)"))
        ).cast("double").as("revenue")
      )
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Multi-way star join: revenue per nation (TPC-H Q5 flavor).
    * nation/region are tiny → auto-broadcast; the only real shuffle is
    * orders⋈lineitem.
    */
  def revenueByNation(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      nation: DataFrame
  ): DataFrame =
    customer
      .join(orders, col("c_custkey") === col("o_custkey"))
      .join(lineitem, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        sum(
          col("l_extendedprice").cast("decimal(18,4)") *
            (lit(1).cast("decimal(18,4)") -
              col("l_discount").cast("decimal(18,4)"))
        ).cast("double").as("revenue"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("n_name"))

  /** Explicit broadcast hash join (reference R2's small-dim pattern at
    * SURVEY §2.3): lineitem⋈part with part broadcast.
    */
  def broadcastJoinAgg(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        count(lit(1)).as("n_items")
      )
      .orderBy(col("p_brand"))

  /** LEFT SEMI: customers that have at least one urgent order. */
  def semiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(
        orders.filter(col("o_orderpriority") === "1-URGENT"),
        customer("c_custkey") === orders("o_custkey"),
        "left_semi"
      )
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** LEFT ANTI: customers with no urgent orders (filtered to stay
    * non-trivial at every scale factor).
    */
  def antiJoin(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(
        orders.filter(col("o_orderpriority") === "1-URGENT"),
        customer("c_custkey") === orders("o_custkey"),
        "left_anti"
      )
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))

  /** LEFT OUTER join + null-aware agg: order count per customer
    * including zero-order customers.
    */
  def outerJoinAgg(customer: DataFrame, orders: DataFrame): DataFrame =
    customer
      .join(orders, customer("c_custkey") === orders("o_custkey"), "left")
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(
        count(col("o_orderkey")).as("n_orders"),
        coalesce(dsum(col("o_totalprice")), lit(0.0)).as("sum_spent")
      )
      .orderBy(col("c_custkey"))

  // --- Window functions ---------------------------------------------

  /** Per-group top-k via row_number window (rank + filter — the
    * scalable per-group top-k; no driver-side sorting).
    */
  def topOrdersPerCustomer(orders: DataFrame, k: Int): DataFrame = {
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** lag/lead + running frame over event time per user. */
  def eventWindowFuncs(events: DataFrame): DataFrame = {
    val w  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .withColumn("seq", row_number().over(w))
      .withColumn(
        "running_value",
        sum(col("value").cast("decimal(18,4)")).over(wf).cast("double")
      )
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("prev_type"), col("next_type"), col("seq"), col("running_value"))
      .orderBy(col("user_id"), col("seq"))
  }

  /** Distribution-function window surface — the remaining ANSI
    * window family next to [[eventWindowFuncs]]' navigation set:
    * percent_rank / cume_dist (rational doubles from identical rank
    * integers — engine-exact), ntile buckets, and first/last value
    * over an explicit running frame, per nation over supplier
    * balances.
    */
  def supplierDistributionFuncs(supplier: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("s_nationkey"))
      .orderBy(col("s_acctbal"), col("s_suppkey"))
    val wf = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    supplier
      .withColumn("pct_rank", percent_rank().over(w))
      .withColumn("cume", cume_dist().over(w))
      .withColumn("quartile", ntile(4).over(w))
      .withColumn("min_so_far", first(col("s_acctbal")).over(wf))
      .withColumn("cur", last(col("s_acctbal")).over(wf))
      .select(col("s_suppkey"), col("s_nationkey"), col("s_acctbal"),
        col("pct_rank"), col("cume"), col("quartile"),
        col("min_so_far"), col("cur"))
      .orderBy(col("s_nationkey"), col("s_acctbal"),
        col("s_suppkey"))
  }

  /** rank/dense_rank with range frame aggregation. */
  def rankSuppliers(supplier: DataFrame, nation: DataFrame): DataFrame = {
    val w = Window.orderBy(col("s_acctbal").desc, col("s_suppkey"))
    supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .withColumn("bal_rank", rank().over(w))
      .withColumn("bal_dense_rank", dense_rank().over(w))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("s_acctbal"), col("bal_rank"), col("bal_dense_rank"))
      .orderBy(col("bal_rank"), col("s_suppkey"))
  }

  // --- Sort / top-k / set ops ---------------------------------------

  /** Global order + limit (TopK physical operator — takeOrdered, no
    * full sort at scale).
    */
  def globalTopK(orders: DataFrame, k: Int): DataFrame =
    orders
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(k)

  /** UNION / INTERSECT / EXCEPT over nation keys of customers vs
    * suppliers, tagged by which set-op produced the row.
    */
  def setOps(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.select(col("c_nationkey").as("nationkey")).distinct()
    val s = supplier.select(col("s_nationkey").as("nationkey")).distinct()
    val both   = c.intersect(s).withColumn("op", lit("both"))
    val custOnly = c.except(s).withColumn("op", lit("customer_only"))
    val supOnly  = s.except(c).withColumn("op", lit("supplier_only"))
    both.unionByName(custOnly).unionByName(supOnly)
      .orderBy(col("op"), col("nationkey"))
  }

  // --- Scalar functions ----------------------------------------------

  /** String / date / conditional scalar-function surface in one
    * projection (all codegen'd builtins; reference uses upper/concat at
    * OdsBaseDbApp.scala:127).
    */
  def scalarFuncs(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderkey"),
        upper(col("o_orderstatus")).as("status_upper"),
        concat(lit("P:"), col("o_orderpriority")).as("prio_tag"),
        substring(col("o_orderpriority"), 1, 1).as("prio_code"),
        length(col("o_orderpriority")).as("prio_len"),
        year(col("o_orderdate")).as("o_year"),
        month(col("o_orderdate")).as("o_month"),
        dayofmonth(col("o_orderdate")).as("o_day"),
        date_trunc("month", col("o_orderdate")).as("o_month_start"),
        when(col("o_totalprice") > 150000, lit("big"))
          .when(col("o_totalprice") > 50000, lit("mid"))
          .otherwise(lit("small")).as("size_class")
      )
      .orderBy(col("o_orderkey"))

  /** Date/interval arithmetic surface (exact day/month integer
    * results — no timezone or fractional ambiguity).
    */
  def dateFuncs(orders: DataFrame): DataFrame =
    orders
      .select(
        col("o_orderkey"),
        date_add(col("o_orderdate"), 30).cast("date").as("due_date"),
        add_months(col("o_orderdate"), 3).cast("date").as("quarter_later"),
        datediff(lit("1998-12-31").cast("date"), col("o_orderdate"))
          .as("days_to_eoy"),
        quarter(col("o_orderdate")).as("o_quarter"),
        dayofweek(col("o_orderdate")).as("o_dow"),
        last_day(col("o_orderdate")).as("month_end")
      )
      .orderBy(col("o_orderkey"))

  /** String-function surface beyond scalarFuncs: padding, translation,
    * edit distance, splitting — all codegen builtins with exact
    * results.
    */
  def stringFuncs(nation: DataFrame): DataFrame =
    nation
      .select(
        col("n_name"),
        lpad(col("n_name"), 20, ".").as("padded"),
        translate(col("n_name"), "AEIOU", "aeiou").as("lower_vowels"),
        levenshtein(col("n_name"), lit("UNITED STATES")).as("dist_us"),
        reverse(col("n_name")).as("reversed"),
        size(split(col("n_name"), " ")).as("n_words"),
        concat(upper(substring(lower(col("n_name")), 1, 1)),
          substring(lower(col("n_name")), 2, 100)).as("title_case")
      )
      .orderBy(col("n_name"))

  /** Array functions over grouped collections: `collect_list` is
    * order-nondeterministic under shuffle, so it is ALWAYS wrapped in
    * `sort_array` before leaving the operator (the only way a
    * collected array is reproducible at scale).
    */
  def arrayFuncs(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qtys"))
      .select(
        col("l_orderkey"),
        col("qtys"),
        size(col("qtys")).as("n_items"),
        element_at(col("qtys"), 1).as("min_qty"),
        element_at(col("qtys"), -1).as("max_qty"),
        array_contains(col("qtys"), 15.0).as("has_qty15"),
        slice(col("qtys"), 1, 2).as("two_smallest")
      )
      .orderBy(col("l_orderkey"))

  /** Sorted-rowkey range scan (the reference's HBase
    * `Scan.withStartRow/withStopRow` shape, `Hbase/src/main/java/com/
    * atguigu/HbaseDML.java:127-149`): a BETWEEN predicate over the
    * table's primary key. On parquet this compiles to pushed min/max
    * filters (`PushedFilters: [GreaterThanOrEqual, LessThanOrEqual]`)
    * so row groups outside the range are skipped at the footer — the
    * columnar analogue of an HBase region range scan; on a sorted/
    * bucketed layout at 100 TB, all but the overlapping files are
    * pruned before any IO.
    */
  def rowkeyRangeScan(orders: DataFrame, lo: Long, hi: Long): DataFrame =
    orders
      .filter(col("o_orderkey").between(lo, hi))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      .orderBy(col("o_orderkey"))

  /** Score-ordered set (the reference's Redis sorted-set shape,
    * `Jedis/.../Jedis_Pool.java:93-98` — ZADD accumulating member
    * scores, read back with ZRANGEBYSCORE/ZRANK): members are users,
    * a member's score is its accumulated event value, and the query
    * is a score-range read with dense ranks.
    *
    * Scores accumulate as q16 fixed-point longs (floor(v·2^16) per
    * event, integer sum) so the fold is order-independent — the same
    * portability-and-determinism trick as the centroid/curation sums.
    * Ranks are computed on the DISTINCT score set (tiny after agg)
    * and broadcast back, so no window function ever sees more than
    * the score cardinality — the full-table sort a naive
    * rank-over-everything would shuffle into one partition never
    * happens.
    */
  def zsetRangeByScore(
      events: DataFrame,
      loQ16: Long,
      hiQ16: Long
  ): DataFrame = {
    // persisted: the member-score table feeds both the range read and
    // the distinct-score rank side — without it the full scan+agg runs
    // twice (released with the "zset" family)
    val scores = graft.Caches.track("zset", events
      .groupBy(col("user_id").as("member"))
      .agg(sum(floor(col("value") * 65536).cast("long")).as("score_q16"))
      .filter(col("score_q16").between(loQ16, hiQ16)))
    val ranks = scores.select(col("score_q16")).distinct()
      .withColumn("zrank",
        dense_rank().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("score_q16").desc)))
    scores.join(broadcast(ranks), "score_q16")
      .select(col("member"), col("score_q16"), col("zrank"))
      .orderBy(col("score_q16").desc, col("member"))
  }

  /** Time-bucketed aggregation over the event stream table: the batch
    * equivalent of a tumbling event-time window (streaming version in
    * graft.streaming).
    */
  def eventsPerDay(events: DataFrame): DataFrame =
    events
      .groupBy(
        date_trunc("day", col("ts")).as("day"),
        col("event_type")
      )
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("day"), col("event_type"))

  /** Sliding event-time window (batch form of streaming
    * `window(ts, len, slide)`): each event lands in len/slide
    * overlapping buckets.
    */
  def slidingWindowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"),
        col("sum_value"))
      .orderBy(col("w_start"))

  /** Batch sessionization: gap-based session assignment via
    * lag + running sum (the declarative form of streaming
    * `session_window` / flatMapGroupsWithState — and the standard
    * 100 TB shape: one shuffle on user, two window passes, no state).
    */
  def sessionizeBatch(events: DataFrame, gapMs: Long): DataFrame = {
    val w  = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          (unix_millis(col("ts")) - unix_millis(col("prev_ts"))) > gapMs,
          lit(1)).otherwise(lit(0)))
      .withColumn("sess_seq", sum(col("new_sess")).over(wr))
      .groupBy(col("user_id"), col("sess_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value")
      )
      .orderBy(col("user_id"), col("sess_seq"))
  }

  /** Session-count sensitivity to the gap threshold — the
    * calibration table behind [[sessionizeBatch]]'s one magic
    * number: for each candidate inactivity gap, how many sessions
    * does the SAME event stream split into, and how large is the
    * average session? Read before committing a sessionization
    * window: a curve still moving steeply at the chosen gap means
    * session-level metrics (funnels, retention, concurrency) are
    * artifacts of the threshold, not the behavior.
    *
    * One per-user lag pass computes every inter-event gap ONCE;
    * each candidate threshold is then a conditional count over the
    * same scan (session starts = null-gap rows + gaps above the
    * threshold), fanned out of a single aggregate row with `stack`
    * — the multi-threshold audit costs one window, not one window
    * per threshold. All-integer ms arithmetic; the ratio is
    * DECIMAL-bridged ppm.
    */
  def sessionGapCurve(
      events: DataFrame,
      gapsMs: Seq[Long] = Seq(900000L, 1800000L, 3600000L)
  ): DataFrame = {
    require(gapsMs.nonEmpty && gapsMs.forall(_ > 0),
      "gap thresholds must be positive")
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gapped = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .select(col("user_id"),
        when(col("prev_ts").isNull, lit(null).cast("long"))
          .otherwise(unix_millis(col("ts"))
            - unix_millis(col("prev_ts"))).as("gap_ms"))
    val aggs = count(lit(1)).as("n_events") +:
      countDistinct(col("user_id")).as("n_users") +:
      gapsMs.sorted.zipWithIndex.map { case (g, i) =>
        sum(when(col("gap_ms").isNull || col("gap_ms") > g, 1L)
          .otherwise(0L)).as(s"s_$i")
      }
    val one = gapped.agg(aggs.head, aggs.tail: _*)
    val stackArgs = gapsMs.sorted.zipWithIndex.map { case (g, i) =>
      s"CAST(${g / 1000L} AS BIGINT), s_$i"
    }.mkString(", ")
    one.selectExpr("n_events", "n_users",
        s"stack(${gapsMs.size}, $stackArgs) AS (gap_s, n_sessions)")
      .select(col("gap_s"), col("n_users"), col("n_events"),
        coalesce(col("n_sessions"), lit(0L)).as("n_sessions"),
        when(col("n_sessions") > 0, expr(
          """CAST(CAST(n_events AS DECIMAL(38,0)) * 1000000
            | div n_sessions AS BIGINT)""".stripMargin
            .replace("\n", "")))
          .otherwise(lit(0L)).as("events_per_session_ppm"))
      .orderBy(col("gap_s"))
  }

  /** Single-server queue backlog per event type (Lindley, 1952):
    * replay each type's arrival stream through a deterministic
    * server whose per-event service time is `⌊value·1000⌋ ms`, and
    * read off the waiting-time profile EXACTLY via the max-plus
    * closed form — the capacity-planning companion to
    * [[peakConcurrency]]: concurrency counts open sessions; this
    * prices what a serial consumer (one partition of a downstream
    * topic, one writer thread) would actually queue.
    *
    * Closed form instead of a sequential fold: completion
    * `C_n = P_n + max_{j≤n}(a_j − P_{j−1})` with `P` the running
    * service-time sum — so one cumulative-sum window and one
    * running-max window per type replace the order-N recurrence,
    * and `wait_n = P_{n−1} + M_n − a_n ≥ 0` falls out per row. All
    * BIGINT ms; per-type windows only (never a global window).
    * Emits per type: event count, max and total wait, and server
    * utilization `ΣS·10⁶ / (span + S_last)` over the busy horizon.
    */
  def queueBacklog(events: DataFrame): DataFrame = {
    // windows order by the MILLISECOND arrival, not raw ts: the twin
    // can only see epoch_ms, and two same-ms events with distinct
    // microseconds would otherwise fold in different orders
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("a_ms"), col("event_id"))
    val wr = w.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val staged = events
      .select(col("event_type"), col("event_id"),
        unix_millis(col("ts")).as("a_ms"),
        greatest(lit(0L), floor(coalesce(col("value"), lit(0.0))
          * lit(1000.0)).cast("long")).as("s_ms"))
      .withColumn("p_ms", sum(col("s_ms")).over(wr))
      .withColumn("q_ms",
        col("a_ms") - coalesce(lag(col("p_ms"), 1).over(w),
          lit(0L)))
      .withColumn("m_ms", max(col("q_ms")).over(wr))
      .withColumn("wait_ms",
        col("p_ms") - col("s_ms") + col("m_ms") - col("a_ms"))
    staged
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        max(col("wait_ms")).as("max_wait_ms"),
        sum(col("wait_ms")).as("total_wait_ms"),
        sum(col("s_ms")).as("busy_ms"),
        min(col("a_ms")).as("first_ms"),
        max(col("a_ms") + col("wait_ms") + col("s_ms"))
          .as("drain_ms"))
      .select(col("event_type"), col("n_events"),
        col("max_wait_ms"), col("total_wait_ms"),
        when(col("drain_ms") > col("first_ms"), expr(
          """CAST(CAST(busy_ms AS DECIMAL(38,0)) * 1000000
            | div (drain_ms - first_ms) AS BIGINT)""".stripMargin
            .replace("\n", "")))
          .otherwise(lit(1000000L)).as("utilization_ppm"))
      .orderBy(col("event_type"))
  }

  /** Peak session concurrency per day — the capacity number a
    * serving/ingest owner reads next to average load (Little's-law
    * sizing uses the PEAK of simultaneously-open sessions, which
    * neither a per-day session count nor an hourly event histogram
    * exposes): gap-sessionize ([[sessionizeBatch]]'s exact rule),
    * split each session across the epoch-days it touches and clip
    * its [start, end] to the day in pure millisecond integers, then
    * the classic boundary sweep — (+1 at clipped start, −1 at
    * clipped end), running sum in (ts, starts-before-ends) order,
    * per-day max. Inclusive-interval tie rule: at equal ms a
    * starting session overlaps an ending one, so +1 sorts first
    * (delta DESC) and the peak counts both.
    *
    * Scale shape: the sessionize shuffle (one per-user window), a
    * short explode (sessions are gap-bounded — they touch 1–2
    * days), then per-DAY windows over boundary rows (2 per
    * session-day; never a global window) and a tiny per-day max.
    * All integer ms/day arithmetic, so the whole profile
    * hash-compares.
    */
  def peakConcurrency(
      events: DataFrame,
      gapMs: Long = 30 * 60 * 1000L
  ): DataFrame = {
    val dayMs = 86400000L
    val sess = sessionizeBatch(events, gapMs)
      .select(col("user_id"), col("sess_seq"),
        unix_millis(col("session_start")).as("s_ms"),
        unix_millis(col("session_end")).as("e_ms"))
    val perDay = sess
      .withColumn("day", explode(sequence(
        expr(s"s_ms div $dayMs"), expr(s"e_ms div $dayMs"))))
      .select(col("user_id"), col("sess_seq"), col("day"),
        greatest(col("s_ms"), col("day") * dayMs).as("cs_ms"),
        least(col("e_ms"), col("day") * dayMs + (dayMs - 1))
          .as("ce_ms"))
    val bounds = perDay
      .select(col("day"), col("cs_ms").as("ts_ms"),
        lit(1L).as("delta"), col("user_id"), col("sess_seq"))
      .unionByName(perDay.select(col("day"), col("ce_ms").as("ts_ms"),
        lit(-1L).as("delta"), col("user_id"), col("sess_seq")))
    val w = Window.partitionBy(col("day"))
      .orderBy(col("ts_ms"), col("delta").desc, col("user_id"),
        col("sess_seq"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bounds
      .withColumn("run", sum(col("delta")).over(w))
      .groupBy(col("day"))
      .agg(
        (count(lit(1)) / 2).cast("long").as("n_sessions"),
        max(col("run")).as("peak_concurrency"))
      .orderBy(col("day"))
  }

  /** As-of join via tagged union + last-non-null window — the
    * scale-safe as-of shape (one shuffle on the key, no inequality
    * range explosion): each left event gets the most recent right
    * timestamp at-or-before it. Right rows sort before left rows at
    * equal ts (inclusive as-of).
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      ts: String,
      asOfCol: String
  ): DataFrame = {
    val l = left.withColumn("__tag", lit(1))
      .withColumn("__rts", lit(null).cast("timestamp"))
    val r = right.withColumn("__tag", lit(0))
      .withColumn("__rts", col(ts))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn(asOfCol, last(col("__rts"), ignoreNulls = true).over(w))
      .filter(col("__tag") === 1)
      .drop("__tag", "__rts")
  }

  /** Most recent signup at-or-before each non-signup event — the
    * canonical as-of use (attach latest profile/dim version to a
    * fact).
    */
  def lastSignupAsOf(events: DataFrame): DataFrame = {
    val signups = events.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    val facts = events.filter(col("event_type") =!= "signup")
      .select(col("user_id"), col("ts"), col("event_id"))
    asOfJoin(facts, signups, "user_id", "ts", "last_signup_ts")
      .select(col("event_id"), col("user_id"), col("ts"),
        col("last_signup_ts"))
      .orderBy(col("event_id"))
  }

  /** Stream-stream event-time interval join: attribute each action
    * (e.g. click) to the view by the same user that happened at most
    * `maxDelay` before it. BOTH sides carry a watermark and the join
    * condition bounds event-time distance — that pair of constraints
    * is what lets the state store evict rows once the watermark
    * passes `ts + maxDelay`, keeping state size proportional to the
    * delay horizon instead of the stream's history. Without the time
    * bound a stream-stream join must buffer forever.
    *
    * Works identically on batch frames (watermarks are no-ops there),
    * which is how its batch twin `q_interval_join` exercises the same
    * join shape against the oracle.
    */
  def intervalJoin(
      views: DataFrame,
      actions: DataFrame,
      maxDelay: String = "10 minutes",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val v = views
      .withWatermark("ts", watermark)
      .select(col("user_id").as("v_user"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
    val a = actions
      .withWatermark("ts", watermark)
      .select(col("user_id").as("a_user"), col("event_id").as("action_id"),
        col("ts").as("action_ts"))
    v.join(a,
      col("v_user") === col("a_user") &&
        col("action_ts") >= col("view_ts") &&
        col("action_ts") <= col("view_ts") + expr(s"INTERVAL $maxDelay"))
      .select(col("v_user").as("user_id"), col("view_id"),
        col("action_id"), col("view_ts"), col("action_ts"))
  }

  /** Last-touch conversion attribution: for every conversion event,
    * the most recent qualifying touch by the SAME user within
    * `windowMs` — the event-time credit assignment every
    * funnel/campaign readout runs, and (for an LLM-data pipeline)
    * the interaction-mining shape that links an outcome event back
    * to the preceding context event it should train against.
    *
    * One shuffle on user_id, then per-user sorted windows: the touch
    * candidate is `last(touch-struct, ignoreNulls)` over rows
    * strictly before the conversion in (ts, event_id) order — the
    * single-pass merge of both event roles, NOT a touches×conversions
    * join (which explodes on active users). The attribution window
    * is applied after the scan: a too-old touch nulls out rather
    * than letting an unbounded lookback claim credit. Deterministic:
    * (ts, event_id) is a total order, so same-ts events resolve the
    * same way in any engine.
    */
  def lastTouchAttribution(
      events: DataFrame,
      convType: String = "purchase",
      touchTypes: Seq[String] = Seq("click", "view"),
      windowMs: Long = 3L * 24 * 3600 * 1000
  ): DataFrame = {
    require(windowMs > 0, s"attribution window must be positive")
    require(!touchTypes.contains(convType),
      "conversion type cannot also be a touch type")
    val tagged = events
      .filter(col("event_type").isin(convType +: touchTypes: _*))
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type").isin(touchTypes: _*),
      struct(col("ms").as("t_ms"), col("event_id").as("t_id"),
        col("event_type").as("t_type")))
    val scanned = tagged
      .withColumn("last_touch", last(touch, ignoreNulls = true).over(w))
      .filter(col("event_type") === convType)
    val inWindow = col("last_touch").isNotNull &&
      col("ms") - col("last_touch.t_ms") <= windowMs
    scanned.select(
      col("event_id"), col("user_id"), col("ms").as("conv_ms"),
      when(inWindow, col("last_touch.t_id")).as("touch_event_id"),
      when(inWindow, col("last_touch.t_type")).as("touch_type"),
      when(inWindow, col("ms") - col("last_touch.t_ms")).as("gap_ms"),
      inWindow.as("attributed"))
  }

  /** Discrete percentiles per group via rank windows (PERCENTILE_DISC
    * semantics made explicit: value at row ceil(p·n) of the sorted
    * group — no interpolation arithmetic, so results are
    * engine-exact).
    */
  def groupPercentiles(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    orders
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("o_orderpriority"))))
      .groupBy(col("o_orderpriority"))
      .agg(
        max(when(col("rn") === ceil(col("cnt") * 0.5), col("o_totalprice")))
          .as("p50"),
        max(when(col("rn") === ceil(col("cnt") * 0.9), col("o_totalprice")))
          .as("p90"),
        max(col("cnt")).as("n")
      )
      .orderBy(col("o_orderpriority"))
  }

  /** PIVOT: order status columns per priority (sum of totalprice). */
  def pivotStatus(orders: DataFrame): DataFrame =
    orders
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(dsum(col("o_totalprice")))
      .orderBy(col("o_orderpriority"))

  /** JSON scalar-function surface over the raw props column. */
  def jsonFuncs(events: DataFrame): DataFrame =
    events
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"),
        length(col("props")).as("props_len"),
        (get_json_object(col("props"), "$.k").cast("int") % 10)
          .as("k_mod10")
      )
      .orderBy(col("event_id"))

  /** GROUPING SETS (beyond rollup/cube: explicit grouping combos). */
  def groupingSetsAgg(orders: DataFrame): DataFrame =
    orders
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_orderstatus").asc_nulls_first,
        col("o_orderpriority").asc_nulls_first)

  /** Range (banded) join: fact value binned by a tiny band dim via an
    * interval condition — broadcast nested-loop with the inequality
    * as the join predicate (the correct physical shape when the dim
    * is a handful of rows; at scale the alternative is binning
    * map-side, which `when()` chains in scalarFuncs demonstrate).
    */
  def rangeJoinBands(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val bands = Seq(
      (1L, "low", 0.0, 15.0),
      (2L, "mid", 15.0, 35.0),
      (3L, "high", 35.0, 1e9)
    ).toDF("band_id", "band_name", "lo", "hi")
    lineitem
      .join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band_id"), col("band_name"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy(col("band_id"))
  }

  /** Per-group top-k via the typed mergeable TopKAggregator (UDAF
    * surface): shuffle carries ≤ k pairs per group — compare
    * topOrdersPerCustomer's window form, which materializes whole
    * partitions.
    */
  def topKAgg(orders: DataFrame, k: Int): DataFrame = {
    val topk = udaf(new graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[(Double, Long)])
    orders
      .groupBy(col("o_orderpriority"))
      .agg(topk(col("o_totalprice"), col("o_orderkey")).as("top_orders"))
      .orderBy(col("o_orderpriority"))
  }

  /** Ordered conversion funnel over the event stream: users who
    * viewed, then clicked after their first view, then purchased
    * after that click. Each stage is one filtered agg + broadcastable
    * join on user — no sessionized state, no per-user sort; at scale
    * the stage frames shrink monotonically so later joins broadcast.
    */
  def funnel(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = events.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click_after_view")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase_after_click")))
  }

  /** Conversion-latency distribution for the [[funnel]]'s completing
    * users: per user that finished view → click → purchase (same
    * stage semantics — first view, first click after it, first
    * purchase after that), the three latencies in exact epoch-ms
    * (`click_ms` = first-click − first-view, `purchase_ms` =
    * first-purchase − first-click, `total_ms`), reduced to discrete
    * percentiles (PERCENTILE_DISC: value at row ⌈p·n⌉ of the sorted
    * metric, (value, user) total order — engine-exact, no
    * interpolation arithmetic).
    *
    * Shape: the funnel's monotone-shrinking stage joins, then ONE
    * window per metric over the 3×(converting users) unpivoted rows
    * — converters, not events, so the window input is the funnel's
    * smallest frame.
    */
  def funnelLatency(events: DataFrame): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = events.filter(col("event_type") === "click")
      .join(v, "user_id")
      .filter(col("ts") > col("v_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("c_ts"))
    val p = events.filter(col("event_type") === "purchase")
      .join(c, "user_id")
      .filter(col("ts") > col("c_ts"))
      .groupBy(col("user_id")).agg(min(col("ts")).as("p_ts"))
    val lat = v.join(c, "user_id").join(p, "user_id")
      .select(col("user_id"),
        (unix_millis(col("c_ts")) - unix_millis(col("v_ts")))
          .as("click_ms"),
        (unix_millis(col("p_ts")) - unix_millis(col("c_ts")))
          .as("purchase_ms"),
        (unix_millis(col("p_ts")) - unix_millis(col("v_ts")))
          .as("total_ms"))
      .select(col("user_id"), explode(map(
        lit("click_ms"), col("click_ms"),
        lit("purchase_ms"), col("purchase_ms"),
        lit("total_ms"), col("total_ms"))).as(Seq("metric", "val")))
    val w = Window.partitionBy(col("metric"))
      .orderBy(col("val"), col("user_id"))
    lat
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt",
        count(lit(1)).over(Window.partitionBy(col("metric"))))
      .groupBy(col("metric"))
      .agg(
        max(col("cnt")).as("n_users"),
        max(when(col("rn") === ceil(col("cnt") * 0.25), col("val")))
          .as("p25"),
        max(when(col("rn") === ceil(col("cnt") * 0.5), col("val")))
          .as("p50"),
        max(when(col("rn") === ceil(col("cnt") * 0.9), col("val")))
          .as("p90"),
        max(col("val")).as("max_v"))
      .orderBy(col("metric"))
  }

  /** TPC-H Q12 shape on the testdata's schema — shipping service
    * analysis: per order-priority class, lineitems shipped LATE
    * (more than `lateDays` after the order date) vs on time, with
    * the exact ppm late rate. The canonical conditional-count
    * aggregation: one joined fact scan, CASE counts, no second
    * pass; the orders side prunes to two columns before the join.
    */
  def shippingDelayAnalysis(lineitem: DataFrame, orders: DataFrame,
      lateDays: Int = 90): DataFrame =
    lineitem.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
        col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(when(datediff(col("l_shipdate"), col("o_orderdate"))
          > lateDays, lit(1))).as("late_count"),
        count(when(datediff(col("l_shipdate"), col("o_orderdate"))
          <= lateDays, lit(1))).as("ontime_count"))
      .withColumn("late_ppm",
        expr("late_count * 1000000 div (late_count + ontime_count)"))
      .orderBy(col("o_orderpriority"))

  /** TPC-H Q17 shape — small-quantity revenue via a decorrelated
    * per-group average: revenue of brand lineitems whose quantity is
    * under 20 % of that PART's average quantity, divided by 7 (the
    * "lost revenue if we stop small shipments" number). The
    * correlated scalar subquery (`l_quantity < 0.2 · avg per part`)
    * decorrelates into one per-part aggregate joined back
    * many-to-one — the plan Catalyst produces for the subquery form
    * too, written explicitly; the brand filter prunes the part side
    * before either scan of lineitem.
    *
    * The threshold average is [[davg]] (exact decimal sum / count →
    * correctly-rounded double), so the 0.2·avg comparison is
    * bitwise identical in any engine.
    */
  def smallQuantityRevenue(lineitem: DataFrame, part: DataFrame,
      brand: String): DataFrame = {
    val parts = part.filter(col("p_brand") === brand)
      .select(col("p_partkey"))
    val li = lineitem.join(broadcast(parts),
      col("l_partkey") === col("p_partkey"))
    val avgQty = li.groupBy(col("l_partkey").as("ap"))
      .agg(davg(col("l_quantity")).as("avg_qty"))
    li.join(avgQty, col("l_partkey") === col("ap"))
      .filter(col("l_quantity") < col("avg_qty") * 0.2)
      .agg(count(lit(1)).as("n_small"),
        (dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  /** TPC-H Q18 shape — large-volume orders: orders whose total
    * lineitem quantity exceeds `minQty`, with the customer attached.
    * The grouped-HAVING + semi-join-back plan: the quantity
    * aggregation runs once on the fact, survivors (a tiny frame)
    * join back to orders/customer many-to-one.
    */
  def largeOrders(lineitem: DataFrame, orders: DataFrame,
      customer: DataFrame, minQty: Double): DataFrame = {
    val big = lineitem.groupBy(col("l_orderkey"))
      .agg(dsum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > minQty)
    orders.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
      .orderBy(col("o_orderkey"))
  }

  /** TPC-H Q21 shape — suppliers who ALONE kept multi-supplier
    * orders waiting: per order, the set of suppliers and the set of
    * LATE suppliers (ship > order date + `lateDays`); an order
    * counts against supplier s when s is late, at least one other
    * supplier participated (EXISTS), and no OTHER supplier was late
    * (NOT EXISTS). Both correlated subqueries decorrelate into ONE
    * per-order aggregate (`n_suppliers`, `n_late`, plus the argmax
    * late supplier) — the order qualifies iff `n_suppliers > 1 AND
    * n_late = 1`, and the blamed supplier is the single late one.
    * One shuffle on the order key; the blame table is
    * qualifying-orders-sized.
    */
  def waitingSuppliers(lineitem: DataFrame, orders: DataFrame,
      lateDays: Int = 90, topK: Int = 10): DataFrame = {
    val li = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (datediff(col("l_shipdate"), col("o_orderdate")) > lateDays)
          .as("late"))
    // Two-level aggregate (r18 optimization): the pair of
    // countDistincts planned as an Expand (3× the fact) + an
    // order-key exchange; collapsing per (order, supplier) first
    // gives the same three statistics from plain counts — and BOTH
    // aggregates reuse the equi-join's own hash(l_orderkey)
    // partitioning, so neither adds an exchange (the fact shuffles
    // once, on the join key, as documented above).
    val perPair = li
      .groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
    val perOrder = perPair
      .groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("n_suppliers"),
        sum(when(col("late"), 1L).otherwise(0L)).as("n_late"),
        max(when(col("late"), col("l_suppkey"))).as("late_supp"))
      .filter(col("n_suppliers") > 1 && col("n_late") === 1)
    perOrder.groupBy(col("late_supp").as("s_suppkey"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey"))
      .limit(topK)
  }

  /** Supplier on-time scorecard with a Wilson lower bound — the
    * delivery league table done so a 3-shipment supplier at 3/3
    * cannot outrank a 500-shipment supplier at 480/500: per
    * supplier, shipments, on-time count (shipped within `slaDays`
    * of the order date), the raw rate, and the 95% Wilson score
    * LOWER bound the ranking actually sorts by (the small-sample
    * shrinkage estimator a procurement report should lead with).
    * The bound is computed as ONE fixed double expression tree — z²
    * literals (1.96² = 3.8416), left-to-right IEEE — mirrored
    * token-for-token in the SQL twin, so the floor(ppm) hashes
    * bitwise; counts themselves stay exact integers.
    *
    * Scale shape: one orderkey equi-join (both fact sides shuffle on
    * the key once), one fact-sized groupBy(l_suppkey) with map-side
    * combine, a supplier-sized scoring projection, TakeOrdered topK
    * — and the name join runs AFTER the head, broadcasting the
    * topK-row head into the supplier dim, never the reverse.
    */
  def supplierSlaWilson(
      lineitem: DataFrame,
      orders: DataFrame,
      supplier: DataFrame,
      slaDays: Int = 60,
      topK: Int = 20
  ): DataFrame = {
    val perSupp = lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_shipments"),
        sum(when(datediff(col("l_shipdate"), col("o_orderdate"))
          <= slaDays, 1L).otherwise(0L)).as("n_ontime"))
      .select(col("l_suppkey"), col("n_shipments"), col("n_ontime"),
        expr("n_ontime * 1000000 div n_shipments").as("otif_ppm"),
        expr(
          """CAST(FLOOR(1000000.0 * ((CAST(n_ontime AS DOUBLE)
            | + 1.9208 - 1.96 * SQRT(CAST(n_ontime AS DOUBLE)
            | * CAST(n_shipments - n_ontime AS DOUBLE)
            | / CAST(n_shipments AS DOUBLE) + 0.9604))
            | / (CAST(n_shipments AS DOUBLE) + 3.8416)))
            | AS BIGINT)""".stripMargin.replace("\n", ""))
          .as("wilson_lb_ppm"))
      .orderBy(col("wilson_lb_ppm").desc, col("l_suppkey"))
      .limit(topK)
    broadcast(perSupp)
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_shipments"),
        col("n_ontime"), col("otif_ppm"), col("wilson_lb_ppm"))
      .orderBy(col("wilson_lb_ppm").desc, col("s_suppkey"))
  }

  /** TPC-H Q22 shape — idle wealthy customers: customers whose
    * balance beats the average POSITIVE balance and who have placed
    * no order since `sinceDate` (every synthetic customer has SOME
    * order, so "idle" is recency-scoped — the same two nested
    * subqueries, decorrelated: scalar aggregate broadcast + filtered
    * anti join + group), counted per nation with their total
    * balance.
    */
  def idleCustomers(customer: DataFrame, orders: DataFrame,
      sinceDate: String): DataFrame = {
    val avgBal = customer.filter(col("c_acctbal") > 0.0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    customer.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(orders.filter(col("o_orderdate") >= lit(sinceDate)
          .cast("date"))
        .select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("numcust"),
        dsum(col("c_acctbal")).as("totacctbal"))
      .orderBy(col("c_nationkey"))
  }

  /** Repeat-purchase interval distribution — the retention clock
    * (how long until a customer comes back): per customer, gaps in
    * days between CONSECUTIVE orders ((o_orderdate, o_orderkey)
    * total order), reduced to discrete percentiles over all gaps
    * (PERCENTILE_DISC at ⌈p·n⌉, (gap, custkey, orderkey) total
    * order — engine-exact). One shuffle on the customer key for the
    * lag window; the percentile window runs over the gaps frame
    * (#orders − #customers rows), the same exact-rank discipline as
    * [[groupPercentiles]].
    */
  def repeatPurchaseIntervals(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val gaps = orders
      .withColumn("prev", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("o_custkey"), col("o_orderkey"),
        datediff(col("o_orderdate"), col("prev")).cast("long")
          .as("gap_days"))
    val wr = Window.orderBy(col("gap_days"), col("o_custkey"),
      col("o_orderkey"))
    gaps
      .withColumn("rn", row_number().over(wr))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy()))
      .agg(
        max(col("cnt")).as("n_gaps"),
        max(when(col("rn") === ceil(col("cnt") * 0.25),
          col("gap_days"))).as("p25"),
        max(when(col("rn") === ceil(col("cnt") * 0.5),
          col("gap_days"))).as("p50"),
        max(when(col("rn") === ceil(col("cnt") * 0.9),
          col("gap_days"))).as("p90"),
        max(col("gap_days")).as("max_gap"))
  }

  /** Customer-cohort lifetime-value curve — the finance table behind
    * every retention model: customers cohorted by first-order YEAR,
    * revenue accumulated by order age in years since that first
    * order; the cumulative column is the LTV curve read across a
    * cohort row. Exact decimal revenue throughout ([[dsum]]); the
    * cumulative window runs over the (#cohorts × max-age) aggregated
    * grid, never orders.
    *
    * Same two-shuffle shape as [[cohortRetention]]: per-customer
    * first-order aggregation, then a many-to-one attribution join on
    * the already-shuffled customer key into the (cohort, age)
    * aggregation.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val first = orders.groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_order"))
    orders.join(first, "o_custkey")
      .select(year(col("first_order")).as("cohort_year"),
        (year(col("o_orderdate")) - year(col("first_order")))
          .as("age_years"),
        col("o_totalprice"))
      .groupBy(col("cohort_year"), col("age_years"))
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"))
      .withColumn("cum_revenue",
        sum(col("revenue").cast("decimal(18,4)")).over(
          Window.partitionBy(col("cohort_year"))
            .orderBy(col("age_years"))
            .rowsBetween(Window.unboundedPreceding, 0))
          .cast("double"))
      .orderBy(col("cohort_year"), col("age_years"))
  }

  /** RFM customer segmentation — the classic marketing-warehouse
    * table (recency / frequency / monetary quintile scores per
    * customer, segment code `r·100 + f·10 + m`): recency = days
    * behind the snapshot's newest order, frequency = order count,
    * monetary = exact-decimal spend. Quintiles are exact rank cuts
    * (`(5·(rank−1)) div n + 1` over a (metric, custkey) total
    * order — the q_text_curriculum deterministic-cut convention;
    * rank ascends toward "better", so score 5 = best on every
    * axis).
    *
    * One aggregation to #customers rows, then three rank windows
    * over that frame — the [[topOrdersPerCustomer]] window-cost
    * class, on the aggregate (not the fact). Output is
    * per-customer; at 100 TB the same frame feeds a segment-level
    * rollup.
    */
  def rfmSegments(orders: DataFrame): DataFrame =
    rfmScoredBy(orders, Nil).orderBy(col("custkey"))

  /** [[rfmSegments]] generalized over an optional partition spine:
    * with `part` empty this IS rfmSegments (global snap day, global
    * rank windows); with a partition column every aggregate, the
    * snapshot day, and every rank window computes WITHIN the
    * partition — identical to calling rfmSegments on each slice
    * separately, but in ONE scan and with the windows parallel
    * across slices ([[rfmMigration]], r18 optimization).
    */
  private def rfmScoredBy(
      orders: DataFrame, part: Seq[String]): DataFrame = {
    val pcols = part.map(col)
    val per = orders
      .groupBy((pcols :+ col("o_custkey").as("custkey")): _*)
      .agg(max(col("o_orderdate")).as("last_order"),
        count(lit(1)).as("frequency"),
        dsum(col("o_totalprice")).as("monetary"))
    val snapped =
      if (part.isEmpty) {
        val snap = orders.agg(max(col("o_orderdate")).as("snap_day"))
        per.crossJoin(broadcast(snap))
      } else {
        val snap = orders.groupBy(pcols: _*)
          .agg(max(col("o_orderdate")).as("snap_day"))
        per.join(broadcast(snap), part)
      }
    val scored = snapped.withColumn("recency_days",
      datediff(col("snap_day"), col("last_order")).cast("long"))
    // better = later in rank order on each axis; n rides a
    // count-over-partition window on the SAME frame the rank
    // windows already use (no eager driver count)
    val wp = Window.partitionBy(pcols: _*)
    scored
      .withColumn("n_c", count(lit(1)).over(wp))
      .withColumn("rn_r", row_number().over(
        wp.orderBy(col("recency_days").desc, col("custkey"))))
      .withColumn("rn_f", row_number().over(
        wp.orderBy(col("frequency"), col("custkey"))))
      .withColumn("rn_m", row_number().over(
        wp.orderBy(col("monetary"), col("custkey"))))
      .select((pcols ++ Seq(col("custkey"), col("recency_days"),
        col("frequency"), col("monetary"),
        expr("(5 * (rn_r - 1)) div n_c + 1").as("r_score"),
        expr("(5 * (rn_f - 1)) div n_c + 1").as("f_score"),
        expr("(5 * (rn_m - 1)) div n_c + 1").as("m_score"))): _*)
      .withColumn("segment",
        expr("r_score * 100 + f_score * 10 + m_score"))
  }

  /** Rolling active users — the DAU/WAU/MAU board every event
    * warehouse serves: for every calendar day in the data's span
    * (a `sequence()` spine, so event-free days report zeros instead
    * of vanishing), the exact distinct-user counts over the trailing
    * 1/7/28-day windows plus the DAU/MAU "stickiness" ratio in ppm.
    *
    * Shape at scale: events reduce to day-grain `distinct(day,
    * user)` FIRST (the cohortRetention discipline — the only
    * corpus-sized shuffle, map-side combined); the spine join then
    * fans each active user-day out to ≤ 28 spine days, so the
    * window aggregation is 28× the user-day table, never the event
    * count — and COUNT(DISTINCT) runs per spine day over that
    * bounded frame.
    */
  def rollingActiveUsers(events: DataFrame): DataFrame = {
    val ud = events
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val spine = ud
      .agg(min(col("day")).as("lo"), max(col("day")).as("hi"))
      .select(explode(expr("sequence(lo, hi, interval 1 day)"))
        .as("day"))
    spine.as("s")
      .join(ud.as("u"),
        datediff(col("s.day"), col("u.day")).between(0, 27),
        "left")
      .groupBy(col("s.day").as("day"))
      .agg(
        countDistinct(when(
          datediff(col("s.day"), col("u.day")) === 0,
          col("u.user_id"))).as("dau"),
        countDistinct(when(
          datediff(col("s.day"), col("u.day")) <= 6,
          col("u.user_id"))).as("wau"),
        countDistinct(col("u.user_id")).as("mau"))
      .withColumn("stickiness_ppm",
        when(col("mau") > 0, expr("dau * 1000000 div mau"))
          .otherwise(lit(0L)))
      .orderBy(col("day"))
  }

  /** Two-phase salted aggregation — the standard hot-key mitigation
    * when one group key dominates (AQE skew-join covers joins; skewed
    * groupBy needs this): phase 1 aggregates on (key, salt) spreading
    * a hot key over `saltBuckets` reducers, phase 2 merges the
    * partials per key. Results are identical to the direct groupBy
    * (sums/counts are mergeable) — proven by the shared oracle.
    */
  def saltedAgg(lineitem: DataFrame, saltBuckets: Int = 16): DataFrame =
    lineitem
      .withColumn("__salt",
        pmod(hash(col("l_orderkey")), lit(saltBuckets)))
      .groupBy(col("l_returnflag"), col("__salt"))
      .agg(
        sum(col("l_quantity").cast("decimal(18,4)")).as("partial_qty"),
        count(lit(1)).as("partial_n"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(col("partial_qty")).cast("double").as("sum_qty"),
        sum(col("partial_n")).as("n_rows"))
      .orderBy(col("l_returnflag"))

  /** Salted shuffle JOIN — [[saltedAgg]]'s sibling for the join side
    * of the hot-key problem, the manual form of what AQE's skew-join
    * does for sort-merge spills (AQE splits oversized partitions
    * AFTER materialization; salting levels the exchange itself, and
    * works where AQE can't see the skew — e.g. a shuffled-hash join
    * or a key whose rows are wide rather than many): the skewed side
    * gets a per-row ROUND-ROBIN salt `pmod(monotonically_increasing_
    * id(), buckets)` — position-based, NOT a hash of the row's
    * values: a value hash strands a hot key whose rows are exact
    * duplicates (the degenerate hot-key case) in one bucket, while
    * position spreads any multiplicity uniformly. The salt never
    * reaches the output, so its partition-layout dependence is
    * invisible (the join result is row-identical under any salt) —
    * and the dimension side replicates once per bucket, so each hot
    * key's rows land on `buckets` reducers instead of one. Join on
    * `keys :+ salt`, inner, then the salt drops. The result is
    * row-identical to the plain join (the oracle IS the unsalted
    * join — semantics proven, only the exchange shape changes);
    * replication cost = buckets × |dim|, the trade every skew
    * mitigation prices.
    */
  def saltedJoin(
      skewed: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      saltBuckets: Int = 16
  ): DataFrame = {
    require(keys.nonEmpty && saltBuckets >= 1,
      "need join keys and >= 1 salt bucket")
    val salted = skewed.withColumn("__salt",
      pmod(monotonically_increasing_id(), lit(saltBuckets.toLong))
        .cast("int"))
    val replicated = dim.withColumn("__salt",
      explode(sequence(lit(0), lit(saltBuckets - 1))))
    salted.join(replicated, keys :+ "__salt").drop("__salt")
  }

  /** Hot-list-driven PARTIAL salted join — [[saltedJoin]] prices its
    * skew insurance at `buckets × |dim|` replication because it
    * salts EVERY row; at a 100 TB dim that premium dwarfs the skew
    * it cures. This variant salts only the rows of a known hot-key
    * list (the [[graft.ops.Affinity.skewAdvisor]] head, or AQE skew
    * stats exported from a prior run): the broadcast hot list splits
    * both sides into a hot slice and a residual, the hot fact rows
    * take the position round-robin salt (same rationale as
    * [[saltedJoin]] — a value hash strands exact-duplicate hot rows),
    * the hot DIM rows alone replicate per bucket (topK × buckets
    * rows, constant-sized — not |dim| × buckets), the residual joins
    * entirely plain, and the union restores the row-identical plain
    * join. No hot key ever funnels into a single reducer partition:
    * its fact rows carry `buckets` distinct salt values into the
    * exchange, which partitions on (keys, salt).
    *
    * Contract: `hotKeys` holds the join-key columns (extra columns
    * dropped) and must be SMALL (it broadcasts twice); keys share
    * names across `skewed` and `dim` as in [[saltedJoin]]. NULL join
    * keys route to the residual branch, where the inner join drops
    * them — exactly the plain join's semantics. `forceShuffle`
    * merge-hints the dim side of both final joins — the demonstration
    * (and spec) switch, since at oracle SFs Catalyst would broadcast
    * the dim slices and no exchange would exist to salt; production
    * leaves it false and lets size pick the strategy.
    */
  def skewJoin(
      skewed: DataFrame,
      dim: DataFrame,
      keys: Seq[String],
      hotKeys: DataFrame,
      saltBuckets: Int = 16,
      forceShuffle: Boolean = false
  ): DataFrame = {
    require(keys.nonEmpty && saltBuckets >= 1,
      "need join keys and >= 1 salt bucket")
    val hot = broadcast(
      hotKeys.select(keys.map(col): _*).distinct()
        .withColumn("__hot", lit(true)))
    val fTagged = skewed.join(hot, keys, "left")
    val hotF = fTagged.filter(col("__hot") === true).drop("__hot")
      .withColumn("__salt",
        pmod(monotonically_increasing_id(), lit(saltBuckets.toLong))
          .cast("int"))
    val resF = fTagged.filter(col("__hot").isNull).drop("__hot")
    val dTagged = dim.join(hot, keys, "left")
    val hotD = dTagged.filter(col("__hot") === true).drop("__hot")
      .withColumn("__salt",
        explode(sequence(lit(0), lit(saltBuckets - 1))))
    val resD = dTagged.filter(col("__hot").isNull).drop("__hot")
    def h(df: DataFrame) = if (forceShuffle) df.hint("merge") else df
    hotF.join(h(hotD), keys :+ "__salt").drop("__salt")
      .unionByName(resF.join(h(resD), keys))
  }

  /** Pricing waterfall per order-year — revenue decomposed the way
    * finance reads it: gross extended price, the discount give-back,
    * net (post-discount), the tax add, and charged (net + tax), each
    * an exact DECIMAL sum cast to double through the canonical
    * string round-trip, plus the discount give-back in exact ppm of
    * gross (integer-space div — both operands scale to 10⁴ units and
    * DECIMAL(38,0) first). One scan, |years| rows.
    */
  def pricingWaterfall(lineitem: DataFrame): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,4)")
    def out(c: Column) = c.cast("string").cast("double")
    lineitem
      .groupBy(expr("CAST(year(l_shipdate) AS INT)").as("ship_year"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(dec(col("l_extendedprice"))).as("__gross"),
        sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .as("__disc"),
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))) *
          dec(col("l_tax"))).as("__tax"))
      .select(col("ship_year"), col("n_items"),
        out(col("__gross")).as("gross"),
        out(col("__disc")).as("discount_giveback"),
        out(col("__gross") - col("__disc")).as("net"),
        out(col("__tax")).as("tax_add"),
        out(col("__gross") - col("__disc") + col("__tax"))
          .as("charged"),
        // 10^8 scaling: the discount product carries scale 8, so the
        // DECIMAL(38,0) cast must see an integral value (a scale-4
        // shift would ROUND, and engines disagree on boundary ties)
        expr("""CAST(CAST(__disc * 100000000 AS DECIMAL(38,0))
               |  * 1000000 div CAST(__gross * 100000000
               |  AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("discount_ppm"))
      .orderBy(col("ship_year"))
  }

  /** Gaps-and-islands over per-user activity days — the classic
    * consecutive-run reconstruction (`day − row_number` is constant
    * exactly inside a run of consecutive days): islands of
    * uninterrupted daily activity per user, rolled up to the island
    * LENGTH histogram — the engagement-streak read (how much of the
    * user base is on 1-day islands vs week-long streaks). Windows
    * partition by user; the histogram is calendar-bounded. Exact
    * ppm of user-days carried by each streak length.
    */
  def activityIslands(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("d"))
    val isl = ud
      .withColumn("grp",
        expr("datediff(d, DATE '1970-01-01')") -
          row_number().over(w))
      .groupBy(col("user_id"), col("grp"))
      .agg(count(lit(1)).as("len"))
    val tot = isl.agg(sum(col("len")).as("n_user_days"))
    isl.groupBy(col("len"))
      .agg(count(lit(1)).as("n_islands"),
        sum(col("len")).as("n_days"))
      .crossJoin(broadcast(tot))
      .select(col("len"), col("n_islands"), col("n_days"),
        expr("n_days * 1000000 div n_user_days").as("days_ppm"))
      .orderBy(col("len"))
  }

  /** Weighted lower percentiles per group — quantity-weighted price
    * quantiles (what price does the MEDIAN UNIT move at — row
    * percentiles answer the median line item instead, a different
    * and usually wrong question for revenue work). Same
    * value-histogram discipline as the MWU/watermark quantiles:
    * per-group (value, Σw) rollup, one partitioned cumulative, and
    * `q(p) = min value with cum_w·1000 ≥ p·total_w` — exact under
    * integer weights, no global sort.
    */
  def weightedPercentiles(
      df: DataFrame,
      groupCol: String,
      valueCol: String,
      weightCol: String,
      permils: Seq[Int] = Seq(250, 500, 750, 900)
  ): DataFrame = {
    require(permils.forall(p => p >= 1 && p <= 1000),
      "permils must be in [1, 1000]")
    val h = df.select(col(groupCol).as("g"),
        col(valueCol).as("v"), col(weightCol).cast("long").as("wt"))
      .groupBy(col("g"), col("v")).agg(sum(col("wt")).as("w"))
    val cum = h
      .withColumn("cw", sum(col("w")).over(
        Window.partitionBy(col("g")).orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tw", sum(col("w")).over(
        Window.partitionBy(col("g"))))
    val aggs = permils.map(p =>
      min(when(col("cw") * 1000 >= lit(p.toLong) * col("tw"),
        col("v"))).as(s"p$p")) :+
      max(col("tw")).as("total_weight")
    cum.groupBy(col("g").as(groupCol))
      .agg(aggs.head, aggs.tail: _*)
      .orderBy(col(groupCol))
  }

  /** Hierarchy closure — (id, root, depth) for every node of a
    * parent-pointer table (`parent` null marks roots), the recursive
    * capability (BOM explosion, org rollup, category trees) ANSI
    * engines express as `WITH RECURSIVE` and Spark has no native
    * operator for. Pointer DOUBLING, not single-step walking: each
    * round joins every open node's known ancestor to THAT node's
    * current entry, so known-ancestor distance doubles and rounds
    * scale with log(depth) — the dupClusters discipline, with
    * per-round localCheckpoint truncating the growing lineage. A
    * node whose chain leaves the table (dangling parent) fails the
    * convergence require rather than looping silently.
    */
  def hierarchyClosure(
      edges: DataFrame,
      maxRounds: Int = 64
  ): DataFrame = {
    var cur = edges
      .select(col("id"),
        coalesce(col("parent"), col("id")).as("anc"),
        when(col("parent").isNull, lit(0L)).otherwise(lit(1L))
          .as("depth"),
        col("parent").isNull.as("done"))
      .localCheckpoint(true)
    var open = cur.filter(!col("done")).count()
    var it = 0
    while (it < maxRounds && open > 0) {
      val anc = cur.select(col("id").as("anc"),
        col("anc").as("__anc2"), col("depth").as("__d2"),
        col("done").as("__done2"))
      // left join: a DANGLING anc (chain leaves the table) keeps its
      // row open instead of silently dropping it — the convergence
      // require below then names the failure
      val next = cur.filter(!col("done"))
        .join(anc, Seq("anc"), "left")
        .select(col("id"),
          coalesce(col("__anc2"), col("anc")).as("anc"),
          (col("depth") + coalesce(col("__d2"), lit(0L)))
            .as("depth"),
          coalesce(col("__done2"), lit(false)).as("done"))
        .unionByName(cur.filter(col("done")))
        .localCheckpoint(true)
      cur.unpersist(blocking = false)
      cur = next
      open = cur.filter(!col("done")).count()
      it += 1
    }
    require(open == 0,
      s"hierarchyClosure: $open nodes unresolved after $maxRounds " +
        "doubling rounds (dangling parent or depth > 2^rounds)")
    cur.select(col("id"), col("anc").as("root"), col("depth"))
  }

  /** Revenue concentration (Pareto) curve — cumulative revenue share
    * at customer-rank decile boundaries, the "do 10% of customers
    * carry 80% of revenue" read (the order-side sibling of the event
    * Gini). Exact end to end: per-customer revenue in DECIMAL(18,4),
    * rank and running sum over (revenue desc, custkey) — a window
    * over the CUSTOMER-AGGREGATE table, the RFM-precedent frame
    * (customer-domain-sized, never fact-sized) — and the ppm share
    * divides in integer space (both decimals scale to 10⁴ units and
    * DECIMAL(38,0) before the div, so no engine rounding rule is
    * ever consulted). Output: `nBuckets` rows.
    */
  def revenueConcentration(
      orders: DataFrame,
      nBuckets: Int = 10
  ): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    val per = orders.groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,4)")).as("rev"))
    val stats = per.agg(count(lit(1)).as("n_cust"),
      sum(col("rev")).as("total_rev"))
    val w = Window.orderBy(col("rev").desc, col("o_custkey"))
    per
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("rev")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(stats))
      .withColumn("bucket",
        expr(s"least((rk - 1) * $nBuckets div n_cust, $nBuckets - 1)"))
      .groupBy(col("bucket"))
      .agg(max(col("rk")).as("rk_end"), max(col("cum")).as("__cum"))
      .crossJoin(broadcast(stats))
      .select(col("bucket"), col("rk_end"),
        col("__cum").cast("string").cast("double").as("cum_rev"),
        expr("""CAST(CAST(__cum * 10000 AS DECIMAL(38,0)) * 1000000
               | div CAST(total_rev * 10000 AS DECIMAL(38,0))
               | AS BIGINT)""".stripMargin).as("cum_share_ppm"))
      .orderBy(col("bucket"))
  }

  /** Sketch surface: approx_count_distinct (HLL++) next to the exact
    * count — rows-only (sketch estimates are engine-specific), the
    * mergeable-sketch pattern that replaces exact distinct at 100 TB.
    */
  def approxDistinct(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey")).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts")
      )
      .orderBy(col("l_returnflag"))

  /** Cohort retention — the product-analytics table every event
    * warehouse serves (cohort = a user's first active day; retention
    * = distinct users of that cohort active again `offset` days
    * later). Three narrow aggregations: distinct (user, day)
    * activity — the only corpus-sized shuffle, with map-side
    * combine; a per-user min for the cohort; a (cohort, offset)
    * count-distinct whose key domain is #days·maxOffset. The
    * self-attribution is a many-to-one join into the per-user cohort
    * table on the already-shuffled user key — at 100 TB of events
    * this is the canonical two-shuffle plan, nothing quadratic.
    */
  def cohortRetention(events: DataFrame, maxOffset: Int): DataFrame = {
    val days = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = days.groupBy(col("user_id"))
      .agg(min(col("day")).as("cohort_day"))
    days.join(cohorts, "user_id")
      // "day_offset", not "offset" — OFFSET is reserved in ANSI/the
      // oracle engine and the name must match across both plans
      .select(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"),
        col("user_id"))
      .filter(col("day_offset") <= maxOffset)
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
  }

  /** Discount elasticity of order quantity — the exact least-squares
    * slope of quantity (milli) against the discount level (centi):
    * does a deeper discount actually move volume, as one number with
    * its full integer evidence. The discount domain is a small fixed
    * grid (0.00–0.10 by cents), so x is an exact small integer
    * (round, not floor — 0.03·100 sits BELOW 3 in binary and floor
    * would mis-bucket it); y floors to milli per row; all five
    * regression sums are exact (the Σxy cross term DECIMAL-promoted),
    * and the slope closes by one integer division. One
    * partial-aggregated scan, one row out.
    */
  def discountElasticity(lineitem: DataFrame): DataFrame =
    lineitem
      .filter(col("l_discount").isNotNull &&
        col("l_quantity").isNotNull)
      .select(
        expr("CAST(round(l_discount * 100, 0) AS INT)").as("x"),
        expr("CAST(floor(l_quantity * 1000) AS BIGINT)").as("y"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("x").cast("long")).as("sum_x"),
        sum(col("y")).as("sum_y"),
        sum((col("x") * col("x")).cast("long")).as("sum_xx"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("__sxy"))
      .withColumn("sum_xy", expr("CAST(__sxy AS BIGINT)"))
      .withColumn("slope_qty_milli_per_centi", expr(
        """CASE WHEN CAST(n AS DECIMAL(38,0)) * sum_xx
          |   - CAST(sum_x AS DECIMAL(38,0)) * sum_x = 0 THEN NULL
          | ELSE CAST((CAST(n AS DECIMAL(38,0)) * __sxy
          |     - CAST(sum_x AS DECIMAL(38,0)) * sum_y)
          |   div (CAST(n AS DECIMAL(38,0)) * sum_xx
          |     - CAST(sum_x AS DECIMAL(38,0)) * sum_x)
          |   AS BIGINT) END""".stripMargin))
      .drop("__sxy")

  /** Daily open-order backlog by interval sweep: an order is open
    * from its order date until the day its LAST lineitem ships, so
    * the per-day backlog is the running sum of +1/−1 boundary deltas
    * — the classic concurrent-interval count, computed without ever
    * joining orders to days (a day-range explode would be rows ×
    * avg-duration; the sweep is two boundary rows per order, rolled
    * up per day BEFORE the cumulative pass, so the global window
    * runs over the calendar, not the fact table). Orders with no
    * lineitems never opened a shipment obligation and are excluded
    * by the inner join.
    */
  def orderBacklog(orders: DataFrame, lineitem: DataFrame)
      : DataFrame = {
    val life = orders
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("od"))
      .join(
        lineitem.groupBy(col("l_orderkey"))
          .agg(max(to_date(col("l_shipdate"))).as("close_d")),
        col("o_orderkey") === col("l_orderkey"))
    val deltas = life.select(col("od").as("d"), lit(1L).as("dl"))
      .unionAll(life.select(col("close_d").as("d"), lit(-1L).as("dl")))
      .groupBy(col("d")).agg(sum(col("dl")).as("delta"))
    deltas
      .withColumn("open_orders",
        sum(col("delta")).over(
          org.apache.spark.sql.expressions.Window.orderBy(col("d"))
            .rowsBetween(org.apache.spark.sql.expressions
              .Window.unboundedPreceding, 0)))
  }

  /** TPC-H Q13 shape — the customer order-count DISTRIBUTION: how
    * many customers placed exactly k orders, INCLUDING the k = 0
    * row (the dormant-account mass a plain inner join silently
    * drops — the left join is the whole point of Q13). Two
    * aggregations: per-customer order counts off the left join, then
    * the count-of-counts histogram; output is order-count-domain
    * sized. The null-extension rows read count 0 because COUNT of a
    * NULL key is 0, not because of any coalesce.
    */
  def customerOrderDistribution(
      customer: DataFrame,
      orders: DataFrame
  ): DataFrame =
    customer.select(col("c_custkey"))
      .join(orders.select(col("o_custkey"), col("o_orderkey")),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)

  /** Per-part demand-velocity trend: shipped quantity in the first
    * calendar half vs the second, and the exact milli ratio — the
    * slow-mover/decliner screen an inventory planner runs before
    * delisting (a part whose second-half velocity collapses is the
    * one to stop stocking; one whose ratio explodes is about to
    * stock out). Midpoint derives from the feed itself (global
    * min/max shipdate in epoch days — one count-sized agg broadcast
    * back), both halves are conditional sums in ONE scan of
    * lineitem, and the decliner head is a TakeOrdered top-N, never
    * a global sort. Parts with zero first-half volume are excluded
    * (no baseline to decline from — they are the NEW-part screen,
    * a different question).
    */
  def velocityTrend(
      lineitem: DataFrame,
      topN: Int = 20
  ): DataFrame = {
    val days = lineitem.select(
      col("l_partkey"),
      col("l_quantity").cast("long").as("qty"),
      datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
        .cast("long").as("sd"))
    val mid = days
      .agg(min(col("sd")).as("__mn"), max(col("sd")).as("__mx"))
      .select(expr("(__mn + __mx) div 2").as("mid_day"))
    days
      .crossJoin(broadcast(mid))
      .groupBy(col("l_partkey"))
      .agg(
        sum(when(col("sd") <= col("mid_day"), col("qty"))
          .otherwise(lit(0L))).cast("long").as("qty_h1"),
        sum(when(col("sd") > col("mid_day"), col("qty"))
          .otherwise(lit(0L))).cast("long").as("qty_h2"))
      .filter(col("qty_h1") > 0)
      .withColumn("trend_milli", expr("qty_h2 * 1000 div qty_h1"))
      .orderBy(col("trend_milli"), col("l_partkey"))
      .limit(topN)
  }

  // --------------------------------------------------------------------
  // TPC-H completion wave (r15): the benchmark shapes not yet covered
  // by the registry. The synthetic schema has no partsupp table and no
  // commit/receipt dates, so Q2/Q9/Q11/Q16/Q20 are principled
  // adaptations (cost/stock proxies derived from lineitem history) and
  // Q4 uses ship-vs-order lateness; each scaladoc states the exact
  // deviation. All follow the registry's exact-arithmetic discipline:
  // money sums in DECIMAL(18,4) (cast string->double finals), ratios as
  // integer ppm/milli over scaled-integral DECIMAL(38,0), never a
  // double division.
  // --------------------------------------------------------------------

  /** TPC-H Q10 shape — returned-item reporting: the customers who
    * returned the most revenue in one order quarter (the churn-risk /
    * fraud screen). lineitem is filtered to `l_returnflag = 'R'` at the
    * scan, orders to the quarter window, then one hash aggregate per
    * customer. The top-k head is taken on the AGGREGATE (revenue
    * needs no customer attributes), so customer and nation join onto
    * a broadcast head of `4*topK` rows — an OVER-FETCH, with the
    * real `LIMIT topK` applied AFTER the customer join, so up to
    * `3*topK` head custkeys may be absent from the customer dim
    * (late tombstone, filtered snapshot) without shrinking or
    * skewing the report; the full customer dim is never collected.
    * Revenue desc with a custkey tie-break keeps the LIMIT
    * deterministic cross-engine (the sums are exact decimals, so
    * equal doubles are equal in both engines).
    */
  def returnedItemReport(
      customer: DataFrame,
      orders: DataFrame,
      lineitem: DataFrame,
      nation: DataFrame,
      startDate: String = "1996-01-01",
      endDate: String = "1996-04-01",
      topK: Int = 20
  ): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,4)")
    val head = lineitem
      .filter(col("l_returnflag") === "R")
      .join(orders
          .filter(col("o_orderdate") >= lit(startDate).cast("timestamp") &&
            col("o_orderdate") < lit(endDate).cast("timestamp"))
          .select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .cast("string").cast("double").as("revenue"),
        count(lit(1)).as("n_returned"))
      .orderBy(col("revenue").desc, col("o_custkey"))
      .limit(topK * 4)
    broadcast(head)
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("n_returned"), col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(topK)
  }

  /** TPC-H Q7 shape — bilateral trade volume: shipped revenue between
    * two nations (supplier side vs customer side, both directions) per
    * ship year. The nation-pair filter lands on BOTH key-mapping
    * tables BEFORE their fact joins, so only the two countries' rows
    * travel: the supplier map (region-of-a-dim-sized) broadcasts;
    * the customer map streams through a shuffle join — customer
    * scales with the corpus and is never collected. Output is at
    * most 2 x #years rows.
    */
  def nationTradeVolume(
      lineitem: DataFrame,
      orders: DataFrame,
      customer: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      nationA: String = "NATION_18",
      nationB: String = "NATION_19"
  ): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,4)")
    val suppNation = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
      .filter(col("supp_nation").isin(nationA, nationB))
    val custNation = customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
      .filter(col("cust_nation").isin(nationA, nationB))
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === nationA && col("cust_nation") === nationB) ||
        (col("supp_nation") === nationB && col("cust_nation") === nationA))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .cast("string").cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
  }

  /** TPC-H Q9 shape — product-line profit by supplier nation and order
    * year. DEVIATION from the benchmark: the synth schema has no
    * partsupp, so unit cost is proxied as 60% of `p_retailprice`
    * (scaled by 10^4 to an exact integral decimal before the subtract,
    * so no engine rounds). Profit per line =
    * extprice*(1-disc) - 0.6*retailprice*qty, summed exactly in
    * DECIMAL and shipped as string-cast doubles. Parts filter by a
    * name token at the broadcast dim.
    */
  def productTypeProfit(
      lineitem: DataFrame,
      orders: DataFrame,
      supplier: DataFrame,
      part: DataFrame,
      nation: DataFrame,
      nameToken: String = "gear"
  ): DataFrame = {
    val suppNation = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    // per-line profit in exact 10^-4 units: extprice (<=2dp) times
    // (1-discount) (<=2dp) is <=4dp so the 10^4 shift is integral, and
    // retail*0.6*qty in the same units is retail*6000*qty (integral:
    // 2dp x 6000 clears the fraction) — the DECIMAL(38,0) cast never
    // sees a fractional value, so neither engine rounds
    val profitTenK = expr(
      """CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |    * (CAST(1 AS DECIMAL(18,4))
        |       - CAST(l_discount AS DECIMAL(18,4))) * 10000
        |  - CAST(p_retailprice AS DECIMAL(18,4)) * 6000
        |    * CAST(l_quantity AS DECIMAL(18,4))
        |  AS DECIMAL(38,0))""".stripMargin)
    lineitem
      .join(broadcast(part
          .filter(col("p_name").contains(nameToken))
          .select(col("p_partkey"), col("p_retailprice"))),
        col("l_partkey") === col("p_partkey"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"),
        year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(
        sum(profitTenK).cast("long").as("profit_tenk"),
        count(lit(1)).as("n_items"))
      .orderBy(col("n_name"), col("o_year").desc)
  }

  /** TPC-H Q14 shape — promotion revenue share per ship month: what
    * fraction of each month's discounted revenue came from PROMO-type
    * parts. The share ships as integer ppm computed over
    * scaled-integral DECIMAL(38,0) (scale-8 shift covers the
    * extprice*(1-disc) product's full fractional width; a narrower
    * shift would round and engines disagree on ties). One lineitem
    * scan; the part key map streams (part scales with the corpus).
    */
  def promoRevenueShare(
      lineitem: DataFrame,
      part: DataFrame
  ): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,4)")
    lineitem
      .join(part.select(col("p_partkey"), col("p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(year(col("l_shipdate")).cast("int").as("ship_year"),
        month(col("l_shipdate")).cast("int").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO",
          dec(col("l_extendedprice")) *
            (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .otherwise(lit(0).cast("decimal(18,4)"))).as("__promo"),
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .as("__total"),
        count(lit(1)).as("n_items"))
      .select(col("ship_year"), col("ship_month"), col("n_items"),
        col("__promo").cast("string").cast("double").as("promo_revenue"),
        col("__total").cast("string").cast("double").as("total_revenue"),
        expr("""CAST(CAST(__promo * 100000000 AS DECIMAL(38,0))
               |  * 1000000 div CAST(__total * 100000000
               |  AS DECIMAL(38,0)) AS BIGINT)""".stripMargin)
          .as("promo_ppm"))
      .orderBy(col("ship_year"), col("ship_month"))
  }

  /** TPC-H Q15 shape — top supplier(s) by quarter revenue: the view +
    * scalar-max + equality-join stack, decorrelated as one supplier
    * aggregate and a window max over the (supplier-count-sized)
    * aggregate frame. Max selection runs on an exact micro-unit
    * BIGINT, never a double equality.
    */
  def topSupplier(
      lineitem: DataFrame,
      supplier: DataFrame,
      startDate: String = "1996-01-01",
      endDate: String = "1996-04-01"
  ): DataFrame = {
    // pure integer micro-units: prices and discounts carry <=2
    // fractional digits each, so cents x (100 - centi-discount) x 100
    // is exact BIGINT arithmetic after one DECIMAL-bridged cast per
    // FACTOR (a post-product 10^6 shift overflows DuckDB's DECIMAL
    // widening; per-factor bridging sidesteps both engines' rules)
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(startDate).cast("timestamp") &&
        col("l_shipdate") < lit(endDate).cast("timestamp"))
      .groupBy(col("l_suppkey"))
      .agg(sum(expr(
        """CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100 AS BIGINT)
          |  * (100 - CAST(CAST(l_discount AS DECIMAL(18,4)) * 100
          |           AS BIGINT)) * 100""".stripMargin))
        .cast("long").as("rev_micro"))
    val w = Window.rowsBetween(
      Window.unboundedPreceding, Window.unboundedFollowing)
    rev
      .withColumn("__max", max(col("rev_micro")).over(w))
      .filter(col("rev_micro") === col("__max"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_micro"))
      .orderBy(col("s_suppkey"))
  }

  /** TPC-H Q2 shape — min-cost supplier per part. DEVIATION: no
    * partsupp, so a supplier's "offer" for a part is its best observed
    * unit price in lineitem history (min over that supplier's lines of
    * extprice_micro div qty — integer floor division on exact
    * micro-units, engine-stable). Parts filter by size; suppliers
    * by region. Winner per part by (offer, s_acctbal desc, s_suppkey)
    * via one row_number window over the (part,supplier)-offer frame;
    * final output ordered like Q2 (acctbal desc head).
    */
  def minCostSupplier(
      lineitem: DataFrame,
      part: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      region: DataFrame,
      pSize: Int = 15,
      regionName: String = "EUROPE",
      topK: Int = 100
  ): DataFrame = {
    val suppRegion = supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"),
        col("n_name"))
    val offers = lineitem
      .join(broadcast(part
          .filter(col("p_size") === pSize)
          .select(col("p_partkey"), col("p_name"))),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppRegion), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("p_partkey"), col("p_name"), col("s_suppkey"),
        col("s_name"), col("s_acctbal"), col("n_name"))
      .agg(min(
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 1000000
               |  AS DECIMAL(38,0)) div CAST(l_quantity AS BIGINT)"""
          .stripMargin).cast("long")).as("offer_micro"))
    val w = Window.partitionBy(col("p_partkey"))
      .orderBy(col("offer_micro"), col("s_acctbal").desc,
        col("s_suppkey"))
    offers
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("offer_micro"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(topK)
  }

  /** TPC-H Q11 shape — important stock concentration. DEVIATION: no
    * partsupp, so a part's "stock value" held by one nation's
    * suppliers is proxied by shipped mass: sum over that nation's
    * lines of qty * retailprice, in exact cents (retail carries <= 2
    * fractional digits and qty is integral). Keep parts whose value
    * exceeds `factor` times the UNIFORM per-part share of the nation
    * total (value·n_parts > factor·total) — the benchmark's absolute
    * fraction becomes SF-relative, so the concentration screen keeps
    * its meaning as the catalog grows (a fixed per-mille cut empties
    * at 10x the parts, which is the point of the screen failing,
    * not the screen working). The scalar (total, n_parts) aggregate
    * is broadcast back — the Q11 decorrelation.
    */
  def importantParts(
      lineitem: DataFrame,
      part: DataFrame,
      supplier: DataFrame,
      nation: DataFrame,
      nationName: String = "NATION_3",
      factor: Int = 2
  ): DataFrame = {
    val suppKeys = supplier
      .join(broadcast(nation.filter(col("n_name") === nationName)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"))
    val values = lineitem
      .join(broadcast(suppKeys), col("l_suppkey") === col("s_suppkey"))
      .join(part.select(col("p_partkey"), col("p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_partkey"))
      .agg(sum(expr("""CAST(CAST(p_retailprice AS DECIMAL(18,4))
                     |  * CAST(l_quantity AS DECIMAL(18,4)) * 100
                     |  AS DECIMAL(38,0))""".stripMargin))
        .cast("long").as("value_cents"))
    val total = values.agg(sum(col("value_cents")).as("__total"),
      count(lit(1)).as("__n_parts"))
    values
      .crossJoin(broadcast(total))
      // value·n_parts and total·factor both ride DECIMAL(38,0):
      // cents ~ 1e12 x parts ~ 1e7 passes 2^63 at large SF
      .filter(expr(s"""CAST(value_cents AS DECIMAL(38,0)) * __n_parts
                      |  > CAST(__total AS DECIMAL(38,0)) * $factor"""
        .stripMargin))
      .select(col("p_partkey"), col("value_cents"))
      .orderBy(col("value_cents").desc, col("p_partkey"))
  }

  /** TPC-H Q16 shape — supplier variety per part segment: how many
    * distinct suppliers have actually shipped each (brand, type, size)
    * segment. DEVIATION: the part-supplier relation is the DISTINCT
    * (l_partkey, l_suppkey) set observed in lineitem (no partsupp),
    * and "customer complaints" suppliers are proxied by negative
    * account balance. Brand/type/size exclusions land on the broadcast
    * part dim before the join.
    */
  def supplierPartVariety(
      lineitem: DataFrame,
      part: DataFrame,
      supplier: DataFrame,
      excludeBrand: String = "Brand#1",
      sizes: Seq[Int] = Seq(1, 5, 9, 14, 19, 23, 36, 45)
  ): DataFrame = {
    val okSupp = supplier.filter(col("s_acctbal") >= 0.0)
      .select(col("s_suppkey"))
    val segs = part
      .filter(col("p_brand") =!= excludeBrand &&
        col("p_type") =!= "PROMO" && col("p_size").isin(sizes: _*))
      .select(col("p_partkey"), col("p_brand"), col("p_type"),
        col("p_size"))
    lineitem
      .select(col("l_partkey"), col("l_suppkey")).distinct()
      .join(broadcast(okSupp), col("l_suppkey") === col("s_suppkey"),
        "left_semi")
      .join(segs, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** TPC-H Q19 shape — disjunctive discounted revenue: three
    * (brand, size-range, quantity-range) OR-blocks evaluated in one
    * lineitem⋈part pass (the benchmark's p_container
    * predicate becomes a size band — the column is absent). The point
    * of the shape is the disjunction: the filter must not force three
    * scans, and the quantity half of each block still prunes at the
    * lineitem scan via the derived min/max bounds.
    */
  def disjunctiveRevenue(
      lineitem: DataFrame,
      part: DataFrame
  ): DataFrame = {
    def dec(c: Column) = c.cast("decimal(18,4)")
    def block(brand: String, sizeLo: Int, sizeHi: Int,
        qtyLo: Int, qtyHi: Int): Column =
      col("p_brand") === brand &&
        col("p_size").between(sizeLo, sizeHi) &&
        col("l_quantity").between(qtyLo, qtyHi)
    lineitem
      .filter(col("l_quantity").between(1, 30))
      .join(part.select(col("p_partkey"), col("p_brand"),
          col("p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(block("Brand#12", 1, 5, 1, 11) ||
        block("Brand#23", 1, 10, 10, 20) ||
        block("Brand#24", 1, 15, 20, 30))
      .agg(
        sum(dec(col("l_extendedprice")) *
          (lit(1).cast("decimal(18,4)") - dec(col("l_discount"))))
          .cast("string").cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q20 shape — excess-velocity suppliers: suppliers whose
    * shipped quantity of one part family in a single year exceeds half
    * their all-years total for that family (the benchmark's
    * "availqty > half of one year's demand" stock screen, inverted to
    * the data we have: a supplier concentrating a family's lifetime
    * volume into one year is the promotion/stockpile signal). The
    * default `shareDenom = 5` flags suppliers with over 20% of their
    * lifetime family volume in the one year — ~1.4x the uniform share
    * across the feed's ~7 ship years. Both sums come from ONE
    * conditional-aggregate scan of the family-filtered lines;
    * quantities are integral so the compare is pure BIGINT.
    */
  def excessSuppliers(
      lineitem: DataFrame,
      part: DataFrame,
      supplier: DataFrame,
      nameToken: String = "red",
      year0: Int = 1997,
      shareDenom: Int = 5
  ): DataFrame =
    lineitem
      .join(broadcast(part.filter(col("p_name").startsWith(nameToken))
          .select(col("p_partkey"))),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"))
      .agg(
        sum(when(year(col("l_shipdate")) === year0,
            col("l_quantity").cast("long")).otherwise(lit(0L)))
          .cast("long").as("qty_year"),
        sum(col("l_quantity").cast("long")).cast("long").as("qty_total"))
      .filter(col("qty_year") * shareDenom > col("qty_total"))
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("qty_year"),
        col("qty_total"))
      .orderBy(col("s_suppkey"))

  /** TPC-H Q4 shape — order-priority lateness histogram: per priority
    * class, how many orders had AT LEAST ONE line shipped more than
    * `lateDays` after the order date (the benchmark's
    * commit-vs-receipt EXISTS, re-expressed on the columns we have;
    * [[shippingDelayAnalysis]] is the line-level Q12 view — this is
    * the order-level EXISTS). Decorrelated as one per-order max-delay
    * aggregate, then a count-sized histogram.
    */
  def lateOrderPriority(
      lineitem: DataFrame,
      orders: DataFrame,
      lateDays: Int = 60
  ): DataFrame =
    lineitem
      .join(orders.select(col("o_orderkey"), col("o_orderdate"),
          col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderpriority"))
      .agg(max(datediff(col("l_shipdate"), col("o_orderdate")))
        .as("__max_delay"))
      .filter(col("__max_delay") > lateDays)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))

  /** RFM segment migration matrix — where the customer base is
    * MOVING, which the static [[rfmSegments]] snapshot can't say:
    * the same quintile scoring runs independently on the feed's
    * first and second half (split at the midpoint order date, the
    * velocityTrend convention — each half scores against its OWN
    * snapshot date and its own quintile boundaries, so the matrix
    * reads relative-position shifts, not calendar drift), and
    * customers land in a (segment_h1 → segment_h2) transition cell;
    * segment 0 marks absence from a half, so the matrix's borders
    * ARE the acquisition (0→s) and silence (s→0) flows. `share_ppm`
    * is the cell's share of all customers observed in either half.
    *
    * Shape at scale: two [[rfmSegments]] passes (each one shuffle to
    * per-customer rollups + rank windows on the customer-domain
    * frame) + one full-outer join on custkey; output is at most
    * 126² cells.
    */
  def rfmMigration(orders: DataFrame): DataFrame = {
    val mid = orders.agg(
      expr("""CAST(date_add(min(CAST(o_orderdate AS DATE)),
        | CAST(datediff(max(CAST(o_orderdate AS DATE)),
        |   min(CAST(o_orderdate AS DATE))) div 2 AS INT))
        | AS TIMESTAMP)""".stripMargin).as("mid_ts"))
    // ONE orders scan for both halves (r18 optimization): tag the
    // half, aggregate/snap/rank per (half, custkey) — identical to
    // the old two rfmSegments calls on the filtered halves (the
    // groupBy and the half-partitioned windows keep the halves
    // disjoint), with the rank windows parallel across halves
    // instead of two serial single-partition chains
    val o = orders.crossJoin(broadcast(mid))
      .withColumn("__half",
        when(col("o_orderdate") < col("mid_ts"), 1).otherwise(2))
    // session-tracked: h1 and h2 both read it — unpersisted, the
    // double reference re-expands the whole scan+agg+window chain
    // per half reference
    val scored = graft.Caches.track("cust", rfmScoredBy(o, Seq("__half")))
    val h1 = scored.filter(col("__half") === 1)
      .select(col("custkey"), col("segment").as("segment_h1"))
    val h2 = scored.filter(col("__half") === 2)
      .select(col("custkey"), col("segment").as("segment_h2"))
    val joined = h1.join(h2, Seq("custkey"), "full_outer")
      .select(coalesce(col("segment_h1"), lit(0L)).as("segment_h1"),
        coalesce(col("segment_h2"), lit(0L)).as("segment_h2"))
    joined
      .groupBy(col("segment_h1"), col("segment_h2"))
      .agg(count(lit(1)).as("n_cust"))
      .withColumn("n_total",
        sum(col("n_cust")).over(Window.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("segment_h1"), col("segment_h2"), col("n_cust"),
        expr("n_cust * 1000000 div n_total").as("share_ppm"))
      .orderBy(col("segment_h1"), col("segment_h2"))
  }

  /** Price-volume-mix bridge — the finance decomposition of a
    * revenue delta the [[priceIndex]] ratios summarize: for each
    * ship year vs the base year over the matched-part basket,
    * ΔRev = Σ(p₁−p₀)·q₀ (PRICE effect: repricing the old basket)
    * + Σp₀·(q₁−q₀) (VOLUME effect: old prices on the quantity
    * change) + Σ(p₁−p₀)·(q₁−q₀) (the JOINT/mix cross-term that
    * makes the identity close). Built on the same floored
    * cents-per-unit prices as priceIndex, so the identity holds
    * EXACTLY over the reconstructed p·q revenues by construction —
    * `total_delta_cents` is emitted from the sum and equals
    * `recon_delta_cents` (the reconstructed revenue delta) as a
    * row-level self-check both engines replay.
    *
    * Shape at scale: the priceIndex (part × year) grid + one
    * base-year self-join; all sums DECIMAL(38,0), grid-sized.
    */
  def marginBridge(lineitem: DataFrame): DataFrame = {
    val py = lineitem
      .select(col("l_partkey"),
        year(col("l_shipdate")).cast("int").as("y"),
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
              | AS DECIMAL(38,0))""".stripMargin).as("cents"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_partkey"), col("y"))
      .agg(sum(col("cents")).cast("decimal(38,0)").as("rev_cents"),
        sum(col("q")).as("qty"))
      .withColumn("p_cents",
        expr("CAST(rev_cents div qty AS BIGINT)"))
    val y0 = py.agg(min(col("y")).as("y0"))
    val base = py.crossJoin(broadcast(y0))
      .filter(col("y") === col("y0"))
      .select(col("l_partkey"), col("p_cents").as("p0"),
        col("qty").as("q0"))
    val d38 = "decimal(38,0)"
    py.join(base, "l_partkey")
      .groupBy(col("y"))
      .agg(
        count(lit(1)).as("n_parts_common"),
        sum(expr(s"CAST(p_cents - p0 AS $d38) * q0"))
          .cast(d38).as("price_eff"),
        sum(expr(s"CAST(p0 AS $d38) * (qty - q0)"))
          .cast(d38).as("volume_eff"),
        sum(expr(s"CAST(p_cents - p0 AS $d38) * (qty - q0)"))
          .cast(d38).as("joint_eff"),
        sum(expr(s"CAST(p_cents AS $d38) * qty - CAST(p0 AS $d38) * q0"))
          .cast(d38).as("recon_delta"))
      .select(col("y"), col("n_parts_common"),
        expr("CAST(price_eff AS BIGINT)").as("price_effect_cents"),
        expr("CAST(volume_eff AS BIGINT)").as("volume_effect_cents"),
        expr("CAST(joint_eff AS BIGINT)").as("joint_effect_cents"),
        expr("CAST(price_eff + volume_eff + joint_eff AS BIGINT)")
          .as("total_delta_cents"),
        expr("CAST(recon_delta AS BIGINT)").as("recon_delta_cents"))
      .orderBy(col("y"))
  }

  /** ABC/XYZ inventory classification — the two-axis screen behind
    * every stocking policy: ABC ranks parts by cumulative revenue
    * share (A to 80 %, B to 95 %, C the tail — the Pareto cut
    * operationalized per part), XYZ grades demand STABILITY from the
    * coefficient of variation of monthly shipped quantity over the
    * corpus's full month span (zero months count — intermittency IS
    * variability): X when 4·σ ≤ μ, Y when 2·σ ≤ μ, else Z, tested
    * as exact integer cross-multiplications (16·(n·SS−S²) ≤ S²
    * etc. — no sqrt, no doubles). An A/Z part (top revenue, erratic
    * demand) is the planner's fire alarm.
    *
    * Shape at scale: one lineitem scan to the (part × month) grid,
    * densified against the corpus month span (months are
    * calendar-bounded); the revenue window runs over the part
    * domain — dim-sized by definition, never fact-sized.
    */
  def abcXyz(lineitem: DataFrame): DataFrame = {
    val base = lineitem.select(col("l_partkey"),
      (year(col("l_shipdate")) * 12 +
        (month(col("l_shipdate")) - 1)).cast("long").as("m"),
      expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
            | AS DECIMAL(38,0))""".stripMargin).as("cents"),
      col("l_quantity").cast("long").as("q"))
    val span = base.agg(min(col("m")).as("m_min"),
      max(col("m")).as("m_max"))
    val pm = base.groupBy(col("l_partkey"), col("m"))
      .agg(sum(col("q")).as("q"))
    val months = span.select(explode(sequence(col("m_min"),
      col("m_max"))).as("m"))
    val dense = pm.select(col("l_partkey")).distinct()
      .crossJoin(broadcast(months))
      .join(pm, Seq("l_partkey", "m"), "left")
      .withColumn("q", coalesce(col("q"), lit(0L)))
    val xyz = dense.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_m"), sum(col("q")).as("sq"),
        sum(col("q").cast("decimal(19,0)") * col("q"))
          .cast("decimal(38,0)").as("sqq"))
      .select(col("l_partkey"), col("n_m"), col("sq"),
        when(expr("16 * (n_m * sqq - CAST(sq AS DECIMAL(38,0)) * sq)")
          <= expr("CAST(sq AS DECIMAL(38,0)) * sq"), "X")
          .when(expr("4 * (n_m * sqq - CAST(sq AS DECIMAL(38,0)) * sq)")
            <= expr("CAST(sq AS DECIMAL(38,0)) * sq"), "Y")
          .otherwise("Z").as("xyz_class"))
    val rev = base.groupBy(col("l_partkey"))
      .agg(sum(col("cents")).cast("decimal(38,0)").as("rev_cents"))
    val wCum = Window.orderBy(col("rev_cents").desc, col("l_partkey"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val abc = rev
      .withColumn("cum", sum(col("rev_cents")).over(wCum))
      .withColumn("tot", sum(col("rev_cents")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("l_partkey"),
        expr("CAST(rev_cents AS BIGINT)").as("rev_cents"),
        expr("CAST(cum * 1000000 div tot AS BIGINT)")
          .as("cum_share_ppm"))
      .withColumn("abc_class",
        when(col("cum_share_ppm") <= 800000L, "A")
          .when(col("cum_share_ppm") <= 950000L, "B")
          .otherwise("C"))
    abc.join(xyz, "l_partkey")
      .select(col("l_partkey"), col("rev_cents"),
        col("cum_share_ppm"), col("abc_class"), col("n_m"),
        col("sq").as("total_qty"), col("xyz_class"))
      .orderBy(col("l_partkey"))
  }

  /** Laspeyres / Paasche price indices per ship year vs the corpus's
    * first year — the is-revenue-growth-price-or-volume decomposition:
    * Laspeyres reprices the BASE year's basket at year-y prices
    * (Σp_y·q_0 / Σp_0·q_0), Paasche prices THIS year's basket both
    * ways (Σp_y·q_y / Σp_0·q_y); Laspeyres ≫ Paasche means the mix
    * shifted toward the items that got expensive. Per-(part, year)
    * unit price = cents of revenue div quantity — an exact floored
    * integer both engines share (the waterfall cents convention);
    * only parts present in BOTH years enter a pair (standard
    * matched-basket practice, `n_parts_common` reports the overlap).
    * All basket sums DECIMAL(38,0); indices in exact ppm.
    *
    * Shape at scale: one lineitem scan to the (part × year) grid —
    * everything after is grid-sized: a self-join on part against the
    * base-year slice and two aggregations per year.
    */
  def priceIndex(lineitem: DataFrame): DataFrame = {
    val py = lineitem
      .select(col("l_partkey"),
        year(col("l_shipdate")).cast("int").as("y"),
        // the waterfall cents convention: <=2 fractional digits, so
        // DECIMAL(18,4)-bridged x100 is exact
        expr("""CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
              | AS DECIMAL(38,0))""".stripMargin).as("cents"),
        col("l_quantity").cast("long").as("q"))
      .groupBy(col("l_partkey"), col("y"))
      .agg(sum(col("cents")).cast("decimal(38,0)").as("rev_cents"),
        sum(col("q")).as("qty"))
      .withColumn("p_cents",
        expr("CAST(rev_cents div qty AS BIGINT)"))
    val y0 = py.agg(min(col("y")).as("y0"))
    val base = py.crossJoin(broadcast(y0))
      .filter(col("y") === col("y0"))
      .select(col("l_partkey"), col("p_cents").as("p0"),
        col("qty").as("q0"))
    py.join(base, "l_partkey")
      .groupBy(col("y"))
      .agg(
        count(lit(1)).as("n_parts_common"),
        sum(col("p_cents").cast("decimal(38,0)") * col("q0"))
          .as("l_num"),
        sum(col("p0").cast("decimal(38,0)") * col("q0")).as("l_den"),
        sum(col("p_cents").cast("decimal(38,0)") * col("qty"))
          .as("p_num"),
        sum(col("p0").cast("decimal(38,0)") * col("qty")).as("p_den"))
      .select(col("y"), col("n_parts_common"),
        expr("CAST(l_num * 1000000 div l_den AS BIGINT)")
          .as("laspeyres_ppm"),
        expr("CAST(p_num * 1000000 div p_den AS BIGINT)")
          .as("paasche_ppm"))
      .orderBy(col("y"))
  }
}
