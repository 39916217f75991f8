package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Registry half of the relational surface: named queries (driver
  * contract `SparkEntry.queries`) + their DuckDB oracle SQL.
  *
  * Oracle-stability rules used throughout (see Relational.dsum):
  *  - every double aggregate goes through exact decimal sums, cast back
  *    to double at the end → order-independent, bitwise-reproducible;
  *  - every query ends in a total ORDER BY so row order is defined;
  *  - every computed column is aliased identically in Spark and SQL;
  *  - int-width-sensitive scalars (year/length/...) are cast to the
  *    Spark-side width in the SQL.
  */
object RelationalQueries {
  import Relational._

  type Q = (SparkSession, String) => DataFrame

  /** Exact decimal revenue sum, converted to double THROUGH A STRING:
    * DuckDB's direct DECIMAL→DOUBLE cast rounds twice (int128→double,
    * then ÷10^scale) and can land one ulp off the correctly-rounded
    * value Spark's Decimal.toDouble produces (seen at sf0.1:
    * 2706323975.3561 vs …3560996); VARCHAR→DOUBLE parses are
    * correctly rounded in both engines.
    */
  private val decRev =
    "CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * " +
      "(CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))) " +
      "AS VARCHAR) AS DOUBLE)"

  /** Recursive-CTE twin of `Audit.holtWintersBacktest` (α=500 β=250
    * γ=250 milli). The smoothing recursion nests the level update
    * inside the trend and seasonal updates, so the SQL is GENERATED
    * here with the same string pieces the Spark fold uses — the two
    * engines execute the identical sign-split integer arithmetic.
    */
  private val hwOracle: String = {
    def tdiv(v: String) =
      s"(CASE WHEN ($v) < 0 THEN -((-($v)) // 1000) " +
        s"ELSE ($v) // 1000 END)"
    val sCur = (0 to 6).map(i => s"WHEN o.d % 7 = $i THEN r.s$i")
      .mkString("(CASE ", " ", " END)")
    val lNew = tdiv(s"500 * (o.y - $sCur) + 500 * (r.l + r.b)")
    val bNew = tdiv(s"250 * ($lNew - r.l) + 750 * r.b")
    val sNew = tdiv(s"250 * (o.y - $lNew) + 750 * $sCur")
    val sSeed = (0 to 6).map(i =>
      s"CASE WHEN d % 7 = $i THEN CAST(0 AS BIGINT) END AS s$i")
      .mkString(", ")
    val sUpd = (0 to 6).map(i =>
      s"CASE WHEN o.d % 7 = $i THEN (CASE WHEN $sCur IS NULL " +
        s"THEN o.y - r.l ELSE $sNew END) ELSE r.s$i END")
      .mkString(", ")
    s"""WITH RECURSIVE daily AS (
       |  SELECT event_type,
       |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
       |    CAST(COUNT(*) * 1000 AS BIGINT) AS y
       |  FROM events GROUP BY 1, 2),
       |ord AS (
       |  SELECT event_type, d, y,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)
       |      AS rn
       |  FROM daily),
       |rec AS (
       |  SELECT event_type, rn, y AS l, CAST(0 AS BIGINT) AS b,
       |    $sSeed,
       |    CAST(0 AS BIGINT) AS sae, CAST(0 AS BIGINT) AS nsc,
       |    CAST(1 AS BIGINT) AS seen
       |  FROM ord WHERE rn = 1
       |  UNION ALL
       |  SELECT o.event_type, o.rn,
       |    CASE WHEN $sCur IS NULL THEN r.l ELSE $lNew END,
       |    CASE WHEN $sCur IS NULL THEN r.b ELSE $bNew END,
       |    $sUpd,
       |    r.sae + CASE WHEN $sCur IS NULL THEN 0
       |      ELSE abs(o.y - (r.l + r.b + $sCur)) END,
       |    r.nsc + CASE WHEN $sCur IS NULL THEN 0 ELSE 1 END,
       |    r.seen + 1
       |  FROM rec r JOIN ord o
       |    ON o.event_type = r.event_type AND o.rn = r.rn + 1),
       |fin AS (
       |  SELECT r.event_type, r.seen AS n_days, r.nsc AS n_scored,
       |    r.sae // GREATEST(r.nsc, 1) AS mae_milli,
       |    r.l AS level_milli, r.b AS trend_milli
       |  FROM rec r JOIN (SELECT event_type, MAX(rn) AS mx
       |                   FROM ord GROUP BY 1) m
       |    ON r.event_type = m.event_type AND r.rn = m.mx),
       |naive AS (
       |  SELECT a.event_type, CAST(COUNT(*) AS BIGINT) AS naive_n,
       |    CAST(SUM(abs(a.y - b.y)) AS BIGINT) AS naive_sae
       |  FROM daily a JOIN daily b
       |    ON a.event_type = b.event_type AND a.d = b.d + 7
       |  GROUP BY 1)
       |SELECT f.event_type, f.n_days, f.n_scored, f.mae_milli,
       |  f.level_milli, f.trend_milli, n.naive_n,
       |  n.naive_sae // GREATEST(n.naive_n, 1) AS naive_mae_milli,
       |  (n.naive_sae // GREATEST(n.naive_n, 1)) * 1000
       |    // GREATEST(f.mae_milli, 1) AS skill_milli
       |FROM fin f LEFT JOIN naive n USING (event_type)
       |ORDER BY f.event_type""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    // supplier ship-SLA scorecard ranked by the 95% Wilson LOWER
    // bound (small-sample shrinkage): fact join + suppkey agg +
    // TakeOrdered head, names broadcast-joined after the head
    "q_supplier_sla_wilson" -> ((s, d) =>
      Relational.supplierSlaWilson(Tables.lineitem(s, d),
        Tables.orders(s, d), Tables.supplier(s, d))),
    // lead–lag cross-correlation between the view and purchase
    // daily series at lags −7..7 (the cross-type sibling of
    // q_events_autocorr, same exact-moment discipline)
    "q_events_lead_lag" -> ((s, d) =>
      Audit.leadLagCorrelation(Tables.events(s, d))
        .orderBy(col("lag"))),
    // fixed-point periodogram over the zero-filled daily grid:
    // which cycle length dominates each feed (shared q20 trig
    // literals, sign-split normalization — fully engine-exact)
    "q_events_periodogram" -> ((s, d) =>
      Audit.dailyPeriodogram(Tables.events(s, d))),
    "q_pricing_summary" -> ((s, d) => pricingSummary(Tables.lineitem(s, d))),
    "q_distinct_agg"    -> ((s, d) => distinctAgg(Tables.lineitem(s, d))),
    "q_rollup_agg" -> ((s, d) =>
      rollupAgg(Tables.customer(s, d), Tables.nation(s, d))),
    "q_cube_agg" -> ((s, d) => cubeAgg(Tables.orders(s, d))),
    "q_shipping_priority" -> ((s, d) =>
      shippingPriority(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d))),
    "q_revenue_by_nation" -> ((s, d) =>
      revenueByNation(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    "q_broadcast_join_agg" -> ((s, d) =>
      broadcastJoinAgg(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_semi_join" -> ((s, d) =>
      semiJoin(Tables.customer(s, d), Tables.orders(s, d))),
    "q_anti_join" -> ((s, d) =>
      antiJoin(Tables.customer(s, d), Tables.orders(s, d))),
    "q_outer_join_agg" -> ((s, d) =>
      outerJoinAgg(Tables.customer(s, d), Tables.orders(s, d))),
    "q_top_orders_per_cust" -> ((s, d) =>
      topOrdersPerCustomer(Tables.orders(s, d), 3)),
    "q_event_window_funcs" -> ((s, d) =>
      eventWindowFuncs(Tables.events(s, d))),
    "q_rank_suppliers" -> ((s, d) =>
      rankSuppliers(Tables.supplier(s, d), Tables.nation(s, d))),
    "q_global_topk" -> ((s, d) => globalTopK(Tables.orders(s, d), 20)),
    "q_set_ops" -> ((s, d) =>
      setOps(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_scalar_funcs" -> ((s, d) => scalarFuncs(Tables.orders(s, d))),
    "q_events_per_day" -> ((s, d) => eventsPerDay(Tables.events(s, d))),
    // table-level data-quality gate: one-pass Deequ-style suite +
    // a referential-closure row (mixed pass/fail by construction —
    // the synth lineitem has duplicate (orderkey, linenumber) pairs
    // and discounts above the 0.05 gate)
    "q_quality_assertions" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      Audit.assertionReport(li, Seq(
        Audit.Completeness("l_shipdate", 1.0),
        Audit.Uniqueness(Seq("l_orderkey", "l_linenumber"), 1.0),
        Audit.MinBound("l_quantity", 1.0),
        Audit.MaxBound("l_quantity", 50.0),
        Audit.MaxBound("l_discount", 0.05),
        Audit.MinBound("l_extendedprice", 0.0)))
        .unionByName(Audit.referentialIntegrity(
          li, "l_partkey", Tables.part(s, d), "p_partkey", 1.0))
        .orderBy(col("check_name"))
    }),
    // day-over-day volume anomaly per event type (trailing-window
    // z-score, exact integer moments, q20-quantized score)
    "q_events_anomaly" -> ((s, d) =>
      Audit.eventAnomaly(Tables.events(s, d))
        .orderBy(col("event_type"), col("day"))),
    // last-touch attribution: purchase credited to the latest
    // click/view by the same user within a 3-day window
    "q_events_attribution" -> ((s, d) =>
      lastTouchAttribution(Tables.events(s, d))
        .orderBy(col("event_id"))),
    // robust (median/MAD) volume anomaly twin — masking-resistant
    // cross-field Predicate checks over the joined order/lineitem
    // frame: one invariant that holds, one planted to fail
    "q_quality_predicates" -> ((s, d) => {
      val j = Tables.lineitem(s, d)
        .join(Tables.orders(s, d),
          col("l_orderkey") === col("o_orderkey"))
      Audit.assertionReport(j, Seq(
        Audit.Predicate("l_shipdate >= o_orderdate", 1.0),
        Audit.Predicate("l_quantity <= 40.0", 1.0),
        Audit.Predicate("l_extendedprice > 0.0", 1.0)))
        .orderBy(col("check_name"))
    }),
    // seasonal-naive backtest: last day vs prior same-weekday mean
    "q_events_forecast_backtest" -> ((s, d) =>
      Audit.seasonalNaiveBacktest(Tables.events(s, d))),
    // Holt-Winters (additive, m=7) one-step backtest: exact
    // fixed-point smoothing fold + seasonal-naive skill ratio
    "q_events_holt_winters" -> ((s, d) =>
      Audit.holtWintersBacktest(Tables.events(s, d))),
    // Kaplan-Meier survival with right-censoring: per-type user
    // lifetimes, product-limit curve in exact q20 (recursive-CTE
    // twin, bitwise both SFs)
    "q_events_kaplan_meier" -> ((s, d) =>
      Audit.kaplanMeier(Tables.events(s, d))),
    // Nelson-Aalen cumulative hazard over the SAME risk table:
    // per-step d/n floored to exact micro, window cumsum (hazard
    // adds where survival multiplies - no sequential fold needed)
    "q_events_nelson_aalen" -> ((s, d) =>
      Audit.nelsonAalen(Tables.events(s, d))),
    // Western Electric run rules: per-day side/rule flags from exact
    // integer cross-multiplied sigma comparisons (no sqrt)
    "q_events_we_rules" -> ((s, d) =>
      Audit.westernElectricRules(Tables.events(s, d))),
    // Theil-Sen robust daily trend vs OLS: median pairwise slope in
    // exact milli over the bounded day domain
    "q_events_theil_sen" -> ((s, d) =>
      Audit.theilSenTrend(Tables.events(s, d))),
    // weekly growth accounting: actives split new/retained/
    // resurrected, churned from the vanished prev-week set, quick
    // ratio milli
    "q_events_growth_accounting" -> ((s, d) =>
      Audit.growthAccounting(Tables.events(s, d))),
    // DAU/MAU stickiness via the explode-to-equi-join expansion
    "q_events_stickiness" -> ((s, d) =>
      Audit.stickiness(Tables.events(s, d))),
    // Laspeyres/Paasche matched-basket price indices per ship year
    // vs the first year, exact cents/ppm
    "q_li_price_index" -> ((s, d) =>
      Relational.priceIndex(Tables.lineitem(s, d))),
    // split-conformal coverage of the seasonal-naive forecaster:
    // parity-split residuals, exact finite-sample rank, coverage ppm
    "q_events_conformal" -> ((s, d) =>
      Audit.conformalCoverage(Tables.events(s, d))),
    // ABC by cumulative revenue share + XYZ by demand-stability
    // cross-multiplied CV classes over the densified month grid
    "q_li_abc_xyz" -> ((s, d) =>
      Relational.abcXyz(Tables.lineitem(s, d))),
    // interrupted time-series: segmented integer-OLS level/trend
    // deltas at the feed's midpoint cut
    "q_events_its" -> ((s, d) =>
      Audit.interruptedTimeSeries(Tables.events(s, d))),
    // RFM quintile migration matrix between the feed's two halves,
    // segment 0 = absent from a half
    "q_cust_rfm_migration" -> ((s, d) =>
      Relational.rfmMigration(Tables.orders(s, d))),
    // price-volume-mix revenue bridge per year vs base, identity
    // closed exactly over the floored reconstructed revenues
    "q_li_margin_bridge" -> ((s, d) =>
      Relational.marginBridge(Tables.lineitem(s, d))),
    // one-pass column profile of orders (nulls/distinct/min/max per
    // column, engine-stable string rendering)
    "q_profile_orders" -> ((s, d) =>
      Audit.columnProfile(Tables.orders(s, d),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "o_orderdate"))),
    // Pareto/concentration curve: cumulative revenue share at
    // customer-rank decile boundaries — integer-space ppm, the
    // customer-domain window (RFM precedent)
    "q_orders_pareto" -> ((s, d) =>
      Relational.revenueConcentration(Tables.orders(s, d))),
    // planner-audit: containment-assumption estimate vs actual join
    // cardinality for the two canonical fact joins
    "q_li_join_card_est" -> ((s, d) =>
      Audit.joinCardinalityAudit(Tables.lineitem(s, d),
        Tables.orders(s, d), "l_orderkey", "o_orderkey",
        "lineitem_orders")
        .unionByName(Audit.joinCardinalityAudit(
          Tables.lineitem(s, d), Tables.part(s, d),
          "l_partkey", "p_partkey", "lineitem_part"))
        .orderBy(col("join_label"))),
    // binary-segmentation change-point per event type: argmax of the
    // exact q20 between-segment gain over the daily series
    "q_events_changepoint" -> ((s, d) =>
      Audit.binaryChangepoint(Tables.events(s, d))
        .orderBy(col("event_type"))),
    // lag-1/lag-7 autocorrelation of the daily series: exact moment
    // skeleton, IEEE only at the final r_milli (spearman discipline)
    "q_events_autocorr" -> ((s, d) =>
      Audit.dailyAutocorrelation(Tables.events(s, d))
        .orderBy(col("event_type"), col("lag"))),
    // gaps-and-islands: consecutive-activity streak histogram via
    // the day - row_number constant-run key
    "q_events_activity_islands" -> ((s, d) =>
      Relational.activityIslands(Tables.events(s, d))),
    // quantity-weighted price percentiles per returnflag — the
    // median UNIT, not the median line item
    "q_li_weighted_percentiles" -> ((s, d) =>
      Relational.weightedPercentiles(Tables.lineitem(s, d),
        "l_returnflag", "l_extendedprice", "l_quantity")),
    // pricing waterfall per ship-year: gross -> discount giveback ->
    // net -> tax -> charged, exact decimal sums + integer-space ppm
    "q_li_pricing_waterfall" -> ((s, d) =>
      Relational.pricingWaterfall(Tables.lineitem(s, d))),
    // watermark delay planner: per-type arrival lateness off the
    // event_id ingest order — exact permil quantiles of
    // running_max(ts) - ts, the number withWatermark should be set to
    "q_events_watermark_plan" -> ((s, d) =>
      Audit.watermarkPlan(Tables.events(s, d))
        .orderBy(col("event_type"))),
    // greedy alert-cooldown suppression over each type's anomalous
    // days (count > 1.2x the type's daily mean): first alert fires,
    // anything within 3 days of the LAST EMITTED alert suppresses
    "q_events_alert_cooldown" -> ((s, d) =>
      Audit.alertCooldown(Tables.events(s, d), cooldownDays = 3)
        .orderBy(col("event_type"))),
    // stream-stream join state advisor: peak/mean trailing-60-minute
    // row retention measured from the feed's own minute-grain rates
    "q_events_join_state" -> ((s, d) =>
      Audit.streamJoinStateAdvisor(Tables.events(s, d),
        windowMinutes = 60, bytesPerRow = 64L)),
    // broadcast-vs-shuffle advisor over the dim tables (threshold
    // 100 KB so BOTH branches appear at oracle SF: customer/part
    // read shuffle, nation/region broadcast)
    "q_dim_broadcast_advisor" -> ((s, d) =>
      Seq(
        Audit.broadcastAdvisor(Tables.nation(s, d), "nation",
          thresholdBytes = 100000L),
        Audit.broadcastAdvisor(Tables.region(s, d), "region",
          thresholdBytes = 100000L),
        Audit.broadcastAdvisor(Tables.customer(s, d), "customer",
          thresholdBytes = 100000L),
        Audit.broadcastAdvisor(Tables.part(s, d), "part",
          thresholdBytes = 100000L))
        .reduce(_.unionByName(_))
        .orderBy(col("table_label"))),
    // recursive capability: hierarchy closure (root + depth) over
    // the div-10 parent chain of part — pointer doubling, log-depth
    // rounds, the WITH RECURSIVE twin proves it exact
    "q_part_hierarchy" -> ((s, d) => {
      val edges = Tables.part(s, d).select(
        col("p_partkey").as("id"),
        when(expr("p_partkey div 10") === 0L, lit(null))
          .otherwise(expr("p_partkey div 10")).as("parent"))
      Relational.hierarchyClosure(edges).orderBy(col("id"))
    }),
    // per-feed staleness vs the snapshot high-water mark, exact
    // epoch-ms lags, stale flag at 30 min
    "q_events_freshness" -> ((s, d) =>
      Audit.freshness(Tables.events(s, d), col("event_type"),
        maxLagMs = 1800000L)),
    "q_events_robust_anomaly" -> ((s, d) =>
      Audit.eventAnomalyRobust(Tables.events(s, d))
        .orderBy(col("event_type"), col("day"))),
    // day-over-day volume movement (exact signed ppm deltas)
    "q_events_deltas" -> ((s, d) =>
      Audit.eventVolumeDeltas(Tables.events(s, d))
        .orderBy(col("event_type"), col("day"))),
    // cohort retention (first-active-day cohorts, 0..7-day offsets):
    // two narrow aggregations + a many-to-one cohort join
    "q_events_retention" -> ((s, d) =>
      cohortRetention(Tables.events(s, d), maxOffset = 7)
        .orderBy(col("cohort_day"), col("day_offset"))),
    "q_sliding_window" -> ((s, d) =>
      slidingWindowAgg(Tables.events(s, d))),
    "q_sessionize" -> ((s, d) =>
      sessionizeBatch(Tables.events(s, d), 30 * 60 * 1000L)),
    // peak simultaneously-open sessions per day (the capacity number
    // next to average load): gap sessions split/clipped per epoch-day
    // in pure ms integers, boundary sweep with starts-before-ends at
    // equal ms, per-day running max
    "q_events_peak_concurrency" -> ((s, d) =>
      Relational.peakConcurrency(Tables.events(s, d))),
    // session-count sensitivity curve over candidate gap thresholds:
    // one lag pass, every threshold a conditional count of the same
    // scan
    "q_events_session_gap_curve" -> ((s, d) =>
      Relational.sessionGapCurve(Tables.events(s, d))),
    // Lindley single-server replay per event type via the max-plus
    // closed form: two per-type windows, exact BIGINT ms waits
    "q_events_queue_backlog" -> ((s, d) =>
      Relational.queueBacklog(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) => lastSignupAsOf(Tables.events(s, d))),
    "q_group_percentiles" -> ((s, d) =>
      groupPercentiles(Tables.orders(s, d))),
    "q_pivot_status" -> ((s, d) => pivotStatus(Tables.orders(s, d))),
    "q_json_funcs" -> ((s, d) => jsonFuncs(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => funnel(Tables.events(s, d))),
    // conversion-latency PERCENTILE_DISC stats per funnel stage —
    // exact epoch-ms integers, (value, user) total order
    "q_events_funnel_time" -> ((s, d) =>
      funnelLatency(Tables.events(s, d))),
    // calendar-spine DAU/WAU/MAU with exact ppm stickiness
    "q_events_rolling_active" -> ((s, d) =>
      rollingActiveUsers(Tables.events(s, d))),
    // first-order-year cohorts × order age, exact-decimal LTV curve
    "q_orders_cohort_ltv" -> ((s, d) =>
      cohortLtv(Tables.orders(s, d))),
    // daily open-order backlog: +1/−1 interval sweep rolled up per
    // day BEFORE the calendar-bounded cumulative window
    "q_orders_backlog" -> ((s, d) =>
      orderBacklog(Tables.orders(s, d), Tables.lineitem(s, d))
        .orderBy(col("d"))),
    // exact least-squares slope of quantity (milli) on discount
    // (centi grid): the does-the-discount-move-volume audit
    "q_li_discount_elasticity" -> ((s, d) =>
      discountElasticity(Tables.lineitem(s, d))),
    // per-part demand-velocity decliners: first-half vs second-half
    // shipped quantity, exact milli ratio, top-20 steepest drops
    "q_part_velocity_trend" -> ((s, d) =>
      velocityTrend(Tables.lineitem(s, d), topN = 20)),
    // categorical mix drift: per order-year chi-square of the
    // priority mix vs pooled (per-cell-floored milli, srm's sibling)
    "q_orders_priority_drift" -> ((s, d) =>
      Audit.categoricalMixDrift(Tables.orders(s, d),
        "o_orderpriority", year(col("o_orderdate")).cast("long"))),
    // TPC-H Q13: customer order-count histogram INCLUDING the
    // dormant k=0 row (left join is the point)
    "q_orders_custdist" -> ((s, d) =>
      customerOrderDistribution(Tables.customer(s, d),
        Tables.orders(s, d))),
    // TPC-H Q12 shape: late vs on-time lineitems per priority class
    "q_shipping_delay" -> ((s, d) =>
      shippingDelayAnalysis(Tables.lineitem(s, d),
        Tables.orders(s, d))),
    // distribution window functions per nation over balances
    "q_window_distribution_funcs" -> ((s, d) =>
      supplierDistributionFuncs(Tables.supplier(s, d))),
    // repeat-purchase gap percentiles (PERCENTILE_DISC, total order)
    "q_orders_repeat_interval" -> ((s, d) =>
      repeatPurchaseIntervals(Tables.orders(s, d))),
    // TPC-H Q17 shape: decorrelated per-part average threshold
    "q_small_qty_revenue" -> ((s, d) =>
      smallQuantityRevenue(Tables.lineitem(s, d), Tables.part(s, d),
        "Brand#11")),
    // TPC-H Q18 shape: grouped-HAVING large orders joined back
    "q_large_orders" -> ((s, d) =>
      largeOrders(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), minQty = 250.0)),
    // TPC-H Q22 shape: scalar-avg filter + recency anti join
    "q_idle_customers" -> ((s, d) =>
      idleCustomers(Tables.customer(s, d), Tables.orders(s, d),
        "2000-01-01")),
    // TPC-H Q21 shape: EXISTS/NOT-EXISTS decorrelated into one
    // per-order aggregate
    "q_waiting_suppliers" -> ((s, d) =>
      waitingSuppliers(Tables.lineitem(s, d), Tables.orders(s, d))),
    "q_date_funcs" -> ((s, d) => dateFuncs(Tables.orders(s, d))),
    // the operator returns real arrays; the registered check projects
    // them to CSV (fixed-point cents) because the driver's comparator
    // can't sort array-typed cells — values compared are identical
    "q_array_funcs" -> ((s, d) => {
      def csvQ(c: org.apache.spark.sql.Column) =
        concat_ws(",", transform(c, x => floor(x * 100).cast("string")))
      arrayFuncs(Tables.lineitem(s, d))
        .select(col("l_orderkey"), csvQ(col("qtys")).as("qtys_csv"),
          col("n_items"), col("min_qty"), col("max_qty"),
          col("has_qty15"), csvQ(col("two_smallest")).as("two_smallest_csv"))
        .orderBy(col("l_orderkey"))
    }),
    "q_string_funcs" -> ((s, d) => stringFuncs(Tables.nation(s, d))),
    "q_grouping_sets" -> ((s, d) =>
      groupingSetsAgg(Tables.orders(s, d))),
    "q_range_join" -> ((s, d) => rangeJoinBands(Tables.lineitem(s, d))),
    "q_rowkey_range_scan" -> ((s, d) =>
      rowkeyRangeScan(Tables.orders(s, d), 1000L, 2000L)),
    "q_zset_range" -> ((s, d) =>
      zsetRangeByScore(Tables.events(s, d), 200000000L, 300000000L)),
    // batch twin of the stream-stream interval join (same operator,
    // watermarks no-op on batch frames): click→view attribution
    "q_interval_join" -> ((s, d) => {
      val e = Tables.events(s, d)
      intervalJoin(
        e.filter(col("event_type") === "view"),
        e.filter(col("event_type") === "click"),
        maxDelay = "10 minutes", watermark = "10 minutes")
        .select(col("user_id"), col("view_id"), col("action_id"),
          unix_millis(col("view_ts")).as("view_ms"),
          unix_millis(col("action_ts")).as("action_ms"))
        .orderBy(col("view_id"), col("action_id"))
    }),
    "q_topk_agg" -> ((s, d) =>
      topKAgg(Tables.orders(s, d), 3)
        .select(col("o_orderpriority"),
          concat_ws(",", transform(col("top_orders"),
            _.cast("string"))).as("top_orders_csv"))
        .orderBy(col("o_orderpriority"))),
    "q_salted_agg" -> ((s, d) => saltedAgg(Tables.lineitem(s, d))),
    // ---- TPC-H completion wave (r15): the benchmark shapes the
    // registry did not yet cover; Q2/Q9/Q11/Q16/Q20 adapted to the
    // partsupp-less synth schema (deviations in each scaladoc) ----
    "q_returned_items" -> ((s, d) =>
      returnedItemReport(Tables.customer(s, d), Tables.orders(s, d),
        Tables.lineitem(s, d), Tables.nation(s, d))),
    "q_nation_trade" -> ((s, d) =>
      nationTradeVolume(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.customer(s, d), Tables.supplier(s, d),
        Tables.nation(s, d))),
    "q_product_profit" -> ((s, d) =>
      productTypeProfit(Tables.lineitem(s, d), Tables.orders(s, d),
        Tables.supplier(s, d), Tables.part(s, d), Tables.nation(s, d))),
    "q_promo_share" -> ((s, d) =>
      promoRevenueShare(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_top_supplier" -> ((s, d) =>
      topSupplier(Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q_min_cost_supplier" -> ((s, d) =>
      minCostSupplier(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d),
        Tables.region(s, d))),
    "q_important_parts" -> ((s, d) =>
      importantParts(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d), Tables.nation(s, d))),
    "q_supplier_variety" -> ((s, d) =>
      supplierPartVariety(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d))),
    "q_disjunctive_revenue" -> ((s, d) =>
      disjunctiveRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_excess_suppliers" -> ((s, d) =>
      excessSuppliers(Tables.lineitem(s, d), Tables.part(s, d),
        Tables.supplier(s, d))),
    "q_late_order_priority" -> ((s, d) =>
      lateOrderPriority(Tables.lineitem(s, d), Tables.orders(s, d))),
    // conjunctive-selectivity audit: independence-assumption estimate
    // vs actual joint ppm per predicate pair, one conditional scan
    "q_li_selectivity" -> ((s, d) =>
      Audit.selectivityAudit(Tables.lineitem(s, d),
        Seq(
          "flag_r" -> (col("l_returnflag") === "R"),
          "status_f" -> (col("l_linestatus") === "F"),
          "y1996" -> (year(col("l_shipdate")) === 1996),
          "qty10" -> (col("l_quantity") <= 10.0)),
        Seq("flag_r" -> "status_f", "flag_r" -> "y1996",
          "y1996" -> "qty10"))),
    // exact two-sample KS on DOLLAR-quantized o_totalprice between
    // the even/odd orderkey halves — quantizing upstream keeps the
    // merged value histogram domain-bounded (≤ max price dollars)
    // at any corpus size, per ksDrift's documented contract
    "q_orders_ks_drift" -> ((s, d) => {
      val o = Tables.orders(s, d)
        .select(col("o_orderkey"),
          floor(col("o_totalprice")).cast("double")
            .as("price_dollars"))
      Audit.ksDrift(
        o.filter(col("o_orderkey") % 2 === 0),
        o.filter(col("o_orderkey") % 2 === 1),
        "price_dollars")
    }),
    // functional-dependency audit: the key FD
    // c_custkey -> c_mktsegment holds (zero repair distance) while
    // c_nationkey -> c_mktsegment fails with a measured violation
    // ppm — both candidates in one union
    "q_cust_fd" -> ((s, d) =>
      Audit.fdAudit(Tables.customer(s, d), "c_custkey",
          "c_mktsegment")
        .unionByName(
          Audit.fdAudit(Tables.customer(s, d), "c_nationkey",
            "c_mktsegment"))
        .orderBy(col("fd"))),
    // exact winsorized mean of dollar-quantized order prices per
    // priority (5%/95% clip points from the per-group value
    // histogram, no per-row sort) vs the raw mean
    "q_orders_winsorized" -> ((s, d) =>
      Audit.winsorizedMean(
        Tables.orders(s, d)
          .select(col("o_orderpriority"),
            floor(col("o_totalprice")).cast("long").as("price_d")),
        "price_d", Seq("o_orderpriority"))
        .orderBy(col("o_orderpriority"))),
    // Benford first-digit audit on o_totalprice per priority class:
    // all arithmetic happens on the 5×9 (group, digit) rollup; the
    // only data-sized stage is the count groupBy
    "q_orders_benford" -> ((s, d) =>
      Audit.benfordAudit(Tables.orders(s, d), "o_totalprice",
        Seq("o_orderpriority"))
        .orderBy(col("o_orderpriority"), col("digit"))),
    // salted shuffle join must be row-identical to the plain join —
    // the oracle IS the unsalted form; the merge hint keeps the dim
    // off the broadcast path so the salted exchange actually runs
    // (RelationalSpec asserts the salt reaches the join keys)
    "q_salted_join_agg" -> ((s, d) =>
      saltedJoin(Tables.lineitem(s, d),
        Tables.part(s, d)
          .select(col("p_partkey").as("l_partkey"), col("p_brand"))
          .hint("merge"),
        Seq("l_partkey"), saltBuckets = 8)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,4)"))
            .cast("double").as("sum_qty"))
        .orderBy(col("p_brand"))),
    // PARTIAL salted join: only the skewAdvisor head's keys salt (hot
    // fact rows round-robin, hot DIM slice alone replicates per
    // bucket), residual joins plain, union restores the plain join —
    // the oracle IS the direct join, same as q_salted_join_agg
    // (salting is plan-only); forceShuffle keeps the salted exchange
    // real at oracle SF where the dim would otherwise broadcast
    "q_salted_join" -> ((s, d) =>
      Relational.skewJoin(
        Tables.lineitem(s, d),
        Tables.part(s, d)
          .select(col("p_partkey").as("l_partkey"), col("p_brand")),
        Seq("l_partkey"),
        hotKeys = Affinity.skewAdvisor(Tables.lineitem(s, d),
          col("l_partkey"), topK = 5)
          .select(col("key").as("l_partkey")),
        saltBuckets = 8, forceShuffle = true)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,4)"))
            .cast("double").as("sum_qty"))
        .orderBy(col("p_brand"))),
    // SQL frontend, market-share shape (TPC-H Q8 family): one
    // nation's revenue share inside each region-year, exact decimal
    // sums and integer-space ppm
    "q_sql_market_share" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      Tables.region(s, d).createOrReplaceTempView("region_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT r_name, CAST(year(o_orderdate) AS INT) AS o_year,
               COUNT(*) AS n_orders,
               CAST(CAST(SUM(CASE WHEN n_name = 'CHINA'
                   THEN CAST(o_totalprice AS DECIMAL(18,4))
                   ELSE CAST(0 AS DECIMAL(18,4)) END) AS STRING)
                 AS DOUBLE) AS cn_revenue,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                 AS STRING) AS DOUBLE) AS total_revenue,
               CAST(CAST(SUM(CASE WHEN n_name = 'CHINA'
                     THEN CAST(o_totalprice AS DECIMAL(18,4))
                     ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000
                   AS DECIMAL(38,0)) * 1000000
                 div CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                   * 10000 AS DECIMAL(38,0)) AS BIGINT)
                 AS cn_share_ppm
        FROM orders_v
        JOIN customer_v ON o_custkey = c_custkey
        JOIN nation_v ON c_nationkey = n_nationkey
        JOIN region_v ON n_regionkey = r_regionkey
        GROUP BY r_name, year(o_orderdate)
        ORDER BY r_name, o_year""")
    }),
    // SQL frontend (the reference has none — spark-sql was a declared
    // but unused dependency): TPC-H Q6 as a pure SQL string over a
    // registered view, same Catalyst plan as the DataFrame form.
    "q_sql_top_nations" -> ((s, d) => {
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        SELECT n_name, COUNT(*) AS n_customers,
               CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
                 AS total_bal
        FROM customer_v JOIN nation_v ON c_nationkey = n_nationkey
        GROUP BY n_name
        HAVING COUNT(*) > 10
        ORDER BY total_bal DESC, n_name LIMIT 10""")
    }),
    // window function through the SQL frontend; the share's window sum
    // stays DECIMAL (exact, order-independent) and only the final
    // division runs in double
    "q_sql_revenue_share" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      Tables.orders(s, d).createOrReplaceTempView("orders_v")
      Tables.customer(s, d).createOrReplaceTempView("customer_v")
      Tables.nation(s, d).createOrReplaceTempView("nation_v")
      s.sql("""
        WITH nr AS (
          SELECT n_name,
                 SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev_d
          FROM lineitem_v
            JOIN orders_v   ON l_orderkey = o_orderkey
            JOIN customer_v ON o_custkey = c_custkey
            JOIN nation_v   ON c_nationkey = n_nationkey
          GROUP BY n_name)
        SELECT n_name, CAST(CAST(rev_d AS STRING) AS DOUBLE) AS rev,
               CAST(CAST(rev_d AS STRING) AS DOUBLE) /
                 CAST(CAST(SUM(rev_d) OVER () AS STRING) AS DOUBLE) AS share
        FROM nr ORDER BY n_name""")
    }),
    "q_sql_forecast_revenue" -> ((s, d) => {
      Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
      s.sql("""
        SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
                        CAST(l_discount AS DECIMAL(18,4))) AS STRING) AS DOUBLE)
                 AS revenue,
               COUNT(*) AS n
        FROM lineitem_v
        WHERE l_shipdate >= TIMESTAMP '1994-01-01'
          AND l_shipdate < TIMESTAMP '1995-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    }),
    // rows-only: HLL estimates are engine-specific
    "q_approx_distinct" -> ((s, d) =>
      approxDistinct(Tables.lineitem(s, d)))
  )

  val oracle: Map[String, String] = Map(
    // Wilson bound as ONE fixed double expression tree mirrored
    // token-for-token from the Spark op (identical IEEE fold);
    // counts exact BIGINT throughout
    "q_supplier_sla_wilson" ->
      """WITH s AS (
        |  SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n_shipments,
        |    CAST(SUM(CASE WHEN CAST(l_shipdate AS DATE)
        |        - CAST(o_orderdate AS DATE) <= 60
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1),
        |sc AS (
        |  SELECT l_suppkey, n_shipments, n_ontime,
        |    n_ontime * 1000000 // n_shipments AS otif_ppm,
        |    CAST(FLOOR(1000000.0 * ((CAST(n_ontime AS DOUBLE)
        |      + 1.9208 - 1.96 * SQRT(CAST(n_ontime AS DOUBLE)
        |      * CAST(n_shipments - n_ontime AS DOUBLE)
        |      / CAST(n_shipments AS DOUBLE) + 0.9604))
        |      / (CAST(n_shipments AS DOUBLE) + 3.8416)))
        |      AS BIGINT) AS wilson_lb_ppm
        |  FROM s),
        |top AS (SELECT * FROM sc
        |        ORDER BY wilson_lb_ppm DESC, l_suppkey LIMIT 20)
        |SELECT t.l_suppkey AS s_suppkey, su.s_name,
        |  t.n_shipments, t.n_ontime,
        |  CAST(t.otif_ppm AS BIGINT) AS otif_ppm, t.wilson_lb_ppm
        |FROM top t JOIN supplier su ON su.s_suppkey = t.l_suppkey
        |ORDER BY t.wilson_lb_ppm DESC, t.l_suppkey""".stripMargin,
    // the q20 trig table is GENERATED from the same Scala literals
    // the op consumes (the JL shared-literal discipline — libm cos
    // is not identically rounded across engines, so neither side
    // calls it at query time); sign-split // for the negative
    // correlation numerators
    "q_events_periodogram" -> {
      val lutRows = Audit.periodogramLut(2 to 14)
        .map { case (p, ph, cq, sq) => s"($p, $ph, $cq, $sq)" }
        .mkString(", ")
      def sdiv(num: String, den: String) =
        s"""CASE WHEN ($num) < 0
           | THEN -CAST((-($num)) // ($den) AS BIGINT)
           | ELSE CAST(($num) // ($den) AS BIGINT) END"""
          .stripMargin.replace("\n", "")
      s"""WITH lut(period, phase, cosq, sinq) AS (VALUES $lutRows),
         |daily AS (
         |  SELECT event_type,
         |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
         |      AS d,
         |    CAST(COUNT(*) * 1000 AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |sp AS (SELECT MIN(d) AS d0, MAX(d) AS d1 FROM daily),
         |ty AS (SELECT DISTINCT event_type FROM daily),
         |grid AS (
         |  SELECT ty.event_type,
         |    UNNEST(generate_series(0, sp.d1 - sp.d0)) AS t, sp.d0
         |  FROM ty CROSS JOIN sp),
         |filled AS (
         |  SELECT g.event_type, g.t, COALESCE(dl.x, 0) AS x
         |  FROM grid g LEFT JOIN daily dl
         |    ON dl.event_type = g.event_type AND dl.d = g.t + g.d0),
         |st AS (
         |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS tt,
         |    CAST(SUM(x) AS BIGINT) AS sx
         |  FROM filled GROUP BY 1),
         |corr AS (
         |  SELECT f.event_type, l.period,
         |    MAX(s.tt) AS n_days, MAX(s.sx) AS sx,
         |    SUM(CAST(f.x * s.tt - s.sx AS HUGEINT) * l.cosq)
         |      AS re_raw,
         |    SUM(CAST(f.x * s.tt - s.sx AS HUGEINT) * l.sinq)
         |      AS im_raw
         |  FROM filled f
         |  JOIN st s ON s.event_type = f.event_type
         |  JOIN lut l ON (f.t % l.period) = l.phase
         |  GROUP BY 1, 2),
         |q AS (
         |  SELECT event_type, CAST(period AS BIGINT) AS period,
         |    n_days,
         |    ${sdiv("re_raw", "sx * n_days")} AS re_q,
         |    ${sdiv("im_raw", "sx * n_days")} AS im_q
         |  FROM corr WHERE sx > 0)
         |SELECT event_type, period, n_days,
         |  re_q * re_q + im_q * im_q AS power
         |FROM q ORDER BY event_type, period""".stripMargin
    },
    // two filtered day rollups, |days|·15 calendar join, exact
    // HUGEINT moment skeleton, IEEE only at the final r_milli —
    // the q_events_autocorr twin with a cross-series pair table
    "q_events_lead_lag" ->
      """WITH da AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) * 1000 AS BIGINT) AS x
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |db AS (
        |  SELECT CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) * 1000 AS BIGINT) AS x
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |a AS (
        |  SELECT l.lag, x, d + l.lag AS jd
        |  FROM da, (SELECT UNNEST([-7, -6, -5, -4, -3, -2, -1, 0,
        |    1, 2, 3, 4, 5, 6, 7]) AS lag) l),
        |p AS (
        |  SELECT a.lag, a.x, b.x AS y
        |  FROM a JOIN db b ON b.d = a.jd),
        |m AS (
        |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sx2,
        |    SUM(CAST(y AS HUGEINT) * y) AS sy2
        |  FROM p GROUP BY 1),
        |k AS (
        |  SELECT lag, n_days,
        |    CAST(sx // n_days AS BIGINT) AS mean_x_milli,
        |    CAST(sy // n_days AS BIGINT) AS mean_y_milli,
        |    CAST(sxy // n_days AS BIGINT) AS e_xy_m2,
        |    CAST(sx2 // n_days AS BIGINT) AS e_x2_m2,
        |    CAST(sy2 // n_days AS BIGINT) AS e_y2_m2
        |  FROM m)
        |SELECT CAST(lag AS BIGINT) AS lag, n_days, mean_x_milli,
        |  mean_y_milli, e_xy_m2, e_x2_m2, e_y2_m2,
        |  e_xy_m2 - mean_x_milli * mean_y_milli AS cov_m2,
        |  e_x2_m2 - mean_x_milli * mean_x_milli AS var_x_m2,
        |  e_y2_m2 - mean_y_milli * mean_y_milli AS var_y_m2,
        |  CASE WHEN e_x2_m2 - mean_x_milli * mean_x_milli > 0
        |      AND e_y2_m2 - mean_y_milli * mean_y_milli > 0
        |    THEN CAST(FLOOR(CAST(e_xy_m2
        |        - mean_x_milli * mean_y_milli AS DOUBLE) * 1000.0
        |      / sqrt(CAST(e_x2_m2 - mean_x_milli * mean_x_milli
        |          AS DOUBLE)
        |        * CAST(e_y2_m2 - mean_y_milli * mean_y_milli
        |          AS DOUBLE)))
        |      AS BIGINT)
        |  END AS r_milli
        |FROM k ORDER BY lag""".stripMargin,
    "q_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
         |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_base_price,
         |  $decRev AS sum_disc_price,
         |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
         |  CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) / COUNT(l_discount) AS avg_disc,
         |  COUNT(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_rollup_agg" ->
      """SELECT n_name, c_mktsegment, COUNT(*) AS n_cust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)
        |ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST""".stripMargin,
    "q_cube_agg" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    "q_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, $decRev AS revenue
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15'
         |  AND l_shipdate > TIMESTAMP '1995-03-15'
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey
         |LIMIT 10""".stripMargin,
    "q_revenue_by_nation" ->
      s"""SELECT n_name, $decRev AS revenue, COUNT(*) AS n_items
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON o_orderkey = l_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_broadcast_join_agg" ->
      """SELECT p_brand,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_semi_join" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey
        |                    AND o_orderpriority = '1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q_outer_join_agg" ->
      """SELECT c_custkey, c_name, COUNT(o_orderkey) AS n_orders,
        |  COALESCE(CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE), 0.0) AS sum_spent
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey, c_name ORDER BY c_custkey""".stripMargin,
    "q_top_orders_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_event_window_funcs" ->
      """SELECT event_id, user_id, event_type,
        |  LAG(event_type) OVER w AS prev_type,
        |  LEAD(event_type) OVER w AS next_type,
        |  CAST(ROW_NUMBER() OVER w AS INT) AS seq,
        |  CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS running_value
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, seq""".stripMargin,
    "q_rank_suppliers" ->
      """SELECT s_suppkey, s_name, n_name, s_acctbal,
        |  CAST(RANK() OVER w AS INT) AS bal_rank,
        |  CAST(DENSE_RANK() OVER w AS INT) AS bal_dense_rank
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WINDOW w AS (ORDER BY s_acctbal DESC, s_suppkey)
        |ORDER BY bal_rank, s_suppkey""".stripMargin,
    "q_global_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin,
    "q_set_ops" ->
      """WITH c AS (SELECT DISTINCT c_nationkey AS nationkey FROM customer),
        |     s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
        |SELECT nationkey, 'both' AS op
        |  FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
        |UNION ALL
        |SELECT nationkey, 'customer_only' AS op
        |  FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
        |UNION ALL
        |SELECT nationkey, 'supplier_only' AS op
        |  FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
        |ORDER BY op, nationkey""".stripMargin,
    "q_scalar_funcs" ->
      """SELECT o_orderkey,
        |  UPPER(o_orderstatus) AS status_upper,
        |  'P:' || o_orderpriority AS prio_tag,
        |  SUBSTRING(o_orderpriority, 1, 1) AS prio_code,
        |  CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
        |  CAST(EXTRACT(year FROM o_orderdate) AS INT) AS o_year,
        |  CAST(EXTRACT(month FROM o_orderdate) AS INT) AS o_month,
        |  CAST(EXTRACT(day FROM o_orderdate) AS INT) AS o_day,
        |  DATE_TRUNC('month', o_orderdate) AS o_month_start,
        |  CASE WHEN o_totalprice > 150000 THEN 'big'
        |       WHEN o_totalprice > 50000 THEN 'mid'
        |       ELSE 'small' END AS size_class
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_events_per_day" ->
      """SELECT DATE_TRUNC('day', ts) AS day, event_type, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_quality_assertions" ->
      """WITH m AS (
        |  SELECT COUNT(*) AS n, COUNT(l_shipdate) AS c_ship,
        |    COUNT(DISTINCT (l_orderkey, l_linenumber)) AS u_ol,
        |    CAST(MIN(l_quantity) AS DOUBLE) AS min_q,
        |    CAST(MAX(l_quantity) AS DOUBLE) AS max_q,
        |    CAST(MAX(l_discount) AS DOUBLE) AS max_d,
        |    CAST(MIN(l_extendedprice) AS DOUBLE) AS min_p
        |  FROM lineitem),
        |r AS (
        |  SELECT CAST(COUNT(*) FILTER (p.p_partkey IS NOT NULL)
        |      AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS v
        |  FROM lineitem l LEFT JOIN (SELECT DISTINCT p_partkey
        |    FROM part) p ON l.l_partkey = p.p_partkey)
        |SELECT * FROM (
        |  SELECT 'completeness:l_shipdate' AS check_name,
        |    CAST(c_ship AS DOUBLE) / CAST(n AS DOUBLE) AS value,
        |    CAST(1.0 AS DOUBLE) AS threshold,
        |    CAST(c_ship AS DOUBLE) / CAST(n AS DOUBLE) >= 1.0 AS passed
        |  FROM m
        |  UNION ALL
        |  SELECT 'uniqueness:l_orderkey,l_linenumber',
        |    CAST(u_ol AS DOUBLE) / CAST(n AS DOUBLE),
        |    CAST(1.0 AS DOUBLE),
        |    CAST(u_ol AS DOUBLE) / CAST(n AS DOUBLE) >= 1.0 FROM m
        |  UNION ALL
        |  SELECT 'min:l_quantity', min_q, CAST(1.0 AS DOUBLE),
        |    min_q >= 1.0 FROM m
        |  UNION ALL
        |  SELECT 'max:l_quantity', max_q, CAST(50.0 AS DOUBLE),
        |    max_q <= 50.0 FROM m
        |  UNION ALL
        |  SELECT 'max:l_discount', max_d, CAST(0.05 AS DOUBLE),
        |    max_d <= 0.05 FROM m
        |  UNION ALL
        |  SELECT 'min:l_extendedprice', min_p, CAST(0.0 AS DOUBLE),
        |    min_p >= 0.0 FROM m
        |  UNION ALL
        |  SELECT 'ri:l_partkey->p_partkey', v, CAST(1.0 AS DOUBLE),
        |    v >= 1.0 FROM r)
        |ORDER BY check_name""".stripMargin,
    "q_events_attribution" ->
      """WITH e AS (
        |  SELECT event_id, user_id, epoch_ms(ts) AS ms, event_type
        |  FROM events
        |  WHERE event_type IN ('purchase', 'click', 'view')),
        |s AS (
        |  SELECT event_id, user_id, ms, event_type,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN ms END IGNORE NULLS) OVER w AS t_ms,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_id END IGNORE NULLS) OVER w AS t_id,
        |    last_value(CASE WHEN event_type IN ('click', 'view')
        |      THEN event_type END IGNORE NULLS) OVER w AS t_type
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
        |c AS (
        |  SELECT *,
        |    (t_ms IS NOT NULL AND ms - t_ms <= 259200000) AS ok
        |  FROM s WHERE event_type = 'purchase')
        |SELECT event_id, user_id, ms AS conv_ms,
        |  CASE WHEN ok THEN t_id END AS touch_event_id,
        |  CASE WHEN ok THEN t_type END AS touch_type,
        |  CASE WHEN ok THEN ms - t_ms END AS gap_ms,
        |  ok AS attributed
        |FROM c ORDER BY event_id""".stripMargin,
    "q_events_deltas" ->
      """WITH daily AS (
        |  SELECT event_type, DATE_TRUNC('day', ts) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, n,
        |    LAG(n) OVER (PARTITION BY event_type ORDER BY day)
        |      AS prev_n
        |  FROM daily)
        |SELECT event_type, day, n, prev_n, n - prev_n AS delta,
        |  CAST(SIGN(n - prev_n) AS BIGINT)
        |    * ((ABS(n - prev_n) * 1000000) // prev_n) AS delta_ppm
        |FROM l ORDER BY event_type, day""".stripMargin,
    "q_window_distribution_funcs" ->
      """SELECT s_suppkey, s_nationkey, s_acctbal,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  first_value(s_acctbal) OVER (w ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS min_so_far,
        |  last_value(s_acctbal) OVER (w ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS cur
        |FROM supplier
        |WINDOW w AS (PARTITION BY s_nationkey
        |  ORDER BY s_acctbal, s_suppkey)
        |ORDER BY s_nationkey, s_acctbal, s_suppkey""".stripMargin,
    "q_orders_repeat_interval" ->
      """WITH g AS (
        |  SELECT o_custkey, o_orderkey,
        |    CAST(date_diff('day', LAG(o_orderdate) OVER (
        |      PARTITION BY o_custkey
        |      ORDER BY o_orderdate, o_orderkey), o_orderdate)
        |      AS BIGINT) AS gap_days
        |  FROM orders),
        |gg AS (SELECT * FROM g WHERE gap_days IS NOT NULL),
        |r AS (
        |  SELECT gap_days,
        |    ROW_NUMBER() OVER (ORDER BY gap_days, o_custkey,
        |      o_orderkey) AS rn,
        |    COUNT(*) OVER () AS cnt
        |  FROM gg)
        |SELECT MAX(cnt) AS n_gaps,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.25) THEN gap_days END)
        |    AS p25,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN gap_days END)
        |    AS p50,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.9) THEN gap_days END)
        |    AS p90,
        |  MAX(gap_days) AS max_gap
        |FROM r""".stripMargin,
    "q_small_qty_revenue" ->
      """WITH pp AS (
        |  SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'),
        |li AS (
        |  SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        |  FROM lineitem l JOIN pp ON l.l_partkey = pp.p_partkey),
        |a AS (
        |  SELECT l_partkey,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
        |  FROM li GROUP BY 1)
        |SELECT COUNT(*) AS n_small,
        |  CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) / 7.0 AS avg_yearly
        |FROM li JOIN a USING (l_partkey)
        |WHERE l_quantity < avg_qty * 0.2""".stripMargin,
    "q_large_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |    CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |      AS VARCHAR) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate,
        |  o_totalprice, total_qty
        |FROM orders
        |JOIN big ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey""".stripMargin,
    "q_waiting_suppliers" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_suppkey,
        |    date_diff('day', o_orderdate, l_shipdate) > 90 AS late
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
        |po AS (
        |  SELECT l_orderkey,
        |    COUNT(DISTINCT l_suppkey) AS n_suppliers,
        |    COUNT(DISTINCT CASE WHEN late THEN l_suppkey END)
        |      AS n_late,
        |    MAX(CASE WHEN late THEN l_suppkey END) AS late_supp
        |  FROM li GROUP BY 1)
        |SELECT late_supp AS s_suppkey, COUNT(*) AS numwait
        |FROM po WHERE n_suppliers > 1 AND n_late = 1
        |GROUP BY 1
        |ORDER BY numwait DESC, s_suppkey
        |LIMIT 10""".stripMargin,
    "q_idle_customers" ->
      """WITH ab AS (
        |  SELECT CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) / COUNT(c_acctbal) AS avg_bal
        |  FROM customer WHERE c_acctbal > 0.0),
        |recent AS (
        |  SELECT DISTINCT o_custkey FROM orders
        |  WHERE o_orderdate >= DATE '2000-01-01')
        |SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) AS totacctbal
        |FROM customer CROSS JOIN ab
        |WHERE c_acctbal > ab.avg_bal
        |  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,
    "q_shipping_delay" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (date_diff('day', o_orderdate, l_shipdate)
        |    > 90) AS late_count,
        |  COUNT(*) FILTER (date_diff('day', o_orderdate, l_shipdate)
        |    <= 90) AS ontime_count,
        |  COUNT(*) FILTER (date_diff('day', o_orderdate, l_shipdate)
        |    > 90) * 1000000
        |    // (COUNT(*) FILTER (date_diff('day', o_orderdate,
        |         l_shipdate) > 90)
        |       + COUNT(*) FILTER (date_diff('day', o_orderdate,
        |         l_shipdate) <= 90)) AS late_ppm
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_li_discount_elasticity" ->
      """WITH b AS (
        |  SELECT CAST(round(l_discount * 100, 0) AS INT) AS x,
        |    CAST(floor(l_quantity * 1000) AS BIGINT) AS y
        |  FROM lineitem
        |  WHERE l_discount IS NOT NULL AND l_quantity IS NOT NULL),
        |s AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sum_x,
        |    CAST(SUM(y) AS BIGINT) AS sum_y,
        |    CAST(SUM(x * x) AS BIGINT) AS sum_xx,
        |    CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
        |  FROM b)
        |SELECT n, sum_x, sum_y, sum_xx,
        |  CAST(sxy AS BIGINT) AS sum_xy,
        |  CASE WHEN CAST(n AS HUGEINT) * sum_xx
        |       - CAST(sum_x AS HUGEINT) * sum_x = 0 THEN NULL
        |  ELSE CAST((CAST(n AS HUGEINT) * sxy
        |      - CAST(sum_x AS HUGEINT) * sum_y)
        |    // (CAST(n AS HUGEINT) * sum_xx
        |      - CAST(sum_x AS HUGEINT) * sum_x)
        |    AS BIGINT) END AS slope_qty_milli_per_centi
        |FROM s""".stripMargin,
    // TPC-H Q13 twin: COUNT(o_orderkey) over the left join
    "q_orders_custdist" ->
      """WITH cc AS (
        |  SELECT c.c_custkey,
        |    CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
        |  FROM customer c LEFT JOIN orders o
        |    ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey)
        |SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
        |FROM cc GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // per-year priority-mix chi-square vs pooled, per-cell floors
    "q_orders_priority_drift" ->
      """WITH cells AS (
        |  SELECT CAST(year(o_orderdate) AS BIGINT) AS period,
        |    o_orderpriority AS cat, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders GROUP BY 1, 2),
        |rt AS (SELECT period, CAST(SUM(n) AS BIGINT) AS row_t
        |       FROM cells GROUP BY 1),
        |ct AS (SELECT cat, CAST(SUM(n) AS BIGINT) AS col_t
        |       FROM cells GROUP BY 1),
        |g AS (SELECT CAST(SUM(n) AS BIGINT) AS grand FROM cells),
        |cc AS (
        |  SELECT c.period, r.row_t,
        |    CAST((CAST(c.n AS HUGEINT) * g.grand
        |        - CAST(r.row_t AS HUGEINT) * t.col_t)
        |      * (CAST(c.n AS HUGEINT) * g.grand
        |        - CAST(r.row_t AS HUGEINT) * t.col_t) * 1000
        |      // (CAST(g.grand AS HUGEINT) * r.row_t * t.col_t)
        |      AS BIGINT) AS cell_milli
        |  FROM cells c JOIN rt r USING (period)
        |  JOIN ct t USING (cat) CROSS JOIN g)
        |SELECT period, CAST(MAX(row_t) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_cats_seen,
        |  CAST(SUM(cell_milli) AS BIGINT) AS chi2_milli
        |FROM cc GROUP BY period ORDER BY period""".stripMargin,
    // first-vs-second calendar-half shipped quantity per part;
    // midpoint in epoch days from the feed's own min/max
    "q_part_velocity_trend" ->
      """WITH s AS (
        |  SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |      AS BIGINT) AS sd
        |  FROM lineitem),
        |m AS (SELECT (MIN(sd) + MAX(sd)) // 2 AS mid_day FROM s),
        |g AS (
        |  SELECT l_partkey,
        |    CAST(SUM(CASE WHEN sd <= mid_day THEN qty ELSE 0 END)
        |      AS BIGINT) AS qty_h1,
        |    CAST(SUM(CASE WHEN sd > mid_day THEN qty ELSE 0 END)
        |      AS BIGINT) AS qty_h2
        |  FROM s, m GROUP BY l_partkey)
        |SELECT l_partkey, qty_h1, qty_h2,
        |  qty_h2 * 1000 // qty_h1 AS trend_milli
        |FROM g WHERE qty_h1 > 0
        |ORDER BY trend_milli, l_partkey LIMIT 20""".stripMargin,
    "q_orders_backlog" ->
      """WITH life AS (
        |  SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS od,
        |    MAX(CAST(l.l_shipdate AS DATE)) AS close_d
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        |  GROUP BY 1, 2),
        |ev AS (
        |  SELECT od AS d, CAST(1 AS BIGINT) AS dl FROM life
        |  UNION ALL
        |  SELECT close_d, CAST(-1 AS BIGINT) FROM life),
        |dd AS (
        |  SELECT d, CAST(SUM(dl) AS BIGINT) AS delta
        |  FROM ev GROUP BY 1)
        |SELECT d, delta,
        |  CAST(SUM(delta) OVER (ORDER BY d
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS open_orders
        |FROM dd ORDER BY d""".stripMargin,
    "q_orders_cohort_ltv" ->
      """WITH f AS (
        |  SELECT o_custkey, MIN(o_orderdate) AS first_order
        |  FROM orders GROUP BY 1),
        |j AS (
        |  SELECT CAST(year(f.first_order) AS INT) AS cohort_year,
        |    CAST(year(o.o_orderdate) - year(f.first_order) AS INT)
        |      AS age_years,
        |    o.o_totalprice
        |  FROM orders o JOIN f USING (o_custkey)),
        |g AS (
        |  SELECT cohort_year, age_years, COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_d
        |  FROM j GROUP BY 1, 2)
        |SELECT cohort_year, age_years, n_orders,
        |  CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS revenue,
        |  CAST(CAST(SUM(rev_d) OVER (PARTITION BY cohort_year
        |    ORDER BY age_years ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS VARCHAR) AS DOUBLE) AS cum_revenue
        |FROM g ORDER BY cohort_year, age_years""".stripMargin,
    "q_events_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |b AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM ud),
        |spine AS (
        |  SELECT CAST(UNNEST(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM b),
        |j AS (
        |  SELECT s.day, u.user_id,
        |    date_diff('day', u.day, s.day) AS dd
        |  FROM spine s LEFT JOIN ud u
        |    ON date_diff('day', u.day, s.day) BETWEEN 0 AND 27)
        |SELECT day,
        |  COUNT(DISTINCT user_id) FILTER (dd = 0) AS dau,
        |  COUNT(DISTINCT user_id) FILTER (dd <= 6) AS wau,
        |  COUNT(DISTINCT user_id) AS mau,
        |  CASE WHEN COUNT(DISTINCT user_id) > 0
        |    THEN COUNT(DISTINCT user_id) FILTER (dd = 0)
        |      * 1000000 // COUNT(DISTINCT user_id)
        |    ELSE 0 END AS stickiness_ppm
        |FROM j GROUP BY day ORDER BY day""".stripMargin,
    "q_quality_predicates" ->
      """WITH j AS (
        |  SELECT * FROM lineitem
        |  JOIN orders ON l_orderkey = o_orderkey),
        |m AS (
        |  SELECT COUNT(*) AS n,
        |    COUNT(*) FILTER (COALESCE(l_shipdate >= o_orderdate,
        |      FALSE)) AS p1,
        |    COUNT(*) FILTER (COALESCE(l_quantity <= 40.0, FALSE))
        |      AS p2,
        |    COUNT(*) FILTER (COALESCE(l_extendedprice > 0.0, FALSE))
        |      AS p3
        |  FROM j)
        |SELECT 'predicate:l_extendedprice > 0.0' AS check_name,
        |  CAST(p3 AS DOUBLE) / n AS value,
        |  1.0 AS threshold, CAST(p3 AS DOUBLE) / n >= 1.0 AS passed
        |FROM m
        |UNION ALL
        |SELECT 'predicate:l_quantity <= 40.0',
        |  CAST(p2 AS DOUBLE) / n, 1.0,
        |  CAST(p2 AS DOUBLE) / n >= 1.0 FROM m
        |UNION ALL
        |SELECT 'predicate:l_shipdate >= o_orderdate',
        |  CAST(p1 AS DOUBLE) / n, 1.0,
        |  CAST(p1 AS DOUBLE) / n >= 1.0 FROM m
        |ORDER BY check_name""".stripMargin,
    "q_events_forecast_backtest" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |dd AS (
        |  SELECT event_type, day, n,
        |    CAST(isodow(day) - 1 AS INT) AS dow
        |  FROM daily),
        |lastd AS (
        |  SELECT event_type, MAX(day) AS last_day
        |  FROM dd GROUP BY 1),
        |hist AS (
        |  SELECT d.event_type,
        |    CAST(SUM(d.n) AS BIGINT) AS hist_total,
        |    COUNT(*) AS hist_days
        |  FROM dd d JOIN lastd l USING (event_type)
        |  WHERE d.day < l.last_day
        |    AND d.dow = CAST(isodow(l.last_day) - 1 AS INT)
        |  GROUP BY 1)
        |SELECT d.event_type, l.last_day, d.n AS actual,
        |  h.hist_total * 1000 // h.hist_days AS forecast_milli,
        |  CASE WHEN h.hist_days IS NOT NULL AND d.n > 0
        |    THEN abs(d.n * 1000 - h.hist_total * 1000
        |      // h.hist_days) * 1000 // (d.n * 1000)
        |    ELSE NULL END AS ape_milli
        |FROM dd d
        |JOIN lastd l ON d.event_type = l.event_type
        |  AND d.day = l.last_day
        |LEFT JOIN hist h ON d.event_type = h.event_type
        |ORDER BY d.event_type""".stripMargin,
    "q_profile_orders" ->
      """WITH p AS (
        |  SELECT 'o_orderkey' AS col_name,
        |    COUNT(*) - COUNT(o_orderkey) AS n_nulls,
        |    COUNT(DISTINCT o_orderkey) AS n_distinct,
        |    CAST(MIN(o_orderkey) AS VARCHAR) AS min_v,
        |    CAST(MAX(o_orderkey) AS VARCHAR) AS max_v,
        |    COUNT(*) AS n_rows
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', COUNT(*) - COUNT(o_custkey),
        |    COUNT(DISTINCT o_custkey),
        |    CAST(MIN(o_custkey) AS VARCHAR),
        |    CAST(MAX(o_custkey) AS VARCHAR), COUNT(*)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
        |    COUNT(DISTINCT o_orderstatus),
        |    CAST(MIN(o_orderstatus) AS VARCHAR),
        |    CAST(MAX(o_orderstatus) AS VARCHAR), COUNT(*)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderpriority',
        |    COUNT(*) - COUNT(o_orderpriority),
        |    COUNT(DISTINCT o_orderpriority),
        |    CAST(MIN(o_orderpriority) AS VARCHAR),
        |    CAST(MAX(o_orderpriority) AS VARCHAR), COUNT(*)
        |  FROM orders
        |  UNION ALL
        |  SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
        |    COUNT(DISTINCT o_orderdate),
        |    CAST(MIN(o_orderdate) AS VARCHAR),
        |    CAST(MAX(o_orderdate) AS VARCHAR), COUNT(*)
        |  FROM orders)
        |SELECT n_rows, col_name, n_nulls, n_distinct, min_v, max_v
        |FROM p ORDER BY col_name""".stripMargin,
    "q_events_freshness" ->
      """WITH per AS (
        |  SELECT event_type AS feed, COUNT(*) AS n_events,
        |    MAX(epoch_ms(ts)) AS last_ms
        |  FROM events GROUP BY 1),
        |g AS (SELECT MAX(epoch_ms(ts)) AS global_ms FROM events)
        |SELECT feed, n_events, last_ms,
        |  g.global_ms - last_ms AS lag_ms,
        |  g.global_ms - last_ms > 1800000 AS stale
        |FROM per CROSS JOIN g
        |ORDER BY feed""".stripMargin,
    "q_events_robust_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, DATE_TRUNC('day', ts) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |r1 AS (
        |  SELECT event_type, day, n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY n, day) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM daily),
        |med AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = CEIL(cnt / 2.0) THEN n END) AS med
        |  FROM r1 GROUP BY 1),
        |dev AS (
        |  SELECT d.event_type, d.day, d.n, m.med,
        |    ABS(d.n - m.med) AS dev
        |  FROM daily d JOIN med m USING (event_type)),
        |r2 AS (
        |  SELECT event_type, day, dev,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY dev, day) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
        |  FROM dev),
        |mad AS (
        |  SELECT event_type,
        |    MAX(CASE WHEN rn = CEIL(cnt / 2.0) THEN dev END) AS mad
        |  FROM r2 GROUP BY 1)
        |SELECT d.event_type, d.day, d.n, d.med, d.dev, m.mad,
        |  CASE WHEN m.mad > 0 THEN
        |    CAST(FLOOR(0.6745 * d.dev * 1048576.0) AS BIGINT)
        |      // m.mad END AS z_q20,
        |  CASE WHEN m.mad > 0 THEN
        |    ABS(CAST(FLOOR(0.6745 * d.dev * 1048576.0) AS BIGINT)
        |      // m.mad) > 3670016
        |    ELSE FALSE END AS anomaly
        |FROM dev d JOIN mad m USING (event_type)
        |ORDER BY d.event_type, d.day""".stripMargin,
    "q_events_anomaly" ->
      """WITH daily AS (
        |  SELECT event_type, DATE_TRUNC('day', ts) AS day,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |t AS (
        |  SELECT event_type, day, n,
        |    COUNT(n) OVER w AS t_n,
        |    SUM(n) OVER w AS t_sum,
        |    SUM(n * n) OVER w AS t_sumsq
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
        |s AS (
        |  SELECT event_type, day, n, t_n,
        |    CAST(t_sum AS DOUBLE) / CAST(t_n AS DOUBLE) AS mean,
        |    GREATEST(CAST(t_sumsq AS DOUBLE) / CAST(t_n AS DOUBLE)
        |      - (CAST(t_sum AS DOUBLE) / CAST(t_n AS DOUBLE))
        |        * (CAST(t_sum AS DOUBLE) / CAST(t_n AS DOUBLE)),
        |      0.0) AS var
        |  FROM t)
        |SELECT event_type, day, n, t_n,
        |  CASE WHEN t_n >= 3 AND var > 0.0 THEN
        |    CAST(FLOOR((CAST(n AS DOUBLE) - mean) / SQRT(var)
        |      * 1048576.0) AS BIGINT) END AS z_q20,
        |  CASE WHEN t_n >= 3 AND var > 0.0 THEN
        |    ABS(CAST(FLOOR((CAST(n AS DOUBLE) - mean) / SQRT(var)
        |      * 1048576.0) AS BIGINT)) > 3145728
        |    ELSE FALSE END AS anomaly
        |FROM s ORDER BY event_type, day""".stripMargin,
    "q_events_retention" ->
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |c AS (SELECT user_id, MIN(day) AS cohort_day
        |      FROM days GROUP BY 1)
        |SELECT c.cohort_day,
        |  CAST(date_diff('day', c.cohort_day, d.day) AS INT)
        |    AS day_offset,
        |  COUNT(DISTINCT d.user_id) AS n_users
        |FROM days d JOIN c ON d.user_id = c.user_id
        |WHERE date_diff('day', c.cohort_day, d.day) <= 7
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_sliding_window" ->
      """WITH b AS (
        |  SELECT time_bucket(INTERVAL '30 minutes', ts) AS b0, value
        |  FROM events),
        |x AS (
        |  SELECT UNNEST([b0, b0 - INTERVAL '30 minutes']) AS w_start,
        |         value
        |  FROM b)
        |SELECT w_start, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM x GROUP BY w_start ORDER BY w_start""".stripMargin,
    "q_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id, value,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM o),
        |s AS (
        |  SELECT *, SUM(new_sess) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS sess_seq
        |  FROM m)
        |SELECT user_id, CAST(sess_seq AS BIGINT) AS sess_seq,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE) AS sum_value
        |FROM s GROUP BY user_id, sess_seq
        |ORDER BY user_id, sess_seq""".stripMargin,
    // the q_sessionize session fragment -> per-epoch-day split/clip
    // in BIGINT ms -> boundary sweep (starts before ends at equal
    // ms) -> per-day running max; // on non-negative BIGINTs ≡ div
    // one LAG pass; each threshold counts null-gap rows (stream
    // heads) plus gaps above it — identical conditional over the
    // same gap scan in both engines
    "q_events_session_gap_curve" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |g AS (
        |  SELECT user_id, CASE WHEN prev_ts IS NULL THEN NULL
        |    ELSE epoch_ms(ts) - epoch_ms(prev_ts) END AS gap_ms
        |  FROM o),
        |t AS (SELECT UNNEST([900, 1800, 3600]) AS gap_s)
        |SELECT CAST(t.gap_s AS BIGINT) AS gap_s,
        |  CAST(COUNT(DISTINCT g.user_id) AS BIGINT) AS n_users,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN g.gap_ms IS NULL
        |      OR g.gap_ms > t.gap_s * 1000 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_sessions,
        |  CAST(CASE WHEN SUM(CASE WHEN g.gap_ms IS NULL
        |      OR g.gap_ms > t.gap_s * 1000 THEN 1 ELSE 0 END) > 0
        |    THEN CAST(COUNT(*) AS HUGEINT) * 1000000
        |      // SUM(CASE WHEN g.gap_ms IS NULL
        |          OR g.gap_ms > t.gap_s * 1000 THEN 1 ELSE 0 END)
        |    ELSE 0 END AS BIGINT) AS events_per_session_ppm
        |FROM t, g GROUP BY t.gap_s ORDER BY gap_s""".stripMargin,
    // Lindley max-plus closed form: P = running service sum, M =
    // running max of (a − P_prev); wait = P − s + M − a; windows
    // order by (epoch-ms, event_id) in BOTH engines (sub-ms ts
    // precision must not influence the fold order)
    "q_events_queue_backlog" ->
      """WITH s0 AS (
        |  SELECT event_type, event_id, epoch_ms(ts) AS a_ms,
        |    GREATEST(0, CAST(FLOOR(COALESCE(value, 0) * 1000)
        |      AS BIGINT)) AS s_ms
        |  FROM events),
        |w1 AS (
        |  SELECT *, SUM(s_ms) OVER (PARTITION BY event_type
        |      ORDER BY a_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS p_ms
        |  FROM s0),
        |w2 AS (
        |  SELECT *, a_ms - COALESCE(LAG(p_ms) OVER (
        |      PARTITION BY event_type ORDER BY a_ms, event_id), 0)
        |    AS q_ms
        |  FROM w1),
        |w3 AS (
        |  SELECT *, MAX(q_ms) OVER (PARTITION BY event_type
        |      ORDER BY a_ms, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS m_ms
        |  FROM w2),
        |w4 AS (
        |  SELECT *, p_ms - s_ms + m_ms - a_ms AS wait_ms FROM w3)
        |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(MAX(wait_ms) AS BIGINT) AS max_wait_ms,
        |  CAST(SUM(wait_ms) AS BIGINT) AS total_wait_ms,
        |  CAST(CASE WHEN MAX(a_ms + wait_ms + s_ms) > MIN(a_ms)
        |    THEN CAST(SUM(s_ms) AS HUGEINT) * 1000000
        |      // (MAX(a_ms + wait_ms + s_ms) - MIN(a_ms))
        |    ELSE 1000000 END AS BIGINT) AS utilization_ppm
        |FROM w4 GROUP BY event_type
        |ORDER BY event_type""".stripMargin,
    "q_events_peak_concurrency" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_id,
        |    LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
        |      AS prev_ts
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN prev_ts IS NULL
        |      OR epoch_ms(ts) - epoch_ms(prev_ts) > 1800000
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM o),
        |s AS (
        |  SELECT *, SUM(new_sess) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS sess_seq
        |  FROM m),
        |g AS (
        |  SELECT user_id, sess_seq,
        |    epoch_ms(MIN(ts)) AS s_ms, epoch_ms(MAX(ts)) AS e_ms
        |  FROM s GROUP BY 1, 2),
        |pd AS (
        |  SELECT user_id, sess_seq, s_ms, e_ms,
        |    UNNEST(generate_series(s_ms // 86400000,
        |      e_ms // 86400000)) AS day
        |  FROM g),
        |cl AS (
        |  SELECT user_id, sess_seq, day,
        |    GREATEST(s_ms, day * 86400000) AS cs_ms,
        |    LEAST(e_ms, day * 86400000 + 86399999) AS ce_ms
        |  FROM pd),
        |b AS (
        |  SELECT day, cs_ms AS ts_ms, 1 AS delta, user_id, sess_seq
        |  FROM cl
        |  UNION ALL
        |  SELECT day, ce_ms, -1, user_id, sess_seq FROM cl),
        |r AS (
        |  SELECT day, SUM(delta) OVER (PARTITION BY day
        |    ORDER BY ts_ms, delta DESC, user_id, sess_seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
        |  FROM b)
        |SELECT CAST(day AS BIGINT) AS day,
        |  CAST(COUNT(*) // 2 AS BIGINT) AS n_sessions,
        |  CAST(MAX(run) AS BIGINT) AS peak_concurrency
        |FROM r GROUP BY day ORDER BY day""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts,
        |  (SELECT MAX(s.ts) FROM events s
        |   WHERE s.user_id = e.user_id AND s.event_type = 'signup'
        |     AND s.ts <= e.ts) AS last_signup_ts
        |FROM events e WHERE e.event_type <> 'signup'
        |ORDER BY e.event_id""".stripMargin,
    "q_group_percentiles" ->
      """WITH r AS (
        |  SELECT o_orderpriority, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice, o_orderkey) AS rn,
        |    COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
        |  FROM orders)
        |SELECT o_orderpriority,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN o_totalprice END) AS p50,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.9) THEN o_totalprice END) AS p90,
        |  MAX(cnt) AS n
        |FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'F'
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS F,
        |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'O'
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS O,
        |  CAST(CAST(SUM(CASE WHEN o_orderstatus = 'P'
        |    THEN CAST(o_totalprice AS DECIMAL(18,4)) END) AS VARCHAR) AS DOUBLE) AS P
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_json_funcs" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k,
        |  CAST(LENGTH(props) AS INT) AS props_len,
        |  CAST(CAST(json_extract_string(props, '$.k') AS INT) % 10
        |    AS INT) AS k_mod10
        |FROM events ORDER BY event_id""".stripMargin,
    "q_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |    AS sum_price
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST,
        |  o_orderpriority NULLS FIRST""".stripMargin,
    "q_range_join" ->
      """WITH bands(band_id, band_name, lo, hi) AS (
        |  VALUES (CAST(1 AS BIGINT), 'low', 0.0, 15.0),
        |         (CAST(2 AS BIGINT), 'mid', 15.0, 35.0),
        |         (CAST(3 AS BIGINT), 'high', 35.0, 1e9))
        |SELECT band_id, band_name, COUNT(*) AS n,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |    AS sum_qty
        |FROM lineitem JOIN bands
        |  ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band_id, band_name ORDER BY band_id""".stripMargin,
    "q_rowkey_range_scan" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderdate
        |FROM orders
        |WHERE o_orderkey BETWEEN 1000 AND 2000
        |ORDER BY o_orderkey""".stripMargin,
    "q_interval_join" ->
      """WITH v AS (
        |  SELECT user_id, event_id AS view_id, ts AS view_ts
        |  FROM events WHERE event_type = 'view'),
        |a AS (
        |  SELECT user_id, event_id AS action_id, ts AS action_ts
        |  FROM events WHERE event_type = 'click')
        |SELECT v.user_id, view_id, action_id,
        |  epoch_ms(view_ts) AS view_ms,
        |  epoch_ms(action_ts) AS action_ms
        |FROM v JOIN a ON v.user_id = a.user_id
        |  AND a.action_ts >= v.view_ts
        |  AND a.action_ts <= v.view_ts + INTERVAL '10 minutes'
        |ORDER BY view_id, action_id""".stripMargin,
    "q_zset_range" ->
      """WITH s AS (
        |  SELECT user_id AS member,
        |    CAST(SUM(CAST(FLOOR(value * 65536) AS BIGINT)) AS BIGINT)
        |      AS score_q16
        |  FROM events GROUP BY 1),
        |r AS (
        |  SELECT member, score_q16,
        |    CAST(DENSE_RANK() OVER (ORDER BY score_q16 DESC) AS INT)
        |      AS zrank
        |  FROM s WHERE score_q16 BETWEEN 200000000 AND 300000000)
        |SELECT member, score_q16, zrank FROM r
        |ORDER BY score_q16 DESC, member""".stripMargin,
    "q_topk_agg" ->
      """SELECT o_orderpriority,
        |  array_to_string(list_transform(
        |    (list(o_orderkey ORDER BY o_totalprice DESC, o_orderkey))[1:3],
        |    x -> CAST(x AS VARCHAR)), ',') AS top_orders_csv
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,
    "q_array_funcs" ->
      """WITH g AS (
        |  SELECT l_orderkey, list_sort(list(l_quantity)) AS qtys
        |  FROM lineitem GROUP BY l_orderkey)
        |SELECT l_orderkey,
        |  array_to_string(list_transform(qtys,
        |    x -> CAST(CAST(FLOOR(x * 100) AS BIGINT) AS VARCHAR)), ',')
        |    AS qtys_csv,
        |  CAST(len(qtys) AS INT) AS n_items,
        |  qtys[1] AS min_qty,
        |  qtys[-1] AS max_qty,
        |  list_contains(qtys, 15.0) AS has_qty15,
        |  array_to_string(list_transform(qtys[1:2],
        |    x -> CAST(CAST(FLOOR(x * 100) AS BIGINT) AS VARCHAR)), ',')
        |    AS two_smallest_csv
        |FROM g ORDER BY l_orderkey""".stripMargin,
    "q_date_funcs" ->
      """SELECT o_orderkey,
        |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS due_date,
        |  CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS quarter_later,
        |  CAST(datediff('day', CAST(o_orderdate AS DATE),
        |                DATE '1998-12-31') AS INT) AS days_to_eoy,
        |  CAST(EXTRACT(quarter FROM o_orderdate) AS INT) AS o_quarter,
        |  CAST(EXTRACT(dow FROM o_orderdate) + 1 AS INT) AS o_dow,
        |  CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_string_funcs" ->
      """SELECT n_name,
        |  lpad(n_name, 20, '.') AS padded,
        |  translate(n_name, 'AEIOU', 'aeiou') AS lower_vowels,
        |  CAST(levenshtein(n_name, 'UNITED STATES') AS INT) AS dist_us,
        |  reverse(n_name) AS reversed,
        |  CAST(len(string_split(n_name, ' ')) AS INT) AS n_words,
        |  upper(substring(lower(n_name), 1, 1)) ||
        |    substring(lower(n_name), 2, 100) AS title_case
        |FROM nation ORDER BY n_name""".stripMargin,
    "q_funnel" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS c_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS p_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |  GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM v) AS n_view,
        |       (SELECT COUNT(*) FROM c) AS n_click_after_view,
        |       (SELECT COUNT(*) FROM p) AS n_purchase_after_click""".stripMargin,
    "q_events_funnel_time" ->
      """WITH v AS (
        |  SELECT user_id, MIN(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, MIN(e.ts) AS c_ts
        |  FROM events e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, MIN(e.ts) AS p_ts
        |  FROM events e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |  GROUP BY e.user_id),
        |lat AS (
        |  SELECT v.user_id,
        |    epoch_ms(c.c_ts) - epoch_ms(v.v_ts) AS click_ms,
        |    epoch_ms(p.p_ts) - epoch_ms(c.c_ts) AS purchase_ms,
        |    epoch_ms(p.p_ts) - epoch_ms(v.v_ts) AS total_ms
        |  FROM v JOIN c USING (user_id) JOIN p USING (user_id)),
        |u AS (
        |  SELECT user_id, 'click_ms' AS metric, click_ms AS val
        |    FROM lat
        |  UNION ALL SELECT user_id, 'purchase_ms', purchase_ms
        |    FROM lat
        |  UNION ALL SELECT user_id, 'total_ms', total_ms FROM lat),
        |r AS (
        |  SELECT metric, val,
        |    ROW_NUMBER() OVER (PARTITION BY metric
        |      ORDER BY val, user_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY metric) AS cnt
        |  FROM u)
        |SELECT metric, MAX(cnt) AS n_users,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.25) THEN val END) AS p25,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.5) THEN val END) AS p50,
        |  MAX(CASE WHEN rn = CEIL(cnt * 0.9) THEN val END) AS p90,
        |  MAX(val) AS max_v
        |FROM r GROUP BY metric ORDER BY metric""".stripMargin,
    "q_sql_top_nations" ->
      """SELECT n_name, COUNT(*) AS n_customers,
        |  CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |    AS total_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |HAVING COUNT(*) > 10
        |ORDER BY total_bal DESC, n_name LIMIT 10""".stripMargin,
    "q_sql_revenue_share" ->
      """WITH nr AS (
        |  SELECT n_name,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS rev_d
        |  FROM lineitem
        |    JOIN orders   ON l_orderkey = o_orderkey
        |    JOIN customer ON o_custkey = c_custkey
        |    JOIN nation   ON c_nationkey = n_nationkey
        |  GROUP BY n_name)
        |SELECT n_name, CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) AS rev,
        |  CAST(CAST(rev_d AS VARCHAR) AS DOUBLE) /
        |    CAST(CAST(SUM(rev_d) OVER () AS VARCHAR) AS DOUBLE) AS share
        |FROM nr ORDER BY n_name""".stripMargin,
    "q_sql_forecast_revenue" ->
      """SELECT CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) *
        |                CAST(l_discount AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |         AS revenue,
        |       COUNT(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1994-01-01'
        |  AND l_shipdate < TIMESTAMP '1995-01-01'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q_orders_ks_drift" ->
      """WITH h1 AS (
        |  SELECT FLOOR(o_totalprice) AS v, COUNT(*) AS c1 FROM orders
        |  WHERE o_orderkey % 2 = 0 GROUP BY 1),
        |h2 AS (
        |  SELECT FLOOR(o_totalprice) AS v, COUNT(*) AS c2 FROM orders
        |  WHERE o_orderkey % 2 = 1 GROUP BY 1),
        |m AS (
        |  SELECT COALESCE(h1.v, h2.v) AS v,
        |    CAST(COALESCE(c1, 0) AS BIGINT) AS c1,
        |    CAST(COALESCE(c2, 0) AS BIGINT) AS c2
        |  FROM h1 FULL OUTER JOIN h2 ON h1.v = h2.v),
        |t AS (
        |  SELECT CAST(SUM(c1) AS BIGINT) AS n_ref,
        |    CAST(SUM(c2) AS BIGINT) AS n_cur FROM m),
        |c AS (
        |  SELECT v, SUM(c1) OVER (ORDER BY v) AS cum1,
        |    SUM(c2) OVER (ORDER BY v) AS cum2 FROM m),
        |d AS (
        |  SELECT v,
        |    ABS(t.n_cur * c.cum1 - t.n_ref * c.cum2) AS dn,
        |    t.n_ref, t.n_cur
        |  FROM c CROSS JOIN t)
        |SELECT n_ref, n_cur, CAST(MAX(dn) AS BIGINT) AS d_num,
        |  CAST(MAX(dn) AS BIGINT) * 1000000 // (n_ref * n_cur)
        |    AS ks_ppm,
        |  MIN(CASE WHEN dn = (SELECT MAX(dn) FROM d) THEN v END)
        |    AS at_value
        |FROM d GROUP BY n_ref, n_cur""".stripMargin,
    "q_cust_fd" ->
      """WITH fd AS (
        |  SELECT 'c_custkey->c_mktsegment' AS fd,
        |    CAST(c_custkey AS VARCHAR) AS a, c_mktsegment AS b
        |  FROM customer
        |  WHERE c_custkey IS NOT NULL AND c_mktsegment IS NOT NULL
        |  UNION ALL
        |  SELECT 'c_nationkey->c_mktsegment',
        |    CAST(c_nationkey AS VARCHAR), c_mktsegment
        |  FROM customer
        |  WHERE c_nationkey IS NOT NULL
        |    AND c_mktsegment IS NOT NULL),
        |pairs AS (
        |  SELECT fd, a, b, CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM fd GROUP BY 1, 2, 3),
        |perA AS (
        |  SELECT fd, a, CAST(SUM(ct) AS BIGINT) AS n_a,
        |    CAST(MAX(ct) AS BIGINT) AS max_b,
        |    CAST(COUNT(*) AS BIGINT) AS n_b_distinct
        |  FROM pairs GROUP BY 1, 2),
        |agg AS (
        |  SELECT fd, CAST(COUNT(*) AS BIGINT) AS n_keys,
        |    CAST(SUM(n_a) AS BIGINT) AS n_rows,
        |    CAST(SUM(n_a - max_b) AS BIGINT) AS violations,
        |    CAST(SUM(CASE WHEN n_b_distinct > 1 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS violating_keys
        |  FROM perA GROUP BY 1)
        |SELECT fd, n_rows, n_keys, violating_keys, violations,
        |  CAST(CAST(violations AS HUGEINT) * 1000000 // n_rows
        |    AS BIGINT) AS violation_ppm,
        |  violations = 0 AS holds
        |FROM agg ORDER BY fd""".stripMargin,
    "q_orders_winsorized" ->
      """WITH h AS (
        |  SELECT o_orderpriority,
        |    CAST(FLOOR(o_totalprice) AS BIGINT) AS v,
        |    CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM orders WHERE o_totalprice IS NOT NULL
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT *,
        |    CAST(SUM(ct) OVER (PARTITION BY o_orderpriority
        |      ORDER BY v) AS BIGINT) AS cum_le,
        |    CAST(SUM(ct) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS n
        |  FROM h),
        |k AS (
        |  SELECT *, (n * 50000 + 999999) // 1000000 AS k_lo,
        |    (n * 950000 + 999999) // 1000000 AS k_hi
        |  FROM r),
        |c AS (
        |  SELECT *,
        |    MIN(CASE WHEN cum_le >= k_lo THEN v END)
        |      OVER (PARTITION BY o_orderpriority) AS v_lo,
        |    MIN(CASE WHEN cum_le >= k_hi THEN v END)
        |      OVER (PARTITION BY o_orderpriority) AS v_hi
        |  FROM k)
        |SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n,
        |  CAST(MAX(v_lo) AS BIGINT) AS v_lo,
        |  CAST(MAX(v_hi) AS BIGINT) AS v_hi,
        |  CAST(CAST(SUM(ct * v) AS HUGEINT) * 1000 // MAX(n)
        |    AS BIGINT) AS raw_mean_milli,
        |  CAST(CAST(SUM(ct * GREATEST(LEAST(v, v_hi), v_lo))
        |    AS HUGEINT) * 1000 // MAX(n) AS BIGINT)
        |    AS wins_mean_milli
        |FROM c GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_orders_benford" ->
      """WITH b(digit, benford_ppm) AS (
        |  VALUES (1, 301029), (2, 176091), (3, 124938), (4, 96910),
        |         (5, 79181), (6, 66946), (7, 57991), (8, 51152),
        |         (9, 45757)),
        |c AS (
        |  SELECT o_orderpriority,
        |    CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM orders WHERE o_totalprice >= 1 GROUP BY 1, 2),
        |g AS (SELECT DISTINCT o_orderpriority FROM c),
        |dom AS (
        |  SELECT g.o_orderpriority, b.digit,
        |    CAST(b.benford_ppm AS BIGINT) AS benford_ppm
        |  FROM g CROSS JOIN b),
        |f AS (
        |  SELECT dom.o_orderpriority, dom.digit, dom.benford_ppm,
        |    CAST(COALESCE(c.n, 0) AS BIGINT) AS n
        |  FROM dom LEFT JOIN c
        |    ON dom.o_orderpriority = c.o_orderpriority
        |   AND dom.digit = c.digit),
        |w AS (
        |  SELECT o_orderpriority, digit, n, benford_ppm,
        |    CAST(SUM(n) OVER (PARTITION BY o_orderpriority)
        |      AS BIGINT) AS total
        |  FROM f),
        |o AS (
        |  SELECT o_orderpriority, digit, n, total, benford_ppm,
        |    CASE WHEN total > 0 THEN n * 1000000 // total
        |         ELSE CAST(0 AS BIGINT) END AS obs_ppm
        |  FROM w),
        |dv AS (
        |  SELECT *, ABS(obs_ppm - benford_ppm) AS dev_ppm FROM o)
        |SELECT o_orderpriority, digit, n, total, obs_ppm,
        |  benford_ppm, dev_ppm,
        |  CAST(SUM(dev_ppm) OVER (PARTITION BY o_orderpriority)
        |    AS BIGINT) // 2 AS tvd_ppm
        |FROM dv ORDER BY o_orderpriority, digit""".stripMargin,
    // salted shuffle join: row-identical to the plain join — oracle
    // is the unsalted form (only the exchange shape differs)
    "q_salted_join_agg" ->
      """SELECT p.p_brand,
        |  COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    // partial (hot-list) salted join: row-identical to the plain
    // join — identical direct-join oracle as q_salted_join_agg
    "q_salted_join" ->
      """SELECT p.p_brand,
        |  COUNT(*) AS n_items,
        |  CAST(CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) AS sum_qty
        |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |GROUP BY p.p_brand
        |ORDER BY p.p_brand""".stripMargin,
    // decile boundaries of the customer rank; integer-space ppm
    // share (both decimals scale to 10^4 units before the div)
    "q_orders_pareto" ->
      """WITH per AS (
        |  SELECT o_custkey,
        |    SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev
        |  FROM orders GROUP BY o_custkey),
        |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
        |         SUM(rev) AS total_rev FROM per),
        |r AS (
        |  SELECT rev,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey)
        |      AS BIGINT) AS rk,
        |    SUM(rev) OVER (ORDER BY rev DESC, o_custkey
        |      ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM per),
        |g AS (
        |  SELECT LEAST((r.rk - 1) * 10 // st.n_cust, 9) AS bucket,
        |    MAX(r.rk) AS rk_end, MAX(r.cum) AS cum
        |  FROM r, st GROUP BY 1)
        |SELECT g.bucket, CAST(g.rk_end AS BIGINT) AS rk_end,
        |  CAST(CAST(g.cum AS VARCHAR) AS DOUBLE) AS cum_rev,
        |  -- HUGEINT (not DECIMAL) operands: DuckDB's // on DECIMALs
        |  -- ROUNDS the quotient; integer // integer floors like
        |  -- Spark's div
        |  CAST(CAST(CAST(g.cum * 10000 AS DECIMAL(38,0)) AS HUGEINT)
        |      * 1000000
        |    // CAST(CAST(st.total_rev * 10000 AS DECIMAL(38,0))
        |      AS HUGEINT)
        |    AS BIGINT) AS cum_share_ppm
        |FROM g, st ORDER BY bucket""".stripMargin,
    // containment-assumption estimate vs the actual join count
    "q_li_join_card_est" ->
      """WITH lo AS (
        |  SELECT 'lineitem_orders' AS join_label,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_a,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_b,
        |    (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT)
        |       FROM lineitem) AS ndv_a,
        |    (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT)
        |       FROM orders) AS ndv_b,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |       JOIN orders o ON l.l_orderkey = o.o_orderkey)
        |      AS n_actual),
        |lp AS (
        |  SELECT 'lineitem_part' AS join_label,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_a,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM part) AS n_b,
        |    (SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT)
        |       FROM lineitem) AS ndv_a,
        |    (SELECT CAST(COUNT(DISTINCT p_partkey) AS BIGINT)
        |       FROM part) AS ndv_b,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem l
        |       JOIN part p ON l.l_partkey = p.p_partkey)
        |      AS n_actual),
        |u AS (SELECT * FROM lo UNION ALL SELECT * FROM lp)
        |SELECT join_label, n_a, n_b, ndv_a, ndv_b,
        |  CAST(CAST(n_a AS HUGEINT) * n_b
        |    // GREATEST(ndv_a, ndv_b) AS BIGINT) AS n_est,
        |  n_actual,
        |  CASE WHEN n_actual = 0 THEN NULL
        |    ELSE (CAST(CAST(n_a AS HUGEINT) * n_b
        |        // GREATEST(ndv_a, ndv_b) AS BIGINT) - n_actual)
        |      * 1000000 // n_actual END AS err_ppm
        |FROM u ORDER BY join_label""".stripMargin,
    // argmax of the exact q20 between-segment gain; ties to the
    // earlier split day
    "q_events_changepoint" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT event_type, d, x,
        |    CAST(ROW_NUMBER() OVER w AS BIGINT) AS i,
        |    CAST(SUM(x) OVER (PARTITION BY event_type ORDER BY d
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s_l,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n,
        |    CAST(SUM(x) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS s
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY d)),
        |g AS (
        |  SELECT event_type, d, i, s_l, n, s,
        |    CAST(CAST((s_l * n - s * i) AS HUGEINT)
        |        * (s_l * n - s * i) * 1048576
        |      // (i * (n - i)) AS BIGINT) AS gain_q20,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY CAST(CAST((s_l * n - s * i) AS HUGEINT)
        |          * (s_l * n - s * i) * 1048576
        |        // (i * (n - i)) AS BIGINT) DESC, i) AS rk
        |  FROM c WHERE i < n)
        |SELECT event_type, d AS split_day, i AS n_left,
        |  n - i AS n_right, gain_q20,
        |  s_l * 1000 // i AS mean_left_milli,
        |  (s - s_l) * 1000 // (n - i) AS mean_right_milli
        |FROM g WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // calendar self-join per lag; HUGEINT moments floor-div'd to the
    // pinned integer skeleton; IEEE only inside the final r_milli
    "q_events_autocorr" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS d,
        |    CAST(COUNT(*) * 1000 AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |a AS (
        |  SELECT event_type, l.lag, x, d + l.lag AS jd
        |  FROM daily, (SELECT UNNEST([1, 7]) AS lag) l),
        |p AS (
        |  SELECT a.event_type, a.lag, a.x, b.x AS y
        |  FROM a JOIN daily b
        |    ON b.event_type = a.event_type AND b.d = a.jd),
        |m AS (
        |  SELECT event_type, lag, CAST(COUNT(*) AS BIGINT)
        |      AS n_pairs,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy,
        |    SUM(CAST(x AS HUGEINT) * x) AS sx2,
        |    SUM(CAST(y AS HUGEINT) * y) AS sy2
        |  FROM p GROUP BY 1, 2),
        |k AS (
        |  SELECT event_type, lag, n_pairs,
        |    CAST(sx // n_pairs AS BIGINT) AS mean_x_milli,
        |    CAST(sy // n_pairs AS BIGINT) AS mean_y_milli,
        |    CAST(sxy // n_pairs AS BIGINT) AS e_xy_m2,
        |    CAST(sx2 // n_pairs AS BIGINT) AS e_x2_m2,
        |    CAST(sy2 // n_pairs AS BIGINT) AS e_y2_m2
        |  FROM m)
        |SELECT event_type, lag, n_pairs, mean_x_milli, mean_y_milli,
        |  e_xy_m2, e_x2_m2, e_y2_m2,
        |  e_xy_m2 - mean_x_milli * mean_y_milli AS cov_m2,
        |  e_x2_m2 - mean_x_milli * mean_x_milli AS var_x_m2,
        |  e_y2_m2 - mean_y_milli * mean_y_milli AS var_y_m2,
        |  CASE WHEN e_x2_m2 - mean_x_milli * mean_x_milli > 0
        |      AND e_y2_m2 - mean_y_milli * mean_y_milli > 0
        |    THEN CAST(FLOOR(CAST(e_xy_m2
        |        - mean_x_milli * mean_y_milli AS DOUBLE) * 1000.0
        |      / sqrt(CAST(e_x2_m2 - mean_x_milli * mean_x_milli
        |          AS DOUBLE)
        |        * CAST(e_y2_m2 - mean_y_milli * mean_y_milli
        |          AS DOUBLE)))
        |      AS BIGINT)
        |  END AS r_milli
        |FROM k ORDER BY event_type, lag""".stripMargin,
    // day - row_number constant-run island key + length histogram
    "q_events_activity_islands" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d
        |  FROM events),
        |i AS (
        |  SELECT user_id,
        |    CAST(d - DATE '1970-01-01' AS BIGINT)
        |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
        |      AS grp
        |  FROM ud),
        |isl AS (
        |  SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
        |  FROM i GROUP BY 1, 2),
        |t AS (SELECT CAST(SUM(len) AS BIGINT) AS n_user_days
        |      FROM isl)
        |SELECT len, CAST(COUNT(*) AS BIGINT) AS n_islands,
        |  CAST(SUM(len) AS BIGINT) AS n_days,
        |  CAST(SUM(len) AS BIGINT) * 1000000 // t.n_user_days
        |    AS days_ppm
        |FROM isl, t GROUP BY len, t.n_user_days
        |ORDER BY len""".stripMargin,
    // exact decimal sums; ppm via 10^8-scaled HUGEINT operands (the
    // discount product carries scale 8)
    "q_li_pricing_waterfall" ->
      """WITH a AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |    CAST(COUNT(*) AS BIGINT) AS n_items,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS g,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * CAST(l_discount AS DECIMAL(18,4))) AS dsc,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (CAST(1 AS DECIMAL(18,4))
        |        - CAST(l_discount AS DECIMAL(18,4)))
        |      * CAST(l_tax AS DECIMAL(18,4))) AS tx
        |  FROM lineitem GROUP BY 1)
        |SELECT ship_year, n_items,
        |  CAST(CAST(g AS VARCHAR) AS DOUBLE) AS gross,
        |  CAST(CAST(dsc AS VARCHAR) AS DOUBLE)
        |    AS discount_giveback,
        |  CAST(CAST(g - dsc AS VARCHAR) AS DOUBLE) AS net,
        |  CAST(CAST(tx AS VARCHAR) AS DOUBLE) AS tax_add,
        |  CAST(CAST(g - dsc + tx AS VARCHAR) AS DOUBLE) AS charged,
        |  CAST(CAST(CAST(dsc * 100000000 AS DECIMAL(38,0))
        |      AS HUGEINT) * 1000000
        |    // CAST(CAST(g * 100000000 AS DECIMAL(38,0)) AS HUGEINT)
        |    AS BIGINT) AS discount_ppm
        |FROM a ORDER BY ship_year""".stripMargin,
    // weighted lower quantiles off the per-group value histogram
    "q_li_weighted_percentiles" ->
      """WITH h AS (
        |  SELECT l_returnflag AS g, l_extendedprice AS v,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
        |  FROM lineitem GROUP BY 1, 2),
        |c AS (
        |  SELECT *, SUM(w) OVER (PARTITION BY g ORDER BY v
        |      ROWS UNBOUNDED PRECEDING) AS cw,
        |    SUM(w) OVER (PARTITION BY g) AS tw
        |  FROM h)
        |SELECT g AS l_returnflag,
        |  MIN(CASE WHEN cw * 1000 >= 250 * tw THEN v END) AS p250,
        |  MIN(CASE WHEN cw * 1000 >= 500 * tw THEN v END) AS p500,
        |  MIN(CASE WHEN cw * 1000 >= 750 * tw THEN v END) AS p750,
        |  MIN(CASE WHEN cw * 1000 >= 900 * tw THEN v END) AS p900,
        |  CAST(MAX(tw) AS BIGINT) AS total_weight
        |FROM c GROUP BY g ORDER BY l_returnflag""".stripMargin,
    // recursive greedy walk over each type's ordered anomaly days:
    // state = (row index, last emitted alert, emitted CSV, count)
    "q_events_alert_cooldown" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01'
        |      AS BIGINT) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_days
        |  FROM daily GROUP BY 1),
        |a AS (
        |  SELECT d.event_type, d.day,
        |    ROW_NUMBER() OVER (PARTITION BY d.event_type
        |      ORDER BY d.day) AS rn
        |  FROM daily d JOIN tot t USING (event_type)
        |  WHERE d.n * t.n_days * 20 > t.total * 21),
        |walk(event_type, rn, last_alert, alerts, n_alerts) AS (
        |  SELECT event_type, rn, day, CAST(day AS VARCHAR),
        |    CAST(1 AS BIGINT)
        |  FROM a WHERE rn = 1
        |  UNION ALL
        |  SELECT a.event_type, a.rn,
        |    CASE WHEN a.day - w.last_alert >= 3
        |      THEN a.day ELSE w.last_alert END,
        |    CASE WHEN a.day - w.last_alert >= 3
        |      THEN w.alerts || ',' || CAST(a.day AS VARCHAR)
        |      ELSE w.alerts END,
        |    CASE WHEN a.day - w.last_alert >= 3
        |      THEN w.n_alerts + 1 ELSE w.n_alerts END
        |  FROM walk w JOIN a
        |    ON a.event_type = w.event_type AND a.rn = w.rn + 1),
        |fin AS (
        |  SELECT event_type, rn, alerts, n_alerts,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY rn DESC) AS rk
        |  FROM walk)
        |SELECT event_type, CAST(rn AS BIGINT) AS n_anomaly_days,
        |  n_alerts,
        |  (rn - n_alerts) * 1000000 // rn AS suppressed_ppm,
        |  alerts AS alert_days
        |FROM fin WHERE rk = 1 ORDER BY event_type""".stripMargin,
    // minute-grain rates + one RANGE window of W minutes: peak and
    // exact milli mean of trailing-window row retention
    "q_events_join_state" ->
      """WITH m AS (
        |  SELECT epoch_ms(ts) // 60000 AS m,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |w AS (
        |  SELECT m, SUM(n) OVER (ORDER BY m
        |    RANGE BETWEEN 59 PRECEDING AND CURRENT ROW)
        |    AS state_rows
        |  FROM m)
        |SELECT CAST(60 AS BIGINT) AS w_minutes,
        |  CAST(COUNT(*) AS BIGINT) AS n_minutes,
        |  CAST(MAX(state_rows) AS BIGINT) AS max_state_rows,
        |  CAST(CAST(SUM(state_rows) AS HUGEINT) * 1000 // COUNT(*)
        |    AS BIGINT) AS avg_state_rows_milli,
        |  CAST(MAX(state_rows) AS BIGINT) * 64 AS max_state_bytes
        |FROM w""".stripMargin,
    // same running-max lateness + histogram-quantile mechanics
    "q_events_watermark_plan" ->
      """WITH d AS (
        |  SELECT event_type, event_id,
        |    CAST(epoch_ms(ts) AS BIGINT) AS tms
        |  FROM events),
        |r AS (
        |  SELECT event_type,
        |    MAX(tms) OVER (PARTITION BY event_type ORDER BY event_id
        |      ROWS UNBOUNDED PRECEDING) - tms AS delay_ms
        |  FROM d),
        |h AS (
        |  SELECT event_type, delay_ms, CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM r GROUP BY 1, 2),
        |c AS (
        |  SELECT *, SUM(ct) OVER (PARTITION BY event_type
        |      ORDER BY delay_ms ROWS UNBOUNDED PRECEDING) AS cum,
        |    SUM(ct) OVER (PARTITION BY event_type) AS n
        |  FROM h)
        |SELECT event_type,
        |  CAST(MAX(n) AS BIGINT) AS n_events,
        |  CAST(SUM(CASE WHEN delay_ms > 0 THEN ct ELSE 0 END)
        |    AS BIGINT) AS n_late,
        |  CAST(MIN(CASE WHEN cum * 1000 >= 500 * n
        |    THEN delay_ms END) AS BIGINT) AS p50_delay_ms,
        |  CAST(MIN(CASE WHEN cum * 1000 >= 950 * n
        |    THEN delay_ms END) AS BIGINT) AS p95_delay_ms,
        |  CAST(MIN(CASE WHEN cum * 1000 >= 999 * n
        |    THEN delay_ms END) AS BIGINT) AS p999_delay_ms,
        |  CAST(MAX(delay_ms) AS BIGINT) AS max_delay_ms,
        |  CAST(SUM(CASE WHEN delay_ms > 0 THEN ct ELSE 0 END)
        |    * 1000000 // MAX(n) AS BIGINT) AS late_ppm
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // per-table est bytes spelled out column by column (the op
    // derives the same expression from the schema)
    "q_dim_broadcast_advisor" ->
      """WITH u AS (
        |  SELECT 'nation' AS table_label,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(16 + 16 + octet_length(encode(n_name)))
        |      AS BIGINT) AS est_bytes
        |  FROM nation
        |  UNION ALL
        |  SELECT 'region', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(16 + 8 + octet_length(encode(r_name)))
        |      AS BIGINT)
        |  FROM region
        |  UNION ALL
        |  SELECT 'customer', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(16 + 24 + octet_length(encode(c_name))
        |      + octet_length(encode(c_mktsegment))) AS BIGINT)
        |  FROM customer
        |  UNION ALL
        |  SELECT 'part', CAST(COUNT(*) AS BIGINT),
        |    CAST(SUM(16 + 24 + octet_length(encode(p_name))
        |      + octet_length(encode(p_brand))
        |      + octet_length(encode(p_type))) AS BIGINT)
        |  FROM part)
        |SELECT table_label, n_rows, est_bytes,
        |  CAST(100000 AS BIGINT) AS threshold_bytes,
        |  CASE WHEN est_bytes < 100000 THEN 'broadcast'
        |    ELSE 'shuffle' END AS recommend
        |FROM u ORDER BY table_label""".stripMargin,
    // WITH RECURSIVE twin of the pointer-doubling closure
    "q_part_hierarchy" ->
      """WITH RECURSIVE e AS (
        |  SELECT p_partkey AS id,
        |    CASE WHEN p_partkey // 10 = 0 THEN NULL
        |      ELSE p_partkey // 10 END AS parent
        |  FROM part),
        |walk(id, root, depth) AS (
        |  SELECT id, id, CAST(0 AS BIGINT) FROM e
        |  WHERE parent IS NULL
        |  UNION ALL
        |  SELECT e.id, w.root, w.depth + 1
        |  FROM e JOIN walk w ON e.parent = w.id)
        |SELECT id, root, depth FROM walk ORDER BY id""".stripMargin,
    // market share: one nation's revenue inside each region-year
    "q_sql_market_share" ->
      """SELECT r_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(CAST(SUM(CASE WHEN n_name = 'CHINA'
        |      THEN CAST(o_totalprice AS DECIMAL(18,4))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS VARCHAR)
        |    AS DOUBLE) AS cn_revenue,
        |  CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |    AS VARCHAR) AS DOUBLE) AS total_revenue,
        |  CAST(CAST(CAST(SUM(CASE WHEN n_name = 'CHINA'
        |        THEN CAST(o_totalprice AS DECIMAL(18,4))
        |        ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000
        |      AS DECIMAL(38,0)) AS HUGEINT) * 1000000
        |    // CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
        |      * 10000 AS DECIMAL(38,0)) AS HUGEINT) AS BIGINT)
        |    AS cn_share_ppm
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, year(o_orderdate)
        |ORDER BY r_name, o_year""".stripMargin,
    // salted two-phase agg must equal the direct group-by (mergeable
    // partials) — the oracle IS the direct form
    "q_salted_agg" ->
      """SELECT l_returnflag,
        |  CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS VARCHAR) AS DOUBLE)
        |    AS sum_qty,
        |  COUNT(*) AS n_rows
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,
    // ---- TPC-H completion wave (r15) ----
    "q_returned_items" ->
      s"""WITH r AS (
         |  SELECT o_custkey, $decRev AS revenue,
         |    COUNT(*) AS n_returned
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE l_returnflag = 'R'
         |    AND o_orderdate >= TIMESTAMP '1996-01-01'
         |    AND o_orderdate < TIMESTAMP '1996-04-01'
         |  GROUP BY 1)
         |SELECT c_custkey, c_name, revenue, n_returned, c_acctbal,
         |  n_name
         |FROM r JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue DESC, c_custkey
         |LIMIT 20""".stripMargin,
    "q_nation_trade" ->
      s"""SELECT sn AS supp_nation, cn AS cust_nation,
         |  CAST(year(l_shipdate) AS INT) AS l_year,
         |  $decRev AS revenue, COUNT(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN (SELECT s_suppkey, n_name AS sn FROM supplier
         |      JOIN nation ON s_nationkey = n_nationkey) s
         |  ON l_suppkey = s_suppkey
         |JOIN (SELECT c_custkey, n_name AS cn FROM customer
         |      JOIN nation ON c_nationkey = n_nationkey) c
         |  ON o_custkey = c.c_custkey
         |WHERE (sn = 'NATION_18' AND cn = 'NATION_19')
         |   OR (sn = 'NATION_19' AND cn = 'NATION_18')
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_product_profit" ->
      """SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
        |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |        * (CAST(1 AS DECIMAL(18,4))
        |           - CAST(l_discount AS DECIMAL(18,4))) * 10000
        |      - CAST(p_retailprice AS DECIMAL(18,4)) * 6000
        |        * CAST(l_quantity AS DECIMAL(18,4))
        |      AS HUGEINT)) AS BIGINT) AS profit_tenk,
        |  COUNT(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |WHERE p_name LIKE '%gear%'
        |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin,
    "q_promo_share" ->
      """WITH a AS (
        |  SELECT CAST(year(l_shipdate) AS INT) AS ship_year,
        |    CAST(month(l_shipdate) AS INT) AS ship_month,
        |    COUNT(*) AS n_items,
        |    SUM(CASE WHEN p_type = 'PROMO'
        |      THEN CAST(l_extendedprice AS DECIMAL(18,4))
        |        * (CAST(1 AS DECIMAL(18,4))
        |           - CAST(l_discount AS DECIMAL(18,4)))
        |      ELSE CAST(0 AS DECIMAL(18,4)) END) AS pr,
        |    SUM(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * (CAST(1 AS DECIMAL(18,4))
        |         - CAST(l_discount AS DECIMAL(18,4)))) AS tot
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1, 2)
        |SELECT ship_year, ship_month, n_items,
        |  CAST(CAST(pr AS VARCHAR) AS DOUBLE) AS promo_revenue,
        |  CAST(CAST(tot AS VARCHAR) AS DOUBLE) AS total_revenue,
        |  CAST(CAST(CAST(pr * 100000000 AS DECIMAL(38,0))
        |      AS HUGEINT) * 1000000
        |    // CAST(CAST(tot * 100000000 AS DECIMAL(38,0)) AS HUGEINT)
        |    AS BIGINT) AS promo_ppm
        |FROM a ORDER BY ship_year, ship_month""".stripMargin,
    "q_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(
        |      CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
        |        AS BIGINT)
        |      * (100 - CAST(CAST(l_discount AS DECIMAL(18,4)) * 100
        |               AS BIGINT)) * 100) AS BIGINT) AS rev_micro
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |    AND l_shipdate < TIMESTAMP '1996-04-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, rev_micro
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rev_micro = (SELECT MAX(rev_micro) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,
    "q_min_cost_supplier" ->
      """WITH offers AS (
        |  SELECT p_partkey, p_name, s_suppkey, s_name, s_acctbal,
        |    n_name,
        |    MIN(CAST(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |        * 1000000 AS HUGEINT)
        |      // CAST(l_quantity AS BIGINT) AS BIGINT)) AS offer_micro
        |  FROM lineitem
        |  JOIN part ON l_partkey = p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |  WHERE p_size = 15 AND r_name = 'EUROPE'
        |  GROUP BY 1, 2, 3, 4, 5, 6),
        |ranked AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY p_partkey
        |    ORDER BY offer_micro, s_acctbal DESC, s_suppkey) AS rn
        |  FROM offers)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
        |  offer_micro
        |FROM ranked WHERE rn = 1
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        |LIMIT 100""".stripMargin,
    "q_important_parts" ->
      """WITH v AS (
        |  SELECT l_partkey AS p_partkey,
        |    CAST(SUM(CAST(CAST(p_retailprice AS DECIMAL(18,4))
        |      * CAST(l_quantity AS DECIMAL(18,4)) * 100
        |      AS HUGEINT)) AS BIGINT) AS value_cents
        |  FROM lineitem
        |  JOIN part ON l_partkey = part.p_partkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ON s_nationkey = n_nationkey
        |  WHERE n_name = 'NATION_3'
        |  GROUP BY 1)
        |SELECT p_partkey, value_cents FROM v
        |WHERE CAST(value_cents AS HUGEINT)
        |    * (SELECT COUNT(*) FROM v) >
        |  CAST((SELECT SUM(value_cents) FROM v) AS HUGEINT) * 2
        |ORDER BY value_cents DESC, p_partkey""".stripMargin,
    "q_supplier_variety" ->
      """WITH pairs AS (
        |  SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
        |ok AS (SELECT s_suppkey FROM supplier WHERE s_acctbal >= 0.0)
        |SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM pairs
        |JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey IN (SELECT s_suppkey FROM ok)
        |  AND p_brand <> 'Brand#1' AND p_type <> 'PROMO'
        |  AND p_size IN (1, 5, 9, 14, 19, 23, 36, 45)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size"""
        .stripMargin,
    "q_disjunctive_revenue" ->
      s"""SELECT $decRev AS revenue, COUNT(*) AS n_items
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
         |       AND l_quantity BETWEEN 1 AND 11)
         |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
         |       AND l_quantity BETWEEN 10 AND 20)
         |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 15
         |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin,
    "q_excess_suppliers" ->
      """SELECT s_suppkey, s_name, qty_year, qty_total FROM (
        |  SELECT l_suppkey,
        |    CAST(SUM(CASE WHEN year(l_shipdate) = 1997
        |      THEN CAST(l_quantity AS BIGINT) ELSE 0 END) AS BIGINT)
        |      AS qty_year,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT)
        |      AS qty_total
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_name LIKE 'red%'
        |  GROUP BY 1) t
        |JOIN supplier ON l_suppkey = s_suppkey
        |WHERE qty_year * 5 > qty_total
        |ORDER BY s_suppkey""".stripMargin,
    "q_events_holt_winters" -> hwOracle,
    // product-limit recursion mirrored step-for-step: positive q20
    // integers, // floors = Spark div truncation
    // same life/risk CTE stack as the KM twin, but the curve is one
    // window cumsum of the per-step micro hazard (floored per step
    // BEFORE the sum, mirroring the Spark op)
    "q_events_nelson_aalen" ->
      """WITH life AS (
        |  SELECT event_type, user_id,
        |    CAST(MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT)
        |      AS f,
        |    CAST(MAX(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT)
        |      AS l
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT CAST(MAX(CAST(ts AS DATE) - DATE '1970-01-01')
        |    AS BIGINT) AS end_day FROM events),
        |dur AS (
        |  SELECT event_type, (l <= end_day - 14) AS churned,
        |    CASE WHEN l <= end_day - 14 THEN l - f
        |      ELSE end_day - f END AS t
        |  FROM life CROSS JOIN m),
        |tab AS (
        |  SELECT event_type, t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dd,
        |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
        |      AS cc
        |  FROM dur GROUP BY 1, 2),
        |r0 AS (
        |  SELECT event_type, t, dd, cc,
        |    CAST(SUM(dd + cc) OVER (PARTITION BY event_type)
        |      - COALESCE(SUM(dd + cc) OVER (PARTITION BY event_type
        |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
        |  FROM tab)
        |SELECT event_type, t, n_risk, dd AS d_churned,
        |  cc AS c_censored,
        |  CAST(dd * 1000000 // n_risk AS BIGINT) AS h_step_micro,
        |  CAST(SUM(dd * 1000000 // n_risk) OVER (
        |    PARTITION BY event_type ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS BIGINT) AS h_cum_micro
        |FROM r0 ORDER BY event_type, t""".stripMargin,
    "q_events_kaplan_meier" ->
      """WITH RECURSIVE life AS (
        |  SELECT event_type, user_id,
        |    CAST(MIN(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT)
        |      AS f,
        |    CAST(MAX(CAST(ts AS DATE) - DATE '1970-01-01') AS BIGINT)
        |      AS l
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT CAST(MAX(CAST(ts AS DATE) - DATE '1970-01-01')
        |    AS BIGINT) AS end_day FROM events),
        |dur AS (
        |  SELECT event_type, (l <= end_day - 14) AS churned,
        |    CASE WHEN l <= end_day - 14 THEN l - f
        |      ELSE end_day - f END AS t
        |  FROM life CROSS JOIN m),
        |tab AS (
        |  SELECT event_type, t,
        |    CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
        |      AS dd,
        |    CAST(SUM(CASE WHEN churned THEN 0 ELSE 1 END) AS BIGINT)
        |      AS cc
        |  FROM dur GROUP BY 1, 2),
        |r0 AS (
        |  SELECT event_type, t, dd, cc,
        |    CAST(SUM(dd + cc) OVER (PARTITION BY event_type)
        |      - COALESCE(SUM(dd + cc) OVER (PARTITION BY event_type
        |          ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND 1 PRECEDING), 0) AS BIGINT) AS n_risk,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY t)
        |      AS rn
        |  FROM tab),
        |rec AS (
        |  SELECT event_type, rn, t, n_risk, dd, cc,
        |    CASE WHEN dd > 0
        |      THEN (1048576 * (n_risk - dd)) // n_risk
        |      ELSE 1048576 END AS s
        |  FROM r0 WHERE rn = 1
        |  UNION ALL
        |  SELECT o.event_type, o.rn, o.t, o.n_risk, o.dd, o.cc,
        |    CASE WHEN o.dd > 0
        |      THEN (r.s * (o.n_risk - o.dd)) // o.n_risk
        |      ELSE r.s END
        |  FROM rec r JOIN r0 o
        |    ON o.event_type = r.event_type AND o.rn = r.rn + 1)
        |SELECT event_type, t, n_risk, dd AS d_churned,
        |  cc AS c_censored, CAST(s AS BIGINT) AS s_q20
        |FROM rec ORDER BY event_type, t""".stripMargin,
    // segmented OLS, sign-split divisions (the theil_sen twin
    // conventions), cut-re-origined days
    "q_events_its" -> {
      def sdiv(num: String, den: String) =
        s"""CASE WHEN ($num) < 0
           | THEN -((-($num)) // ($den)) ELSE ($num) // ($den) END"""
          .stripMargin
      def fitSql(tag: String, pred: String): String = {
        val np = s"(CAST(n_$tag AS HUGEINT) * sdx" +
          s" - CAST(sd AS HUGEINT) * sx) * 1000"
        val dn = s"(CAST(n_$tag AS HUGEINT) * sdd" +
          s" - CAST(sd AS HUGEINT) * sd)"
        s"""f$tag AS (
           |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_$tag,
           |    CAST(SUM(d) AS BIGINT) AS sd,
           |    CAST(SUM(x) AS BIGINT) AS sx,
           |    CAST(SUM(CAST(d AS HUGEINT) * x) AS HUGEINT) AS sdx,
           |    CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
           |  FROM rel WHERE $pred GROUP BY 1),
           |s$tag AS (
           |  SELECT event_type, n_$tag,
           |    CAST(CASE WHEN $dn = 0 THEN NULL
           |      ELSE ${sdiv(np, dn)} END AS BIGINT)
           |      AS slope_${tag}_milli,
           |    sd AS sd_$tag, sx AS sx_$tag
           |  FROM f$tag),
           |l$tag AS (
           |  SELECT event_type, n_$tag, slope_${tag}_milli,
           |    CAST(${sdiv(s"sx_$tag * 1000 - slope_${tag}_milli" +
                s" * sd_$tag", s"n_$tag")} AS BIGINT)
           |      AS level_${tag}_milli
           |  FROM s$tag)""".stripMargin
      }
      s"""WITH daily AS (
         |  SELECT event_type,
         |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
         |      AS d,
         |    CAST(COUNT(*) AS BIGINT) AS x
         |  FROM events GROUP BY 1, 2),
         |c AS (SELECT (MIN(d) + MAX(d)) // 2 AS cut_d FROM daily),
         |rel AS (
         |  SELECT event_type, daily.d - c.cut_d AS d, x,
         |    daily.d < c.cut_d AS pre
         |  FROM daily CROSS JOIN c),
         |${fitSql("pre", "pre")},
         |${fitSql("post", "NOT pre")}
         |SELECT p.event_type, c.cut_d, p.n_pre, q.n_post,
         |  p.slope_pre_milli, q.slope_post_milli,
         |  p.level_pre_milli, q.level_post_milli,
         |  q.slope_post_milli - p.slope_pre_milli
         |    AS trend_delta_milli,
         |  q.level_post_milli - p.level_pre_milli
         |    AS level_delta_milli
         |FROM lpre p JOIN lpost q USING (event_type)
         |CROSS JOIN c
         |ORDER BY p.event_type""".stripMargin
    },
    // two independent rfm quintile passes (the q_rfm_segments twin
    // per half) full-outer joined into the migration matrix
    "q_cust_rfm_migration" -> {
      def halfSql(tag: String, pred: String): String =
        s"""per$tag AS (
           |  SELECT o_custkey AS custkey,
           |    MAX(o_orderdate) AS last_order,
           |    COUNT(*) AS frequency,
           |    CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
           |      AS VARCHAR) AS DOUBLE) AS monetary
           |  FROM orders CROSS JOIN m
           |  WHERE $pred GROUP BY 1),
           |snap$tag AS (
           |  SELECT MAX(o_orderdate) AS snap_day
           |  FROM orders CROSS JOIN m WHERE $pred),
           |r$tag AS (
           |  SELECT custkey, COUNT(*) OVER () AS n_c,
           |    ROW_NUMBER() OVER (ORDER BY
           |      CAST(date_diff('day', last_order, snap_day)
           |        AS BIGINT) DESC, custkey) AS rn_r,
           |    ROW_NUMBER() OVER (ORDER BY frequency, custkey)
           |      AS rn_f,
           |    ROW_NUMBER() OVER (ORDER BY monetary, custkey)
           |      AS rn_m
           |  FROM per$tag CROSS JOIN snap$tag),
           |seg$tag AS (
           |  SELECT custkey,
           |    ((5 * (rn_r - 1)) // n_c + 1) * 100
           |      + ((5 * (rn_f - 1)) // n_c + 1) * 10
           |      + ((5 * (rn_m - 1)) // n_c + 1) AS segment
           |  FROM r$tag)""".stripMargin
      s"""WITH b AS (
         |  SELECT MIN(CAST(o_orderdate AS DATE)) AS mn,
         |    MAX(CAST(o_orderdate AS DATE)) AS mx
         |  FROM orders),
         |m AS (
         |  SELECT CAST(mn + CAST(date_diff('day', mn, mx) // 2
         |    AS INT) AS TIMESTAMP) AS mid_ts FROM b),
         |${halfSql("1", "o_orderdate < mid_ts")},
         |${halfSql("2", "o_orderdate >= mid_ts")},
         |j AS (
         |  SELECT CAST(COALESCE(s1.segment, 0) AS BIGINT)
         |      AS segment_h1,
         |    CAST(COALESCE(s2.segment, 0) AS BIGINT) AS segment_h2
         |  FROM seg1 s1 FULL OUTER JOIN seg2 s2
         |    ON s1.custkey = s2.custkey),
         |g AS (
         |  SELECT segment_h1, segment_h2,
         |    CAST(COUNT(*) AS BIGINT) AS n_cust
         |  FROM j GROUP BY 1, 2),
         |t AS (SELECT CAST(SUM(n_cust) AS BIGINT) AS n_total FROM g)
         |SELECT g.segment_h1, g.segment_h2, g.n_cust,
         |  CAST(g.n_cust * 1000000 // t.n_total AS BIGINT)
         |    AS share_ppm
         |FROM g CROSS JOIN t
         |ORDER BY g.segment_h1, g.segment_h2""".stripMargin
    },
    // parity-split conformal: rank = ceil(0.9*(n_cal+1)) clamped,
    // identical integer formula both engines
    "q_events_conformal" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |resid AS (
        |  SELECT a.event_type, a.d, abs(a.x - b.x) AS r,
        |    a.d % 2 = 0 AS is_cal
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.d = b.d + 7),
        |cal AS (
        |  SELECT event_type, d, r,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY r, d) AS rk,
        |    COUNT(*) OVER (PARTITION BY event_type) AS n_cal
        |  FROM resid WHERE is_cal),
        |q90 AS (
        |  SELECT event_type, CAST(n_cal AS BIGINT) AS n_cal,
        |    r AS q90_err
        |  FROM cal
        |  WHERE rk = LEAST(n_cal, (9 * (n_cal + 1) + 9) // 10))
        |SELECT t.event_type, q.n_cal,
        |  CAST(COUNT(*) AS BIGINT) AS n_test, q.q90_err,
        |  CAST(SUM(CASE WHEN t.r <= q.q90_err THEN 1 ELSE 0 END)
        |    * 1000000 // COUNT(*) AS BIGINT) AS coverage_ppm
        |FROM resid t JOIN q90 q ON t.event_type = q.event_type
        |WHERE NOT t.is_cal
        |GROUP BY t.event_type, q.n_cal, q.q90_err
        |ORDER BY t.event_type""".stripMargin,
    // ABC cumulative-share window over the part domain; XYZ via
    // 16/4-fold integer CV cross-tests on the densified month grid
    "q_li_abc_xyz" ->
      """WITH base AS (
        |  SELECT l_partkey,
        |    CAST(year(l_shipdate) * 12 + (month(l_shipdate) - 1)
        |      AS BIGINT) AS m,
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,4)) * 100
        |      AS DECIMAL(38,0)) AS cents,
        |    CAST(l_quantity AS BIGINT) AS q
        |  FROM lineitem),
        |span AS (SELECT MIN(m) AS m_min, MAX(m) AS m_max FROM base),
        |pm AS (
        |  SELECT l_partkey, m, CAST(SUM(q) AS BIGINT) AS q
        |  FROM base GROUP BY 1, 2),
        |months AS (
        |  SELECT CAST(UNNEST(generate_series(m_min, m_max))
        |    AS BIGINT) AS m
        |  FROM span),
        |dense AS (
        |  SELECT p.l_partkey, mo.m, COALESCE(pm.q, 0) AS q
        |  FROM (SELECT DISTINCT l_partkey FROM pm) p
        |  CROSS JOIN months mo
        |  LEFT JOIN pm ON pm.l_partkey = p.l_partkey
        |    AND pm.m = mo.m),
        |xyz AS (
        |  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n_m,
        |    CAST(SUM(q) AS BIGINT) AS sq,
        |    CAST(SUM(CAST(q AS HUGEINT) * q) AS HUGEINT) AS sqq
        |  FROM dense GROUP BY 1),
        |xyzc AS (
        |  SELECT l_partkey, n_m, sq,
        |    CASE WHEN 16 * (n_m * sqq - CAST(sq AS HUGEINT) * sq)
        |        <= CAST(sq AS HUGEINT) * sq THEN 'X'
        |      WHEN 4 * (n_m * sqq - CAST(sq AS HUGEINT) * sq)
        |        <= CAST(sq AS HUGEINT) * sq THEN 'Y'
        |      ELSE 'Z' END AS xyz_class
        |  FROM xyz),
        |rev AS (
        |  SELECT l_partkey,
        |    CAST(SUM(cents) AS HUGEINT) AS rev_cents
        |  FROM base GROUP BY 1),
        |abc AS (
        |  SELECT l_partkey,
        |    CAST(rev_cents AS BIGINT) AS rev_cents,
        |    CAST(SUM(rev_cents) OVER (ORDER BY rev_cents DESC,
        |        l_partkey ROWS BETWEEN UNBOUNDED PRECEDING AND
        |        CURRENT ROW) * 1000000
        |      // SUM(rev_cents) OVER () AS BIGINT) AS cum_share_ppm
        |  FROM rev)
        |SELECT a.l_partkey, a.rev_cents, a.cum_share_ppm,
        |  CASE WHEN a.cum_share_ppm <= 800000 THEN 'A'
        |    WHEN a.cum_share_ppm <= 950000 THEN 'B'
        |    ELSE 'C' END AS abc_class,
        |  x.n_m, x.sq AS total_qty, x.xyz_class
        |FROM abc a JOIN xyzc x USING (l_partkey)
        |ORDER BY a.l_partkey""".stripMargin,
    // activity-set self-joins on (type, user, week-1); churn weeks
    // past the horizon filtered like the Spark side
    "q_events_growth_accounting" ->
      """WITH a AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      // 7 AS w
        |  FROM events),
        |f AS (
        |  SELECT event_type, user_id, MIN(w) AS first_w
        |  FROM a GROUP BY 1, 2),
        |cur AS (
        |  SELECT a.event_type, a.w,
        |    CAST(COUNT(*) AS BIGINT) AS n_active,
        |    CAST(SUM(CASE WHEN f.first_w = a.w THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_new,
        |    CAST(SUM(CASE WHEN p.user_id IS NOT NULL
        |        AND f.first_w <> a.w THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_retained,
        |    CAST(SUM(CASE WHEN p.user_id IS NULL
        |        AND f.first_w <> a.w THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_resurrected
        |  FROM a
        |  JOIN f ON a.event_type = f.event_type
        |    AND a.user_id = f.user_id
        |  LEFT JOIN a p ON p.event_type = a.event_type
        |    AND p.user_id = a.user_id AND p.w = a.w - 1
        |  GROUP BY 1, 2),
        |ch AS (
        |  SELECT p.event_type, p.w + 1 AS w,
        |    CAST(COUNT(*) AS BIGINT) AS n_churned
        |  FROM a p LEFT JOIN a n ON n.event_type = p.event_type
        |    AND n.user_id = p.user_id AND n.w = p.w + 1
        |  WHERE n.user_id IS NULL
        |  GROUP BY 1, 2),
        |mx AS (SELECT MAX(w) AS max_w FROM a)
        |SELECT COALESCE(c.event_type, ch.event_type) AS event_type,
        |  COALESCE(c.w, ch.w) AS w,
        |  COALESCE(c.n_active, 0) AS n_active,
        |  COALESCE(c.n_new, 0) AS n_new,
        |  COALESCE(c.n_retained, 0) AS n_retained,
        |  COALESCE(c.n_resurrected, 0) AS n_resurrected,
        |  COALESCE(ch.n_churned, 0) AS n_churned,
        |  CASE WHEN COALESCE(ch.n_churned, 0) > 0
        |    THEN (COALESCE(c.n_new, 0) + COALESCE(c.n_resurrected, 0))
        |      * 1000 // ch.n_churned END AS quick_ratio_milli
        |FROM cur c FULL OUTER JOIN ch
        |  ON c.event_type = ch.event_type AND c.w = ch.w
        |CROSS JOIN mx
        |WHERE COALESCE(c.w, ch.w) <= mx.max_w
        |ORDER BY 1, 2""".stripMargin,
    // explode-to-equi-join expansion twin via generate_series
    "q_events_stickiness" ->
      """WITH a AS (
        |  SELECT DISTINCT event_type, user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS d
        |  FROM events),
        |dau AS (
        |  SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS dau
        |  FROM a GROUP BY 1, 2),
        |exp AS (
        |  SELECT DISTINCT a.event_type, a.user_id,
        |    a.d + CAST(g.x AS BIGINT) AS d
        |  FROM a CROSS JOIN range(0, 28) g(x)),
        |mau AS (
        |  SELECT event_type, d, CAST(COUNT(*) AS BIGINT) AS mau
        |  FROM exp GROUP BY 1, 2)
        |SELECT dau.event_type, dau.d, dau.dau, mau.mau,
        |  dau.dau * 1000 // mau.mau AS dau_mau_milli
        |FROM dau JOIN mau ON dau.event_type = mau.event_type
        |  AND dau.d = mau.d
        |ORDER BY 1, 2""".stripMargin,
    // PVM bridge on the same floored-price grid; the identity
    // column pair is the cross-engine self-check
    "q_li_margin_bridge" ->
      """WITH py AS (
        |  SELECT l_partkey,
        |    CAST(year(l_shipdate) AS INT) AS y,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * 100 AS DECIMAL(38,0))) AS HUGEINT) AS rev_cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (
        |  SELECT l_partkey, y,
        |    CAST(rev_cents // qty AS BIGINT) AS p_cents, qty
        |  FROM py),
        |y0 AS (SELECT MIN(y) AS y0 FROM p),
        |base AS (
        |  SELECT l_partkey, p_cents AS p0, qty AS q0
        |  FROM p CROSS JOIN y0 WHERE y = y0)
        |SELECT p.y, CAST(COUNT(*) AS BIGINT) AS n_parts_common,
        |  CAST(SUM(CAST(p.p_cents - b.p0 AS HUGEINT) * b.q0)
        |    AS BIGINT) AS price_effect_cents,
        |  CAST(SUM(CAST(b.p0 AS HUGEINT) * (p.qty - b.q0))
        |    AS BIGINT) AS volume_effect_cents,
        |  CAST(SUM(CAST(p.p_cents - b.p0 AS HUGEINT)
        |    * (p.qty - b.q0)) AS BIGINT) AS joint_effect_cents,
        |  CAST(SUM(CAST(p.p_cents - b.p0 AS HUGEINT) * b.q0)
        |    + SUM(CAST(b.p0 AS HUGEINT) * (p.qty - b.q0))
        |    + SUM(CAST(p.p_cents - b.p0 AS HUGEINT)
        |      * (p.qty - b.q0)) AS BIGINT) AS total_delta_cents,
        |  CAST(SUM(CAST(p.p_cents AS HUGEINT) * p.qty
        |    - CAST(b.p0 AS HUGEINT) * b.q0) AS BIGINT)
        |    AS recon_delta_cents
        |FROM p JOIN base b ON p.l_partkey = b.l_partkey
        |GROUP BY p.y ORDER BY p.y""".stripMargin,
    // matched-basket indices: per-(part,year) floored cents price,
    // basket sums HUGEINT, indices exact ppm
    "q_li_price_index" ->
      """WITH py AS (
        |  SELECT l_partkey,
        |    CAST(year(l_shipdate) AS INT) AS y,
        |    CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,4))
        |      * 100 AS DECIMAL(38,0))) AS HUGEINT) AS rev_cents,
        |    CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |p AS (
        |  SELECT l_partkey, y,
        |    CAST(rev_cents // qty AS BIGINT) AS p_cents, qty
        |  FROM py),
        |y0 AS (SELECT MIN(y) AS y0 FROM p),
        |base AS (
        |  SELECT l_partkey, p_cents AS p0, qty AS q0
        |  FROM p CROSS JOIN y0 WHERE y = y0)
        |SELECT p.y, CAST(COUNT(*) AS BIGINT) AS n_parts_common,
        |  CAST(SUM(CAST(p.p_cents AS HUGEINT) * b.q0) * 1000000
        |    // SUM(CAST(b.p0 AS HUGEINT) * b.q0) AS BIGINT)
        |    AS laspeyres_ppm,
        |  CAST(SUM(CAST(p.p_cents AS HUGEINT) * p.qty) * 1000000
        |    // SUM(CAST(b.p0 AS HUGEINT) * p.qty) AS BIGINT)
        |    AS paasche_ppm
        |FROM p JOIN base b ON p.l_partkey = b.l_partkey
        |GROUP BY p.y ORDER BY p.y""".stripMargin,
    // pairwise-slope median, sign-split // (Spark div truncates);
    // OLS cross products HUGEINT-bridged
    "q_events_theil_sen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS d,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type,
        |    CASE WHEN (b.x - a.x) < 0
        |      THEN -(((a.x - b.x) * 1000) // (b.d - a.d))
        |      ELSE ((b.x - a.x) * 1000) // (b.d - a.d) END
        |      AS slope_milli
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.d < b.d),
        |r AS (
        |  SELECT event_type, slope_milli,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY slope_milli) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS np
        |  FROM p),
        |mid AS (
        |  SELECT event_type, CAST(MAX(np) AS BIGINT) AS n_pairs,
        |    MAX(CASE WHEN rn * 2 = np + 1 THEN slope_milli END)
        |      AS modd,
        |    MAX(CASE WHEN rn * 2 = np THEN slope_milli END) AS mlo,
        |    MAX(CASE WHEN rn * 2 = np + 2 THEN slope_milli END)
        |      AS mhi
        |  FROM r GROUP BY 1),
        |sen AS (
        |  SELECT event_type, n_pairs,
        |    CAST(CASE WHEN n_pairs % 2 = 1 THEN modd
        |      ELSE (CASE WHEN mlo + mhi < 0
        |        THEN -((-(mlo + mhi)) // 2)
        |        ELSE (mlo + mhi) // 2 END)
        |      END AS BIGINT) AS sen_slope_milli
        |  FROM mid),
        |ols AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    CAST(SUM(d) AS BIGINT) AS sd,
        |    CAST(SUM(x) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(d AS HUGEINT) * x) AS HUGEINT) AS sdx,
        |    CAST(SUM(CAST(d AS HUGEINT) * d) AS HUGEINT) AS sdd
        |  FROM daily GROUP BY 1),
        |olss AS (
        |  SELECT event_type, n_days,
        |    CAST(CASE WHEN (CAST(n_days AS HUGEINT) * sdx
        |          - CAST(sd AS HUGEINT) * sx) < 0
        |      THEN -(((CAST(sd AS HUGEINT) * sx
        |          - CAST(n_days AS HUGEINT) * sdx) * 1000)
        |        // (CAST(n_days AS HUGEINT) * sdd
        |          - CAST(sd AS HUGEINT) * sd))
        |      ELSE ((CAST(n_days AS HUGEINT) * sdx
        |          - CAST(sd AS HUGEINT) * sx) * 1000)
        |        // (CAST(n_days AS HUGEINT) * sdd
        |          - CAST(sd AS HUGEINT) * sd)
        |      END AS BIGINT) AS ols_slope_milli
        |  FROM ols)
        |SELECT s.event_type, o.n_days, s.n_pairs,
        |  s.sen_slope_milli, o.ols_slope_milli,
        |  o.ols_slope_milli - s.sen_slope_milli AS delta_milli
        |FROM sen s JOIN olss o USING (event_type)
        |ORDER BY s.event_type""".stripMargin,
    // sigma rules via integer cross-multiplication: dev^2 vs
    // k^2*(n*SS - S^2), HUGEINT-bridged squares
    "q_events_we_rules" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day,
        |    CAST(COUNT(*) AS BIGINT) AS x
        |  FROM events GROUP BY 1, 2),
        |tot AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS s,
        |    CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS ss
        |  FROM daily GROUP BY 1),
        |base AS (
        |  SELECT d.event_type, d.day, d.x,
        |    CAST(d.x AS HUGEINT) * t.n - t.s AS dev,
        |    CAST(t.n AS HUGEINT) * t.ss
        |      - CAST(t.s AS HUGEINT) * t.s AS varn
        |  FROM daily d JOIN tot t USING (event_type)),
        |b AS (
        |  SELECT event_type, day, x,
        |    CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1
        |      ELSE 0 END AS side,
        |    CASE WHEN dev * dev > 1 * varn THEN 1 ELSE 0 END AS b1,
        |    CASE WHEN dev * dev > 4 * varn THEN 1 ELSE 0 END AS b2,
        |    CASE WHEN dev * dev > 9 * varn THEN 1 ELSE 0 END AS b3
        |  FROM base)
        |SELECT event_type, day, x, CAST(side AS BIGINT) AS side,
        |  CAST(b3 AS BIGINT) AS r1,
        |  CAST(CASE WHEN
        |      SUM(CASE WHEN side = 1 THEN b2 ELSE 0 END) OVER w3 >= 2
        |      OR SUM(CASE WHEN side = -1 THEN b2 ELSE 0 END)
        |        OVER w3 >= 2
        |    THEN 1 ELSE 0 END AS BIGINT) AS r2,
        |  CAST(CASE WHEN
        |      SUM(CASE WHEN side = 1 THEN b1 ELSE 0 END) OVER w5 >= 4
        |      OR SUM(CASE WHEN side = -1 THEN b1 ELSE 0 END)
        |        OVER w5 >= 4
        |    THEN 1 ELSE 0 END AS BIGINT) AS r3,
        |  CAST(CASE WHEN
        |      SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) OVER w8 = 8
        |      OR SUM(CASE WHEN side = -1 THEN 1 ELSE 0 END)
        |        OVER w8 = 8
        |    THEN 1 ELSE 0 END AS BIGINT) AS r4
        |FROM b
        |WINDOW
        |  w3 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
        |  w5 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
        |  w8 AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, day""".stripMargin,
    "q_li_selectivity" ->
      """WITH a AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_flag_r,
        |    CAST(SUM(CASE WHEN l_linestatus = 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_status_f,
        |    CAST(SUM(CASE WHEN year(l_shipdate) = 1996
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_y1996,
        |    CAST(SUM(CASE WHEN l_quantity <= 10.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_qty10,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      AND l_linestatus = 'F'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS j1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      AND year(l_shipdate) = 1996
        |      THEN 1 ELSE 0 END) AS BIGINT) AS j2,
        |    CAST(SUM(CASE WHEN year(l_shipdate) = 1996
        |      AND l_quantity <= 10.0
        |      THEN 1 ELSE 0 END) AS BIGINT) AS j3
        |  FROM lineitem),
        |p AS (
        |  SELECT 'flag_r & status_f' AS pair, n_rows,
        |    n_flag_r AS n_a, n_status_f AS n_b, j1 AS n_joint FROM a
        |  UNION ALL SELECT 'flag_r & y1996', n_rows,
        |    n_flag_r, n_y1996, j2 FROM a
        |  UNION ALL SELECT 'y1996 & qty10', n_rows,
        |    n_y1996, n_qty10, j3 FROM a)
        |SELECT pair, n_rows, n_a, n_b, n_joint,
        |  n_a * 1000000 // GREATEST(n_rows, 1) AS a_ppm,
        |  n_b * 1000000 // GREATEST(n_rows, 1) AS b_ppm,
        |  n_joint * 1000000 // GREATEST(n_rows, 1) AS actual_ppm,
        |  (n_a * 1000000 // GREATEST(n_rows, 1))
        |    * (n_b * 1000000 // GREATEST(n_rows, 1))
        |    // 1000000 AS est_ppm,
        |  (n_joint * 1000000 // GREATEST(n_rows, 1)) * 1000
        |    // GREATEST((n_a * 1000000 // GREATEST(n_rows, 1))
        |      * (n_b * 1000000 // GREATEST(n_rows, 1)) // 1000000, 1)
        |    AS corr_milli
        |FROM p ORDER BY pair""".stripMargin,
    "q_late_order_priority" ->
      """WITH po AS (
        |  SELECT o_orderkey, o_orderpriority,
        |    MAX(date_diff('day', o_orderdate, l_shipdate))
        |      AS max_delay
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  GROUP BY 1, 2)
        |SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM po WHERE max_delay > 60
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin
  )
}
