package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-backed registry for the log-demux pipeline (R1/T2-T9).
  *
  * Each query runs the FULL pipeline: events → GmallSynth JSON →
  * Demux.parse (from_json) → branch projection/explode. The oracle SQL
  * computes the expected flat rows directly from `events` with the
  * same integer arithmetic — proving parse + branch + explode produce
  * exactly the reference's demux semantics (err short-circuit
  * included: error rows carry a `page` object but must not appear in
  * the page branch).
  */
object DemuxQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Synthesized raw log lines — pure harness scaffolding (fabricates
    * the Kafka-style JSON payloads the reference consumes from a
    * broker; a real deployment reads them, it doesn't compute them).
    * Cached separately so `prewarm` can take this non-operator cost
    * out of the bench's timed region while the parse itself — real
    * operator work — stays timed.
    */
  private def synthLines(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("demux", ("synth", s, d))(
      GmallSynth.logLines(Tables.events(s, d)))

  /** Materialize the synth scaffolding outside any timed region. */
  def prewarm(s: SparkSession, d: String): Unit = {
    synthLines(s, d).count(); ()
  }

  /** Parse once, branch five ways — the reference's single-pass demux
    * (`batchDf.persist()` + 5 writes in foreachBatch, SURVEY R1). The
    * persisted envelope is shared by all branch queries in a session;
    * it also acts as an optimizer barrier so the branch predicates
    * probe a materialized struct instead of being pushed below the
    * repartition as a full per-row from_json(concat(...)) on the
    * (single-split) scan.
    */
  private def parsed(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("demux", (s, d))(
      Demux.parse(synthLines(s, d)))

  val queries: Map[String, Q] = Map(
    "q_demux_page" -> ((s, d) =>
      Demux.pages(parsed(s, d))
        .orderBy(col("page_item").cast("long"))),
    "q_demux_display" -> ((s, d) =>
      Demux.displays(parsed(s, d))
        .orderBy(col("page_item").cast("long"), col("display_order"))),
    "q_demux_action" -> ((s, d) =>
      Demux.actions(parsed(s, d))
        .orderBy(col("page_item").cast("long"), col("action_ts"))),
    // sort keys carry every free variable of the row derivation
    // (ts → ems, mid → user_id, loading_time_ms/error_code → k), plus
    // entry/msg as explicit tie-breakers so compare order can never
    // be input-dependent
    "q_demux_start" -> ((s, d) =>
      Demux.starts(parsed(s, d))
        .orderBy(col("ts"), col("mid"), col("loading_time_ms"),
          col("entry"), col("open_ad_id"))),
    "q_demux_err" -> ((s, d) =>
      Demux.errors(parsed(s, d))
        .orderBy(col("ts"), col("mid"), col("error_code"), col("msg"))),
    // top-level envelope key profile vs the T4 contract set — the
    // synth's err key (deliberately absent from the contract) is the
    // planted producer-drift hit the audit must flag
    "q_demux_key_profile" -> ((s, d) =>
      Demux.keyProfile(synthLines(s, d),
        Seq("common", "page", "displays", "actions", "start", "ts"))),
    // DWS page-traffic rollup: views, exact UV, dwell mass per page
    "q_demux_page_stats" -> ((s, d) =>
      Demux.pageStats(Demux.pages(parsed(s, d)))
        .orderBy(col("page_id"))),
    // DWS daily unique visitors (first-visit dedup DAU)
    "q_demux_uv_daily" -> ((s, d) =>
      Demux.dailyUv(Demux.pages(parsed(s, d)))
        .orderBy(col("d"))),
    // DWS referrer-chain sessionization: entry-page sessions, bounce
    // ppm, pages/session milli (no sid, no gap heuristic — the chain
    // break IS the boundary)
    "q_demux_sessions" -> ((s, d) =>
      Demux.sessionStats(Demux.pages(parsed(s, d)))
        .orderBy(col("entry_page"))),
    // DWS new-vs-returning daily mix off is_new (first-touch max per
    // device-day), exact new-device ppm of UV
    "q_demux_new_users" -> ((s, d) =>
      Demux.newUserShare(Demux.pages(parsed(s, d)))
        .orderBy(col("d"))),
    // release health: the error stream carries no version — join it
    // back to the page stream's device->version map
    "q_demux_err_by_version" -> ((s, d) =>
      Demux.errorsByVersion(Demux.errors(parsed(s, d)),
        Demux.pages(parsed(s, d)))),
    // DWS page-flow matrix: (last_page_id -> page_id) edge visits +
    // exact ppm share of the source page's outflow
    "q_demux_page_flow" -> ((s, d) =>
      Demux.pageFlow(Demux.pages(parsed(s, d)))
        .orderBy(col("last_page_id"), col("page_id"))),
    // DWS item exposure->action conversion: page views of an item vs
    // actions on it (purchase events convert their own page row;
    // view/click pages stay at 0)
    "q_demux_item_ctr" -> ((s, d) =>
      Demux.itemCtr(
        Demux.pages(parsed(s, d))
          .select(col("page_item").as("display_item")),
        Demux.actions(parsed(s, d)))
        .orderBy(col("item")))
  )

  /** Shared SQL fragment: the common-field derivations (must stay in
    * lockstep with GmallSynth).
    */
  private val commonSql =
    """'mid_'||user_id AS mid,
      |  CAST(user_id AS VARCHAR) AS user_id,
      |  CAST(user_id % 34 AS VARCHAR) AS province_id,
      |  'ch'||(user_id % 4) AS channel,
      |  CAST(user_id % 2 AS VARCHAR) AS is_new,
      |  'm'||(user_id % 7) AS model,
      |  'os'||(user_id % 3) AS operate_system,
      |  'v'||(user_id % 9) AS version_code,
      |  'brand'||(user_id % 5) AS brand""".stripMargin

  private val pageSql =
    """'p'||(k % 10) AS page_id,
      |  'p'||(k % 7) AS last_page_id,
      |  CAST(event_id AS VARCHAR) AS page_item,
      |  'sku_id' AS page_item_type,
      |  CAST(FLOOR(value * 100) AS BIGINT) AS during_time,
      |  's'||(k % 3) AS source_type""".stripMargin

  private def withK(where: String) =
    s"""WITH e AS (
       |  SELECT * REPLACE (COALESCE(value, 0.0) AS value),
       |         COALESCE(CAST(json_extract_string(props, '$$.k') AS INT),
       |                  0) AS k,
       |         epoch_ms(ts) AS ems
       |  FROM events WHERE $where)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_demux_page" ->
      s"""${withK("event_type IN ('view','click','purchase')")}
         |SELECT $commonSql,
         |  $pageSql,
         |  ems AS ts
         |FROM e ORDER BY event_id""".stripMargin,
    "q_demux_display" ->
      s"""${withK("event_type = 'click'")},
         |x AS (SELECT *, UNNEST(range(0, (k % 3) + 1)) AS i FROM e)
         |SELECT $commonSql,
         |  $pageSql,
         |  'promo' AS display_type,
         |  CAST(event_id * 10 + i AS VARCHAR) AS display_item,
         |  'sku_id' AS display_item_type,
         |  CAST(i AS VARCHAR) AS display_order,
         |  CAST(k % 5 AS VARCHAR) AS display_pos_id,
         |  ems AS ts
         |FROM x ORDER BY event_id, i""".stripMargin,
    "q_demux_action" ->
      s"""${withK("event_type = 'purchase'")},
         |x AS (SELECT *, UNNEST(range(0, (k % 2) + 1)) AS i FROM e)
         |SELECT $commonSql,
         |  $pageSql,
         |  'a'||((k + i) % 5) AS action_id,
         |  CAST(event_id AS VARCHAR) AS action_item,
         |  'sku_id' AS action_item_type,
         |  ems + i * 1000 AS action_ts,
         |  ems AS ts
         |FROM x ORDER BY event_id, action_ts""".stripMargin,
    "q_demux_start" ->
      s"""${withK("event_type = 'signup'")}
         |SELECT $commonSql,
         |  'e'||(k % 3) AS entry,
         |  CAST(k % 10 AS VARCHAR) AS open_ad_id,
         |  CAST(k * 10 AS BIGINT) AS loading_time_ms,
         |  CAST(k * 20 AS BIGINT) AS open_ad_ms,
         |  CAST((k % 2) * 100 AS BIGINT) AS open_ad_skip_ms,
         |  ems AS ts
         |FROM e ORDER BY ems, mid, loading_time_ms, entry,
         |  open_ad_id""".stripMargin,
    "q_demux_err" ->
      s"""${withK("event_type = 'error'")}
         |SELECT 'mid_'||user_id AS mid,
         |  CAST(k AS BIGINT) AS error_code,
         |  'boom_'||k AS msg,
         |  ems AS ts
         |FROM e ORDER BY ems, mid, error_code, msg""".stripMargin,
    // key-presence arithmetic in lockstep with GmallSynth's branch
    // gating (page on 4 types incl. error; displays/actions/start on
    // one type each; common/ts unconditional; err on error only)
    "q_demux_page_stats" ->
      s"""${withK("event_type IN ('view','click','purchase')")}
         |SELECT 'p'||(k % 10) AS page_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_views,
         |  CAST(COUNT(DISTINCT 'mid_'||user_id) AS BIGINT)
         |    AS n_visitors,
         |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) AS BIGINT)
         |    AS sum_during,
         |  CAST(SUM(CAST(FLOOR(value * 100) AS BIGINT)) * 1000
         |    // COUNT(*) AS BIGINT) AS avg_during_milli
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_demux_uv_daily" ->
      s"""${withK("event_type IN ('view','click','purchase')")}
         |SELECT CAST(ts AS DATE) AS d,
         |  CAST(COUNT(*) AS BIGINT) AS n_visits,
         |  CAST(COUNT(DISTINCT 'mid_'||user_id) AS BIGINT) AS n_uv
         |FROM e GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_demux_err_by_version" ->
      """WITH pv AS (
        |  SELECT 'mid_'||user_id AS mid,
        |    MAX('v'||(user_id % 9)) AS version_code
        |  FROM events
        |  WHERE event_type IN ('view','click','purchase')
        |  GROUP BY 1),
        |em AS (
        |  SELECT 'mid_'||user_id AS mid,
        |    CAST(COUNT(*) AS BIGINT) AS ne
        |  FROM events WHERE event_type = 'error' GROUP BY 1)
        |SELECT version_code, CAST(COUNT(*) AS BIGINT) AS n_devices,
        |  CAST(COUNT(CASE WHEN ne IS NOT NULL THEN 1 END)
        |    AS BIGINT) AS n_err_devices,
        |  CAST(SUM(COALESCE(ne, 0)) AS BIGINT) AS n_errors,
        |  COUNT(CASE WHEN ne IS NOT NULL THEN 1 END) * 1000000
        |    // COUNT(*) AS err_device_ppm
        |FROM pv FULL OUTER JOIN em USING (mid)
        |GROUP BY version_code
        |ORDER BY version_code NULLS FIRST""".stripMargin,
    // (k%7 -> k%10) edge rollup + source-total share
    "q_demux_page_flow" ->
      s"""${withK("event_type IN ('view','click','purchase')")},
         |ed AS (
         |  SELECT 'p'||(k % 7) AS last_page_id,
         |    'p'||(k % 10) AS page_id,
         |    CAST(COUNT(*) AS BIGINT) AS n_visits
         |  FROM e GROUP BY 1, 2),
         |t AS (
         |  SELECT *, SUM(n_visits) OVER (PARTITION BY last_page_id)
         |    AS src_total
         |  FROM ed)
         |SELECT last_page_id, page_id, n_visits,
         |  CAST(n_visits * 1000000 // src_total AS BIGINT)
         |    AS share_ppm
         |FROM t ORDER BY last_page_id, page_id""".stripMargin,
    "q_demux_new_users" ->
      s"""${withK("event_type IN ('view','click','purchase')")},
         |dm AS (
         |  SELECT CAST(ts AS DATE) AS d, 'mid_'||user_id AS mid,
         |    CAST(COUNT(*) AS BIGINT) AS n_visits,
         |    CAST(MAX(user_id % 2) AS INT) AS nu
         |  FROM e GROUP BY 1, 2)
         |SELECT d, CAST(SUM(n_visits) AS BIGINT) AS n_visits,
         |  CAST(COUNT(*) AS BIGINT) AS n_uv,
         |  CAST(SUM(nu) AS BIGINT) AS n_new_uv,
         |  CAST(SUM(nu) AS BIGINT) * 1000000 // COUNT(*) AS new_ppm
         |FROM dm GROUP BY d ORDER BY d""".stripMargin,
    // exposures = page rows per item; actions from the purchase
    // explode; full outer keeps action-only items at 0 exposure
    "q_demux_item_ctr" ->
      """WITH ep AS (
        |  SELECT event_id,
        |    COALESCE(CAST(json_extract_string(props, '$.k') AS INT),
        |      0) AS k
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (
        |  SELECT CAST(event_id AS VARCHAR) AS item FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')),
        |a AS (
        |  SELECT CAST(event_id AS VARCHAR) AS item
        |  FROM (SELECT *, UNNEST(range(0, (k % 2) + 1)) AS i
        |        FROM ep)),
        |ds AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_displays
        |       FROM d GROUP BY 1),
        |ac AS (SELECT item, CAST(COUNT(*) AS BIGINT) AS n_actions
        |       FROM a GROUP BY 1)
        |SELECT COALESCE(ds.item, ac.item) AS item,
        |  COALESCE(n_displays, 0) AS n_displays,
        |  COALESCE(n_actions, 0) AS n_actions,
        |  CASE WHEN COALESCE(n_displays, 0) = 0 THEN NULL
        |    ELSE COALESCE(n_actions, 0) * 1000000 // n_displays
        |  END AS ctr_ppm
        |FROM ds FULL OUTER JOIN ac ON ds.item = ac.item
        |ORDER BY item""".stripMargin,
    // referrer-chain segmentation: per-mid (ts, page_item) order,
    // break on null/broken chain, cumulative breaks = session id
    "q_demux_sessions" ->
      s"""${withK("event_type IN ('view','click','purchase')")},
         |p AS (
         |  SELECT 'mid_'||user_id AS mid,
         |    'p'||(k % 10) AS page_id,
         |    'p'||(k % 7) AS last_page_id,
         |    CAST(event_id AS VARCHAR) AS page_item,
         |    CAST(FLOOR(value * 100) AS BIGINT) AS during_time,
         |    ems AS ts
         |  FROM e),
         |o AS (
         |  SELECT *, LAG(page_id) OVER (PARTITION BY mid
         |    ORDER BY ts, page_item) AS prev_page
         |  FROM p),
         |b AS (
         |  SELECT *, CASE WHEN prev_page IS NULL
         |      OR last_page_id IS NULL
         |      OR last_page_id <> prev_page THEN 1 ELSE 0 END AS brk
         |  FROM o),
         |sg AS (
         |  SELECT *, SUM(brk) OVER (PARTITION BY mid
         |    ORDER BY ts, page_item ROWS UNBOUNDED PRECEDING) AS sess
         |  FROM b),
         |per AS (
         |  SELECT mid, sess,
         |    CAST(COUNT(*) AS BIGINT) AS n_pages,
         |    CAST(SUM(during_time) AS BIGINT) AS sum_during,
         |    FIRST(page_id ORDER BY ts, page_item) AS entry_page
         |  FROM sg GROUP BY mid, sess)
         |SELECT entry_page,
         |  CAST(COUNT(*) AS BIGINT) AS n_sessions,
         |  CAST(COUNT(CASE WHEN n_pages = 1 THEN 1 END) AS BIGINT)
         |    AS n_bounces,
         |  CAST(SUM(n_pages) AS BIGINT) AS sum_pages,
         |  CAST(SUM(sum_during) AS BIGINT) AS sum_during,
         |  COUNT(CASE WHEN n_pages = 1 THEN 1 END) * 1000000
         |    // COUNT(*) AS bounce_ppm,
         |  CAST(SUM(n_pages) AS BIGINT) * 1000 // COUNT(*)
         |    AS pages_per_session_milli
         |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_demux_key_profile" ->
      """WITH c AS (
        |  SELECT COUNT(*) AS n_total,
        |    COUNT(CASE WHEN event_type IN
        |      ('view','click','purchase','error') THEN 1 END) AS n_page,
        |    COUNT(CASE WHEN event_type = 'click' THEN 1 END)
        |      AS n_displays,
        |    COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)
        |      AS n_actions,
        |    COUNT(CASE WHEN event_type = 'signup' THEN 1 END)
        |      AS n_start,
        |    COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS n_err
        |  FROM events),
        |k AS (
        |  SELECT 'common' AS json_key, n_total AS n_rows,
        |    TRUE AS expected FROM c
        |  UNION ALL SELECT 'ts', n_total, TRUE FROM c
        |  UNION ALL SELECT 'page', n_page, TRUE FROM c
        |  UNION ALL SELECT 'displays', n_displays, TRUE FROM c
        |  UNION ALL SELECT 'actions', n_actions, TRUE FROM c
        |  UNION ALL SELECT 'start', n_start, TRUE FROM c
        |  UNION ALL SELECT 'err', n_err, FALSE FROM c)
        |SELECT json_key, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(n_rows * 1000000 // n_total AS BIGINT) AS present_ppm,
        |  expected
        |FROM k CROSS JOIN (SELECT n_total FROM c) t
        |WHERE n_rows > 0
        |ORDER BY json_key""".stripMargin
  )
}
