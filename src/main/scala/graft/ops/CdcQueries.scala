package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Oracle-backed registry for the CDC pipeline (T10/T11, R2-R4).
  *
  * Maxwell envelopes are synthesized deterministically from `events`
  * (same trick as DemuxQueries):
  *   table = 't' || user_id % 3
  *   type  = signup → bootstrap-insert, view → insert,
  *           purchase → update, click/error → unmapped (must drop)
  *   data  = {id: event_id, uid: user_id, k: k}
  * Routing config (reference keeps it in Redis sets,
  * `OdsBaseDbApp.scala:89-95`): t0,t1 = fact; t2 = dim.
  */
object CdcQueries {

  type Q = (SparkSession, String) => DataFrame

  /** events → raw Maxwell JSON lines (the synthetic ODS_BASE_DB).
    * Built with codegen `concat` rather than `to_json`
    * (StructsToJson is interpreted): every value here is a digit
    * string or fixed literal, so no JSON escaping is needed, and the
    * parse side (`from_json`) is what's actually under test.
    */
  def maxwellLines(events: DataFrame): DataFrame = {
    // coalesce-guard: concat null-propagates, so a null k would
    // silently drop the whole envelope
    val k = coalesce(
      get_json_object(col("props"), "$.k").cast("int"), lit(0))
    val typ =
      when(col("event_type") === "signup", lit("bootstrap-insert"))
        .when(col("event_type") === "view", lit("insert"))
        .when(col("event_type") === "purchase", lit("update"))
        .when(col("event_type") === "click", lit("delete"))
        .otherwise(col("event_type"))
    // Maxwell updates carry the previous values of changed columns in
    // "old" — synthesized deterministically as k-1 so the
    // changed-column extraction has an exact oracle
    val tail = when(typ === "update",
      concat(lit("\"},\"old\":{\"k\":\""),
        (col("k") - 1).cast("string"), lit("\"}}")))
      .otherwise(lit("\"}}"))
    events
      .withColumn("k", k)
      .select(
        concat(
          lit("{\"table\":\"t"), (col("user_id") % 3).cast("string"),
          lit("\",\"type\":\""), typ,
          lit("\",\"data\":{\"id\":\""), col("event_id").cast("string"),
          lit("\",\"uid\":\""), col("user_id").cast("string"),
          lit("\",\"k\":\""), col("k").cast("string"),
          tail
        ).as("value"),
        unix_millis(col("ts")).as("ems")
      )
  }

  private def routing(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(("t0", "fact"), ("t1", "fact"), ("t2", "dim"))
      .toDF("table_name", "kind")
  }

  /** Parse + normalize once, route many ways — same single-pass shape
    * (and the same persist-as-barrier rationale) as
    * DemuxQueries.parsed: one shared materialized envelope per
    * session instead of a per-branch single-split JSON round trip.
    */
  /** Synthesized Maxwell-style CDC lines — harness scaffolding (a
    * real deployment reads these from a broker rather than deriving
    * them from parquet). Cached separately so `prewarm` can take the
    * synthesis out of the timed region; parse + op-normalization —
    * the actual operators — stay timed.
    */
  private def synthLines(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("cdc", ("synth", s, d))(
      maxwellLines(Tables.events(s, d).repartition(col("event_id")))
        .select("value"))

  /** Materialize the synth scaffolding outside any timed region. */
  def prewarm(s: SparkSession, d: String): Unit = {
    synthLines(s, d).count(); ()
  }

  /** Parsed (pre-normalization) envelope, cached once — both the
    * I/U-only and the tombstone-aware normalizations are cheap
    * map-side passes over it, so neither pays a second JSON parse.
    */
  private def parsedEnv(s: SparkSession, d: String): DataFrame =
    graft.Caches.persisted("cdc", (s, d))(
      Cdc.parse(synthLines(s, d)))

  private def normalized(s: SparkSession, d: String): DataFrame =
    Cdc.normalizeOps(parsedEnv(s, d))

  val queries: Map[String, Q] = Map(
    // T10+T11: normalize op types (click/error rows must be dropped),
    // derive the dynamic topic column.
    // per-table op mix: the churn profile (rewrite share) of the
    // CDC feed — one conditional rollup, |tables| rows
    "q_cdc_op_mix" -> ((s, d) =>
      Cdc.opMixAudit(normalized(s, d))
        .orderBy(col("src_table"))),
    // hot keys by change volume: the keyed-sink write bottleneck,
    // named before the sink serializes on it — top-20, exact ppm
    "q_cdc_hot_keys" -> ((s, d) =>
      Cdc.hotKeys(
        normalized(s, d).select(
          col("data")("uid").cast("long").as("uid")),
        "uid", topN = 20)),
    // multi-writer conflict detection: the even-id and odd-id halves
    // of the feed as two concurrent delta batches over the same uid
    // keyspace — per conflicting uid, both sides' op profiles
    "q_cdc_apply_conflicts" -> ((s, d) => {
      val n = Cdc.normalizeOpsWithDeletes(parsedEnv(s, d)).select(
        col("data")("uid").cast("long").as("uid"),
        col("data")("id").cast("long").as("id"), col("op"))
      Cdc.conflictingKeys(
        n.filter(pmod(col("id"), lit(2L)) === 0L),
        n.filter(pmod(col("id"), lit(2L)) === 1L),
        Seq("uid"))
        .orderBy(col("uid"))
    }),
    // binlog-gap integrity: per table, islands of consecutive ids,
    // missing span ppm, largest single hole
    "q_cdc_seq_gaps" -> ((s, d) =>
      Cdc.sequenceGaps(normalized(s, d))
        .orderBy(col("src_table"))),
    // at-least-once redelivery audit over RAW lines: dups PLANTED by
    // re-synthesizing every event_id % 37 == 0 envelope (injective
    // line synthesis, so the duplicate rate has an exact oracle)
    "q_cdc_dup_delivery" -> ((s, d) => {
      val ev = Tables.events(s, d)
      Cdc.dupDeliveryProfile(maxwellLines(
        ev.unionByName(ev.filter(col("event_id") % 37 === 0)))
        .select(col("value")))
    }),
    // column-lifecycle drift over the raw envelope: 'k' planted as
    // ADDED (absent before id 100), 'uid' planted as DROPPED (absent
    // from id 5000 on) via map_filter — the op must read both off
    // the table's own id bounds
    "q_cdc_schema_drift" -> ((s, d) => {
      val planted = parsedEnv(s, d).withColumn("data",
        map_filter(col("data"), (kk, _) =>
          !(kk === "k" &&
            col("data")("id").cast("long") < 100L) &&
          !(kk === "uid" &&
            col("data")("id").cast("long") >= 5000L)))
      Cdc.schemaDrift(planted)
    }),
    // arrival-disorder profile: inversions vs the running id max and
    // the max regression depth — the measured fact behind watermark /
    // reorder-buffer sizing. Arrival order is planted deterministic:
    // days in calendar order, ids scrambled by id%97 within each day
    "q_cdc_disorder" -> ((s, d) => {
      val f = Tables.events(s, d).select(
        concat(lit("t"), pmod(col("user_id"), lit(3L)).cast("string"))
          .as("src_table"),
        col("event_id").as("id"),
        to_date(col("ts")).as("d"),
        pmod(col("event_id"), lit(97L)).as("arr_k"))
      Cdc.disorderProfile(f).orderBy(col("src_table"))
    }),
    // replica checksum validation: per-bucket (count, md5-60 sum)
    // fingerprints of a source dim vs a drifted replica (planted:
    // custkey%97 mutated, custkey%131 missing) — the
    // pt-table-checksum shape, only |buckets| rows ever meet
    "q_cdc_checksum_diff" -> ((s, d) => {
      val src = Tables.customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val dst = Tables.customer(s, d)
        .filter(pmod(col("c_custkey"), lit(131L)) =!= 0L)
        .select(col("c_custkey"), col("c_name"),
          when(pmod(col("c_custkey"), lit(97L)) === 0L,
            lit("DRIFTED")).otherwise(col("c_mktsegment"))
            .as("c_mktsegment"))
      Cdc.checksumDiff(src, dst, "c_custkey",
        Seq("c_custkey", "c_name", "c_mktsegment"), nBuckets = 32)
        .orderBy(col("bucket"))
    }),
    "q_cdc_route" -> ((s, d) =>
      Cdc.withTopic(normalized(s, d))
        .select(
          col("table").as("src_table"),
          col("op"),
          col("topic"),
          col("data")("id").cast("long").as("id")
        )
        .orderBy(col("id"))),
    // R2+R3: fact fan-out — `table IN (routing list)`, the list read
    // on the driver (the reference's broadcast-set probe).
    "q_cdc_fact_semi" -> ((s, d) =>
      Cdc.routeMatching(normalized(s, d), routing(s), "fact")
        .select(
          col("table").as("src_table"),
          col("op"),
          col("data")("id").cast("long").as("id")
        )
        .orderBy(col("id"))),
    // R4: dim last-write-wins — latest row per uid among dim-routed
    // rows (reference: Redis point upsert DIM:{TABLE}:{id}), by the
    // window form: greatest id per uid across partitions.
    "q_cdc_dim_lww" -> ((s, d) => {
      val dims = Cdc.routeMatching(normalized(s, d), routing(s), "dim")
        .select(
          col("data")("uid").cast("long").as("uid"),
          col("data")("id").cast("long").as("id"),
          col("op")
        )
      Cdc.lastWriteWins(dims, Seq(col("uid")), Seq(col("id")))
        .orderBy(col("uid"))
    }),
    // change tracking: one row per changed cell of each update
    "q_cdc_changed_cols" -> ((s, d) =>
      Cdc.changedColumns(normalized(s, d))
        .orderBy(col("id"), col("col_name"))),
    // K5 delete semantics: keyed compaction where a newest-row
    // tombstone removes the key (materialized-view read of CDC)
    "q_cdc_compact_tombstones" -> ((s, d) => {
      val envD = Cdc.normalizeOpsWithDeletes(parsedEnv(s, d))
      val dims = Cdc.routeMatching(envD, routing(s), "dim")
        .select(
          col("data")("uid").cast("long").as("uid"),
          col("data")("id").cast("long").as("id"),
          col("op"))
      Cdc.compactWithTombstones(dims, Seq(col("uid")), col("id"))
        .orderBy(col("uid"))
    }),
    // SCD2: full versioned history of the same tombstone-aware dim
    // feed — every I/U opens a version, the next change (or a delete)
    // closes it; `valid_to IS NULL` marks the current version
    // keyed snapshot diff: planted adds/removes/changes recovered as
    // status counts (corpusDiff's relational sibling)
    "q_orders_diff" -> ((s, d) => {
      val a = Tables.orders(s, d)
      val b = a.filter(expr("o_orderkey % 13 != 5"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 7 = 3"), col("o_totalprice") + 1.0)
            .otherwise(col("o_totalprice")))
        .unionByName(a.filter(expr("o_orderkey % 10 = 0"))
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      Cdc.snapshotDiff(a, b, Seq("o_orderkey"),
        Seq("o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority"))
    }),
    // CDC delta linter: planted contract violations (I on present,
    // U on absent, op after delete) counted per class
    "q_cdc_delta_audit" -> ((s, d) => {
      val o = Tables.orders(s, d).select(col("o_orderkey").as("k"))
      val base = o.filter(expr("k % 10 != 0"))
      def mk(cond: String, op: String, seq: Int) =
        o.filter(expr(cond)).select(col("k"), lit(op).as("op"),
          lit(seq).as("seq"))
      val delta = mk("k % 10 = 0", "I", 1)
        .unionByName(mk("k % 10 = 0 and k % 13 = 1", "U", 0))
        .unionByName(mk("k % 10 != 0 and k % 11 = 7", "I", 5))
        .unionByName(mk("k % 10 != 0 and k % 7 = 3", "U", 1))
        .unionByName(
          mk("k % 10 != 0 and k % 7 != 3 and k % 17 = 4", "D", 1))
        .unionByName(
          mk("k % 10 != 0 and k % 7 != 3 and k % 17 = 4", "U", 2))
      Cdc.deltaConsistencyAudit(base, delta, Seq("k"), col("seq"))
    }),
    // MERGE INTO: base snapshot + I/U/D delta (incl. U-then-D and
    // D-then-I sequences) == the oracle's recomputed post-delta
    // state, row for row
    "q_cdc_merge_apply" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderkey").as("k"),
        col("o_orderpriority").as("prio"),
        col("o_totalprice").as("val"))
      val base = o.filter(expr("k % 10 != 0"))
      def delta(cond: String, op: String, v: Column, seq: Int) =
        o.filter(expr(cond)).select(col("k"), col("prio"),
          v.as("val"), lit(op).as("op"), lit(seq).as("seq"))
      val inB = "k % 10 != 0"
      val changes =
        delta("k % 10 = 0", "I", col("val"), 1)
          .unionByName(delta(s"$inB and k % 7 = 3", "U",
            col("val") + 10.0, 1))
          .unionByName(delta(
            s"$inB and k % 7 != 3 and k % 13 = 5", "D", col("val"), 1))
          // U then D in one batch → net delete
          .unionByName(delta(
            s"$inB and k % 7 != 3 and k % 13 != 5 and k % 17 = 2",
            "U", col("val") + 99.0, 1))
          .unionByName(delta(
            s"$inB and k % 7 != 3 and k % 13 != 5 and k % 17 = 2",
            "D", col("val"), 2))
          // D then I in one batch → net re-insert with new value
          .unionByName(delta(
            s"$inB and k % 7 != 3 and k % 13 != 5 and k % 17 != 2 " +
              "and k % 19 = 3", "D", col("val"), 1))
          .unionByName(delta(
            s"$inB and k % 7 != 3 and k % 13 != 5 and k % 17 != 2 " +
              "and k % 19 = 3", "I", col("val") + 7.0, 2))
      Cdc.applySnapshot(base, changes, Seq("k"), col("seq"))
        .orderBy(col("k"))
    }),
    // incremental view maintenance: stored (key, sum, count) view +
    // synthesized I/U/D delta == the oracle's full recompute of the
    // post-delta state — maintenance ≡ recompute, hash-checked
    "q_cdc_view_maintenance" -> ((s, d) => {
      val o = Tables.orders(s, d).select(
        col("o_orderpriority").as("key"),
        col("o_totalprice").as("v"), col("o_orderkey"))
      val base = o.filter(expr("o_orderkey % 10 != 0"))
      val baseAgg = base.groupBy(col("key"))
        .agg(sum(col("v").cast("decimal(18,4)")).as("sum_v"),
          count(lit(1)).as("n_rows"))
      val inserts = o.filter(expr("o_orderkey % 10 = 0"))
        .select(col("key"), lit("I").as("op"), col("v"),
          lit(null).cast("double").as("old_v"))
      val updates = base.filter(expr("o_orderkey % 7 = 3"))
        .select(col("key"), lit("U").as("op"),
          (col("v") + 10.0).as("v"), col("v").as("old_v"))
      val deletes = base
        .filter(expr("o_orderkey % 7 != 3 and o_orderkey % 13 = 5"))
        .select(col("key"), lit("D").as("op"), col("v"),
          lit(null).cast("double").as("old_v"))
      Cdc.maintainSumCount(baseAgg,
          inserts.unionByName(updates).unionByName(deletes))
        .orderBy(col("key"))
    }),
    "q_cdc_scd2" -> ((s, d) => {
      val envD = Cdc.normalizeOpsWithDeletes(parsedEnv(s, d))
      val dims = Cdc.routeMatching(envD, routing(s), "dim")
        .select(
          col("data")("uid").cast("long").as("uid"),
          col("data")("id").cast("long").as("id"),
          col("op"))
      Cdc.scd2History(dims, Seq(col("uid")), col("id"))
        .orderBy(col("uid"), col("valid_from"))
    }),
    // point-in-time enrichment against the SCD2 history: error
    // events (NOT part of the CDC feed) probe the dim state as of
    // their own event_id — deleted gaps and never-keyed uids keep
    // their row unmatched (the data-quality read)
    "q_cdc_scd2_asof" -> ((s, d) => {
      val envD = Cdc.normalizeOpsWithDeletes(parsedEnv(s, d))
      val dims = Cdc.routeMatching(envD, routing(s), "dim")
        .select(
          col("data")("uid").cast("long").as("uid"),
          col("data")("id").cast("long").as("id"),
          col("op"))
      val hist = Cdc.scd2History(dims, Seq(col("uid")), col("id"))
      val facts = Tables.events(s, d)
        .filter(col("event_type") === "error")
        .select(col("user_id").as("uid"),
          col("event_id").as("asof"))
      Cdc.pointInTimeLookup(hist, facts, Seq("uid"), col("asof"))
        .select(col("uid"), col("asof"),
          col("id").as("version_id"), col("op").as("version_op"),
          col("valid_from"), col("valid_to"), col("is_current"),
          col("matched"))
        .orderBy(col("uid"), col("asof"))
    })
  )

  private val base =
    """WITH m AS (
      |  SELECT 't'||(user_id % 3) AS src_table,
      |    CASE WHEN event_type = 'signup' THEN 'I'
      |         WHEN event_type = 'view' THEN 'I'
      |         WHEN event_type = 'purchase' THEN 'U' END AS op,
      |    event_id AS id, user_id AS uid
      |  FROM events
      |  WHERE event_type IN ('signup','view','purchase'))""".stripMargin

  val oracle: Map[String, String] = Map(
    "q_cdc_op_mix" ->
      s"""$base
         |SELECT src_table,
         |  CAST(COUNT(*) AS BIGINT) AS n_ops,
         |  CAST(COUNT(CASE WHEN op = 'I' THEN 1 END) AS BIGINT)
         |    AS n_insert,
         |  CAST(COUNT(CASE WHEN op = 'U' THEN 1 END) AS BIGINT)
         |    AS n_update,
         |  CAST(COUNT(CASE WHEN op = 'D' THEN 1 END) AS BIGINT)
         |    AS n_delete,
         |  (COUNT(CASE WHEN op = 'U' THEN 1 END)
         |   + COUNT(CASE WHEN op = 'D' THEN 1 END)) * 1000000
         |    // COUNT(*) AS churn_ppm
         |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cdc_hot_keys" ->
      s"""$base,
         |byk AS (
         |  SELECT uid AS key, CAST(COUNT(*) AS BIGINT) AS n_changes
         |  FROM m GROUP BY 1),
         |t AS (
         |  SELECT CAST(SUM(n_changes) AS BIGINT) AS n_total,
         |    CAST(COUNT(*) AS BIGINT) AS n_keys
         |  FROM byk)
         |SELECT key, n_changes, n_total, n_keys,
         |  n_changes * 1000000 // n_total AS share_ppm
         |FROM byk, t
         |ORDER BY n_changes DESC, key LIMIT 20""".stripMargin,
    "q_cdc_route" ->
      s"""$base
         |SELECT src_table, op, UPPER(src_table)||'_'||op AS topic, id
         |FROM m ORDER BY id""".stripMargin,
    // even/odd id halves as two writers; op profiles per shared uid
    "q_cdc_apply_conflicts" ->
      """WITH m AS (
        |  SELECT user_id AS uid, event_id AS id,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'view' THEN 'I'
        |         WHEN event_type = 'purchase' THEN 'U'
        |         WHEN event_type = 'click' THEN 'D' END AS op
        |  FROM events
        |  WHERE event_type IN ('signup','view','purchase','click')),
        |a AS (
        |  SELECT uid, CAST(COUNT(*) AS BIGINT) AS n_ops_a,
        |    list_sort(list(DISTINCT op)) AS ops_la
        |  FROM m WHERE id % 2 = 0 GROUP BY uid),
        |b AS (
        |  SELECT uid, CAST(COUNT(*) AS BIGINT) AS n_ops_b,
        |    list_sort(list(DISTINCT op)) AS ops_lb
        |  FROM m WHERE id % 2 = 1 GROUP BY uid)
        |SELECT a.uid, a.n_ops_a,
        |  array_to_string(a.ops_la, ',') AS ops_a,
        |  b.n_ops_b,
        |  array_to_string(b.ops_lb, ',') AS ops_b,
        |  CASE WHEN list_contains(a.ops_la, 'D')
        |      OR list_contains(b.ops_lb, 'D')
        |    THEN 'delete_conflict' ELSE 'update_conflict'
        |  END AS conflict_type
        |FROM a JOIN b USING (uid) ORDER BY a.uid""".stripMargin,
    // gaps-and-islands over the per-table DISTINCT id stream
    "q_cdc_schema_drift" ->
      """WITH rows AS (
        |  SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS src_table,
        |    event_id AS id FROM events),
        |cols AS (
        |  SELECT src_table, id, col_name
        |  FROM rows CROSS JOIN (VALUES ('id'), ('k'), ('uid'))
        |    c(col_name)
        |  WHERE NOT (col_name = 'k' AND id < 100)
        |    AND NOT (col_name = 'uid' AND id >= 5000)),
        |tot AS (
        |  SELECT src_table, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    MIN(id) AS t_min, MAX(id) AS t_max
        |  FROM rows GROUP BY 1)
        |SELECT c.src_table, c.col_name,
        |  CAST(COUNT(*) AS BIGINT) AS n_present,
        |  CAST(COUNT(*) AS BIGINT) * 1000000 // t.n_rows
        |    AS presence_ppm,
        |  CAST(COUNT(*) AS BIGINT) * 1000000
        |    // (CAST(MAX(c.id) AS BIGINT) - MIN(c.id) + 1)
        |    AS span_ppm,
        |  CAST(MIN(c.id) AS BIGINT) AS first_id,
        |  CAST(MAX(c.id) AS BIGINT) AS last_id,
        |  CASE WHEN MIN(c.id) > t.t_min AND MAX(c.id) < t.t_max
        |    THEN 'windowed'
        |    WHEN MIN(c.id) > t.t_min THEN 'added'
        |    WHEN MAX(c.id) < t.t_max THEN 'dropped'
        |    ELSE 'stable' END AS status
        |FROM cols c JOIN tot t USING (src_table)
        |GROUP BY c.src_table, c.col_name, t.n_rows, t.t_min, t.t_max
        |ORDER BY c.src_table, c.col_name""".stripMargin,
    // line equality == tuple equality (the synthesis is injective),
    // so the twin counts over the field tuple; same % 37 plant
    "q_cdc_dup_delivery" ->
      """WITH m AS (
        |  SELECT 't' || CAST(user_id % 3 AS VARCHAR) AS src_table,
        |    event_id, user_id, event_type,
        |    COALESCE(CAST(json_extract_string(props, '$.k') AS INT),
        |      0) AS k
        |  FROM events),
        |p AS (
        |  SELECT * FROM m
        |  UNION ALL SELECT * FROM m WHERE event_id % 37 = 0),
        |g AS (
        |  SELECT src_table, event_id, user_id, event_type, k,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM p GROUP BY 1, 2, 3, 4, 5)
        |SELECT src_table, CAST(SUM(n) AS BIGINT) AS n_msgs,
        |  CAST(COUNT(*) AS BIGINT) AS n_unique,
        |  CAST(SUM(n) - COUNT(*) AS BIGINT) AS n_dup,
        |  CAST((SUM(n) - COUNT(*)) * 1000000 // SUM(n) AS BIGINT)
        |    AS dup_ppm,
        |  CAST(MAX(n) AS BIGINT) AS max_copies
        |FROM g GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_cdc_seq_gaps" ->
      s"""$base,
         |ids AS (SELECT DISTINCT src_table, id FROM m),
         |i AS (
         |  SELECT src_table, id,
         |    id - ROW_NUMBER() OVER (PARTITION BY src_table
         |      ORDER BY id) AS grp
         |  FROM ids),
         |isl AS (
         |  SELECT src_table, grp,
         |    CAST(MIN(id) AS BIGINT) AS run_start,
         |    CAST(MAX(id) AS BIGINT) AS run_end,
         |    CAST(COUNT(*) AS BIGINT) AS run_len
         |  FROM i GROUP BY 1, 2),
         |x AS (
         |  SELECT *, LEAD(run_start) OVER (PARTITION BY src_table
         |    ORDER BY run_start) AS next_start
         |  FROM isl)
         |SELECT src_table, CAST(SUM(run_len) AS BIGINT) AS n_ids,
         |  CAST(MIN(run_start) AS BIGINT) AS min_id,
         |  CAST(MAX(run_end) AS BIGINT) AS max_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_islands,
         |  CAST(MAX(CASE WHEN next_start IS NOT NULL
         |    THEN next_start - run_end - 1 END) AS BIGINT)
         |    AS largest_gap,
         |  CAST(MAX(run_end) - MIN(run_start) + 1 - SUM(run_len)
         |    AS BIGINT) AS n_missing,
         |  CAST(MAX(run_end) - MIN(run_start) + 1 - SUM(run_len)
         |    AS BIGINT) * 1000000
         |    // CAST(MAX(run_end) - MIN(run_start) + 1 AS BIGINT)
         |    AS missing_ppm
         |FROM x GROUP BY src_table ORDER BY src_table""".stripMargin,
    // running id max per table over the planted arrival order
    // (d, id%97, id) — inversions + max regression depth
    "q_cdc_disorder" ->
      """WITH m AS (
        |  SELECT 't'||(user_id % 3) AS src_table, event_id AS id,
        |    CAST(ts AS DATE) AS d, event_id % 97 AS arr_k
        |  FROM events),
        |w AS (
        |  SELECT src_table, id,
        |    MAX(id) OVER (PARTITION BY src_table
        |      ORDER BY d, arr_k, id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS prev_max
        |  FROM m)
        |SELECT src_table, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(CASE WHEN id < prev_max THEN 1 END) AS BIGINT)
        |    AS n_inversions,
        |  CAST(MAX(CASE WHEN id < prev_max THEN prev_max - id END)
        |    AS BIGINT) AS max_regression,
        |  COUNT(CASE WHEN id < prev_max THEN 1 END) * 1000000
        |    // COUNT(*) AS inversion_ppm
        |FROM w GROUP BY src_table ORDER BY src_table""".stripMargin,
    // md5-60 row hashes summed per bucket in HUGEINT (exact), then
    // the fingerprint narrows mod 2^61-1 to BIGINT — wide decimals
    // must not reach a final projection (driver-hash hazard)
    "q_cdc_checksum_diff" ->
      """WITH src AS (
        |  SELECT c_custkey % 32 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_src,
        |    SUM(CAST(CAST(('0x' || substr(md5(
        |      c_custkey::VARCHAR || '|' || c_name || '|'
        |        || c_mktsegment), 1, 15)) AS BIGINT) AS HUGEINT))
        |      AS sum_src
        |  FROM customer GROUP BY 1),
        |dst0 AS (
        |  SELECT c_custkey, c_name,
        |    CASE WHEN c_custkey % 97 = 0 THEN 'DRIFTED'
        |         ELSE c_mktsegment END AS c_mktsegment
        |  FROM customer WHERE c_custkey % 131 <> 0),
        |dst AS (
        |  SELECT c_custkey % 32 AS bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n_dst,
        |    SUM(CAST(CAST(('0x' || substr(md5(
        |      c_custkey::VARCHAR || '|' || c_name || '|'
        |        || c_mktsegment), 1, 15)) AS BIGINT) AS HUGEINT))
        |      AS sum_dst
        |  FROM dst0 GROUP BY 1)
        |SELECT COALESCE(src.bucket, dst.bucket) AS bucket,
        |  COALESCE(n_src, 0) AS n_src,
        |  COALESCE(n_dst, 0) AS n_dst,
        |  CAST(COALESCE(sum_src, 0) % 2305843009213693951
        |    AS BIGINT) AS sum_src,
        |  CAST(COALESCE(sum_dst, 0) % 2305843009213693951
        |    AS BIGINT) AS sum_dst,
        |  COALESCE(n_src, 0) = COALESCE(n_dst, 0)
        |    AND COALESCE(sum_src, 0) % 2305843009213693951
        |      = COALESCE(sum_dst, 0) % 2305843009213693951
        |    AS is_match
        |FROM src FULL OUTER JOIN dst ON src.bucket = dst.bucket
        |ORDER BY bucket""".stripMargin,
    "q_cdc_fact_semi" ->
      s"""$base
         |SELECT src_table, op, id FROM m
         |WHERE src_table IN ('t0','t1') ORDER BY id""".stripMargin,
    "q_cdc_dim_lww" ->
      s"""$base
         |SELECT uid, id, op FROM (
         |  SELECT uid, id, op,
         |    ROW_NUMBER() OVER (PARTITION BY uid ORDER BY id DESC) AS rn
         |  FROM m WHERE src_table = 't2')
         |WHERE rn = 1 ORDER BY uid""".stripMargin,
    "q_cdc_changed_cols" ->
      """SELECT 't'||(user_id % 3) AS src_table, event_id AS id,
        |  'k' AS col_name,
        |  CAST(COALESCE(CAST(json_extract_string(props, '$.k') AS INT),
        |    0) - 1 AS VARCHAR) AS old_value,
        |  CAST(COALESCE(CAST(json_extract_string(props, '$.k') AS INT),
        |    0) AS VARCHAR) AS new_value
        |FROM events WHERE event_type = 'purchase'
        |ORDER BY id, col_name""".stripMargin,
    "q_cdc_compact_tombstones" ->
      """WITH m AS (
        |  SELECT 't'||(user_id % 3) AS src_table,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'view' THEN 'I'
        |         WHEN event_type = 'purchase' THEN 'U'
        |         WHEN event_type = 'click' THEN 'D' END AS op,
        |    event_id AS id, user_id AS uid
        |  FROM events
        |  WHERE event_type IN ('signup','view','purchase','click'))
        |SELECT uid, id, op FROM (
        |  SELECT uid, id, op,
        |    ROW_NUMBER() OVER (PARTITION BY uid ORDER BY id DESC) AS rn
        |  FROM m WHERE src_table = 't2')
        |WHERE rn = 1 AND op <> 'D' ORDER BY uid""".stripMargin,
    "q_orders_diff" ->
      """WITH a AS (SELECT * FROM orders),
        |b AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice,
        |    o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 13 <> 5
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |ha AS (
        |  SELECT o_orderkey, md5(concat_ws(chr(31),
        |    COALESCE(CAST(o_custkey AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_orderstatus AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_totalprice AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_orderdate AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_orderpriority AS VARCHAR), chr(0))))
        |    AS a_hash
        |  FROM a),
        |hb AS (
        |  SELECT o_orderkey, md5(concat_ws(chr(31),
        |    COALESCE(CAST(o_custkey AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_orderstatus AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_totalprice AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_orderdate AS VARCHAR), chr(0)),
        |    COALESCE(CAST(o_orderpriority AS VARCHAR), chr(0))))
        |    AS b_hash
        |  FROM b)
        |SELECT CASE WHEN a_hash IS NULL THEN 'added'
        |    WHEN b_hash IS NULL THEN 'removed'
        |    WHEN a_hash = b_hash THEN 'unchanged'
        |    ELSE 'changed' END AS status,
        |  COUNT(*) AS n
        |FROM ha FULL OUTER JOIN hb USING (o_orderkey)
        |GROUP BY 1 ORDER BY status""".stripMargin,
    "q_cdc_delta_audit" ->
      """WITH o AS (SELECT o_orderkey AS k FROM orders),
        |delta AS (
        |  SELECT k, 'I' AS op, 1 AS seq FROM o WHERE k % 10 = 0
        |  UNION ALL
        |  SELECT k, 'U', 0 FROM o
        |  WHERE k % 10 = 0 AND k % 13 = 1
        |  UNION ALL
        |  SELECT k, 'I', 5 FROM o
        |  WHERE k % 10 <> 0 AND k % 11 = 7
        |  UNION ALL
        |  SELECT k, 'U', 1 FROM o WHERE k % 10 <> 0 AND k % 7 = 3
        |  UNION ALL
        |  SELECT k, 'D', 1 FROM o
        |  WHERE k % 10 <> 0 AND k % 7 <> 3 AND k % 17 = 4
        |  UNION ALL
        |  SELECT k, 'U', 2 FROM o
        |  WHERE k % 10 <> 0 AND k % 7 <> 3 AND k % 17 = 4),
        |seqd AS (
        |  SELECT k, op, seq,
        |    ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq) AS rn,
        |    LAG(op) OVER (PARTITION BY k ORDER BY seq) AS prev
        |  FROM delta),
        |wb AS (
        |  SELECT s.*, b.k IS NOT NULL AS in_base
        |  FROM seqd s LEFT JOIN
        |    (SELECT DISTINCT k FROM o WHERE k % 10 <> 0) b
        |    USING (k)),
        |f AS (
        |  SELECT
        |    CAST(SUM(CASE WHEN rn = 1 AND op = 'I' AND in_base
        |      THEN 1 ELSE 0 END) AS BIGINT) AS insert_on_present,
        |    CAST(SUM(CASE WHEN rn = 1 AND op IN ('U','D')
        |      AND NOT in_base THEN 1 ELSE 0 END) AS BIGINT)
        |      AS modify_on_absent,
        |    CAST(SUM(CASE WHEN (prev IN ('I','U') AND op = 'I')
        |      OR (prev = 'D' AND op IN ('U','D'))
        |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_sequence
        |  FROM wb)
        |SELECT 'bad_sequence' AS violation, bad_sequence AS n FROM f
        |UNION ALL
        |SELECT 'insert_on_present', insert_on_present FROM f
        |UNION ALL
        |SELECT 'modify_on_absent', modify_on_absent FROM f
        |ORDER BY violation""".stripMargin,
    "q_cdc_merge_apply" ->
      """WITH o AS (
        |  SELECT o_orderkey AS k, o_orderpriority AS prio,
        |    o_totalprice AS val
        |  FROM orders)
        |SELECT k, prio, val FROM o
        |WHERE k % 10 <> 0 AND k % 7 <> 3 AND k % 13 <> 5
        |  AND k % 17 <> 2 AND k % 19 <> 3
        |UNION ALL
        |SELECT k, prio, val FROM o WHERE k % 10 = 0
        |UNION ALL
        |SELECT k, prio, val + 10 AS val FROM o
        |WHERE k % 10 <> 0 AND k % 7 = 3
        |UNION ALL
        |SELECT k, prio, val + 7 AS val FROM o
        |WHERE k % 10 <> 0 AND k % 7 <> 3 AND k % 13 <> 5
        |  AND k % 17 <> 2 AND k % 19 = 3
        |ORDER BY k""".stripMargin,
    "q_cdc_view_maintenance" ->
      """WITH o AS (
        |  SELECT o_orderpriority AS key, o_totalprice AS v,
        |    o_orderkey
        |  FROM orders),
        |fin AS (
        |  SELECT key, v + 10 AS v FROM o
        |  WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 = 3
        |  UNION ALL
        |  SELECT key, v FROM o
        |  WHERE o_orderkey % 10 <> 0 AND o_orderkey % 7 <> 3
        |    AND o_orderkey % 13 <> 5
        |  UNION ALL
        |  SELECT key, v FROM o WHERE o_orderkey % 10 = 0)
        |SELECT key, COUNT(*) AS n_rows,
        |  CAST(CAST(SUM(CAST(v AS DECIMAL(18,4))) AS VARCHAR)
        |    AS DOUBLE) AS sum_v
        |FROM fin GROUP BY key ORDER BY key""".stripMargin,
    "q_cdc_scd2" ->
      """WITH m AS (
        |  SELECT 't'||(user_id % 3) AS src_table,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'view' THEN 'I'
        |         WHEN event_type = 'purchase' THEN 'U'
        |         WHEN event_type = 'click' THEN 'D' END AS op,
        |    event_id AS id, user_id AS uid
        |  FROM events
        |  WHERE event_type IN ('signup','view','purchase','click')),
        |v AS (
        |  SELECT uid, id, op, id AS valid_from,
        |    LEAD(id) OVER (PARTITION BY uid ORDER BY id) AS valid_to
        |  FROM m WHERE src_table = 't2')
        |SELECT uid, id, op, valid_from, valid_to,
        |  valid_to IS NULL AS is_current
        |FROM v WHERE op <> 'D'
        |ORDER BY uid, valid_from""".stripMargin,
    // the scd2 stack + interval-containment LEFT join from the
    // error-event probe set
    "q_cdc_scd2_asof" ->
      """WITH m AS (
        |  SELECT 't'||(user_id % 3) AS src_table,
        |    CASE WHEN event_type = 'signup' THEN 'I'
        |         WHEN event_type = 'view' THEN 'I'
        |         WHEN event_type = 'purchase' THEN 'U'
        |         WHEN event_type = 'click' THEN 'D' END AS op,
        |    event_id AS id, user_id AS uid
        |  FROM events
        |  WHERE event_type IN ('signup','view','purchase','click')),
        |v0 AS (
        |  SELECT uid, id, op, id AS valid_from,
        |    LEAD(id) OVER (PARTITION BY uid ORDER BY id) AS valid_to
        |  FROM m WHERE src_table = 't2'),
        |v AS (SELECT * FROM v0 WHERE op <> 'D'),
        |f AS (
        |  SELECT user_id AS uid, event_id AS asof FROM events
        |  WHERE event_type = 'error')
        |SELECT f.uid, f.asof, v.id AS version_id,
        |  v.op AS version_op, v.valid_from, v.valid_to,
        |  CASE WHEN v.valid_from IS NULL THEN NULL
        |    ELSE v.valid_to IS NULL END AS is_current,
        |  v.valid_from IS NOT NULL AS matched
        |FROM f LEFT JOIN v ON v.uid = f.uid
        |  AND v.valid_from <= f.asof
        |  AND (v.valid_to IS NULL OR f.asof < v.valid_to)
        |ORDER BY f.uid, f.asof""".stripMargin
  )
}
