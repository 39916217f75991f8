package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.ops.Cdc

/** CDC normalization/routing/LWW semantics (T10/T11, R2/R4):
  * 4-case op table incl. drop, topic derivation, last-write-wins.
  */
class CdcSpec extends SparkSpec {
  import spark.implicits._

  private val lines = Seq(
    """{"table":"order_info","type":"insert","data":{"id":"1"}}""",
    """{"table":"order_info","type":"bootstrap-insert","data":{"id":"2"}}""",
    """{"table":"user_info","type":"update","data":{"id":"3"}}""",
    """{"table":"user_info","type":"delete","data":{"id":"4"}}""",
    """{"table":"user_info","type":"truncate","data":{"id":"5"}}"""
  ).toDF("value")

  test("op normalization: I/I/U and else-drop") {
    def ops(df: org.apache.spark.sql.DataFrame) =
      df.select(col("data")("id").as("id"), col("op"))
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val plain = ops(Cdc.normalizeOps(Cdc.parse(lines)))
    assert(plain == Map("1" -> "I", "2" -> "I", "3" -> "U"))
    // the with-deletes table: delete -> D, truncate still dropped
    val withDeletes = ops(Cdc.normalizeOpsWithDeletes(Cdc.parse(lines)))
    assert(withDeletes ==
      Map("1" -> "I", "2" -> "I", "3" -> "U", "4" -> "D"))
    // the two agree on every non-delete row
    assert(withDeletes.filter(_._2 != "D") == plain)
  }

  test("topic derivation: upper(table)_op") {
    val topics = Cdc.withTopic(Cdc.normalizeOps(Cdc.parse(lines)))
      .select("topic").as[String].collect().toSet
    assert(topics == Set("ORDER_INFO_I", "USER_INFO_U"))
  }

  test("routing semi-join keeps only configured kind") {
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
    val n = Cdc.normalizeOps(Cdc.parse(lines))
    assert(Cdc.routeMatching(n, routing, "fact")
      .select("table").as[String].collect().toSet == Set("order_info"))
    assert(Cdc.routeMatching(n, routing, "dim")
      .select("table").as[String].collect().toSet == Set("user_info"))
  }

  test("routing isin edge cases: kind with no tables, null table, " +
      "duplicate routing rows, table missing from routing") {
    val env = Seq(
      """{"table":"order_info","type":"insert","data":{"id":"1"}}""",
      """{"table":"order_info","type":"update","data":{"id":"1"}}""",
      """{"type":"insert","data":{"id":"2"}}""",
      """{"table":"other","type":"insert","data":{"id":"3"}}""",
      """{"table":"user_info","type":"insert","data":{"id":"4"}}"""
    ).toDF("value")
    val n = Cdc.normalizeOps(Cdc.parse(env))
    val routing = Seq(("order_info", "fact"), ("order_info", "fact"),
      ("user_info", "dim")).toDF("table_name", "kind")
    def routed(rt: org.apache.spark.sql.DataFrame, kind: String) =
      Cdc.routeMatching(n, rt, kind)
        .select(col("table"), col("data")("id"), col("op"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
    // empty `isin`: an unknown kind, and a routing table with no rows
    assert(routed(routing, "audit").isEmpty)
    assert(routed(routing.limit(0), "fact").isEmpty)
    // the duplicated routing row does not duplicate the facts
    assert(routed(routing, "fact") ==
      Seq(("order_info", "1", "I"), ("order_info", "1", "U")))
    // the null-table envelope (id 2) and the unrouted table (id 3)
    // reach neither kind
    assert(routed(routing, "dim") == Seq(("user_info", "4", "I")))
  }

  test("processBatch dim LWW follows partition order: the last write " +
      "per key within a partition; a key spanning partitions keeps " +
      "one row per partition") {
    def env(table: String, tpe: String, id: String, v: String) =
      s"""{"table":"$table","type":"$tpe","data":{"id":"$id","v":"$v"}}"""
    // parallelize(rows, 2) slices the list into its two halves
    val part0 = Seq(
      env("user_info", "insert", "1", "c"),
      env("user_info", "update", "1", "a"),
      env("sku_info", "bootstrap-insert", "1", "x"),
      env("user_info", "update", "1", "b"),
      env("user_info", "insert", "3", "early"))
    val part1 = Seq(
      env("user_info", "insert", "2", "z"),
      env("order_info", "insert", "9", "f"),
      env("user_info", "update", "2", "y"),
      env("user_info", "update", "3", "late"),
      env("user_info", "update", "2", "w"))
    val batch = spark.sparkContext.parallelize(part0 ++ part1, 2)
      .toDF("value")
    assert(batch.rdd.getNumPartitions == 2)
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"),
      ("sku_info", "dim")).toDF("table_name", "kind")
    var facts = Seq.empty[(String, String)]
    var dims = Seq.empty[(String, String, String)]
    graft.streaming.CdcPipeline.processBatch(batch, routing,
      f => facts = f.collect().map(r => (r.getString(0), r.getString(1))).toSeq,
      d => dims = d.select(col("table"), col("data")("id"),
          to_json(col("data")))
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
        .toSeq)
    assert(facts == Seq(("ORDER_INFO_I", """{"id":"9","v":"f"}""")))
    def written(key: (String, String)) =
      dims.filter(d => (d._1, d._2) == key).map(_._3)
    // one row per key, the partition's last write, bytes unchanged
    assert(written(("user_info", "1")) == Seq("""{"id":"1","v":"b"}"""))
    assert(written(("sku_info", "1")) == Seq("""{"id":"1","v":"x"}"""))
    assert(written(("user_info", "2")) == Seq("""{"id":"2","v":"w"}"""))
    // the stated limitation: writes in two partitions stay two rows
    assert(written(("user_info", "3")).toSet ==
      Set("""{"id":"3","v":"early"}""", """{"id":"3","v":"late"}"""))
    assert(dims.size == 5)
  }

  test("processBatch reads the routing list once per batch") {
    val reads = spark.sparkContext.longAccumulator("routing-rows")
    val counted = udf { (k: String) => reads.add(1); k }.asNondeterministic()
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
      .select(col("table_name"), counted(col("kind")).as("kind"))
    var facts = 0L
    var dims = 0L
    graft.streaming.CdcPipeline.processBatch(lines, routing,
      f => facts = f.count(), d => dims = d.count())
    assert((facts, dims) == (2L, 1L))
    assert(reads.value == 2L)
  }

  test("processBatch routes no envelope whose data did not parse: " +
      "not JSON, truncated, data not an object, data missing") {
    val valid = Seq(
      """{"table":"order_info","type":"insert","data":{"id":"1"}}""",
      """{"table":"user_info","type":"update","data":{"id":"2"}}""")
    // each bad envelope names a routed table, so only its data keeps
    // it out; from_json nulls a drifted data and keeps table and type
    val bad = Seq(
      "not json",
      """{"table":"order_info","type":"insert","data":{"id":"3"""",
      """{"table":"order_info","type":"insert","data":[1]}""",
      """{"table":"user_info","type":"update","data":[1]}""",
      """{"table":"order_info","type":"insert"}""",
      """{"table":"user_info","type":"update"}""")
    val batch = spark.sparkContext.parallelize(valid ++ bad, 2)
      .toDF("value")
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
    var facts = Seq.empty[(String, String)]
    var dims = Seq.empty[(String, String)]
    graft.streaming.CdcPipeline.processBatch(batch, routing,
      f => facts = f.collect().map(r => (r.getString(0), r.getString(1))).toSeq,
      d => dims = d.select(col("table"), col("data")("id"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq)
    // no tombstone (null value) fact and no null-id dim: the bad
    // envelopes are dropped, silently until a dead-letter topic exists
    assert(facts == Seq(("ORDER_INFO_I", """{"id":"1"}""")))
    assert(dims == Seq(("user_info", "2")))
  }

  /** Ten envelopes, five routed fact and five routed dim, in two
    * partitions, with the routing list for them.
    */
  private def twoPartitionBatch() = {
    val envs = (1 to 5).flatMap(i => Seq(
      s"""{"table":"order_info","type":"insert","data":{"id":"$i"}}""",
      s"""{"table":"user_info","type":"update","data":{"id":"$i"}}"""))
    val batch = spark.sparkContext.parallelize(envs, 2).toDF("value")
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
    (batch, routing)
  }

  /** Whether `batch`'s parse is in the cache manager. */
  private def parseCached(batch: org.apache.spark.sql.DataFrame) =
    Cdc.parse(batch).storageLevel != StorageLevel.NONE

  test("processBatch runs the sinks concurrently, the dim sink with " +
      "the caller's thread-locals, and unpersists the parse after") {
    val (batch, routing) = twoPartitionBatch()
    // each sink releases its own latch and waits for the other's, so
    // running them one after the other, in either order, times out
    val factStarted, dimStarted = new CountDownLatch(1)
    @volatile var factSawDim, dimSawFact = false
    @volatile var dimSaw = ("", "", false)
    @volatile var factRows = -1L
    @volatile var dimRows = -1L
    spark.sparkContext.setJobGroup("cdc-overlap", "processBatch")
    try graft.streaming.CdcPipeline.processBatch(batch, routing,
      f => {
        factStarted.countDown()
        factSawDim = dimStarted.await(30, TimeUnit.SECONDS)
        factRows = f.count()
      },
      d => {
        dimStarted.countDown()
        dimSawFact = factStarted.await(30, TimeUnit.SECONDS)
        dimSaw = (Thread.currentThread.getName,
          spark.sparkContext.getLocalProperty("spark.jobGroup.id"),
          parseCached(batch))
        dimRows = d.count()
      })
    finally spark.sparkContext.clearJobGroup()
    assert(factSawDim && dimSawFact, "the sinks ran one after the other")
    assert((factRows, dimRows) == ((5L, 5L)))
    assert(dimSaw._1.startsWith("cdc-dim-sink-"), dimSaw)
    assert(dimSaw._2 == "cdc-overlap", dimSaw)
    assert(dimSaw._3, "the dim sink ran without the cached parse")
    assert(!parseCached(batch), "the parse is still cached")
  }

  test("processBatch parses each envelope once with both sinks " +
      "reading the cache concurrently") {
    val (plain, routing) = twoPartitionBatch()
    val parses = spark.sparkContext.longAccumulator("parsed-envelopes")
    val counted = udf { (v: String) => parses.add(1); v }.asNondeterministic()
    val batch = plain.select(counted(col("value")).as("value"))
    assert(batch.rdd.getNumPartitions == 2)
    // both jobs start together and reach the uncached partitions at once
    val bothStarted = new CountDownLatch(2)
    def together(df: org.apache.spark.sql.DataFrame): Unit = {
      bothStarted.countDown()
      assert(bothStarted.await(30, TimeUnit.SECONDS))
      df.collect()
    }
    graft.streaming.CdcPipeline.processBatch(batch, routing,
      together, together)
    assert(parses.value == 10L)
  }

  test("processBatch when the fact sink throws: the dim sink " +
      "completes over the cache, the fact sink's exception propagates " +
      "as thrown, and the parse is unpersisted") {
    val (batch, routing) = twoPartitionBatch()
    val factFailed = new CountDownLatch(1)
    @volatile var dimRows = -1L
    @volatile var cachedAfterFactFailed = false
    val boom = new IllegalStateException("fact topic down")
    val thrown = intercept[IllegalStateException] {
      graft.streaming.CdcPipeline.processBatch(batch, routing,
        _ => { factFailed.countDown(); throw boom },
        d => {
          assert(factFailed.await(30, TimeUnit.SECONDS))
          cachedAfterFactFailed = parseCached(batch)
          dimRows = d.count()
        })
    }
    assert(thrown eq boom)
    assert(thrown.getSuppressed.isEmpty)
    assert(dimRows == 5L, "processBatch returned before the dim sink finished")
    assert(cachedAfterFactFailed, "unpersisted while the dim sink ran")
    assert(!parseCached(batch), "the parse is still cached")
  }

  test("processBatch when the dim sink throws: the fact sink " +
      "completes, the dim sink's exception propagates as thrown; when " +
      "both throw, the fact sink's carries the dim sink's as suppressed") {
    val (batch, routing) = twoPartitionBatch()
    val dimFailed = new CountDownLatch(1)
    @volatile var factRows = -1L
    val dimBoom = new IllegalStateException("dim store down")
    val thrown = intercept[IllegalStateException] {
      graft.streaming.CdcPipeline.processBatch(batch, routing,
        f => {
          assert(dimFailed.await(30, TimeUnit.SECONDS))
          factRows = f.count()
        },
        _ => { dimFailed.countDown(); throw dimBoom })
    }
    assert(thrown eq dimBoom)
    assert(factRows == 5L, "processBatch returned before the fact sink finished")
    assert(!parseCached(batch), "the parse is still cached")

    val factBoom = new IllegalArgumentException("fact topic down")
    val both = intercept[IllegalArgumentException] {
      graft.streaming.CdcPipeline.processBatch(batch, routing,
        _ => throw factBoom, _ => throw dimBoom)
    }
    assert(both eq factBoom)
    assert(both.getSuppressed.toSeq == Seq(dimBoom))
    assert(!parseCached(batch), "the parse is still cached")
  }

  test("last-write-wins keeps exactly the newest row per key") {
    val df = Seq(
      ("k1", 1L, "a"), ("k1", 3L, "c"), ("k1", 2L, "b"),
      ("k2", 5L, "x")
    ).toDF("k", "v", "payload")
    val out = Cdc.lastWriteWins(df, Seq(col("k")), Seq(col("v")))
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("k1" -> "c", "k2" -> "x"))
  }

  test("tombstone compaction drops keys whose newest row is a delete") {
    val df = Seq(
      ("k1", 1L, "I"), ("k1", 3L, "D"), ("k1", 2L, "U"),  // newest = D
      ("k2", 5L, "I"), ("k2", 6L, "U"),                   // newest = U
      ("k3", 9L, "D"), ("k3", 10L, "I")                   // delete then re-insert
    ).toDF("k", "v", "op")
    val out = Cdc.compactWithTombstones(df, Seq(col("k")), col("v"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("k2" -> 6L, "k3" -> 10L))  // k1 gone
  }

  test("changed columns: one row per old-map cell, updates only") {
    val lines = Seq(
      """{"table":"t1","type":"update","data":{"id":"7","a":"2","b":"9"},"old":{"a":"1"}}""",
      """{"table":"t1","type":"insert","data":{"id":"8","a":"5"}}"""
    ).toDF("value")
    val out = Cdc.changedColumns(Cdc.normalizeOps(Cdc.parse(lines)))
      .collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getAs[Long]("id") == 7L)
    assert(r.getAs[String]("col_name") == "a")
    assert(r.getAs[String]("old_value") == "1")
    assert(r.getAs[String]("new_value") == "2")
  }

  test("SCD2: versions chained, delete closes, current flagged") {
    val df = Seq(
      ("k1", 1L, "I"), ("k1", 3L, "U"), ("k1", 5L, "D"), // ends deleted
      ("k2", 2L, "I"), ("k2", 4L, "U"),                  // current = v4
      ("k3", 6L, "I")                                    // single current
    ).toDF("k", "seq", "op")
    val out = Cdc.scd2History(df, Seq(col("k")), col("seq"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        r.getAs[Long]("valid_from"),
        Option(r.getAs[java.lang.Long]("valid_to")).map(_.toLong),
        r.getAs[Boolean]("is_current")))
      .toSet
    assert(out == Set(
      ("k1", 1L, 1L, Some(3L), false),
      ("k1", 3L, 3L, Some(5L), false), // closed by the tombstone
      ("k2", 2L, 2L, Some(4L), false),
      ("k2", 4L, 4L, None, true),
      ("k3", 6L, 6L, None, true)))
    // no version row for deletes, and a deleted key has no current row
    assert(!out.exists { case (k, _, _, _, cur) => k == "k1" && cur })
  }

  test("maintainSumCount: I/U/D adjustments, new group appears, emptied group drops") {
    // base view: a = (2 rows, 30.0), b = (1 row, 5.0)
    val base = Seq(("a", 30.0, 2L), ("b", 5.0, 1L))
      .toDF("key", "sum_v", "n_rows")
    val delta = Seq(
      ("a", "I", 10.0, None),         // a: +10, +1
      ("a", "U", 12.0, Some(20.0)),   // a: 20 → 12, count unchanged
      ("b", "D", 5.0, None),          // b emptied → dropped
      ("c", "I", 7.5, None)           // new group appears
    ).toDF("key", "op", "v", "old_v")
    val out = Cdc.maintainSumCount(base, delta).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1).toList
    assert(out === List(("a", 3L, 32.0), ("c", 1L, 7.5)))
  }

  test("maintainSumCount: unknown delta op fails loudly, never skews silently") {
    val base = Seq(("a", 10.0, 1L)).toDF("key", "sum_v", "n_rows")
    val bad = Seq(("a", "X", 5.0, Option.empty[Double]))
      .toDF("key", "op", "v", "old_v")
    val ex = intercept[Exception] {
      Cdc.maintainSumCount(base, bad).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("unknown op")))
  }

  test("snapshotDiff: all four statuses, null payload distinct from empty string") {
    val a = Seq((1L, Some("x"), 1.0), (2L, Some("y"), 2.0),
      (3L, Some("z"), 3.0), (5L, Option.empty[String], 5.0))
      .toDF("k", "s", "v")
    val b = Seq((1L, Some("x"), 1.0),          // unchanged
      (2L, Some("y"), 9.0),                    // changed
      (4L, Some("w"), 4.0),                    // added (3 removed)
      (5L, Some(""), 5.0))                     // null → "" IS a change
      .toDF("k", "s", "v")
    val out = Cdc.snapshotDiff(a, b, Seq("k"), Seq("s", "v"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("added" -> 1L, "removed" -> 1L,
      "changed" -> 2L, "unchanged" -> 1L), s"out=$out")
  }

  test("deltaConsistencyAudit: each violation class counted, clean feed reads zeros") {
    val base = Seq((1L, "a"), (2L, "b")).toDF("k", "payload")
    val delta = Seq(
      (1L, "I", 1),            // I on present → insert_on_present
      (3L, "U", 1),            // U on absent → modify_on_absent
      (2L, "D", 1), (2L, "U", 2), // U after D → bad_sequence
      (4L, "I", 1), (4L, "U", 2)  // clean insert-then-update
    ).toDF("k", "op", "seq")
    val out = Cdc.deltaConsistencyAudit(base, delta, Seq("k"),
        col("seq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out == Map("bad_sequence" -> 1L,
      "insert_on_present" -> 1L, "modify_on_absent" -> 1L))
    val clean = Cdc.deltaConsistencyAudit(base,
      Seq((2L, "U", 1), (5L, "I", 1)).toDF("k", "op", "seq"),
      Seq("k"), col("seq"))
      .collect().map(_.getLong(1)).sum
    assert(clean == 0L)
  }

  test("applySnapshot: last op per key wins — U-then-D deletes, D-then-I reinstates") {
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("k", "payload")
    val delta = Seq(
      (2L, "b2", "U", 1), (2L, "b2", "D", 2),   // net delete
      (3L, "c", "D", 1), (3L, "c9", "I", 2),    // net reinstate
      (4L, "d5", "U", 1),                       // plain update
      (5L, "e", "I", 1)                         // plain insert
    ).toDF("k", "payload", "op", "seq")
    val out = Cdc.applySnapshot(base, delta, Seq("k"), col("seq"))
      .collect().map(r => (r.getLong(0), r.getString(1)))
      .sortBy(_._1).toList
    assert(out === List((1L, "a"), (3L, "c9"), (4L, "d5"), (5L, "e")))
  }

  test("opMixAudit: per-table op counts and exact churn share") {
    val rows = Seq(
      ("t0", "I"), ("t0", "I"), ("t0", "U"), ("t0", "D"),
      ("t1", "I")
    ).toDF("table", "op")
    val m = Cdc.opMixAudit(rows).collect()
      .map(r => r.getAs[String]("src_table") ->
        (r.getAs[Long]("n_ops"), r.getAs[Long]("n_insert"),
          r.getAs[Long]("n_update"), r.getAs[Long]("n_delete"),
          r.getAs[Long]("churn_ppm"))).toMap
    assert(m("t0") == ((4L, 2L, 1L, 1L, 500000L)))
    assert(m("t1") == ((1L, 1L, 0L, 0L, 0L)))
  }

  test("hotKeys: top keys by change volume with exact ppm share") {
    val rows = (Seq.fill(3)(7L) ++ Seq(8L, 9L)).toDF("uid")
    val out = Cdc.hotKeys(rows, "uid", topN = 2).collect()
    assert(out.length === 2)
    val top = out.head
    assert(top.getAs[Long]("key") === 7L)
    assert(top.getAs[Long]("n_changes") === 3L)
    assert(top.getAs[Long]("n_total") === 5L)
    assert(top.getAs[Long]("n_keys") === 3L)
    assert(top.getAs[Long]("share_ppm") === 600000L)
    // deterministic tie-break: 8 before 9
    assert(out(1).getAs[Long]("key") === 8L)
  }

  test("conflictingKeys: only shared keys surface; delete beats " +
      "update in classification; op profile is a sorted-distinct CSV") {
    import spark.implicits._
    val a = Seq((1L, "I"), (1L, "U"), (2L, "U"), (3L, "I"))
      .toDF("k", "op")
    val b = Seq((1L, "U"), (2L, "D"), (2L, "U"), (9L, "I"))
      .toDF("k", "op")
    val out = Cdc.conflictingKeys(a, b, Seq("k"))
    // driver-gate safety: no array/decimal columns in the final schema
    assert(out.schema.fields.forall(f =>
      !f.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType]))
    val m = out.collect()
      .map(r => r.getAs[Long]("k") ->
        (r.getAs[Long]("n_ops_a"), r.getAs[String]("ops_a"),
          r.getAs[Long]("n_ops_b"), r.getAs[String]("ops_b"),
          r.getAs[String]("conflict_type"))).toMap
    assert(m.keySet === Set(1L, 2L)) // 3 and 9 are single-writer
    assert(m(1L) == ((2L, "I,U", 1L, "U", "update_conflict")))
    assert(m(2L) == ((1L, "U", 2L, "D,U", "delete_conflict")))
  }

  test("schemaDrift: added/dropped/windowed/stable statuses read " +
      "off the table's own id bounds; presence ppm exact") {
    import spark.implicits._
    // t0 over ids 1..4: 'a' everywhere (stable), 'b' from id 2
    // (added), 'c' until id 3 (dropped), 'w' only ids 2-3 (windowed)
    def data(id: Long): Map[String, String] = {
      val base = Map("id" -> id.toString, "a" -> "x")
      val b = if (id >= 2) Map("b" -> "x") else Map.empty
      val c = if (id <= 3) Map("c" -> "x") else Map.empty
      val w = if (id >= 2 && id <= 3) Map("w" -> "x") else Map.empty
      // 'f' flaps: present at ids 2 and 4 only — dropout INSIDE its
      // own window shows as span_ppm < presence-of-dense (666666 over
      // span 2..4) while the endpoint-only status still reads 'added'
      val f = if (id == 2 || id == 4) Map("f" -> "x") else Map.empty
      base ++ b ++ c ++ w ++ f
    }
    val env = (1L to 4L).map(i => ("t0", data(i)))
      .toDF("table", "data")
    val m = Cdc.schemaDrift(env).collect()
      .map(r => r.getAs[String]("col_name") ->
        (r.getAs[String]("status"), r.getAs[Long]("presence_ppm"),
          r.getAs[Long]("span_ppm"),
          r.getAs[Long]("first_id"), r.getAs[Long]("last_id"))).toMap
    assert(m("id") == (("stable", 1000000L, 1000000L, 1L, 4L)))
    assert(m("a") == (("stable", 1000000L, 1000000L, 1L, 4L)))
    assert(m("b") == (("added", 750000L, 1000000L, 2L, 4L)))
    assert(m("c") == (("dropped", 750000L, 1000000L, 1L, 3L)))
    assert(m("w") == (("windowed", 500000L, 1000000L, 2L, 3L)))
    assert(m("f") == (("added", 500000L, 666666L, 2L, 4L)))
  }

  test("dupDeliveryProfile: identical raw lines collapse per table; " +
      "max_copies reads the worst replay") {
    import spark.implicits._
    val a = """{"table":"t0","type":"insert","data":{"id":"1"}}"""
    val b = """{"table":"t0","type":"insert","data":{"id":"2"}}"""
    val c = """{"table":"t1","type":"insert","data":{"id":"3"}}"""
    val out = Cdc.dupDeliveryProfile(
      Seq(a, a, a, b, c).toDF("value")).collect()
      .map(r => r.getAs[String]("src_table") ->
        ((r.getAs[Long]("n_msgs"), r.getAs[Long]("n_unique"),
          r.getAs[Long]("n_dup"), r.getAs[Long]("dup_ppm"),
          r.getAs[Long]("max_copies")))).toMap
    assert(out("t0") == ((4L, 2L, 2L, 500000L, 3L)))
    assert(out("t1") == ((1L, 1L, 0L, 0L, 1L)))
  }

  test("sequenceGaps: holes and spans per table; contiguous table " +
      "reads zero missing and NULL largest gap; dup ids fold") {
    import spark.implicits._
    // t0: ids 1,2,3, 7,8, 10 (two holes: 4-6 len 3, 9 len 1)
    // t1: 5,6,7 contiguous (7 duplicated)
    val rows = (Seq(1L, 2L, 3L, 7L, 8L, 10L).map(("t0", _)) ++
      Seq(5L, 6L, 7L, 7L).map(("t1", _)))
      .map { case (t, i) => (t, Map("id" -> i.toString)) }
      .toDF("table", "data")
    val m = Cdc.sequenceGaps(rows).collect()
      .map(r => r.getAs[String]("src_table") ->
        (r.getAs[Long]("n_ids"), r.getAs[Long]("n_islands"),
          r.getAs[Long]("n_missing"),
          Option(r.getAs[Any]("largest_gap")),
          r.getAs[Long]("missing_ppm"))).toMap
    assert(m("t0") == ((6L, 3L, 4L, Some(3L), 400000L)))
    assert(m("t1") == ((3L, 1L, 0L, None, 0L)))
  }

  test("pointInTimeLookup: version containment, deleted gap and " +
      "unknown key stay unmatched, current version open-ended") {
    import spark.implicits._
    // key 1: I@10 (closed by D@20), I@30 current. key 2: none.
    val feed = Seq((1L, 10L, "I"), (1L, 20L, "D"), (1L, 30L, "I"))
      .toDF("uid", "id", "op")
    val hist = Cdc.scd2History(feed, Seq(col("uid")), col("id"))
    val facts = Seq((1L, 15L), (1L, 25L), (1L, 99L), (2L, 15L))
      .toDF("uid", "asof")
    val out = Cdc.pointInTimeLookup(hist, facts, Seq("uid"),
      col("asof")).collect()
      .map(r => (r.getAs[Long]("uid"), r.getAs[Long]("asof")) ->
        (r.getAs[Boolean]("matched"), Option(r.getAs[Any]("id"))))
      .toMap
    assert(out((1L, 15L)) == ((true, Some(10L)))) // inside [10,20)
    assert(out((1L, 25L)) == ((false, None)))     // deleted gap
    assert(out((1L, 99L)) == ((true, Some(30L)))) // open current
    assert(out((2L, 15L)) == ((false, None)))     // unkeyed dim
  }

  test("disorderProfile: inversions against the running max, " +
      "regressions carried ACROSS day boundaries by the prefix-max, " +
      "ordered table reads zero/NULL") {
    import spark.implicits._
    // table "t": day 1 arrival [5, 3, 7] (3 regresses 2 below the
    // max), day 2 arrival [6, 9] (6 regresses 1 below day-1's max —
    // visible ONLY through the cross-day prefix). table "o": ordered.
    val rows = Seq(
      ("t", 5L, 1, 0), ("t", 3L, 1, 1), ("t", 7L, 1, 2),
      ("t", 6L, 2, 0), ("t", 9L, 2, 1),
      ("o", 1L, 1, 0), ("o", 2L, 1, 1), ("o", 3L, 2, 0))
      .toDF("src_table", "id", "d", "arr_k")
    val m = Cdc.disorderProfile(rows).collect()
      .map(r => r.getAs[String]("src_table") ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("n_inversions"),
          Option(r.getAs[Any]("max_regression")),
          r.getAs[Long]("inversion_ppm"))).toMap
    assert(m("t") == ((5L, 2L, Some(2L), 400000L)))
    assert(m("o") == ((3L, 0L, None, 0L)))
  }

  test("checksumDiff: identical tables all-match; a mutated row and " +
      "a missing row flag exactly their buckets") {
    import spark.implicits._
    val src = (1L to 20L).map(k => (k, s"n$k", s"seg${k % 3}"))
      .toDF("k", "name", "seg")
    val same = Cdc.checksumDiff(src, src, "k",
      Seq("k", "name", "seg"), nBuckets = 4).collect()
    assert(same.length === 4 && same.forall(_.getAs[Boolean]("is_match")))
    // mutate k=6 (bucket 2), drop k=9 (bucket 1)
    val dst = src.filter(col("k") =!= 9L)
      .withColumn("seg",
        when(col("k") === 6L, "MUT").otherwise(col("seg")))
    val diff = Cdc.checksumDiff(src, dst, "k",
      Seq("k", "name", "seg"), nBuckets = 4).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Boolean]("is_match"),
          r.getAs[Long]("n_src"), r.getAs[Long]("n_dst"))).toMap
    assert(!diff(2L)._1 && diff(2L)._2 === diff(2L)._3) // sum differs
    assert(!diff(1L)._1 && diff(1L)._3 === diff(1L)._2 - 1)
    assert(diff(0L)._1 && diff(3L)._1)
  }

  test("checksumDiff: fingerprints are BIGINT (no wide decimals in " +
      "the final schema) and NULL columns hash distinct from '' " +
      "and from shifted placements") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DecimalType, LongType}
    val src = Seq((1L, Option("a"), Option.empty[String]))
      .toDF("k", "x", "y")
    val out = Cdc.checksumDiff(src, src, "k", Seq("x", "y"), 1)
    assert(out.schema("sum_src").dataType === LongType)
    assert(out.schema.fields.forall(
      !_.dataType.isInstanceOf[DecimalType]))
    // ('a', NULL) must NOT collide with (NULL, 'a') — concat_ws
    // without the sentinel would hash both as just 'a'
    val shifted = Seq((1L, Option.empty[String], Option("a")))
      .toDF("k", "x", "y")
    val d1 = Cdc.checksumDiff(src, shifted, "k", Seq("x", "y"), 1)
      .collect().head
    assert(!d1.getAs[Boolean]("is_match"))
    // ('a', NULL) must NOT collide with ('a', '')
    val empty = Seq((1L, Option("a"), Option("")))
      .toDF("k", "x", "y")
    val d2 = Cdc.checksumDiff(src, empty, "k", Seq("x", "y"), 1)
      .collect().head
    assert(!d2.getAs[Boolean]("is_match"))
  }
}
