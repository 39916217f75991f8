package graft

import org.apache.spark.sql.functions._

/** Physical-plan evidence (SURVEY §4): the properties the 100 TB
  * design depends on are asserted against actual executed plans, not
  * just claimed — predicate pushdown and column pruning reach the
  * parquet scan, dimension joins broadcast, aggregations combine
  * map-side, and hot paths stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Every shuffle in an RDD's lineage, for frames whose executed plan
    * is a scan over an RDD built by hand.
    */
  private def shuffles(rdd: org.apache.spark.rdd.RDD[_])
      : Seq[org.apache.spark.ShuffleDependency[_, _, _]] =
    rdd.dependencies.flatMap {
      case s: org.apache.spark.ShuffleDependency[_, _, _] =>
        s +: shuffles(s.rdd)
      case d => shuffles(d.rdd)
    }

  test("filter + projection push into the parquet scan") {
    val p = plan(
      Tables.lineitem(spark, sf("sf0.001"))
        .filter(col("l_quantity") > 49.0)
        .select("l_orderkey"))
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,49.0)"),
      s"predicate not pushed:\n$p")
    // column pruning: the scan reads only the filter+projection
    // columns, not the 11-column table
    val readSchema = p.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity") &&
      !readSchema.contains("l_extendedprice"),
      s"scan not pruned: $readSchema")
  }

  test("star-join plan broadcasts the dimension sides") {
    val d = sf("sf0.001")
    val p = plan(ops.Relational.revenueByNation(
      Tables.customer(spark, d), Tables.orders(spark, d),
      Tables.lineitem(spark, d), Tables.nation(spark, d)))
    assert(p.contains("BroadcastHashJoin"),
      s"no broadcast join in star plan:\n$p")
  }

  test("aggregations combine map-side (partial before the shuffle)") {
    val p = plan(
      Tables.lineitem(spark, sf("sf0.001"))
        .groupBy("l_returnflag").agg(sum("l_quantity")))
    assert(p.contains("partial_sum") || p.contains("Partial"),
      s"no partial aggregation:\n$p")
  }

  test("scan-stage operators run inside whole-stage codegen") {
    // '*(n)' prefixes in the compact plan mark whole-stage-codegen
    // stages (the formatted explain spells them WholeStageCodegen)
    val p = plan(
      ops.Text.qualityScore(Tables.documents(spark, sf("sf0.001"))))
    assert(p.contains("*(1)"),
      s"quality score fell out of codegen:\n$p")
  }

  test("basket lift: aggregated item counts attach by broadcast, not a fact shuffle") {
    val p = plan(ops.Affinity.basketLift(
      Tables.lineitem(spark, sf("sf0.001")), minPairCount = 2L))
    assert(p.contains("BroadcastHashJoin"),
      s"item-count joins did not broadcast:\n$p")
  }

  test("prune audit: the predicate side rides a broadcast, never a sort-merge join") {
    import spark.implicits._
    val stats = Seq(("a", 1L, 0.0, 9.0, 10L))
      .toDF("layout", "file_id", "min_v", "max_v", "n_rows")
    val preds = Seq((1, 2.0, 3.0)).toDF("pred_id", "p_lo", "p_hi")
    val p = plan(ops.Layout.pruneAudit(stats, preds))
    assert(p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("SortMergeJoin"),
      s"prune audit join shape wrong:\n$p")
  }

  test("incremental view maintenance: plan touches the delta and the view, never a fact table") {
    import spark.implicits._
    val base = Seq(("a", 1.0, 1L)).toDF("key", "sum_v", "n_rows")
    val delta = Seq(("a", "I", 2.0, Option.empty[Double]))
      .toDF("key", "op", "v", "old_v")
    val p = plan(ops.Cdc.maintainSumCount(base, delta))
    // one partial+merge aggregation on the delta, one join keyed on
    // the view key — and the whole merge stays in codegen stages
    assert(p.contains("Partial") || p.contains("partial_sum"))
    assert(p.contains("Join"), s"no view-keyed merge join:\n$p")
  }

  test("per-group top-k: rank filter pushes into WindowGroupLimit on both shuffle sides") {
    // the property that makes grouped top-k scale: Spark's
    // InferWindowGroupLimit turns `rank <= k` into a partial
    // WindowGroupLimit BEFORE the exchange (each map task forwards at
    // most k rows per group) plus a final one after — without it the
    // full per-group row sets cross the shuffle just to be discarded
    val p = plan(ops.Relational.topOrdersPerCustomer(
      Tables.orders(spark, sf("sf0.001")), 3))
    val hits = "WindowGroupLimit".r.findAllIn(p).length
    assert(hits >= 2, s"expected partial+final WindowGroupLimit:\n$p")
  }

  test("runtime bloom filter: a selective dim filter injects a " +
      "probe-side row filter before the fact shuffle") {
    // the 100 TB lever: a filtered orders side should cut the
    // lineitem scan's shuffle volume via an injected bloom filter,
    // not shuffle all fact rows just to drop them at the join. Size
    // thresholds are lowered to fire at test SF — the PLAN property
    // (InjectRuntimeFilter rewrites the probe side) is what's pinned.
    val prev = Map(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
        -> spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
        -> spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"),
      "spark.sql.autoBroadcastJoinThreshold"
        -> spark.conf.get("spark.sql.autoBroadcastJoinThreshold"))
    try {
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // creation threshold is a MAX (build side must be small
      // enough); application threshold is a MIN (probe scan must be
      // big enough to be worth filtering) — at test SF only the MIN
      // needs lowering
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      // broadcast joins reuse the build side directly; force the
      // shuffle shape the filter exists for
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val d = sf("sf0.001")
      val df = Tables.lineitem(spark, d)
        .join(Tables.orders(spark, d)
          .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")))
      val p = df.queryExecution.optimizedPlan.toString.toLowerCase
      assert(p.contains("bloom"),
        s"no runtime bloom filter injected:\n$p")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("skew join: hot key exchange partitions on (key, salt) — " +
      "no single-partition funnel; hot list rides broadcast") {
    import spark.implicits._
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // disable size-based broadcast so the final joins expose their
      // exchanges (the explicit broadcast() of the hot list survives)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val fact = ((1 to 64).map(i => (1L, s"v$i")) ++
        (2L to 40L).map(k => (k, "t"))).toDF("k", "payload")
      val dim = (1L to 40L).map(k => (k, s"d$k")).toDF("k", "name")
      val hot = Seq(Tuple1(1L)).toDF("k")
      val df = ops.Relational.skewJoin(fact, dim, Seq("k"), hot,
        saltBuckets = 8, forceShuffle = true)
      val p = plan(df)
      // the salt is a join key: the hot branch's exchange hashes on
      // (k, __salt), so key 1's 64 rows land on 8 reducer partitions
      assert(p.contains("__salt"), s"salt optimized away:\n$p")
      assert(p.contains("SortMergeJoin") ||
        p.contains("ShuffledHashJoin"),
        s"no shuffled join despite merge hint:\n$p")
      // the hot-list tag joins must ride the explicit broadcast even
      // with size-based broadcast off
      assert(p.contains("BroadcastHashJoin"),
        s"hot list did not broadcast:\n$p")
      assert(p.contains("Union"), s"hot/residual union missing:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    }
  }

  /** A `Window` with an empty partition spec executes on ONE task —
    * the canonical 100 TB scale-killer. Every registered query's
    * optimized plan is scanned for empty-partition Windows; any hit
    * must be in the whitelist below, where each name's global window
    * runs over a frame whose size is bounded by CONSTRUCTION (a
    * value histogram, a top-k/limit output, an nBuckets/decile
    * frame) rather than by the input row count. A new query that
    * sneaks in an unbounded global window fails here until it is
    * deliberately adjudicated.
    */
  test("no registered query has a global window over an unbounded frame") {
    // name -> proven bound of the window's input frame
    val bounded = Map(
      "q_events_cusum" -> "per-day count rollup (calendar-bounded at any corpus size)",
      "q_events_gini" -> "per-user count histogram (≤ #users at validation scale; documented Lorenz twin)",
      "q_events_join_state" -> "minute-grain rate rollup (calendar-bounded at any corpus size)",
      "q_mm_magic_sniff" -> "sniffed-type rollup (6-value type domain; the lit(1) partition constant-folds to empty)",
      "q_text_vocab_coverage" -> "top-max(ks) token-frequency head (LIMIT upstream of both windows)",
      "q_text_source_emd" -> "corpus CDF over the FIXED 101-bucket support (the window input is the densified support frame, never doc rows)",
      "q_li_abc_xyz" -> "cumulative revenue share over the PART domain (dim-sized by definition, never fact-sized)",
      "q_cust_rfm_migration" -> "rfmSegments rank windows per half + the cell-total window (customer-domain rollups, <= 126^2 cells — the q_rfm_segments bound twice)",
      "q_layout_key_quantiles" -> "coarse-cell histogram, ≤ coarseCells+1 rows by construction",
      "q_li_cramers_v" -> "completed |A|×|B| contingency rollup (3×2 returnflag×linestatus; category-domain-bounded at any corpus size)",
      "q_layout_prune_audit" -> "o_totalprice value histogram (rangeBoundaries contract)",
      "q_layout_range_bounds" -> "value histogram (rangeBoundaries contract)",
      "q_orders_backlog" -> "per-day boundary-delta rollup (calendar-bounded at any corpus size)",
      "q_orders_ks_drift" -> "dollar-quantized price histogram (domain-bounded at any corpus size)",
      "q_text_quality_ks" -> "milli-quantized quality histogram (<= 1001 values by construction)",
      "q_orders_repeat_interval" -> "per-customer gap aggregate (documented median twin)",
      "q_rank_suppliers" -> "supplier dim (smallest fact-free table; documented top-k twin)",
      "q_rfm_segments" -> "customer dim ntile (documented validation-scale twin)",
      "q_skew_advisor" -> "top-N heavy-hitter output (LIMIT topN upstream)",
      "q_orders_pareto" -> "customer-aggregate frame (customer domain, the RFM precedent)",
      "q_text_mwu" -> "cumulative over the n_chars VALUE histogram (distinct metric values)",
      "q_salted_join" -> "skewAdvisor hot-list subplan: rank window over its LIMIT-topK head only",
      "q_sql_revenue_share" -> "nation-level aggregate (≤ 25 rows)",
      "q_top_supplier" -> "supplier revenue aggregate (supplier-dim-sized: the Q15 max runs over ≤ |supplier| rows at any fact scale)",
      "q_text_curriculum" -> "doc-quality rank (documented exact-rank validation twin)",
      "q_text_dedup_curve" -> "decile frame (nBuckets rows)",
      "q_text_minhash_precision" -> "candidate decile frame (<= 11 rows by construction)",
      "q_text_filter_yield" -> "quality value-bucket frame (<= 11 rows by construction)",
      "q_text_auc_influence" -> "global score histogram (≤ 2001 values; the per-group windows partition by source)",
      "q_text_neyman_alloc" -> "per-stratum rollup (|sources| rows; remainder-rank window is strata-bounded)",
      "q_text_oov_rate" -> "token-frequency histogram head (vocab cap)",
      "q_text_quality_deciles_exact" -> "decile boundary frame (nBuckets rows)",
      "q_text_quality_pct" -> "quality histogram (distinct integer scores)",
      "q_text_source_lang_mi" -> "observed |sources|×|langs| cell rollup (category-domain-bounded)",
      "q_text_spearman" -> "two capped-value histograms (≤ 2001 / ≤ 401 rows by construction)",
      "q_text_isotonic" -> "bin-grid prefix sums (≤ nBins rows by construction; the corpus never enters a window)",
      "q_text_seq_patterns" -> "F1 dictionary row_number (|F1| <= avg-doc-len/theta rows: support >= theta*n bounds the frequent-token set at any corpus size)",
      "q_text_stopwords" -> "df-ratio >= 50% token set (stopword-sized by construction)",
      "q_text_vocab_growth" -> "coarse-cell histogram + nBuckets cum frames",
      "q_text_zipf" -> "token-frequency histogram head (rank cap)",
      "q_vec_ppr" -> "rank over the TakeOrdered head only (<= topN = 25 rows below a LIMIT)",
      "q_vec_rrf_fusion" -> "fused top-k lists (k-bounded)",
      "q_zset_range" -> "zset member range (bounded key range, documented)")
    val d = sf("sf0.001")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val n = fn(spark, d).queryExecution.optimizedPlan.collect {
          case w: org.apache.spark.sql.catalyst.plans.logical.Window
              if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) Some(name) else None
      }.toSet
    assert(offenders == bounded.keySet,
      s"global-window drift: new ${offenders -- bounded.keySet} " +
        s"(adjudicate + whitelist with a proven bound), stale " +
        s"${bounded.keySet -- offenders} (remove from whitelist)")
  }

  test("supplier SLA scorecard: the topK HEAD broadcasts into the " +
      "supplier dim (never the reverse) below a TakeOrdered") {
    val d = sf("sf0.001")
    val p = plan(ops.Relational.supplierSlaWilson(
      Tables.lineitem(spark, d), Tables.orders(spark, d),
      Tables.supplier(spark, d)))
    assert(p.contains("TakeOrderedAndProject"),
      s"no TakeOrdered head:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"name join did not broadcast:\n$p")
  }

  test("range search: corpus scans once against a broadcast query " +
      "sample — no shuffle of the embeddings, map-side combine on") {
    val d = sf("sf0.001")
    val p = plan(ops.Vector.rangeSearch(
      Tables.embeddings(spark, d)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query sample not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the sample join:\n$p")
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("shard dedup loss: one aggregation over the exploded pair " +
      "scan — no join, partial combine before the shuffle") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b")
    val p = plan(ops.Text.shardDedupLoss(pairs))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("ring rebalance: literal-ring audit — no join anywhere, " +
      "partial combine before the single-row reduce") {
    val d = sf("sf0.001")
    val p = plan(ops.Text.ringRebalance(Tables.documents(spark, d)))
    assert(!p.contains("Join"), s"unexpected join:\n$p")
    assert(p.contains("partial"), s"no partial aggregation:\n$p")
  }

  test("facility coverage: selection heads broadcast into the " +
      "corpus scan — the corpus never sort-merge-joins") {
    val d = sf("sf0.001")
    val p = plan(ops.Vector.facilityCoverage(
      Tables.embeddings(spark, d)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"selection not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for a selection join:\n$p")
  }

  test("trustworthiness: candidate heads broadcast; rank-by-count " +
      "means no window and no sort-merge join in the plan") {
    val d = sf("sf0.001")
    val p = plan(ops.Vector.trustworthiness(
      Tables.embeddings(spark, d)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query sample not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for a candidate join:\n$p")
    assert(!p.contains("Window"),
      s"rank-by-count regressed to a window sort:\n$p")
  }

  test("seq patterns: frequent sets attach by broadcast; no " +
      "cartesian product anywhere") {
    val d = sf("sf0.001")
    val p = plan(ops.Text.seqPatterns(Tables.documents(spark, d)))
    assert(p.contains("BroadcastHashJoin"),
      s"frequent sets not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in the pattern join:\n$p")
  }

  test("lid estimate: broadcast query sample, no sort-merge join, " +
      "no window — the rank fold stays inside the aggregate") {
    val d = sf("sf0.001")
    val p = plan(ops.Vector.lidEstimate(Tables.embeddings(spark, d)))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"query sample not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the sample join:\n$p")
    assert(!p.contains("Window"), s"window crept in:\n$p")
  }

  test("sequential A/B: the interim cut rows broadcast into the " +
      "user-day rollup; no cartesian product") {
    val d = sf("sf0.001")
    val p = plan(ops.Affinity.abSequential(
      Tables.events(spark, d), col("user_id") % 2 === 1))
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"cut rows not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in the interim join:\n$p")
  }

  test("periodogram: the q20 trig table attaches by broadcast; the " +
      "corpus never sort-merge-joins") {
    val d = sf("sf0.001")
    val p = plan(ops.Audit.dailyPeriodogram(
      Tables.events(spark, d)))
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"),
      s"lut join did not broadcast:\n$p")
  }

  test("one-pass log demux: one JSON parse, one Generate, no shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.{CaseWhen, GetArrayItem,
      Inline, JsonToStructs, Sequence}
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import graft.functions.{ReadJsonStruct, ShapeToJson}
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter,
      ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.Exchange
    // a file source, so the parse cannot fold into a local relation
    val dir = java.nio.file.Files.createTempDirectory("demux-plan")
      .resolve("lines").toString
    Seq("""{"common":{"mid":"m1"},"page":{"page_id":"p"},"ts":1}""")
      .toDF("value").write.text(dir)
    val df = streaming.LogPipeline.demuxToTopicValue(spark.read.text(dir))
    val p = df.queryExecution.executedPlan
    val h = new AdaptiveSparkPlanHelper {}
    val parses = h.flatMap(p)(_.expressions.flatMap(
      _.collect { case j: ReadJsonStruct => j }))
    assert(parses.size == 1, s"expected one envelope parse:\n$p")
    assert(h.flatMap(p)(_.expressions.flatMap(
      _.collect { case j: JsonToStructs => j })).isEmpty,
      s"from_json in the demux plan:\n$p")
    val gens = h.collect(p) { case g: GenerateExec => g }
    assert(gens.size == 1, s"expected one Generate:\n$p")
    // the Generate inlines the records ShapeToJson walks out of each
    // envelope, as (topic, value) with nothing projected above it, and
    // no record index is left to number or decode
    assert(gens.head.generator match {
      case Inline(_: ShapeToJson) => true
      case _ => false
    }, s"expected inline(ShapeToJson):\n$p")
    assert(gens.head.output.map(_.name) == Seq("topic", "value"),
      s"Generate output ${gens.head.output}:\n$p")
    assert(h.collect(p) { case pr: ProjectExec
        if pr.exists(_.isInstanceOf[GenerateExec]) => pr }.isEmpty,
      s"projection above the Generate:\n$p")
    val indexing = h.flatMap(p)(_.expressions.flatMap(_.collect {
      case e @ (_: Sequence | _: CaseWhen | _: GetArrayItem) => e.prettyName }))
    assert(indexing.isEmpty, s"record-index expressions $indexing:\n$p")
    assert(h.collect(p) { case e: Exchange => e }.isEmpty,
      s"shuffle in the demux plan:\n$p")
    // the per-record work compiles: the Generate sits in a codegen
    // stage (not below one of its InputAdapters), and no expression
    // is interpreted (a lambda HOF such as transform would be)
    def stage(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case _: InputAdapter => Nil
      case _ => n.children.flatMap(stage)
    })
    assert(h.collect(p) { case w: WholeStageCodegenExec =>
      stage(w.child).collect { case g: GenerateExec => g } }
      .flatten.size == 1, s"Generate outside whole-stage codegen:\n$p")
    val fallbacks = h.flatMap(p)(_.expressions.flatMap(_.collect {
      case f: CodegenFallback => f }))
    assert(fallbacks.isEmpty,
      s"interpreted expressions ${fallbacks.map(_.prettyName)}:\n$p")
  }

  test("CDC micro-batch: the frames handed to the sinks have no " +
      "broadcast, join, shuffle or window") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.JsonToStructs
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec,
      ShuffleExchangeExec}
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.window.WindowExec
    // an RDD-backed batch, so the parse cannot fold into a local relation
    val batch = spark.sparkContext.parallelize(Seq(
      """{"table":"order_info","type":"insert","data":{"id":"1"}}""",
      """{"table":"user_info","type":"insert","data":{"id":"7"}}""",
      """{"table":"user_info","type":"update","data":{"id":"7"}}""",
      """{"table":"other","type":"insert","data":{"id":"9"}}"""), 2)
      .toDF("value")
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
    // the sinks run on two threads
    val frames = scala.collection.concurrent.TrieMap
      .empty[String, org.apache.spark.sql.DataFrame]
    def sink(name: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      frames += name -> df
      df.collect()
    }
    streaming.CdcPipeline.processBatch(batch, routing,
      sink("fact"), sink("dim"))
    assert(frames.keySet == Set("fact", "dim"))
    val h = new AdaptiveSparkPlanHelper {}
    frames.foreach { case (name, df) =>
      val p = df.queryExecution.executedPlan
      assert(h.collect(p) { case b: BroadcastExchangeExec => b }.isEmpty,
        s"$name: broadcast exchange:\n$p")
      assert(h.collect(p) { case j: BaseJoinExec => j }.isEmpty,
        s"$name: join:\n$p")
      assert(h.collect(p) { case s: ShuffleExchangeExec => s }.isEmpty,
        s"$name: shuffle:\n$p")
      assert(h.collect(p) { case w: WindowExec => w }.isEmpty,
        s"$name: window:\n$p")
      // the dim frame is a scan over the compaction's RDD, so its
      // lineage is checked too
      assert(shuffles(df.queryExecution.toRdd).isEmpty,
        s"$name: shuffle in the RDD lineage:\n${df.queryExecution.toRdd.toDebugString}")
    }
    // one JSON parse per envelope: the op and routing filters sit
    // above the cached parse, not pushed below it as a second parse
    def parses(p: SparkPlan): Int = h.collect(p) {
      case c: InMemoryTableScanExec => parses(c.relation.cachedPlan)
      case n => n.expressions.map(_.collect { case j: JsonToStructs => j }.size).sum
    }.sum
    val plans = frames.values.map(_.queryExecution.executedPlan)
    assert(plans.map(parses).sum == 1,
      s"expected one from_json across the sinks:\n${plans.mkString("\n")}")
  }

  test("batch last-write-wins: no window, and one shuffle in the " +
      "rows' lineage") {
    import spark.implicits._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.window.WindowExec
    val df = spark.sparkContext.parallelize(Seq(
      ("k1", 1L), ("k2", 2L), ("k1", 3L), ("k2", 4L)), 2).toDF("k", "v")
    val out = ops.Cdc.lastWriteWins(df, Seq(col("k")), Seq(col("v")))
    val p = out.queryExecution.executedPlan
    assert(new AdaptiveSparkPlanHelper {}.collect(p) {
      case w: WindowExec => w }.isEmpty, s"window:\n$p")
    // the executed plan is a scan over the compaction's RDD, so the
    // shuffle shows only in its lineage
    val rdd = out.queryExecution.toRdd
    assert(shuffles(rdd).size == 1, rdd.toDebugString)
  }
}
