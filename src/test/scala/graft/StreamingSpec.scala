package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{CdcPipeline, EventTimeOps, IngestPipeline, LogPipeline, QualityGatePipeline, SemanticIngestPipeline, Sessionize}

/** Streaming-semantics tests (SURVEY §5 item 4): MemoryStream →
  * identical pipelines → processAllAvailable, plus watermark/late
  * data and stateful sessionization.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  test("log demux streams 5-way with topic routing") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = LogPipeline
      .demuxToTopicValue(in.toDF())
      .writeStream.format("memory").queryName("demux_out")
      .outputMode("append").start()
    try {
      in.addData(
        """{"common":{"mid":"m1"},"err":{"error_code":1,"msg":"x"},"ts":1}""",
        """{"common":{"mid":"m2"},"page":{"page_id":"p"},"ts":2}""",
        """{"common":{"mid":"m3"},"start":{"entry":"icon"},"ts":3}"""
      )
      q.processAllAvailable()
      val out = spark.table("demux_out")
        .groupBy("topic").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(out == Map(
        graft.ops.Demux.ErrorTopic -> 1L,
        graft.ops.Demux.PageTopic  -> 1L,
        graft.ops.Demux.StartTopic -> 1L))
    } finally q.stop()
  }

  test("cdc foreachBatch routes facts and compacts dims") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    var facts: Array[(String, String)] = Array.empty
    var dims: Array[(String, String, String)] = Array.empty
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
    val q = in.toDF()
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        CdcPipeline.processBatch(batch, routing,
          f => facts ++= f.collect()
            .map(r => (r.getString(0), r.getString(1))),
          d => dims ++= d.collect()
            .map(r => (r.getAs[String]("table"),
              r.getAs[Map[String, String]]("data")("id"),
              r.getAs[String]("op"))))
      }
      .start()
    try {
      in.addData(
        """{"table":"order_info","type":"insert","data":{"id":"1"}}""",
        """{"table":"user_info","type":"insert","data":{"id":"7","v":"a"}}""",
        """{"table":"user_info","type":"update","data":{"id":"7","v":"b"}}""",
        """{"table":"other","type":"insert","data":{"id":"9"}}"""
      )
      q.processAllAvailable()
      assert(facts.map(_._1).toSet == Set("ORDER_INFO_I"))
      assert(dims.length == 1)            // LWW compacted id=7
      assert(dims.head._3 == "U")         // update won
    } finally q.stop()
  }

  test("windowed counts with watermark drop late data in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, String, Double)]
    val df = in.toDF().toDF("ts", "event_type", "value")
    val q = EventTimeOps
      .windowedCounts(df, "10 minutes", "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      in.addData((t(1), "a", 1.0), (t(5), "a", 2.0))
      q.processAllAvailable()
      in.addData((t(30), "a", 3.0))   // advances watermark past 10:10
      q.processAllAvailable()
      in.addData((t(2), "a", 100.0))  // late beyond watermark → dropped
      q.processAllAvailable()
      in.addData((t(59), "a", 4.0))   // closes the 10:30 window
      q.processAllAvailable()
      val rows = spark.table("win_out")
        .select("w_start", "n", "sum_value").collect()
        .map(r => (r.getTimestamp(0).toString, r.getLong(1),
          r.getDouble(2))).toSet
      assert(rows.contains(("2024-01-01 10:00:00.0", 2L, 3.0)))
      assert(rows.contains(("2024-01-01 10:30:00.0", 1L, 3.0)))
    } finally q.stop()
  }

  test("streaming dedup within watermark") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp)]
    val df = in.toDF().toDF("event_id", "ts")
    val q = EventTimeOps.dedupWithinWatermark(df, "1 hour")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    def t(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
    try {
      in.addData((1L, t(0)), (1L, t(1)), (2L, t(2)))
      q.processAllAvailable()
      in.addData((1L, t(3)), (3L, t(4)))
      q.processAllAvailable()
      assert(spark.table("dedup_out").select("event_id").as[Long]
        .collect().sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("stream-static broadcast join enriches with dim columns") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Long, Double)]
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val q = EventTimeOps
      .enrichWithDim(in.toDF().toDF("user_id", "value"), dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      in.addData((1L, 10.0), (3L, 20.0))
      q.processAllAvailable()
      val out = spark.table("enrich_out")
        .collect().map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(out(1L).contains("gold"))
      assert(out(3L).isEmpty)   // left join keeps unmatched stream rows
    } finally q.stop()
  }

  test("streaming demux output == batch demux output on same input") {
    // the shared-logical-core claim (SURVEY §7.1), tested directly:
    // the same Demux functions under MemoryStream must emit exactly
    // the rows the batch path emits.
    implicit val sqlCtx = spark.sqlContext
    val lines = graft.ops.GmallSynth
      .logLines(Tables.events(spark, sf("sf0.001")))
      .limit(300).as[String].collect().toSeq
    val batchOut = LogPipeline
      .demuxToTopicValue(lines.toDF("value"))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    val in = MemoryStream[String]
    val q = LogPipeline.demuxToTopicValue(in.toDF())
      .writeStream.format("memory").queryName("parity_out")
      .outputMode("append").start()
    try {
      in.addData(lines)
      q.processAllAvailable()
      val streamOut = spark.table("parity_out")
        .collect().map(r => (r.getString(0), r.getString(1))).sorted
      assert(streamOut.length == batchOut.length)
      assert(streamOut.sameElements(batchOut))
    } finally q.stop()
  }

  test("checkpoint restart resumes from committed offsets (S3/K3)") {
    // The reference stores offsets in Redis and resumes there
    // (MyOffsetUtils); Structured Streaming's checkpoint is the
    // rebuild equivalent: kill + restart must process each input
    // exactly once across the restart.
    val dir  = java.nio.file.Files.createTempDirectory("graft-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt")
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        String.join("\n", lines: _*).getBytes)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    def run(): Unit = {
      val q = spark.readStream
        .schema("v STRING")
        .json(dir.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (df: DataFrame, id: Long) =>
          seen.synchronized { seen += ((id, df.count())) }; ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile("a.json", Seq("""{"v":"1"}""", """{"v":"2"}""", """{"v":"3"}"""))
    run()
    writeFile("b.json", Seq("""{"v":"4"}""", """{"v":"5"}"""))
    run()   // restart from checkpoint
    val total = seen.map(_._2).sum
    assert(total == 5, s"exactly-once across restart, saw $seen")
    // second run must not have reprocessed batch 0's rows
    assert(seen.count(_._2 == 3) == 1)
  }

  test("log demux restart resumes from the checkpoint: every record " +
      "exactly once") {
    val dir  = java.nio.file.Files.createTempDirectory("graft-log-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-log-ckpt")
    val lines = graft.ops.GmallSynth
      .logLines(Tables.events(spark, sf("sf0.001")))
      .limit(120).as[String].collect().toSeq
    val (a, b) = lines.splitAt(70)
    def writeFile(name: String, ls: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        String.join("\n", ls: _*).getBytes)
    val seen = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def run(): Unit = {
      val q = LogPipeline.demuxToTopicValue(spark.readStream.text(dir.toString))
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (df: DataFrame, _: Long) =>
          seen ++= df.collect().map(r => (r.getString(0), r.getString(1))); ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile("a.json", a)
    run()
    writeFile("b.json", b)
    run()   // restart from the checkpoint
    val want = graft.ops.Demux.topicValues(graft.ops.Demux.parse(lines.toDF("value")))
      .collect().map(r => (r.getString(0), r.getString(1))).sorted
    assert(want.length > lines.length)   // displays/actions fan out
    assert(seen.sorted == want.toSeq)
  }

  test("cdc restart after a dim-sink failure: facts delivered at " +
      "least once, dims converge to last-write-wins") {
    // The dim sink throws once, after the fact sink has run for the
    // batch: the batch's offsets are logged but not committed, so the
    // restarted query replays it from the checkpoint.
    val dir  = java.nio.file.Files.createTempDirectory("graft-cdc-src")
    val ckpt = java.nio.file.Files.createTempDirectory("graft-cdc-ckpt")
    def writeFile(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(dir.resolve(name),
        String.join("\n", lines: _*).getBytes)
    // (table, Maxwell type, id, v)
    val a = Seq(
      ("order_info", "insert", "1", "10"),
      ("user_info", "insert", "7", "a"),
      ("user_info", "update", "7", "b"),
      ("user_info", "insert", "8", "a"),
      ("order_info", "update", "1", "12"))
    val b = Seq(
      ("user_info", "update", "8", "c"),
      ("order_info", "insert", "2", "5"),
      ("user_info", "delete", "7", "b"),
      ("user_info", "bootstrap-insert", "9", "x"),
      ("other", "insert", "3", "q"))
    def data(id: String, v: String) = s"""{"id":"$id","v":"$v"}"""
    def lines(envs: Seq[(String, String, String, String)]) = envs.map {
      case (t, tpe, id, v) =>
        s"""{"table":"$t","type":"$tpe","data":${data(id, v)}}"""
    }
    val routing = Seq(("order_info", "fact"), ("user_info", "dim"))
      .toDF("table_name", "kind")
    val facts = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    val dims = scala.collection.mutable.Map.empty[(String, String), String]
    var failNext = true
    def run(): Unit = {
      val q = spark.readStream.text(dir.toString)
        .writeStream
        .option("checkpointLocation", ckpt.toString)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          CdcPipeline.processBatch(batch, routing,
            f => facts ++= f.collect()
              .map(r => (r.getString(0), r.getString(1))),
            d => {
              if (failNext) {
                failNext = false
                throw new IllegalStateException("dim store down")
              }
              d.select(col("table"), col("data")("id"),
                  to_json(col("data"))).collect()
                .foreach(r => dims((r.getString(0), r.getString(1))) =
                  r.getString(2))
            })
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    writeFile("a.json", lines(a))
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](run())
    assert(facts.size == 2 && dims.isEmpty)
    writeFile("b.json", lines(b))
    run()   // restart from the checkpoint
    // the reference's rules, over the input in order: facts are the
    // routed I/U envelopes; a dim key keeps its last I/U write
    // (deletes are dropped, as the reference's Redis path only writes)
    val ops = Map("insert" -> "I", "bootstrap-insert" -> "I",
      "update" -> "U")
    val applied = (a ++ b).flatMap { case (t, tpe, id, v) =>
      ops.get(tpe).map(op => (t, op, id, v)) }
    val wantFacts = applied.collect { case ("order_info", op, id, v) =>
      ("ORDER_INFO_" + op, data(id, v)) }
    assert(wantFacts.forall(facts.contains), s"lost a fact: $facts")
    // batch 0's facts were delivered twice, once per attempt
    assert(facts.size == wantFacts.size + 2)
    val wantDims = applied.collect { case ("user_info", _, id, v) =>
      ("user_info", id) -> data(id, v) }.toMap
    assert(dims.toMap == wantDims)
  }

  test("flatMapGroupsWithState sessionization closes on gap") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Sessionize.Event]
    val q = Sessionize.sessionize(in.toDS(), gapMs = 60000)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    // base epoch away from 0: with a watermark, stateful exec drops
    // input rows at-or-before the current watermark, and the initial
    // watermark is 0 — a ts=0 event would be filtered as late.
    val t0 = 1_000_000_000L
    try {
      in.addData(
        Sessionize.Event(1L, t0, 1.0),
        Sessionize.Event(1L, t0 + 30000L, 2.0))
      q.processAllAvailable()
      // gap > 60 s → closes first session inline
      in.addData(Sessionize.Event(1L, t0 + 200000L, 3.0))
      q.processAllAvailable()
      val rows = spark.table("sess_out").as[Sessionize.SessionOut]
        .collect()
      assert(rows.length == 1)
      assert(rows.head.n_events == 2 && rows.head.sum_value == 3.0)
      // idle-key close: user 2's lone event, then watermark advanced
      // far past user2.last+gap by user 1 traffic → event-time timeout
      // emits user 2's session without any user-2 event
      in.addData(Sessionize.Event(2L, t0 + 210000L, 9.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, t0 + 500000L, 4.0))
      q.processAllAvailable()
      in.addData(Sessionize.Event(1L, t0 + 510000L, 5.0))
      q.processAllAvailable()
      val u2 = spark.table("sess_out").as[Sessionize.SessionOut]
        .collect().filter(_.user_id == 2L)
      assert(u2.length == 1)
      assert(u2.head.n_events == 1 && u2.head.sum_value == 9.0)
    } finally q.stop()
  }

  test("stream-stream interval join attributes within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(1_000_000_000L + s * 1000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val actions = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def named(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "ts")
    val q = EventTimeOps
      .intervalJoin(named(views), named(actions), maxDelay = "1 minute",
        watermark = "1 minute")
      .writeStream.format("memory").queryName("ssjoin_out")
      .outputMode("append").start()
    try {
      views.addData((1L, 100L, ts(0)), (2L, 101L, ts(0)))
      actions.addData(
        (1L, 200L, ts(30)),   // within 1 min of view 100 → match
        (2L, 201L, ts(300)),  // 5 min after view 101 → outside horizon
        (3L, 202L, ts(30)))   // no view by this user → no match
      q.processAllAvailable()
      // advance both watermarks so state for the horizon is evictable
      views.addData((9L, 900L, ts(1000)))
      actions.addData((9L, 901L, ts(1000)))
      q.processAllAvailable()
      val out = spark.table("ssjoin_out")
        .select("view_id", "action_id").as[(Long, Long)].collect().toSet
      assert(out == Set((100L, 200L), (900L, 901L)))
    } finally q.stop()
  }

  test("streaming text curation == batch curation on same docs") {
    // the stateless curation stage (quality gate → PII redact) is
    // plain Column expressions, so the same ops compose under
    // readStream unchanged — pin the parity like the demux test does
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Text
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and more " +
        "words to pass the gate", "en", "s1", 75L),
      (2L, "contact me me me me me me at bob@example.com now", "en",
        "s2", 48L),
      (3L, "x", "en", "s3", 1L)
    )
    def curate(df: org.apache.spark.sql.DataFrame) = {
      val q = Text.qualityScore(df).select("doc_id", "quality")
      df.join(q, "doc_id").filter(col("quality") > 0.3)
        .select(col("doc_id"), col("text"))
        .transform(Text.piiRedact)
    }
    // stream side: the quality join must be stream-static, so score
    // inline via the same expressions (one-table form)
    val in = MemoryStream[(Long, String, String, String, Long)]
    val named = in.toDF()
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val streamed = Text.piiRedact(
      Text.qualityScore(named)
        .join(named, Seq("doc_id"))
        .filter(col("quality") > 0.3)
        .select(col("doc_id"), col("text")))
    val sq = streamed
      .writeStream.format("memory").queryName("curate_out")
      .outputMode("append").start()
    try {
      in.addData(docs)
      sq.processAllAvailable()
      val batchOut = curate(docs.toDF(
        "doc_id", "text", "lang", "source", "n_chars"))
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      val streamOut = spark.table("curate_out")
        .select("doc_id", "redacted")
        .collect().map(r => (r.getLong(0), r.getString(1))).sorted
      assert(batchOut.nonEmpty)
      assert(streamOut.sameElements(batchOut))
      // and the PII actually got redacted on the way through
      assert(streamOut.forall(!_._2.contains("bob@example.com")))
    } finally sq.stop()
  }

  test("streaming ingestion gate (exact + near-dup vs accumulating " +
      "seen store) == batch gate on same batches") {
    // IngestPipeline is the deployment form of the incremental gates:
    // foreachBatch admits each micro-batch against the seen store and
    // extends the store with the survivors' ARTIFACTS (hashes +
    // signatures, never text). Parity: the same two batches through
    // the streaming query and through two direct processBatch calls
    // must admit identical doc sets and leave identical stores.
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Text
    val a = "the quick brown fox jumps over the lazy dog today"
    val aNear = "the quick brown fox jumps over the lazy dog tomorrow"
    val b = "completely unrelated second document with its own words"
    val c = "a third novel document containing fresh content entirely"
    val batch1 = Seq((1L, a), (2L, b), (3L, "hi"))
    val batch2 = Seq(
      (11L, a),     // exact copy of seen 1 → exact gate drops
      (12L, aNear), // near copy of seen 1 (j = 8/10) → near gate drops
      (13L, c),     // novel → admitted
      (14L, c),     // batch-internal exact dup of 13 → dropped
      (15L, "hi")   // short doc, exact copy of seen 3 → exact gate
    )
    def runBatches(process: Seq[(Long, String)] => Unit): Unit = {
      process(batch1); process(batch2)
    }
    // batch twin
    val batchStore = new IngestPipeline.MemoryStore(spark)
    val batchAdmitted = scala.collection.mutable.ArrayBuffer[Long]()
    runBatches(rows => IngestPipeline.processBatch(
      rows.toDF("doc_id", "text"), batchStore,
      df => batchAdmitted ++=
        df.select("doc_id").collect().map(_.getLong(0))))
    assert(batchAdmitted.toSet == Set(1L, 2L, 3L, 13L))
    // streaming side: two MemoryStream micro-batches through start()
    val store = new IngestPipeline.MemoryStore(spark)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val sq = IngestPipeline.start(
      in.toDF().toDF("doc_id", "text"), store,
      df => admitted ++= df.select("doc_id").collect().map(_.getLong(0)),
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-ingest-ckpt").toString)
    try {
      in.addData(batch1)
      sq.processAllAvailable()
      in.addData(batch2)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(admitted.toSet == batchAdmitted.toSet)
    // stores converged to the same state: hashes of the 4 admitted
    // texts; signatures only for the >= 3-token admitted docs
    def hs(s: IngestPipeline.SeenStore) =
      s.hashes.collect().map(_.getString(0)).toSet
    def sg(s: IngestPipeline.SeenStore) =
      s.sigs.collect().map(r => (r.getAs[Long]("doc_id"),
        r.getAs[Seq[Long]]("sig"))).toSet
    assert(hs(store) == hs(batchStore) && hs(store).size == 4)
    assert(sg(store) == sg(batchStore))
    assert(sg(store).map(_._1) == Set(1L, 2L, 13L)) // "hi" has no sig
    // the near-dup artifact actually gates: 12's signature against
    // the stored state says near-dup of 1
    val probe = Text.incrementalNearDupSigs(
      Text.nearDupSignatures(Seq((12L, aNear)).toDF("doc_id", "text")),
      store.sigs, 0.5).collect()
    assert(probe.map(r =>
      (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet ==
      Set((12L, 1L)))
  }

  test("streaming Bloom gate == the batch first-setter replay " +
      "under any micro-batch split; state capped at mBits") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.BloomGate
    // distinct texts + two exact dups of doc 1 (guaranteed flags);
    // tiny filter (m = 64, 3 hashes) so hash collisions also occur
    val docs = (1L to 12L).map(i => (i, s"document body $i")) ++
      Seq((13L, "document body 1"), (14L, "document body 1"))
    def draw60(key: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(key.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15), 16)
    }
    def posOf(t: String): Seq[Long] =
      (0 until 3).map(i => draw60(t + ":bloom" + i) % 64)
    val first = scala.collection.mutable.Map[Long, Long]()
    for ((id, t) <- docs; p <- posOf(t))
      first(p) = math.min(first.getOrElse(p, Long.MaxValue), id)
    val expected = docs.filter { case (id, t) =>
      !posOf(t).forall(p => first(p) < id)
    }.map(_._1).toSet
    assert(!expected.contains(13L) && !expected.contains(14L))
    def streamed(split: Int): Set[Long] = {
      val store = new BloomGate.MemoryStore(spark)
      val admitted = scala.collection.mutable.ArrayBuffer[Long]()
      for (chunk <- docs.grouped(split))
        BloomGate.processBatch(chunk.toDF("doc_id", "text"), store,
          df => admitted ++=
            df.select("doc_id").collect().map(_.getLong(0)),
          mBits = 64)
      assert(store.bits.collect().length <= 64)
      admitted.toSet
    }
    assert(streamed(5) == expected)
    assert(streamed(2) == expected)
    // streaming start() parity over two micro-batches
    val store = new BloomGate.MemoryStore(spark)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String)]
    val sq = BloomGate.start(
      in.toDF().toDF("doc_id", "text"), store,
      df => admitted ++=
        df.select("doc_id").collect().map(_.getLong(0)),
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-bloom-ckpt").toString,
      mBits = 64,
      trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      in.addData(docs.take(7))
      sq.processAllAvailable()
      in.addData(docs.drop(7))
      sq.processAllAvailable()
    } finally sq.stop()
    assert(admitted.toSet == expected)
  }

  test("parquet-backed ingestion store matches the in-memory store " +
      "and survives a restart") {
    // production form of the seen store: the same two batches through
    // a ParquetStore must admit exactly what MemoryStore admitted
    // (previous test's semantics), and a FRESH store instance over
    // the same directory — a process restart — must still gate
    val a = "the quick brown fox jumps over the lazy dog today"
    val aNear = "the quick brown fox jumps over the lazy dog tomorrow"
    val b = "completely unrelated second document with its own words"
    val c = "a third novel document containing fresh content entirely"
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ingest-store").toString
    val store = new IngestPipeline.ParquetStore(spark, dir)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    def admit(df: org.apache.spark.sql.DataFrame): Unit =
      admitted ++= df.select("doc_id").collect().map(_.getLong(0))
    IngestPipeline.processBatch(
      Seq((1L, a), (2L, b), (3L, "hi")).toDF("doc_id", "text"),
      store, admit)
    IngestPipeline.processBatch(
      Seq((11L, a), (12L, aNear), (13L, c), (14L, c), (15L, "hi"))
        .toDF("doc_id", "text"), store, admit)
    assert(admitted.toSet == Set(1L, 2L, 3L, 13L))
    // restart: a new instance over the same directory sees the state
    val reopened = new IngestPipeline.ParquetStore(spark, dir)
    assert(reopened.hashes.count() == 4 && reopened.sigs.count() == 3)
    val admitted2 = scala.collection.mutable.ArrayBuffer[Long]()
    IngestPipeline.processBatch(
      Seq((21L, c), (22L, aNear), (23L, "genuinely new content that " +
        "matches nothing at all")).toDF("doc_id", "text"),
      reopened,
      df => admitted2 ++= df.select("doc_id").collect().map(_.getLong(0)))
    // 21 exact-dups seen 13; 22 near-dups seen 1; 23 admitted
    assert(admitted2.toSet == Set(23L))
  }

  test("streaming semantic ingestion gate == batch gate on same " +
      "batches, and the parquet store survives a restart") {
    // SemanticIngestPipeline is the embedding-side deployment form:
    // each micro-batch is admitted against the accumulating artifact
    // store under the within-list discipline, and survivors' unit
    // vectors extend the store. Assignment here is the offline
    // metadata form (list = vec_id % 2) so the test is
    // quantizer-free and deterministic.
    implicit val sqlCtx = spark.sqlContext
    val assign = (df: DataFrame) =>
      df.withColumn("list_id", (col("vec_id") % 2).cast("int"))
    val e0 = Array(1f, 0f, 0f)         // vec 0 → list 0
    val e1 = Array(0f, 1f, 0f)         // vec 1 → list 1
    val e0near = Array(0.9f, 0.1f, 0f) // cos vs e0 ≈ 0.994
    val eNew = Array(0f, 0f, 1f)
    val batch1 = Seq((0L, e0), (1L, e1))
    val batch2 = Seq(
      (10L, e0near), // list 0, dup of seen 0 → dropped
      (11L, e0near), // list 1 (odd id): same vector, probes the
                     // OTHER list → admitted (quantizer loss)
      (12L, eNew))   // list 0, orthogonal → admitted
    def runBatches(process: Seq[(Long, Array[Float])] => Unit): Unit = {
      process(batch1); process(batch2)
    }
    // batch twin
    val batchStore = new SemanticIngestPipeline.MemoryStore(spark)
    val batchAdmitted = scala.collection.mutable.ArrayBuffer[Long]()
    runBatches(rows => SemanticIngestPipeline.processBatch(
      rows.toDF("vec_id", "embedding"), batchStore, assign,
      df => batchAdmitted ++=
        df.select("vec_id").collect().map(_.getLong(0)),
      threshold = 0.9))
    assert(batchAdmitted.toSet == Set(0L, 1L, 11L, 12L))
    // streaming side: the same two micro-batches through start()
    val store = new SemanticIngestPipeline.MemoryStore(spark)
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, Array[Float])]
    val sq = SemanticIngestPipeline.start(
      in.toDF().toDF("vec_id", "embedding"), store, assign,
      df => admitted ++= df.select("vec_id").collect().map(_.getLong(0)),
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-semingest-ckpt").toString,
      threshold = 0.9)
    try {
      in.addData(batch1)
      sq.processAllAvailable()
      in.addData(batch2)
      sq.processAllAvailable()
    } finally sq.stop()
    assert(admitted.toSet == batchAdmitted.toSet)
    def sg(s: SemanticIngestPipeline.SeenStore) =
      s.sigs.collect().map(r => (r.getAs[Long]("vec_id"),
        r.getAs[Int]("list_id"))).toSet
    assert(sg(store) == sg(batchStore))
    assert(sg(store).map(_._1) == Set(0L, 1L, 11L, 12L))
    // parquet-backed store: same batches, same admissions, and a
    // fresh instance over the directory — a restart — still gates
    val dir = java.nio.file.Files
      .createTempDirectory("graft-semingest-store").toString
    val pStore = new SemanticIngestPipeline.ParquetStore(spark, dir)
    val pAdmitted = scala.collection.mutable.ArrayBuffer[Long]()
    runBatches(rows => SemanticIngestPipeline.processBatch(
      rows.toDF("vec_id", "embedding"), pStore, assign,
      df => pAdmitted ++=
        df.select("vec_id").collect().map(_.getLong(0)),
      threshold = 0.9))
    assert(pAdmitted.toSet == batchAdmitted.toSet)
    val reopened = new SemanticIngestPipeline.ParquetStore(spark, dir)
    assert(sg(reopened) == sg(batchStore))
    val admitted3 = scala.collection.mutable.ArrayBuffer[Long]()
    SemanticIngestPipeline.processBatch(
      Seq((20L, e0near), (21L, eNew)).toDF("vec_id", "embedding"),
      reopened, assign,
      df => admitted3 ++= df.select("vec_id").collect().map(_.getLong(0)),
      threshold = 0.9)
    // 20 (list 0) dups seen 0; 21 (list 1) orthogonal to everything
    // in list 1 → admitted
    assert(admitted3.toSet == Set(21L))
    // the store is laid out partitioned by list_id, and the gate's
    // batch-list restriction reaches the scan as a partition filter
    // (the 100-TB contract: a probe reads the touched lists only)
    val parts = new java.io.File(dir).listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(parts == Set("list_id=0", "list_id=1"))
    val probe = reopened.sigs
      .filter(col("list_id").isin(Int.box(0)))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("list_id"), s"no partition pruning in:\n$plan")
    assert(probe.collect().forall(_.getAs[Int]("list_id") == 0))
  }

  test("streaming content-defined chunking == batch on same docs") {
    // cut positions are per-row array math (no shuffle, no state), so
    // the operator composes under readStream unchanged — ingestion
    // pipelines chunk on the way in
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Text
    val docs = Seq(
      (1L, (1 to 60).map(i => s"tok$i").mkString(" ")),
      (2L, "short"))
    val in = MemoryStream[(Long, String)]
    val named = in.toDF().toDF("doc_id", "text")
    val sq = Text.contentDefinedChunks(named, window = 8, maskBits = 4)
      .writeStream.format("memory").queryName("cdc_chunks_out")
      .outputMode("append").start()
    try {
      in.addData(docs)
      sq.processAllAvailable()
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id"),
          r.getAs[Int]("start"), r.getAs[String]("chunk_text"))
      val want = Text.contentDefinedChunks(
        docs.toDF("doc_id", "text"), window = 8, maskBits = 4)
        .collect().map(key).sorted
      val got = spark.table("cdc_chunks_out").collect().map(key).sorted
      assert(want.nonEmpty && got.sameElements(want))
    } finally sq.stop()
  }

  test("streaming quality gate: clean batch admitted whole, " +
      "contract-breaking batch quarantined with its report") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Audit
    val checks = Seq(
      Audit.Completeness("text", 1.0),
      Audit.Uniqueness(Seq("doc_id"), 1.0),
      Audit.MinBound("n_chars", 1.0))
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val rejected = scala.collection.mutable.ArrayBuffer[Long]()
    val failures = scala.collection.mutable.ArrayBuffer[String]()
    val reports = scala.collection.mutable.ArrayBuffer[Int]()
    val in = MemoryStream[(Long, Option[String], Long)]
    val sq = QualityGatePipeline.start(
      in.toDF().toDF("doc_id", "text", "n_chars"), checks,
      df => admitted ++= df.select("doc_id").collect().map(_.getLong(0)),
      (df, rep) => {
        rejected ++= df.select("doc_id").collect().map(_.getLong(0))
        failures ++= rep.filter(!_.getAs[Boolean]("passed"))
          .map(_.getAs[String]("check_name"))
      },
      checkpoint = java.nio.file.Files
        .createTempDirectory("qgate-ck").toString,
      reportSink = rep => reports += rep.size,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(0))
    try {
      // batch 1: clean
      in.addData(Seq((1L, Some("good doc"), 8L), (2L, Some("fine"), 4L)))
      sq.processAllAvailable()
      // batch 2: null text + duplicate key → both checks fail
      in.addData(Seq((3L, None, 5L), (3L, Some("dup id"), 6L)))
      sq.processAllAvailable()
      assert(admitted.toSet == Set(1L, 2L))
      assert(rejected.toSet == Set(3L))
      assert(failures.toSet ==
        Set("completeness:text", "uniqueness:doc_id"))
      // every batch reported the full suite, admitted or not
      assert(reports.toSeq == Seq(3, 3))
    } finally sq.stop()
  }

  test("streaming quality gate enforces cross-field Predicate checks per batch") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.Audit
    val checks = Seq(Audit.Predicate("n_chars = length(text)", 1.0))
    val admitted = scala.collection.mutable.ArrayBuffer[Long]()
    val rejected = scala.collection.mutable.ArrayBuffer[Long]()
    val in = MemoryStream[(Long, String, Long)]
    val sq = QualityGatePipeline.start(
      in.toDF().toDF("doc_id", "text", "n_chars"), checks,
      df => admitted ++= df.select("doc_id").collect()
        .map(_.getLong(0)),
      (df, _) => rejected ++= df.select("doc_id").collect()
        .map(_.getLong(0)),
      checkpoint = java.nio.file.Files
        .createTempDirectory("qgate-pred-ck").toString,
      trigger = org.apache.spark.sql.streaming.Trigger
        .ProcessingTime(0))
    try {
      in.addData(Seq((1L, "abcd", 4L)))           // consistent
      sq.processAllAvailable()
      in.addData(Seq((2L, "abcd", 99L)))          // length lies
      sq.processAllAvailable()
      assert(admitted.toList == List(1L) && rejected.toList ==
        List(2L))
    } finally sq.stop()
  }

  test("rate limit: per-key window cap, state across batches, == batch replay") {
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.RateLimit
    val in = MemoryStream[RateLimit.Event]
    val q = RateLimit.rateLimit(in.toDS(), capacity = 2,
      windowMs = 10000L)
      .writeStream.format("memory").queryName("rate_out")
      .outputMode("append").start()
    val t0 = 1_000_000_000L // away from the initial 0 watermark
    try {
      // window w: user 1 sends 3 → third rejected; user 2 fine
      in.addData(
        RateLimit.Event(1L, t0 + 1000L, 1.0),
        RateLimit.Event(1L, t0 + 2000L, 2.0),
        RateLimit.Event(1L, t0 + 3000L, 3.0),
        RateLimit.Event(2L, t0 + 5000L, 4.0))
      q.processAllAvailable()
      // same window, next micro-batch: the used=2 state carries, so
      // user 1's 4th row is rejected too; next window re-admits
      in.addData(
        RateLimit.Event(1L, t0 + 4000L, 5.0),
        RateLimit.Event(1L, t0 + 12000L, 6.0))
      q.processAllAvailable()
      val out = spark.table("rate_out").as[RateLimit.Decision]
        .collect().sortBy(d => (d.user_id, d.ts)).toList
      assert(out.map(d => (d.user_id, d.ts - t0, d.admitted)) == List(
        (1L, 1000L, true), (1L, 2000L, true), (1L, 3000L, false),
        (1L, 4000L, false), (1L, 12000L, true),
        (2L, 5000L, true)))
      // batch replay of the SAME in-order feed decides identically
      import spark.implicits._
      val batchIn = Seq(
        (1L, t0 + 1000L, 1.0), (1L, t0 + 2000L, 2.0),
        (1L, t0 + 3000L, 3.0), (1L, t0 + 4000L, 5.0),
        (1L, t0 + 12000L, 6.0), (2L, t0 + 5000L, 4.0)
      ).toDF("user_id", "ts", "value")
      val b = RateLimit.rateLimitBatch(batchIn, capacity = 2,
          windowMs = 10000L)
        .collect().map(r => (r.getLong(0), r.getLong(1) - t0,
          r.getBoolean(3))).sortBy(t => (t._1, t._2)).toList
      assert(b == out.map(d => (d.user_id, d.ts - t0, d.admitted)))
    } finally q.stop()
  }

  test("materialized view maintained across micro-batches == recompute; parquet store matches memory store") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.MaterializedViewPipeline
    import graft.streaming.MaterializedViewPipeline.{MemoryViewStore, ParquetViewStore}
    val in = MemoryStream[(String, String, Double, Option[Double])]
    val mem = new MemoryViewStore(spark)
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft-mv-ckpt").toString
    val q = MaterializedViewPipeline.start(
      in.toDF().toDF("key", "op", "v", "old_v"), mem, ckpt)
    def viewOf(s: MaterializedViewPipeline.ViewStore) =
      s.view.collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
        .sortBy(_._1).toList
    try {
      in.addData(("a", "I", 10.0, None), ("a", "I", 20.0, None),
        ("b", "I", 5.0, None))
      q.processAllAvailable()
      assert(viewOf(mem) == List(("a", 2L, 30.0), ("b", 1L, 5.0)))
      // batch 2: update against the STORED view state, plus a delete
      in.addData(("a", "U", 25.0, Some(20.0)), ("b", "D", 5.0, None),
        ("c", "I", 1.5, None))
      q.processAllAvailable()
      assert(viewOf(mem) ==
        List(("a", 2L, 35.0), ("c", 1L, 1.5)))
      // batch 3: empty a entirely
      in.addData(("a", "D", 10.0, None), ("a", "D", 25.0, None))
      q.processAllAvailable()
      assert(viewOf(mem) == List(("c", 1L, 1.5)))
    } finally q.stop()
    // the distributed store replays the same deltas to the same view
    val dir = java.nio.file.Files
      .createTempDirectory("graft-mv-store").toString
    val pq = new ParquetViewStore(spark, dir)
    import spark.implicits._
    Seq(
      Seq(("a", "I", 10.0, None), ("a", "I", 20.0, None),
        ("b", "I", 5.0, None)),
      Seq(("a", "U", 25.0, Some(20.0)), ("b", "D", 5.0, None),
        ("c", "I", 1.5, None)),
      Seq(("a", "D", 10.0, Option.empty[Double]),
        ("a", "D", 25.0, None))
    ).foreach { batch =>
      MaterializedViewPipeline.processBatch(
        batch.toDF("key", "op", "v", "old_v"), pq)
    }
    assert(viewOf(pq) == List(("c", 1L, 1.5)))
  }

  test("idempotent sink: a replayed batch replaces its partition, never duplicates") {
    import spark.implicits._
    import graft.streaming.IdempotentSink
    val dir = java.nio.file.Files
      .createTempDirectory("graft-txn-sink").toString
    IdempotentSink.write(Seq((1L, "a"), (2L, "b"))
      .toDF("id", "payload"), 0L, dir)
    IdempotentSink.write(Seq((3L, "c")).toDF("id", "payload"),
      1L, dir)
    // failure-window replay: batch 1 delivered again
    IdempotentSink.write(Seq((3L, "c")).toDF("id", "payload"),
      1L, dir)
    val rows = IdempotentSink.readAll(spark, dir)
      .select("id", "payload", "batch_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
      .sortBy(_._1).toList
    assert(rows == List((1L, "a", 0), (2L, "b", 0), (3L, "c", 1)),
      s"rows=$rows")
    // untouched partitions survive a replay of another batch
    assert(rows.count(_._3 == 0) == 2)
  }

  test("streaming CUSUM monitor matches the batch closed form " +
      "across micro-batches and keeps feeds independent") {
    import graft.streaming.CusumMonitor
    import graft.streaming.CusumMonitor.{Bucket, CusumOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    // the AuditSpec planted series: mean 40, k=4 (100 milli),
    // h=40 (1000 milli); shift lands on buckets 5-6
    val counts = Seq(10L, 10L, 10L, 10L, 100L, 100L)
    val in = MemoryStream[Bucket]
    val q = CusumMonitor
      .monitor(in.toDS(), meanX = 40L, kMilli = 100L, hMilli = 1000L)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("append").start()
    try {
      // two micro-batches: state must carry across the boundary;
      // a second quiet feed proves keyed isolation
      in.addData(counts.take(3).zipWithIndex.map { case (x, i) =>
        Bucket("main", i.toLong, x) } ++
        Seq(Bucket("quiet", 0L, 40L)))
      q.processAllAvailable()
      in.addData(counts.drop(3).zipWithIndex.map { case (x, i) =>
        Bucket("main", (i + 3).toLong, x) } ++
        Seq(Bucket("quiet", 1L, 40L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("cusum_out").as[CusumOut].collect()
    val main = got.filter(_.feed == "main").sortBy(_.bucket)
    // batch twin: direct recurrence with the same parameters
    var (sh, sl) = (0L, 0L)
    val expect = counts.map { x =>
      sh = math.max(0L, sh + x - 40 - 4)
      sl = math.max(0L, sl + 40 - x - 4)
      (sh, sl, sh > 40, sl > 40)
    }
    assert(main.map(o =>
      (o.s_hi, o.s_lo, o.alarm_hi, o.alarm_lo)).toSeq === expect)
    // the quiet feed never alarms and never inherits main's state
    val quiet = got.filter(_.feed == "quiet").sortBy(_.bucket)
    assert(quiet.forall(o => o.s_hi == 0L && !o.alarm_hi && !o.alarm_lo))
  }

  test("DecayMonitor: halving recurrence across micro-batch " +
      "boundaries and day gaps; keyed isolation") {
    import graft.streaming.DecayMonitor
    import graft.streaming.DecayMonitor.{DayCount, DecayOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    // days 0,1,3 (gap of 2), counts 2,1,4; a second feed stays flat
    val in = MemoryStream[DayCount]
    val q = DecayMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("decay_out")
      .outputMode("append").start()
    try {
      in.addData(DayCount("main", 0L, 2L), DayCount("other", 0L, 1L))
      q.processAllAvailable()
      in.addData(DayCount("main", 1L, 1L), DayCount("main", 3L, 4L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("decay_out").as[DecayOut].collect()
    val main = got.filter(_.feed == "main").sortBy(_.day)
      .map(_.decayed_weight_ppm).toSeq
    // direct fold: 2e6; 2e6>>1 + 1e6 = 2e6; 2e6>>2 + 4e6 = 4.5e6
    assert(main === Seq(2000000L, 2000000L, 4500000L))
    val other = got.filter(_.feed == "other")
    assert(other.map(_.decayed_weight_ppm).toSeq === Seq(1000000L))
  }

  test("HotKeyMonitor: raw CDC rows bucket per batch, mass halves " +
      "across days, hot key dominates, keyed isolation") {
    import graft.streaming.HotKeyMonitor
    import graft.streaming.HotKeyMonitor.{Change, HotOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[Change]
    val q = HotKeyMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("hotkey_out")
      .outputMode("append").start()
    try {
      // day 0: hot key 6 changes, cold key 1 — raw rows, unbucketed
      in.addData(Seq.fill(6)(Change("hot", 0L)) :+ Change("cold", 0L): _*)
      q.processAllAvailable()
      // days 1 and 3 in ONE batch (intra-batch day sort) + a same-day
      // 0 straggler (equal day folds at gap 0 — only a REGRESSION
      // drops, which the DecayMonitor spec covers)
      in.addData(Change("hot", 1L), Change("hot", 1L),
        Change("hot", 3L), Change("hot", 0L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hotkey_out").as[HotOut].collect()
    val hot = got.filter(_.key == "hot")
      .sortBy(r => (r.day, r.decayed_changes_ppm))
    // direct fold: 6e6 (day 0 b1); 6e6 + 1e6 (day 0 b2, gap 0);
    // 7e6>>1 + 2e6 = 5.5e6 (day 1); 5.5e6>>2 + 1e6 = 2.375e6 (day 3)
    assert(hot.map(_.day).toSeq === Seq(0L, 0L, 1L, 3L))
    assert(hot.map(_.decayed_changes_ppm).toSeq ===
      Seq(6000000L, 7000000L, 5500000L, 2375000L))
    val cold = got.filter(_.key == "cold")
    assert(cold.map(_.decayed_changes_ppm).toSeq === Seq(1000000L))
    // the live ranking read: hot's mass dwarfs cold's at every emit
    assert(hot.forall(_.decayed_changes_ppm > 1000000L))
  }

  test("HotKeyMonitor ≡ Cdc.hotKeys on a single-day feed: the " +
      "monitor's final masses rank keys identically to the batch " +
      "profile's counts") {
    import graft.streaming.HotKeyMonitor
    import graft.streaming.HotKeyMonitor.{Change, HotOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val feed = Seq.fill(5)("k7") ++ Seq.fill(3)("k8") ++ Seq("k9")
    val in = MemoryStream[Change]
    val q = HotKeyMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("hk_diff")
      .outputMode("append").start()
    try {
      in.addData(feed.map(Change(_, 0L)): _*)
      q.processAllAvailable()
    } finally q.stop()
    val monitorRank = spark.table("hk_diff").as[HotOut].collect()
      .sortBy(r => (-r.decayed_changes_ppm, r.key)).map(_.key).toSeq
    val batchRank = graft.ops.Cdc.hotKeys(
      feed.map(k => Tuple1(k)).toDF("uid"), "uid", topN = 3)
      .collect().map(_.getAs[String]("key")).toSeq
    assert(monitorRank === batchRank)
    // and the single-day mass is exactly count * 1e6 ppm
    val mass = spark.table("hk_diff").as[HotOut].collect()
      .map(r => r.key -> r.decayed_changes_ppm).toMap
    assert(mass === Map("k7" -> 5000000L, "k8" -> 3000000L,
      "k9" -> 1000000L))
  }

  test("DecayMonitor: cross-batch day regression is dropped, not " +
      "clamped — no retroactive re-halving of newer mass") {
    import graft.streaming.DecayMonitor
    import graft.streaming.DecayMonitor.{DayCount, DecayOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[DayCount]
    val q = DecayMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("decay_late")
      .outputMode("append").start()
    try {
      in.addData(DayCount("f", 5L, 2L))
      q.processAllAvailable()
      // day 3 arrives AFTER state is at day 5: must be dropped;
      // a clamped fold would reset lastDay to 3 and the next day-6
      // row would halve 3 times instead of once
      in.addData(DayCount("f", 3L, 9L))
      q.processAllAvailable()
      in.addData(DayCount("f", 6L, 1L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("decay_late").as[DecayOut].collect()
      .sortBy(_.day)
    assert(got.map(_.day).toSeq === Seq(5L, 6L))
    // 2e6 at day 5; day 6: 2e6 >> 1 + 1e6 = 2e6 (NOT 2e6 >> 3 + 1e6)
    assert(got.map(_.decayed_weight_ppm).toSeq ===
      Seq(2000000L, 2000000L))
  }

  test("ChecksumMonitor ≡ Cdc.checksumDiff over the materialized " +
      "end state: I/U/D fold to the exact batch fingerprint, " +
      "bucket for bucket, regardless of batch split") {
    import graft.streaming.ChecksumMonitor
    import graft.streaming.ChecksumMonitor.{Delta, FpOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val cols = Seq("k", "name", "seg")
    def hashed(df: org.apache.spark.sql.DataFrame) = df.select(
      pmod(col("k"), lit(4L)).as("bucket"),
      graft.ops.Cdc.rowHash60(cols).as("h"), col("k")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val base = (1L to 20L).map(k => (k, s"n$k", s"seg${k % 3}"))
      .toDF("k", "name", "seg")
    val mutated = base
      .withColumn("seg",
        when(col("k") === 6L, "MUT").otherwise(col("seg")))
    val inserts = hashed(base).map { case (b, h, _) =>
      Delta(b, "I", h, 0L) }
    val oldRow6 = hashed(base).find(_._3 == 6L).get
    val newRow6 = hashed(mutated).find(_._3 == 6L).get
    val row9 = hashed(base).find(_._3 == 9L).get
    val updates = Seq(Delta(oldRow6._1, "U", newRow6._2, oldRow6._2),
      Delta(row9._1, "D", 0L, row9._2))
    val in = MemoryStream[Delta]
    val q = ChecksumMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("cksum_out")
      .outputMode("append").start()
    try {
      // arbitrary split: half the inserts, then the rest MIXED with
      // the updates/deletes — the fold is commutative mod M, so the
      // batch boundaries must not matter
      in.addData(inserts.take(9): _*)
      q.processAllAvailable()
      in.addData((inserts.drop(9) ++ updates): _*)
      q.processAllAvailable()
    } finally q.stop()
    // max-version row per bucket = the converged fingerprint (the
    // monitor's LWW consumer contract)
    val fin = spark.table("cksum_out").as[FpOut].collect()
      .groupBy(_.bucket).map { case (b, rs) =>
        b -> rs.maxBy(_.version) }
    val finalTable = mutated.filter(col("k") =!= 9L)
    val expect = graft.ops.Cdc.checksumDiff(
      finalTable, finalTable, "k", cols, nBuckets = 4).collect()
      .map(r => r.getAs[Long]("bucket") ->
        (r.getAs[Long]("n_src"), r.getAs[Long]("sum_src"))).toMap
    assert(fin.keySet === expect.keySet)
    for ((b, out) <- fin) {
      assert((out.n_rows, out.fingerprint) === expect(b),
        s"bucket $b: monitor ${(out.n_rows, out.fingerprint)} " +
          s"!= batch ${expect(b)}")
    }
  }

  test("ForecastMonitor ≡ Audit.holtWintersBacktest under an " +
      "arbitrary batch split: level, trend, scored count and " +
      "summed |err| match column for column; warmup unscored; " +
      "duplicate day dropped") {
    import graft.streaming.ForecastMonitor
    import graft.streaming.ForecastMonitor.{DayCount, ForecastOut}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ys = Seq(10, 12, 8, 11, 9, 13, 7, 14, 9, 10, 12, 8, 15, 6)
    val days = ys.zipWithIndex.map { case (n, d) =>
      DayCount("a", d.toLong, n.toLong) }
    val in = MemoryStream[DayCount]
    val q = ForecastMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("hw_out")
      .outputMode("append").start()
    try {
      in.addData(days.take(5): _*)
      q.processAllAvailable()
      // re-close of day 4 (cross-batch duplicate): must be dropped
      in.addData(days(4))
      q.processAllAvailable()
      in.addData(days.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("hw_out").as[ForecastOut].collect()
      .sortBy(_.day)
    assert(got.length === ys.length) // dup emitted nothing
    // warmup: the first 7 days (one per weekday) are unscored
    assert(got.take(7).forall(_.forecast_milli.isEmpty))
    assert(got.drop(7).forall(_.forecast_milli.nonEmpty))
    val batch = graft.ops.Audit.holtWintersBacktest(
      ys.zipWithIndex.flatMap { case (n, d) =>
        val day = java.time.LocalDate.ofEpochDay(d.toLong).toString
        Seq.fill(n)(("a", s"$day 12:00:00"))
      }.toDF("event_type", "ts")).collect().head
    assert(got.count(_.abs_err_milli.nonEmpty).toLong ===
      batch.getAs[Long]("n_scored"))
    assert(got.flatMap(_.abs_err_milli).sum /
      batch.getAs[Long]("n_scored") === batch.getAs[Long]("mae_milli"))
    assert(got.last.level_milli === batch.getAs[Long]("level_milli"))
    assert(got.last.trend_milli === batch.getAs[Long]("trend_milli"))
  }

  test("SeqGapMonitor: islands extend/merge/open across batches, " +
      "dups fold away, per-table isolation") {
    import graft.streaming.SeqGapMonitor
    import graft.streaming.SeqGapMonitor.{GapOut, IdRow}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IdRow]
    val q = SeqGapMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("seqgap_out")
      .outputMode("append").start()
    try {
      in.addData(IdRow("t0", 1L), IdRow("t0", 2L), IdRow("t0", 3L),
        IdRow("t0", 10L), IdRow("t1", 5L))
      q.processAllAvailable()
      // 4 bridges nothing (island {1-4}); 11 extends {10}; 20 opens;
      // 2 is a cross-batch dup (absorbed); t1 untouched this batch
      in.addData(IdRow("t0", 4L), IdRow("t0", 11L), IdRow("t0", 20L),
        IdRow("t0", 2L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("seqgap_out").as[GapOut].collect()
    val t0 = got.filter(_.src_table == "t0").sortBy(_.n_ids)
    assert(t0.length === 2)
    // batch 1: islands {1-3},{10}: 4 ids, span 10, missing 6
    assert(t0(0) === GapOut("t0", 4L, 1L, 10L, 2L, Some(6L),
      6L, 600000L))
    // batch 2: islands {1-4},{10-11},{20}: 7 ids, span 20, holes
    // 5..9 (5) and 12..19 (8) -> missing 13, largest 8
    assert(t0(1) === GapOut("t0", 7L, 1L, 20L, 3L, Some(8L),
      13L, 650000L))
    val t1 = got.filter(_.src_table == "t1")
    assert(t1.toSeq === Seq(GapOut("t1", 1L, 5L, 5L, 1L, None,
      0L, 0L)))
  }

  test("SeqGapMonitor ≡ Cdc.sequenceGaps on the same ids (under the " +
      "island cap): final emission matches the batch profile " +
      "column for column") {
    import graft.streaming.SeqGapMonitor
    import graft.streaming.SeqGapMonitor.{GapOut, IdRow}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two tables, dups, disorder, multi-hole spans — split over two
    // arbitrary batches (island fold is commutative, split is free)
    val feed = Seq(
      ("ta", 7L), ("ta", 1L), ("ta", 2L), ("ta", 7L), ("ta", 3L),
      ("ta", 30L), ("ta", 31L), ("ta", 12L),
      ("tb", 100L), ("tb", 101L), ("tb", 102L))
    val in = MemoryStream[IdRow]
    val q = SeqGapMonitor.monitor(in.toDS())
      .writeStream.format("memory").queryName("seqgap_diff")
      .outputMode("append").start()
    try {
      in.addData(feed.take(6).map { case (t, i) => IdRow(t, i) }: _*)
      q.processAllAvailable()
      in.addData(feed.drop(6).map { case (t, i) => IdRow(t, i) }: _*)
      q.processAllAvailable()
    } finally q.stop()
    // final emission per table = the monitor's converged profile
    val fin = spark.table("seqgap_diff").as[GapOut].collect()
      .groupBy(_.src_table).map { case (t, rs) =>
        t -> rs.maxBy(_.n_ids) }
    val batch = graft.ops.Cdc.sequenceGaps(
      feed.map { case (t, i) =>
        (t, Map("id" -> i.toString)) }.toDF("table", "data"))
      .collect().map { r =>
        r.getAs[String]("src_table") -> GapOut(
          r.getAs[String]("src_table"), r.getAs[Long]("n_ids"),
          r.getAs[Long]("min_id"), r.getAs[Long]("max_id"),
          r.getAs[Long]("n_islands"),
          Option(r.getAs[Any]("largest_gap"))
            .map(_.asInstanceOf[Long]),
          r.getAs[Long]("n_missing"), r.getAs[Long]("missing_ppm"))
      }.toMap
    assert(fin === batch)
  }

  test("SeqGapMonitor: past the island cap the smallest interior " +
      "gap closes — missing becomes a documented lower bound, " +
      "span stays exact") {
    import graft.streaming.SeqGapMonitor
    import graft.streaming.SeqGapMonitor.{GapOut, IdRow}
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[IdRow]
    val q = SeqGapMonitor.monitor(in.toDS(), maxIslands = 2)
      .writeStream.format("memory").queryName("seqgap_cap")
      .outputMode("append").start()
    try {
      // 3 islands {1},{5},{100}: gaps 3 and 94 — the 3 closes
      in.addData(IdRow("t", 1L), IdRow("t", 5L), IdRow("t", 100L))
      q.processAllAvailable()
      // an id inside the fused range is absorbed, not double-counted
      in.addData(IdRow("t", 3L))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("seqgap_cap").as[GapOut].collect()
      .sortBy(_.n_ids)
    // capped: islands {1-5},{100}: 6 ids counted, missing 94 (the
    // exact profile would say 3 ids / 97 missing — lower bound)
    assert(got(0) === GapOut("t", 6L, 1L, 100L, 2L, Some(94L),
      94L, 940000L))
    assert(got(1) === GapOut("t", 6L, 1L, 100L, 2L, Some(94L),
      94L, 940000L))
  }

  test("WeRulesMonitor: phase-II flags against a frozen baseline " +
      "equal the batch op's global-stats flags bit-for-bit; " +
      "baseline-less types and cross-batch regressions drop") {
    import graft.streaming.WeRulesMonitor
    import graft.streaming.WeRulesMonitor.{Day, WeOut}
    import graft.ops.Audit
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val series = Map(
      "a" -> Seq(5L, 1L, 2L, 1L, 1L, 9L, 1L, 2L, 1L, 14L),
      "c" -> Seq(1L, 1L, 1L, 1L, 1L, 1L, 1L, 1L, 100L, 100L))
    // the batch twin runs on row-grain events of the same series
    def d(day: Int) = f"2024-01-${day + 1}%02d"
    val rows = series.toSeq.flatMap { case (t, xs) =>
      xs.zipWithIndex.flatMap { case (x, i) =>
        Seq.fill(x.toInt)((t, d(i))) }
    }
    val batch = Audit.westernElectricRules(
      rows.toDF("event_type", "ts")).collect()
      .map(r => (r.getAs[String]("event_type"), r.getAs[Long]("day"))
        -> ((r.getAs[Long]("x"), r.getAs[Long]("side"),
          r.getAs[Long]("r1"), r.getAs[Long]("r2"),
          r.getAs[Long]("r3"), r.getAs[Long]("r4")))).toMap
    // freeze each type's own global stats as the monitor baseline —
    // the differential contract: identical inputs, identical flags
    val baseline = series.map { case (t, xs) =>
      t -> ((xs.size.toLong, xs.sum,
        xs.map(x => x * x).sum))
    }
    val day0 = batch.keys.map(_._2).min
    val in = MemoryStream[Day]
    val q = WeRulesMonitor.monitor(in.toDS(), baseline)
      .writeStream.format("memory").queryName("we_out")
      .outputMode("append").start()
    try {
      // split mid-run-window so the ring state crosses the batch
      // boundary; 'z' has no baseline and must vanish; day 2 of 'a'
      // re-sent in batch 2 (cross-batch regression) must drop
      in.addData(series("a").take(6).zipWithIndex.map {
        case (x, i) => Day("a", day0 + i, x) } ++
        series("c").take(3).zipWithIndex.map {
          case (x, i) => Day("c", day0 + i, x) } ++
        Seq(Day("z", day0, 5L)))
      q.processAllAvailable()
      in.addData(series("a").drop(6).zipWithIndex.map {
        case (x, i) => Day("a", day0 + i + 6, x) } ++
        series("c").drop(3).zipWithIndex.map {
          case (x, i) => Day("c", day0 + i + 3, x) } ++
        Seq(Day("a", day0 + 2, 2L)))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("we_out").as[WeOut].collect()
    assert(!got.exists(_.event_type == "z"))
    // exactly one row per (type, day) — the regression dropped
    assert(got.length === 20)
    for (o <- got)
      assert(batch((o.event_type, o.day)) ==
        ((o.x, o.side, o.r1, o.r2, o.r3, o.r4)),
        s"${o.event_type} day ${o.day}")
  }

  /** True-Kafka wiring smoke, self-arming (r15 verdict #4): the
    * sandbox ships no kafka connector (287 jars probed, none), so
    * this spec CANCELS via assume() today — the day the environment
    * ships spark-sql-kafka, it runs green without a round spent on
    * it. It exercises exactly the wiring a broker-less test can:
    * provider resolution through DataSource lookup at load(), the
    * source's fixed (key, value, topic, partition, offset, ...)
    * schema, and the full demux plan built over that source. Query
    * START still needs a live broker and stays out of scope.
    */
  test("DupDeliveryMonitor: copies accumulate within and across " +
      "batches, per-table isolation, non-JSON lines group apart") {
    import graft.streaming.DupDeliveryMonitor
    import graft.streaming.DupDeliveryMonitor.DupOut
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val q = DupDeliveryMonitor.monitor(in.toDF())
      .writeStream.format("memory").queryName("dupdel_out")
      .outputMode("append").start()
    val la = """{"table":"ta","data":{"id":1}}"""
    val lb = """{"table":"ta","data":{"id":2}}"""
    val lc = """{"table":"tb","data":{"id":1}}"""
    try {
      in.addData(la, la, lb, lc, "not json")
      q.processAllAvailable()
      // la redelivers cross-batch (3 copies total); tb untouched
      in.addData(la, lb)
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dupdel_out").as[DupOut].collect()
    val ta = got.filter(_.src_table == "ta").sortBy(_.n_msgs)
    assert(ta.length === 2)
    assert(ta(0) === DupOut("ta", 3L, 2L, 1L, 333333L, 2L, true))
    assert(ta(1) === DupOut("ta", 5L, 2L, 3L, 600000L, 3L, true))
    assert(got.filter(_.src_table == "tb").toSeq ===
      Seq(DupOut("tb", 1L, 1L, 0L, 0L, 1L, true)))
    // the non-JSON line profiles as its own (null-table) group
    assert(got.filter(_.src_table == null).toSeq ===
      Seq(DupOut(null, 1L, 1L, 0L, 0L, 1L, true)))
  }

  test("DupDeliveryMonitor ≡ Cdc.dupDeliveryProfile on the same " +
      "lines (under the cap): final emission matches the batch " +
      "profile column for column under an arbitrary split") {
    import graft.streaming.DupDeliveryMonitor
    import graft.streaming.DupDeliveryMonitor.DupOut
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mk = (t: String, k: Int) =>
      s"""{"table":"$t","data":{"id":$k}}"""
    // dups split ACROSS the batch boundary (count fold commutes)
    val feed = Seq(mk("ta", 1), mk("ta", 2), mk("ta", 1), mk("tb", 9),
      mk("ta", 1), mk("ta", 2), mk("tb", 9), mk("tb", 8))
    val in = MemoryStream[String]
    val q = DupDeliveryMonitor.monitor(in.toDF())
      .writeStream.format("memory").queryName("dupdel_diff")
      .outputMode("append").start()
    try {
      in.addData(feed.take(5): _*)
      q.processAllAvailable()
      in.addData(feed.drop(5): _*)
      q.processAllAvailable()
    } finally q.stop()
    val fin = spark.table("dupdel_diff").as[DupOut].collect()
      .groupBy(_.src_table).map { case (t, rs) =>
        t -> rs.maxBy(_.n_msgs) }
    val batch = graft.ops.Cdc.dupDeliveryProfile(feed.toDF("value"))
      .collect().map { r =>
        r.getAs[String]("src_table") -> DupOut(
          r.getAs[String]("src_table"), r.getAs[Long]("n_msgs"),
          r.getAs[Long]("n_unique"), r.getAs[Long]("n_dup"),
          r.getAs[Long]("dup_ppm"), r.getAs[Long]("max_copies"),
          exact = true)
      }.toMap
    assert(fin === batch)
  }

  test("DupDeliveryMonitor: past the tracking cap singletons evict " +
      "first — n_msgs stays exact, dup counts become documented " +
      "lower bounds, exact flips false") {
    import graft.streaming.DupDeliveryMonitor
    import graft.streaming.DupDeliveryMonitor.DupOut
    implicit val s = spark
    implicit val sqlCtx = spark.sqlContext
    val mk = (k: String) => s"""{"table":"t","k":"$k"}"""
    val in = MemoryStream[String]
    val q = DupDeliveryMonitor.monitor(in.toDF(), maxTracked = 2)
      .writeStream.format("memory").queryName("dupdel_cap")
      .outputMode("append").start()
    try {
      // counts 3/2/1: the singleton c evicts (count asc — unique
      // choice, so the assertion is hash-order independent)
      in.addData(mk("a"), mk("a"), mk("a"), mk("b"), mk("b"), mk("c"))
      q.processAllAvailable()
      // c redelivers AFTER eviction: re-counts as a new unique —
      // n_unique overcounts, n_dup undercounts (the documented
      // conservative direction), and c evicts again
      in.addData(mk("c"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("dupdel_cap").as[DupOut].collect()
      .sortBy(_.n_msgs)
    assert(got(0) === DupOut("t", 6L, 3L, 3L, 500000L, 3L, false))
    // truth: 7 msgs / 3 unique / 4 dups — the monitor reports 4
    // uniques / 3 dups (lower bound) with n_msgs and max_copies exact
    assert(got(1) === DupOut("t", 7L, 4L, 3L, 428571L, 3L, false))
    val batch = graft.ops.Cdc.dupDeliveryProfile(
      (Seq.fill(3)(mk("a")) ++ Seq.fill(2)(mk("b")) ++
        Seq.fill(2)(mk("c"))).toDF("value")).collect().head
    assert(batch.getAs[Long]("n_msgs") === 7L)
    assert(batch.getAs[Long]("n_unique") === 3L)
    assert(batch.getAs[Long]("n_dup") === 4L)
  }

  test("kafka source wiring resolves and carries the demux plan " +
      "(auto-cancelled while connector jars are absent)") {
    val kafkaPresent = scala.util.Try(Class.forName(
      "org.apache.spark.sql.kafka010.KafkaSourceProvider")).isSuccess
    assume(kafkaPresent,
      "spark-sql-kafka connector not on the classpath")
    val src = LogPipeline.fromKafka(spark, "localhost:9092", "ods_log",
      startingOffsets = "earliest")
    val names = src.schema.fieldNames.toSet
    assert(Set("key", "value", "topic", "partition", "offset")
      .subsetOf(names))
    // the 5-way demux plan must build over the kafka schema
    // (value is BINARY there — the cast mirrors production wiring)
    val demuxed = LogPipeline.demuxToTopicValue(
      src.selectExpr("CAST(value AS STRING) AS value"))
    assert(demuxed.isStreaming)
    assert(demuxed.schema.fieldNames.toSet == Set("topic", "value"))
  }
}
