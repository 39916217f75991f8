package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{CdcPipeline, LogPipeline}

/** Streaming-semantics tests (SURVEY §5 item 4): MemoryStream →
  * identical pipelines → processAllAvailable, plus checkpoint
  * restarts and the watermarked stream-stream interval join.
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

  test("stream-stream interval join attributes within the horizon only") {
    implicit val sqlCtx = spark.sqlContext
    def ts(s: Long) = new java.sql.Timestamp(1_000_000_000L + s * 1000L)
    val views = MemoryStream[(Long, Long, java.sql.Timestamp)]
    val actions = MemoryStream[(Long, Long, java.sql.Timestamp)]
    def named(m: MemoryStream[(Long, Long, java.sql.Timestamp)]) =
      m.toDF().toDF("user_id", "event_id", "ts")
    val q = graft.ops.Relational
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
