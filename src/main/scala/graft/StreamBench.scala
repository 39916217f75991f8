package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Streaming-throughput micro-benchmarks for the stateful and gating
  * pipelines (ingest/semantic/quality gates, materialized view and the
  * keyed monitors): each surface feeds MemoryStream micro-batches,
  * times them after one warm-up batch, and appends one JSON line per
  * metric to `SPARK_GRAFT_STREAMBENCH_OUT`. The log demux and CDC
  * pipelines are measured by `ingestbench/` instead (latency and an
  * output oracle included). Run manually:
  * `tools/run_class.sh graft.StreamBench`.
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    implicit val sqlCtx = spark.sqlContext
    // every surface appends its line: start the artifact empty
    val out = new java.io.File(sys.env.getOrElse(
      "SPARK_GRAFT_STREAMBENCH_OUT", "target/streambench.json"))
    Option(out.getParentFile).foreach(_.mkdirs())
    java.nio.file.Files.writeString(out.toPath, "")

    // First surface: the streaming ingestion gate (exact hash gate +
    // near-dup signature gate vs an accumulating seen store) — docs/s
    // through IngestPipeline micro-batches, store growing as it runs.
    // Docs stream in deterministic doc_id order, quartered into
    // batches; the first (unmeasured) batch warms codegen and seeds
    // the store so the timed batches pay realistic state sizes.
    // SPARK_GRAFT_STREAM_SCALE=k clones the corpus k× (unique ids, a
    // per-clone text salt so clones are NOT exact dups and the gates
    // do full work) — the amortization sweep the r9 verdict asked
    // for: per-doc rate at 1.2k-doc batches vs 25k+-doc batches,
    // isolating the fixed per-micro-batch planning term.
    val scale = sys.env.getOrElse("SPARK_GRAFT_STREAM_SCALE", "1").toInt
    val baseDocs = Tables.documents(spark, sfDir)
      .select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val docs = (0 until scale).flatMap { c =>
      baseDocs.map { case (id, t) =>
        (id + c.toLong * 100000000L, if (c == 0) t else t + " #c" + c) }
    }.sortBy(_._1).toArray
    val perDocBatch = docs.length / 4
    val docsIn = MemoryStream[(Long, String)]
    val store = new streaming.IngestPipeline.MemoryStore(spark)
    var admitted = 0L
    val gate = streaming.IngestPipeline.start(
      docsIn.toDF().toDF("doc_id", "text"), store,
      df => admitted += df.count(),
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-ingest-bench").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      docsIn.addData(docs.take(perDocBatch))
      gate.processAllAvailable()
      val t0 = System.nanoTime()
      var i = perDocBatch
      var timed = 0
      while (i < docs.length) {
        docsIn.addData(docs.slice(i, i + perDocBatch))
        gate.processAllAvailable()
        i += perDocBatch
        timed += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val n = docs.length - perDocBatch
      val line2 =
        s"""{"metric":"ingest_gate_docs_per_sec","value":${(n / dt).toLong},""" +
          s""""docs":$n,"admitted":$admitted,"seconds":$dt,"batches":$timed,"scale":$scale,"sf":"$sfDir"}"""
      println(line2)
      java.nio.file.Files.writeString(out.toPath, line2 + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } finally gate.stop()

    // Bloom-gate surface: the memory-BOUNDED streaming pre-dedup
    // (bit store capped at mBits rows vs the exact gate's
    // per-doc-hash state) — same docs, same warm-batch protocol, so
    // the two gate lines are directly comparable in one artifact.
    {
      val bloomIn = MemoryStream[(Long, String)]
      val bstore = new streaming.BloomGate.MemoryStore(spark)
      var badmitted = 0L
      val bgate = streaming.BloomGate.start(
        bloomIn.toDF().toDF("doc_id", "text"), bstore,
        df => badmitted += df.count(),
        checkpoint = java.nio.file.Files
          .createTempDirectory("graft-bloom-bench").toString,
        mBits = 1 << 18,
        trigger =
          org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      try {
        bloomIn.addData(docs.take(perDocBatch))
        bgate.processAllAvailable()
        val t0 = System.nanoTime()
        var i = perDocBatch
        var timed = 0
        while (i < docs.length) {
          bloomIn.addData(docs.slice(i, i + perDocBatch))
          bgate.processAllAvailable()
          i += perDocBatch
          timed += 1
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = docs.length - perDocBatch
        val lineB =
          s"""{"metric":"bloom_gate_docs_per_sec","value":${(n / dt).toLong},""" +
            s""""docs":$n,"admitted":$badmitted,"seconds":$dt,"batches":$timed,"m_bits":${1 << 18},"scale":$scale,"sf":"$sfDir"}"""
        println(lineB)
        java.nio.file.Files.writeString(out.toPath, lineB + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally bgate.stop()
    }

    // Second surface: the streaming SEMANTIC ingestion gate —
    // vectors/s through SemanticIngestPipeline micro-batches against
    // the accumulating unit-vector artifact store (offline metadata
    // assignment: list = stored label, the deployment form without a
    // quantizer in the loop). Same warm-batch protocol as the others.
    val baseVecs = Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding", "label")
      .collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).toArray, r.getInt(2)))
    // clones rotate the embedding by c dims: cheap, deterministic,
    // norm-preserving, and far from the original in cosine — so the
    // scaled gate admits them and the artifact store keeps growing
    // (the realistic state-size regime), instead of rejecting every
    // clone as an exact semantic dup.
    val vecs = (0 until scale).flatMap { c =>
      baseVecs.map { case (id, e, lab) =>
        val r = c % math.max(1, e.length)
        (id + c.toLong * 100000000L, e.drop(r) ++ e.take(r), lab) }
    }.sortBy(_._1).toArray
    val perVecBatch = vecs.length / 4
    val vecsIn = MemoryStream[(Long, Array[Float], Int)]
    // ParquetStore, not MemoryStore: the bench must sample the
    // at-scale deployment form — a list_id-partitioned parquet seen
    // store whose probe reads only the batch's lists
    // (PartitionFilters at the scan; witnessed below in the JSON)
    val semStore = new streaming.SemanticIngestPipeline.ParquetStore(
      spark, java.nio.file.Files
        .createTempDirectory("graft-semingest-store").toString)
    var semAdmitted = 0L
    val semGate = streaming.SemanticIngestPipeline.start(
      vecsIn.toDF().toDF("vec_id", "embedding", "list_id"),
      semStore, identity,
      df => semAdmitted += df.count(),
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-semingest-bench").toString,
      threshold = 0.6,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      vecsIn.addData(vecs.take(perVecBatch).toSeq)
      semGate.processAllAvailable()
      val t0 = System.nanoTime()
      var i = perVecBatch
      var timed = 0
      while (i < vecs.length) {
        vecsIn.addData(vecs.slice(i, i + perVecBatch).toSeq)
        semGate.processAllAvailable()
        i += perVecBatch
        timed += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val n = vecs.length - perVecBatch
      // witness the layout claim: a single-list probe of the store
      // the run just built must carry a PartitionFilters entry (the
      // same predicate shape processBatch's isin pruning produces)
      val probePlan = semStore.sigs
        .filter(col("list_id").isin(0))
        .queryExecution.executedPlan.toString
      val partitionFiltered = probePlan.contains("PartitionFilters") &&
        probePlan.contains("list_id")
      val line3 =
        s"""{"metric":"semantic_gate_vecs_per_sec","value":${(n / dt).toLong},""" +
          s""""vecs":$n,"admitted":$semAdmitted,"seconds":$dt,"batches":$timed,""" +
          s""""store":"parquet_list_id","partition_filtered":$partitionFiltered,""" +
          s""""scale":$scale,"sf":"$sfDir"}"""
      println(line3)
      java.nio.file.Files.writeString(out.toPath, line3 + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } finally semGate.stop()

    // Third surface: the streaming batch-level QUALITY gate — docs/s
    // through QualityGatePipeline micro-batches (one-pass assertion
    // suite per batch, batch-level admit/quarantine). The suite here
    // mirrors the registered q_quality_assertions shape: completeness
    // + key uniqueness + a bound. Reuses the ingest-gate's scaled doc
    // stream; same warm-batch protocol.
    val qgChecks = Seq(
      ops.Audit.Completeness("text", 1.0),
      ops.Audit.Uniqueness(Seq("doc_id"), 1.0),
      ops.Audit.MinBound("n_chars", 0.0))
    val qgIn = MemoryStream[(Long, String)]
    var qgAdmitted = 0L
    var qgRejected = 0L
    val qgate = streaming.QualityGatePipeline.start(
      qgIn.toDF().toDF("doc_id", "text")
        .withColumn("n_chars",
          org.apache.spark.sql.functions.length(
            org.apache.spark.sql.functions.col("text"))),
      qgChecks,
      df => qgAdmitted += df.count(),
      (df, _) => qgRejected += df.count(),
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-qgate-bench").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      qgIn.addData(docs.take(perDocBatch))
      qgate.processAllAvailable()
      val t0 = System.nanoTime()
      var i = perDocBatch
      var timed = 0
      while (i < docs.length) {
        qgIn.addData(docs.slice(i, i + perDocBatch))
        qgate.processAllAvailable()
        i += perDocBatch
        timed += 1
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val n = docs.length - perDocBatch
      val line4 =
        s"""{"metric":"quality_gate_docs_per_sec","value":${(n / dt).toLong},""" +
          s""""docs":$n,"admitted":$qgAdmitted,"rejected":$qgRejected,"seconds":$dt,"batches":$timed,"scale":$scale,"sf":"$sfDir"}"""
      println(line4)
      java.nio.file.Files.writeString(out.toPath, line4 + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } finally qgate.stop()

    // Fourth surface: the continuously-maintained materialized view —
    // CDC delta rows/s through MaterializedViewPipeline micro-batches
    // (per batch: stored-view read + exact-decimal merge + versioned
    // replace). Synthetic delta stream: inserts keyed over a bounded
    // key domain with periodic updates/deletes, so the view stays
    // key-domain-sized while every batch exercises all three op
    // paths.
    val mvIn = MemoryStream[(String, String, Double, Option[Double])]
    val mvStore = new streaming.MaterializedViewPipeline
      .MemoryViewStore(spark)
    val mvQ = streaming.MaterializedViewPipeline.start(
      mvIn.toDF().toDF("key", "op", "v", "old_v"), mvStore,
      checkpoint = java.nio.file.Files
        .createTempDirectory("graft-mv-bench").toString,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      val perMvBatch = 2000 * scale
      val nMvBatches = 4
      def mvBatch(b: Int): Seq[(String, String, Double, Option[Double])] =
        (0 until perMvBatch).map { i =>
          val k = s"k${(b * 31 + i) % 500}"
          val v = ((i % 997) + 1) / 4.0
          (i % 10) match {
            case 0 if b > 0 => (k, "D", v, None)
            case 1 if b > 0 => (k, "U", v, Some(v / 2))
            case _          => (k, "I", v, None)
          }
        }
      mvIn.addData(mvBatch(0)) // warm batch
      mvQ.processAllAvailable()
      val t0 = System.nanoTime()
      (1 to nMvBatches).foreach { b =>
        mvIn.addData(mvBatch(b))
        mvQ.processAllAvailable()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val n = perMvBatch.toLong * nMvBatches
      val line5 =
        s"""{"metric":"mv_maintenance_deltas_per_sec","value":${(n / dt).toLong},""" +
          s""""deltas":$n,"view_rows":${mvStore.view.count()},"seconds":$dt,"batches":$nMvBatches,"scale":$scale,"sf":"$sfDir"}"""
      println(line5)
      java.nio.file.Files.writeString(out.toPath, line5 + "\n",
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
    } finally mvQ.stop()

    // Fifth surface: the per-feed CUSUM monitor — bucket rows/s
    // through the keyed flatMapGroupsWithState recurrence. Synthetic
    // stream: a bounded feed domain (state stays feed-sized) with
    // monotone per-feed buckets and a planted shift on one feed so
    // the alarm path executes.
    {
      implicit val s = spark
      val cuIn = MemoryStream[streaming.CusumMonitor.Bucket]
      val cuQ = streaming.CusumMonitor
        .monitor(cuIn.toDS(), meanX = 100L)
        .writeStream.format("noop").outputMode("append").start()
      try {
        val feeds = 200
        val perBatch = 5000 * scale
        val nCuBatches = 4
        def cuBatch(b: Int): Seq[streaming.CusumMonitor.Bucket] =
          (0 until perBatch).map { i =>
            val f = i % feeds
            val x = if (f == 0) 500L else 100L + (i % 7) - 3
            streaming.CusumMonitor.Bucket(
              s"f$f", (b.toLong * perBatch + i) / feeds, x)
          }
        cuIn.addData(cuBatch(0)) // warm batch
        cuQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nCuBatches).foreach { b =>
          cuIn.addData(cuBatch(b))
          cuQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nCuBatches
        val line6 =
          s"""{"metric":"cusum_monitor_buckets_per_sec","value":${(n / dt).toLong},""" +
            s""""buckets":$n,"feeds":$feeds,"seconds":$dt,"batches":$nCuBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line6)
        java.nio.file.Files.writeString(out.toPath, line6 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally cuQ.stop()
    }

    // Sixth surface: the per-feed freshness-decay monitor — day
    // rows/s through the one-long-of-state halving recurrence.
    // Bounded feed domain, monotone per-feed days, mixed gaps so the
    // shift path executes.
    {
      implicit val s = spark
      val dcIn = MemoryStream[streaming.DecayMonitor.DayCount]
      val dcQ = streaming.DecayMonitor.monitor(dcIn.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val feeds = 200
        val perBatch = 5000 * scale
        val nDcBatches = 4
        def dcBatch(b: Int): Seq[streaming.DecayMonitor.DayCount] =
          (0 until perBatch).map { i =>
            val f = i % feeds
            streaming.DecayMonitor.DayCount(
              s"f$f", (b.toLong * perBatch + i) / feeds,
              10L + (i % 5))
          }
        dcIn.addData(dcBatch(0)) // warm batch
        dcQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nDcBatches).foreach { b =>
          dcIn.addData(dcBatch(b))
          dcQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nDcBatches
        val line7 =
          s"""{"metric":"decay_monitor_days_per_sec","value":${(n / dt).toLong},""" +
            s""""days":$n,"feeds":$feeds,"seconds":$dt,"batches":$nDcBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line7)
        java.nio.file.Files.writeString(out.toPath, line7 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally dcQ.stop()
    }

    // Seventh surface: the CDC hot-key monitor — RAW change rows/s
    // through the per-key decayed-mass recurrence (the continuous
    // form of Cdc.hotKeys). Zipf-ish skewed key draw over a bounded
    // domain (key 0 absorbs ~20% of the feed — the write-bottleneck
    // shape the monitor exists to surface), one day per batch so the
    // halving path executes every micro-batch.
    {
      implicit val s = spark
      val hkIn = MemoryStream[streaming.HotKeyMonitor.Change]
      val hkQ = streaming.HotKeyMonitor.monitor(hkIn.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val keys = 500
        val perBatch = 5000 * scale
        val nHkBatches = 4
        def hkBatch(b: Int): Seq[streaming.HotKeyMonitor.Change] =
          (0 until perBatch).map { i =>
            // every 5th row hits key 0; the rest spread uniformly
            // (residue in Long: i*7919 overflows Int past scale ~55,
            // which would flip residues negative and reshape the
            // intended distribution)
            val k = if (i % 5 == 0) 0
              else 1 + (i.toLong * 7919L % (keys - 1)).toInt
            streaming.HotKeyMonitor.Change(s"k$k", b.toLong)
          }
        hkIn.addData(hkBatch(0)) // warm batch
        hkQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nHkBatches).foreach { b =>
          hkIn.addData(hkBatch(b))
          hkQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nHkBatches
        val line8 =
          s"""{"metric":"hotkey_monitor_changes_per_sec","value":${(n / dt).toLong},""" +
            s""""changes":$n,"keys":$keys,"seconds":$dt,"batches":$nHkBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line8)
        java.nio.file.Files.writeString(out.toPath, line8 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally hkQ.stop()
    }

    // Eighth surface: the CDC sequence-gap monitor — raw id rows/s
    // through the per-table island fold (the continuous form of
    // Cdc.sequenceGaps). The feed is the realistic binlog shape the
    // state bound relies on: mostly-contiguous ids per table with a
    // planted hole every 97 ids, so islands accumulate but stay far
    // under the cap while every batch exercises extend+open+profile.
    {
      implicit val s = spark
      val sgIn = MemoryStream[streaming.SeqGapMonitor.IdRow]
      val sgQ = streaming.SeqGapMonitor.monitor(sgIn.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val tables = 8
        val perBatch = 5000 * scale
        val nSgBatches = 4
        def sgBatch(b: Int): Seq[streaming.SeqGapMonitor.IdRow] =
          (0 until perBatch).map { i =>
            val t = i % tables
            val seq = (b.toLong * perBatch + i) / tables
            // plant a 1-id hole at every 97th position: ids advance
            // by 2 across each boundary, so each table accumulates
            // one real island per 97-run (hundreds at scale 20 —
            // exercising the island fold without tripping the cap)
            val id = seq + seq / 97
            streaming.SeqGapMonitor.IdRow(s"t$t", id)
          }
        sgIn.addData(sgBatch(0)) // warm batch
        sgQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nSgBatches).foreach { b =>
          sgIn.addData(sgBatch(b))
          sgQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nSgBatches
        val line9 =
          s"""{"metric":"seqgap_monitor_ids_per_sec","value":${(n / dt).toLong},""" +
            s""""ids":$n,"tables":$tables,"seconds":$dt,"batches":$nSgBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line9)
        java.nio.file.Files.writeString(out.toPath, line9 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally sgQ.stop()
    }

    // Ninth surface: the incremental replica-checksum monitor — raw
    // change rows/s through the per-bucket (count, Σhash mod 2⁶¹−1)
    // fold (the continuous form of Cdc.checksumDiff's replica side).
    // Deterministic I/U/D mix (8:1:1) over a 64-bucket fingerprint
    // domain; hashes are synthetic 60-bit values (the monitor folds
    // longs — md5 computation is the FEED's cost, not the state op's).
    {
      implicit val s = spark
      val ckIn = MemoryStream[streaming.ChecksumMonitor.Delta]
      val ckQ = streaming.ChecksumMonitor.monitor(ckIn.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val buckets = 64
        val perBatch = 5000 * scale
        val nCkBatches = 4
        def ckBatch(b: Int): Seq[streaming.ChecksumMonitor.Delta] =
          (0 until perBatch).map { i =>
            val g = (b.toLong * perBatch + i)
            val h = (g * 6364136223846793005L) >>> 4 // 60-bit-ish
            val op = if (i % 10 == 8) "U" else if (i % 10 == 9) "D"
              else "I"
            streaming.ChecksumMonitor.Delta(
              (i % buckets).toLong, op, h, h ^ 0x5555555555555L)
          }
        ckIn.addData(ckBatch(0)) // warm batch
        ckQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nCkBatches).foreach { b =>
          ckIn.addData(ckBatch(b))
          ckQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nCkBatches
        val line10 =
          s"""{"metric":"checksum_monitor_changes_per_sec","value":${(n / dt).toLong},""" +
            s""""changes":$n,"buckets":$buckets,"seconds":$dt,"batches":$nCkBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line10)
        java.nio.file.Files.writeString(out.toPath, line10 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally ckQ.stop()
    }

    // Tenth surface: the Holt–Winters forecast monitor — closed
    // daily counts/s through the per-type fixed-point smoothing fold
    // (the continuous form of Audit.holtWintersBacktest). Many types
    // × few days per batch is the realistic shape: the fold cost is
    // per (type, day) row, so the feed is 2500·scale types × 4 days
    // per batch with a deterministic weekly-seasonal count profile.
    {
      implicit val s = spark
      val fcIn = MemoryStream[streaming.ForecastMonitor.DayCount]
      val fcQ = streaming.ForecastMonitor.monitor(fcIn.toDS())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val types = 2500 * scale
        val daysPerBatch = 4
        val nFcBatches = 4
        def fcBatch(b: Int): Seq[streaming.ForecastMonitor.DayCount] =
          (0 until types).flatMap { t =>
            (0 until daysPerBatch).map { j =>
              val d = (b * daysPerBatch + j).toLong
              // weekly rhythm + per-type offset, deterministic
              val n = 50L + (d % 7) * 10L + (t % 13).toLong
              streaming.ForecastMonitor.DayCount(s"t$t", d, n)
            }
          }
        fcIn.addData(fcBatch(0)) // warm batch (seeds weekday slots)
        fcQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nFcBatches).foreach { b =>
          fcIn.addData(fcBatch(b))
          fcQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = types.toLong * daysPerBatch * nFcBatches
        val line11 =
          s"""{"metric":"forecast_monitor_days_per_sec","value":${(n / dt).toLong},""" +
            s""""day_rows":$n,"types":$types,"seconds":$dt,"batches":$nFcBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line11)
        java.nio.file.Files.writeString(out.toPath, line11 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally fcQ.stop()
    }

    // Eleventh surface: the Western-Electric phase-II monitor —
    // closed daily counts/s through the per-type frozen-baseline
    // rule evaluation (the continuous form of
    // Audit.westernElectricRules). Same many-types × few-days shape
    // as the forecast surface; the per-row cost is the BigInt sigma
    // comparisons plus the 7-entry ring fold.
    {
      implicit val s = spark
      val weIn = MemoryStream[streaming.WeRulesMonitor.Day]
      val types = 2500 * scale
      // frozen baseline per type: mean 80, mild spread
      val weBaseline = (0 until types).map { t =>
        val xs = (0 until 14).map(d => 50L + (d % 7) * 10L + (t % 13))
        (s"t$t", (xs.size.toLong, xs.sum,
          xs.map(x => x * x).sum))
      }.toMap
      val weQ = streaming.WeRulesMonitor.monitor(weIn.toDS(), weBaseline)
        .writeStream.format("noop").outputMode("append").start()
      try {
        val daysPerBatch = 4
        val nWeBatches = 4
        def weBatch(b: Int): Seq[streaming.WeRulesMonitor.Day] =
          (0 until types).flatMap { t =>
            (0 until daysPerBatch).map { j =>
              val d = (b * daysPerBatch + j).toLong
              val n = 50L + (d % 7) * 10L + (t % 13).toLong +
                (if (d % 11 == 10) 40L else 0L) // occasional spike
              streaming.WeRulesMonitor.Day(s"t$t", d, n)
            }
          }
        weIn.addData(weBatch(0)) // warm batch (fills the ring)
        weQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nWeBatches).foreach { b =>
          weIn.addData(weBatch(b))
          weQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = types.toLong * daysPerBatch * nWeBatches
        val line12 =
          s"""{"metric":"we_rules_monitor_days_per_sec","value":${(n / dt).toLong},""" +
            s""""day_rows":$n,"types":$types,"seconds":$dt,"batches":$nWeBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line12)
        java.nio.file.Files.writeString(out.toPath, line12 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally weQ.stop()
    }

    // Twelfth surface: the duplicate-delivery monitor — raw
    // envelope lines/s through the per-table (value-hash → copies)
    // fold (the continuous form of Cdc.dupDeliveryProfile; the
    // reference producer is acks=1 with idempotence off, so
    // at-least-once duplicates are its intrinsic failure mode).
    // Realistic ingest mix: ~10% of lines are redeliveries of an
    // earlier line in the same table; distinct lines stay under the
    // tracking cap so the profile is exact throughout.
    {
      implicit val s = spark
      val ddIn = MemoryStream[String]
      val ddQ = streaming.DupDeliveryMonitor.monitor(ddIn.toDF())
        .writeStream.format("noop").outputMode("append").start()
      try {
        val tables = 8
        val perBatch = 5000 * scale
        val nDdBatches = 4
        def ddBatch(b: Int): Seq[String] =
          (0 until perBatch).map { i =>
            val t = i % tables
            val g = b.toLong * perBatch + i
            // every 10th line replays the line 72 slots back: 72 ≡ 0
            // (mod 8) keeps the table, 72 ≢ 0 (mod 10) makes the
            // target a FRESH line, so the replay reproduces its
            // string exactly — dups land both within and across
            // micro-batches (72 < perBatch)
            val src = if (i % 10 == 9 && g >= 72) g - 72 else g
            s"""{"table":"t$t","data":{"id":$src,"v":${src % 97}}}"""
          }
        ddIn.addData(ddBatch(0)) // warm batch
        ddQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nDdBatches).foreach { b =>
          ddIn.addData(ddBatch(b))
          ddQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nDdBatches
        val line13 =
          s"""{"metric":"dup_delivery_monitor_lines_per_sec","value":${(n / dt).toLong},""" +
            s""""lines":$n,"tables":$tables,"seconds":$dt,"batches":$nDdBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line13)
        java.nio.file.Files.writeString(out.toPath, line13 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally ddQ.stop()
    }

    // Thirteenth surface: gap sessionization — raw events/s through
    // the per-user event-time session fold (flatMapGroupsWithState
    // with EventTimeTimeout; the reference's DWD session surface run
    // as keyed state). Each micro-batch advances event time a full
    // minute against a 30 s gap + 10 s watermark delay, so every
    // batch closes the previous batch's sessions (state churns —
    // open, extend, close, timer re-arm all exercised) while
    // within-batch events chain into one session per user.
    {
      implicit val s = spark
      val szIn = MemoryStream[streaming.Sessionize.Event]
      val szQ = streaming.Sessionize.sessionize(szIn.toDS(), 30000L)
        .writeStream.format("noop").outputMode("append").start()
      try {
        val users = 1000 * scale
        val perUser = 5
        val perBatch = users * perUser
        val nSzBatches = 4
        def szBatch(b: Int): Seq[streaming.Sessionize.Event] =
          (0 until users).flatMap { u =>
            (0 until perUser).map { i =>
              streaming.Sessionize.Event(u.toLong,
                b.toLong * 60000L + i * 1000L, (u % 7).toDouble)
            }
          }
        szIn.addData(szBatch(0)) // warm batch
        szQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nSzBatches).foreach { b =>
          szIn.addData(szBatch(b))
          szQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nSzBatches
        val line14 =
          s"""{"metric":"sessionize_events_per_sec","value":${(n / dt).toLong},""" +
            s""""events":$n,"users":$users,"seconds":$dt,"batches":$nSzBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line14)
        java.nio.file.Files.writeString(out.toPath, line14 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally szQ.stop()
    }

    // Fourteenth surface: per-key token-bucket rate limiting — raw
    // events/s through the keyed window/used fold (the admission
    // guard a multi-tenant ingest front-end runs per producer).
    // Each batch lands 10 events per user in a 5-event-capacity
    // window, so both admit and reject paths run every batch, and
    // batches advance one full window so state rolls over.
    {
      implicit val s = spark
      val rlIn = MemoryStream[streaming.RateLimit.Event]
      val rlQ = streaming.RateLimit
        .rateLimit(rlIn.toDS(), capacity = 5, windowMs = 60000L)
        .writeStream.format("noop").outputMode("append").start()
      try {
        val users = 1000 * scale
        val perUser = 10
        val perBatch = users * perUser
        val nRlBatches = 4
        def rlBatch(b: Int): Seq[streaming.RateLimit.Event] =
          (0 until users).flatMap { u =>
            (0 until perUser).map { i =>
              streaming.RateLimit.Event(u.toLong,
                b.toLong * 60000L + i * 100L, (i % 3).toDouble)
            }
          }
        rlIn.addData(rlBatch(0)) // warm batch
        rlQ.processAllAvailable()
        val t0 = System.nanoTime()
        (1 to nRlBatches).foreach { b =>
          rlIn.addData(rlBatch(b))
          rlQ.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val n = perBatch.toLong * nRlBatches
        val line15 =
          s"""{"metric":"rate_limit_events_per_sec","value":${(n / dt).toLong},""" +
            s""""events":$n,"users":$users,"seconds":$dt,"batches":$nRlBatches,"scale":$scale,"sf":"$sfDir"}"""
        println(line15)
        java.nio.file.Files.writeString(out.toPath, line15 + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)

        // Split paths (r17 verdict #4): the reject path skips the
        // state mutation, so it is the CHEAP one — a blended rate can
        // mask an admit-path regression. Admit phase: capacity-exact
        // batches in fresh windows (every event admitted). Reject
        // phase: a window filled to capacity outside the timed
        // region, then replayed batches inside it (every event
        // rejected). Windows 10+ and 20 sit past the blended phase's
        // 0..4 so the watermark never marks them late.
        val nSplit = 4
        def admitBatch(b: Int): Seq[streaming.RateLimit.Event] =
          (0 until users).flatMap { u =>
            (0 until 5).map { i =>
              streaming.RateLimit.Event(u.toLong,
                (10L + b) * 60000L + i * 100L, (i % 3).toDouble)
            }
          }
        val ta0 = System.nanoTime()
        (0 until nSplit).foreach { b =>
          rlIn.addData(admitBatch(b))
          rlQ.processAllAvailable()
        }
        val admitDt = (System.nanoTime() - ta0) / 1e9
        val nAdmit = users.toLong * 5 * nSplit
        rlIn.addData((0 until users).flatMap { u =>
          (0 until 5).map { i =>
            streaming.RateLimit.Event(u.toLong,
              20L * 60000L + i * 100L, (i % 3).toDouble)
          }
        })
        rlQ.processAllAvailable()
        def rejectBatch(b: Int): Seq[streaming.RateLimit.Event] =
          (0 until users).flatMap { u =>
            (0 until perUser).map { i =>
              streaming.RateLimit.Event(u.toLong,
                20L * 60000L + 1000L + b * 100L + i, (i % 3).toDouble)
            }
          }
        val tr0 = System.nanoTime()
        (0 until nSplit).foreach { b =>
          rlIn.addData(rejectBatch(b))
          rlQ.processAllAvailable()
        }
        val rejectDt = (System.nanoTime() - tr0) / 1e9
        val nReject = users.toLong * perUser * nSplit
        val line15a =
          s"""{"metric":"rate_limit_admit_events_per_sec","value":${(nAdmit / admitDt).toLong},""" +
            s""""events":$nAdmit,"users":$users,"seconds":$admitDt,"batches":$nSplit,"scale":$scale,"sf":"$sfDir"}"""
        val line15b =
          s"""{"metric":"rate_limit_reject_events_per_sec","value":${(nReject / rejectDt).toLong},""" +
            s""""events":$nReject,"users":$users,"seconds":$rejectDt,"batches":$nSplit,"scale":$scale,"sf":"$sfDir"}"""
        println(line15a)
        println(line15b)
        java.nio.file.Files.writeString(out.toPath,
          line15a + "\n" + line15b + "\n",
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.APPEND)
      } finally rlQ.stop()
    }
    spark.stop()
  }
}
