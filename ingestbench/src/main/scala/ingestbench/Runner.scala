package ingestbench

import java.util.concurrent.{ConcurrentLinkedQueue, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import graft.ops.{Cdc, Demux}
import graft.streaming.{CdcPipeline, LogPipeline}

/** Output of one partition of a sink pass. */
final case class PartOut(hashes: Array[Long], topics: Map[String, (Long, Long)], hashNs: Long)

object Sinks {
  /** Consumes every (topic, value) record of a partition in one pass,
    * standing in for the Kafka producer; only the hashing is timed.
    */
  def hashPartition(rows: Iterator[InternalRow]): Iterator[PartOut] = {
    val hashes = Array.newBuilder[Long]
    val topics = mutable.HashMap.empty[String, (Long, Long)]
    var ns = 0L
    rows.foreach { r =>
      val t = System.nanoTime()
      val topic = r.getUTF8String(0)
      val h = RecordHash(topic.getBytes, r.getUTF8String(1).getBytes)
      hashes += h
      val key = topic.toString
      val (n, s) = topics.getOrElse(key, (0L, 0L))
      topics(key) = (n + 1, s + h)
      ns += System.nanoTime() - t
    }
    Iterator(PartOut(hashes.result(), topics.toMap, ns))
  }
}

/** Driver-side timings of one micro-batch, taken by the sinks. */
final class BatchRec(val id: Long, val startNs: Long) {
  var endNs = 0L
  var sinkOwnNs = 0L
  var routing = (0L, 0L)
  var process = (0L, 0L)
  var fact = (0L, 0L)
  var dim = (0L, 0L)
}

/** What the sinks of one query collect. Written from the stream thread,
  * read by the main thread once the query is idle.
  */
final class RunState(val fault: String) {
  @volatile var onBatchStart: () => Unit = () => ()
  var batches = mutable.LinkedHashMap.empty[Long, BatchRec]
  var emitted = mutable.ArrayBuilder.make[Long]
  var topics = mutable.HashMap.empty[String, (Long, Long)]
  var dimStore = mutable.HashMap.empty[String, String]
  var measuring = false
  var faultDone = false
  var staleCandidate: Option[(String, String)] = None

  /** Drops everything collected so far, buffers included. */
  def reset(): Unit = synchronized {
    batches = mutable.LinkedHashMap.empty
    emitted = mutable.ArrayBuilder.make[Long]
    topics = mutable.HashMap.empty
    dimStore = mutable.HashMap.empty
  }

  def begin(batchId: Long): BatchRec = synchronized {
    onBatchStart()
    val b = new BatchRec(batchId, System.nanoTime())
    batches(batchId) = b
    b
  }

  /** Records a sink pass; returns the driver-side bookkeeping time. */
  def absorb(parts: Array[PartOut]): Long = synchronized {
    val t = System.nanoTime()
    parts.foreach { p =>
      var hs = p.hashes
      if (measuring && !faultDone && hs.nonEmpty && (fault == "drop" || fault == "alter")) {
        hs = if (fault == "drop") hs.tail else hs.updated(0, hs(0) ^ 1L)
        faultDone = true
      }
      emitted ++= hs
      p.topics.foreach { case (k, (n, s)) =>
        val (n0, s0) = topics.getOrElse(k, (0L, 0L))
        topics(k) = (n0 + n, s0 + s)
      }
    }
    System.nanoTime() - t + parts.map(_.hashNs).sum
  }

  /** Upserts dim rows into the dim store (the Redis stand-in). */
  def upsert(rows: Array[(String, String)]): Long = synchronized {
    val t = System.nanoTime()
    rows.foreach { case (k, v) =>
      dimStore.get(k).foreach(old => if (old != v && fault == "stale_dim") staleCandidate = Some(k -> old))
      dimStore(k) = v
    }
    System.nanoTime() - t
  }
}

/** Everything one run measured. `setupS` is the query start and its
  * warm-up batch; `heapMb` is the heap in use after forced
  * GCs once the window's traffic has drained, with the query idle and
  * the harness's per-run state (sink buffers, batch records, dim store,
  * progress and listener records) released; `harnessMb` is what that
  * state held.
  */
final case class RunResult(
    setupS: Double,
    e2e: Map[String, Double],
    layers: Map[String, Double],
    check: CheckResult,
    invalid: Option[String],
    report: Seq[String],
    heapMb: Double = 0,
    harnessMb: Double = 0)

/** Every progress event of the session's queries. The query itself keeps
  * only its last 100 (`recentProgress`).
  */
final class ProgressLog extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    all.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID): Seq[StreamingQueryProgress] =
    all.asScala.filter(_.runId == runId).toSeq
  def clear(): Unit = all.clear()
}

object Runner {
  /** Seconds of traffic fed before the window opens: the JIT is still
    * settling for ~20 s, and the window should see the steady state.
    */
  val RampSeconds = 9
  /** Envelopes in each fixed stage-sample batch, and timed repetitions. */
  val SampleEnvelopes = 5000
  val SampleReps = 3

  /** Heap in use after forced GCs, in MB. The pause lets Spark's cleaner
    * drop the broadcast blocks the first collection freed.
    */
  def usedHeapMb(): Double = {
    System.gc(); Thread.sleep(300); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Drives one workload through a pipeline under Structured Streaming:
  * set-up, the timed window, drain, output check.
  */
final class Runner(spark: SparkSession, spec: Spec, counters: Counters,
    workDir: java.io.File, cores: Int) {
  import spark.implicits._

  private val nsPerWallMs = {
    // maps wall-clock ms (progress timestamps) into the nanoTime domain
    val n = System.nanoTime(); val w = System.currentTimeMillis()
    (ms: Long) => n + (ms - w) * 1000000L
  }

  private def loadRouting(): DataFrame =
    (spec.cdc.factTables.map(_ -> "fact") ++ spec.cdc.dimTables.map(_ -> "dim"))
      .toDF("table_name", "kind")

  private def logBatch(st: RunState): (DataFrame, Long) => Unit = { (df, batchId) =>
    val b = st.begin(batchId)
    val parts = df.queryExecution.toRdd.mapPartitions(Sinks.hashPartition).collect()
    b.sinkOwnNs = st.absorb(parts)
    b.endNs = System.nanoTime()
  }

  private def cdcBatch(st: RunState): (DataFrame, Long) => Unit = { (df, batchId) =>
    val b = st.begin(batchId)
    val r0 = System.nanoTime()
    val routing = loadRouting()
    b.routing = (r0, System.nanoTime())
    val factSink = (facts: DataFrame) => {
      val t0 = System.nanoTime()
      val parts = facts.queryExecution.toRdd.mapPartitions(Sinks.hashPartition).collect()
      b.sinkOwnNs += st.absorb(parts)
      b.fact = (t0, System.nanoTime())
    }
    val dimSink = (dims: DataFrame) => {
      val t0 = System.nanoTime()
      val rows = dims.select(col("table"), col("data")("id"), to_json(col("data")))
        .collect().map(r => Oracle.dimKey(r.getString(0), r.getString(1)) -> r.getString(2))
      b.sinkOwnNs += st.upsert(rows)
      b.dim = (t0, System.nanoTime())
    }
    val p0 = System.nanoTime()
    CdcPipeline.processBatch(df, routing, factSink, dimSink)
    b.process = (p0, System.nanoTime())
    b.endNs = b.process._2
  }

  private def start(w: WorkloadSpec, mem: MemoryStream[String], ckpt: String,
      st: RunState): StreamingQuery = {
    val writer =
      if (w.pipeline == "log") LogPipeline.demuxToTopicValue(mem.toDF()).writeStream.foreachBatch(logBatch(st))
      else mem.toDF().writeStream.foreachBatch(cdcBatch(st))
    writer.option("checkpointLocation", ckpt).trigger(Trigger.ProcessingTime(0)).start()
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** One feeder call: envelopes [first, first+count) added to the stream
    * at `endNs`; `readyNs` is when the add was scheduled (open loop) or
    * asked for by a starting batch (closed loop).
    */
  private final case class Add(first: Long, count: Int, readyNs: Long, endNs: Long)

  /** Traffic start, window bounds (nanoTime) and the window on the wall clock. */
  private final case class Window(tStart: Long, t0: Long, t1: Long, wallT0: Long, wallT1: Long)

  def run(w: WorkloadSpec, in: Gen.Inputs, seconds: Int, spans: Spans,
      fault: String = "none"): RunResult = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = new java.io.File(workDir, s"ckpt-${w.name}-${System.nanoTime()}")
    val pool = in.pool
    val st = new RunState(fault)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    var q: StreamingQuery = null
    try {
      // --- set-up: query start + one untimed warm-up batch ---------------
      val s0 = System.nanoTime()
      val mem = MemoryStream[String]
      q = start(w, mem, dir.getPath, st)
      mem.addData(in.warmup.toSeq)
      q.processAllAvailable()
      val setupS = (System.nanoTime() - s0) / 1e9
      val warmBatches = st.synchronized(st.batches.keySet.toSet)
      st.reset()

      // --- timed window -------------------------------------------------
      val adds = mutable.ArrayBuffer.empty[Add]
      val stop = new AtomicBoolean(false)
      val signals = new Semaphore(0)
      def slice(first: Long, n: Int): Seq[String] =
        (0 until n).map(i => pool(((first + i) % pool.length).toInt))
      // traffic starts RampSeconds before the window
      val rampNs = Runner.RampSeconds * 1000000000L
      val wallT0 = System.currentTimeMillis() + rampNs / 1000000L
      val tStart = System.nanoTime()
      val t0 = tStart + rampNs
      val t1 = t0 + seconds * 1000000000L
      val gapNs = if (w.closedLoop) 0.0 else 1e9 / w.rateEps
      st.synchronized { st.measuring = true }
      val feeder = new Thread(() => {
        if (w.closedLoop) {
          var next = 0L
          var ready = System.nanoTime()
          var more = true
          while (more && !stop.get) {
            mem.addData(slice(next, w.batchEnvelopes))
            adds.synchronized { adds += Add(next, w.batchEnvelopes, ready, System.nanoTime()) }
            next += w.batchEnvelopes
            more = false
            while (!more && !stop.get) more = signals.tryAcquire(5, TimeUnit.MILLISECONDS)
            ready = System.nanoTime()
          }
        } else {
          // publishes every add_every_ms, like a producer with a linger:
          // the envelopes due since the previous wake-up go in one add
          val total = ((Runner.RampSeconds + seconds) * w.rateEps).toLong
          var next = 0L
          var wake = tStart
          while (next < total && !stop.get) {
            var now = System.nanoTime()
            while (now < wake) {
              java.util.concurrent.locks.LockSupport.parkNanos(wake - now)
              now = System.nanoTime()
            }
            val due = math.min(total, ((wake - tStart) / gapNs).toLong + 1)
            if (due > next) {
              mem.addData(slice(next, (due - next).toInt))
              adds.synchronized { adds += Add(next, (due - next).toInt, wake, System.nanoTime()) }
              next = due
            }
            wake += w.addEveryMs * 1000000L
          }
        }
      }, "ingestbench-feeder")
      st.onBatchStart = () => signals.release()
      feeder.start()
      while (System.nanoTime() < t1) Thread.sleep(math.max(1L, (t1 - System.nanoTime()) / 1000000L))
      stop.set(true)
      feeder.join()
      val wallT1 = wallT0 + (t1 - t0) / 1000000L

      // --- drain: every offered envelope reaches the sinks --------------
      q.processAllAvailable()
      val lastBatch = st.synchronized(st.batches.keys.maxOption.getOrElse(-1L))
      val deadline = System.nanoTime() + 10000000000L
      while (!progress.of(q.runId).exists(_.batchId >= lastBatch) && System.nanoTime() < deadline)
        Thread.sleep(10)
      st.staleCandidate.foreach { case (k, old) => st.dimStore(k) = old }
      val r = analyse(w, pool, seconds, st, adds.toSeq, progress.of(q.runId), warmBatches,
        Window(tStart, t0, t1, wallT0, wallT1), setupS, spans)

      // --- heap of the idle query, with and without the harness's state --
      val withHarness = Runner.usedHeapMb()
      st.reset(); adds.clear(); progress.clear(); counters.clear()
      val heap = Runner.usedHeapMb()
      r.copy(heapMb = heap, harnessMb = withHarness - heap)
    } finally {
      if (q != null) q.stop()
      spark.streams.removeListener(progress)
      deleteTree(dir)
    }
  }

  /** Latency, throughput, generator accounting, output check and layer
    * metrics of one drained run.
    */
  private def analyse(w: WorkloadSpec, pool: Array[String], seconds: Int, st: RunState,
      adds: Seq[Add], progress: Seq[StreamingQueryProgress], warmBatches: Set[Long],
      win: Window, setupS: Double, spans: Spans): RunResult = {
    import win.{t0, t1, tStart}
    val gapNs = if (w.closedLoop) 0.0 else 1e9 / w.rateEps

    // --- micro-batches of the window ----------------------------------
    val offered = adds.map(_.count.toLong).sum
    final case class Batch(p: StreamingQueryProgress, first: Long, rec: BatchRec)
    val measured = {
      var first = 0L
      progress.filter(p => !warmBatches(p.batchId) && p.numInputRows > 0)
        .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)
        .flatMap { p =>
          val b = st.batches.get(p.batchId).map(rec => Batch(p, first, rec))
          first += p.numInputRows
          b
        }
    }
    val inWindow = measured.filter(b => b.rec.endNs >= t0 && b.rec.endNs < t1)
    val addsSorted = adds.sortBy(_.first).toArray
    val addFirsts = addsSorted.map(_.first)
    def enqueuedNs(i: Long): Long = {
      val k = java.util.Arrays.binarySearch(addFirsts, i)
      addsSorted(if (k >= 0) k else -k - 2).endNs
    }
    val latencies = mutable.ArrayBuffer.empty[Double]
    val latBatches = mutable.Set.empty[Long]
    measured.foreach { b =>
      var i = b.first
      while (i < b.first + b.p.numInputRows) {
        val sentNs = if (w.closedLoop) enqueuedNs(i) else tStart + (i * gapNs).toLong
        val counts =
          if (w.closedLoop) b.rec.endNs >= t0 && b.rec.endNs < t1 else sentNs >= t0 && sentNs < t1
        if (counts) { latencies += (b.rec.endNs - sentNs) / 1e6; latBatches += b.p.batchId }
        i += 1
      }
    }
    // rows committed after the window's first commit, over the time to its last
    val throughput =
      if (inWindow.size >= 2)
        inWindow.tail.map(_.p.numInputRows).sum * 1e9 / (inWindow.last.rec.endNs - inWindow.head.rec.endNs)
      else inWindow.map(_.p.numInputRows).sum * 1e9 / (t1 - t0)

    // --- generator accounting -------------------------------------------
    val lags = adds.filter(a => a.readyNs >= t0 && a.readyNs < t1).map(a => (a.endNs - a.readyNs) / 1e6)
    val samples = (0L to seconds * 10L).map(k => t0 + k * 100000000L)
    val backlog = samples.map { s =>
      adds.filter(_.endNs <= s).map(_.count.toLong).sum -
        measured.filter(_.rec.endNs <= s).map(_.p.numInputRows).sum
    }
    val slope = Stats.slope(samples.map(s => (s - t0) / 1e9), backlog.map(_.toDouble))
    val lagP90 = Stats.percentile(lags, 0.9)
    val invalid =
      if (w.closedLoop) None
      else if (lagP90 > 50) Some(f"generator ran late: lag p90 $lagP90%.1f ms")
      else if (slope > 0.1 * w.rateEps) Some(f"backlog grows by $slope%.0f envelopes/s")
      else None

    // --- output check -----------------------------------------------------
    val exp = Oracle.expected(pool.take(math.min(offered, pool.length.toLong).toInt), w.pipeline, spec, cores)
    val check = Check(exp, offered, st.emitted.result(), st.topics.toMap,
      if (w.pipeline == "cdc") Some(st.dimStore) else None)

    // --- layer metrics ------------------------------------------------------
    org.apache.spark.IngestBenchBridge.drainListeners(spark.sparkContext)
    def p50(f: Batch => Double): Double = Stats.median(inWindow.map(f))
    def dur(key: String)(b: Batch): Double =
      Option(b.p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)
    def ms(span: (Long, Long)): Double = (span._2 - span._1) / 1e6
    val pipe = if (w.pipeline == "log") "log_pipeline" else "cdc_pipeline"
    val engine = Map(
      s"$pipe.trigger_ms_p50" -> p50(dur("triggerExecution")),
      s"$pipe.query_planning_ms_p50" -> p50(dur("queryPlanning")),
      s"$pipe.add_batch_ms_p50" -> p50(dur("addBatch")),
      s"$pipe.wal_commit_ms_p50" -> p50(dur("walCommit")),
      s"$pipe.commit_offsets_ms_p50" -> p50(dur("commitOffsets")),
      s"$pipe.rows_per_batch_p50" -> p50(_.p.numInputRows.toDouble))
    val cdcOnly =
      if (w.pipeline != "cdc") Map.empty[String, Double]
      else Map(
        "cdc_pipeline.process_batch_ms_p50" -> p50(b => ms(b.rec.process)),
        "cdc_pipeline.routing_load_ms_p50" -> p50(b => ms(b.rec.routing)),
        "cdc_pipeline.fact_sink_ms_p50" -> p50(b => ms(b.rec.fact)),
        "cdc_pipeline.dim_sink_ms_p50" -> p50(b => ms(b.rec.dim)),
        "cdc_pipeline.dim_store_keys" -> st.dimStore.size.toDouble)
    val layers = engine ++ cdcOnly ++ counters.window(win.wallT0, win.wallT1, inWindow.size, cores) ++ Map(
      "gen.lag_ms_p90" -> lagP90,
      "gen.backlog_slope_eps" -> slope,
      "sink.ms_p50" -> p50(_.rec.sinkOwnNs / 1e6),
      "baseline.single_thread_eps" -> exp.singleThreadEps)
    val e2e = Map(
      "throughput_eps" -> throughput,
      "latency_p50_ms" -> Stats.percentile(latencies, 0.5),
      "latency_p90_ms" -> Stats.percentile(latencies, 0.9))

    if (spans.enabled) {
      adds.foreach(a => spans.add("gen.add", a.readyNs, a.endNs))
      measured.foreach { b =>
        val ts = nsPerWallMs(java.time.Instant.parse(b.p.timestamp).toEpochMilli)
        val id = b.p.batchId
        val trig = spans.add("trigger", ts, ts + (dur("triggerExecution")(b) * 1e6).toLong,
          batch = id, derived = true)
        var at = ts
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .filter(k => b.p.durationMs.containsKey(k)).foreach { k =>
            val end = at + (dur(k)(b) * 1e6).toLong
            val sid = spans.add(k, at, end, trig, id, derived = true)
            if (k == "addBatch") {
              val fb = spans.add("foreach_batch", b.rec.startNs, b.rec.endNs, sid, id)
              if (w.pipeline == "cdc") {
                spans.add("routing_load", b.rec.routing._1, b.rec.routing._2, fb, id)
                val pb = spans.add("process_batch", b.rec.process._1, b.rec.process._2, fb, id)
                spans.add("fact_sink", b.rec.fact._1, b.rec.fact._2, pb, id)
                spans.add("dim_sink", b.rec.dim._1, b.rec.dim._2, pb, id)
              }
            }
            at = end
          }
      }
    }

    val report = Seq(
      f"[ingestbench] ${w.name}: offered=$offered batches_in_window=${inWindow.size} " +
        f"latency_samples=${latencies.size} envelopes / ${latBatches.size} batches " +
        f"cores=$cores window_s=$seconds",
      f"[ingestbench] ${w.name}: oracle failed=${check.failed} (missing-envelopes=${check.failedEnvelopes} " +
        f"extra-records=${check.extraRecords} dim-wrong=${check.dimWrong}) oracle_thread_s=${exp.threadSeconds}%.2f",
      s"[ingestbench] ${w.name}: topics expected=${check.expectedTopics.toSeq.sorted.map { case (k, (n, _)) => s"$k:$n" }.mkString(",")}" +
        s" emitted=${check.actualTopics.toSeq.sorted.map { case (k, (n, _)) => s"$k:$n" }.mkString(",")}" +
        s" checksums_equal=${check.expectedTopics == check.actualTopics}",
      s"[ingestbench] ${w.name}: engine p50 ms " + Seq("latestOffset", "walCommit", "getBatch",
        "queryPlanning", "addBatch", "commitOffsets", "triggerExecution")
        .map(k => f"$k=${p50(dur(k))}%.1f").mkString(" ") + f" rows=${p50(_.p.numInputRows.toDouble)}%.0f")
    RunResult(setupS, e2e, layers, check, invalid, report)
  }

  private def timeNoop(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e3
  }

  /** Stage self times over fixed one-partition sample batches: the
    * parent function's time minus its child's, per input envelope.
    */
  def stageSamples(logSample: Array[String], cdcSample: Array[String],
      spans: Spans): Map[String, Double] = {
    def raw(xs: Array[String]) = spark.sparkContext.parallelize(xs.toSeq, 1).toDF("value")
    def timed(name: String, df: => DataFrame): Double = Stats.median((1 to Runner.SampleReps).map { _ =>
      val s = System.nanoTime()
      val us = timeNoop(df)
      spans.add(name, s, System.nanoTime())
      us
    })
    val lr = raw(logSample)
    val nl = logSample.length.toDouble
    val dParse = timed("stage.demux.parse", Demux.parse(lr))
    val dAll = timed("stage.demux.topic_values", LogPipeline.demuxToTopicValue(lr))
    val dOut = LogPipeline.demuxToTopicValue(lr).count()

    val cr = raw(cdcSample)
    val nc = cdcSample.length.toDouble
    val routing = loadRouting()
    def parsed = Cdc.parse(cr).withColumn("__seq", monotonically_increasing_id())
    def routed(kind: String) = Cdc.routeMatching(Cdc.normalizeOps(parsed), routing, kind)
    def lww = Cdc.lastWriteWins(routed("dim"),
      keys = Seq(col("table"), col("data")("id")), order = Seq(col("__seq")))
    val cParse = timed("stage.cdc.parse", parsed)
    val cRoute = timed("stage.cdc.route", routed("dim"))
    val cLww = timed("stage.cdc.lww", lww)
    val dimIn = routed("dim").count().toDouble
    val factIn = routed("fact").count().toDouble
    Map(
      "demux.parse_us_per_event" -> dParse / nl,
      "demux.topic_values_us_per_event" -> (dAll - dParse) / nl,
      "demux.out_per_in" -> dOut / nl,
      "cdc.parse_us_per_event" -> cParse / nc,
      "cdc.route_us_per_event" -> (cRoute - cParse) / nc,
      "cdc.lww_us_per_event" -> (cLww - cRoute) / nc,
      "cdc.routed_frac" -> (dimIn + factIn) / nc,
      "cdc.lww_keep_ratio" -> lww.count() / dimIn)
  }
}
