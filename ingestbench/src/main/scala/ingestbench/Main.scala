package ingestbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry: one workload, one seed, one timed window.
  *
  * {{{
  * Main --workload NAME --seed N --seconds S --trace 0|1
  *      --spec ingestbench/spec.json --out-dir DIR --result FILE
  * }}}
  * Prints a human report on stdout and writes the result object to
  * `--result`. `--trace 0` reports the end-to-end metrics; `--trace 1`
  * the per-layer metrics, and writes the span file to `--out-dir`.
  * BENCHMARK.json names the metrics and units that run.py passes on.
  * Exits 3 when the open-loop generator could not keep its schedule
  * (the run measured the generator, not the program).
  */
object Main {
  /** Spark runs at local[min(Cores, nproc)]. */
  val Cores = 4
  /** Seconds a traced run drives the pipeline its workload does not use. */
  val ProbeSeconds = 3

  def session(cores: Int, outDir: java.io.File): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("ingestbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new java.io.File(outDir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new java.io.File(outDir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The result object, metric values only; run.py adds the units. */
  def resultJson(correct: Boolean, attempted: Long, failed: Long,
      metrics: Map[String, Double]): String = {
    val vs = metrics.toSeq.sorted.map { case (k, v) => s""""$k": ${java.lang.Double.toString(v)}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "values": {${vs.mkString(", ")}}}"""
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = Spec.load(opt("spec"))
    val w = spec.workloads.getOrElse(opt("workload"),
      sys.error(s"unknown workload ${opt("workload")}; known: ${spec.workloads.keys.mkString(", ")}"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val traced = opt("trace") == "1"
    val outDir = new java.io.File(opt("out-dir"))
    val cores = math.min(Cores, Runtime.getRuntime.availableProcessors)

    val spark = session(cores, outDir)
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    val g0 = System.nanoTime()
    val inputs = Gen.inputs(spec, w, seed)
    val genS = (System.nanoTime() - g0) / 1e9
    // heap of the session and the inputs, before any query starts
    val baselineMb = Runner.usedHeapMb()
    val spans = new Spans(traced)
    val work = new java.io.File(outDir, s"work-${ProcessHandle.current.pid}")
    val runner = new Runner(spark, spec, counters, work, cores)
    try {
      val r = runner.run(w, inputs, seconds, spans)
      r.report.foreach(println)
      val setupS = sessionS + genS + r.setupS
      println(f"[ingestbench] ${w.name}: setup session_s=$sessionS%.3f gen_s=$genS%.3f " +
        f"query_s=${r.setupS}%.3f")
      println(f"[ingestbench] ${w.name}: heap_mb ${r.heapMb}%.1f in use - $baselineMb%.1f before " +
        f"the first query; the harness's per-run state held ${r.harnessMb}%.1f more")
      r.invalid.foreach { why =>
        System.err.println(s"[ingestbench] ${w.name}: run invalid, not reported: $why")
        sys.exit(3)
      }
      val e2e = r.e2e ++ Map(
        "ok_frac" -> (1.0 - r.check.failed.toDouble / r.check.offered),
        "heap_mb" -> (r.heapMb - baselineMb),
        "setup_s" -> setupS)
      val metrics =
        if (!traced) e2e
        else {
          // the other pipeline's workload whose layers the layer map names
          val other = spec.workloads(if (w.pipeline == "log") "cdc_mixed" else "log_trickle")
          val probeW = other.copy(poolEnvelopes = math.min(other.poolEnvelopes, 60000))
          val probe = runner.run(probeW, Gen.inputs(spec, probeW, seed), ProbeSeconds,
            new Spans(false))
          probe.report.foreach(l => println(l.replace("[ingestbench]", "[ingestbench probe]")))
          require(probe.check.failed == 0, s"probe of ${other.name} failed its output check")
          val otherPipe = if (other.pipeline == "log") "log_pipeline." else "cdc_pipeline."
          val stages = runner.stageSamples(
            Gen.logEnvelopes(spec.log, seed, Gen.SampleSalt, Runner.SampleEnvelopes),
            Gen.cdcEnvelopes(spec.cdc, seed, Gen.SampleSalt, Runner.SampleEnvelopes), spans)
          val all = r.layers ++ probe.layers.filter(_._1.startsWith(otherPipe)) ++ stages ++ Map(
            "trace.throughput_eps" -> r.e2e("throughput_eps"),
            "trace.latency_p50_ms" -> r.e2e("latency_p50_ms"))
          val spanFile = new java.io.File(outDir, s"spans-${w.name}-seed$seed.json")
          spans.write(spanFile, Map("workload" -> w.name, "seed" -> seed.toString))
          println(s"[ingestbench] spans written to ${spanFile.getPath}")
          all
        }
      val line = resultJson(r.check.failed == 0, r.check.offered, r.check.failed, metrics)
      java.nio.file.Files.writeString(new java.io.File(opt("result")).toPath, line + "\n")
    } finally {
      spark.stop()
      runner.deleteTree(work)
    }
  }
}
