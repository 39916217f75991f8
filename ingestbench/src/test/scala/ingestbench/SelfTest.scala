package ingestbench

/** The benchmark's own tests: generator determinism, and that a planted
  * fault in the output reaches `failed` (so `ok_frac` drops below 1).
  *
  * {{{ python3 ingestbench/run.py --selftest }}}
  * Exits with the number of failed checks.
  */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => e.printStackTrace(); false }
    println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def bytes(xs: Array[String]): Array[Byte] =
    xs.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = Spec.load(opt("spec"))

    spec.workloads.values.toSeq.sortBy(_.name).foreach { full =>
      val w = full.copy(poolEnvelopes = 3000, warmupEnvelopes = 300)
      val a = Gen.inputs(spec, w, 42)
      val b = Gen.inputs(spec, w, 42)
      val c = Gen.inputs(spec, w, 43)
      check(s"${w.name}: the same seed gives byte-identical envelopes") {
        bytes(a.pool).sameElements(bytes(b.pool)) && bytes(a.warmup).sameElements(bytes(b.warmup))
      }
      check(s"${w.name}: another seed gives other envelopes") {
        !bytes(a.pool).sameElements(bytes(c.pool)) && !bytes(a.warmup).sameElements(bytes(c.warmup))
      }
    }

    check("cdc: dim ids repeat within a batch, so last-write-wins collapses writes") {
      val exp = Oracle.expected(Gen.cdcEnvelopes(spec.cdc, 42, Gen.MeasuredSalt, 5000), "cdc", spec)
      val keys = exp.dimKeys.filter(_ != null)
      keys.distinct.length < keys.length / 2
    }

    val outDir = new java.io.File(opt("out-dir"))
    val cores = math.min(Main.Cores, Runtime.getRuntime.availableProcessors)
    val spark = Main.session(cores, outDir)
    try {
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val work = new java.io.File(outDir, s"selftest-${ProcessHandle.current.pid}")
      val runner = new Runner(spark, spec, counters, work, cores)
      val cases = Seq(
        spec.workloads("log_bulk").copy(batchEnvelopes = 1000, poolEnvelopes = 6000, warmupEnvelopes = 500)
          -> Seq("none", "drop", "alter"),
        spec.workloads("log_trickle").copy(poolEnvelopes = 3000, warmupEnvelopes = 300)
          -> Seq("none", "drop"),
        spec.workloads("cdc_mixed").copy(batchEnvelopes = 1000, poolEnvelopes = 6000, warmupEnvelopes = 500)
          -> Seq("none", "alter", "stale_dim"))
      cases.foreach { case (w, faults) =>
        val in = Gen.inputs(spec, w, 7)
        faults.foreach { fault =>
          val r = runner.run(w, in, 2, new Spans(false), fault)
          val failedFrac = r.check.failed.toDouble / r.check.offered
          if (fault == "none")
            check(s"${w.name}: the program's output matches the oracle (failed_frac = $failedFrac)") {
              r.check.offered > 0 && r.check.failed == 0
            }
          else
            check(s"${w.name}: a planted '$fault' fault is caught (failed_frac = $failedFrac)") {
              r.check.failed > 0
            }
        }
      }
      runner.deleteTree(work)
    } finally spark.stop()
    println(s"[selftest] $failures failed")
    sys.exit(failures)
  }
}
