package graft.tools

import org.apache.spark.sql.SparkSession

/** The bench noise-canary discipline applied to the REGRESSION GATES
  * themselves. Round 15 demonstrated the gap live: a SloGate run started
  * right after the 14-minute test suite (box load average still >1) read
  * the 500k tier at p99 2530 ms vs 1283 ms quiet — the gate correctly
  * exited nonzero, but nothing in the output distinguished "box was
  * loaded" from "per-batch commit cost regressed", which is exactly the
  * judge-isolation cycle the bench canary was built to end. Gates now run
  * the same deterministic CPU probe FIRST: a loaded box gets one cooldown
  * retry, then ABORTS with a box-loaded verdict instead of recording a
  * phantom regression, and a quiet box's canary value is printed with the
  * gate's verdict lines so the artifact carries its own box evidence.
  *
  * [[measure]] is the exact canary job `graft.Bench` times before/after
  * the board (extracted here so the two are one implementation, not
  * copy-twins), which is why the 0.14 s local[32] idle pin transfers.
  */
object BoxCanary {

  /** One run of the canary job: fixed, deterministic, CPU-bound (no I/O,
    * no data dependence) — its wall time IS the box's effective speed.
    */
  def once(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 200_000_000L, 1, 32)
      .selectExpr("sum((id % 1000003) * 31) as s").write // bounded: no ANSI overflow
      .format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** One canary measurement: min-of-3 of [[once]], because the canary
    * itself must be load-robust. Callers warm the range/codegen path
    * with [[warmUntil]] (or at least one discarded call) before the
    * first measured one.
    */
  def measure(spark: SparkSession): Double = (1 to 3).map(_ => once(spark)).min

  /** Cold-start warm-up (r18): run warm passes until one reads under
    * `bound` — the box has DEMONSTRATED it can hit quiet speed — or
    * `maxPasses` exhaust. The single discarded warm pass the gates used
    * through r17 was not always enough: a CanaryWatch series on a
    * certified-quiet box (steal 0.000, spinner cpu-share 1.00
    * throughout) measured the canary decaying 0.217 → 0.100 s across
    * ~45 s of fresh-JVM uptime, so a gate preamble measuring min-of-3
    * right after one warm pass read a COLD JVM/clock as a loaded box —
    * three ScaleGate aborts in a row on a box every contention
    * instrument called quiet (the r17 18-abort streak likely mixed
    * genuine steal windows with this same artifact). This phase cannot
    * loosen anything: the bound is untouched and the subsequent measured
    * min-of-3 must still beat it — a genuinely loaded box never produces
    * an under-bound warm pass and aborts exactly as before, just
    * `maxPasses-1` runs (~2 s) later. Returns the pass count (artifact
    * evidence: 1 = was already warm). The injected runner overload is
    * the pure-testable core — spec-fed with the measured decay series in
    * Round18OpsSpec.
    */
  def warmUntil(bound: Double, maxPasses: Int)(run: () => Double): Int = {
    var i = 1
    var t = run()
    while (t > bound && i < maxPasses) { t = run(); i += 1 }
    i
  }

  /** Live warm-up. The `pauseMs` between passes is load-bearing, found
    * the hard way: a back-to-back warm loop (maxPasses=15, no pause)
    * capped out at 0.149–0.165 s on a box whose settled canary reads
    * 0.10, because the canary saturates all 32 cores and STARVES the C2
    * background compiler threads doing the maturing — the CanaryWatch
    * series that settled to 0.10 in ~45 s had ~3 s gaps between
    * measures. ~60 passes × (~0.2 s pass + 0.3 s pause) ≈ a 30 s budget,
    * which covers the measured settle time; a quiet warm box still exits
    * on pass 1 with no pause paid.
    */
  def warmUntil(spark: SparkSession, bound: Double, maxPasses: Int = 60,
      pauseMs: Long = 300): Int =
    warmUntil(bound, maxPasses) { () =>
      val t = once(spark)
      if (t > bound && pauseMs > 0) Thread.sleep(pauseMs)
      t
    }

  /** Last-resort base bound when no calibration artifact exists and no env
    * override is set: the original hand pin for THIS box's local[32]
    * profile. [[CalibrateCanary]] replaces it with a measured, committed,
    * re-stampable figure in [[ArtifactPath]] — the hand constant survives
    * only as the staleness fallback so a deleted/garbled artifact degrades
    * to round-15 behavior instead of disabling the gates.
    */
  val FallbackBound = 0.14

  /** The committed calibration artifact (repo root — gates and bench run
    * with cwd there, the same convention BENCH_FULL.json rides).
    */
  val ArtifactPath = "CANARY_BOUNDS.json"

  /** Parse a calibration artifact's pinned bound: positive finite
    * `bound_s`, else None (a garbled artifact must fall back, never throw
    * inside a gate preamble). Pure — spec-tested.
    */
  def parseCalibration(json: String): Option[Double] =
    """"bound_s"\s*:\s*([0-9.eE+-]+)""".r.findFirstMatchIn(json)
      .flatMap(_.group(1).toDoubleOption)
      .filter(b => b > 0 && java.lang.Double.isFinite(b))

  /** The base (local[32]) quiet bound: the committed calibration when it
    * parses, [[FallbackBound]] otherwise. Pure in the artifact content —
    * spec-tested on good/garbled/missing inputs.
    */
  def calibratedBase(artifact: Option[String]): Double =
    artifact.flatMap(parseCalibration).getOrElse(FallbackBound)

  private def readArtifact(): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(ArtifactPath)), "UTF-8"))
    catch { case _: Throwable => None }

  /** The quiet-box bound: `base` s pinned for local[32] (the committed
    * calibration via [[boundFromArtifact]], or [[FallbackBound]]); the
    * canary has 32 partitions, so smaller-cpu profiles slow ~linearly in
    * 32/cpus and the factor clamps at 1 above 32 cores (the job cannot
    * run faster than the pin). Non-numeric cpus (the local[*] builder
    * path) falls back to 32. `overrideBound` (SPARK_GRAFT_CANARY_BOUND)
    * re-pins profiles where the linear model is off. Pure — spec-tested.
    */
  def quietBound(cpus: String, overrideBound: Option[String],
      base: Double = FallbackBound): Double =
    overrideBound.map(_.toDouble)
      .getOrElse(base * math.max(1.0, 32.0 / cpus.toIntOption.getOrElse(32)))

  /** [[quietBound]] with the base read from the committed calibration
    * artifact — the entry point every gate preamble and the bench use.
    */
  def boundFromArtifact(cpus: String, overrideBound: Option[String]): Double =
    quietBound(cpus, overrideBound, calibratedBase(readArtifact()))

  /** Pure verdict: Some(reason) when the box must be treated as loaded. */
  def verdict(canary: Double, bound: Double): Option[String] =
    if (canary > bound)
      Some(f"box canary $canary%.3f s > quiet bound $bound%.3f s — box is loaded")
    else None

  /** Gate preamble: measure (after [[warmUntil]] warm passes — see its
    * scaladoc for the cold-start artifact that made one warm pass
    * insufficient), retry once after a cooldown if loaded, ABORT with a
    * distinct box-loaded error if still loaded — so a gate failure
    * always means a regression, never contention. Returns the quiet
    * canary seconds for the artifact line. SPARK_GRAFT_FORCE_GATE=1 runs
    * anyway (deliberate loaded-box diagnostics);
    * SPARK_GRAFT_CANARY_COOLDOWN_S tunes the retry (0 disables it).
    */
  def requireQuiet(spark: SparkSession, tool: String): Double = {
    val bound = boundFromArtifact(graft.Sessions.gateCpus,
      sys.env.get("SPARK_GRAFT_CANARY_BOUND"))
    val warmed = warmUntil(spark, bound)
    if (warmed > 1)
      System.err.println(s"[$tool] canary warm-up took $warmed passes " +
        "(cold JVM/clock — see BoxCanary.warmUntil)")
    var c = measure(spark)
    verdict(c, bound).foreach { why =>
      val cool = sys.env.get("SPARK_GRAFT_CANARY_COOLDOWN_S")
        .flatMap(_.toIntOption).getOrElse(60)
      if (cool > 0) {
        System.err.println(s"[$tool] $why; cooling down $cool s, re-measuring once")
        Thread.sleep(cool * 1000L)
        warmUntil(spark, bound, maxPasses = 20) // the cooldown idles clocks back down
        c = measure(spark)
      }
      verdict(c, bound).filterNot(_ =>
        sys.env.get("SPARK_GRAFT_FORCE_GATE").contains("1")).foreach { w =>
        // name the contention MODE in the abort: r17 burned eighteen gate
        // attempts before hand-measurement pinned the slowdown on
        // hypervisor steal the load average cannot see — the direct probe
        // makes that adjudication part of the abort itself
        val p = StealProbe.probe()
        val mode = StealProbe.verdict(p).getOrElse(
          f"probe quiet now (steal ${p.stealFrac.map(s => f"${s * 100}%.0f%%")
            .getOrElse("n/a")}, cpu share ${p.cpuShare * 100}%.0f%%) — " +
            "contention was transient; retry soon")
        throw new RuntimeException(
          s"$tool ABORTED (box loaded, NOT a regression): $w — $mode — re-run " +
            "exclusively on a quiet box; SPARK_GRAFT_FORCE_GATE=1 forces")
      }
    }
    c
  }
}
