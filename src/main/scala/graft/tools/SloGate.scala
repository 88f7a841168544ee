package graft.tools

/** The latency-SLO REGRESSION GATE — the [[ScaleGate]] discipline applied
  * to the one pipeline property the query board never measures: per-wave
  * file-visible → queryable-warehouse-row commit latency under sustained
  * offered load. Round 13 measured it once (sub-second p99 across the
  * reference's whole published 300–500k rows/s band) and published a
  * README number; a regression in micro-batch commit latency (a new
  * per-batch listing cost, a checkpoint fsync amplification) would have
  * survived until the next hand run. This makes the SLO a failing
  * command: re-measure every tier pinned in `SLO_BOUNDS.json` via
  * [[StreamIngestBench.measureLatencyTier]] and exit nonzero when any
  * tier's p99 exceeds its committed bound.
  *
  * Usage: `sbt "runMain graft.tools.SloGate [boundsPath]"`
  *   default boundsPath: SLO_BOUNDS.json. Run EXCLUSIVELY — a concurrent
  *   sbt/Spark JVM steals publisher cadence and inflates tail latencies.
  *
  * Bounds are p99 per offered-load tier, generous vs the measured idle
  * band (≈1.0 s p99 measured, 1.5 s bound): the gate exists to catch a
  * REGRESSION CLASS (per-batch costs that scale with accumulated state —
  * source-dir census, seen-files bookkeeping, warehouse listings), not to
  * re-litigate scheduler jitter. Each tier's source tree is SEEDED with
  * ~600 already-ingested files before the timed waves precisely so that
  * class registers at measurement scale instead of vanishing against a
  * fresh empty dir (see [[StreamIngestBench.measureLatencyTier]]). The
  * verdict logic ([[violations]]) is pure and spec-tested; the
  * measurement is this main.
  */
object SloGate {

  /** Parsed SLO_BOUNDS.json: waves/cadence shared across tiers, a p99
    * bound (ms) per offered rows/s tier.
    */
  case class Bounds(waves: Int, intervalMs: Long, p99MsByRps: Map[Long, Double])

  /** Hand-parsed (no JSON lib on the zero-egress classpath) — flat
    * {"waves":n,"interval_ms":n,"p99_ms":{"<rps>":ms,...}}; strict about
    * all three fields so a typo'd artifact fails loudly, not vacuously.
    */
  def parseBounds(json: String): Bounds = {
    def num(field: String): Long = (s""""$field"\\s*:\\s*([0-9]+)""").r
      .findFirstMatchIn(json).map(_.group(1).toLong)
      .getOrElse(throw new IllegalArgumentException(s"SLO_BOUNDS.json: no $field"))
    val block = """"p99_ms"\s*:\s*\{([^}]*)\}""".r.findFirstMatchIn(json)
      .map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("SLO_BOUNDS.json: no p99_ms"))
    val tiers = """"([0-9]+)"\s*:\s*([0-9.]+)""".r.findAllMatchIn(block)
      .map(m => m.group(1).toLong -> m.group(2).toDouble).toMap
    if (tiers.isEmpty)
      throw new IllegalArgumentException("SLO_BOUNDS.json: empty p99_ms")
    val b = Bounds(num("waves").toInt, num("interval_ms"), tiers)
    // waves=0 would crash DEEP in measurement (lats.max on an empty
    // sample, after the stream already ran) and interval_ms=0 publishes
    // with no cadence at all — reject a typo'd artifact at parse time,
    // matching the "strict about all three fields" contract above
    if (b.waves <= 0 || b.intervalMs <= 0)
      throw new IllegalArgumentException(
        s"SLO_BOUNDS.json: waves (${b.waves}) and interval_ms " +
          s"(${b.intervalMs}) must be positive")
    b
  }

  /** The verdict: tiers whose measured p99 exceeds the committed bound.
    * Pure — spec-tested with synthetic results. A measured tier with no
    * bound is a coverage bug, not a pass: flag it too, so the gate cannot
    * silently measure nothing.
    */
  def violations(results: Seq[StreamIngestBench.LatencyResult],
      b: Bounds): Seq[(StreamIngestBench.LatencyResult, String)] =
    results.flatMap { r =>
      b.p99MsByRps.get(r.offeredRps) match {
        case None => Some((r, s"tier ${r.offeredRps} rows/s has no committed bound"))
        case Some(bound) if r.p99 > bound =>
          Some((r, f"p99=${r.p99}%.0f ms > bound=$bound%.0f ms"))
        case _ => None
      }
    }

  def main(args: Array[String]): Unit = {
    val boundsPath = args.headOption.getOrElse("SLO_BOUNDS.json")
    val bounds = parseBounds(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(boundsPath)), "UTF-8"))
    val cpus = graft.Sessions.gateCpus
    val spark = graft.Sessions.local(cpus, StreamIngestBench.IngestSplits: _*)
    // a loaded box ABORTS here (distinct verdict, one cooldown retry)
    // instead of recording a phantom p99 regression; the quiet canary is
    // printed with the verdict so the artifact carries its box evidence.
    // The END canary + steal probe close this gate's mid-run blind spot
    // (the r16 bench lesson, re-learned here live in r18): a steal wave
    // arriving AFTER the preamble contaminated the later tiers of a run
    // whose start canary read 0.133 quiet — 300k p99 2199 ms and the 1M
    // knee at 24501 ms (ingest path untouched since the 1196 ms r15
    // stamp), with provoked steal measuring 7.3% minutes later. Tiers
    // run sequentially, so the damage grows monotonically through the
    // run — exactly what a start-only canary cannot see.
    val (canary, results, endCanary, endProbe, windowSteal) =
      try {
        val c = BoxCanary.requireQuiet(spark, "slogate")
        val s0 = StealProbe.sample()
        val rs = bounds.p99MsByRps.keys.toSeq.sorted.map { rps =>
          StreamIngestBench.measureLatencyTier(spark, rps,
            bounds.waves, bounds.intervalMs)
        }
        // cumulative steal across the WHOLE tier window: a wave that
        // ends before the end probe is invisible to point samples but
        // fully accrued here (the tiers demand cpu throughout, so
        // steal-of-demand over the window is well-defined)
        val s1 = StealProbe.sample()
        val w = for { a <- s0; b <- s1; f <- StealProbe.stealFraction(a, b) } yield f
        (c, rs, BoxCanary.measure(spark), StealProbe.probe(), w)
      } finally spark.stop()
    println(f"[slogate] box canary $canary%.3f s (quiet)")
    val bad = violations(results, bounds)
    val badRps = bad.map(_._1.offeredRps).toSet
    results.foreach { r =>
      val bound = bounds.p99MsByRps(r.offeredRps)
      val mark = if (badRps(r.offeredRps)) "VIOLATION" else "ok"
      println(f"[slogate] ${r.offeredRps}%8d rows/s  p50=${r.p50}%5.0f p95=${r.p95}%5.0f " +
        f"p99=${r.p99}%5.0f max=${r.maxMs}%5.0f ms  bound=$bound%5.0f  $mark")
    }
    val endBound = BoxCanary.boundFromArtifact(cpus,
      sys.env.get("SPARK_GRAFT_CANARY_BOUND"))
    println(f"[slogate] end canary $endCanary%.3f s (bound $endBound%.3f); steal " +
      endProbe.stealFrac.map(s => f"$s%.3f").getOrElse("n/a") +
      f", cpu share ${endProbe.cpuShare}%.2f; window steal " +
      windowSteal.map(s => f"$s%.3f").getOrElse("n/a"))
    if (bad.nonEmpty) {
      // adjudicate before reporting a regression: violations measured on
      // a box whose END evidence OR whole-window steal accrual shows
      // contention are box noise, and the "box loaded" phrasing routes
      // gate_loop to retry instead of stop. Zero window steal + quiet
      // end canary + violations = a REAL failure worth investigating
      // (e.g. co-tenant disk I/O, which no cpu instrument can see).
      val contended = BoxCanary.verdict(endCanary, endBound)
        .orElse(StealProbe.verdict(endProbe))
        .orElse(windowSteal.filter(_ > 0.05).map(s =>
          f"cumulative steal ${s * 100}%.0f%% of demand across the tier window " +
            "(wave ended before the end probe)"))
      contended.filterNot(_ =>
        sys.env.get("SPARK_GRAFT_FORCE_GATE").contains("1")).foreach { w =>
        throw new RuntimeException(
          s"slogate ABORTED (box loaded, NOT a regression): load arrived " +
            s"mid-run after a quiet start canary — $w — tier violations " +
            s"(${bad.map(_._1.offeredRps).mkString(", ")} rows/s) are box " +
            "noise; re-run exclusively on a quiet box")
      }
      throw new RuntimeException("slo gate FAILED: " +
        bad.map { case (r, why) => s"${r.offeredRps} rows/s: $why" }.mkString("; "))
    }
    println(s"[slogate] PASS: ${results.size} tiers within p99 bounds " +
      s"(${bounds.waves} waves @ ${bounds.intervalMs} ms)")
  }
}
