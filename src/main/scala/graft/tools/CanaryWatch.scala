package graft.tools

/** Time-series observation of the box canary — the diagnostic the round-18
  * re-stamp hunt was missing. The r17/r18 refusal streaks presented a
  * contradiction the point-in-time instruments could not resolve: the gate
  * canary ([[BoxCanary.measure]], a 32-wide codegen'd range-sum) read
  * 0.19–0.31 s against the 0.142 s quiet pin while, seconds later, the
  * steal column read 0–2% of provoked demand and spinning threads were
  * scheduled 100% of wall time. Scheduling metrics say "quiet"; the
  * calibrated workload says "60% slow". The remaining suspects — host
  * clock/turbo reduction and co-tenant occupation of SMT sibling threads —
  * degrade per-CYCLE throughput, which no /proc/stat column and no
  * cpu-share probe can see; only a calibrated work-rate probe can. This
  * tool IS that probe, run as a series: one warm pass, then N rounds of
  * (canary measure, steal probe, loadavg) printed one line per round, so
  * an operator (or the committed artifact of a later post-mortem) can see
  * whether the slowdown is steady (clock/SMT-degraded box — wait, the
  * retry loop cannot help), bursty (transient co-tenant bursts — the
  * retry loop will eventually land), or absent (the earlier readings were
  * JVM-warmup artifacts and the gates can run now).
  *
  * Usage: sbt 'runMain graft.tools.CanaryWatch [rounds] [gapMs]'
  * Cost: one local[32] session + rounds×(~0.5 s canary + ~0.5 s probe).
  */
object CanaryWatch {

  def main(args: Array[String]): Unit = {
    val rounds = args.headOption.flatMap(_.toIntOption).getOrElse(12)
    val gapMs = if (args.length > 1) args(1).toLong else 4000L
    val cpus = graft.Sessions.gateCpus
    val bound = BoxCanary.boundFromArtifact(cpus, sys.env.get("SPARK_GRAFT_CANARY_BOUND"))
    val spark = graft.Sessions.local(cpus)
    try {
      BoxCanary.measure(spark) // warm the range/codegen path once, as the gates do
      println(f"[canarywatch] bound $bound%.3f s; $rounds rounds, gap ${gapMs}ms")
      (1 to rounds).foreach { i =>
        val c = BoxCanary.measure(spark)
        val p = StealProbe.probe()
        val load = CalibrateCanary.readLoad()
        val mark = if (c > bound) "OVER" else "ok"
        println(f"[canarywatch] $i%3d canary $c%.3f s  steal " +
          p.stealFrac.map(s => f"$s%.3f").getOrElse("  n/a") +
          f"  share ${p.cpuShare}%.2f  load " +
          load.map(l => f"$l%.2f").getOrElse(" n/a") + s"  $mark")
        Thread.sleep(gapMs)
      }
    } finally spark.stop()
  }
}
