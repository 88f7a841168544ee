package perfbench

import java.io.File
import scala.io.Source

/** The benchmark JVM: one workload, one seed, one run.
  *
  * Phases, in order: generate inputs (timed, reported as `gen_s`); set up
  * [[SetupReps]] times on a fresh session each time, after a full GC so
  * that no repetition pays for the one before, reporting the median as
  * `setup_s`; warm up (reported as `warmup_s`); measure for `--seconds`;
  * check outputs; print report lines and, last, the JSON result. With
  * `--trace 1` the result carries the per-layer metrics instead of the
  * end-to-end ones, named and given units by the `per_layer` list of
  * `BENCHMARK.json`. The exit code is 0 only when every check held.
  */
object Main {
  /** The first set-up starts a cold JVM and is the slowest, and the warm
    * ones still get faster as the JIT compiles the set-up path; with eleven
    * the median falls past most of that decline.
    */
  val SetupReps = 11

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: File, data: File, spec: File, capture: Option[File])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m.getOrElse("seed", "1").toLong, m.getOrElse("seconds", "10").toInt,
      m.getOrElse("trace", "0") == "1", new File(m("work")), new File(m("data")),
      new File(m("spec")), m.get("capture-fingerprints").map(new File(_)))
  }

  private def workload(o: Opts, ctx: Ctx): Workload = o.workload match {
    case "daily_drip" => new DailyDrip(ctx)
    case "query_board" => new QueryBoard(ctx, o.capture)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The `per_layer` metrics of `BENCHMARK.json`: name and unit, in order. */
  def perLayer(spec: File): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(spec).get("per_layer")
      .elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** `VmHWM` of this JVM: the peak resident set, in MiB. */
  def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  private def uptimeS(): Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def loadAvg1m(): Double = {
    val src = Source.fromFile("/proc/loadavg")
    try src.mkString.split("\\s+")(0).toDouble finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code =
      try run(o)
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${o.workload} failed: $e")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val loadAvg = loadAvg1m()
    val cpus = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(o.trace, s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(o.seed, o.seconds, o.work, o.data, cpus, tracer, new StreamWatch)
    val w = workload(o, ctx)
    val box = Seq("workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds,
      "trace" -> (if (o.trace) 1 else 0), "nproc" -> cpus, "master" -> s"local[$cpus]",
      "xmx" -> sys.props.getOrElse("perfbench.heap", "default"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20), "loadavg_1m" -> loadAvg,
      "jvm_start_s" -> uptimeS())
    println("box " + Json.obj(box))
    try {
      var t0 = System.nanoTime()
      w.generate()
      val genS = secondsSince(t0)
      val setups = (1 to SetupReps).map { rep =>
        if (ctx.spark != null) ctx.spark.stop()
        // the stopped session's garbage and shutdown threads settle
        // before the clock starts
        System.gc()
        Thread.sleep(100)
        t0 = System.nanoTime()
        BenchSession.start(ctx)
        w.setup()
        val s = secondsSince(t0)
        if (rep < SetupReps) w.undoSetup()
        s
      }
      t0 = System.nanoTime()
      w.warmup()
      val warmS = secondsSince(t0)
      val m = w.measure(System.nanoTime() + o.seconds * 1000000000L)
      val checks = w.verify()
      // no completed operation is a failure the checks report; keep going
      // so the result line still says so
      val ops = Sample(if (m.opsMs.isEmpty) IndexedSeq(Double.NaN) else m.opsMs)
      val rss = peakRssMb()
      val layers =
        if (!o.trace) Map.empty[String, Double]
        else {
          org.apache.spark.BenchBus.drain(ctx.spark.sparkContext)
          tracer.closeStreams()
          Layers.common(tracer) ++ w.layers() ++
            Map("trace.op_p50_ms" -> ops.median, "bench.peak_rss_mb" -> rss)
        }
      println("detail " + Json.obj(Seq("jvm_uptime_s" -> uptimeS(), "gen_s" -> genS,
        "setup_reps_s" -> setups.map(x => f"$x%.3f").mkString("[", ",", "]"),
        "warmup_s" -> warmS, "ops" -> ops.n,
        "first_ops_ms" -> m.opsMs.take(12).map(x => f"$x%.0f").mkString("[", ",", "]"),
        "op_p50_ms" -> ops.median, "op_p90_ms" -> ops.pct(90),
        "throughput" -> m.units / m.busyS,
        "peak_rss_mb" -> rss) ++ m.detail))
      if (o.trace) {
        val all = tracer.all
        val self = Tracer.selfMs(all)
        val origin = all.headOption.map(_.startNs).getOrElse(0L)
        all.foreach { s =>
          val fields = Seq[(String, Any)]("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "run_id" -> s.runId,
            "start_ms" -> (s.startNs - origin) / 1e6, "ms" -> s.ms, "self_ms" -> self(s.id)) ++
            s.counters.toSeq.sortBy(_._1)
          println("span " + Json.obj(fields))
        }
      }
      checks.foreach(c => println("check " + Json.obj(Seq(
        "name" -> c.name, "ok" -> c.ok, "detail" -> c.detail))))
      val correct = checks.forall(_.ok) && m.failed == 0
      val metrics: Seq[(String, (Double, String))] =
        if (o.trace) {
          val spec = perLayer(o.spec)
          val unlisted = layers.keySet -- spec.map(_._1)
          require(unlisted.isEmpty,
            s"per-layer metrics missing from BENCHMARK.json: ${unlisted.toSeq.sorted.mkString(",")}")
          // a layer this workload does not reach reports 0
          spec.map { case (n, u) => n -> (layers.getOrElse(n, 0.0), u) }
        } else Seq(
          "setup_s" -> (Sample(setups).median, "s"),
          "op_p50_ms" -> (ops.median, "ms"),
          "throughput" -> (m.units / m.busyS, "1/s"))
      println(Json.result(correct, m.attempted, m.failed + checks.count(!_.ok), metrics))
      if (correct) 0 else 1
    } finally {
      try w.close() finally if (ctx.spark != null) ctx.spark.stop()
    }
  }
}

/** Just enough JSON for the report lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  def value(v: Any): String = v match {
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case other => str(other.toString)
  }

  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")

  def result(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (n, (v, u)) =>
      s"${str(n)}: {${str("value")}: ${num(v)}, ${str("unit")}: ${str(u)}}"
    }.mkString("{", ", ", "}")
    s"""{"correct": $correct, "attempted": ${math.max(attempted, 1L)}, "failed": $failed, "metrics": $ms}"""
  }
}
