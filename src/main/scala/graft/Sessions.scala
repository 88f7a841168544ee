package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built and its core count picked.
  * Every entry point, dev tool and gate starts here: hand-copied builder
  * blocks could — and did — drift (one lacked the parquet-nanos flag; the
  * app ran without the engine's optimizer rules). Callers pass only the
  * settings that are truly theirs as `conf` pairs.
  */
object Sessions {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpusOr(default: => String): String =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", default)

  /** Core count of the entry points and dev tools: the box. */
  def cpus: String = cpusOr(Runtime.getRuntime.availableProcessors.toString)

  /** Default core count of the gate mains (SloGate, ScaleBench/ScaleGate,
    * BoxCanary/CalibrateCanary/CanaryWatch): their committed bounds were
    * captured at local[32], so they keep that profile until the bounds are
    * keyed by core count.
    */
  val GateCpus = "32"

  def gateCpus: String = cpusOr(GateCpus)

  def localBuilder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS) — unreadable without this
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // AQE coalescing floor DELIBERATELY LEFT AT THE 1 MB DEFAULT (r19,
      // measured): the per-stage table (now tools/Probe) showed the
      // NDV-sized intermediates (graph edge/degree frames, histograms)
      // running 4-10 partitions wide on a 32-core box, so a 64k floor was
      // A/B'd to force full width — and lost BADLY (quiet box, repeat=5:
      // x_hits 5.93 vs 2.47 s, x_kcore 4.85 vs 2.34, x_lpa 4.37 vs 2.44,
      // x_pagerank 3.94 vs 2.20; 14-query set total 41.2 vs 30.0 s). The
      // iterative loop family is bounded by PER-TASK/PER-STAGE overhead,
      // not by idle cores: byte-based coalescing to a handful of
      // partitions is the right call for small frames, and the fix for
      // the anti-scaling band is fewer jobs per round (the kcore/hits r18
      // trims), never more tasks per tiny exchange.

  /** The base profile plus `conf`, WARN logging. The ingest benches and
    * the canary tools measure the engine without the query-side rules.
    */
  def local(cpus: String, conf: (String, String)*): SparkSession = {
    val spark = conf.foldLeft(localBuilder(cpus)) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The engine the board runs on: the base profile plus MIN/MAX/COUNT
    * answered from parquet footer stats, the `InferFiltersFromGenerate`
    * exclusion, and the graft functions, rules and strategies
    * ([[graft.catalyst.GraftExtensions]]). `conf` is applied last.
    */
  def engine(cpus: String, conf: (String, String)*): SparkSession = {
    val spark = local(cpus, Seq(
      "spark.sql.parquet.aggregatePushdown" -> "true",
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate") ++ conf: _*)
    graft.catalyst.GraftExtensions.register(spark)
    spark
  }
}
