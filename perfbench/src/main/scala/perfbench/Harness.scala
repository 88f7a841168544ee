package perfbench

import java.io.File
import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Everything a workload needs from the harness. `spark` is replaced on
  * every set-up repetition.
  */
final class Ctx(val seed: Long, val seconds: Int, val work: File, val data: File,
    val cpus: Int, val tracer: Tracer, val watch: StreamWatch) {
  @volatile var spark: SparkSession = _
  /** Driver-side planning time (parse, analysis, optimization, physical
    * planning) of every query execution that finished, when tracing.
    */
  val planningMs = new java.util.concurrent.atomic.DoubleAdder()

  def dir(name: String): File = { val d = new File(work, name); d.mkdirs(); d }
  private val lastMs = new java.util.concurrent.atomic.AtomicLong()
  /** The `now` every journal write gets: wall-clock milliseconds, but
    * always past the previous reading, so the journal's latest-wins order
    * follows the order of the calls even if the host clock steps back.
    */
  def now(): Timestamp =
    new Timestamp(lastMs.updateAndGet(l => math.max(l + 1, System.currentTimeMillis())))
  def span[T](name: String)(body: => T): T = tracer.span(name)(body)
}

/** One correctness check: its name, whether it held, and the evidence. */
final case class Check(name: String, ok: Boolean, detail: String)

/** What the measured phase of a workload produced.
  *
  * `opsMs` is the latency of every operation that completed: a drip
  * cycle or one query. `units` per `busyS` is the throughput: rows per
  * second of cycle time for `daily_drip`, queries per second of query
  * time for the board. `detail` holds the workload's own named figures.
  */
final case class Measured(opsMs: IndexedSeq[Double], units: Double, busyS: Double,
    attempted: Long, failed: Long, detail: Seq[(String, Double)])

/** A benchmark workload. The harness calls, in order: [[generate]];
  * [[setup]] once per repetition, each time on a fresh session, with
  * [[undoSetup]] after every repetition but the last; [[warmup]];
  * [[measure]]; [[verify]]; [[layers]] when tracing; [[close]].
  */
trait Workload {
  def generate(): Unit
  def setup(): Unit
  def undoSetup(): Unit
  def warmup(): Unit
  def measure(deadlineNs: Long): Measured
  def verify(): Seq[Check]
  def layers(): Map[String, Double]
  def close(): Unit
}

object BenchSession {
  /** The program's shared local session builder plus the settings the
    * app's entry points add on top of it.
    */
  def start(ctx: Ctx): SparkSession = {
    val spark = graft.Sessions.localBuilder(ctx.cpus.toString)
      .appName("perfbench")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.io.compression.lz4.blockSize", "131072b")
      .config("spark.local.dir", ctx.dir("spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(ctx.work, "spark-warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.catalyst.GraftExtensions.register(spark)
    spark.streams.addListener(ctx.watch)
    ctx.tracer.attach(spark.sparkContext)
    if (ctx.tracer.enabled) {
      spark.sparkContext.addSparkListener(new SparkCounters(ctx.tracer))
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          ctx.planningMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      })
    }
    ctx.spark = spark
    spark
  }
}
