package perfbench

import java.io.File
import scala.collection.mutable
import scala.io.Source

/** `query_board`: a closed loop with one client over a fixed list of
  * `SparkEntry.queries` on the bundled read-only sf0.01 tables. The seed
  * fixes the order of every pass. The warm-up pass collects each result
  * and checks its fingerprint against the expected set; timed passes run
  * each query to completion through the `noop` sink. One operation is one
  * query, build (the eager jobs inside the query function) plus execution.
  * Measurement runs whole passes until the deadline.
  */
final class QueryBoard(ctx: Ctx, capture: Option[File]) extends Workload {
  private val tables = new File(ctx.data, "sf0.01")
  val names: IndexedSeq[String] = QueryBoard.readList(new File(ctx.data, "query_board.txt"))
  private val expected: Map[String, String] =
    QueryBoard.readFingerprints(new File(ctx.data, "query_board.fingerprints"))
  private val rnd = new scala.util.Random(ctx.seed)
  private val actual = mutable.LinkedHashMap.empty[String, String]
  private val perQuery = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val famMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private var queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
    org.apache.spark.sql.DataFrame] = Map.empty

  override def generate(): Unit = {
    queries = graft.SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown queries in the board list: ${missing.mkString(",")}")
  }

  /** Session start plus the table catalog: every table's schema is read once. */
  override def setup(): Unit =
    QueryBoard.Tables.foreach(t => graft.Tables.load(ctx.spark, tables.getPath, t))

  override def undoSetup(): Unit = ()

  override def warmup(): Unit = names.foreach { q =>
    val rows = queries(q)(ctx.spark, tables.getPath).collect()
    actual(q) = Fingerprint.of(rows)
  }

  private def runOne(q: String): Double = {
    val fam = QueryBoard.family(q)
    val t0 = System.nanoTime()
    ctx.span(s"queries.$fam") {
      val df = ctx.span("queries.build")(queries(q)(ctx.spark, tables.getPath))
      ctx.span("queries.exec")(df.write.format("noop").mode("overwrite").save())
    }
    val ms = (System.nanoTime() - t0) / 1e6
    famMs(fam) += ms
    perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty[Double]) += ms
    ms
  }

  override def measure(deadlineNs: Long): Measured = {
    // whole passes in seeded order, so every query has the same number of
    // samples whatever the order; at least one pass
    var passes = 0
    while (passes == 0 || System.nanoTime() < deadlineNs) {
      rnd.shuffle(names).foreach(runOne)
      passes += 1
    }
    val ops = perQuery.values.flatten.toIndexedSeq
    val medians = Sample.of(names.map(q => Sample.of(perQuery(q)).median))
    println("per_query_p50_ms " + Json.obj(names.zip(medians.values).map {
      case (q, v) => q -> math.rint(v) }))
    val busy = ops.sum / 1000.0
    Measured(ops, ops.size.toDouble, busy,
      attempted = names.size.toLong, failed = 0L,
      detail = Seq("query_board_s" -> medians.sum / 1000.0,
        "query_geomean_ms" -> medians.geomean,
        "passes" -> passes.toDouble))
  }

  private def mismatches: Seq[String] =
    names.filter(q => !expected.get(q).contains(actual.getOrElse(q, "missing")))

  override def verify(): Seq[Check] = {
    capture.foreach { f =>
      val w = new java.io.PrintWriter(f)
      try actual.foreach { case (q, fp) => w.println(s"$q\t$fp") } finally w.close()
    }
    // one failed check per wrong query, so `failed` counts wrong queries
    if (mismatches.isEmpty) Seq(Check("fingerprints", ok = true, s"all ${names.size} match"))
    else mismatches.map(q => Check(s"fingerprint:$q", ok = false,
      s"expected=${expected.getOrElse(q, "none")} actual=${actual.getOrElse(q, "missing")}"))
  }

  override def layers(): Map[String, Double] = {
    val fams = QueryBoard.Families.flatMap { f =>
      Seq(s"queries.$f.ms" -> famMs(f), s"queries.$f.jobs" ->
        Layers.childSum(ctx.tracer, s"queries.$f", "jobs"))
    }
    fams.toMap ++ Map(
      "queries.planning_ms" -> ctx.planningMs.sum,
      "queries.executor_util" -> Layers.ratio(
        Layers.sum(ctx.tracer, "queries.build", "task_run_ms") +
          Layers.sum(ctx.tracer, "queries.exec", "task_run_ms"),
        ctx.cpus * (Layers.ms(ctx.tracer, "queries.build") + Layers.ms(ctx.tracer, "queries.exec"))))
  }

  override def close(): Unit = ()
}

object QueryBoard {
  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val Families: Seq[String] =
    Seq("x", "g", "t", "ts", "w", "d", "s", "p", "plane_a", "tpch", "other")

  /** Plane A and B shapes share a family, TPC-H queries are `tpch`, and
    * prefixes outside the named families are `other`.
    */
  def family(q: String): String = {
    val p = q.takeWhile(_ != '_')
    if (p.matches("[ab]\\d+")) "plane_a"
    else if (p.matches("q\\d+")) "tpch"
    else if (Families.contains(p)) p
    else "other"
  }

  def readList(f: File): IndexedSeq[String] = {
    val src = Source.fromFile(f, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toIndexedSeq
    finally src.close()
  }

  def readFingerprints(f: File): Map[String, String] =
    if (!f.exists()) Map.empty
    else readList(f).map(_.split("\t")).collect { case Array(q, fp) => q -> fp }.toMap
}
