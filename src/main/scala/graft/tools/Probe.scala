package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{Sessions, SparkEntry}

/** Dev diagnostic for named board queries, on the engine session Bench
  * times them on: per-repetition wall times, the formatted plan, and a
  * per-stage cost table.
  *
  * Each repetition writes through the `noop` sink as Bench does — count()
  * would let Catalyst prune the projections being measured. Every rep is
  * printed: rep 1 is the cold one, so warm-up decay and a bimodal flip
  * between plan variants stay visible (a min-of-reps figure hides both).
  * The last rep runs under a [[Recorder]] and its stages are printed —
  * wall, executor run/CPU/GC, input, shuffle read/write bytes and records,
  * tasks, and the first line of the stage's call site — so time maps back
  * to plan operators without the UI. With `planDir`, each query's formatted
  * plan is written to `<planDir>/<query>_<suffix>.txt` (the plans/rN
  * evidence naming) before it runs. Most board queries localCheckpoint
  * early, so that is the post-checkpoint plan; to audit a scan's
  * ReadSchema/PushedFilters, read the pre-checkpoint projection in the
  * source.
  *
  * Usage: runMain graft.tools.Probe <dataDir> <q1,q2,...> [reps] [planDir suffix]
  */
object Probe {

  def main(args: Array[String]): Unit = {
    require(Set(2, 3, 5).contains(args.length),
      "usage: Probe <dataDir> <q1,q2,...> [reps] [planDir suffix]")
    val dir = args(0)
    val fns = args(1).split(",").map(_.trim).filter(_.nonEmpty).map(n =>
      n -> SparkEntry.queries.getOrElse(n,
        throw new IllegalArgumentException(s"unknown query: $n")))
    val reps = if (args.length > 2) args(2).toInt.max(1) else 3
    val plans = if (args.length == 5) Some((args(3), args(4))) else None
    val spark = Sessions.engine(Sessions.cpus)
    try fns.foreach { case (name, fn) =>
      plans.foreach { case (out, suffix) =>
        new java.io.File(out).mkdirs()
        val path = s"$out/${name}_$suffix.txt"
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
          fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode) + "\n")
        println(s"[probe] wrote $path")
      }
      probe(spark, name, fn(spark, dir), reps)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    } finally spark.stop()
  }

  private def probe(spark: SparkSession, name: String, df: => DataFrame,
      reps: Int): Unit = {
    def run(i: Int): Double = {
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name rep $i%3d  $t%7.3f s")
      t
    }
    (1 until reps).foreach(run)
    val (wall, rec) = Recorder.record(spark)(run(reps))
    val stages = rec.stages
    println(f"[probe] ${"stage"}%5s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
      f"${"gc_ms"}%6s ${"in_mb"}%7s ${"sr_mb"}%7s ${"sr_rec"}%9s ${"sw_mb"}%7s " +
      f"${"sw_rec"}%9s ${"tasks"}%5s  where")
    stages.foreach { s =>
      println(f"[probe] ${s.id}%5d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d " +
        f"${s.gcMs}%6d ${s.inB / 1048576.0}%7.1f ${s.srB / 1048576.0}%7.1f " +
        f"${s.srRec}%9d ${s.swB / 1048576.0}%7.1f ${s.swRec}%9d ${s.tasks}%5d  ${s.nameLine}")
    }
    val par = spark.sparkContext.defaultParallelism
    val totRun = stages.map(_.runMs).sum
    println(f"[probe] $name totals: ${stages.size} stages run=${totRun}ms " +
      f"cpu=${stages.map(_.cpuMs).sum}ms gc=${stages.map(_.gcMs).sum}ms " +
      f"wall=$wall%.3f s (run/$par = ${totRun / par}ms — perfectly parallel floor)")
  }
}
