package graft.tools

import java.time.LocalDate
import graft.ingest.TickerIngest

/** Ingest micro-bench (BASELINE.md "ingest micro-bench"): generate ticker
  * CSVs in the reference's date-dir layout, bulk-load them through
  * [[TickerIngest.ingest]] (read → validate → partitioned parquet write),
  * report rows/sec — the shape of the reference's published 300–500k rows/s
  * (GZIP-piped HTTP to ClickHouse Cloud; ours is a local parquet sink, so
  * numbers are indicative, not apples-to-apples).
  *
  * Usage: runMain graft.tools.IngestBench [totalRows] [files]
  */
object IngestBench {
  def main(args: Array[String]): Unit = {
    val totalRows = args.headOption.map(_.toInt).getOrElse(2_000_000)
    val nFiles = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.Sessions.local(graft.Sessions.cpus,
      StreamIngestBench.IngestSplits: _*)

    val root = java.nio.file.Files.createTempDirectory("ingest-bench").toString
    val wh = java.nio.file.Files.createTempDirectory("ingest-wh").toString
    val rowsPerFile = totalRows / nFiles
    val day = LocalDate.parse("2024-03-14")
    val paths = (0 until nFiles).map { f =>
      val date = day.plusDays(f % 4)
      val dir = new java.io.File(s"$root/$date"); dir.mkdirs()
      val path = s"$root/$date/TCK$f-USDT_PST_$date"
      val w = new java.io.BufferedWriter(new java.io.FileWriter(path), 1 << 20)
      var i = 0
      while (i < rowsPerFile) {
        // deterministic synthetic quote line (9 columns, README.md:12-21 shape)
        val mm = i % 60
        val ss = (i / 60) % 60
        w.write(f"TCK$f%d-USDT,${f * 10000000L + i}%d,0.${1000 + i % 9000}%d,${i % 50}%d.5," +
          f"0.${1100 + i % 900}%d,100.0,0.${900 + i % 900}%d,80.5," +
          f"2024-03-14T12:$mm%02d:$ss%02d.${i % 1000}%03d")
        w.newLine(); i += 1
      }
      w.close()
      path
    }
    println(s"[ingest-bench] wrote ${nFiles} files x $rowsPerFile rows")

    if (args.contains("--bisect")) {
      def t(name: String)(f: => Any): Unit = {
        val t0 = System.nanoTime()
        f
        println(f"[ingest-bisect] $name: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      }
      val df = TickerIngest.read(spark, paths)
      t("parse+count")(df.count())
      t("parse+count rep")(df.count())
      t("valid noop")(TickerIngest.validRows(df).write.format("noop").mode("overwrite").save())
      t("write flat")(TickerIngest.validRows(df).write.mode("overwrite")
        .parquet(wh + "_flat"))
      t("write partitioned")(TickerIngest.validRows(df).write.mode("overwrite")
        .partitionBy("file_date").parquet(wh + "_part"))
      t("outcomes agg")(df.groupBy("filename").count().collect())
    }
    // steady-state measurement: one warmup pass amortizes JVM/codegen init
    TickerIngest.ingest(spark, paths.take(2),
      java.nio.file.Files.createTempDirectory("ingest-warm").toString)
    val t0 = System.nanoTime()
    val report = TickerIngest.ingest(spark, paths, wh)
    val sec = (System.nanoTime() - t0) / 1e9
    val rps = (report.totalRows / sec).toLong
    println(f"[ingest-bench] loaded ${report.totalRows} rows (${report.totalCorrupt} corrupt) " +
      f"in $sec%.2f s = $rps rows/sec (reference baseline: 300k-500k rows/sec to remote ClickHouse)")
    // z-order A/B: same load with write-path clustering on — the honest cost
    // of the layout (one extra range shuffle + in-task sort) against the
    // plain append, so the pruning win (ZOrderIngestSpec) has a price tag
    spark.conf.set("spark.graft.ingest.zorder", "true")
    val whZ = java.nio.file.Files.createTempDirectory("ingest-whz").toString
    val tz0 = System.nanoTime()
    val reportZ = TickerIngest.ingest(spark, paths, whZ)
    val zsec = (System.nanoTime() - tz0) / 1e9
    spark.conf.set("spark.graft.ingest.zorder", "false")
    val zrps = (reportZ.totalRows / zsec).toLong
    println(f"[ingest-bench] z-ordered load: ${reportZ.totalRows} rows in $zsec%.2f s = " +
      f"$zrps rows/sec (${sec / zsec * 100}%.0f%% of plain throughput)")
    println(s"""{"metric":"ingest_rows_per_sec","value":$rps,"unit":"rows/sec","rows":${report.totalRows},"sec":$sec,"zorder_rows_per_sec":$zrps}""")
    spark.stop()
  }
}
