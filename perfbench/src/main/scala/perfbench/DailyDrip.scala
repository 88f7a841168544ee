package perfbench

import java.io.File
import java.sql.Date
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import graft.ingest.TickerIngest
import graft.journal.TickerFileJournal
import graft.pipeline.{Lifecycle, ProcessReport, RetryPolicy}
import graft.schema.FileStatus

/** `daily_drip`: a closed loop of simulated days. A cycle publishes one day
  * of many small files and runs, in `PipelineApp`'s order: the discovery
  * stream, advance, processReady (publishing each batch through the real
  * ClickHouse HTTP sink to an in-process stub), cleanup, a status census,
  * a dashboard OHLC read of the newest day, then the maintenance that
  * follows cleanup in the app: journal compaction and the warehouse
  * small-files pass. One operation is one cycle.
  *
  * The warm-up cycle publishes [[HistoryDays]] past days at once, so the
  * measured days meet a journal, a discovery log and a warehouse that
  * already hold a history.
  */
final class DailyDrip(ctx: Ctx) extends Workload {
  private val FilesPerDay = 40
  private val RowsPerFile = 500
  private val MalformedFiles = 3
  private val HistoryDays = 3
  /** A day's partition gets one file set, six part files on 4 cores, from
    * its single processReady call, so the app's threshold of 8 is never
    * reached here; 1 makes every new partition take the rewrite.
    */
  private val FragmentThreshold = 1
  private val inbox: File = ctx.dir("inbox")
  private val staging: File = ctx.dir("staging")
  private val journalDir: String = new File(ctx.work, "journal").getPath
  private val warehouseDir: String = new File(ctx.work, "warehouse").getPath
  private val quarantineDir: String = new File(ctx.work, "quarantine").getPath
  private var journal: TickerFileJournal = _
  private def spark: SparkSession = ctx.spark

  /** Every file published to the inbox, in publish order. */
  private val published = mutable.ArrayBuffer.empty[FileStats]
  private var committedRows = 0L
  private var quarantinedRows = 0L
  private var stageCalls = 0L
  private var claimingCalls = 0L
  private var errored = 0L

  private val retry: RetryPolicy = RetryPolicy(3, 500L)

  /** The app's start-up recovery, on this repetition's session. */
  private def recover(): Unit = {
    journal = new TickerFileJournal(spark, journalDir)
    Lifecycle.recoverOrphaned(journal, ctx.now())
    TickerIngest.recoverCompaction(spark, warehouseDir)
    ()
  }

  private val stageFn: (SparkSession, Seq[String], String, Option[String]) =>
      TickerIngest.StagedIngest = (s, paths, wh, q) => {
    stageCalls += 1
    ctx.span("ingest.stage")(TickerIngest.stage(s, paths, wh, q))
  }

  /** Calls `processReady` until no READY file is left. */
  private def drainReady(): Unit = {
    var rep: ProcessReport = null
    do {
      rep = ctx.span("pipeline.process_ready") {
        Lifecycle.processReady(spark, journal, inbox.getPath, warehouseDir, ctx.now(),
          quarantineDir = Some(quarantineDir), retry = retry,
          ingestFn = stageFn, external = Some(sink))
      }
      if (rep.claimed > 0) claimingCalls += 1
      committedRows += rep.rows
      quarantinedRows += rep.corruptRows
      errored += rep.errored
    } while (rep.finished > 0 && rep.errored == 0 && rep.remainingReady > 0)
  }

  private def advance(today: LocalDate): Unit = {
    ctx.span("pipeline.advance")(Lifecycle.advanceStatuses(journal, today, ctx.now()))
    ()
  }

  private def partFiles(): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.iterator.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith("part-") && !f.getPath.contains("/_")) 1L else 0L
    walk(new File(warehouseDir))
  }


  private val rnd = new java.util.SplittableRandom(ctx.seed)
  private val base = LocalDate.of(2024, 3, 1)
  private var day = 0
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _
  private def ckpt = new File(ctx.work, "discovery-ckpt")
  private var compactBefore = 0L
  private var compactAfter = 0L
  private var deletedFiles = 0L
  private var discoveredFiles = 0L
  private var stub: ClickHouseStub = _
  private var sink: graft.sinks.ExternalSink = _

  private val history = mutable.ArrayBuffer.empty[(LocalDate, File)]

  override def generate(): Unit = {
    stub = new ClickHouseStub
    (1 to HistoryDays).foreach(_ => history += stageDay())
  }

  /** Start-up as `PipelineApp` runs it: recovery, catch-up, then the
    * discovery stream.
    */
  override def setup(): Unit = {
    recover()
    sink = new TracedSink(new graft.sinks.ClickHouseHttpSink(graft.sinks.ClickHouseHttpConfig(
      host = "127.0.0.1", port = stub.port, database = "default", table = "tickers_data")),
      ctx.tracer)
    ctx.span("streaming.catch_up")(graft.streaming.Discovery.catchUp(
      spark, journal, inbox.getPath, base.plusDays(1), ctx.now()))
    query = graft.streaming.Discovery.stream(spark, journal, inbox.getPath, ckpt.getPath,
      maxFilesPerTrigger = 8192,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L),
      nowFn = () => ctx.now())
    ctx.tracer.stream("streaming.discovery", query.id.toString)
  }

  override def undoSetup(): Unit = {
    query.stop()
    ctx.tracer.endStream(query.id.toString)
    Gen.deleteTree(ckpt)
  }

  private def stageDay(): (LocalDate, File) = {
    day += 1
    val d = base.plusDays(day.toLong)
    val dir = new File(staging, d.toString)
    val bad = Iterator.continually(rnd.nextInt(FilesPerDay)).distinct.take(MalformedFiles).toSet
    (0 until FilesPerDay).foreach { i =>
      published += Gen.writeFile(dir, Gen.ticker(i), d, RowsPerFile,
        if (bad.contains(i)) 1 else 0, rnd.split())
    }
    (d, dir)
  }

  private val dashboard = mutable.ArrayBuffer.empty[Double]

  /** Publishes the staged days and runs one cycle for the newest of them;
    * returns the cycle's wall time in ms.
    */
  private def cycle(days: Seq[(LocalDate, File)]): Double = {
    val d = days.last._1
    val today = d.plusDays(1)
    val t0 = System.nanoTime()
    days.foreach { case (_, dir) => Gen.publish(dir, inbox) }
    // wait for discovery by count: the stream's progress events must
    // report every file published so far before the day can advance
    val seen = ctx.span("streaming.discovery.wait") {
      ctx.watch.awaitRows(query.id, published.size.toLong, 60000L)
    }
    if (!seen) throw new IllegalStateException(
      s"discovery saw ${ctx.watch.rows(query.id)} of ${published.size} files within 60 s")
    discoveredFiles = ctx.watch.rows(query.id)
    advance(today)
    drainReady()
    val cl = ctx.span("pipeline.cleanup")(Lifecycle.cleanup(journal, inbox.getPath, today))
    deletedFiles += cl.deletedFiles
    ctx.span("journal.status_census") {
      FileStatus.all.foreach(s => journal.byStatus(s).count())
    }
    val t1 = System.nanoTime()
    val ohlc = ctx.span("ingest.warehouse_read") {
      graft.streaming.StreamingAnalytics.windowedOhlc(
        TickerIngest.warehouse(spark, warehouseDir)
          .filter(col("file_date") === Date.valueOf(d))).collect()
    }
    dashboard += (System.nanoTime() - t1) / 1e6
    if (ohlc.isEmpty) throw new IllegalStateException(s"dashboard read of $d returned no rows")
    ctx.span("journal.compact")(journal.compact(ctx.now()))
    TickerIngest.fragmentedPartitions(spark, warehouseDir, FragmentThreshold).foreach { dt =>
      val (b, a) = ctx.span("ingest.compact_partition")(
        TickerIngest.compactPartition(spark, warehouseDir, dt))
      compactBefore += b
      compactAfter += a
    }
    (System.nanoTime() - t0) / 1e6
  }

  override def warmup(): Unit = { cycle(history.toSeq); () }

  override def measure(deadlineNs: Long): Measured = {
    val rows0 = committedRows
    val files0 = published.size
    dashboard.clear()
    val ops = mutable.ArrayBuffer.empty[Double]
    while (ops.size < 2 || System.nanoTime() < deadlineNs) ops += cycle(Seq(stageDay()))
    val rows = (committedRows - rows0).toDouble
    val busy = ops.sum / 1000.0
    val files = published.size - files0
    val dash = Sample.of(dashboard)
    Measured(ops.toIndexedSeq, rows, busy, attempted = files.toLong, failed = errored,
      detail = Seq("ingest_rows_per_s" -> rows / busy,
        "cycle_p50_ms" -> Sample.of(ops).median,
        "drip_files_per_s" -> files / busy,
        "dashboard_p50_ms" -> dash.median,
        "cycles" -> ops.size.toDouble))
  }

  /** Warehouse rows equal the valid rows published; quarantined rows equal
    * the malformed lines published; every published file is FINISHED in
    * the journal, whether cleanup has since deleted it or not; the stub
    * received every committed row; discovery reported every file.
    */
  override def verify(): Seq[Check] = {
    query.stop()
    val valid = published.map(_.valid).sum
    val malformed = published.map(_.malformed).sum
    val whRows = TickerIngest.warehouse(spark, warehouseDir).count()
    val qRows =
      if (new File(quarantineDir).exists()) spark.read.parquet(quarantineDir).count() else 0L
    val status = journal.current.groupBy("status").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val finished = status.getOrElse(FileStatus.Finished.name, 0L)
    val names = published.map(_.name).toSet
    val notFinished = journal.current
      .filter(col("status") =!= FileStatus.Finished.name).count()
    val onDisk = Option(inbox.listFiles()).getOrElse(Array.empty[File])
      .flatMap(d => Option(d.listFiles()).getOrElse(Array.empty[File])).length
    Seq(
      Check("warehouse_rows", whRows == valid, s"warehouse=$whRows generated_valid=$valid"),
      Check("committed_rows", committedRows == valid,
        s"reported_by_processReady=$committedRows generated_valid=$valid"),
      Check("quarantined_rows", qRows == malformed && quarantinedRows == malformed,
        s"quarantine=$qRows reported=$quarantinedRows injected=$malformed"),
      Check("files_finished",
        finished == names.size && notFinished == 0 && status.values.sum == names.size,
        s"published=${names.size} journal=${status.toSeq.sorted.mkString(",")}"),
      Check("sink_rows", stub.rows.get == committedRows,
        s"stub_received=${stub.rows.get} committed=$committedRows"),
      Check("discovery_count", discoveredFiles == published.size,
        s"stream_reported=$discoveredFiles published=${published.size}"),
      Check("cleanup_only_finished", onDisk + deletedFiles == published.size,
        s"left_in_inbox=$onDisk deleted=$deletedFiles published=${published.size}"))
  }

  override def layers(): Map[String, Double] = {
    val disc = ctx.watch.of(query.id).filter(_.rows > 0)
    val files = Option(new File(journalDir).listFiles()).getOrElse(Array.empty[File])
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    Map("journal.events" -> journal.events.count().toDouble,
      "journal.event_files" -> files.toDouble,
      "ingest.rows" -> committedRows.toDouble,
      "ingest.corrupt_rows" -> quarantinedRows.toDouble,
      "ingest.part_files" -> partFiles().toDouble,
      "pipeline.retries" -> (stageCalls - claimingCalls).toDouble,
      "ingest.read_amplification" -> Layers.ratio(
        Layers.sum(ctx.tracer, "ingest.stage", "input_bytes"),
        published.map(_.bytes).sum.toDouble),
      "streaming.discovery.batches" -> disc.size.toDouble,
      "streaming.discovery.files" -> disc.map(_.rows).sum.toDouble,
      "pipeline.cleanup.deleted_files" -> deletedFiles.toDouble,
      "sinks.requests" -> stub.requests.get.toDouble,
      "sinks.bytes_sent" -> stub.wireBytes.get.toDouble,
      "sinks.rows_received" -> stub.rows.get.toDouble,
      "sinks.compression_ratio" ->
        Layers.ratio(stub.rawBytes.get.toDouble, stub.wireBytes.get.toDouble),
      "ingest.compact_partition.files_before" -> compactBefore.toDouble,
      "ingest.compact_partition.files_after" -> compactAfter.toDouble)
  }

  override def close(): Unit = {
    if (query != null && query.isActive) query.stop()
    if (stub != null) stub.close()
  }
}
