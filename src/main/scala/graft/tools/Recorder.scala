package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The measurement tools' one task/stage listener: total shuffle records
  * written (summed per task end — this sees the exchanges hidden inside
  * localCheckpoints, which a plan walk cannot) and one row per completed
  * stage. [[Recorder.record]] drains the listener bus deterministically
  * before reading: a fixed sleep misses straggler task-end events on a
  * loaded box and undercounts the records.
  */
final class Recorder private () extends SparkListener {
  import Recorder.Stage

  private val records = new AtomicLong(0L)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Stage]()

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) { records.addAndGet(m.shuffleWriteMetrics.recordsWritten); () }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    val sr = m.shuffleReadMetrics
    done.add(Stage(i.stageId, i.name.takeWhile(_ != '\n').take(90),
      (for { a <- i.completionTime; b <- i.submissionTime } yield a - b).getOrElse(0L),
      m.executorRunTime, m.executorCpuTime / 1000000, m.jvmGCTime,
      m.inputMetrics.bytesRead, sr.remoteBytesRead + sr.localBytesRead, sr.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleWriteMetrics.recordsWritten,
      i.numTasks))
    ()
  }

  /** Shuffle records written by every task that ended while recording. */
  def shuffleRecords: Long = records.get()

  /** Completed stages, by stage id. */
  def stages: Seq[Stage] = {
    val b = Seq.newBuilder[Stage]
    done.forEach(s => { b += s; () })
    b.result().sortBy(_.id)
  }
}

object Recorder {

  final case class Stage(id: Int, nameLine: String, wallMs: Long, runMs: Long,
      cpuMs: Long, gcMs: Long, inB: Long, srB: Long, srRec: Long,
      swB: Long, swRec: Long, tasks: Int)

  /** Run `body` with a fresh recorder attached; every event `body` caused
    * has been delivered when this returns.
    */
  def record[T](spark: SparkSession)(body: => T): (T, Recorder) = {
    val sc = spark.sparkContext
    val r = new Recorder
    sc.addSparkListener(r)
    try {
      val out = body
      org.apache.spark.graft.SparkInternals.drainListenerBus(sc)
      (out, r)
    } finally sc.removeSparkListener(r)
  }
}
