package perfbench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One micro-batch as its progress event reports it. */
final case class Batch(id: Long, rows: Long)

/** Collects every progress event per streaming query. The discovery wait
  * reads input counts from here, the monitoring interface Structured
  * Streaming exposes.
  */
final class StreamWatch extends StreamingQueryListener {
  private val batches = new ConcurrentHashMap[UUID, mutable.ArrayBuffer[Batch]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val buf = batches.computeIfAbsent(p.id, _ => mutable.ArrayBuffer.empty[Batch])
    buf.synchronized { buf += Batch(p.batchId, p.numInputRows) }
    ()
  }

  def of(id: UUID): Seq[Batch] = {
    val buf = batches.get(id)
    if (buf == null) Nil else buf.synchronized(buf.toList)
  }

  def rows(id: UUID): Long = of(id).iterator.map(_.rows).sum

  /** Blocks until the query has reported at least `target` input rows. */
  def awaitRows(id: UUID, target: Long, timeoutMs: Long): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (rows(id) < target && System.currentTimeMillis() < deadline) Thread.sleep(2)
    rows(id) >= target
  }
}
