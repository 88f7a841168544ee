package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.sinks.ExternalSink

/** Delegating [[ExternalSink]] that opens a `sinks.append` span around
  * each append, so the publish cost shows as its own layer.
  */
final class TracedSink(inner: ExternalSink, tracer: Tracer) extends ExternalSink {
  override def append(df: DataFrame): Unit = tracer.span("sinks.append")(inner.append(df))
  override def truncate(spark: SparkSession): Unit = inner.truncate(spark)
  override def count(spark: SparkSession): Long = inner.count(spark)
}
