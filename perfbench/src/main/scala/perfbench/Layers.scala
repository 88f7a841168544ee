package perfbench

/** Per-layer figures of the traced run, read from the recorded spans. */
object Layers {
  def spans(t: Tracer, name: String): Seq[Span] = t.all.filter(_.name == name)
  def ms(t: Tracer, name: String): Double = spans(t, name).map(_.ms).sum
  def calls(t: Tracer, name: String): Double = spans(t, name).size.toDouble
  def sum(t: Tracer, name: String, key: String): Double =
    spans(t, name).map(_.counters(key)).sum
  def selfMs(t: Tracer, name: String): Double = {
    val self = Tracer.selfMs(t.all)
    spans(t, name).map(s => self(s.id)).sum
  }
  /** Counter summed over the direct children of every span named `name`. */
  def childSum(t: Tracer, name: String, key: String): Double = {
    val all = t.all
    val ids = all.filter(_.name == name).map(_.id).toSet
    all.filter(s => ids.contains(s.parent)).map(_.counters(key)).sum
  }
  def ratio(a: Double, b: Double): Double = if (b == 0.0) 0.0 else a / b

  /** Figures every workload derives the same way from its spans. */
  def common(t: Tracer): Map[String, Double] = {
    val q = Seq("queries.build", "queries.exec")
    Map(
      "queries.build_ms" -> ms(t, "queries.build"),
      "queries.exec_ms" -> ms(t, "queries.exec"),
      "queries.build_jobs" -> sum(t, "queries.build", "jobs"),
      "queries.exec_jobs" -> sum(t, "queries.exec", "jobs"),
      "queries.stages" -> q.map(sum(t, _, "stages")).sum,
      "queries.tasks" -> q.map(sum(t, _, "tasks")).sum,
      "queries.task_cpu_ms" -> q.map(sum(t, _, "task_cpu_ms")).sum,
      "queries.gc_ms" -> q.map(sum(t, _, "gc_ms")).sum,
      "queries.shuffle_bytes" -> q.map(sum(t, _, "shuffle_bytes")).sum,
      "journal.compact.ms" -> ms(t, "journal.compact"),
      "journal.compact.jobs" -> sum(t, "journal.compact", "jobs"),
      "journal.status_census.ms" -> ms(t, "journal.status_census"),
      "journal.status_census.jobs" -> sum(t, "journal.status_census", "jobs"),
      "pipeline.advance.ms" -> ms(t, "pipeline.advance"),
      "pipeline.advance.jobs" -> sum(t, "pipeline.advance", "jobs"),
      "pipeline.process_ready.ms" -> ms(t, "pipeline.process_ready"),
      "pipeline.process_ready.self_ms" -> selfMs(t, "pipeline.process_ready"),
      "pipeline.process_ready.jobs" -> sum(t, "pipeline.process_ready", "jobs"),
      "pipeline.process_ready.calls" -> calls(t, "pipeline.process_ready"),
      "pipeline.cleanup.ms" -> ms(t, "pipeline.cleanup"),
      "pipeline.cleanup.jobs" -> sum(t, "pipeline.cleanup", "jobs"),
      "streaming.catch_up.ms" -> ms(t, "streaming.catch_up"),
      "streaming.catch_up.jobs" -> sum(t, "streaming.catch_up", "jobs"),
      "streaming.discovery.wait_ms" -> ms(t, "streaming.discovery.wait"),
      "streaming.discovery.jobs" -> sum(t, "streaming.discovery", "jobs"),
      "ingest.stage.ms" -> ms(t, "ingest.stage"),
      "ingest.stage.calls" -> calls(t, "ingest.stage"),
      "ingest.stage.jobs" -> sum(t, "ingest.stage", "jobs"),
      "ingest.stage.task_cpu_ms" -> sum(t, "ingest.stage", "task_cpu_ms"),
      "ingest.stage.input_bytes" -> sum(t, "ingest.stage", "input_bytes"),
      "ingest.stage.output_bytes" -> sum(t, "ingest.stage", "output_bytes"),
      "ingest.compact_partition.ms" -> ms(t, "ingest.compact_partition"),
      "ingest.warehouse_read.ms" -> ms(t, "ingest.warehouse_read"),
      "ingest.warehouse_read.tasks" -> sum(t, "ingest.warehouse_read", "tasks"),
      "ingest.warehouse_read.input_bytes" -> sum(t, "ingest.warehouse_read", "input_bytes"),
      "sinks.append.ms" -> ms(t, "sinks.append"),
      "sinks.append.task_cpu_ms" -> sum(t, "sinks.append", "task_cpu_ms"),
      "spark.jobs" -> t.total("jobs"),
      "spark.stages" -> t.total("stages"),
      "spark.tasks" -> t.total("tasks"),
      "spark.task_cpu_ms" -> t.total("task_cpu_ms"),
      "spark.gc_ms" -> t.total("gc_ms"),
      "spark.shuffle_bytes" -> t.total("shuffle_bytes"),
      "trace.spans" -> t.all.size.toDouble)
  }
}
