package graft.perfbench

/** The per-layer metrics of a traced run. Every workload reports the whole
  * list; a layer the workload bypasses reads 0 (query_mix starts no
  * stream, the CDC workloads build no registered query), which is itself
  * the prediction a change to that layer has to meet.
  */
object Layers {
  val Spec: Seq[(String, String)] = Seq(
    "sources.latest_offset_ms" -> "ms",
    "sources.get_batch_ms" -> "ms",
    "sources.backlog_files_max" -> "count",
    "sinks.files_per_batch" -> "count",
    "sinks.bytes_written" -> "bytes",
    "sinks.dlq_write_job_ms" -> "ms",
    "streaming.batches" -> "count",
    "streaming.rows_per_batch" -> "count",
    "streaming.batch_ms.p50" -> "ms",
    "streaming.batch_ms.p99" -> "ms",
    "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms",
    "streaming.add_batch_ms" -> "ms",
    "streaming.jobs_per_batch" -> "count",
    "streaming.tasks_per_batch" -> "count",
    "streaming.backfill_batches" -> "count",
    "streaming.backfill_add_batch_ms" -> "ms",
    "streaming.replay_batches" -> "count",
    "streaming.replay_batch_ms" -> "ms",
    "cdc.rows_in" -> "count",
    "cdc.valid_ratio" -> "ratio",
    "cdc.scan_job_ms" -> "ms",
    "enrich.broadcast_build_ms" -> "ms",
    "enrich.broadcast_bytes" -> "bytes",
    "enrich.hit_ratio" -> "ratio",
    "query.construct_ms" -> "ms",
    "query.plan_ms" -> "ms",
    "query.exec_ms" -> "ms",
    "query.jobs" -> "count",
    "query.stages" -> "count",
    "query.tasks" -> "count",
    "query.task_cpu_ms" -> "ms",
    "query.cpu_util" -> "ratio",
    "query.shuffle_write_bytes" -> "bytes",
    "query.shuffle_read_bytes" -> "bytes",
    "query.spill_bytes" -> "bytes",
    "query.gc_ms" -> "ms",
    "operators.stage_build_s" -> "s",
    "operators.stage_entries" -> "count",
    "self_ms.trigger_wait" -> "ms",
    "self_ms.batch" -> "ms",
    "self_ms.construct" -> "ms",
    "self_ms.plan" -> "ms",
    "self_ms.exec" -> "ms",
    "self_ms.job" -> "ms",
    "self_ms.stage" -> "ms",
    "jvm.gc_ms" -> "ms",
    "jvm.heap_peak_mb" -> "MB",
    "trace.listener_ms" -> "ms",
    "trace.overhead_pct" -> "%")

  /** The full list in `Spec` order; names missing from `values` read 0. */
  def full(values: Map[String, Double]): Seq[(String, Double, String)] = {
    val unknown = values.keySet -- Spec.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics outside the spec: ${unknown.mkString(", ")}")
    Spec.map { case (k, u) => (k, values.getOrElse(k, 0.0), u) }
  }

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)
}
