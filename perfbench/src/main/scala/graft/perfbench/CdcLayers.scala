package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer figures and spans of a traced cdc run. Each landed file is a
  * request: its `land` span runs from the scheduled landing to the commit of
  * its micro-batch, with a `trigger_wait` child up to the batch start. A
  * batch serves many files, so batch spans stand on their own (request
  * `<query>:<batch id>`) with the chain batch → job → stage below them; the
  * file→batch map in the side file links the two.
  */
object CdcLayers {
  import Cdc.{commitMs, phase, progressOf, startMs}

  def of(
      ctx: Ctx,
      lands: IndexedSeq[(Int, String, Double)],
      fileBatch: Map[String, Long],
      trickle: Seq[StreamingQueryProgress],
      backlog: Seq[Double],
      legs: Seq[Int],
      loTraced: Seq[Double],
      loUntraced: Seq[Double]): (Seq[(String, Double, String)], Seq[Span]) = {
    ctx.probe.drain()
    val jobs = ctx.probe.jobs.asScala.toSeq.filter(j => j.batchId.isDefined && j.streamQuery.isDefined)
    val stages = ctx.probe.stages.asScala.toSeq.groupBy(_.id).map { case (k, v) => k -> v.maxBy(_.attempt) }
    val qes = ctx.probe.qes.asScala.toSeq.filter(_.writePath.isDefined)
    val jobsOf = jobs.groupBy(j => (j.streamQuery.get, j.batchId.get))
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]

    def batchSpans(name: String, ps: Seq[StreamingQueryProgress]): Seq[(StreamingQueryProgress, Seq[JobRec])] =
      ps.flatMap { p =>
        jobsOf.get((p.id.toString, p.batchId)).map { js =>
          val req = s"$name:${p.batchId}"
          val bId = s"b:$req"
          spans += Span(bId, "batch", "batch", startMs(p), commitMs(p), None, req)
          js.foreach { j =>
            spans += Span(s"j:${j.id}", j.name.take(80), "job", j.startMs.toDouble, j.endMs.toDouble, Some(bId), req)
            j.stageIds.flatMap(stages.get).foreach { s =>
              spans += Span(s"s:${s.id}:${j.id}", s.name.take(80), "stage", s.submitMs.toDouble, s.endMs.toDouble,
                Some(s"j:${j.id}"), req)
            }
          }
          p -> js
        }
      }

    // trickle: traced batches are those whose jobs the scheduler listener saw
    val tTraced = batchSpans("cdc_trickle", trickle)
    val tracedBatches = tTraced.map(_._1.batchId).toSet
    val byBatch = trickle.map(p => p.batchId -> p).toMap
    var waits = Vector.empty[Double]
    lands.indices.foreach { i =>
      val (_, name, sched) = lands(i)
      fileBatch.get(name).filter(tracedBatches).flatMap(byBatch.get).foreach { p =>
        val id = s"l:$name"
        spans += Span(id, "land", "land", sched, commitMs(p), None, name)
        spans += Span(s"w:$name", "trigger_wait", "trigger_wait", sched, startMs(p), Some(id), name)
        waits :+= math.max(0.0, startMs(p) - sched)
      }
    }
    def tasksOf(js: Seq[JobRec]): Double = js.flatMap(_.stageIds.flatMap(stages.get)).map(_.tasks).sum.toDouble

    // the timed backfill and replay legs
    val bf = legs.flatMap(k => batchSpans(s"cdc_backfill_c$k", progressOf(ctx.probe, s"cdc_backfill_c$k")))
    val allBf = legs.flatMap(k => progressOf(ctx.probe, s"cdc_backfill_c$k"))
    val replay = legs.map(k => progressOf(ctx.probe, s"cdc_replay_c$k").filter(_.numInputRows > 0))
    def writes(k: Int, sink: String) =
      qes.filter(q => q.writePath.exists(_.contains(s"/backfill/c$k/$sink/batch=")) &&
        !q.writePath.exists(_.contains("batch=replay-")))
    val okW = legs.flatMap(writes(_, "ok"))
    val dlqW = legs.flatMap(writes(_, "dlq"))
    val okRows = okW.map(_.rows).sum.toDouble
    val dlqRows = dlqW.map(_.rows).sum.toDouble
    val bfIn = legs.flatMap(k => progressOf(ctx.probe, s"cdc_backfill_c$k")).map(_.numInputRows).sum.toDouble
    val bcast = (okW ++ dlqW).flatMap(_.broadcast)

    val self = Spans.selfTimes(spans.toSeq)
    def selfPerBatch(layer: String): Double = {
      val n = tTraced.size
      if (n == 0) 0.0
      else spans.filter(s => s.layer == layer && s.request.startsWith("cdc_trickle:")).map(s => self(s.id)).sum / n
    }
    val p50 = Layers.p50 _
    val data = trickle.filter(_.numInputRows > 0)
    val values = Map(
      "sources.latest_offset_ms" -> p50(data.map(phase(_, "latestOffset"))),
      "sources.get_batch_ms" -> p50(data.map(phase(_, "getBatch"))),
      "sources.backlog_files_max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "sinks.files_per_batch" -> (if (bf.isEmpty) 0.0 else (okW ++ dlqW).map(_.files).sum.toDouble / bf.size),
      "sinks.bytes_written" -> (if (legs.isEmpty) 0.0 else (okW ++ dlqW).map(_.bytes).sum.toDouble / legs.size),
      "sinks.dlq_write_job_ms" -> p50(dlqW.map(_.durationMs)),
      "streaming.batches" -> data.size.toDouble,
      "streaming.rows_per_batch" -> Layers.mean(data.map(_.numInputRows.toDouble)),
      "streaming.batch_ms.p50" -> p50(data.map(phase(_, "triggerExecution"))),
      "streaming.batch_ms.p99" -> (if (data.isEmpty) 0.0 else Stats.percentile(data.map(phase(_, "triggerExecution")), 99)),
      "streaming.wal_commit_ms" -> p50(data.map(phase(_, "walCommit"))),
      "streaming.commit_offsets_ms" -> p50(data.map(phase(_, "commitOffsets"))),
      "streaming.query_planning_ms" -> p50(data.map(phase(_, "queryPlanning"))),
      "streaming.add_batch_ms" -> p50(data.map(phase(_, "addBatch"))),
      "streaming.jobs_per_batch" -> Layers.mean(tTraced.map(_._2.size.toDouble)),
      "streaming.tasks_per_batch" -> Layers.mean(tTraced.map(x => tasksOf(x._2))),
      "streaming.backfill_batches" -> allBf.size.toDouble / math.max(1, legs.size),
      "streaming.backfill_add_batch_ms" -> p50(allBf.map(phase(_, "addBatch"))),
      "streaming.replay_batches" -> replay.map(_.size).sum.toDouble / math.max(1, legs.size),
      "streaming.replay_batch_ms" -> p50(replay.flatten.map(phase(_, "triggerExecution"))),
      "cdc.rows_in" -> (trickle ++ allBf).map(_.numInputRows.toDouble).sum,
      "cdc.valid_ratio" -> (if (bfIn == 0) 0.0 else (okRows + dlqRows) / bfIn),
      "cdc.scan_job_ms" -> p50(okW.map(_.durationMs)),
      "enrich.broadcast_build_ms" -> p50(bcast.map(b => b._1 + b._2)),
      "enrich.broadcast_bytes" -> p50(bcast.map(_._3.toDouble)),
      "enrich.hit_ratio" -> (if (okRows + dlqRows == 0) 0.0 else okRows / (okRows + dlqRows)),
      "self_ms.trigger_wait" -> Layers.mean(waits),
      "self_ms.batch" -> selfPerBatch("batch"),
      "self_ms.job" -> selfPerBatch("job"),
      "self_ms.stage" -> selfPerBatch("stage"),
      "jvm.gc_ms" -> ctx.jvm.gcSinceStartMs.toDouble,
      "jvm.heap_peak_mb" -> ctx.jvm.peakMb,
      "trace.listener_ms" -> ctx.probe.listenerMs,
      "trace.overhead_pct" ->
        (if (loTraced.isEmpty || loUntraced.isEmpty) 0.0
         else (Stats.median(loTraced) / Stats.median(loUntraced) - 1) * 100))
    (Layers.full(values), spans.toSeq)
  }
}
