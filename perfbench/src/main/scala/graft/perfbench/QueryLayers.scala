package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.operators.SessionStageCache

/** Per-layer figures and spans of a traced query_mix run: each execution is
  * a request with the chain query → construct / plan / exec → job → stage.
  */
object QueryLayers {

  def of(ctx: Ctx, execs: Seq[QueryMix.Exec], coldS: Double): (Seq[(String, Double, String)], Seq[Span]) = {
    ctx.probe.drain()
    val jobs = ctx.probe.jobs.asScala.toSeq
    val stages = ctx.probe.stages.asScala.toSeq.groupBy(_.id).map { case (k, v) => k -> v.maxBy(_.attempt) }
    val qes = ctx.probe.qes.asScala.toSeq
    val jobsByReq = jobs.filter(_.request.isDefined).groupBy(_.request.get)
    val traced = execs.filter(e => e.traced && e.ok)

    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    final case class Fig(construct: Double, plan: Double, exec: Double, jobs: Int, stages: Int, tasks: Int,
        cpu: Double, shW: Double, shR: Double, spill: Double, gc: Double)
    val figs = traced.map { e =>
      val req = s"${e.query}#${e.round}"
      val qSpan = Span(s"q:$req", "query", "query", e.startMs.toDouble, e.endMs.toDouble, None, req)
      val cEnd = e.startMs + e.constructMs
      val cSpan = Span(s"c:$req", "construct", "construct", e.startMs.toDouble, cEnd, Some(qSpan.id), req)
      val xSpan = Span(s"x:$req", "exec", "exec", cEnd, e.endMs.toDouble, Some(qSpan.id), req)
      val mine = qes.filter(q => q.phases.values.exists { case (a, b) => a >= e.startMs - 1 && b <= e.endMs + 1 })
      // one span per planning phase of every action in the window (an
      // action analysed in construct may be optimised and planned in exec)
      val planSpans = mine.flatMap { q =>
        q.phases.toSeq.map { case (phase, (a, b)) =>
          Span(s"p:$req:${q.seq}:$phase", phase, "plan", a.toDouble, b.toDouble,
            Some(if (a >= cEnd) xSpan.id else cSpan.id), req)
        }
      }
      val js = jobsByReq.getOrElse(req, Nil)
      val jobSpans = js.map { j =>
        val parent = if (j.startMs >= cEnd) xSpan.id else cSpan.id
        Span(s"j:${j.id}", j.name.take(80), "job", j.startMs.toDouble, j.endMs.toDouble, Some(parent), req)
      }
      val st = js.flatMap(j => j.stageIds.flatMap(stages.get).map(j -> _)).distinctBy(_._2.id)
      val stageSpans = st.map { case (j, s) =>
        Span(s"s:${s.id}", s.name.take(80), "stage", s.submitMs.toDouble, s.endMs.toDouble, Some(s"j:${j.id}"), req)
      }
      spans ++= Seq(qSpan, cSpan, xSpan) ++ planSpans ++ jobSpans ++ stageSpans
      val execPlan = mine.flatMap(_.phases.values).filter(_._1 >= cEnd).map { case (a, b) => (b - a).toDouble }.sum
      val ss = st.map(_._2)
      (e, Fig(e.constructMs, mine.map(_.planMs).sum, math.max(0.0, e.runMs - execPlan), js.size, ss.size,
        ss.map(_.tasks).sum, ss.map(_.cpuMs).sum, ss.map(_.shuffleWriteBytes.toDouble).sum,
        ss.map(_.shuffleReadBytes.toDouble).sum, ss.map(_.spillBytes.toDouble).sum, ss.map(_.gcMs.toDouble).sum))
    }
    val warmFigs = figs.filter(_._1.round > 0).map(_._2)
    val self = Spans.selfTimes(spans.toSeq)
    val warmReqs = traced.filter(_.round > 0).map(e => s"${e.query}#${e.round}").toSet
    def selfMean(layer: String): Double =
      if (warmReqs.isEmpty) 0.0
      else spans.filter(s => s.layer == layer && warmReqs(s.request)).map(s => self(s.id)).sum / warmReqs.size
    // each query's traced against its untraced warm executions, summed
    // over the queries that have both
    val pairs = execs.filter(e => e.round > 0 && e.ok).groupBy(_.query).values.toSeq.flatMap { es =>
      val (on, off) = es.partition(_.traced)
      if (on.isEmpty || off.isEmpty) None else Some((Stats.median(on.map(_.wallMs)), Stats.median(off.map(_.wallMs))))
    }
    val overhead = if (pairs.isEmpty) 0.0 else (pairs.map(_._1).sum / pairs.map(_._2).sum - 1) * 100
    val m = Layers.mean _
    val values = Map(
      "query.construct_ms" -> m(warmFigs.map(_.construct)),
      "query.plan_ms" -> m(warmFigs.map(_.plan)),
      "query.exec_ms" -> m(warmFigs.map(_.exec)),
      "query.jobs" -> m(warmFigs.map(_.jobs.toDouble)),
      "query.stages" -> m(warmFigs.map(_.stages.toDouble)),
      "query.tasks" -> m(warmFigs.map(_.tasks.toDouble)),
      "query.task_cpu_ms" -> m(warmFigs.map(_.cpu)),
      "query.cpu_util" -> Layers.p50(warmFigs.filter(_.exec > 0).map(f => f.cpu / (f.exec * ctx.cpus))),
      "query.shuffle_write_bytes" -> m(warmFigs.map(_.shW)),
      "query.shuffle_read_bytes" -> m(warmFigs.map(_.shR)),
      "query.spill_bytes" -> m(warmFigs.map(_.spill)),
      "query.gc_ms" -> m(warmFigs.map(_.gc)),
      "operators.stage_build_s" -> execs.filter(_.round == 0).map(_.stageBuildMs).sum / 1e3,
      "operators.stage_entries" -> SessionStageCache.protectedIds.size.toDouble,
      "self_ms.construct" -> selfMean("construct"),
      "self_ms.plan" -> selfMean("plan"),
      "self_ms.exec" -> selfMean("exec"),
      "self_ms.job" -> selfMean("job"),
      "self_ms.stage" -> selfMean("stage"),
      "jvm.gc_ms" -> ctx.jvm.gcSinceStartMs.toDouble,
      "jvm.heap_peak_mb" -> ctx.jvm.peakMb,
      "trace.listener_ms" -> ctx.probe.listenerMs,
      "trace.overhead_pct" -> overhead)
    (Layers.full(values), spans.toSeq)
  }
}
