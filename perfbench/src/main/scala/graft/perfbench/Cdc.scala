package graft.perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import graft.streaming.Pipelines

/** The CDC path end to end, through `Pipelines.startEnrichPipeline` and
  * `Pipelines.startDlqReplay`, in two phases of one session:
  *
  *  - backfill: a pre-staged backlog drained with AvailableNow in
  *    `maxFilesPerTrigger` batches, then the DLQ replayed against a repair
  *    dimension that covers every missed key, until the replay has read
  *    every DLQ row. A small warm-up leg (checked, not timed) comes first.
  *  - trickle: an open loop. One generator thread renames pre-built
  *    envelope files from hidden names into the watched landing directory
  *    on a seeded schedule, at a low and then a high fixed rate, into a
  *    pipeline with a fixed ProcessingTime trigger. A file's visibility
  *    latency runs from its scheduled landing to the commit of the
  *    micro-batch that wrote its rows to a sink.
  */
object Cdc {
  val DimKey = "c_custkey"
  val DimCols = Seq("c_name", "c_nationkey", "c_acctbal", "c_mktsegment")

  final case class Step(name: String, filesPerS: Double, rowsPerFile: Int, files: Int, firstVersion: Long,
      untraced: Boolean = false)

  /** Files of the trickle warm-up (at the `lo` rate) and of the backfill
    * warm-up leg.
    */
  val TrickleWarmupFiles = 15
  val BackfillWarmupFiles = 2

  /** The tail percentile a measured trickle step must support on its own. */
  val StepTailPercentile = 85.0

  final case class Staged(dimPath: String, repairPath: String, landing: String,
      backlog: String, backlogFiles: Int, warmup: String, warmupFiles: Int)

  /** Wall clock with sub-millisecond resolution. */
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def startMs(p: StreamingQueryProgress): Double = Instant.parse(p.timestamp).toEpochMilli.toDouble
  def commitMs(p: StreamingQueryProgress): Double =
    startMs(p) + Option(p.durationMs.get("triggerExecution")).map(_.toDouble).getOrElse(0.0)
  def phase(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  def progressOf(probe: Probe, name: String): Seq[StreamingQueryProgress] =
    probe.progress.asScala.toSeq.filter(_._1 == name).map(_._2)
      .groupBy(_.batchId).values.map(_.last).toSeq.sortBy(_.batchId)

  private def rowsSeen(probe: Probe, name: String): Long =
    probe.progress.asScala.iterator.filter(_._1 == name).map(_._2.numInputRows).sum

  private def source(spark: SparkSession, dir: String, maxFiles: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(Gen.envelopeSchema)
    maxFiles.fold(r)(m => r.option("maxFilesPerTrigger", m.toLong)).parquet(dir)
  }

  /** Waits until `name` has read `rows` input rows; false on timeout. */
  private def awaitRows(probe: Probe, name: String, rows: Long, timeoutS: Double): Boolean = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (rowsSeen(probe, name) < rows && System.nanoTime() < deadline) Thread.sleep(10)
    rowsSeen(probe, name) >= rows
  }

  def stage(ctx: Ctx, dir: String, steps: Seq[Step], bfFiles: Int, warmFiles: Int, bfRows: Int, bfMiss: Double,
      trickleMiss: Double, dimSf: Double): Staged = {
    val spark = ctx.spark
    val dim = Gen.customer(spark, dimSf, ctx.seed)
    dim.write.parquet(s"$dir/dim")
    val n = Gen.rows("customer", dimSf)
    // the repair dimension: the dimension plus every key a miss can carry
    dim.unionByName(spark.range(n, 2 * n - 1).select(
      col("id").as("c_custkey"), format_string("Repair#%09d", col("id")).as("c_name"),
      Gen.uInt(ctx.seed, "r_nation", col("id"), 25).as("c_nationkey"),
      round(Gen.u(ctx.seed, "r_bal", col("id")) * 1000.0, 2).as("c_acctbal"),
      lit("REPAIRED").as("c_mktsegment"))).coalesce(1).write.parquet(s"$dir/repair")
    val landing = s"$dir/landing"
    steps.foreach { s =>
      Envelopes.writeFiles(landing, s".${s.name}-", s.firstVersion, s.files, s.rowsPerFile,
        ctx.seed, n, trickleMiss, ctx.cpus)
    }
    Envelopes.writeFiles(s"$dir/backlog", "b-", BacklogFirstVersion, bfFiles, bfRows,
      ctx.seed, n, bfMiss, ctx.cpus)
    Envelopes.writeFiles(s"$dir/warmup", "w-", WarmupFirstVersion, warmFiles, bfRows,
      ctx.seed, n, bfMiss, ctx.cpus)
    Staged(s"$dir/dim", s"$dir/repair", landing, s"$dir/backlog", bfFiles, s"$dir/warmup", warmFiles)
  }

  val BacklogFirstVersion = 1000000000L
  val WarmupFirstVersion = 2000000000L

  // ---------------------------------------------------------------- run

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val c = ctx.wconf("cdc")
    val t = c.get("trickle")
    val b = c.get("backfill")
    // step sizes follow --seconds: each measured step lasts half of it
    val stepConf = t.get("steps").elements().asScala.toSeq
    var next = 1L
    def mkStep(name: String, rate: Double, rows: Int, files: Int, untraced: Boolean = false): Step = {
      val s = Step(name, rate, rows, files, next, untraced)
      next += files.toLong * rows
      s
    }
    val measuredConf = stepConf.map { s =>
      val rate = s.get("files_per_s").asDouble()
      val files = math.round(rate * ctx.seconds / 2.0).toInt
      require(Stats.tailPercentile(files).exists(_ >= StepTailPercentile),
        s"step ${s.get("name").asText()} lands $files files in ${ctx.seconds / 2.0} s; too few for a " +
          f"p$StepTailPercentile%.0f with ${Stats.MinBeyond} samples beyond it")
      (s.get("name").asText(), rate, s.get("rows_per_file").asInt(), files)
    }
    val (loName, loRate, loRows, loFiles) = measuredConf.head
    def measuredStep(m: (String, Double, Int, Int)): Step = mkStep(m._1, m._2, m._3, m._4)
    // a traced run also lands the first measured step's rate with the
    // scheduler listeners detached, half before and half after the traced
    // step, so that drift across the run (JIT, landing-directory size)
    // weighs on both sides alike: what is left is what tracing costs
    val allSteps = mkStep("warm", loRate, loRows, TrickleWarmupFiles) +: (
      if (ctx.trace)
        Seq(mkStep(loName + "_untraced_a", loRate, loRows, loFiles / 2, untraced = true),
          measuredStep(measuredConf.head),
          mkStep(loName + "_untraced_b", loRate, loRows, loFiles - loFiles / 2, untraced = true)) ++
          measuredConf.tail.map(measuredStep)
      else measuredConf.map(measuredStep))
    val dimSf = c.get("dimension_sf").asDouble()
    val (st, setupS) = ctx.setup { d =>
      stage(ctx, d, allSteps, b.get("backlog_files").asInt(), BackfillWarmupFiles, b.get("rows_per_file").asInt(),
        b.get("miss_share").asDouble(), t.get("miss_share").asDouble(), dimSf)
    }
    val dimRows = Gen.rows("customer", dimSf)
    val phaseS = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = nowMs
    def lap(what: String): Unit = { val n = nowMs; phaseS(what) = phaseS.getOrElse(what, 0.0) + (n - mark) / 1e3; mark = n }
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    var violations = 0L
    var envelopes = 0L
    ctx.jvm.resetPeak()

    // ----------------------------------------------------------- backfill
    // backfill runs first: a warm-up leg over a small backlog (checked, not
    // timed), which also brings the JIT up to speed for the trickle's small
    // batches, then the measured leg, each on a fresh checkpoint and sinks
    val perFile = b.get("rows_per_file").asInt()
    final case class Leg(k: Int, drainMs: Double, dlqRows: Long, replayMs: Double)
    def leg(k: Int, backlog: String, files: Int): Leg = {
      val w = s"${ctx.work}/backfill/c$k"
      val name = s"cdc_backfill_c$k"
      val d0 = nowMs
      val bq = Pipelines.startEnrichPipeline(name,
        source(spark, backlog, Some(b.get("max_files_per_trigger").asInt())),
        () => spark.read.parquet(st.dimPath), DimKey, DimCols,
        s"$w/ok", s"$w/dlq", s"$w/ckpt", Trigger.AvailableNow())
      bq.awaitTermination()
      val d1 = nowMs
      ctx.probe.drain()
      val fb = SourceLog.read(s"$w/ckpt")
      if (fb.size != files) problems += s"backfill c$k: source log lists ${fb.size} of $files files"
      lap("backfill_drain")
      val dlqRows = spark.read.parquet(s"$w/dlq").count()
      val rname = s"cdc_replay_c$k"
      val r0 = nowMs
      val rq = Pipelines.startDlqReplay(rname, spark, s"$w/dlq", Gen.envelopeSchema,
        () => spark.read.parquet(st.repairPath), DimKey, DimCols, s"$w/ok", s"$w/rckpt",
        b.get("replay_max_files_per_trigger").asInt())
      val replayed = awaitRows(ctx.probe, rname, dlqRows, 60)
      rq.stop()
      ctx.probe.drain()
      if (!replayed) problems += s"backfill c$k: replay did not read all $dlqRows DLQ rows within 60 s"
      val rEnd = progressOf(ctx.probe, rname).filter(_.numInputRows > 0).map(commitMs).foldLeft(r0)(math.max)
      lap("backfill_replay")
      Leg(k, d1 - d0, dlqRows, rEnd - r0)
    }
    def checkLeg(l: Leg, first: Long, rows: Long): Unit = {
      val (v, p) = SinkCheck.check(Seq(s"${ctx.work}/backfill/c${l.k}"),
        SinkCheck.Input(first, rows, ctx.seed, dimRows, b.get("miss_share").asDouble()),
        st.dimPath, Some(st.repairPath))
      violations += v
      envelopes += rows
      p.foreach(x => problems += s"backfill: $x")
    }
    val warmLeg = leg(0, st.warmup, st.warmupFiles)
    val bf = leg(1, st.backlog, st.backlogFiles)
    val bfRows = st.backlogFiles.toLong * perFile
    checkLeg(warmLeg, WarmupFirstVersion, st.warmupFiles.toLong * perFile)
    checkLeg(bf, BacklogFirstVersion, bfRows)
    lap("backfill_check")

    // ------------------------------------------------------------ trickle
    val triggerMs = t.get("trigger_ms").asLong()
    val tw = s"${ctx.work}/trickle"
    val rng = new scala.util.Random(ctx.seed)
    final case class Land(step: Int, name: String, hidden: String, schedMs: Double)
    // A pause of one trigger interval before each measured step: the
    // previous step's last batch starts before the step's first file lands,
    // so every step starts from an empty backlog. Arrivals are
    // jittered-periodic: one file at a uniformly drawn time in each 1/rate
    // slot, so a step samples the trigger phase evenly and its median wait
    // does not hang on where a run's bursts fell.
    val settleMs = triggerMs.toDouble
    val stepStart = new Array[Double](allSteps.size)
    val lands = {
      var at = 0.0
      allSteps.zipWithIndex.flatMap { case (s, si) =>
        if (si > 0) at += settleMs
        stepStart(si) = at
        val slot = 1000.0 / s.filesPerS
        at += s.files * slot
        (0 until s.files).map { f =>
          val name = f"${s.name}-$f%06d.parquet"
          Land(si, name, "." + name, stepStart(si) + (f + rng.nextDouble()) * slot)
        }
      }
    }.toIndexedSeq
    val trickleRows = allSteps.map(s => s.files.toLong * s.rowsPerFile).sum
    val q = Pipelines.startEnrichPipeline("cdc_trickle", source(spark, st.landing, None),
      () => spark.read.parquet(st.dimPath), DimKey, DimCols,
      s"$tw/ok", s"$tw/dlq", s"$tw/ckpt", Trigger.ProcessingTime(triggerMs))
    val actual = new Array[Double](lands.size)
    val t0 = nowMs + 500.0
    val gen = new Thread(() => {
      lands.zipWithIndex.foreach { case (l, i) =>
        val target = t0 + l.schedMs
        var now = nowMs
        while (now < target) {
          LockSupport.parkNanos(((target - now) * 1e6).toLong.max(20000L))
          now = nowMs
        }
        Files.move(new File(st.landing, l.hidden).toPath, new File(st.landing, l.name).toPath,
          StandardCopyOption.ATOMIC_MOVE)
        actual(i) = nowMs
      }
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    // a traced run switches the scheduler listeners off for the untraced
    // step and on again after it, halfway through the pause before a step
    if (ctx.trace) allSteps.indices.drop(1).foreach { si =>
      val at = t0 + stepStart(si) - settleMs / 2
      while (nowMs < at && gen.isAlive) Thread.sleep(2)
      if (allSteps(si).untraced) ctx.probe.detach() else ctx.probe.attach()
    }
    gen.join()
    val drained = awaitRows(ctx.probe, "cdc_trickle", trickleRows, 60)
    q.stop()
    if (!drained) problems += s"trickle: pipeline did not read all $trickleRows rows within 60 s of the last landing"
    ctx.probe.drain()
    if (ctx.trace) ctx.probe.attach()
    val tProg = progressOf(ctx.probe, "cdc_trickle")
    val byBatch = tProg.map(p => p.batchId -> p).toMap
    val fileBatch = SourceLog.read(s"$tw/ckpt")
    val sched = lands.map(l => t0 + l.schedMs)
    val latency = lands.indices.map { i =>
      fileBatch.get(lands(i).name).flatMap(byBatch.get).map(p => commitMs(p) - sched(i)).getOrElse(Double.NaN)
    }
    val unseen = latency.count(_.isNaN)
    if (unseen > 0) problems += s"trickle: $unseen landed files have no committed batch"
    // a late generator means the run was not the open loop it claims
    val lateness = lands.indices.map(i => actual(i) - sched(i))
    val lateP99 = Stats.percentile(lateness, 99)
    val lateLimit = ctx.conf.get("generator_lateness_limit_ms").asDouble()
    if (lateP99 > lateLimit)
      problems += f"trickle: generator lateness p99 $lateP99%.1f ms is over the $lateLimit%.0f ms limit"
    // backlog (landed, not yet in a started batch) at each batch start
    val batchOfFile = lands.map(l => fileBatch.getOrElse(l.name, Long.MaxValue))
    val sortedActual = actual.sorted
    val backlog = tProg.map { p =>
      val ts = startMs(p)
      val landedBy = java.util.Arrays.binarySearch(sortedActual, ts) match {
        case k if k >= 0 => k + 1
        case k => -k - 1
      }
      p.batchId -> (landedBy - batchOfFile.count(_ < p.batchId))
    }
    val backlogOf = backlog.toMap
    def stepLat(si: Int) = lands.indices.filter(i => lands(i).step == si && !latency(i).isNaN).map(latency)
    val measured = allSteps.indices.drop(1).filterNot(allSteps(_).untraced)
    // A step's backlog has grown when, past the step's first batch (which
    // starts from the previous step's level), its last third of batches
    // starts with more than one trigger interval's worth of arrivals above
    // its first third.
    val batchMs = Layers.p50(tProg.filter(_.numInputRows > 0).map(phase(_, "triggerExecution")))
    allSteps.indices.drop(1).foreach { si =>
      val s = allSteps(si)
      val from = t0 + lands.find(_.step == si).get.schedMs
      val to = t0 + lands.filter(_.step == si).last.schedMs
      val series = tProg.filter(p => startMs(p) >= from && startMs(p) <= to).map(p => backlogOf(p.batchId).toDouble).drop(1)
      if (series.size >= 3) {
        val third = series.size / 3
        val (head, tail) = (Layers.mean(series.take(third)), Layers.mean(series.takeRight(third)))
        if (tail > head + math.max(10.0, s.filesPerS * math.max(triggerMs, batchMs) / 1000.0))
          problems += f"trickle ${s.name}: backlog grew from $head%.1f to $tail%.1f files"
      }
    }
    lap("trickle")
    val (tv, tp) = SinkCheck.check(Seq(tw),
      SinkCheck.Input(allSteps.head.firstVersion, trickleRows, ctx.seed, dimRows, t.get("miss_share").asDouble()),
      st.dimPath, None)
    violations += tv
    envelopes += trickleRows
    tp.foreach(p => problems += s"trickle: $p")
    lap("trickle_check")

    val measuredLat = measured.flatMap(stepLat)
    val (tailP, tailV) = Stats.tail(measuredLat)
    val tailMean = Stats.tailMean(measuredLat)._2
    val backfillRps = bfRows / (bf.drainMs / 1e3)
    val replayRps = bf.dlqRows / (bf.replayMs / 1e3)
    val headline = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.hd(measuredLat, 50),
      "latency_tail_ms" -> tailMean,
      "throughput_per_s" -> backfillRps)
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("fail_frac", violations.toDouble / envelopes, "ratio"),
      ("heap_peak_mb", ctx.jvm.peakMb, "MB")) ++
      measured.flatMap { si =>
        val l = stepLat(si)
        val nm = allSteps(si).name
        val (p, v) = Stats.tail(l)
        Seq((s"visible_p50_ms.$nm", Stats.hd(l, 50), "ms"), (f"visible_p$p%.0f_ms.$nm", v, "ms"))
      } ++ Seq(
      ("backfill_rps", backfillRps, "1/s"),
      ("replay_rps", replayRps, "1/s"),
      ("gen_late_ms.p99", lateP99, "ms"),
      ("visible_all_p50_ms", Stats.hd(measuredLat, 50), "ms"),
      (f"visible_all_p$tailP%.0f_ms", tailV, "ms"),
      ("visible_tail_mean_ms", tailMean, "ms"))
    val (layers, spans) =
      if (ctx.trace) {
        val lo = allSteps.indexWhere(s => s.name == loName)
        val loUntraced = allSteps.indices.filter(allSteps(_).untraced).flatMap(stepLat)
        CdcLayers.of(ctx, lands.map(l => (l.step, l.name, t0 + l.schedMs)),
          fileBatch, tProg, backlog.map(_._2.toDouble), Seq(bf.k), stepLat(lo), loUntraced)
      } else (Nil, Nil)
    Outcome(
      attempted = envelopes,
      failed = violations,
      problems = problems.toSeq,
      headline = headline, named = named, layers = layers, spans = spans,
      notes = Map(
        "steps" -> allSteps.map(s => Map("name" -> s.name, "files_per_s" -> s.filesPerS,
          "rows_per_file" -> s.rowsPerFile, "files" -> s.files, "untraced" -> s.untraced)),
        "trigger_ms" -> triggerMs, "settle_ms" -> settleMs, "tail_percentile" -> tailP, "phase_s" -> phaseS,
        "trickle_batches" -> tProg.map(p => Map("batch" -> p.batchId, "start_ms" -> (startMs(p) - t0),
          "rows" -> p.numInputRows, "duration_ms" -> p.durationMs.asScala.toMap.map { case (k, v) => k -> v.longValue })),
        "backlog_files_max" -> (if (backlog.isEmpty) 0 else backlog.map(_._2).max),
        "backfill_legs" -> Seq(warmLeg, bf).map(l => Map("leg" -> l.k, "timed" -> (l.k == bf.k),
          "drain_ms" -> l.drainMs, "dlq_rows" -> l.dlqRows, "replay_ms" -> l.replayMs))))
  }
}
