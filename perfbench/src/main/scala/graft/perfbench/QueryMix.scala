package graft.perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.operators.SessionStageCache

/** Closed loop, one client: a committed list of registered batch queries,
  * one cold round and then warm rounds in one session. The seed sets only
  * the execution order. Warm executions are forced through the `noop` sink;
  * the cold round collects each result instead and checks its digest
  * against the committed one, so the output check costs no extra pass.
  */
object QueryMix {

  /** Warm rounds per run: two rounds of the 30 queries give 60 warm
    * executions, enough for a p80 with ten samples beyond it.
    */
  val WarmRounds = 2

  final case class Exec(query: String, round: Int, constructMs: Double, runMs: Double,
      stageBuildMs: Double, traced: Boolean, ok: Boolean, startMs: Long, endMs: Long) {
    def wallMs: Double = constructMs + runMs
  }

  /** Drops blocks a query left cached so the next query's time does not
    * depend on its neighbour; the session's shared stages stay.
    */
  private def sweep(spark: SparkSession, before: Set[Int]): Unit = {
    val keep = SessionStageCache.protectedIds ++ before
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) rdd.unpersist(blocking = true)
    }
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val c = ctx.wconf("query_mix")
    val sf = c.get("sf").asDouble()
    val dataSeed = c.get("data_seed").asLong()
    val list = c.get("queries").elements().asScala.map(q => q.get("name").asText() -> q.get("digest").asText()).toIndexedSeq
    val (dir, setupS) = ctx.setup { d => Gen.tables(spark, d, sf, dataSeed, ctx.cpus); d }

    val execs = scala.collection.mutable.ArrayBuffer.empty[Exec]
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    val digests = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def one(q: String, round: Int): Exec = {
      val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
      spark.sparkContext.setLocalProperty(Probe.RequestProp, s"$q#$round")
      SessionStageCache.drainBuildNanos()
      val s0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var t1 = t0
      val ok = try {
        val df = SparkEntry.queries(q)(spark, dir)
        t1 = System.nanoTime()
        if (round == 0) digests(q) = Digest.of(df.columns.toSeq, df.collect().toSeq)
        else df.write.format("noop").mode("overwrite").save()
        true
      } catch {
        case e: Throwable =>
          problems += s"$q (round $round) failed: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}"
          false
      }
      val t2 = System.nanoTime()
      val e = Exec(q, round, (t1 - t0) / 1e6, (t2 - t1) / 1e6, SessionStageCache.drainBuildNanos() / 1e6,
        ctx.probe.isAttached, ok, s0, System.currentTimeMillis())
      spark.sparkContext.setLocalProperty(Probe.RequestProp, null)
      if (ctx.probe.isAttached) ctx.probe.drain()
      sweep(spark, before)
      execs += e
      e
    }
    val place = list.map(_._1).zipWithIndex.toMap
    def order(round: Int): Seq[String] =
      new scala.util.Random(ctx.seed * 1000003L + round).shuffle(list.map(_._1))

    ctx.jvm.resetPeak()
    val tStart = System.nanoTime()
    val cold = order(0).map(one(_, 0))
    val coldS = cold.map(_.wallMs).sum / 1e3
    // warm rounds: at least `WarmRounds` and at least --seconds of
    // measuring. A traced run traces half of the queries in one round and
    // the other half in the next (by their place in the list), so that
    // every query runs once traced and once untraced across two rounds:
    // its own control when the overhead is measured
    var round = 1
    while (round <= WarmRounds || (System.nanoTime() - tStart) / 1e9 < ctx.seconds) {
      // start every round from a collected heap (untimed), so a round does
      // not pay for the garbage of the one before
      System.gc()
      order(round).foreach { q =>
        if (ctx.trace) { if ((place(q) + round) % 2 == 0) ctx.probe.attach() else ctx.probe.detach() }
        one(q, round)
      }
      round += 1
    }
    if (ctx.trace) ctx.probe.attach()

    val checked = list.map { case (q, want) => (q, want, digests.getOrElse(q, "no result")) }
    val bad = checked.filter { case (_, w, g) => w != g }
    bad.foreach { case (q, w, g) => problems += s"$q digest $g, expected $w" }

    val warm = execs.toSeq.filter(e => e.round > 0 && e.ok)
    val warmWall = warm.map(_.wallMs)
    val perQuery = warm.groupBy(_.query).map { case (q, es) => q -> Stats.median(es.map(_.wallMs)) }
    // a warm round as the sum of each query's median warm wall: one slow
    // round moves it less than pooling every execution would
    val warmRoundS = perQuery.values.sum / 1e3
    val (tailP, tailV) = Stats.tail(warmWall)
    val tailMean = Stats.tailMean(warmWall)._2
    val headline = Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.hd(warmWall, 50),
      "latency_tail_ms" -> tailMean,
      "throughput_per_s" -> perQuery.size / warmRoundS)
    val named = Seq(
      ("setup_s", setupS, "s"),
      ("fail_frac", (execs.count(!_.ok) + bad.size).toDouble / execs.size, "ratio"),
      ("heap_peak_mb", ctx.jvm.peakMb, "MB"),
      ("mix_cold_s", coldS, "s"),
      ("mix_warm_s", warmRoundS, "s"),
      ("query_p50_s", Stats.hd(warmWall, 50) / 1e3, "s"),
      (f"query_p${tailP}%.0f_s", tailV / 1e3, "s"),
      ("query_tail_mean_s", tailMean / 1e3, "s"),
      ("warm_executions", warm.size.toDouble, "count"))

    val (layers, spans) =
      if (ctx.trace) QueryLayers.of(ctx, execs.toSeq, coldS) else (Nil, Nil)
    Outcome(
      attempted = execs.size,
      failed = execs.count(!_.ok) + bad.size,
      problems = problems.toSeq,
      headline = headline, named = named, layers = layers, spans = spans,
      notes = Map("sf" -> sf, "queries" -> list.size, "rounds" -> round,
        "tail_percentile" -> tailP,
        "digests" -> checked.map { case (q, w, g) => Map("query" -> q, "expected" -> w, "got" -> g) },
        "per_query_warm_ms" -> perQuery,
        "cold_ms" -> cold.map(e => e.query -> e.wallMs).toMap))
  }
}
