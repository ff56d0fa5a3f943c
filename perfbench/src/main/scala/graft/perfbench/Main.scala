package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** What one workload run hands back to `Main`. `headline` carries the
  * end-to-end metrics every workload reports (names as in BENCHMARK.json);
  * `named` the workload's own end-to-end figures under their descriptive
  * names; `layers` the per-layer metrics of a traced run.
  */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    headline: Map[String, Double],
    named: Seq[(String, Double, String)],
    layers: Seq[(String, Double, String)],
    spans: Seq[Span],
    notes: Map[String, Any])

/** Everything a workload needs. `setup` times one staging repetition. */
final class Ctx(
    val spark: SparkSession,
    val probe: Probe,
    val jvm: JvmSampler,
    val seed: Long,
    val seconds: Int,
    val trace: Boolean,
    val cpus: Int,
    val work: String,
    val conf: JsonNode,
    val sessionReadyS: Double) {
  def wconf(name: String): JsonNode = conf.get("workloads").get(name)

  /** Runs `stage` `Ctx.SetupRepetitions` times, each into a fresh
    * directory, and returns the last repetition's value with the median
    * staging time plus the session start-up time: the run's `setup_s`.
    */
  def setup[T](stage: String => T): (T, Double) = {
    var out: Option[T] = None
    val times = (1 to Ctx.SetupRepetitions).map { i =>
      val dir = s"$work/stage-$i"
      if (i > 1) Main.deleteTree(new File(s"$work/stage-${i - 1}"))
      val t0 = System.nanoTime()
      out = Some(stage(dir))
      (System.nanoTime() - t0) / 1e9
    }
    (out.get, sessionReadyS + Stats.median(times))
  }
}

object Ctx {
  val SetupRepetitions = 3
}

object Main {
  val HeadlineUnits: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "latency_p50_ms" -> "ms", "latency_tail_ms" -> "ms",
    "throughput_per_s" -> "1/s")

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** (steal, total) CPU jiffies of the host, when /proc/stat exists: the
    * share of CPU the hypervisor gave to other guests during a run, which
    * explains a run that is slower throughout.
    */
  private def cpuJiffies(): Option[(Long, Long)] = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong) finally src.close()
    (if (f.length > 7) f(7) else 0L, f.sum)
  }.toOption

  private def arg(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val t0Ms = sys.env.get("PERFBENCH_T0_MS").map(_.toLong)
      .getOrElse(ProcessHandle.current().info().startInstant().get().toEpochMilli)
    val workload = arg(args, "--workload").getOrElse(sys.error("--workload is required"))
    val seed = arg(args, "--seed").map(_.toLong).getOrElse(1L)
    val seconds = arg(args, "--seconds").map(_.toInt).getOrElse(10)
    val trace = arg(args, "--trace").contains("1")
    val conf = new ObjectMapper().readTree(new File(arg(args, "--config").getOrElse("perfbench/workloads.json")))
    val out = new File(arg(args, "--out").getOrElse(".bench_build/results"))
    out.mkdirs()
    val run = workload match {
      case "cdc"       => Cdc.run _
      case "query_mix" => QueryMix.run _
      case other          => sys.error(s"unknown workload $other")
    }
    val cpus = GraftSession.cpus.toInt
    val work = new File(s".bench_build/work/$workload-${ProcessHandle.current().pid()}").getAbsolutePath
    val spark = GraftSession.builder("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - t0Ms) / 1e3
    val jiffies0 = cpuJiffies()
    val jvm = new JvmSampler()
    val probe = new Probe(spark)
    if (trace) probe.attach()
    val ctx = new Ctx(spark, probe, jvm, seed, seconds, trace, cpus, work, conf, sessionReadyS)
    val o = try run(ctx) finally {
      probe.close()
      jvm.stop()
    }
    val stamp = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "cpus" -> cpus,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576,
      "spark_version" -> spark.version,
      "master" -> spark.sparkContext.master,
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "host_steal_pct" -> (for ((s0, t0) <- jiffies0; (s1, t1) <- cpuJiffies() if t1 > t0)
        yield 100.0 * (s1 - s0) / (t1 - t0)).getOrElse(0.0))
    spark.stop()

    val metrics: Seq[(String, Double, String)] =
      if (trace) o.layers
      else HeadlineUnits.map { case (k, u) => (k, o.headline(k), u) }
    val correct = o.failed == 0 && o.problems.isEmpty
    val tag = s"$workload-seed$seed-trace${if (trace) 1 else 0}"
    val side = Map(
      "stamp" -> stamp, "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "fail_frac" -> o.failed.toDouble / math.max(1L, o.attempted), "problems" -> o.problems,
      "headline" -> o.headline,
      "named" -> o.named.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "per_layer" -> o.layers.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
      "notes" -> o.notes)
    Files.write(new File(out, s"$tag.json").toPath, Json.render(side).getBytes(StandardCharsets.UTF_8))
    if (o.spans.nonEmpty)
      Files.write(new File(out, s"$tag-spans.jsonl").toPath,
        o.spans.map(Spans.toJson).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    deleteTree(new File(work))

    println(s"# perfbench $workload seed=$seed seconds=$seconds trace=${if (trace) 1 else 0} " +
      stamp.map { case (k, v) => s"$k=$v" }.mkString(" "))
    (o.named ++ (if (trace) o.layers else Nil)).foreach { case (k, v, u) => println(f"# $k%-36s $v%14.4f $u") }
    o.problems.foreach(p => println(s"# PROBLEM: $p"))
    println(s"# side file: ${new File(out, s"$tag.json").getPath}")
    val m = metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
    println(Json.render(scala.collection.immutable.ListMap(
      "correct" -> correct, "attempted" -> o.attempted, "failed" -> o.failed,
      "metrics" -> scala.collection.immutable.ListMap(m: _*))))
  }
}
