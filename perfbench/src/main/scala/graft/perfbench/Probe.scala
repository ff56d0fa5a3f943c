package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A Spark job as the scheduler saw it. `request` is the benchmark's
  * request id (a local property set around each timed query); `batchId`
  * is the micro-batch the job ran for, from `streaming.sql.batchId`.
  */
final case class JobRec(
    id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int], name: String,
    request: Option[String], batchId: Option[Long], streamQuery: Option[String])

final case class StageRec(
    id: Int, attempt: Int, name: String, submitMs: Long, endMs: Long, tasks: Int,
    cpuMs: Double, runMs: Double, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long, gcMs: Long)

/** One completed DataFrame action seen by the QueryExecutionListener.
  * `writePath`/`rows`/`bytes`/`files` are set for file-sink writes;
  * `broadcast` holds (build ms, collect ms, bytes) per broadcast exchange.
  */
final case class QeRec(
    seq: Long, func: String, durationMs: Double, planMs: Double,
    phases: Map[String, (Long, Long)],
    writePath: Option[String], rows: Long, bytes: Long, files: Long,
    broadcast: Seq[(Double, Double, Long)])

/** Listeners the benchmark registers on the session under test. The
  * streaming progress listener is always on (visibility latency needs it);
  * the scheduler and query-execution listeners are attached only for a
  * traced run and can be detached for an untraced comparison leg.
  */
final class Probe(spark: SparkSession) {
  private val sc = spark.sparkContext
  val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()
  val jobs     = new ConcurrentLinkedQueue[JobRec]()
  val stages   = new ConcurrentLinkedQueue[StageRec]()
  val qes      = new ConcurrentLinkedQueue[QeRec]()
  private val qeSeq       = new AtomicLong(0)
  private val listenerNs  = new AtomicLong(0)
  private val attached    = new AtomicBoolean(false)
  private val jobStarts   = new java.util.concurrent.ConcurrentHashMap[Int, (SparkListenerJobStart, Long)]()

  private def timed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally listenerNs.addAndGet(System.nanoTime() - t0)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      timed(progress.add(e.progress.name -> e.progress))
  }

  private val schedListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      jobStarts.put(e.jobId, (e, e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      Option(jobStarts.remove(e.jobId)).foreach { case (s, t0) =>
        val p = Option(s.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        val name = prop("spark.job.description")
          .orElse(s.stageInfos.sortBy(_.stageId).lastOption.map(_.name)).getOrElse("")
        jobs.add(JobRec(e.jobId, t0, e.time, s.stageIds, name, prop(Probe.RequestProp),
          prop("streaming.sql.batchId").map(_.toLong), prop("sql.streaming.queryId")))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(StageRec(i.stageId, i.attemptNumber(), i.name,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L), i.numTasks,
        if (m == null) 0.0 else m.executorCpuTime / 1e6,
        if (m == null) 0.0 else m.executorRunTime.toDouble,
        if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
        if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
        if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled,
        if (m == null) 0L else m.jvmGCTime))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      qes.add(Probe.describe(qeSeq.incrementAndGet(), func, qe, durationNs))
    }
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  spark.streams.addListener(streamListener)

  def attach(): Unit = if (attached.compareAndSet(false, true)) {
    sc.addSparkListener(schedListener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = if (attached.compareAndSet(true, false)) {
    drain()
    sc.removeSparkListener(schedListener)
    spark.listenerManager.unregister(qeListener)
  }

  def isAttached: Boolean = attached.get

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.perfbench.BusBridge.waitUntilEmpty(sc)

  def listenerMs: Double = listenerNs.get / 1e6

  def close(): Unit = {
    detach()
    spark.streams.removeListener(streamListener)
  }
}

object Probe {
  val RequestProp = "perfbench.request"

  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val inner: Seq[SparkPlan] = p match {
      case c: CommandResultExec     => Seq(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case _                        => p.children ++ p.subqueries
    }
    p +: inner.flatMap(nodes)
  }

  def describe(seq: Long, func: String, qe: QueryExecution, durationNs: Long): QeRec = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val all = scala.util.Try(nodes(qe.executedPlan)).getOrElse(Nil)
    val write = all.collectFirst {
      case w: DataWritingCommandExec if w.cmd.isInstanceOf[InsertIntoHadoopFsRelationCommand] =>
        def m(k: String) = w.metrics.get(k).map(_.value).getOrElse(0L)
        (w.cmd.asInstanceOf[InsertIntoHadoopFsRelationCommand].outputPath.toString,
          m("numOutputRows"), m("numOutputBytes"), m("numFiles"))
    }
    val bcast = all.collect { case b: BroadcastExchangeExec =>
      def m(k: String) = b.metrics.get(k).map(_.value).getOrElse(0L)
      (m("buildTime").toDouble, m("collectTime").toDouble, m("dataSize"))
    }
    QeRec(seq, func, durationNs / 1e6, phases.values.map { case (a, b) => (b - a).toDouble }.sum, phases,
      write.map(_._1), write.map(_._2).getOrElse(0L), write.map(_._3).getOrElse(0L),
      write.map(_._4).getOrElse(0L), bcast)
  }
}

/** Process-wide JVM figures: peak heap in use (sampled) and GC time. */
final class JvmSampler(periodMs: Long = 20) {
  private val mem = ManagementFactory.getMemoryMXBean
  @volatile private var peak = 0L
  @volatile private var running = true
  private val gc0 = gcMs
  private val t = new Thread(() => {
    while (running) {
      val u = mem.getHeapMemoryUsage.getUsed
      if (u > peak) peak = u
      Thread.sleep(periodMs)
    }
  }, "perfbench-heap-sampler")
  t.setDaemon(true)
  t.start()

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  def gcSinceStartMs: Long = gcMs - gc0
  def peakMb: Double = peak / 1048576.0
  def resetPeak(): Unit = peak = mem.getHeapMemoryUsage.getUsed
  def stop(): Unit = {
    running = false
    t.join()
  }
}
