package perfbench

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.Bus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval of the benchmark's own calls: an operation, or its
  * `build` / `sink` child. `start` and `end` are epoch milliseconds, the
  * clock Spark stamps its listener events with; `nanos` is the duration on
  * the monotonic clock. `stats` holds what was sampled around the call
  * (codegen counters, cached blocks). */
final case class Span(name: String, kind: String, pass: Int, start: Long, end: Long,
                      nanos: Long, children: Seq[Span] = Nil,
                      stats: Map[String, Double] = Map.empty) {
  def seconds: Double = nanos / 1e9
  /** Duration not covered by the children. */
  def selfSeconds: Double =
    seconds - Stats.coveredWithin(start, end, children.map(c => (c.start, c.end))) / 1000.0
}

object Span {
  /** Run `f`, returning its result and the interval it took. */
  def time[T](f: => T): (T, Long, Long, Long) = {
    val (s, t0) = (System.currentTimeMillis(), System.nanoTime())
    val r = f
    (r, s, System.currentTimeMillis(), System.nanoTime() - t0)
  }
}

final case class JobRec(id: Int, start: Long, end: Long, site: String, stageIds: Seq[Int])
final case class TaskRec(stageId: Int, launch: Long, runMs: Long, cpuNs: Long,
                         gcMs: Long, delayMs: Long, inputBytes: Long,
                         shuffleRead: Long, shuffleWrite: Long, spillBytes: Long,
                         failed: Boolean)
final case class PlanRec(start: Long, analysisMs: Double, optimizationMs: Double,
                         planningMs: Double)

/** In-memory recorder of Spark's scheduler, task and query-planning events
  * while attached; `summarize` turns them into the per-layer metrics. */
final class Tracer(spark: SparkSession) {
  private val jobStarts = mutable.Map.empty[Int, (Long, String, Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageSubmits = mutable.ArrayBuffer.empty[(Int, Long)]
  private val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val execSites = mutable.Map.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val result = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      // jobs that adaptive execution submits from its own threads carry no
      // engine frame; they take the call site of their SQL execution
      val exec = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      val site = exec.flatMap(id => execSites.get(id.toLong)).getOrElse(Tracer.site(result))
      jobStarts(e.jobId) = (e.time, site, e.stageIds)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        val site = Tracer.site(s.details)
        if (site != "other") execSites(s.executionId) = site
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStarts.remove(e.jobId).foreach { case (t0, site, stages) =>
        jobs += JobRec(e.jobId, t0, e.time, site, stages)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      stageSubmits += ((e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val i = e.taskInfo
      val m = e.taskMetrics
      val failed = !e.reason.isInstanceOf[org.apache.spark.Success.type]
      if (m == null) tasks += TaskRec(e.stageId, i.launchTime, 0, 0, 0, 0, 0, 0, 0, 0, failed)
      else {
        val delay = math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        tasks += TaskRec(e.stageId, i.launchTime, m.executorRunTime, m.executorCpuTime,
          m.jvmGCTime, delay, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.diskBytesSpilled, failed)
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      Tracer.this.synchronized {
        plans += PlanRec(start, ms("analysis"), ms("optimization"), ms("planning"))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  def drain(): Unit = Bus.drain(spark.sparkContext)

  /** Codegen counters and cached-block state, sampled around each call. */
  def codegenSample(): (Long, Long) =
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime)

  def cacheSample(): (Double, Double) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum
    (sc.getPersistentRDDs.size.toDouble, bytes / 1048576.0)
  }

  def events(): Layers.Events = synchronized {
    Layers.Events(jobs.toList, tasks.toList, stageSubmits.toList, plans.toList)
  }
}

object Tracer {
  /** Modules a job's call site is attributed to, in report order. */
  val sites: Seq[String] =
    Seq("SparkEntry", "ops", "ext", "sync", "meta", "streaming", "sources", "bench")

  /** The module of the first engine or benchmark frame in a stage's long
    * call site. Frames of engine classes outside the listed modules (the
    * shared loaders and helpers in package `graft` itself) are skipped. */
  def site(callSite: String): String = {
    val frames = callSite.split('\n').iterator.map(_.trim)
    frames.collectFirst(Function.unlift(frameSite)).getOrElse("other")
  }

  private val pkgSites = Set("ops", "ext", "sync", "meta", "streaming", "sources")

  private def frameSite(frame: String): Option[String] =
    if (frame.startsWith("graft.SparkEntry")) Some("SparkEntry")
    else if (frame.startsWith("perfbench.")) Some("bench")
    else if (frame.startsWith("graft.")) {
      val parts = frame.split('.')
      if (parts.length > 2 && pkgSites(parts(1))) Some(parts(1)) else None
    } else None
}
