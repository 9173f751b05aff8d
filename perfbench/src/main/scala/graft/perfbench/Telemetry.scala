package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval. Times are microseconds on the wall clock, so spans
  * from the benchmark (System.nanoTime based) and from Spark's listener
  * events (epoch milliseconds) share one axis.
  */
final case class Span(op: Int, layer: String, name: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

object Clock {
  private val baseNs = System.nanoTime()
  private val baseUs = System.currentTimeMillis() * 1000L
  def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class JobRec(id: Int, startUs: Long, var endUs: Long)
final case class StageRec(id: Int, attempt: Int, startUs: Long, endUs: Long)
final case class TaskRec(startUs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWrite: Long, shuffleRead: Long, spill: Long)
final case class PlanRec(func: String, phases: Map[String, (Long, Long)], scans: Seq[Int])

/** Records what the scheduler and the SQL planner did while tracing is
  * on. Events arrive on the listener bus threads; [[drained]] waits for
  * the bus to empty before anything is read.
  */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val stages = ArrayBuffer.empty[StageRec]
  private val tasks = ArrayBuffer.empty[TaskRec]
  private val plans = ArrayBuffer.empty[PlanRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += JobRec(e.jobId, e.time * 1000L, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endUs = e.time * 1000L)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (s <- i.submissionTime; c <- i.completionTime)
      stages += StageRec(i.stageId, i.attemptNumber(), s * 1000L, c * 1000L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.taskInfo.launchTime * 1000L, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled)
  }

  private object Plans extends AdaptiveSparkPlanHelper

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases.map { case (k, p) => k -> (p.startTimeMs * 1000L, p.endTimeMs * 1000L) }
    val scans = Plans.collect(qe.executedPlan) { case b: BatchScanExec => b.inputPartitions.size }
    synchronized { plans += PlanRec(funcName, phases, scans) }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def start(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def stop(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(): Unit = org.apache.spark.perfbench.ListenerBusDrain.drain(spark.sparkContext)

  /** Copies of everything recorded so far, read after the bus drained. */
  def drained(): (Seq[JobRec], Seq[StageRec], Seq[TaskRec], Seq[PlanRec]) = {
    drain()
    synchronized((jobs.toList, stages.toList, tasks.toList, plans.toList))
  }
}

/** Spans recorded by the benchmark around its calls into each layer:
  * `op` (one user operation), `action` (the Spark action or write it
  * times), `check` (the output check after the timer stops) and `codec`
  * (direct GdxCodec calls). Job, stage and plan spans are added from
  * the [[Recorder]] when the run ends. Kept in memory, written once at
  * the end; while disabled, every wrapper only runs its body.
  */
final class Tracer {
  var enabled = false
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var nextOp = 0
  private var cur = 0

  def currentOp: Int = cur

  def op[T](name: String)(body: => T): T = {
    nextOp += 1
    cur = nextOp
    span("op", name)(body)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val t0 = Clock.nowUs
      try body finally spans += Span(cur, layer, name, t0, Clock.nowUs)
    }
}

/** Self time per layer: the time a layer's spans cover minus the part
  * spans of lower layers cover inside them. Layers rank op, then
  * action / check / codec, then plan, job and stage.
  */
object SelfTime {
  val layers: Seq[String] = Seq("op", "action", "check", "codec", "plan", "job", "stage")
  private val rank = Map("op" -> 0, "action" -> 1, "check" -> 1, "codec" -> 1,
    "plan" -> 2, "job" -> 3, "stage" -> 4)

  /** Disjoint, sorted union of intervals. */
  def union(iv: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    val out = ArrayBuffer.empty[(Long, Long)]
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (a, b) =>
      if (out.nonEmpty && a <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, b))
      else out += ((a, b))
    }
    out.toSeq
  }

  private def length(iv: Seq[(Long, Long)]): Long = iv.map { case (a, b) => b - a }.sum

  /** Layer → self time in µs. */
  def perLayer(spans: Seq[Span]): Map[String, Long] = layers.map { l =>
    val own = union(spans.filter(_.layer == l).map(s => (s.startUs, s.endUs)))
    val lower = union(spans.filter(s => rank(s.layer) > rank(l)).map(s => (s.startUs, s.endUs)))
    val inside = own.map { case (a, b) =>
      length(union(lower.map { case (c, d) => (math.max(a, c), math.min(b, d)) }))
    }.sum
    l -> (length(own) - inside)
  }.toMap
}
