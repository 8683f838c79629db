package graftbench

import scala.collection.mutable

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark work of one request, summed over every job that carried its tag. */
final class SparkWork {
  var jobs, stages, tasks = 0L
  var taskWaitMs, executorRunMs, executorCpuNs, taskGcMs = 0L
  var shuffleReadBytes, shuffleWriteBytes, shuffleRecords, spillBytes = 0L
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  // Plan shape and Catalyst phases of every SQL action the request ran.
  var actions, exchanges, singlePartitionExchanges, broadcasts = 0L
  var nonCodegenNodes, scanRows = 0L
  var analysisMs, optimizationMs, planningMs = 0L

  /** Request wall time not covered by any of its jobs. */
  def driverGapMs(startMs: Long, endMs: Long): Long = {
    val covered = jobSpans.map { case (s, e) => (s max startMs, e min endMs) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
        if (e <= reach) (sum, reach)
        else (sum + e - (s max reach), e)
      }._1
    (endMs - startMs - covered) max 0L
  }
}

/** Attributes Spark jobs, stages, tasks and SQL plans to the request whose
  * job group they ran under. Installed only in traced runs. */
final class Probe(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val byTag = mutable.Map.empty[String, SparkWork]
  private val stageTag = mutable.Map.empty[Int, String]
  private val jobTag = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  @volatile private var current: String = null

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  def remove(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Drains the listener bus first, so no event of an earlier, untraced
    * request reaches this one. */
  def begin(tag: String): Unit = {
    BenchAccess.drainListenerBus(spark.sparkContext)
    synchronized {
      current = tag
      byTag(tag) = new SparkWork
    }
  }

  /** Drains the listener bus, then hands back the request's totals. */
  def end(tag: String): SparkWork = {
    BenchAccess.drainListenerBus(spark.sparkContext)
    synchronized {
      current = null
      byTag.remove(tag).getOrElse(new SparkWork)
    }
  }

  private def work(tag: String): Option[SparkWork] =
    Option(tag).flatMap(byTag.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .orNull
    work(tag).foreach { w =>
      w.jobs += 1
      jobTag(e.jobId) = tag
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(stageTag(_) = tag)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    for (tag <- jobTag.remove(e.jobId); w <- work(tag);
         s <- jobStart.remove(e.jobId))
      w.jobSpans += ((s, e.time))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageTag.get(e.stageInfo.stageId).flatMap(work).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).flatMap(work).foreach { w =>
      w.tasks += 1
      stageSubmitted.get(e.stageId).foreach { s =>
        w.taskWaitMs += (e.taskInfo.launchTime - s) max 0L
      }
      val m = e.taskMetrics
      if (m != null) {
        w.executorRunMs += m.executorRunTime
        w.executorCpuNs += m.executorCpuTime
        w.taskGcMs += m.jvmGCTime
        w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = synchronized {
    work(current).foreach(w => Probe.addPlan(w, qe))
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()
}

object Probe {

  /** Catalyst phase durations of a planned query: analysis, optimization,
    * planning (ms). */
  def phases(qe: QueryExecution): (Long, Long, Long) = {
    val p = qe.tracker.phases
    def ms(k: String) = p.get(k).map(_.durationMs).getOrElse(0L)
    (ms("analysis"), ms("optimization"), ms("planning"))
  }

  /** Adds one executed plan's shape, scan output and phases to `w`. */
  def addPlan(w: SparkWork, qe: QueryExecution): Unit = {
    w.actions += 1
    val (a, o, p) = phases(qe)
    w.analysisMs += a; w.optimizationMs += o; w.planningMs += p
    walk(qe.executedPlan, inCodegen = false, w)
  }

  private def walk(plan: SparkPlan, inCodegen: Boolean, w: SparkWork): Unit =
    plan match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan, inCodegen, w)
      case q: QueryStageExec => walk(q.plan, inCodegen = false, w)
      case _: ReusedExchangeExec => ()
      case c: WholeStageCodegenExec => walk(c.child, inCodegen = true, w)
      case i: InputAdapter => walk(i.child, inCodegen = false, w)
      case other =>
        other match {
          case e: ShuffleExchangeLike =>
            w.exchanges += 1
            if (e.outputPartitioning == SinglePartition)
              w.singlePartitionExchanges += 1
          case _: BroadcastExchangeLike => w.broadcasts += 1
          case _ => if (!inCodegen) w.nonCodegenNodes += 1
        }
        if (other.children.isEmpty)
          other.metrics.get("numOutputRows").foreach(m => w.scanRows += m.value)
        other.children.foreach(walk(_, inCodegen, w))
        other.subqueries.foreach(walk(_, inCodegen = false, w))
    }
}

/** Spans recorded in memory from the benchmark's own calls into each layer,
  * written out when the run ends. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, request: Int, name: String,
                        startNs: Long, endNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var request = -1

  def forRequest[T](req: Int)(body: => T): T = {
    request = req
    try body finally request = -1
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, request, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Span duration minus the part of it covered by its children (ns). */
  def selfNs: Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> ((s.endNs - s.startNs) -
        kids.getOrElse(s.id, Nil).map(c => c.endNs - c.startNs).sum)
    }.toMap
  }
}
