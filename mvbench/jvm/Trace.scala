package mvbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch microseconds, from the monotonic clock. Spark's
  * listener events carry epoch milliseconds, so spans use the same base. */
object Clock {
  private val offsetUs = System.currentTimeMillis() * 1000L - System.nanoTime() / 1000L
  def nowUs(): Long = offsetUs + System.nanoTime() / 1000L
}

/** Process-wide counters read around every operation on the client thread. */
object Counters {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  def gcCount: Long = gcs.map(_.getCollectionCount.max(0L)).sum
  def gcMs: Long = gcs.map(_.getCollectionTime.max(0L)).sum
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  def codegenNs: Long = CodeGenerator.compileTime

  /** Heap in use right after a full collection, in MB. The pause lets
    * Spark's cleaner drop blocks whose owners the first collection freed. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

final case class Span(id: Int, parent: Int, name: String, startUs: Long, var endUs: Long)

/** In-memory spans opened by the benchmark around each operation and each
  * call into an engine layer. Spark jobs find their span through a local
  * property; Catalyst phases are attached afterwards by time. Nothing is
  * recorded while tracing is off. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = spans.size
      spans += Span(id, stack.headOption.getOrElse(-1), name, Clock.nowUs(), -1L)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanProp, id.toString)
      try f
      finally {
        spans(id).endUs = Clock.nowUs()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  /** The outermost span (the operation) that `id` belongs to. */
  def root(id: Int): Int = {
    var s = id
    while (spans(s).parent >= 0) s = spans(s).parent
    s
  }

  /** Innermost span open at epoch millisecond `ms`, if any. */
  def innermostAt(ms: Long): Option[Int] = {
    val lo = ms * 1000L
    val hi = lo + 999L
    var best = -1
    spans.foreach { s =>
      if (s.startUs <= hi && s.endUs >= lo && (best < 0 || s.startUs >= spans(best).startUs))
        best = s.id
    }
    if (best >= 0) Some(best) else None
  }
}

object Tracer {
  val SpanProp = "mvbench.span"
}

/** Spark-side events of the traced phase: jobs and tasks from the
  * SparkListener, Catalyst phases and scan metrics from the
  * QueryExecutionListener. Both run on Spark's listener-bus thread. */
final class SparkEvents extends SparkListener with QueryExecutionListener {
  import SparkEvents._

  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  // span -> tasks, cpu ns, shuffle write bytes, shuffle read bytes, spill bytes
  val tasks = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
  val executions = new ConcurrentLinkedQueue[Execution]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
    span.foreach { s =>
      jobs.put(e.jobId, Job(s.toInt, e.time, e.time))
      e.stageIds.foreach(id => stageSpan.put(id, s.toInt))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      val acc = tasks.computeIfAbsent(s, _ => new Array[Long](5))
      acc.synchronized {
        acc(0) += 1
        if (m != null) {
          acc(1) += m.executorCpuTime
          acc(2) += m.shuffleWriteMetrics.bytesWritten
          acc(3) += m.shuffleReadMetrics.totalBytesRead
          acc(4) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
    val scans = scala.util.Try(ScanWalk.scans(qe)).getOrElse(Nil)
    def metric(s: FileSourceScanExec, n: String) = s.metrics.get(n).map(_.value).getOrElse(0L)
    executions.add(Execution(phases,
      scans.map(metric(_, "numFiles")).sum, scans.map(metric(_, "filesSize")).sum))
  }
}

/** File scans of an executed plan, including those inside adaptive query
  * stages and subqueries. */
object ScanWalk extends AdaptiveSparkPlanHelper {
  def scans(qe: QueryExecution): Seq[FileSourceScanExec] =
    collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
}

object SparkEvents {
  final case class Job(span: Int, startMs: Long, var endMs: Long)
  final case class Execution(phases: Map[String, (Long, Long)], files: Long, bytes: Long)

  def attach(spark: SparkSession): SparkEvents = {
    val ev = new SparkEvents
    spark.sparkContext.addSparkListener(ev)
    spark.listenerManager.register(ev)
    ev
  }

  def detach(spark: SparkSession, ev: SparkEvents): Unit = {
    org.apache.spark.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(ev)
    spark.listenerManager.unregister(ev)
  }
}
