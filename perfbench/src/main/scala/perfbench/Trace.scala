package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark-side counters of one attributed operation (or a sum of them). */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var filesScanned = 0L
  var rowsScanned = 0L
  var dictScans = 0L

  def shuffleBytes: Long = shuffleReadBytes + shuffleWriteBytes

  def clear(): Unit = {
    jobs = 0; tasks = 0; shuffleReadBytes = 0; shuffleWriteBytes = 0
    spillBytes = 0; analysisMs = 0; optimizationMs = 0
    planningMs = 0; filesScanned = 0; rowsScanned = 0; dictScans = 0
  }

  def add(o: Counters): Unit = {
    jobs += o.jobs; tasks += o.tasks
    shuffleReadBytes += o.shuffleReadBytes; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
    analysisMs += o.analysisMs; optimizationMs += o.optimizationMs
    planningMs += o.planningMs; filesScanned += o.filesScanned
    rowsScanned += o.rowsScanned; dictScans += o.dictScans
  }
}

/** The benchmark's tracer. It wraps calls to the engine's public
  * functions from outside: nothing in the engine is instrumented.
  *
  *  - `span` records (id, parent, operation id, name, start, end) in
  *    memory; `writeSpans` dumps them when the run ends.
  *  - `op` additionally attributes Spark work to the operation. It runs
  *    the body, drains the listener bus, and hands back the counters a
  *    [[SparkListener]] (jobs, tasks, shuffle, spill) and a
  *    [[QueryExecutionListener]] (Catalyst phases from
  *    `queryExecution.tracker`, file scans of the executed plan) saw in
  *    that window. Operations traced this way must run one at a time.
  *
  * Disabled, `span` and `op` only run the body, so untraced runs carry
  * no listener and no span bookkeeping.
  */
final class Trace(spark: SparkSession, val enabled: Boolean, dictPathMarker: () => Option[String]) {
  import Trace.Span

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong(0)
  private val stack = new ThreadLocal[List[(Long, Long)]] {
    override def initialValue(): List[(Long, Long)] = Nil
  }
  private val window = new Counters
  private val seenScans = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())

  private val listener = new SparkListener with QueryExecutionListener
      with AdaptiveSparkPlanHelper {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      window.synchronized { window.jobs += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) window.synchronized {
        window.tasks += 1
        window.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        window.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        window.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
      var files = 0L; var rows = 0L; var dict = 0L
      val marker = dictPathMarker()
      // a cached frame's scan lives in its InMemoryRelation and runs once,
      // when the cache is built: count each dictionary scan node once
      def visit(plan: SparkPlan, cached: Boolean): Unit = foreach(plan) {
        case s: FileSourceScanExec =>
          if (!cached) {
            files += s.metrics.get("numFiles").map(_.value).getOrElse(0L)
            rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          }
          if (marker.exists(mk => s.relation.location.rootPaths.exists(_.toUri.getPath.startsWith(mk)))
              && s.metrics.get("numFiles").exists(_.value > 0) && seenScans.add(s)) dict += 1
        case s: InMemoryTableScanExec =>
          rows += s.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
          visit(s.relation.cachedPlan, cached = true)
        case _ =>
      }
      visit(qe.executedPlan, cached = false)
      window.synchronized {
        window.analysisMs += ms("analysis")
        window.optimizationMs += ms("optimization")
        window.planningMs += ms("planning")
        window.filesScanned += files
        window.rowsScanned += rows
        window.dictScans += dict
      }
    }

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
  }

  /** Time `f` as a span named `name`; nested spans record their parent
    * and inherit the enclosing top-level operation id. */
  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, opId) = outer.headOption.getOrElse((0L, id))
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.synchronized { spans += Span(id, parent, opId, name, t0, t1) }
      }
    }

  /** Like [[span]], and returns the Spark counters of the body. */
  def op[T](name: String)(f: => T): (T, Counters) =
    if (!enabled) (f, new Counters)
    else {
      drain()
      window.synchronized { window.clear() }
      val r = span(name)(f)
      drain()
      val c = new Counters
      window.synchronized { c.add(window); window.clear() }
      (r, c)
    }

  private def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Detach the listeners (idempotent). */
  def close(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  /** One JSON object per line: the spans of this run. */
  def writeSpans(path: String): Unit = if (enabled) {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.synchronized {
      spans.sortBy(_.id).foreach { s =>
        w.println(Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "op" -> s.opId,
          "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
      }
    } finally w.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, opId: Long, name: String,
      startNs: Long, endNs: Long)

  /** Cumulative JVM GC milliseconds (in local mode the whole Spark
    * application runs in this JVM). */
  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Whole-stage-codegen compilations so far in this JVM. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** MiB Spark still holds in persisted blocks (memory and disk). */
  def cacheResidentMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0
}
