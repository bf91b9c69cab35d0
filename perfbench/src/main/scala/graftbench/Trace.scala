package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call the benchmark made into a layer. Times are
  * `System.nanoTime`; `parent` is -1 for an op's root span. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder for the single client thread. While
  * `enabled` is false a span is just the call it wraps. */
final class Spans {
  @volatile var enabled = false
  var op = -1
  val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var next = 0

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        done += Span(id, parent, op, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }
}

/** Wall clock for a nanoTime instant, so spans can be set against the
  * millisecond timestamps Spark's listener events carry. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def ms(ns: Long): Double = baseMs + (ns - baseNs) / 1e6
}

/** `/proc/self/io` character counters (bytes the process asked the
  * kernel to read and write, page cache included). Zero off Linux. */
object ProcIo {
  def read(): (Long, Long) =
    try {
      val kv = scala.io.Source.fromFile("/proc/self/io").getLines()
        .map(_.split(":\\s*")).collect { case Array(k, v) => k -> v.trim.toLong }.toMap
      (kv.getOrElse("rchar", 0L), kv.getOrElse("wchar", 0L))
    } catch { case _: Exception => (0L, 0L) }
}

/** Per-layer counters gathered from outside the engine, through Spark's
  * public listeners and JVM MXBeans. Registered only around traced
  * passes; `quiesce` waits for the asynchronous listener bus to deliver
  * a pass's events before the listeners are removed. */
final class LayerProbe(spark: SparkSession) {
  private val lock = new Object
  private var events = 0L
  private var openJobs = 0

  // scheduler
  val jobs = ArrayBuffer.empty[(Long, Long)] // (startMs, endMs)
  private val jobStart = mutable.Map.empty[Int, Long]
  var stages = 0L
  var tasks = 0L
  // executor
  var runMs = 0L
  var cpuNs = 0L
  var peakExecMem = 0L
  private val stageTaskMs = mutable.Map.empty[(Int, Int), ArrayBuffer[Long]]
  val skews = ArrayBuffer.empty[Double]
  // scan / shuffle / spill
  var scanBytes = 0L
  var scanRecords = 0L
  var shWriteBytes = 0L
  var shReadBytes = 0L
  var shWriteNs = 0L
  var shFetchWaitMs = 0L
  var spillMem = 0L
  var spillDisk = 0L
  // catalyst + operators (ms)
  var analysisMs = 0L
  var optimizationMs = 0L
  var planningMs = 0L
  var wscgMs = 0L
  var scanMs = 0L
  var sortMs = 0L
  var aggMs = 0L
  var queries = 0L
  // streaming
  var batches = 0L
  var triggerMs = 0L
  var commitMs = 0L
  private val stateRows = mutable.Map.empty[String, Long]
  private val stateMem = mutable.Map.empty[String, Long]
  def streamStateRows: Long = lock.synchronized(stateRows.values.sum)
  def streamStateMem: Long = lock.synchronized(stateMem.values.sum)

  private def bump(): Unit = events += 1

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      bump(); openJobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      bump(); openJobs -= 1
      jobStart.remove(e.jobId).foreach(s => jobs += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      bump(); stages += 1
      val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageTaskMs.remove(key).filter(_.size >= 2).foreach { ts =>
        val sorted = ts.sorted
        val median = sorted(sorted.size / 2)
        if (median > 0) skews += sorted.last.toDouble / median
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      bump(); tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
        scanBytes += m.inputMetrics.bytesRead
        scanRecords += m.inputMetrics.recordsRead
        shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        shWriteNs += m.shuffleWriteMetrics.writeTime
        shReadBytes += m.shuffleReadMetrics.totalBytesRead
        shFetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        spillMem += m.memoryBytesSpilled
        spillDisk += m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def phase(n: String): Long = ph.get(n).map(_.durationMs).getOrElse(0L)
      var wscg, scan, sort, agg = 0L
      try PlanWalk.foreach(qe.executedPlan) { p: SparkPlan =>
        def metric(n: String): Long = p.metrics.get(n).map(_.value).getOrElse(0L)
        wscg += metric("pipelineTime")
        scan += metric("scanTime")
        sort += metric("sortTime")
        agg += metric("aggTime")
      } catch { case _: Exception => } // a plan that failed to build
      lock.synchronized {
        bump(); queries += 1
        analysisMs += phase(QueryPlanningTracker.ANALYSIS)
        optimizationMs += phase(QueryPlanningTracker.OPTIMIZATION)
        planningMs += phase(QueryPlanningTracker.PLANNING)
        wscgMs += wscg; scanMs += scan; sortMs += sort; aggMs += agg
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      lock.synchronized {
        bump(); batches += 1
        val p = e.progress
        triggerMs += Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        val ops = p.stateOperators
        commitMs += ops.map(_.commitTimeMs).sum
        // state size at the query's latest batch, summed over queries
        stateRows(p.id.toString) = ops.map(_.numRowsTotal).sum
        stateMem(p.id.toString) = ops.map(_.memoryUsedBytes).sum
      }
  }

  // JVM-wide counters, sampled around traced passes
  var compiles = 0L
  var gcCount = 0L
  var gcMs = 0L
  private var c0, g0, gt0 = 0L
  private def gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def compileCount = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def start(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    c0 = compileCount
    g0 = gcBeans.map(_.getCollectionCount).sum
    gt0 = gcBeans.map(_.getCollectionTime).sum
  }

  def stop(): Unit = {
    compiles += compileCount - c0
    gcCount += gcBeans.map(_.getCollectionCount).sum - g0
    gcMs += gcBeans.map(_.getCollectionTime).sum - gt0
    quiesce()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until no job is open and no event arrived for 150 ms (at most
    * 5 s): the listener bus delivers events after the call returns. */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    var last = lock.synchronized(events)
    var quietSince = System.nanoTime()
    while (System.nanoTime() < deadline &&
        (lock.synchronized(openJobs) > 0 || System.nanoTime() - quietSince < 150000000L)) {
      Thread.sleep(10)
      val now = lock.synchronized(events)
      if (now != last) { last = now; quietSince = System.nanoTime() }
    }
  }
}
