package graftbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

/** Storage a finished op left behind, counted before the sweep. */
final case class Leaks(rdds: Int, streams: Int, views: Int, tmpEntries: Int)

/** The between-op storage sweep of `graft.Bench`, made a measurement:
  * `mark` lists `java.io.tmpdir` before an op; `sweep` first counts what
  * the op left (persisted RDDs, active streams, temp views, new tmpdir
  * entries), then frees it and deletes the new entries, so the tmpdir
  * stays flat however long the run. */
final class Sweeper(spark: SparkSession, tmp: File) {
  private var before = Set.empty[String]
  private def entries(): Set[String] = Option(tmp.list).map(_.toSet).getOrElse(Set.empty)

  def mark(): Unit = before = entries()

  def sweep(): Leaks = {
    val leaks = Leaks(spark.sparkContext.getPersistentRDDs.size,
      spark.streams.active.length,
      spark.catalog.listTables().collect().count(_.isTemporary),
      (entries() -- before).size)
    Sweeper.sweepAll(spark)
    (entries() -- before).foreach(n => Files.delete(new File(tmp, n)))
    leaks
  }
}

object Sweeper {
  def sweepAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
    spark.streams.active.foreach(_.stop())
    // finished streams keep their state-store providers loaded
    org.apache.spark.sql.graftx.Bridge.unloadStreamState()
    spark.catalog.listTables().collect().withFilter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }
}

/** Heap in use after each collection while the watch is open (MB), from
  * the JVM's GC notifications, so heap held during an op is seen whenever
  * a collection runs in it; `close` adds one full collection's reading. */
final class HeapWatch extends NotificationListener {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: NotificationEmitter => e }
  private val afterGc = ArrayBuffer.empty[Double]
  emitters.foreach(_.addNotificationListener(this, null, null))

  def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        .getGcInfo.getMemoryUsageAfterGc.asScala
      val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
      synchronized { afterGc += used / 1048576.0 }
    }

  def close(): Seq[Double] = {
    emitters.foreach(_.removeNotificationListener(this))
    System.gc()
    val live = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    synchronized(afterGc.toSeq :+ live)
  }
}

final case class OpRecord(id: Int, pass: Int, name: String, desc: String, write: Boolean,
    traced: Boolean, startNs: Long, endNs: Long, error: Option[String], leaks: Leaks,
    sweepNs: Long, ioRead: Long, ioWrite: Long)

/** Command line of one benchmark run (all flags `--name value`). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, out: String, cores: Int, passes: Option[Int])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      m.get("trace").contains("1"), need("data"), need("work"), need("out"),
      m.get("cores").map(_.toInt).getOrElse(4), m.get("passes").map(_.toInt))
  }
}

/** One benchmark run: set up (timed from JVM start), run
  * the workload's closed loop — one client thread, next op after the
  * previous one completes, a storage sweep between ops outside the
  * timed window — then write the raw records to `--out` as JSON. The
  * Python wrapper checks outputs and reduces the records to metrics. */
object Main {
  def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${a.work}/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def workload(a: Args, spans: Spans, traced: () => Boolean): Workload =
    a.workload match {
      case "relational" =>
        new Faces(Workload.relational, a.seed, a.data, s"${a.work}/results", spans)
      case "text_pipeline" =>
        new Faces(Workload.textPipeline, a.seed, a.data, s"${a.work}/results", spans)
      case "table_ops" => new TableOps(a.seed, a.data, a.work, spans, traced)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    val spans = new Spans
    var tracedPass = false
    val w = workload(a, spans, () => tracedPass)

    // ---- set-up, timed from JVM start to the first timed op ----
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = ArrayBuffer.empty[(String, Double)]
    def phase(what: String): Unit =
      phases += what -> (System.currentTimeMillis() - t0) / 1000.0
    val spark = session(a)
    phase("session")
    Workload.tables(a.workload)
      .foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").count())
    phase("warm reads")
    w.setup(spark)
    phase("workload state")
    val warmFailures = ArrayBuffer.empty[String]
    val sweeper = new Sweeper(spark, tmp)
    w.warmup().foreach { op =>
      sweeper.mark()
      try op.run() catch { case e: Throwable => warmFailures += s"${op.desc}: $e" }
      sweeper.sweep()
    }
    System.gc()
    phase("warm-up pass")
    val setupS = phases.last._2

    // ---- timed window ----
    val probe = if (a.trace) Some(new LayerProbe(spark)) else None
    val records = ArrayBuffer.empty[OpRecord]
    val passWall = ArrayBuffer.empty[(Int, Boolean, Double)]
    // The window is a fixed number of whole passes (every face, or every
    // op kind of a round, equally often): as many as fill `seconds` at
    // the workload's nominal pass time, so each run does the same work
    // however fast the machine is.
    val nominal = math.max(1, math.round(a.seconds / w.nominalPassSeconds).toInt)
    // A traced run replays each pass seed twice, traced and untraced, in
    // alternating order, so the tracing overhead compares the same ops.
    val passes = a.passes.getOrElse(if (a.trace) 2 * ((nominal + 1) / 2) else nominal)
    val heap = new HeapWatch
    val winStart = System.nanoTime()
    var pass = 0
    while (pass < passes) {
      val seedIndex = if (a.trace) pass / 2 else pass
      tracedPass = a.trace && (pass % 2 == seedIndex % 2)
      spans.enabled = tracedPass
      if (tracedPass) probe.foreach(_.start())
      var opTime = 0L
      w.pass(seedIndex).foreach { op =>
        sweeper.mark()
        val id = records.size
        spans.op = id
        val io0 = if (tracedPass) ProcIo.read() else (0L, 0L)
        val t0 = System.nanoTime()
        val err = try { spans("op") { op.run() }; None }
          catch { case e: Throwable => Some(e.toString.take(500)) }
        val t1 = System.nanoTime()
        val io1 = if (tracedPass) ProcIo.read() else (0L, 0L)
        val leaks = spans("sweep") { sweeper.sweep() }
        records += OpRecord(id, pass, op.name, op.desc, op.write, tracedPass, t0, t1, err,
          leaks, System.nanoTime() - t1, io1._1 - io0._1, io1._2 - io0._2)
        opTime += t1 - t0
      }
      if (tracedPass) probe.foreach(_.stop())
      spans.enabled = false
      passWall += ((seedIndex, tracedPass, opTime / 1e9))
      pass += 1
    }
    val windowS = (System.nanoTime() - winStart) / 1e9
    val heapAfterGc = heap.close()

    // ---- end-of-run state (traced runs) ----
    val end = if (a.trace) w.endState() else Map.empty[String, Any]

    val layers: Map[String, Any] = probe.map { p =>
      Map("jobs" -> p.jobs.map { case (s, e) => Seq(s, e) }.toSeq, "stages" -> p.stages,
        "tasks" -> p.tasks, "run_ms" -> p.runMs, "cpu_ns" -> p.cpuNs, "peak_exec_mem" -> p.peakExecMem,
        "task_skews" -> p.skews.toSeq, "scan_bytes" -> p.scanBytes,
        "scan_records" -> p.scanRecords, "shuffle_write_bytes" -> p.shWriteBytes,
        "shuffle_read_bytes" -> p.shReadBytes, "shuffle_write_ns" -> p.shWriteNs,
        "shuffle_fetch_wait_ms" -> p.shFetchWaitMs, "spill_memory" -> p.spillMem,
        "spill_disk" -> p.spillDisk, "analysis_ms" -> p.analysisMs,
        "optimization_ms" -> p.optimizationMs, "planning_ms" -> p.planningMs,
        "wscg_ms" -> p.wscgMs, "scan_ms" -> p.scanMs, "sort_ms" -> p.sortMs,
        "agg_ms" -> p.aggMs, "queries" -> p.queries, "batches" -> p.batches,
        "trigger_ms" -> p.triggerMs, "state_commit_ms" -> p.commitMs,
        "state_rows" -> p.streamStateRows, "state_mem" -> p.streamStateMem,
        "compiles" -> p.compiles, "gc_count" -> p.gcCount, "gc_ms" -> p.gcMs)
    }.getOrElse(Map.empty)

    val detail = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "setup_s" -> setupS,
      "setup_phases_s" -> phases.toMap,
      "warmup_failures" -> warmFailures.toSeq, "window_s" -> windowS,
      "passes" -> pass, "pass_wall" -> passWall.map { case (i, t, s) =>
        Map("seed_index" -> i, "traced" -> t, "op_s" -> s) }.toSeq,
      "heap_after_gc_mb" -> heapAfterGc,
      "ops" -> records.map { r =>
        Map("id" -> r.id, "pass" -> r.pass, "name" -> r.name, "desc" -> r.desc,
          "write" -> r.write, "traced" -> r.traced,
          "start_ms" -> Clock.ms(r.startNs), "end_ms" -> Clock.ms(r.endNs),
          "lat_s" -> (r.endNs - r.startNs) / 1e9, "error" -> r.error.orNull,
          "leaked_rdds" -> r.leaks.rdds, "leaked_streams" -> r.leaks.streams,
          "leaked_views" -> r.leaks.views, "leaked_tmp_entries" -> r.leaks.tmpEntries,
          "sweep_s" -> r.sweepNs / 1e9, "io_read" -> r.ioRead, "io_write" -> r.ioWrite)
      }.toSeq,
      "spans" -> spans.done.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "start_ms" -> Clock.ms(s.startNs), "end_ms" -> Clock.ms(s.endNs)))
        .toSeq,
      "layers" -> layers, "end_state" -> end)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(a.out),
      Serialization.write(detail)(DefaultFormats))
    System.err.println(s"[perfbench] records written")
    spark.stop()
    System.err.println(s"[perfbench] session stopped")
  }
}
