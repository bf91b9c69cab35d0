package graftbench

import scala.collection.immutable.TreeMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization

import graft.sources.VersionedTable

/** One operation of a workload's closed loop. `run` is the timed part:
  * it throws when the call fails or its result fails the check. */
trait Op {
  def name: String
  /** The op with its seeded parameters, as the generator made it. */
  def desc: String
  def write: Boolean
  def run(): Unit
}

trait Workload {
  /** Per-set-up state (e.g. table_ops' initial table), built untimed
    * on a fresh session as the last step before the warm-up pass. */
  def setup(spark: SparkSession): Unit
  def warmup(): Iterator[Op]
  def pass(p: Int): Iterator[Op]
  /** Typical wall time of one warm pass at local[4], used to turn a
    * run's seconds into a fixed number of passes. */
  def nominalPassSeconds: Double
  /** Traced-run end-of-run state for the per-layer table. */
  def endState(): Map[String, Any] = Map.empty
}

object Workload {
  val relational: Seq[String] = Seq("q1_agg", "q_filter", "q_sort", "q_shift",
    "q_rolling", "q_eqdepth", "q_describe", "q_csv_roundtrip")
  val textPipeline: Seq[String] = Seq("q_langid_ct", "q_minhash", "q_tfidf",
    "q_gopher_quality", "q_stream_dedup", "q_stream_quality")

  /** The input tables each workload reads (warmed during set-up). */
  def tables(workload: String): Seq[String] = workload match {
    case "relational" => Seq("lineitem", "orders", "events")
    case "text_pipeline" => Seq("documents")
    case _ => Seq.empty // table_ops' set-up reads lineitem to build its table
  }

  /** Seed for pass `p` of a run seeded `seed`: every pass has its own
    * stream, so a pass's order never depends on how long earlier ones took. */
  def passSeed(seed: Long, p: Int): Long = seed * 1000003L + p * 7919L + 17L
}

/** A face workload: each pass runs every named face once, in an order
  * shuffled by the seed. A face op builds the face's DataFrame (eager
  * work inside the engine's operators) and executes the final plan
  * through the `noop` sink, so the whole plan runs. The warm-up pass
  * writes each face's result to `resultsDir` instead, with the face's
  * DuckDB oracle SQL beside it, for the offline hash compare. */
final class Faces(names: Seq[String], seed: Long, dataDir: String, resultsDir: String,
    spans: Spans) extends Workload {
  def nominalPassSeconds: Double = names.size * 1.1
  private val fns = graft.SparkEntry.queries
  private var spark: SparkSession = _

  private final class FaceOp(val name: String, sink: DataFrame => Unit) extends Op {
    def desc: String = name
    def write = false
    def run(): Unit = {
      val df = spans("build") { fns(name)(spark, dataDir) }
      spans("exec") { sink(df) }
    }
  }

  def setup(s: SparkSession): Unit = {
    spark = s
    val oracle = graft.SparkEntry.oracleSql
    new java.io.File(resultsDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$resultsDir/oracle_sql.json"),
      Serialization.write(names.map(n => n -> oracle(n)).toMap)(DefaultFormats))
  }

  def warmup(): Iterator[Op] = names.iterator.map(n => new FaceOp(n,
    _.coalesce(1).write.mode("overwrite").parquet(s"$resultsDir/$n")))

  def pass(p: Int): Iterator[Op] =
    new scala.util.Random(Workload.passSeed(seed, p)).shuffle(names).iterator
      .map(new FaceOp(_, _.write.format("noop").mode("overwrite").save()))
}

/** Table contents the model tracks: live row key -> value (cents), with
  * the three aggregates every read is checked against, kept up to date
  * as rows come and go. Immutable, so every version keeps its own. */
final case class TableState(rows: TreeMap[Long, Long], count: Long, keySum: Long,
    check: Long) {
  def put(k: Long, v: Long): TableState = {
    val base = rows.get(k).fold(this)(old => copy(count = count - 1,
      keySum = keySum - k, check = check - old * TableState.weight(k)))
    base.copy(rows = rows.updated(k, v), count = base.count + 1,
      keySum = base.keySum + k, check = base.check + v * TableState.weight(k))
  }
  def remove(k: Long): TableState = rows.get(k).fold(this)(old =>
    TableState(rows - k, count - 1, keySum - k, check - old * TableState.weight(k)))
  def summary: (Long, Long, Long) = (count, keySum, check)
}

object TableState {
  def weight(k: Long): Long = k % 1009 + 1
  val empty: TableState = TableState(TreeMap.empty, 0, 0, 0)

  /** Change-feed counts between two states: (added, removed, changed). */
  def diff(a: TableState, b: TableState): (Long, Long, Long) = {
    var added, removed, changed = 0L
    a.rows.foreach { case (k, v) =>
      b.rows.get(k) match {
        case None => removed += 1
        case Some(w) => if (w != v) changed += 1
      }
    }
    b.rows.keysIterator.foreach(k => if (!a.rows.contains(k)) added += 1)
    (added, removed, changed)
  }
}

/** The table_ops workload: a seeded sequence of reads and writes on one
  * long-lived VersionedTable. Each round (pass) is 10 ops — 5 reads (2
  * of the latest version, 2 time travels to a seeded retained version
  * from before the round, 1 change feed since the round's first version)
  * and 5 writes (an append, a keyed upsert, a range delete that writes a
  * deletion vector, a restore to an earlier version of the round, and a
  * closing maintenance op: autoMaintain, then vacuum keeping the last
  * `keepVersions` versions), in the fixed order of `roundKinds`. A model
  * holds the expected contents of every version; each read, time-travel
  * reads included, must match its row count, key sum and checksum, and
  * each write must land the version the model expects. */
final class TableOps(seed: Long, dataDir: String, workDir: String, spans: Spans,
    traced: () => Boolean) extends Workload {
  import TableOps._

  private var spark: SparkSession = _
  private var path: String = _
  private val versions = ArrayBuffer.empty[TableState] // index = version
  private var minReadable = 0L
  /** The version a round started at: the change feed's checkpoint. */
  private var roundStart = 0L
  private var nextKey = 0L
  private var okeys = 1L
  /** Row batches the write ops of traced passes submitted. */
  private val submitted = ArrayBuffer.empty[Seq[Row]]

  def nominalPassSeconds: Double = 6.5

  private def latest: Long = versions.size - 1L
  private def state: TableState = versions.last

  def setup(s: SparkSession): Unit = {
    spark = s
    path = s"$workDir/table"
    // the initial table is lineitem with a benchmark-assigned unique key
    val init = s.read.parquet(s"$dataDir/lineitem.parquet")
      .select(col("l_orderkey"), floor(col("l_extendedprice") * 100).cast("long"),
        col("l_returnflag"))
      .collect().zipWithIndex
      .map { case (r, i) => Row(i.toLong, r.getLong(0), r.getLong(1), r.getString(2)) }
    okeys = math.max(1L, init.map(_.getLong(1)).maxOption.getOrElse(0L) + 1)
    VersionedTable.create(frame(init.toSeq), path)
    versions.clear()
    versions += init.foldLeft(TableState.empty)((st, r) => st.put(r.getLong(0), r.getLong(2)))
    nextKey = init.length.toLong
    minReadable = 0L
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def newRow(rnd: scala.util.Random, k: Long): Row =
    Row(k, (rnd.nextLong() & Long.MaxValue) % okeys,
      90000L + rnd.nextInt(10410000), flags(rnd.nextInt(flags.size)))

  /** A live key chosen uniformly over the key space (the next live key
    * at or after a random point, wrapping to the first). */
  private def liveKey(rnd: scala.util.Random): Long = {
    val r = (rnd.nextLong() & Long.MaxValue) % math.max(1L, nextKey)
    state.rows.keysIteratorFrom(r).nextOption().getOrElse(state.rows.firstKey)
  }

  private def readable(rnd: scala.util.Random, upTo: Long): Long =
    if (upTo <= minReadable) upTo
    else minReadable + (rnd.nextLong() & Long.MaxValue) % (upTo - minReadable + 1)

  private def summarize(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), sum(col("rk")),
      sum(col("cents") * (pmod(col("rk"), lit(1009L)) + 1))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) 0L else r.getLong(2))
  }

  private def expect[T](what: String, got: T, want: T): Unit =
    if (got != want) throw new IllegalStateException(s"$what: got $got, model says $want")

  /** Parquet bytes of `df` written once as one file (untimed). */
  private def parquetBytes(df: DataFrame): Long = {
    val dir = new java.io.File(s"$workDir/sized")
    df.coalesce(1).write.mode("overwrite").parquet(dir.getPath)
    try Files.bytes(dir) finally Files.delete(dir)
  }

  private def op(n: String, d: String, write: Boolean)(body: => Unit): Op = {
    val w = write
    new Op {
      def name: String = n
      def desc: String = d
      def write: Boolean = w
      def run(): Unit = body
    }
  }

  private def makeOp(kind: String, rnd: scala.util.Random): Op = kind match {
    case "read" =>
      val want = state.summary
      op(kind, kind, write = false) {
        val df = spans("vt.read") { VersionedTable.read(spark, path) }
        expect("read", spans("exec") { summarize(df) }, want)
      }
    case "time_travel" =>
      val v = readable(rnd, math.max(minReadable, roundStart - 1))
      val want = versions(v.toInt).summary
      op(kind, s"$kind v=$v", write = false) {
        val df = spans("vt.time_travel") { VersionedTable.readVersion(spark, path, v) }
        expect(s"version $v", spans("exec") { summarize(df) }, want)
      }
    case "changes" =>
      val after = roundStart
      val want = if (after >= latest) None
        else Some((TableState.diff(versions(after.toInt), state), latest))
      op(kind, s"$kind after=$after", write = false) {
        val got = spans("vt.changes") {
          VersionedTable.changesSince(spark, path, after, Seq("rk"), Seq("cents"))
        }.map { case (df, v) =>
          val byKind = spans("exec") { df.groupBy("change").count().collect() }
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          ((byKind.getOrElse("added", 0L), byKind.getOrElse("removed", 0L),
            byKind.getOrElse("changed", 0L)), v)
        }
        expect(s"changes after $after", got, want)
      }
    case "append" =>
      val rows = (0 until appendRows).map(i => newRow(rnd, nextKey + i))
      nextKey += appendRows
      versions += rows.foldLeft(state)((st, r) => st.put(r.getLong(0), r.getLong(2)))
      val want = latest
      if (traced()) submitted += rows
      val df = frame(rows)
      op(kind, s"$kind keys=${rows.head.getLong(0)}+$appendRows", write = true) {
        expect("append version", spans("vt.append") { VersionedTable.commit(df, path) }, want)
      }
    case "upsert" =>
      val old = Iterator.continually(liveKey(rnd)).take(upsertRows / 2).toSeq.distinct
      val fresh = (0 until upsertRows - upsertRows / 2).map(nextKey + _)
      nextKey += fresh.size
      val rows = (old ++ fresh).map(newRow(rnd, _))
      versions += rows.foldLeft(state)((st, r) => st.put(r.getLong(0), r.getLong(2)))
      val want = latest
      if (traced()) submitted += rows
      val df = frame(rows)
      op(kind, s"$kind old=${old.size} new=${fresh.size} first=${rows.head.getLong(0)}",
          write = true) {
        expect("upsert version",
          spans("vt.upsert") { VersionedTable.upsert(spark, path, df, Seq("rk")) }, want)
      }
    case "delete" =>
      val lo = liveKey(rnd)
      val hi = lo + deleteWidth - 1
      val gone = state.rows.range(lo, hi + 1).keys
      if (gone.nonEmpty) versions += gone.foldLeft(state)(_.remove(_))
      val want = latest
      op(kind, s"$kind rk=[$lo,$hi] rows=${gone.size}", write = true) {
        expect("delete version", spans("vt.delete") {
          VersionedTable.deleteWhere(spark, path, col("rk").between(lo, hi))
        }, want)
      }
    case "restore" =>
      val to = math.max(roundStart, latest - 1 - rnd.nextInt(4))
      versions += versions(to.toInt)
      val want = latest
      op(kind, s"$kind to=$to", write = true) {
        expect("restore version", spans("vt.restore") { VersionedTable.restore(path, to) }, want)
      }
    case "maintain" =>
      op(kind, kind, write = true) {
        spans("vt.maintain") { VersionedTable.autoMaintain(spark, path) }
        spans("vt.vacuum") { VersionedTable.vacuum(path, keepVersions, minAgeMs = 0L) }
        // maintenance is content-preserving: each version it added
        // holds the current contents
        val now = VersionedTable.latestVersion(path).getOrElse(-1L)
        while (latest < now) versions += state
        minReadable = math.max(minReadable, latest - keepVersions + 1)
      }
  }

  /** Two rounds: after one, the first timed round still ran 30–50 %
    * slower than the later ones while the JIT caught up. */
  def warmup(): Iterator[Op] = pass(-2) ++ pass(-1)

  def pass(p: Int): Iterator[Op] = {
    val rnd = new scala.util.Random(Workload.passSeed(seed, p))
    roundStart = latest
    roundKinds.iterator.map(makeOp(_, rnd))
  }

  override def endState(): Map[String, Any] = {
    val v = VersionedTable.latestVersion(path).getOrElse(-1L)
    val dir = new java.io.File(path)
    Map("versions" -> VersionedTable.versions(path).size,
      "live_files" -> VersionedTable.filesAt(path, v).size,
      "dv_shards" -> VersionedTable.dvsAt(path, v).size,
      "dir_files" -> Files.count(dir), "dir_bytes" -> Files.bytes(dir),
      "live_bytes" -> parquetBytes(VersionedTable.read(spark, path)),
      "submitted_bytes" -> submitted.map(rows => parquetBytes(frame(rows))).sum)
  }
}

object TableOps {
  val schema: StructType = StructType(Seq(StructField("rk", LongType),
    StructField("okey", LongType), StructField("cents", LongType),
    StructField("flag", StringType)))
  val flags: IndexedSeq[String] = IndexedSeq("A", "N", "R")
  val appendRows = 200
  val upsertRows = 100
  // a delete removes about what the round's append and upsert insert
  val deleteWidth = 250
  val keepVersions = 8
  /** One round, in a fixed order so every seed does the same kind of
    * work at each step; the seed picks the rows, keys and versions. The
    * change feed reads what the round has written so far and the restore
    * stays within the round: neither reaches back across the previous
    * round's maintenance, which rewrites the table, so their cost does
    * not depend on the seed. The time travels always do reach back
    * before the round, for the same reason. Both reads of the latest
    * version follow the round's delete, so they always read through a
    * deletion vector. */
  val roundKinds: Seq[String] = Seq("append", "time_travel", "upsert", "delete", "read",
    "changes", "read", "time_travel", "restore", "maintain")
}

/** Small file-tree helpers for the benchmark's own scratch space. */
object Files {
  def walk(f: java.io.File): Iterator[java.io.File] =
    if (f.isDirectory) Iterator(f) ++ Option(f.listFiles).iterator.flatten.flatMap(walk)
    else if (f.exists) Iterator(f) else Iterator.empty
  def bytes(f: java.io.File): Long = walk(f).filter(_.isFile).map(_.length).sum
  def count(f: java.io.File): Int = walk(f).count(_.isFile)
  def delete(f: java.io.File): Unit =
    walk(f).toSeq.reverse.foreach(_.delete()) // children before parents
}
