package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one way a graft main or spec gets its Spark session, clears it
  * between faces and times a face: one place that sets a session up, so
  * the confs the engine and its oracles depend on cannot drift apart
  * between `Bench`, `Verify`, the tools and the specs.
  */
object Harness {
  /** The canonical confs every session carries, besides `local[cores]`
    * and `cores` shuffle partitions:
    *  - UTC session time zone: every oracle computes timestamps in UTC;
    *  - no UI;
    *  - `nanosAsLong`: the testdata's `events.ts` is TIMESTAMP(NANOS),
    *    read as long nanos and normalized by `SparkEntry.events()`;
    *  - a 4 GiB driver result limit: streaming faces are graded through a
    *    memory sink (driver-side by definition), and at sf10
    *    q_stream_session's Complete-mode result is about 1 GiB, the
    *    default limit;
    *  - non-legacy `sizeOfNull`, so `size(null)` is null with ANSI mode
    *    on or off. The native text-signal kernels (`tokenMarkerStats`)
    *    equal their HOF reference forms only then: under the legacy
    *    setting with ANSI off the HOF forms give -1-based signals where
    *    the native struct stays null. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.driver.maxResultSize" -> "4g",
    "spark.sql.legacy.sizeOfNull" -> "false")

  /** The session at `local[cores]` with `cores` shuffle partitions and
    * [[confs]], logging at WARN. Idempotent: a later call returns the
    * running session. */
  def session(cores: Int): SparkSession = {
    val spark = confs.foldLeft(SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cores(default: Int): Int = sys.env.get("SPARK_GRAFT_CPUS").fold(default)(n =>
    n.toIntOption.getOrElse(throw new IllegalArgumentException(
      s"SPARK_GRAFT_CPUS must be an integer, got '$n'")))

  /** Free what a finished face left in the session; faces are independent
    * jobs. Without it 150+ faces' cached and `localCheckpoint`ed blocks
    * pile up in one JVM and GC-thrash the late-alphabet faces (measured:
    * 2 s medians spiking to 20-90 s). Terminated streams leave their
    * state-store providers, with every retained version's state map,
    * loaded until the maintenance thread gets to them, and each memory
    * sink pins its result behind a temp view for good; both are dead
    * weight once the result has been consumed. */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = false))
    org.apache.spark.sql.graftx.Bridge.unloadStreamState()
    spark.catalog.listTables().collect()
      .withFilter(_.isTemporary).foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** Seconds to build `df` and run it to the `noop` sink, which executes
    * the full plan (a bare `count()` would let Spark prune projections). */
  def noop(df: => DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }
}
