package graft.tools

import graft.Harness
import graft.core.Table
import graft.functions.InterpolatedQuantile
import graft.operators.{Aggregates, Stats}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark ports of the reference's own (compiled-in-disabled) benchmark
  * workloads at their defined sizes (reference:
  * native_libs/test/Benchmarks.cpp:60-322; BASELINE.md records the
  * workload list — the reference publishes no numbers). 10M-row columns,
  * column stats, filter/map, string-eq filter, dropNa/fillNa,
  * interpolate with 30% nulls, groupBy multi-agg, columnar + CSV IO.
  *
  * `runMain graft.tools.MicroBench [rows]` — prints one JSON line.
  * Columnar IO is measured on Parquet (this engine's role-equivalent of
  * the reference's Feather fast path; FeatherV1 is the driver-side
  * exchange format, not the scale path).
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 10000000L
    val spark = Harness.session(Harness.cores(32))
    val results = run(spark, n)
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"micro_total","value":${results.map(_._2).sum},"unit":"sec","rows":$n,"workloads":$qs}""")
    spark.stop()
  }

  /** The anchor workload suite, callable from an existing session —
    * [[graft.Bench]] runs it before recording a bench artifact so every
    * recorded total carries the machine anchor it was measured under
    * (fleet co-tenancy drifts raw totals 1.5-2x across sessions; the
    * anchor is the divisor that makes them comparable). */
  def run(spark: SparkSession, n: Long = 10000000L): Seq[(String, Double)] = {
    import spark.implicits._

    // deterministic 10M-row numeric table (reference uses random tables)
    val base = spark.range(n).select(
      col("id"),
      (pmod(xxhash64(col("id")), lit(101L))).as("i64"),
      (pmod(xxhash64(col("id"), lit(1)), lit(10000L)).cast(DoubleType) / 100.0).as("d1"),
      (pmod(xxhash64(col("id"), lit(2)), lit(10000L)).cast(DoubleType) / 100.0).as("d2"),
      (pmod(xxhash64(col("id"), lit(3)), lit(10000L)).cast(DoubleType) / 100.0).as("d3"),
      concat(lit("cat_"), pmod(xxhash64(col("id"), lit(4)), lit(7L))).as("s"))
    val withNulls = base.withColumn("dn",
      when(pmod(xxhash64(col("id"), lit(5)), lit(10L)) < 3, lit(null).cast(DoubleType))
        .otherwise(col("d1"))) // ~30% nulls, like Benchmarks.cpp:258-271
    val tmp = java.nio.file.Files.createTempDirectory("graft_micro").toString

    def time(name: String)(body: => Unit): (String, Double) = {
      val t0 = System.nanoTime()
      body
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[micro] $name%-22s $secs%8.2f s")
      name -> secs
    }

    Harness.noop(withNulls) // warm up source generation path
    val results = Seq(
      time("parquet_write")(base.write.mode("overwrite").parquet(s"$tmp/t.parquet")),
      time("parquet_read")(Harness.noop(spark.read.parquet(s"$tmp/t.parquet"))),
      time("csv_write")(base.write.mode("overwrite").option("header", true).csv(s"$tmp/t.csv")),
      time("csv_read")(Harness.noop(spark.read.option("header", true)
        .option("inferSchema", true).csv(s"$tmp/t.csv"))),
      time("count_values")(Harness.noop(Stats.countValues(base, "i64"))),
      time("min_max_mean")(Harness.noop(base.agg(min("d1"), max("d1"), avg("d1")))),
      time("median_var_std_sum_q13")(Harness.noop(base.agg(
        InterpolatedQuantile.medianCol(col("d1")).as("median"),
        var_pop(col("d1")).as("var"), stddev_pop(col("d1")).as("std"),
        sum(col("d1")).as("sum"),
        InterpolatedQuantile.quantileCol(col("d1"), 1.0 / 3).as("q13")))),
      time("correlation_matrix")(
        Stats.correlationMatrix(base.select("i64", "d1", "d2", "d3")).collect()),
      time("filter_gt")(Harness.noop(base.filter(col("d1") > 50.0))),
      time("map_plus")(Harness.noop(base.select((col("d1") + 50.0).as("v")))),
      time("filter_string_eq")(Harness.noop(base.filter(col("s") === "cat_3"))),
      time("drop_na")(Harness.noop(withNulls.na.drop(Seq("dn")))),
      time("fill_na")(Harness.noop(withNulls.na.fill(0.0, Seq("dn")))),
      // fromIndexed: `id` is already the 0..n-1 row index, like the
      // reference's implicit Arrow ordering — no sort/index-assign pass
      time("interpolate_30pct_nulls")(Harness.noop(
        Table.fromIndexed(withNulls.select("id", "dn"), "id").interpolateAt("dn").toDF)),
      time("groupby_multiagg_24cols")({
        val wide = base.select(col("i64") +:
          (0 until 24).map(i => (col("d1") * (i + 1)).as(s"c$i")): _*)
        Harness.noop(Aggregates.aggregateByOrdered(wide, "i64", Seq(col("c0")),
          (0 until 24).map(i => s"c$i" -> Seq(Aggregates.Minimum, Aggregates.Maximum,
            Aggregates.Mean, Aggregates.Length))))
      }))
    // the anchor must not leak state into a caller's session: the temp
    // dir holds ~10M rows of parquet+csv per run
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
    results
  }
}
