package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-up generator: replicates an existing testdata SF directory N times
  * with key remapping so referential integrity and key cardinality scale
  * linearly, producing the data for the above-sf0.1 scale proof (PLANS.md).
  *
  * Usage: ScaleData <srcDir> <dstDir> <factor>
  *
  * Remapping rules (stride = max(key)+1 in the source):
  *  - region/nation: copied as-is (constant-size dims, TPC-H style).
  *  - customer/supplier/part/orders/lineitem: surrogate keys offset by
  *    replica*stride; foreign keys offset with the SAME stride so every join
  *    path (orders→customer, lineitem→orders/part/supplier) stays valid and
  *    per-key fan-out is preserved exactly.
  *  - events: event_id/user_id offset; each replica's timestamps shift by
  *    replica * (source span + 1h), so the TIME AXIS stretches with the
  *    data. That is how real event data scales (a longer collection
  *    period), and it keeps rows-per-interval density constant: packing
  *    N times the rows into the source's fixed span instead would make
  *    every sliding range-frame's width grow with N, turning any
  *    O(n*w) window (Spark cannot retract sum/avg from a sliding frame)
  *    quadratic in the scale factor — measured 32x wall at x10 on
  *    q_rolling before this stretch. Each offset user's series is
  *    source-identical, just translated.
  *  - documents: doc_id offset; text kept byte-identical across replicas —
  *    at scale this is the realistic hard case for the dedup/minhash paths
  *    (duplicate-heavy corpus), and n_chars stays consistent.
  *  - embeddings: vec_id offset; vectors kept identical (ANN cost is
  *    corpus-size-driven, not value-driven).
  *
  * The replication itself is distributed: one `explode(sequence)` per table,
  * no driver materialization, written back through the normal parquet sink.
  */
object ScaleData {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleData <srcDir> <dstDir> <factor>")
    val Array(src, dst, fStr) = args
    val factor = fStr.toInt
    require(factor >= 1, s"factor must be >= 1: $factor")
    val cpus = graft.Harness.cores(32)
    val spark = graft.Harness.session(cpus)

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    // Fact tables are written across max(cpus, factor) files: the source
    // is a single small file, and explode() preserves its 1-2 input
    // partitions, so an un-repartitioned x100 write produces 2-3 files of
    // ~400 MB each — a scan gets ~7 splits for 32 cores and every heavy
    // query downstream starves (measured 10-20x instead of ~linear).
    // Real warehouse layouts are many ~100 MB files; reproduce that.
    val outParts = math.max(cpus, factor)
    def write(df: DataFrame, t: String, repartition: Boolean = true): Unit = {
      val out = if (repartition) df.repartition(outParts) else df
      out.write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scale] wrote $t")
    }

    // One stride per key family, computed from the SOURCE so fact and dim
    // tables agree on the offset (orders.o_custkey must use customer's
    // stride, not its own max).
    def stride(t: String, key: String): Long =
      read(t).agg(max(col(key))).head().getLong(0) + 1L

    val custS  = stride("customer", "c_custkey")
    val suppS  = stride("supplier", "s_suppkey")
    val partS  = stride("part", "p_partkey")
    val ordS   = stride("orders", "o_orderkey")
    val evS    = stride("events", "event_id")
    val userS  = read("events").agg(max(col("user_id"))).head().getLong(0) + 1L
    val docS   = stride("documents", "doc_id")
    val vecS   = stride("embeddings", "vec_id")

    val rep = explode(sequence(lit(0L), lit(factor - 1L))).as("__rep")

    /** Replicate `df` `factor` times, offsetting each column in `keys` by
      * its stride * replica index. Column types are preserved. */
    def scale(df: DataFrame, keys: (String, Long)*): DataFrame = {
      var out = df.withColumn("__rep", rep)
      keys.foreach { case (c, s) =>
        out = out.withColumn(c, (col(c) + col("__rep") * s).cast(df.schema(c).dataType))
      }
      out.drop("__rep")
    }

    write(read("region"), "region", repartition = false)
    write(read("nation"), "nation", repartition = false)
    write(scale(read("customer"), "c_custkey" -> custS), "customer")
    write(scale(read("supplier"), "s_suppkey" -> suppS), "supplier")
    write(scale(read("part"), "p_partkey" -> partS), "part")
    write(scale(read("orders"), "o_orderkey" -> ordS, "o_custkey" -> custS), "orders")
    write(scale(read("lineitem"),
      "l_orderkey" -> ordS, "l_partkey" -> partS, "l_suppkey" -> suppS), "lineitem")
    val tsSpan = read("events")
      .agg((unix_micros(max(col("ts")).cast("timestamp")) -
        unix_micros(min(col("ts")).cast("timestamp"))).as("s"))
      .head().getLong(0)
    val stepSec = tsSpan / 1000000L + 3600L
    write(
      scale(read("events"), "event_id" -> evS, "user_id" -> userS)
        .withColumn("ts", col("ts") +
          expr(s"make_interval(0,0,0,0,0,0, (event_id div ${evS}L) * ${stepSec}L)")),
      "events")
    write(scale(read("documents"), "doc_id" -> docS), "documents")
    write(scale(read("embeddings"), "vec_id" -> vecS), "embeddings")

    println(s"[scale] done: $src x$factor -> $dst")
    spark.stop()
  }
}
