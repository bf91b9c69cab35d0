package graft.tools

import graft.sources.{FeatherV1, TableIO}

/** Feather v1 <-> Parquet converter: the ingest/export bridge between the
  * reference toolchain's single-file format and the engine's scale format.
  * `runMain graft.tools.FeatherConvert <in> <out>` — direction decided by
  * the output extension (.feather writes v1, anything else Parquet). Runs
  * at local[SPARK_GRAFT_CPUS] (default 4). */
object FeatherConvert {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: FeatherConvert <in> <out>")
    val spark = graft.Harness.session(graft.Harness.cores(4))
    val df = TableIO.read(spark, args(0))
    if (args(1).toLowerCase.endsWith(".feather")) FeatherV1.write(df, args(1))
    else df.write.mode("overwrite").parquet(args(1))
    println(s"[feather-convert] ${args(0)} -> ${args(1)} (${df.count()} rows)")
    spark.stop()
  }
}
