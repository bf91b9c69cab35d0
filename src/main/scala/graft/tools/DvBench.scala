package graft.tools

import org.apache.spark.sql.functions._

/** Dev-only measurement: the read-side cost of merge-on-read deletion
  * vectors vs the physical purge — the number `maintenanceReport`'s
  * purge recommendation is pricing. Builds a documents-shaped table at
  * ×`mult` of sf0.1, DV-deletes `delPct`% of rows, and times a full
  * column aggregate (a) pre-delete, (b) through the DV marks, and
  * (c) after optimize(), at local[SPARK_GRAFT_CPUS] (default 32). Usage:
  *   sbt "runMain graft.tools.DvBench /root/testdata/sf0.1 10 10"
  */
object DvBench {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val mult = args.lift(1).map(_.toInt).getOrElse(10)
    val delPct = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Harness.session(graft.Harness.cores(32))
    import graft.sources.VersionedTable

    val docs = spark.read.parquet(s"$src/documents.parquet")
    val big = (0 until mult).map(i =>
        docs.select((col("doc_id") + lit(i.toLong * 1000000000L)).as("doc_id"),
          col("lang"), col("text"), col("n_chars")))
      .reduce(_ unionByName _)
    val path = java.nio.file.Files.createTempDirectory("graft_dvbench")
      .toString + "/t"
    VersionedTable.create(big.repartition(32), path)

    def time[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"[dvbench] $tag%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    def agg(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(sum(col("n_chars"))).head().getLong(0)

    val rows = big.count()
    println(s"[dvbench] rows=$rows delPct=$delPct")
    (1 to 2).foreach(i => time(s"read physical (run $i)")(
      agg(VersionedTable.read(spark, path))))
    val v1 = time("deleteWhere")(
      VersionedTable.deleteWhere(spark, path, pmod(col("doc_id"), lit(100L)) < delPct))
    (1 to 2).foreach(i => time(s"read through DV (run $i)")(
      agg(VersionedTable.read(spark, path))))
    time("optimize (purge)")(
      VersionedTable.optimize(spark, path, targetBytes = 128L * 1024 * 1024))
    (1 to 2).foreach(i => time(s"read post-purge (run $i)")(
      agg(VersionedTable.read(spark, path))))
    val dvBytes = VersionedTable.dvsAt(path, v1).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    }.sum
    println(s"[dvbench] dv_bytes=$dvBytes")
    spark.stop()
  }
}
