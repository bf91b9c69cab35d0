package graft.tools

import graft.streaming.StreamOps
import org.apache.spark.sql.streaming.Trigger

/** Streaming state-size measurement for the LSH dedup registry — turns
  * the 100 TB state story into numbers: run `streamingLshClaims` and
  * `streamingLshVerified` over a documents corpus as a real file-stream
  * (one AvailableNow pass), then read the state operator's
  * `numRowsTotal` / `memoryUsedBytes` from the query progress, for BOTH
  * state-store providers (default HDFS-backed heap map and RocksDB).
  *
  * Usage: runMain graft.tools.StateSize [sfDir]
  * Prints one human table; the figures land in PLANS.md.
  */
object StateSize {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/repo/scratch/sf1")
    val spark = graft.Harness.session(16)
    // 8 state partitions: the PLANS.md state-size table was measured so
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    val src = s"$sfDir/documents.parquet"
    val schema = spark.read.parquet(src).schema
    val nDocs = spark.read.parquet(src).count()
    val nDistinct = spark.read.parquet(src).select("text").distinct().count()
    println(s"[state] corpus: $nDocs docs, $nDistinct distinct texts ($sfDir)")

    // stage into a flat dir (file stream monitors a directory)
    val stageDir = java.nio.file.Files.createTempDirectory("graft_statesize")
    val srcFile = new java.io.File(src)
    val parts =
      if (srcFile.isDirectory) srcFile.listFiles().toSeq.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      else Seq(srcFile)
    val staged = parts.map { f =>
      val dst = stageDir.resolve(f.getName)
      java.nio.file.Files.copy(f.toPath, dst); dst
    }

    def run(provider: String): Unit = {
      if (provider == "rocksdb") StreamOps.useRocksDBStateStore(spark)
      else {
        spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        spark.conf.unset("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      }
      for (variant <- Seq("claims", "verified")) {
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1000000).parquet(stageDir.toString)
        val out = variant match {
          case "claims" => StreamOps.streamingLshClaims(stream, "text", "doc_id").toDF
          case _ => StreamOps.streamingLshVerified(stream, "text", "doc_id", 0.5).toDF
        }
        val t0 = System.nanoTime()
        val q = StreamOps.withLocalCheckpoints(spark) {
          val q = out.writeStream.format("noop")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
          q
        }
        val secs = (System.nanoTime() - t0) / 1e9
        val so = q.lastProgress.stateOperators
        val rows = so.map(_.numRowsTotal).sum
        val mem = so.map(_.memoryUsedBytes).sum
        import scala.jdk.CollectionConverters._
        val rocksSst = so.flatMap(_.customMetrics.asScala)
          .filter(_._1 == "rocksdbTotalSstFilesSize").map(_._2.longValue).sum
        val bytes = if (provider == "rocksdb" && rocksSst > 0) rocksSst else mem
        val per1m = bytes.toDouble * (1000000.0 / nDocs)
        println(f"[state] $provider%-8s $variant%-9s rows=$rows%,10d " +
          f"bytes=$bytes%,13d  b/row=${if (rows > 0) bytes / rows else 0}%6d " +
          f"  per-1M-docs=${per1m / 1024 / 1024}%8.1f MiB  wall=$secs%6.1f s")
      }
    }
    run("hdfs")
    run("rocksdb")

    staged.foreach(java.nio.file.Files.deleteIfExists)
    java.nio.file.Files.deleteIfExists(stageDir)
    spark.stop()
  }
}
