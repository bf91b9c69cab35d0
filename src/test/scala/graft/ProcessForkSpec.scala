package graft

import graft.queries.PipelineQueries
import graft.sources.VersionedTable
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

/** Without libhadoop, Hadoop's local file system starts an OS process
  * for some metadata calls: a `FileContext` rename reads the link status
  * of both paths by forking `readlink`. Table commits and graft's own
  * streams rename through `FileSystem` instead (the manifest publish, and
  * Spark's `FileSystem` checkpoint manager on a local checkpoint); these
  * cases record every process the JVM starts (`jdk.ProcessStart`) around
  * them and hold that no `readlink` is among them. */
class ProcessForkSpec extends SparkSpec {
  import spark.implicits._

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** The command lines of the processes started while `body` ran. A
    * `true` started first shows the recording sees process starts. */
  private def processesStarted(body: => Unit): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    val file = java.nio.file.Files.createTempFile("graft_forks", ".jfr")
    try {
      rec.start()
      new ProcessBuilder("true").start().waitFor()
      body
      rec.stop()
      rec.dump(file)
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(_.getString("command")).toSeq
      assert(commands.exists(_.split(" ").headOption.contains("true")),
        s"the recording missed a process start: $commands")
      commands
    } finally {
      rec.close()
      java.nio.file.Files.deleteIfExists(file)
    }
  }

  private def readlinks(commands: Seq[String]): Seq[String] =
    commands.filter(_.split(" ").headOption.exists(_.endsWith("readlink")))

  test("table commits start no readlink process") {
    val path = java.nio.file.Files.createTempDirectory("graft_fork_vt").toString + "/t"
    VersionedTable.create(spark.range(20).select($"id", ($"id" * 2).as("x")), path)
    val forks = processesStarted {
      VersionedTable.commit(spark.range(20, 30).select($"id", ($"id" * 2).as("x")),
        path, "append")
      VersionedTable.upsert(spark, path,
        Seq((3L, -3L), (40L, 80L)).toDF("id", "x"), Seq("id"))
      VersionedTable.deleteWhere(spark, path, $"id" % 5 === 0)
      VersionedTable.restore(path, 1L)
    }
    assert(readlinks(forks).isEmpty, s"readlink forks: ${readlinks(forks)}")
    // the ops still did their work
    assert(VersionedTable.versions(path) === (0L to 4L))
    assert(VersionedTable.read(spark, path).count() === 30L)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path).getParentFile)
  }

  test("replay helpers start no readlink process and give back the caller's manager conf") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_fork_replay").toString
    (0 until 40).map(i => (new java.sql.Timestamp(1704067200000L + i * 30000L),
        (i % 4).toLong, i.toDouble))
      .toDF("ts", "user_id", "value").write.parquet(s"$tmp/ev.parquet")
    def replays(): (Long, Long) = {
      val agg = PipelineQueries.runAvailableNow(spark, s"$tmp/ev.parquet",
          "fork_agg", "complete") { st =>
        StreamOps.tumblingAgg(st, "ts", "user_id", "value", "10 minutes", "5 minutes")
      }.count()
      val joined = PipelineQueries.runAvailableNow2(spark, s"$tmp/ev.parquet",
          "fork_join", "append") { (l, r) =>
        val lw = l.withWatermark("ts", "5 minutes")
        val rw = r.withWatermark("ts", "5 minutes")
          .withColumnRenamed("ts", "ts2").withColumnRenamed("value", "v2")
        lw.join(rw, lw("user_id") === rw("user_id") && col("ts2") === col("ts"))
      }.count()
      (agg, joined)
    }
    val fileContextManager = "org.apache.spark.sql.execution.streaming." +
      "checkpointing.FileContextBasedCheckpointFileManager"
    val had = spark.conf.getOption(managerKey)
    try {
      // the caller has no manager conf: it stays unset
      spark.conf.unset(managerKey)
      var counts = (0L, 0L)
      val forks = processesStarted { counts = replays() }
      assert(readlinks(forks).isEmpty, s"readlink forks: ${readlinks(forks)}")
      assert(counts === ((8L, 40L)))
      assert(spark.conf.getOption(managerKey).isEmpty)
      // the caller set one: it gets its own value back
      spark.conf.set(managerKey, fileContextManager)
      assert(replays() === ((8L, 40L)))
      assert(spark.conf.get(managerKey) === fileContextManager)
    } finally had.fold(spark.conf.unset(managerKey))(spark.conf.set(managerKey, _))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("a checkpoint off the local disk keeps Spark's default manager") {
    spark.conf.unset(managerKey)
    StreamOps.withLocalCheckpoints(spark, Some("hdfs://namenode:8020/ck")) {
      assert(spark.conf.getOption(managerKey).isEmpty)
    }
    StreamOps.withLocalCheckpoints(spark, Some("/tmp/ck")) {
      assert(spark.conf.getOption(managerKey)
        .exists(_.endsWith("FileSystemBasedCheckpointFileManager")))
    }
    assert(spark.conf.getOption(managerKey).isEmpty)
  }
}
