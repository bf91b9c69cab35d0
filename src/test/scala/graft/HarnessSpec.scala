package graft

import org.apache.spark.sql.functions.col

/** The one session every spec and main runs on, and the sweep between
  * faces. */
class HarnessSpec extends SparkSpec {

  test("SparkSpec.session carries every canonical conf at local[4], whatever SPARK_GRAFT_CPUS says") {
    val sc = spark.sparkContext
    assert(sc.master === "local[4]")
    assert(sc.defaultParallelism === 4)
    assert(spark.conf.get("spark.sql.shuffle.partitions") === "4")
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    assert(spark.conf.get("spark.sql.legacy.sizeOfNull") === "false")
    assert(sc.getConf.get("spark.ui.enabled") === "false")
    assert(sc.uiWebUrl.isEmpty)
    assert(sc.getConf.get("spark.driver.maxResultSize") === "4g")
    // size(null) is null, the condition of the HOF text-signal forms
    assert(spark.range(1).selectExpr("size(cast(null as array<int>)) AS n")
      .head().isNullAt(0))
  }

  test("Harness.sweep leaves no persisted RDD, checkpoint, temp view or memory-sink view behind") {
    import spark.implicits._
    val cached = spark.range(100).toDF("id").persist()
    cached.count()
    spark.range(50).toDF("id").localCheckpoint().count()
    spark.range(10).createOrReplaceTempView("harness_spec_view")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Int]
    val q = input.toDF().groupBy(col("value")).count()
      .writeStream.format("memory").queryName("harness_spec_sink")
      .outputMode("complete").start()
    try { input.addData(1, 2, 3); q.processAllAvailable() } finally q.stop()
    assert(spark.table("harness_spec_sink").count() === 3)
    assert(cached.storageLevel.useMemory)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty)
    assert(spark.catalog.listTables().collect().count(_.isTemporary) >= 2)

    Harness.sweep(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
    assert(cached.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    assert(spark.catalog.listTables().collect().count(_.isTemporary) === 0)
    assert(!spark.catalog.tableExists("harness_spec_sink"))
  }

  test("Harness.sweep deletes the temp dirs a VersionedTable face made") {
    import spark.implicits._
    val data = Harness.tempDir("harness_spec_data")
    (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.parquet(data.resolve("documents.parquet").toString)
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def graftEntries(): Set[String] =
      Option(tmp.list()).fold(Set.empty[String])(_.filter(_.startsWith("graft_")).toSet)
    val before = graftEntries()
    val rows = SparkEntry.queries("q_table_versions")(spark, data.toString).collect()
    assert(rows.length === 3)
    val made = graftEntries() -- before
    assert(made.exists(_.startsWith("graft_vt")), s"the face made no temp dir: $made")
    Harness.sweep(spark)
    assert((graftEntries() -- before).isEmpty, s"left after the sweep: ${graftEntries() -- before}")
  }

  test("Harness.noop runs the whole plan and returns its seconds") {
    val acc = spark.sparkContext.longAccumulator("harness_spec_rows")
    val touch = org.apache.spark.sql.functions.udf { (x: Long) => acc.add(1); x }
    val secs = Harness.noop(spark.range(1000).toDF("id").select(touch(col("id"))))
    assert(secs > 0.0)
    assert(acc.value === 1000L)
  }
}
