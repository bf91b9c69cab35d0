package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.VersionedTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Rows the driver already holds are staged in the driver into the files
  * the write job would have written: same count, same order, same bytes —
  * for data files against `df.write.parquet`, and for a DV shard against
  * the distributed `coalesce(1)` shard. (`VersionedTableSpec` counts the
  * jobs.) */
class DriverWriteSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(): String = Harness.tempDir("graft_dw").toString + "/t"

  override def afterAll(): Unit = try Harness.sweep(spark) finally super.afterAll()

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("s", StringType),
    StructField("d", DecimalType(20, 4)),
    StructField("ts", TimestampType),
    StructField("arr", ArrayType(IntegerType))))

  /** `n` rows with a null in every nullable column now and then. */
  private def frame(n: Int): DataFrame =
    spark.createDataFrame((0 until n).map { i =>
      Row(i.toLong,
        if (i % 3 == 1) null else s"s$i-" + "x" * (i % 7),
        if (i % 4 == 2) null else new java.math.BigDecimal(i * 1000003L).movePointLeft(4),
        if (i % 5 == 3) null else new java.sql.Timestamp(1700000000000L + i * 3600123L),
        if (i % 6 == 4) null else (0 until i % 4).map(j => if (j == 2) null else i * j))
    }.asJava, schema)

  private def bytes(p: Path): Seq[Byte] = Files.readAllBytes(p).toSeq

  /** The part files `df.write.parquet` writes, in name (= task) order. */
  private def jobFiles(df: DataFrame): Seq[Path] = {
    val dir = Harness.tempDir("graft_dw_ref").resolve("out")
    df.write.parquet(dir.toString)
    Files.list(dir).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-"))
      .toSeq.sortBy(_.getFileName.toString)
  }

  private def assertSameFiles(df: DataFrame, what: String): Unit = {
    val root = fresh()
    val staged = VersionedTable.stage(df, root).map(r => Paths.get(root, r))
    val want = jobFiles(df)
    assert(staged.size === want.size, s"$what: file count")
    staged.zip(want).zipWithIndex.foreach { case ((got, ref), i) =>
      assert(bytes(got) == bytes(ref), s"$what: file $i ($got) differs from $ref")
    }
    // nothing else was left behind (no staging dir, no marker files)
    val left = Files.list(Paths.get(root)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(left.subsetOf(Set("data")), s"$what: left $left")
  }

  test("a local frame stages into the files df.write.parquet writes") {
    for (n <- Seq(0, 1, 3, 4, 5, 200)) {
      val df = frame(n)
      assertSameFiles(df, s"$n rows")
      if (n > 0) assert(df.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    }
    // a projection over local rows folds into a local relation too
    assertSameFiles(frame(7).select($"id", upper($"s").as("s")), "projected")
    // non-nullable primitive columns, as tuples produce them
    assertSameFiles(Seq((1L, 2.5, true), (3L, -0.0, false)).toDF("a", "b", "c"), "tuples")
  }

  test("with maxRecordsPerFile set, staging still matches the job's split files") {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "7")
    try for (n <- Seq(5, 40, 200)) assertSameFiles(frame(n), s"$n rows, 7 per file")
    finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
  }

  /** The DV shards a delete stages from collected marks (in the driver)
    * and through the distributed `coalesce(1)` path, in name order; the
    * table reads the same rows after either. */
  private def dvShards(): (Seq[Path], Seq[Path]) = {
    val path = fresh()
    VersionedTable.create(frame(200), path)
    val pred = $"id" % 3 === 0 || $"id".between(50, 90)
    def newShards(v: Long): Seq[Path] =
      VersionedTable.dvsAt(path, v).diff(VersionedTable.dvsAt(path, v - 1)).sorted
        .map(f => Paths.get(new org.apache.hadoop.fs.Path(f).toUri.getPath))
    val vDriver = VersionedTable.deleteWhere(spark, path, pred)
    assert(VersionedTable.read(spark, path).count() === 200 - 67 - 27)
    VersionedTable.restore(path, 0L)
    spark.conf.set("graft.dv.broadcastBytes", "0")
    val vJob = try VersionedTable.deleteWhere(spark, path, pred)
      finally spark.conf.unset("graft.dv.broadcastBytes")
    assert(VersionedTable.read(spark, path).count() === 200 - 67 - 27)
    (newShards(vDriver), newShards(vJob))
  }

  test("a collected DV shard equals the distributed coalesce(1) shard byte for byte") {
    val (a, b) = dvShards()
    assert(a.size === 1 && b.size === 1, s"shards $a / $b")
    assert(bytes(a.head) == bytes(b.head))
  }

  test("with maxRecordsPerFile set, collected marks split as the distributed shard splits") {
    spark.conf.set("spark.sql.files.maxRecordsPerFile", "25")
    val (a, b) = try dvShards() finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    assert(a.size === 4 && b.size === 4, s"shards $a / $b") // 94 marks, 25 per file
    a.zip(b).foreach { case (got, ref) => assert(bytes(got) == bytes(ref), s"$got differs from $ref") }
  }

  test("a local source's key set marks the rows the key join marks") {
    val tschema = StructType(Seq(StructField("k1", StringType),
      StructField("k2", DecimalType(10, 2)), StructField("v", LongType)))
    val rows = (0 until 40).map(i => Row(if (i == 7) null else s"k${i % 10}",
      new java.math.BigDecimal(i / 10), i.toLong))
    val src = Seq(Row("k1", new java.math.BigDecimal(0), 100L),
      Row("k2", new java.math.BigDecimal(3), 101L),
      Row(null, new java.math.BigDecimal(0), 102L), // a null key field joins nothing
      Row("k9", new java.math.BigDecimal(9), 103L)) // new key
    def result(source: DataFrame): Seq[String] = {
      val path = fresh()
      VersionedTable.create(spark.createDataFrame(rows.asJava, tschema), path)
      VersionedTable.upsert(spark, path, source, Seq("k1", "k2"))
      VersionedTable.read(spark, path).collect().map(_.toString).sorted.toSeq
    }
    val local = spark.createDataFrame(src.asJava, tschema)
    // the same rows behind a repartition are not local: the join runs
    val got = result(local)
    assert(got === result(local.repartition(2)))
    assert(got.size === 40 - 2 + 4 && got.contains("[null,0.00,102]"))
    // a repeated key that matches still breaks the MERGE rule, as before
    val path = fresh()
    VersionedTable.create(spark.createDataFrame(rows.asJava, tschema), path)
    val e = intercept[IllegalArgumentException](VersionedTable.upsert(spark, path,
      spark.createDataFrame((src :+ src.head).asJava, tschema), Seq("k1", "k2")))
    assert(e.getMessage.contains("multiple source rows") && e.getMessage.contains("1 duplicated key"))
  }
}
