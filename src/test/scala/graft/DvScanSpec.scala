package graft

import graft.expr.DvExpressions
import graft.sources.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Deletion vectors applied as decoded row-index bitmaps inside the
  * scan: every DV consumer must answer exactly as the shuffled
  * anti-join it replaces below `graft.dv.broadcastBytes` (forced with
  * the threshold at 0), the lineage kernel must equal the regex that
  * wrote the DV keys on disk, and a decoded shard is read once. */
class DvScanSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() =
    java.nio.file.Files.createTempDirectory("graft_dvscan").toString + "/t"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).sorted.toSeq

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  /** `f` on the bitmap path (generated code must compile) and on the
    * forced shuffled path. */
  private def bothPaths[T](f: => T): (T, T) =
    (withConfs("spark.sql.codegen.fallback" -> "false")(f),
      withConfs("graft.dv.broadcastBytes" -> "0")(f))

  private def sameOnBothPaths(what: String, df: => DataFrame): Unit = {
    val (fast, shuffled) = bothPaths(rows(df))
    assert(fast === shuffled, what)
  }

  private def assertBitmapPlan(df: => DataFrame): Unit = {
    val p = plan(df)
    assert(p.contains("graft_dv_keep") && !p.contains("Join"), p.take(1500))
    val forced = withConfs("graft.dv.broadcastBytes" -> "0")(plan(df))
    assert(forced.contains("LeftAnti") && !forced.contains("graft_dv_keep"), forced.take(1500))
  }

  private def table(n: Long, from: Long = 0L): DataFrame =
    spark.range(from, from + n)
      .select($"id", ($"id" % 10).as("k"), ($"id" * 3).as("x"))

  /** A multi-file table with three DV shards (two deletes, an upsert)
    * around an append; the DV writes run on the current path. */
  private def buildFlat(path: String): Seq[Long] = {
    VersionedTable.create(table(400).repartition(4), path)
    val v1 = VersionedTable.deleteWhere(spark, path, $"id" % 7 === 0)
    val v2 = VersionedTable.commit(table(100, 400).repartition(2), path, "append")
    val v3 = VersionedTable.deleteWhere(spark, path, $"k" === 3)
    val v4 = VersionedTable.upsert(spark, path,
      spark.range(10, 30).select($"id", ($"id" % 10).as("k"), (-$"id").as("x")), Seq("id"))
    // a delete over a version that already carries marks
    val v5 = VersionedTable.deleteWhere(spark, path, $"id".between(100, 140))
    Seq(0L, v1, v2, v3, v4, v5)
  }

  test("flat multi-shard table: reads, time travel, readWhere and changeFeed match the shuffled path") {
    val path = fresh()
    val vs = buildFlat(path)
    assert(VersionedTable.dvsAt(path, vs.last).size === 4)
    assertBitmapPlan(VersionedTable.read(spark, path))
    sameOnBothPaths("read", VersionedTable.read(spark, path))
    vs.foreach(v => sameOnBothPaths(s"readVersion $v", VersionedTable.readVersion(spark, path, v)))
    VersionedTable.writeStats(spark, path, vs.last, "id")
    sameOnBothPaths("readWhere",
      VersionedTable.readWhere(spark, path, vs.last, "id", 50L, 250L))
    sameOnBothPaths("readWhereAll", VersionedTable.readWhereAll(spark, path, vs.last,
      Seq(("id", 0L, 120L), ("id", 90L, 480L))))
    for (Seq(a, b) <- vs.sliding(2).toSeq :+ Seq(0L, vs.last))
      sameOnBothPaths(s"changeFeed $a..$b",
        VersionedTable.changeFeed(spark, path, a, b, Seq("id"), Seq("k", "x")))
    // the answer itself, not only agreement
    // the first delete predates the append; the upsert re-inserts ids
    // 10..29, deleted or not
    val live = ((0L until 500L).filterNot(i => (i < 400 && i % 7 == 0) || i % 10 == 3) ++
        (10L until 30L))
      .distinct.filterNot(i => i >= 100 && i <= 140).sorted
    assert(VersionedTable.read(spark, path).select("id").as[Long].collect().sorted.toSeq === live)
  }

  test("deleteWhere and upsert write the same marks on both paths") {
    val fast = fresh()
    val shuffled = fresh()
    buildFlat(fast)
    withConfs("graft.dv.broadcastBytes" -> "0")(buildFlat(shuffled))
    assert(rows(VersionedTable.read(spark, fast)) === rows(VersionedTable.read(spark, shuffled)))
    // the mark counts too: a re-marked (already deleted) row would count twice
    for (p <- Seq(fast, shuffled))
      VersionedTable.writeCounts(spark, p, VersionedTable.latestVersion(p).get)
    def live(p: String) = VersionedTable.countAtLive(spark, p, VersionedTable.latestVersion(p).get)
    assert(live(fast) === live(shuffled))
    assert(live(fast) === Some(VersionedTable.read(spark, fast).count()))
    // deleteWhere with a verified prune hint reads live rows outside the candidates
    VersionedTable.writeStats(spark, fast, VersionedTable.latestVersion(fast).get, "id")
    val e = intercept[IllegalArgumentException](VersionedTable.deleteWhere(spark, fast,
      $"k" === 5, Seq(("id", 0L, 200L)), verifyPrune = true))
    assert(e.getMessage.contains("prune hint is WRONG"))
  }

  test("partitioned table with dangling marks matches the shuffled path") {
    val path = fresh()
    VersionedTable.createPartitioned(
      spark.range(200).select($"id", ($"id" % 4).cast("string").as("p")), path, "p")
    val v1 = VersionedTable.deleteWhere(spark, path, $"id" % 3 === 0)
    // rewrite partition 0: its marks now dangle
    val v2 = VersionedTable.commitPartitioned(
      spark.range(2000, 2010).select($"id", lit("0").as("p")), path, "p",
      "overwritePartitions")
    val v3 = VersionedTable.deleteWhere(spark, path, $"id" < 50)
    assertBitmapPlan(VersionedTable.readVersion(spark, path, v3))
    Seq(v1, v2, v3).foreach(v =>
      sameOnBothPaths(s"readVersion $v", VersionedTable.readVersion(spark, path, v)))
    sameOnBothPaths("readWherePartitions",
      VersionedTable.readWherePartitions(spark, path, v3, "p", Seq("0", "2")))
    sameOnBothPaths("changeFeed", VersionedTable.changeFeed(spark, path, v1, v3,
      Seq("id"), Seq("p")))
    val want = ((0L until 200L).filter(i => i % 4 != 0 && i % 3 != 0) ++ (2000L until 2010L))
      .filter(_ >= 50)
    assert(VersionedTable.readVersion(spark, path, v3).select("id").as[Long]
      .collect().sorted.toSeq === want)
  }

  test("clone: marks on borrowed files match the shuffled path") {
    val src = fresh()
    VersionedTable.create(table(120).repartition(3), src)
    VersionedTable.deleteWhere(spark, src, $"id" < 10)
    val dst = fresh()
    VersionedTable.cloneTable(src, dst)
    val d1 = VersionedTable.deleteWhere(spark, dst, $"k" === 4)
    val d2 = VersionedTable.upsert(spark, dst,
      spark.range(50, 55).select($"id", ($"id" % 10).as("k"), lit(0L).as("x")), Seq("id"))
    assertBitmapPlan(VersionedTable.read(spark, dst))
    Seq(0L, d1, d2).foreach(v =>
      sameOnBothPaths(s"clone readVersion $v", VersionedTable.readVersion(spark, dst, v)))
    sameOnBothPaths("clone changeFeed",
      VersionedTable.changeFeed(spark, dst, 0L, d2, Seq("id"), Seq("k", "x")))
    assert(VersionedTable.read(spark, dst).count() ===
      (10L until 120L).count(_ % 10 != 4) + 1) // id 54 re-inserted
  }

  test("lineage kernel equals regexp_extract on a path corpus") {
    val rx = ".*/(data/.*)$"
    val corpus = Seq(
      "file:/tmp/t/data/abc-part00000.parquet",
      "file:/tmp/data/t/data/abc-part00001.parquet", // table path holds /data/
      "file:/x/data/data/y.parquet", "file:/x/data/data/data/", // nested
      "file:/x/t/data/k=v/a.parquet", "file:/x/t/data/k=a%20b/p%25q%2Fr.parquet",
      "hdfs://nn:8020/lake/data/k=é/ü-part.parquet", "file:/t/数据/data/文件.parquet",
      "file:/t/data/😀.parquet", "file:/t/nodata/x.parquet", "file:/t/data", "data/x",
      "/data/", "/data/x/data", "//data//x", "/datadata/x", "/DATA/x", "",
      "file:/t/data/a\nb.parquet", "file:/t/da\nta/data/x\r", "/data/x\n",
      "file:/t/data/x y", "file:/t/data/x\u0085", "/data/a /data/b",
      "/data/a\r\n", "\n/data/b", null)
    val df = corpus.toDF("p")
    def check(): Unit = {
      val got = df.select($"p", DvExpressions.lineageRelOf($"p").as("k"),
        regexp_extract($"p", rx, 1).as("r")).collect()
      assert(got.length === corpus.size)
      got.foreach(r => assert(r.get(1) == r.get(2), s"path ${r.get(0)}: ${r.get(1)} vs ${r.get(2)}"))
    }
    withConfs("spark.sql.codegen.fallback" -> "false")(check())
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check())
    // invalid UTF-8: the regex sees the decoded text
    val bad = UTF8String.fromBytes(Array[Byte]('/', 'd', 'a', 't', 'a', '/', 'x', 0xff.toByte))
    val m = java.util.regex.Pattern.compile(rx).matcher(bad.toString)
    assert(m.find())
    assert(DvExpressions.lineageRel(bad) === UTF8String.fromString(m.group(1)))
  }

  test("a second read of the same DV version decodes nothing; the caches report as data") {
    val path = fresh()
    val vs = buildFlat(path)
    def dv() = VersionedTable.cacheStats().find(_.cache == "dvMarks").get
    assert(VersionedTable.cacheStats().map(_.cache) === Seq("manifest", "footerSchema", "dvMarks"))
    VersionedTable.readVersion(spark, path, vs.last).count()
    val before = dv()
    val shards = VersionedTable.dvsAt(path, vs.last).size
    VersionedTable.readVersion(spark, path, vs.last).count()
    val after = dv()
    assert(after.misses === before.misses, "the second read decoded a shard")
    assert(after.hits === before.hits + shards)
    assert(after.entries >= shards)
    val manifest = VersionedTable.cacheStats().head
    assert(manifest.hits > 0 && manifest.misses > 0)
  }
  /** What a keyed write leaves behind, path-independently: each new
    * shard's rows as (manifest file index, pos), in file order (with
    * the same footer, equal rows in equal order are equal bytes, up to
    * the commit ids in the file names). */
  private def newShards(path: String, v: Long): Seq[Seq[(Int, Long)]] = {
    val files = VersionedTable.filesAt(path, v)
    (VersionedTable.dvsAt(path, v).toSet -- VersionedTable.dvsAt(path, v - 1)).toSeq.sorted
      .map { shard =>
        val marks = spark.read.parquet(shard).as[(String, Long)].collect().map {
          case (rel, pos) =>
            val i = files.indexWhere(_.endsWith("/" + rel))
            assert(i >= 0, s"mark on $rel, which version $v does not list")
            (i, pos)
        }.toSeq
        assert(marks.size === marks.distinct.size, s"$shard marks a row twice")
        marks
      }
  }

  /** Six rounds of delete, upsert and autoMaintain on a flat table;
    * per round, the writes' new shards, the live rows and count, and
    * the maintenance actions. */
  private def keyedRounds(path: String) = {
    VersionedTable.create(spark.range(0, 600, 1, 4)
      .select($"id", ($"id" % 10).as("k"), ($"id" * 3).as("x")), path)
    (0 until 6).map { r =>
      val vd = VersionedTable.deleteWhere(spark, path,
        $"id".between(r * 90, r * 90 + 40) || $"k" === r)
      val vu = VersionedTable.upsert(spark, path, spark.range(r * 90 + 30, r * 90 + 60)
        .select($"id", ($"id" % 10).as("k"), (-$"id" - r).as("x")), Seq("id"))
      val acts = VersionedTable.autoMaintain(spark, path, targetBytes = 4096, maxDvShards = 3)
      val v = VersionedTable.latestVersion(path).get
      VersionedTable.writeCounts(spark, path, v)
      (newShards(path, vd), newShards(path, vu), rows(VersionedTable.read(spark, path)),
        VersionedTable.countAtLive(spark, path, v), acts)
    }
  }

  test("the mark job writes the distributed path's shards; rows, counts and maintenance agree") {
    val fast = fresh()
    val shuffled = fresh()
    val a = keyedRounds(fast)
    val b = withConfs("graft.dv.broadcastBytes" -> "0")(keyedRounds(shuffled))
    a.zip(b).zipWithIndex.foreach { case ((x, y), r) =>
      assert(x._1 === y._1, s"round $r: delete shard rows")
      assert(x._2 === y._2, s"round $r: upsert shard rows")
      assert(x._3 === y._3, s"round $r: live rows")
      assert(x._4 === y._4, s"round $r: countAtLive")
      assert(x._4 === Some(x._3.size.toLong), s"round $r: countAtLive vs the read")
      assert(x._5 === y._5, s"round $r: autoMaintain actions")
    }
    assert(a.forall(r => r._1.size == 1 && r._2.size == 1), "one shard per write")
    assert(a.map(_._5).exists(_.nonEmpty), "maintenance never ran")
  }

  test("a keyed write seeds the decode cache with its shard's marks; the next read decodes nothing") {
    val path = fresh()
    VersionedTable.create(table(300).repartition(3), path)
    def dv() = VersionedTable.cacheStats().find(_.cache == "dvMarks").get
    def checkSeeded(v: Long): Unit = {
      val shard = (VersionedTable.dvsAt(path, v).toSet -- VersionedTable.dvsAt(path, v - 1)).head
      val (cached, decoded) = VersionedTable.dvShardMarks(spark, shard)
      assert(cached.isDefined && decoded.isDefined, s"v$v: cached $cached decoded $decoded")
      assert(cached.get.rels === decoded.get.rels)
      cached.get.rels.foreach(r => assert(cached.get.of(r) === decoded.get.of(r), r))
      val before = dv()
      assert(VersionedTable.read(spark, path).count() > 0)
      val after = dv()
      assert(after.misses === before.misses, s"v$v: the read after the write decoded a shard")
      assert(after.hits === before.hits + VersionedTable.dvsAt(path, v).size)
    }
    checkSeeded(VersionedTable.deleteWhere(spark, path, $"id" % 4 === 1))
    checkSeeded(VersionedTable.upsert(spark, path,
      spark.range(0, 40).select($"id", lit(1L).as("k"), lit(2L).as("x")), Seq("id")))
    checkSeeded(VersionedTable.deleteWhere(spark, path, $"id".between(100, 180)))
  }

  test("a mark-job shard has the parquet schema and Spark row metadata of a coalesce(1) write") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    def footer(f: String) = {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), spark.sessionState.newHadoopConf()))
      try {
        val m = rd.getFooter.getFileMetaData
        (m.getSchema, m.getKeyValueMetaData)
      } finally rd.close()
    }
    def shardOf(p: String, conf: String) = withConfs("graft.dv.broadcastBytes" -> conf) {
      VersionedTable.create(table(200).repartition(2), p)
      VersionedTable.dvsAt(p, VersionedTable.deleteWhere(spark, p, $"id" % 3 === 0)).head
    }
    val fast = shardOf(fresh(), (64L << 20).toString)
    val distributed = shardOf(fresh(), "0")
    assert(footer(fast) === footer(distributed))
    assert(footer(fast)._2.containsKey("org.apache.spark.sql.parquet.row.metadata"))
    assert(spark.read.parquet(fast).count() === spark.read.parquet(distributed).count())
  }

  test("upsert MERGE multi-match rule: same error on both paths, nothing published") {
    val msgs = Seq((64L << 20).toString, "0").map { conf =>
      withConfs("graft.dv.broadcastBytes" -> conf) {
        val path = fresh()
        VersionedTable.create(spark.range(10).select($"id", ($"id" * 2).as("x")), path)
        val e = intercept[IllegalArgumentException](VersionedTable.upsert(spark, path,
          spark.range(3).select(($"id" % 2).as("id"), $"id".as("x")), Seq("id")))
        assert(VersionedTable.versions(path) === Seq(0L), conf)
        // a matched key whose source rows sit in different tasks: the
        // two-row target is the broadcast side, the source streams
        val wide = fresh()
        VersionedTable.create(Seq((0L, 0L), (1L, 1L)).toDF("id", "x"), wide)
        val e2 = intercept[IllegalArgumentException](VersionedTable.upsert(spark, wide,
          spark.range(0, 1000, 1, 4).select(($"id" % 500).as("id"), $"id".as("x")), Seq("id")))
        assert(e2.getMessage.contains("500 duplicated key(s)"), e2.getMessage)
        assert(VersionedTable.versions(wide) === Seq(0L), conf)
        assert(new java.io.File(path, "dv").listFiles() == null ||
          new java.io.File(path, "dv").listFiles().isEmpty, s"$conf: a shard was staged")
        // duplicate NOT-matched keys both insert
        val v = VersionedTable.upsert(spark, path,
          Seq((100L, 1L), (100L, 2L), (3L, 7L)).toDF("id", "x"), Seq("id"))
        val after = VersionedTable.readVersion(spark, path, v)
        assert(after.where($"id" === 100L).count() === 2, conf)
        assert(after.where($"id" === 3L).select("x").as[Long].collect().toSeq === Seq(7L), conf)
        assert(after.count() === 12, conf)
        e.getMessage
      }
    }
    assert(msgs.head.contains("multiple source rows") && msgs.head.contains("1 duplicated key"),
      msgs.head)
    assert(msgs.head === msgs.last)
  }

  test("DV keys agree with the manifest on partition values that need escaping") {
    val path = fresh()
    val parts = Seq("a b", "c%d", "é/ü", "plain")
    VersionedTable.createPartitioned(spark.range(40)
      .select($"id", element_at(typedLit(parts), ($"id" % 4 + 1).cast("int")).as("p")),
      path, "p")
    assert(VersionedTable.partitionsAt(path, 0L, "p") === parts.sorted)
    val v1 = VersionedTable.deleteWhere(spark, path, $"id" < 10)
    val v2 = VersionedTable.deleteWhere(spark, path, $"id" < 20)
    VersionedTable.writeCounts(spark, path, v2)
    assert(VersionedTable.read(spark, path).count() === 20)
    assert(VersionedTable.countAtLive(spark, path, v2) === Some(20L))
    assert(VersionedTable.partitionRowCountsLive(spark, path, v2, "p") ===
      Some(parts.sorted.map(_ -> 5L)))
    assert(VersionedTable.changeFeed(spark, path, v1, v2, Seq("id"), Seq("p")).count() === 10)
    assert(rows(VersionedTable.readWherePartitions(spark, path, v2, "p", Seq("c%d"))) ===
      rows(VersionedTable.read(spark, path).where($"p" === "c%d")))
    // coalesceDv keeps the marks: their keys match the manifest's rels
    val v3 = VersionedTable.coalesceDv(spark, path)
    assert(v3 === v2 + 1 && VersionedTable.dvsAt(path, v3).nonEmpty)
    assert(VersionedTable.readVersion(spark, path, v3).count() === 20)
    VersionedTable.writeSums(spark, path, v3, "id")
    assert(VersionedTable.sumAtLive(spark, path, v3, "id") === Some((20L until 40L).sum))
  }
}
