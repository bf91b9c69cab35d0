package graft

import graft.sources.VersionedTable
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._

/** The per-file statistic sidecars of the versioned table (stats, counts,
  * sums, moments, ndv, bloom): their bytes pinned on a flat and a
  * partitioned table over two commits, and the layouts every writer must
  * serve — a shallow clone's borrowed files, a partition column, a
  * refresh that measures only the files a commit added. */
class SidecarCodecSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() =
    java.nio.file.Files.createTempDirectory("graft_vts").toString + "/t"

  private def hfs(p: String) = new HPath(p).getFileSystem(spark.sessionState.newHadoopConf())
  private def readBytes(p: String): Array[Byte] = {
    val fs = hfs(p)
    val in = fs.open(new HPath(p))
    try {
      val buf = new Array[Byte](fs.getFileStatus(new HPath(p)).getLen.toInt)
      in.readFully(buf); buf
    } finally in.close()
  }
  private def readText(p: String): String = new String(readBytes(p), "UTF-8")
  private def delete(p: String): Unit = hfs(p).delete(new HPath(p), true)
  private def sidecar(path: String, v: Long, name: String): String =
    s"$path/_versions/" + f"v$v%08d.$name"

  /** Commit ids (the 8 hex chars that open every data file name) in the
    * order the table's manifests first list them. */
  private def commitIds(path: String): Seq[String] =
    VersionedTable.versions(path).flatMap(VersionedTable.filesAt(path, _))
      .map(f => new HPath(f).getName.take(8)).distinct

  /** A bloom shard decoded to one line per entry, in file order:
    * `rel m k word:bits,...` (the binary layout: magic "GBLM", then per
    * entry u16 rel length, rel bytes, i64 m, i32 k, i32 n, n × (i64, i64)). */
  private def bloomLines(bytes: Array[Byte]): Seq[String] = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    assert(in.readInt() === 0x47424C4D)
    val out = Seq.newBuilder[String]
    while (in.available() > 0) {
      val rb = new Array[Byte](in.readUnsignedShort())
      in.readFully(rb)
      val m = in.readLong()
      val k = in.readInt()
      val words = Seq.fill(in.readInt())((in.readLong(), in.readLong()))
      out += s"${new String(rb, "UTF-8")} $m $k " +
        words.map { case (w, b) => s"$w:${java.lang.Long.toHexString(b)}" }.mkString(",")
    }
    out.result()
  }

  /** Run the six writers at version `v` of `path`. */
  private def writeAll(path: String, v: Long): Unit = {
    VersionedTable.writeStats(spark, path, v, "x")
    VersionedTable.writeCounts(spark, path, v)
    VersionedTable.writeSums(spark, path, v, "x")
    VersionedTable.writeMoments(spark, path, v, "x")
    VersionedTable.writeNdv(spark, path, v, "s")
    VersionedTable.writeBloom(spark, path, v, "id")
  }

  private val jsonSidecars = Seq("stats.x.json", "counts.json", "sum.x.json",
    "moments.x.json", "ndv.s.json")

  /** Pin the sidecars at `v` against `golden`, whose lines write the
    * i-th commit id as `#i` (ids are random): each family's bytes are its
    * golden lines with the real ids put back, sorted (every writer sorts
    * by file), joined by newlines; a bloom shard's decoded entries
    * likewise. `keep` selects the golden lines of the files `v` lists. */
  private def assertGolden(path: String, v: Long, golden: Map[String, Seq[String]],
      keep: String => Boolean): Unit = {
    val ids = commitIds(path)
    def real(s: String) = ids.zipWithIndex.foldLeft(s) { case (acc, (id, i)) =>
      acc.replace(s"#$i", id) }
    val want = golden.map { case (n, lines) => n -> lines.filter(keep).map(real).sorted }
      .filter { case (n, lines) => !n.startsWith("bloom/") || lines.nonEmpty }
    jsonSidecars.foreach { n =>
      assert(readText(sidecar(path, v, n)) === want(n).mkString("\n"), s"v$v $n")
    }
    val bloomDir = sidecar(path, v, "bloom.id.d")
    val shards = hfs(bloomDir).listStatus(new HPath(bloomDir)).map(_.getPath.getName)
      .filterNot(_.startsWith(".")).sorted.toSeq
    assert(shards.map(s => s"bloom/$s") === want.keys.filter(_.startsWith("bloom/")).toSeq.sorted)
    shards.foreach { s =>
      assert(bloomLines(readBytes(s"$bloomDir/$s")) === want(s"bloom/$s"), s"v$v bloom $s")
    }
  }

  private def rows(ids: org.apache.spark.sql.Dataset[_]) = ids.toDF().select($"id",
    when($"id" % 5 === 0, lit(null).cast("long")).otherwise($"id" * 7 % 5 - 2).as("x"),
    ($"id" % 4).cast("string").as("s"))

  /** Build a table, write every family at v0, append, write them at v1;
    * v0 must carry `golden`'s first-commit lines, v1 all of them. */
  private def assertFamilies(build: String => Unit, append: String => Long,
      golden: Map[String, Seq[String]]): Unit = {
    val path = fresh()
    build(path)
    writeAll(path, 0L)
    assertGolden(path, 0L, golden, _.contains("/#0-"))
    val v1 = append(path)
    writeAll(path, v1)
    assertGolden(path, v1, golden, _ => true)
  }

  private val flatGolden = Map(
    "bloom/data.bin" -> Seq(
      "data/#0-part00000.parquet 128 7 0:21004135106d040c,1:d09212c640440823",
      "data/#0-part00001.parquet 128 7 0:18c1060850a4084b,1:a44ae1c28c08a800",
      "data/#1-part00000.parquet 64 7 0:c174262768303431"),
    "counts.json" -> Seq(
      """{"file":"data/#0-part00000.parquet","rows":6}""",
      """{"file":"data/#0-part00001.parquet","rows":6}""",
      """{"file":"data/#1-part00000.parquet","rows":4}"""),
    "moments.x.json" -> Seq(
      """{"file":"data/#0-part00000.parquet","n":4,"lo":-1,"hi":2,"s1":"2","s2":"6","s3":"8","s4":"18"}""",
      """{"file":"data/#0-part00001.parquet","n":5,"lo":-1,"hi":2,"s1":"2","s2":"6","s3":"8","s4":"18"}""",
      """{"file":"data/#1-part00000.parquet","n":0,"lo":0,"hi":0,"s1":"0","s2":"0","s3":"0","s4":"0"}"""),
    "ndv.s.json" -> Seq(
      """{"file":"data/#0-part00000.parquet","p":6,"regs":"27:8,39:1,46:2"}""",
      """{"file":"data/#0-part00001.parquet","p":6,"regs":"27:8,39:1,46:2"}""",
      """{"file":"data/#1-part00000.parquet","p":6,"regs":"27:8,39:1,46:2"}"""),
    // the all-null file has no min/max: no entry
    "stats.x.json" -> Seq(
      """{"file":"data/#0-part00000.parquet","min":-1,"max":2}""",
      """{"file":"data/#0-part00001.parquet","min":-1,"max":2}"""),
    "sum.x.json" -> Seq(
      """{"file":"data/#0-part00000.parquet","sum":2}""",
      """{"file":"data/#0-part00001.parquet","sum":2}""",
      """{"file":"data/#1-part00000.parquet","sum":0}"""))

  private val partGolden = Map(
    "bloom/p=a b.bin" -> Seq(
      "data/p=a b/#0-part00000.parquet 64 7 0:8112027540240c2a",
      "data/p=a b/#0-part00001.parquet 64 7 0:3842a302c488a809",
      "data/p=a b/#1-part00000.parquet 64 7 0:c104060208300011"),
    "bloom/p=c%25d.bin" -> Seq(
      "data/p=c%25d/#0-part00000.parquet 64 7 0:70805186104d0c05",
      "data/p=c%25d/#0-part00001.parquet 64 7 0:84c944c858a40842",
      "data/p=c%25d/#1-part00000.parquet 64 7 0:70202560203420"),
    "counts.json" -> Seq(
      """{"file":"data/p=a b/#0-part00000.parquet","rows":3}""",
      """{"file":"data/p=a b/#0-part00001.parquet","rows":3}""",
      """{"file":"data/p=a b/#1-part00000.parquet","rows":2}""",
      """{"file":"data/p=c%25d/#0-part00000.parquet","rows":3}""",
      """{"file":"data/p=c%25d/#0-part00001.parquet","rows":3}""",
      """{"file":"data/p=c%25d/#1-part00000.parquet","rows":2}"""),
    "moments.x.json" -> Seq(
      """{"file":"data/p=a b/#0-part00000.parquet","n":2,"lo":1,"hi":2,"s1":"3","s2":"5","s3":"9","s4":"17"}""",
      """{"file":"data/p=a b/#0-part00001.parquet","n":2,"lo":-1,"hi":0,"s1":"-1","s2":"1","s3":"-1","s4":"1"}""",
      """{"file":"data/p=a b/#1-part00000.parquet","n":1,"lo":2,"hi":2,"s1":"2","s2":"4","s3":"8","s4":"16"}""",
      """{"file":"data/p=c%25d/#0-part00000.parquet","n":2,"lo":-1,"hi":0,"s1":"-1","s2":"1","s3":"-1","s4":"1"}""",
      """{"file":"data/p=c%25d/#0-part00001.parquet","n":3,"lo":0,"hi":2,"s1":"3","s2":"5","s3":"9","s4":"17"}""",
      """{"file":"data/p=c%25d/#1-part00000.parquet","n":2,"lo":-1,"hi":0,"s1":"-1","s2":"1","s3":"-1","s4":"1"}"""),
    "ndv.s.json" -> Seq(
      """{"file":"data/p=a b/#0-part00000.parquet","p":6,"regs":"27:8,46:2"}""",
      """{"file":"data/p=a b/#0-part00001.parquet","p":6,"regs":"27:8,46:2"}""",
      """{"file":"data/p=a b/#1-part00000.parquet","p":6,"regs":"27:8,46:2"}""",
      """{"file":"data/p=c%25d/#0-part00000.parquet","p":6,"regs":"27:1,39:1"}""",
      """{"file":"data/p=c%25d/#0-part00001.parquet","p":6,"regs":"27:1,39:1"}""",
      """{"file":"data/p=c%25d/#1-part00000.parquet","p":6,"regs":"27:1,39:1"}"""),
    "stats.x.json" -> Seq(
      """{"file":"data/p=a b/#0-part00000.parquet","min":1,"max":2}""",
      """{"file":"data/p=a b/#0-part00001.parquet","min":-1,"max":0}""",
      """{"file":"data/p=a b/#1-part00000.parquet","min":2,"max":2}""",
      """{"file":"data/p=c%25d/#0-part00000.parquet","min":-1,"max":0}""",
      """{"file":"data/p=c%25d/#0-part00001.parquet","min":0,"max":2}""",
      """{"file":"data/p=c%25d/#1-part00000.parquet","min":-1,"max":0}"""),
    "sum.x.json" -> Seq(
      """{"file":"data/p=a b/#0-part00000.parquet","sum":3}""",
      """{"file":"data/p=a b/#0-part00001.parquet","sum":-1}""",
      """{"file":"data/p=a b/#1-part00000.parquet","sum":2}""",
      """{"file":"data/p=c%25d/#0-part00000.parquet","sum":-1}""",
      """{"file":"data/p=c%25d/#0-part00001.parquet","sum":3}""",
      """{"file":"data/p=c%25d/#1-part00000.parquet","sum":-1}"""))

  test("golden bytes: all six sidecar families on a flat and a partitioned table") {
    assertFamilies(p => VersionedTable.create(rows(spark.range(0, 12, 1, 2)), p),
      p => VersionedTable.commit(
        rows(spark.range(100, 104, 1, 1)).withColumn("x", lit(null).cast("long")), p),
      flatGolden)
    // partition values whose paths need escaping: "a b" (URI %20), "c%d"
    // (Spark's path escape %25, URI %2525)
    def part(df: org.apache.spark.sql.Dataset[_]) =
      rows(df).withColumn("p", when($"id" % 2 === 0, "a b").otherwise("c%d"))
    assertFamilies(
      p => VersionedTable.createPartitioned(part(spark.range(0, 12, 1, 2)), p, "p"),
      p => VersionedTable.commitPartitioned(part(spark.range(100, 104, 1, 1)), p, "p"),
      partGolden)
  }

  /** Task input records of the jobs `body` launches from this thread,
    * counted by job group; a marker job in its own group flushes the
    * listener queue. */
  private def recordsReadDuring(body: => Unit): Long = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong()
    @volatile var flushed = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some("vt-measure") => e.stageIds.foreach(stages.add)
          case Some("vt-marker") => flushed = true
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("vt-measure", "sidecar write")
      try body finally sc.clearJobGroup()
      sc.setJobGroup("vt-marker", "listener flush")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!flushed && System.nanoTime() < deadline) Thread.sleep(10)
      assert(flushed, "listener never saw the marker job")
      records.get
    } finally sc.removeSparkListener(listener)
  }

  test("writeStats measures only the files no earlier sidecar covers") {
    val path = fresh()
    VersionedTable.create(spark.range(0, 1000, 1, 4).toDF("id"), path)
    assert(recordsReadDuring(VersionedTable.writeStats(spark, path, 0L, "id")) === 1000L)
    val v1 = VersionedTable.commit(spark.range(1000, 1100, 1, 1).toDF("id"), path)
    assert(recordsReadDuring(VersionedTable.writeStats(spark, path, v1, "id")) === 100L)
    val carried = readText(sidecar(path, v1, "stats.id.json"))
    // a full rewrite: with no sidecar left to carry, every file is measured
    delete(sidecar(path, 0L, "stats.id.json"))
    delete(sidecar(path, v1, "stats.id.json"))
    assert(recordsReadDuring(VersionedTable.writeStats(spark, path, v1, "id")) === 1100L)
    assert(readText(sidecar(path, v1, "stats.id.json")) === carried)
    assert(carried.split("\n").length === 5)
  }

  test("writeStats on a partition column writes what writeStatsAll writes") {
    val path = fresh()
    VersionedTable.createPartitioned(
      spark.range(0, 90, 1, 2).select($"id", ($"id" % 3).as("p")), path, "p")
    VersionedTable.writeStatsAll(spark, path, 0L, Seq("p"))
    val all = readText(sidecar(path, 0L, "stats.p.json"))
    delete(sidecar(path, 0L, "stats.p.json"))
    VersionedTable.writeStats(spark, path, 0L, "p")
    assert(readText(sidecar(path, 0L, "stats.p.json")) === all)
    // one entry per file, each file's range its partition value
    val entry = """\{"file":"data/p=(\d)/[^"]+","min":(\d),"max":(\d)\}""".r
    val lines = all.split("\n").toSeq
    assert(lines.length === VersionedTable.filesAt(path, 0L).length)
    lines.foreach { case entry(p, lo, hi) => assert(lo === p && hi === p) }
    assert(VersionedTable.filesForRange(path, 0L, "p", 1L, 1L) ===
      VersionedTable.filesForPartitions(path, 0L, "p", Seq("1")))
  }

  test("shallow clone: every writer serves borrowed files; answers equal the read") {
    val src = fresh()
    val dst = fresh()
    // two source files, ids [0,99] and [100,199]
    VersionedTable.create(spark.range(0, 200, 1, 2).select($"id",
      ($"id" % 7).as("x"), ($"id" % 30).cast("string").as("s")), src)
    VersionedTable.cloneTable(src, dst)
    val v1 = VersionedTable.commit(spark.range(1000, 1100, 1, 1).select($"id",
      ($"id" % 7).as("x"), ($"id" % 30).cast("string").as("s")), dst)
    val files = VersionedTable.filesAt(dst, v1)
    val own = files.filter(_.startsWith(dst))
    assert(own.length === 1 && files.length === 3)
    VersionedTable.writeStats(spark, dst, v1, "id")
    VersionedTable.writeStatsAll(spark, dst, v1, Seq("id", "x"))
    VersionedTable.writeCounts(spark, dst, v1)
    VersionedTable.writeSums(spark, dst, v1, "x")
    VersionedTable.writeMoments(spark, dst, v1, "x")
    VersionedTable.writeNdv(spark, dst, v1, "s")
    VersionedTable.writeBloom(spark, dst, v1, "id")
    val data = VersionedTable.readVersion(spark, dst, v1)
    assert(VersionedTable.countAt(dst, v1) === Some(data.count()))
    assert(VersionedTable.sumAt(dst, v1, "x") ===
      Some(data.agg(sum("x")).head().getLong(0)))
    val hll = graft.operators.Sketch
      .hllDistinct(data, col("s"), Seq.empty, p = 6, tag = "vtndv").collect().head
    assert(VersionedTable.ndvAt(dst, v1, "s") === Some((hll.getLong(0), hll.getLong(1))))
    val (n, lo, hi, _) = VersionedTable.momentsAt(dst, v1, "x").get
    assert((n, lo, hi) === ((300L, 0L, 6L)))
    // range and key probes prune the borrowed files too
    assert(VersionedTable.filesForRange(dst, v1, "id", 1000L, 1050L) === own)
    assert(VersionedTable.filesForRange(dst, v1, "x", 7L, 9L).isEmpty)
    assert(VersionedTable.filesForRange(dst, v1, "id", 150L, 160L) ===
      files.filter(f => f.startsWith(src) && f.endsWith("-part00001.parquet")))
    assert(VersionedTable.filesForKeys(dst, v1, "id", Seq("-1", "5000")).isEmpty)
    assert(VersionedTable.filesForKeys(dst, v1, "id", Seq("1042")) === own)
  }
}
