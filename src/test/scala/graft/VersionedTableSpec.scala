package graft

import graft.sources.VersionedTable
import org.apache.spark.sql.functions._

/** Versioned-table commit protocol: atomic publish, time travel,
  * content-identical compaction, CDC copy-on-write, vacuum, and the
  * optimistic same-version conflict. */
class VersionedTableSpec extends SparkSpec {
  import spark.implicits._

  private def fresh() =
    java.nio.file.Files.createTempDirectory("graft_vt").toString + "/t"

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().sorted.toSeq

  test("create / append / overwrite with exact time travel") {
    val path = fresh()
    val v0 = VersionedTable.create(
      spark.range(10).select($"id", ($"id" * 2).as("x")), path)
    assert(v0 === 0L)
    val v1 = VersionedTable.commit(
      spark.range(10, 15).select($"id", ($"id" * 2).as("x")), path, "append")
    val v2 = VersionedTable.commit(
      spark.range(100, 103).select($"id", ($"id" * 2).as("x")), path, "overwrite")
    assert((v1, v2) === ((1L, 2L)))
    // every version still reads exactly its own contents
    assert(ids(VersionedTable.readVersion(spark, path, 0)) === (0L until 10L))
    assert(ids(VersionedTable.readVersion(spark, path, 1)) === (0L until 15L))
    assert(ids(VersionedTable.readVersion(spark, path, 2)) === (100L until 103L))
    assert(ids(VersionedTable.read(spark, path)) === (100L until 103L))
    assert(VersionedTable.versions(path) === Seq(0L, 1L, 2L))
  }

  test("versionAt / readAsOf resolve wall-clock instants to versions") {
    val path = fresh()
    VersionedTable.create(spark.range(3).toDF("id"), path)
    VersionedTable.commit(spark.range(3, 6).toDF("id"), path, "append")
    VersionedTable.commit(spark.range(100, 102).toDF("id"), path, "overwrite")
    // pin publication instants: v0 @1000, v1 @2000, v2 @3000
    (0L to 2L).foreach { v =>
      java.nio.file.Files.setLastModifiedTime(
        java.nio.file.Paths.get(path, "_versions", f"v$v%08d.json"),
        java.nio.file.attribute.FileTime.fromMillis(1000 * (v + 1)))
    }
    assert(VersionedTable.versionAt(path, 999) === None)
    assert(VersionedTable.versionAt(path, 1000) === Some(0L))
    assert(VersionedTable.versionAt(path, 2500) === Some(1L))
    assert(VersionedTable.versionAt(path, 99999) === Some(2L))
    assert(ids(VersionedTable.readAsOf(spark, path, 2500)) === (0L until 6L))
    intercept[IllegalArgumentException](VersionedTable.readAsOf(spark, path, 5))
  }

  test("changesSince: poll-and-advance CDC consumption") {
    val path = fresh()
    VersionedTable.create(
      spark.range(5).select($"id", ($"id" * 10).as("x")), path)
    // nothing new after v0: consumer keeps its checkpoint
    assert(VersionedTable.changesSince(spark, path, 0L, Seq("id"), Seq("x")) === None)
    VersionedTable.commit(
      spark.range(3, 7).select($"id", ($"id" * 10 + 1).as("x")), path, "overwrite")
    val (feed, ckpt) =
      VersionedTable.changesSince(spark, path, 0L, Seq("id"), Seq("x")).get
    assert(ckpt === 1L)
    val changes = feed.select("id", "change").as[(Long, String)]
      .collect().sortBy(_._1).toSeq
    assert(changes === Seq((0L, "removed"), (1L, "removed"), (2L, "removed"),
      (3L, "changed"), (4L, "changed"), (5L, "added"), (6L, "added")))
  }

  test("staged files without a manifest are invisible to readers") {
    val path = fresh()
    VersionedTable.create(spark.range(5).toDF("id"), path)
    // drop an orphan parquet straight into data/ (a crashed commit)
    spark.range(1000, 1002).toDF("id").write
      .parquet(java.nio.file.Paths.get(path, "orphan").toString)
    val part = new java.io.File(s"$path/orphan").listFiles()
      .find(_.getName.endsWith(".parquet")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(path, "data", "orphan.parquet"))
    assert(ids(VersionedTable.read(spark, path)) === (0L until 5L)) // unseen
  }

  test("compaction commits identical content as a new version") {
    val path = fresh()
    VersionedTable.create(
      spark.range(2000).repartition(16).select($"id", ($"id" % 7).as("g")), path)
    VersionedTable.commit(
      spark.range(2000, 2500).select($"id", ($"id" % 7).as("g")), path, "append")
    val before = VersionedTable.read(spark, path)
    val nFilesBefore = VersionedTable.filesAt(path, 1).length
    val v = VersionedTable.compact(spark, path, targetBytes = 64L * 1024 * 1024)
    assert(v === 2L)
    val after = VersionedTable.readVersion(spark, path, 2)
    assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
    assert(VersionedTable.filesAt(path, 2).length < nFilesBefore)
    // pre-compaction versions still read
    assert(VersionedTable.readVersion(spark, path, 1).count() === 2500)
  }

  test("CDC copy-on-write: applyChanges release becomes an overwrite commit") {
    val path = fresh()
    val old = spark.range(100).select($"id", concat(lit("t"), $"id").as("text"))
    VersionedTable.create(old, path)
    val newRel = old.where($"id" % 10 =!= 0)
      .select($"id", when($"id" % 7 === 0, concat($"text", lit("!")))
        .otherwise($"text").as("text"))
    val changes = graft.operators.Diff.snapshotDiff(
        VersionedTable.read(spark, path), newRel, Seq("id"), Seq("text"))
      .filter($"change" =!= "unchanged")
    val merged = graft.operators.Diff.applyChanges(
      VersionedTable.read(spark, path), changes, Seq("id"), Seq("text"))
    VersionedTable.commit(merged, path, "overwrite")
    val got = VersionedTable.read(spark, path)
    assert(got.exceptAll(newRel).isEmpty && newRel.exceptAll(got).isEmpty)
    // and v0 is still the pre-release table
    assert(VersionedTable.readVersion(spark, path, 0).count() === 100)
  }

  test("same-version race: exactly one committer wins") {
    val path = fresh()
    VersionedTable.create(spark.range(3).toDF("id"), path)
    // two committers both computed against v0 and target v1: the second
    // publish lands on an existing manifest name and must fail atomically
    VersionedTable.publish(path, 1L, 0L, "append",
      VersionedTable.filesAt(path, 0L).map(f =>
        "data/" + java.nio.file.Paths.get(f).getFileName))
    assertThrows[IllegalStateException](
      VersionedTable.publish(path, 1L, 0L, "append", Seq.empty))
    // the winner's manifest is intact and readable
    assert(ids(VersionedTable.readVersion(spark, path, 1)) === (0L until 3L))
  }

  test("appendWithRetry: rebases on a lost race (deterministic) and under real contention") {
    // deterministic single-retry: a one-shot committer interceptor lands
    // a competing manifest at the same target right before the append's
    // first publish — the append must lose, re-list, and land as v2
    val path = fresh()
    VersionedTable.create(spark.range(3).toDF("id"), path)
    val real = VersionedTable.committer
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    VersionedTable.committer = new VersionedTable.ManifestCommitter {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Unit = {
        if (fired.compareAndSet(false, true))
          // the competitor: v1 = same files as v0 (a no-op append)
          VersionedTable.publish(path, 1L, 0L, "append",
            VersionedTable.filesAt(path, 0L).map(f =>
              "data/" + new org.apache.hadoop.fs.Path(f).getName))
        real.publish(fs, tmp, target)
      }
    }
    try {
      val v = VersionedTable.appendWithRetry(spark.range(3, 6).toDF("id"), path)
      assert(v === 2L)
      assert(ids(VersionedTable.read(spark, path)) === (0L until 6L))
    } finally VersionedTable.committer = real
    // real contention: 6 uncoordinated appenders all succeed; the final
    // table is the union. The LOCAL filesystem's publish is documented
    // check-then-act (test-grade), so the test arbitrates with a
    // lock-based committer that provides the exactly-one-wins contract
    // HDFS provides for real — the code under test here is the RETRY
    // rebase, not the per-scheme atomicity primitive.
    val path2 = fresh()
    VersionedTable.create(spark.range(0).toDF("id"), path2)
    val lock = new Object
    VersionedTable.committer = new VersionedTable.ManifestCommitter {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Unit = lock.synchronized {
        // under the lock the rename committer's exists + rename is one step
        real.publish(fs, tmp, target)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
    try {
      import scala.jdk.CollectionConverters._
      val tasks = (0 until 6).map { i =>
        new java.util.concurrent.Callable[Long] {
          def call(): Long = VersionedTable.appendWithRetry(
            spark.range(i * 10, i * 10 + 10).toDF("id"), path2, maxRetries = 50)
        }
      }
      val got = pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      assert(got.sorted === (1L to 6L))
    } finally { pool.shutdown(); VersionedTable.committer = real }
    assert(ids(VersionedTable.read(spark, path2)) === (0L until 60L))
  }

  test("writeStatsAll: one scan, per-column sidecars byte-identical to writeStats") {
    val path = fresh()
    VersionedTable.create(
      spark.range(1000).select($"id", ($"id" * 7 % 100).as("a"),
        (lit(null).cast("long")).as("allnull")).repartition(4), path)
    def sidecar(col: String): String = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_versions", f"v${0L}%08d.stats.$col.json")),
      "UTF-8")
    // reference: the single-column writer
    VersionedTable.writeStats(spark, path, 0L, "id")
    VersionedTable.writeStats(spark, path, 0L, "a")
    val (refId, refA) = (sidecar("id"), sidecar("a"))
    // one-pass writer overwrites with byte-identical bodies
    VersionedTable.writeStatsAll(spark, path, 0L, Seq("id", "a", "allnull"))
    assert(sidecar("id") === refId)
    assert(sidecar("a") === refA)
    // all-null column: empty sidecar (keep-on-missing), reads still prune
    assert(sidecar("allnull") === "")
    assert(ids(VersionedTable.readWhere(spark, path, 0L, "id", 0L, 9L)) ===
      (0L until 10L))
  }

  test("maintenanceReport: metadata-only compact/purge recommendations") {
    val path = fresh()
    // 64 tiny files: small-file compaction recommended
    VersionedTable.create(spark.range(1000).toDF("id").repartition(64), path)
    val r1 = VersionedTable.maintenanceReport(spark, path).collect().head
    assert(r1.getAs[Int]("n_files") === 64)
    assert(r1.getAs[Boolean]("recommend_compact"))
    assert(!r1.getAs[Boolean]("recommend_purge"))
    // a delete backlog: purge recommended too (tiny table -> ratio high)
    VersionedTable.deleteWhere(spark, path, col("id") % 2 === 0)
    val r2 = VersionedTable.maintenanceReport(spark, path).collect().head
    assert(r2.getAs[Int]("dv_shards") >= 1 && r2.getAs[Boolean]("recommend_purge"))
    // optimize clears both
    VersionedTable.optimize(spark, path, targetBytes = 64L * 1024 * 1024)
    val r3 = VersionedTable.maintenanceReport(spark, path).collect().head
    assert(!r3.getAs[Boolean]("recommend_compact") &&
      !r3.getAs[Boolean]("recommend_purge"))
    // trickle-fragmented backlog: coalesce recommended (cheaper than a
    // purge rewrite), and running coalesceDv clears exactly that flag
    (1 to 5).foreach(i =>
      VersionedTable.deleteWhere(spark, path, col("id") % 97 === i.toLong))
    val r4 = VersionedTable.maintenanceReport(spark, path, maxDvShards = 4)
      .collect().head
    assert(r4.getAs[Int]("dv_shards") >= 5)
    assert(r4.getAs[Boolean]("recommend_coalesce_dv"))
    VersionedTable.coalesceDv(spark, path)
    val r5 = VersionedTable.maintenanceReport(spark, path, maxDvShards = 4)
      .collect().head
    assert(r5.getAs[Int]("dv_shards") === 1)
    assert(!r5.getAs[Boolean]("recommend_coalesce_dv"))
  }

  test("autoMaintain applies the report's cheapest sufficient action") {
    val path = fresh()
    val tb = 1L * 1024 * 1024 // targetBytes sized so the 4 files aren't "small"
    // fragmented TRICKLE backlog (6 shards, marks ≪ 1% of data bytes)
    // over healthy file sizes -> coalesce is sufficient; optimize would
    // rewrite every data byte for nothing
    VersionedTable.create(spark.range(2000000L).toDF("id").repartition(4), path)
    (1 to 6).foreach(i =>
      VersionedTable.deleteWhere(spark, path, col("id") % 100003 === i.toLong))
    val before = VersionedTable.dvsAt(path,
      VersionedTable.latestVersion(path).get).size
    assert(before >= 6)
    val n0 = VersionedTable.read(spark, path).count()
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      maxDvShards = 4) === Seq("coalesce-dv"))
    assert(VersionedTable.dvsAt(path,
      VersionedTable.latestVersion(path).get).size === 1)
    assert(VersionedTable.read(spark, path).count() === n0)
    // coalesced, healthy, ratio tiny: the next pass does NOTHING
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      maxDvShards = 4) === Nil)
    // a heavy backlog trips the purge ratio -> optimize, DVs gone
    VersionedTable.deleteWhere(spark, path, col("id") % 3 === 0)
    val n1 = VersionedTable.read(spark, path).count()
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      maxDvShards = 4) === Seq("optimize"))
    assert(!VersionedTable.hasDeletes(path,
      VersionedTable.latestVersion(path).get))
    assert(VersionedTable.read(spark, path).count() === n1)
  }

  test("autoMaintain never flattens a hive-partitioned layout: compact/purge route per partition") {
    val path = fresh()
    val tb = 1L * 1024 * 1024
    def layoutIsPartitioned(v: Long): Boolean =
      VersionedTable.filesAt(path, v).forall(a =>
        new org.apache.hadoop.fs.Path(a).getParent.getName.startsWith("p="))
    // 32 tiny files across 2 partitions: the compact trigger fires; the
    // unattended pass must compact PER PARTITION (optimize() would
    // silently flatten the k=v directories)
    VersionedTable.createPartitioned(
      spark.range(2000000L).select($"id", ($"id" % 2).cast("string").as("p"))
        .repartition(16), path, "p")
    assert(VersionedTable.maintenanceReport(spark, path, targetBytes = tb)
      .collect().head.getAs[Boolean]("recommend_compact"))
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      statsCol = Some("id")) === Seq("optimize-partitioned:p"))
    val v1 = VersionedTable.latestVersion(path).get
    assert(layoutIsPartitioned(v1), "compaction flattened the k=v layout")
    assert(VersionedTable.filesAt(path, v1).size < 32)
    assert(VersionedTable.read(spark, path).count() === 2000000L)
    // healthy now: the next pass does nothing
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      statsCol = Some("id")) === Nil)
    // fragmented trickle backlog, healthy files: coalesce alone, layout
    // untouched (coalesce republishes the file entries verbatim)
    (1 to 6).foreach(i =>
      VersionedTable.deleteWhere(spark, path, col("id") % 100003 === i.toLong))
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      maxDvShards = 4, statsCol = Some("id")) === Seq("coalesce-dv"))
    val v2 = VersionedTable.latestVersion(path).get
    assert(VersionedTable.dvsAt(path, v2).size === 1)
    assert(layoutIsPartitioned(v2))
    // purge-scale backlog: EVERY partition rewritten, dangled marks
    // GC'd, DV list dropped outright — flat optimize's wholesale purge,
    // with the layout preserved
    VersionedTable.deleteWhere(spark, path, col("id") % 3 === 0)
    val nLive = VersionedTable.read(spark, path).count()
    assert(VersionedTable.maintenanceReport(spark, path, targetBytes = tb)
      .collect().head.getAs[Boolean]("recommend_purge"))
    assert(VersionedTable.autoMaintain(spark, path, targetBytes = tb,
      statsCol = Some("id")) === Seq("optimize-partitioned:p", "coalesce-dv"))
    val v3 = VersionedTable.latestVersion(path).get
    assert(!VersionedTable.hasDeletes(path, v3), "purge left DVs behind")
    assert(layoutIsPartitioned(v3))
    assert(VersionedTable.read(spark, path).count() === nLive)
    // the per-partition metadata faces survive — the silent breakage
    // the unguarded optimize() caused — and the physical faces are
    // re-enabled by the purge
    VersionedTable.writeCounts(spark, path, v3)
    assert(VersionedTable.countAt(path, v3) === Some(nLive))
    val parts = VersionedTable.partitionRowCounts(path, v3, "p").get
    assert(parts.map(_._1).sorted === Seq("0", "1"))
    assert(parts.map(_._2).sum === nLive)
  }

  test("manifest entry parsing is anchored to the files/dv arrays") {
    val path = fresh()
    VersionedTable.create(spark.range(10).toDF("id"), path)
    val rels = VersionedTable.filesAt(path, 0L).map(f =>
      "data/" + new org.apache.hadoop.fs.Path(f).getName)
    // an action string that ENDS in .parquet and embeds a .dv token —
    // the whole-body regex this replaced would have treated both as
    // manifest entries and carried the ghosts into restore/coalesce
    VersionedTable.publish(path, 1L, 0L,
      "backfill:marks.dv into /tmp/ghost.parquet", rels)
    assert(VersionedTable.filesAt(path, 1L).map(f =>
      new org.apache.hadoop.fs.Path(f).getName).sorted ===
      rels.map(_.stripPrefix("data/")).sorted)
    assert(VersionedTable.dvsAt(path, 1L) === Seq.empty)
    assert(VersionedTable.actionAt(path, 1L) ===
      "backfill:marks.dv into /tmp/ghost.parquet")
    // history's file/dv counters use the same anchored parse
    val h = VersionedTable.history(spark, path).where($"version" === 1L)
      .collect().head
    assert(h.getAs[Int]("n_files") === rels.size)
    assert(h.getAs[Int]("n_dv_shards") === 0)
    // a restore THROUGH the poisoned version carries only real entries
    VersionedTable.commit(spark.range(10, 20).toDF("id"), path, "overwrite")
    val rv = VersionedTable.restore(path, 1L)
    assert(ids(VersionedTable.readVersion(spark, path, rv)) === (0L until 10L))
  }

  test("committer contract: rename and conditional-put both arbitrate the race; table runs on either") {
    // the object-store hook, contract-spec'd side by side with the
    // default: exactly one of two same-target publishes wins, the
    // winner's bytes are intact, and the whole table protocol (create /
    // append / read / time travel) runs unchanged on the alternate
    // committer
    Seq(VersionedTable.RenameCommitter, VersionedTable.PutIfAbsentCommitter)
      .foreach { c =>
        val prev = VersionedTable.committer
        VersionedTable.committer = c
        try {
          val path = fresh()
          VersionedTable.create(spark.range(4).toDF("id"), path)
          VersionedTable.publish(path, 1L, 0L, "append",
            VersionedTable.filesAt(path, 0L).map(f =>
              "data/" + new org.apache.hadoop.fs.Path(f).getName))
          assertThrows[IllegalStateException](
            VersionedTable.publish(path, 1L, 0L, "append", Seq.empty))
          assert(ids(VersionedTable.readVersion(spark, path, 1)) === (0L until 4L))
          VersionedTable.commit(spark.range(4, 6).toDF("id"), path, "append")
          assert(ids(VersionedTable.read(spark, path)) === (0L until 6L))
          assert(ids(VersionedTable.readVersion(spark, path, 0)) === (0L until 4L))
          assert(VersionedTable.actionAt(path, 2L) === "append")
        } finally VersionedTable.committer = prev
      }
  }

  test("streaming ingest as foreachBatch append commits: one version per batch") {
    implicit val sqlCtx = spark.sqlContext
    // the ingest story end-to-end: micro-batches land as atomic append
    // commits, so a reader NEVER sees a partial batch — it reads the
    // last published version; the commit log doubles as ingest lineage
    val path = fresh()
    VersionedTable.create(spark.range(0, 5).toDF("id"), path)
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDF.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          VersionedTable.commit(batch.select(col("value").as("id")), path, "append")
        (): Unit
      }
      .start()
    try {
      input.addData(5L, 6L)
      q.processAllAvailable()
      val afterFirst = ids(VersionedTable.read(spark, path))
      assert(afterFirst === (0L to 6L))
      input.addData(7L, 8L, 9L)
      q.processAllAvailable()
      assert(ids(VersionedTable.read(spark, path)) === (0L to 9L))
      // one version per non-empty batch, all time-travelable
      assert(VersionedTable.versions(path) === Seq(0L, 1L, 2L))
      assert(ids(VersionedTable.readVersion(spark, path, 1)) === (0L to 6L))
    } finally q.stop()
  }

  test("streaming SOURCE: columns option narrows the scan schema at the source") {
    import spark.implicits._
    val path = fresh()
    VersionedTable.create(
      spark.range(100).select($"id", lit("payload" * 50).as("text"),
        ($"id" * 3).as("n")), path)
    // the V1 source materializes through an RDD boundary, so engine-side
    // pruning can't reach the scan — `columns` narrows it at the source
    val src = spark.readStream
      .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
      .option("path", path).option("columns", "id,n").load()
    assert(src.schema.fieldNames.toSeq === Seq("id", "n"))
    val q = src.groupBy().agg(sum($"n").as("s"))
      .writeStream.format("memory").queryName("vt_cols_src")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    assert(spark.table("vt_cols_src").as[Long].head() === (0L until 100L).map(_ * 3).sum)
    // unknown columns fail loudly at stream definition, not mid-batch
    val err = intercept[IllegalArgumentException] {
      spark.readStream
        .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
        .option("path", path).option("columns", "id,nope").load()
    }
    assert(err.getMessage.contains("'nope' not in table schema"))
  }

  test("streaming SOURCE: version offsets, snapshot-then-deltas, restart resume, append-only guard") {
    val path = fresh()
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vts_ck").toString
    VersionedTable.create(spark.range(5).select($"id", ($"id" * 2).as("x")), path)
    // foreachBatch sink: checkpoint-recoverable (memory sink is not)
    def start(buf: scala.collection.mutable.ArrayBuffer[Long]) = spark.readStream
      .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
      .option("path", path).load()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val got = b.select("id").as[Long](org.apache.spark.sql.Encoders.scalaLong)
          .collect()
        buf.synchronized { buf ++= got }
        (): Unit
      }
      .option("checkpointLocation", ckpt).start()
    val buf1 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = start(buf1)
    try {
      q.processAllAvailable()
      // first batch = the full snapshot at the start version
      assert(buf1.sorted === (0L until 5L))
      VersionedTable.commit(
        spark.range(5, 9).select($"id", ($"id" * 2).as("x")), path, "append")
      q.processAllAvailable()
      assert(buf1.sorted === (0L until 9L))
    } finally q.stop()
    // commits while the stream is DOWN, then restart from the same
    // checkpoint: only the unseen versions replay (offset = version).
    // A COMPACTION rides between the appends: layout-only, content
    // identical — it must advance the offset and emit NOTHING
    // (emitting its rewritten files would replay the whole table).
    VersionedTable.commit(
      spark.range(9, 12).select($"id", ($"id" * 2).as("x")), path, "append")
    VersionedTable.compact(spark, path, targetBytes = 64L * 1024 * 1024)
    VersionedTable.commit(
      spark.range(12, 14).select($"id", ($"id" * 2).as("x")), path, "append")
    val buf2 = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q2 = start(buf2)
    try {
      q2.processAllAvailable()
      assert(buf2.sorted === (9L until 14L))
      // a non-append commit poisons the stream with the documented error
      VersionedTable.commit(
        spark.range(3).select($"id", ($"id" * 2).as("x")), path, "overwrite")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      assert(e.getMessage.contains("append-only") ||
        Option(e.getCause).exists(_.getMessage.contains("append-only")))
    } finally q2.stop()
  }

  test("streaming SOURCE feeds stateful ops: windowed counts with a watermark") {
    val path = fresh()
    // event-time data committed across two versions
    val mk = (lo: Long, hi: Long) => spark.range(lo, hi)
      .select($"id", timestamp_seconds($"id" * 10).as("ts"))
    VersionedTable.create(mk(0, 6), path)
    VersionedTable.commit(mk(6, 12), path, "append")
    val q = spark.readStream
      .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
      .option("path", path).load()
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "60 seconds").getField("start").as("w"))
      .agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("vts_win")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val got = spark.table("vts_win")
        .select(unix_timestamp($"w").as("w"), $"n")
        .as[(Long, Long)].collect().sortBy(_._1)
      // ids 0..11 at 10s spacing -> minutes 0 and 60 hold 6 events each
      assert(got === Array((0L, 6L), (60L, 6L)))
    } finally q.stop()
  }

  test("commitStreamBatch: a replayed micro-batch is a no-op (exactly-once ingest)") {
    implicit val sqlCtx = spark.sqlContext
    val path = fresh()
    VersionedTable.create(spark.range(0, 5).toDF("id"), path)
    // a real streaming sink wired through the idempotent commit
    val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Long]
    val q = input.toDF.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        if (!batch.isEmpty)
          VersionedTable.commitStreamBatch(
            batch.select(col("value").as("id")), path, "ingest-a", bid)
        (): Unit
      }
      .start()
    try {
      input.addData(5L, 6L); q.processAllAvailable()
      input.addData(7L, 8L); q.processAllAvailable()
      assert(ids(VersionedTable.read(spark, path)) === (0L to 8L))
    } finally q.stop()
    // crash-replay simulation: the sink re-delivers an already-committed
    // batchId after restart — must be a no-op, not a duplicate append
    val before = VersionedTable.versions(path)
    assert(VersionedTable.commitStreamBatch(
      spark.range(7, 9).toDF("id"), path, "ingest-a", 1L).isEmpty)
    assert(VersionedTable.versions(path) === before)
    assert(ids(VersionedTable.read(spark, path)) === (0L to 8L))
    // the NEXT batch still commits, and an unrelated stream's batch 0
    // is not shadowed by this stream's progress
    assert(VersionedTable.commitStreamBatch(
      spark.range(9, 11).toDF("id"), path, "ingest-a", 2L).nonEmpty)
    assert(VersionedTable.commitStreamBatch(
      spark.range(11, 12).toDF("id"), path, "ingest-b", 0L).nonEmpty)
    assert(ids(VersionedTable.read(spark, path)) === (0L to 11L))
  }

  test("commitStreamBatch: exactly-once position survives a retention sweep (paused stream)") {
    // the paused-stream hazard: the stream's newest tagged manifest is
    // retired by a routine vacuum while the stream is down; on restart
    // the at-least-once sink re-delivers that batch. Without the
    // _streams position sidecar vacuum max-merges before retiring, the
    // replay guard would find no retained tag and RE-APPEND the
    // committed batch — silent duplicate rows.
    val path = fresh()
    VersionedTable.create(spark.range(0, 3).toDF("id"), path)
    assert(VersionedTable.commitStreamBatch(
      spark.range(3, 6).toDF("id"), path, "pausing", 0L).contains(1L))
    assert(VersionedTable.commitStreamBatch(
      spark.range(6, 9).toDF("id"), path, "pausing", 1L).contains(2L))
    // the stream pauses; unrelated table work buries its manifests...
    VersionedTable.commit(spark.range(9, 12).toDF("id"), path, "append")
    VersionedTable.compact(spark, path, targetBytes = 1L << 20)
    // ...and the nightly retention sweep retires every tagged one
    VersionedTable.vacuum(path, keepVersions = 2, minAgeMs = 0L)
    assert(VersionedTable.versions(path) === Seq(3L, 4L))
    assert(VersionedTable.streamPosAt(path, "pausing") === Some(1L))
    // restart re-delivers batch 1 -> still a no-op, rows exactly once
    val before = VersionedTable.versions(path)
    assert(VersionedTable.commitStreamBatch(
      spark.range(6, 9).toDF("id"), path, "pausing", 1L).isEmpty)
    assert(VersionedTable.versions(path) === before)
    assert(ids(VersionedTable.read(spark, path)) === (0L until 12L))
    // progress resumes past the remembered position; a sweep that drops
    // nothing tagged leaves the sidecar where it was (max of both wins)
    assert(VersionedTable.commitStreamBatch(
      spark.range(12, 13).toDF("id"), path, "pausing", 2L).nonEmpty)
    assert(ids(VersionedTable.read(spark, path)) === (0L until 13L))
    VersionedTable.vacuum(path, keepVersions = 10, minAgeMs = 0L)
    assert(VersionedTable.streamPosAt(path, "pausing") === Some(1L))
  }

  test("vacuum folds every tag variant the replay guard honors (lenient position parse)") {
    // The retention fold must speak the SINKS' tag language exactly: a
    // tag with no mode suffix, a colon-bearing future mode, or an id
    // that itself contains ':batch:' are all honored by the replay
    // guard's startsWith+takeWhile scan, so a retention sweep that
    // retires them must fold the same positions — a variant the fold
    // rejected but the guard honored would silently re-open the
    // forgotten-position replay hole for that stream.
    val path = fresh()
    VersionedTable.create(spark.range(0, 3).toDF("id"), path)
    def tagged(action: String): Unit = {
      val cur = VersionedTable.latestVersion(path).get
      VersionedTable.publish(path, cur + 1, cur, action,
        VersionedTable.filesAt(path, cur))
    }
    tagged("stream:bare:batch:7") // no mode suffix
    tagged("stream:colons:batch:4:upsert:v2") // future colon-bearing mode
    tagged("stream:odd:batch:9:batch:5:append") // id containing ':batch:'
    // bury them and retire every tagged manifest
    VersionedTable.commit(spark.range(3, 6).toDF("id"), path, "append")
    VersionedTable.vacuum(path, keepVersions = 1, minAgeMs = 0L)
    assert(VersionedTable.streamPosAt(path, "bare") === Some(7L))
    assert(VersionedTable.streamPosAt(path, "colons") === Some(4L))
    // an id embedding ':batch:' is ambiguous under the guard's
    // startsWith scan — it honors EVERY prefix split — so the fold
    // preserves each: both the embedded id and its short-prefix reading
    assert(VersionedTable.streamPosAt(path, "odd:batch:9") === Some(5L))
    assert(VersionedTable.streamPosAt(path, "odd") === Some(9L))
    // and the guard agrees end-to-end: the replays are no-ops
    assert(VersionedTable.commitStreamBatch(
      spark.range(90, 93).toDF("id"), path, "bare", 7L).isEmpty)
    assert(VersionedTable.commitStreamBatch(
      spark.range(90, 93).toDF("id"), path, "colons", 4L).isEmpty)
    assert(ids(VersionedTable.read(spark, path)) === (0L until 6L))
  }

  test("commitStreamBatch: append refuses a hive-partitioned layout (the upsert guard)") {
    val path = fresh()
    val df = spark.range(20).select(col("id"),
      (col("id") % 3).cast("string").as("src"))
    VersionedTable.createPartitioned(df, path, "src")
    val e = intercept[IllegalArgumentException](
      VersionedTable.commitStreamBatch(df, path, "s", 0L))
    assert(e.getMessage.contains("hive-partitioned"))
    // no version was published, nothing staged into the manifest
    assert(VersionedTable.versions(path) === Seq(0L))
  }

  test("manifest-level data skipping: range reads prune files without opening them") {
    val path = fresh()
    // range-partitioned write -> tight per-file id ranges (the z-order /
    // sorted-layout situation the skip stats are built for)
    VersionedTable.create(
      spark.range(10000).toDF("id").repartitionByRange(8, col("id")), path)
    VersionedTable.writeStats(spark, path, 0L, "id")
    val all = VersionedTable.filesAt(path, 0L)
    val pruned = VersionedTable.filesForRange(path, 0L, "id", 2000L, 2500L)
    assert(pruned.nonEmpty && pruned.length < all.length,
      s"no pruning: ${pruned.length} of ${all.length}")
    // skipped read == full-scan filter, row for row
    val got = ids(VersionedTable.readWhere(spark, path, 0L, "id", 2000L, 2500L))
    assert(got === (2000L to 2500L))
    // a miss range prunes everything and still returns a typed empty frame
    assert(VersionedTable.filesForRange(path, 0L, "id", 90000L, 99000L).isEmpty)
    assert(VersionedTable.readWhere(spark, path, 0L, "id", 90000L, 99000L).count() === 0)
    // without a sidecar, skipping degrades to read-everything (never loses rows)
    val noStats = fresh()
    VersionedTable.create(spark.range(100).toDF("id"), noStats)
    assert(VersionedTable.filesForRange(noStats, 0L, "id", 5L, 7L) ===
      VersionedTable.filesAt(noStats, 0L))
    assert(ids(VersionedTable.readWhere(spark, noStats, 0L, "id", 5L, 7L)) ===
      (5L to 7L))
  }

  test("partitioned layout: path pruning, dynamic partition overwrite, composed skip") {
    val path = fresh()
    val df = spark.range(1000).select(col("id"),
      (col("id") % 4).cast("string").as("src"))
    // range-cluster ids so per-file [min,max] tighten WITHIN partitions
    VersionedTable.createPartitioned(
      df.repartitionByRange(4, col("id")), path, "src")
    // the partition column comes back on plain reads (basePath recovery)
    val v0df = VersionedTable.read(spark, path)
    assert(v0df.columns.toSet === Set("id", "src") && v0df.count() === 1000)
    assert(VersionedTable.partitionsAt(path, 0L, "src") ===
      Seq("0", "1", "2", "3"))
    // partition-pruned read: only src=1 files listed, exact rows
    val all0 = VersionedTable.filesAt(path, 0L)
    val f1 = VersionedTable.filesForPartitions(path, 0L, "src", Seq("1"))
    assert(f1.nonEmpty && f1.size < all0.size && f1.forall(_.contains("src=1")))
    assert(VersionedTable.readWherePartitions(spark, path, 0L, "src", Seq("1"))
      .select("id").as[Long].collect().sorted.toSeq === (1L until 1000L by 4))
    // dynamic partition overwrite: src=2 replaced, every other
    // partition's files carried forward UNTOUCHED (same paths)
    val repl = spark.range(5000, 5010).select(col("id"), lit("2").as("src"))
    val v1 = VersionedTable.commitPartitioned(repl, path, "src",
      "overwritePartitions")
    assert(VersionedTable.filesForPartitions(path, v1, "src", Seq("1")).toSet
      === f1.toSet)
    val afterIds = VersionedTable.readVersion(spark, path, v1)
      .filter(col("src") === "2").select("id").as[Long].collect().sorted.toSeq
    assert(afterIds === (5000L until 5010L))
    assert(VersionedTable.readVersion(spark, path, v1).count() === 750 + 10)
    // time travel still sees the pre-overwrite partition
    assert(VersionedTable.readVersion(spark, path, 0L).count() === 1000)
    // composed read: exact partition prune FIRST, stats skip WITHIN
    VersionedTable.writeStats(spark, path, v1, "id")
    val byPart = VersionedTable.filesForPartitions(path, v1, "src",
      Seq("1", "2")).toSet
    val byBoth = byPart intersect
      VersionedTable.filesForRange(path, v1, "id", 0L, 100L).toSet
    assert(byBoth.nonEmpty && byBoth.size < byPart.size,
      s"stats skip should prune within partitions: ${byBoth.size} of ${byPart.size}")
    val comp = VersionedTable.readWherePartitionsAnd(spark, path, v1,
        "src", Seq("1", "2"), Seq(("id", 0L, 100L)))
      .select("id").as[Long].collect().sorted.toSeq
    assert(comp === (1L to 100L by 4), "src=1 ids ≤100; replaced src=2 all ≥5000")
    // empty partition set: typed empty frame, not an error
    assert(VersionedTable.readWherePartitions(spark, path, v1, "src",
      Seq("9")).count() === 0)
  }

  test("optimizePartitioned: one partition re-clusters, others carried, stats O(rewritten)") {
    val path = fresh()
    // shuffled ids -> 8 tasks x 2 values = 16 small files, per-file id
    // ranges all WIDE (nothing prunes inside a partition)
    val df = spark.range(2000).select(col("id"), (col("id") % 2).cast("string").as("src"))
    VersionedTable.createPartitioned(df.repartition(8), path, "src")
    VersionedTable.writeStats(spark, path, 0L, "id")
    val src0Before = VersionedTable.filesForPartitions(path, 0L, "src", Seq("0"))
    val src1Before = VersionedTable.filesForPartitions(path, 0L, "src", Seq("1"))
    val wide = src1Before.toSet intersect
      VersionedTable.filesForRange(path, 0L, "id", 100L, 140L).toSet
    assert(wide.size === src1Before.size, "pre-optimize: nothing prunes in src=1")
    // rewrite src=1 into ~4 range-clustered files
    val selBytes = src1Before.map(f => new java.io.File(f).length()).sum
    val v1 = VersionedTable.optimizePartitioned(spark, path, "src", Seq("1"),
      targetBytes = math.max(1L, selBytes / 4), sortCol = "id")
    // untouched partition: the very same files, path for path
    assert(VersionedTable.filesForPartitions(path, v1, "src", Seq("0")).toSet
      === src0Before.toSet)
    // rewritten partition: fewer files, still under src=1/
    val src1After = VersionedTable.filesForPartitions(path, v1, "src", Seq("1"))
    assert(src1After.size < src1Before.size && src1After.forall(_.contains("src=1")))
    // content identical across the optimize
    assert(ids(VersionedTable.readVersion(spark, path, v1)) ===
      ids(VersionedTable.readVersion(spark, path, 0L)))
    // the refreshed sidecar covers EVERY v1 file (an impossible range
    // prunes everything — a missing entry would be kept), and the
    // re-clustered layout now prunes inside src=1
    assert(VersionedTable.filesForRange(path, v1, "id", -10L, -1L).isEmpty)
    val narrow = src1After.toSet intersect
      VersionedTable.filesForRange(path, v1, "id", 100L, 140L).toSet
    assert(narrow.size < src1After.size,
      s"post-optimize range read should prune: ${narrow.size} of ${src1After.size}")
    val got = VersionedTable.readWherePartitionsAnd(spark, path, v1,
        "src", Seq("1"), Seq(("id", 100L, 140L)))
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (101L to 139L by 2))
  }

  test("changeFeed: row-level CDC out of the table from O(changed files)") {
    val path = fresh()
    val df = spark.range(1000).select(col("id"),
      (col("id") % 2).cast("string").as("src"),
      concat(lit("t"), col("id")).as("text"))
    VersionedTable.createPartitioned(df.repartition(4), path, "src")
    // churn src=1 only: drop %3, retext %5 — src=0 files never move
    val newSrc1 = df.filter(col("src") === "1" && col("id") % 3 =!= 0)
      .withColumn("text", when(col("id") % 5 === 0,
        concat(col("text"), lit(" v2"))).otherwise(col("text")))
    val v1 = VersionedTable.commitPartitioned(newSrc1, path, "src",
      "overwritePartitions")
    // scope first: the manifests' symmetric difference IS src=1
    val b = VersionedTable.filesAt(path, 0L).toSet
    val a = VersionedTable.filesAt(path, v1).toSet
    assert(((b -- a) ++ (a -- b)).nonEmpty &&
      ((b -- a) ++ (a -- b)).forall(_.contains("src=1")),
      "only the churned partition's files may differ between manifests")
    val feed = VersionedTable.changeFeed(spark, path, 0L, v1,
      Seq("id"), Seq("src", "text"))
    val odd = (1L until 1000L by 2)
    val want = (odd.filter(_ % 3 == 0).map(_ -> "removed") ++
      odd.filter(i => i % 3 != 0 && i % 5 == 0).map(_ -> "changed")).toSet
    val got = feed.select(col("id"), col("change"))
      .as[(Long, String)].collect().toSet
    assert(got === want)
    // the file-pruned feed equals the full-version diff exactly
    val full = graft.operators.Diff.snapshotDiff(
        VersionedTable.readVersion(spark, path, 0L).select("id", "src", "text"),
        VersionedTable.readVersion(spark, path, v1).select("id", "src", "text"),
        Seq("id"), Seq("src", "text"))
      .filter(col("change") =!= "unchanged")
      .select(col("id"), col("change")).as[(Long, String)].collect().toSet
    assert(full === got)
    // a pure layout pass (optimize of src=0) diffs to an EMPTY feed
    val v2 = VersionedTable.optimizePartitioned(spark, path, "src", Seq("0"),
      targetBytes = 1L << 30, sortCol = "id")
    assert(VersionedTable.changeFeed(spark, path, v1, v2,
      Seq("id"), Seq("src", "text")).count() === 0)
  }

  test("skip stats: a file with an all-null stats column stays unskippable, not fatal") {
    val path = fresh()
    // file A: real values; file B: the stats column entirely null — the
    // per-file min/max aggregate yields null/null for B, which must be
    // left OUT of the sidecar (missing entry == keep), not NPE writeStats
    val a = spark.range(100).select(col("id"), col("id").as("k"))
    val b = spark.range(100, 150)
      .select(col("id"), lit(null).cast("long").as("k"))
    VersionedTable.create(a.coalesce(1).union(b.coalesce(1)), path)
    VersionedTable.writeStats(spark, path, 0L, "k") // must not throw
    val all = VersionedTable.filesAt(path, 0L)
    val kept = VersionedTable.filesForRange(path, 0L, "k", 10L, 20L)
    // the all-null file has no sidecar entry -> kept; pure-A files prune normally
    assert(kept.nonEmpty && kept.length <= all.length)
    val got = VersionedTable.readWhere(spark, path, 0L, "k", 10L, 20L)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got === (10L to 20L))
  }

  test("file-level COW CDC: only churn-touched files rewrite, content == full merge") {
    import graft.operators.Diff
    val path = fresh()
    // 8 range-partitioned files over ids 0..9999 -> tight per-file ranges
    val old = spark.range(10000)
      .select($"id", concat(lit("t"), $"id").as("text"))
      .repartitionByRange(8, col("id"))
    VersionedTable.create(old, path)
    VersionedTable.writeStats(spark, path, 0L, "id")
    val filesBefore = VersionedTable.filesAt(path, 0L).map(
      f => java.nio.file.Paths.get(f).getFileName.toString)
    // churn confined to high ids (+ brand-new inserts above the range)
    val newRel = old.where(!($"id" >= 9000L && $"id" % 3 === 0))
      .select($"id", when($"id" >= 9500L, concat($"text", lit("!")))
        .otherwise($"text").as("text"))
      .unionByName(spark.range(20000, 20005)
        .select($"id", concat(lit("n"), $"id").as("text")))
    val changes = Diff.snapshotDiff(old, newRel, Seq("id"), Seq("text"))
      .filter($"change" =!= "unchanged")
    val v = VersionedTable.commitCdcCow(spark, path, changes, "id", Seq("text"))
    assert(v === 1L)
    // content identical to the full merge / the new release
    val got = VersionedTable.read(spark, path)
    assert(got.exceptAll(newRel).isEmpty && newRel.exceptAll(got).isEmpty)
    // most of v0's files were CARRIED byte-identically into v1
    val filesAfter = VersionedTable.filesAt(path, 1L).map(
      f => java.nio.file.Paths.get(f).getFileName.toString)
    val carried = filesAfter.toSet.intersect(filesBefore.toSet)
    assert(carried.size >= 6,
      s"expected >=6 of 8 files carried, got ${carried.size}")
    assert(filesAfter.toSet != filesBefore.toSet) // something did rewrite
    // and the refreshed stats still skip correctly on the new version
    assert(ids(VersionedTable.readWhere(spark, path, 1L, "id", 20000L, 30000L))
      === (20000L until 20005L))
    // no-sidecar table: falls back to full COW, content still exact
    val plain = fresh()
    VersionedTable.create(old, plain)
    VersionedTable.commitCdcCow(spark, plain, changes, "id", Seq("text"))
    val got2 = VersionedTable.read(spark, plain)
    assert(got2.exceptAll(newRel).isEmpty && newRel.exceptAll(got2).isEmpty)
  }

  test("schema evolution: appended columns read as null for pre-evolution files") {
    val path = fresh()
    VersionedTable.create(spark.range(5).select($"id"), path)
    VersionedTable.commit(
      spark.range(5, 8).select($"id", lit("en").as("lang")), path, "append")
    val merged = VersionedTable.readVersion(spark, path, 1, mergeSchema = true)
    assert(merged.columns.toSeq === Seq("id", "lang"))
    val byId = merged.collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(byId(0L).isEmpty && byId(5L).contains("en"))
    assert(merged.count() === 8)
    // time travel to v0 still sees the ORIGINAL schema, not the evolved one
    assert(VersionedTable.readVersion(spark, path, 0,
      mergeSchema = true).columns.toSeq === Seq("id"))
  }

  test("reads build with no Spark job; the scan schema equals Spark's inference") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    // jobs launched from this thread while `body` runs, counted by job
    // group; a marker job in its own group flushes the listener queue
    def jobsDuring(body: => Unit): Int = {
      val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          groups.add(String.valueOf(
            Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull))
      }
      sc.addSparkListener(listener)
      try {
        sc.setJobGroup("vt-build", "building read frames")
        try body finally sc.clearJobGroup()
        sc.setJobGroup("vt-marker", "listener flush")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (!groups.contains("vt-marker") && System.nanoTime() < deadline)
          Thread.sleep(10)
        assert(groups.contains("vt-marker"), "listener never saw the marker job")
        groups.asScala.count(_ == "vt-build")
      } finally sc.removeSparkListener(listener)
    }

    // ---- job count: read, readVersion of a DV version, changesSince ----
    val path = fresh()
    VersionedTable.create(spark.range(20).select($"id", ($"id" * 2).as("x")), path)
    VersionedTable.commit(
      spark.range(20, 30).select($"id", ($"id" * 2).as("x")), path, "append")
    val vDv = VersionedTable.deleteWhere(spark, path, $"id" < 5)
    assert(VersionedTable.hasDeletes(path, vDv))
    VersionedTable.commit(
      spark.range(30, 35).select($"id", ($"id" * 2).as("x")), path, "append")
    var built = Seq.empty[org.apache.spark.sql.DataFrame]
    val n = jobsDuring {
      built = Seq(VersionedTable.read(spark, path),
        VersionedTable.readVersion(spark, path, vDv),
        VersionedTable.changesSince(spark, path, vDv, Seq("id"), Seq("x")).get._1)
    }
    assert(n === 0, s"$n Spark job(s) launched while building the read frames")
    // and the frames read what they did before
    assert(ids(built(0)) === (5L until 35L))
    assert(ids(built(1)) === (5L until 30L))
    assert(ids(built(2)) === (30L until 35L))
    // executing a DV read: one job, and no job scans a .dv shard (the
    // marks were decoded on the driver and filter inside the scan)
    val dvRead = VersionedTable.readVersion(spark, path, vDv)
    val nExec = jobsDuring(dvRead.collect())
    val executed = dvRead.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!executed.contains("/dv/"), s"the DV read scans a shard:\n${executed.take(1500)}")
    assert(nExec === 1, s"$nExec jobs to collect the DV read")

    // ---- job count: writes of rows the driver holds (no write job), and
    // the keyed writes' one mark job ----
    val kw = fresh()
    VersionedTable.create(spark.range(0, 60, 1, 3).select($"id", ($"id" * 2).as("x")), kw)
    VersionedTable.deleteWhere(spark, kw, $"id" < 3)
    val nAppend = jobsDuring(VersionedTable.commit(
      Seq((200L, 1L), (201L, 1L)).toDF("id", "x"), kw, "append"))
    assert(nAppend === 0, s"$nAppend jobs to append a local frame")
    val nDelete = jobsDuring(VersionedTable.deleteWhere(spark, kw, $"id".between(10, 14)))
    assert(nDelete <= 1, s"$nDelete jobs to delete")
    val nUpsert = jobsDuring(VersionedTable.upsert(spark, kw,
      Seq((20L, 1L), (21L, 1L), (100L, 1L)).toDF("id", "x"), Seq("id")))
    assert(nUpsert <= 1, s"$nUpsert jobs to upsert a local source")
    assert(ids(VersionedTable.read(spark, kw)) ===
      ((3L until 60L).filterNot(i => i >= 10 && i <= 14) ++ Seq(100L, 200L, 201L)))

    // ---- schema: the scan's schema is exactly Spark's inferred one ----
    def sameAsSpark(files: Seq[String], basePath: Option[String] = None): Unit = {
      val rd = basePath.fold(spark.read)(bp => spark.read.option("basePath", bp))
      val want = rd.parquet(files: _*).schema
      assert(VersionedTable.scanParquet(spark, files, basePath).schema === want)
      assert(VersionedTable.scanParquet(spark, files.reverse, basePath).schema === want)
    }
    // DV shards carry exactly the fixed (file, pos) schema the scan passes
    assert(spark.read.parquet(VersionedTable.dvsAt(path, vDv): _*).schema ===
      new org.apache.spark.sql.types.StructType().add("file", "string").add("pos", "long"))
    // flat, and the same files under a DV version
    sameAsSpark(VersionedTable.filesAt(path, 0L))
    sameAsSpark(VersionedTable.filesAt(path, vDv))
    assert(VersionedTable.readVersion(spark, path, vDv).schema ===
      spark.read.parquet(VersionedTable.filesAt(path, vDv): _*).schema)
    // mixed-schema append read with mergeSchema off: the first footer decides
    val mixed = fresh()
    VersionedTable.create(spark.range(3).select($"id"), mixed)
    VersionedTable.commit(
      spark.range(3, 6).select($"id", lit("en").as("lang")), mixed, "append")
    VersionedTable.commit(
      spark.range(6, 9).select($"id", lit(1.5).as("w")), mixed, "append")
    val mixedFiles = VersionedTable.filesAt(mixed, 2L)
    sameAsSpark(mixedFiles)
    mixedFiles.combinations(2).foreach(sameAsSpark(_))
    assert(VersionedTable.readVersion(spark, mixed, 2L, mergeSchema = true).schema ===
      spark.read.option("mergeSchema", "true").parquet(mixedFiles: _*).schema)
    // basePath-partitioned: partition columns still come from the paths
    val part = fresh()
    VersionedTable.createPartitioned(
      spark.range(12).select($"id", ($"id" % 3).as("k"), ($"id" * 1.5).as("v")),
      part, "k")
    val partFiles = VersionedTable.filesAt(part, 0L)
    sameAsSpark(partFiles, Some(part + "/data"))
    sameAsSpark(partFiles)
    assert(VersionedTable.read(spark, part).columns.toSeq === Seq("id", "v", "k"))
    // cloned: borrowed files outside the clone's root, no basePath
    val clone = fresh()
    VersionedTable.cloneTable(path, clone)
    sameAsSpark(VersionedTable.filesAt(clone, 0L))
    assert(ids(VersionedTable.read(spark, clone)) === (5L until 35L))
    // timestamps: Spark-written columns, and a footer without Spark's row
    // metadata, where nanosAsLong and inferTimestampNTZ decide the types
    val ts = fresh()
    VersionedTable.create(spark.range(3).select($"id",
      timestamp_seconds($"id").as("t"),
      timestamp_seconds($"id").cast("timestamp_ntz").as("tn")), ts)
    sameAsSpark(VersionedTable.filesAt(ts, 0L))
    val raw = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("graft_vt_raw").toString, "raw.parquet")
    val msg = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      "message m { required int64 id; " +
        "required int64 tn (TIMESTAMP(NANOS,true)); " +
        "required int64 tl (TIMESTAMP(MICROS,false)); }")
    val w = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(raw)
      .withType(msg).build()
    try {
      val g = new org.apache.parquet.example.data.simple.SimpleGroupFactory(msg)
      w.write(g.newGroup().append("id", 1L).append("tn", 1500L).append("tl", 7L))
    } finally w.close()
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") === "true")
    sameAsSpark(Seq(raw.toString))
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ntzBefore = spark.conf.getOption(ntzKey)
    try {
      // a conf change must not be served a memoized schema
      spark.conf.set(ntzKey, "false")
      sameAsSpark(Seq(raw.toString))
      assert(VersionedTable.scanParquet(spark, Seq(raw.toString))
        .schema("tl").dataType === org.apache.spark.sql.types.TimestampType)
    } finally ntzBefore.fold(spark.conf.unset(ntzKey))(spark.conf.set(ntzKey, _))
  }

  test("optimize: z-order + stats in one commit tightens skip pruning") {
    val path = fresh()
    // a scattered layout: ids round-robin across partitions, so every
    // file's [min,max] id range spans nearly the whole table and a
    // range read can prune NOTHING
    VersionedTable.create(
      spark.range(8000).toDF("id").repartition(8), path)
    VersionedTable.writeStats(spark, path, 0L, "id")
    val before = VersionedTable.filesForRange(path, 0L, "id", 1000L, 1200L)
    assert(before.length === VersionedTable.filesAt(path, 0L).length,
      "scattered layout should be unprunable")
    val v = VersionedTable.optimize(spark, path, targetBytes = 8L * 1024,
      zorderCols = Seq("id"), statsCol = Some("id"))
    assert(v === 1L)
    // identical content, time travel intact
    val after = VersionedTable.readVersion(spark, path, 1)
    assert(after.count() === 8000 &&
      after.exceptAll(VersionedTable.readVersion(spark, path, 0)).isEmpty)
    // the same range read now prunes most files
    val all1 = VersionedTable.filesAt(path, 1L)
    val pruned = VersionedTable.filesForRange(path, 1L, "id", 1000L, 1200L)
    assert(all1.length >= 4 && pruned.length < all1.length / 2,
      s"optimize did not tighten pruning: ${pruned.length} of ${all1.length}")
    assert(ids(VersionedTable.readWhere(spark, path, 1L, "id", 1000L, 1200L))
      === (1000L to 1200L))
  }

  test("multi-predicate skip read over a 2-column z-ordered layout") {
    val path = fresh()
    // two independent dimensions; scattered write first
    VersionedTable.create(
      spark.range(20000).select(($"id" % 1000).as("x"), ($"id" / 20).cast("long").as("y"))
        .repartition(8), path)
    VersionedTable.optimize(spark, path, targetBytes = 16L * 1024,
      zorderCols = Seq("x", "y"))
    VersionedTable.writeStats(spark, path, 1L, "x")
    VersionedTable.writeStats(spark, path, 1L, "y")
    val all = VersionedTable.filesAt(path, 1L).length
    val fx = VersionedTable.filesForRange(path, 1L, "x", 100L, 160L).length
    val fy = VersionedTable.filesForRange(path, 1L, "y", 100L, 160L).length
    val both = Seq(
      VersionedTable.filesForRange(path, 1L, "x", 100L, 160L).toSet,
      VersionedTable.filesForRange(path, 1L, "y", 100L, 160L).toSet)
      .reduce(_ intersect _).size
    // the z-order buys pruning on BOTH dims; the intersection at least
    // matches the better single-column prune
    assert(fx < all && fy < all, s"z-order pruned neither dim: $fx/$fy of $all")
    assert(both <= math.min(fx, fy))
    // and the read is exact
    val got = VersionedTable.readWhereAll(spark, path, 1L,
        Seq(("x", 100L, 160L), ("y", 100L, 160L)))
      .select("x", "y").as[(Long, Long)].collect().toSet
    val want = spark.range(20000)
      .select(($"id" % 1000).as("x"), ($"id" / 20).cast("long").as("y"))
      .where($"x".between(100, 160) && $"y".between(100, 160))
      .as[(Long, Long)].collect().toSet
    assert(got === want && want.nonEmpty)
    // a disjoint predicate pair returns a typed empty frame
    assert(VersionedTable.readWhereAll(spark, path, 1L,
      Seq(("x", 100L, 160L), ("y", 900000L, 900001L))).count() === 0)
  }

  test("vacuum drops pre-retention versions and their unreferenced files") {
    val path = fresh()
    VersionedTable.create(spark.range(10).toDF("id"), path)
    VersionedTable.commit(spark.range(10, 20).toDF("id"), path, "overwrite")
    VersionedTable.commit(spark.range(20, 30).toDF("id"), path, "overwrite")
    val dataFiles = () => new java.io.File(s"$path/data").listFiles().count(_.isFile)
    val before = dataFiles()
    // in-flight guard: with the default retention window, unreferenced
    // files this fresh are a CONCURRENT committer's staging — data
    // survives even though the old manifests are dropped
    VersionedTable.vacuum(path, keepVersions = 1)
    assert(VersionedTable.versions(path) === Seq(2L))
    assert(dataFiles() === before)
    // past the window they are garbage and go
    VersionedTable.vacuum(path, keepVersions = 1, minAgeMs = 0L)
    assert(dataFiles() < before)
    assert(ids(VersionedTable.read(spark, path)) === (20L until 30L))
    assertThrows[IllegalArgumentException](
      VersionedTable.readVersion(spark, path, 0))
  }

  test("appendWithRetry: ambiguous publish SUCCESS is detected, not double-appended") {
    // the lost-reply failure mode: the manifest rename LANDS at the
    // store, then the client sees an error. A naive retry would rebase
    // onto the landed manifest — which already lists our staged files —
    // and append them AGAIN, silently double-reading every row.
    val path = fresh()
    VersionedTable.create(spark.range(5).toDF("id"), path)
    val real = VersionedTable.committer
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    VersionedTable.committer = new VersionedTable.ManifestCommitter {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Unit = {
        real.publish(fs, tmp, target)
        if (fired.compareAndSet(false, true))
          throw new java.io.IOException("simulated lost RPC reply")
      }
    }
    try {
      val v = VersionedTable.appendWithRetry(spark.range(5, 8).toDF("id"), path)
      assert(v === 1L, "the landed publish must be recognized as OUR win")
    } finally VersionedTable.committer = real
    assert(VersionedTable.versions(path) === Seq(0L, 1L))
    // rows exactly once (ids() keeps duplicates — a double-append fails)
    assert(ids(VersionedTable.read(spark, path)) === (0L until 8L))
  }

  test("appendWithRetry: TORN winner manifest is never a silent win — retry then loud escape; repaired window rebases") {
    // the conditional-put window: our publish loses to a competitor whose
    // manifest bytes are still landing, so the winner reads TORN. The old
    // partial-regex read could yield a file subset that happened to
    // contain our names and claim a FOREIGN manifest as our win; the
    // manifest completeness check throws instead, the re-verify treats
    // the parse failure as "not our win" and retries — INCLUDING the
    // rebase read itself (r12: a torn rebase read previously parsed as a
    // silent file-list prefix and could drop concurrent appends) — and a
    // window that NEVER closes exhausts maxRetries and escapes loudly
    // with the parse failure in its cause chain (a permanently torn
    // store is corrupt — the documented loud-over-silent contract),
    // never a wrong version.
    val path = fresh()
    VersionedTable.create(spark.range(3).toDF("id"), path)
    val real = VersionedTable.committer
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val manifest1 = java.nio.file.Paths.get(path, "_versions", "v00000001.json")
    val torn =
      """{"version":1,"parent":0,"action":"append","files":["data/zzz.parquet","data/tr"""
    VersionedTable.committer = new VersionedTable.ManifestCommitter {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Unit = {
        if (fired.compareAndSet(false, true)) {
          java.nio.file.Files.write(manifest1, torn.getBytes("UTF-8"))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(target.toString)
        }
        real.publish(fs, tmp, target)
      }
    }
    try {
      val e = intercept[IllegalStateException](
        VersionedTable.appendWithRetry(spark.range(3, 6).toDF("id"), path,
          maxRetries = 3))
      val chain = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toSeq
      assert(chain.exists(m => m.contains("torn") || m.contains("unterminated")),
        s"expected the loud torn-manifest escape in the chain, got: $chain")
    } finally VersionedTable.committer = real
    // the pre-race version is untouched
    assert(ids(VersionedTable.readVersion(spark, path, 0)) === (0L until 3L))
    // the window closes: the competitor's write completes as a no-op
    // append of v0's files — the normal retry path then rebases onto it
    val files0 = VersionedTable.filesAt(path, 0L).map(f =>
      "data/" + new org.apache.hadoop.fs.Path(f).getName)
    val full = s"""{"version":1,"parent":0,"action":"append",""" +
      s""""files":[${files0.map(f => "\"" + f + "\"").mkString(",")}]}"""
    java.nio.file.Files.write(manifest1, full.getBytes("UTF-8"))
    val v = VersionedTable.appendWithRetry(spark.range(3, 6).toDF("id"), path)
    assert(v === 2L)
    assert(ids(VersionedTable.read(spark, path)) === (0L until 6L))
  }

  test("upsert refuses a hive-partitioned layout (flat staging would mix layouts)") {
    val path = fresh()
    val df = spark.range(100).select(col("id"),
      (col("id") % 4).cast("string").as("src"))
    VersionedTable.createPartitioned(df, path, "src")
    val e = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, path,
        spark.range(3).select(col("id"), lit("0").as("src")), Seq("id")))
    assert(e.getMessage.contains("hive-partitioned"))
    // nothing published, table still reads
    assert(VersionedTable.versions(path) === Seq(0L))
    assert(VersionedTable.read(spark, path).count() === 100)
  }

  test("upsert: MERGE multi-match rule, faithfully") {
    val path = fresh()
    VersionedTable.create(
      spark.range(10).select($"id", ($"id" * 2).as("x")), path)
    // key 0 carries two source rows AND matches a live target row:
    // replacing one row with several — the reference MERGE error
    val dup = spark.range(3).select(($"id" % 2).as("id"), $"id".as("x"))
    val e = intercept[IllegalArgumentException](
      VersionedTable.upsert(spark, path, dup, Seq("id")))
    assert(e.getMessage.contains("multiple source rows"))
    assert(VersionedTable.versions(path) === Seq(0L))
    // duplicate NOT-matched keys both INSERT (Delta inserts both) —
    // the streaming-batch shape that must NOT kill the stream
    val newDup = Seq((100L, 1L), (100L, 2L)).toDF("id", "x")
    val v = VersionedTable.upsert(spark, path, newDup, Seq("id"))
    val after = VersionedTable.readVersion(spark, path, v)
    assert(after.where($"id" === 100L).count() === 2)
    assert(after.count() === 12)
    // a distinct-key source still merges
    val v2 = VersionedTable.upsert(spark, path,
      spark.range(2).select($"id", lit(99L).as("x")), Seq("id"))
    assert(VersionedTable.readVersion(spark, path, v2)
      .where($"x" === 99).count() === 2)
  }

  test("deleteWhere verifyPrune: a wrong prune hint aborts before publish") {
    val path = fresh()
    VersionedTable.create(
      spark.range(10000).toDF("id").repartitionByRange(8, col("id")), path)
    VersionedTable.writeStats(spark, path, 0L, "id")
    val pred = col("id").between(1000, 3000)
    // WRONG hint: claims every match sits in [1000,1500]; files holding
    // 1501..3000 get pruned away and those rows would survive the delete
    assertThrows[IllegalArgumentException](
      VersionedTable.deleteWhere(spark, path, pred,
        Seq(("id", 1000L, 1500L)), verifyPrune = true))
    assert(VersionedTable.versions(path) === Seq(0L), "no version published")
    // a CORRECT hint verifies clean and deletes exactly the matches
    val v = VersionedTable.deleteWhere(spark, path, pred,
      Seq(("id", 1000L, 3000L)), verifyPrune = true)
    assert(VersionedTable.readVersion(spark, path, v).count() === 10000 - 2001)
  }

  test("torn manifest reads fail loudly: zero-length, pre-files cut, post-files cut") {
    // On a visible-before-close store a reader can open a manifest
    // mid-write. Every truncation class must THROW (appendWithRetry
    // retries on it) — the zero-length and pre-"files" windows used to
    // parse as a silently EMPTY file list, which let a contending
    // append rebase away concurrent appends' files (observed once in
    // the 6-writer contention test as 50 rows where 70 committed).
    val path = fresh()
    VersionedTable.create(spark.range(10).toDF("id"), path)
    val v1 = VersionedTable.commit(spark.range(10, 20).toDF("id"), path, "append")
    val full = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path, "_versions", f"v$v1%08d.json")), "UTF-8")
    // the local FS keeps .crc companions; drop them when tampering so
    // the parse-level guard (not the checksum layer) is what's exercised
    def write(body: String): Unit = {
      java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(
        path, "_versions", f".v$v1%08d.json.crc"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(path, "_versions", f"v$v1%08d.json"),
        body.getBytes("UTF-8"))
    }
    def tornAt(body: String): Unit = {
      write(body)
      assertThrows[IllegalStateException](VersionedTable.filesAt(path, v1))
      assertThrows[IllegalStateException](VersionedTable.dvsAt(path, v1))
      assertThrows[IllegalStateException](VersionedTable.actionAt(path, v1))
    }
    tornAt("") // zero-length: create() landed, no bytes flushed
    tornAt(full.substring(0, full.indexOf("\"files\""))) // cut before files
    tornAt(full.substring(0, full.indexOf("]") + 1)) // cut after files, no brace
    tornAt(full.dropRight(1)) // cut inside the closing brace window
    // restored byte-for-byte: everything reads again
    write(full)
    assert(VersionedTable.read(spark, path).count() === 20)
  }

  test("object-store scheme: full protocol + 6-writer contention on conditional put") {
    // A store whose ONLY exclusive primitive is conditional put
    // (If-None-Match): no rename arbitration exists at all. The local
    // FS's create(overwrite=false) is check-then-act, so a lock stands
    // in for the store's server-side atomicity — what's under test is
    // the PROTOCOL's freedom from rename-atomicity assumptions (the
    // only exclusive rename in the codebase is RenameCommitter's,
    // which this committer replaces wholesale), not the local
    // primitive. Every lifecycle face runs on the alternate scheme.
    val real = VersionedTable.committer
    val lock = new Object
    VersionedTable.committer = new VersionedTable.ManifestCommitter {
      def publish(fs: org.apache.hadoop.fs.FileSystem,
          tmp: org.apache.hadoop.fs.Path,
          target: org.apache.hadoop.fs.Path): Unit = lock.synchronized {
        VersionedTable.PutIfAbsentCommitter.publish(fs, tmp, target)
      }
    }
    try {
      val path = fresh()
      VersionedTable.create(
        spark.range(10).select($"id", ($"id" * 2).as("x")), path)
      // uncoordinated ingest fleet: 6 appendWithRetry writers
      val pool = java.util.concurrent.Executors.newFixedThreadPool(6)
      val got = try {
        import scala.jdk.CollectionConverters._
        val tasks = (0 until 6).map { i =>
          new java.util.concurrent.Callable[Long] {
            def call(): Long = VersionedTable.appendWithRetry(
              spark.range(100 + i * 10, 110 + i * 10)
                .select($"id", ($"id" * 2).as("x")), path, maxRetries = 50)
          }
        }
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
      } finally pool.shutdown()
      assert(got.sorted === (1L to 6L))
      assert(VersionedTable.read(spark, path).count() === 70)
      // merge-on-read delete + MERGE + restore + compact + vacuum
      val vDel = VersionedTable.deleteWhere(spark, path, $"id" < 5)
      assert(VersionedTable.read(spark, path).count() === 65)
      val vUp = VersionedTable.upsert(spark, path,
        spark.range(100, 103).select($"id", lit(0L).as("x")), Seq("id"))
      val up = VersionedTable.readVersion(spark, path, vUp)
      assert(up.where($"x" === 0).count() === 3 && up.count() === 65)
      VersionedTable.restore(path, vDel)
      assert(VersionedTable.read(spark, path).where($"x" === 0).count() === 0)
      val vC = VersionedTable.compact(spark, path, targetBytes = 1L << 26)
      assert(VersionedTable.read(spark, path).count() === 65)
      VersionedTable.vacuum(path, keepVersions = 2, minAgeMs = 0L)
      assert(VersionedTable.versions(path).last === vC)
      assert(VersionedTable.read(spark, path).count() === 65)
      // time travel within retention still reads
      assert(VersionedTable.readVersion(spark, path,
        VersionedTable.versions(path).head).count() === 65)
    } finally VersionedTable.committer = real
  }

  test("clone pin: source vacuum spares borrowed bytes until releaseClone") {
    val src = fresh(); val dst = fresh()
    VersionedTable.create(spark.range(10).toDF("id"), src)
    VersionedTable.commit(spark.range(50, 55).toDF("id"), src, "overwrite")
    VersionedTable.cloneTable(src, dst, 0L) // borrows v0's bytes by reference
    // a routine retention sweep on the source must NOT corrupt the clone
    VersionedTable.vacuum(src, keepVersions = 1, minAgeMs = 0L)
    assert(VersionedTable.versions(src) === Seq(0L, 1L), "pinned manifest retained")
    assert(ids(VersionedTable.read(spark, dst)) === (0L until 10L))
    // the nightly job SEES the pin before planning retention
    val rep = VersionedTable.maintenanceReport(spark, src).collect().head
    assert(rep.getAs[Int]("clone_pins") === 1)
    assert(rep.getAs[String]("pinned_versions") === "0")
    // clone-of-a-clone refused: dst's manifest borrows SRC's bytes, and
    // a pin on dst cannot protect another table's files — and the
    // failed attempt must leave no stray pin behind
    val e2 = intercept[IllegalArgumentException](
      VersionedTable.cloneTable(dst, fresh()))
    assert(e2.getMessage.contains("foreign"))
    assert(VersionedTable.pinnedVersions(dst).isEmpty)
    // released (clone deleted/localized), the pin drops and v0 reclaims
    VersionedTable.releaseClone(src, dst)
    VersionedTable.vacuum(src, keepVersions = 1, minAgeMs = 0L)
    assert(VersionedTable.versions(src) === Seq(1L))
    assert(ids(VersionedTable.read(spark, src)) === (50L until 55L))
    assert(VersionedTable.maintenanceReport(spark, src)
      .collect().head.getAs[Int]("clone_pins") === 0)
  }
}
