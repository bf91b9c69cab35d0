package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only scale witnesses for the two DV degradation edges that only
  * matter at 100 TB shapes — planted at REAL sizes so the thresholds
  * are proven, not spec-forced:
  *
  *  1. A deletion-vector backlog whose shard bytes actually exceed the
  *     64 MB `graft.dv.broadcastBytes` default, proving the read
  *     degrades from the in-scan mark filter to a SHUFFLED anti-join (no
  *     driver decode or broadcast of a runaway backlog) with correct
  *     results, and that
  *     [[graft.sources.VersionedTable.coalesceDv]] then collapses the
  *     accreted shards without changing a single live row.
  *  2. A 10^5-rel manifest restriction ([[graft.sources.VersionedTable
  *     .restrictToRels]]), timing plan analysis + execution of the
  *     `isin` path vs the broadcast-semi-join path at realistic width
  *     and asserting identical results.
  *
  * Usage: sbt "runMain graft.tools.DvScale [nRowsMillions] [nRels]"
  * (defaults 120 and 100000; results recorded in PLANS.md round 10).
  */
object DvScale {
  def main(args: Array[String]): Unit = {
    val nRows = args.headOption.map(_.toLong).getOrElse(120L) * 1000000L
    val nRels = args.lift(1).map(_.toInt).getOrElse(100000)
    val spark = graft.Harness.session(32)
    import graft.sources.VersionedTable

    def time[A](tag: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"[dvscale] $tag%-38s $s%8.2f s")
      (r, s)
    }
    def finalPlan(df: DataFrame): String = {
      df.collect() // drive to completion so AQE's final plan is in place
      df.queryExecution.executedPlan.toString
    }

    // ---- witness 1: a REAL >64 MB backlog takes the shuffled path ----
    val path = java.nio.file.Files.createTempDirectory("graft_dvscale")
      .toString + "/t"
    time(s"create ${nRows / 1000000}M-row table") {
      VersionedTable.create(
        spark.range(nRows).select(col("id"), (col("id") * 7).as("x"))
          .repartition(32), path)
    }
    // scattered (hash-spread) deletes: realistic position entropy, so
    // parquet's delta/dictionary encodings can't shrink the backlog to
    // a toy size the way a contiguous range delete would
    val v1 = time("deleteWhere ~55% scattered")(
      VersionedTable.deleteWhere(spark, path,
        pmod(xxhash64(col("id")), lit(100L)) < 55))._1
    val dvBytes = VersionedTable.dvsAt(path, v1).map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    }.sum
    println(s"[dvscale] dv_bytes=$dvBytes (threshold 67108864) " +
      s"crossed=${dvBytes > 64L * 1024 * 1024}")
    require(dvBytes > 64L * 1024 * 1024,
      s"witness invalid: backlog $dvBytes B does not cross the 64 MB default")

    val agg1 = VersionedTable.read(spark, path)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val (live1, tBig) = time("read+agg through >64MB backlog")(
      finalPlan(agg1))
    val shuffled = !live1.contains("BroadcastHashJoin") && !live1.contains("graft_dv_keep")
    println(s"[dvscale] big-backlog plan: shuffled_anti_join=$shuffled " +
      s"(BroadcastHashJoin and graft_dv_keep absent=$shuffled)")
    require(shuffled, "witness invalid: >64MB backlog was still broadcast")
    val wantRow = agg1.collect()(0)
    println(s"[dvscale] live n=${wantRow.getLong(0)} sum=${wantRow.getLong(1)}")

    // control at the SAME code path, small backlog: the in-scan mark
    // filter IS taken (proves the plan detector detects, and the
    // threshold gates)
    val small = java.nio.file.Files.createTempDirectory("graft_dvsmall")
      .toString + "/t"
    VersionedTable.create(spark.range(100000).toDF("id").repartition(4), small)
    VersionedTable.deleteWhere(spark, small, col("id") % 5 === 0)
    val aggS = VersionedTable.read(spark, small).agg(count(lit(1)).as("n"))
    val planS = finalPlan(aggS)
    require(planS.contains("graft_dv_keep"),
      "control invalid: small backlog did not filter in the scan")
    println("[dvscale] small-backlog control: graft_dv_keep present=true")

    // ---- witness 1b: coalesceDv collapses a TRICKLE backlog ----
    // the coalesce use-case is not one bulk delete (that backlog is
    // already few large shards) but the long-lived trickle — 40 small
    // GDPR-style delete commits, each appending its own shard(s); the
    // read then pays O(commits) shard opens for O(small) marks
    val trickle = java.nio.file.Files.createTempDirectory("graft_dvtrickle")
      .toString + "/t"
    VersionedTable.create(
      spark.range(20000000L).select(col("id"), (col("id") * 7).as("x"))
        .repartition(16), trickle)
    time("40 trickle delete commits") {
      (1 to 40).foreach { i =>
        VersionedTable.deleteWhere(spark, trickle,
          pmod(xxhash64(col("id") * i), lit(10000L)) < 3)
      }
    }
    val vMany = VersionedTable.latestVersion(trickle).get
    val shardsBefore = VersionedTable.dvsAt(trickle, vMany).size
    val (_, tFrag) = time(s"read+agg over $shardsBefore shards")(
      VersionedTable.read(spark, trickle)
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s")).collect())
    val vCo = time("coalesceDv")(VersionedTable.coalesceDv(spark, trickle))._1
    val shardsAfter = VersionedTable.dvsAt(trickle, vCo).size
    val (rowsCo, tCo) = time(s"read+agg over $shardsAfter shards")(
      VersionedTable.read(spark, trickle)
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s")).collect())
    val rowsPre = VersionedTable.readVersion(spark, trickle, vMany)
      .agg(count(lit(1)).as("n"), sum(col("x")).as("s")).collect()
    require(rowsCo(0) == rowsPre(0),
      s"coalesce changed live rows: ${rowsCo(0)} vs ${rowsPre(0)}")
    require(shardsAfter < shardsBefore / 10,
      s"coalesce barely helped: $shardsBefore -> $shardsAfter")
    println(s"[dvscale] coalesce shards $shardsBefore -> $shardsAfter, " +
      f"read ${tFrag}%.2f s -> ${tCo}%.2f s, live rows identical")

    // ---- witness 2: 10^5-rel restriction, isin vs semi-join ----
    val rels = (0 until nRels).map(i => f"data/part-$i%06d-w.parquet")
    val dv = spark.range(5000000).select(
      concat(lit("data/part-"), format_string("%06d", pmod(col("id"), lit(nRels * 3 / 2))),
        lit("-w.parquet")).as("file"),
      col("id").as("pos"))
    def drive(tag: String, maxRels: String): (Long, Double, Double, Int) = {
      spark.conf.set("graft.dv.isinMaxRels", maxRels)
      try {
        val t0 = System.nanoTime()
        val restricted = VersionedTable.restrictToRels(spark, dv, "file", rels)
        val plan = restricted.queryExecution.optimizedPlan // force analysis
        val planLen = plan.treeString.length
        val tPlan = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val n = restricted.count()
        val tExec = (System.nanoTime() - t1) / 1e9
        println(f"[dvscale] $tag%-14s analyze=$tPlan%6.2f s exec=$tExec%6.2f s " +
          f"plan_chars=$planLen%9d rows=$n")
        (n, tPlan, tExec, planLen)
      } finally spark.conf.unset("graft.dv.isinMaxRels")
    }
    val (nIsin, _, _, _) = drive("isin(1e5)", (nRels * 10).toString)
    val (nSemi, _, _, _) = drive("semi-join", "10000")
    require(nIsin == nSemi, s"paths disagree: $nIsin vs $nSemi")
    println(s"[dvscale] restriction paths identical: rows=$nIsin")
    println("[dvscale] done")
    spark.stop()
  }
}
