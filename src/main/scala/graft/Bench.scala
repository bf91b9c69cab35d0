package graft

/** Benchmark main — runs every SparkEntry query on SPARK_GRAFT_SF_DIR
  * through the `noop` sink ([[Harness.noop]]), writes the full result
  * line to `bench_last.json` and prints a compact headline as its last
  * stdout line. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Harness.session(Harness.cores(32))
    // warm up parquet readers / codegen so the first query isn't charged
    // for one-time JVM+session costs
    Seq("lineitem", "orders", "events", "documents", "embeddings").foreach { t =>
      try spark.read.parquet(s"$sfDir/$t.parquet").count() catch { case _: Throwable => }
    }
    // stage the session's bucketed join tables OUTSIDE the timed region —
    // the one-time layout cost production pays at ingest, not per query.
    // On failure the flag rides the JSON result line: q_join/q_bucket_join
    // would then pay the staging shuffle INSIDE their timed region, and
    // cross-round comparisons must see that, not argue with the number.
    val stagingFailed = try { graft.queries.BucketedTables.ensure(spark, sfDir); false }
    catch { case e: Throwable => System.err.println(s"[bench] bucket staging failed: $e"); true }
    // Optional comma-separated subset (exact names) for targeted scale runs,
    // e.g. SPARK_GRAFT_QUERIES=q1_agg,q_join,q_minhash on the sf10 corpus.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // --medianOf N (or SPARK_GRAFT_MEDIAN_OF=N): run each query N times and
    // report the per-query MEDIAN — the noise discipline for cross-round
    // comparisons (single runs see 3-5x GC/co-tenant spikes that vanish on
    // re-run). Default 3 so recorded artifacts carry the discipline;
    // override to 1 for quick local sweeps.
    def parseN(src: String, n: String): Int = n.toIntOption.getOrElse(
      throw new IllegalArgumentException(s"$src must be an integer, got '$n'"))
    val medianOf = math.max(1, args.sliding(2).collectFirst {
      case Array("--medianOf", n) => parseN("--medianOf", n)
    }.orElse(sys.env.get("SPARK_GRAFT_MEDIAN_OF").map(parseN("SPARK_GRAFT_MEDIAN_OF", _)))
      .getOrElse(3))

    // ---- machine anchor: make the recorded artifact self-describing ----
    // Raw totals drift 1.5-2x with fleet co-tenancy (r10 recorded 209.9s
    // where a quiet-window rerun of identical code measured 180.8s). Run
    // the MicroBench anchor suite FIRST: if it exceeds the clean-window
    // baseline by >15%, wait and retry up to `anchorRetries` times so the
    // recording lands in a quiet window when one exists; either way the
    // measured anchor rides INSIDE the JSON line, so a reader divides out
    // machine speed instead of guessing. A closing anchor is recorded too
    // — a large open/close gap means conditions shifted MID-run and the
    // per-query tail should be read with that in mind.
    val anchorBaseline = 20.2 // r6/r7 clean-window micro_total, local[32]
    def anchorOnce(): Double = {
      val a = graft.tools.MicroBench.run(spark).map(_._2).sum
      Harness.sweep(spark); System.gc()
      a
    }
    val anchorRetries = sys.env.get("SPARK_GRAFT_ANCHOR_RETRIES")
      .flatMap(_.toIntOption).getOrElse(10)
    val anchorSpacingMs = sys.env.get("SPARK_GRAFT_ANCHOR_SPACING_MS")
      .flatMap(_.toLongOption).getOrElse(60000L)
    var anchorSec = -1.0
    var anchorAttempts = 0
    if (anchorRetries > 0) {
      var best = Double.MaxValue
      while (anchorAttempts < anchorRetries && best > anchorBaseline * 1.15) {
        anchorAttempts += 1
        val a = anchorOnce()
        best = math.min(best, a)
        System.err.println(f"[bench] anchor attempt $anchorAttempts: $a%.1f s " +
          f"(baseline $anchorBaseline%.1f, best $best%.1f)")
        if (best > anchorBaseline * 1.15 && anchorAttempts < anchorRetries)
          Thread.sleep(anchorSpacingMs) // give a co-tenant burst a chance to pass
      }
      anchorSec = best
    }

    // ---- rolling anchor: a fixed ~0.5 s probe between queries -------
    // The open/close anchors bound the WINDOW but cannot see a co-tenant
    // burst in the middle of the 200+-query run (r12's builder A/B had
    // 90 untouched queries drift 10-40% with clean endpoint anchors —
    // unfalsifiable without a mid-run signal). Every `rollingEvery`
    // queries, time one small fixed job (generation + agg + filter over
    // 10M rows, noop sink, no IO, nothing cached) OUTSIDE any timed
    // region and record (query_index, seconds) in the artifact, so a
    // per-query regression can be checked against the machine speed AT
    // THAT POINT of the run instead of only at the endpoints.
    import org.apache.spark.sql.functions.{col, lit, min => fmin, max => fmax, avg, stddev_pop, pmod, xxhash64}
    def rollingAnchor(): Double = Harness.noop {
      val base = spark.range(10000000L).select(
        (pmod(xxhash64(col("id")), lit(10000L)).cast("double") / 100.0).as("d1"))
      base.agg(fmin(col("d1")), fmax(col("d1")), avg(col("d1")),
        stddev_pop(col("d1"))).collect()
      base.filter(col("d1") > 50.0)
    }
    val rollingEvery = sys.env.get("SPARK_GRAFT_ROLLING_EVERY")
      .flatMap(_.toIntOption).getOrElse(50)
    val rolling = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]

    var qIdx = 0
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      // A face that throws is not timed: its remaining runs are skipped,
      // and it is left out of the total and listed under "failed".
      val runs = scala.collection.mutable.ArrayBuffer.empty[Double]
      var failed = false
      while (runs.size < medianOf && !failed) {
        try runs += Harness.noop(fn(spark, sfDir))
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: $e"); failed = true }
        Harness.sweep(spark)
      }
      val sorted = runs.sorted
      val secs = if (failed) None
        else Some(sorted(sorted.size / 2)) // median (upper middle for even N)
      secs.foreach(s => System.err.println(f"[bench] $name%-16s $s%8.2f s" +
        (if (medianOf > 1) sorted.map(r => f"$r%.2f").mkString("  [", " ", "]") else "")))
      // Spark's ContextCleaner frees broadcasts / shuffle state / generated
      // classes only when a driver GC processes their weak references, and
      // its own periodic GC defaults to 30 min — longer than the whole
      // run. Force one every few queries (untimed) so 150+ queries' worth
      // of codegen classes and broadcast blocks don't pile up into GC
      // storms at the tail of the alphabet.
      qIdx += 1
      if (qIdx % 8 == 0) System.gc()
      if (rollingEvery > 0 && qIdx % rollingEvery == 0) {
        val a = rollingAnchor()
        Harness.sweep(spark)
        rolling += qIdx -> a
        System.err.println(f"[bench] rolling anchor @$qIdx: $a%.2f s")
      }
      name -> secs
    }
    val timed = results.collect { case (k, Some(v)) => k -> v }
    val failedNames = results.collect { case (k, None) => k }
    val qs = timed.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = timed.map(_._2).sum
    val anchorClose = if (anchorRetries > 0) anchorOnce() else -1.0
    // Locale.ROOT: a comma-decimal default locale would emit invalid JSON
    def num(d: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(d))
    // Machine-independent headline: total × baseline/anchor, embedded so
    // ANY reader of the artifact sees a normalized number without cross-
    // referencing session notes. The MEAN of the open and close anchors
    // is the normalizer — conditions can shift MID-run (r11 recorded
    // open 35.0s / close 83.0s on an unchanged tree) and either endpoint
    // alone would over- or under-correct a drifting window.
    val anchorNorm =
      if (anchorRetries > 0 && anchorSec > 0 && anchorClose > 0)
        total * anchorBaseline / ((anchorSec + anchorClose) / 2.0)
      else -1.0
    val rollingJson = rolling.map { case (i, a) => s"[$i,${num(a)}]" }
      .mkString("[", ",", "]")
    def names(ns: Seq[String]): String = ns.map("\"" + _ + "\"").mkString("[", ",", "]")
    val marker = (if (stagingFailed) ""","bucket_staging_failed":true""" else "") +
      (if (anchorRetries > 0)
        s""","anchor_sec":${num(anchorSec)},"anchor_close_sec":${num(anchorClose)}""" +
          s""","anchor_baseline_sec":$anchorBaseline,"anchor_attempts":$anchorAttempts""" +
          s""","value_anchor_norm":${num(anchorNorm)}"""
       else "") +
      (if (rolling.nonEmpty) s""","rolling_anchors":$rollingJson""" else "")
    // The full line carries every face (over 4 KB) and goes to a file;
    // stdout ends with a compact headline (the 10 slowest and at most 10
    // failed faces, under 1.5 KB) so a reader that keeps only the tail of
    // the output still parses the total.
    val fullLine = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir","runs":$medianOf,"failed":${names(failedNames)}$marker}"""
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_last.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outPath: $e") }
    val top = timed.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + num(v) }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"total_compact","value":$total,"unit":"sec","n_queries":${timed.size},"slowest":$top,"sf":"$sfDir","runs":$medianOf,"n_failed":${failedNames.size},"failed":${names(failedNames.take(10))}$marker}""")
  }
}
