package graft

import graft.core.Table
import graft.operators.{Aggregates, Stats}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter, GlobalLimit, LogicalPlan, Project => LProject, Window => LWindow}
import org.apache.spark.sql.functions._

/** Scale-shape assertions: the global-order operators (shift, interpolate,
  * rollingInterval, autoCorr) must not plan a partition-less Window — a bare
  * `Window.orderBy(...)` funnels the whole table through ONE task, which
  * serializes at 100 TB. Each op blocks the order axis and windows per
  * block, so every Window node in the optimized plan must carry a
  * partitionSpec. */
class PlanShapeSpec extends SparkSpec {

  // a partition-less Window whose input is already constant-bounded by a
  // Limit (InferWindowGroupLimit's rewrite of a global row_number<=k
  // filter: the heavy lifting became TakeOrderedAndProject, the Window
  // only ranks the surviving <=k rows) is NOT a scale hazard — exempt it
  private def limitBounded(p: LogicalPlan): Boolean = p match {
    case _: GlobalLimit => true
    case pr: LProject => limitBounded(pr.child)
    case f: LFilter => limitBounded(f.child)
    case _ => false
  }

  private def globalWindows(df: DataFrame): Seq[LWindow] =
    df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty && !limitBounded(w.child) => w
    }

  private def sample: Table = {
    import spark.implicits._
    val df = (0L until 5000L)
      .map(i => (i, if (i % 7 == 0) None else Some(i.toDouble * 0.5)))
      .toDF("id", "v")
    Table.fromDF(df, Seq(col("id")))
  }

  test("shift plans only partitioned windows") {
    val out = sample.shift("v", 3)
    assert(globalWindows(out.toDF).isEmpty, "shift must not use a global window")
    // and it still computes the right thing across block boundaries
    val rows = out.indexed.orderBy(Table.RowIdx).select("v_shift_3").collect()
    assert(rows.take(3).forall(_.isNullAt(0)))
  }

  test("interpolate plans only partitioned windows") {
    val out = sample.interpolate()
    assert(globalWindows(out.toDF).isEmpty, "interpolate must not use a global window")
  }

  test("rollingInterval plans only partitioned windows") {
    val df = sample.df
    val out = Stats.rollingInterval(df, "id", 100L, Seq("v" -> Seq(Aggregates.Mean)))
    assert(globalWindows(out).isEmpty, "rollingInterval must not use a global window")
  }

  test("autoCorr plans only partitioned windows") {
    val out = Stats.autoCorr(sample, "v", 2)
    assert(globalWindows(out).isEmpty, "autoCorr must not use a global window")
  }

  test("rollingInterval blocked window matches the global-window plan") {
    import spark.implicits._
    // irregular keys incl. duplicates and a negative, crossing span edges
    val keys = Seq(-3L, 0L, 1L, 1L, 5L, 99L, 100L, 101L, 150L, 199L, 200L, 407L)
    val df = keys.zipWithIndex.map { case (k, i) => (k, i.toDouble) }.toDF("k", "v")
    val got = Stats.rollingInterval(df, "k", 100L,
        Seq("v" -> Seq(Aggregates.Sum, Aggregates.Length, Aggregates.Minimum)))
      .orderBy("k", "v_sum").collect().map(_.toSeq).toSeq
    // oracle: per-row scan of the left-open (k-100, k] window
    val expect = keys.zipWithIndex.map { case (k, i) =>
      val in = keys.zipWithIndex.filter { case (k2, _) => k2 > k - 100L && k2 <= k }
      Seq(k, in.map(_._2.toDouble).sum, in.size.toDouble, in.map(_._2.toDouble).min)
    }.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Double]))
    assert(got == expect)
  }

  test("rollingInterval matches a brute-force model on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(101)
    for (trial <- 0 until 3) {
      val n = 200 + trial * 137
      val interval = Seq(7L, 50L, 1L)(trial)
      // clustered keys with duplicates and negatives
      val keys = Seq.fill(n)(rnd.nextInt(300).toLong - 50)
      val vals = keys.map(_ => (rnd.nextInt(200) - 100).toDouble / 4)
      val df = keys.zip(vals).toDF("k", "v").repartition(5)
      val got = Stats.rollingInterval(df, "k", interval,
          Seq("v" -> Seq(Aggregates.Sum, Aggregates.Length)))
        .orderBy("k", "v_sum", "v_length").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      val rows = keys.zip(vals)
      val expect = rows.map { case (k, _) =>
        val in = rows.filter { case (k2, _) => k2 > k - interval && k2 <= k }
        (k, in.map(_._2).sum, in.size.toDouble)
      }.sortBy(t => (t._1, t._2, t._3))
      // sums accumulate in different orders; compare with tolerance
      assert(got.length == expect.length)
      got.zip(expect).foreach { case ((gk, gs, gl), (ek, es, el)) =>
        assert(gk == ek && gl == el && math.abs(gs - es) < 1e-9,
          s"trial $trial: ($gk,$gs,$gl) vs ($ek,$es,$el)")
      }
    }
  }

  test("rollingInterval rejects fractional key types") {
    import spark.implicits._
    val df = Seq((1.5, 2.0)).toDF("k", "v")
    val e = intercept[IllegalArgumentException] {
      Stats.rollingInterval(df, "k", 10L, Seq("v" -> Seq(Aggregates.Mean)))
    }
    assert(e.getMessage.contains("non-integral"))
  }

  test("ivfTopK assigns corpus cells without a shuffle (argmax, no window)") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val vecs = (0L until 100L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val out = graft.operators.Similarity.ivfTopK(
      vecs, vecs.filter(col("vec_id") < 3), "vec_id", "embedding", 3, nCells = 4, nProbe = 2)
    // the ONLY window in the plan is the final per-query rank (partitioned);
    // corpus cell assignment must be a narrow argmax projection
    val wins = out.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(wins.size == 1, s"expected only the final rank window, got ${wins.size}")
    assert(wins.forall(_.partitionSpec.nonEmpty))
  }

  test("bucketed tables join with NO exchange and NO sort, and match the plain join") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.SortExec
    val tmp = java.nio.file.Files.createTempDirectory("bucketspec").toString
    val a = (0L until 10000L).map(i => (i, i % 97, i * 1.5)).toDF("id", "k", "v")
    val b = (0L until 2000L).map(i => (i % 97, s"n${i % 97}")).toDF("k", "name").distinct()
    graft.operators.Layout.writeBucketed(a, "spec_bucket_a", Seq("k"), 4, Some(s"$tmp/a"))
    graft.operators.Layout.writeBucketed(b, "spec_bucket_b", Seq("k"), 4, Some(s"$tmp/b"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("spec_bucket_a").join(spark.table("spec_bucket_b"), Seq("k"))
      val plan = joined.queryExecution.executedPlan
      assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"bucketed join planned a shuffle:\n$plan")
      assert(plan.collect { case s: SortExec => s }.isEmpty,
        s"bucketed join re-sorted a sortBy'd bucket:\n$plan")
      val got = joined.select("k", "id", "v", "name").collect().map(_.toSeq).toSet
      val want = a.join(b, Seq("k")).select("k", "id", "v", "name")
        .collect().map(_.toSeq).toSet
      assert(got == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("snapshotDiff over bucketed snapshots plans NO exchange and NO sort") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.SortExec
    // the Diff scaladoc's 100 TB claim, held to plan evidence: two
    // releases bucketed on the id full-outer-diff by zipping co-located
    // buckets — the nightly version audit without re-shuffling either
    val tmp = java.nio.file.Files.createTempDirectory("diffbucket").toString
    val oldRel = (0L until 5000L).map(i => (i, s"v$i")).toDF("id", "text")
    val newRel = (0L until 5200L).filter(_ % 31 != 0)
      .map(i => (i, if (i % 53 == 0) s"v$i!" else s"v$i")).toDF("id", "text")
    graft.operators.Layout.writeBucketed(oldRel, "spec_diff_old", Seq("id"), 4, Some(s"$tmp/o"))
    graft.operators.Layout.writeBucketed(newRel, "spec_diff_new", Seq("id"), 4, Some(s"$tmp/n"))
    val diffed = graft.operators.Diff.snapshotDiff(
      spark.table("spec_diff_old"), spark.table("spec_diff_new"),
      Seq("id"), Seq("text")).filter(col("change") =!= "unchanged")
    val plan = diffed.queryExecution.executedPlan
    assert(plan.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"bucketed snapshotDiff planned a shuffle:\n$plan")
    assert(plan.collect { case s: SortExec => s }.isEmpty,
      s"bucketed snapshotDiff re-sorted a sortBy'd bucket:\n$plan")
    // and the tags equal the unbucketed diff
    val want = graft.operators.Diff.snapshotDiff(oldRel, newRel, Seq("id"), Seq("text"))
      .filter(col("change") =!= "unchanged")
      .select("id", "change").collect().map(_.toSeq).toSet
    assert(diffed.select("id", "change").collect().map(_.toSeq).toSet == want)
  }

  test("bucketed signature index: maintain never re-shuffles the standing index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // the q_lsh_maintain scaladoc's 100 TB claim, held to plan evidence:
    // with the standing index AND the change set bucketed on the id, the
    // dead-id anti-join zips co-located buckets — the only exchanges in
    // the whole refresh belong to re-signing the CHURN (its shingle
    // groupBy), never to the corpus-sized index
    val tmp = java.nio.file.Files.createTempDirectory("lshidxbucket").toString
    val words = Vector("red", "green", "blue", "cyan", "teal", "plum")
    val docs = (0L until 400L).map(i =>
      (i, (0 until 6).map(j => words(((i + j) % 6).toInt)).mkString(" ")))
      .toDF("id", "text")
    val newRel = (0L until 430L).filter(_ % 13 != 0).map(i =>
      (i, (0 until 6).map(j => words(((i + j + (if (i % 17 == 0) 1 else 0)) % 6).toInt))
        .mkString(" "))).toDF("id", "text")
    def sigs(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Dedup.minhashSignatures(d, "text", "id", k = 8, shingleN = 3)
    graft.operators.Layout.writeBucketed(sigs(docs), "spec_lshidx", Seq("id"), 4, Some(s"$tmp/i"))
    val ch = graft.operators.Diff.snapshotDiff(docs, newRel, Seq("id"), Seq("text"))
      .filter(col("change") =!= "unchanged")
    graft.operators.Layout.writeBucketed(ch, "spec_lshch", Seq("id"), 4, Some(s"$tmp/c"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the
      // co-located SMJ path: at corpus scale the dead-id set may exceed
      // broadcast size, and the claim must hold WITHOUT broadcast
      val maintained = graft.operators.Dedup.minhashIndexMaintain(
        spark.table("spec_lshidx"), spark.table("spec_lshch"),
        "text", "id", k = 8, shingleN = 3)
      val plan = maintained.queryExecution.executedPlan
      val badShuffles = plan.collect { case e: ShuffleExchangeLike => e }
        .filter(_.treeString.contains("spec_lshidx"))
      assert(badShuffles.isEmpty,
        s"the standing index was re-shuffled:\n${badShuffles.mkString("\n")}")
      // and the refresh is still exact
      val got = maintained.collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      val want = sigs(newRel).collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSet
      assert(got == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("bucketed BM25 postings: maintain never re-shuffles the standing index") {
    import spark.implicits._
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // same 100 TB claim as the signature index, for the retrieval index:
    // with postings AND change set bucketed on doc_id, the dead-id
    // anti-join zips co-located buckets — the only exchanges in the
    // refresh belong to re-tokenizing the CHURN, never to the
    // corpus-sized postings table
    val tmp = java.nio.file.Files.createTempDirectory("bm25idxbucket").toString
    val words = Vector("red", "green", "blue", "cyan", "teal", "plum")
    val docs = (0L until 400L).map(i =>
      (i, (0 until 6).map(j => words(((i + j) % 6).toInt)).mkString(" ")))
      .toDF("id", "text")
    val newRel = (0L until 430L).filter(_ % 13 != 0).map(i =>
      (i, (0 until 6).map(j => words(((i + j + (if (i % 17 == 0) 1 else 0)) % 6).toInt))
        .mkString(" "))).toDF("id", "text")
    graft.operators.Layout.writeBucketed(
      graft.operators.Search.bm25Index(docs, "text", "id"),
      "spec_bm25idx", Seq("id"), 4, Some(s"$tmp/i"))
    val ch = graft.operators.Diff.snapshotDiff(docs, newRel, Seq("id"), Seq("text"))
      .filter(col("change") =!= "unchanged")
    graft.operators.Layout.writeBucketed(ch, "spec_bm25ch", Seq("id"), 4, Some(s"$tmp/c"))
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val maintained = graft.operators.Search.bm25IndexMaintain(
        spark.table("spec_bm25idx"), spark.table("spec_bm25ch"), "text", "id")
      val plan = maintained.queryExecution.executedPlan
      val badShuffles = plan.collect { case e: ShuffleExchangeLike => e }
        .filter(_.treeString.contains("spec_bm25idx"))
      assert(badShuffles.isEmpty,
        s"the standing postings were re-shuffled:\n${badShuffles.mkString("\n")}")
      val got = maintained.collect().map(_.toSeq).toSet
      val want = graft.operators.Search.bm25Index(newRel, "text", "id")
        .collect().map(_.toSeq).toSet
      assert(got == want)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
  }

  test("NO query in the whole SparkEntry surface plans a partition-less window") {
    val dir = "/root/testdata/sf0.001"
    val offenders = graft.SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        if (globalWindows(fn(spark, dir)).nonEmpty) Seq(name) else Nil
      } catch { case _: Throwable => Nil } // build failures are other specs' business
    }
    assert(offenders.isEmpty,
      s"queries with a global (single-partition) window: ${offenders.mkString(", ")}")
  }

  test("bucketized joins never plan a cartesian product; cap gets two-phase rank limit") {
    val dir = "/root/testdata/sf0.001"
    // executedPlan.collect cannot see through AdaptiveSparkPlanExec, so
    // assert on the explain text instead
    def planText(name: String): String =
      graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
    for (name <- Seq("q_overlap_join", "q_range_join", "q_asof_join", "q_jaccard")) {
      assert(!planText(name).contains("CartesianProduct"),
        s"$name plans a CartesianProduct — bucketization broken")
    }
    val cap = planText("q_cap")
    assert("WindowGroupLimit".r.findAllIn(cap).size >= 2,
      s"q_cap should plan partial+final WindowGroupLimit:\n$cap")
  }

  // ---- plan-shape regression harness v2: broadcast discipline, rank-limit
  // pushdown, and per-query shuffle ceilings. A future change that regresses
  // a plan fails HERE, not as a bench surprise next round. ----

  private def planText(name: String, dir: String = "/root/testdata/sf0.001"): String =
    graft.SparkEntry.queries(name)(spark, dir).queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)

  private def shuffleCount(plan: String): Int =
    raw"\(\d+\) Exchange\b".r.findAllIn(plan).size // formatted-mode node ids;
    // BroadcastExchange/ReusedExchange print as their own node names

  test("every brute-force similarity fan-out broadcasts the small side (no cartesian)") {
    // these paths crossJoin a corpus against a bounded query/anchor set —
    // the small side MUST broadcast (BroadcastNestedLoopJoin), never plan
    // a CartesianProduct (both sides shuffled to one task at scale)
    for (name <- Seq("q_ann_cosine", "q_ann_int8", "q_knn", "q_mrl_ann",
        "q_pca_ann_pinned", "q_hard_neg")) {
      val p = planText(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans a CartesianProduct — broadcast hint lost")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
        s"$name no longer broadcasts its small side")
    }
  }

  test("rank-limited top-k paths keep the WindowGroupLimit pushdown") {
    // row_number().over(partitionBy(q)) <= k must plan partial+final
    // WindowGroupLimit (each map task keeps k rows per key BEFORE the
    // shuffle) — losing it re-sorts and shuffles whole groups
    for (name <- Seq("q_ann_cosine", "q_ann_int8", "q_knn", "q_mrl_ann",
        "q_pca_ann_pinned", "q_cap")) {
      val p = planText(name)
      assert("WindowGroupLimit".r.findAllIn(p).size >= 2,
        s"$name lost its partial+final WindowGroupLimit rank pushdown")
    }
  }

  test("runtime bloom-filter pruning injects on selective dim -> fact shuffle joins") {
    // At 100 TB a selective dim filter should prune the FACT SCAN, not
    // just the join: Spark's InjectRuntimeFilter builds a bloom of the
    // filtered dim keys and pushes bloom_filter_might_contain into the
    // fact side. It's on by default but gated on the fact side scanning
    // > 10 GB (exactly the production regime) — lower the gate to prove
    // the mechanism fires on our join shape at test scale. Broadcast is
    // disabled because a broadcast join already prunes via its own
    // runtime mechanisms; the bloom matters for the shuffle-join regime.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val dir = "/root/testdata/sf0.001"
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("sum_qty"))
      val plan = j.queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      assert(plan.toLowerCase.contains("bloomfilter"),
        s"runtime bloom filter no longer injected:\n${plan.take(1500)}")
      // and the result is unaffected by the pruning
      assert(!j.collect().head.isNullAt(1))
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("DV reads drop marked rows inside the scan stage (no join, no DV shard scan)") {
    val plan = planText("q_table_delete_dv")
    assert(plan.contains("graft_dv_keep") && !plan.contains("Join") &&
      !plan.contains("/dv/"), s"DV marks are not applied in the scan:\n${plan.take(1500)}")
    // and the data side never exchanges for the marks
    // (the ceilings test pins the full count at 2: agg + orderBy)
  }

  test("q_bloom_join carries the explicit probe-side bloom prefilter in its plan") {
    // the operator's whole point: the membership probe must sit on the
    // probe scan as a data filter, upstream of the join's exchange
    val plan = planText("q_bloom_join").toLowerCase
    assert(plan.contains("might_contain"),
      s"bloomJoin lost its probe prefilter:\n${plan.take(1500)}")
  }

  test("AQE splits skewed shuffle-join partitions at runtime (skew=true)") {
    import spark.implicits._
    // At 100 TB the hot-key partition is what kills a shuffle join; the
    // engine's answer is layered: autoSalted for KNOWN skew, and Spark's
    // OptimizeSkewedJoin for skew discovered AT RUNTIME. Prove the
    // runtime layer actually fires on our join shape: one key carrying
    // ~99% of a side must come out of AQE re-planned as a split SMJ
    // (skew=true), with the join result unchanged. Thresholds are
    // lowered so test-sized data crosses the production gates.
    val confs = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(400000).select(
        when($"id" % 100 < 99, 0L).otherwise($"id" % 32).as("k"),
        concat(lit("padpadpadpadpadpadpadpadpadpad-"), $"id").as("payload"))
      val right = spark.range(32).select($"id".as("k"), ($"id" * 10).as("v"))
      val j = left.join(right, "k")
      // drive THIS QueryExecution's adaptive plan (a write/count would
      // execute a separate QE instance and leave this one isFinalPlan=false)
      val qe = j.queryExecution
      val n = qe.executedPlan.execute().count()
      val plan = qe.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not re-plan the skewed join:\n${plan.take(2000)}")
      assert(n === 400000L) // every left row has its dim match
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("shuffle-count ceilings hold per named query") {
    // recorded from the round-4 plans (FormattedMode, sf0.001); a higher
    // count means a new exchange crept into the plan — justify and
    // re-record deliberately, never accidentally. (Counts are
    // partition-count independent; broadcast/reused exchanges excluded.)
    val ceilings = Map(
      "q1_agg" -> 2,        // partial+final agg exchange, oracle orderBy
      "q_join" -> 0,        // bucketed lineitem⋈orders: join AND agg reuse
                            // the bucket partitioning; top-k shuffles nothing
      "q_bucket_join" -> 2, // join exchange-free; agg re-keys on mktsegment
      "q_sort" -> 1,        // one range partition
      "q_topk" -> 0,        // TakeOrderedAndProject only
      "q_scale" -> 1,       // fused stats scan + oracle orderBy
      "q_robots_directives" -> 2, // host agg + oracle orderBy; rules broadcast
      "q_train_order" -> 3, // per-epoch shard window (WindowGroupLimit
                            // partial+final prunes to 3/shard/task) + orderBy
      "q_moments" -> 3,     // (lang,source) partial agg, lang merge, orderBy
      "q_ann_cosine" -> 2,  // rank + oracle orderBy (corpus never reshuffles)
      "q_knn" -> 2,
      "q_mrl_ann" -> 2,
      "q_pca_ann_pinned" -> 2,
      "q_minhash" -> 2,     // sig groupBy feeds checkpointed table; band join + verify
      "q_window_rank" -> 2,
      "q_cap" -> 2,
      "q_semdedup" -> 5,    // cell collapse, grid pairs, greedy keep, anti-join
      // round-6 additions: exact-decimal twins keep their originals'
      // shapes (the cast is row-local); audio meta/gate are one narrow
      // parse pass + the oracle orderBy
      "q1_agg_exact" -> 2,
      "q_bucket_join_exact" -> 2,
      "q_audio_meta" -> 1,
      "q_audio_filter" -> 1,
      // distinct-count sketches: the sketch pipelines themselves are 2
      // exchanges (partial-agg'd registers / WindowGroupLimit'd bottom-k
      // + rollup); the rest is each graded query's EXACT honesty column
      // (countDistinct = 2, overlap's exact join more) — production runs
      // the sketch alone
      "q_hll_distinct" -> 5,
      "q_kmv_distinct" -> 5,
      "q_kmv_overlap" -> 9,
      // OPQ-rotated PQ: the rotation is a row-local projection cut from
      // downstream codegen by a localCheckpoint barrier; the PQ serving
      // plan itself keeps the flat-PQ shape (rank + oracle orderBy)
      "q_opq_ann_pinned" -> 2,
      // DLT sample: both rank branches are TakeOrderedAndProject (no
      // shuffle); the 2 = exact-honesty agg + the oracle orderBy
      "q_priority_sample" -> 2,
      // stratified face: one hash exchange per rank branch (partial+
      // final WindowGroupLimit keeps <=k+1 rows/lang per map task
      // ahead of each) + the oracle orderBy
      "q_priority_sample_by" -> 3,
      // BPE training output is the driver-side merge table (kilobytes):
      // LocalTableScan + the oracle orderBy. The distributed work (one
      // corpus scan + K vocab-sized rounds) happens inside
      // trainBpeDistributed before this frame exists.
      "q_bpe_train" -> 1,
      // shard manifest: partial+final 16-group agg + the oracle orderBy
      "q_shard_manifest" -> 2,
      // video family: one native box-walk projection/predicate + the
      // oracle orderBy; the frame sampler is row-local (explode of a
      // row-computed array — no shuffle of its own)
      "q_video_meta" -> 1,
      "q_video_filter" -> 1,
      "q_frame_sample" -> 1,
      "q_keyframe_sample" -> 1,
      "q_frame_sample_chunked" -> 1,
      // maintained BM25 postings: snapshotDiff full-outer (2) + the
      // in-query old-index build (2) + dead-id anti-join + churn
      // re-tokenize groupBy + oracle orderBy; the bucketed-layout spec
      // below proves the standing index itself never re-shuffles
      "q_bm25_maintain" -> 7,
      // multimodal curation: semi-join rides a broadcast; dedup window
      // re-key + manifest agg + oracle orderBy are the only shuffles
      "q_curate_mm" -> 3,
      // integer-exact AUC: the bucket aggregate re-plans under each of
      // its three consumers (self-join a/b sides + the ties scalar) —
      // 5 exchanges total, every one over the BOUNDED bucket table, so
      // re-computation is the right trade vs caching a corpus-derived
      // frame per call
      "q_auc" -> 5,
      "q_calibration" -> 2,
      // Poisson bootstrap: ONE partial agg keyed on the replicate
      // (<= B rows leave each map task) + the oracle orderBy
      "q_bootstrap" -> 2,
      // CT langid: gram counts + rank windows on both the profile and
      // doc sides (profile side is langs-tiny and broadcasts into the
      // scorer), distance agg, argmin window, oracle orderBy
      "q_langid_ct" -> 7,
      // versioned-table stats: one agg exchange + the oracle orderBy
      // (the commit protocol itself ran eagerly; the frame is 3 pinned
      // parquet reads unioned)
      "q_table_versions" -> 2,
      // tfrecord roundtrip: the read is an RDD scan; one oracle orderBy
      "q_tfrecord_roundtrip" -> 1,
      // SCD2 as-of enrichment: the operator itself is ONE equi join on
      // doc_id (interval predicate as residual) = 2 exchanges + the
      // oracle orderBy; the other 6 build the 2-release history fixture
      // (snapshotDiff full-outer + the interval-close join + unions)
      "q_scd2_asof" -> 9,
      // round-7: CMS sketch build is ONE partial-combined agg (≤ d·w
      // rows/partition); the rest is probe distinct + the exact honesty
      // aggregate + oracle orderBy (sketch + exact both broadcast)
      "q_cms" -> 4,
      // two sketch builds + dot groupBy/min + the exact honesty join's
      // agg; production runs the two sketch legs alone
      "q_cms_join" -> 5,
      // partitioned versioned table: the three pruned reads are pinned
      // parquet scans unioned; one agg exchange + the oracle orderBy
      "q_table_partitions" -> 2,
      // change feed: ONE full-outer diff join over the symmetric-
      // difference files only (2 exchanges) + the oracle orderBy
      "q_table_changefeed" -> 3,
      // PCM decode family: one native sample pass per row + orderBy
      "q_audio_pcm" -> 1,
      "q_audio_gate" -> 1,
      // maintained CMS: old-sketch agg + the diff's full-outer join
      // feeding churn-sized deltas + the re-sum (orderBy rides it)
      "q_cms_maintain" -> 3,
      // maintained rollup family: old agg + diff SMJ (2) + delta agg +
      // merge full-outer (2) + orderBy — the diff join runs ONCE (the
      // retract/add split is an explode, not a two-branch union)
      "q_incr_agg" -> 7,
      "q_moments_maintain" -> 7,
      // streaming moments: memory-sink read + the oracle orderBy
      "q_stream_moments" -> 1,
      // HITS: final hub⋈auth join + 1-row totals agg (broadcast back) +
      // orderBy; per-iteration edge⋈score work lives in checkpoints
      "q_hits" -> 6,
      // manifest-sidecar family: the graded read is pinned pruned
      // parquet scans (bloom) or a driver-built frame from sidecar
      // metadata (meta_count / ndv) — nothing shuffles but the oracle
      // orderBy; sidecar WRITES happen before the graded plan
      "q_table_bloom" -> 1,
      "q_table_meta_count" -> 1,
      "q_table_ndv" -> 1,
      // moments sidecar: driver-built frame from manifest arithmetic
      // (measured 0 exchanges; 1 allows the orderBy a range exchange)
      "q_table_moments" -> 1,
      // stats panel: same shape — the panel rows are driver-side sidecar
      // arithmetic; only the oracle orderBy may exchange
      "q_table_panel" -> 1,
      // weighted quantiles: the rank-search passes run eagerly at build
      // time (bounded per-task state, see RankSelect); the graded frame
      // is driver-built — only the oracle orderBy may exchange
      "q_wquantile" -> 1,
      // WARC family: distributed shard read + native splits are
      // scan-side; roundtrip/gate shuffle only the oracle orderBy,
      // outlinks adds the host-edge aggregation
      "q_warc_roundtrip" -> 1,
      "q_warc_http_gate" -> 1,
      "q_warc_outlinks" -> 2,
      // robots: 97 parsed-rule rows BROADCAST onto the urls (no shuffle
      // join); the one exchange is the oracle orderBy
      "q_robots_gate" -> 1,
      // frontier: broadcast policy join + per-host agg + oracle orderBy
      "q_crawl_frontier" -> 2,
      // schedule: same shape — ONE payload parsed into rules+directives,
      // broadcast; per-host agg + oracle orderBy
      "q_crawl_schedule" -> 2,
      // streamed-table snapshot: memory-sink read + the oracle orderBy
      "q_table_stream" -> 1,
      // composed prune: pinned survivor scans + residual + oracle orderBy
      "q_table_composed" -> 1,
      // revisit reconstruction: one N×N refers_to join (both sides the
      // corpus — SMJ is the right shape) + the oracle orderBy
      "q_warc_revisit" -> 3,
      // request/response pairing: one N×N uri join + oracle orderBy
      "q_warc_request" -> 3,
      // lakehouse loop: the graded plan reads table B + oracle orderBy
      "q_table_pipeline" -> 1,
      // schema evolution: one merged-footer scan + oracle orderBy
      "q_table_evolve" -> 1,
      // per-partition NDV: driver-built frame from sidecar + orderBy
      "q_table_ndv_parts" -> 1,
      // deletion vectors: the graded read is three pinned scans, the
      // DV anti-join BROADCASTS (O(deleted) rows); the two shuffles
      // are the (view,lang) agg + the oracle orderBy
      "q_table_delete_dv" -> 2,
      // upsert: one DV-anti-joined scan + agg + oracle orderBy
      "q_table_upsert" -> 2,
      // bloom-prefiltered join: sketch built eagerly; graded plan is
      // probe scan+filter, broadcast join of the tiny build, agg,
      // oracle orderBy — the probe never shuffles unpruned
      "q_bloom_join" -> 2,
      // pruned-schema streamed snapshot: memory-sink read + oracle orderBy
      "q_table_stream_cols" -> 1,
      // streaming merge sink: the graded read is table B (DV anti-join
      // broadcasts) + one agg + oracle orderBy; the stream ran eagerly
      "q_table_stream_upsert" -> 2,
      // restore+clone: one borrowed-file scan (DV broadcast anti-join)
      // + agg + oracle orderBy
      "q_table_restore" -> 2,
      // live metadata sums: the dashboard rows are driver-side sidecar
      // arithmetic (the O(churn) deleted-value reads ran eagerly);
      // the graded plan is a LocalTableScan + oracle orderBy
      "q_table_sums_live" -> 1,
      // live mean/std: same LocalTableScan shape (moments arithmetic
      // is driver-side over the sidecar minus deleted-value moments)
      "q_table_moments_live" -> 1,
      // metadata-sized IVF over a versioned corpus: sizing + centroid
      // collect ran eagerly (sidecar arithmetic + a bounded
      // TakeOrderedAndProject); the graded plan is the pinned-IVF
      // shape — narrow assignment, broadcast query probe, rank window
      // + oracle orderBy
      "q_ann_ivf_vt" -> 2,
      // trained NB classifier: the model localCheckpoints at train time
      // (<= vocabK·|labels| rows), so the serving plan is doc-keyed
      // only — per-doc token counts, broadcast model join, per-(doc,
      // label) sum, the doc×priors base join, argmax window, oracle
      // orderBy
      "q_nb_classify" -> 5,
      // maintained-model face: identical serving shape (the signed count
      // merge happens at model-build time behind the localCheckpoint)
      "q_nb_maintain" -> 5)
    val over = ceilings.toSeq.sortBy(_._1).flatMap { case (name, cap) =>
      val n = shuffleCount(planText(name))
      if (n > cap) Seq(s"$name: $n > $cap") else Nil
    }
    assert(over.isEmpty, s"shuffle ceilings exceeded: ${over.mkString("; ")}")
  }

  test("prioritySample: global rank limits plan as TakeOrderedAndProject; grouped as WindowGroupLimit") {
    // the DLT rank limit must push to map tasks — <= k+1 rows per task
    // reach the driver-side merge regardless of corpus size. Spark
    // rewrites the GLOBAL (empty-partition) row_number<=k filter to a
    // Limit, which plans as TakeOrderedAndProject in BOTH branches
    // (sample and tau); the grouped face keeps WindowGroupLimit.
    val p = planText("q_priority_sample")
    assert("TakeOrderedAndProject".r.findAllIn(p).size >= 2,
      s"q_priority_sample lost its map-side rank-limit pushdown:\n$p")
    val grouped = graft.operators.Sampling.prioritySample(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      "doc_id", col("n_chars"), 8, groupCols = Seq("lang"))
      .queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
    assert("WindowGroupLimit".r.findAllIn(grouped).size >= 2,
      s"grouped prioritySample lost its partial+final WindowGroupLimit:\n$grouped")
  }

  test("q_join fact-to-fact leg is fully exchange-free on the session bucketed layout") {
    // the repeated-join payoff bucketing exists for: lineitem⋈orders and
    // the (l_orderkey, o_orderdate) aggregation both reuse the bucket
    // partitioning staged once per session — the WHOLE plan has zero
    // shuffle exchanges (broadcast exchanges excluded by the regex)
    val p = planText("q_join")
    assert(shuffleCount(p) == 0, s"q_join planned a shuffle exchange:\n$p")
  }

  test("gate contract: every graded query has an oracle (except declared rows-only)") {
    // empty since round 10: q_ann_ivf's pinned-seed fixed-iteration
    // lloydRefine is SQL-replayable (unrolled CTE rounds), so the last
    // rows-only face gained a hash oracle
    val rowsOnlyByDesign = Set.empty[String]
    val missing = graft.SparkEntry.queries.keySet --
      graft.SparkEntry.oracleSql.keySet -- rowsOnlyByDesign
    assert(missing.isEmpty, s"queries without an oracle: ${missing.mkString(", ")}")
    val orphans = graft.SparkEntry.oracleSql.keySet -- graft.SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: ${orphans.mkString(", ")}")
  }

  test("blocked shift is exact across the 64k block boundary") {
    // BlockSize is 65536: use 70k rows so lag/lead frames actually cross
    // blocks (every smaller spec stays inside one block and would never
    // exercise the ghost rows)
    val n = 70000L
    val df = spark.range(0, n).toDF("id")
      .withColumn("v", col("id") * 3 + 1)
    val t = Table.fromIndexed(df, "id")
    for (p <- Seq(3, -2, 70001)) {
      val colName = s"v_shift_$p"
      val out = t.shift("v", p).indexed
        .filter(col(Table.RowIdx).isin(0L, 1L, 65534L, 65535L, 65536L, 65537L, n - 2, n - 1))
        .orderBy(Table.RowIdx)
        .select(Table.RowIdx, colName).collect()
        .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      def expect(i: Long): Option[Long] = {
        val src = i - p
        if (src < 0 || src >= n) None else Some(src * 3 + 1)
      }
      Seq(0L, 1L, 65534L, 65535L, 65536L, 65537L, n - 2, n - 1).foreach { i =>
        assert(out(i) == expect(i), s"periods=$p row $i")
      }
    }
    // autoCorr rides the same blocked window: perfect linear series -> 1.0
    val ac = Stats.autoCorr(t, "v", 7).collect()(0).getDouble(0)
    assert(math.abs(ac - 1.0) < 1e-9)
  }

  test("sessionize agrees with Spark's built-in session_window boundaries") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // bursty per-user event times: gaps > 60s break sessions
    var t = 0L
    val events = (0 until 400).map { i =>
      t += (if (rnd.nextInt(5) == 0) 90L + rnd.nextInt(300) else rnd.nextInt(40).toLong)
      (s"u${i % 7}", java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(t)))
    }.toDF("user_id", "ts")
    val ours = Stats.sessionize(events, "user_id", "ts", 60L * 1000000)
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .select("user_id", "s", "e", "n")
      .collect().map(_.toSeq).toSet
    val builtin = events
      .groupBy(col("user_id"), session_window(col("ts"), "60 seconds"))
      .agg(min("ts").as("s"), max("ts").as("e"), count(lit(1)).as("n"))
      .select("user_id", "s", "e", "n")
      .collect().map(_.toSeq).toSet
    // same session membership -> same (first, last, count) triples.
    // NB our rule is gap > 60s breaks (gap == 60s continues); Spark's
    // session_window half-open [start, start+gap) breaks AT 60s — the
    // random gaps avoid the exact-60 tie, making the two comparable.
    assert(ours == builtin)
  }

  test("autoCorr matches the sequential definition") {
    import spark.implicits._
    val vs = Seq(1.0, 3.0, 2.0, 5.0, 4.0, 7.0, 6.0, 9.0, 8.0, 11.0)
    val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val t = Table.fromDF(df, Seq(col("id")))
    val got = Stats.autoCorr(t, "v", 1).collect()(0).getDouble(0)
    val xs = vs.drop(1); val ys = vs.dropRight(1)
    val mx = xs.sum / xs.size; val my = ys.sum / ys.size
    val cov = xs.zip(ys).map { case (x, y) => (x - mx) * (y - my) }.sum
    val expect = cov / math.sqrt(
      xs.map(x => (x - mx) * (x - mx)).sum * ys.map(y => (y - my) * (y - my)).sum)
    assert(math.abs(got - expect) < 1e-12)
  }

  test("crawl schedule under a planted mega-host: shuffle stays host-sized, not edge-sized") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    // 2M frontier edges; host h0 owns HALF of them (a link-farm / mega
    // CDN host — the 50%-skew case). The per-host fetch-budget aggregate
    // must combine map-side: the shuffle then carries one row per
    // (partition × host), never the mega-host's edge mass to one reducer.
    val hosts = 1000L
    val edges = spark.range(2000000L).select(
      when(col("id") % 2 === 0, lit("h0"))
        .otherwise(concat(lit("h"), expr(s"id div 2 % $hosts"))).as("host"),
      (col("id") % 13).as("path_class"))
    val policy = spark.range(hosts).select(
      concat(lit("h"), col("id")).as("host"),
      (col("id") % 7 * 100).as("crawl_delay_ms"))
    val schedule = edges.join(broadcast(policy), "host")
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"), first(col("crawl_delay_ms")).as("d"))
      .select(col("host"), col("n_urls"), (col("n_urls") * col("d")).as("budget_ms"))
    val rows = schedule.collect()
    assert(rows.length === hosts)
    assert(rows.find(_.getString(0) == "h0").get.getLong(1) === 1001000L)
    // walk the EXECUTED plan (through AQE stages): every shuffle's map
    // side must have emitted host-sized row counts
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => q.plan +: nodes(q.plan)
      case other => other +: other.children.flatMap(nodes)
    }
    val shuffled = nodes(schedule.queryExecution.executedPlan)
      .collect { case s: ShuffleExchangeLike =>
        s.metrics.collectFirst {
          case (k, m) if k.toLowerCase.contains("records") => m.value }.getOrElse(0L)
      }
    assert(shuffled.nonEmpty, "expected the aggregate exchange in the plan")
    val total = shuffled.sum
    // partial agg bound: <= shuffle-partitions x hosts (32k) vs 2M edges
    assert(total <= 64L * hosts,
      s"shuffle carried $total rows — map-side combine missing, the " +
        "mega-host's edge mass would hit one reducer")
  }
}
