package graft

import graft.core.Table
import graft.functions.InterpolatedQuantile
import graft.operators.{Aggregates => A, Stats}
import org.apache.spark.sql.functions._

/** Aggregation contract: reference naming/typing, null gates, first/last by
  * row order, RSI, the exact interpolated quantile rule. */
class AggregatesSpec extends SparkSpec {

  test("quantile rule: n = N*q - 0.5 with lerp (reference Analysis.cpp:19-37)") {
    val v = Array(1.0, 2.0, 3.0, 4.0)
    // q=0.5: n = 4*0.5-0.5 = 1.5 -> lerp(v[1], v[2], .5) = 2.5
    assert(InterpolatedQuantile.quantile(v.clone(), 0.5) == 2.5)
    // q=0.25: n = 0.5 -> lerp(v[0], v[1], .5) = 1.5
    assert(InterpolatedQuantile.quantile(v.clone(), 0.25) == 1.5)
    // clamping
    assert(InterpolatedQuantile.quantile(v.clone(), 0.0) == 1.0)
    assert(InterpolatedQuantile.quantile(v.clone(), 1.0) == 4.0)
    // differs from SQL percentile's (N-1)*q rule: there q=0.25 -> 1.75
    // single element
    assert(InterpolatedQuantile.quantile(Array(9.0), 0.3) == 9.0)
  }

  test("quantile as distributed aggregate matches local rule") {
    import spark.implicits._
    val df = (1 to 1001).map(_.toDouble).toDF("v").repartition(7)
    val got = df.agg(InterpolatedQuantile.quantileCol(col("v"), 0.33).as("q"))
      .collect()(0).getDouble(0)
    val want = InterpolatedQuantile.quantile((1 to 1001).map(_.toDouble).toArray, 0.33)
    assert(got == want)
  }

  test("q_aggregate_by: a tie on (l_orderkey, l_linenumber) resolves alike in the face and its DuckDB oracle, in either input order") {
    import scala.sys.process._
    import spark.implicits._
    assume(scala.util.Try(Seq("python3", "-c", "import duckdb")
      .!(ProcessLogger(_ => ())) == 0).getOrElse(false),
      "the oracle engine (python3 with duckdb) is not installed")
    val oracle = "SELECT l_returnflag, qty_n_first, qty_n_last FROM (" +
      SparkEntry.oracleSql("q_aggregate_by") + ")"
    val tied = Seq((0L, 7, 1L, 36.0, "R"), (0L, 7, 2L, 1.0, "R"))
    for (rows <- Seq(tied, tied.reverse)) {
      val dir = java.nio.file.Files.createTempDirectory("graft_aggtie").toString
      rows.toDF("l_orderkey", "l_linenumber", "l_partkey", "l_quantity", "l_returnflag")
        .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
      try {
        val face = SparkEntry.queries("q_aggregate_by")(spark, dir)
          .select("l_returnflag", "qty_n_first", "qty_n_last").collect()
          .map(_.toSeq.mkString(",")).toSeq
        val duck = Seq("python3", "-c",
          """import sys, duckdb
            |con = duckdb.connect()
            |con.execute(f"CREATE VIEW lineitem AS SELECT * FROM '{sys.argv[1]}/lineitem.parquet/*.parquet'")
            |for r in con.execute(sys.argv[2]).fetchall(): print(",".join(map(str, r)))
            |""".stripMargin, dir, oracle).!!.linesIterator.toSeq
        assert(face === Seq("R,1.0,36.0"))
        assert(duck === face)
      } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("aggregateBy: naming, double outputs, null gates, first/last, RSI") {
    import spark.implicits._
    val df = Seq[(String, java.lang.Double, Long)](
      ("a", 1.0, 0L), ("a", null, 1L), ("a", 3.0, 2L),
      ("b", -2.0, 3L), ("b", 6.0, 4L),
      ("c", null, 5L)) // all-null group
      .toDF("k", "v", "ord")
    val tab = Table.fromDF(df, Seq(col("ord")))
    val out = A.aggregateBy(tab, "k", Seq("v" -> Seq(
      A.Minimum, A.Maximum, A.Mean, A.Length, A.Sum, A.First, A.Last,
      A.Variance, A.StdDev, A.Rsi, A.Median)))
    val cols = out.columns.toSeq
    assert(cols.contains("v_min") && cols.contains("v_std dev") && cols.contains("v_RSI"))
    val rows = out.orderBy("k").collect()
    val a = rows(0)
    assert(a.getAs[Double]("v_min") == 1.0)
    assert(a.getAs[Double]("v_length") == 3.0) // counts null rows too
    assert(a.getAs[Double]("v_sum") == 4.0)
    assert(a.getAs[Double]("v_first") == 1.0)
    assert(a.getAs[Double]("v_last") == 3.0)
    assert(a.getAs[Double]("v_variance") == 1.0) // population: ((1-2)^2+(3-2)^2)/2
    assert(a.getAs[Double]("v_median") == 2.0)
    val b = rows(1)
    // RSI: up=avg(max(x,0))=3, down=avg(min(x,0))=-1 -> 100*3/(3-(-1))=75
    assert(b.getAs[Double]("v_RSI") == 75.0)
    val c = rows(2)
    assert(c.isNullAt(c.fieldIndex("v_min"))) // empty valid set -> null
    assert(c.getAs[Double]("v_sum") == 0.0)   // except sum -> 0
    assert(c.getAs[Double]("v_length") == 1.0)
    assert(c.isNullAt(c.fieldIndex("v_variance"))) // needs >= 2 samples
  }

  test("variance/std need >=2 valid samples (RequiredSampleCount gate)") {
    import spark.implicits._
    val df = Seq(("a", 1.0), ("b", 1.0), ("b", 2.0)).toDF("k", "v")
    val out = A.aggregateBy(Table.of(df), "k", Seq("v" -> Seq(A.Variance)))
      .orderBy("k").collect()
    assert(out(0).isNullAt(1)) // 1 sample -> null
    assert(out(1).getDouble(1) == 0.25) // pop variance of {1,2}
  }

  test("countValues groups nulls too") {
    import spark.implicits._
    val df = Seq[java.lang.Long](1L, 1L, null, 3L).toDF("v")
    val out = Stats.countValues(df, "v").orderBy(col("value").asc_nulls_first)
      .collect().map(r => (Option(r.get(0)), r.getLong(1))).toSeq
    assert(out == Seq((None, 1L), (Some(1L), 2L), (Some(3L), 1L)))
  }

  test("rollingInterval left-open window matches reference golden") {
    import spark.implicits._
    // reference Test.luna:684-695: keys 1,2,3,4,6; values 0,1,2,null,4;
    // 2-unit window sums -> [0,1,3,0,4] (null treated as missing,
    // zero-valid windows -> Sum=0)
    val df = Seq[(Long, java.lang.Double)](
      (1L, 0.0), (2L, 1.0), (3L, 2.0), (4L, null), (6L, 4.0))
      .toDF("k", "v")
    val out = Stats.rollingInterval(df, "k", 2L, Seq("v" -> Seq(A.Sum)))
      .orderBy("k").select("v_sum").collect().map(_.getDouble(0)).toSeq
    assert(out == Seq(0.0, 1.0, 3.0, 2.0, 4.0))
    // NB reference expects window (k-2, k]: at k=4 -> rows {3,4} -> 2+null=2
  }

  test("correlationMatrix and correlationsWith") {
    import spark.implicits._
    val df = (0 until 50).map { i =>
      (i.toDouble, i * 2.0, 50.0 - i, (i % 7).toDouble)
    }.toDF("a", "b", "c", "d")
    val m = Stats.correlationMatrix(df).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(math.abs(m("a").getAs[Double]("b") - 1.0) < 1e-12)  // perfectly correlated
    assert(math.abs(m("a").getAs[Double]("c") + 1.0) < 1e-12)  // anti-correlated
    assert(math.abs(m("a").getAs[Double]("a") - 1.0) < 1e-12)  // diagonal
    val w = Stats.correlationsWith(df, "a").collect()
    assert(w.head.getString(0) == "c")   // sorted by corr: -1 first
    assert(w.last.getAs[Double]("corr") == 1.0)
  }

  test("relaxed aggregation rules: double-valued fns reject strings, length works") {
    import spark.implicits._
    // reference Tests.cpp:1183-1220: Mean on a string column throws;
    // Length counts strings (and null keys form a group)
    val df = Seq(("hello", "a"), ("world", "a"), ("foo", "a"), ("foo", "a"))
      .toDF("tag", "foo")
    val t = Table.of(df)
    val e = intercept[IllegalArgumentException] {
      A.aggregateBy(t, "tag", Seq("foo" -> Seq(A.Mean)))
    }
    assert(e.getMessage.contains("numeric"))
    val counts = A.aggregateBy(t, "tag", Seq("foo" -> Seq(A.Length)))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(counts == Map("hello" -> 1.0, "world" -> 1.0, "foo" -> 2.0))
  }

  test("salted join equals plain join") {
    import spark.implicits._
    // skewed left: 90% of rows share key 1
    val left = ((1 to 90).map(i => (1L, i.toLong)) ++ (1 to 10).map(i => (i.toLong + 1, 0L)))
      .toDF("k", "payload")
    val right = (1 to 11).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = left.join(right, Seq("k")).select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val salted = graft.operators.Joins.saltedJoin(left, right, Seq("k"), salt = 4)
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(salted == plain)
    assert(salted.size == 100)
    // right/full outer would duplicate unmatched right rows per bucket
    val e = intercept[IllegalArgumentException] {
      graft.operators.Joins.saltedJoin(left, right, Seq("k"), salt = 4, how = "right")
    }
    assert(e.getMessage.contains("salt bucket"))
  }

  test("bloomJoin: equals the plain join, prunes the probe, rejects outer modes") {
    import spark.implicits._
    // 100k probe rows over 10k keys; build side holds 20 of them — the
    // prefilter must keep ~(matches + fpp·probe), not the probe
    val probe = spark.range(100000)
      .selectExpr("id % 10000 AS k", "id AS payload")
    val build = (0 until 20).map(i => (i * 500L, s"dim$i")).toDF("k", "name")
    val plain = probe.join(build, Seq("k")).select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val bloomed = graft.operators.Joins.bloomJoin(probe, build, Seq("k"), 20L)
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(bloomed == plain)
    assert(bloomed.size == 200) // 20 keys x 10 probe rows each
    // the reduction itself: rows surviving the prefilter alone
    val bloom = graft.operators.Sketch.bloomBytes(
      build.select($"k"), $"k", 20L, fpp = 0.01).get
    val kept = probe.filter(
      graft.operators.Sketch.mightContain(bloom, $"k")).count()
    assert(kept >= 200 && kept <= 200 + 2500, // fpp 1% of 100k + slack
      s"prefilter kept $kept of 100000 (expected ~200 + fp)")
    // multi-key tuple probe
    val probe2 = probe.withColumn("k2", ($"k" % 7).cast("string"))
    val build2 = build.withColumn("k2", ($"k" % 7).cast("string"))
    val plain2 = probe2.join(build2, Seq("k", "k2"))
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    val bloomed2 = graft.operators.Joins
      .bloomJoin(probe2, build2, Seq("k", "k2"), 20L)
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(bloomed2 == plain2)
    // outer modes are unsound under a probe prefilter
    val e = intercept[IllegalArgumentException] {
      graft.operators.Joins.bloomJoin(probe, build, Seq("k"), 20L, how = "left")
    }
    assert(e.getMessage.contains("unsound"))
    // empty build degrades to the plain (empty) join
    assert(graft.operators.Joins.bloomJoin(
      probe, build.where($"k" < 0), Seq("k"), 1L).count() == 0)
  }

  test("bloomJoinVersioned: sketch auto-sized from the NDV sidecar, no job") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_bjv").toString + "/t"
    // build side: 500 rows over 100 distinct keys, as a versioned table
    VersionedTable.create(
      spark.range(500).selectExpr("id % 100 AS k", "concat('d', id) AS name")
        .repartition(2), path)
    VersionedTable.writeNdv(spark, path, 0L, "k")
    VersionedTable.writeCounts(spark, path, 0L)
    // sizing is pure metadata: derived WITHOUT a SparkSession, and the
    // chosen size is the sidecar's corrected HLL estimate capped by rows
    val (v, expected) = graft.operators.Joins.bloomSizeFromSidecars(path, Seq("k"))
    assert(v === 0L)
    val sidecar = VersionedTable.ndvEstimateAt(path, 0L, "k").get
    assert(expected === math.min(sidecar, 500L))
    assert(expected >= 80L && expected <= 130L, s"HLL estimate off: $expected")
    // end-to-end: equals the plain join against the same version
    val probe = spark.range(20000).selectExpr("id % 1000 AS k", "id AS p")
    val plain = probe.join(VersionedTable.read(spark, path), Seq("k"))
      .select("k", "p", "name").collect().map(_.toSeq).toSet
    val auto = graft.operators.Joins
      .bloomJoinVersioned(probe, spark, path, Seq("k"))
      .select("k", "p", "name").collect().map(_.toSeq).toSet
    assert(auto === plain)
    // counts-only fallback (no NDV sidecar for this column): rows bound
    val (_, expName) = graft.operators.Joins.bloomSizeFromSidecars(path, Seq("name"))
    assert(expName === 500L)
    // no sidecar at all: loud refusal, not a silent guess
    val bare = java.nio.file.Files.createTempDirectory("graft_bjv2").toString + "/t"
    VersionedTable.create(spark.range(10).toDF("k"), bare)
    val e = intercept[IllegalArgumentException](
      graft.operators.Joins.bloomSizeFromSidecars(bare, Seq("k")))
    assert(e.getMessage.contains("sidecar"))
  }

  test("autoSaltedJoin: empty left side joins empty instead of crashing") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val dim = Seq((1L, "x")).toDF("k", "d")
    assert(graft.operators.Joins.autoSaltedJoin(empty, dim, Seq("k")).count() == 0)
    assert(graft.operators.Stats.skewReport(empty, Seq("k")).count() == 0)
  }

  test("autoSaltedJoin: salted-on-skew result equals the plain join; balanced stays unsalted") {
    import spark.implicits._
    // 60 of 70 rows share key 1 -> x_mean >> 2 -> salted path
    val skewed = ((1 to 60).map(i => (1L, i)) ++ (2 to 11).map(i => (i.toLong, i)))
      .toDF("k", "payload")
    val dim = (1 to 11).map(i => (i.toLong, s"dim$i")).toDF("k", "name")
    val plain = skewed.join(dim, Seq("k")).select("k", "payload", "name")
      .collect().map(_.toSeq).toSet
    val auto = graft.operators.Joins.autoSaltedJoin(skewed, dim, Seq("k"))
      .select("k", "payload", "name").collect().map(_.toSeq).toSet
    assert(auto == plain && auto.size == 70)
    // balanced keys: x_mean = 1 -> plan contains no salt column
    val balanced = (1 to 20).map(i => (i.toLong, i)).toDF("k", "payload")
    val out = graft.operators.Joins.autoSaltedJoin(balanced, dim, Seq("k"))
    assert(!out.queryExecution.analyzed.toString.contains("__salt"))
  }

  test("asofJoin backward: latest right at-or-before, exact match counts, no-candidate is null") {
    import spark.implicits._
    val left = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 15L, "c"), (3L, 5L, "d"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 10L, 100.0), (1L, 18L, 200.0), (2L, 1L, 300.0))
      .toDF("k", "rt", "v")
    val out = graft.operators.Joins.asofJoin(left, right, Seq("k"), "t", "rt")
      .orderBy("k", "t")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getDouble(3)))
    assert(out.toSeq == Seq((1L, 10L, "a", 100.0), (1L, 20L, "b", 200.0),
      (2L, 15L, "c", 300.0), (3L, 5L, "d", null)))
  }

  test("asofJoin forward and tolerance") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 19L), (1L, 30L)).toDF("k", "t")
    val right = Seq((1L, 12L, "x"), (1L, 20L, "y")).toDF("k", "rt", "tag")
    val fwd = graft.operators.Joins.asofJoin(left, right, Seq("k"), "t", "rt",
        direction = "forward")
      .orderBy("t").collect().map(r => Option(r.getString(2)).orNull)
    assert(fwd.toSeq == Seq("x", "y", null)) // t=10->rt12, t=19->rt20, t=30->none
    val tol = graft.operators.Joins.asofJoin(left, right, Seq("k"), "t", "rt",
        direction = "forward", toleranceMicros = Some(1L))
      .orderBy("t").collect().map(r => Option(r.getString(2)).orNull)
    assert(tol.toSeq == Seq(null, "y", null)) // gap 2 exceeds tolerance 1
    // payload name collision is rejected
    val e = intercept[IllegalArgumentException] {
      graft.operators.Joins.asofJoin(left, right.withColumnRenamed("tag", "t"),
        Seq("k"), "t", "rt")
    }
    assert(e.getMessage.contains("collide"))
  }

  test("asofJoinNearest: closer side wins, exact tie goes backward, tolerance binds both") {
    import spark.implicits._
    val left = Seq((1L, 10L), (1L, 16L), (1L, 30L), (2L, 5L)).toDF("k", "t")
    val right = Seq((1L, 8L, "b8"), (1L, 20L, "f20"), (1L, 14L, "m14")).toDF("k", "rt", "tag")
    // t=10: back 8 (d2) vs fwd 14 (d4) -> b8; t=16: back 14 (d2) vs fwd 20 (d4) -> m14
    // t=30: only back 20; k=2: nothing
    val out = graft.operators.Joins.asofJoinNearest(left, right, Seq("k"), "t", "rt")
      .orderBy("k", "t").collect().map(r => Option(r.getString(2)).orNull)
    assert(out.toSeq == Seq("b8", "m14", "f20", null))
    // exact tie: back 10 (d3) vs fwd 16 (d3) -> backward
    val tie = graft.operators.Joins.asofJoinNearest(
        Seq((1L, 13L)).toDF("k", "t"),
        Seq((1L, 10L, "b"), (1L, 16L, "f")).toDF("k", "rt", "tag"),
        Seq("k"), "t", "rt").collect().map(_.getString(2))
    assert(tie.toSeq == Seq("b"))
    // tolerance: nearest within 2 only
    val tol = graft.operators.Joins.asofJoinNearest(left, right, Seq("k"), "t", "rt",
        toleranceMicros = Some(2L))
      .orderBy("k", "t").collect().map(r => Option(r.getString(2)).orNull)
    assert(tol.toSeq == Seq("b8", "m14", null, null))
  }

  test("asofJoinNearest equals a brute-force model on seeded random data") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val left = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(400).toLong)).toDF("lid", "k", "t")
    val rightUniq = (0 until 60).map(i =>
      (rnd.nextInt(4).toLong, i.toLong * 11 % 400, i.toLong))
      .groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val right = rightUniq.toDF("k", "rt", "rid")
    val byK = rightUniq.groupBy(_._1)
    val model = left.collect().flatMap { r =>
      val (lid, k, t) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val cands = byK.getOrElse(k, Nil)
      val back = cands.filter(_._2 <= t).sortBy(_._2).lastOption
      val fwd = cands.filter(_._2 >= t).sortBy(_._2).headOption
      val pick = (back, fwd) match {
        case (Some(b), Some(f)) => if (f._2 - t < t - b._2) Some(f) else Some(b)
        case (b, f) => b.orElse(f)
      }
      pick.map(p => lid -> p._3)
    }.toMap
    val out = graft.operators.Joins.asofJoinNearest(left, right, Seq("k"), "t", "rt")
      .collect().flatMap(r =>
        if (r.isNullAt(3)) None else Some(r.getLong(0) -> r.getLong(3))).toMap
    assert(out == model)
  }

  test("ewma: hand-computed span window, null renormalization, head warmup") {
    import spark.implicits._
    val df = Seq((1L, 1L, 4.0), (1L, 2L, 8.0), (1L, 3L, 2.0),
      (2L, 1L, 10.0)).toDF("k", "t", "v")
    val out = graft.operators.Stats.ewma(df, Seq("k"), Seq("t"), "v",
        alpha = 0.5, span = 2)
      .orderBy("k", "t").collect().map(r => r.getDouble(3))
    // k=1: t1 -> 4 (head: only x0); t2 -> (8 + 4*0.5)/1.5; t3 -> (2 + 8*0.5)/1.5
    assert(out(0) == 4.0)
    assert(math.abs(out(1) - 10.0 / 1.5) < 1e-12)
    assert(math.abs(out(2) - 6.0 / 1.5) < 1e-12)
    assert(out(3) == 10.0)
    // null value renormalizes instead of decaying
    val withNull = Seq((1L, 1L, Some(4.0)), (1L, 2L, None), (1L, 3L, Some(6.0)))
      .toDF("k", "t", "v")
    val o2 = graft.operators.Stats.ewma(withNull, Seq("k"), Seq("t"), "v",
        alpha = 0.5, span = 3)
      .orderBy("t").collect()
    assert(o2(1).isNullAt(3) === false) // t2: only lag1 present -> 4.0
    assert(o2(1).getDouble(3) == 4.0)
    // t3: x0=6 (w 1), x1 null, x2=4 (w .25) -> (6 + 1)/(1.25)
    assert(math.abs(o2(2).getDouble(3) - 7.0 / 1.25) < 1e-12)
  }

  test("trendPerGroup: hand-computed slope/intercept, constant-x gate, null pairs") {
    import spark.implicits._
    // g1: y = 3 + 2x exactly; g2: constant x -> slope null; null y rows excluded
    val df = Seq(
      ("g1", Some(0.0), Some(3.0)), ("g1", Some(1.0), Some(5.0)),
      ("g1", Some(2.0), Some(7.0)), ("g1", Some(9.0), None),
      ("g2", Some(4.0), Some(1.0)), ("g2", Some(4.0), Some(9.0)))
      .toDF("g", "x", "y")
    val out = graft.operators.Stats.trendPerGroup(df, Seq("g"), col("x"), col("y"))
      .orderBy("g").collect()
    assert(out(0).getLong(1) == 3L) // n excludes the null-y row
    assert(math.abs(out(0).getDouble(2) - 2.0) < 1e-12)
    assert(math.abs(out(0).getDouble(3) - 3.0) < 1e-12)
    assert(out(1).isNullAt(2) && out(1).isNullAt(3) && out(1).getLong(1) == 2L)
  }

  test("funnel: greedy earliest-completion, order constraint, drop-off") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    // u1 completes all 3 in order; u2 purchases BEFORE clicking (step 3
    // unreached); u3 views only; u4 has click before view (click counts
    // only at-or-after the view time)
    val ev = Seq(
      (1L, "view", 10L), (1L, "click", 20L), (1L, "purchase", 30L),
      (2L, "view", 10L), (2L, "purchase", 15L), (2L, "click", 20L),
      (3L, "view", 5L),
      (4L, "click", 3L), (4L, "view", 8L), (4L, "click", 12L))
      .map { case (u, e, t) => (u, e, ts(t)) }.toDF("u", "et", "t")
    val out = graft.operators.Stats.funnel(ev, "u", "et", "t",
        Seq("view", "click", "purchase"))
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(3)).toMap
    assert(out == Map(
      (1L, 1) -> 10000000L, (1L, 2) -> 20000000L, (1L, 3) -> 30000000L,
      (2L, 1) -> 10000000L, (2L, 2) -> 20000000L, // purchase@15 < click@20: dropped
      (3L, 1) -> 5000000L,
      (4L, 1) -> 8000000L, (4L, 2) -> 12000000L)) // click@3 ignored (pre-view)
  }

  test("cohortRetention: first-seen cohort, offsets, distinct users per cell") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val b = 10L * 1000000 // 10-second buckets
    // u1 first in bucket 0, active 0 and 2 (twice -> distinct); u2 first
    // in bucket 1, active 1 only
    val ev = Seq((1L, 1L), (1L, 25L), (1L, 28L), (2L, 12L))
      .map { case (u, t) => (u, ts(t)) }.toDF("u", "t")
    val out = graft.operators.Stats.cohortRetention(ev, "u", "t", b)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((0L, 0L) -> 1L, (0L, 2L) -> 1L, (1L, 0L) -> 1L))
  }

  test("asofJoin equals DuckDB-style semantics on timestamps with null keys/times") {
    import spark.implicits._
    val left = Seq(
      (Some(1L), Some(100L), 0L), (Some(1L), None, 1L), (None, Some(100L), 2L))
      .toDF("k", "t", "id")
    val right = Seq((Some(1L), Some(50L), 9.0), (None.asInstanceOf[Option[Long]], Some(40L), 8.0))
      .toDF("k", "rt", "v")
    val out = graft.operators.Joins.asofJoin(left, right, Seq("k"), "t", "rt")
      .orderBy("id").collect()
      .map(r => (r.getLong(2), if (r.isNullAt(3)) null else r.getDouble(3)))
    // null left time and null key never match; null right rows dropped
    assert(out.toSeq == Seq((0L, 9.0), (1L, null), (2L, null)))
  }

  test("approxDistinct within the HLL++ error bound of exact") {
    import spark.implicits._
    val df = (0L until 50000L).map(i => (i % 9173, (i * 31 % 257).toString))
      .toDF("k", "s")
    val row = graft.operators.Stats.approxDistinct(df, Seq("k", "s"), rsd = 0.02)
      .collect()(0)
    assert(math.abs(row.getLong(0) - 9173L) <= 9173 * 0.06) // 3 sigma
    assert(math.abs(row.getLong(1) - 257L) <= math.max(3, (257 * 0.06).toLong))
  }

  test("equiDepthBins: balanced buckets, boundary-to-lower rule, null bin") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vals = Seq.fill(400)(rnd.nextDouble() * 1000).map(v => math.round(v * 100) / 100.0)
    val df = (vals.map(Option(_)) :+ None).toDF("x").repartition(5)
    val out = Stats.equiDepthBins(df, "x", 4).collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getDouble(0)),
                 if (r.isNullAt(1)) -1L else r.getLong(1)))
    // driver ground truth from the same quantile rule
    val arr = vals.toArray.sorted
    val bounds = Seq(0.25, 0.5, 0.75)
      .map(q => graft.functions.InterpolatedQuantile.quantile(arr, q))
    out.foreach {
      case (None, b) => assert(b == -1L) // null value -> null bin
      case (Some(v), b) => assert(b == bounds.count(v > _), s"v=$v")
    }
    val sizes = out.collect { case (Some(_), b) => b }
      .groupBy(identity).map(_._2.length)
    assert(sizes.size == 4 && sizes.forall(s => s >= 90 && s <= 110))
  }

  test("topKPerGroup: metric order, total tie-break, k cap") {
    import spark.implicits._
    val df = Seq(("g1", "a", 5L), ("g1", "b", 9L), ("g1", "c", 9L), ("g1", "d", 1L),
      ("g2", "x", 2L)).toDF("g", "item", "n")
    val out = graft.operators.Stats.topKPerGroup(df, Seq("g"),
        Seq(col("n").desc, col("item")), 2)
      .orderBy("g", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(3))).toSeq
    assert(out == Seq(("g1", "b", 1), ("g1", "c", 2), ("g2", "x", 1)))
  }

  test("heavyHitters: every true frequent key surfaces (one-sided guarantee)") {
    import spark.implicits._
    // 3 hot keys (20%/15%/10%) in a long uniform tail
    val rows = (0 until 20000).map { i =>
      if (i % 5 == 0) "hot_a" else if (i % 7 == 0) "hot_b"
      else if (i % 11 == 0) "hot_c" else s"tail_${i % 5000}"
    }
    val got = graft.operators.Stats.heavyHitters(rows.toDF("k"), "k", support = 0.05)
      .collect()(0).getSeq[String](0).toSet
    assert(Set("hot_a", "hot_b", "hot_c").subsetOf(got))
  }

  test("zscores: null-key rows are scored in their own group, not dropped") {
    import spark.implicits._
    val df = Seq((Some("a"), Some(1.0)), (Some("a"), Some(3.0)),
      (None, Some(2.0)), (None, Some(4.0))).toDF("k", "x")
    val out = Stats.zscores(df, "x", Seq("k")).collect()
    assert(out.length == 4) // nothing silently dropped
    val nullGroup = out.filter(_.isNullAt(0)).map(_.getDouble(2)).sorted
    assert(nullGroup.length == 2 && math.abs(nullGroup(0) + 1.0) < 1e-9)
  }

  test("zscores: per-key standardization, degenerate and null gates") {
    import spark.implicits._
    val df = Seq(("a", Some(1.0)), ("a", Some(3.0)), ("a", Some(5.0)),
      ("b", Some(7.0)), ("b", Some(7.0)), ("c", None), ("c", Some(2.0)))
      .toDF("k", "x")
    val out = Stats.zscores(df, "x", Seq("k")).collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) None else Some(r.getDouble(1)),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    // a: mean 3, std_pop sqrt(8/3)≈1.632993 → z = ±1.224745, 0
    val as = out.filter(_._1 == "a").flatMap(_._3).sorted
    assert(as.map(z => math.round(z * 1e6) / 1e6).sameElements(
      Array(-1.224745, 0.0, 1.224745)))
    // b: std 0 → null z; c: single value has std 0 → null; null x → null
    assert(out.filter(_._1 == "b").forall(_._3.isEmpty))
    assert(out.filter(_._1 == "c").forall(_._3.isEmpty))
  }

  test("histogram: bin edges, clamping, null drop") {
    import spark.implicits._
    val df = Seq(Some(-5.0), Some(0.0), Some(4.999), Some(5.0), Some(19.999),
      Some(20.0), Some(100.0), None).toDF("x")
    val got = Stats.histogram(df, "x", lo = 0.0, hi = 20.0, bins = 4)
      .orderBy("bin").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // -5 clamps to bin 0; 5.0 starts bin 1; 20 and 100 clamp to bin 3; null drops
    assert(got == Seq((0L, 3L), (1L, 1L), (3L, 3L)))
  }

  test("zValue interleaves bits; z-ordered layout bounds per-file key spans") {
    import spark.implicits._
    // driver-side morton reference
    def morton(x: Long, y: Long, bits: Int): Long =
      (0 until bits).map(b => (((x >> b) & 1L) << (2 * b)) | (((y >> b) & 1L) << (2 * b + 1))).sum
    val df = (for (x <- 0L until 32L; y <- 0L until 32L) yield (x, y)).toDF("x", "y")
    val got = df.select(col("x"), col("y"),
        graft.operators.Layout.zValue(Seq(col("x"), col("y")), 5).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.forall { case (x, y, z) => z == morton(x, y, 5) })
    // locality: range-split the z-sorted grid into 16 chunks; every chunk's
    // x and y spans must be far below the full 32 — the pruning property a
    // single-column sort cannot give to BOTH dims at once
    val sorted = got.sortBy(_._3).grouped(64).toSeq
    val maxSpan = sorted.map { chunk =>
      val (xs, ys) = (chunk.map(_._1), chunk.map(_._2))
      math.max(xs.max - xs.min, ys.max - ys.min)
    }.max
    assert(maxSpan <= 8, s"z-chunk key span $maxSpan should be ~sqrt(64)=8, not 32")
  }

  test("writeZOrdered: every output file is tight on BOTH keys (parquet pruning property)") {
    import spark.implicits._
    val df = (for (x <- 0L until 64L; y <- 0L until 64L) yield (x, y)).toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    graft.operators.Layout.writeZOrdered(df, dir, Seq("x", "y"), bits = 6, numFiles = 16)
    val spans = spark.read.parquet(dir)
      .groupBy(input_file_name().as("f"))
      .agg((max(col("x")) - min(col("x"))).as("sx"), (max(col("y")) - min(col("y"))).as("sy"))
      .collect().map(r => math.max(r.getLong(1), r.getLong(2)))
    assert(spans.length >= 8) // range partitioner actually split the files
    // 4096 rows / 16 files = 256-row tiles → z-curve tiles span ~sqrt(256)=16
    // per axis; a single-column sort would leave the other axis at 63
    assert(spans.max <= 24, s"max per-file span ${spans.max} — files not z-local")
  }

  test("intervalOverlapJoin equals the naive inequality join; pairs emitted once") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    def mkIntervals(n: Int, tag: String) = (0 until n).map { i =>
      val s = rnd.nextInt(1000).toLong
      (s"k${rnd.nextInt(3)}", s"$tag$i", s, s + rnd.nextInt(300).toLong)
    }
    val a = mkIntervals(60, "a").toDF("k", "a_id", "a_s", "a_e")
    val b = mkIntervals(60, "b").toDF("k", "b_id", "b_s", "b_e")
    val naive = a.join(b, Seq("k"))
      .filter(col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
    for (bucket <- Seq(7L, 100L, 1000L)) {
      val got = graft.operators.Joins.intervalOverlapJoin(a, b, Seq("k"),
          "a_s", "a_e", "b_s", "b_e", bucket)
        .select("a_id", "b_id").collect().map(r => (r.getString(0), r.getString(1)))
      assert(got.length == naive.length, s"bucket=$bucket: dup or missing pairs")
      assert(got.toSet == naive.toSet, s"bucket=$bucket")
    }
  }

  test("rangeJoin equals the naive inequality join, any bucket size") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val left = (0 until 300).map(i =>
      (i.toLong, rnd.nextInt(4).toLong, rnd.nextInt(1000).toLong)).toDF("lid", "k", "t")
    val right = (0 until 60).map { i =>
      val s = rnd.nextInt(1000).toLong
      (i.toLong, rnd.nextInt(4).toLong, s, s + rnd.nextInt(200).toLong)
    }.toDF("rid", "k", "s", "e")
    val naive = left.join(right.withColumnRenamed("k", "rk"),
        col("k") === col("rk") && col("t") >= col("s") && col("t") <= col("e"))
      .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (bucket <- Seq(1L, 37L, 100L, 5000L)) {
      val bucketed = graft.operators.Joins.rangeJoin(left, right, Seq("k"),
          "t", "s", "e", bucket)
        .select("lid", "rid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(bucketed == naive, s"bucket=$bucket")
    }
  }

  test("asofJoin equals a brute-force model on seeded random data, both directions") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val left = (0 until 400).map(i =>
      (i.toLong, rnd.nextInt(5).toLong, rnd.nextInt(500).toLong)).toDF("lid", "k", "t")
    val rightRows = (0 until 80).map(i =>
      (rnd.nextInt(5).toLong, i.toLong * 7 % 500, i.toLong)) // unique (k,t) not guaranteed...
      .distinct
    // dedupe (k, rt) to keep the winner well-defined
    val rightUniq = rightRows.groupBy(r => (r._1, r._2)).map(_._2.head).toSeq
    val right = rightUniq.toDF("k", "rt", "rid")
    def model(backward: Boolean): Map[Long, Long] = {
      val byK = rightUniq.groupBy(_._1)
      left.collect().flatMap { r =>
        val (lid, k, t) = (r.getLong(0), r.getLong(1), r.getLong(2))
        val cands = byK.getOrElse(k, Nil)
        val pick =
          if (backward) cands.filter(_._2 <= t).sortBy(_._2).lastOption
          else cands.filter(_._2 >= t).sortBy(_._2).headOption
        pick.map(p => lid -> p._3)
      }.toMap
    }
    for (dir <- Seq("backward", "forward")) {
      val out = graft.operators.Joins.asofJoin(left, right, Seq("k"), "t", "rt",
          direction = dir)
        .collect().flatMap(r =>
          if (r.isNullAt(3)) None else Some(r.getLong(0) -> r.getLong(3))).toMap
      assert(out == model(dir == "backward"), s"direction=$dir")
    }
  }

  test("skewReport: hand-computed shares, x_mean, tie by key") {
    import spark.implicits._
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c")).toDF("k")
    val rows = Stats.skewReport(df, Seq("k"), topK = 2).collect()
    // total 10 over 3 keys -> mean 10/3
    assert(rows(0).getString(0) == "a" && rows(0).getLong(1) == 6L)
    assert(math.abs(rows(0).getAs[Double]("share") - 0.6) < 1e-12)
    assert(math.abs(rows(0).getAs[Double]("x_mean") - 1.8) < 1e-12)
    assert(rows(1).getString(0) == "b") // b/c tie at 2 -> key asc
  }

  test("winsorize clamps at the exact interpolated quantiles") {
    import spark.implicits._
    // 1..10 at [0.25, 0.75]: n=10*0.25-0.5=2 -> v[2]=3; n=7 -> v[7]=8
    val df = (1 to 10).map(_.toDouble).toDF("v")
    val got = Stats.winsorize(df, "v", 0.25, 0.75)
      .orderBy("v").select("v_wins").as[Double].collect().toSeq
    assert(got == Seq(3.0, 3.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 8.0, 8.0))
  }

  test("madOutliers: hand-computed robust z, null gates, MAD=0 degenerate") {
    import spark.implicits._
    // [1..9, 100]: med=5.5, MAD=2.5; z(100)=0.6745*94.5/2.5=25.4961
    val df = ((1 to 9).map(_.toDouble) :+ 100.0).toDF("v")
    val rows = Stats.madOutliers(df, "v").orderBy("v").collect()
    val z100 = rows.last.getAs[Double]("robust_z")
    assert(math.abs(z100 - 0.6745 * 94.5 / 2.5) < 1e-9)
    assert(rows.last.getAs[Boolean]("is_outlier"))
    assert(!rows.head.getAs[Boolean]("is_outlier")) // z(1) = -1.2141
    // constant column: MAD=0 -> robust_z and is_outlier null, no crash
    val const = Seq(5.0, 5.0, 5.0).toDF("v")
    assert(Stats.madOutliers(const, "v").collect().forall(_.isNullAt(1)))
  }

  test("autoCorr matches a hand-computed Pearson") {
    import spark.implicits._
    val df = (0L until 10L).map(i => (i, i.toDouble * i)).toDF("id", "v")
    val got = Stats.autoCorr(Table.fromDF(df.toDF("id", "v"), Seq(col("id"))), "v", 1)
      .collect()(0).getDouble(0)
    val xs = (0 until 10).map(i => (i * i).toDouble)
    val a = xs.drop(1); val b = xs.dropRight(1)
    val ma = a.sum / a.size; val mb = b.sum / b.size
    val cov = a.zip(b).map { case (x, y) => (x - ma) * (y - mb) }.sum
    val want = cov / math.sqrt(a.map(x => (x - ma) * (x - ma)).sum * b.map(y => (y - mb) * (y - mb)).sum)
    assert(math.abs(got - want) < 1e-12)
  }

  test("NaN is never silently measured: winsorize passes it, bins exclude it") {
    import spark.implicits._
    val df = Seq(1.0, 2.0, 3.0, 4.0, Double.NaN).toDF("x")
    // winsorize: NaN stays NaN (greatest/least would clamp it to hi)
    val wins = graft.operators.Stats.winsorize(df, "x", 0.0, 1.0)
      .select("x_wins").collect().map(_.getDouble(0))
    assert(wins.count(_.isNaN) == 1)
    // histogram: NaN drops like null, never inflating the top bin
    val hist = graft.operators.Stats.histogram(df, "x", 0.0, 10.0, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hist.values.sum == 4)
    // equiDepthBins: NaN gets the null bin
    val eq = graft.operators.Stats.equiDepthBins(df, "x", 2)
      .filter(isnan(col("x"))).select("bin").collect()
    assert(eq.length == 1 && eq(0).isNullAt(0))
  }

  test("describe handles DecimalType; empty-numeric inputs error clearly") {
    import spark.implicits._
    val df = Seq("1.50", "2.50", "3.50").toDF("s")
      .select(col("s").cast("decimal(18,2)").as("price"))
    val d = graft.operators.Stats.describe(df).collect()(0)
    assert(d.getString(0) == "price" && math.abs(d.getDouble(1) - 2.5) < 1e-12)
    val e = intercept[IllegalArgumentException](
      graft.operators.Stats.describe(Seq("a").toDF("s")))
    assert(e.getMessage.contains("no numeric columns"))
  }

  test("resample rejects First/Last with a pointed message") {
    import spark.implicits._
    val df = Seq(("2024-01-01 00:00:00", 1.0)).toDF("ts", "v")
      .select(col("ts").cast("timestamp").as("ts"), col("v"))
    val e = intercept[IllegalArgumentException](
      graft.operators.Stats.resample(df, "ts", "1 hour",
        Seq("v" -> Seq(graft.operators.Aggregates.First))))
    assert(e.getMessage.contains("row order"))
  }

  test("resampleDense fills interior gaps with count 0 / null aggregates") {
    import spark.implicits._
    // events at hours 00, 01, 04 — hours 02 and 03 are EMPTY
    val df = Seq(
      ("2024-01-01 00:10:00", 1.0), ("2024-01-01 00:40:00", 2.0),
      ("2024-01-01 01:05:00", 4.0), ("2024-01-01 04:59:00", 8.0))
      .toDF("ts", "v")
      .select(col("ts").cast("timestamp").as("ts"), col("v"))
    val out = graft.operators.Stats.resampleDense(df, "ts", "1 hour",
        Seq("v" -> Seq(graft.operators.Aggregates.Sum,
          graft.operators.Aggregates.Length)))
      .orderBy("bucket").collect()
    assert(out.length == 5) // 00..04 inclusive — the full spine
    assert(out.map(_.getDouble(out.head.fieldIndex("v_length"))).toSeq ==
      Seq(2.0, 1.0, 0.0, 0.0, 1.0))
    val sumIdx = out.head.fieldIndex("v_sum")
    assert(out(0).getDouble(sumIdx) == 3.0 && out(1).getDouble(sumIdx) == 4.0)
    assert(out(2).isNullAt(sumIdx) && out(3).isNullAt(sumIdx)) // empty -> null sum
    assert(out(4).getDouble(sumIdx) == 8.0)
    // gapless data: dense == sparse resample row-for-row
    val dense2 = graft.operators.Stats.resampleDense(df.limit(3), "ts", "1 hour",
      Seq("v" -> Seq(graft.operators.Aggregates.Sum))).orderBy("bucket").collect()
    val sparse2 = graft.operators.Stats.resample(df.limit(3), "ts", "1 hour",
      Seq("v" -> Seq(graft.operators.Aggregates.Sum))).orderBy("bucket").collect()
    assert(dense2.map(_.toSeq).toSeq == sparse2.map(_.toSeq).toSeq)
  }
}
