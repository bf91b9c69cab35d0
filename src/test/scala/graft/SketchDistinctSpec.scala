package graft

import graft.expr.Mix63
import graft.operators.Sketch
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distinct-count sketches: merge-order invariance (the property that
  * makes them safe under Spark partial aggregation AND oracle-replayable),
  * estimator accuracy at production register counts, hash-quality
  * regressions (short sequential keys — the case the raw polynomial
  * family measurably failed on), and the scale-shaped plans. */
class SketchDistinctSpec extends SparkSpec {
  import spark.implicits._

  private def items(n: Int, prefix: String = "item-"): DataFrame =
    spark.range(n).select(concat(lit(prefix), col("id")).as("t"),
      (col("id") % 5).cast("string").as("g"))

  private def relErr(est: Long, n: Long): Double = math.abs(est - n).toDouble / n

  // ---- Mix63 ----------------------------------------------------------

  test("Mix63 expression matches the reference implementation") {
    val xs = Seq(0L, 1L, -1L, Long.MaxValue, Long.MinValue, 123456789012345678L,
      (1L << 60) - 1, 42L)
    val got = xs.toDF("x").select(Mix63.mix63(col("x"))).as[Long].collect()
    assert(got.toSeq == xs.map(Mix63.apply))
    assert(got.forall(_ >= 0L), "mix63 output must be non-negative")
  }

  test("Mix63 known answers: fmix64 masked to 63 bits") {
    // fixed outputs, so the expression and Mix63.apply cannot drift together
    val known = Seq(
      0L -> 0L,
      1L -> 3771409529372330796L,
      -1L -> 7256831767414464289L,
      Long.MinValue -> 1114649775525962899L,
      Long.MaxValue -> 3150617518162374122L,
      25214903917L -> 2636245432631000862L,
      -7046029254386353131L -> 2062761817371520746L,
      2862933555777941757L -> 2674262444990293968L)
    val got = known.map(_._1).toDF("x").repartition(2)
      .select(col("x"), Mix63.mix63(col("x"))).as[(Long, Long)].collect().toMap
    assert(got === known.toMap)
    assert(known.forall { case (x, want) => Mix63(x) == want })
  }

  test("pinnedHash avalanches short sequential keys (rho is geometric)") {
    // the regression that motivated mix63: 20k 'item-N' keys must fill
    // HLL rank buckets geometrically, not cluster by string structure
    val counts = items(20000)
      .select(Sketch.pinnedHash(col("t"), "hll").as("h"))
      .select(shiftright(col("h"), 10).bitwiseAND(lit((1L << 40) - 1)).as("y"))
      .select(when(col("y") === 0, 41).otherwise(lit(41) - length(bin(col("y")))).as("rho"))
      .groupBy("rho").count().orderBy("rho")
      .as[(Int, Long)].collect().toMap
    // P(rho=r) = 2^-r: each bucket within 25% of expectation for r <= 4
    (1 to 4).foreach { r =>
      val expect = 20000.0 / (1L << r)
      assert(math.abs(counts(r) - expect) / expect < 0.25,
        s"rho=$r count ${counts(r)} far from $expect")
    }
  }

  // ---- HLL ------------------------------------------------------------

  test("hllDistinct is invariant under partitioning and duplication") {
    val base = items(5000)
    val a = Sketch.hllDistinct(base, col("t"), Seq("g"), p = 8).orderBy("g").collect()
    val b = Sketch.hllDistinct(base.repartition(13), col("t"), Seq("g"), p = 8)
      .orderBy("g").collect()
    val c = Sketch.hllDistinct(base.unionByName(base).repartition(3, col("t")),
      col("t"), Seq("g"), p = 8).orderBy("g").collect()
    assert(a.toSeq == b.toSeq, "partitioning changed HLL registers")
    assert(a.toSeq == c.toSeq, "duplicates changed HLL registers")
  }

  test("hllDistinct raw estimate: ~3% at p=10 over 20k distinct") {
    val Seq((est, v)) = Sketch.hllDistinct(items(20000), col("t"), Nil, p = 10)
      .as[(Long, Long)].collect().toSeq
    assert(relErr(est, 20000) < 0.10, s"raw estimate $est too far from 20000")
    assert(v == 0, "no register should stay empty at n >> m")
  }

  test("hllCorrected applies linear counting in the small range") {
    val Seq((raw, v)) = Sketch.hllDistinct(items(100), col("t"), Nil, p = 10)
      .as[(Long, Long)].collect().toSeq
    assert(v > 0, "small n must leave empty registers")
    val corrected = Sketch.hllCorrected(10, raw, v)
    assert(relErr(corrected, 100) < 0.15,
      s"linear-counting estimate $corrected too far from 100")
  }

  // ---- KMV ------------------------------------------------------------

  test("kmvDistinct is exact below k and ~6% at k=256 over 20k distinct") {
    val small = Sketch.kmvDistinct(items(40), col("t"), Nil, k = 64)
      .as[Long].collect()
    assert(small.toSeq == Seq(40L), "under-k group must report exactly")
    val Seq(est) = Sketch.kmvDistinct(items(20000), col("t"), Nil, k = 256)
      .as[Long].collect().toSeq
    assert(relErr(est, 20000) < 0.20, s"KMV estimate $est too far from 20000")
  }

  test("kmvSketch is invariant under partitioning and duplication") {
    val base = items(5000)
    val a = Sketch.kmvSketch(base, col("t"), Seq("g"), 64).orderBy("g", "__h").collect()
    val b = Sketch.kmvSketch(base.unionByName(base).repartition(7), col("t"), Seq("g"), 64)
      .orderBy("g", "__h").collect()
    assert(a.toSeq == b.toSeq)
  }

  test("kmvOverlap estimates a planted intersection from sketches alone") {
    val a = spark.range(15000).select(concat(lit("item-"), col("id")).as("t"))
    val b = spark.range(5000, 20000).select(concat(lit("item-"), col("id")).as("t"))
    val row = Sketch.kmvOverlap(a, b, col("t"), k = 256).collect().head
    val (nA, nB, estU, matches, estI) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    assert(nA == 256 && nB == 256)
    assert(relErr(estU, 20000) < 0.20, s"union estimate $estU far from 20000")
    assert(matches > 0)
    assert(relErr(estI, 10000) < 0.35, s"intersection estimate $estI far from 10000")
  }

  test("kmvOverlap with disjoint corpora estimates zero intersection") {
    val a = spark.range(1000).select(concat(lit("a-"), col("id")).as("t"))
    val b = spark.range(1000).select(concat(lit("b-"), col("id")).as("t"))
    val row = Sketch.kmvOverlap(a, b, col("t"), k = 64).collect().head
    assert(row.getLong(3) == 0 && row.getLong(4) == 0)
  }

  // ---- plan shape -----------------------------------------------------

  test("grouped kmvSketch plans the WindowGroupLimit pushdown; global plans TakeOrdered") {
    val grouped = Sketch.kmvSketch(items(5000), col("t"), Seq("g"), 64)
    val gp = grouped.queryExecution.executedPlan.toString
    assert("WindowGroupLimit".r.findAllIn(gp).size >= 2,
      s"grouped sketch should plan partial+final WindowGroupLimit:\n$gp")
    val global = Sketch.kmvSketch(items(5000), col("t"), Nil, 64)
    val pp = global.queryExecution.executedPlan.toString
    assert(pp.contains("TakeOrderedAndProject"),
      s"global sketch should plan TakeOrderedAndProject:\n$pp")
  }

  test("Count-Min: overestimate-only, exact when wide, merge == rebuild") {
    // skewed stream: item-i appears i+1 times (5050 rows, 100 distinct)
    val df = spark.range(100).select(col("id"))
      .withColumn("n", col("id") + 1)
      .select(explode(sequence(lit(1L), col("n"))).as("_"), col("id"))
      .select(concat(lit("item-"), col("id")).as("t"), col("id"))
    val exact = df.groupBy(col("t")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val probes = df.select(col("t")).distinct()
    // narrow sketch (collisions certain: 100 keys, 32 buckets): every
    // estimate must still be >= exact — CMS never undercounts
    val skN = Sketch.cmsSketch(df, col("t"), d = 3, w = 32)
    val estN = Sketch.cmsEstimate(skN, probes, col("t"), d = 3, w = 32)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.forall { case (k, n) => estN(k) >= n },
      "CMS must never undercount")
    assert(estN.exists { case (k, e) => e > exact(k) },
      "w=32 over 100 keys should actually collide")
    // wide sketch (4096 buckets, 100 keys): whp every min-row is
    // collision-free -> estimates exactly equal the true counts
    val skW = Sketch.cmsSketch(df, col("t"), d = 3, w = 4096)
    val estW = Sketch.cmsEstimate(skW, probes, col("t"), d = 3, w = 4096)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estW === exact, "wide CMS should be exact on 100 keys")
    // state bound + partition invariance + shard-merge == full rebuild
    assert(skN.count() <= 3 * 32)
    val skRepart = Sketch.cmsSketch(df.repartition(13), col("t"), d = 3, w = 32)
    assert(skN.orderBy("r", "bucket").collect().toSeq ===
      skRepart.orderBy("r", "bucket").collect().toSeq)
    val half1 = Sketch.cmsSketch(df.filter(col("id") < 50), col("t"), 3, 32)
    val half2 = Sketch.cmsSketch(df.filter(col("id") >= 50), col("t"), 3, 32)
    val merged = half1.unionByName(half2)
      .groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
    assert(merged.orderBy("r", "bucket").collect().toSeq ===
      skN.orderBy("r", "bucket").collect().toSeq,
      "shard sketches must re-sum into the corpus sketch")
  }

  test("Count-Min maintain: CDC churn updates the sketch to exactly the rebuild") {
    import graft.operators.Diff
    val rnd = new scala.util.Random(0xCE11)
    val oldRows = (0L until 400L).map(i => (i, s"item-${i % 90}"))
    // seeded random churn: ~15% removed, ~15% retexted, 40 added
    val removed = oldRows.filter(_ => rnd.nextDouble() < 0.15).map(_._1).toSet
    val newRows = oldRows.filterNot(r => removed(r._1)).map { case (id, t) =>
      if (rnd.nextDouble() < 0.15) (id, s"item-${rnd.nextInt(90)}-v2") else (id, t)
    } ++ (1000L until 1040L).map(i => (i, s"item-${rnd.nextInt(90)}"))
    val oldD = oldRows.toDF("id", "t")
    val newD = newRows.toDF("id", "t")
    val changes = Diff.snapshotDiff(oldD, newD, Seq("id"), Seq("t"))
      .filter(col("change") =!= "unchanged")
    val maintained = Sketch.cmsMaintain(
        Sketch.cmsSketch(oldD, col("t"), 3, 32, "m"), changes,
        col("t"), col("t_new"), 3, 32, "m")
      .orderBy("r", "bucket").collect().toSeq
    val rebuilt = Sketch.cmsSketch(newD, col("t"), 3, 32, "m")
      .orderBy("r", "bucket").collect().toSeq
    assert(maintained === rebuilt,
      "maintained sketch must equal the rebuild bit for bit")
    // turnstile eviction-to-zero: removing a bucket's ONLY occupant
    // drops the row, exactly as the rebuild would omit it
    val solo = Seq((1L, "alpha"), (2L, "beta")).toDF("id", "t")
    val soloNew = Seq((2L, "beta")).toDF("id", "t")
    val ch2 = Diff.snapshotDiff(solo, soloNew, Seq("id"), Seq("t"))
      .filter(col("change") =!= "unchanged")
    val m2 = Sketch.cmsMaintain(Sketch.cmsSketch(solo, col("t"), 3, 32, "m"),
        ch2, col("t"), col("t_new"), 3, 32, "m")
      .orderBy("r", "bucket").collect().toSeq
    val r2 = Sketch.cmsSketch(soloNew, col("t"), 3, 32, "m")
      .orderBy("r", "bucket").collect().toSeq
    assert(m2 === r2, "a bucket emptied by deletion must vanish like the rebuild")
  }

  test("Count-Min inner product bounds the equi-join size from sketches alone") {
    val a = spark.range(2000).select((col("id") % 500).cast("string").as("t"))
    val b = spark.range(1500).select((col("id") % 300).cast("string").as("t"))
    val exactJoin = a.join(b, "t").count()
    def est(w: Int) = Sketch.cmsInnerProduct(
        Sketch.cmsSketch(a, col("t"), 3, w, "ip"),
        Sketch.cmsSketch(b, col("t"), 3, w, "ip"))
      .collect().head.getLong(0)
    // upper bound at any width. NOT exact even when wide: per-key point
    // estimates only need SOME row collision-free for that key, but the
    // inner product needs an ENTIRE row collision-free — a birthday
    // event over all 500 keys. Assert the standard error bound instead:
    // excess ≤ Na·Nb/w per row (expectation; min over d rows is tighter).
    val e64 = est(64); val e8k = est(8192)
    assert(e64 >= exactJoin && e8k >= exactJoin)
    assert(e8k <= e64, "wider sketch must not estimate worse")
    assert(e8k - exactJoin <= 2000L * 1500L / 8192,
      s"wide CMS inner product $e8k too far above exact $exactJoin")
  }

  test("Poisson bootstrap: deterministic weights, partition invariance, CI finish") {
    import graft.operators.Stats
    import spark.implicits._
    val df = spark.range(2000).select($"id", ($"id" % 100 + 1).cast("double").as("x"))
    val reps = Stats.poissonBootstrap(df, "id", col("x"), b = 32)
    val rows = reps.collect().map(r => r.getLong(0) ->
      (r.getLong(1), r.getDecimal(2))).toMap
    assert(rows.size === 32)
    // Poisson(1) weights: total effective count over replicates ~ B*n
    // (32*2000 = 64k; 5 sigma ~ 1300)
    val totalW = rows.values.map(_._1).sum
    assert(math.abs(totalW - 64000L) < 1300, s"total weight $totalW")
    // every replicate mean is in the measure's range
    rows.values.foreach { case (n, s) =>
      val m = s.doubleValue / n
      assert(m > 40 && m < 62, s"replicate mean $m out of range")
    }
    // partition layout cannot move a single weight
    val rows2 = Stats.poissonBootstrap(df.repartition(13), "id", col("x"), b = 32)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDecimal(2))).toMap
    assert(rows2 === rows)
    // CI finish: order statistics of the replicate means, lo <= point <= hi
    val ci = Stats.bootstrapCI(reps).head()
    val point = df.agg(avg($"x")).head().getDouble(0)
    assert(ci.getDouble(0) <= point && point <= ci.getDouble(1),
      s"CI [${ci.getDouble(0)}, ${ci.getDouble(1)}] missed $point")
    // hand-check the order-statistic rule on a known replicate table
    val fixed = (0 until 10).map(i => (i.toLong, 1L,
      new java.math.BigDecimal(i))).toDF("replicate", "n_eff", "sum_w")
    val c2 = Stats.bootstrapCI(fixed, alpha = 0.2).head()
    // floor(0.1*9)=0 -> element 1 (value 0); floor(0.9*9)=8 -> element 9 (value 8)
    assert(c2.getDouble(0) === 0.0 && c2.getDouble(1) === 8.0)
  }

  // ---- Moments sketch --------------------------------------------------

  private def sketchRow(df: DataFrame): (Long, Long, Long, Seq[BigDecimal]) = {
    val r = df.collect().head
    (r.getLong(0), r.getLong(1), r.getLong(2),
      (3 to 6).map(i => BigDecimal(r.getString(i))))
  }

  test("momentsSketch: exact power sums, layout-invariant, merge == direct") {
    val xs = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L, 5L, 3L)
    val df = xs.zipWithIndex.map { case (x, i) =>
      (i.toLong, x, if (i % 2 == 0) "a" else "b") }.toDF("id", "x", "src")
    val sk = Sketch.momentsSketch(df, Seq.empty, col("x"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))
    val (n, lo, hi, sums) = sketchRow(sk)
    assert((n, lo, hi) === ((10L, 1L, 9L)))
    // hand-computed exact power sums
    def p(k: Int) = BigDecimal(xs.map(x => BigInt(x).pow(k)).sum)
    assert(sums === (1 to 4).map(p))
    // partition layout cannot move a digit
    val sk13 = Sketch.momentsSketch(df.repartition(13), Seq.empty, col("x"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))
    assert(sketchRow(sk13) === ((n, lo, hi, sums)))
    // merging the per-src sketches reproduces the direct global sketch
    val merged = Sketch.momentsMerge(
        Sketch.momentsSketch(df, Seq("src"), col("x"))
          .withColumn("all", lit("ALL")), Seq("all"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))
    assert(sketchRow(merged) === ((n, lo, hi, sums)))
    // null xs contribute nothing
    val withNull = df.unionByName(Seq((99L, Option.empty[Long], "a"))
      .toDF("id", "x", "src"))
    assert(sketchRow(Sketch.momentsSketch(withNull, Seq.empty, col("x"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))) === ((n, lo, hi, sums)))
    // negative values: odd power sums go negative, digit strings carry
    // the sign, min/max signed (delta columns, signed scores)
    val neg = Seq(-3L, 2L, -5L).zipWithIndex
      .map { case (x, i) => (i.toLong, x, "a") }.toDF("id", "x", "src")
    val (nn, nlo, nhi, nss) = sketchRow(
      Sketch.momentsSketch(neg, Seq.empty, col("x"))
        .select(col("n"), col("x_min"), col("x_max"),
          col("s1"), col("s2"), col("s3"), col("s4")))
    assert((nn, nlo, nhi) === ((3L, -5L, 2L)))
    def np(k: Int) = BigDecimal(Seq(-3L, 2L, -5L).map(x => BigInt(x).pow(k)).sum)
    assert(nss === (1 to 4).map(np))
  }

  test("momentsMaintain: CDC churn == full rebuild; groups appear and die") {
    import graft.operators.Sketch
    val old = spark.range(2000).select(col("id"),
      (col("id") % 3).cast("string").as("g"),
      ((col("id") * 7919L) % 1000).as("x"))
    // churn: drop %13, bump x on %7, clone %11 under new ids, and move
    // EVERY g=2 row to a brand-new group g=9 (old group dies, new born)
    val nw = old.filter(col("id") % 13 =!= 0)
      .select(col("id"),
        when(col("g") === "2", lit("9")).otherwise(col("g")).as("g"),
        when(col("id") % 7 === 0, col("x") + 5L).otherwise(col("x")).as("x"))
      .unionByName(old.filter(col("id") % 11 === 0)
        .select((col("id") + 100000L).as("id"),
          when(col("g") === "2", lit("9")).otherwise(col("g")).as("g"),
          col("x")))
    val maintained = Sketch.momentsMaintain(old, nw, Seq("id"), Seq("g"),
        col("x"))
      .select(col("g"), col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
      .collect().map(_.toSeq).toSet
    val rebuilt = Sketch.momentsSketch(nw, Seq("g"), col("x"))
      .select(col("g"), col("n"), col("s1"), col("s2"), col("s3"), col("s4"))
      .collect().map(_.toSeq).toSet
    assert(maintained === rebuilt)
    assert(!maintained.exists(_.head == "2"), "dead group must vanish (n=0)")
    assert(maintained.exists(_.head == "9"), "new group must appear")
  }

  test("momentsMaintain: |x| >= 3.2e8 (p4 >= 1e34) stays bit-exact vs rebuild") {
    import graft.operators.Sketch
    // regression: the maintained path used to route the DECIMAL(38,0)
    // power sums through a DECIMAL(38,4) carrier, whose max is ~1e34 —
    // a single p4 of a value >= ~3.2e8 overflowed the cast to null and
    // sum() silently skipped it, diverging from a full rebuild inside
    // the sketch's documented |x| <= ~3e9 envelope
    val old = spark.range(40).select(col("id"),
      (col("id") % 2).cast("string").as("g"),
      (lit(400_000_000L) + col("id") * 1_000_003L).as("x"))
    val nw = old.filter(col("id") % 5 =!= 0)
      .select(col("id"), col("g"),
        when(col("id") % 3 === 0, col("x") + 17L).otherwise(col("x")).as("x"))
    val cols = Seq("g", "n", "s1", "s2", "s3", "s4").map(col)
    val maintained = Sketch.momentsMaintain(old, nw, Seq("id"), Seq("g"), col("x"))
      .select(cols: _*).collect().map(_.toSeq).toSet
    val rebuilt = Sketch.momentsSketch(nw, Seq("g"), col("x"))
      .select(cols: _*).collect().map(_.toSeq).toSet
    assert(maintained === rebuilt)
    // the sums really are in the >= 1e34 regime the old carrier lost
    assert(rebuilt.forall(r => BigInt(r(5).toString) > BigInt(10).pow(34)))
  }

  test("momentsQuantile: Cornish-Fisher recovery within tolerance of exact") {
    // a deterministic mildly-skewed integer distribution: sum of four
    // modular "dice" (CLT-near-normal, small g1/g2 — the regime the
    // 4-moment closed form is built for; heavily-spiked tails need the
    // paper's max-entropy refinement and are covered by the clamp test)
    val df = spark.range(20000).select(
      ((col("id") * 2654435761L) % 97 + (col("id") * 40503L) % 89 +
        (col("id") * 9176L) % 83 + (col("id") * 31L) % 101).as("x"))
    val sk = Sketch.momentsSketch(df, Seq.empty, col("x"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))
    val (n, lo, hi, sums) = sketchRow(sk)
    val exact = df.stat.approxQuantile("x", Array(0.25, 0.5, 0.75, 0.9), 0.0)
    val sd = {
      val m = (sums(0) / n).toDouble
      math.sqrt((sums(1) / BigDecimal(n)).toDouble - m * m)
    }
    Seq(0.25, 0.5, 0.75, 0.9).zip(exact).foreach { case (q, want) =>
      val got = Sketch.momentsQuantile(n, sums(0), sums(1), sums(2), sums(3),
        lo, hi, q)
      // near-normal shape: the closed form lands within a tenth of a
      // standard deviation; the graded artifact is the exact sums, this
      // guards the estimator
      assert(math.abs(got - want) <= 0.1 * sd,
        s"q=$q: got $got want $want (sd=$sd)")
    }
    // heavy-tailed input: the estimate stays clamped to [min, max] even
    // where the expansion itself is out of its validity regime
    val spiky = spark.range(20000).select(
      (col("id") % 10 + when(col("id") % 50 === 0, 4000L).otherwise(0L)).as("x"))
    val ssk = Sketch.momentsSketch(spiky, Seq.empty, col("x"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))
    val (sn, sl, sh, ss) = sketchRow(ssk)
    Seq(0.01, 0.5, 0.99).foreach { q =>
      val e = Sketch.momentsQuantile(sn, ss(0), ss(1), ss(2), ss(3), sl, sh, q)
      assert(e >= sl && e <= sh, s"q=$q escaped [min,max]: $e")
    }
    // constant column: every quantile is the value itself
    val cdf = spark.range(100).select(lit(7L).as("x"))
    val csk = Sketch.momentsSketch(cdf, Seq.empty, col("x"))
      .select(col("n"), col("x_min"), col("x_max"),
        col("s1"), col("s2"), col("s3"), col("s4"))
    val (cn, cl, ch, cs) = sketchRow(csk)
    assert(Sketch.momentsQuantile(cn, cs(0), cs(1), cs(2), cs(3), cl, ch, 0.5)
      === 7.0)
    // inverse normal CDF sanity against known points
    assert(math.abs(Sketch.inverseNormalCdf(0.5)) < 1e-9)
    assert(math.abs(Sketch.inverseNormalCdf(0.975) - 1.959963985) < 1e-6)
    assert(math.abs(Sketch.inverseNormalCdf(0.025) + 1.959963985) < 1e-6)
    // the distributed finisher computes the same numbers per (group, q)
    val grouped = spark.range(20000).select(
      (col("id") % 2).cast("string").as("g"),
      ((col("id") * 2654435761L) % 97 + (col("id") * 40503L) % 89 +
        (col("id") * 9176L) % 83 + (col("id") * 31L) % 101).as("x"))
    val gsk = Sketch.momentsSketch(grouped, Seq("g"), col("x"))
    val fin = Sketch.momentsQuantiles(gsk, Seq(0.5, 0.9))
      .select(col("g"), col("q"), col("x_q")).collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    assert(fin.size === 4)
    gsk.collect().foreach { r =>
      val want = Seq(0.5, 0.9).map(q => q -> Sketch.momentsQuantile(
        r.getLong(1), BigDecimal(r.getString(4)), BigDecimal(r.getString(5)),
        BigDecimal(r.getString(6)), BigDecimal(r.getString(7)),
        r.getLong(2), r.getLong(3), q))
      want.foreach { case (q, w) =>
        assert(fin((r.getString(0), q)) === w) }
    }
  }
}
