package graft

import graft.multimodal.Multimodal
import graft.operators.{Dedup, Similarity, TextOps}
import org.apache.spark.sql.functions._

/** Training-pipeline operators: dedup recall on planted near-dups, SimHash
  * locality, similarity-search correctness vs brute force, multimodal
  * decode plumbing. */
class PipelineSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    val base = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again", "s0"),
      (1L, "pack my box with five dozen liquor jugs right now please thanks", "s0"),
      (2L, "sphinx of black quartz judge my vow said the wise old owl", "s0"),
      (3L, "completely different words about cabbages kings walruses carpenters oysters beaches", "s0"))
    // near-dups: one token appended
    val dups = base.take(2).map { case (id, t, s) => (id + 100L, t + " extra", s) }
    (base ++ dups).toDF("doc_id", "text", "source")
  }

  test("streaming replay faces leave no temp view behind; their frames stay readable") {
    def views() = spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet
    val before = views()
    // q_stream_dedup replays through runAvailableNow, q_stream_stream through runAvailableNow2
    for (q <- Seq("q_stream_dedup", "q_stream_stream")) {
      val df = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val first = df.collect().map(_.toString).sorted.toSeq
      assert(views() === before, s"$q left a temp view")
      assert(first.nonEmpty && df.collect().map(_.toString).sorted.toSeq === first, q)
    }
  }

  test("exact dedup groups identical texts") {
    import spark.implicits._
    val df = Seq((1L, "x y"), (2L, "x y"), (3L, "z")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id").orderBy("canonical_id")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L), (3L, 1L)))
    assert(Dedup.dropExactDups(df, "text", "doc_id").count() == 2)
  }

  test("ngram containment: snippet-in-doc scores ~1 where Jaccard is low") {
    import spark.implicits._
    val long = "a b c d e f g h i j k l m n o p q r s t"
    val corpus = Seq(
      (0L, long, "s0"),
      (1L, "a b c d e f", "s0"), // 4 shingles, all inside doc 0 (17 shingles)
      (2L, "z y x w v u t s", "s0")).toDF("doc_id", "text", "source")
    val out = Dedup.ngramContainment(corpus, "text", "doc_id", "source", 4)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Double]("containment"), r.getAs[Double]("jaccard")))).toMap
    val (cont, jac) = out((0L, 1L))
    assert(cont == 1.0)               // every snippet shingle is in the doc
    assert(jac < 0.25)                // 3/17 — symmetric signal misses it
    assert(!out.contains((0L, 2L)))   // no shared shingle
  }

  test("PMI collocations: planted pair tops the list, minCount gates") {
    import spark.implicits._
    // "new york" always adjacent (8x); "the" frequent everywhere
    val df = Seq.tabulate(8)(i => (i.toLong, s"new york the w$i the end"))
      .toDF("doc_id", "text")
    val out = TextOps.pmiCollocations(df, "text", minCount = 2)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getAs[Long]("pair_count"), r.getAs[Double]("pmi")))).toMap
    // c(new york)=8, c(new)=8, c(york)=8, Nb=40, Nu=48
    val expected = math.log((8.0 / 40.0) / ((8.0 / 48.0) * (8.0 / 48.0)))
    assert(math.abs(out(("new", "york"))._2 - expected) < 1e-12)
    assert(!out.contains(("w0", "the"))) // count 1 < minCount
    // "the end" (8x) involves the 16-count "the": lower PMI than new york
    assert(out(("the", "end"))._2 < out(("new", "york"))._2)
  }

  test("bigram LM stupid backoff: attested vs backed-off scores by hand") {
    import spark.implicits._
    val lm = Seq((0L, "a b a b")).toDF("doc_id", "text")
    val score = Seq((1L, "a b"), (2L, "b b")).toDF("doc_id", "text")
    val out = TextOps.bigramLogProb(score, "text", "doc_id", lm)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("avg_logprob2")).toMap
    // LM: c(a)=2, c(b)=2, N=4, V=2; bigrams: c(a b)=2, c(b a)=1
    // "a b": attested -> ln(c2/c1(a)) = ln(2/2) = 0
    assert(math.abs(out(1L) - 0.0) < 1e-12)
    // "b b": unattested -> ln(0.4) + ln((c(b)+0.5)/(N+0.5*(V+1)))
    val backoff = math.log(0.4) + math.log((2 + 0.5) / (4 + 0.5 * 3))
    assert(math.abs(out(2L) - backoff) < 1e-12)
    // single-token docs contribute no rows
    assert(TextOps.bigramLogProb(Seq((3L, "solo")).toDF("doc_id", "text"),
      "text", "doc_id", lm).count() == 0)
  }

  test("stripHtml: tags out, entities decoded in order, whitespace collapsed") {
    import spark.implicits._
    val df = Seq(
      "<div class=\"x\"><p>a &amp; b</p><br/>c</div>",
      "&amp;lt; stays literal",       // &amp; decodes LAST: -> "&lt; stays literal"
      "x &lt;tag&gt; &quot;q&quot; &#39;s&#39;&nbsp;end",
      "  spaced   <b>out</b>  ").toDF("html")
    val out = df.select(TextOps.stripHtml(col("html")).as("c"))
      .collect().map(_.getString(0))
    assert(out(0) == "a & b c")
    assert(out(1) == "&lt; stays literal")
    assert(out(2) == "x <tag> \"q\" 's' end")
    assert(out(3) == "spaced out")
  }

  test("temperatureMix: tau=1 is identity mix; tau=0.5 rebalances by sqrt") {
    import spark.implicits._
    val df = (0 until 90).map(i => (i.toLong, "big")).toDF("doc_id", "label")
      .union((100 until 110).map(i => (i.toLong, "small")).toDF("doc_id", "label"))
    val id1 = graft.operators.Sampling.temperatureMix(df, "doc_id", "label", tau = 1.0)
    assert(id1.count() == 100 && id1.agg(max(col("epoch"))).head().getLong(0) == 0)
    // tau=0.5: shares sqrt(90):sqrt(10) = 3:1 -> pct(big) = round(100*0.75*100/90) = 83,
    // pct(small) = round(100*0.25*100/10) = 250
    val out = graft.operators.Sampling.temperatureMix(df, "doc_id", "label", tau = 0.5)
    val byLabel = out.groupBy("label").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // small gets 2 or 3 copies per doc (>= 20); big 0 or 1 per doc (<= 90)
    assert(byLabel("small") >= 20 && byLabel("small") <= 30)
    assert(byLabel("big") <= 90 && byLabel("big") >= 60)
    // exact replay of the floor+frac rule
    val expect = df.select(col("label"),
        when(col("label") === "big", lit(83L)).otherwise(lit(250L)).as("pct"),
        graft.operators.Sampling.splitBucket(col("doc_id")).as("b"))
      .select(col("label"), (floor(col("pct") / 100L).cast("long") +
        when(col("b") < col("pct") % 100L, 1L).otherwise(0L)).as("copies"))
      .groupBy("label").agg(sum(col("copies")).as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel == expect)
  }

  test("ngramDiversity: hand-computed distinct/total ratios per n") {
    import spark.implicits._
    val df = Seq((1L, "a b a", "s"), (2L, "a b c", "s")).toDF("doc_id", "text", "source")
    val out = TextOps.ngramDiversity(df, "text", "source", maxN = 3)
      .collect().map(r => r.getAs[Int]("n") ->
        ((r.getAs[Long]("total_grams"), r.getAs[Long]("distinct_grams")))).toMap
    assert(out(1) == ((6L, 3L)))   // a b a a b c -> {a,b,c}
    assert(out(2) == ((4L, 3L)))   // "a b","b a","a b","b c"
    assert(out(3) == ((2L, 2L)))   // "a b a","a b c"
  }

  test("dupProfile: histogram over components plus singleton row") {
    import spark.implicits._
    val docs = (1L to 7L).map(i => (i, s"d$i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val out = Dedup.dupProfile(docs, pairs, "id_a", "id_b", "doc_id")
      .orderBy("cluster_size").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 2L, 2L), (2L, 1L, 2L), (3L, 1L, 3L)))
  }

  test("truncateNormalize: prefix kept, unit norm, zero prefix stays zero") {
    import spark.implicits._
    val df = Seq(
      (1L, Array(3.0f, 4.0f, 100.0f)),
      (2L, Array(0.0f, 0.0f, 7.0f))).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
        Similarity.truncateNormalize(col("embedding"), 2).as("t"))
      .orderBy("vec_id").collect().map(_.getSeq[Double](1))
    assert(out(0) == Seq(0.6, 0.8))      // [3,4]/5
    assert(out(1) == Seq(0.0, 0.0))      // zero prefix: no div-by-zero
    // cosine in the truncated space is the dot of unit vectors
    val n = out(0).zip(out(0)).map { case (a, b) => a * b }.sum
    assert(math.abs(n - 1.0) < 1e-12)
  }

  test("ngram Jaccard finds planted near-dups with high score") {
    val pairs = Dedup.ngramJaccard(docs, "text", "doc_id", "source", 3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        r.getAs[Double]("jaccard"))).toMap
    assert(pairs((0L, 100L)) > 0.8)
    assert(pairs((1L, 101L)) > 0.8)
    // unrelated docs either share no shingle (absent) or score low
    assert(pairs.getOrElse((0L, 3L), 0.0) < 0.2)
  }

  test("minhash LSH catches planted near-dups and estimates Jaccard") {
    val out = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getAs[Double]("est_jaccard"))).toMap
    assert(out.contains((0L, 100L)))
    assert(out.contains((1L, 101L)))
    assert(out((0L, 100L)) >= 0.5)
  }

  test("minhashNearDups is storage-flat across repeated calls (no cache pin)") {
    // the signature pin is a localCheckpoint, NOT cache(): no CacheManager
    // entry survives the call, and the checkpoint blocks are
    // ContextCleaner-freed once the result is dropped — a library user
    // composing many pipelines must not accumulate pinned storage
    val baseline = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 1 to 3)
      Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5).count()
    def live() = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.currentTimeMillis + 30000
    while (live() > baseline && System.currentTimeMillis < deadline) {
      System.gc(); Thread.sleep(250)
    }
    assert(live() <= baseline,
      s"persistent RDD blocks grew from $baseline to ${live()} after 3 calls")
  }

  test("q_curate2 releases its persisted stage (storage-flat across calls)") {
    // the gate+trim persist must not outlive the query: the split summary
    // is materialized inside the query and the stage unpersisted before
    // the result returns (it previously leaked one corpus-sized cache
    // entry per invocation for the session's lifetime)
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("curate2flat").toString
    (1L to 60L).map(i => (i,
        s"alpha beta gamma delta epsilon zeta eta theta iota kappa $i. " * 6))
      .toDF("doc_id", "text").write.parquet(s"$tmp/documents.parquet")
    val baseline = spark.sparkContext.getPersistentRDDs.size
    for (_ <- 1 to 3)
      graft.SparkEntry.queries("q_curate2")(spark, tmp)
        .write.format("noop").mode("overwrite").save()
    def live() = spark.sparkContext.getPersistentRDDs.size
    val deadline = System.currentTimeMillis + 30000
    while (live() > baseline && System.currentTimeMillis < deadline) {
      System.gc(); Thread.sleep(250)
    }
    assert(live() <= baseline,
      s"persistent RDD blocks grew from $baseline to ${live()} after 3 calls")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(tmp))
  }

  test("minhash polynomial family signatures equal the scalar prefixedFingerprint form") {
    // the parts form (shared fp/pw projection) must be value-identical to
    // the per-seed scalar form, including the long-text fallback path
    import spark.implicits._
    val long = "tok " * 2000 + "tail words here padding more"
    val df = (docs.select(col("doc_id"), col("text"))
      union Seq((999L, long)).toDF("doc_id", "text"))
    val viaParts = Dedup.minhashSignatures(df, "text", "doc_id", k = 8, shingleN = 3,
      family = Dedup.MinhashFamily.polynomial)
    val viaScalar = {
      val exploded = df.select(col("doc_id"),
        explode(array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3))).as("shingle"))
      val minCols = (0 until 8).map(j =>
        min(TextOps.prefixedFingerprint(s"$j:", col("shingle"))).as(s"m$j"))
      exploded.groupBy(col("doc_id")).agg(minCols.head, minCols.tail: _*)
        .select(col("doc_id"), array((0 until 8).map(j => col(s"m$j")): _*).as("sig"))
    }
    assert(viaParts.except(viaScalar).isEmpty && viaScalar.except(viaParts).isEmpty)
    // the family's explode + k-min aggregate form (no native kernel)
    val viaAgg = Dedup.minhashSignatures(df, "text", "doc_id", k = 8, shingleN = 3,
      family = Dedup.MinhashFamily.polynomial.copy(sigArray = None))
    assert(viaParts.except(viaAgg).isEmpty && viaAgg.except(viaParts).isEmpty)
  }

  test("native char-gram counts/top-ranks equal the HOF explode+window forms") {
    // graft_char_gram_counts == explode(charNgramsAll) + count;
    // graft_char_gram_top_ranks == the per-doc (count desc, gram asc)
    // row_number window cut at m — including multibyte text (slicing is
    // by code point, like substr) and shorter-than-n edge cases
    import spark.implicits._
    val texts = Seq((1L, "abcabcab"), (2L, "héllo wörld héllo"),
      (3L, "ab"), (4L, ""), (5L, "日本語のテキスト日本語"), (6L, "zzzzzz"))
    val df = texts.toDF("id", "text")
    val n = 3
    val viaNative = df.select(col("id"),
        explode(graft.expr.TextExpressions.charGramCounts(col("text"), n)).as("gc"))
      .select(col("id"), col("gc.gram").as("gram"), col("gc.cnt").as("cnt"))
    val viaHof = df.select(col("id"),
        explode(TextOps.charNgramsAll(col("text"), n)).as("gram"))
      .groupBy(col("id"), col("gram")).agg(count(lit(1)).as("cnt"))
    assert(viaNative.except(viaHof).isEmpty && viaHof.except(viaNative).isEmpty)
    val m = 3
    val topNative = df.select(col("id"),
        explode(graft.expr.TextExpressions.charGramTopRanks(col("text"), n, m)).as("gr"))
      .select(col("id"), col("gr.gram").as("gram"), col("gr.rank").as("rank"))
    val topWindow = viaHof
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
          .orderBy(col("cnt").desc, col("gram"))).cast("long"))
      .filter(col("rank") <= m).select(col("id"), col("gram"), col("rank"))
    assert(topNative.except(topWindow).isEmpty && topWindow.except(topNative).isEmpty)
    // short/empty texts yield EMPTY arrays (not null): explode drops them
    val sizes = df.select(col("id"),
      size(graft.expr.TextExpressions.charGramCounts(col("text"), n)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sizes(3L) == 0 && sizes(4L) == 0)
    // null text yields null (charNgramsAll contract)
    val nullOut = Seq((7L, null: String)).toDF("id", "text")
      .select(graft.expr.TextExpressions.charGramCounts(col("text"), n)).collect()
    assert(nullOut.head.isNullAt(0))
  }

  test("native token counts equal explode(split)+count, empty segments kept") {
    // graft_token_counts must reproduce split(text, " ")'s no-limit
    // semantics bit for bit: "a  b" has an EMPTY middle token, "" is one
    // empty token, leading/trailing spaces produce empty edge tokens —
    // the empty token is a countable NB term and must stay one
    import spark.implicits._
    val texts = Seq((1L, "the cat the hat"), (2L, "a  b"), (3L, ""),
      (4L, " x "), (5L, "héllo wörld héllo"), (6L, "one"), (7L, "tail "))
    val df = texts.toDF("id", "text")
    val viaNative = df.select(col("id"),
        explode(graft.expr.TextExpressions.tokenCounts(col("text"))).as("tc"))
      .select(col("id"), col("tc.t").as("t"), col("tc.cnt").as("cnt"))
    val viaSplit = df.select(col("id"),
        explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("cnt"))
    assert(viaNative.except(viaSplit).isEmpty && viaSplit.except(viaNative).isEmpty)
    // null text yields null (split's contract): explode drops the row
    val n = Seq((8L, null: String)).toDF("id", "text").select(col("id"),
      explode(graft.expr.TextExpressions.tokenCounts(col("text"))).as("tc")).count()
    assert(n == 0)
  }

  test("native token-marker stats equal the HOF quality-signal forms bit for bit") {
    // graft_token_marker_stats drives uniqueTokenRatio / stopwordRatio /
    // tokenCountBpeIsh / qualityScore / langId — each must reproduce its
    // HOF form exactly, including the split edge cases ("a  b" keeps an
    // empty middle token, "" is one empty token, edge spaces make empty
    // tokens), multibyte text (BPE counts code points, not bytes), and
    // null text (every derived signal stays null — size(null) semantics)
    // null signals agree only while size(null) is null: Harness.confs
    // pins spark.sql.legacy.sizeOfNull=false
    import spark.implicits._
    val texts = Seq((1L, "the cat the hat a table"), (2L, "a  b"), (3L, ""),
      (4L, " x "), (5L, "héllo wörld héllo längwörd日本語のテキスト here"),
      (6L, "join group window join"), (7L, "data query stream data data"),
      (8L, "tail "), (9L, null: String),
      (10L, "the the the a a table join group window data query stream"))
    val df = texts.toDF("id", "text")
    val t = col("text")
    val viaNative = df.select(col("id"),
      TextOps.tokenCountBpeIsh(t).as("bpe"),
      TextOps.uniqueTokenRatio(t).as("uniq"),
      TextOps.stopwordRatio(t).as("stop"),
      TextOps.qualityScore(t).as("q"),
      TextOps.langId(t).as("lang"))
    val viaHof = df.select(col("id"),
      TextOps.tokenCountBpeIshHof(t).as("bpe"),
      TextOps.uniqueTokenRatioHof(t).as("uniq"),
      TextOps.stopwordRatioHof(t).as("stop"),
      TextOps.qualityScoreHof(t).as("q"),
      TextOps.langIdHof(t).as("lang"))
    val n = viaNative.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val h = viaHof.collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(n === h) // exact — doubles compare bitwise through ===
    // null text: every signal is null, exactly like the HOF forms
    assert(viaNative.filter(col("id") === 9L).collect().head.toSeq.tail
      .forall(_ == null))
    // langScore falls back to the HOF form for markers outside the fixed
    // scan vocabulary (public-API safety), with the same LongType result
    val customDf = df.filter(col("id") === 1L)
      .select(TextOps.langScore(t, Seq("cat" -> 2, "hat" -> 1)).as("s"))
    import org.apache.spark.sql.types.LongType
    assert(customDf.schema("s").dataType === LongType)
    assert(customDf.collect().head.getLong(0) === 3L)
    assert(df.select(TextOps.langScore(t, Seq("the" -> 1)).as("s"))
      .schema("s").dataType === LongType)
    // a marker outside the scan vocabulary fails at plan-build time
    intercept[IllegalArgumentException](TextOps.markerCount(t, "cat"))
  }

  test("native minhash kernel equals the k HOF array_min passes (stream shape)") {
    // the graft_minhash_sig one-pass kernel must be bit-identical to the
    // k separate array_min(transform(parts)) passes bandedSignatures ran
    // before — including multi-byte UTF-8 shingles (pw = 31^numBYTES)
    import spark.implicits._
    val texts = Seq("red green blue cyan teal plum", "aaaa bbbb cccc dddd",
      "héllo wörld ünïcode päd mörę", "one two three", "x y z w v u t s")
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val k = 8
    val sh = array_distinct(TextOps.shingles(TextOps.tokens(col("text")), 3))
    val base = df.select(col("id"), sh.as("__sh")).filter(size(col("__sh")) >= 1)
    val viaNative = base.select(col("id"),
      graft.expr.TextExpressions.minhashSigs(col("__sh"), k).as("sig"))
    val parts = transform(col("__sh"), x => {
      val p = TextOps.fingerprintParts(x).toMap
      struct(p("fp").as("fp"), p("pw").as("pw"))
    })
    val viaHof = base.withColumn("__parts", parts)
      .select(col("id"), array((0 until k).map { j =>
        array_min(transform(col("__parts"), p =>
          TextOps.prefixedFingerprintFromParts(s"$j:",
            p.getField("fp"), p.getField("pw"))))
      }: _*).as("sig"))
    val n = viaNative.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val h = viaHof.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(n === h)
    // empty / all-null arrays: every seed's min is NULL (array_min over
    // an empty transform) — the contract callers' size>=1 filters rely on
    val seeds = (0 until k).map(j => TextOps.fingerprintOf(s"$j:")).toArray
    val emptyOut = graft.expr.TextExpressions.minhashSig(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Any]), seeds)
    assert((0 until k).forall(emptyOut.isNullAt))
    val allNull = graft.expr.TextExpressions.minhashSig(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(Array[Any](null, null)), seeds)
    assert((0 until k).forall(allNull.isNullAt))
  }

  test("prefixedFingerprintFromParts equals prefixedFingerprint past the pow-table bound") {
    import spark.implicits._
    val texts = Seq("a", "xy z", "q" * 4095, "w" * 4096, "e" * 5000, "tok " * 1500)
    val df = texts.toDF("t")
    val parts = TextOps.fingerprintParts(col("t"))
    val withParts = df.select(col("t") +: parts.map { case (n, c) => c.as(n) }: _*)
    val rows = withParts.select(
      TextOps.prefixedFingerprintFromParts("7:", col("fp"), col("pw")).as("viaParts"),
      TextOps.prefixedFingerprint("7:", col("t")).as("scalar")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1), s"mismatch: $r"))
  }

  test("simhash: near-identical docs land within small hamming distance") {
    val out = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.contains((0L, 100L)))
    assert(out.contains((1L, 101L)))
  }

  test("native fingerprint equals the char-wise HOF fingerprint on ASCII") {
    val rows = docs.select(
      TextOps.fingerprint(col("text")).as("native"),
      TextOps.fingerprintHof(col("text")).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("packed-lane aggregate simhash equals the scalar HOF simhash") {
    val byAgg = Dedup.simhashFingerprints(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byScalar = docs.select(col("doc_id"), TextOps.simhash(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(byAgg == byScalar)
  }

  test("simhash of identical text is identical; fingerprint is deterministic") {
    import spark.implicits._
    val df = Seq(("a b c d e f g h", "a b c d e f g h")).toDF("x", "y")
    val r = df.select(
      TextOps.simhash(col("x")).as("sx"), TextOps.simhash(col("y")).as("sy"),
      TextOps.fingerprint(col("x")).as("fx"), TextOps.fingerprint(col("y")).as("fy"))
      .collect()(0)
    assert(r.getLong(0) == r.getLong(1))
    assert(r.getLong(2) == r.getLong(3))
    // fingerprint mod stays in range
    assert(r.getLong(2) >= 0 && r.getLong(2) < 1000000007L)
  }

  test("native shingles == HOF shingles: random docs, edges, null elements, null arrays") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val words = Array("a", "bb", "ccc", "dd", "e", "the", "zx")
    val docs = (0 until 200).map { i =>
      val len = rnd.nextInt(8) // includes 0 and below-n sizes
      (i.toLong, Seq.fill(len)(words(rnd.nextInt(words.length))))
    }.toDF("id", "toks")
      .union(Seq((1000L, null.asInstanceOf[Seq[String]])).toDF("id", "toks"))
      .union(Seq((1001L, Seq("x", null, "y", "z").map(Option(_)).map(_.orNull)))
        .toDF("id", "toks"))
    for (n <- Seq(1, 2, 3, 4)) {
      val rows = docs.select(col("id"),
          TextOps.shingles(col("toks"), n).as("native"),
          TextOps.shinglesHof(col("toks"), n).as("hof"))
        .collect()
      rows.foreach { r =>
        val nat = if (r.isNullAt(1)) null else r.getSeq[String](1)
        val hof = if (r.isNullAt(2)) null else r.getSeq[String](2)
        assert(nat == hof, s"id=${r.getLong(0)} n=$n: $nat != $hof")
      }
    }
  }

  test("chunkTokens property: full coverage, no redundant windows, stitchable") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val cases = for (_ <- 0 until 30) yield {
      val chunk = 2 + rnd.nextInt(8)
      val overlap = rnd.nextInt(chunk)
      val len = rnd.nextInt(40)
      (chunk, overlap, Seq.tabulate(len)(i => s"w$i"))
    }
    for ((chunk, overlap, toks) <- cases) {
      val df = Seq((1L, toks.mkString(" "))).toDF("doc_id", "text")
      val chunks = TextOps.chunkTokens(df, "text", "doc_id", chunk, overlap)
        .orderBy("chunk_id").collect()
        .map(r => (r.getString(2), r.getLong(3)))
      val step = chunk - overlap
      val windows = chunks.map(_._1.split(" ").toSeq)
      // coverage: stitching window i's tokens after dropping the overlap
      // prefix (i>0) reconstructs the doc exactly
      val stitched = windows.head ++ windows.tail.flatMap(_.drop(overlap))
      val expected = if (toks.isEmpty) Seq("") else toks
      assert(stitched == expected, s"chunk=$chunk overlap=$overlap len=${toks.length}")
      // no redundant windows: every window beyond the first adds >=1 new token
      windows.zipWithIndex.tail.foreach { case (w, i) =>
        assert(i * step + overlap < (if (toks.isEmpty) 1 else toks.length),
          s"window $i redundant at chunk=$chunk overlap=$overlap len=${toks.length}")
      }
      // reported token counts match the window contents
      chunks.foreach { case (w, n) => assert(w.split(" ").length.toLong == n || w.isEmpty) }
    }
  }

  test("dropIncrementalDups: corpus-known and within-batch dups both drop") {
    import spark.implicits._
    val corpus = Seq((1L, "old a"), (2L, "old b")).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "old a"),   // known to corpus -> dropped
      (11L, "new x"), (12L, "new x"), // within-batch dup -> canonical 11 kept
      (13L, "new y")).toDF("doc_id", "text")
    val out = graft.operators.Dedup.dropIncrementalDups(incoming, corpus, "text", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(11L, 13L))
  }

  test("normalizeText canonicalizes case/punct/whitespace; repetitionRatio flags loops") {
    import spark.implicits._
    val df = Seq(
      (1L, "  Hello,   WORLD!! 42 ", "x y x y x y"),   // 5 bigrams, 2 distinct
      (2L, "a-b_c", "unique words only here"),
      (3L, "", "solo")).toDF("id", "raw", "rep")
    val out = df.select(col("id"), TextOps.normalizeText(col("raw")).as("n"),
        round(TextOps.repetitionRatio(col("rep")), 6).as("r"))
      .orderBy("id").collect()
    assert(out(0).getString(1) == "hello world 42")
    assert(out(1).getString(1) == "a b c")
    assert(out(0).getDouble(2) == 0.6)   // 1 - 2/5
    assert(out(1).getDouble(2) == 0.0)   // all bigrams distinct
    assert(out(2).getDouble(2) == 0.0)   // single token -> no bigrams
  }

  test("chunkTokens: windows, overlap, short docs, exact-multiple tails") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f g h i j"), // 10 tokens, chunk 4 overlap 1 -> starts 0,3,6
      (2L, "x y"),                 // shorter than one chunk
      (3L, "p q r s"),            // exactly one chunk (no redundant tail)
      (4L, "")).toDF("doc_id", "text")
    val out = TextOps.chunkTokens(docs, "text", "doc_id", chunk = 4, overlap = 1)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, "a b c d", 4L), (1L, 1L, "d e f g", 4L), (1L, 2L, "g h i j", 4L),
      (2L, 0L, "x y", 2L),
      (3L, 0L, "p q r s", 4L),
      (4L, 0L, "", 1L))) // split("", " ") is [""]: one empty token
    val e = intercept[IllegalArgumentException] {
      TextOps.chunkTokens(docs, "text", "doc_id", chunk = 4, overlap = 4)
    }
    assert(e.getMessage.contains("overlap"))
  }

  test("stratifiedHashSample keeps per-label subsets of hashSample semantics") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("id", "lang")
    val out = graft.operators.Sampling.stratifiedHashSample(df, "id", "lang",
      Map("en" -> 40), defaultPct = 100)
    val full = graft.operators.Sampling.hashSample(df, "id", 40)
      .filter(col("lang") === "en").collect().map(_.getLong(0)).toSet
    assert(out.filter(col("lang") === "en").collect().map(_.getLong(0)).toSet == full)
    assert(out.filter(col("lang") === "de").count() == df.filter(col("lang") === "de").count())
  }

  test("prioritySample: equals the sequential DLT model; k>=n keeps all with est_w = w") {
    import spark.implicits._
    val n = 1000
    val df = (0L until n.toLong).map(i => (i, s"g${i % 4}", (i % 37) + 1L))
      .toDF("id", "grp", "w").repartition(13) // partitioning must not matter
    val k = 32
    val got = graft.operators.Sampling.prioritySample(df, "id", col("w"), k)
      .orderBy(col("sample_rank")).collect()
    // sequential model: same pinned hash, same u, same priority, same ties
    val hashes = spark.range(n.toLong)
      .select(col("id"), graft.operators.Sketch.pinnedHash(
        col("id").cast("string"), "psamp").as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val model = (0L until n.toLong).map { i =>
      val u = (hashes(i) + 1L).toDouble / 9223372036854775808.0
      val w = (i % 37) + 1L
      (i, w, w.toDouble / u)
    }.sortBy { case (id, _, q) => (-q, id) }
    val tau = model(k)._3 // (k+1)-th largest priority
    val expect = model.take(k).map { case (id, w, _) => (id, math.max(w.toDouble, tau)) }
    assert(got.map(r => (r.getLong(0), r.getDouble(r.fieldIndex("est_w")))).toSeq == expect)
    assert(got.forall(_.getDouble(got.head.fieldIndex("tau")) == tau))
    // k >= n: the sample IS the population, tau null, est_w = w exactly
    val all = graft.operators.Sampling.prioritySample(df, "id", col("w"), n + 5)
      .collect()
    assert(all.length == n)
    assert(all.forall(r => r.isNullAt(r.fieldIndex("tau")) &&
      r.getDouble(r.fieldIndex("est_w")) == r.getDouble(r.fieldIndex("w"))))
  }

  test("prioritySample: per-group k, per-group tau, and unbiased-total sanity") {
    import spark.implicits._
    val n = 4096
    val df = (0L until n.toLong).map(i => (i, s"g${i % 3}", (i % 101) + 1L))
      .toDF("id", "grp", "w")
    val out = graft.operators.Sampling.prioritySample(
      df, "id", col("w"), 16, groupCols = Seq("grp")).collect()
    assert(out.groupBy(_.getString(1)).forall(_._2.length == 16))
    // each group carries its own tau = the group's 17th-largest priority
    assert(out.groupBy(_.getString(1)).values.forall { rows =>
      rows.map(_.getDouble(rows.head.fieldIndex("tau"))).distinct.length == 1
    })
    // DLT subset-sum estimate of the TOTAL weight: k=256 global sample,
    // sigma ~ W/sqrt(k-1) ~ 6.3% of W — assert within 30% (5 sigma)
    val est = graft.operators.Sampling.prioritySample(df, "id", col("w"), 256)
      .agg(sum(col("est_w"))).head.getDouble(0)
    val exact = df.agg(sum(col("w"))).head.getLong(0).toDouble
    assert(math.abs(est - exact) / exact < 0.30,
      s"DLT total estimate too far off: est=$est exact=$exact")
  }

  test("brute-force cosine top-k: exact neighbors on a constructed corpus") {
    import spark.implicits._
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)), // closest to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.1f))) // closest to 2
      .toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") < 1),
        "vec_id", "embedding", 1)
      .collect()(0)
    assert(out.getAs[Long]("neighbor_id") == 1L)
    assert(out.getAs[Double]("cosine") > 0.99)
  }

  test("int8 quantization: bounded error; quantized top-k recall vs exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 200L).map(i =>
      (i, Array.fill(32)(rnd.nextFloat() * 2 - 1)))
    val df = vecs.toDF("vec_id", "embedding")
    // per-component reconstruction error <= scale/2
    val qd = Similarity.quantizeInt8(df, "embedding")
      .select(col("embedding"), col("qvec"), col("qscale")).collect()
    qd.foreach { r =>
      val v = r.getSeq[Float](0); val q = r.getSeq[Byte](1); val s = r.getDouble(2)
      v.zip(q).foreach { case (x, qi) =>
        assert(math.abs(qi * s - x) <= s / 2 + 1e-9)
      }
    }
    val queries = df.filter(col("vec_id") < 8)
    val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val approx = Similarity.bruteForceTopKInt8(df, queries, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall >= 0.85, s"int8 recall $recall")
  }

  test("LSH ANN recall against brute force on random-ish vectors") {
    import spark.implicits._
    // deterministic pseudo-random corpus
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 80L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val lsh = Similarity.lshTopK(vecs, queries, "vec_id", "embedding", 3, planes = 16)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    // approximate: expect at least a third of true neighbors recovered
    assert(lsh.intersect(bf).size >= bf.size / 3)
  }

  test("literal-plane hyperplane signature is bit-exact with the HOF form, both families") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    for (comp <- Seq(None, Some(Similarity.polyPlaneComponent _))) {
      val (fast, hof) = comp match {
        case Some(c) => (Similarity.hyperplaneSignature(col("embedding"), 16, 16, c),
          Similarity.hyperplaneSignatureHof(col("embedding"), 16, c))
        case None => (Similarity.hyperplaneSignature(col("embedding"), 16, 16),
          Similarity.hyperplaneSignatureHof(col("embedding"), 16))
      }
      val rows = vecs.select(fast.as("f"), hof.as("h")).collect()
      assert(rows.forall(r => r.getLong(0) == r.getLong(1)))
    }
  }

  test("IVF ANN recall against brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val vecs = (0L until 120L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 5)
    val bf = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", 3,
        nCells = 8, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    assert(ivf.intersect(bf).size >= bf.size / 3)
    // full probe = exact
    val full = Similarity.ivfTopK(vecs, queries, "vec_id", "embedding", 3,
        nCells = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == bf)
  }

  test("IVF with pinned data-point centroids: full probe = exact; recall at partial probe") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val vecs = (0L until 120L).map(i =>
      (i, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 5)
    val cents = vecs.filter(col("vec_id") < 6).orderBy(col("vec_id"))
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val bf = Similarity.bruteForceTopK(vecs, queries, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    val full = Similarity.ivfTopKWithCentroids(vecs, queries, "vec_id", "embedding", 3,
        cents, nProbe = 6)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    assert(full == bf)
    val partial = Similarity.ivfTopKWithCentroids(vecs, queries, "vec_id", "embedding", 3,
        cents, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("neighbor_id"))).toSet
    assert(partial.intersect(bf).size >= bf.size / 3)
    assert(partial.subsetOf(bf) || partial.nonEmpty) // ranked output well-formed
  }

  test("lloydRefine: partitioning-invariant centroids, empty-cell carry, iters=0 identity") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 150L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val init = vecs.filter(col("vec_id") < 6).orderBy(col("vec_id"))
      .select(col("embedding").cast("array<double>")).collect()
      .map(_.getSeq[Double](0).toArray)
    // THE property the q_ann_ivf oracle rests on: the round(sum,4)/count
    // recompute pins the centroids bit-for-bit under ANY partitioning
    // (distributed double summation order must not leak into the fit)
    val a = Similarity.lloydRefine(vecs.repartition(1), "embedding", init, iters = 3)
    val b = Similarity.lloydRefine(vecs.repartition(13), "embedding", init, iters = 3)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x.toSeq == y.toSeq) }
    // the refinement actually moved the centroids (a real fit, not a no-op)
    assert(a.zip(init).exists { case (x, y) => x.toSeq != y.toSeq })
    // iters = 0: the pinned seeds pass through untouched
    val zero = Similarity.lloydRefine(vecs, "embedding", init, iters = 0)
    zero.zip(init).foreach { case (x, y) => assert(x.toSeq == y.toSeq) }
    // empty-cell carry: duplicate centroid at a HIGHER index can never
    // win the argmax (ties break to the lower index), so its cell stays
    // empty and it keeps its value instead of re-seeding
    val dup = init :+ init.head.clone()
    val refined = Similarity.lloydRefine(vecs, "embedding", dup, iters = 1)
    assert(refined.last.toSeq == dup.last.toSeq)
    assert(refined.head.toSeq != dup.head.toSeq) // the winner cell DID refit
  }

  test("ivfSizeFromSidecars: metadata sizing rule, clamps, refusal; versioned IVF = pinned IVF") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    val vecs = (0L until 150L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_ivfsz").toString + "/t"
    VersionedTable.create(vecs.repartition(3), path)
    VersionedTable.writeCounts(spark, path, 0L)
    // the rule: nCells = ceil(sqrt(150)) = 13, nProbe = ceil(13^0.5) = 4
    assert(Similarity.ivfSizeFromSidecars(path) === ((0L, 13, 4)))
    // recall-dial endpoints: 0 probes one cell, 1 probes every cell
    assert(Similarity.ivfSizeFromSidecars(path, recallTarget = 0.0)._3 === 1)
    assert(Similarity.ivfSizeFromSidecars(path, recallTarget = 1.0)._3 === 13)
    // maxCells caps the centroid set (and the probe clamp follows it)
    assert(Similarity.ivfSizeFromSidecars(path, maxCells = 5)._2 === 5)
    // no counts sidecar: a NAMED refusal, never a silent guess
    val bare = java.nio.file.Files.createTempDirectory("graft_ivfsz").toString + "/b"
    VersionedTable.create(vecs.limit(10), bare)
    val e = intercept[IllegalArgumentException](
      Similarity.ivfSizeFromSidecars(bare))
    assert(e.getMessage.contains("counts sidecar"))
    // the versioned entry point IS pinned IVF with the derived sizes and
    // the nCells lowest-id centroids — proven by equality
    val queries = vecs.filter(col("vec_id") < 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq.sorted
    val got = rows(Similarity.ivfTopKVersioned(
      spark, path, queries, "vec_id", "embedding", 3))
    val cents = vecs.orderBy(col("vec_id")).limit(13)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    val want = rows(Similarity.ivfTopKWithCentroids(
      VersionedTable.readVersion(spark, path, 0L), queries,
      "vec_id", "embedding", 3, cents, nProbe = 4))
    assert(got === want)
    // under a DV backlog the sizing stays physical (an upper bound — the
    // documented direction) and the read stays LIVE: deleted ids can
    // never surface as neighbors
    val v1 = VersionedTable.deleteWhere(spark, path, col("vec_id") % 5 === 4)
    VersionedTable.writeCounts(spark, path, v1)
    assert(Similarity.ivfSizeFromSidecars(path)._2 === 13) // physical count
    val live = Similarity.ivfTopKVersioned(
      spark, path, queries, "vec_id", "embedding", 3)
      .select(col("neighbor_id")).as[Long].collect()
    assert(live.nonEmpty && live.forall(_ % 5 != 4))
  }

  test("bloomJoinVersioned equals the plain live join under a DV backlog") {
    import graft.sources.VersionedTable
    import spark.implicits._
    val path = java.nio.file.Files.createTempDirectory("graft_bjv_dv").toString + "/t"
    VersionedTable.create(
      spark.range(400).selectExpr("id % 80 AS k", "id AS payload").repartition(3), path)
    val v1 = VersionedTable.deleteWhere(spark, path, col("payload") % 4 === 0)
    VersionedTable.writeNdv(spark, path, v1, "k")
    VersionedTable.writeCounts(spark, path, v1)
    // sizing uses PHYSICAL bounds (NDV sidecar / row count) — valid
    // upper bounds on the live cardinality, so the fpp contract holds
    val (v, expected) = graft.operators.Joins.bloomSizeFromSidecars(path, Seq("k"))
    assert(v === v1 && expected >= 60L)
    val probe = spark.range(5000).selectExpr("id % 500 AS k", "id AS p")
    val plain = probe.join(VersionedTable.read(spark, path), Seq("k"))
      .select("k", "p", "payload").collect().map(_.toSeq).toSet
    val auto = graft.operators.Joins.bloomJoinVersioned(probe, spark, path, Seq("k"))
      .select("k", "p", "payload").collect().map(_.toSeq).toSet
    assert(auto === plain) // deleted rows never resurface through the bloom path
  }

  test("dupSpanStats: cross-doc and within-doc repeated windows counted per position") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c d e"),          // "a b c" shared with doc 2 -> 1 of 3
      (2L, "x y a b c"),          // 1 of 3
      (3L, "p q"),                // shorter than n -> no spans, null ratio
      (4L, "m n o m n o m n o")). // every window repeats within the doc
      toDF("doc_id", "text")
    val got = Dedup.dupSpanStats(df, "text", "doc_id", n = 3)
      .orderBy("doc_id").collect()
      .map { r =>
        val (s, d, q) = (r.fieldIndex("n_spans"), r.fieldIndex("n_dup_spans"),
          r.fieldIndex("dup_ratio"))
        (r.getLong(s), r.getLong(d), if (r.isNullAt(q)) -1.0 else r.getDouble(q))
      }
    assert(got(0) == ((3L, 1L, 1.0 / 3)))
    assert(got(1) == ((3L, 1L, 1.0 / 3)))
    assert(got(2) == ((0L, 0L, -1.0)))
    assert(got(3) == ((7L, 7L, 1.0)))
  }

  test("fuzzyJoin: exact trigram Jaccard gate, no match without shared grams, short strings drop") {
    import spark.implicits._
    val l = Seq((1L, "abcde"), (2L, "vwxyz"), (3L, "ab")).toDF("lid", "lname")
    val r = Seq((10L, "abcdX"), (11L, "zzzzz")).toDF("rid", "rname")
    val got = graft.operators.Joins.fuzzyJoin(l, r, "lid", "lname", "rid", "rname",
        threshold = 0.5)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(4), x.getDouble(5)))
    // {abc,bcd,cde} vs {abc,bcd,cdX}: inter 2, union 4 -> j = 0.5
    assert(got.toSeq == Seq((1L, 10L, 2L, 0.5)))
    // hot-gram cap drops the only shared grams -> pair missed (documented)
    val capped = graft.operators.Joins.fuzzyJoin(l, r, "lid", "lname", "rid", "rname",
        threshold = 0.5, maxGramFreq = Some(1L))
      .count()
    assert(capped == 0L)
  }

  test("fuzzy joins: same-name string columns work; same-name ids rejected clearly") {
    import spark.implicits._
    val l = Seq((1L, "abcde")).toDF("lid", "name")
    val r = Seq((10L, "abcdX")).toDF("rid", "name")
    // both sides' string column named "name": aliased internally, no ambiguity
    val lev = graft.operators.Joins.fuzzyJoinLev(l, r, "lid", "name", "rid", "name", 1)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2)))
    assert(lev.toSeq == Seq((1L, 10L, 1)))
    // identical id names would make the two-id output ambiguous — clear error
    val both = Seq((1L, "abcde")).toDF("id", "name")
    val e = intercept[IllegalArgumentException](
      graft.operators.Joins.fuzzyJoin(both, both, "id", "name", "id", "name", 0.5))
    assert(e.getMessage.contains("distinct names"))
  }

  test("trainBpe: hand-computed merge order, deterministic ties, apply round-trip") {
    import spark.implicits._
    // corpus: "abab" x2, "ab" x1 -> pair (a,b) count 5, (b,a) count 2
    // merge 1 = (a,b); then ("ab","ab") count 2 -> merge 2 = (ab,ab)
    val df = Seq("abab abab ab").toDF("text")
    val merges = TextOps.trainBpe(df, "text", numMerges = 2)
    assert(merges == Seq(("a", "b"), ("ab", "ab")))
    assert(TextOps.applyBpe("abab", merges) == Seq("abab"))
    assert(TextOps.applyBpe("aba", merges) == Seq("ab", "a"))
    // tie-break: "xy" and "yz" both count 1 -> lexicographic (x,y) first
    val tie = Seq("xy yz").toDF("text")
    assert(TextOps.trainBpe(tie, "text", numMerges = 1) == Seq(("x", "y")))
    // merge loop stops early when no pairs remain (single-char words)
    assert(TextOps.trainBpe(Seq("a b c").toDF("text"), "text", 5).isEmpty)
  }

  test("unigramKlDivergence: zero for a group equal to the mix; hand-computed drift") {
    import spark.implicits._
    val one = Seq((1L, "a a b", "s")).toDF("id", "text", "src")
    val z = TextOps.unigramKlDivergence(one, "text", "src").collect()(0)
    assert(z.getDouble(z.fieldIndex("kl_bits")) == 0.0)
    // corpus: a=2 b=4; g1 = "a a b" (KL = 1/3), g2 = "b b b" (KL = log2 1.5)
    val df = Seq((1L, "a a b", "g1"), (2L, "b b b", "g2")).toDF("id", "text", "src")
    val got = TextOps.unigramKlDivergence(df, "text", "src")
      .orderBy("src").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(got(0)._2 == 3L && math.abs(got(0)._3 - 1.0 / 3) < 1e-12)
    assert(math.abs(got(1)._3 - math.log(1.5) / math.log(2)) < 1e-12)
  }

  test("entropies: constant = 0, uniform = log2(k), null is a category") {
    import spark.implicits._
    val df = Seq(
      ("c", Some("a")), ("c", Some("b")), ("c", Some("a")), ("c", Some("b")))
      .toDF("const", "uni")
      .union(Seq(("c", None: Option[String]), ("c", Some("a")),
        ("c", Some("b")), ("c", None)).toDF("const", "uni"))
    val got = graft.operators.Stats.entropies(df, Seq("const", "uni"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got("const") == 0.0)
    // uni: a=3, b=3, null=2 over 8 -> H = 3 - (6*log2(3) + 2) / 8
    val expected = 3.0 - (6 * math.log(3) / math.log(2) + 2.0) / 8
    assert(math.abs(got("uni") - expected) < 1e-12)
  }

  test("ngramJaccard maxDocFreq drops hot-shingle-only candidate pairs") {
    import spark.implicits._
    // every doc shares the hot boilerplate trigram; only 0 and 1 share a
    // rare one on top of it
    val boiler = "common header text here"
    val docs = Seq(
      (0L, s"$boiler alpha beta gamma"),
      (1L, s"$boiler alpha beta gamma"),
      (2L, s"$boiler delta epsilon zeta"),
      (3L, s"$boiler eta theta iota"))
      .map { case (i, t) => (i, t, "blk") }.toDF("doc_id", "text", "source")
    val exact = graft.operators.Dedup.ngramJaccard(docs, "text", "doc_id", "source", 3)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size == 6) // all pairs share the boilerplate shingles
    val capped = graft.operators.Dedup.ngramJaccard(docs, "text", "doc_id", "source", 3,
        maxDocFreq = Some(2))
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((0L, 1L))) // only the rare-shingle pair survives
  }

  test("LSH hot-bucket guard: a planted mega-bucket expands linearly, clustering intact") {
    import spark.implicits._
    // 10k NON-identical docs whose signatures nevertheless collide on
    // every band (the boilerplate corpus exact-dup collapse can't help
    // with), plus a handful of normal docs. Built at the signature
    // layer: what matters is the bucket join, not the shingling.
    val hot = spark.range(10000).select(col("id").as("doc_id"),
      array((0 until 16).map(j => lit(7L * j)): _*).as("sig"))
    val normal = spark.range(10000, 10006).select(col("id").as("doc_id"),
      array((0 until 16).map(j => col("id") * 31 + j): _*).as("sig"))
    val sigs = hot.unionByName(normal)
    // uncapped this bucket alone is ~50M pairs; capped it must be the
    // star of the bucket min: exactly 9999 pairs, every one (0, m)
    val capped = Dedup.minhashLshCandidates(sigs, "doc_id", 16, 4,
      maxBucketSize = Some(64L))
    val got = capped.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length === 9999)
    assert(got.forall { case (a, b) => a == 0L && b >= 1L && b <= 9999L })
    // transitive consumers see ONE component across the whole hot set
    val roots = Dedup.connectedComponents(capped, "id_a", "id_b")
      .select(col("root")).distinct().collect()
    assert(roots.length === 1)
    // small buckets are untouched by the guard: same pairs either way
    val smallOnly = Dedup.minhashLshCandidates(normal, "doc_id", 16, 4,
      maxBucketSize = Some(64L)).collect().toSet
    val smallExact = Dedup.minhashLshCandidates(normal, "doc_id", 16, 4)
      .collect().toSet
    assert(smallOnly === smallExact)
  }

  test("dup-heavy corpus: minhashNearDups and ngramJaccard equal their uncollapsed forms") {
    import spark.implicits._
    // 8 base docs (2 near-dup pairs among them), each replicated 3x with
    // distinct ids, plus a short doc (no shingles) also replicated — the
    // exact-dup collapse must reproduce the uncollapsed pipelines' result
    // sets exactly, including intra-group pairs and the no-shingle gate
    val base = Seq(
      "alpha beta gamma delta epsilon zeta eta theta",
      "alpha beta gamma delta epsilon zeta eta iota",   // near-dup of 0
      "one two three four five six seven eight nine",
      "one two three four five six seven eight ten",    // near-dup of 2
      "completely different words in this document here",
      "yet another unrelated piece of text entirely now",
      "more filler content that matches nothing else at all",
      "final base document with its own vocabulary set")
    val rows = (for (rep <- 0 until 3; i <- base.indices)
      yield (rep * 100L + i, base(i), "blk")) ++
      (for (rep <- 0 until 3) yield (rep * 100L + 50L, "too short", "blk"))
    val docs = rows.toDF("doc_id", "text", "source")
    // uncollapsed minhash reference: the pre-collapse pipeline verbatim
    val sigsAll = Dedup.minhashSignatures(docs, "text", "doc_id", 16, 3)
    val naiveMh = {
      val cands = Dedup.minhashLshCandidates(sigsAll, "doc_id", 16, 4)
      val sa = sigsAll.select(col("doc_id").as("id_a"), col("sig").as("sig_a"))
      val sb = sigsAll.select(col("doc_id").as("id_b"), col("sig").as("sig_b"))
      cands.join(sa, "id_a").join(sb, "id_b")
        .withColumn("est_jaccard",
          size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) => x === y), b => b))
            .cast(org.apache.spark.sql.types.DoubleType) / 16)
        .filter(col("est_jaccard") >= 0.5)
        .select("id_a", "id_b", "est_jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val gotMh = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotMh == naiveMh)
    assert(gotMh.exists { case (a, b, j) => a == 0L && b == 100L && j == 1.0 }) // intra pair
    assert(!gotMh.exists { case (a, b, _) => a % 100 == 50 || b % 100 == 50 }) // short docs never pair
    // ngramJaccard: spot-check the intra/cross structure + a full count
    val jac = Dedup.ngramJaccard(docs, "text", "doc_id", "source", 3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    assert(jac((0L, 100L)) == ((6L, 6L, 6L, 1.0)))     // identical: 6 trigrams
    val (i01, sa01, sb01, j01) = jac((0L, 1L))          // near-dup cross pair
    assert(i01 == 5L && sa01 == 6L && sb01 == 6L && math.abs(j01 - 5.0 / 7.0) < 1e-12)
    assert(jac((1L, 100L)) == ((5L, 6L, 6L, math.abs(5.0 / 7.0)))) // member of 0's group vs 1
    // every pair is emitted exactly once with id_a < id_b
    assert(jac.keySet.forall { case (a, b) => a < b })
    // simhash: collapsed pipeline equals the uncollapsed band join
    val naiveSh = {
      val fps = Dedup.simhashFingerprints(docs, "text", "doc_id")
      val banded = fps.select(col("doc_id"), col("fp"),
        posexplode(array((0 until 4).map(b =>
          shiftrightunsigned(col("fp"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
          .as(Seq("band", "key")))
      val na = banded.select(col("doc_id").as("id_a"), col("fp").as("fp_a"), col("band"), col("key"))
      val nb = banded.select(col("doc_id").as("id_b"), col("fp").as("fp_b"), col("band"), col("key"))
      na.join(nb, Seq("band", "key")).filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          TextOps.hamming64(col("fp_a"), col("fp_b")).as("hamming"))
        .distinct().filter(col("hamming") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    }
    val gotSh = Dedup.simhashNearDups(docs, "text", "doc_id", maxHamming = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(gotSh == naiveSh)
    assert(gotSh.exists { case (a, b, h) => a == 0L && b == 100L && h == 0 })
  }

  test("PII redaction: emails, IPs, digit runs; counts on original text") {
    import spark.implicits._
    val df = Seq(
      (1L, "write to alice.smith+x@corp.example.org or bob@ex.io from 192.168.1.77 card 4111111111111111 ok"),
      (2L, "no pii here just words and the number 12345678 stays"),
      (3L, "multi 1.2.3.4 and 10.20.30.40 mails a@b.cc x@y.dd")).toDF("doc_id", "text")
    val (ne, ni, nn) = TextOps.piiCounts(col("text"))
    val out = df.select(col("doc_id"), TextOps.redactPii(col("text")).as("r"),
      ne.as("e"), ni.as("i"), nn.as("n")).orderBy("doc_id").collect()
    assert(out(0).getString(1) == "write to <EMAIL> or <EMAIL> from <IP> card <NUM> ok")
    assert((out(0).getInt(2), out(0).getInt(3), out(0).getInt(4)) == ((2, 1, 1)))
    // 8-digit run is below the 9-digit floor: untouched
    assert(out(1).getString(1) == "no pii here just words and the number 12345678 stays")
    assert(out(2).getString(1) == "multi <IP> and <IP> mails <EMAIL> <EMAIL>")
  }

  test("fixMojibake repairs double-encoded UTF-8, leaves clean text alone") {
    import spark.implicits._
    // "café Å" UTF-8 bytes mis-decoded as Latin-1 once
    val clean = "caf\u00e9 \u00c5 plain"
    val broken = new String(clean.getBytes("UTF-8"), "ISO-8859-1")
    assert(broken != clean && broken.contains('\u00c3'))
    val rows = Seq(broken, clean, "pure ascii text", "A\u00c2 B")
      .toDF("t").select(TextOps.fixMojibake(col("t")).as("f")).collect()
    assert(rows(0).getString(0) == clean)      // repaired
    assert(rows(1).getString(0) == clean)      // already clean: unchanged
    assert(rows(2).getString(0) == "pure ascii text")
    // marker char present but repair would corrupt -> left alone
    assert(rows(3).getString(0) == "A\u00c2 B" ||
      rows(3).getString(0).nonEmpty) // heuristic: never throws
    // marker char + a NON-Latin-1 char (curly quote): Spark 4's Encode
    // REPORTs unmappable chars \u2014 the Latin-1-only gate must skip the row,
    // not throw MALFORMED_CHARACTER_CODING
    val mixed = "caf\u00c3\u00a9 x\u2019y"
    val fixed = Seq(mixed).toDF("t")
      .select(TextOps.fixMojibake(col("t")).as("f")).collect()(0).getString(0)
    assert(fixed == mixed) // untouched, and the job survived
  }

  test("bloomBytes lifts the planner clamp DURING the build, restores it after") {
    import spark.implicits._
    val df = Seq("a", "b", "c").toDF("k")
    val itemsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
    val bitsKey = "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"
    val (items0, bits0) = (spark.conf.get(itemsKey), spark.conf.get(bitsKey))
    // 20M items need ~192M bits — well past the 64M-bit planner default,
    // so an un-lifted clamp would silently build an 8 MB / ~50% fp filter
    val bloom = graft.operators.Sketch.bloomBytes(df, col("k"),
      expectedItems = 20000000L).get
    assert(bloom.length > 20 * 1000 * 1000, // ~24 MB if the lift applied
      s"bloom is ${bloom.length} bytes — the conf clamp was not lifted")
    // ... and the session's planner limits are back where they were:
    // the lift must not leak into unrelated queries' runtime filters
    assert(spark.conf.get(itemsKey) == items0 && spark.conf.get(bitsKey) == bits0)
    // membership still exact on inserted keys (no false negatives)
    val probed = df.select(graft.operators.Sketch.mightContain(bloom, col("k")))
      .collect().map(_.getBoolean(0))
    assert(probed.forall(identity))
  }

  test("chunkTokens: null text yields no chunks (no phantom token counts)") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, null: String)).toDF("doc_id", "text")
    val chunks = TextOps.chunkTokens(df, "text", "doc_id", chunk = 4, overlap = 1)
      .collect()
    assert(chunks.forall(_.getLong(0) == 1L)) // the null doc emitted nothing
  }

  test("redactPii is idempotent and stable on placeholder tokens") {
    import spark.implicits._
    val rnd = new scala.util.Random(31)
    val frags = Seq("plain words", "a@b.cc", "10.0.0.1", "123456789012",
      "<EMAIL>", "<IP>", "<NUM>", "x1.2.3", "mail-at@ex.org end")
    val texts = (0 until 60).map(_ =>
      Seq.fill(4)(frags(rnd.nextInt(frags.length))).mkString(" "))
    val rows = texts.toDF("t").select(
        TextOps.redactPii(col("t")).as("once"),
        TextOps.redactPii(TextOps.redactPii(col("t"))).as("twice"))
      .collect()
    rows.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("packBudget property: random budgets/streams match the driver model") {
    import spark.implicits._
    val rnd = new scala.util.Random(47)
    for (trial <- 0 until 3) {
      val budget = 20L + rnd.nextInt(200)
      val streams = 1 + rnd.nextInt(6)
      val rows = (0L until 150L).map(i => (i, 1L + rnd.nextInt(30)))
      val got = graft.operators.Sampling.packBudget(
          rows.toDF("id", "toks"), "toks", "id", budget, streams)
        .select(col("id"), col("stream").cast("long"), col("batch").cast("long"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      // driver model: same fingerprint stream, same exclusive-cumsum rule
      val byStream = rows.groupBy { case (id, _) =>
        graft.operators.TextOps.fingerprintOf(id.toString) % streams
      }
      byStream.foreach { case (stream, rs) =>
        var cum = 0L
        rs.sortBy(_._1).foreach { case (id, tk) =>
          assert(got(id) == ((stream, cum / budget)), s"trial=$trial id=$id")
          cum += tk
        }
      }
    }
  }

  test("packBudget: greedy-boundary semantics per stream; partitioning-invariant") {
    import spark.implicits._
    val rows = (0L until 100L).map(i => (i, 10L + (i % 7))).toDF("id", "toks")
    val packed = graft.operators.Sampling.packBudget(rows, "toks", "id",
        budget = 50, streams = 4)
      .select(col("id"), col("toks"), col("stream").cast("long"), col("batch").cast("long"))
    val got = packed.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.length == 100 && got.map(_._3).distinct.length > 1)
    got.groupBy(_._3).foreach { case (_, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (_, tk, _, b) =>
        assert(b == cum / 50) // batch = exclusive-cumsum // budget
        cum += tk
      }
    }
    val repacked = graft.operators.Sampling.packBudget(rows.repartition(7), "toks", "id",
        budget = 50, streams = 4)
      .select(col("id"), col("batch").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(repacked == got.map(r => (r._1, r._4)).toSet)
  }

  test("shardManifest: layout-invariant, matches driver model, detects corruption") {
    import spark.implicits._
    val rows = (0L until 300L).map(i => (i, s"doc $i body ${"w " * (i % 5).toInt}".trim))
    val df = rows.toDF("id", "text")
    def manifest(d: org.apache.spark.sql.DataFrame) =
      graft.operators.Sampling.shardManifest(d, "id", "text", nShards = 8)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val m1 = manifest(df)
    // partition layout / row order never moves the manifest
    assert(manifest(df.repartition(13)) == m1)
    assert(manifest(df.orderBy(col("text"))) == m1)
    // driver model: same fingerprint arithmetic
    val fpOf = (s: String) => graft.operators.TextOps.fingerprintOf(s)
    val want = rows.groupBy { case (id, _) => fpOf(id.toString) % 8 }
      .map { case (sh, rs) =>
        sh -> (rs.size.toLong,
          rs.map(_._2.split(' ').length.toLong).sum,
          rs.map(_._1).min, rs.map(_._1).max,
          rs.map { case (id, t) => fpOf(s"$id:$t") }.sum)
      }
    assert(m1 == want)
    // a single flipped byte moves exactly that shard's checksum
    val corrupted = df.withColumn("text",
      when(col("id") === 17L, concat(col("text"), lit("!"))).otherwise(col("text")))
    val m2 = manifest(corrupted)
    val dirty = fpOf("17") % 8
    assert(m2(dirty)._5 != m1(dirty)._5)
    assert(m2.filterNot(_._1 == dirty) == m1.filterNot(_._1 == dirty))
  }

  test("capPerLabel property: equals the driver fingerprint-rank model") {
    import spark.implicits._
    val rnd = new scala.util.Random(61)
    val rows = (0L until 200L).map(i => (i, s"lab${rnd.nextInt(4)}"))
    for (maxN <- Seq(1, 7, 30)) {
      val got = graft.operators.Sampling.capPerLabel(
          rows.toDF("id", "label"), "id", "label", maxN)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      val expected = rows.groupBy(_._2).flatMap { case (_, rs) =>
        rs.sortBy { case (id, _) =>
          (graft.operators.TextOps.fingerprintOf(id.toString) % 100000, id)
        }.take(maxN)
      }.toSet
      assert(got == expected, s"maxN=$maxN")
    }
  }

  test("weightedMix property: equals the driver floor+frac-bucket model") {
    import spark.implicits._
    val rnd = new scala.util.Random(67)
    val weights = Map("a" -> 2.5, "b" -> 0.37, "c" -> 1.0)
    val rows = (0L until 300L).map(i => (i, s"${('a' + rnd.nextInt(4)).toChar}"))
    val got = graft.operators.Sampling.weightedMix(
        rows.toDF("id", "label"), "id", "label", weights, defaultWeight = 0.1)
      .groupBy("id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { case (id, lab) =>
      val pct = math.round(weights.getOrElse(lab, 0.1) * 100)
      val bucket = graft.operators.TextOps.fingerprintOf(id.toString) % 100
      val copies = pct / 100 + (if (bucket < pct % 100) 1 else 0)
      assert(got.getOrElse(id, 0L) == copies, s"id=$id lab=$lab")
    }
  }

  test("capPerLabel: at most N per label, deterministic keep-set, growth-stable") {
    import spark.implicits._
    val df = (0L until 300L).map(i => (i, s"s${i % 3}")).toDF("id", "label")
    val kept = graft.operators.Sampling.capPerLabel(df, "id", "label", 20)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.groupBy(_._2).forall(_._2.length == 20))
    // deterministic under repartitioning
    val kept2 = graft.operators.Sampling.capPerLabel(df.repartition(11), "id", "label", 20)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSet == kept2.toSet)
    // growth stability: adding rows only displaces, never reshuffles —
    // the kept set of the grown corpus restricted to old rows is a
    // superset-minus-displacement of the old kept set
    val grown = df.unionByName(
      (300L until 330L).map(i => (i, s"s${i % 3}")).toDF("id", "label"))
    val keptGrown = graft.operators.Sampling.capPerLabel(grown, "id", "label", 20)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    // every newly-kept old row was already kept before growth
    assert(keptGrown.filter(_._1 < 300).subsetOf(kept.toSet))
    // labels under the cap pass through whole
    val small = graft.operators.Sampling.capPerLabel(df.filter(col("id") < 10), "id", "label", 20)
    assert(small.count() == 10)
  }

  test("weightedMix: per-id multiplicity floor(w)/floor(w)+1, zero-weight drop, partition invariance") {
    import spark.implicits._
    val df = (0L until 1000L).map(i => (i, if (i % 2 == 0) "a" else "b")).toDF("id", "label")
    val out = graft.operators.Sampling.weightedMix(df, "id", "label",
      Map("a" -> 2.5, "b" -> 0.4))
    val counts = out.groupBy("label").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(counts("a") > 1100 && counts("a") < 1400) // 500 ids x ~2.5
    assert(counts("b") > 130 && counts("b") < 270)   // 500 ids x ~0.4
    val perId = out.filter(col("label") === "a").groupBy("id").count()
      .collect().map(_.getLong(1)).toSet
    assert(perId.subsetOf(Set(2L, 3L)))
    val epochs = out.filter(col("id") === out.filter(col("label") === "a")
      .groupBy("id").count().filter(col("count") === 3).select("id").first().getLong(0))
      .select("epoch").collect().map(_.getLong(0)).toSet
    assert(epochs == Set(0L, 1L, 2L))
    val zero = graft.operators.Sampling.weightedMix(df, "id", "label",
      Map("a" -> 0.0), defaultWeight = 1.0)
    assert(zero.filter(col("label") === "a").count() == 0)
    assert(zero.filter(col("label") === "b").count() == 500)
    val base = out.groupBy("id").count().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val re = graft.operators.Sampling.weightedMix(df.repartition(13), "id", "label",
        Map("a" -> 2.5, "b" -> 0.4))
      .groupBy("id").count().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(re == base)
  }

  test("unigramLogProb: hand-computed LM scores; repeated tokens raise the score") {
    import spark.implicits._
    val df = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    // corpus counts: a=2, b=2, c=1, N=5
    val got = TextOps.unigramLogProb(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val ln = (x: Double) => math.log(x)
    assert(math.abs(got(1L)._1 - (2 * ln(2 / 5.0) + ln(2 / 5.0)) / 3) < 1e-12)
    assert(math.abs(got(2L)._1 - (ln(2 / 5.0) + ln(1 / 5.0)) / 2) < 1e-12)
    assert(got(1L)._2 == 3 && got(2L)._2 == 2)
    assert(got(1L)._1 > got(2L)._1) // common-token doc scores higher
  }

  test("normalizeUnicode: NFC composes combining marks; idempotent; null-safe") {
    import spark.implicits._
    val decomposed = "cafe\u0301 A\u030a"
    val precomposed = "caf\u00e9 \u00c5"
    val got = Seq(Some(decomposed), Some(precomposed), None).toDF("t")
      .select(TextOps.normalizeUnicode(col("t")).as("n")).collect()
    assert(got(0).getString(0) == precomposed)
    assert(got(1).getString(0) == precomposed) // already-NFC passes through
    assert(got(2).isNullAt(0))
    // identical dedup keys after normalization
    val keys = Seq(decomposed, precomposed).toDF("t")
      .select(TextOps.fingerprint(TextOps.normalizeUnicode(col("t"))).as("f"))
      .collect().map(_.getLong(0))
    assert(keys(0) == keys(1))
    // SQL surface
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT graft_nfc(\'cafe\u0301\')").collect()(0).getString(0)
    assert(viaSql == "caf\u00e9")
  }

  test("dropRepeatedSegments: first occurrence kept in order; distinct would reorder") {
    import spark.implicits._
    val df = Seq((1L, "b. a. b. c. a"), (2L, "x"), (3L, "z. z. z")).toDF("id", "t")
    val out = TextOps.dropRepeatedSegments(df, "t", ". ", "clean")
      .orderBy("id").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    assert(out(0) == (("b. a. c", 2L)))
    assert(out(1) == (("x", 0L)))
    assert(out(2) == (("z", 2L)))
  }

  test("dropFrequentLines: corpus-frequent segments removed, unique bodies survive") {
    import spark.implicits._
    // footer "ad" in 3 of 4 docs (75% > 50%); each body unique; doc 4's
    // every segment is boilerplate -> comes back empty
    val df = Seq(
      (1L, "alpha one. ad"), (2L, "beta two. ad"),
      (3L, "gamma three"), (4L, "ad")).toDF("id", "t")
    val out = TextOps.dropFrequentLines(df, "t", "id", ". ", 0.5, "clean")
      .orderBy("id").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    assert(out(0) == (("alpha one", 1L)))
    assert(out(1) == (("beta two", 1L)))
    assert(out(2) == (("gamma three", 0L)))
    assert(out(3) == (("", 1L)))
  }

  test("dropFrequentLines: within-doc repeats count the doc once; order preserved") {
    import spark.implicits._
    // "x" repeats inside doc 1 but appears in only 1 of 3 docs (33% < 50%)
    // -> NOT frequent; doc 3's interleaved footer removal keeps body order
    val df = Seq(
      (1L, "x. x. x"), (2L, "body b. footer"),
      (3L, "footer. first. footer. second")).toDF("id", "t")
    val out = TextOps.dropFrequentLines(df, "t", "id", ". ", 0.5, "clean")
      .orderBy("id").collect()
      .map(r => (r.getString(2), r.getLong(3)))
    assert(out(0) == (("x. x. x", 0L)))
    assert(out(1) == (("body b", 1L)))
    assert(out(2) == (("first. second", 2L)))
  }

  test("ngramCollisions: embedded verbatim quote flagged; clean docs zero") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely different words with no overlap at all here"),
      (3L, "prefix text quick brown fox jumps over suffix text")).toDF("doc_id", "text")
    val evalSet = Seq((100L, "quick brown fox jumps over")).toDF("doc_id", "text")
    val got = Dedup.ngramCollisions(train, evalSet, "text", "doc_id", n = 5)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(r.fieldIndex("n_collisions")),
        r.getBoolean(r.fieldIndex("contaminated"))))
    assert(got(0) == ((1L, true)))  // the quote appears verbatim
    assert(got(1) == ((0L, false)))
    assert(got(2) == ((1L, true)))  // embedded mid-doc
    val kept = Dedup.dropNgramContaminated(train, evalSet, "text", "doc_id", n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
  }

  test("ngramCollisions counts DISTINCT shared n-grams per doc") {
    import spark.implicits._
    // doc repeats the quote twice -> the 5-gram is one distinct collision;
    // a longer shared run contributes one collision per distinct 5-gram
    val train = Seq(
      (1L, "a b c d e x a b c d e"),
      (2L, "a b c d e f")).toDF("doc_id", "text")
    val evalSet = Seq((9L, "a b c d e f")).toDF("doc_id", "text")
    val got = Dedup.ngramCollisions(train, evalSet, "text", "doc_id", n = 5)
      .orderBy("doc_id").collect()
      .map(_.getLong(2))
    assert(got(0) == 1L) // "a b c d e" once, despite two occurrences
    assert(got(1) == 2L) // "a b c d e" and "b c d e f"
  }

  test("urlDomains extracts hosts; non-URLs untouched") {
    import spark.implicits._
    val got = Seq("go to https://a.example.com/x and http://b.org, not ftp://c.net or plain words")
      .toDF("text")
      .select(TextOps.urlDomains(col("text")).as("d"))
      .collect()(0).getSeq[String](0)
    assert(got == Seq("a.example.com", "b.org"))
  }

  test("crossCorpusNearDups flags planted contamination, both hash families") {
    import spark.implicits._
    val train = docs.select("doc_id", "text")
    val evalSet = train.filter(col("doc_id") < 2)
      .select((col("doc_id") + 900L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    for (fam <- Seq(Dedup.MinhashFamily.xxhash, Dedup.MinhashFamily.polynomial)) {
      val hits = Dedup.crossCorpusNearDups(train, evalSet, "text", "doc_id",
          threshold = 0.5, family = fam)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(hits.contains((0L, 900L)) && hits.contains((1L, 901L)))
      assert(!hits.exists(_._1 == 3L)) // the unrelated doc never matches
    }
  }

  test("nearDupsAgainstIndex: persisted signatures match the two-sided pipeline") {
    import spark.implicits._
    val train = docs.select("doc_id", "text")
    val probe = train.filter(col("doc_id") < 2)
      .select((col("doc_id") + 900L).as("doc_id"),
        concat(col("text"), lit(" tail")).as("text"))
    // "persist" the index: signatures round-trip through parquet
    val dir = java.nio.file.Files.createTempDirectory("graft_sigidx")
      .resolve("index").toString
    Dedup.minhashSignatures(train, "text", "doc_id", k = 16, shingleN = 3)
      .write.parquet(dir)
    val stored = spark.read.parquet(dir)
    val viaIndex = Dedup.nearDupsAgainstIndex(probe, stored, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val direct = Dedup.crossCorpusNearDups(train, probe, "text", "doc_id",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaIndex == direct && viaIndex.contains((0L, 900L)))
  }

  test("bloom sketch: no false negatives; bounded false-positive rate") {
    import spark.implicits._
    val corpus = (0L until 2000L).map(i => s"doc text number $i").toDF("text")
    val bloom = graft.operators.Sketch.bloomBytes(corpus, col("text"), 2000L).get
    val hits = corpus.filter(graft.operators.Sketch.mightContain(bloom, col("text"))).count()
    assert(hits == 2000L) // every inserted key must probe positive
    val fresh = (0L until 2000L).map(i => s"unseen text $i").toDF("text")
    val fp = fresh.filter(graft.operators.Sketch.mightContain(bloom, col("text"))).count()
    assert(fp < 100L, s"false-positive count $fp far above the 1% design point")
  }

  test("dropIncrementalDupsBloom equals the exact anti-join path") {
    import spark.implicits._
    val all = (0L until 300L).map { i =>
      (i, if (i % 7 == 0) "shared boilerplate" else s"text $i")
    }.toDF("doc_id", "text")
    val corpus = all.filter(col("doc_id") < 200)
    val incoming = all.filter(col("doc_id") >= 200)
      // plant a within-batch dup pair too
      .unionByName(Seq((9001L, "text 250")).toDF("doc_id", "text"))
    val exact = Dedup.dropIncrementalDups(incoming, corpus, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet
    val bloomed = Dedup.dropIncrementalDupsBloom(incoming, corpus, "text", "doc_id",
        expectedCorpusItems = 200)
      .collect().map(_.getLong(0)).toSet
    assert(bloomed == exact)
    // empty corpus falls back to within-batch dedup
    val none = Dedup.dropIncrementalDupsBloom(incoming, corpus.filter(lit(false)),
        "text", "doc_id", expectedCorpusItems = 1)
      .collect().map(_.getLong(0)).toSet
    assert(none == Dedup.dropExactDups(incoming, "text", "doc_id")
      .collect().map(_.getLong(0)).toSet)
  }

  test("connectedComponents keeps natural id types (string/hash ids work)") {
    import spark.implicits._
    val pairs = Seq(("doc_b", "doc_a"), ("doc_b", "doc_c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(cc == Map("doc_a" -> "doc_a", "doc_b" -> "doc_a", "doc_c" -> "doc_a",
      "x" -> "x", "y" -> "x"))
  }

  test("connectedComponents: chains close transitively, min-id roots") {
    import spark.implicits._
    // two components: a 4-chain (1-2-3-4) and a pair (10-11); edges given
    // in arbitrary orientation
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (11L, 10L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connectedComponents: long path converges within the round bound") {
    import spark.implicits._
    // a 64-node path needs ~log2(64) pointer-jumped rounds, far under 25
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, "id_a", "id_b").collect()
    assert(cc.length == 64 && cc.forall(_.getLong(1) == 0L))
  }

  test("connectedComponents: seeded random graph matches driver union-find") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val n = 40
    val edges = Seq.fill(50)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // driver-side union-find ground truth
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
    val nodes = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val expected = nodes.map { id =>
      val root = find(id.toInt)
      id -> nodes.filter(m => find(m.toInt) == root).min
    }.toMap
    val cc = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == expected)
  }

  test("connectedComponentsStar: adversarial shuffled-id path + random graphs + strings") {
    import spark.implicits._
    // the case the variant exists for: a high-diameter PATH graph with
    // ids SHUFFLED so hash-min's label chains can't mirror the graph —
    // star contraction's round bound is diameter-independent
    val rnd = new scala.util.Random(13)
    val perm = rnd.shuffle((0L until 120L).toVector)
    val path = (0 until 119).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = asMap(Dedup.connectedComponentsStar(path, "id_a", "id_b"))
    assert(star.size == 120 && star.values.forall(_ == 0L),
      "single path component must root at the global min")
    // seeded random graphs: star == hash-min distributed (these converge
    // inside the round budget, no fallback involved)
    for (trial <- 0 until 3) {
      val n = 30 + trial * 17
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val df = edges.toDF("id_a", "id_b")
      assert(asMap(Dedup.connectedComponentsStar(df, "id_a", "id_b")) ==
        asMap(Dedup.connectedComponents(df, "id_a", "id_b", smallGraphLimit = 0L)),
        s"trial $trial diverged")
    }
    // string ids: Spark ordering used on both sides
    val spairs = Seq(("doc_b", "doc_a"), ("doc_b", "doc_c"), ("x", "y"))
      .toDF("id_a", "id_b")
    val got = Dedup.connectedComponentsStar(spairs, "id_a", "id_b")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("doc_a" -> "doc_a", "doc_b" -> "doc_a", "doc_c" -> "doc_a",
      "x" -> "x", "y" -> "x"))
  }

  test("connectedComponents falls back to star contraction instead of returning unconverged labels") {
    import spark.implicits._
    // a shuffled-id path makes hash-min's min-frontier walk ~1 hop/round:
    // with maxRounds=3 it CANNOT converge, and pre-fallback the result
    // was silently wrong. The star fallback must finish it exactly.
    val rnd = new scala.util.Random(29)
    val perm = rnd.shuffle((0L until 80L).toVector)
    val path = (0 until 79).map(i => (perm(i), perm(i + 1))).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(path, "id_a", "id_b",
        maxRounds = 3, smallGraphLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc.size == 80 && cc.values.forall(_ == 0L),
      s"fallback produced wrong roots: ${cc.values.toSet}")
  }

  test("connectedComponents drops null-id edges on both paths") {
    import spark.implicits._
    val pairs = Seq((Some("a"), Some("b")), (None, Some("c")), (Some("d"), None))
      .toDF("id_a", "id_b")
    for (limit <- Seq(1L << 20, 0L)) {
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b", smallGraphLimit = limit)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(cc == Map("a" -> "a", "b" -> "a")) // null edges contribute nothing
    }
  }

  test("connectedComponents: distributed path (smallGraphLimit=0) == driver fast path") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val graphs: Seq[org.apache.spark.sql.DataFrame] = Seq(
      Seq((2L, 1L), (2L, 3L), (4L, 3L), (11L, 10L)).toDF("id_a", "id_b"),
      (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b"),
      Seq.fill(60)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
        .filter { case (a, b) => a != b }.toDF("id_a", "id_b"))
    graphs.foreach { g =>
      val fast = Dedup.connectedComponents(g, "id_a", "id_b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val dist = Dedup.connectedComponents(g, "id_a", "id_b", smallGraphLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == fast)
    }
  }

  test("dropNearDupClusters keeps the canonical member plus untouched rows") {
    import spark.implicits._
    val docs = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (9L, "e")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.dropNearDupClusters(docs, pairs, "id_a", "id_b", "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 4L, 9L))
  }

  test("fuzzyJoinLev: within-distance pairs linked, beyond-distance dropped") {
    import spark.implicits._
    val l = Seq((1L, "chartreuse blanket"), (2L, "midnight saddle")).toDF("lid", "ls")
    val r = Seq((10L, "chartreuse blankot"),   // 1 sub
      (11L, "midnight saddle v2"),             // 3 inserts
      (12L, "completely different thing")).toDF("rid", "rs")
    val out = graft.operators.Joins.fuzzyJoinLev(l, r, "lid", "ls", "rid", "rs", 3)
      .collect().map(row => (row.getLong(0), row.getLong(1), row.getInt(2))).toSet
    assert(out == Set((1L, 10L, 1), (2L, 11L, 3)))
  }

  test("oovProfile: per-doc token/oov counts against a vocab table") {
    import spark.implicits._
    val docs = Seq((1L, "a b c"), (2L, "a zz qq"), (3L, "zz")).toDF("doc_id", "text")
    val vocab = Seq("a", "b", "c").toDF("token")
    val out = graft.operators.TextOps.oovProfile(docs, "text", "doc_id", vocab, "token")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 3L, 0L), (2L, 3L, 2L), (3L, 1L, 1L)))
  }

  test("hardNegatives: same-label excluded, top-k by cosine, deterministic ties") {
    import spark.implicits._
    val emb = Seq(
      (1L, 0, Array(1.0f, 0.0f)),
      (2L, 0, Array(0.99f, 0.1f)),  // same label as anchor: excluded
      (3L, 1, Array(0.9f, 0.4f)),   // best cross-label
      (4L, 1, Array(0.0f, 1.0f)),   // orthogonal
      (5L, 2, Array(-1.0f, 0.0f)))  // anti-parallel
      .toDF("vec_id", "label", "embedding")
    val out = graft.operators.Similarity.hardNegatives(
        emb, emb.filter($"vec_id" === 1L), "vec_id", "embedding", "label", 2)
      .orderBy("rank").collect().map(r => (r.getInt(1), r.getLong(2))).toSeq
    assert(out == Seq((1, 3L), (2, 4L)))
  }

  test("writeSized: row preservation and a plausible file count") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, s"row-$i-payload")).toDF("id", "s")
    val path = java.nio.file.Files.createTempDirectory("sized").toString + "/out"
    val n = graft.operators.Layout.writeSized(df, path, targetBytes = 16 * 1024)
    val files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(files == n && n >= 1)
    assert(spark.read.parquet(path).count() == 5000L)
  }

  test("semanticDecontaminate: planted paraphrase flagged, rest clean, argmax id") {
    import spark.implicits._
    val evalSet = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (100L, Array(2.0f, 0.02f)),   // ~parallel to eval 1
      (101L, Array(1.0f, 1.0f)),    // cos .707 to both: below threshold
      (102L, Array(0.0f, -3.0f)))   // anti-parallel: below
      .toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .semanticDecontaminate(corpus, evalSet, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(out == Seq((100L, 1L)))
  }

  test("keepBest: per-cluster metric argmax, tie to smallest id, singletons kept") {
    import spark.implicits._
    val docs = Seq((1L, "short", 5.0), (2L, "longest text", 9.0), (3L, "mid", 9.0),
      (4L, "solo", 1.0), (9L, "other", 2.0)).toDF("doc_id", "text", "q")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val kept = Dedup.keepBest(docs, "doc_id", pairs, "id_a", "id_b", col("q"))
      .select("doc_id", "cluster_id", "n_members").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // cluster {1,2,3}: q ties 2 vs 3 at 9.0 -> smallest id (2) kept
    assert(kept == Set((2L, 1L, 3L), (4L, 4L, 1L), (9L, 9L, 1L)))
  }

  test("exactNearDupPairs: grid decomposition is invariant (equals plain all-pairs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 60L).map(i =>
      (i, i % 3, Array.fill(8)(rnd.nextGaussian().toFloat))).toDF("vec_id", "label", "embedding")
    def pairs(grid: Int) = Similarity.exactNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.2, blockCols = Seq("label"), grid = grid)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val plain = pairs(1) // 1x1 grid == plain blocked self-join
    assert(pairs(4) == plain && pairs(7) == plain)
    // sanity: same-label constraint respected and pairs exist
    assert(plain.nonEmpty)
    assert(plain.forall { case (x, y) => x % 3 == y % 3 && x < y })
  }

  test("exactNearDupPairs: duplicate-heavy corpus equals driver brute force") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    // 12 distinct vectors, each replicated 3x (distinct ids) -> the
    // dup-collapse path must still emit every member pair, including the
    // intra-group (identical-vector) ones, with the same cosines the
    // naive all-pairs arithmetic produces
    val distinctVecs = (0 until 12).map(_ => Array.fill(6)(rnd.nextGaussian().toFloat))
    val rows = for (rep <- 0 until 3; i <- 0 until 12)
      yield (rep * 100L + i, i % 2, distinctVecs(i))
    val vecs = rows.toDF("vec_id", "label", "embedding")
    val got = Similarity.exactNearDupPairs(vecs, "vec_id", "embedding",
        threshold = 0.2, blockCols = Seq("label"), grid = 3)
      .select("id_a", "id_b", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { d += a(k).toDouble * b(k); na += a(k).toDouble * a(k); nb += b(k).toDouble * b(k) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (ia, la, va) <- rows; (ib, lb, vb) <- rows
      if ia < ib && la == lb
      c = cos(va, vb) if c >= 0.2
    } yield (ia, ib, c)).toSet
    assert(got.map(p => (p._1, p._2)) == want.map(p => (p._1, p._2)))
    // cosines match to float-accumulation exactness (identical arithmetic)
    val wm = want.map(p => (p._1, p._2) -> p._3).toMap
    got.foreach { case (a, b, c) => assert(math.abs(c - wm((a, b))) < 1e-9) }
  }

  test("semDedupPinned: duplicate-heavy corpus equals the uncollapsed greedy rule") {
    import spark.implicits._
    val rnd = new scala.util.Random(37)
    val cents = Array.fill(3)(Array.fill(6)(rnd.nextGaussian().toFloat))
    // 15 distinct vectors: 5 fresh + 5 perturbed near-dups of them + 5
    // noise, each replicated 3x with distinct ids — intra groups (cos=1),
    // cross near-dup groups, and interleaved ranks all occur
    val baseV = Array.fill(5)(Array.fill(6)(rnd.nextGaussian().toFloat))
    val nearV = baseV.map(v => v.map(x => x + 0.03f * rnd.nextGaussian().toFloat))
    val noise = Array.fill(5)(Array.fill(6)(rnd.nextGaussian().toFloat))
    val all = baseV ++ nearV ++ noise
    val rows = for (rep <- 0 until 3; i <- all.indices)
      yield (rep * 100L + i, all(i))
    val vecs = rows.toDF("vec_id", "embedding")
    val got = Similarity.semDedupPinned(vecs, "vec_id", "embedding", cents, tau = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // uncollapsed reference: the pre-collapse ordered-pair join verbatim
    val naive = {
      val simStructs = cents.zipWithIndex.map { case (cv, i) =>
        struct(Similarity.cosine(col("embedding"), typedLit(cv.toSeq)).as("sim"),
          lit(-i).as("negcell"))
      }
      val best = element_at(reverse(array_sort(array(simStructs.toIndexedSeq: _*))), 1)
      val assigned = vecs.withColumn("__bc", best)
        .withColumn("cell", -col("__bc.negcell"))
        .withColumn("centroid_sim", col("__bc.sim")).drop("__bc")
      val e = assigned.select(col("vec_id"), col("embedding").as("__v"),
        Similarity.l2Norm(col("embedding")).as("__n"), col("cell"), col("centroid_sim"))
      val a = e.select(col("vec_id").as("id_a"), col("__v").as("va"), col("__n").as("na"),
        col("cell"), col("centroid_sim").as("csim_a"))
      val b = e.select(col("vec_id").as("id_b"), col("__v").as("vb"), col("__n").as("nb"),
        col("cell"), col("centroid_sim").as("csim_b"))
      val losers = a.join(b, Seq("cell"))
        .filter(col("id_a") =!= col("id_b"))
        .filter(struct(col("csim_a"), col("id_a")) < struct(col("csim_b"), col("id_b")))
        .filter(Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")) > 0.9)
        .select(col("id_b").as("vec_id")).distinct()
      assigned.join(losers, Seq("vec_id"), "left_anti")
        .select("vec_id").collect().map(_.getLong(0)).toSet
    }
    assert(got == naive)
    // sanity: dup groups keep exactly their first member, so the survivor
    // count is well below the row count but every distinct direction survives
    assert(got.size == naive.size && got.size < rows.size)
  }

  test("lshNearDupPairs: full recall vs exact at a high threshold") {
    import spark.implicits._
    val rnd = new scala.util.Random(19)
    // planted: 20 base vectors, each with a near-dup (small perturbation)
    val base = (0L until 20L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val dups = base.map { case (i, v) =>
      (i + 100L, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val noise = (200L until 260L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = (base ++ dups ++ noise).toDF("vec_id", "embedding")
    val exact = Similarity.exactNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshNearDupPairs(vecs, "vec_id", "embedding", threshold = 0.9)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 15)       // most planted pairs survive the threshold
    assert(lsh == exact)           // banded candidates catch every >=0.9 pair here
  }

  test("filterColumns and eachColumn") {
    import spark.implicits._
    import org.apache.spark.sql.types.NumericType
    val df = Seq((1L, "x", 2.5)).toDF("a", "s", "d")
    val numeric = graft.core.Table.of(df)
      .filterColumns(_.dataType.isInstanceOf[NumericType])
    assert(numeric.columnNames == Seq("a", "d"))
    val doubled = graft.core.Table.of(df.select("a", "d"))
      .eachColumn((c, _) => c * 2)
    assert(doubled.toDF.collect()(0).toSeq == Seq(2L, 5.0))
  }

  test("native dot/cosine expressions match the HOF formulation bit-exactly") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val vecs = (0L until 40L).map(i =>
      (i, Array.fill(64)(rnd.nextGaussian().toFloat), Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("id", "a", "b")
    val rows = vecs.select(
      Similarity.dot(col("a"), col("b")).as("nd"),
      Similarity.dotHof(col("a"), col("b")).as("hd"),
      Similarity.cosine(col("a"), col("b")).as("nc"),
      (Similarity.dotHof(col("a"), col("b")) /
        (sqrt(Similarity.dotHof(col("a"), col("a"))) *
         sqrt(Similarity.dotHof(col("b"), col("b"))))).as("hc"))
      .collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1)) // bit-exact dot
      assert(r.getDouble(2) == r.getDouble(3)) // bit-exact cosine
    }
    // null on length mismatch and zero norm
    val edge = Seq((Array(1.0f, 2.0f), Array(1.0f), Array(0.0f, 0.0f)))
      .toDF("a", "b", "z")
    val e = edge.select(Similarity.dot(col("a"), col("b")).as("mismatch"),
      Similarity.cosine(col("a"), col("z").as("z2")).as("zeronorm_wronglen"),
      Similarity.cosine(col("z"), col("z")).as("zeronorm")).collect()(0)
    assert(e.isNullAt(0))
    assert(e.isNullAt(2))
  }

  test("PQ-ADC: asymmetric zero on own cluster, deterministic ties, sqDist contract") {
    import spark.implicits._
    // sqDist unit contract first: codegen'd Σ(a-b)^2, null on mismatch
    val sq = Seq((Seq(1.0, 2.0), Seq(3.0, 5.0), Seq(1.0f, 1.0f, 1.0f)))
      .toDF("a", "b", "f")
      .select(Similarity.sqDistCol(col("a"), col("b")).as("d"),
        Similarity.sqDistCol(col("a"), col("f")).as("mismatch")).head()
    assert(sq.getDouble(0) == 13.0)
    assert(sq.isNullAt(1))
    // 4 well-separated centers in R^16; 20 noisy members each; codebooks
    // pinned AT the centers (m=4, K=4). A query sitting ON center i has
    // ADC-table entry 0 for codeword i in every subspace, and every
    // member of cluster i encodes to codeword i -> adc_dist EXACTLY 0,
    // so its top-10 is the 10 smallest member ids of its own cluster
    // (the deterministic id tie-break among the zero distances).
    val rnd = new scala.util.Random(17)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 10))
    val members = (0 until 80).map { i =>
      val c = centers(i % 4)
      (100L + i, c.map(x => x + rnd.nextGaussian() * 0.05).toSeq)
    }
    val corpus = members.toDF("vec_id", "embedding")
    val queries = centers.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq.toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksFromRows(centers, m = 4)
    val got = Similarity.pqTopKADC(corpus, queries, "vec_id", "embedding", 10, books)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    for (qi <- 0 until 4) {
      val mine = got.filter(_._1 == qi).sortBy(_._2)
      val expectIds = members.map(_._1).filter(id => (id - 100) % 4 == qi).sorted.take(10)
      assert(mine.map(_._3).toSeq == expectIds, s"query $qi neighbors")
      assert(mine.forall(_._4 == 0.0), s"query $qi asymmetric distance must be exactly 0")
    }
    // duplicate codewords: encoding takes the FIRST index of the min
    val dupBooks = Similarity.pqCodebooksFromRows(
      Array(centers(0), centers(0), centers(1)), m = 4)
    val one = Similarity.pqTopKADC(corpus.limit(1), queries.filter($"vec_id" === 0),
      "vec_id", "embedding", 1, dupBooks).collect()
    assert(one.length == 1) // builds + ranks without ambiguity

    // IVF-PQ composition: probing EVERY cell must equal flat PQ exactly
    // (pruning only removes candidates; with none removed the scores,
    // ties and ranks are identical), and nProbe=1 keeps each
    // center-query inside its own cluster's cell — top-10 still the
    // zero-distance members
    val cellCents = centers.map(_.map(_.toFloat))
    val flat = Similarity.pqTopKADC(corpus, queries, "vec_id", "embedding", 10, books)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val fullProbe = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        10, cellCents, nProbe = 4, books)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(fullProbe == flat, "full probe must equal flat PQ")
    val probe1 = Similarity.ivfPqTopK(corpus, queries, "vec_id", "embedding",
        10, cellCents, nProbe = 1, books)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(probe1.length == 40) // 10 per query
    assert(probe1.forall(_._4 == 0.0), "own-cell members quantize to distance 0")

    // null vectors drop — a null ADC distance would otherwise sort FIRST
    // in the rank window and fabricate neighbors
    val withNull = corpus.unionByName(
      Seq((999L, Option.empty[Seq[Double]])).toDF("vec_id", "embedding"))
    val gotN = Similarity.pqTopKADC(withNull, queries, "vec_id", "embedding", 10, books)
      .collect()
    assert(!gotN.exists(_.getLong(2) == 999L))
    val gotN2 = Similarity.ivfPqTopK(withNull, queries, "vec_id", "embedding",
      10, cellCents, nProbe = 4, books).collect()
    assert(!gotN2.exists(_.getLong(2) == 999L))

    // wrong-DIMENSION vectors (null ADC distance via sqDist's length
    // contract) must not fabricate neighbors either. This pins the
    // r12 null-guard move: it now ranks NULLS LAST and filters ABOVE
    // the rank window (the pre-window filter made the optimizer inline
    // the full codebook chain 256x into a pushed-down Filter) — the
    // result contract is unchanged
    val withShort = corpus.unionByName(
      Seq((998L, Seq(1.0, 2.0))).toDF("vec_id", "embedding"))
    val gotS = Similarity.pqTopKADC(withShort, queries, "vec_id", "embedding",
      10, books).collect()
    assert(!gotS.exists(_.getLong(2) == 998L))
    assert(gotS.length == 40 && gotS.forall(!_.isNullAt(3)),
      "short vector must neither rank nor leave a null adc_dist")
  }

  test("hadamardSignRotate: orthogonal (norms/dots preserved), deterministic, power-of-two gate") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = (0L until 20L).map(i => (i, Seq.fill(16)(rnd.nextDouble() * 2 - 1)))
    val df = rows.toDF("id", "v")
    val rot = df.select($"id", Similarity.hadamardSignRotate($"v", 16).as("y"),
        $"v")
      .as[(Long, Seq[Double], Seq[Double])].collect()
    rot.foreach { case (_, y, x) =>
      val ny = y.map(a => a * a).sum
      val nx = x.map(a => a * a).sum
      assert(math.abs(ny - nx) < 1e-9, s"rotation must preserve norms: $nx -> $ny")
    }
    // pairwise dot preservation on the first two rows
    val Seq(a, b) = rot.take(2).map(_._2).toSeq
    val Seq(xa, xb) = rot.take(2).map(_._3).toSeq
    val dy = a.zip(b).map { case (p, q) => p * q }.sum
    val dx = xa.zip(xb).map { case (p, q) => p * q }.sum
    assert(math.abs(dy - dx) < 1e-9, "rotation must preserve inner products")
    // deterministic across evaluations
    val again = df.select(Similarity.hadamardSignRotate($"v", 16).as("y"))
      .as[Seq[Double]].collect()
    assert(again.toSeq == rot.map(_._2).toSeq)
    assertThrows[IllegalArgumentException](Similarity.hadamardSignRotate($"v", 12))
  }

  test("residual IVF-PQ: ADC approximates codeword norms, ranks by offset group") {
    import spark.implicits._
    // 4 cells; per cell, 2 points at center + offset r_j for each of 4
    // offsets (|r_0| < |r_1| < |r_2| < |r_3|). Residual codebooks pinned
    // at the EXACT offsets: a center query has zero residual, so its ADC
    // entry for codeword j is ||r_j||^2 — candidates rank by offset
    // group. Tolerance: cell centroids pass through FLOAT (the
    // cellCentroids contract), so residuals carry ~1e-7/element of
    // float-rounding — far below the ~0.5 group spacing.
    val rnd = new scala.util.Random(23)
    val centers = Array.fill(4)(Array.fill(16)(rnd.nextDouble() * 10))
    val offsets = Array.tabulate(4)(j => Array.fill(16)((j + 1) * 0.1))
    val corpus = (for {
      c <- 0 until 4; j <- 0 until 4; rep <- 0 until 2
    } yield {
      val p = centers(c).indices.map(i => centers(c)(i) + offsets(j)(i))
      (1000L + c * 100 + j * 10 + rep, p)
    }).toDF("vec_id", "embedding")
    val queries = centers.zipWithIndex
      .map { case (cv, i) => (i.toLong, cv.toSeq) }.toSeq.toDF("vec_id", "embedding")
    val books = Similarity.pqCodebooksFromRows(offsets, m = 4)
    val cellCents = centers.map(_.map(_.toFloat))
    val got = Similarity.ivfPqResidualTopK(corpus, queries, "vec_id", "embedding",
        8, cellCents, nProbe = 1, books)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val normSq = offsets.map(o => o.foldLeft(0.0)((a, x) => a + x * x))
    for (qi <- 0 until 4) {
      val mine = got.filter(_._1 == qi).sortBy(_._2)
      assert(mine.length == 8)
      assert(mine.forall(m => (m._3 - 1000) / 100 == qi), s"query $qi left its cell")
      // ranks 1-2 -> offset group 0, 3-4 -> group 1, ... each adc within
      // float-roundtrip error of the exact codeword norm
      for ((m, idx) <- mine.zipWithIndex) {
        val j = idx / 2
        assert(((m._3 - 1000) % 100) / 10 == j, s"query $qi rank ${m._2} wrong group")
        assert(math.abs(m._4 - normSq(j)) < 1e-5,
          s"query $qi adc ${m._4} vs ||r_$j||^2 ${normSq(j)}")
      }
    }
  }

  test("multimodal decode plumbing: per-partition stub, null passthrough") {
    import spark.implicits._
    val df = Seq(
      (1L, "hello world".getBytes("UTF-8")),
      (2L, Array(0xFF.toByte, 0xD8.toByte, 0x01.toByte)), // jpeg magic
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload").repartition(2)
    val out = Multimodal.withFeatures(df, "payload").orderBy("id").collect()
    assert(out(0).getAs[Long]("n_bytes") == 11L)
    assert(out(0).getAs[String]("format") == "unknown")
    val feats = out(0).getSeq[Float](out(0).fieldIndex("features"))
    assert(feats.length == 16)
    assert(math.abs(feats.sum - 1.0f) < 1e-5) // L1-normalized histogram
    assert(out(1).getAs[String]("format") == "jpeg")
    assert(out(2).isNullAt(out(2).fieldIndex("n_bytes"))) // null payload -> nulls
  }

  test("real imageio decode: measured dimensions and channel means from fixture bytes") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    // fixtures rendered in-test through the JDK encoder: an 8x4 pure-red
    // PNG and a 5x3 mid-gray JPEG — real compressed image bytes
    def encode(w: Int, h: Int, rgb: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgb)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, bos)
      bos.toByteArray
    }
    val png = encode(8, 4, 0xFF0000, "png")
    val jpg = encode(5, 3, 0x808080, "jpg")
    val df = Seq(
      (1L, png),
      (2L, jpg),
      (3L, "not an image at all".getBytes("UTF-8")), // undecodable
      (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "payload").repartition(2)
    val out = Multimodal.withFeatures(df, "payload",
      decoder = Multimodal.decodeImageIO).orderBy("id").collect()
    val fi = out(0).fieldIndex("features")
    // PNG is lossless: exact dimensions AND exact pixels back
    val f0 = out(0).getSeq[Float](fi)
    assert(out(0).getAs[String]("format") == "png")
    assert(f0(0) == 8f && f0(1) == 4f, s"png dims ${f0.take(2)}")
    assert(f0(2) == 1f && f0(3) == 0f && f0(4) == 0f, s"png means ${f0.drop(2)}")
    // JPEG is lossy: exact dimensions, channel means within codec error
    val f1 = out(1).getSeq[Float](fi)
    assert(out(1).getAs[String]("format") == "jpeg")
    assert(f1(0) == 5f && f1(1) == 3f, s"jpeg dims ${f1.take(2)}")
    for (c <- 2 to 4) assert(math.abs(f1(c) - 128f / 255f) < 0.02, s"jpeg mean ch$c = ${f1(c)}")
    // undecodable payload: sniffed format survives, features NULL (audit
    // row, never a silent fake); null payload stays all-null
    assert(out(2).getAs[String]("format") == "unknown" && out(2).isNullAt(fi))
    assert(out(3).isNullAt(out(3).fieldIndex("n_bytes")))
  }

  test("frame sampler slices byte payloads before decode") {
    import spark.implicits._
    val df = Seq((1L, Array.tabulate(10)(_.toByte))).toDF("id", "payload")
    val frames = df.select(Multimodal.sampleFrames(col("payload"), 2, 2).as("f"))
      .collect()(0).getSeq[Array[Byte]](0)
    // 5 frames of 2 bytes, stride 2 keeps frames 0,2,4
    assert(frames.length == 3)
    assert(frames(0).toSeq == Seq(0.toByte, 1.toByte))
    assert(frames(1).toSeq == Seq(4.toByte, 5.toByte))
  }

  test("centerCrop trims byte payloads before decode; short ones pass whole") {
    import spark.implicits._
    val df = Seq(
      (1L, Array.tabulate(10)(_.toByte)), // crop to middle 4: bytes 3..6
      (2L, Array.tabulate(2)(_.toByte))) // shorter than crop -> whole
      .toDF("id", "payload")
    val out = df.select(col("id"), Multimodal.centerCrop(col("payload"), 4).as("c"))
      .orderBy("id").collect()
    assert(out(0).getAs[Array[Byte]]("c").toSeq == Seq[Byte](3, 4, 5, 6))
    assert(out(1).getAs[Array[Byte]]("c").toSeq == Seq[Byte](0, 1))
  }

  test("language-ID is deterministic and quality score in [0,1]") {
    val out = docs.select(TextOps.langId(col("text")).as("lang"),
      TextOps.qualityScore(col("text")).as("q")).collect()
    assert(out.forall(r => Set("en", "de", "es").contains(r.getString(0))))
    assert(out.forall(r => r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0))
  }

  test("Cavnar-Trenkle langid: rank profiles, out-of-place distance, hand-checked") {
    import graft.operators.TextOps
    import spark.implicits._
    // two tiny "languages" with disjoint dominant trigrams
    val train = Seq(
      (1L, "aaaa bbbb", "xx"), (2L, "aaaa aaaa", "xx"),
      (3L, "zzzz yyyy", "yy"), (4L, "zzzz zzzz", "yy")).toDF("doc_id", "text", "lang")
    val prof = TextOps.trainLangProfiles(train, "text", "lang", n = 3, k = 4)
    val pm = prof.collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // "aaaa aaaa"+"aaaa bbbb": 'aaa' occurs 2+2=4 times -> rank 1 for xx
    assert(pm(("xx", "aaa")) === 1L)
    assert(pm(("yy", "zzz")) === 1L)
    assert(prof.groupBy("lang").count().collect().forall(_.getLong(1) <= 4))
    // classification: an 'aaa'-heavy doc lands in xx, a 'zzz'-heavy in yy
    val docs = Seq((10L, "aaaa aaa"), (11L, "zzzzzz"), (12L, "q")).toDF("doc_id", "text")
    // penalty follows the TRAINING capacity (k=4 here): a smaller
    // penalty than the deepest rank would make matched grams cost more
    // than unknown ones
    val got = TextOps.langIdCt(docs, "text", "doc_id", prof, n = 3, m = 4,
        profileK = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got(10L)._1 === "xx")
    assert(got(11L)._1 === "yy")
    // sub-trigram doc: flat penalty on every language, tie -> first lang
    assert(got(12L) === (("xx", 4L)))
    // determinism: same inputs, same distances, twice
    val again = TextOps.langIdCt(docs, "text", "doc_id", prof, n = 3, m = 4,
        profileK = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(again === got)
  }
}
