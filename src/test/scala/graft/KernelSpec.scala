package graft

import graft.expr.{BinaryExpressions, DvExpressions, KernelDecl, Mix63, TextExpressions,
  VectorExpressions}
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every native kernel, table-driven: its generated code answers exactly
  * as its interpreted eval on inputs that include nulls, a wrong input
  * type fails analysis with the kernel's name, and the executed plan
  * shows the name inside whole-stage codegen. */
class KernelSpec extends SparkSpec {

  private val le16 = (v: Int) => Array[Byte](v.toByte, (v >> 8).toByte)
  private val le32 = (v: Int) => le16(v & 0xFFFF) ++ le16(v >>> 16)

  private val png = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A,
    0, 0, 0, 13) ++ "IHDR".getBytes ++ Array[Byte](0, 0, 2, 128.toByte, 0, 0, 1, 224.toByte)

  private def wav(samples: Seq[Int]): Array[Byte] = {
    val body = samples.toArray.flatMap(s => le16(s))
    val chunks = "fmt ".getBytes ++ le32(16) ++ le16(1) ++ le16(1) ++ le32(8000) ++
      le32(16000) ++ le16(2) ++ le16(16) ++ "data".getBytes ++ le32(body.length) ++ body
    "RIFF".getBytes ++ le32(4 + chunks.length) ++ "WAVE".getBytes ++ chunks
  }

  private val http = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>x</p>".getBytes
  private val robots = "User-agent: *\nDisallow: /p\nAllow: /p/ok\nCrawl-delay: 1.5\n" +
    "Sitemap: http://h/s.xml\n"

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("s", StringType),
    StructField("toks", ArrayType(StringType)), StructField("b", BinaryType),
    StructField("l", LongType), StructField("va", ArrayType(DoubleType)),
    StructField("vb", ArrayType(FloatType)), StructField("path", StringType),
    StructField("i", IntegerType)))

  /** A scanned (not local) relation, so no optimizer rule evaluates the
    * kernels on the driver before the mode under test does. */
  private lazy val input: DataFrame = {
    val rows = Seq(
      Row(1, "the cat the hat a table", Seq("a", "b", "a", "c"), png, 0L,
        Seq(1.0, 2.0), Seq(3.0f, 4.0f), "file:/t/data/x.parquet", 1),
      Row(2, "", Seq.empty[String], Array.empty[Byte], -1L,
        Seq(0.0, 0.0), Seq(1.0f, 1.0f), "/p/ok/x", 2),
      Row(3, null, null, null, null, null, null, null, null),
      Row(4, "héllo wörld héllo 日本語", Seq("x", null, "y", "x"), wav(Seq(100, -200, 300)),
        Long.MinValue, Seq(1.5, -2.5, 3.0), Seq(1.0f, 2.0f), "/p/x", 4),
      Row(5, robots, Seq("one"), VideoSynth.mp4(gop = 10), Long.MaxValue,
        Seq(1.0), Seq(1.0f, 2.0f), "hdfs://nn/lake/data/k=1/f.parquet", 5),
      Row(6, "a  b ", Seq(null, null), http, 123456789L,
        Seq(-1.0, 0.5), Seq(0.25f, 8.0f), "/", 6),
      Row(7, "Café déjà", Seq("p", "q", "r", "s", "p", "q"),
        VideoSynth.mp4(v1 = true, co64 = true), 42L, Seq(2.0, 2.0), Seq(0.0f, 0.0f),
        "file:/t/data", 7),
      Row(8, "aaaa bbbb aaaa", Seq("m", "m", "m"), "not a payload".getBytes, 7L,
        Seq.empty[Double], Seq.empty[Float], "", 8))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  private val (s, toks, b, l, va, vb, path, i) = (col("s"), col("toks"), col("b"),
    col("l"), col("va"), col("vb"), col("path"), col("i"))

  /** (kernel name, forms to compare, a form with a wrong input type). */
  private val kernels: Seq[(String, Seq[Column], Column)] = Seq(
    ("graft_fingerprint", Seq(TextExpressions.fingerprint(s),
      TextExpressions.seededFingerprint(s, 7L),
      TextExpressions.seededFingerprint(s, 5L, 131L, 2147483647L)),
      TextExpressions.fingerprint(i)),
    ("graft_shingles", Seq(TextExpressions.shingles(toks, 1),
      TextExpressions.shingles(toks, 2)), TextExpressions.shingles(s, 2)),
    ("graft_char_gram_counts", Seq(TextExpressions.charGramCounts(s, 2)),
      TextExpressions.charGramCounts(toks, 2)),
    ("graft_char_gram_top_ranks", Seq(TextExpressions.charGramTopRanks(s, 2, 3)),
      TextExpressions.charGramTopRanks(i, 2, 3)),
    ("graft_token_counts", Seq(TextExpressions.tokenCounts(s)),
      TextExpressions.tokenCounts(b)),
    ("graft_token_marker_stats", Seq(TextExpressions.tokenMarkerStats(s, Seq("the", "a", "")),
      TextExpressions.tokenMarkerStats(s, Seq("aaaa"))),
      TextExpressions.tokenMarkerStats(toks, Seq("the"))),
    ("graft_minhash_sig", Seq(TextExpressions.minhashSigs(toks, 4),
      TextExpressions.minhashSigs(toks, 1)), TextExpressions.minhashSigs(s, 4)),
    ("graft_nfc", Seq(TextExpressions.nfcNormalize(s)), TextExpressions.nfcNormalize(l)),
    ("graft_gram_stats", Seq(TextExpressions.gramStatsCol(toks)),
      TextExpressions.gramStatsCol(s)),
    ("graft_robots_rules", Seq(TextExpressions.robotsRules(s)),
      TextExpressions.robotsRules(b)),
    ("graft_robots_allowed", Seq(TextExpressions.robotsAllowed(
      TextExpressions.robotsRules(s), path)), TextExpressions.robotsAllowed(s, path)),
    ("graft_robots_directives", Seq(TextExpressions.robotsDirectives(s)),
      TextExpressions.robotsDirectives(i)),
    ("graft_image_meta", Seq(BinaryExpressions.imageMeta(b)), BinaryExpressions.imageMeta(s)),
    ("graft_image_min_resolution", Seq(BinaryExpressions.imageMinResolution(b, 100, 100),
      BinaryExpressions.imageMinResolution(b, 1000, 1)),
      BinaryExpressions.imageMinResolution(s, 1, 1)),
    ("graft_video_meta", Seq(BinaryExpressions.videoMeta(b)), BinaryExpressions.videoMeta(s)),
    ("graft_video_sync_samples", Seq(BinaryExpressions.videoSyncSamples(b)),
      BinaryExpressions.videoSyncSamples(l)),
    ("graft_video_sampleable", Seq(BinaryExpressions.videoSampleable(b)),
      BinaryExpressions.videoSampleable(s)),
    ("graft_video_frame_ranges", Seq(BinaryExpressions.videoFrameRanges(b, 3, true),
      BinaryExpressions.videoFrameRanges(b, 2, false)),
      BinaryExpressions.videoFrameRanges(s, 3, true)),
    ("graft_video_gate", Seq(BinaryExpressions.videoGate(b, 1L, 1, 1),
      BinaryExpressions.videoGate(b, 1L, 1000, 1)), BinaryExpressions.videoGate(s, 1L, 1, 1)),
    ("graft_audio_meta", Seq(BinaryExpressions.audioMeta(b)), BinaryExpressions.audioMeta(s)),
    ("graft_audio_pcm_stats", Seq(BinaryExpressions.audioPcmStats(b)),
      BinaryExpressions.audioPcmStats(s)),
    ("graft_audio_pcm_gate", Seq(BinaryExpressions.audioPcmGate(b, 10L, 32000),
      BinaryExpressions.audioPcmGate(b, 10L, 250)),
      BinaryExpressions.audioPcmGate(s, 10L, 32000)),
    ("graft_audio_min_duration", Seq(BinaryExpressions.audioMinDuration(b, 1L),
      BinaryExpressions.audioMinDuration(b, 1000000L)),
      BinaryExpressions.audioMinDuration(s, 1L)),
    ("graft_http_response", Seq(BinaryExpressions.httpResponse(b)),
      BinaryExpressions.httpResponse(s)),
    ("graft_http_gate", Seq(BinaryExpressions.httpGate(b, 200, "text/"),
      BinaryExpressions.httpGate(b, 200, "image/")), BinaryExpressions.httpGate(s, 200, "")),
    ("graft_dot", Seq(VectorExpressions.dot(va, vb), VectorExpressions.dot(vb, vb)),
      VectorExpressions.dot(toks, va)),
    ("graft_cosine", Seq(VectorExpressions.cosine(va, vb), VectorExpressions.cosine(va, va)),
      VectorExpressions.cosine(va, toks)),
    ("graft_sqdist", Seq(VectorExpressions.sqDist(va, vb), VectorExpressions.sqDist(vb, va)),
      VectorExpressions.sqDist(s, s)),
    ("graft_lineage_rel", Seq(DvExpressions.lineageRelOf(path)),
      DvExpressions.lineageRelOf(i)),
    ("graft_mix63", Seq(Mix63.mix63(l)), Mix63.mix63(s)))

  private def withConfs[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def project(forms: Seq[Column]): DataFrame =
    input.select(col("id") +: forms.zipWithIndex.map { case (c, j) => c.as(s"k$j") }: _*)

  private def rows(df: DataFrame): Seq[Row] = df.collect().sortBy(_.getInt(0)).toSeq

  /** Every declaration of the kernel-owning objects, by name. */
  private lazy val declared: Map[String, KernelDecl] =
    Seq(TextExpressions, BinaryExpressions, VectorExpressions, DvExpressions, Mix63).flatMap { o =>
      o.getClass.getDeclaredFields.filter(_.getType == classOf[KernelDecl]).map { f =>
        f.setAccessible(true)
        val d = f.get(o).asInstanceOf[KernelDecl]
        d.name -> d
      }
    }.toMap

  test("the table names each declared kernel once") {
    val names = kernels.map(_._1)
    assert(names.distinct.size === names.size)
    assert(names.size === 30)
    assert(declared.keySet === names.toSet)
  }

  test("kernels that differ only in a constant stay apart; a copy from the wire is equal") {
    import TextExpressions.{MinhashSignature, TokenMarkerStats, TokenShingles}
    val t = AttributeReference("t", ArrayType(StringType))()
    val str = AttributeReference("s", StringType)()
    val seeds = MinhashSignature.expr(Seq(t), Seq(Seq(1L, 2L)))
    assert(seeds == MinhashSignature.expr(Seq(t), Seq(Seq(1L, 2L))))
    assert(seeds != MinhashSignature.expr(Seq(t), Seq(Seq(1L, 3L))))
    assert(TokenShingles.expr(Seq(t), Seq(2)) != TokenShingles.expr(Seq(t), Seq(3)))
    assert(TokenMarkerStats.expr(Seq(str), Seq(Seq("a", "b"))) !=
      TokenMarkerStats.expr(Seq(str), Seq(Seq("b", "a"))))
    val bytes = new java.io.ByteArrayOutputStream()
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(seeds)
    out.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray)).readObject()
    assert(back == seeds && back.hashCode == seeds.hashCode)
    // one projection of both widths keeps both results
    val r = input.filter(col("id") === 7)
      .select(TextExpressions.shingles(toks, 2), TextExpressions.shingles(toks, 3)).head()
    assert(r.getSeq[String](0).head === "p q" && r.getSeq[String](1).head === "p q r")
  }

  for ((name, forms, wrong) <- kernels) {
    test(s"$name: generated code equals interpreted eval, type errors and plans name it") {
      val generated = withConfs("spark.sql.codegen.fallback" -> "false",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY") {
        val df = project(forms)
        val got = rows(df)
        val wscg = df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        assert(wscg.exists(_.child.toString.contains(name)),
          s"$name not inside whole-stage codegen:\n${df.queryExecution.executedPlan}")
        val d = declared(name)
        val call = s"${d.ownerClass}.${d.method.getName}("
        assert(codegenString(df.queryExecution.executedPlan).contains(call), call)
        got
      }
      val interpreted = withConfs("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
        val df = project(forms)
        assert(df.queryExecution.executedPlan.toString.contains(name))
        rows(df)
      }
      assert(generated.size === 8)
      assert(generated === interpreted)
      val e = intercept[AnalysisException](input.select(wrong).collect())
      assert(e.getMessage.contains(name), e.getMessage)
    }
  }
}
