package graft

/** SQL-surface registration of the native expressions. */
class GraftFunctionsSpec extends SparkSpec {

  test("registered SQL functions evaluate the native expressions") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  round(graft_cosine(array(1.0D, 0.0D), array(1.0D, 0.0D)), 6) AS c,
        |  graft_fingerprint('ab') AS f,
        |  graft_shingles(array('a', 'b', 'c'), 2) AS sh,
        |  graft_sqdist(array(1.0D, 2.0D), array(3.0D, 5.0D)) AS sq,
        |  graft_mix63(CAST(123456789 AS BIGINT)) AS mx
      """.stripMargin).collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getDouble(1) == 1.0)
    assert(r.getAs[Double]("sq") == 13.0)
    // fingerprint('ab') = (0*31+97)*31+98 mod 1e9+7 = 3105
    assert(r.getLong(2) == 97L * 31 + 98)
    assert(r.getSeq[String](3) == Seq("a b", "b c"))
    assert(r.getAs[Long]("mx") == graft.expr.Mix63(123456789L))
  }

  test("graft_zvalue and graft_redact_pii compose through the SQL surface") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT
        |  graft_zvalue(3L, 5L, 3) AS z,
        |  graft_redact_pii('mail a@b.cc ip 10.0.0.1 acct 123456789') AS red
      """.stripMargin).collect()(0)
    // x=3 (011) -> even bits 0,2 set = 5; y=5 (101) -> odd bits 1,5 set = 34
    assert(r.getLong(0) == (5L | 34L))
    assert(r.getString(1) == "mail <EMAIL> ip <IP> acct <NUM>")
  }

  test("approxQuantiles lands within rank error of the exact rule") {
    import spark.implicits._
    val vals = (0 until 20000).map(i => ((i * 37) % 20000).toDouble)
    val df = vals.toDF("x").repartition(8)
    val got = graft.operators.Stats.approxQuantiles(df, "x",
      Array(0.25, 0.5, 0.9), relErr = 0.001)
    val arr = vals.toArray.sorted
    for ((q, v) <- Array(0.25, 0.5, 0.9).zip(got)) {
      val exact = graft.functions.InterpolatedQuantile.quantile(arr, q)
      assert(math.abs(v - exact) <= 20000 * 0.002 + 1, s"q=$q got $v want ~$exact")
    }
  }

  test("graft_quantile as a SQL aggregate uses the N*q-0.5 rule") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(1.0, 2.0, 3.0, 4.0).toDF("v").createOrReplaceTempView("qv")
    val got = spark.sql("SELECT graft_quantile(v, 0.25) FROM qv").collect()(0).getDouble(0)
    assert(got == 1.5) // n = 4*0.25-0.5 = 0.5 -> lerp(v[0], v[1], .5)
  }

  test("graft_audio_meta parses a WAV header through the SQL surface") {
    GraftFunctions.register(spark)
    // mono 8kHz 16-bit, 80 frames (10 ms), built as a hex literal
    def le16(v: Int) = f"${v & 0xFF}%02x${(v >> 8) & 0xFF}%02x"
    def le32(v: Int) = le16(v & 0xFFFF) + le16((v >> 16) & 0xFFFF)
    def ascii(s: String) = s.getBytes.map(b => f"$b%02x").mkString
    val hexWav = ascii("RIFF") + le32(4 + 24 + 8 + 160) + ascii("WAVE") +
      ascii("fmt ") + le32(16) + le16(1) + le16(1) + le32(8000) +
      le32(16000) + le16(2) + le16(16) + ascii("data") + le32(160)
    val r = spark.sql(
      s"SELECT graft_audio_meta(unhex('$hexWav')) AS a").select(
      "a.format", "a.channels", "a.sample_rate", "a.n_frames", "a.duration_us")
      .collect()(0)
    assert(r.getString(0) == "wav" && r.getInt(1) == 1 && r.getInt(2) == 8000)
    assert(r.getLong(3) == 80L && r.getLong(4) == 10000L)
  }

  test("graft_http_response / graft_http_gate split an archived HTTP message in SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """WITH m AS (SELECT CAST(concat('HTTP/1.1 200 OK\r\n',
        |    'Content-Type: text/html\r\n\r\n<html>x</html>') AS BINARY) AS p)
        |SELECT graft_http_response(p).status AS s,
        |  graft_http_response(p).content_type AS ct,
        |  CAST(graft_http_response(p).body AS STRING) AS b,
        |  graft_http_gate(p, 200, 'text/html') AS ok,
        |  graft_http_gate(p, 404, 'text/html') AS notok
        |FROM m""".stripMargin).collect()(0)
    assert(r.getInt(0) === 200)
    assert(r.getString(1) === "text/html")
    assert(r.getString(2) === "<html>x</html>")
    assert(r.getBoolean(3) === true)
    assert(r.getBoolean(4) === false)
  }

  test("graft_robots_rules / graft_robots_allowed decide crawl policy in SQL") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      """SELECT graft_robots_allowed(
        |    graft_robots_rules('User-agent: *\nDisallow: /p\nAllow: /p/ok\n'),
        |    '/p/ok/x') AS a,
        |  graft_robots_allowed(
        |    graft_robots_rules('User-agent: *\nDisallow: /p\n'), '/p/x') AS d
        |FROM (SELECT 1)""".stripMargin).collect()(0)
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
  }

  test("literal arguments reject null, non-literal and non-integral values with the usage") {
    GraftFunctions.register(spark)
    val bad = Seq(
      "graft_shingles(array('a', 'b'), NULL)" -> "graft_shingles(",
      "graft_shingles(array('a', 'b'), 2.5)" -> "graft_shingles(",
      "graft_shingles(array('a', 'b'), id)" -> "graft_shingles(",
      "graft_shingles(array('a', 'b'), 'two')" -> "graft_shingles(",
      "graft_shingles(array('a', 'b'), 3000000000)" -> "graft_shingles(",
      "graft_video_frame_ranges(CAST('x' AS BINARY), NULL, true)" -> "graft_video_frame_ranges(",
      "graft_video_frame_ranges(CAST('x' AS BINARY), 2, NULL)" -> "graft_video_frame_ranges(",
      "graft_video_frame_ranges(CAST('x' AS BINARY), 1.5, true)" -> "graft_video_frame_ranges(",
      "graft_http_gate(CAST('x' AS BINARY), NULL, 'text/')" -> "graft_http_gate(",
      "graft_http_gate(CAST('x' AS BINARY), 200, NULL)" -> "graft_http_gate(",
      "graft_http_gate(CAST('x' AS BINARY), 200.5, 'text/')" -> "graft_http_gate(",
      "graft_zvalue(id, id, NULL)" -> "graft_zvalue(",
      "graft_zvalue(id, id, 2.5)" -> "graft_zvalue(",
      "graft_quantile(id, NULL)" -> "graft_quantile(",
      "graft_quantile(id, 'half')" -> "graft_quantile(")
    for ((call, usage) <- bad) {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM range(3)").collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains(usage)), s"$call: ${e.getClass.getName}: ${msgs.mkString(" | ")}")
    }
    // well-formed literals of other integral or decimal spellings still work
    val r = spark.sql("""SELECT graft_shingles(array('a', 'b', 'c'), 2L) AS sh,
      |  graft_quantile(id, 0.5D) AS q FROM range(4)""".stripMargin).collect()(0)
    assert(r.getSeq[String](0) === Seq("a b", "b c"))
    assert(r.getDouble(1) === 1.5)
  }

  test("GraftExtensions constructs and exposes the full function set") {
    val ext = new GraftExtensions
    assert(GraftFunctions.all.map(_._1).toSet ==
      Set("graft_dot", "graft_cosine", "graft_sqdist", "graft_fingerprint",
        "graft_mix63", "graft_shingles", "graft_quantile", "graft_zvalue",
        "graft_redact_pii", "graft_nfc", "graft_image_meta", "graft_audio_meta",
        "graft_video_meta", "graft_video_frame_ranges",
        "graft_http_response", "graft_http_gate",
        "graft_robots_rules", "graft_robots_allowed",
        "graft_robots_directives"))
    assert(ext != null)
  }
}
