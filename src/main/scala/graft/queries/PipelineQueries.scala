package graft.queries

import graft.multimodal.Multimodal
import graft.operators.{Dedup, Search, Similarity, Sketch, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Training-data pipeline operators over the `documents` / `embeddings`
  * tables: text analysis, exact + near dedup, similarity search,
  * multimodal binary plumbing. Where an op rests on xxhash64 (no DuckDB
  * equivalent) the oracle is omitted -> driver records a rows-only check;
  * ScalaTest specs cover those semantics instead.
  */
object PipelineQueries {

  /** The 97 planted per-host robots policies shared by q_robots_gate
    * and q_crawl_frontier: host k publishes no `*` group on k%11==0
    * (everything allowed), otherwise Disallow: /p + Allow: /p<(k+1)%13>
    * (+ the tie rule Allow: /p on even k). Parsed ONCE per host into
    * rule arrays; callers broadcast the 97 rows. */
  private def robotsPayload(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("# crawl policy\n"),
      when(pmod(k, lit(11L)) === 0,
        lit("User-agent: otherbot\nDisallow: /\n"))
        .otherwise(concat(
          lit("User-agent: *\nDisallow: /p\nAllow: /p"),
          pmod(k + 1, lit(13L)), lit("\n"),
          when(pmod(k, lit(2L)) === 0, lit("Allow: /p\n"))
            .otherwise(lit("")))))

  /** The 97 planted directive payloads for q_robots_directives: a
    * global sitemap line, then either a non-* group (k%11 — its delay
    * must contribute nothing) or a `*` group whose delay is (k%7)
    * seconds, fractional .5 on k%3, plus a second sitemap on k%5. */
  private def directivesPayload(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat(
      lit("Sitemap: https://h"), k, lit(".example/sitemap.xml\n"),
      when(pmod(k, lit(11L)) === 0,
        lit("User-agent: otherbot\nCrawl-delay: 99\nDisallow: /\n"))
        .otherwise(concat(
          lit("User-agent: *\nDisallow: /p\nCrawl-delay: "),
          pmod(k, lit(7L)),
          when(pmod(k, lit(3L)) === 0, lit(".5")).otherwise(lit("")),
          lit("\n"))),
      when(pmod(k, lit(5L)) === 0,
        concat(lit("Sitemap: https://h"), k,
          lit(".example/news.xml\n"))).otherwise(lit("")))

  private def robotsHosts(s: SparkSession): DataFrame = {
    import graft.expr.TextExpressions
    s.range(97).select(col("id").as("k"),
      TextExpressions.robotsRules(robotsPayload(col("id"))).as("rules"))
  }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** PINNED BPE merge rules for `q_bpe_applied` — the serving split of
    * BPE (rules trained/persisted once, applied per batch), mirroring
    * `q_ann_ivf_pinned`'s pinned-centroid pattern. Rules are authored
    * for this corpus's vocabulary (table/value/scan/fast/window…) and
    * exercise chained merges (t+a→ta, ta+b→tab, …) and rule-order
    * priority. Shared verbatim by the Spark query (via
    * [[graft.operators.TextOps.withBpeTokens]]) and the oracle-SQL
    * builder, so the DuckDB oracle replays the application pass
    * end-to-end. */
  private val pinnedBpeMerges: Seq[(String, String)] = Seq(
    ("t", "a"), ("ta", "b"), ("tab", "l"), ("tabl", "e"), // table
    ("v", "a"), ("va", "l"), ("val", "u"), ("valu", "e"), // value
    ("s", "c"), ("sc", "a"), ("sca", "n"),                // scan
    ("r", "o"), ("ro", "w"),                              // row
    ("f", "a"), ("fa", "s"), ("fas", "t"),                // fast
    ("w", "i"), ("wi", "n"), ("win", "d"),
    ("wind", "o"), ("windo", "w"),                        // window
    ("e", "r"), ("o", "r"), ("a", "n"))                   // common pairs

  /** Merge rounds for `q_bpe_train` — small enough that the generated
    * K-stage DuckDB oracle replay stays readable, large enough to force
    * chained merges (later rounds merge symbols built by earlier ones). */
  private val bpeTrainRounds = 6

  /** DuckDB replay of graft's polynomial string fingerprint
    * ((acc*31 + codepoint) mod 1e9+7) over the expression `pd`, scaled
    * to [-0.5, 0.5) — the pinned pseudo-random component family shared
    * by the `q_ann_lsh` plane oracle and the `q_pca_ann_pinned`
    * projection oracle. Inlined per call site because DuckDB lambda
    * variables can't cross subquery boundaries. */
  private def polyComponentSql(pd: String): String =
    s"""(list_reduce(list_prepend(0::BIGINT,
       |        list_transform(range(1, len($pd) + 1), ci -> ascii(($pd)[ci]))),
       |        (a, b) -> (a * 31 + b) % 1000000007)::DOUBLE / 1000000007.0 - 0.5)""".stripMargin

  /** Deterministic image payloads for the q_image_* queries: real PNG /
    * GIF / BMP / JPEG container headers with dimensions derived from
    * doc_id (w = id%600+16, h = id%400+16), format by id%4 — the oracle
    * replays the arithmetic while Spark round-trips the actual bytes. */
  private def synthImagePayloads(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      (col("doc_id") % 600 + 16).cast(IntegerType).as("w"),
      (col("doc_id") % 400 + 16).cast(IntegerType).as("h"))
    def be(c: org.apache.spark.sql.Column, hexDigits: Int) =
      unhex(lpad(hex(c), hexDigits, "0"))
    def le16(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 4, "0")
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    def le32(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 8, "0")
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    val png = concat(
      lit(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)),
      lit(Array[Byte](0, 0, 0, 13)), lit("IHDR").cast(BinaryType),
      be(col("w"), 8), be(col("h"), 8), lit(Array[Byte](8, 2, 0, 0, 0)))
    val gif = concat(lit("GIF89a").cast(BinaryType),
      le16(col("w")), le16(col("h")), lit(Array[Byte](0, 0, 0)))
    val bmp = concat(lit("BM").cast(BinaryType), lit(new Array[Byte](12)),
      le32(lit(40)), le32(col("w")), le32(col("h")), lit(new Array[Byte](4)))
    val jpeg = concat(
      lit(Array[Byte](0xFF.toByte, 0xD8.toByte)),
      lit(Array[Byte](0xFF.toByte, 0xE0.toByte, 0, 4, 0x4A, 0x46)),
      lit(Array[Byte](0xFF.toByte, 0xC0.toByte, 0, 17, 8)),
      be(col("h"), 4), be(col("w"), 4),
      lit(Array[Byte](3, 1, 0x11, 0, 2, 0x11, 1, 3, 0x11, 1)))
    d.withColumn("payload",
      when(col("doc_id") % 4 === 0, png)
        .when(col("doc_id") % 4 === 1, gif)
        .when(col("doc_id") % 4 === 2, bmp)
        .otherwise(jpeg))
  }

  /** Synthetic ISO-BMFF (MP4) payloads — real box bytes (ftyp + moov
    * with mvhd/trak/tkhd/mdia/minf/stbl{stts,stsz,stco} + a header-only
    * mdat) with clip parameters derived from doc_id: fps ∈ {24,25,30} by
    * id%3 (timescale = fps·1000, constant frame delta 1000 ticks),
    * n_frames = id%240+1, width = 320+160·(id%4), height = 240+120·(id%3),
    * fixed sample size 800+100·(id%5). All box sizes are fixed, so the
    * single chunk's data offset is the constant 332 — written into stco
    * and PARSED back out (VideoMeta never assumes it). The mdat box
    * declares n_frames·sample_size payload bytes but carries none —
    * the parser stops at the header, coded bytes are never read. The
    * oracle replays the id arithmetic; Spark round-trips actual bytes. */
  private def be32c(c: org.apache.spark.sql.Column) =
    unhex(lpad(hex(c.cast(IntegerType)), 8, "0"))
  private def hexLit(h: String) = lit(
    h.replaceAll("\\s", "").grouped(2).map(Integer.parseInt(_, 16).toByte).toArray)
  private val matrixId = "00010000 00000000 00000000 00000000 00010000 00000000" +
    " 00000000 00000000 40000000"

  private def synthVideoPayloads(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      (when(col("doc_id") % 3 === 0, 24).when(col("doc_id") % 3 === 1, 25)
        .otherwise(30) * 1000).cast(IntegerType).as("ts"),
      (col("doc_id") % 240 + 1).cast(IntegerType).as("nf"),
      (lit(320) + (col("doc_id") % 4) * 160).cast(IntegerType).as("w"),
      (lit(240) + (col("doc_id") % 3) * 120).cast(IntegerType).as("h"),
      (lit(800) + (col("doc_id") % 5) * 100).cast(IntegerType).as("ss"))
    val dur = col("nf") * 1000
    d.withColumn("payload", concat(
      // ftyp(20): major brand isom, minor 0x200, compatible mp41
      hexLit("00000014 66747970 69736F6D 00000200 6D703431"),
      // moov(304) > mvhd(108): verflags/ctime/mtime 0, ts, dur, fixed tail
      hexLit("00000130 6D6F6F76" +
        " 0000006C 6D766864 00000000 00000000 00000000"),
      be32c(col("ts")), be32c(dur),
      hexLit("00010000 01000000 00000000 00000000 " + matrixId +
        " 000000000000000000000000 000000000000000000000000 00000002"),
      // trak(188) > tkhd(92, v0 flags 7): track 1, dur, 16.16 dims
      hexLit("000000BC 7472616B" +
        " 0000005C 746B6864 00000007 00000000 00000000 00000001 00000000"),
      be32c(dur),
      hexLit("00000000 00000000 00000000 00000000 " + matrixId),
      be32c(col("w") * 65536), be32c(col("h") * 65536),
      // mdia(88) > minf(80) > stbl(72) > stts(24): 1 entry (nf, delta 1000)
      hexLit("00000058 6D646961 00000050 6D696E66 00000048 7374626C" +
        " 00000018 73747473 00000000 00000001"),
      be32c(col("nf")), hexLit("000003E8"),
      // stsz(20): fixed sample size, count nf
      hexLit("00000014 7374737A 00000000"), be32c(col("ss")), be32c(col("nf")),
      // stco(20): 1 chunk at offset 332 (= 20 ftyp + 304 moov + 8 mdat hdr)
      hexLit("00000014 7374636F 00000000 00000001 0000014C"),
      // mdat header: declared payload nf*ss, no body
      be32c(col("nf") * col("ss") + 8), hexLit("6D646174")))
  }

  /** [[synthVideoPayloads]] plus a real `stss` sync-sample box: keyframes
    * every gop = 8+4·(id%3) frames (1-based sample numbers 1, 1+gop, …),
    * so every enclosing box size — and the stco chunk offset — shifts by
    * the entry-list length, all computed per row and parsed back out.
    * Keyframe grid uniform by construction ⇒ the snap `⌊idx/gop⌋·gop` is
    * exactly replayable in SQL. */
  private def synthVideoKeyframePayloads(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      (when(col("doc_id") % 3 === 0, 24).when(col("doc_id") % 3 === 1, 25)
        .otherwise(30) * 1000).cast(IntegerType).as("ts"),
      (col("doc_id") % 240 + 1).cast(IntegerType).as("nf"),
      (lit(320) + (col("doc_id") % 4) * 160).cast(IntegerType).as("w"),
      (lit(240) + (col("doc_id") % 3) * 120).cast(IntegerType).as("h"),
      (lit(800) + (col("doc_id") % 5) * 100).cast(IntegerType).as("ss"),
      (lit(8) + (col("doc_id") % 3) * 4).cast(IntegerType).as("gop"))
      .withColumn("entries",
        floor((col("nf") + col("gop") - 1) / col("gop")).cast(IntegerType))
      .withColumn("stss_sz", lit(16) + col("entries") * 4)
    val dur = col("nf") * 1000
    val stssEntries = unhex(array_join(
      transform(sequence(lit(0), col("entries") - 1),
        e => lpad(hex((lit(1) + e * col("gop")).cast(IntegerType)), 8, "0")), ""))
    d.withColumn("payload", concat(
      hexLit("00000014 66747970 69736F6D 00000200 6D703431"),
      // moov: 304 + stss grows every enclosure on the stbl path
      be32c(col("stss_sz") + 304), hexLit("6D6F6F76"),
      hexLit("0000006C 6D766864 00000000 00000000 00000000"),
      be32c(col("ts")), be32c(dur),
      hexLit("00010000 01000000 00000000 00000000 " + matrixId +
        " 000000000000000000000000 000000000000000000000000 00000002"),
      be32c(col("stss_sz") + 188), hexLit("7472616B"),
      hexLit("0000005C 746B6864 00000007 00000000 00000000 00000001 00000000"),
      be32c(dur),
      hexLit("00000000 00000000 00000000 00000000 " + matrixId),
      be32c(col("w") * 65536), be32c(col("h") * 65536),
      be32c(col("stss_sz") + 88), hexLit("6D646961"),
      be32c(col("stss_sz") + 80), hexLit("6D696E66"),
      be32c(col("stss_sz") + 72), hexLit("7374626C"),
      hexLit("00000018 73747473 00000000 00000001"),
      be32c(col("nf")), hexLit("000003E8"),
      hexLit("00000014 7374737A 00000000"), be32c(col("ss")), be32c(col("nf")),
      // stco: single chunk at 332 + stss_sz (every header before mdat grew)
      hexLit("00000014 7374636F 00000000 00000001"), be32c(col("stss_sz") + 332),
      // stss: verflags, entry_count, then the 1-based sync sample numbers
      be32c(col("stss_sz")), hexLit("73747373 00000000"), be32c(col("entries")),
      stssEntries,
      be32c(col("nf") * col("ss") + 8), hexLit("6D646174")))
  }

  /** [[synthVideoPayloads]] with the INTERLEAVED-chunk layout real muxers
    * write: video samples grouped 16-per-chunk (one stsc run), chunks
    * separated by 64-byte foreign gaps (the audio interleave stand-in),
    * so stco carries ceil(nf/16) non-contiguous offsets. Every offset is
    * id arithmetic: data base = 356 + 4·nChunks (all boxes fixed except
    * the stco list), chunk c starts at base + c·(16·ss + 64). */
  private def synthVideoChunkedPayloads(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      (when(col("doc_id") % 3 === 0, 24).when(col("doc_id") % 3 === 1, 25)
        .otherwise(30) * 1000).cast(IntegerType).as("ts"),
      (col("doc_id") % 240 + 1).cast(IntegerType).as("nf"),
      (lit(800) + (col("doc_id") % 5) * 100).cast(IntegerType).as("ss"))
      .withColumn("nc", floor((col("nf") + 15) / 16).cast(IntegerType))
      .withColumn("stco_sz", lit(16) + col("nc") * 4)
      .withColumn("base", lit(356) + col("nc") * 4)
    val dur = col("nf") * 1000
    val stcoEntries = unhex(array_join(
      transform(sequence(lit(0), col("nc") - 1),
        c => lpad(hex((col("base") + c * (col("ss") * 16 + 64))
          .cast(IntegerType)), 8, "0")), ""))
    val lastChunk = col("nf") - (col("nc") - 1) * 16
    d.withColumn("payload", concat(
      hexLit("00000014 66747970 69736F6D 00000200 6D703431"),
      be32c(col("stco_sz") + 312), hexLit("6D6F6F76"),
      hexLit("0000006C 6D766864 00000000 00000000 00000000"),
      be32c(col("ts")), be32c(dur),
      hexLit("00010000 01000000 00000000 00000000 " + matrixId +
        " 000000000000000000000000 000000000000000000000000 00000002"),
      be32c(col("stco_sz") + 196), hexLit("7472616B"),
      hexLit("0000005C 746B6864 00000007 00000000 00000000 00000001 00000000"),
      be32c(dur),
      hexLit("00000000 00000000 00000000 00000000 " + matrixId),
      be32c(lit(640) * 65536), be32c(lit(480) * 65536),
      be32c(col("stco_sz") + 96), hexLit("6D646961"),
      be32c(col("stco_sz") + 88), hexLit("6D696E66"),
      be32c(col("stco_sz") + 80), hexLit("7374626C"),
      hexLit("00000018 73747473 00000000 00000001"),
      be32c(col("nf")), hexLit("000003E8"),
      hexLit("00000014 7374737A 00000000"), be32c(col("ss")), be32c(col("nf")),
      // stsc: ONE run — every chunk carries 16 samples (the trailing
      // chunk is naturally short)
      hexLit("0000001C 73747363 00000000 00000001 00000001"),
      hexLit("00000010 00000001"),
      // stco: ceil(nf/16) interleaved chunk offsets
      be32c(col("stco_sz")), hexLit("7374636F 00000000"), be32c(col("nc")),
      stcoEntries,
      // mdat: last chunk end - data base, declared only
      be32c((col("nc") - 1) * (col("ss") * 16 + 64) + lastChunk * col("ss") + 8),
      hexLit("6D646174")))
  }

  /** Synthetic RIFF/WAVE payloads — real WAV header bytes (fmt + data
    * chunks) with audio parameters derived from doc_id (channels =
    * id%2+1, rate = 8000·(id%3+1), 16-bit, frames = id%500+1); the
    * oracle replays the arithmetic while Spark round-trips the actual
    * bytes. The data chunk carries its size but no body — AudioMeta
    * stops at the chunk header, sample bytes are never read. */
  private def synthAudioPayloads(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      (col("doc_id") % 2 + 1).cast(IntegerType).as("ch"),
      ((col("doc_id") % 3 + 1) * 8000).cast(IntegerType).as("rate"),
      (col("doc_id") % 500 + 1).cast(IntegerType).as("frames"))
    def le16(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 4, "0")
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    def le32(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 8, "0")
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    val dataSize = col("frames") * col("ch") * 2
    d.withColumn("payload", concat(
      lit("RIFF").cast(BinaryType), le32(dataSize + 36), lit("WAVE").cast(BinaryType),
      lit("fmt ").cast(BinaryType), le32(lit(16)),
      le16(lit(1)), le16(col("ch")), le32(col("rate")),
      le32(col("rate") * col("ch") * 2), le16(col("ch") * 2), le16(lit(16)),
      lit("data").cast(BinaryType), le32(dataSize)))
  }

  /** WAV payloads WITH a PCM body — the decode fixture: samples
    * alternate two doc_id-derived values a = id%251−125, b = −(id%97)
    * (so sums have real structure but replay as pure arithmetic:
    * ceil(n/2) copies of a, floor(n/2) of b). The body is built as
    * `unhex(repeat(<8 hex chars>, n/2))` — constant-size column work,
    * no per-sample HOF fold. */
  private def synthAudioPcmPayloads(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"),
      (col("doc_id") % 2 + 1).cast(IntegerType).as("ch"),
      ((col("doc_id") % 3 + 1) * 8000).cast(IntegerType).as("rate"),
      (col("doc_id") % 200 + 1).cast(IntegerType).as("frames"),
      (col("doc_id") % 251 - 125).cast(IntegerType).as("sa"),
      (-(col("doc_id") % 97)).cast(IntegerType).as("sb"))
    def le16(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 4, "0")
      unhex(concat(substring(x, 3, 2), substring(x, 1, 2)))
    }
    def le32(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(c), 8, "0")
      unhex(concat(substring(x, 7, 2), substring(x, 5, 2),
        substring(x, 3, 2), substring(x, 1, 2)))
    }
    // unsigned-16 hex of a (possibly negative) sample, little-endian
    def le16hex(c: org.apache.spark.sql.Column) = {
      val x = lpad(hex(pmod(c, lit(65536))), 4, "0")
      concat(substring(x, 3, 2), substring(x, 1, 2))
    }
    val n = col("frames") * col("ch")
    val dataSize = n * 2
    val pair = concat(le16hex(col("sa")), le16hex(col("sb")))
    val body = unhex(concat(repeat(pair, (n / 2).cast(IntegerType)),
      when(n % 2 === 1, le16hex(col("sa"))).otherwise(lit(""))))
    d.withColumn("payload", concat(
      lit("RIFF").cast(BinaryType), le32(dataSize + 36), lit("WAVE").cast(BinaryType),
      lit("fmt ").cast(BinaryType), le32(lit(16)),
      le16(lit(1)), le16(col("ch")), le32(col("rate")),
      le32(col("rate") * col("ch") * 2), le16(col("ch") * 2), le16(lit(16)),
      lit("data").cast(BinaryType), le32(dataSize), body))
  }

  /** Shared harness for the gated REAL StreamingQueries: stage the driver
    * parquet file into a temp dir (the file stream source monitors a
    * DIRECTORY; in production the source already is one), run
    * `mkAgg(stream)` through a memory sink with one availableNow pass,
    * return the sink table. The staged copy is deleted after termination
    * — results live in the sink. */
  /** Stage a parquet table (single file OR a directory of part files —
    * scaled datasets are directories) into `stageDir`; returns the staged
    * paths for cleanup. Files.copy on a directory copies only the EMPTY
    * dir, which would silently feed the stream zero rows. */
  private def stageParquet(tableFile: String,
      stageDir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val src = new java.io.File(tableFile)
    val parts: Seq[java.io.File] =
      if (src.isDirectory) {
        val entries = src.listFiles().toSeq
        // fail LOUDLY on nested layouts (Hive-partitioned dirs): copying
        // only the top level would silently stream a subset of rows — the
        // exact silent-wrong-answer this staging exists to prevent
        val subdirs = entries.filter(_.isDirectory)
        require(subdirs.isEmpty,
          s"stageParquet: $tableFile contains subdirectories " +
            s"(${subdirs.take(3).map(_.getName).mkString(", ")}…) — " +
            "partitioned layouts are not stageable as a flat file stream")
        entries.filter(f => f.isFile && f.getName.endsWith(".parquet"))
      } else Seq(src)
    parts.map { f =>
      val dst = stageDir.resolve(f.getName)
      java.nio.file.Files.copy(f.toPath, dst)
      dst
    }
  }

  /** Fence for the one-shot replay helpers' noDataMicroBatches skip: the
    * skip is safe ONLY because every current face emits within the data
    * batch. Three operator classes emit (part of) their output in the
    * watermark-advancing NO-DATA batch the helpers suppress, and a future
    * face routing one through here would silently lose rows — fail loudly
    * at plan time instead:
    *  - append-mode aggregation (windowed aggs emit a window only when
    *    the watermark passes its end — i.e. in the flush batch);
    *  - flatMapGroups/mapGroupsWithState with an ARMED timeout (timeout
    *    processing runs in no-data batches);
    *  - non-inner stream-stream joins (unmatched-side rows emit on
    *    watermark advance).
    * Complete/update-mode aggs re-emit state in the data batch; inner
    * joins, watermark dedup and NoTimeout state ops emit on arrival. */
  private def requireReplaySafe(df: DataFrame, outputMode: String,
      helper: String): Unit = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.analyzed
    if (outputMode.equalsIgnoreCase("append")) {
      val aggs = plan.collect { case a: Aggregate => a }
      require(aggs.isEmpty,
        s"$helper: an append-mode aggregation emits a finished window only " +
          "when the watermark advances — inside the trailing no-data " +
          "micro-batch this one-shot replay helper skips. Use complete/" +
          "update mode, or run the stream with noDataMicroBatches enabled.")
    }
    val timed = plan.collect {
      case f: FlatMapGroupsWithState
        if f.timeout != org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout => f
    }
    require(timed.isEmpty,
      s"$helper: a (flat)mapGroupsWithState with an armed timeout fires " +
        "its timeout emissions in no-data micro-batches, which this " +
        "one-shot replay helper skips — drop the TTL for the replay or " +
        "run with noDataMicroBatches enabled.")
    val outer = plan.collect {
      case j: Join if j.left.isStreaming && j.right.isStreaming &&
        j.joinType != org.apache.spark.sql.catalyst.plans.Inner => j
    }
    require(outer.isEmpty,
      s"$helper: a non-inner stream-stream join emits unmatched rows on " +
        "watermark advance — inside the no-data micro-batch this one-shot " +
        "replay helper skips. Use an inner join or run with " +
        "noDataMicroBatches enabled.")
  }

  /** The finished memory sink's rows, its temp view dropped: the frame is
    * analyzed, so it keeps the sink while the session forgets the name
    * (left registered, each replay would pin its rows for the session). */
  private def sinkRows(s: SparkSession, sink: String): DataFrame = {
    val rows = s.table(sink)
    s.catalog.dropTempView(sink)
    rows
  }

  /** Runs `compose` as a one-shot AvailableNow replay into the memory
    * sink `sink` and waits for it to end, with the session confs such a
    * replay pins:
    *  - `spark.sql.shuffle.partitions` at 8: stateful streaming allocates
    *    state stores per shuffle partition (a stream-stream join 4 of
    *    them: left/right × keyToNumValues/keyWithIndexToValue), so size
    *    the count to the state, not the batch default. The state layout
    *    is fixed per checkpoint at query start, so it is restored right
    *    after `start()`.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled` off: after the
    *    single data batch the engine schedules a NO-DATA batch purely to
    *    advance the watermark (state eviction / timeout processing) — a
    *    full state-store load+commit cycle that can't change a one-pass
    *    result (nothing is late, no TTL is armed, complete mode re-emits
    *    the same state, append-mode operators and inner stream-stream
    *    joins here emit within the data batch; [[requireReplaySafe]]
    *    fences the rest). A continuous production stream keeps the
    *    default (watermark-driven eviction IS its state bound).
    *    Hash-equality across all stateful faces probed before pinning.
    *  - the local-disk checkpoint manager
    *    ([[graft.streaming.StreamOps.pinLocalCheckpoints]]).
    * The last two hold until the query has terminated. */
  private def replay(s: SparkSession, sink: String, outputMode: String,
      helper: String)(compose: => DataFrame)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.streaming.StreamOps.{pinConf, pinLocalCheckpoints}
    val restoreAtStart = pinConf(s, "spark.sql.shuffle.partitions", "8")
    val restoreAtEnd = Seq(
      pinConf(s, "spark.sql.streaming.noDataMicroBatches.enabled", "false"),
      pinLocalCheckpoints(s, None))
    try {
      val q = try {
        val composed = compose
        requireReplaySafe(composed, outputMode, helper)
        composed
          .writeStream.format("memory").queryName(sink)
          .outputMode(outputMode)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally restoreAtStart()
      q.awaitTermination()
      q
    } finally restoreAtEnd.foreach(_())
  }

  private[graft] def runAvailableNow(s: SparkSession, tableFile: String,
      prefix: String, outputMode: String)(mkAgg: DataFrame => DataFrame): DataFrame = {
    // a file's footer, read on the driver without Spark's inference job
    // (a directory still goes through the inference)
    val schema = graft.sources.VersionedTable.scanParquet(s, Seq(tableFile)).schema
    val stageDir = graft.Harness.tempDir(prefix)
    val staged = stageParquet(tableFile, stageDir)
    val sink = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    // staged copies are cleaned in finally: a query failure (or the
    // single-batch require below) must not leak them
    try {
      // pin maxFilesPerTrigger explicitly: stateful owner semantics
      // (min-of-batch in the LSH registry) are oracle-replayable only
      // when the whole staged input lands in ONE data micro-batch — a
      // global maxFilesPerTrigger or >1000 staged parts (AvailableNow's
      // default chunk) would silently split it
      val q = replay(s, sink, outputMode, "runAvailableNow") {
        mkAgg(s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1000000).parquet(stageDir.toString))
      }
      val dataBatches = q.recentProgress.count(_.numInputRows > 0)
      require(dataBatches <= 1,
        s"runAvailableNow: staged input split across $dataBatches micro-batches " +
          "— single-batch owner determinism violated")
    } finally {
      staged.foreach(java.nio.file.Files.deleteIfExists)
      java.nio.file.Files.deleteIfExists(stageDir)
    }
    sinkRows(s, sink)
  }

  /** Two-stream variant of [[runAvailableNow]]: stages the SAME parquet
    * file into two independent directories so both sides are genuine
    * file-stream sources (a stream-stream join needs two moving sides). */
  private[graft] def runAvailableNow2(s: SparkSession, tableFile: String,
      prefix: String, outputMode: String)
      (mkJoin: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val schema = graft.sources.VersionedTable.scanParquet(s, Seq(tableFile)).schema
    val dirs = Seq("l", "r").map { side =>
      val d = graft.Harness.tempDir(prefix + side)
      (d, stageParquet(tableFile, d))
    }
    val Seq(l, r) = dirs.map { case (d, _) =>
      s.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1000000).parquet(d.toString)
    }
    val sink = prefix + java.util.UUID.randomUUID().toString.replace("-", "")
    try replay(s, sink, outputMode, "runAvailableNow2")(mkJoin(l, r))
    finally dirs.foreach { case (d, staged) =>
      staged.foreach(java.nio.file.Files.deleteIfExists)
      java.nio.file.Files.deleteIfExists(d)
    }
    sinkRows(s, sink)
  }

  /** Watermarks demand TimestampType (not NTZ); session tz is UTC so the
    * instant-typed window bounds equal the NTZ wall-clock ones. Driver
    * events.ts arrives as long nanos under nanosAsLong. */
  private def coerceTs(df: DataFrame): DataFrame =
    if (df.schema("ts").dataType == LongType)
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    else df.withColumn("ts", col("ts").cast(TimestampType))

  /** documents augmented with deterministic near-duplicates (doc_id+1e12,
    * one token appended) so near-dup detection has planted positives. */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select("doc_id", "text", "source")
    docs.unionByName(
      docs.filter(col("doc_id") < 20)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"),
          col("source")))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Text analysis: token counts, quality components, language-ID,
    // polynomial fingerprint — one narrow codegen'd pass per doc.
    "q_text_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens"),
        TextOps.tokenCountBpeIsh(col("text")).as("n_bpe"),
        round(TextOps.uniqueTokenRatio(col("text")), 6).as("uniq_ratio"),
        round(TextOps.stopwordRatio(col("text")), 6).as("stop_ratio"),
        round(TextOps.qualityScore(col("text")), 6).as("quality"),
        TextOps.langId(col("text")).as("lang_pred"),
        TextOps.fingerprint(col("text")).as("fingerprint"))
        .orderBy(col("doc_id"))
    }),

    // Text canonicalization + repetition signal: normalize formatting
    // variants onto one dedup key; flag boilerplate via duplicate-bigram
    // ratio. One narrow pass.
    "q_text_clean" -> ((s, dir) => {
      TextOps.withRepetitionRatio(t(s, dir, "documents"), "text", "__rep")
        .select(col("doc_id"),
          TextOps.normalizeText(concat(col("text"), lit("  MIXED-Case?! "),
            col("source"))).as("norm"),
          round(col("__rep"), 6).as("rep_ratio"))
        .orderBy(col("doc_id"))
    }),

    // Gopher repetition signals (Rae et al. 2021 Table A1): duplicate-line
    // and top-/duplicate-n-gram char fractions, all row-local sorted-array
    // folds — scan → project, zero shuffle. Docs are single-line word soup,
    // so every third doc gets a synthesized multiline variant (text
    // duplicated across two lines + a tail) to exercise the line rules.
    "q_gopher_rep" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat_ws("\n", col("text"), col("text"), lit("tail")))
          .otherwise(col("text")).as("mtext"))
      TextOps.repetitionSignals(docs, "mtext", topNs = Seq(2, 3), dupNs = Seq(5, 10))
        .select(col("doc_id"),
          round(col("dup_line_frac"), 6).as("dup_line_frac"),
          round(col("dup_line_char_frac"), 6).as("dup_line_char_frac"),
          round(col("top_2gram_char_frac"), 6).as("top2gram"),
          round(col("top_3gram_char_frac"), 6).as("top3gram"),
          round(col("dup_5gram_char_frac"), 6).as("dup5gram"),
          round(col("dup_10gram_char_frac"), 6).as("dup10gram"))
        .orderBy(col("doc_id"))
    }),

    // Gopher quality gates: every published sub-signal plus the pass
    // conjunction. Every fourth doc gets synthesized bullet/ellipsis/symbol
    // lines so those rules see non-degenerate input. Row-local, no shuffle.
    "q_gopher_quality" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 4 === 0,
          concat(lit("- bullet # one\n"), col("text"), lit("\ntrailing…")))
          .otherwise(col("text")).as("mtext"))
      TextOps.gopherQualityFlags(docs, "mtext")
        .select(col("doc_id"), col("n_words"),
          round(col("mean_word_len"), 6).as("mean_word_len"),
          round(col("frac_alpha_words"), 6).as("frac_alpha_words"),
          round(col("symbol_word_ratio"), 6).as("symbol_word_ratio"),
          round(col("frac_bullet_lines"), 6).as("frac_bullet_lines"),
          round(col("frac_ellipsis_lines"), 6).as("frac_ellipsis_lines"),
          col("stopword_hits"), col("gopher_pass"))
        .orderBy(col("doc_id"))
    }),

    // SQL surface of the native expressions (GraftFunctions /
    // spark.sql.extensions): the same engine drives plain spark.sql text
    "q_sql_surface" -> ((s, dir) => {
      graft.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("graft_docs_v")
      s.sql("""SELECT doc_id,
              |  graft_fingerprint(text) AS fp,
              |  CAST(size(graft_shingles(split(text, ' '), 3)) AS BIGINT) AS n_shingles
              |FROM graft_docs_v ORDER BY doc_id""".stripMargin)
    }),

    // Document-length histogram: 25-token buckets — the standard corpus
    // length-distribution diagnostic (one narrow pass + tiny aggregate)
    "q_length_hist" -> ((s, dir) => {
      t(s, dir, "documents")
        .select((TextOps.tokenCount(col("text")) / 25L).cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
        .orderBy("bucket")
    }),

    // Bigram frequency table (language-model n-gram counts), top-50
    "q_bigrams" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(TextOps.shingles(TextOps.tokens(col("text")), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    }),

    // Vocabulary building: token frequency table over the corpus (top-100)
    "q_vocab" -> ((s, dir) => {
      TextOps.vocabulary(t(s, dir, "documents"), "text")
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    }),

    // Incremental vocab maintenance: corpus counts (docs < 400) merged
    // with a new batch (docs >= 400) must equal the from-scratch counts —
    // the mergeable-state contract that lets a 100 TB corpus be tokenized
    // exactly once.
    "q_vocab_merge" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val existing = TextOps.vocabulary(docs.filter(col("doc_id") < 400), "text")
      TextOps.mergeVocabCounts(existing, docs.filter(col("doc_id") >= 400), "text")
        .orderBy(col("n").desc, col("token"))
        .limit(100)
    }),

    // Composite corpus-cleaning pipeline: language + quality + length
    // gates, then exact-dedup to canonical rows — the one-pass "clean
    // corpus" shape a training-data pipeline runs first
    "q_quality_filter" -> ((s, dir) => {
      val scored = t(s, dir, "documents").select(col("doc_id"), col("text"),
          round(TextOps.qualityScore(col("text")), 6).as("q"),
          TextOps.langId(col("text")).as("lang_pred"),
          TextOps.tokenCount(col("text")).as("nt"))
        .filter(col("q") >= 0.55 && col("lang_pred") === "en" && col("nt") >= 20)
      graft.operators.Dedup.dropExactDups(scored, "text", "doc_id")
        .select(col("doc_id"), col("q"), col("nt"))
        .orderBy(col("doc_id"))
    }),

    // TF-IDF over the corpus (df/idf from ALL docs; output restricted to
    // doc_id < 20 for a bounded deterministic result set)
    "q_tfidf" -> ((s, dir) => {
      TextOps.tfIdf(t(s, dir, "documents"), "text", "doc_id")
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          round(col("tf_idf"), 6).as("tf_idf"))
        .orderBy(col("doc_id"), col("token"))
    }),

    // NFC unicode normalization: combining-mark and precomposed forms of
    // the same visible text fold onto one dedup key. Suffix plants both
    // spellings of "café"; after NFC they fingerprint identically.
    "q_unicode" -> ((s, dir) => {
      val suffixed = concat(col("text"),
        lit(" cafe\u0301 caf\u00e9 A\u030a vs \u00c5"))
      t(s, dir, "documents").select(col("doc_id"),
          TextOps.normalizeUnicode(suffixed).as("nfc"),
          length(TextOps.normalizeUnicode(suffixed)).cast(LongType).as("n_chars_nfc"),
          (length(suffixed) - length(TextOps.normalizeUnicode(suffixed)))
            .cast(LongType).as("n_composed"))
        .orderBy(col("doc_id"))
    }),

    // Boilerplate stripping: repeated sentences within a doc keep only
    // their first occurrence (planted "call now" spam repeats). Order
    // preserved — a distinct would reorder.
    "q_line_dedup" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(". call now. call now. visit example. call now")).as("t"))
      TextOps.dropRepeatedSegments(synth, "t", ". ", "cleaned")
        .select(col("doc_id"), col("cleaned"), col("cleaned_dropped"))
        .orderBy(col("doc_id"))
    }),

    // Perplexity-proxy quality: per-doc mean unigram log-prob under the
    // corpus's own unigram LM — flags gibberish (low) and boilerplate
    // (high) tails the ratio heuristics miss
    "q_unigram_lp" -> ((s, dir) => {
      TextOps.unigramLogProb(t(s, dir, "documents"), "text", "doc_id")
        .select(col("doc_id"), round(col("avg_logprob"), 6).as("avg_logprob"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Deterministic train/test split: polynomial-fingerprint bucket of the
    // doc id — reproducible across runs/engines, no RNG, narrow pass
    "q_split" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("split", graft.operators.Sampling.splitTag(col("doc_id"), 80))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"),
          sum(col("n_chars")).as("chars_sum"))
        .orderBy(col("split"))
    }),

    // Reproducible OUTPUT SHARDING manifest: deterministic shard
    // assignment (fingerprint(id) mod 16 — no RNG, stable under
    // incremental growth) plus the per-shard verification artifact a
    // training-data publisher ships next to the shards: counts, token
    // totals, id range, and an order-independent content checksum (sum
    // of per-row fingerprints — invariant to partition layout, moved by
    // any dropped/duplicated/corrupted row). One scan + a 16-group agg.
    "q_shard_manifest" -> ((s, dir) => {
      graft.operators.Sampling.shardManifest(
          t(s, dir, "documents"), "doc_id", "text", nShards = 16)
        .orderBy(col("shard"))
    }),

    // Epoch-varying training order — the global-shuffle step a trainer
    // runs every epoch WITHOUT rewriting the corpus: within each shard,
    // rows sort by fingerprint("e<epoch>:id") — deterministic, engine-
    // replayable, and re-salted per epoch so the two graded epochs share
    // no order structure. Graded on the first 3 rows of every (epoch,
    // shard) under that order; the rank<=3 filter plans as
    // WindowGroupLimit, so each input partition forwards at most 3 rows
    // per shard into the one exchange — never a global sort of the
    // corpus.
    "q_train_order" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").select(col("doc_id"),
        graft.operators.Sampling.shardOf(col("doc_id"), 8).as("shard"))
      Seq(1, 2).map { e =>
        val w = Window.partitionBy(col("shard"))
          .orderBy(col("okey"), col("doc_id"))
        docs
          .withColumn("okey", graft.operators.Sampling.epochOrder(col("doc_id"), e))
          .withColumn("pos", row_number().over(w))
          .filter(col("pos") <= 3)
          .select(lit(e.toLong).as("epoch"), col("shard"),
            col("pos").cast("long").as("pos"), col("doc_id"), col("okey"))
      }.reduce(_ unionByName _)
        .orderBy(col("epoch"), col("shard"), col("pos"))
    }),

    // Structured Streaming, gated: a REAL StreamingQuery (file source →
    // tumbling event-time windows -> memory sink, one availableNow pass)
    // whose final result the batch oracle replays. Complete output mode:
    // nothing is watermark-dropped in a one-shot replay, so the result is
    // deterministic.
    "q_stream_tumbling" -> ((s, dir) => {
      // mean re-derived as round(sum,4)/count on BOTH sides: identical
      // doubles divide bit-identically (see graft-driver-contract notes)
      runAvailableNow(s, s"$dir/events.parquet", "graft_stream", "complete") {
        stream => graft.streaming.StreamOps.tumblingAgg(coerceTs(stream),
          "ts", "event_type", "value", "1 hour", "10 minutes")
      }
        .select(col("window.start").cast(TimestampNTZType).as("bucket"), col("event_type"),
          round(col("sum"), 4).as("value_sum"),
          (round(col("sum"), 4) / col("count")).as("value_mean"),
          col("count").as("n"),
          col("min").as("value_min"), col("max").as("value_max"))
        .orderBy(col("bucket"), col("event_type"))
    }),

    // Structured Streaming session windows, gated: a REAL StreamingQuery
    // (file source → session_window(30 min gap) per user → memory sink,
    // complete mode, one availableNow pass). Note the gap rule: streaming
    // sessions break at diff >= gap (window end is exclusive), so the
    // batch oracle uses >= where Stats.sessionize uses >.
    "q_stream_session" -> ((s, dir) => {
      runAvailableNow(s, s"$dir/events.parquet", "graft_stream_sess", "complete") {
        stream => graft.streaming.StreamOps.sessionAgg(coerceTs(stream),
          "ts", "user_id", "value", "30 minutes", "10 minutes")
      }
        .select(col("user_id"),
          col("session_window.start").cast(TimestampNTZType).as("session_start"),
          round(col("sum"), 4).as("value_sum"), col("count").as("n"))
        .orderBy(col("user_id"), col("session_start"))
    }),

    // Structured Streaming STREAM-STATIC enrichment join, gated: the
    // streaming-ingest-joins-dimension shape (stream side never blocks;
    // the static side broadcasts per micro-batch). Aggregated per
    // enriched key in complete mode, one availableNow pass.
    "q_stream_join" -> ((s, dir) => {
      val dim = t(s, dir, "nation")
        .select(col("n_nationkey").as("user_id"), col("n_name"))
      runAvailableNow(s, s"$dir/events.parquet", "graft_stream_join", "complete") {
        stream =>
          stream.select(col("user_id"), col("value"))
            .join(dim, Seq("user_id"))
            .groupBy(col("n_name"))
            .agg(count(lit(1)).as("n"), sum(col("value")).as("vsum"))
      }
        .select(col("n_name"), col("n"), round(col("vsum"), 4).as("value_sum"))
        .orderBy(col("n_name"))
    }),

    // Structured Streaming SLIDING windows, gated: fourth real streaming
    // face (1 h windows sliding every 15 min — each event lands in 4
    // overlapping windows). Complete mode, one availableNow pass; the
    // batch oracle replays the window fan-out with slide arithmetic.
    "q_stream_sliding" -> ((s, dir) => {
      runAvailableNow(s, s"$dir/events.parquet", "graft_stream_slide", "complete") {
        stream => graft.streaming.StreamOps.slidingAgg(coerceTs(stream),
          "ts", "event_type", "value", "1 hour", "15 minutes", "10 minutes")
      }
        .select(col("window.start").cast(TimestampNTZType).as("bucket"),
          col("event_type"),
          round(col("sum"), 4).as("value_sum"), col("count").as("n"))
        .orderBy(col("bucket"), col("event_type"))
    }),

    // Structured Streaming dedup, gated: a REAL StreamingQuery (file
    // source → watermarked dropDuplicatesWithinWatermark on (lang, text)
    // → memory sink, one availableNow pass). Which doc survives a dup
    // pair is arrival-dependent, so the graded result is the
    // arrival-independent part: distinct-text count per lang. Planted
    // dups: every 10th doc shares one boilerplate text.
    "q_stream_dedup" -> ((s, dir) => {
      runAvailableNow(s, s"$dir/documents.parquet", "graft_stream_dedup", "append") {
        stream =>
          graft.streaming.StreamOps.streamingDedup(
            stream.select(col("lang"),
              when(col("doc_id") % 10 === 0, lit("shared boilerplate text"))
                .otherwise(col("text")).as("text"),
              timestamp_seconds(lit(1700000000L) + col("doc_id") % 100).as("ts")),
            "ts", Seq("lang", "text"), "1 hour")
      }
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_distinct_texts"))
        .orderBy(col("lang"))
    }),

    // Streaming LSH near-dup INGEST FILTER, gated: a REAL StreamingQuery
    // (file source -> per-row minhash signatures -> banded bucket claims
    // owned in flatMapGroupsWithState -> memory sink, one availableNow
    // pass). Owner = min doc id per (band, bucket) is arrival-independent
    // for a single pass, so the DuckDB oracle replays the ENTIRE pipeline:
    // signatures, band keys, owners, per-doc candidate flags. Planted
    // dups: every 10th doc shares one boilerplate text.
    "q_stream_lsh" -> ((s, dir) => {
      runAvailableNow(s, s"$dir/documents.parquet", "graft_stream_lsh", "append") {
        stream =>
          graft.streaming.StreamOps.streamingLshClaims(
            stream.select(col("doc_id"),
              when(col("doc_id") % 10 === 0, lit("shared boilerplate text"))
                .otherwise(col("text")).as("text")),
            "text", "doc_id").toDF
      }
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bands"),
          max(when(col("owner") =!= col("doc_id"), 1).otherwise(0))
            .as("is_dup_candidate"))
        .orderBy(col("doc_id"))
    }),

    // Streaming LSH with the VERIFY stage closed in-stream, gated: a REAL
    // StreamingQuery where the bucket registry keeps the owner's full
    // signature and emits only CONFIRMED near-dups (est-Jaccard >= 0.5 vs
    // the bucket owner). Two planted dup families: docs %10==0 share text
    // A (intra-pairs est 1.0), %10==5 share text B = A + one extra token
    // (intra est 1.0; any A~B band collision yields a partial-est cross
    // pair). The DuckDB oracle replays the whole pipeline: signatures,
    // band keys, owners, owner-anchored pairs, signature-compare filter.
    "q_stream_lsh_verify" -> ((s, dir) => {
      val textA = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      runAvailableNow(s, s"$dir/documents.parquet", "graft_stream_lshv", "append") {
        stream =>
          graft.streaming.StreamOps.streamingLshVerified(
            stream.select(col("doc_id"),
              when(col("doc_id") % 10 === 0, lit(textA))
                .when(col("doc_id") % 10 === 5, lit(textA + " extra"))
                .otherwise(col("text")).as("text")),
            "text", "doc_id", threshold = 0.5).toDF
      }
        // est is a whole-signature compare — identical from every band;
        // n_bands = how many bands confirmed the pair
        .groupBy(col("id_a"), col("id_b"))
        .agg(max(col("est_jaccard")).as("est_jaccard"),
          count(lit(1)).as("n_bands"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Streaming PRIORITY SAMPLE, gated: a REAL StreamingQuery maintains
    // the DLT weighted sample in O(shards × (k+1)) state during ingest
    // (per-shard running top-(k+1) by priority — merge-order-invariant,
    // so the result is batch-identical by construction). The finish
    // merges shard lists → global rank → τ → est_w = max(w, τ). The
    // DuckDB oracle computes the PURE BATCH sample — streamed == batch
    // IS the graded property, estimators included bit for bit.
    "q_stream_priority" -> ((s, dir) => {
      val shardTop = runAvailableNow(s, s"$dir/documents.parquet",
          "graft_stream_prio", "update") { stream =>
        graft.streaming.StreamOps.streamingPrioritySample(
          stream.select(col("doc_id"), col("n_chars")),
          "doc_id", "n_chars", k = 64).toDF
      }
      val win = org.apache.spark.sql.expressions.Window
        .orderBy(col("q").desc, col("id"))
      val ranked = shardTop.withColumn("__rk", row_number().over(win))
        .filter(col("__rk") <= 65)
      val tau = ranked.agg(max(when(col("__rk") === 65, col("q"))).as("__tau"))
      ranked.filter(col("__rk") <= 64).crossJoin(broadcast(tau))
        .select(col("__rk").as("sample_rank"), col("id").as("doc_id"),
          col("w").cast(LongType).as("n_chars"),
          greatest(col("w"), coalesce(col("__tau"), col("w"))).as("est_w"))
        .orderBy(col("sample_rank"))
    }),

    // Streaming Count-Min sketch, gated: a REAL StreamingQuery maintains
    // the d×w counter matrix as a plain streaming aggregate (complete
    // mode — the state IS the sketch, bounded at d·w rows forever), then
    // the batch-side consumer finish reads point estimates off the
    // streamed sketch exactly like q_cms does off the batch build.
    // Streamed == batch is by construction (additive counters are
    // merge-order-invariant), which is what lets q_cms's own DuckDB
    // oracle grade the streaming face end-to-end.
    "q_stream_cms" -> ((s, dir) => {
      def keyOf(df: DataFrame) =
        df.select(when(col("event_id") % 5 === 0, lit(0L))
          .otherwise(col("user_id") % 50).as("k"))
      val sketch = runAvailableNow(s, s"$dir/events.parquet",
          "graft_stream_cms", "complete") { stream =>
        graft.streaming.StreamOps.streamingCms(keyOf(stream), col("k"),
          SketchQueries.CmsD, SketchQueries.CmsW)
      }
      val keys = keyOf(t(s, dir, "events"))
      val probes = keys.filter(col("k") < 10).distinct()
      val exact = keys.filter(col("k") < 10).groupBy(col("k").as("item"))
        .agg(count(lit(1)).as("exact_cnt"))
      graft.operators.Sketch.cmsEstimate(sketch, probes, col("k"),
          SketchQueries.CmsD, SketchQueries.CmsW)
        .join(exact, "item")
        .select(col("item"), col("est_cnt"), col("exact_cnt"))
        .orderBy(col("item"))
    }),

    // Streaming moments sketch — the quantile summary maintained DURING
    // ingest: count/min/max/decimal-sums are all plain streaming
    // aggregates (complete mode; state = one 7-scalar row per group,
    // bounded forever), and component-wise-additive state is merge-
    // order-invariant, so streamed == batch bit for bit — which lets
    // q_moments' lang-level oracle grade the streaming face verbatim
    // (the batch query additionally routes through the per-source
    // MERGE; both reduce to the same language sketches by identical
    // exact arithmetic).
    "q_stream_moments" -> ((s, dir) => {
      runAvailableNow(s, s"$dir/documents.parquet", "graft_stream_moments",
          "complete") { stream =>
        graft.operators.Sketch.momentsSketch(stream, Seq("lang"),
          col("n_chars"))
      }.orderBy(col("lang"))
    }),

    // Streaming QUALITY GATE: the ingest-time face of the Gopher rules —
    // a real StreamingQuery filters each micro-batch stateless-ly (the
    // flags are row-local, so the stream needs no state store at all) and
    // only passing docs reach the sink. Oracle = the batch replay.
    "q_stream_quality" -> ((s, dir) => {
      runAvailableNow(s, s"$dir/documents.parquet", "graft_stream_quality", "append") {
        stream =>
          TextOps.gopherQualityFlags(stream, "text")
            .filter(col("gopher_pass"))
            .select(col("doc_id"), col("lang"), col("n_words"))
      }
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_passing"), sum(col("n_words")).as("words_sum"))
        .orderBy(col("lang"))
    }),

    // Duplicated-SPAN detection (Lee et al. 2022 signal): sliding
    // 30-token windows, fingerprint-keyed frequency; a 36-token tail
    // planted on every 20th doc makes those docs share 7 windows each
    // while boundary-straddling windows stay unique.
    "q_dup_spans" -> ((s, dir) => {
      val tail = "dup span marker zero one two three four five six seven " +
        "eight nine ten eleven twelve thirteen fourteen fifteen sixteen " +
        "seventeen eighteen nineteen twenty alpha beta gamma delta epsilon " +
        "zeta eta theta iota kappa lambda mu"
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 20 === 0, lit(" " + tail)).otherwise(lit("")))
          .as("text"))
      Dedup.dupSpanStats(synth, "text", "doc_id", n = 30)
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          round(col("dup_ratio"), 6).as("dup_ratio"))
        .orderBy(col("doc_id"))
    }),

    // DSIR importance weights: score every doc by the target-vs-raw
    // unigram log-likelihood ratio (target = the 'en' slice). Two
    // vocab-sized LM tables; the raw corpus is exploded once.
    "q_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.dsirLogWeights(docs, docs.filter(col("lang") === "en"),
          "text", "doc_id")
        .select(col("doc_id"), round(col("log_weight"), 6).as("log_weight"),
          col("n_tokens"))
        .orderBy(col("doc_id"))
    }),

    // Compressibility GATE on a PINNED engine-portable ratio: distinct
    // token-bigram diversity (low = templated/repetitive, the same
    // signal zlib's ratio proxies — LZ compression exploits repeated
    // substrings). Every 5th doc gets a planted 60-token repetition so
    // all three gate classes fire (<0.5 too_repetitive, >0.995
    // high_entropy, else ok). The GATE decision is what's hash-gated;
    // the real zlib ratio path (withCompressionRatio) is JVM-exact but
    // not engine-portable, so CompressBpeSpec pins those semantics.
    "q_compress_gate" -> ((s, dir) => {
      val spam = Seq.fill(60)("spam").mkString(" ")
      val synth = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" " + spam)))
          .otherwise(col("text")).as("text"))
      // tokenize ONCE under a name: HOF lambdas are CodegenFallback, so a
      // split() referenced inside one re-evaluates per element — O(n^2)
      // per doc (measured 8.2 s -> this form ~1 s at sf0.1)
      val withToks = synth.withColumn("toks", split(col("text"), " "))
      val bigrams = expr(
        "transform(slice(toks, 1, size(toks) - 1), (x, i) -> concat(x, ' ', toks[i + 1]))")
      val withRatio = withToks.withColumn("ratio",
        when(size(col("toks")) >= 2,
          size(array_distinct(bigrams)).cast(DoubleType) /
            (size(col("toks")) - 1).cast(DoubleType))
          .otherwise(lit(1.0)))
      TextOps.compressionGate(withRatio, "ratio", lo = 0.5, hi = 0.995)
        .select(col("doc_id"), round(col("ratio"), 6).as("ratio"),
          col("compress_flag"), col("compress_keep"))
        .orderBy(col("doc_id"))
    }),

    // BPE APPLICATION with PINNED merge rules — the serving split
    // (rules trained once, applied per batch), mirroring
    // q_ann_ivf_pinned. The distributed encoder (per-partition memoized
    // mapPartitions, TextOps.withBpeTokens) is the 100 TB-relevant
    // stage, and the oracle replays it end-to-end: bracketed char form
    // + one left-to-right non-overlapping replace per rule IN ORDER is
    // exactly applyBpe's merge loop. Training (iterative corpus-global
    // argmax) stays driver-side + spec-gated (CompressBpeSpec).
    "q_bpe_applied" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.withBpeTokens(docs, "text", pinnedBpeMerges)
        .select(col("doc_id"),
          when(col("bpe_tokens").isNotNull,
            size(col("bpe_tokens")).cast(LongType)).as("n_bpe_tokens"),
          array_join(col("bpe_tokens"), "|").as("bpe_joined"))
        .orderBy(col("doc_id"))
    }),

    // BPE tokenizer TRAINING (Sennrich merge loop), oracle-gated
    // end-to-end: the corpus collapses to a word-frequency table in ONE
    // map-side-combined pass, then each of the K merge rounds is a
    // vocab-sized pair-count aggregate + a 1-row argmax (count DESC,
    // then (a,b) binary — Spark UTF8 == DuckDB binary on this ASCII
    // corpus) + a narrow fold rewriting each word's symbol array
    // (TextOps.trainBpeDistributed — the no-driver-cap scale path; at
    // 100 TB the corpus is still scanned exactly once). The oracle
    // replays ALL K rounds in generated SQL: bracketed char encoding +
    // one left-to-right non-overlapping replace per learned rule, the
    // same trick q_bpe_applied's oracle uses for the serving split.
    // Completes the tokenizer lifecycle gate: train (here) -> apply
    // (q_bpe_applied) -> vocab/OOV stats (q_vocab, q_oov).
    "q_bpe_train" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val merges = TextOps.trainBpeDistributed(
        docs, "text", numMerges = bpeTrainRounds, minWordCount = 2L)
      import s.implicits._
      merges.zipWithIndex
        .map { case ((a, b), i) => ((i + 1).toLong, a, b) }
        .toDF("step", "lhs", "rhs")
        .orderBy(col("step"))
    }),

    // Duplicated-span REMOVAL (Lee et al. ExactSubstr action): every 7th
    // doc carries the same 26-token tail, so its pure-tail 15-grams
    // duplicate corpus-wide and the tail is trimmed; boundary windows
    // (doc-specific prefix + tail) stay unique. Output is the rebuilt
    // text — the driver hashes it verbatim.
    "q_trim_spans" -> ((s, dir) => {
      val tail = "trim span tail one two three four five six seven eight " +
        "nine ten eleven twelve thirteen fourteen fifteen sixteen " +
        "seventeen eighteen nineteen twenty final end"
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0, lit(" " + tail)).otherwise(lit("")))
          .as("text"))
      Dedup.trimDupSpans(synth, "text", "doc_id", n = 15)
        .select(col("doc_id"), col("text_trimmed"), col("n_trimmed_tokens"))
        .orderBy(col("doc_id"))
    }),

    // k-NN label prediction: top-7 cosine neighbors vote on `label`;
    // majority wins, ties (votes DESC, label ASC). Corpus streams,
    // queries broadcast; the vote is a |queries|*k groupBy.
    "q_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnPredict(emb, emb.filter(col("vec_id") < 25),
          "vec_id", "embedding", "label", k = 7)
        .select(col("query_id"), col("label"), col("votes"),
          round(col("top_cosine"), 6).as("top_cosine"))
        .orderBy(col("query_id"))
    }),

    // FUZZY join (record linkage): parts vs a "catalog" whose names
    // carry a ' v2' suffix — character-trigram Jaccard >= 0.6 links the
    // perturbed names back; inverted-index candidates, no cross join.
    "q_fuzzy_join" -> ((s, dir) => {
      val parts = t(s, dir, "part").filter(col("p_partkey") < 300)
      val catalog = parts.select((col("p_partkey") + 10000).as("cat_id"),
        concat(col("p_name"), lit(" v2")).as("cat_name"))
      graft.operators.Joins.fuzzyJoin(
          parts.select(col("p_partkey"), col("p_name")), catalog,
          "p_partkey", "p_name", "cat_id", "cat_name", threshold = 0.6)
        .select(col("p_partkey"), col("cat_id"), col("size_l"), col("size_r"),
          col("inter"), round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("p_partkey"), col("cat_id"))
    }),

    // Edit-distance record linkage on the same perturbed catalog: the
    // ' v2' suffix is exactly 3 edits, so maxDist=3 links every pair;
    // trigram blocking + exact Levenshtein gate (complete here: names
    // are far longer than 3*maxDist+3)
    "q_fuzzy_lev" -> ((s, dir) => {
      val parts = t(s, dir, "part").filter(col("p_partkey") < 300)
      val catalog = parts.select((col("p_partkey") + 10000).as("cat_id"),
        concat(col("p_name"), lit(" v2")).as("cat_name"))
      graft.operators.Joins.fuzzyJoinLev(
          parts.select(col("p_partkey"), col("p_name")), catalog,
          "p_partkey", "p_name", "cat_id", "cat_name", maxDist = 3)
        .orderBy(col("p_partkey"), col("cat_id"))
    }),

    // Tokenizer coverage: per-doc OOV profile against the corpus's own
    // frequent-token vocabulary (count >= 50)
    "q_oov" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = TextOps.vocabulary(docs, "text").filter(col("n") >= 50)
      TextOps.oovProfile(docs, "text", "doc_id", vocab, "token")
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          round(col("oov_rate"), 6).as("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    // Hard-negative mining: for 10 anchors, the 5 most-similar vectors
    // with a DIFFERENT label (contrastive-training negatives)
    "q_hard_neg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", 5)
        .select(col("anchor_id"), col("rank"), col("neg_id"), col("neg_label"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("anchor_id"), col("rank"))
    }),

    // SEMANTIC decontamination: eval = vec_id < 20; corpus = the rest
    // plus planted paraphrases (eval vectors scaled 2x -> cosine 1, ids
    // +10000). Only the planted rows cross the 0.9 threshold (the true
    // corpus maxes out at 0.49 vs eval).
    "q_sem_decon" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val evalSet = emb.filter(col("vec_id") < 20)
      val planted = evalSet.select((col("vec_id") + 1000000000000L).as("vec_id"),
        transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
      val corpus = emb.filter(col("vec_id") >= 20)
        .select(col("vec_id"), col("embedding")).unionByName(planted)
      Similarity.semanticDecontaminate(corpus, evalSet, "vec_id", "embedding", 0.9)
        .select(col("vec_id"), col("eval_id"),
          round(col("max_eval_cosine"), 6).as("max_eval_cosine"))
        .orderBy(col("vec_id"))
    }),

    // Source-drift profiling: unigram KL divergence of each source's
    // token distribution vs the corpus mix — the "which feed went bad"
    // dashboard number.
    "q_kl_drift" -> ((s, dir) => {
      TextOps.unigramKlDivergence(t(s, dir, "documents"), "text", "source")
        .select(col("source"), col("n_tokens"),
          round(col("kl_bits"), 6).as("kl_bits"))
        .orderBy(col("source"))
    }),

    // Column-entropy profiling: Shannon entropy of the lang/source
    // mixes — the curation dashboard number for "is this corpus
    // balanced" (0 = degenerate, log2(cardinality) = uniform).
    "q_entropy" -> ((s, dir) => {
      graft.operators.Stats.entropies(t(s, dir, "documents"), Seq("lang", "source"))
        .select(col("column"), round(col("entropy"), 6).as("entropy"))
        .orderBy(col("column"))
    }),

    // Stream-STREAM interval join (both sides move; the sixth gated
    // streaming face): click->purchase attribution within 6 hours, per
    // user. The StreamingQuery is the watermarked interval join itself
    // (append mode — Spark's stream-stream constraint); the graded
    // result aggregates the sink, which on a complete availableNow pass
    // equals the batch join exactly.
    "q_stream_stream" -> ((s, dir) => {
      val joined = runAvailableNow2(s, s"$dir/events.parquet",
          "graft_ss", "append") { (l, r) =>
        graft.streaming.StreamOps.streamStreamIntervalJoin(
          coerceTs(l).filter(col("event_type") === "click")
            .select(col("user_id"), col("ts").as("click_ts"),
              col("event_id").as("click_id")),
          coerceTs(r).filter(col("event_type") === "purchase")
            .select(col("user_id"), col("ts").as("purchase_ts"),
              col("value").as("purchase_value")),
          Seq("user_id"), "click_ts", "purchase_ts",
          lateness = "1 hour", rangeAfter = "6 hours")
      }
      joined.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_attributed"),
          round(sum(col("purchase_value")), 4).as("purchase_sum"))
        .orderBy(col("user_id"))
    }),

    // Sliding-window document chunking (40-token chunks, 10 overlap) —
    // the context-bounded split for training/embedding. Narrow Generate.
    "q_chunk" -> ((s, dir) => {
      TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          chunk = 40, overlap = 10)
        .filter(col("doc_id") < 100)
        .orderBy(col("doc_id"), col("chunk_id"))
    }),

    // PII redaction + audit counts: emails / IPv4s / long digit runs
    // synthesized deterministically into each doc, then scrubbed with the
    // RE2-compatible patterns (one narrow codegen'd pass) and counted on
    // the original text. DuckDB replays the same pattern text under RE2.
    "q_pii" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com"),
          lit(" from 10.0."), col("doc_id") % 256, lit("."), col("doc_id") % 100,
          lit(" card 4111111111"), col("doc_id") % 900000 + 100000).as("text"))
      val (ne, ni, nn) = TextOps.piiCounts(col("text"))
      synth.select(col("doc_id"),
          TextOps.redactPii(col("text")).as("redacted"),
          ne.cast(LongType).as("n_email"), ni.cast(LongType).as("n_ip"),
          nn.cast(LongType).as("n_num"))
        .orderBy(col("doc_id"))
    }),

    // Token-budget batch packing over chunked docs — the pretraining
    // batch-assembly shape: chunk to the context size, then pack chunks
    // into ~256-token batches across 8 deterministic hash streams. One
    // shuffle + one windowed cumsum; the oracle replays it exactly.
    "q_pack" -> ((s, dir) => {
      val chunks = TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          chunk = 40, overlap = 10)
        .withColumn("chunk_key", col("doc_id") * 1000 + col("chunk_id"))
      graft.operators.Sampling.packBudget(chunks, "chunk_tokens", "chunk_key",
          budget = 256, streams = 8)
        .groupBy(col("stream"), col("batch"))
        .agg(count(lit(1)).as("n_rows"), sum(col("chunk_tokens")).as("tokens_sum"))
        .orderBy(col("stream"), col("batch"))
    }),

    // Per-source cap (at most 30 docs per source, fingerprint-ranked):
    // the domain-cap curation primitive. Rank-limit pushes into
    // WindowGroupLimit — partial top-N before the shuffle.
    "q_cap" -> ((s, dir) => {
      graft.operators.Sampling.capPerLabel(t(s, dir, "documents"),
          "doc_id", "source", maxN = 30)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("source"))
    }),

    // Training-mixture upsampling: per-lang fractional epoch weights
    // (en 1.5, de 2.25, others 0.5) — floor(w) copies plus one more for
    // the deterministic frac(w) of ids. Narrow explode, no RNG.
    "q_mix" -> ((s, dir) => {
      graft.operators.Sampling.weightedMix(t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 1.5, "de" -> 2.25), defaultWeight = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"), sum(col("epoch")).as("epoch_sum"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // Domain-level curation signal: extract URL hosts per doc
    // (synthesized deterministically), count per domain — the input to
    // blocklists / per-domain caps. One regexp pass + tiny aggregate.
    "q_domains" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" see https://site"), col("doc_id") % 20, lit(".example.com/page"),
          lit(" or http://mirror"), col("doc_id") % 5, lit(".example.org/x")).as("text"))
      synth.select(explode(TextOps.urlDomains(col("text"))).as("domain"))
        .groupBy("domain").agg(count(lit(1)).as("n"))
        .orderBy(col("domain"))
    }),

    // DECONTAMINATION: training docs that near-dup match an eval set
    // (15 "benchmark" docs planted as light edits of training docs),
    // via the cross-corpus LSH band join — never a cross join. The
    // polynomial family lets DuckDB replay signatures on both sides.
    "q_decontaminate" -> ((s, dir) => {
      val train = t(s, dir, "documents").select("doc_id", "text")
      val evalSet = train.filter(col("doc_id") < 15)
        .select((col("doc_id") + 500000).as("doc_id"),
          concat(col("text"), lit(" extra")).as("text"))
      Dedup.crossCorpusNearDups(train, evalSet, "text", "doc_id", threshold = 0.5,
          family = Dedup.MinhashFamily.polynomial)
        .select(col("train_id"), col("eval_id"),
          round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy(col("train_id"), col("eval_id"))
    }),

    // EXACT-overlap decontamination (GPT-3 appendix-C rule): the eval set
    // is 10-token verbatim QUOTES lifted from every 50th doc — whole-doc
    // MinHash Jaccard dilutes an embedded quote below any threshold, but
    // one shared exact 5-gram flags it. Eval n-gram set is the broadcast
    // side; train never shuffles.
    "q_ngram_decon" -> ((s, dir) => {
      val train = t(s, dir, "documents").select("doc_id", "text")
      val evalSet = train.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat_ws(" ", slice(TextOps.tokens(col("text")), 6, 10)).as("text"))
      Dedup.ngramCollisions(train, evalSet, "text", "doc_id", n = 5)
        .select(col("doc_id"), col("n_collisions"), col("contaminated"))
        .orderBy(col("doc_id"))
    }),

    // CROSS-document boilerplate removal (CCNet/C4 rule): segments
    // occurring in >5% of docs (planted license/newsletter/privacy
    // footers on every 3rd/5th doc) are stripped corpus-wide while each
    // doc's unique body survives — the complement of q_line_dedup's
    // within-doc rule.
    "q_boilerplate" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 3 === 0,
            lit(". all rights reserved. subscribe to our newsletter")).otherwise(lit("")),
          when(col("doc_id") % 5 === 0,
            lit(". privacy policy")).otherwise(lit(""))).as("t"))
      TextOps.dropFrequentLines(synth, "t", "doc_id", ". ",
          maxDocShare = 0.05, out = "cleaned")
        .select(col("doc_id"), col("cleaned"), col("cleaned_dropped"))
        .orderBy(col("doc_id"))
    }),

    // Per-label deterministic sampling (class rebalancing / source
    // mixing): en halved, de whole, everything else 10%
    "q_stratified" -> ((s, dir) => {
      graft.operators.Sampling.stratifiedHashSample(
          t(s, dir, "documents"), "doc_id", "lang",
          Map("en" -> 50, "de" -> 100), defaultPct = 10)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
        .orderBy(col("lang"))
    }),

    // End-to-end corpus curation: chunk -> quality gate -> exact dedup ->
    // deterministic split — the full training-data preparation pipeline in
    // one lineage (each stage is itself oracle-gated; this proves they
    // COMPOSE). Narrow passes + two key shuffles (dedup, final groupBy).
    "q_curate" -> ((s, dir) => {
      val chunks = TextOps.chunkTokens(t(s, dir, "documents"), "text", "doc_id",
          chunk = 40, overlap = 10)
        .withColumn("chunk_key", col("doc_id") * 1000 + col("chunk_id"))
      val scored = chunks
        .withColumn("q", round(TextOps.qualityScore(col("chunk")), 6))
        .filter(col("q") >= 0.5 && col("chunk_tokens") >= 20)
      val canon = Dedup.dropExactDups(scored, "chunk", "chunk_key")
      canon
        .withColumn("split", graft.operators.Sampling.splitTag(col("chunk_key"), 80))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("chunk_tokens")).as("tokens_sum"),
          round(sum(col("q")), 4).as("q_sum"))
        .orderBy(col("split"))
    }),

    // Curation pipeline v2 — the round-4 stack end to end: Gopher quality
    // gate -> duplicated-span removal (n=15) -> exact dedup on the
    // CLEANED text -> hash split. The oracle replays all four stages.
    "q_curate2" -> ((s, dir) => {
      val gated = TextOps.gopherQualityFlags(t(s, dir, "documents"), "text")
        .filter(col("gopher_pass")).select(col("doc_id"), col("text"))
      // dropExactDups consumes its input twice (canonical-set build +
      // probe), and nothing upstream is exchange-shaped for AQE reuse —
      // without a persist the whole gate+trim stage (the pipeline's
      // per-row heavy work) runs twice. Production materializes the
      // cleaned stage between steps; MEMORY_AND_DISK is its spill-safe
      // local analogue (measured 2.4 -> 1.8 s warm at sf0.1).
      val trimmed = Dedup.trimDupSpans(gated, "text", "doc_id", n = 15)
        .select(col("doc_id"), col("text_trimmed").as("clean"),
          col("n_trimmed_tokens"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val canon = Dedup.dropExactDups(trimmed, "clean", "doc_id")
      val out = canon
        .withColumn("split", graft.operators.Sampling.splitTag(col("doc_id"), 80))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_trimmed_tokens")).as("trimmed_sum"),
          sum(TextOps.tokenCount(col("clean"))).as("tokens_sum"))
        .orderBy(col("split"))
      // materialize the 2-row split summary INSIDE the query so the
      // corpus-sized persist is released deterministically (it leaked for
      // the session's lifetime before — the bench sweep hid it). Same
      // rows, recomputed from parquet on every invocation; the memory-
      // sink streaming faces set the eager-inside-the-query precedent.
      // blocking: async removal raced the next invocation's re-persist
      // (interleaved A/B: non-blocking degraded run-over-run 1.6→2.8 s;
      // blocking is timing-neutral vs the lazy form, B/A=0.97)
      val rows = out.collect()
      trimmed.unpersist(blocking = true)
      s.createDataFrame(java.util.Arrays.asList(rows: _*), out.schema)
    }),

    // Incremental-ingest dedup: the new batch (doc_id >= 250) drops rows
    // whose text the existing corpus already holds, then dedups within
    // itself. Duplicates are injected deterministically (the driver data
    // has none): every 10th doc shares one boilerplate text.
    "q_dedup_incr" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 10 === 0, lit("shared boilerplate text"))
          .otherwise(col("text")).as("text"))
      val corpus = d.filter(col("doc_id") < 250)
      val incoming = d.filter(col("doc_id") >= 250)
      Dedup.dropIncrementalDups(incoming, corpus, "text", "doc_id")
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Bloom-prefiltered incremental dedup: same answer as q_dedup_incr's
    // exact anti-join (sketch negatives are proofs, positives re-verified),
    // but most incoming rows are cleared by a codegen'd probe without ever
    // shuffling — the 100 TB ingest shape. Planted dups: every 7th doc
    // shares one boilerplate text.
    "q_dedup_bloom" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, lit("shared boilerplate text"))
          .otherwise(col("text")).as("text"))
      val corpus = d.filter(col("doc_id") < 250)
      val incoming = d.filter(col("doc_id") >= 250)
      Dedup.dropIncrementalDupsBloom(incoming, corpus, "text", "doc_id",
          expectedCorpusItems = 250)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Exact dedup: canonical representative per distinct text
    "q_dedup_exact" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
        .select(col("canonical_id"), col("dup_count"))
        .orderBy(col("canonical_id"))
    }),

    // n-gram Jaccard near-dup scores via inverted-index join (no cross
    // join). 4-gram shingles: the synthetic 31-word vocab makes 3-grams so
    // dense the posting-list pair expansion hits ~1e9 rows; 4-grams keep
    // the exact-Jaccard inverted-index shape with sane posting lists.
    "q_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccard(t(s, dir, "documents"), "text", "doc_id", "source", 4)
        .select(col("id_a"), col("id_b"), col("inter"),
          round(col("jaccard"), 6).as("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(100)
    }),

    // Asymmetric containment near-dup: plant snippet docs (first 25
    // tokens of docs 0..39) and catch snippet-inside-doc pairs whose
    // symmetric Jaccard is far below any dedup threshold
    "q_containment" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val snippets = docs.filter(col("doc_id") < 40)
        .select((col("doc_id") + 1000000000000L).as("doc_id"),
          concat_ws(" ", slice(TextOps.tokens(col("text")), 1, 25)).as("text"),
          col("source"))
      val corpus = docs.select(col("doc_id"), col("text"), col("source"))
        .unionByName(snippets)
      Dedup.ngramContainment(corpus, "text", "doc_id", "source", 4)
        .filter(col("containment") >= 0.8)
        .select(col("id_a"), col("id_b"), col("inter"), col("size_a"),
          col("size_b"), round(col("containment"), 6).as("containment"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Collocation mining: PMI over adjacent token pairs, count-gated
    "q_pmi" -> ((s, dir) => {
      TextOps.pmiCollocations(t(s, dir, "documents"), "text", minCount = 20)
        .select(col("tok_a"), col("tok_b"), col("pair_count"),
          round(col("pmi"), 6).as("pmi"))
        .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
        .limit(100)
    }),

    // Stupid-backoff bigram LM perplexity proxy: train on the even-id
    // half of the corpus, score every doc (odd docs exercise the
    // unigram backoff path on unattested bigrams)
    "q_bigram_lm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextOps.bigramLogProb(docs, "text", "doc_id",
          lm = docs.filter(col("doc_id") % 2 === 0))
        .select(col("doc_id"), round(col("avg_logprob2"), 6).as("avg_logprob2"),
          col("n_bigrams"))
        .orderBy(col("doc_id"))
    }),

    // Int8-quantized ANN: approximate candidates over 4x-compressed
    // vectors, exact float re-rank — quantization arithmetic is
    // deterministic, so the oracle replays the whole pipeline
    "q_ann_int8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopKInt8(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // C4-style markup residue cleaning: synthesized HTML wrapping +
    // entity soup around every doc, stripped back to clean text
    "q_strip_html" -> ((s, dir) => {
      val synth = t(s, dir, "documents").select(col("doc_id"),
        concat(lit("<div class=\"post\"><h1>Title &amp; more</h1><p>"),
          col("text"),
          lit("</p><br/>&lt;end&gt;&nbsp;&#39;fin&#39;</div>")).as("html"))
      synth.select(col("doc_id"), TextOps.stripHtml(col("html")).as("clean"))
        .orderBy(col("doc_id"))
    }),

    // Temperature-scaled source rebalancing (tau = 0.5): rare langs
    // upsample, dominant ones downsample; same observable as q_mix
    "q_temperature" -> ((s, dir) => {
      graft.operators.Sampling.temperatureMix(
          t(s, dir, "documents"), "doc_id", "lang", tau = 0.5)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_rows"), sum(col("epoch")).as("epoch_sum"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("lang"))
    }),

    // Corpus-health diversity profile: distinct/total n-gram ratios per
    // source for n = 1..3
    "q_diversity" -> ((s, dir) => {
      TextOps.ngramDiversity(t(s, dir, "documents"), "text", "source", maxN = 3)
        .select(col("label"), col("n"), col("total_grams"), col("distinct_grams"),
          round(col("distinct_ratio"), 6).as("distinct_ratio"))
        .orderBy(col("label"), col("n"))
    }),

    // Duplication health report: component-size histogram of the
    // near-dup graph (planted 3-chains for docs 0..19) + singleton row
    "q_dup_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val chained = docs
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 2000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra extra")).as("text")))
      val pairs = Dedup.minhashNearDups(chained, "text", "doc_id", threshold = 0.5,
          family = Dedup.MinhashFamily.polynomial)
      Dedup.dupProfile(chained, pairs, "id_a", "id_b", "doc_id")
        .orderBy(col("cluster_size"))
    }),

    // Quality-classifier SERVING pass with pinned weights (training is
    // spark.ml — LearnSpec; scoring is pure replayable arithmetic):
    // w_j = ((j*37) % 21 - 10)/10 over 64 hashed-bigram buckets
    "q_quality_clf" -> ((s, dir) => {
      val weights = Array.tabulate(64)(j => ((j * 37) % 21 - 10) / 10.0)
      t(s, dir, "documents").select(col("doc_id"),
          round(graft.ml.Learn.linearTextScore(col("text"), weights, -0.5, n = 2), 6)
            .as("score"))
        .orderBy(col("doc_id"))
    }),

    // Domain authority for crawl curation: PageRank over the synthesized
    // site -> mirror link graph, 2 power iterations with dangling mass
    "q_pagerank" -> ((s, dir) => {
      val edges = t(s, dir, "documents").select(
        concat(lit("site"), col("doc_id") % 20).as("src"),
        concat(lit("mirror"), col("doc_id") % 5).as("dst"))
      graft.operators.Graphs.pageRank(edges, "src", "dst", iters = 2)
        .select(col("id"), round(col("pr"), 6).as("pr"))
        .orderBy(col("id"))
    }),

    // HITS hubs/authorities over a synthesized host graph with varied
    // in-degrees (two planted functional link families mod 41, distinct-
    // collapsed; self-loops where the arithmetic lands on the source
    // host count like any edge). Scores are UNNORMALIZED — with hub0=1
    // every intermediate is an exact BIGINT path count, so the oracle
    // replays both iterations with zero float risk; ppm normalization
    // rides the half-up integral micro-unit formula off a broadcast
    // 1-row totals frame.
    "q_hits" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val edges = d.select(
          concat(lit("h"), col("doc_id") % 41).as("src"),
          concat(lit("h"), (col("doc_id") * 7 + 3) % 41).as("dst"))
        .unionByName(d.select(
          concat(lit("h"), col("doc_id") % 41).as("src"),
          concat(lit("h"), (col("doc_id") * 13 + 1) % 41).as("dst")))
      val scores = graft.operators.Graphs.hits(edges, "src", "dst", iters = 2)
      val tot = scores.agg(sum(col("auth")).as("__ta"), sum(col("hub")).as("__th"))
      scores.crossJoin(broadcast(tot))
        .select(col("id"), col("hub"), col("auth"),
          expr("CAST((auth * 2000000 + __ta) div (2 * __ta) AS BIGINT)")
            .as("auth_ppm"),
          expr("CAST((hub * 2000000 + __th) div (2 * __th) AS BIGINT)")
            .as("hub_ppm"))
        .orderBy(col("id"))
    }),

    // Label propagation: docs with doc_id % 3 == 0 are unlabeled and
    // adopt the majority lang of their two pair-graph neighbors
    "q_label_prop" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val nodes = docs.select(col("doc_id"),
        when(col("doc_id") % 3 =!= 0, col("lang")).as("label"))
      val thirds = docs.filter(col("doc_id") % 3 === 0)
      val pairs = thirds.select(col("doc_id").as("id_a"), (col("doc_id") + 1).as("id_b"))
        .unionByName(thirds.select(col("doc_id").as("id_a"), (col("doc_id") + 2).as("id_b")))
      graft.operators.Graphs.propagateLabels(nodes, "doc_id", "label",
          pairs, "id_a", "id_b")
        .select(col("doc_id"), col("label_out"), col("label_source"))
        .orderBy(col("doc_id"))
    }),

    // Metric-ranked top-k per group: top 3 sources per lang by doc count
    "q_top_sources" -> ((s, dir) => {
      val counts = t(s, dir, "documents").groupBy(col("lang"), col("source"))
        .agg(count(lit(1)).as("n"))
      graft.operators.Stats.topKPerGroup(counts, Seq("lang"),
          Seq(col("n").desc, col("source")), 3)
        .orderBy(col("lang"), col("rank"))
    }),

    // Matryoshka ANN: truncate embeddings to the first 16 dims,
    // renormalize, exact top-k in the reduced space (4x less memory and
    // shuffle; the truncation arithmetic replays exactly)
    "q_mrl_ann" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"),
          Similarity.truncateNormalize(col("embedding"), 16).as("embedding"))
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // §2.4 string predicates: startsWith + full-string regex match
    "q_filter_str" -> ((s, dir) => {
      import graft.expr.LQuery._
      graft.core.Table.of(t(s, dir, "documents"))
        .filter(at("source").startsWith("src1") && at("lang").matches("e."))
        .select(col("doc_id"), col("source"), col("lang"))
        .toDF
        .orderBy(col("doc_id"))
    }),

    // Embedding-cosine near-dup: exact pairwise within label blocks, the
    // pair space spread over an 8x8 id-hash grid (parallelism = labels x
    // grid^2 tasks, not one task per label; see Similarity.exactNearDupPairs
    // for why LSH banding cannot be complete at threshold 0.35)
    "q_dedup_embedding" -> ((s, dir) => {
      Similarity.exactNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.35, blockCols = Seq("label"), grid = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(50)
    }),

    // Per-label embedding centroids (class prototypes): long-format
    // (label, pos, c) — list columns would crash the driver's pandas
    // hasher, and the long shape IS the scalable one
    "q_embed_centroid" -> ((s, dir) => {
      Similarity.centroids(t(s, dir, "embeddings"), "label", "embedding")
        .orderBy(col("label"), col("pos"))
    }),

    // Brute-force cosine top-k over embeddings (broadcast query side)
    "q_ann_cosine" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // MinHash+LSH near-dup pipeline on planted near-duplicates. The
    // graded variant derives the k hash permutations from the polynomial
    // fingerprint (h_j(s) = fp(j + ":" + s)) so a DuckDB oracle can
    // recompute the ENTIRE pipeline — signatures, band buckets,
    // candidates, estimated Jaccard. The library default stays xxhash64
    // (better mixing, one codegen'd call); the planted-pair spec covers
    // both hash functions.
    "q_minhash" -> ((s, dir) => {
      Dedup.minhashNearDups(docsWithNearDups(s, dir), "text", "doc_id", threshold = 0.5,
          family = Dedup.MinhashFamily.polynomial)
        .select(col("id_a"), col("id_b"), round(col("est_jaccard"), 6).as("est_jaccard"))
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Near-dup CLUSTERING: the stage after pair mining. MinHash LSH pairs
    // (polynomial family, oracle-replayable) -> connected components ->
    // one row per cluster: canonical (min) id, size, member list. Planted
    // CHAINS (base, +1e12 " extra", +2e12 " extra extra") force real
    // transitive closure — a and a+200000 may never share a band, but the
    // cluster still unites them through a+100000.
    "q_dedup_cluster" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val chained = docs
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 2000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra extra")).as("text")))
      val pairs = Dedup.minhashNearDups(chained, "text", "doc_id", threshold = 0.5,
          family = Dedup.MinhashFamily.polynomial)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy(col("root").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          array_join(transform(sort_array(collect_list(col("id"))),
            _.cast(StringType)), ",").as("members"))
        .orderBy(col("cluster_id"))
    }),

    // Leakage-safe split over the SAME planted near-dup chains as
    // q_dedup_cluster: each chain splits atomically by its canonical id's
    // fingerprint bucket, so "... extra" variants of a trained-on doc can
    // never leak into test. Oracle replays minhash pairs, the recursive
    // closure, and the bucket rule end-to-end.
    "q_leak_split" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val chained = docs
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 2000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra extra")).as("text")))
      val pairs = Dedup.minhashNearDups(chained, "text", "doc_id",
        threshold = 0.5, family = Dedup.MinhashFamily.polynomial)
      graft.operators.Sampling.leakageSafeSplitTag(chained, pairs,
          "id_a", "id_b", "doc_id", trainPct = 80)
        .select(col("doc_id"), col("split_key"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // Keep-best near-dup collapse on the SAME planted chains as
    // q_dedup_cluster: from each cluster keep the longest text (the
    // "extra extra" variant), ties to smallest id; singletons survive.
    // The post-clustering curation ACTION: the kept set is the corpus.
    "q_dedup_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select("doc_id", "text")
      val chained = docs
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 1000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra")).as("text")))
        .unionByName(docs.filter(col("doc_id") < 20)
          .select((col("doc_id") + 2000000000000L).as("doc_id"),
            concat(col("text"), lit(" extra extra")).as("text")))
      val pairs = Dedup.minhashNearDups(chained, "text", "doc_id", threshold = 0.5,
          family = Dedup.MinhashFamily.polynomial)
      Dedup.keepBest(chained, "doc_id", pairs, "id_a", "id_b",
          length(col("text")))
        .select(col("cluster_id"), col("doc_id"), col("n_members"))
        .orderBy(col("cluster_id"))
    }),

    // SimHash near-dup candidates on the same planted set. Like
    // q_minhash, the graded variant derives token-hash bits from the
    // polynomial fingerprint (4 x 16-bit slices) so the DuckDB oracle
    // replays the whole pipeline: per-bit majorities, packed fingerprint,
    // 16-bit band join, hamming verify.
    "q_simhash" -> ((s, dir) => {
      Dedup.simhashNearDups(docsWithNearDups(s, dir), "text", "doc_id", maxHamming = 8,
          tokenHash = Dedup.polyTokenHash64)
      // (polyTokenHash64 internally shares one fingerprint per token via
      // the prefix identity)
        .orderBy(col("id_a"), col("id_b"))
    }),

    // Hyperplane-LSH ANN (approximate; rows-only check + recall ScalaTest).
    // Hyperplane-LSH ANN: the graded variant derives plane components
    // from the polynomial fingerprint of "plane:dim" so a DuckDB oracle
    // recomputes signatures, band probes and the exact re-rank; the
    // library default stays the xxhash64 planes (recall spec covers it).
    "q_ann_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5,
          component = Similarity.polyPlaneComponent)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF ANN with a REAL (iterated) Lloyd fit, hash-gated end to end:
    // pinned initial centroids (vec_id < 16, in id order) + a FIXED 2
    // iterations of lloydRefine — every step (argmax-cosine assignment,
    // round(sum,4)/count recompute, empty-cell carry) is a pure
    // function of the corpus, so the oracle unrolls both rounds as SQL
    // CTEs and replays assignment, refinement, probing, and ranking
    // exactly. The sample-fit ivfTopK (RNG Lloyd) stays the production
    // path; this face grades the fit ITERATION machinery the pinned
    // sibling (q_ann_ivf_pinned, zero iterations) cannot reach.
    "q_ann_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val init = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding").cast("array<double>")).collect()
        .map(_.getSeq[Double](0).toArray)
      val cents = Similarity.lloydRefine(emb, "embedding", init, iters = 2)
      Similarity.ivfTopKWithCentroidsD(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, cents, nProbe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF with PINNED data-point centroids (vec_id < 16, in id order) —
    // the serving split: centroids fitted/persisted once, probe + rank
    // reused per batch. No RNG, no Lloyd -> the oracle replays cell
    // assignment, nProbe probing, and ranking end-to-end, hash-checking
    // the IVF machinery the Lloyd variant can only rows-check.
    "q_ann_ivf_pinned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      Similarity.ivfTopKWithCentroids(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, cents, nProbe = 4)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // IVF over a VERSIONED corpus, sizes from METADATA: the embedding
    // release lands as a VersionedTable (create + append commits, counts
    // sidecar), and nCells/nProbe come from ivfSizeFromSidecars —
    // nCells = ceil(sqrt(n)) from the counts sidecar, nProbe =
    // ceil(nCells^0.5) from the default recall target — with NO
    // caller-guessed numbers anywhere. The oracle recomputes the sizing
    // rule from count(*) and replays centroid selection (lowest-id
    // vectors), assignment, probing and ranking, so a slip in EITHER the
    // metadata sizing OR the versioned read hash-mismatches.
    "q_ann_ivf_vt" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val emb = t(s, dir, "embeddings")
      val base = graft.Harness.tempDir("graft_ivfvt").toString
      val path = base + "/emb"
      VersionedTable.create(
        emb.filter(col("vec_id") % 3 =!= 0).repartition(4), path)
      val v1 = VersionedTable.commit(
        emb.filter(col("vec_id") % 3 === 0).repartition(2), path, "append")
      VersionedTable.writeCounts(s, path, v1)
      Similarity.ivfTopKVersioned(s, path, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Maintained IVF index: the embedding corpus takes a CDC release
    // (drop %97, flip sign of %53, add %89 under new ids) and the
    // MATERIALIZED (id, cell) index is refreshed from the change set
    // alone — unchanged assignments carried forward, only the churn ever
    // scored against the pinned centroids. The oracle recomputes the
    // index from the FULL new release, so maintained == recomputed IS
    // the graded property (the q_incr_agg pattern, now for the vector
    // index: nightly embedding refresh stays O(churn) at corpus scale).
    "q_ivf_maintain" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      val oldC = emb.select(col("vec_id"), col("embedding"))
      val newC = emb.filter(col("vec_id") % 97 =!= 0)
        .select(col("vec_id"),
          when(col("vec_id") % 53 === 0,
            transform(col("embedding"), x => -x))
            .otherwise(col("embedding")).as("embedding"))
        .unionByName(emb.filter(col("vec_id") % 89 === 0)
          .select((col("vec_id") + 1000000000000L).as("vec_id"), col("embedding")))
      val changes = graft.operators.Diff.snapshotDiff(
          oldC, newC, Seq("vec_id"), Seq("embedding"))
        .filter(col("change") =!= "unchanged")
      val oldIdx = Similarity.ivfIndex(oldC, "vec_id", "embedding", cents)
      Similarity.ivfIndexMaintain(oldIdx, changes, "vec_id", "embedding", cents)
        .orderBy(col("vec_id"))
    }),

    // Maintained MinHash LSH index: the documents corpus takes a CDC
    // release (drop %97, append ' v2' to %53, re-add %89 under new ids)
    // and the MATERIALIZED signature table refreshes from the change set
    // alone — only added/changed texts are re-shingled/re-hashed. The
    // oracle recomputes every signature from the FULL new release, so
    // maintained == recomputed IS the graded property: with q_incr_agg,
    // q_scd2 and q_ivf_maintain this closes the O(churn) refresh story
    // for the dedup index as well.
    "q_lsh_maintain" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newC = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
      val changes = graft.operators.Diff.snapshotDiff(
          docs, newC, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      val oldIdx = Dedup.minhashSignatures(docs, "text", "doc_id",
        k = 16, shingleN = 3, family = Dedup.MinhashFamily.polynomial)
      Dedup.minhashIndexMaintain(oldIdx, changes, "text", "doc_id",
          k = 16, shingleN = 3, family = Dedup.MinhashFamily.polynomial)
        .select(col("doc_id"),
          array_join(transform(col("sig"), _.cast(StringType)), ",").as("sig"))
        .orderBy(col("doc_id"))
    }),

    // Keyframe-aware frame sampling: the containers now carry a real
    // stss sync-sample box (keyframes every gop frames), and each
    // uniform index snaps to the greatest keyframe at or before it —
    // the seek semantics a real decoder imposes (it can only START at a
    // sync sample). Every box size and the chunk offset shift by the
    // per-clip stss entry list; the oracle replays the snap rule
    // floor(idx/gop)*gop and the shifted byte arithmetic end-to-end.
    "q_keyframe_sample" -> ((s, dir) => {
      // localCheckpoint: same harness-only barrier as q_frame_sample
      Multimodal.sampleFrameRanges(
          synthVideoKeyframePayloads(t(s, dir, "documents")).localCheckpoint(),
          "payload", 8, snapToKeyframes = true)
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
          col("f.pts_us").as("pts_us"),
          col("f.byte_offset").as("byte_offset"),
          col("f.byte_len").as("byte_len"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // MULTIMODAL curation — the faces compose into one pipeline: the
    // native video clip gate (duration/resolution, single parse,
    // scan-side) prunes first, survivors' TEXT flows through the
    // quality gate -> exact dedup -> hash split -> manifest aggregate.
    // The oracle replays every stage: video arithmetic, quality score,
    // min-id dedup, split fingerprint, grouped sums.
    "q_curate_mm" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keptIds = Multimodal.filterByVideo(
          synthVideoPayloads(docs), "payload", 5000000L, 480, 360)
        .select(col("doc_id"))
      val scored = docs.join(keptIds, Seq("doc_id"), "left_semi")
        .withColumn("n_tokens", size(TextOps.tokens(col("text"))).cast(LongType))
        .withColumn("q", round(TextOps.qualityScore(col("text")), 6))
        .filter(col("q") >= 0.5 && col("n_tokens") >= 20)
      val canon = Dedup.dropExactDups(scored, "text", "doc_id")
      canon
        .withColumn("split", graft.operators.Sampling.splitTag(col("doc_id"), 80))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_sum"),
          round(sum(col("q")), 4).as("q_sum"))
        .orderBy(col("split"))
    }),

    // ROC AUC, integer-exact: Mann–Whitney over grouped score buckets
    // (concordant pairs from a bounded bucket self-join, ties half) —
    // the in-pipeline classifier eval that never ranks the corpus in
    // one partition. Score = n_chars; label = a fingerprint-derived
    // pseudo-label whose positive rate grows with length, so AUC lands
    // strictly between 0.5 and 1 and every count replays exactly.
    "q_auc" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ml.Learn.aucExact(d, col("n_chars"),
        TextOps.fingerprint(col("text")) % 1000 * 2 < col("n_chars"))
    }),

    // Reliability/calibration bins for the same score-label pair:
    // equal-width bins with exact positive counts and half-up ppm rates.
    "q_calibration" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      graft.ml.Learn.calibrationBins(d, col("n_chars").cast(DoubleType),
          TextOps.fingerprint(col("text")) % 1000 * 2 < col("n_chars"),
          lo = 0.0, hi = 1000.0, bins = 10)
        .orderBy(col("bin"))
    }),

    // REAL n-gram language ID — Cavnar–Trenkle 1994 rank-order profiles
    // with out-of-place distance (the canonical "n-gram heuristic"; the
    // marker-token langId in q_text_stats is its toy stand-in): train
    // per-language top-300 char-trigram rank profiles ON the corpus
    // labels, classify every doc by summed rank displacement (penalty
    // 300 for grams absent from a profile), argmin with lexicographic
    // ties. Every step is deterministic, so the oracle replays
    // train + apply end-to-end in SQL.
    "q_langid_ct" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val profiles = TextOps.trainLangProfiles(docs, "text", "lang")
      TextOps.langIdCt(docs, "text", "doc_id", profiles)
        .orderBy(col("doc_id"))
    }),

    // TRAINED quality/domain classifier (the fastText/CCNet role):
    // multinomial Naive Bayes over the top-400 whitespace tokens,
    // trained on the even-doc_id half's lang labels, applied to every
    // doc. Closed-form distributed fit (no iterations) with the
    // floor-micros log carrier, so scores are exact integer sums and
    // the argmax is order-independent — the oracle replays train+apply
    // end-to-end in SQL.
    "q_nb_classify" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val (loglik, priors) = TextOps.trainNaiveBayes(
        docs.filter(col("doc_id") % 2 === 0), "text", "lang", vocabK = 400)
      TextOps.naiveBayesClassify(docs, "text", "doc_id", loglik, priors)
        .orderBy(col("doc_id"))
    }),

    // CDC-MAINTAINED classifier: the corpus takes the q_table_versions
    // release (drop %97, ' v2' on %53, re-add %89 under new ids), and the
    // NB sufficient statistics are MAINTAINED through the delta —
    // O(churn) signed count merges, never a corpus retrain — then the
    // model rebuilds and classifies the post-release corpus. The oracle
    // retrains FROM SCRATCH in SQL, so the hash match IS the
    // maintained==retrain equivalence (the LSH/BM25/CMS maintenance
    // contract, applied to a trained model).
    "q_nb_maintain" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000000000L).as("doc_id"), col("lang"),
            col("text")))
      val train0 = docs.filter(col("doc_id") % 2 === 0)
      val train1 = v1.filter(col("doc_id") % 2 === 0)
      // the delta, derived from the release arithmetic: dropped docs and
      // pre-modification texts leave, modified texts and re-adds arrive
      val removed = train0.filter(col("doc_id") % 97 === 0 ||
        col("doc_id") % 53 === 0)
      val added = train1.filter(col("doc_id") % 53 === 0 ||
        col("doc_id") >= 1000000000000L)
      val (tc0, ld0) = TextOps.nbCounts(train0, "text", "lang")
      val (tc1r, ld1r) = TextOps.nbCountsMaintain(tc0, ld0, added, removed,
        "text", "lang")
      // the maintained statistics are STATE (production persists them as
      // a table between releases, like the minhash/BM25 indexes);
      // materialize once so nbModel's three consumptions (vocab cut,
      // counts join, realized-V count) scan the state instead of
      // replaying the whole count+merge graph per consumption
      val (tc1, ld1) = (tc1r.localCheckpoint(), ld1r.localCheckpoint())
      val (loglik, priors) = TextOps.nbModel(tc1, ld1, vocabK = 400)
      // the model is eagerly materialized by nbModel; the maintained-stats
      // blocks are dead past this point — free them (hygiene: repeated
      // invocations in a long-lived session otherwise accumulate them)
      org.apache.spark.sql.graftx.Bridge.freeCheckpoint(tc1)
      org.apache.spark.sql.graftx.Bridge.freeCheckpoint(ld1)
      TextOps.naiveBayesClassify(v1, "text", "doc_id", loglik, priors)
        .orderBy(col("doc_id"))
    }),

    // Versioned table end-to-end: create v0 from documents, apply the
    // CDC release (drop %97, ' v2' %53, re-add %89) as a copy-on-write
    // overwrite commit (v1), then compact (v2) — and read ALL THREE
    // versions back via time travel AFTER every commit has landed. One
    // row per version: exact count, id sum, and an order-independent
    // content checksum (sum of per-row fingerprints), so v0 proves
    // snapshot isolation survived two later commits and v2 proves
    // compaction is content-identical. The oracle replays each
    // version's expected contents from pure arithmetic.
    "q_table_versions" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val path = graft.Harness.tempDir("graft_vt").toString + "/docs"
      VersionedTable.create(docs, path)
      val newRel = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
      val changes = graft.operators.Diff.snapshotDiff(
          VersionedTable.read(s, path), newRel, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      val merged = graft.operators.Diff.applyChanges(
        VersionedTable.read(s, path), changes, Seq("doc_id"), Seq("text"))
      VersionedTable.commit(merged, path, "overwrite")
      VersionedTable.compact(s, path, targetBytes = 64L * 1024 * 1024)
      val stats = (0L to 2L).map { v =>
        VersionedTable.readVersion(s, path, v).select(lit(v).as("version"),
          col("doc_id"),
          TextOps.fingerprint(concat(col("doc_id").cast(StringType),
            lit(":"), col("text"))).as("fp"))
      }.reduce(_ unionByName _)
      stats.groupBy(col("version"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("fp")).as("content_sum"))
        .orderBy(col("version"))
    }),

    // Partitioned versioned table end-to-end: create v0 hive-partitioned
    // on lang, then re-release ONE partition (de: drop %3, ' r2' tag on
    // %2) as a dynamic-partition-overwrite commit — the daily-ingest
    // shape. Three graded views, all read through the PRUNED path so the
    // partition value's path round-trip (directory name -> recovered
    // column) is itself under the oracle: v0 = time travel after the
    // overwrite landed; v1 = all partitions via filesForPartitions
    // (untouched langs carry v0's very files); v1_de = the single
    // replaced partition. Per-(view, lang) exact count, id sum, and
    // order-independent content checksum; the oracle replays every
    // view's expected contents from pure arithmetic over documents.
    "q_table_partitions" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val path = graft.Harness.tempDir("graft_vtp").toString + "/docs"
      VersionedTable.createPartitioned(docs, path, "lang")
      val deNew = docs.filter(col("lang") === "de" && col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 2 === 0, concat(col("text"), lit(" r2")))
            .otherwise(col("text")).as("text"))
      val v1 = VersionedTable.commitPartitioned(deNew, path, "lang",
        "overwritePartitions")
      def view(name: String, df: DataFrame) = df.select(lit(name).as("view"),
        col("lang"), col("doc_id"),
        TextOps.fingerprint(concat(col("doc_id").cast(StringType),
          lit(":"), col("text"))).as("fp"))
      val langs = VersionedTable.partitionsAt(path, v1, "lang")
      view("v0", VersionedTable.readVersion(s, path, 0L))
        .unionByName(view("v1",
          VersionedTable.readWherePartitions(s, path, v1, "lang", langs)))
        .unionByName(view("v1_de",
          VersionedTable.readWherePartitions(s, path, v1, "lang", Seq("de"))))
        .groupBy(col("view"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("fp")).as("content_sum"))
        .orderBy(col("view"), col("lang"))
    }),

    // Row-level CDC OUT of the partitioned table: the same de-partition
    // re-release as q_table_partitions, then changeFeed(v0, v1) — which
    // reads ONLY the manifests' symmetric difference (here exactly the
    // de partition's files, never the other languages') and must still
    // equal the LOGICAL diff of the two versions, which is what the
    // oracle replays from pure arithmetic.
    "q_table_changefeed" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val path = graft.Harness.tempDir("graft_vtc").toString + "/docs"
      VersionedTable.createPartitioned(docs, path, "lang")
      val deNew = docs.filter(col("lang") === "de" && col("doc_id") % 3 =!= 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 2 === 0, concat(col("text"), lit(" r2")))
            .otherwise(col("text")).as("text"))
      val v1 = VersionedTable.commitPartitioned(deNew, path, "lang",
        "overwritePartitions")
      VersionedTable.changeFeed(s, path, 0L, v1, Seq("doc_id"), Seq("lang", "text"))
        .select(col("doc_id"), col("change"))
        .orderBy(col("doc_id"))
    }),

    // The fully-composed manifest-side read, graded end-to-end:
    // partition pruning (two languages) ∩ per-file n_chars range stats
    // ∩ doc_id bloom membership — every pruning structure the table
    // carries, intersected BEFORE any file opens — with one present
    // and one absent probe id per surviving partition-range, against
    // the plain-filter oracle. Files are range-clustered on n_chars
    // within partitions so the stats stage genuinely prunes.
    "q_table_composed" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartitionByRange(4, col("n_chars"))
      val path = graft.Harness.tempDir("graft_vtc2").toString +
        "/docs"
      val v = VersionedTable.createPartitioned(docs, path, "lang")
      VersionedTable.writeStats(s, path, v, "n_chars")
      VersionedTable.writeBloom(s, path, v, "doc_id")
      val keys = (0 until 40).map(_.toString) :+ "9999999"
      VersionedTable.readComposed(s, path, v,
          partitions = Some(("lang", Seq("de", "fr"))),
          ranges = Seq(("n_chars", 100L, 500L)),
          keys = Some(("doc_id", keys)))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Streaming SOURCE over the versioned table (offsets = manifest
    // versions): v0 carries the even docs, an append commit carries the
    // odd ones, and the stream must deliver the snapshot + the delta —
    // exactly the table, exactly once. The oracle is the plain batch
    // SELECT: any dropped file, double-read, or offset slip
    // hash-mismatches.
    "q_table_stream" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vts").toString +
        "/docs"
      VersionedTable.create(
        docs.filter(col("doc_id") % 2 === 0).repartition(4), path)
      VersionedTable.commit(
        docs.filter(col("doc_id") % 2 =!= 0).repartition(4), path, "append")
      graft.streaming.StreamOps.withLocalCheckpoints(s) {
        val q = s.readStream
          .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
          .option("path", path).load()
          .writeStream.format("memory").queryName("q_table_stream_sink")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q_table_stream_sink")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // Table lifecycle, graded end-to-end: a DV delete, a BAD overwrite
    // release, RESTORE back to the deleted state (O(manifest) rollback,
    // nothing copied, the DV list carried), then a zero-copy CLONE of
    // the restored table — and the graded read goes through the CLONE,
    // whose manifest borrows the source's files and deletion vectors
    // verbatim. The oracle replays the surviving state with one plain
    // filter; any slip in restore's manifest replay, the clone's
    // borrowed references, or DV application across table roots
    // hash-mismatches.
    "q_table_restore" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val base = graft.Harness.tempDir("graft_vtr").toString
      val path = base + "/docs"
      VersionedTable.create(docs.repartition(4), path)
      val v1 = VersionedTable.deleteWhere(s, path, col("lang") === "es")
      VersionedTable.commit(
        docs.filter(col("doc_id") < 10), path, "overwrite") // the bad release
      VersionedTable.restore(path, v1)
      val clonePath = base + "/branch"
      VersionedTable.cloneTable(path, clonePath)
      VersionedTable.read(s, clonePath)
        .select(col("lang"), col("doc_id"),
          TextOps.fingerprint(concat(col("doc_id").cast(StringType),
            lit(":"), col("text"))).as("fp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("fp")).as("content_sum"))
        .orderBy(col("lang"))
    }),

    // Streaming CDC-APPLY: table A streams INTO table B through an
    // exactly-once MERGE sink (foreachBatch + upsertStreamBatch — the
    // production pattern for maintaining a keyed mirror of a change
    // stream). Batch 0 is A's snapshot (pure insert into empty B);
    // A then appends a churn batch (updates re-keying every %3 doc's
    // text + fresh %13 inserts) and batch 1 must MERGE it: matched
    // keys replaced via DV marks, zero B data rewritten. The oracle
    // replays the final keyed state with plain SQL.
    "q_table_stream_upsert" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val base = graft.Harness.tempDir("graft_vtsu").toString
      val a = base + "/a"; val b = base + "/b"
      VersionedTable.create(docs.repartition(4), a)
      VersionedTable.create(s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))), b)
      graft.streaming.StreamOps.withLocalCheckpoints(s, Some(base + "/ck")) {
        val q = s.readStream
          .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
          .option("path", a).load()
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            VersionedTable.upsertStreamBatch(
              batch.select(col("doc_id"), col("lang"), col("text")),
              b, Seq("doc_id"), "cdc", bid)
            (): Unit
          }
          .option("checkpointLocation", base + "/ck")
          .start()
        try {
          q.processAllAvailable()
          val churn = docs.filter(col("doc_id") % 3 === 0)
            .select(col("doc_id"), col("lang"),
              concat(col("text"), lit(" v2")).as("text"))
            .unionByName(docs.filter(col("doc_id") % 13 === 0)
              .select((col("doc_id") + 3000000000000L).as("doc_id"),
                col("lang"), col("text")))
          VersionedTable.commit(churn.repartition(2), a, "append")
          q.processAllAvailable()
        } finally q.stop()
      }
      VersionedTable.read(s, b)
        .select(col("lang"), col("doc_id"),
          TextOps.fingerprint(concat(col("doc_id").cast(StringType),
            lit(":"), col("text"))).as("fp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("fp")).as("content_sum"))
        .orderBy(col("lang"))
    }),

    // Streaming SOURCE with source-level projection AND a merge-on-read
    // delete in the snapshot's history: the `columns` option narrows
    // the scan schema at the source (the V1 materialization boundary
    // blocks engine-side pruning — measured 1.7× on a text-heavy
    // table), and the initial snapshot must deliver LIVE rows only,
    // reading the deletion vectors through the same pruned schema. The
    // oracle is the plain projected SELECT minus the deleted rows.
    "q_table_stream_cols" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val path = graft.Harness.tempDir("graft_vtsc").toString +
        "/docs"
      VersionedTable.create(
        docs.filter(col("doc_id") % 2 === 0).repartition(4), path)
      VersionedTable.deleteWhere(s, path, col("n_chars") % 5 === 0)
      VersionedTable.commit(
        docs.filter(col("doc_id") % 2 =!= 0).repartition(4), path, "append")
      graft.streaming.StreamOps.withLocalCheckpoints(s) {
        val q = s.readStream
          .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
          .option("path", path).option("columns", "doc_id,n_chars").load()
          .writeStream.format("memory").queryName("q_table_stream_cols_sink")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      s.table("q_table_stream_cols_sink")
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // MERGE-ON-READ DELETE, graded end-to-end: two accumulated
    // deletion-vector commits (a value predicate, then a whole
    // language) rewrite ZERO data bytes — the DeletionVectorSpec
    // asserts byte-identity; here the ORACLE asserts the read side:
    // all three versions, read through the DV anti-join, must equal
    // the plain-filter replay per (view, lang) in count, id sum, and
    // an order-free content checksum. At 100 TB this is the GDPR
    // delete that finishes in minutes instead of rewriting petabytes.
    "q_table_delete_dv" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"))
      val path = graft.Harness.tempDir("graft_vtd").toString +
        "/docs"
      VersionedTable.create(docs.repartition(4), path)
      val v1 = VersionedTable.deleteWhere(s, path, col("n_chars") % 7 === 3)
      val v2 = VersionedTable.deleteWhere(s, path, col("lang") === "de")
      def view(name: String, df: DataFrame) = df.select(lit(name).as("view"),
        col("lang"), col("doc_id"),
        TextOps.fingerprint(concat(col("doc_id").cast(StringType),
          lit(":"), col("text"))).as("fp"))
      view("v0", VersionedTable.readVersion(s, path, 0L))
        .unionByName(view("v1", VersionedTable.readVersion(s, path, v1)))
        .unionByName(view("v2", VersionedTable.readVersion(s, path, v2)))
        .groupBy(col("view"), col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("fp")).as("content_sum"))
        .orderBy(col("view"), col("lang"))
    }),

    // LIVE-EXACT metadata sums under an outstanding DV backlog: the
    // sidecar records per-immutable-file physical truth, the live faces
    // (countAtLive / partitionRowCountsLive / sumAtLive /
    // partitionSumsLive) fold the DV deltas — counts from the shards
    // alone, sums by reading the deleted VALUES from the marked files
    // only (O(churn) column I/O, never a table scan). The oracle
    // replays the whole dashboard ("rows + token mass per lang, plus
    // the table total, while a delete backlog is outstanding") from the
    // raw corpus, so a wrong carry, a dangling-mark subtraction, or a
    // missed delta hash-mismatches.
    "q_table_sums_live" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vts").toString +
        "/docs"
      VersionedTable.createPartitioned(docs, path, "lang")
      val v1 = VersionedTable.deleteWhere(s, path, col("doc_id") % 7 === 0)
      VersionedTable.writeCounts(s, path, v1)
      VersionedTable.writeSums(s, path, v1, "n_chars")
      val perLang = VersionedTable.partitionRowCountsLive(s, path, v1, "lang").get
        .zip(VersionedTable.partitionSumsLive(s, path, v1, "lang", "n_chars").get)
        .map { case ((k, n), (k2, sm)) =>
          require(k == k2, s"partition key mismatch: $k vs $k2"); (k, n, sm) }
      val total = ("__total",
        VersionedTable.countAtLive(s, path, v1).get,
        VersionedTable.sumAtLive(s, path, v1, "n_chars").get)
      import s.implicits._
      (perLang :+ total).toDF("lang", "n_live", "sum_chars_live")
        .orderBy(col("lang"))
    }),

    // LIVE-EXACT mean/std under a DV backlog — the subtractable half
    // of the moments family graded end to end: per-lang and total mean
    // + population std of n_chars while one whole language is deleted
    // (dropEmpty folds the fully-deleted partition out, matching the
    // GROUP BY the oracle replays) plus a %7 trickle. lo/hi and the
    // Cornish-Fisher quantile estimate stay refuse-only by design —
    // this face grades exactly what CAN be exact. Mean/std are derived
    // on the pinned double path (s1/n, sqrt(s2/n - mean*mean)) from
    // exact integer sums, so the hash is partitioning-invariant.
    "q_table_moments_live" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vtm").toString +
        "/docs"
      VersionedTable.createPartitioned(docs, path, "lang")
      val v1 = VersionedTable.deleteWhere(s, path,
        col("doc_id") % 7 === 0 || col("lang") === "de")
      VersionedTable.writeCounts(s, path, v1)
      VersionedTable.writeMoments(s, path, v1, "n_chars")
      val perLang = VersionedTable.partitionMomentsLive(
        s, path, v1, "lang", "n_chars", dropEmpty = true).get
      val total = VersionedTable.momentsAtLive(s, path, v1, "n_chars").get
      val rows = perLang.map { case (k, (n, ss)) =>
        (k, n, ss(0).toDouble, ss(1).toDouble) } :+
        (("__total", total._1, total._2(0).toDouble, total._2(1).toDouble))
      import s.implicits._
      rows.toDF("lang", "n_live", "s1", "s2")
        .select(col("lang"), col("n_live"),
          round(col("s1") / col("n_live"), 6).as("mean_chars"),
          round(sqrt(col("s2") / col("n_live") -
            (col("s1") / col("n_live")) * (col("s1") / col("n_live"))), 6)
            .as("std_chars"))
        .orderBy(col("lang"))
    }),

    // MERGE (upsert) on the versioned table: one atomic commit marks
    // the matched keys deleted (DV — zero target bytes rewritten) and
    // appends the source as new files; write cost is O(source), not
    // O(table). The fixture layers it on a prior DV delete: a whole
    // language is deleted first, then the source updates every %5 key
    // (re-inserting the deleted language's members it names) and
    // inserts fresh %11 keys — the oracle replays all of it with plain
    // SQL set arithmetic over documents.
    "q_table_upsert" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"), col("text"))
      val path = graft.Harness.tempDir("graft_vtu").toString +
        "/docs"
      VersionedTable.create(docs.repartition(4), path)
      VersionedTable.deleteWhere(s, path, col("lang") === "fr")
      val source = docs.filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" u1")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 2000000000000L).as("doc_id"), col("lang"),
            col("text")))
      val v2 = VersionedTable.upsert(s, path, source, Seq("doc_id"))
      VersionedTable.readVersion(s, path, v2)
        .select(col("lang"), col("doc_id"),
          TextOps.fingerprint(concat(col("doc_id").cast(StringType),
            lit(":"), col("text"))).as("fp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"),
          sum(col("fp")).as("content_sum"))
        .orderBy(col("lang"))
    }),

    // Schema evolution under the oracle: v0's files carry (doc_id,
    // lang), an append commit adds n_chars — the merged read returns
    // the evolved schema with NULL for the column the old files never
    // had (parquet's standard widening), and the per-column stats /
    // skipping machinery has already been proven to leave such files
    // unskippable rather than wrong. The oracle replays which half of
    // the corpus predates the column.
    "q_table_evolve" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vte").toString +
        "/docs"
      VersionedTable.create(
        docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("lang")),
        path)
      val v1 = VersionedTable.commit(
        docs.filter(col("doc_id") % 2 =!= 0), path, "append")
      VersionedTable.readVersion(s, path, v1, mergeSchema = true)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // The closed lakehouse loop: table A streams through a transform
    // into table B — the versioned-table SOURCE (offsets = versions)
    // feeding the exactly-once SINK (batchId-keyed commits) with a
    // filter + derived column in between. Graded on B's final
    // contents, which must equal the batch query over A's inputs no
    // matter how the engine split the micro-batches.
    "q_table_pipeline" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val base = graft.Harness.tempDir("graft_vtpipe").toString
      val a = base + "/a"; val b = base + "/b"
      VersionedTable.create(docs.filter(col("doc_id") % 2 === 0), a)
      VersionedTable.commit(docs.filter(col("doc_id") % 2 =!= 0), a, "append")
      VersionedTable.create(s.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("lang",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("n_tokens",
            org.apache.spark.sql.types.IntegerType)))), b)
      graft.streaming.StreamOps.withLocalCheckpoints(s, Some(base + "/ck")) {
        val q = s.readStream
          .format("org.apache.spark.sql.graftx.VersionedTableStreamProvider")
          .option("path", a).load()
          .writeStream
          .foreachBatch { (batch: DataFrame, bid: Long) =>
            val out = batch.filter(col("lang") =!= "de")
              .select(col("doc_id"), col("lang"),
                size(split(col("text"), " ")).as("n_tokens"))
            VersionedTable.commitStreamBatch(out, b, "pipe", bid)
            (): Unit
          }
          .option("checkpointLocation", base + "/ck")
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      VersionedTable.read(s, b).orderBy(col("doc_id"))
    }),

    // Metadata-only aggregates: per-partition and total row counts
    // answered from the manifest + counts sidecar with ZERO data I/O —
    // the "count 100 TB by partition" dashboard query. The counts
    // refresh after the de re-release is O(commit): carried files keep
    // their prior sidecar entries verbatim (spec-proven via tamper),
    // only the new partition's files are counted. The graded frame is
    // built driver-side from the sidecar numbers; the oracle recomputes
    // both versions' counts from the churn arithmetic, so a wrong carry
    // or a stale entry would hash-mismatch.
    "q_table_meta_count" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vtm").toString + "/docs"
      val v0 = VersionedTable.createPartitioned(docs, path, "lang")
      VersionedTable.writeCounts(s, path, v0)
      VersionedTable.writeSums(s, path, v0, "n_chars")
      val deNew = docs.filter(col("lang") === "de" && col("doc_id") % 3 =!= 0)
      val v1 = VersionedTable.commitPartitioned(deNew, path, "lang",
        "overwritePartitions")
      VersionedTable.writeCounts(s, path, v1)
      VersionedTable.writeSums(s, path, v1, "n_chars")
      def merged(v: Long, view: String) = {
        val sums = VersionedTable.partitionSums(path, v, "lang", "n_chars").get.toMap
        VersionedTable.partitionRowCounts(path, v, "lang").get
          .map { case (l, n) => (view, l, n, sums(l)) }
      }
      val rows = merged(v0, "v0") ++ merged(v1, "v1") :+
        (("total", "all", VersionedTable.countAt(path, v1).get,
          VersionedTable.sumAt(path, v1, "n_chars").get))
      import s.implicits._
      rows.toDF("view", "lang", "n_rows", "sum_chars")
        .orderBy(col("view"), col("lang"))
    }),

    // Metadata-only QUANTILE summaries: per-partition moments sketches
    // (n, min, max, exact Σx..Σx⁴) answered from the manifest + moments
    // sidecar with ZERO data I/O — "p95 doc length per source
    // partition" without opening a file (the estimate itself is
    // Sketch.momentsQuantile over these 7 scalars, spec'd; the graded
    // artifact is the sketch numbers, carried O(commit) across the de
    // re-release exactly like counts/sums: only the new partition's
    // files are re-measured, a wrong carry hash-mismatches).
    "q_table_moments" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vtq").toString + "/docs"
      val v0 = VersionedTable.createPartitioned(docs, path, "lang")
      VersionedTable.writeMoments(s, path, v0, "n_chars")
      val deNew = docs.filter(col("lang") === "de" && col("doc_id") % 3 =!= 0)
      val v1 = VersionedTable.commitPartitioned(deNew, path, "lang",
        "overwritePartitions")
      VersionedTable.writeMoments(s, path, v1, "n_chars")
      def rows(v: Long, view: String) =
        VersionedTable.partitionMoments(path, v, "lang", "n_chars").get
          .map { case (l, (n, lo, hi, ss)) =>
            (view, l, n, lo, hi, ss(0).toString, ss(1).toString,
              ss(2).toString, ss(3).toString) }
      val tot = VersionedTable.momentsAt(path, v1, "n_chars").get
      val all = rows(v0, "v0") ++ rows(v1, "v1") :+
        (("total", "all", tot._1, tot._2, tot._3, tot._4(0).toString,
          tot._4(1).toString, tot._4(2).toString, tot._4(3).toString))
      import s.implicits._
      all.toDF("view", "lang", "n", "x_min", "x_max", "s1", "s2", "s3", "s4")
        .orderBy(col("view"), col("lang"))
    }),

    // The metadata-only STATS PANEL (partitionStatsPanel) graded on its
    // exact face: per-partition n / min / max / exact sum straight from
    // the moments sidecar, plus the mean as half-up integral MICRO-units
    // ((s1·10⁶ + n/2) div n over exact BigInts — the DECIMAL-free carrier
    // every exact total uses). The panel's p95 column is Cornish–Fisher
    // and stays spec-gated (not SQL-replayable); what the oracle CAN
    // replay — every exact scalar the dashboard shows — it replays from
    // the raw corpus, so a stale sidecar carry or a wrong merge
    // hash-mismatches. The panel itself reads ZERO data files
    // (spec-proven by deleting them).
    "q_table_panel" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
      val path = graft.Harness.tempDir("graft_vtp").toString + "/docs"
      val v0 = VersionedTable.createPartitioned(docs, path, "lang")
      VersionedTable.writeMoments(s, path, v0, "n_chars")
      val deNew = docs.filter(col("lang") === "de" && col("doc_id") % 3 =!= 0)
      val v1 = VersionedTable.commitPartitioned(deNew, path, "lang",
        "overwritePartitions")
      VersionedTable.writeMoments(s, path, v1, "n_chars")
      def rows(v: Long, view: String) =
        VersionedTable.partitionStatsPanel(s, path, v, "lang", "n_chars").get
          .collect().map { r =>
            val n = r.getLong(1)
            val s1 = BigInt(r.getString(4))
            val meanMicros = ((s1 * 1000000 + n / 2) / n).toLong
            (view, r.getString(0), n, r.getLong(2), r.getLong(3),
              s1.toString, meanMicros)
          }.toSeq
      import s.implicits._
      (rows(v0, "v0") ++ rows(v1, "v1"))
        .toDF("view", "lang", "n", "x_min", "x_max", "sum_chars", "mean_micros")
        .orderBy(col("view"), col("lang"))
    }),

    // Point-lookup file skipping via the bloom sidecar. The layout is
    // deliberately hash-clustered on an unrelated key, so doc_id
    // interleaves across EVERY file and min/max range stats can prune
    // nothing — the case the bloom sidecar exists for: probe keys hash
    // on the driver against manifest-side bitmaps, and only the
    // |hits| + fpp·|files| survivors are ever opened. Three present
    // keys must come back exactly (zero false negatives is the bloom
    // contract under the oracle) and two absent keys must vanish —
    // via the residual filter even when a ~0.05%-probability false
    // positive keeps a file alive.
    "q_table_bloom" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .repartition(8, pmod(col("doc_id") * 2654435761L, lit(1000003L)))
      val path = graft.Harness.tempDir("graft_vtk").toString + "/docs"
      val v = VersionedTable.create(docs, path)
      VersionedTable.writeBloom(s, path, v, "doc_id")
      VersionedTable.readWhereKeys(s, path, v, "doc_id",
          Seq("3", "17", "421", "9999999999", "123456789"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // robots.txt gating — the crawl-policy step of the web pipeline
    // (RFC 9309): one synthetic robots per HOST exercising the real
    // semantics — comments, a non-* group that must contribute nothing
    // (k%11 hosts publish rules only for another agent), longest-
    // prefix-match decisions (Allow: /p<a> beats Disallow: /p whenever
    // it matches, including the /p1-prefixes-/p12 digit trap), and the
    // equal-length tie resolving to allow (k%2 hosts add Allow: /p).
    // Rules parse ONCE per host (97 rows) and broadcast onto the URLs;
    // the per-URL decision is one codegen'd array walk. The oracle
    // replays the planted policy as arithmetic + starts_with.
    "q_robots_gate" -> ((s, dir) => {
      val urls = t(s, dir, "documents").select(col("doc_id"),
        pmod(col("doc_id"), lit(97L)).as("k"),
        concat(lit("/p"), pmod(col("doc_id"), lit(13L))).as("path"))
      urls.join(broadcast(robotsHosts(s)), "k")
        .select(col("doc_id"),
          concat(lit("h"), col("k"), lit(".example")).as("host"),
          col("path"),
          graft.expr.TextExpressions.robotsAllowed(col("rules"), col("path"))
            .as("allowed"))
        .orderBy(col("doc_id"))
    }),

    // Non-rule robots directives — the politeness/discovery half of the
    // crawl-policy step: per host, the *-group Crawl-delay (exact
    // integral milliseconds; fractional seconds honored; another
    // agent's group contributes nothing) and the group-INDEPENDENT
    // sitemap URLs (collected even when the host publishes no * group).
    // Output is the scheduling view a crawler plans with: URL count per
    // host x delay = the serial politeness budget in ms. One parse per
    // host (97 rows, broadcast); the oracle replays the planted
    // directives as arithmetic.
    "q_robots_directives" -> ((s, dir) => {
      import graft.expr.TextExpressions
      val hosts = s.range(97).select(col("id").as("k"),
        TextExpressions.robotsDirectives(directivesPayload(col("id"))).as("d"))
      val urls = t(s, dir, "documents")
        .select(pmod(col("doc_id"), lit(97L)).as("k"))
        .groupBy("k").agg(count(lit(1)).as("n_urls"))
      urls.join(broadcast(hosts), "k")
        .select(concat(lit("h"), col("k"), lit(".example")).as("host"),
          col("n_urls"),
          col("d.crawl_delay_ms").as("crawl_delay_ms"),
          (col("n_urls") * coalesce(col("d.crawl_delay_ms"), lit(0L)))
            .as("serial_crawl_ms"),
          size(col("d.sitemaps")).cast("long").as("n_sitemaps"),
          array_join(col("d.sitemaps"), ",").as("sitemaps_csv"))
        .orderBy(col("host"))
    }),

    // Crawl-frontier filtering — the composition PageRank actually
    // consumes: the outlink edge set (3 planted links per page, spread
    // over 97 destination hosts/paths) gated by each DESTINATION
    // host's robots policy before any graph work. Per destination
    // host: how many in-links survive the policy vs arrive — the
    // fetch-or-drop mass a crawler schedules by. Rules parse once (97
    // rows, broadcast); the per-edge decision is a codegen'd array
    // walk; one aggregation exchange. The oracle replays links AND
    // policy as arithmetic + starts_with.
    "q_crawl_frontier" -> ((s, dir) => {
      import graft.expr.TextExpressions
      val edges = t(s, dir, "documents").select(col("doc_id"),
          explode(array((0 until 3).map(k => struct(
            pmod(col("doc_id") * 31 + lit(k * 17), lit(97L)).as("k"),
            pmod(col("doc_id") + lit(k.toLong), lit(13L)).as("j"))): _*)).as("e"))
        .select(col("e.k").as("k"),
          concat(lit("/p"), col("e.j")).as("path"))
      edges.join(broadcast(robotsHosts(s)), "k")
        .select(concat(lit("h"), col("k"), lit(".example")).as("dst_host"),
          TextExpressions.robotsAllowed(col("rules"), col("path")).as("allowed"))
        .groupBy(col("dst_host"))
        .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          count(lit(1)).as("n_total"))
        .orderBy(col("dst_host"))
    }),

    // Crawl SCHEDULE — the composition a fetch scheduler actually runs:
    // ONE robots.txt per host serves BOTH the gate and the politeness
    // budget (the coherence a crawler has in production — the same file
    // parsed once into rules + directives). Per destination host: the
    // surviving frontier in-links (q_crawl_frontier's gate formula over
    // this payload's identical star group) × the host's crawl-delay =
    // the serial fetch time; hosts with no *-group delay fetch at the
    // crawler's default (0 — bandwidth-bound). 97 parsed policies
    // broadcast; per-edge decision is a codegen'd array walk.
    "q_crawl_schedule" -> ((s, dir) => {
      import graft.expr.TextExpressions
      // the q_robots_gate star group (Disallow /p, Allow /p<(k+1)%13>,
      // tie Allow /p on even k) PLUS a Crawl-delay line in that same
      // group ((k%7) s, fractional .5 on k%3); k%11 hosts publish only
      // the otherbot group — no gate rules, no *-scoped delay
      val payload = concat(
        lit("Sitemap: https://h"), col("id"), lit(".example/sitemap.xml\n"),
        when(pmod(col("id"), lit(11L)) === 0,
          lit("User-agent: otherbot\nCrawl-delay: 99\nDisallow: /\n"))
          .otherwise(concat(
            lit("User-agent: *\nDisallow: /p\nAllow: /p"),
            pmod(col("id") + 1, lit(13L)), lit("\n"),
            when(pmod(col("id"), lit(2L)) === 0, lit("Allow: /p\n"))
              .otherwise(lit("")),
            lit("Crawl-delay: "), pmod(col("id"), lit(7L)),
            when(pmod(col("id"), lit(3L)) === 0, lit(".5"))
              .otherwise(lit("")),
            lit("\n"))))
      val policy = s.range(97).select(col("id").as("k"),
        TextExpressions.robotsRules(payload).as("rules"),
        TextExpressions.robotsDirectives(payload).as("d"))
      val edges = t(s, dir, "documents").select(col("doc_id"),
          explode(array((0 until 3).map(k => struct(
            pmod(col("doc_id") * 31 + lit(k * 17), lit(97L)).as("k"),
            pmod(col("doc_id") + lit(k.toLong), lit(13L)).as("j"))): _*)).as("e"))
        .select(col("e.k").as("k"), concat(lit("/p"), col("e.j")).as("path"))
      edges.join(broadcast(policy), "k")
        .select(col("k"),
          TextExpressions.robotsAllowed(col("rules"), col("path")).as("allowed"),
          col("d.crawl_delay_ms").as("delay"))
        .groupBy(col("k"))
        .agg(sum(when(col("allowed"), 1L).otherwise(0L)).as("n_allowed"),
          first(col("delay")).as("crawl_delay_ms"))
        .select(concat(lit("h"), col("k"), lit(".example")).as("host"),
          col("n_allowed"), col("crawl_delay_ms"),
          (col("n_allowed") * coalesce(col("crawl_delay_ms"), lit(0L)))
            .as("serial_fetch_ms"))
        .orderBy(col("host"))
    }),

    // Outlink extraction — the step after the gate in a web pipeline:
    // WARC responses carry HTML with three planted anchors per page
    // (targets spread over 97 hosts by pinned arithmetic); the read
    // splits the HTTP message once, regexp-extracts every href, maps
    // urls to hosts, and aggregates the host-to-host edge list — the
    // input PageRank/label-prop run. The oracle replays the planted
    // link arithmetic, so a missed or duplicated anchor anywhere in
    // parse/extract/group hash-mismatches.
    "q_warc_outlinks" -> ((s, dir) => {
      import graft.expr.BinaryExpressions
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val wdir = graft.Harness.tempDir("graft_warcl").toString +
        "/shards"
      val anchors = (0 until 3).map { k =>
        concat(lit("<a href=\"http://h"),
          pmod(col("doc_id") * 31 + lit(k * 17), lit(97L)),
          lit(s""".example/p$k">x</a>"""))
      }
      val body = concat(lit("<html><body>") +: anchors :+
        col("text") :+ lit("</body></html>"): _*)
      graft.sources.WarcIO.writeSharded(src.select(
        col("doc_id"),
        concat(lit("http://h"), pmod(col("doc_id"), lit(97L)),
          lit(".example/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
          body).cast("binary").as("payload")), wdir, "doc_id", 8)
      graft.sources.WarcIO.read(s, wdir + "/*.warc.gz")
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "^http://([^/]+)/", 1).as("src_host"),
          BinaryExpressions.httpResponse(col("payload")).as("h"))
        .select(col("src_host"), explode(expr(
          """regexp_extract_all(cast(h.body as string), 'href="([^"]+)"', 1)"""))
          .as("url"))
        .select(col("src_host"),
          regexp_extract(col("url"), "^http://([^/]+)/", 1).as("dst_host"))
        .groupBy(col("src_host"), col("dst_host"))
        .agg(count(lit(1)).as("n_links"))
        .orderBy(col("src_host"), col("dst_host"))
    }),

    // The full crawl record layout: a `request` record (the HTTP
    // request as sent) next to its `response` for every page — the
    // actual Common Crawl shard anatomy. The graded read pairs them by
    // target URI and emits (doc_id, method, req_path, status, n_body):
    // the request side parses with plain SQL string ops (ASCII request
    // head), the response side with the native splitter. The oracle
    // replays both constructions.
    "q_warc_request" -> ((s, dir) => {
      import graft.expr.BinaryExpressions
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val wdir = graft.Harness.tempDir("graft_warcq").toString +
        "/shards"
      val reqs = src.select(col("doc_id"),
        concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        lit("request").as("warc_type"),
        concat(lit("<urn:req:"), col("doc_id"), lit(">")).as("record_id"),
        concat(lit("GET /doc/"), col("doc_id"),
          lit(" HTTP/1.1\r\nHost: corpus.example\r\n\r\n"))
          .cast("binary").as("payload"))
      val resps = src.select(col("doc_id"),
        concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        lit("response").as("warc_type"),
        concat(lit("<urn:resp:"), col("doc_id"), lit(">")).as("record_id"),
        concat(lit("HTTP/1.1 200 OK\r\n\r\n"), col("text"))
          .cast("binary").as("payload"))
      graft.sources.WarcIO.writeSharded(reqs.unionByName(resps), wdir,
        "doc_id", 8)
      val recs = graft.sources.WarcIO.read(s, wdir + "/*.warc.gz")
        .filter(col("warc_type") =!= "warcinfo")
        .withColumn("doc_id",
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long"))
      val req = recs.filter(col("warc_type") === "request")
        .select(col("doc_id"),
          regexp_extract(col("payload").cast("string"),
            "^(\\S+) (\\S+) HTTP", 1).as("method"),
          regexp_extract(col("payload").cast("string"),
            "^(\\S+) (\\S+) HTTP", 2).as("req_path"))
      val resp = recs.filter(col("warc_type") === "response")
        .select(col("doc_id"),
          BinaryExpressions.httpResponse(col("payload")).as("h"))
        .select(col("doc_id"), col("h.status").as("status"),
          length(col("h.body").cast("string")).cast("long").as("n_body"))
      req.join(resp, "doc_id")
        .select(col("doc_id"), col("method"), col("req_path"),
          col("status"), col("n_body"))
        .orderBy(col("doc_id"))
    }),

    // Deduplicated archival storage — the revisit-record pattern real
    // crawls use: a page whose content was already archived stores a
    // tiny `revisit` record with WARC-Refers-To pointing at the
    // canonical response instead of re-storing the body (every %5==4
    // doc is planted as a dup of its predecessor). The graded read
    // RECONSTRUCTS the full corpus: responses keep their bodies,
    // revisits join to their canonical record's body — storage is
    // deduplicated, the corpus is not. Oracle replays the dup
    // arithmetic with a self-join.
    "q_warc_revisit" -> ((s, dir) => {
      import graft.expr.BinaryExpressions
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val wdir = graft.Harness.tempDir("graft_warcr").toString +
        "/shards"
      val isDup = pmod(col("doc_id"), lit(5L)) === 4
      graft.sources.WarcIO.writeSharded(src.select(
        col("doc_id"),
        concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        when(isDup, lit("revisit")).otherwise(lit("response")).as("warc_type"),
        concat(lit("<urn:doc:"), col("doc_id"), lit(">")).as("record_id"),
        when(isDup, concat(lit("<urn:doc:"), col("doc_id") - 1, lit(">")))
          .otherwise(lit(null)).as("refers_to"),
        when(isDup, lit("").cast("binary"))
          .otherwise(concat(lit("HTTP/1.1 200 OK\r\n\r\n"), col("text"))
            .cast("binary")).as("payload")), wdir, "doc_id", 8)
      val recs = graft.sources.WarcIO.read(s, wdir + "/*.warc.gz")
        .filter(col("warc_type") =!= "warcinfo")
      val canon = recs.filter(col("warc_type") === "response")
        .select(col("record_id").as("canon_id"),
          BinaryExpressions.httpResponse(col("payload"))
            .getField("body").cast("string").as("canon_text"))
      recs.select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("refers_to"),
          BinaryExpressions.httpResponse(col("payload"))
            .getField("body").cast("string").as("own_text"))
        .join(canon, col("refers_to") === col("canon_id"), "left")
        .select(col("doc_id"),
          when(col("warc_type") === "revisit", col("canon_text"))
            .otherwise(col("own_text")).as("text"))
        .orderBy(col("doc_id"))
    }),

    // The Common-Crawl ingest head over a real WARC archive: documents
    // export as sharded .warc.gz responses whose HTTP status and
    // Content-Type vary deterministically (404 on %7, application/pdf
    // on %5), then the distributed read applies the SINGLE-PARSE
    // native gate (status 200 AND text/html) scan-side before the
    // response splitter runs once more for the survivors' bodies —
    // two payload parses per row total, no per-field re-parse. The
    // oracle replays the status/type arithmetic over the source table.
    "q_warc_http_gate" -> ((s, dir) => {
      import graft.expr.BinaryExpressions
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val wdir = graft.Harness.tempDir("graft_warcg").toString +
        "/shards"
      val statusLine = when(pmod(col("doc_id"), lit(7L)) === 0,
        lit("HTTP/1.1 404 Not Found\r\n")).otherwise(lit("HTTP/1.1 200 OK\r\n"))
      val ctypeHeader = when(pmod(col("doc_id"), lit(5L)) === 0,
          lit("Content-Type: application/pdf\r\n"))
        .otherwise(lit("Content-Type: text/html; charset=utf-8\r\n"))
      graft.sources.WarcIO.writeSharded(src.select(
        col("doc_id"),
        concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        concat(statusLine, ctypeHeader, lit("\r\n"), col("text"))
          .cast("binary").as("payload")), wdir, "doc_id", 8)
      graft.sources.WarcIO.read(s, wdir + "/*.warc.gz")
        .filter(col("warc_type") === "response")
        .filter(BinaryExpressions.httpGate(col("payload"), 200, "text/html"))
        .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          BinaryExpressions.httpResponse(col("payload")).as("h"))
        .select(col("doc_id"),
          length(col("h.body").cast("string")).cast("long").as("n_body"))
        .orderBy(col("doc_id"))
    }),

    // Frame sampling over the INTERLEAVED-chunk layout real muxers
    // write — the native full-addressing sampler (one codegen'd call):
    // stsc maps each sampled index to its chunk, stco supplies that
    // chunk's non-contiguous offset (64-byte foreign gaps between
    // chunks), the offset accumulates within the chunk. The oracle
    // replays chunk = idx div 16 and base + chunk·(16·ss+64) +
    // (idx mod 16)·ss end-to-end — byte ranges a single-chunk formula
    // would get wrong for every frame past the first chunk.
    "q_frame_sample_chunked" -> ((s, dir) => {
      Multimodal.sampleFrameRangesFull(
          synthVideoChunkedPayloads(t(s, dir, "documents")).localCheckpoint(),
          "payload", 8)
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
          col("f.pts_us").as("pts_us"),
          col("f.byte_offset").as("byte_offset"),
          col("f.byte_len").as("byte_len"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // Maintained BM25 inverted index: the same CDC release as
    // q_lsh_maintain (drop %97, ' v2' %53, re-add %89 under new ids),
    // applied to the MATERIALIZED postings table — unchanged docs carry
    // forward, only touched texts re-tokenize. The oracle recomputes
    // every posting from the FULL new release, so maintained ==
    // recomputed IS the graded property: with q_incr_agg, q_scd2,
    // q_ivf_maintain and q_lsh_maintain this closes the O(churn)
    // refresh story for the retrieval index too.
    "q_bm25_maintain" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newC = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000000000L).as("doc_id"), col("text")))
      val changes = graft.operators.Diff.snapshotDiff(
          docs, newC, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      val oldIdx = Search.bm25Index(docs, "text", "doc_id")
      Search.bm25IndexMaintain(oldIdx, changes, "text", "doc_id")
        .select(col("doc_id"), col("dl"), col("term"), col("tf"))
        .orderBy(col("doc_id"), col("term"))
    }),

    // Product-Quantization ANN with PINNED codebooks (subvectors of
    // vec_id < 16, m=8 subspaces x 16 codewords) — the MEMORY-bound
    // serving path: corpus becomes 8 small codes per vector, queries
    // score by summing per-subspace lookup tables (ADC). Deterministic
    // end-to-end (first-index argmin, left-associated ADC sum, id tie
    // break), so the oracle replays encode + table lookup + rank.
    "q_pq_ann_pinned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val rows = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding").cast(ArrayType(DoubleType))).collect()
        .map(_.getSeq[Double](0).toArray)
      val books = Similarity.pqCodebooksFromRows(rows, m = 8)
      Similarity.pqTopKADC(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, books)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // OPQ-style rotated PQ: the corpus is pre-rotated by the Hadamard ×
    // pinned-sign-diagonal transform (the structured rotation fast-PQ
    // implementations use in OPQ's role — decorrelate/spread energy
    // across subspaces) and then PQ-encoded exactly like
    // q_pq_ann_pinned. The rotation is exactly orthogonal AND exactly
    // replayable (every matrix entry is ±0.125; each component one
    // index-ordered dot), so the oracle recomputes rotation + codebooks
    // + encode + ADC + rank end-to-end.
    "q_opq_ann_pinned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      def rot(df: org.apache.spark.sql.DataFrame) = df.select(col("vec_id"),
        Similarity.hadamardSignRotate(col("embedding"), 64).as("embedding"))
      // localCheckpoint: materialize the rotation ONCE — without the
      // barrier CollapseProject inlines the 64-dot rotation array into
      // each of the 128 downstream per-codeword sqDists and the
      // generated code explodes (measured: codegen OOM)
      val rotated = rot(emb).localCheckpoint()
      val rows = rotated.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Double](0).toArray)
      val books = Similarity.pqCodebooksFromRows(rows, m = 8)
      Similarity.pqTopKADC(rotated, rotated.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, books)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // The COMPOSED index: IVF cells × PQ codes (FAISS IndexIVFPQ shape,
    // raw-vector PQ) — per query, work drops from |corpus| to |probed
    // cells| AND candidates are scored from byte codes, not vectors.
    // Same pinned rows serve as cell centroids and PQ codebooks; the
    // oracle replays cells + codes + table lookups + rank end-to-end.
    "q_ivfpq_pinned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val pinned = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
      val cellCents = pinned.select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      val books = Similarity.pqCodebooksFromRows(
        pinned.select(col("embedding").cast(ArrayType(DoubleType))).collect()
          .map(_.getSeq[Double](0).toArray), m = 8)
      Similarity.ivfPqTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, cellCents, nProbe = 4, books)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // RESIDUAL IVF-PQ (FAISS by_residual=true, the production default):
    // PQ quantizes x − C(cell) so the codebooks span only the
    // within-cell spread; the query ADC table is rebuilt per probed
    // cell. Cells pinned from vec_id < 16; residual codebooks pinned
    // from the RESIDUALS of vec_id in [16, 32) (a centroid's own
    // residual is zero — different rows must seed the codebooks). The
    // driver-side residual computation mirrors the engine's cosine
    // argmax (left-fold double accumulation, lower-index ties) exactly,
    // and the oracle rebuilds the same codebooks from its own CTEs.
    "q_ivfpq_residual_pinned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cents = emb.filter(col("vec_id") < 16).orderBy(col("vec_id"))
        .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
      val centsD = cents.map(_.map(_.toDouble))
      val pin2 = emb.filter(col("vec_id") >= 16 && col("vec_id") < 32)
        .orderBy(col("vec_id"))
        .select(col("embedding").cast(ArrayType(DoubleType))).collect()
        .map(_.getSeq[Double](0).toArray)
      def cellOf(v: Array[Double]): Int = {
        var best = -1
        var bestSim = Double.NegativeInfinity
        for (ci <- centsD.indices) {
          val c = centsD(ci)
          var dot = 0.0; var na = 0.0; var nb = 0.0
          var i = 0
          while (i < v.length) {
            dot += v(i) * c(i); na += v(i) * v(i); nb += c(i) * c(i); i += 1
          }
          val sim = dot / (math.sqrt(na) * math.sqrt(nb))
          if (sim > bestSim) { bestSim = sim; best = ci } // tie keeps lower ci
        }
        best
      }
      val resRows = pin2.map { r =>
        val c = centsD(cellOf(r))
        Array.tabulate(r.length)(i => r(i) - c(i))
      }
      val books = Similarity.pqCodebooksFromRows(resRows, m = 8)
      Similarity.ivfPqResidualTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5, cents, nProbe = 4, books)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("adc_dist"), 6).as("adc_dist"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // Projection-compressed ANN with a PINNED 64->8 matrix — the
    // serving split of dimensionality-reduced search (matrix fitted
    // once offline, reused per batch; same pattern as
    // q_ann_ivf_pinned's centroids). Components come from the
    // polynomial fingerprint family ("j:i" -> [-0.5,0.5), the
    // Johnson-Lindenstrauss random-projection construction), so the
    // DuckDB oracle replays project + brute-force rank END-TO-END —
    // which PCA eigenvectors (sign/numerics implementation-defined,
    // no SQL eigensolver) never could. Each plane folds to a literal
    // double[64] at plan time: the projection is 8 codegen'd dots per
    // row, no shuffle. The PCA fit itself (variance capture, distance
    // preservation, sign canonicalization) is spec-gated in LearnSpec.
    "q_pca_ann_pinned" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val planes = (0 until 8).map { j =>
        array((0 until 64).map(i =>
          Similarity.polyPlaneComponent(j, lit(i))): _*)
      }
      val reduced = emb.select(col("vec_id"),
        array(planes.map(p => Similarity.dot(col("embedding"), p)): _*)
          .as("embedding"))
      Similarity.bruteForceTopK(reduced, reduced.filter(col("vec_id") < 10),
          "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("cosine"), 6).as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    }),

    // SemDeDup with PINNED data-point centroids (vec_id < 8): cluster via
    // per-row argmax (no shuffle), grid-decomposed within-cell pair join,
    // greedy farthest-from-centroid keep rule. 20 planted exact copies
    // (vec_id+1e12) MUST drop (cos 1.0 vs their originals, same cell);
    // tau=0.3 also drops naturally-close pairs. Oracle replays assignment,
    // ranking, pair threshold, and the anti-join end-to-end.
    "q_semdedup" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") < 20)
        .select((col("vec_id") + 1000000000000L).as("vec_id"), col("embedding"))
      val cents = emb.filter(col("vec_id") < 8).orderBy(col("vec_id"))
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      Similarity.semDedupPinned(emb.unionByName(planted), "vec_id", "embedding",
          cents, tau = 0.3)
        .select(col("vec_id"), col("cell"),
          round(col("centroid_sim"), 6).as("centroid_sim"))
        .orderBy(col("vec_id"))
    }),

    // Multimodal: text -> binary column -> per-partition decode-stub
    // (mapPartitions) metadata, oracle-checkable (byte count, format sniff,
    // md5 digest). Feature vectors are spec-tested, not oracle'd.
    "q_multimodal" -> ((s, dir) => {
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.withFeatures(withBin, "payload")
        .select(col("doc_id"), col("n_bytes"), col("format"),
          md5(col("payload")).as("digest"))
        .orderBy(col("doc_id"))
    }),

    // Image-header metadata WITHOUT decode: synthesize real container
    // headers (PNG IHDR / GIF screen descriptor / BMP DIB / JPEG SOF0
    // behind an APP0) with dimensions derived from doc_id, parse them
    // back with the native ImageMeta byte loop. The oracle computes the
    // expected (format, width, height) from the SAME arithmetic
    // independently — the full encode→parse round trip is verified
    // byte-for-byte. Resolution filtering at 100 TB is exactly this
    // narrow header pass; no codec, no shuffle.
    "q_image_meta" -> ((s, dir) => {
      Multimodal.withImageMeta(synthImagePayloads(t(s, dir, "documents")), "payload")
        .select(col("doc_id"), col("img.format").as("format"),
          col("img.width").as("width"), col("img.height").as("height"))
        .orderBy(col("doc_id"))
    }),

    // The resolution GATE end-to-end: the single-parse native predicate
    // (ImageMinResolution) prunes the synthesized payloads scan-side;
    // kept ids replay as pure dimension arithmetic in the oracle. Every
    // container branch (png/gif/bmp/jpeg) flows through the same gate.
    "q_image_filter" -> ((s, dir) => {
      Multimodal.filterByResolution(
          synthImagePayloads(t(s, dir, "documents")), "payload", 300, 200)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Audio metadata WITHOUT decode: RIFF/WAVE header parse (channels,
    // sample rate, bit depth, frames, duration) as one codegen'd byte
    // loop over synthesized real WAV headers — the audio face of
    // q_image_meta. The oracle replays the id-derived parameters; Spark
    // round-trips the actual bytes.
    "q_audio_meta" -> ((s, dir) => {
      Multimodal.withAudioMeta(synthAudioPayloads(t(s, dir, "documents")), "payload")
        .select(col("doc_id"), col("audio.format").as("format"),
          col("audio.channels").as("channels"),
          col("audio.sample_rate").as("sample_rate"),
          col("audio.bits").as("bits"), col("audio.n_frames").as("n_frames"),
          col("audio.duration_us").as("duration_us"))
        .orderBy(col("doc_id"))
    }),

    // REAL PCM DECODE end-to-end: WAV payloads carry an actual 16-bit
    // sample body (two alternating doc_id-derived values), and the
    // native decode expression reads every sample into exact integer
    // stats — n_samples, peak_abs, sum_abs, sum_sq. The oracle replays
    // the sums as pure arithmetic over the ceil/floor split of the
    // alternation; Spark decodes the actual bytes it synthesized.
    "q_audio_pcm" -> ((s, dir) => {
      Multimodal.withPcmStats(
          synthAudioPcmPayloads(t(s, dir, "documents")), "payload")
        .select(col("doc_id"), col("pcm.n_samples").as("n_samples"),
          col("pcm.peak_abs").as("peak_abs"),
          col("pcm.sum_abs").as("sum_abs"), col("pcm.sum_sq").as("sum_sq"))
        .orderBy(col("doc_id"))
    }),

    // The decode-derived SIGNAL gate end-to-end: one native sample pass
    // per row drops silent (mean |s| < 30) and clipped (peak > 120)
    // clips scan-side; kept ids replay as ceil/floor arithmetic over
    // the alternating-sample body.
    "q_audio_gate" -> ((s, dir) => {
      Multimodal.filterBySignal(
          synthAudioPcmPayloads(t(s, dir, "documents")), "payload",
          minMeanAbsMilli = 30000L, maxPeak = 120)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // The duration GATE end-to-end: single-parse native predicate prunes
    // sub-20ms clips scan-side; kept ids replay as pure arithmetic.
    "q_audio_filter" -> ((s, dir) => {
      Multimodal.filterByDuration(
          synthAudioPayloads(t(s, dir, "documents")), "payload", 20000L)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Video metadata WITHOUT decode: ISO-BMFF box walk (brand, movie
    // timescale/duration, track dims, stts frame count) over synthesized
    // real MP4 box bytes — the video face of q_image_meta/q_audio_meta.
    // The oracle replays the id-derived parameters; Spark round-trips
    // the actual container bytes.
    "q_video_meta" -> ((s, dir) => {
      Multimodal.withVideoMeta(synthVideoPayloads(t(s, dir, "documents")), "payload")
        .select(col("doc_id"), col("video.format").as("format"),
          col("video.timescale").as("timescale"),
          col("video.duration_ticks").as("duration_ticks"),
          col("video.duration_us").as("duration_us"),
          col("video.width").as("width"), col("video.height").as("height"),
          col("video.n_frames").as("n_frames"))
        .orderBy(col("doc_id"))
    }),

    // The clip gate end-to-end: single-parse native predicate prunes
    // sub-5s / sub-480x360 clips scan-side; kept ids replay as pure
    // arithmetic.
    "q_video_filter" -> ((s, dir) => {
      Multimodal.filterByVideo(
          synthVideoPayloads(t(s, dir, "documents")), "payload",
          5000000L, 480, 360)
        .select(col("doc_id"))
        .orderBy(col("doc_id"))
    }),

    // Uniform k=8 frame sampling from the container's OWN sample tables:
    // each sampled frame becomes (frame_idx, pts_us, byte_offset,
    // byte_len) from stts delta / stco chunk offset / stsz fixed size —
    // the ranged-read list a decode stage consumes, computed row-locally
    // (zero shuffle, zero coded bytes). Clips shorter than 8 frames
    // yield each frame exactly once. The oracle replays the index rule
    // floor(j*n_frames/8) and the byte arithmetic end-to-end.
    "q_frame_sample" -> ((s, dir) => {
      // localCheckpoint: materialize the synthesized payloads ONCE. The
      // sampler's consumers (addressability gate, meta parse, index HOF)
      // each count as a use site after stage fusion, and the inline
      // synth re-expands at every one (measured 20x on the keyframe
      // variant; STORED payloads — the production case — don't pay this)
      Multimodal.sampleFrameRanges(
          synthVideoPayloads(t(s, dir, "documents")).localCheckpoint(), "payload", 8)
        .select(col("doc_id"), explode(col("frames")).as("f"))
        .select(col("doc_id"), col("f.frame_idx").as("frame_idx"),
          col("f.pts_us").as("pts_us"),
          col("f.byte_offset").as("byte_offset"),
          col("f.byte_len").as("byte_len"))
        .orderBy(col("doc_id"), col("frame_idx"))
    }),

    // URL canonicalization — the fold before URL-keyed crawl dedup:
    // uppercase scheme/host, default ports, fragments, and tracking
    // params all collapse onto one canonical key. Three messy-URL shapes
    // synthesized from doc_id; the oracle computes each expected
    // canonical string independently (byte-for-byte check of the whole
    // regex fold). One narrow codegen'd pass.
    "q_url_canon" -> ((s, dir) => {
      val d = t(s, dir, "documents").select(col("doc_id"),
        (col("doc_id") % 20).cast(StringType).as("a"),
        (col("doc_id") % 7).cast(StringType).as("b"),
        (col("doc_id") % 5).cast(StringType).as("c"))
      val url = when(col("doc_id") % 3 === 0,
          concat(lit("HTTP://Site"), col("a"), lit(".Example.COM:80/Path"),
            col("b"), lit("/?utm_source=x&q="), col("c"), lit("#frag")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("https://cdn"), col("a"), lit(".example.com:443/img"),
            col("b"), lit("?fbclid=abc"), col("c")))
        .otherwise(
          concat(lit("http://plain"), col("a"), lit(".example.org/a"),
            col("b"), lit("/")))
      d.select(col("doc_id"), TextOps.canonicalizeUrl(url).as("canonical_url"))
        .orderBy(col("doc_id"))
    }),

    // Heavy hitters via the Misra-Gries sketch (O(k) shuffle state; every
    // true heavy hitter guaranteed into the candidate set) + an exact
    // re-count of candidates only — so the output is exactly the items
    // with frequency > n/k, deterministic, replayable as GROUP BY/HAVING.
    "q_heavy_hitters" -> ((s, dir) => {
      val langs = t(s, dir, "documents").select(col("lang"))
      Sketch.heavyHitters(langs, col("lang"), 6)
        .withColumnRenamed("item", "lang")
        .orderBy(col("cnt").desc, col("lang"))
    }),

    // BM25 keyword retrieval: top-20 docs for a 3-term query. Scores are
    // rounded to 6 decimals BEFORE ranking (doc_id tiebreak) so the
    // ranking is engine-reproducible; the oracle replays the exact Okapi
    // arithmetic. (Search.bm25 — query-token filter before any shuffle.)
    "q_bm25" -> ((s, dir) => {
      Search.bm25TopK(t(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "join", "window"), 20)
        .orderBy(col("rank"))
    }),

    // Hybrid retrieval: RRF fusion (k=60) of the BM25 top-50 with the
    // cosine top-50 around query embedding vec_id=0 — the standard
    // lexical+semantic hybrid-search combiner, fully oracle-replayable.
    "q_hybrid_rrf" -> ((s, dir) => {
      Search.hybridTopK(t(s, dir, "documents"), "text", "doc_id",
          Seq("spark", "join", "window"),
          t(s, dir, "embeddings"), "vec_id", "embedding",
          queryVecId = 0L, k = 50)
        .select(col("doc_id"), round(col("rrf"), 6).as("rrf"), col("n_lists"))
        .orderBy(col("rrf").desc, col("doc_id"))
    })
  )

  private val langCase = {
    val scores = TextOps.langMarkers.map { case (lang, ms) =>
      lang -> ms.map { case (m, w) =>
        s"$w*len(list_filter(toks, t -> t = '$m'))"
      }.mkString(" + ")
    }
    val maxExpr = s"greatest(${scores.map(_._2).mkString(", ")})"
    scores.map { case (lang, s) => s"WHEN ($s) = $maxExpr THEN '$lang'" }
      .mkString("CASE ", " ", " END")
  }

  val oracleSql: Map[String, String] = Map(
    "q_text_stats" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents)
         |SELECT doc_id,
         |  len(toks) AS n_tokens,
         |  list_sum(list_transform(toks, t -> CAST(ceil(len(t)/6.0) AS BIGINT)))::BIGINT AS n_bpe,
         |  round(len(list_distinct(toks))::DOUBLE / len(toks), 6) AS uniq_ratio,
         |  round(len(list_filter(toks, t -> t IN ('a','the')))::DOUBLE / len(toks), 6) AS stop_ratio,
         |  round(0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
         |      + 0.3 * (1.0 - len(list_filter(toks, t -> t IN ('a','the')))::DOUBLE / len(toks))
         |      + 0.3 * least(1.0, len(toks)::DOUBLE / 100.0), 6) AS quality,
         |  $langCase AS lang_pred,
         |  list_reduce(list_prepend(0::BIGINT,
         |    list_transform(range(1, len(text) + 1), i -> ascii(text[i]))),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS fingerprint
         |FROM d ORDER BY doc_id""".stripMargin,

    "q_dedup_exact" ->
      """SELECT min(doc_id) AS canonical_id, count(*) AS dup_count
        |FROM documents GROUP BY text ORDER BY canonical_id""".stripMargin,

    "q_dedup_incr" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 10 = 0 THEN 'shared boilerplate text' ELSE text END AS text
        |  FROM documents),
        |corpus AS (SELECT * FROM d WHERE doc_id < 250),
        |inc AS (SELECT * FROM d WHERE doc_id >= 250),
        |survivors AS (SELECT * FROM inc
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = inc.text))
        |SELECT min(doc_id) AS doc_id FROM survivors GROUP BY text
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_bloom" ->
      """WITH d AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'shared boilerplate text' ELSE text END AS text
        |  FROM documents),
        |corpus AS (SELECT * FROM d WHERE doc_id < 250),
        |inc AS (SELECT * FROM d WHERE doc_id >= 250),
        |survivors AS (SELECT * FROM inc
        |  WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = inc.text))
        |SELECT min(doc_id) AS doc_id FROM survivors GROUP BY text
        |ORDER BY doc_id""".stripMargin,

    "q_curate" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - 10, 1), 30)) AS start
        |       FROM d),
        |chunks AS (
        |  SELECT doc_id, start // 30 AS chunk_id,
        |    doc_id * 1000 + start // 30 AS chunk_key,
        |    array_to_string(toks[start + 1 : start + 40], ' ') AS chunk,
        |    least(len(toks) - start, 40)::BIGINT AS chunk_tokens
        |  FROM st),
        |scored AS (
        |  SELECT *, round(
        |      0.4 * (len(list_distinct(ctoks))::DOUBLE / len(ctoks))
        |    + 0.3 * (1.0 - len(list_filter(ctoks, t -> t IN ('a','the')))::DOUBLE / len(ctoks))
        |    + 0.3 * least(1.0, len(ctoks)::DOUBLE / 100.0), 6) AS q
        |  FROM (SELECT *, string_split(chunk, ' ') AS ctoks FROM chunks)
        |  WHERE chunk_tokens >= 20),
        |qualified AS (SELECT chunk_key, chunk, chunk_tokens, q FROM scored WHERE q >= 0.5),
        |canon AS (
        |  SELECT * FROM
        |    (SELECT *, min(chunk_key) OVER (PARTITION BY chunk) AS ck FROM qualified)
        |  WHERE chunk_key = ck),
        |tagged AS (
        |  SELECT *, CASE WHEN list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(chunk_key::VARCHAR) + 1),
        |        i -> ascii((chunk_key::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80
        |    THEN 'train' ELSE 'test' END AS split
        |  FROM canon)
        |SELECT split, count(*) AS n_chunks, sum(chunk_tokens)::BIGINT AS tokens_sum,
        |  round(sum(q), 4) AS q_sum
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin,

    "q_chunk" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks
        |           FROM documents WHERE doc_id < 100),
        |st AS (SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - 10, 1), 30)) AS start
        |       FROM d)
        |SELECT doc_id, start // 30 AS chunk_id,
        |  array_to_string(toks[start + 1 : start + 40], ' ') AS chunk,
        |  least(len(toks) - start, 40)::BIGINT AS chunk_tokens
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    "q_cap" ->
      """WITH ranked AS (
        |  SELECT doc_id, source,
        |    row_number() OVER (PARTITION BY source ORDER BY
        |      list_reduce(list_prepend(0::BIGINT,
        |        list_transform(range(1, len(doc_id::VARCHAR) + 1),
        |          i -> ascii((doc_id::VARCHAR)[i]))),
        |        (a, b) -> (a * 31 + b) % 1000000007) % 100000, doc_id) AS r
        |  FROM documents)
        |SELECT source, count(*) AS n, sum(doc_id)::BIGINT AS id_sum
        |FROM ranked WHERE r <= 30
        |GROUP BY source ORDER BY source""".stripMargin,

    "q_mix" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CASE lang WHEN 'en' THEN 150 WHEN 'de' THEN 225 ELSE 50 END AS pct,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(doc_id::VARCHAR) + 1),
        |        i -> ascii((doc_id::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket
        |  FROM documents),
        |c AS (SELECT doc_id, lang,
        |        pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS copies
        |      FROM w),
        |e AS (SELECT doc_id, lang, unnest(range(0, copies)) AS epoch FROM c)
        |SELECT lang, count(*) AS n_rows, sum(epoch)::BIGINT AS epoch_sum,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,

    "q_domains" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || ' see https://site' || (doc_id % 20)::VARCHAR || '.example.com/page'
        |         || ' or http://mirror' || (doc_id % 5)::VARCHAR || '.example.org/x' AS text
        |  FROM documents)
        |SELECT domain, count(*) AS n FROM (
        |  SELECT unnest(regexp_extract_all(text, 'https?://([A-Za-z0-9.-]+)', 1)) AS domain
        |  FROM synth)
        |GROUP BY domain ORDER BY domain""".stripMargin,

    "q_decontaminate" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 500000, text || ' extra' FROM documents WHERE doc_id < 15),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS train_id, b.doc_id AS eval_id
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |   AND a.doc_id < 500000 AND b.doc_id >= 500000),
        |est AS (
        |  SELECT train_id, eval_id,
        |    avg(CASE WHEN sa.m = sb.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = train_id
        |  JOIN sig sb ON sb.doc_id = eval_id AND sb.j = sa.j
        |  GROUP BY train_id, eval_id)
        |SELECT train_id, eval_id, round(est_jaccard, 6) AS est_jaccard
        |FROM est WHERE est_jaccard >= 0.5
        |ORDER BY train_id, eval_id""".stripMargin,

    "q_ngram_decon" ->
      """WITH ev AS (
        |  SELECT array_to_string(toks[6:15], ' ') AS text
        |  FROM (SELECT string_split(text, ' ') AS toks
        |        FROM documents WHERE doc_id % 50 = 0)),
        |evg AS (
        |  SELECT DISTINCT unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |           toks[i+3] || ' ' || toks[i+4]))) AS g
        |  FROM (SELECT string_split(text, ' ') AS toks FROM ev)),
        |trg AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 3),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' ||
        |           toks[i+3] || ' ' || toks[i+4]))) AS g
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |hits AS (
        |  SELECT doc_id, count(*) AS n FROM trg
        |  WHERE g IN (SELECT g FROM evg) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n, 0)::BIGINT AS n_collisions,
        |  coalesce(h.n, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    "q_boilerplate" ->
      """WITH synth AS (
        |  SELECT doc_id, text ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN '. all rights reserved. subscribe to our newsletter' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '. privacy policy' ELSE '' END AS t
        |  FROM documents),
        |segs AS (SELECT doc_id, string_split(t, '. ') AS l FROM synth),
        |ex0 AS (SELECT doc_id, l, unnest(range(1, len(l) + 1)) AS i FROM segs),
        |ex AS (SELECT doc_id, i, l[i] AS seg FROM ex0),
        |freq AS (
        |  SELECT seg FROM (SELECT DISTINCT doc_id, seg FROM ex)
        |  GROUP BY seg HAVING count(*) > 0.05 * (SELECT count(*) FROM synth)),
        |kept AS (SELECT doc_id, i, seg FROM ex
        |         WHERE seg NOT IN (SELECT seg FROM freq)),
        |agg AS (SELECT doc_id, string_agg(seg, '. ' ORDER BY i) AS cleaned,
        |               count(*) AS k
        |        FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, len(l) AS total FROM segs)
        |SELECT s.doc_id, coalesce(a.cleaned, '') AS cleaned,
        |  (t2.total - coalesce(a.k, 0))::BIGINT AS cleaned_dropped
        |FROM synth s JOIN tot t2 USING (doc_id) LEFT JOIN agg a USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_pii" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || ' contact user' || doc_id::VARCHAR || '@mail.example.com'
        |         || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' || (doc_id % 100)::VARCHAR
        |         || ' card 4111111111' || (doc_id % 900000 + 100000)::VARCHAR AS text
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
        |    '\b\d{9,19}\b', '<NUM>', 'g') AS redacted,
        |  len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
        |  len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ip,
        |  len(regexp_extract_all(text, '\b\d{9,19}\b'))::BIGINT AS n_num
        |FROM synth ORDER BY doc_id""".stripMargin,

    "q_pack" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |st AS (SELECT doc_id, toks,
        |         unnest(range(0, greatest(len(toks) - 10, 1), 30)) AS start
        |       FROM d),
        |chunks AS (
        |  SELECT doc_id * 1000 + start // 30 AS chunk_key,
        |    least(len(toks) - start, 40)::BIGINT AS chunk_tokens
        |  FROM st),
        |streamed AS (
        |  SELECT chunk_key, chunk_tokens,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(chunk_key::VARCHAR) + 1),
        |        i -> ascii((chunk_key::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 8 AS stream
        |  FROM chunks),
        |cum AS (
        |  SELECT stream, chunk_key, chunk_tokens,
        |    sum(chunk_tokens) OVER (PARTITION BY stream ORDER BY chunk_key) AS cs
        |  FROM streamed)
        |SELECT stream, ((cs - chunk_tokens) // 256)::BIGINT AS batch,
        |  count(*) AS n_rows, sum(chunk_tokens)::BIGINT AS tokens_sum
        |FROM cum GROUP BY stream, batch ORDER BY stream, batch""".stripMargin,

    "q_stratified" ->
      """SELECT lang, count(*) AS n, sum(doc_id)::BIGINT AS id_sum
        |FROM documents
        |WHERE list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(doc_id::VARCHAR) + 1), i -> ascii((doc_id::VARCHAR)[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) % 100
        |  < CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 100 ELSE 10 END
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_unicode" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || ' cafe' || chr(769) || ' caf' || chr(233)
        |         || ' A' || chr(778) || ' vs ' || chr(197) AS t
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(t) AS nfc,
        |  length(nfc_normalize(t))::BIGINT AS n_chars_nfc,
        |  (length(t) - length(nfc_normalize(t)))::BIGINT AS n_composed
        |FROM synth ORDER BY doc_id""".stripMargin,

    "q_line_dedup" ->
      """WITH synth AS (
        |  SELECT doc_id,
        |    text || '. call now. call now. visit example. call now' AS t
        |  FROM documents),
        |segs AS (SELECT doc_id, string_split(t, '. ') AS l FROM synth)
        |SELECT doc_id,
        |  array_to_string(list_filter(l, (x, i) -> list_position(l, x) = i), '. ')
        |    AS cleaned,
        |  (len(l) - len(list_filter(l, (x, i) -> list_position(l, x) = i)))::BIGINT
        |    AS cleaned_dropped
        |FROM segs ORDER BY doc_id""".stripMargin,

    "q_unigram_lp" ->
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS token
        |            FROM documents),
        |v AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |n AS (SELECT count(*) AS n FROM tok)
        |SELECT doc_id, round(sum(ln(c::DOUBLE / n)) / count(*), 6) AS avg_logprob,
        |  count(*) AS n_tokens
        |FROM tok JOIN v USING (token) CROSS JOIN n
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      """WITH tf AS (
        |  SELECT doc_id, token, count(*) AS tf
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents)
        |  GROUP BY 1, 2),
        |dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(*) AS n FROM documents)
        |SELECT doc_id, token, tf, df,
        |  round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0), 6) AS tf_idf
        |FROM tf JOIN dfreq USING (token) CROSS JOIN n
        |WHERE doc_id < 20
        |ORDER BY doc_id, token""".stripMargin,

    "q_split" ->
      """SELECT CASE WHEN list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(doc_id::VARCHAR) + 1), i -> ascii((doc_id::VARCHAR)[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80
        |  THEN 'train' ELSE 'test' END AS split,
        |  count(*) AS n, sum(doc_id)::BIGINT AS id_sum, sum(n_chars)::BIGINT AS chars_sum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_shard_manifest" ->
      """WITH d AS (
        |  SELECT doc_id, text, doc_id::VARCHAR AS ids,
        |    doc_id::VARCHAR || ':' || text AS rowkey
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(ids) + 1), i -> ascii(ids[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 16 AS shard,
        |    len(string_split(text, ' '))::BIGINT AS ntok,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(rowkey) + 1), i -> ascii(rowkey[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS rowfp
        |  FROM d)
        |SELECT shard, count(*) AS n_docs, sum(ntok)::BIGINT AS n_tokens,
        |  min(doc_id) AS min_id, max(doc_id) AS max_id,
        |  sum(rowfp)::BIGINT AS content_sum
        |FROM f GROUP BY shard ORDER BY shard""".stripMargin,

    "q_train_order" ->
      """WITH e AS (SELECT * FROM (VALUES (1), (2)) t(epoch)),
        |d AS (
        |  SELECT doc_id, epoch, doc_id::VARCHAR AS ids,
        |    'e' || epoch || ':' || doc_id::VARCHAR AS ok
        |  FROM documents CROSS JOIN e),
        |f AS (
        |  SELECT epoch::BIGINT AS epoch, doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(ids) + 1), i -> ascii(ids[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 8 AS shard,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(ok) + 1), i -> ascii(ok[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS okey
        |  FROM d),
        |r AS (
        |  SELECT epoch, shard, doc_id, okey,
        |    row_number() OVER (PARTITION BY epoch, shard
        |                       ORDER BY okey, doc_id) AS pos
        |  FROM f)
        |SELECT epoch, shard, pos::BIGINT AS pos, doc_id, okey
        |FROM r WHERE pos <= 3
        |ORDER BY epoch, shard, pos""".stripMargin,

    "q_stream_join" ->
      """SELECT n_name, count(*) AS n, round(sum(value), 4) AS value_sum
        |FROM events JOIN nation ON user_id = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_stream_sliding" ->
      """WITH e AS (SELECT event_type, value, epoch_us(ts) AS t FROM events),
        |fanned AS (
        |  -- dur = 4 x slide: every event belongs to exactly the 4 windows
        |  -- starting at floor(t/slide)*slide - k*slide, k in 0..3
        |  SELECT event_type, value,
        |    ((t // 900000000) - k) * 900000000 AS ws
        |  FROM e CROSS JOIN (SELECT unnest(range(0, 4)) AS k))
        |SELECT make_timestamp(ws) AS bucket, event_type,
        |  round(sum(value), 4) AS value_sum, count(*) AS n
        |FROM fanned GROUP BY ws, event_type
        |ORDER BY bucket, event_type""".stripMargin,

    "q_stream_session" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS tus,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 1800000000
        |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        |  SELECT user_id, value, tus,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM flagged)
        |SELECT user_id, make_timestamp(min(tus)) AS session_start,
        |  round(sum(value), 4) AS value_sum, count(*) AS n
        |FROM sessions GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "q_stream_dedup" ->
      """SELECT lang, count(DISTINCT CASE WHEN doc_id % 10 = 0
        |    THEN 'shared boilerplate text' ELSE text END) AS n_distinct_texts
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    "q_stream_lsh" ->
      """WITH docs AS (
        |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
        |    THEN 'shared boilerplate text' ELSE text END AS text
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |owners AS (
        |  SELECT band, bucket, min(doc_id) AS owner
        |  FROM bandkey GROUP BY band, bucket)
        |SELECT b.doc_id, count(*) AS n_bands,
        |  max(CASE WHEN o.owner <> b.doc_id THEN 1 ELSE 0 END) AS is_dup_candidate
        |FROM bandkey b JOIN owners o ON o.band = b.band AND o.bucket = b.bucket
        |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin,

    "q_stream_lsh_verify" ->
      """WITH docs AS (
        |  SELECT doc_id, CASE
        |    WHEN doc_id % 10 = 0 THEN 'alpha beta gamma delta epsilon zeta eta theta iota kappa'
        |    WHEN doc_id % 10 = 5 THEN 'alpha beta gamma delta epsilon zeta eta theta iota kappa extra'
        |    ELSE text END AS text
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |owners AS (
        |  SELECT band, bucket, min(doc_id) AS owner
        |  FROM bandkey GROUP BY band, bucket),
        |claims AS (
        |  SELECT o.owner AS id_a, b.doc_id AS id_b, b.band
        |  FROM bandkey b JOIN owners o ON o.band = b.band AND o.bucket = b.bucket
        |  WHERE o.owner <> b.doc_id),
        |pairs AS (SELECT DISTINCT id_a, id_b FROM claims),
        |est AS (
        |  SELECT p.id_a, p.id_b,
        |    sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) / 16.0 AS est_jaccard
        |  FROM pairs p
        |  JOIN sig sa ON sa.doc_id = p.id_a
        |  JOIN sig sb ON sb.doc_id = p.id_b AND sb.j = sa.j
        |  GROUP BY p.id_a, p.id_b)
        |SELECT c.id_a, c.id_b, e.est_jaccard, count(*) AS n_bands
        |FROM claims c JOIN est e ON e.id_a = c.id_a AND e.id_b = c.id_b
        |WHERE e.est_jaccard >= 0.5
        |GROUP BY c.id_a, c.id_b, e.est_jaccard
        |ORDER BY c.id_a, c.id_b""".stripMargin,

    "q_dsir" ->
      """WITH rawtok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
        |tgttok AS (SELECT unnest(string_split(text, ' ')) AS t FROM documents WHERE lang = 'en'),
        |rc AS (SELECT t, count(*) AS c_raw FROM rawtok GROUP BY t),
        |tc AS (SELECT t, count(*) AS c_tgt FROM tgttok GROUP BY t),
        |vocab AS (
        |  SELECT coalesce(rc.t, tc.t) AS t, coalesce(c_raw, 0) AS c_raw,
        |         coalesce(c_tgt, 0) AS c_tgt
        |  FROM rc FULL JOIN tc ON rc.t = tc.t),
        |tot AS (SELECT sum(c_raw)::DOUBLE AS nr, sum(c_tgt)::DOUBLE AS nt,
        |               count(*)::DOUBLE AS v FROM vocab),
        |ratio AS (
        |  SELECT t, ln((c_tgt + 0.5) / (nt + 0.5 * v))
        |          - ln((c_raw + 0.5) / (nr + 0.5 * v)) AS lr
        |  FROM vocab, tot)
        |SELECT doc_id, round(sum(lr), 6) AS log_weight, count(*) AS n_tokens
        |FROM rawtok JOIN ratio USING (t)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // streamed == batch: the oracle computes the pure batch DLT sample —
    // per-shard running top-(k+1) state is merge-order-invariant, so the
    // stream MUST land exactly here regardless of micro-batch boundaries
    "q_stream_priority" ->
      s"""WITH h0 AS (SELECT doc_id, n_chars,
         |         ${SketchQueries.hashSql("CAST(doc_id AS VARCHAR)", "psamp")} AS h
         |       FROM documents),
         |h1 AS (SELECT doc_id, n_chars, ${SketchQueries.mixSql("h")} AS h FROM h0),
         |pri AS (SELECT doc_id, n_chars,
         |          CAST(n_chars AS DOUBLE) /
         |            (CAST(h + 1 AS DOUBLE) / 9223372036854775808::DOUBLE) AS q
         |        FROM h1),
         |rk AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rk FROM pri),
         |tau AS (SELECT max(CASE WHEN rk = 65 THEN q END) AS tau
         |        FROM rk WHERE rk <= 65)
         |SELECT rk AS sample_rank, doc_id, n_chars,
         |  GREATEST(CAST(n_chars AS DOUBLE),
         |    COALESCE((SELECT tau FROM tau), CAST(n_chars AS DOUBLE))) AS est_w
         |FROM rk WHERE rk <= 64
         |ORDER BY sample_rank""".stripMargin,

    // streamed == batch by construction (additive counters), so the
    // streaming face grades against the batch CMS oracle verbatim
    "q_stream_cms" -> SketchQueries.oracleSql("q_cms"),
    "q_stream_moments" -> SketchQueries.oracleSql("q_moments"),

    "q_stream_quality" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text AS t, string_split(text, ' ') AS toks,
        |         string_split(text, chr(10)) AS lines
        |  FROM documents),
        |f AS (
        |  SELECT doc_id, lang, len(toks)::BIGINT AS n_words,
        |    (len(toks) BETWEEN 50 AND 100000
        |      AND (list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)) BETWEEN 3.0 AND 10.0
        |      AND ((len(t) - len(replace(replace(t, '#', ''), chr(8230), '')))::DOUBLE / len(toks)) <= 0.1
        |      AND (len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*')))::DOUBLE / len(lines)) <= 0.9
        |      AND (len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, chr(8230))))::DOUBLE / len(lines)) <= 0.3
        |      AND (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks)) >= 0.8
        |      AND len(list_filter(toks, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2) AS pass
        |  FROM base)
        |SELECT lang, count(*) AS n_passing, sum(n_words)::BIGINT AS words_sum
        |FROM f WHERE pass GROUP BY lang ORDER BY lang""".stripMargin,

    "q_dup_spans" ->
      """WITH synth AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 20 = 0
        |    THEN ' dup span marker zero one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu'
        |    ELSE '' END AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, string_split(t, ' ') AS toks FROM synth),
        |sh AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 28),
        |    i -> array_to_string(toks[i:i+29], ' '))) AS g
        |  FROM tk),
        |fp AS (
        |  SELECT doc_id, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM sh),
        |freq AS (SELECT h, count(*) AS n FROM fp GROUP BY h),
        |per AS (
        |  SELECT f.doc_id, count(*) AS n_spans,
        |    sum(CASE WHEN q.n > 1 THEN 1 ELSE 0 END) AS n_dup
        |  FROM fp f JOIN freq q USING (h) GROUP BY f.doc_id)
        |SELECT s.doc_id, coalesce(p.n_spans, 0)::BIGINT AS n_spans,
        |  coalesce(p.n_dup, 0)::BIGINT AS n_dup_spans,
        |  CASE WHEN p.n_spans > 0
        |       THEN round(p.n_dup / p.n_spans, 6) END AS dup_ratio
        |FROM synth s LEFT JOIN per p USING (doc_id)
        |ORDER BY s.doc_id""".stripMargin,

    "q_curate2" ->
      """WITH base AS (
        |  SELECT doc_id, text AS t, string_split(text, ' ') AS toks,
        |         string_split(text, chr(10)) AS lines
        |  FROM documents),
        |gated AS (
        |  SELECT doc_id, toks FROM base
        |  WHERE len(toks) BETWEEN 50 AND 100000
        |    AND (list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)) BETWEEN 3.0 AND 10.0
        |    AND ((len(t) - len(replace(replace(t, '#', ''), chr(8230), '')))::DOUBLE / len(toks)) <= 0.1
        |    AND (len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*')))::DOUBLE / len(lines)) <= 0.9
        |    AND (len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, chr(8230))))::DOUBLE / len(lines)) <= 0.3
        |    AND (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks)) >= 0.8
        |    AND len(list_filter(toks, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+14], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 13)) AS i FROM gated) w),
        |fp AS (
        |  SELECT doc_id, pos, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM sh),
        |freq AS (SELECT h, count(*) AS cnt FROM fp GROUP BY h),
        |cov AS (
        |  SELECT doc_id, list(DISTINCT p) AS covered
        |  FROM (SELECT f.doc_id, unnest(range(f.pos, f.pos + 15)) AS p
        |        FROM fp f JOIN freq q USING (h) WHERE q.cnt > 1) e
        |  GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT g.doc_id,
        |    list_transform(
        |      list_filter(range(1, len(g.toks) + 1),
        |        i -> NOT coalesce(list_contains(c.covered, i - 1), FALSE)),
        |      i -> g.toks[i]) AS kept, len(g.toks) AS ntoks
        |  FROM gated g LEFT JOIN cov c USING (doc_id)),
        |cleaned AS (
        |  SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS clean,
        |    (ntoks - len(kept))::BIGINT AS trimmed
        |  FROM rebuilt),
        |canon AS (
        |  SELECT * FROM
        |    (SELECT *, min(doc_id) OVER (PARTITION BY clean) AS ck FROM cleaned)
        |  WHERE doc_id = ck),
        |tagged AS (
        |  SELECT *, CASE WHEN list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(doc_id::VARCHAR) + 1),
        |        i -> ascii((doc_id::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80
        |    THEN 'train' ELSE 'test' END AS split
        |  FROM canon)
        |SELECT split, count(*) AS n_docs, sum(trimmed)::BIGINT AS trimmed_sum,
        |  sum(len(string_split(clean, ' ')))::BIGINT AS tokens_sum
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin,

    "q_trim_spans" ->
      """WITH synth AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 7 = 0
        |    THEN ' trim span tail one two three four five six seven eight nine ten eleven twelve thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty final end'
        |    ELSE '' END AS t
        |  FROM documents),
        |tk AS (SELECT doc_id, t, string_split(t, ' ') AS toks FROM synth),
        |sh AS (
        |  SELECT doc_id, i - 1 AS pos, array_to_string(toks[i:i+14], ' ') AS g
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 13)) AS i FROM tk) w),
        |fp AS (
        |  SELECT doc_id, pos, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM sh),
        |freq AS (SELECT h, count(*) AS cnt FROM fp GROUP BY h),
        |cov AS (
        |  SELECT doc_id, list(DISTINCT p) AS covered
        |  FROM (SELECT f.doc_id, unnest(range(f.pos, f.pos + 15)) AS p
        |        FROM fp f JOIN freq q USING (h) WHERE q.cnt > 1) e
        |  GROUP BY doc_id),
        |rebuilt AS (
        |  SELECT tk.doc_id,
        |    list_transform(
        |      list_filter(range(1, len(tk.toks) + 1),
        |        i -> NOT coalesce(list_contains(c.covered, i - 1), FALSE)),
        |      i -> tk.toks[i]) AS kept, len(tk.toks) AS ntoks
        |  FROM tk LEFT JOIN cov c USING (doc_id))
        |SELECT doc_id, coalesce(array_to_string(kept, ' '), '') AS text_trimmed,
        |  (ntoks - len(kept))::BIGINT AS n_trimmed_tokens
        |FROM rebuilt ORDER BY doc_id""".stripMargin,

    "q_knn" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv
        |           FROM embeddings WHERE vec_id < 25),
        |c AS (SELECT vec_id AS nid, label, embedding::DOUBLE[] AS cv FROM embeddings),
        |nn AS (
        |  SELECT qid, nid, label, cos FROM (
        |    SELECT qid, nid, label,
        |      list_dot_product(qv, cv) /
        |        (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos,
        |      row_number() OVER (PARTITION BY qid ORDER BY
        |        list_dot_product(qv, cv) /
        |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) DESC,
        |        nid) AS rank
        |    FROM q, c WHERE nid <> qid) r WHERE rank <= 7),
        |votes AS (
        |  SELECT qid, label, count(*) AS votes, max(cos) AS top_cosine
        |  FROM nn GROUP BY qid, label)
        |SELECT qid AS query_id, label, votes, round(top_cosine, 6) AS top_cosine
        |FROM votes
        |QUALIFY row_number() OVER (PARTITION BY qid ORDER BY votes DESC, label ASC) = 1
        |ORDER BY query_id""".stripMargin,

    "q_fuzzy_join" ->
      """WITH l AS (
        |  SELECT p_partkey, p_name AS s FROM part WHERE p_partkey < 300),
        |r AS (
        |  SELECT p_partkey + 10000 AS cat_id, p_name || ' v2' AS s
        |  FROM part WHERE p_partkey < 300),
        |lt AS (
        |  SELECT p_partkey, unnest(list_distinct(
        |    list_transform(range(1, len(s) - 1), i -> s[i:i+2]))) AS g FROM l),
        |rt AS (
        |  SELECT cat_id, unnest(list_distinct(
        |    list_transform(range(1, len(s) - 1), i -> s[i:i+2]))) AS g FROM r),
        |lh AS (SELECT p_partkey, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h FROM lt),
        |rh AS (SELECT cat_id, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h FROM rt),
        |ln AS (SELECT p_partkey, count(*) AS size_l FROM lh GROUP BY p_partkey),
        |rn AS (SELECT cat_id, count(*) AS size_r FROM rh GROUP BY cat_id),
        |sh AS (SELECT p_partkey, cat_id, count(*) AS inter
        |       FROM lh JOIN rh USING (h) GROUP BY p_partkey, cat_id)
        |SELECT p_partkey, cat_id, size_l, size_r, inter,
        |  round(inter::DOUBLE / (size_l + size_r - inter), 6) AS jaccard
        |FROM sh JOIN ln USING (p_partkey) JOIN rn USING (cat_id)
        |WHERE inter::DOUBLE / (size_l + size_r - inter) >= 0.6
        |ORDER BY p_partkey, cat_id""".stripMargin,

    "q_fuzzy_lev" ->
      """WITH l AS (
        |  SELECT p_partkey, p_name AS s FROM part WHERE p_partkey < 300),
        |r AS (
        |  SELECT p_partkey + 10000 AS cat_id, p_name || ' v2' AS s
        |  FROM part WHERE p_partkey < 300),
        |lt AS (
        |  SELECT p_partkey, unnest(list_distinct(
        |    list_transform(range(1, len(s) - 1), i -> s[i:i+2]))) AS g FROM l),
        |rt AS (
        |  SELECT cat_id, unnest(list_distinct(
        |    list_transform(range(1, len(s) - 1), i -> s[i:i+2]))) AS g FROM r),
        |lh AS (SELECT p_partkey, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h FROM lt),
        |rh AS (SELECT cat_id, list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(g) + 1), i -> ascii(g[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS h FROM rt),
        |cands AS (SELECT DISTINCT p_partkey, cat_id FROM lh JOIN rh USING (h))
        |SELECT c.p_partkey, c.cat_id, levenshtein(l.s, r.s) AS dist
        |FROM cands c JOIN l ON l.p_partkey = c.p_partkey
        |JOIN r ON r.cat_id = c.cat_id
        |WHERE levenshtein(l.s, r.s) <= 3
        |ORDER BY c.p_partkey, c.cat_id""".stripMargin,

    "q_oov" ->
      """WITH tk AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok FROM tk GROUP BY tok HAVING count(*) >= 50)
        |SELECT tk.doc_id, count(*) AS n_tokens,
        |  sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
        |  round(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END)::DOUBLE
        |    / count(*), 6) AS oov_rate
        |FROM tk LEFT JOIN v ON v.tok = tk.tok
        |GROUP BY tk.doc_id ORDER BY tk.doc_id""".stripMargin,

    "q_hard_neg" ->
      """WITH a AS (
        |  SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS av, label AS al
        |  FROM embeddings WHERE vec_id < 10),
        |c AS (
        |  SELECT vec_id AS neg_id, embedding::DOUBLE[] AS cv, label AS neg_label
        |  FROM embeddings),
        |scored AS (
        |  SELECT anchor_id, neg_id, neg_label,
        |    list_dot_product(av, cv) /
        |      (sqrt(list_dot_product(av, av)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM a CROSS JOIN c WHERE neg_label <> al)
        |SELECT anchor_id,
        |  row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, neg_id) AS rank,
        |  neg_id, neg_label, round(cos, 6) AS cosine
        |FROM scored QUALIFY rank <= 5
        |ORDER BY anchor_id, rank""".stripMargin,

    "q_sem_decon" ->
      """WITH ev AS (
        |  SELECT vec_id AS eid, embedding::DOUBLE[] AS v FROM embeddings
        |  WHERE vec_id < 20),
        |corpus AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id >= 20
        |  UNION ALL
        |  SELECT vec_id + 1000000000000, list_transform(embedding::DOUBLE[], x -> x * 2)
        |  FROM embeddings WHERE vec_id < 20),
        |scored AS (
        |  SELECT c.vec_id, ev.eid,
        |    list_dot_product(c.v, ev.v) /
        |      (sqrt(list_dot_product(c.v, c.v)) * sqrt(list_dot_product(ev.v, ev.v))) AS cos
        |  FROM corpus c CROSS JOIN ev),
        |best AS (
        |  SELECT vec_id, eid, cos,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, eid DESC) AS rn
        |  FROM scored)
        |SELECT vec_id, eid AS eval_id, round(cos, 6) AS max_eval_cosine
        |FROM best WHERE rn = 1 AND cos >= 0.9
        |ORDER BY vec_id""".stripMargin,

    "q_kl_drift" ->
      """WITH tk AS (
        |  SELECT source AS g, unnest(string_split(text, ' ')) AS t
        |  FROM documents),
        |gt AS (SELECT g, t, count(*) AS ngt FROM tk GROUP BY g, t),
        |ng AS (SELECT g, sum(ngt) AS ng FROM gt GROUP BY g),
        |nt AS (SELECT t, sum(ngt) AS nt FROM gt GROUP BY t),
        |tot AS (SELECT sum(ngt) AS n FROM gt)
        |SELECT g AS source, ng::BIGINT AS n_tokens,
        |  round(sum((ngt / ng) * log2((ngt / ng) / (nt / n))), 6) AS kl_bits
        |FROM gt JOIN ng USING (g) JOIN nt USING (t) CROSS JOIN tot
        |GROUP BY g, ng ORDER BY g""".stripMargin,

    "q_entropy" ->
      """WITH cl AS (SELECT lang AS v, count(*) AS n FROM documents GROUP BY lang),
        |cs AS (SELECT source AS v, count(*) AS n FROM documents GROUP BY source),
        |e AS (
        |  SELECT 'lang' AS "column",
        |    log2(sum(n)) - sum(n * log2(n)) / sum(n) AS entropy FROM cl
        |  UNION ALL
        |  SELECT 'source', log2(sum(n)) - sum(n * log2(n)) / sum(n) FROM cs)
        |SELECT "column", round(entropy, 6) AS entropy FROM e
        |ORDER BY "column"""".stripMargin,

    "q_stream_stream" ->
      """WITH e AS (
        |  SELECT user_id, event_type, value, epoch_us(ts) AS t FROM events),
        |m AS (
        |  SELECT a.user_id, b.value AS pv
        |  FROM e a JOIN e b ON a.user_id = b.user_id
        |   AND a.event_type = 'click' AND b.event_type = 'purchase'
        |   AND b.t >= a.t AND b.t <= a.t + 21600000000)
        |SELECT user_id, count(*) AS n_attributed,
        |  round(sum(pv), 4) AS purchase_sum
        |FROM m GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_stream_tumbling" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type,
        |  round(sum(value), 4) AS value_sum,
        |  round(sum(value), 4) / count(*) AS value_mean,
        |  count(*) AS n, min(value) AS value_min, max(value) AS value_max
        |FROM events GROUP BY 1, 2 ORDER BY bucket, event_type""".stripMargin,

    "q_minhash" ->
      """WITH docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text || ' extra' FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    avg(CASE WHEN sa.m = sb.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = id_a
        |  JOIN sig sb ON sb.doc_id = id_b AND sb.j = sa.j
        |  GROUP BY id_a, id_b)
        |SELECT id_a, id_b, round(est_jaccard, 6) AS est_jaccard
        |FROM est WHERE est_jaccard >= 0.5
        |ORDER BY id_a, id_b""".stripMargin,

    "q_dedup_cluster" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text || ' extra' FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, text || ' extra extra' FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    avg(CASE WHEN sa.m = sb.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = id_a
        |  JOIN sig sb ON sb.doc_id = id_b AND sb.j = sa.j
        |  GROUP BY id_a, id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b, id_a FROM est WHERE est_jaccard >= 0.5),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id),
        |roots AS (SELECT id, min(r) AS root FROM walk GROUP BY id)
        |SELECT root AS cluster_id, count(*) AS n_members,
        |  string_agg(id::VARCHAR, ',' ORDER BY id) AS members
        |FROM roots GROUP BY root ORDER BY cluster_id""".stripMargin,

    "q_dedup_keep_best" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text || ' extra' FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, text || ' extra extra' FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    avg(CASE WHEN sa.m = sb.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = id_a
        |  JOIN sig sb ON sb.doc_id = id_b AND sb.j = sa.j
        |  GROUP BY id_a, id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b, id_a FROM est WHERE est_jaccard >= 0.5),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id),
        |roots AS (SELECT id, min(r) AS root FROM walk GROUP BY id),
        |sizes AS (SELECT root, count(*) AS n_members FROM roots GROUP BY root),
        |best AS (
        |  SELECT root AS cluster_id, doc_id, n_members FROM (
        |    SELECT r.root, d.doc_id, s.n_members,
        |      row_number() OVER (PARTITION BY r.root
        |        ORDER BY len(d.text) DESC, d.doc_id) AS rn
        |    FROM roots r JOIN docs d ON d.doc_id = r.id
        |    JOIN sizes s ON s.root = r.root)
        |  WHERE rn = 1),
        |singles AS (
        |  SELECT d.doc_id AS cluster_id, d.doc_id, 1::BIGINT AS n_members
        |  FROM docs d LEFT JOIN roots r ON r.id = d.doc_id WHERE r.id IS NULL)
        |SELECT cluster_id, doc_id, n_members FROM best
        |UNION ALL SELECT cluster_id, doc_id, n_members FROM singles
        |ORDER BY cluster_id""".stripMargin,

    "q_leak_split" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text || ' extra' FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, text || ' extra extra' FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    avg(CASE WHEN sa.m = sb.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = id_a
        |  JOIN sig sb ON sb.doc_id = id_b AND sb.j = sa.j
        |  GROUP BY id_a, id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b, id_a FROM est WHERE est_jaccard >= 0.5),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id),
        |roots AS (SELECT id, min(r) AS root FROM walk GROUP BY id)
        |SELECT d.doc_id, coalesce(rt.root, d.doc_id) AS split_key,
        |  CASE WHEN list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(coalesce(rt.root, d.doc_id)::VARCHAR) + 1),
        |        i -> ascii((coalesce(rt.root, d.doc_id)::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80
        |    THEN 'train' ELSE 'test' END AS split
        |FROM docs d LEFT JOIN roots rt ON rt.id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "q_simhash" -> {
      def fp(arg: String) =
        s"""list_reduce(list_prepend(0::BIGINT,
           |      list_transform(range(1, len($arg) + 1), i -> ascii($arg[i]))),
           |      (a, b) -> (a * 31 + b) % 1000000007)""".stripMargin
      s"""WITH docs AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000000000, text || ' extra' FROM documents WHERE doc_id < 20),
         |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM docs),
         |catd AS (SELECT doc_id, '0:' || t AS c0, '1:' || t AS c1,
         |                '2:' || t AS c2, '3:' || t AS c3 FROM tok),
         |fph AS (
         |  SELECT doc_id, ${fp("c0")} AS f0, ${fp("c1")} AS f1,
         |         ${fp("c2")} AS f2, ${fp("c3")} AS f3 FROM catd),
         |th AS (
         |  -- top slice splits out bit 15 -> bit 63: DuckDB raises on a
         |  -- left-shift overflow where Spark's shiftleft wraps
         |  SELECT doc_id,
         |    (f0 & 65535)
         |    | ((f1 & 65535) << 16)
         |    | ((f2 & 65535) << 32)
         |    | ((f3 & 32767) << 48)
         |    | (CASE WHEN ((f3 >> 15) & 1) = 1
         |            THEN (-9223372036854775807 - 1)::BIGINT ELSE 0::BIGINT END) AS h
         |  FROM fph),
         |bits AS (
         |  SELECT doc_id, b, CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE 0 END AS bit
         |  FROM th CROSS JOIN (SELECT unnest(range(0, 64)) AS b)),
         |maj AS (
         |  SELECT doc_id, b,
         |    CASE WHEN 2 * sum(bit) > count(*)
         |         THEN CASE WHEN b = 63 THEN (-9223372036854775807 - 1)::BIGINT
         |              ELSE 1::BIGINT << b END
         |         ELSE 0::BIGINT END AS piece
         |  FROM bits GROUP BY doc_id, b),
         |fps AS (SELECT doc_id, bit_or(piece) AS f FROM maj GROUP BY doc_id),
         |banded AS (
         |  SELECT doc_id, f, b AS band, (f >> (16 * b)) & 65535 AS key
         |  FROM fps CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |cands AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    bit_count(xor(a.f, b.f))::INTEGER AS hamming
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id_a, id_b, hamming FROM cands
         |WHERE hamming <= 8 ORDER BY id_a, id_b""".stripMargin
    },

    "q_gopher_rep" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) || text || chr(10) || 'tail'
        |         ELSE text END AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |         string_split(t, ' ') AS toks, len(t) AS tl
        |  FROM d),
        |linedup AS (
        |  SELECT doc_id, sum((cnt - 1) * len(line)) AS dupchars
        |  FROM (SELECT doc_id, line, count(*) AS cnt
        |        FROM (SELECT doc_id, unnest(lines) AS line FROM base) u
        |        GROUP BY doc_id, line) c
        |  WHERE cnt > 1 GROUP BY doc_id),
        |grams AS (
        |  SELECT doc_id, n, gram, count(*) AS cnt FROM (
        |    SELECT b.doc_id, nn.n AS n,
        |           unnest(list_transform(range(1, len(b.toks) - nn.n + 2),
        |                  i -> array_to_string(b.toks[i:i+nn.n-1], ' '))) AS gram
        |    FROM base b, (VALUES (2),(3),(5),(10)) AS nn(n)) g
        |  GROUP BY doc_id, n, gram),
        |topg AS (
        |  SELECT doc_id, n, chars FROM (
        |    SELECT doc_id, n, cnt * len(gram) AS chars,
        |           row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram ASC) AS rn
        |    FROM grams) r WHERE rn = 1),
        |dupg AS (
        |  SELECT doc_id, n, sum((cnt - 1) * len(gram)) AS chars
        |  FROM grams WHERE cnt > 1 GROUP BY doc_id, n)
        |SELECT b.doc_id,
        |  round(CASE WHEN len(b.lines) > 0
        |        THEN (len(b.lines) - len(list_distinct(b.lines)))::DOUBLE / len(b.lines)
        |        ELSE 0 END, 6) AS dup_line_frac,
        |  round(coalesce(ld.dupchars::DOUBLE / nullif(list_sum(list_transform(b.lines, x -> len(x))), 0), 0), 6) AS dup_line_char_frac,
        |  round(coalesce(t2.chars::DOUBLE / nullif(b.tl, 0), 0), 6) AS top2gram,
        |  round(coalesce(t3.chars::DOUBLE / nullif(b.tl, 0), 0), 6) AS top3gram,
        |  round(coalesce(d5.chars::DOUBLE / nullif(b.tl, 0), 0), 6) AS dup5gram,
        |  round(coalesce(d10.chars::DOUBLE / nullif(b.tl, 0), 0), 6) AS dup10gram
        |FROM base b
        |LEFT JOIN linedup ld ON ld.doc_id = b.doc_id
        |LEFT JOIN topg t2 ON t2.doc_id = b.doc_id AND t2.n = 2
        |LEFT JOIN topg t3 ON t3.doc_id = b.doc_id AND t3.n = 3
        |LEFT JOIN dupg d5 ON d5.doc_id = b.doc_id AND d5.n = 5
        |LEFT JOIN dupg d10 ON d10.doc_id = b.doc_id AND d10.n = 10
        |ORDER BY b.doc_id""".stripMargin,

    "q_gopher_quality" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0
        |         THEN '- bullet # one' || chr(10) || text || chr(10) || 'trailing' || chr(8230)
        |         ELSE text END AS t
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, t, string_split(t, chr(10)) AS lines,
        |         string_split(t, ' ') AS toks
        |  FROM d)
        |SELECT doc_id,
        |  len(toks)::BIGINT AS n_words,
        |  round(CASE WHEN len(toks) > 0
        |    THEN list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)
        |    ELSE 0 END, 6) AS mean_word_len,
        |  round(CASE WHEN len(toks) > 0
        |    THEN len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks)
        |    ELSE 0 END, 6) AS frac_alpha_words,
        |  round(CASE WHEN len(toks) > 0
        |    THEN (len(t) - len(replace(replace(t, '#', ''), chr(8230), '')))::DOUBLE / len(toks)
        |    ELSE 0 END, 6) AS symbol_word_ratio,
        |  round(CASE WHEN len(lines) > 0
        |    THEN len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*')))::DOUBLE / len(lines)
        |    ELSE 0 END, 6) AS frac_bullet_lines,
        |  round(CASE WHEN len(lines) > 0
        |    THEN len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, chr(8230))))::DOUBLE / len(lines)
        |    ELSE 0 END, 6) AS frac_ellipsis_lines,
        |  len(list_filter(toks, x -> x IN ('the','be','to','of','and','that','have','with')))::BIGINT AS stopword_hits,
        |  (len(toks) BETWEEN 50 AND 100000
        |    AND (list_sum(list_transform(toks, x -> len(x)))::DOUBLE / len(toks)) BETWEEN 3.0 AND 10.0
        |    AND ((len(t) - len(replace(replace(t, '#', ''), chr(8230), '')))::DOUBLE / len(toks)) <= 0.1
        |    AND (len(list_filter(lines, x -> starts_with(x, '-') OR starts_with(x, '*')))::DOUBLE / len(lines)) <= 0.9
        |    AND (len(list_filter(lines, x -> ends_with(x, '...') OR ends_with(x, chr(8230))))::DOUBLE / len(lines)) <= 0.3
        |    AND (len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(toks)) >= 0.8
        |    AND len(list_filter(toks, x -> x IN ('the','be','to','of','and','that','have','with'))) >= 2) AS gopher_pass
        |FROM base ORDER BY doc_id""".stripMargin,

    "q_ann_lsh" -> {
      // fingerprint of 'p:d' per (plane, dim), scaled to [-0.5, 0.5);
      // the pd expression is inlined (lambda vars can't cross subqueries)
      def comp(pd: String) =
        s"""(list_reduce(list_prepend(0::BIGINT,
           |        list_transform(range(1, len($pd) + 1), ci -> ascii(($pd)[ci]))),
           |        (a, b) -> (a * 31 + b) % 1000000007)::DOUBLE / 1000000007.0 - 0.5)""".stripMargin
      val pcomp = comp("(p::VARCHAR || ':' || (i-1)::VARCHAR)")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |sig AS (
         |  SELECT vec_id, v, list_sum(list_transform(range(0, 16), p ->
         |    CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
         |      v[i] * $pcomp
         |    )) > 0 THEN (1::BIGINT << p) ELSE 0::BIGINT END))::BIGINT AS s
         |  FROM e),
         |bq AS (
         |  SELECT vec_id AS query_id, v AS qv, b, (s >> (4 * b)) & 15 AS key
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b) WHERE vec_id < 10),
         |bc AS (
         |  SELECT vec_id AS neighbor_id, v AS cv, b, (s >> (4 * b)) & 15 AS key
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |cands AS (
         |  SELECT DISTINCT query_id, neighbor_id, qv, cv
         |  FROM bq JOIN bc USING (b, key) WHERE neighbor_id <> query_id),
         |scored AS (
         |  SELECT query_id, neighbor_id,
         |    list_dot_product(qv, cv) /
         |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
         |  FROM cands)
         |SELECT query_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         |  neighbor_id, round(cos, 6) AS cosine
         |FROM scored
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // Pinned 64->8 projection (fingerprint-family components, same
    // construction the q_ann_lsh oracle replays) + brute-force rank in
    // the reduced space — project+rank end-to-end.
    "q_pca_ann_pinned" -> {
      val pcomp = polyComponentSql("(j::VARCHAR || ':' || (i-1)::VARCHAR)")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |proj AS (
         |  SELECT vec_id, list_transform(range(0, 8), j ->
         |    list_sum(list_transform(range(1, len(v) + 1), i ->
         |      v[i] * $pcomp))) AS y
         |  FROM e),
         |scored AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.y, c.y) /
         |      (sqrt(list_dot_product(q.y, q.y)) * sqrt(list_dot_product(c.y, c.y))) AS cos
         |  FROM proj q JOIN proj c ON c.vec_id <> q.vec_id
         |  WHERE q.vec_id < 10)
         |SELECT query_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         |  neighbor_id, round(cos, 6) AS cosine
         |FROM scored
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    // BPE application replay: bracket every char of a word (<c>...),
    // then one left-to-right non-overlapping replace per pinned rule IN
    // ORDER — exactly applyBpe's per-rule merge pass (replace() scans
    // left-to-right and never re-matches inside a replacement; the
    // <> delimiters make token boundaries unambiguous since the corpus
    // alphabet is lowercase + space). Token count = '<' count; joined
    // pieces = strip/convert the delimiters.
    "q_bpe_applied" -> {
      val rep = pinnedBpeMerges.foldLeft(
        "regexp_replace(w, '(.)', '<\\1>', 'g')") {
        case (acc, (a, b)) => s"replace($acc, '<$a><$b>', '<$a$b>')"
      }
      s"""WITH d AS (
         |  SELECT doc_id, text,
         |    list_transform(list_filter(string_split(text, ' '), w -> w <> ''),
         |      w -> $rep) AS reps
         |  FROM documents)
         |SELECT doc_id,
         |  CASE WHEN text IS NULL THEN NULL
         |    ELSE coalesce(list_sum(list_transform(reps,
         |      r -> len(r) - len(replace(r, '<', '')))), 0)::BIGINT
         |  END AS n_bpe_tokens,
         |  CASE WHEN text IS NULL THEN NULL
         |    ELSE coalesce(list_aggregate(list_transform(reps,
         |      r -> replace(replace(replace(r, '><', '|'), '<', ''), '>', '')),
         |      'string_agg', '|'), '')
         |  END AS bpe_joined
         |FROM d ORDER BY doc_id""".stripMargin
    },

    // TRAINING loop replay, all K rounds in one generated SQL: word-freq
    // table -> per round (pair-count aggregate over the bracketed
    // encodings, argmax with the count-DESC-then-binary-(a,b) tie-break,
    // one greedy left-to-right non-overlapping replace applying the
    // winner). replace()'s scan-forward-past-the-replacement semantics
    // IS BPE's non-overlap rule ("a a a" + (a,a) -> "aa a"), identical
    // in DuckDB and in the fold-based Spark rewrite.
    "q_bpe_train" -> {
      val rounds = (1 to bpeTrainRounds).map { i =>
        s"""p$i AS (
           |  SELECT pp.a AS a, pp.b AS b, sum(cnt) AS c FROM (
           |    SELECT unnest(list_transform(range(1, len(toks)),
           |      ii -> struct_pack(a := toks[ii], b := toks[ii + 1]))) AS pp, cnt
           |    FROM (SELECT string_split(substr(enc, 2, len(enc) - 2), '><') AS toks,
           |                 cnt
           |          FROM w${i - 1}))
           |  GROUP BY 1, 2),
           |b$i AS (SELECT a, b FROM p$i ORDER BY c DESC, a, b LIMIT 1),
           |w$i AS (
           |  SELECT replace(enc, '<' || a || '><' || b || '>',
           |                 '<' || a || b || '>') AS enc, cnt
           |  FROM w${i - 1}, b$i)""".stripMargin
      }.mkString(",\n")
      val steps = (1 to bpeTrainRounds)
        .map(i => s"SELECT $i::BIGINT AS step, a AS lhs, b AS rhs FROM b$i")
        .mkString("\n  UNION ALL ")
      s"""WITH w0 AS (
         |  SELECT regexp_replace(w, '(.)', '<\\1>', 'g') AS enc, cnt FROM (
         |    SELECT w, count(*)::BIGINT AS cnt
         |    FROM (SELECT unnest(list_filter(string_split(text, ' '),
         |                                    x -> x <> '')) AS w
         |          FROM documents)
         |    GROUP BY w HAVING count(*) >= 2)),
         |$rounds
         |SELECT * FROM (
         |  $steps)
         |ORDER BY step""".stripMargin
    },

    // Gate replay: same planted repetition, same distinct-bigram
    // diversity ratio (exact integer-ratio doubles on both engines, so
    // the lo/hi comparisons can't drift), same CASE classes.
    "q_compress_gate" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' ' || trim(repeat('spam ', 60))
        |         ELSE text END AS text
        |  FROM documents),
        |r AS (SELECT doc_id, string_split(text, ' ') AS toks FROM d),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(toks) >= 2
        |      THEN len(list_distinct(list_transform(range(1, len(toks)),
        |             i -> toks[i] || ' ' || toks[i+1])))::DOUBLE / (len(toks) - 1)
        |      ELSE 1.0 END AS ratio
        |  FROM r),
        |f AS (
        |  SELECT doc_id, ratio,
        |    CASE WHEN ratio IS NULL THEN 'missing'
        |         WHEN ratio < 0.5 THEN 'too_repetitive'
        |         WHEN ratio > 0.995 THEN 'high_entropy'
        |         ELSE 'ok' END AS compress_flag
        |  FROM g)
        |SELECT doc_id, round(ratio, 6) AS ratio, compress_flag,
        |  compress_flag = 'ok' AS compress_keep
        |FROM f ORDER BY doc_id""".stripMargin,

    "q_text_clean" ->
      """WITH d AS (SELECT doc_id, text, source, string_split(text, ' ') AS toks
        |           FROM documents)
        |SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(
        |    lower(text || '  MIXED-Case?! ' || source), '[^a-z0-9 ]', ' ', 'g'),
        |    ' +', ' ', 'g')) AS norm,
        |  round(CASE WHEN len(toks) >= 2
        |    THEN 1.0 - len(list_distinct(list_transform(range(1, len(toks)),
        |           i -> toks[i] || ' ' || toks[i+1])))::DOUBLE / (len(toks) - 1)
        |    ELSE 0.0 END, 6) AS rep_ratio
        |FROM d ORDER BY doc_id""".stripMargin,

    "q_sql_surface" ->
      """SELECT doc_id,
        |  list_reduce(list_prepend(0::BIGINT,
        |    list_transform(range(1, len(text) + 1), i -> ascii(text[i]))),
        |    (a, b) -> (a * 31 + b) % 1000000007) AS fp,
        |  greatest(len(string_split(text, ' ')) - 2, 0)::BIGINT AS n_shingles
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_length_hist" ->
      """SELECT len(string_split(text, ' '))::BIGINT // 25 AS bucket,
        |  count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_bigrams" ->
      """SELECT bigram, count(*) AS n
        |FROM (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) AS bigram
        |  FROM (SELECT string_split(text, ' ') AS toks FROM documents))
        |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin,

    "q_vocab" ->
      """SELECT token, count(*) AS n
        |FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    // merged incremental counts == from-scratch counts, so the oracle is
    // simply the whole-corpus aggregate
    "q_vocab_merge" ->
      """SELECT token, sum(n)::BIGINT AS n FROM (
        |  SELECT token, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents WHERE doc_id < 400) GROUP BY token
        |  UNION ALL
        |  SELECT token, count(*) AS n
        |  FROM (SELECT unnest(string_split(text, ' ')) AS token
        |        FROM documents WHERE doc_id >= 400) GROUP BY token)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,

    "q_quality_filter" ->
      s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
         |scored AS (SELECT doc_id, text,
         |  round(0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
         |      + 0.3 * (1.0 - len(list_filter(toks, t -> t IN ('a','the')))::DOUBLE / len(toks))
         |      + 0.3 * least(1.0, len(toks)::DOUBLE / 100.0), 6) AS q,
         |  $langCase AS lang_pred,
         |  len(toks) AS nt
         | FROM d),
         |qualified AS (SELECT doc_id, text, q, nt FROM scored
         |  WHERE q >= 0.55 AND lang_pred = 'en' AND nt >= 20)
         |SELECT doc_id, q, nt FROM
         |  (SELECT *, min(doc_id) OVER (PARTITION BY text) AS canon FROM qualified)
         |WHERE doc_id = canon ORDER BY doc_id""".stripMargin,

    "q_jaccard" ->
      """WITH sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS shingle
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, inter,
        |  round(inter::DOUBLE / (sa.n + sb.n - inter), 6) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin,

    "q_containment" ->
      """WITH corpus AS (
        |  SELECT doc_id, text, source FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000,
        |    array_to_string((string_split(text, ' '))[1:25], ' '), source
        |  FROM documents WHERE doc_id < 40),
        |sh AS (
        |  SELECT doc_id, source, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 2),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]))) AS shingle
        |  FROM (SELECT doc_id, source, string_split(text, ' ') AS toks FROM corpus)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.source = b.source AND a.shingle = b.shingle
        |    AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT id_a, id_b, inter, sa.n AS size_a, sb.n AS size_b,
        |  round(inter::DOUBLE / least(sa.n, sb.n), 6) AS containment
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = id_a
        |JOIN sizes sb ON sb.doc_id = id_b
        |WHERE inter::DOUBLE / least(sa.n, sb.n) >= 0.8
        |ORDER BY id_a, id_b""".stripMargin,

    "q_pmi" ->
      """WITH tok AS (SELECT string_split(text, ' ') AS toks FROM documents),
        |u AS (SELECT t, count(*) AS c
        |      FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY t),
        |nt AS (SELECT sum(c) AS nu FROM u),
        |bp AS (SELECT unnest(range(1, len(toks))) AS i, toks FROM tok),
        |b AS (SELECT toks[i] AS tok_a, toks[i+1] AS tok_b, count(*) AS pair_count
        |      FROM bp GROUP BY 1, 2),
        |nb AS (SELECT sum(pair_count) AS nb FROM b)
        |SELECT tok_a, tok_b, pair_count,
        |  round(ln((pair_count::DOUBLE / nb) /
        |    ((ua.c::DOUBLE / nu) * (ub.c::DOUBLE / nu))), 6) AS pmi
        |FROM b
        |JOIN u ua ON ua.t = tok_a
        |JOIN u ub ON ub.t = tok_b
        |CROSS JOIN nt CROSS JOIN nb
        |WHERE pair_count >= 20
        |ORDER BY pmi DESC, tok_a, tok_b LIMIT 100""".stripMargin,

    "q_bigram_lm" ->
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |lmtok AS (SELECT toks FROM tok WHERE doc_id % 2 = 0),
        |u AS (SELECT t, count(*) AS c1
        |      FROM (SELECT unnest(toks) AS t FROM lmtok) GROUP BY t),
        |tot AS (SELECT sum(c1) AS n, count(*) AS v FROM u),
        |lmbp AS (SELECT unnest(range(1, len(toks))) AS i, toks FROM lmtok),
        |bi AS (SELECT toks[i] AS prev, toks[i+1] AS cur, count(*) AS c2
        |       FROM lmbp GROUP BY 1, 2),
        |bp AS (SELECT doc_id, unnest(range(1, len(toks))) AS i, toks FROM tok),
        |pairs AS (SELECT doc_id, toks[i] AS prev, toks[i+1] AS cur FROM bp),
        |scored AS (
        |  SELECT doc_id,
        |    CASE WHEN c2 IS NOT NULL THEN ln(c2::DOUBLE / up.c1)
        |         ELSE ln(0.4) + ln((coalesce(uc.c1, 0) + 0.5) / (tot.n + 0.5 * (tot.v + 1)))
        |    END AS lp
        |  FROM pairs
        |  LEFT JOIN bi USING (prev, cur)
        |  LEFT JOIN u up ON up.t = prev
        |  LEFT JOIN u uc ON uc.t = cur
        |  CROSS JOIN tot)
        |SELECT doc_id, round(sum(lp) / count(*), 6) AS avg_logprob2,
        |  count(*) AS n_bigrams
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_ann_int8" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |qv AS (
        |  SELECT vec_id, v, s, list_transform(v, x -> round(x / s)) AS qvec
        |  FROM (SELECT vec_id, v,
        |          greatest(list_max(list_transform(v, x -> abs(x))), 1e-12) / 127.0 AS s
        |        FROM v)),
        |cand AS (
        |  SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
        |    list_dot_product(qq.qvec, cc.qvec) * qq.s * cc.s AS approx
        |  FROM qv qq JOIN qv cc ON cc.vec_id <> qq.vec_id
        |  WHERE qq.vec_id < 10),
        |kept AS (
        |  SELECT query_id, neighbor_id,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY approx DESC, neighbor_id) AS arank
        |  FROM cand QUALIFY arank <= 20),
        |scored AS (
        |  SELECT query_id, neighbor_id,
        |    list_dot_product(a.v, b.v) /
        |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) AS cos
        |  FROM kept
        |  JOIN v a ON a.vec_id = query_id
        |  JOIN v b ON b.vec_id = neighbor_id)
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
        |  neighbor_id, round(cos, 6) AS cosine
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_strip_html" ->
      """SELECT doc_id,
        |  trim(regexp_replace(
        |    replace(replace(replace(replace(replace(replace(
        |      regexp_replace(html, '<[^>]*>', ' ', 'g'),
        |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |      '&nbsp;', ' '), '&amp;', '&'),
        |    '\s+', ' ', 'g')) AS clean
        |FROM (SELECT doc_id,
        |        '<div class="post"><h1>Title &amp; more</h1><p>' || text ||
        |        '</p><br/>&lt;end&gt;&nbsp;&#39;fin&#39;</div>' AS html
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_temperature" ->
      """WITH cnt AS (
        |  SELECT lang, count(*) AS n FROM documents
        |  WHERE lang IS NOT NULL GROUP BY lang),
        |tot AS (SELECT sum(n)::DOUBLE AS nn, sum(pow(n::DOUBLE, 0.5)) AS s FROM cnt),
        |pcts AS (
        |  SELECT lang,
        |    round(100 * pow(n::DOUBLE, 0.5) / s * nn / n)::BIGINT AS pct
        |  FROM cnt, tot),
        |w AS (
        |  SELECT d.doc_id, d.lang, p.pct,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(d.doc_id::VARCHAR) + 1),
        |        i -> ascii((d.doc_id::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 AS bucket
        |  FROM documents d JOIN pcts p ON p.lang = d.lang),
        |c AS (SELECT doc_id, lang,
        |        pct // 100 + CASE WHEN bucket < pct % 100 THEN 1 ELSE 0 END AS copies
        |      FROM w),
        |e AS (SELECT doc_id, lang, unnest(range(0, copies)) AS epoch FROM c)
        |SELECT lang, count(*) AS n_rows, sum(epoch)::BIGINT AS epoch_sum,
        |  count(DISTINCT doc_id) AS n_docs
        |FROM e GROUP BY lang ORDER BY lang""".stripMargin,

    "q_diversity" ->
      """WITH toks AS (
        |  SELECT source AS label, string_split(text, ' ') AS toks FROM documents),
        |g AS (
        |  SELECT label, 1 AS n, unnest(toks) AS gram FROM toks
        |  UNION ALL
        |  SELECT label, 2, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1])) FROM toks
        |  UNION ALL
        |  SELECT label, 3, unnest(list_transform(range(1, len(toks) - 1),
        |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) FROM toks)
        |SELECT label, n, count(*) AS total_grams,
        |  count(DISTINCT gram) AS distinct_grams,
        |  round(count(DISTINCT gram)::DOUBLE / count(*), 6) AS distinct_ratio
        |FROM g GROUP BY label, n ORDER BY label, n""".stripMargin,

    "q_dup_profile" ->
      """WITH RECURSIVE docs AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text || ' extra' FROM documents WHERE doc_id < 20
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, text || ' extra extra' FROM documents WHERE doc_id < 20),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM docs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j),
        |bandkey AS (
        |  SELECT doc_id, j // 4 AS band, string_agg(m::VARCHAR, ',' ORDER BY j) AS bucket
        |  FROM sig GROUP BY doc_id, j // 4),
        |cands AS (
        |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        |  FROM bandkey a JOIN bandkey b
        |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
        |est AS (
        |  SELECT id_a, id_b,
        |    avg(CASE WHEN sa.m = sb.m THEN 1.0 ELSE 0.0 END) AS est_jaccard
        |  FROM cands
        |  JOIN sig sa ON sa.doc_id = id_a
        |  JOIN sig sb ON sb.doc_id = id_b AND sb.j = sa.j
        |  GROUP BY id_a, id_b),
        |edges AS (
        |  SELECT id_a AS src, id_b AS dst FROM est WHERE est_jaccard >= 0.5
        |  UNION
        |  SELECT id_b, id_a FROM est WHERE est_jaccard >= 0.5),
        |nodes AS (SELECT DISTINCT src AS id FROM edges),
        |walk(id, r) AS (
        |  SELECT id, id FROM nodes
        |  UNION
        |  SELECT e.dst, w.r FROM walk w JOIN edges e ON e.src = w.id),
        |roots AS (SELECT id, min(r) AS root FROM walk GROUP BY id),
        |sizes AS (SELECT root, count(*) AS cluster_size FROM roots GROUP BY root),
        |multi AS (
        |  SELECT cluster_size, count(*) AS n_clusters,
        |    cluster_size * count(*) AS n_docs
        |  FROM sizes GROUP BY cluster_size),
        |single AS (
        |  SELECT 1::BIGINT AS cluster_size, count(*) AS n_clusters,
        |    count(*) AS n_docs
        |  FROM docs WHERE doc_id NOT IN (SELECT id FROM roots))
        |SELECT * FROM (
        |  SELECT * FROM multi UNION ALL
        |  SELECT * FROM single WHERE n_clusters > 0)
        |ORDER BY cluster_size""".stripMargin,

    "q_quality_clf" ->
      """WITH g AS (
        |  SELECT doc_id, list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i+1]) AS grams
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)),
        |z AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(-0.5, list_transform(grams, gr ->
        |      (((list_reduce(list_prepend(0::BIGINT,
        |           list_transform(range(1, len(gr) + 1), i -> ascii(gr[i]))),
        |         (a, b) -> (a * 31 + b) % 1000000007) % 64) * 37) % 21 - 10) / 10.0)),
        |      (a, b) -> a + b) AS z
        |  FROM g)
        |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS score
        |FROM z ORDER BY doc_id""".stripMargin,

    "q_pagerank" ->
      """WITH e AS (
        |  SELECT DISTINCT 'site' || (doc_id % 20) AS src,
        |    'mirror' || (doc_id % 5) AS dst
        |  FROM documents),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
        |nd AS (SELECT n.id, d.deg FROM nodes n LEFT JOIN deg d ON d.id = n.id),
        |nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
        |p0 AS (SELECT id, deg, 1.0 / (SELECT n FROM nn) AS pr FROM nd),
        |d1 AS (SELECT coalesce(sum(pr), 0.0) AS dang FROM p0 WHERE deg IS NULL),
        |c1 AS (SELECT e.dst AS id, sum(p.pr / p.deg) AS inw
        |       FROM e JOIN p0 p ON p.id = e.src GROUP BY e.dst),
        |p1 AS (SELECT nd.id, nd.deg,
        |         (1 - 0.85) / (SELECT n FROM nn)
        |           + 0.85 * (SELECT dang FROM d1) / (SELECT n FROM nn)
        |           + 0.85 * coalesce(c1.inw, 0.0) AS pr
        |       FROM nd LEFT JOIN c1 ON c1.id = nd.id),
        |d2 AS (SELECT coalesce(sum(pr), 0.0) AS dang FROM p1 WHERE deg IS NULL),
        |c2 AS (SELECT e.dst AS id, sum(p.pr / p.deg) AS inw
        |       FROM e JOIN p1 p ON p.id = e.src GROUP BY e.dst),
        |p2 AS (SELECT nd.id, nd.deg,
        |         (1 - 0.85) / (SELECT n FROM nn)
        |           + 0.85 * (SELECT dang FROM d2) / (SELECT n FROM nn)
        |           + 0.85 * coalesce(c2.inw, 0.0) AS pr
        |       FROM nd LEFT JOIN c2 ON c2.id = nd.id)
        |SELECT id, round(pr, 6) AS pr FROM p2 ORDER BY id""".stripMargin,

    "q_hits" ->
      """WITH e AS (
        |  SELECT 'h' || (doc_id % 41) AS src,
        |         'h' || ((doc_id * 7 + 3) % 41) AS dst FROM documents
        |  UNION
        |  SELECT 'h' || (doc_id % 41), 'h' || ((doc_id * 13 + 1) % 41)
        |  FROM documents),
        |nodes AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
        |h0 AS (SELECT id, 1::BIGINT AS hub FROM nodes),
        |a1 AS (SELECT n.id, coalesce(s.v, 0)::BIGINT AS auth FROM nodes n
        |       LEFT JOIN (SELECT e.dst AS id, sum(h.hub) AS v
        |                  FROM e JOIN h0 h ON h.id = e.src GROUP BY e.dst) s
        |       ON s.id = n.id),
        |h1 AS (SELECT n.id, coalesce(s.v, 0)::BIGINT AS hub FROM nodes n
        |       LEFT JOIN (SELECT e.src AS id, sum(a.auth) AS v
        |                  FROM e JOIN a1 a ON a.id = e.dst GROUP BY e.src) s
        |       ON s.id = n.id),
        |a2 AS (SELECT n.id, coalesce(s.v, 0)::BIGINT AS auth FROM nodes n
        |       LEFT JOIN (SELECT e.dst AS id, sum(h.hub) AS v
        |                  FROM e JOIN h1 h ON h.id = e.src GROUP BY e.dst) s
        |       ON s.id = n.id),
        |h2 AS (SELECT n.id, coalesce(s.v, 0)::BIGINT AS hub FROM nodes n
        |       LEFT JOIN (SELECT e.src AS id, sum(a.auth) AS v
        |                  FROM e JOIN a2 a ON a.id = e.dst GROUP BY e.src) s
        |       ON s.id = n.id),
        |tot AS (SELECT (SELECT sum(auth) FROM a2) AS ta,
        |               (SELECT sum(hub) FROM h2) AS th)
        |SELECT a2.id, h2.hub, a2.auth,
        |  CAST((a2.auth * 2000000 + ta) // (2 * ta) AS BIGINT) AS auth_ppm,
        |  CAST((h2.hub * 2000000 + th) // (2 * th) AS BIGINT) AS hub_ppm
        |FROM a2 JOIN h2 ON h2.id = a2.id CROSS JOIN tot
        |ORDER BY a2.id""".stripMargin,

    "q_label_prop" ->
      """WITH nodes AS (
        |  SELECT doc_id, CASE WHEN doc_id % 3 <> 0 THEN lang END AS label
        |  FROM documents),
        |pairs AS (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 3 = 0),
        |edges AS (SELECT DISTINCT u, v FROM (
        |  SELECT a AS u, b AS v FROM pairs UNION ALL SELECT b, a FROM pairs)),
        |seeds AS (SELECT doc_id AS v, label AS nl FROM nodes WHERE label IS NOT NULL),
        |votes AS (SELECT u, nl, count(*) AS c FROM edges JOIN seeds USING (v)
        |          GROUP BY u, nl),
        |best AS (SELECT u AS doc_id, nl FROM (
        |    SELECT u, nl, row_number() OVER (PARTITION BY u ORDER BY c DESC, nl) AS rn
        |    FROM votes) WHERE rn = 1)
        |SELECT n.doc_id, coalesce(n.label, b.nl) AS label_out,
        |  CASE WHEN n.label IS NOT NULL THEN 'seed'
        |       WHEN b.nl IS NOT NULL THEN 'propagated' END AS label_source
        |FROM nodes n LEFT JOIN best b ON b.doc_id = n.doc_id
        |ORDER BY n.doc_id""".stripMargin,

    "q_top_sources" ->
      """WITH c AS (
        |  SELECT lang, source, count(*) AS n FROM documents GROUP BY lang, source)
        |SELECT lang, source, n,
        |  row_number() OVER (PARTITION BY lang ORDER BY n DESC, source) AS rank
        |FROM c QUALIFY rank <= 3 ORDER BY lang, rank""".stripMargin,

    "q_mrl_ann" ->
      """WITH t AS (
        |  SELECT vec_id, list_transform(embedding[1:16], x -> x::DOUBLE) AS t
        |  FROM embeddings),
        |nv AS (
        |  SELECT vec_id, CASE WHEN n > 0 THEN list_transform(t, x -> x / n)
        |                      ELSE t END AS v
        |  FROM (SELECT vec_id, t,
        |          sqrt(list_reduce(list_prepend(0.0,
        |            list_transform(t, x -> x * x)), (a, b) -> a + b)) AS n
        |        FROM t)),
        |score AS (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |    list_dot_product(q.v, c.v) /
        |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
        |  FROM nv q JOIN nv c ON c.vec_id <> q.vec_id
        |  WHERE q.vec_id < 10)
        |SELECT query_id,
        |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
        |  neighbor_id, round(cos, 6) AS cosine
        |FROM score QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_filter_str" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE starts_with(source, 'src1') AND regexp_full_match(lang, 'e.')
        |ORDER BY doc_id""".stripMargin,

    "q_dedup_embedding" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v) /
        |    (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35
        |ORDER BY cosine DESC, id_a, id_b LIMIT 50""".stripMargin,

    "q_embed_centroid" ->
      """SELECT label, i - 1 AS pos,
        |  round(sum(embedding[i]::DOUBLE), 4) / count(*) AS c
        |FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i)
        |GROUP BY label, i ORDER BY label, pos""".stripMargin,

    "q_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 10),
        |c AS (SELECT vec_id AS nid, embedding::DOUBLE[] AS cv FROM embeddings),
        |scored AS (
        |  SELECT qid, nid,
        |    list_dot_product(qv, cv) /
        |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
        |  FROM q, c WHERE nid <> qid)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank,
        |  nid AS neighbor_id, round(cos, 6) AS cosine
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_multimodal" ->
      """SELECT doc_id, len(text)::BIGINT AS n_bytes, 'unknown' AS format,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_image_meta" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
        |    WHEN 2 THEN 'bmp' ELSE 'jpeg' END AS format,
        |  (doc_id % 600 + 16)::INT AS width,
        |  (doc_id % 400 + 16)::INT AS height
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_image_filter" ->
      """SELECT doc_id FROM documents
        |WHERE (doc_id % 600 + 16) >= 300 AND (doc_id % 400 + 16) >= 200
        |ORDER BY doc_id""".stripMargin,

    "q_audio_meta" ->
      """SELECT doc_id, 'wav' AS format,
        |  (doc_id % 2 + 1)::INT AS channels,
        |  ((doc_id % 3 + 1) * 8000)::INT AS sample_rate,
        |  16::INT AS bits,
        |  (doc_id % 500 + 1)::BIGINT AS n_frames,
        |  (((doc_id % 500 + 1) * 1000000) // ((doc_id % 3 + 1) * 8000))::BIGINT
        |    AS duration_us
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_audio_filter" ->
      """SELECT doc_id FROM documents
        |WHERE ((doc_id % 500 + 1) * 1000000) // ((doc_id % 3 + 1) * 8000) >= 20000
        |ORDER BY doc_id""".stripMargin,

    "q_audio_gate" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    ((doc_id % 200 + 1) * (doc_id % 2 + 1))::BIGINT AS n,
        |    (doc_id % 251 - 125)::BIGINT AS a,
        |    (-(doc_id % 97))::BIGINT AS b
        |  FROM documents),
        |q AS (SELECT doc_id, n, (n + 1) // 2 AS na, n // 2 AS nb, a, b FROM p)
        |SELECT doc_id FROM q
        |WHERE n > 0
        |  AND (na * abs(a) + nb * abs(b)) * 1000 >= n * 30000
        |  AND (CASE WHEN nb > 0 THEN GREATEST(abs(a), abs(b))
        |            ELSE abs(a) END) <= 120
        |ORDER BY doc_id""".stripMargin,

    "q_audio_pcm" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    ((doc_id % 200 + 1) * (doc_id % 2 + 1))::BIGINT AS n,
        |    (doc_id % 251 - 125)::BIGINT AS a,
        |    (-(doc_id % 97))::BIGINT AS b
        |  FROM documents),
        |q AS (SELECT doc_id, n, (n + 1) // 2 AS na, n // 2 AS nb, a, b FROM p)
        |SELECT doc_id, n AS n_samples,
        |  (CASE WHEN nb > 0 THEN GREATEST(abs(a), abs(b))
        |        ELSE abs(a) END)::INT AS peak_abs,
        |  (na * abs(a) + nb * abs(b))::BIGINT AS sum_abs,
        |  (na * a * a + nb * b * b)::BIGINT AS sum_sq
        |FROM q ORDER BY doc_id""".stripMargin,

    "q_video_meta" ->
      """SELECT doc_id, 'isom' AS format,
        |  (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |    * 1000)::INT AS timescale,
        |  ((doc_id % 240 + 1) * 1000)::BIGINT AS duration_ticks,
        |  (((doc_id % 240 + 1) * 1000 * 1000000)
        |    // (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |       * 1000))::BIGINT AS duration_us,
        |  (320 + (doc_id % 4) * 160)::INT AS width,
        |  (240 + (doc_id % 3) * 120)::INT AS height,
        |  (doc_id % 240 + 1)::BIGINT AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_video_filter" ->
      """SELECT doc_id FROM documents
        |WHERE ((doc_id % 240 + 1) * 1000 * 1000000)
        |    // (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |       * 1000) >= 5000000
        |  AND 320 + (doc_id % 4) * 160 >= 480
        |  AND 240 + (doc_id % 3) * 120 >= 360
        |ORDER BY doc_id""".stripMargin,

    "q_frame_sample" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |      * 1000)::BIGINT AS ts,
        |    (doc_id % 240 + 1)::BIGINT AS nf,
        |    (800 + (doc_id % 5) * 100)::BIGINT AS ss
        |  FROM documents),
        |f AS (
        |  SELECT DISTINCT doc_id, ts, ss, (r.j * nf) // 8 AS frame_idx
        |  FROM p CROSS JOIN range(8) r(j))
        |SELECT doc_id, frame_idx,
        |  (frame_idx * 1000 * 1000000) // ts AS pts_us,
        |  (332 + frame_idx * ss)::BIGINT AS byte_offset,
        |  ss AS byte_len
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_url_canon" ->
      """SELECT doc_id,
        |  CASE doc_id % 3
        |    WHEN 0 THEN 'http://site' || (doc_id % 20)::VARCHAR
        |      || '.example.com/Path' || (doc_id % 7)::VARCHAR
        |      || '/?q=' || (doc_id % 5)::VARCHAR
        |    WHEN 1 THEN 'https://cdn' || (doc_id % 20)::VARCHAR
        |      || '.example.com/img' || (doc_id % 7)::VARCHAR
        |    ELSE 'http://plain' || (doc_id % 20)::VARCHAR
        |      || '.example.org/a' || (doc_id % 7)::VARCHAR
        |  END AS canonical_url
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_semdedup" ->
      """WITH base AS (
        |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        |  UNION ALL
        |  SELECT vec_id + 1000000000000, embedding::DOUBLE[] FROM embeddings WHERE vec_id < 20),
        |cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
        |         FROM embeddings WHERE vec_id < 8),
        |sim AS (SELECT vec_id, cid,
        |    list_dot_product(v,c)/(sqrt(list_dot_product(v,v))*sqrt(list_dot_product(c,c))) AS s
        |  FROM base, cent),
        |assigned AS (
        |  SELECT vec_id, cid AS cell, s AS csim FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |losers AS (
        |  SELECT DISTINCT y.vec_id AS vec_id
        |  FROM assigned x JOIN assigned y ON x.cell = y.cell
        |    AND (x.csim < y.csim OR (x.csim = y.csim AND x.vec_id < y.vec_id))
        |  JOIN base bx ON bx.vec_id = x.vec_id
        |  JOIN base by_ ON by_.vec_id = y.vec_id
        |  WHERE list_dot_product(bx.v, by_.v) /
        |    (sqrt(list_dot_product(bx.v, bx.v)) * sqrt(list_dot_product(by_.v, by_.v))) > 0.3)
        |SELECT a.vec_id, a.cell, round(a.csim, 6) AS centroid_sim
        |FROM assigned a
        |WHERE a.vec_id NOT IN (SELECT vec_id FROM losers)
        |ORDER BY a.vec_id""".stripMargin,

    // the unrolled pinned-seed Lloyd: both refinement rounds replayed as
    // CTEs — assignment by argmax cosine (ties to lower cid), recompute
    // as round(sum,4)/count per (cell, pos) exactly as lloydRefine pins
    // them, empty cells carrying the previous centroid via the LEFT JOIN
    "q_ann_ivf" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
        |       FROM embeddings WHERE vec_id < 16),
        |a1 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c0.cid,
        |      list_dot_product(v.v, c0.c) /
        |        (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c0.c, c0.c))) AS s
        |    FROM v, c0)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |m1 AS (
        |  SELECT cid, pos, round(sum(val), 4) / count(*) AS cv FROM (
        |    SELECT a1.cid, unnest(v.v) AS val, unnest(range(len(v.v))) AS pos
        |    FROM a1 JOIN v USING (vec_id))
        |  GROUP BY cid, pos),
        |c1 AS (
        |  SELECT c0.cid, coalesce(m.c, c0.c) AS c
        |  FROM c0 LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS c
        |                     FROM m1 GROUP BY cid) m USING (cid)),
        |a2 AS (
        |  SELECT vec_id, cid FROM (
        |    SELECT v.vec_id, c1.cid,
        |      list_dot_product(v.v, c1.c) /
        |        (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c1.c, c1.c))) AS s
        |    FROM v, c1)
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |m2 AS (
        |  SELECT cid, pos, round(sum(val), 4) / count(*) AS cv FROM (
        |    SELECT a2.cid, unnest(v.v) AS val, unnest(range(len(v.v))) AS pos
        |    FROM a2 JOIN v USING (vec_id))
        |  GROUP BY cid, pos),
        |c2 AS (
        |  SELECT c1.cid, coalesce(m.c, c1.c) AS c
        |  FROM c1 LEFT JOIN (SELECT cid, list(cv ORDER BY pos) AS c
        |                     FROM m2 GROUP BY cid) m USING (cid)),
        |sim AS (
        |  SELECT vec_id, cid,
        |    list_dot_product(v.v, c2.c) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(c2.c, c2.c))) AS s
        |  FROM v, c2),
        |corpus_cell AS (
        |  SELECT vec_id AS nid, cid AS cell FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |query_cell AS (
        |  SELECT vec_id AS qid, cid AS cell FROM sim WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 4),
        |scored AS (
        |  SELECT qid, nid,
        |    list_dot_product(qv.v, cv.v) /
        |      (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos
        |  FROM query_cell JOIN corpus_cell USING (cell)
        |  JOIN v qv ON qv.vec_id = qid JOIN v cv ON cv.vec_id = nid
        |  WHERE nid <> qid)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank,
        |  nid AS neighbor_id, round(cos, 6) AS cosine
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_ann_ivf_pinned" ->
      """WITH cent AS (
        |  SELECT vec_id AS cid, embedding::DOUBLE[] AS c
        |  FROM embeddings WHERE vec_id < 16),
        |v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |sim AS (
        |  SELECT vec_id, cid,
        |    list_dot_product(v, c) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) AS s
        |  FROM v, cent),
        |corpus_cell AS (
        |  SELECT vec_id AS nid, cid AS cell FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |query_cell AS (
        |  SELECT vec_id AS qid, cid AS cell FROM sim WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 4),
        |scored AS (
        |  SELECT qid, nid,
        |    list_dot_product(qv.v, cv.v) /
        |      (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos
        |  FROM query_cell JOIN corpus_cell USING (cell)
        |  JOIN v qv ON qv.vec_id = qid JOIN v cv ON cv.vec_id = nid
        |  WHERE nid <> qid)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank,
        |  nid AS neighbor_id, round(cos, 6) AS cosine
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    // the metadata sizing rule replayed from count(*): nCells =
    // ceil(sqrt(n)) (the counts sidecar's total over the versioned
    // release = the plain table count), nProbe = ceil(nCells^0.5),
    // centroids = the nCells lowest-id vectors — then the same pinned
    // assignment/probe/rank replay as q_ann_ivf_pinned
    "q_ann_ivf_vt" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |params AS (
        |  SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) AS ncells,
        |    GREATEST(1, CAST(ceil(sqrt(ceil(sqrt(count(*))))) AS BIGINT)) AS nprobe
        |  FROM embeddings),
        |cent AS (
        |  SELECT vec_id AS cid, v AS c FROM (
        |    SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rn FROM v), params
        |  WHERE rn <= ncells),
        |sim AS (
        |  SELECT vec_id, cid,
        |    list_dot_product(v.v, cent.c) /
        |      (sqrt(list_dot_product(v.v, v.v)) * sqrt(list_dot_product(cent.c, cent.c))) AS s
        |  FROM v, cent),
        |corpus_cell AS (
        |  SELECT vec_id AS nid, cid AS cell FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |query_cell AS (
        |  SELECT vec_id AS qid, cid AS cell FROM sim, params WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= nprobe),
        |scored AS (
        |  SELECT qid, nid,
        |    list_dot_product(qv.v, cv.v) /
        |      (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos
        |  FROM query_cell JOIN corpus_cell USING (cell)
        |  JOIN v qv ON qv.vec_id = qid JOIN v cv ON cv.vec_id = nid
        |  WHERE nid <> qid)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank,
        |  nid AS neighbor_id, round(cos, 6) AS cosine
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_ivf_maintain" ->
      """WITH newc AS (
        |  SELECT vec_id, CASE WHEN vec_id % 53 = 0
        |      THEN list_transform(embedding::DOUBLE[], x -> -x)
        |      ELSE embedding::DOUBLE[] END AS v
        |  FROM embeddings WHERE vec_id % 97 <> 0
        |  UNION ALL
        |  SELECT vec_id + 1000000000000, embedding::DOUBLE[]
        |  FROM embeddings WHERE vec_id % 89 = 0),
        |cent AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS c
        |         FROM embeddings WHERE vec_id < 16),
        |sim AS (
        |  SELECT vec_id, cid,
        |    list_dot_product(v, c) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) AS s
        |  FROM newc, cent)
        |SELECT vec_id, cell FROM (
        |  SELECT vec_id, cid AS cell FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1)
        |ORDER BY vec_id""".stripMargin,

    // maintained == recomputed: the oracle re-derives EVERY signature
    // from the full new release (same shingle/polynomial replay as
    // q_minhash) — the Spark side only ever touched the churn
    "q_lsh_maintain" ->
      """WITH newdocs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 89 = 0),
        |sh AS (
        |  SELECT doc_id, unnest(list_distinct(
        |    list_transform(range(1, len(toks) - 1),
        |      i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM newdocs)),
        |hj AS (
        |  SELECT doc_id, j,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(cat) + 1), i -> ascii(cat[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS h
        |  FROM (SELECT doc_id, j, j::VARCHAR || ':' || shingle AS cat
        |        FROM sh CROSS JOIN (SELECT unnest(range(0, 16)) AS j))),
        |sig AS (SELECT doc_id, j, min(h) AS m FROM hj GROUP BY doc_id, j)
        |SELECT doc_id, string_agg(m::VARCHAR, ',' ORDER BY j) AS sig
        |FROM sig GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin,

    "q_keyframe_sample" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |      * 1000)::BIGINT AS ts,
        |    (doc_id % 240 + 1)::BIGINT AS nf,
        |    (800 + (doc_id % 5) * 100)::BIGINT AS ss,
        |    (8 + (doc_id % 3) * 4)::BIGINT AS gop
        |  FROM documents),
        |f AS (
        |  SELECT DISTINCT doc_id, ts, ss,
        |    (((r.j * nf) // 8) // gop) * gop AS frame_idx,
        |    332 + 16 + 4 * ((nf + gop - 1) // gop) AS coff
        |  FROM p CROSS JOIN range(8) r(j))
        |SELECT doc_id, frame_idx,
        |  (frame_idx * 1000 * 1000000) // ts AS pts_us,
        |  (coff + frame_idx * ss)::BIGINT AS byte_offset,
        |  ss AS byte_len
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_curate_mm" ->
      """WITH vid AS (
        |  SELECT doc_id FROM documents
        |  WHERE ((doc_id % 240 + 1) * 1000 * 1000000)
        |      // (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |         * 1000) >= 5000000
        |    AND 320 + (doc_id % 4) * 160 >= 480
        |    AND 240 + (doc_id % 3) * 120 >= 360),
        |d AS (SELECT doc_id, text, string_split(text, ' ') AS toks
        |      FROM documents WHERE doc_id IN (SELECT doc_id FROM vid)),
        |scored AS (
        |  SELECT doc_id, text, len(toks)::BIGINT AS n_tokens, round(
        |      0.4 * (len(list_distinct(toks))::DOUBLE / len(toks))
        |    + 0.3 * (1.0 - len(list_filter(toks, t -> t IN ('a','the')))::DOUBLE / len(toks))
        |    + 0.3 * least(1.0, len(toks)::DOUBLE / 100.0), 6) AS q
        |  FROM d),
        |qualified AS (SELECT * FROM scored WHERE q >= 0.5 AND n_tokens >= 20),
        |canon AS (
        |  SELECT * FROM
        |    (SELECT *, min(doc_id) OVER (PARTITION BY text) AS mk FROM qualified)
        |  WHERE doc_id = mk),
        |tagged AS (
        |  SELECT *, CASE WHEN list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(doc_id::VARCHAR) + 1),
        |        i -> ascii((doc_id::VARCHAR)[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) % 100 < 80
        |    THEN 'train' ELSE 'test' END AS split
        |  FROM canon)
        |SELECT split, count(*) AS n_docs, sum(n_tokens)::BIGINT AS tokens_sum,
        |  round(sum(q), 4) AS q_sum
        |FROM tagged GROUP BY split ORDER BY split""".stripMargin,

    "q_auc" ->
      """WITH fp AS (
        |  SELECT n_chars,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(text) + 1), i -> ascii(text[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM documents),
        |l AS (SELECT n_chars AS s, ((f % 1000) * 2 < n_chars) AS y FROM fp),
        |b AS (SELECT s,
        |        sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n1,
        |        sum(CASE WHEN y THEN 0 ELSE 1 END)::BIGINT AS n0
        |      FROM l GROUP BY s),
        |conc AS (SELECT coalesce(sum(a.n1 * bb.n0), 0)::BIGINT AS c
        |         FROM b a JOIN b bb ON a.s > bb.s),
        |t AS (SELECT coalesce(sum(n1 * n0), 0)::BIGINT AS ties,
        |        sum(n1)::BIGINT AS p, sum(n0)::BIGINT AS n FROM b)
        |SELECT (c * 2 + ties)::BIGINT AS auc_num2,
        |  (p * n * 2)::BIGINT AS auc_den2,
        |  CASE WHEN p > 0 AND n > 0 THEN
        |    CAST(((c * 2 + ties)::HUGEINT * 2000000 + p * n * 2)
        |         // (2 * (p * n * 2)) AS BIGINT) END AS auc_ppm
        |FROM conc, t""".stripMargin,

    "q_calibration" ->
      """WITH fp AS (
        |  SELECT n_chars,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(text) + 1), i -> ascii(text[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM documents),
        |l AS (
        |  SELECT CAST(least(greatest(floor(n_chars::DOUBLE / 100), 0), 9)
        |           AS BIGINT) AS bin,
        |    ((f % 1000) * 2 < n_chars) AS y
        |  FROM fp)
        |SELECT bin, count(*)::BIGINT AS n,
        |  sum(CASE WHEN y THEN 1 ELSE 0 END)::BIGINT AS n_pos,
        |  CAST((sum(CASE WHEN y THEN 1 ELSE 0 END)::HUGEINT * 2000000 + count(*))
        |       // (2 * count(*)) AS BIGINT) AS pos_rate_ppm
        |FROM l GROUP BY bin ORDER BY bin""".stripMargin,

    "q_langid_ct" ->
      """WITH tri AS (
        |  SELECT lang, doc_id,
        |    unnest(list_transform(range(1, len(text) - 1), i -> text[i:i+2])) AS gram
        |  FROM documents WHERE len(text) >= 3),
        |prof AS (
        |  SELECT lang, gram, rank FROM (
        |    SELECT lang, gram,
        |      row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rank
        |    FROM (SELECT lang, gram, count(*) AS cnt FROM tri GROUP BY 1, 2))
        |  WHERE rank <= 300),
        |langs AS (SELECT DISTINCT lang FROM tri),
        |dg AS (
        |  SELECT doc_id, gram,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS drank
        |  FROM (SELECT doc_id, gram, count(*) AS cnt FROM tri GROUP BY 1, 2)
        |  QUALIFY drank <= 50),
        |short AS (SELECT doc_id FROM documents WHERE len(text) < 3),
        |scored AS (
        |  SELECT d.doc_id, l.lang,
        |    sum(coalesce(abs(d.drank - p.rank), 300))::BIGINT AS dist
        |  FROM dg d CROSS JOIN langs l
        |  LEFT JOIN prof p ON p.lang = l.lang AND p.gram = d.gram
        |  GROUP BY 1, 2
        |  UNION ALL
        |  SELECT s.doc_id, l.lang, 300::BIGINT FROM short s CROSS JOIN langs l)
        |SELECT doc_id, lang AS lang_pred, dist AS ct_dist FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY dist, lang) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_nb_classify" ->
      """WITH tr AS (
        |  SELECT lang AS label, string_split(text, ' ') AS toks
        |  FROM documents WHERE doc_id % 2 = 0),
        |tok AS (SELECT label, unnest(toks) AS t FROM tr),
        |vocab AS (
        |  SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t)
        |  ORDER BY c DESC, t LIMIT 400),
        |vsz AS (SELECT count(*)::BIGINT AS v FROM vocab),
        |lab AS (SELECT lang AS label, count(*)::BIGINT AS nd
        |        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
        |ntr AS (SELECT sum(nd)::BIGINT AS n FROM lab),
        |cnt AS (SELECT label, t, count(*)::BIGINT AS c
        |        FROM tok JOIN vocab USING (t) GROUP BY label, t),
        |tot AS (SELECT label, sum(c)::BIGINT AS tc FROM cnt GROUP BY label),
        |ll AS (
        |  SELECT l.label, v.t,
        |    CAST(floor(ln((coalesce(c.c, 0) + 1)::DOUBLE
        |                  / (coalesce(tt.tc, 0) + vsz.v)::DOUBLE) * 1000000)
        |         AS BIGINT) AS lpm
        |  FROM lab l CROSS JOIN vocab v CROSS JOIN vsz
        |  LEFT JOIN cnt c ON c.label = l.label AND c.t = v.t
        |  LEFT JOIN tot tt ON tt.label = l.label),
        |pri AS (
        |  SELECT label,
        |    CAST(floor(ln(nd::DOUBLE / ntr.n::DOUBLE) * 1000000) AS BIGINT) AS pm
        |  FROM lab CROSS JOIN ntr),
        |dcnt AS (
        |  SELECT doc_id, t, count(*)::BIGINT AS dc
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        |  GROUP BY doc_id, t),
        |contrib AS (
        |  SELECT d.doc_id, ll.label,
        |    sum(d.dc * ll.lpm)::BIGINT AS s, sum(d.dc)::BIGINT AS ntok
        |  FROM dcnt d JOIN ll ON ll.t = d.t GROUP BY 1, 2),
        |scored AS (
        |  SELECT b.doc_id, p.label, p.pm + coalesce(c.s, 0) AS sm,
        |    coalesce(c.ntok, 0) AS ntok
        |  FROM (SELECT doc_id FROM documents) b CROSS JOIN pri p
        |  LEFT JOIN contrib c ON c.doc_id = b.doc_id AND c.label = p.label)
        |SELECT doc_id, label AS nb_pred, sm AS nb_score_micros,
        |  ntok AS n_vocab_toks FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sm DESC, label) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_nb_maintain" ->
      """WITH nd AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, lang, text
        |  FROM documents WHERE doc_id % 89 = 0),
        |tr AS (
        |  SELECT lang AS label, string_split(text, ' ') AS toks
        |  FROM nd WHERE doc_id % 2 = 0),
        |tok AS (SELECT label, unnest(toks) AS t FROM tr),
        |vocab AS (
        |  SELECT t FROM (SELECT t, count(*) AS c FROM tok GROUP BY t)
        |  ORDER BY c DESC, t LIMIT 400),
        |vsz AS (SELECT count(*)::BIGINT AS v FROM vocab),
        |lab AS (SELECT lang AS label, count(*)::BIGINT AS nd_
        |        FROM nd WHERE doc_id % 2 = 0 GROUP BY 1),
        |ntr AS (SELECT sum(nd_)::BIGINT AS n FROM lab),
        |cnt AS (SELECT label, t, count(*)::BIGINT AS c
        |        FROM tok JOIN vocab USING (t) GROUP BY label, t),
        |tot AS (SELECT label, sum(c)::BIGINT AS tc FROM cnt GROUP BY label),
        |ll AS (
        |  SELECT l.label, v.t,
        |    CAST(floor(ln((coalesce(c.c, 0) + 1)::DOUBLE
        |                  / (coalesce(tt.tc, 0) + vsz.v)::DOUBLE) * 1000000)
        |         AS BIGINT) AS lpm
        |  FROM lab l CROSS JOIN vocab v CROSS JOIN vsz
        |  LEFT JOIN cnt c ON c.label = l.label AND c.t = v.t
        |  LEFT JOIN tot tt ON tt.label = l.label),
        |pri AS (
        |  SELECT label,
        |    CAST(floor(ln(nd_::DOUBLE / ntr.n::DOUBLE) * 1000000) AS BIGINT) AS pm
        |  FROM lab CROSS JOIN ntr),
        |dcnt AS (
        |  SELECT doc_id, t, count(*)::BIGINT AS dc
        |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM nd)
        |  GROUP BY doc_id, t),
        |contrib AS (
        |  SELECT d.doc_id, ll.label,
        |    sum(d.dc * ll.lpm)::BIGINT AS s, sum(d.dc)::BIGINT AS ntok
        |  FROM dcnt d JOIN ll ON ll.t = d.t GROUP BY 1, 2),
        |scored AS (
        |  SELECT b.doc_id, p.label, p.pm + coalesce(c.s, 0) AS sm,
        |    coalesce(c.ntok, 0) AS ntok
        |  FROM (SELECT doc_id FROM nd) b CROSS JOIN pri p
        |  LEFT JOIN contrib c ON c.doc_id = b.doc_id AND c.label = p.label)
        |SELECT doc_id, label AS nb_pred, sm AS nb_score_micros,
        |  ntok AS n_vocab_toks FROM scored
        |QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sm DESC, label) = 1
        |ORDER BY doc_id""".stripMargin,

    "q_table_versions" ->
      """WITH fp AS (
        |  SELECT doc_id, text,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT doc_id, text,
        |          doc_id::VARCHAR || ':' || text AS k FROM documents)),
        |newrel AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 89 = 0),
        |nfp AS (
        |  SELECT doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT doc_id, doc_id::VARCHAR || ':' || text AS k FROM newrel)),
        |v0 AS (SELECT 0::BIGINT AS version, count(*)::BIGINT AS n_docs,
        |         sum(doc_id)::BIGINT AS id_sum, sum(f)::BIGINT AS content_sum FROM fp),
        |v12 AS (SELECT count(*)::BIGINT AS n_docs, sum(doc_id)::BIGINT AS id_sum,
        |          sum(f)::BIGINT AS content_sum FROM nfp)
        |SELECT * FROM v0
        |UNION ALL SELECT 1, n_docs, id_sum, content_sum FROM v12
        |UNION ALL SELECT 2, n_docs, id_sum, content_sum FROM v12
        |ORDER BY version""".stripMargin,

    "q_table_partitions" ->
      """WITH fp AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT doc_id, lang,
        |          doc_id::VARCHAR || ':' || text AS k FROM documents)),
        |den AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 2 = 0 THEN text || ' r2' ELSE text END AS text
        |  FROM documents WHERE lang = 'de' AND doc_id % 3 <> 0),
        |dfp AS (
        |  SELECT doc_id, lang,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT doc_id, lang, doc_id::VARCHAR || ':' || text AS k FROM den)),
        |v1all AS (
        |  SELECT doc_id, lang, f FROM fp WHERE lang <> 'de'
        |  UNION ALL SELECT doc_id, lang, f FROM dfp)
        |SELECT 'v0' AS view, lang, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS id_sum, sum(f)::BIGINT AS content_sum
        |FROM fp GROUP BY lang
        |UNION ALL
        |SELECT 'v1', lang, count(*)::BIGINT, sum(doc_id)::BIGINT, sum(f)::BIGINT
        |FROM v1all GROUP BY lang
        |UNION ALL
        |SELECT 'v1_de', lang, count(*)::BIGINT, sum(doc_id)::BIGINT, sum(f)::BIGINT
        |FROM dfp GROUP BY lang
        |ORDER BY view, lang""".stripMargin,

    "q_table_changefeed" ->
      """SELECT doc_id, 'removed' AS change FROM documents
        |WHERE lang = 'de' AND doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'changed' FROM documents
        |WHERE lang = 'de' AND doc_id % 3 <> 0 AND doc_id % 2 = 0
        |ORDER BY doc_id""".stripMargin,

    "q_table_restore" ->
      """WITH fp AS (
        |  SELECT lang, doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT lang, doc_id,
        |          doc_id::VARCHAR || ':' || text AS k FROM documents
        |        WHERE lang <> 'es'))
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS id_sum, sum(f)::BIGINT AS content_sum
        |FROM fp GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q_table_stream_upsert" ->
      """WITH merged AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 3000000000000, lang, text FROM documents
        |  WHERE doc_id % 13 = 0),
        |fp AS (
        |  SELECT lang, doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT lang, doc_id,
        |          doc_id::VARCHAR || ':' || text AS k FROM merged))
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS id_sum, sum(f)::BIGINT AS content_sum
        |FROM fp GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q_table_stream_cols" ->
      """SELECT doc_id, n_chars FROM documents
        |WHERE doc_id % 2 = 1 OR n_chars % 5 <> 0
        |ORDER BY doc_id""".stripMargin,

    "q_table_delete_dv" ->
      """WITH fp AS (
        |  SELECT doc_id, lang, n_chars,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT doc_id, lang, n_chars,
        |          doc_id::VARCHAR || ':' || text AS k FROM documents))
        |SELECT 'v0' AS view, lang, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS id_sum, sum(f)::BIGINT AS content_sum
        |FROM fp GROUP BY lang
        |UNION ALL
        |SELECT 'v1', lang, count(*)::BIGINT, sum(doc_id)::BIGINT, sum(f)::BIGINT
        |FROM fp WHERE n_chars % 7 <> 3 GROUP BY lang
        |UNION ALL
        |SELECT 'v2', lang, count(*)::BIGINT, sum(doc_id)::BIGINT, sum(f)::BIGINT
        |FROM fp WHERE n_chars % 7 <> 3 AND lang <> 'de' GROUP BY lang
        |ORDER BY view, lang""".stripMargin,

    "q_table_sums_live" ->
      """WITH live AS (
        |  SELECT lang, n_chars FROM documents WHERE doc_id % 7 <> 0),
        |per AS (
        |  SELECT lang, count(*)::BIGINT AS n_live,
        |    CAST(sum(n_chars::BIGINT) AS BIGINT) AS sum_chars_live
        |  FROM live GROUP BY lang),
        |tot AS (
        |  SELECT '__total' AS lang, count(*)::BIGINT,
        |    CAST(sum(n_chars::BIGINT) AS BIGINT)
        |  FROM live)
        |SELECT * FROM per UNION ALL SELECT * FROM tot
        |ORDER BY lang""".stripMargin,

    // live mean/std replay: count(n_chars) matches the moments
    // sidecar's non-null n; the double path (s1/n, sqrt(s2/n - m*m))
    // mirrors meanStdAtLive term for term; the fully-deleted 'de'
    // partition vanishes from GROUP BY exactly as dropEmpty folds it
    "q_table_moments_live" ->
      """WITH live AS (
        |  SELECT lang, n_chars FROM documents
        |  WHERE NOT (doc_id % 7 = 0 OR lang = 'de')),
        |g AS (
        |  SELECT lang, count(n_chars)::BIGINT AS n,
        |    CAST(sum(n_chars) AS DOUBLE) AS s1,
        |    CAST(sum(n_chars * n_chars) AS DOUBLE) AS s2
        |  FROM live GROUP BY lang
        |  UNION ALL
        |  SELECT '__total', count(n_chars)::BIGINT,
        |    CAST(sum(n_chars) AS DOUBLE), CAST(sum(n_chars * n_chars) AS DOUBLE)
        |  FROM live)
        |SELECT lang, n AS n_live,
        |  round(s1 / n, 6) AS mean_chars,
        |  round(sqrt(s2 / n - (s1 / n) * (s1 / n)), 6) AS std_chars
        |FROM g ORDER BY lang""".stripMargin,

    "q_table_upsert" ->
      """WITH merged AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE lang <> 'fr' AND doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, lang, text || ' u1' FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 2000000000000, lang, text FROM documents
        |  WHERE doc_id % 11 = 0),
        |fp AS (
        |  SELECT lang, doc_id,
        |    list_reduce(list_prepend(0::BIGINT,
        |      list_transform(range(1, len(k) + 1), i -> ascii(k[i]))),
        |      (a, b) -> (a * 31 + b) % 1000000007) AS f
        |  FROM (SELECT lang, doc_id,
        |          doc_id::VARCHAR || ':' || text AS k FROM merged))
        |SELECT lang, count(*)::BIGINT AS n_docs,
        |  sum(doc_id)::BIGINT AS id_sum, sum(f)::BIGINT AS content_sum
        |FROM fp GROUP BY lang
        |ORDER BY lang""".stripMargin,

    "q_table_stream" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,

    "q_table_evolve" ->
      """SELECT doc_id, lang,
        |  CASE WHEN doc_id % 2 = 0 THEN NULL ELSE n_chars END AS n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_table_pipeline" ->
      """SELECT doc_id, lang,
        |  len(string_split(text, ' '))::INTEGER AS n_tokens
        |FROM documents WHERE lang <> 'de'
        |ORDER BY doc_id""".stripMargin,

    "q_table_composed" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang IN ('de', 'fr')
        |  AND n_chars BETWEEN 100 AND 500
        |  AND doc_id IN (0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17, 18, 19, 20, 21, 22, 23, 24, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 36, 37, 38, 39, 9999999)
        |ORDER BY doc_id""".stripMargin,

    "q_table_meta_count" ->
      """WITH v1 AS (
        |  SELECT lang, n_chars FROM documents WHERE lang <> 'de'
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents
        |  WHERE lang = 'de' AND doc_id % 3 <> 0)
        |SELECT 'v0' AS view, lang, count(*)::BIGINT AS n_rows,
        |  sum(n_chars)::BIGINT AS sum_chars
        |FROM documents GROUP BY lang
        |UNION ALL
        |SELECT 'v1', lang, count(*)::BIGINT, sum(n_chars)::BIGINT
        |FROM v1 GROUP BY lang
        |UNION ALL
        |SELECT 'total', 'all', count(*)::BIGINT, sum(n_chars)::BIGINT FROM v1
        |ORDER BY view, lang""".stripMargin,

    "q_table_bloom" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id IN (3, 17, 421, 9999999999, 123456789)
        |ORDER BY doc_id""".stripMargin,

    "q_table_panel" ->
      """WITH v1 AS (
        |  SELECT lang, n_chars FROM documents WHERE lang <> 'de'
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents
        |  WHERE lang = 'de' AND doc_id % 3 <> 0),
        |p0 AS (
        |  SELECT 'v0' AS view, lang, count(*)::BIGINT AS n,
        |    min(n_chars)::BIGINT AS x_min, max(n_chars)::BIGINT AS x_max,
        |    sum(n_chars::HUGEINT)::VARCHAR AS sum_chars,
        |    ((sum(n_chars::HUGEINT) * 1000000 + count(*) // 2)
        |      // count(*))::BIGINT AS mean_micros
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang),
        |p1 AS (
        |  SELECT 'v1', lang, count(*)::BIGINT,
        |    min(n_chars)::BIGINT, max(n_chars)::BIGINT,
        |    sum(n_chars::HUGEINT)::VARCHAR,
        |    ((sum(n_chars::HUGEINT) * 1000000 + count(*) // 2)
        |      // count(*))::BIGINT
        |  FROM v1 WHERE n_chars IS NOT NULL GROUP BY lang)
        |SELECT * FROM p0 UNION ALL SELECT * FROM p1
        |ORDER BY view, lang""".stripMargin,

    "q_table_moments" ->
      """WITH v1 AS (
        |  SELECT lang, n_chars FROM documents WHERE lang <> 'de'
        |  UNION ALL
        |  SELECT lang, n_chars FROM documents
        |  WHERE lang = 'de' AND doc_id % 3 <> 0),
        |m0 AS (
        |  SELECT 'v0' AS view, lang, count(*)::BIGINT AS n,
        |    min(n_chars)::BIGINT AS x_min, max(n_chars)::BIGINT AS x_max,
        |    sum(n_chars::HUGEINT)::VARCHAR AS s1,
        |    sum(n_chars::HUGEINT * n_chars)::VARCHAR AS s2,
        |    sum(n_chars::HUGEINT * n_chars * n_chars)::VARCHAR AS s3,
        |    sum(n_chars::HUGEINT * n_chars * n_chars * n_chars)::VARCHAR AS s4
        |  FROM documents WHERE n_chars IS NOT NULL GROUP BY lang),
        |m1 AS (
        |  SELECT 'v1', lang, count(*)::BIGINT,
        |    min(n_chars)::BIGINT, max(n_chars)::BIGINT,
        |    sum(n_chars::HUGEINT)::VARCHAR,
        |    sum(n_chars::HUGEINT * n_chars)::VARCHAR,
        |    sum(n_chars::HUGEINT * n_chars * n_chars)::VARCHAR,
        |    sum(n_chars::HUGEINT * n_chars * n_chars * n_chars)::VARCHAR
        |  FROM v1 WHERE n_chars IS NOT NULL GROUP BY lang),
        |mt AS (
        |  SELECT 'total', 'all', count(*)::BIGINT,
        |    min(n_chars)::BIGINT, max(n_chars)::BIGINT,
        |    sum(n_chars::HUGEINT)::VARCHAR,
        |    sum(n_chars::HUGEINT * n_chars)::VARCHAR,
        |    sum(n_chars::HUGEINT * n_chars * n_chars)::VARCHAR,
        |    sum(n_chars::HUGEINT * n_chars * n_chars * n_chars)::VARCHAR
        |  FROM v1 WHERE n_chars IS NOT NULL)
        |SELECT * FROM m0 UNION ALL SELECT * FROM m1 UNION ALL
        |SELECT * FROM mt
        |ORDER BY view, lang""".stripMargin,

    "q_warc_http_gate" ->
      """SELECT doc_id, length(text)::BIGINT AS n_body FROM documents
        |WHERE doc_id % 7 <> 0 AND doc_id % 5 <> 0
        |ORDER BY doc_id""".stripMargin,

    "q_robots_gate" ->
      """SELECT doc_id,
        |  'h' || (doc_id % 97) || '.example' AS host,
        |  '/p' || (doc_id % 13) AS path,
        |  ((doc_id % 97) % 11 = 0 OR (doc_id % 97) % 2 = 0
        |    OR starts_with('p' || (doc_id % 13),
        |                   'p' || (((doc_id % 97) + 1) % 13))) AS allowed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_robots_directives" ->
      """WITH h AS (
        |  SELECT (doc_id % 97) AS k, count(*)::BIGINT AS n_urls
        |  FROM documents GROUP BY 1),
        |d AS (
        |  SELECT k, n_urls,
        |    CASE WHEN k % 11 = 0 THEN NULL
        |         ELSE (k % 7) * 1000
        |              + CASE WHEN k % 3 = 0 THEN 500 ELSE 0 END
        |    END::BIGINT AS crawl_delay_ms,
        |    CASE WHEN k % 5 = 0 THEN 2 ELSE 1 END::BIGINT AS n_sitemaps,
        |    'https://h' || k || '.example/sitemap.xml' ||
        |      CASE WHEN k % 5 = 0
        |           THEN ',https://h' || k || '.example/news.xml'
        |           ELSE '' END AS sitemaps_csv
        |  FROM h)
        |SELECT 'h' || k || '.example' AS host, n_urls, crawl_delay_ms,
        |  (n_urls * COALESCE(crawl_delay_ms, 0))::BIGINT AS serial_crawl_ms,
        |  n_sitemaps, sitemaps_csv
        |FROM d ORDER BY host""".stripMargin,

    "q_crawl_schedule" ->
      """WITH g AS (
        |  SELECT ((doc_id * 31 + k * 17) % 97) AS h,
        |         ((doc_id + k) % 13) AS j
        |  FROM documents CROSS JOIN (SELECT range AS k FROM range(3)) ks),
        |a AS (
        |  SELECT h,
        |    sum(CASE WHEN (h % 11 = 0 OR h % 2 = 0
        |          OR starts_with('p' || j, 'p' || ((h + 1) % 13)))
        |        THEN 1 ELSE 0 END)::BIGINT AS n_allowed,
        |    CASE WHEN h % 11 = 0 THEN NULL
        |         ELSE (h % 7) * 1000
        |              + CASE WHEN h % 3 = 0 THEN 500 ELSE 0 END
        |    END::BIGINT AS crawl_delay_ms
        |  FROM g GROUP BY h)
        |SELECT 'h' || h || '.example' AS host, n_allowed, crawl_delay_ms,
        |  (n_allowed * COALESCE(crawl_delay_ms, 0))::BIGINT AS serial_fetch_ms
        |FROM a ORDER BY host""".stripMargin,

    "q_crawl_frontier" ->
      """WITH g AS (
        |  SELECT ((doc_id * 31 + k * 17) % 97) AS h,
        |         ((doc_id + k) % 13) AS j
        |  FROM documents CROSS JOIN (SELECT range AS k FROM range(3)) ks)
        |SELECT 'h' || h || '.example' AS dst_host,
        |  sum(CASE WHEN (h % 11 = 0 OR h % 2 = 0
        |        OR starts_with('p' || j, 'p' || ((h + 1) % 13)))
        |      THEN 1 ELSE 0 END)::BIGINT AS n_allowed,
        |  count(*)::BIGINT AS n_total
        |FROM g GROUP BY h
        |ORDER BY dst_host""".stripMargin,

    "q_warc_request" ->
      """SELECT doc_id, 'GET' AS method,
        |  '/doc/' || doc_id AS req_path,
        |  200 AS status,
        |  length(text)::BIGINT AS n_body
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_warc_revisit" ->
      """SELECT a.doc_id,
        |  CASE WHEN a.doc_id % 5 = 4 THEN b.text ELSE a.text END AS text
        |FROM documents a LEFT JOIN documents b ON b.doc_id = a.doc_id - 1
        |ORDER BY a.doc_id""".stripMargin,

    "q_warc_outlinks" ->
      """WITH links AS (
        |  SELECT 'h' || (doc_id % 97) || '.example' AS src_host,
        |         'h' || ((doc_id * 31 + k * 17) % 97) || '.example' AS dst_host
        |  FROM documents CROSS JOIN (SELECT range AS k FROM range(3)) ks)
        |SELECT src_host, dst_host, count(*)::BIGINT AS n_links
        |FROM links GROUP BY src_host, dst_host
        |ORDER BY src_host, dst_host""".stripMargin,

    "q_frame_sample_chunked" ->
      """WITH p AS (
        |  SELECT doc_id,
        |    (CASE doc_id % 3 WHEN 0 THEN 24 WHEN 1 THEN 25 ELSE 30 END
        |      * 1000)::BIGINT AS ts,
        |    (doc_id % 240 + 1)::BIGINT AS nf,
        |    (800 + (doc_id % 5) * 100)::BIGINT AS ss
        |  FROM documents),
        |f AS (
        |  SELECT DISTINCT doc_id, ts, ss,
        |    (r.j * nf) // 8 AS frame_idx,
        |    356 + 4 * ((nf + 15) // 16) AS base
        |  FROM p CROSS JOIN range(8) r(j))
        |SELECT doc_id, frame_idx,
        |  (frame_idx * 1000 * 1000000) // ts AS pts_us,
        |  (base + (frame_idx // 16) * (16 * ss + 64)
        |        + (frame_idx % 16) * ss)::BIGINT AS byte_offset,
        |  ss AS byte_len
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,

    "q_bm25_maintain" ->
      """WITH newdocs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000000, text FROM documents WHERE doc_id % 89 = 0),
        |tok AS (
        |  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS dl,
        |    unnest(string_split(text, ' ')) AS term
        |  FROM newdocs)
        |SELECT doc_id, dl, term, count(*)::BIGINT AS tf
        |FROM tok GROUP BY doc_id, dl, term
        |ORDER BY doc_id, term""".stripMargin,

    "q_ivfpq_residual_pinned" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < 16),
        |sim AS (
        |  SELECT vec_id, cid,
        |    list_dot_product(v, c) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) AS s
        |  FROM v, cent),
        |corpus_cell AS (
        |  SELECT vec_id AS nid, cid AS cell FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |query_cell AS (
        |  SELECT vec_id AS qid, cid AS cell FROM sim WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 4),
        |cb AS (
        |  SELECT v.vec_id - 16 AS j,
        |    list_transform(range(1, 65), i -> v.v[i] - cent.c[i]) AS c
        |  FROM v
        |  JOIN corpus_cell cc ON cc.nid = v.vec_id
        |  JOIN cent ON cent.cid = cc.cell
        |  WHERE v.vec_id >= 16 AND v.vec_id < 32),
        |resid AS (
        |  SELECT v.vec_id, cc.cell,
        |    list_transform(range(1, 65), i -> v.v[i] - cent.c[i]) AS r
        |  FROM v JOIN corpus_cell cc ON cc.nid = v.vec_id
        |  JOIN cent ON cent.cid = cc.cell),
        |d AS (
        |  SELECT resid.vec_id, sp.s, cb.j,
        |    list_dot_product(
        |      list_transform(range(1, 9), i -> resid.r[sp.s*8 + i] - cb.c[sp.s*8 + i]),
        |      list_transform(range(1, 9), i -> resid.r[sp.s*8 + i] - cb.c[sp.s*8 + i])) AS d
        |  FROM resid, range(8) sp(s), cb),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
        |qresid AS (
        |  SELECT qc.qid, qc.cell,
        |    list_transform(range(1, 65), i -> v.v[i] - cent.c[i]) AS r
        |  FROM query_cell qc JOIN v ON v.vec_id = qc.qid
        |  JOIN cent ON cent.cid = qc.cell),
        |dq AS (
        |  SELECT q.qid, q.cell, sp.s, cb.j,
        |    list_dot_product(
        |      list_transform(range(1, 9), i -> q.r[sp.s*8 + i] - cb.c[sp.s*8 + i]),
        |      list_transform(range(1, 9), i -> q.r[sp.s*8 + i] - cb.c[sp.s*8 + i])) AS d
        |  FROM qresid q, range(8) sp(s), cb),
        |cand AS (
        |  SELECT qc.qid, nc.nid, qc.cell
        |  FROM query_cell qc JOIN corpus_cell nc USING (cell)
        |  WHERE nc.nid <> qc.qid),
        |t AS (
        |  SELECT cand.qid, cand.nid, dq.s, dq.d AS term
        |  FROM cand
        |  JOIN codes co ON co.vec_id = cand.nid
        |  JOIN dq ON dq.qid = cand.qid AND dq.cell = cand.cell
        |        AND dq.s = co.s AND dq.j = co.code),
        |adc AS (
        |  SELECT qid, nid,
        |    sum(CASE WHEN s=0 THEN term END) AS t0,
        |    sum(CASE WHEN s=1 THEN term END) AS t1,
        |    sum(CASE WHEN s=2 THEN term END) AS t2,
        |    sum(CASE WHEN s=3 THEN term END) AS t3,
        |    sum(CASE WHEN s=4 THEN term END) AS t4,
        |    sum(CASE WHEN s=5 THEN term END) AS t5,
        |    sum(CASE WHEN s=6 THEN term END) AS t6,
        |    sum(CASE WHEN s=7 THEN term END) AS t7
        |  FROM t GROUP BY qid, nid),
        |scored AS (
        |  SELECT qid, nid,
        |    ((((((t0 + t1) + t2) + t3) + t4) + t5) + t6) + t7 AS ad
        |  FROM adc)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY ad, nid) AS rank,
        |  nid AS neighbor_id, round(ad, 6) AS adc_dist
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_ivfpq_pinned" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cent AS (SELECT vec_id AS cid, v AS c FROM v WHERE vec_id < 16),
        |sim AS (
        |  SELECT vec_id, cid,
        |    list_dot_product(v, c) /
        |      (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(c, c))) AS s
        |  FROM v, cent),
        |corpus_cell AS (
        |  SELECT vec_id AS nid, cid AS cell FROM sim
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) = 1),
        |query_cell AS (
        |  SELECT vec_id AS qid, cid AS cell FROM sim WHERE vec_id < 10
        |  QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) <= 4),
        |d AS (
        |  SELECT v.vec_id, sp.s, cb.cid AS j,
        |    list_dot_product(
        |      list_transform(range(1, 9), i -> v.v[sp.s*8 + i] - cb.c[sp.s*8 + i]),
        |      list_transform(range(1, 9), i -> v.v[sp.s*8 + i] - cb.c[sp.s*8 + i])) AS d
        |  FROM v, range(8) sp(s), cent cb),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
        |cand AS (
        |  SELECT qc.qid, nc.nid FROM query_cell qc JOIN corpus_cell nc USING (cell)
        |  WHERE nc.nid <> qc.qid),
        |t AS (
        |  SELECT cand.qid, cand.nid, dq.s, dq.d AS term
        |  FROM cand
        |  JOIN codes co ON co.vec_id = cand.nid
        |  JOIN d dq ON dq.vec_id = cand.qid AND dq.s = co.s AND dq.j = co.code),
        |adc AS (
        |  SELECT qid, nid,
        |    sum(CASE WHEN s=0 THEN term END) AS t0,
        |    sum(CASE WHEN s=1 THEN term END) AS t1,
        |    sum(CASE WHEN s=2 THEN term END) AS t2,
        |    sum(CASE WHEN s=3 THEN term END) AS t3,
        |    sum(CASE WHEN s=4 THEN term END) AS t4,
        |    sum(CASE WHEN s=5 THEN term END) AS t5,
        |    sum(CASE WHEN s=6 THEN term END) AS t6,
        |    sum(CASE WHEN s=7 THEN term END) AS t7
        |  FROM t GROUP BY qid, nid),
        |scored AS (
        |  SELECT qid, nid,
        |    ((((((t0 + t1) + t2) + t3) + t4) + t5) + t6) + t7 AS ad
        |  FROM adc)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY ad, nid) AS rank,
        |  nid AS neighbor_id, round(ad, 6) AS adc_dist
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_opq_ann_pinned" -> {
      // ±0.125 sign row (signs(j)/√64), inlined so the oracle's rotation
      // rows are the SAME exact doubles the Spark literal rows carry
      val s8 = graft.operators.Similarity.hadamardSigns(64)
        .map(s => java.lang.Double.toString(s * 0.125)).mkString("[", ", ", "]")
      s"""WITH raw AS (SELECT vec_id, embedding::DOUBLE[] AS x FROM embeddings),
         |v AS (
         |  SELECT vec_id,
         |    list_transform(range(0, 64), i ->
         |      list_dot_product(x, list_transform(range(1, 65), j ->
         |        CASE WHEN bit_count(i & (j-1)) % 2 = 0 THEN ($s8)[j]
         |             ELSE -(($s8)[j]) END))) AS v
         |  FROM raw),
         |cb AS (SELECT vec_id AS j, v AS c FROM v WHERE vec_id < 16),
         |d AS (
         |  SELECT v.vec_id, sp.s, cb.j,
         |    list_dot_product(
         |      list_transform(range(1, 9), i -> v.v[sp.s*8 + i] - cb.c[sp.s*8 + i]),
         |      list_transform(range(1, 9), i -> v.v[sp.s*8 + i] - cb.c[sp.s*8 + i])) AS d
         |  FROM v, range(8) sp(s), cb),
         |codes AS (
         |  SELECT vec_id, s, j AS code FROM d
         |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
         |t AS (
         |  SELECT dq.vec_id AS qid, cc.vec_id AS nid, dq.s, dq.d AS term
         |  FROM d dq JOIN codes cc ON cc.s = dq.s AND cc.code = dq.j
         |  WHERE dq.vec_id < 10 AND cc.vec_id <> dq.vec_id),
         |adc AS (
         |  SELECT qid, nid,
         |    sum(CASE WHEN s=0 THEN term END) AS t0,
         |    sum(CASE WHEN s=1 THEN term END) AS t1,
         |    sum(CASE WHEN s=2 THEN term END) AS t2,
         |    sum(CASE WHEN s=3 THEN term END) AS t3,
         |    sum(CASE WHEN s=4 THEN term END) AS t4,
         |    sum(CASE WHEN s=5 THEN term END) AS t5,
         |    sum(CASE WHEN s=6 THEN term END) AS t6,
         |    sum(CASE WHEN s=7 THEN term END) AS t7
         |  FROM t GROUP BY qid, nid),
         |scored AS (
         |  SELECT qid, nid,
         |    ((((((t0 + t1) + t2) + t3) + t4) + t5) + t6) + t7 AS ad
         |  FROM adc)
         |SELECT qid AS query_id,
         |  row_number() OVER (PARTITION BY qid ORDER BY ad, nid) AS rank,
         |  nid AS neighbor_id, round(ad, 6) AS adc_dist
         |FROM scored
         |QUALIFY rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    },

    "q_pq_ann_pinned" ->
      """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |cb AS (SELECT vec_id AS j, v AS c FROM v WHERE vec_id < 16),
        |d AS (
        |  SELECT v.vec_id, sp.s, cb.j,
        |    list_dot_product(
        |      list_transform(range(1, 9), i -> v.v[sp.s*8 + i] - cb.c[sp.s*8 + i]),
        |      list_transform(range(1, 9), i -> v.v[sp.s*8 + i] - cb.c[sp.s*8 + i])) AS d
        |  FROM v, range(8) sp(s), cb),
        |codes AS (
        |  SELECT vec_id, s, j AS code FROM d
        |  QUALIFY row_number() OVER (PARTITION BY vec_id, s ORDER BY d, j) = 1),
        |t AS (
        |  SELECT dq.vec_id AS qid, cc.vec_id AS nid, dq.s, dq.d AS term
        |  FROM d dq JOIN codes cc ON cc.s = dq.s AND cc.code = dq.j
        |  WHERE dq.vec_id < 10 AND cc.vec_id <> dq.vec_id),
        |adc AS (
        |  SELECT qid, nid,
        |    sum(CASE WHEN s=0 THEN term END) AS t0,
        |    sum(CASE WHEN s=1 THEN term END) AS t1,
        |    sum(CASE WHEN s=2 THEN term END) AS t2,
        |    sum(CASE WHEN s=3 THEN term END) AS t3,
        |    sum(CASE WHEN s=4 THEN term END) AS t4,
        |    sum(CASE WHEN s=5 THEN term END) AS t5,
        |    sum(CASE WHEN s=6 THEN term END) AS t6,
        |    sum(CASE WHEN s=7 THEN term END) AS t7
        |  FROM t GROUP BY qid, nid),
        |scored AS (
        |  SELECT qid, nid,
        |    ((((((t0 + t1) + t2) + t3) + t4) + t5) + t6) + t7 AS ad
        |  FROM adc)
        |SELECT qid AS query_id,
        |  row_number() OVER (PARTITION BY qid ORDER BY ad, nid) AS rank,
        |  nid AS neighbor_id, round(ad, 6) AS adc_dist
        |FROM scored
        |QUALIFY rank <= 5
        |ORDER BY query_id, rank""".stripMargin,

    "q_heavy_hitters" ->
      """WITH n AS (SELECT count(lang)::DOUBLE AS n FROM documents)
        |SELECT lang, count(*)::BIGINT AS cnt
        |FROM documents CROSS JOIN n
        |WHERE lang IS NOT NULL
        |GROUP BY lang, n.n
        |HAVING count(*) > n.n / 6
        |ORDER BY cnt DESC, lang""".stripMargin,

    "q_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        |hits AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
        |         WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, round(sum(
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
        |  FROM hits JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY 1)
        |SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank, bm25
        |FROM scored
        |QUALIFY rank <= 20
        |ORDER BY rank""".stripMargin,

    "q_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |dl AS (SELECT doc_id, count(*)::DOUBLE AS dl FROM toks GROUP BY 1),
        |st AS (SELECT (SELECT count(*) FROM documents)::DOUBLE AS n, avg(dl) AS avgdl FROM dl),
        |hits AS (SELECT doc_id, term, count(*)::DOUBLE AS tf FROM toks
        |         WHERE term IN ('spark', 'join', 'window') GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*)::DOUBLE AS df FROM hits GROUP BY 1),
        |scored AS (
        |  SELECT doc_id, round(sum(
        |    ln(1.0 + (n - df + 0.5) / (df + 0.5)) * tf * 2.2 /
        |      (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS bm25
        |  FROM hits JOIN dfreq USING (term) JOIN dl USING (doc_id) CROSS JOIN st
        |  GROUP BY 1),
        |bm AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank
        |       FROM scored QUALIFY rank <= 50),
        |cosr AS (
        |  SELECT nid AS doc_id, row_number() OVER (ORDER BY cos DESC, nid) AS rank FROM (
        |    SELECT c.vec_id AS nid,
        |      list_dot_product(q.qv, c.embedding::DOUBLE[]) /
        |        (sqrt(list_dot_product(q.qv, q.qv)) *
        |         sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[]))) AS cos
        |    FROM embeddings c,
        |         (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0) q
        |    WHERE c.vec_id <> 0)
        |  QUALIFY rank <= 50),
        |u AS (SELECT doc_id, 1.0 / (60 + rank) AS c FROM bm
        |      UNION ALL SELECT doc_id, 1.0 / (60 + rank) FROM cosr)
        |SELECT doc_id, round(sum(c), 6) AS rrf, count(*)::BIGINT AS n_lists
        |FROM u GROUP BY 1 ORDER BY rrf DESC, doc_id""".stripMargin
  )
}
