package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kernel._

/** The binary-payload kernels of the multimodal pipeline: each a
  * [[KernelDecl]] beside its Column constructor and the static method it
  * calls. */
object BinaryExpressions {

  private[graft] val ImageMeta = new KernelDecl("graft_image_meta", Seq(BinaryIn),
    StructType(Seq(StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true))), this, "imageMeta")

  /** Native binary-payload expressions for the multimodal pipeline.
    *
    * Image METADATA (container format + pixel dimensions) lives in the first
    * few hundred bytes of the payload — extracting it must not require a
    * decode (the container ships no codecs, and at 100 TB a resolution
    * filter that decodes every image is the wrong plan). `ImageMeta` parses
    * the four dominant container headers (PNG, JPEG, GIF, BMP) in a tight
    * byte loop inside whole-stage codegen, so `width >= 256 AND height >=
    * 256` is a narrow scan-side predicate that prunes payloads BEFORE any
    * decode stage — the same pushdown story as Multimodal.centerCrop /
    * sampleFrames.
    *
    * Reference scope note: the reference engine has no binary/image surface
    * at all; this is part of the beyond-reference training-data layer. */
  def imageMeta(c: Column): Column = ImageMeta(c)

  private[graft] val AudioMeta = new KernelDecl("graft_audio_meta", Seq(BinaryIn),
    StructType(Seq(StructField("format", StringType, nullable = false),
      StructField("channels", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("bits", IntegerType, nullable = true),
      StructField("n_frames", LongType, nullable = true),
      StructField("duration_us", LongType, nullable = true))), this, "audioMeta")

  /** Audio-container metadata (RIFF/WAVE) from the payload's HEADER bytes —
    * the audio face of [[ImageMeta]]: channels / sample rate / bit depth /
    * frame count / duration without decoding a single sample, so the
    * "drop clips shorter than N ms, resample-rate gate" every audio
    * pipeline starts with is a narrow codegen'd scan-side predicate.
    * Corrupt chunk layouts keep format "wav" with null fields (the ingest
    * audit signal); non-RIFF payloads are ("unknown", null…). */
  def audioMeta(c: Column): Column = AudioMeta(c)

  private[graft] val AudioMinDuration = new KernelDecl("graft_audio_min_duration", Seq(BinaryIn),
    BooleanType, this, "audioAtLeast", Seq(KernelConst("minUs", LongType)), whenNull = false)

  /** Single-parse duration predicate: `duration_us >= minUs` with ONE
    * header scan (same rationale as [[ImageMinResolution]] — FilterExec has
    * no subexpression elimination, so a composed meta.duration_us >= x
    * would re-parse per field). Null / unparseable payloads are false. */
  def audioMinDuration(c: Column, minUs: Long): Column = AudioMinDuration.of(Seq(c), minUs)

  private[graft] val ImageMinResolution = new KernelDecl("graft_image_min_resolution",
    Seq(BinaryIn), BooleanType, this, "imageAtLeast",
    Seq(KernelConst("minW", IntegerType), KernelConst("minH", IntegerType)), whenNull = false)

  /** Single-parse resolution predicate: `width >= minW AND height >= minH`
    * with ONE header scan. A composed `meta.width >= w AND meta.height >= h`
    * predicate re-instantiates the parse per field reference once the
    * optimizer pushes it into a Filter (FilterExec has no subexpression
    * elimination — plan-audited in ImageMetaUrlSpec); this keeps the gate a
    * single byte-loop per row. Null / unparseable payloads are false. */
  def imageMinResolution(c: Column, minW: Int, minH: Int): Column =
    ImageMinResolution.of(Seq(c), minW, minH)

  private[graft] val HttpResponse = new KernelDecl("graft_http_response", Seq(BinaryIn),
    StructType(Seq(StructField("status", IntegerType, nullable = false),
      StructField("content_type", StringType, nullable = true),
      StructField("body", BinaryType, nullable = false))),
    this, "httpResponse", nullableResult = true)

  /** HTTP response splitter for WARC `application/http` payloads: status
    * code, Content-Type header, and the body bytes from ONE byte scan —
    * the first gate of a Common-Crawl-shaped ingest (`status = 200 AND
    * content_type LIKE 'text/html%'`) as narrow scan-side arithmetic.
    * One expression, one parse: a composed three-field predicate would
    * re-split the payload per field once pushed into a Filter
    * (FilterExec has no subexpression elimination — the
    * [[ImageMinResolution]] lesson). Null for payloads that do not start
    * with an HTTP status line; a response with no body is an empty body,
    * not null. Headers larger than 64 KiB are rejected as null (RFC 9112
    * recommends a bound; an unbounded scan is a parser DoS). */
  def httpResponse(c: Column): Column = HttpResponse(c)

  private[graft] val HttpGate = new KernelDecl("graft_http_gate", Seq(BinaryIn), BooleanType,
    this, "httpGateEval",
    Seq(KernelConst("status", IntegerType), KernelConst("ctPrefix", StringType)), whenNull = false)

  /** Single-parse HTTP ingest gate: `status == wantStatus AND
    * content_type startsWith ctPrefix` with ONE payload scan — the
    * Common-Crawl pipeline head (`200 AND text/html`) as a narrow
    * scan-side predicate. A composed `h.status === 200 && h.content_type
    * .startsWith(...)` re-parses the payload per field once pushed into
    * a Filter (no subexpression elimination there — the
    * [[ImageMinResolution]] lesson). Null / non-HTTP payloads are false. */
  def httpGate(c: Column, status: Int, ctPrefix: String): Column =
    HttpGate.of(Seq(c), status, ctPrefix)

  /** Static helper shared by eval and generated code. */
  def httpGateEval(b: Array[Byte], wantStatus: Int, ctPrefix: String): Boolean = {
    val h = httpResponse(b)
    h != null && h.getInt(0) == wantStatus && {
      val ct = h.getUTF8String(1)
      ct != null && ct.toString.startsWith(ctPrefix)
    }
  }

  private val MaxHttpHeaderBytes = 64 * 1024

  /** Static helper shared by eval and generated code: parse one HTTP
    * response message (RFC 9112 framing as archived — WARC stores the
    * raw message, so the body is the raw bytes after the header block,
    * chunked/content-length interpretation left to the caller's layer).
    * Returns null unless the payload starts with `HTTP/<v> <3-digit>`. */
  def httpResponse(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 12 || b(0) != 'H' || b(1) != 'T' || b(2) != 'T' || b(3) != 'P' ||
        b(4) != '/') return null
    // status line: HTTP/x.y SP 3digit ...
    var i = 5
    while (i < n && b(i) != ' ' && b(i) != '\r') i += 1
    if (i >= n || b(i) != ' ' || i + 3 >= n) return null
    val d1 = b(i + 1) - '0'; val d2 = b(i + 2) - '0'; val d3 = b(i + 3) - '0'
    if (d1 < 0 || d1 > 9 || d2 < 0 || d2 > 9 || d3 < 0 || d3 > 9) return null
    val status = d1 * 100 + d2 * 10 + d3
    // header block ends at the first CRLFCRLF; extract Content-Type
    var contentType: UTF8String = null
    var lineStart = 0
    var headerEnd = -1
    var j = i
    val bound = math.min(n - 1, MaxHttpHeaderBytes)
    while (headerEnd < 0 && j < bound) {
      if (b(j) == '\r' && b(j + 1) == '\n') {
        if (j + 3 < n && b(j + 2) == '\r' && b(j + 3) == '\n') headerEnd = j + 4
        else {
          lineStart = j + 2
          // case-insensitive "content-type:" prefix test
          if (n - lineStart > 13) {
            var k = 0
            val name = "content-type:"
            var ok = true
            while (ok && k < 13) {
              val c = b(lineStart + k)
              val lc = if (c >= 'A' && c <= 'Z') (c + 32).toByte else c
              if (lc != name.charAt(k)) ok = false
              k += 1
            }
            if (ok) {
              var vs = lineStart + 13
              while (vs < n && b(vs) == ' ') vs += 1
              var ve = vs
              while (ve + 1 < n && !(b(ve) == '\r' && b(ve + 1) == '\n')) ve += 1
              contentType = UTF8String.fromBytes(
                java.util.Arrays.copyOfRange(b, vs, ve))
            }
          }
        }
        j += 2
      } else j += 1
    }
    if (headerEnd < 0) return null // no header terminator within bound
    new GenericInternalRow(Array[Any](status, contentType,
      java.util.Arrays.copyOfRange(b, headerEnd, n)))
  }

  /** Static helper shared by eval and generated code. */
  def imageAtLeast(b: Array[Byte], minW: Int, minH: Int): Boolean = {
    val m = imageMeta(b)
    !m.isNullAt(1) && m.getInt(1) >= minW && m.getInt(2) >= minH
  }

  private val FmtPng = UTF8String.fromString("png")
  private val FmtJpeg = UTF8String.fromString("jpeg")
  private val FmtGif = UTF8String.fromString("gif")
  private val FmtBmp = UTF8String.fromString("bmp")
  private val FmtUnknown = UTF8String.fromString("unknown")

  private def row(fmt: UTF8String, w: Any, h: Any): InternalRow =
    new GenericInternalRow(Array[Any](fmt, w, h))

  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) | ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)

  /** Shared by eval and generated code: sniff the container from its magic
    * bytes and read the dimensions from the header. A payload whose magic
    * matches but whose header is truncated/corrupt keeps the sniffed
    * format with null dimensions (the audit signal "claims PNG, header
    * unreadable" matters at ingest); unrecognized payloads are
    * ("unknown", null, null). Never throws — corrupt bytes are data, not
    * errors, in a crawl. */
  def imageMeta(b: Array[Byte]): InternalRow = {
    val n = b.length
    // PNG: 8-byte signature, then IHDR chunk: len(4) "IHDR"(4) width(BE4) height(BE4)
    if (n >= 8 && (b(0) & 0xFF) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' &&
        (b(4) & 0xFF) == 0x0D && (b(5) & 0xFF) == 0x0A && (b(6) & 0xFF) == 0x1A && (b(7) & 0xFF) == 0x0A) {
      if (n >= 24 && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
        val w = be32(b, 16); val h = be32(b, 20)
        if (w > 0 && h > 0) return row(FmtPng, w, h)
      }
      return row(FmtPng, null, null)
    }
    // GIF87a / GIF89a: logical screen width/height, LE16 at 6/8
    if (n >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
        (b(4) == '7' || b(4) == '9') && b(5) == 'a') {
      if (n >= 10) {
        val w = le16(b, 6); val h = le16(b, 8)
        if (w > 0 && h > 0) return row(FmtGif, w, h)
      }
      return row(FmtGif, null, null)
    }
    // BMP: "BM"; DIB header size at 14 picks the layout — BITMAPCOREHEADER
    // (12: LE16 dims at 18/20) vs BITMAPINFOHEADER+ (LE32 at 18/22; height
    // may be negative for top-down rows)
    if (n >= 2 && b(0) == 'B' && b(1) == 'M') {
      if (n >= 26) {
        val dib = le32(b, 14)
        // non-positive dims = corrupt header -> null dims (height may be
        // legitimately negative: top-down row order; width may not)
        if (dib == 12) {
          val w = le16(b, 18); val h = le16(b, 20)
          if (w > 0 && h > 0) return row(FmtBmp, w, h)
        } else if (dib >= 40) {
          val w = le32(b, 18); val h = math.abs(le32(b, 22))
          if (w > 0 && h > 0) return row(FmtBmp, w, h)
        }
      }
      return row(FmtBmp, null, null)
    }
    // JPEG: FF D8, then marker segments; dimensions live in the first SOFn
    // (C0-CF except C4=DHT, C8=JPG-extension, CC=DAC): [len][precision]
    // [height BE16][width BE16]
    if (n >= 2 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8) {
      var i = 2
      while (i + 3 < n) {
        if ((b(i) & 0xFF) != 0xFF) return row(FmtJpeg, null, null) // desynced
        // skip fill bytes (FF padding before a marker)
        var j = i
        while (j < n && (b(j) & 0xFF) == 0xFF) j += 1
        if (j >= n) return row(FmtJpeg, null, null)
        val marker = b(j) & 0xFF
        if (marker == 0xD9 || marker == 0xDA) return row(FmtJpeg, null, null) // EOI/SOS before SOF
        if (marker >= 0xD0 && marker <= 0xD7) { i = j + 1 } // standalone RSTn
        else {
          if (j + 2 >= n) return row(FmtJpeg, null, null)
          val len = be16(b, j + 1)
          if (len < 2) return row(FmtJpeg, null, null)
          val isSof = marker >= 0xC0 && marker <= 0xCF &&
            marker != 0xC4 && marker != 0xC8 && marker != 0xCC
          if (isSof) {
            if (j + 8 <= n) { // dims end at j+7 inclusive
              val w = be16(b, j + 6); val h = be16(b, j + 4)
              if (w > 0 && h > 0) return row(FmtJpeg, w, h)
            }
            return row(FmtJpeg, null, null)
          }
          i = j + 1 + len
        }
      }
      return row(FmtJpeg, null, null)
    }
    row(FmtUnknown, null, null)
  }

  private val FmtWav = UTF8String.fromString("wav")

  private def audioRow(fmt: UTF8String, ch: Any, rate: Any, bits: Any,
      frames: Any, durUs: Any): InternalRow =
    new GenericInternalRow(Array[Any](fmt, ch, rate, bits, frames, durUs))

  /** Shared by eval and generated code. */
  def audioAtLeast(b: Array[Byte], minUs: Long): Boolean = {
    val m = audioMeta(b)
    !m.isNullAt(5) && m.getLong(5) >= minUs
  }

  /** RIFF/WAVE header parse — chunk scan for "fmt " (channels LE16,
    * sample rate LE32, bits LE16, block align LE16) and "data" (payload
    * size LE32); frames = dataSize / blockAlign, duration_us =
    * frames · 10⁶ / rate (floor). Chunks are word-aligned (odd sizes
    * carry a pad byte). The scan stops at the data chunk HEADER — sample
    * bytes are never touched, truncated bodies don't matter. Corrupt
    * layouts (no fmt/data chunk, zero rate/align, nonsensical sizes)
    * keep format "wav" with null fields; non-RIFF-WAVE payloads are
    * ("unknown", null…). Never throws — corrupt bytes are data, not
    * errors, in a crawl. */
  def audioMeta(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E')
      return audioRow(FmtUnknown, null, null, null, null, null)
    var i = 12
    var channels = -1; var rate = -1; var bits = -1; var blockAlign = -1
    var dataSize = -1L
    while (i + 8 <= n && dataSize < 0) {
      val size = le32(b, i + 4).toLong & 0xFFFFFFFFL
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
        if (size < 16 || i + 8 + 16 > n)
          return audioRow(FmtWav, null, null, null, null, null)
        channels = le16(b, i + 10)
        rate = le32(b, i + 12)
        blockAlign = le16(b, i + 20)
        bits = le16(b, i + 22)
      } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
        dataSize = size // header only — never read the sample bytes
      }
      if (size > Int.MaxValue - 16) // absurd chunk size: corrupt header
        return audioRow(FmtWav, null, null, null, null, null)
      i += 8 + size.toInt + (size.toInt & 1) // word-aligned chunks
    }
    if (channels <= 0 || rate <= 0 || blockAlign <= 0 || dataSize < 0)
      return audioRow(FmtWav, null, null, null, null, null)
    val frames = dataSize / blockAlign
    val durUs = frames * 1000000L / rate
    audioRow(FmtWav, channels, rate, bits, frames, durUs)
  }

  val audioPcmType: StructType = StructType(Seq(
    StructField("n_samples", LongType, nullable = false),
    StructField("peak_abs", IntegerType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("sum_sq", LongType, nullable = false)))

  private[graft] val AudioPcmStats = new KernelDecl("graft_audio_pcm_stats", Seq(BinaryIn),
    audioPcmType, this, "audioPcmStats", nullableResult = true)

  /** REAL PCM DECODE — 16-bit WAV sample statistics in exact integer
    * arithmetic: one codegen'd pass over the data chunk's samples yields
    * `(n_samples, peak_abs, sum_abs, sum_sq)` — the inputs every audio
    * quality gate derives from (RMS = sqrt(sum_sq/n), clipping =
    * peak_abs at full scale, silence = sum_abs ≈ 0). All-integer output
    * keeps the decode oracle-replayable (no IEEE accumulation to drift).
    * Null — never a fabricated number — when the payload is not integer
    * PCM16 WAV or the declared data chunk is truncated/odd-sized.
    * sum_sq is exact in a long up to ~8.6e9 samples (2^63 / 32768²) —
    * a 24-hour stereo 48 kHz file is 3.5e8. */
  def audioPcmStats(c: Column): Column = AudioPcmStats(c)

  private[graft] val AudioPcmGate = new KernelDecl("graft_audio_pcm_gate", Seq(BinaryIn),
    BooleanType, this, "audioPcmGate",
    Seq(KernelConst("minMeanAbsMilli", LongType), KernelConst("maxPeak", IntegerType)),
    whenNull = false)

  /** Single-DECODE signal gate: "not silent, not clipped" in ONE pass
    * over the samples — mean |s| ≥ minMeanAbsMilli/1000 (silence floor,
    * exact integer cross-multiply: sum_abs·1000 ≥ n·minMeanAbsMilli) AND
    * peak_abs ≤ maxPeak (clipping ceiling). The FilterExec rationale of
    * [[AudioMinDuration]] applies doubly here: a composed filter on two
    * [[AudioPcmStats]] struct fields would run the full sample pass per
    * field. Undecodable payloads are false — gates drop what they cannot
    * prove. */
  def audioPcmGate(c: Column, minMeanAbsMilli: Long, maxPeak: Int): Column =
    AudioPcmGate.of(Seq(c), minMeanAbsMilli, maxPeak)

  /** Shared by eval and generated code — see [[AudioPcmGate]]: one
    * sample pass, exact integer cross-multiply for the mean floor. */
  def audioPcmGate(b: Array[Byte], minMeanAbsMilli: Long, maxPeak: Int): Boolean = {
    val st = audioPcmStats(b)
    st != null && st.getLong(0) > 0 &&
      st.getLong(2) * 1000L >= st.getLong(0) * minMeanAbsMilli &&
      st.getInt(1) <= maxPeak
  }

  /** Shared by eval and generated code — see [[AudioPcmStats]]. Unlike
    * [[audioMeta]], the data chunk's BODY must be fully present: this
    * is the decode, not the header scan. */
  def audioPcmStats(b: Array[Byte]): InternalRow = {
    val n = b.length
    if (n < 12 || b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
        b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var i = 12
    var fmtCode = -1; var bits = -1
    var dataOff = -1L; var dataSize = -1L
    while (i + 8 <= n && dataSize < 0) {
      val size = le32(b, i + 4).toLong & 0xFFFFFFFFL
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' ') {
        if (size < 16 || i + 8 + 16 > n) return null
        fmtCode = le16(b, i + 8)
        bits = le16(b, i + 22)
      } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
        dataOff = i + 8L; dataSize = size
      }
      if (size > Int.MaxValue - 16) return null
      i += 8 + size.toInt + (size.toInt & 1)
    }
    // integer PCM (WAVE_FORMAT_PCM = 1), 16-bit, even-sized body, fully
    // present — anything else is not decodable here, and a decoder must
    // never fabricate statistics
    if (fmtCode != 1 || bits != 16 || dataOff < 0 || (dataSize & 1L) == 1L ||
        dataOff + dataSize > n) return null
    val count = (dataSize / 2).toInt
    var j = 0; var peak = 0; var sumAbs = 0L; var sumSq = 0L
    var p = dataOff.toInt
    while (j < count) {
      val s = ((b(p) & 0xFF) | (b(p + 1) << 8)).toShort.toInt
      val a = if (s < 0) -s else s // abs(-32768) = 32768, still exact in Int
      if (a > peak) peak = a
      sumAbs += a
      sumSq += s.toLong * s
      j += 1; p += 2
    }
    val row = new GenericInternalRow(4)
    row.update(0, count.toLong)
    row.update(1, peak)
    row.update(2, sumAbs)
    row.update(3, sumSq)
    row
  }

  // ---- ISO-BMFF (MP4) ----

  val videoMetaType: StructType = StructType(Seq(
    StructField("format", StringType, nullable = false),
    StructField("timescale", IntegerType, nullable = true),
    StructField("duration_ticks", LongType, nullable = true),
    StructField("duration_us", LongType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("n_tracks", IntegerType, nullable = true),
    // stts deltas are MEDIA ticks (the video trak's mdhd), not movie
    // ticks — pts arithmetic must use this when present
    StructField("media_timescale", IntegerType, nullable = true),
    StructField("n_frames", LongType, nullable = true),
    StructField("frame_delta", IntegerType, nullable = true),
    StructField("sample_size", IntegerType, nullable = true),
    StructField("chunk_offset", LongType, nullable = true),
    // offset + idx*size byte addressing is only sound single-chunk
    StructField("n_chunks", IntegerType, nullable = true),
    StructField("mdat_size", LongType, nullable = true)))

  private[graft] val VideoMeta =
    new KernelDecl("graft_video_meta", Seq(BinaryIn), videoMetaType, this, "videoMeta")

  /** Video-container metadata (ISO-BMFF / MP4) from the payload's HEADER
    * boxes — the video face of [[ImageMeta]]/[[AudioMeta]]: brand, movie
    * timescale/duration, first video track's pixel dimensions, and the
    * sample tables that drive frame extraction (stts frame count + delta,
    * stsz fixed sample size, stco/co64 first chunk offset, mdat payload
    * size) without touching a single coded frame. At 100 TB the "drop
    * sub-5s clips, gate on resolution, pick k frames per clip" pipeline
    * head becomes narrow scan-side arithmetic: the sampler turns these
    * fields into (pts, byte-range) pairs, so only the sampled frames are
    * ever ranged-read and decoded. Corrupt box layouts keep the ftyp brand
    * with null fields (the ingest audit signal); non-BMFF payloads are
    * ("unknown", null…). */
  def videoMeta(c: Column): Column = VideoMeta(c)

  private[graft] val VideoGate = new KernelDecl("graft_video_gate", Seq(BinaryIn), BooleanType,
    this, "videoAtLeast", Seq(KernelConst("minUs", LongType), KernelConst("minW", IntegerType),
      KernelConst("minH", IntegerType)), whenNull = false)

  /** Single-parse video gate: `duration_us >= minUs AND width >= minW AND
    * height >= minH` with ONE box walk (same rationale as
    * [[ImageMinResolution]] — FilterExec has no subexpression elimination,
    * so composed meta-field predicates re-parse per field). Null /
    * unparseable payloads are false. */
  def videoGate(c: Column, minUs: Long, minW: Int, minH: Int): Column =
    VideoGate.of(Seq(c), minUs, minW, minH)

  private def be64(b: Array[Byte], i: Int): Long =
    ((be32(b, i).toLong & 0xFFFFFFFFL) << 32) | (be32(b, i + 4).toLong & 0xFFFFFFFFL)

  private def videoRow(fmt: UTF8String, ts: Any, dur: Any, durUs: Any,
      w: Any, h: Any, tracks: Any, mediaTs: Any, frames: Any, delta: Any,
      ssz: Any, coff: Any, chunks: Any, mdat: Any): InternalRow =
    new GenericInternalRow(Array[Any](fmt, ts, dur, durUs, w, h, tracks,
      mediaTs, frames, delta, ssz, coff, chunks, mdat))

  /** Shared by eval and generated code. */
  def videoAtLeast(b: Array[Byte], minUs: Long, minW: Int, minH: Int): Boolean = {
    val m = videoMeta(b)
    !m.isNullAt(3) && m.getLong(3) >= minUs &&
      !m.isNullAt(4) && m.getInt(4) >= minW &&
      !m.isNullAt(5) && m.getInt(5) >= minH
  }

  private[graft] val VideoSyncSamples = new KernelDecl("graft_video_sync_samples",
    Seq(BinaryIn), ArrayType(LongType, containsNull = false), this, "videoSyncSamples",
    nullableResult = true)

  /** Sync-sample (keyframe) table from the ISO-BMFF `stss` box, as 0-based
    * frame indices. A decoder can only START at a sync sample, so a frame
    * sampler that ignores stss schedules reads it cannot decode; snapping
    * each sampled index to the greatest keyframe at or before it is the
    * standard seek semantics. NULL when the payload is not BMFF, the box
    * layout is corrupt, or stss is absent — absence means every sample is
    * a sync point (ISO 14496-12 §8.6.2: no stss ⇒ all sync), so callers
    * treat null as "no snapping needed". */
  def videoSyncSamples(c: Column): Column = VideoSyncSamples(c)

  private[graft] val VideoSampleable = new KernelDecl("graft_video_sampleable", Seq(BinaryIn),
    BooleanType, this, "videoSampleable", whenNull = false)

  /** Single-parse "frame sampler can address this clip" predicate: the
    * container carries positive stts frame count + delta, a fixed stsz
    * sample size, a chunk offset and a timescale. [[VideoMeta]] field
    * predicates would re-instantiate the box walk — and anything feeding
    * the payload column — once per field when the optimizer pushes the
    * filter down (FilterExec has no subexpression elimination; measured
    * 6x synth+walk per row on q_keyframe_sample). Null / unparseable
    * payloads are false. */
  def videoSampleable(c: Column): Column = VideoSampleable(c)

  /** Shared by eval and generated code: every field the frame sampler
    * needs is present and positive, in ONE box walk. A multi-chunk
    * layout (interleaved A/V) fails the gate: `offset + idx*size`
    * addressing would read other chunks' bytes as frames. */
  def videoSampleable(b: Array[Byte]): Boolean = {
    val m = videoMeta(b)
    // fields: timescale(1) media_timescale(7) n_frames(8) frame_delta(9)
    //         sample_size(10) chunk_offset(11) n_chunks(12)
    (!m.isNullAt(7) || !m.isNullAt(1)) &&
      !m.isNullAt(8) && m.getLong(8) > 0 &&
      !m.isNullAt(9) && !m.isNullAt(10) && !m.isNullAt(11) &&
      !m.isNullAt(12) && m.getInt(12) == 1
  }

  // ---- shared ISO-BMFF box-walk core (ONE copy: videoMeta and ----
  // ---- videoSyncSamples both parse through these)              ----

  /** Payload start of the box at `i` (accounts for 64-bit largesize);
    * -1 on structural error. Two reads keep full 64-bit ends — a
    * declared largesize mdat on a header-only payload can exceed 2^31,
    * so packing (ps, end) into one long would truncate it. */
  private def boxPayloadStart(b: Array[Byte], i: Long, limit: Long): Long = {
    if (i + 8 > limit) return -1L
    val s32 = be32(b, i.toInt).toLong & 0xFFFFFFFFL
    if (s32 == 1) { if (i + 16 > limit) -1L else i + 16 } else i + 8
  }

  /** End offset (i + declared size) of the box at `i`; -1 on error. */
  private def boxEndAt(b: Array[Byte], i: Long, limit: Long): Long = {
    if (i + 8 > limit) return -1L
    var size = be32(b, i.toInt).toLong & 0xFFFFFFFFL
    var hl = 8L
    if (size == 1) {
      if (i + 16 > limit) return -1L
      size = be64(b, i.toInt + 8); hl = 16L
    } else if (size == 0) size = limit - i
    if (size < hl) -1L else i + size
  }

  private def is4ccAt(b: Array[Byte], i: Long, t: String): Boolean = {
    val j = i.toInt + 4
    b(j) == t.charAt(0) && b(j + 1) == t.charAt(1) &&
      b(j + 2) == t.charAt(2) && b(j + 3) == t.charAt(3)
  }

  /** First child box with the given 4cc inside [from, to); null if
    * absent or the child layout is corrupt. */
  private def findBox(b: Array[Byte], from: Long, to: Long, t: String): (Long, Long) = {
    var i = from
    while (i + 8 <= to) {
      val ps = boxPayloadStart(b, i, to); val end = boxEndAt(b, i, to)
      if (ps < 0 || end < 0 || end > to) return null
      if (is4ccAt(b, i, t)) return (ps, end)
      i = end
    }
    null
  }

  /** tkhd pixel dims (16.16 fixed-point, v0/v1 layouts) of the trak at
    * [ps, end); null when absent/zero. */
  private def trakDims(b: Array[Byte], ps: Long, end: Long): (Int, Int) = {
    val tk = findBox(b, ps, end, "tkhd")
    if (tk == null) return null
    val tps = tk._1.toInt
    val v = b(tps) & 0xFF
    val dimOff = if (v == 1) tps + 88 else tps + 76
    if (dimOff + 8 > tk._2) return null
    val w = be32(b, dimOff) >>> 16
    val h = be32(b, dimOff + 4) >>> 16
    if (w > 0 && h > 0) (w, h) else null
  }

  /** Locate moov's payload bounds; null on non-BMFF / corrupt / absent.
    * mdat may declare an overrunning size (header-only payloads); only
    * boxes BEFORE it are addressable, which is where moov lives in any
    * streamable file. */
  private def findMoov(b: Array[Byte]): (Long, Long) = {
    val n = b.length
    if (n < 16 || !is4ccAt(b, 0, "ftyp")) return null
    val ftypSize = be32(b, 0).toLong & 0xFFFFFFFFL
    if (ftypSize < 16 || ftypSize > n) return null
    var i = 0L
    while (i + 8 <= n) {
      val ps = boxPayloadStart(b, i, n.toLong); val end = boxEndAt(b, i, n.toLong)
      if (ps < 0 || end < 0) return null
      if (is4ccAt(b, i, "moov")) { if (end > n) return null; return (ps, end) }
      if (is4ccAt(b, i, "mdat")) i = if (end > n) n.toLong else end
      else if (end > n) return null
      else i = end
    }
    null
  }

  /** The mdia/hdlr handler_type 4cc of a trak ('vide', 'soun', …), or
    * null when absent/truncated. hdlr payload: version/flags(4),
    * pre_defined(4), handler_type(4cc). */
  private def trakHandler(b: Array[Byte], ps: Long, end: Long): String = {
    val mdia = findBox(b, ps, end, "mdia")
    if (mdia == null) return null
    val hdlr = findBox(b, mdia._1, mdia._2, "hdlr")
    if (hdlr == null || hdlr._1 + 12 > hdlr._2) return null
    new String(b, hdlr._1.toInt + 8, 4, "US-ASCII")
  }

  /** The VIDEO trak of a moov, by the spec-exact rule first: the trak
    * whose mdia/hdlr handler_type is 'vide'; then the dims heuristic
    * (first trak with positive tkhd pixel dims — audio traks have zero
    * dims) for headers without hdlr; then the first trak. An
    * audio-first muxed file must never hand the sampler its audio
    * sample tables — even one whose audio tkhd carries (bogus) dims,
    * which only the hdlr rule catches. Null if no trak / corrupt. */
  private def findVideoTrak(b: Array[Byte], moovPs: Long, moovEnd: Long): (Long, Long) = {
    var first: (Long, Long) = null
    var firstDims: (Long, Long) = null
    var i = moovPs
    while (i + 8 <= moovEnd) {
      val ps = boxPayloadStart(b, i, moovEnd); val end = boxEndAt(b, i, moovEnd)
      if (ps < 0 || end < 0 || end > moovEnd)
        return if (firstDims != null) firstDims else first
      if (is4ccAt(b, i, "trak")) {
        if (first == null) first = (ps, end)
        if (trakHandler(b, ps, end) == "vide") return (ps, end)
        if (firstDims == null && trakDims(b, ps, end) != null) firstDims = (ps, end)
      }
      i = end
    }
    if (firstDims != null) firstDims else first
  }

  val frameRangeType: StructType = StructType(Seq(
    StructField("frame_idx", LongType, nullable = false),
    StructField("pts_us", LongType, nullable = false),
    StructField("byte_offset", LongType, nullable = false),
    StructField("byte_len", LongType, nullable = false)))

  private[graft] val VideoFrameRanges = new KernelDecl("graft_video_frame_ranges",
    Seq(BinaryIn), ArrayType(frameRangeType, containsNull = false), this, "videoFrameRanges",
    Seq(KernelConst("k", IntegerType, min = 1), KernelConst("snap", BooleanType)),
    nullableResult = true)

  /** FULL sample-table frame addressing as ONE native call: `k` uniformly
    * sampled frames of an ISO-BMFF payload as (frame_idx, pts_us,
    * byte_offset, byte_len) structs, honoring the container semantics the
    * simple column sampler cannot express —
    *  - stts with MULTIPLE entries: pts is the cumulative delta sum up to
    *    the sample, in mdhd MEDIA ticks (mvhd fallback);
    *  - stsc chunk mapping + multi-entry stco/co64: interleaved-A/V files
    *    address correctly instead of being rejected;
    *  - stsz with PER-SAMPLE sizes: offsets accumulate real sizes within
    *    the chunk, lengths are per-frame;
    *  - optional stss snapping (greatest sync sample ≤ the uniform index).
    * NULL when the payload's tables can't address a frame (non-BMFF,
    * corrupt, missing tables) — a sampler must not schedule reads it
    * can't prove. Row-local, zero shuffle, coded bytes never touched. */
  def videoFrameRanges(c: Column, k: Int, snap: Boolean): Column =
    VideoFrameRanges.of(Seq(c), k, snap)

  /** Full-addressing sampler — see [[VideoFrameRanges]]. ONE forward
    * pass over the sample tables up to the largest sampled index:
    * pts accumulates stts deltas (multi-entry), the chunk cursor
    * follows stsc (absent stsc = the single-chunk shorthand, valid
    * only when stco has exactly one entry), offsets accumulate real
    * stsz sizes within each chunk (fixed or per-sample). Any
    * inconsistency (tables missing, counts short, chunk cursor past
    * stco) returns null — never a fabricated byte range. */
  def videoFrameRanges(b: Array[Byte], k: Int,
      snap: Boolean): ArrayData = {
    val moov = findMoov(b); if (moov == null) return null
    val trak = findVideoTrak(b, moov._1, moov._2); if (trak == null) return null
    val mdia = findBox(b, trak._1, trak._2, "mdia"); if (mdia == null) return null
    val minf = findBox(b, mdia._1, mdia._2, "minf"); if (minf == null) return null
    val stbl = findBox(b, minf._1, minf._2, "stbl"); if (stbl == null) return null

    // timescale: mdhd media ticks, mvhd movie ticks as fallback
    var ts = -1L
    val mdhd = findBox(b, mdia._1, mdia._2, "mdhd")
    if (mdhd != null) {
      val ps = mdhd._1.toInt; val v = b(ps) & 0xFF
      if (v == 1) { if (ps + 24 <= mdhd._2) ts = be32(b, ps + 20).toLong }
      else if (ps + 16 <= mdhd._2) ts = be32(b, ps + 12).toLong
    }
    if (ts <= 0) {
      val mvhd = findBox(b, moov._1, moov._2, "mvhd")
      if (mvhd != null) {
        val ps = mvhd._1.toInt; val v = b(ps) & 0xFF
        if (v == 1) { if (ps + 24 <= mvhd._2) ts = be32(b, ps + 20).toLong }
        else if (ps + 16 <= mvhd._2) ts = be32(b, ps + 12).toLong
      }
    }
    if (ts <= 0) return null

    // stts: (count, delta) entries; total sample count
    val stts = findBox(b, stbl._1, stbl._2, "stts"); if (stts == null) return null
    val sttsPs = stts._1.toInt
    if (sttsPs + 8 > stts._2) return null
    val sttsN = be32(b, sttsPs + 4)
    if (sttsN <= 0 || sttsPs + 8 + 8L * sttsN > stts._2) return null
    var total = 0L
    var e = 0
    while (e < sttsN) {
      total += be32(b, sttsPs + 8 + 8 * e).toLong & 0xFFFFFFFFL
      e += 1
    }
    if (total <= 0) return null

    // stsz: fixed size, or the per-sample size table
    val stsz = findBox(b, stbl._1, stbl._2, "stsz"); if (stsz == null) return null
    val stszPs = stsz._1.toInt
    if (stszPs + 12 > stsz._2) return null
    val fixedSz = be32(b, stszPs + 4)
    val stszCnt = be32(b, stszPs + 8).toLong & 0xFFFFFFFFL
    if (fixedSz <= 0) {
      if (stszCnt < total || stszPs + 12 + 4L * total > stsz._2) return null
    }
    def sizeOf(i: Long): Long =
      if (fixedSz > 0) fixedSz.toLong
      else be32(b, stszPs + 12 + 4 * i.toInt).toLong & 0xFFFFFFFFL

    // stco/co64 chunk offsets
    var co = findBox(b, stbl._1, stbl._2, "stco")
    val co64 = co == null
    if (co64) co = findBox(b, stbl._1, stbl._2, "co64")
    if (co == null) return null
    val coPs = co._1.toInt
    if (coPs + 8 > co._2) return null
    val nChunks = be32(b, coPs + 4)
    val width = if (co64) 8 else 4
    if (nChunks <= 0 || coPs + 8 + width.toLong * nChunks > co._2) return null
    def chunkOff(c: Int): Long = // c is 0-based
      if (co64) be64(b, coPs + 8 + 8 * c)
      else be32(b, coPs + 8 + 4 * c).toLong & 0xFFFFFFFFL

    // stsc: (first_chunk 1-based, samples_per_chunk) runs; absent stsc
    // is the single-chunk shorthand our simple synth writes
    val stsc = findBox(b, stbl._1, stbl._2, "stsc")
    var stscPs = -1; var stscN = 0
    if (stsc != null) {
      stscPs = stsc._1.toInt
      if (stscPs + 8 > stsc._2) return null
      stscN = be32(b, stscPs + 4)
      if (stscN < 0 || stscPs + 8 + 12L * stscN > stsc._2) return null
      if (stscN >= 1 && be32(b, stscPs + 8) != 1) return null // must start at chunk 1
    }
    if ((stsc == null || stscN == 0) && nChunks != 1) return null
    def stscFirstChunk(e: Int): Int = be32(b, stscPs + 8 + 12 * e)
    def stscSpc(e: Int): Long = be32(b, stscPs + 12 + 12 * e).toLong & 0xFFFFFFFFL

    // sampled indices: uniform floor(j*total/k), deduped (ascending)
    var raw = new Array[Long](k)
    var j = 0
    while (j < k) { raw(j) = j * total / k; j += 1 }
    if (snap) {
      val sync = videoSyncSamples(b)
      if (sync != null) {
        val keys = sync.toLongArray()
        var p = 0
        var jj = 0
        while (jj < k) {
          // greatest key <= raw(jj); raw ascending, keys ascending
          while (p + 1 < keys.length && keys(p + 1) <= raw(jj)) p += 1
          if (keys.length > 0 && keys(p) <= raw(jj)) raw(jj) = keys(p)
          jj += 1
        }
      }
    }
    val idxs = raw.distinct.sorted
    val maxIdx = idxs.last
    if (maxIdx >= total) return null

    // ONE forward pass to the largest sampled index
    val out = new Array[Any](idxs.length)
    var want = 0
    var ptsTicks = 0L
    var sttsE = 0
    var sttsLeft = be32(b, sttsPs + 8).toLong & 0xFFFFFFFFL
    var sttsDelta = be32(b, sttsPs + 12).toLong & 0xFFFFFFFFL
    var chunk = 0 // 0-based
    var stscE = 0
    var chunkLeft =
      if (stsc != null && stscN > 0) stscSpc(0) else total
    var offInChunk = 0L
    var i = 0L
    while (i <= maxIdx) {
      if (chunkLeft <= 0 || chunk >= nChunks) return null // tables inconsistent
      if (want < idxs.length && i == idxs(want)) {
        out(want) = new GenericInternalRow(Array[Any](
          i, ptsTicks * 1000000L / ts, chunkOff(chunk) + offInChunk, sizeOf(i)))
        want += 1
      }
      // advance one sample
      offInChunk += sizeOf(i)
      chunkLeft -= 1
      if (chunkLeft == 0 && i < maxIdx) {
        chunk += 1
        offInChunk = 0L
        if (stsc != null && stscN > 0) {
          // does the NEXT stsc run start at this chunk (1-based)?
          if (stscE + 1 < stscN && stscFirstChunk(stscE + 1) == chunk + 1) stscE += 1
          chunkLeft = stscSpc(stscE)
        } else chunkLeft = total // single-chunk shorthand: never exhausts
      }
      while (sttsLeft == 0 && sttsE + 1 < sttsN) {
        sttsE += 1
        sttsLeft = be32(b, sttsPs + 8 + 8 * sttsE).toLong & 0xFFFFFFFFL
        sttsDelta = be32(b, sttsPs + 12 + 8 * sttsE).toLong & 0xFFFFFFFFL
      }
      if (sttsLeft <= 0 && i < maxIdx) return null
      ptsTicks += sttsDelta
      sttsLeft -= 1
      i += 1
    }
    if (want < idxs.length) return null
    new GenericArrayData(out)
  }

  /** Targeted stss walk (ftyp → moov → VIDEO trak → mdia → minf → stbl →
    * stss), returning the sync samples as 0-BASED frame indices (stss
    * stores 1-based sample numbers). The trak is selected like
    * [[videoMeta]] does — first with positive tkhd dims — so an
    * audio-first file cannot hide the video keyframe table. Null on
    * non-BMFF / corrupt layout / absent stss — see [[VideoSyncSamples]]
    * for the null contract. */
  def videoSyncSamples(b: Array[Byte]): ArrayData = {
    val moov = findMoov(b); if (moov == null) return null
    val trak = findVideoTrak(b, moov._1, moov._2); if (trak == null) return null
    val mdia = findBox(b, trak._1, trak._2, "mdia"); if (mdia == null) return null
    val minf = findBox(b, mdia._1, mdia._2, "minf"); if (minf == null) return null
    val stbl = findBox(b, minf._1, minf._2, "stbl"); if (stbl == null) return null
    val stss = findBox(b, stbl._1, stbl._2, "stss"); if (stss == null) return null
    val ps = stss._1.toInt; val end = stss._2
    if (ps + 8 > end) return null
    val ec = be32(b, ps + 4)
    if (ec < 0 || ps + 8 + 4L * ec > end) return null
    val out = new Array[Long](ec)
    var k = 0
    while (k < ec) {
      // 1-based sample numbers -> 0-based frame indices
      out(k) = (be32(b, ps + 8 + 4 * k).toLong & 0xFFFFFFFFL) - 1L
      k += 1
    }
    new GenericArrayData(out)
  }

  /** ISO-BMFF box walk. Boxes are `size(BE32) type(4cc) payload…`;
    * size==1 carries a 64-bit largesize after the type (files >4 GB),
    * size==0 means "to end of enclosure". The file must lead with `ftyp`
    * (its major brand is the format); `moov` is walked for `mvhd`
    * (timescale, duration — v0 u32 / v1 u64 layouts), the track count,
    * and THE VIDEO TRAK (first with positive tkhd dims, else the first
    * trak): its 16.16 dims, its mdhd MEDIA timescale (stts deltas are in
    * media ticks, NOT movie ticks — a typical encoder has
    * mvhd.timescale=1000 but video media timescale 15360), and its
    * sample tables (`stts` total count + first delta, `stsz` fixed
    * size, `stco`/`co64` first chunk offset + CHUNK COUNT — byte
    * addressing by `offset + idx·size` is only sound in a single-chunk
    * layout, so the count is part of the metadata). `mdat` contributes
    * only its DECLARED payload size — the walk never reads coded bytes,
    * so header-only payloads (and truncated bodies) parse fine. Any
    * structural violation outside mdat keeps the brand with null
    * fields. Never throws — corrupt bytes are data, not errors, in a
    * crawl. */
  def videoMeta(b: Array[Byte]): InternalRow = {
    val n = b.length
    val allNull = (fmt: UTF8String) =>
      videoRow(fmt, null, null, null, null, null, null, null, null, null,
        null, null, null, null)
    if (n < 16 || !is4ccAt(b, 0, "ftyp")) return allNull(FmtUnknown)
    val ftypSize = be32(b, 0).toLong & 0xFFFFFFFFL
    if (ftypSize < 16 || ftypSize > n) return allNull(FmtUnknown)
    val brand = UTF8String.fromBytes(java.util.Arrays.copyOfRange(b, 8, 12))

    var timescale = -1; var durTicks = -1L
    var width = -1; var height = -1
    var moovSeen = false; var nTracks = 0
    var mediaTs = -1
    var nFrames = -1L; var delta = -1; var sampleSize = -1
    var chunkOff = -1L; var nChunks = -1
    var mdatSize = -1L
    var corrupt = false

    // sample tables of the SELECTED trak only
    def walkStbl(from: Long, to: Long): Boolean = {
      var i = from
      while (i + 8 <= to) {
        val ps0 = boxPayloadStart(b, i, to); val end = boxEndAt(b, i, to)
        if (ps0 < 0 || end < 0 || end > to) return false
        val ps = ps0.toInt
        if (is4ccAt(b, i, "stts")) {
          if (ps + 8 > end) return false
          val ec = be32(b, ps + 4)
          if (ec < 0 || ps + 8 + 8L * ec > end) return false
          var total = 0L; var k = 0
          while (k < ec) {
            total += be32(b, ps + 8 + 8 * k).toLong & 0xFFFFFFFFL
            k += 1
          }
          if (nFrames < 0) nFrames = total
          if (delta < 0 && ec >= 1) delta = be32(b, ps + 12)
        } else if (is4ccAt(b, i, "stsz")) {
          if (ps + 12 > end) return false
          val fixed = be32(b, ps + 4)
          if (sampleSize < 0 && fixed > 0) sampleSize = fixed
          if (nFrames < 0) nFrames = be32(b, ps + 8).toLong & 0xFFFFFFFFL
        } else if (is4ccAt(b, i, "stco")) {
          if (ps + 8 > end) return false
          val ec = be32(b, ps + 4)
          if (nChunks < 0 && ec >= 0) nChunks = ec
          if (chunkOff < 0 && ec >= 1 && ps + 12 <= end)
            chunkOff = be32(b, ps + 8).toLong & 0xFFFFFFFFL
        } else if (is4ccAt(b, i, "co64")) {
          if (ps + 8 > end) return false
          val ec = be32(b, ps + 4)
          if (nChunks < 0 && ec >= 0) nChunks = ec
          if (chunkOff < 0 && ec >= 1 && ps + 16 <= end)
            chunkOff = be64(b, ps + 8)
        }
        i = end
      }
      true
    }
    // the selected trak: dims + mdhd media timescale + sample tables
    def walkVideoTrak(trakPs: Long, trakEnd: Long): Boolean = {
      trakDims(b, trakPs, trakEnd) match {
        case null =>
        case (w, h) => width = w; height = h
      }
      val mdia = findBox(b, trakPs, trakEnd, "mdia")
      if (mdia == null) return true // headerless trak: fields stay null
      val mdhd = findBox(b, mdia._1, mdia._2, "mdhd")
      if (mdhd != null) {
        val ps = mdhd._1.toInt
        val v = b(ps) & 0xFF
        if (v == 1) { if (ps + 24 <= mdhd._2) mediaTs = be32(b, ps + 20) }
        else { if (ps + 16 <= mdhd._2) mediaTs = be32(b, ps + 12) }
      }
      val minf = findBox(b, mdia._1, mdia._2, "minf")
      if (minf == null) return true
      val stbl = findBox(b, minf._1, minf._2, "stbl")
      if (stbl == null) return true
      walkStbl(stbl._1, stbl._2)
    }

    val moovB = findMoov(b)
    if (moovB != null) {
      moovSeen = true
      // mvhd + track count
      var i = moovB._1
      while (!corrupt && i + 8 <= moovB._2) {
        val ps0 = boxPayloadStart(b, i, moovB._2); val end = boxEndAt(b, i, moovB._2)
        if (ps0 < 0 || end < 0 || end > moovB._2) corrupt = true
        else {
          val ps = ps0.toInt
          if (is4ccAt(b, i, "mvhd")) {
            val v = b(ps) & 0xFF
            if (v == 1) {
              if (ps + 32 > end) corrupt = true
              else { timescale = be32(b, ps + 20); durTicks = be64(b, ps + 24) }
            } else {
              if (ps + 20 > end) corrupt = true
              else {
                timescale = be32(b, ps + 12)
                durTicks = be32(b, ps + 16).toLong & 0xFFFFFFFFL
              }
            }
          } else if (is4ccAt(b, i, "trak")) nTracks += 1
          i = end
        }
      }
      if (!corrupt) {
        val trak = findVideoTrak(b, moovB._1, moovB._2)
        if (trak != null && !walkVideoTrak(trak._1, trak._2)) corrupt = true
      }
    } else {
      // distinguish "no moov" (fields null) from a corrupt top level:
      // findMoov returns null for both, so re-validate the top walk
      if (n < 16 || !is4ccAt(b, 0, "ftyp")) return allNull(FmtUnknown)
      var i = 0L
      while (!corrupt && i + 8 <= n) {
        val ps = boxPayloadStart(b, i, n.toLong); val end = boxEndAt(b, i, n.toLong)
        if (ps < 0 || end < 0) corrupt = true
        else if (is4ccAt(b, i, "mdat")) i = if (end > n) n.toLong else end
        else if (end > n) corrupt = true
        else i = end
      }
    }
    if (!corrupt) {
      // mdat declared size (top level; may overrun a header-only payload)
      var i = 0L
      var go = true
      while (go && i + 8 <= n) {
        val ps = boxPayloadStart(b, i, n.toLong); val end = boxEndAt(b, i, n.toLong)
        if (ps < 0 || end < 0) go = false
        else if (is4ccAt(b, i, "mdat")) { mdatSize = end - ps; go = false }
        else if (end > n) go = false
        else i = end
      }
    }
    if (corrupt) return allNull(brand)
    val durUs: Any =
      if (timescale > 0 && durTicks >= 0) durTicks * 1000000L / timescale else null
    videoRow(brand,
      if (timescale > 0) timescale else null,
      if (durTicks >= 0) durTicks else null,
      durUs,
      if (width > 0) width else null,
      if (height > 0) height else null,
      if (moovSeen) nTracks else null,
      if (mediaTs > 0) mediaTs else null,
      if (nFrames >= 0) nFrames else null,
      if (delta > 0) delta else null,
      if (sampleSize > 0) sampleSize else null,
      if (chunkOff >= 0) chunkOff else null,
      if (nChunks >= 0) nChunks else null,
      if (mdatSize >= 0) mdatSize else null)
  }
}
