package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import Kernel._

/** The text kernels: each a [[KernelDecl]] beside its Column constructor
  * and the static method it calls. */
object TextExpressions {

  private[graft] val PolynomialFingerprint = new KernelDecl("graft_fingerprint", Seq(StringIn),
    LongType, this, "fingerprint", Seq(KernelConst("init", LongType, 0L),
      KernelConst("mult", LongType, 31L), KernelConst("mod", LongType, 1000000007L)))

  /** Native codegen'd rolling polynomial fingerprint over a string's bytes:
    * acc = (acc*31 + byte) mod 1e9+7.
    *
    * The HOF formulation (transform over sequence + substr + ascii per char)
    * evaluates ~3 interpreted lambdas per character; this is a tight loop
    * over the UTF8String's bytes inside whole-stage codegen. Byte-wise ==
    * the char-wise definition for ASCII text (the oracle's `ascii(text[i])`
    * equals the byte for ASCII); differential-spec'd against the HOF. */
  def fingerprint(c: Column): Column = PolynomialFingerprint(c)

  /** fp(prefix || text) in ONE loop over text: the fold's accumulator
    * starts at fp(prefix) (polynomial prefix identity). The cheap form of
    * a seeded hash family — no concat, no branches, codegen stays small
    * when several seeds appear in one projection. */
  def seededFingerprint(c: Column, init: Long): Column =
    PolynomialFingerprint.of(Seq(c), init)

  /** Seeded fingerprint from a DIFFERENT (mult, mod) polynomial family.
    * Two same-family fingerprints with different seeds are NOT
    * independent — fp_s1(x) − fp_s2(x) ≡ (s1−s2)·31^len (mod P) depends
    * only on the length — so any construction needing two independent
    * hash coordinates (e.g. a wide sketch hash) must vary the FAMILY,
    * not just the seed. */
  def seededFingerprint(c: Column, init: Long, mult: Long, mod: Long): Column =
    PolynomialFingerprint.of(Seq(c), init, mult, mod)

  /** [[PolynomialFingerprint]]'s fold: acc = (acc*mult + byte) mod `mod`
    * over the string's bytes, from `init`. */
  def fingerprint(s: UTF8String, init: Long, mult: Long, mod: Long): Long = {
    val n = s.numBytes()
    var acc = init // fp(prefix || text) = fold over text seeded with fp(prefix)
    var i = 0
    while (i < n) { acc = (acc * mult + (s.getByte(i) & 0xFF)) % mod; i += 1 }
    acc
  }

  private[graft] val TokenShingles = new KernelDecl("graft_shingles", Seq(StringArrayIn),
    ArrayType(StringType, containsNull = false), this, "shingles",
    Seq(KernelConst("n", IntegerType, min = 1)), whenNull = new GenericArrayData(Array.empty[Any]))

  /** Native codegen'd sliding token n-grams: window i is tokens[i..i+n-1]
    * joined by a single space — one tight loop per row instead of the HOF
    * formulation's interpreted transform+slice+concat_ws per window
    * (CodegenFallback subtrees also get no CSE, so every REFERENCE to the
    * HOF form re-ran the whole traversal; measured 3x on the repetition
    * ratio). Semantics mirror the HOF exactly (differential spec): fewer
    * than n tokens — or a null input array — yield an EMPTY array, and null
    * elements are skipped by the join like concat_ws. */
  def shingles(toks: Column, n: Int): Column = TokenShingles.of(Seq(toks), n)

  private val ShingleSep = UTF8String.fromString(" ")

  /** [[TokenShingles]]' windows: tokens[i..i+n-1] joined by one space. */
  def shingles(arr: ArrayData, n: Int): ArrayData = {
    val m = math.max(0, arr.numElements() - n + 1)
    val out = new Array[Any](m)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < m) {
      var j = 0
      while (j < n) {
        parts(j) = if (arr.isNullAt(i + j)) null else arr.getUTF8String(i + j)
        j += 1
      }
      out(i) = UTF8String.concatWs(ShingleSep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  private[graft] val CharGramCounts = new KernelDecl("graft_char_gram_counts", Seq(StringIn),
    ArrayType(StructType(Seq(StructField("gram", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
    this, "charGramCounts", Seq(KernelConst("n", IntegerType, min = 1)))

  /** Per-document character n-gram counts in ONE pass — `array<struct<gram,
    * cnt>>` sorted by gram (binary order), one entry per DISTINCT gram with
    * its occurrence count (multiplicity — the Cavnar–Trenkle feature space).
    * The HOF formulation (`transform(sequence(...), i => substr(i, n))` then
    * explode + count) evaluates an interpreted Substring lambda per
    * CHARACTER and materializes one row per occurrence before the aggregate;
    * this walks the string's bytes once, slices grams as zero-copy views of
    * one byte array, and counts in a row-local hash map (the GramStats
    * pattern). Texts shorter than n yield an EMPTY array; null yields null
    * — exactly `charNgramsAll`'s contract. */
  def charGramCounts(c: Column, n: Int): Column = CharGramCounts.of(Seq(c), n)

  /** One walk over a string's bytes → (distinct gram, count) hash map of
    * its character n-grams with multiplicity. Grams are zero-copy views
    * of a single byte array. */
  private def charGramMap(s: UTF8String,
      n: Int): java.util.HashMap[UTF8String, Array[Long]] = {
    val bytes = s.getBytes
    val nb = bytes.length
    val offs = new Array[Int](nb + 1)
    var i = 0
    var c = 0
    while (i < nb) {
      offs(c) = i
      c += 1
      i += math.max(1, UTF8String.numBytesForFirstByte(bytes(i)))
    }
    offs(c) = nb
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    var g = 0
    while (g + n <= c) {
      val gram = UTF8String.fromBytes(bytes, offs(g), offs(g + n) - offs(g))
      val prev = m.get(gram)
      if (prev == null) m.put(gram, Array(1L)) else prev(0) += 1L
      g += 1
    }
    m
  }

  /** Static [[CharGramCounts]] helper shared by eval and generated code. */
  def charGramCounts(s: UTF8String, n: Int): ArrayData = {
    val m = charGramMap(s, n)
    val keys = m.keySet().toArray(new Array[UTF8String](m.size()))
    java.util.Arrays.sort(keys,
      java.util.Comparator.naturalOrder[UTF8String]())
    val out = new Array[Any](keys.length)
    var i = 0
    while (i < keys.length) {
      out(i) = new GenericInternalRow(Array[Any](keys(i), m.get(keys(i))(0)))
      i += 1
    }
    new GenericArrayData(out)
  }

  private[graft] val CharGramTopRanks = new KernelDecl("graft_char_gram_top_ranks", Seq(StringIn),
    ArrayType(StructType(Seq(StructField("gram", StringType, nullable = false),
      StructField("rank", LongType, nullable = false))), containsNull = false),
    this, "charGramTopRanks",
    Seq(KernelConst("n", IntegerType, min = 1), KernelConst("m", IntegerType, min = 1)))

  /** The top `m` character n-grams of a document by (count desc, gram asc),
    * as `array<struct<gram, rank>>` with rank 1-based — the ROW-LOCAL form
    * of the per-doc `row_number()` window the CT language-ID apply side ran:
    * a doc's gram ranking depends only on the doc itself, so partitioning a
    * corpus-wide window by doc id paid an exchange + sort for what one
    * in-row sort over the doc's own distinct grams computes exactly. Tie
    * order is the window's (binary gram comparison, matching Spark's
    * non-collated string ordering). Shorter-than-n texts yield an EMPTY
    * array (the explode_outer caller keeps its null-gram row); null yields
    * null. */
  def charGramTopRanks(c: Column, n: Int, m: Int): Column = CharGramTopRanks.of(Seq(c), n, m)

  /** Static [[CharGramTopRanks]] helper shared by eval and generated code:
    * (count desc, gram asc) total order — the window's exactly. */
  def charGramTopRanks(s: UTF8String, n: Int, m: Int): ArrayData = {
    val cnts = charGramMap(s, n)
    val keys = cnts.keySet().toArray(new Array[UTF8String](cnts.size()))
    java.util.Arrays.sort(keys, new java.util.Comparator[UTF8String] {
      override def compare(a: UTF8String, b: UTF8String): Int = {
        val ca = cnts.get(a)(0); val cb = cnts.get(b)(0)
        if (ca != cb) java.lang.Long.compare(cb, ca) else a.compareTo(b)
      }
    })
    val take = math.min(m, keys.length)
    val out = new Array[Any](take)
    var i = 0
    while (i < take) {
      out(i) = new GenericInternalRow(Array[Any](keys(i), (i + 1).toLong))
      i += 1
    }
    new GenericArrayData(out)
  }

  private[graft] val TokenCounts = new KernelDecl("graft_token_counts", Seq(StringIn),
    ArrayType(StructType(Seq(StructField("t", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false))), containsNull = false),
    this, "tokenCounts")

  /** Per-document whitespace-token counts in ONE pass — `array<struct<t,
    * cnt>>` sorted by token (binary order), one entry per DISTINCT token
    * with its occurrence count. Split semantics are EXACTLY
    * `split(text, " ")` (TextOps.tokens): segments between single 0x20
    * bytes, EMPTY segments kept (Spark's split has no-limit = -1: "a  b"
    * → ["a","","b"], "" → [""]) — the empty token is a countable term and
    * must stay one, or NB vocab cuts and counts would drift from the
    * oracle replay. Replaces the explode-per-occurrence → hash-aggregate
    * pass of the NB counting paths with a row-local walk (the GramStats
    * pattern). Null yields null (split's contract). */
  def tokenCounts(c: Column): Column = TokenCounts(c)

  /** Static [[TokenCounts]] helper shared by eval and generated code:
    * one byte walk, segments split at 0x20, empty segments kept (split's
    * no-limit semantics), counts in a hash map, output sorted by token. */
  def tokenCounts(s: UTF8String): ArrayData = {
    val bytes = s.getBytes
    val nb = bytes.length
    val m = new java.util.HashMap[UTF8String, Array[Long]]()
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == 0x20) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        val prev = m.get(tok)
        if (prev == null) m.put(tok, Array(1L)) else prev(0) += 1L
        start = i + 1
      }
      i += 1
    }
    val keys = m.keySet().toArray(new Array[UTF8String](m.size()))
    java.util.Arrays.sort(keys,
      java.util.Comparator.naturalOrder[UTF8String]())
    val out = new Array[Any](keys.length)
    var j = 0
    while (j < keys.length) {
      out(j) = new GenericInternalRow(Array[Any](keys(j), m.get(keys(j))(0)))
      j += 1
    }
    new GenericArrayData(out)
  }

  // markers -> (marker -> slot index, number of slots): built once per
  // kernel instance, shared by every row and by generated code
  private[graft] val TokenMarkerStats = new KernelDecl("graft_token_marker_stats", Seq(StringIn),
    StructType(Seq(StructField("n_tokens", LongType, nullable = false),
      StructField("n_distinct", LongType, nullable = false),
      StructField("n_bpe", LongType, nullable = false),
      StructField("marker_counts", ArrayType(LongType, containsNull = false), nullable = false))),
    this, "tokenMarkerStats", Seq(KernelConst("markers", ArrayType(StringType))),
    args = { (_, cs) =>
      val markers = cs.head.asInstanceOf[Seq[String]]
      val slots = new java.util.HashMap[UTF8String, Integer]()
      markers.zipWithIndex.foreach { case (s, i) =>
        slots.put(UTF8String.fromString(s), Integer.valueOf(i)) }
      Seq(slots, markers.size)
    })

  /** Whole-token statistics of a doc in ONE byte walk — the shared scan
    * behind [[graft.operators.TextOps]]'s per-doc quality signals
    * (uniqueTokenRatio, stopwordRatio, tokenCountBpeIsh, qualityScore,
    * langId). Split semantics are bit-equal to `split(text, ' ')` with
    * empty segments KEPT ('' is one empty token; 'a  b' has an empty middle
    * token) — the [[TokenCounts]] contract. Returns
    * `struct(n_tokens, n_distinct, n_bpe, marker_counts: array<long>)`:
    *  - n_tokens   = number of split segments (what `size(tokens)` sees)
    *  - n_distinct = distinct segments (what `size(array_distinct)` sees)
    *  - n_bpe      = Σ ceil(numChars(tok)/6) — integer (nc+5)/6, which
    *    equals `ceil(length(t)/6.0)` exactly (nc < 2^31, so nc/6.0 is
    *    never within an ulp of an integer unless it IS one)
    *  - marker_counts(i) = occurrences of `markers(i)` (multiplicity),
    *    what `size(filter(toks, t => t === m))` sees
    * The HOF formulation ran one interpreted split + transform/filter/
    * aggregate pass PER SIGNAL REFERENCE (CodegenFallback → no CSE):
    * qualityScore alone re-split the text ~5×, langId ~9×. Null text
    * yields a null struct, so every derived signal stays null. The HOF
    * forms agree only while `size(null)` is null, i.e. with
    * `spark.sql.legacy.sizeOfNull=false` or ANSI mode on; under the
    * legacy setting with ANSI off they give -1-based signals instead.
    * Differential-spec'd against the HOF forms. */
  def tokenMarkerStats(c: Column, markers: Seq[String]): Column =
    TokenMarkerStats.of(Seq(c), markers)

  /** Static [[TokenMarkerStats]] helper shared by eval and generated code:
    * one byte walk, segments split at 0x20, empty segments kept. Tokens
    * are zero-copy views of the input's byte array. */
  def tokenMarkerStats(s: UTF8String,
      markerMap: java.util.HashMap[UTF8String, Integer],
      nMarkers: Int): InternalRow = {
    val bytes = s.getBytes
    val nb = bytes.length
    val distinct = new java.util.HashSet[UTF8String]()
    val mcounts = new Array[Long](nMarkers)
    var nTokens = 0L
    var nBpe = 0L
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == 0x20) {
        val tok = UTF8String.fromBytes(bytes, start, i - start)
        nTokens += 1L
        nBpe += (tok.numChars().toLong + 5L) / 6L
        distinct.add(tok)
        val slot = markerMap.get(tok)
        if (slot != null) mcounts(slot.intValue()) += 1L
        start = i + 1
      }
      i += 1
    }
    val arr = new Array[Any](nMarkers)
    var j = 0
    while (j < nMarkers) { arr(j) = mcounts(j); j += 1 }
    new GenericInternalRow(Array[Any](nTokens, distinct.size().toLong, nBpe,
      new GenericArrayData(arr)))
  }

  private[graft] val MinhashSignature = new KernelDecl("graft_minhash_sig", Seq(StringArrayIn),
    ArrayType(LongType, containsNull = true), this, "minhashSig",
    Seq(KernelConst("seedFps", ArrayType(LongType))),
    args = (_, cs) => Seq(cs.head.asInstanceOf[Seq[Long]].toArray))

  /** All k minhash values of a shingle array in ONE pass — the native form
    * of the polynomial seeded-hash family h_j(s) = (fp("j:")·31^len(s) +
    * fp(s)) mod P used by [[graft.operators.Dedup.MinhashFamily.polynomial]]
    * and the streaming LSH signatures. Per element the byte fold computes
    * fp(s) and 31^numBytes(s) together; each seed then costs one
    * multiply-add-mod against the precomputed seed fingerprints. The HOF
    * formulation (k separate `array_min(transform(...))` passes, all
    * CodegenFallback) walks the array k times through interpreted lambda
    * machinery; the explode+min-agg batch formulation materializes one row
    * per shingle and a hash-aggregate per doc. Values are bit-identical to
    * both (same long arithmetic, no overflow: operands < P ≈ 2^30, products
    * < 2^60) — differential-spec'd against the HOF and agg forms.
    *
    * An array with no non-null element yields all-NULL values (what
    * `array_min` over an empty transform returns); callers filter empty
    * shingle sets before signing, as both previous forms required.
    *
    * This Column signs with the polynomial prefix family: seed j
    * is fp("j:") — matches `prefixedFingerprintFromParts(s"$j:", …)` and
    * the SQL oracle's `fp(concat(j, ':', shingle))` bit for bit. */
  def minhashSigs(shingles: Column, k: Int): Column = {
    require(k >= 1, "minhash_sig: at least one seed")
    val seeds = (0 until k).map(j => graft.operators.TextOps.fingerprintOf(s"$j:"))
    MinhashSignature.of(Seq(shingles), seeds)
  }

  /** Static [[MinhashSignature]] helper shared by eval and generated
    * code: one byte fold per element yields fp(s) and 31^numBytes(s)
    * together; each seed is one multiply-add-mod. */
  def minhashSig(arr: ArrayData, seeds: Array[Long]): ArrayData = {
    val k = seeds.length
    val mins = new Array[Long](k)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val sz = arr.numElements()
    var any = false
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i)) {
        any = true
        val s = arr.getUTF8String(i)
        val nb = s.numBytes()
        var fp = 0L
        var pw = 1L
        var b = 0
        while (b < nb) {
          fp = (fp * 31L + (s.getByte(b) & 0xFF)) % 1000000007L
          pw = pw * 31L % 1000000007L
          b += 1
        }
        var j = 0
        while (j < k) {
          val h = (seeds(j) * pw + fp) % 1000000007L
          if (h < mins(j)) mins(j) = h
          j += 1
        }
      }
      i += 1
    }
    if (!any) // no non-null shingle: every seed's min is NULL (array_min
      // over an empty transform) — callers filter empty sets first
      new GenericArrayData(new Array[Any](k))
    else new GenericArrayData(mins)
  }

  private[graft] val NfcNormalize =
    new KernelDecl("graft_nfc", Seq(StringIn), StringType, this, "nfc")

  /** NFC unicode normalization (UAX#15 canonical composition) as a native
    * expression — real corpora mix precomposed and combining-mark forms of
    * the same visible text, which breaks exact dedup keys and fingerprints.
    * java.text.Normalizer is the JVM's ICU-conformant implementation;
    * codegen emits one static call (the work is inherently per-string, so
    * there is nothing to fuse — the win over a UDF is staying inside
    * whole-stage codegen with UTF8String in/out and no encoder boundary). */
  def nfcNormalize(c: Column): Column = NfcNormalize(c)

  /** Static NFC helper shared by eval and generated code. */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    // fast path: Normalizer.isNormalized avoids the rebuild for the
    // overwhelmingly-common already-NFC string
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  private[graft] val GramStats = new KernelDecl("graft_gram_stats", Seq(StringArrayIn),
    StructType(Seq(StructField("total_chars", LongType, nullable = false),
      StructField("dup_chars", LongType, nullable = false),
      StructField("dup_count", LongType, nullable = false),
      StructField("top_chars", LongType, nullable = false))),
    this, "gramStats", whenNull = new GenericInternalRow(Array[Any](0L, 0L, 0L, 0L)))

  /** One-pass repetition statistics over a string array (token n-grams or
    * lines): `struct(total_chars, dup_chars, dup_count, top_chars)` where
    *  - total_chars = Σ over elements of numChars(e)
    *  - dup_chars   = Σ over distinct values of (cnt−1)·numChars(v) — the
    *    characters contributed by every occurrence AFTER the first
    *  - dup_count   = Σ (cnt−1) — the number of repeat occurrences
    *  - top_chars   = cnt(v*)·numChars(v*) for the most frequent value v*
    *    (count ties break to the binary-smallest string, matching both
    *    `array_sort` order and the oracle's `ORDER BY cnt DESC, gram ASC`)
    * — every Gopher repetition signal's numerator in ONE hash-map pass per
    * row. The sorted-array HOF formulation (array_sort + interpreted
    * zip_with/aggregate folds, all CodegenFallback) measured ~4x slower on
    * the corpus pass; differential-spec'd against it. Null arrays and null
    * elements: the array yields all-zero stats; null elements are skipped. */
  def gramStatsCol(arr: Column): Column = GramStats(arr)

  /** Static GramStats helper shared by eval and generated code: one
    * hash-map pass, then one pass over the distinct values. */
  def gramStats(arr: ArrayData): InternalRow = {
    val sz = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Array[Long]]()
    var totalChars = 0L
    var i = 0
    while (i < sz) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val nc = s.numChars().toLong
        totalChars += nc
        val prev = counts.get(s)
        if (prev == null) counts.put(s, Array(1L, nc)) else prev(0) += 1L
      }
      i += 1
    }
    var dupChars = 0L
    var dupCount = 0L
    var topCnt = 0L
    var topChars = 0L
    var topKey: UTF8String = null
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue()(0); val nc = e.getValue()(1)
      if (cnt > 1L) { dupChars += (cnt - 1L) * nc; dupCount += cnt - 1L }
      if (cnt > topCnt ||
          (cnt == topCnt && topKey != null && e.getKey.compareTo(topKey) < 0)) {
        topCnt = cnt; topChars = cnt * nc; topKey = e.getKey
      }
    }
    new GenericInternalRow(Array[Any](totalChars, dupChars, dupCount, topChars))
  }

  private[graft] val RobotsRules = new KernelDecl("graft_robots_rules", Seq(StringIn),
    ArrayType(StructType(Seq(StructField("allow", BooleanType, nullable = false),
      StructField("prefix", StringType, nullable = false))), containsNull = false),
    this, "robotsRules")

  /** robots.txt rule extraction (RFC 9309 / the original REP) for the `*`
    * agent: one parse per robots payload → array of (allow, path-prefix)
    * rules. Group semantics per the RFC: consecutive `User-agent` lines
    * stack onto one group; the first rule line closes the agent run, and
    * a later `User-agent` starts a NEW group; rules attach to every agent
    * of their group; comments (`#`) and empty values are dropped (an
    * empty `Disallow:` disallows nothing). A corpus pipeline parses each
    * host's robots ONCE, then joins the rules array onto that host's
    * URLs — [[RobotsAllowed]] evaluates the array per URL without
    * re-parsing. Null text → null; a robots with no `*` group yields an
    * EMPTY array (everything allowed), which is a different fact than
    * "no robots at all". */
  def robotsRules(c: Column): Column = RobotsRules(c)

  /** Static [[RobotsRules]] helper shared by eval and generated code. */
  def robotsRules(text: UTF8String): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var starGroup = false // the current group's agents include *
    var inRules = false   // rule lines seen since the last User-agent
    text.toString.linesIterator.foreach { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash >= 0) raw.substring(0, hash) else raw).trim
      if (line.nonEmpty) {
        val sep = line.indexOf(':')
        if (sep > 0) {
          val name = line.substring(0, sep).trim.toLowerCase
          val value = line.substring(sep + 1).trim
          name match {
            case "user-agent" =>
              if (inRules) { starGroup = false; inRules = false }
              if (value == "*") starGroup = true
            case "allow" | "disallow" =>
              inRules = true
              if (starGroup && value.nonEmpty) out += new GenericInternalRow(
                Array[Any](name == "allow", UTF8String.fromString(value)))
            case _ => inRules = true // crawl-delay etc. close the agent run
          }
        }
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** RFC 9309 path-pattern match: literal octets, `*` matching any
    * run, `$` (pattern-final only) anchoring to the path's end. Plain
    * prefixes — the overwhelmingly common case — take the startsWith
    * fast path. */
  def robotsMatches(path: String, pattern: String): Boolean = {
    val anchored = pattern.endsWith("$")
    val pat = if (anchored) pattern.dropRight(1) else pattern
    if (!anchored && pat.indexOf('*') < 0) return path.startsWith(pat)
    val segs = pat.split("\\*", -1)
    if (!path.startsWith(segs(0))) return false
    if (segs.length == 1) return if (anchored) path == segs(0) else true
    var pos = segs(0).length
    var i = 1
    val last = segs.length - 1
    while (i < last) {
      val s = segs(i)
      if (s.nonEmpty) {
        val idx = path.indexOf(s, pos)
        if (idx < 0) return false
        pos = idx + s.length
      }
      i += 1
    }
    val lastSeg = segs(last)
    if (anchored)
      lastSeg.isEmpty ||
        (path.length - lastSeg.length >= pos && path.endsWith(lastSeg))
    else lastSeg.isEmpty || path.indexOf(lastSeg, pos) >= 0
  }

  private[graft] val RobotsAllowed = new KernelDecl("graft_robots_allowed",
    Seq(StructArrayIn, StringIn), BooleanType, this, "robotsAllowed")

  /** RFC 9309 URL decision against a [[RobotsRules]] array: the matching
    * rule with the LONGEST prefix wins; an allow/disallow tie at equal
    * length resolves to allow; no matching rule means allowed. Evaluated
    * per URL against the host's parsed rules — no re-parse. */
  def robotsAllowed(rules: Column, path: Column): Column = RobotsAllowed(rules, path)

  /** Static [[RobotsAllowed]] helper shared by eval and generated code:
    * most-specific rule wins, specificity = the raw pattern's length in
    * characters (RFC 9309 "longest match" octet rule); an allow/
    * disallow tie at equal length resolves to allow. */
  def robotsAllowed(rules: ArrayData, path: UTF8String): Boolean = {
    val p = path.toString
    var bestLen = -1
    var allow = true
    var i = 0
    while (i < rules.numElements()) {
      val r = rules.getStruct(i, 2)
      val pattern = r.getUTF8String(1).toString
      if (robotsMatches(p, pattern)) {
        if (pattern.length > bestLen) { bestLen = pattern.length; allow = r.getBoolean(0) }
        else if (pattern.length == bestLen && r.getBoolean(0)) allow = true
      }
      i += 1
    }
    allow
  }

  private[graft] val RobotsDirectives = new KernelDecl("graft_robots_directives", Seq(StringIn),
    StructType(Seq(StructField("crawl_delay_ms", LongType, nullable = true),
      StructField("sitemaps", ArrayType(StringType, containsNull = false), nullable = false))),
    this, "robotsDirectives")

  /** Non-rule robots.txt directives, one parse per payload:
    * `struct(crawl_delay_ms: bigint, sitemaps: array<string>)`.
    *
    * `Crawl-delay` (de-facto REP extension honored by Bing/Yandex; the
    * politeness budget a crawl scheduler multiplies by a host's URL count)
    * is GROUP-scoped exactly like allow/disallow: only values inside a
    * `*` group count, the last `*`-group value wins (later directives
    * override earlier ones, the common parser behavior), and fractional
    * seconds are honored — the value is emitted in integral MILLISECONDS
    * (half-up) so downstream arithmetic stays exact. Unparseable or
    * negative values are ignored. Null when no `*` group sets one.
    *
    * `Sitemap` (sitemaps.org protocol) is GROUP-INDEPENDENT: every
    * sitemap URL anywhere in the file is collected, in file order,
    * duplicates preserved (dedup is the caller's policy decision).
    *
    * Group-formation semantics are byte-identical to [[RobotsRules]]:
    * both directives are rule-type lines that close an agent run
    * (`crawl-delay` per the sibling parser's documented behavior;
    * `sitemap` conservatively matches [[RobotsRules]]'s treatment of
    * unknown lines so the two expressions always agree on where the
    * `*` group's rules start and stop on the same payload). */
  def robotsDirectives(c: Column): Column = RobotsDirectives(c)

  /** Static [[RobotsDirectives]] helper shared by eval and generated
    * code. The line walker is kept in lockstep with [[robotsRules]]:
    * same comment strip, same `name: value` split (a sitemap URL's own
    * colons sit right of the FIRST colon), same group formation. */
  def robotsDirectives(text: UTF8String): InternalRow = {
    val sitemaps = scala.collection.mutable.ArrayBuffer.empty[Any]
    var delayMs: java.lang.Long = null // boxed: null = no *-group value
    var starGroup = false
    var inRules = false
    text.toString.linesIterator.foreach { raw =>
      val hash = raw.indexOf('#')
      val line = (if (hash >= 0) raw.substring(0, hash) else raw).trim
      if (line.nonEmpty) {
        val sep = line.indexOf(':')
        if (sep > 0) {
          val name = line.substring(0, sep).trim.toLowerCase
          val value = line.substring(sep + 1).trim
          name match {
            case "user-agent" =>
              if (inRules) { starGroup = false; inRules = false }
              if (value == "*") starGroup = true
            case "crawl-delay" =>
              inRules = true
              if (starGroup && value.nonEmpty)
                try {
                  val ms = (BigDecimal(value) * 1000)
                    .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLongExact
                  if (ms >= 0) delayMs = ms // last *-group value wins
                } catch { case scala.util.control.NonFatal(_) => }
            case "sitemap" =>
              inRules = true
              if (value.nonEmpty) sitemaps += UTF8String.fromString(value)
            case _ => inRules = true
          }
        }
      }
    }
    new GenericInternalRow(Array[Any](
      if (delayMs == null) null else delayMs.longValue(),
      new GenericArrayData(sitemaps.toArray)))
  }
}
