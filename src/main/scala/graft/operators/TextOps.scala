package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language-ID heuristic,
  * document fingerprinting, SimHash.
  *
  * Everything is a pure Catalyst expression (higher-order array functions,
  * codegen'd, no UDFs) so at 100 TB each doc is scored in a single narrow
  * map pass — no shuffle, no driver involvement; filters and column pruning
  * push down around it.
  */
object TextOps {

  /** Whitespace tokenization; the testdata corpus is single-space joined. */
  def tokens(text: Column): Column = split(text, " ")

  /** fp(prefix || text) via the polynomial identity
    * fp(a ++ b) = (fp(a) * 31^len(b) + fp(b)) mod P — ONE fingerprint
    * loop over the text plus a fused multiply-mod, instead of re-walking
    * `prefix+text` per seed. Used by the seeded hash families (minhash
    * permutations, simhash bit groups): k seeds share the single fp(text).
    * Texts >= 4096 bytes fall back to the direct concat form (identical
    * value, just not table-accelerated). */
  def prefixedFingerprint(prefix: String, text: Column): Column = {
    val fast = (lit(fingerprintOf(prefix)) * element_at(Pow31Lit, octet_length(text) + 1)
      + fingerprint(text)) % lit(1000000007L)
    when(octet_length(text) < Pow31Size, fast)
      .otherwise(graft.expr.TextExpressions.seededFingerprint(text, fingerprintOf(prefix)))
  }

  /** The per-text components of [[prefixedFingerprint]], computed ONCE so k
    * seeded hashes can share them: `fp` = fp(text) and `pw` = 31^len(text)
    * mod P. Project these in the row-producing stage and build each seed's
    * hash with [[prefixedFingerprintFromParts]] — two multiplies and a mod
    * per seed, instead of k independent fingerprint trees (aggregate
    * inputs don't share subexpressions the way a projection does; the k=16
    * minhash formulation that inlined the full tree per seed measured 2.4x
    * the whole-query time).
    *
    * For texts beyond the pow table, 31^n mod P falls out of two seeded
    * folds: seededFp(s, 1) - seededFp(s, 0) = 31^len(s) (mod P). */
  def fingerprintParts(text: Column): Seq[(String, Column)] = Seq(
    "fp" -> fingerprint(text),
    "pw" -> when(octet_length(text) < Pow31Size,
        element_at(Pow31Lit, octet_length(text) + 1))
      .otherwise((graft.expr.TextExpressions.seededFingerprint(text, 1L)
        - fingerprint(text) + lit(1000000007L)) % lit(1000000007L)))

  /** fp(prefix || text) from shared parts; identical value to
    * [[prefixedFingerprint]] at every length (polynomial identity,
    * unconditional). */
  def prefixedFingerprintFromParts(prefix: String, fp: Column, pw: Column): Column =
    (lit(fingerprintOf(prefix)) * pw + fp) % lit(1000000007L)

  /** Driver-side fingerprint of a constant (same byte-wise fold as the
    * native expression). */
  private[graft] def fingerprintOf(s: String): Long = {
    var acc = 0L
    s.getBytes("UTF-8").foreach(b => acc = (acc * 31L + (b & 0xFF)) % 1000000007L)
    acc
  }

  private val Pow31Size = 4096
  private lazy val Pow31Lit: Column = {
    val a = new Array[Long](Pow31Size)
    a(0) = 1L
    (1 until Pow31Size).foreach(i => a(i) = a(i - 1) * 31L % 1000000007L)
    typedLit(a.toSeq)
  }

  /** Sliding CHARACTER n-grams (distinct) — the unit for fuzzy string
    * matching / record linkage, where token shingles are too coarse.
    * Strings shorter than n yield an empty array. */
  def charNgrams(s: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), length(s) - (n - 1)),
      i => s.substr(i, lit(n)))
    array_distinct(
      when(length(s) >= n, grams)
        .otherwise(array().cast(ArrayType(StringType))))
  }

  /** Corpus vocabulary: token -> occurrence count. One explode + a
    * map-side-combined count — the canonical vocab-building shape at any
    * corpus size (compose with a min-count filter at 100 TB to bound the
    * result; the shuffle already carries one row per distinct token per
    * map partition, not per occurrence). */
  def vocabulary(docs: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame =
    // row-local per-doc counting (graft_token_counts): the explode now
    // carries one row per DISTINCT token per doc, not per occurrence;
    // the grouped sum equals the grouped occurrence count exactly
    docs.select(explode(graft.expr.TextExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col("tc.t").as("token"), col("tc.cnt").as("__c0"))
      .groupBy(col("token")).agg(sum(col("__c0")).as("n"))

  /** Per-document out-of-vocabulary profile against a bounded vocab
    * table (tokenizer coverage check before training: docs full of OOV
    * tokens burn context on byte-fallback). One explode + a broadcast
    * left join against the vocab + a per-doc re-aggregate — the corpus
    * is tokenized once and never shuffled on text. Output: idCol,
    * n_tokens, n_oov, oov_rate. */
  def oovProfile(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, vocab: org.apache.spark.sql.DataFrame,
      vocabCol: String): org.apache.spark.sql.DataFrame = {
    // row-local per-doc counts: the broadcast join probes one row per
    // DISTINCT token per doc; occurrence totals fold back by summing cnt
    val tok = docs.select(col(idCol),
        explode(graft.expr.TextExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.t").as("__tok"), col("tc.cnt").as("__tc"))
    val v = vocab.select(col(vocabCol).as("__tok")).distinct()
      .withColumn("__in", lit(1))
    tok.join(broadcast(v), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("__tc")).as("n_tokens"),
        coalesce(sum(when(col("__in").isNull, col("__tc"))), lit(0L)).as("n_oov"))
      .withColumn("oov_rate",
        col("n_oov").cast(org.apache.spark.sql.types.DoubleType) / col("n_tokens"))
  }

  /** Incremental vocabulary maintenance: merge a NEW batch's token counts
    * into a persisted [[vocabulary]] table WITHOUT re-scanning the corpus
    * — token counts are mergeable state (like the bloom/minhash index
    * flows), so a 100 TB corpus is tokenized once, ever, and each ingest
    * batch contributes one batch-sized pass + a vocab-sized union-sum.
    * Every consumer of the counts (unigramLogProb's LM, dsirLogWeights'
    * raw side, KL drift's corpus totals) accepts the merged table via
    * their count-table inputs or recomputes from it. */
  def mergeVocabCounts(existing: org.apache.spark.sql.DataFrame,
      batch: org.apache.spark.sql.DataFrame, textCol: String)
      : org.apache.spark.sql.DataFrame =
    existing.unionByName(vocabulary(batch, textCol))
      .groupBy(col("token")).agg(sum(col("n")).as("n"))

  /** Sliding token n-grams joined by a space: the standard shingle unit
    * for near-dup detection. Native codegen'd expression (one tight loop
    * per row, inside WSCG); the HOF formulation below ran an interpreted
    * transform+slice+concat_ws per window and, being CodegenFallback, was
    * re-evaluated at EVERY reference (no CSE). */
  def shingles(toks: Column, n: Int): Column =
    graft.expr.TextExpressions.shingles(toks, n)

  /** HOF formulation, kept for differential testing. (Among HOF variants,
    * position-sequence + slice measured fastest: 1.7 s / 256k shingles vs
    * 5.1 s per-element element_at and 3.2 s transform + post-filter.) */
  private[graft] def shinglesHof(toks: Column, n: Int): Column = {
    val sh = transform(sequence(lit(0), size(toks) - n), i =>
      concat_ws(" ", slice(toks, i + 1, lit(n))))
    when(size(toks) >= n, sh).otherwise(array().cast(ArrayType(StringType)))
  }

  /** Byte-pair-encoding tokenizer TRAINING (the Sennrich merge loop) at
    * corpus scale. The corpus collapses to a word-frequency table in ONE
    * map-side-combined pass — the 100 TB corpus is scanned once and
    * never iterated — and the merge loop runs DRIVER-side over that
    * table, exactly like every reference BPE trainer (and like
    * [[graft.operators.Similarity.ivfTopK]]'s Lloyd): numMerges rounds
    * of pair counting over the vocab, kilobytes-to-megabytes of math.
    * `maxWords` bounds the driver table (top-K by count, ties by word —
    * deterministic); `minWordCount` drops the long hapax tail first.
    * Ties in the merge argmax break lexicographically, so the rules are
    * reproducible run-to-run and cluster-to-cluster.
    * Returns the ordered merge rules (left symbol, right symbol). */
  def trainBpe(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, minWordCount: Long = 1L,
      maxWords: Int = 1 << 20): Seq[(String, String)] = {
    val wcDf = docs.select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minWordCount)
      .orderBy(col("__n").desc, col("__w"))
      .limit(maxWords)
    val words: Array[(Array[String], Long)] = wcDf.collect()
      .map(r => (r.getString(0).map(_.toString).toArray, r.getLong(1)))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var syms = words
    var i = 0
    while (i < numMerges) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      syms.foreach { case (s, n) =>
        var j = 0
        while (j < s.length - 1) {
          val p = (s(j), s(j + 1))
          pairCounts.update(p, pairCounts.getOrElse(p, 0L) + n)
          j += 1
        }
      }
      if (pairCounts.isEmpty) i = numMerges
      else {
        val best = pairCounts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }._1
        merges += best
        val joined = best._1 + best._2
        syms = syms.map { case (s, n) =>
          if (s.length < 2) (s, n)
          else {
            val out = scala.collection.mutable.ArrayBuffer.empty[String]
            var j = 0
            while (j < s.length) {
              if (j < s.length - 1 && s(j) == best._1 && s(j + 1) == best._2) {
                out += joined; j += 2
              } else { out += s(j); j += 1 }
            }
            (out.toArray, n)
          }
        }
        i += 1
      }
    }
    merges.toSeq
  }

  /** BPE training with DISTRIBUTED pair counting — removes [[trainBpe]]'s
    * `maxWords` driver cap for web-scale vocabularies (hash-like tokens,
    * URLs, code identifiers can push the word table past driver memory).
    * The word-frequency table stays a DataFrame; each of the `numMerges`
    * rounds is (a) one partial-merged pair-count aggregate + a 1-row
    * argmax fetch (count DESC, then pair — Spark's binary UTF8 string
    * order, == Java order for ASCII corpora), and (b) a narrow fold-HOF
    * pass rewriting each word's symbol array, localCheckpoint'ed so the
    * iterative lineage never accumulates. The fold is exactly
    * [[applyBpe]]'s left-to-right non-overlapping scan: after a merge
    * the stack top is `a+b`, which can only spuriously re-match as the
    * left symbol if `b` were empty — impossible. k rounds x two
    * vocab-sized jobs; the corpus itself is still scanned ONCE, ever.
    * [[trainBpe]] remains the small-vocab fast path (one job total);
    * the spec gates both paths merge-for-merge identical. */
  def trainBpeDistributed(docs: org.apache.spark.sql.DataFrame, textCol: String,
      numMerges: Int, minWordCount: Long = 1L): Seq[(String, String)] = {
    var state = docs.select(explode(tokens(col(textCol))).as("__w"))
      .filter(length(col("__w")) > 0)
      .groupBy(col("__w")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= minWordCount)
      .select(split(col("__w"), "").as("syms"), col("__n").as("n"))
      .localCheckpoint()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val pairs = state
        .filter(size(col("syms")) >= 2)
        .select(explode(transform(sequence(lit(0), size(col("syms")) - 2), i =>
          struct(element_at(col("syms"), i + 1).as("a"),
            element_at(col("syms"), i + 2).as("b")))).as("p"), col("n"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("n")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (pairs.isEmpty) exhausted = true
      else {
        val (a, b) = (pairs(0).getString(0), pairs(0).getString(1))
        merges += ((a, b))
        val next = state.withColumn("syms",
          aggregate(col("syms"),
            array().cast(ArrayType(StringType)),
            (acc, x) =>
              // try_element_at: null (not an ANSI error) on the empty
              // initial accumulator -> falls through to the append branch
              when(try_element_at(acc, lit(-1)) === lit(a) && x === lit(b),
                concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
                .otherwise(concat(acc, array(x)))))
          .localCheckpoint()
        state = next
        round += 1
      }
    }
    merges.toSeq
  }

  /** Apply trained BPE merges to one word (driver-side helper for
    * tests / vocab inspection — production tokenization bakes the final
    * merge table into a scan-side expression or dictionary). */
  private[graft] def applyBpe(word: String, merges: Seq[(String, String)]): Seq[String] = {
    var s: Array[String] = word.map(_.toString).toArray
    merges.foreach { case (a, b) =>
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var j = 0
      while (j < s.length) {
        if (j < s.length - 1 && s(j) == a && s(j + 1) == b) { out += (a + b); j += 2 }
        else { out += s(j); j += 1 }
      }
      s = out.toArray
    }
    s.toSeq
  }

  /** Compression-ratio quality signal: deflate(level 6) size / raw UTF-8
    * size. Highly repetitive or templated text compresses far harder than
    * natural prose (ratios below ~0.3 are a strong boilerplate signal;
    * random/encrypted payloads sit near or above 1.0), which makes this
    * the cheap one-number complement to [[repetitionSignals]]. One
    * `Deflater` per PARTITION (the native zlib state is the expensive
    * part — the same codec-amortization argument as the multimodal decode
    * stub), reset per row; rows stream through without materializing the
    * partition. Tiny strings can exceed 1.0 (fixed deflate header); empty
    * or null text yields null. Values are deterministic for a fixed zlib
    * (same JVM fleet-wide) but NOT portable across engines, so this is
    * spec-gated, not oracle-gated. */
  def withCompressionRatio(df: org.apache.spark.sql.DataFrame, textCol: String,
      out: String = "compress_ratio"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val schema = StructType(df.schema.fields :+ StructField(out, DoubleType, true))
    val idx = df.schema.fieldIndex(textCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      val deflater = new java.util.zip.Deflater(6)
      val buf = new Array[Byte](64 * 1024)
      // zlib state is NATIVE memory — release it when the TASK ends, not
      // at finalization (thousands of partitions per long-lived executor
      // would accumulate off-heap otherwise). The task-completion listener
      // covers early termination too (limit/take/failed task), where the
      // iterator is never drained and an exhaustion check alone would leak.
      var ended = false
      def end(): Unit = if (!ended) { deflater.end(); ended = true }
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => end()))
      val it = rows.map { r =>
        val text = r.get(idx).asInstanceOf[String]
        val ratio: Any =
          if (text == null || text.isEmpty) null
          else {
            val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var compressed = 0L
            while (!deflater.finished())
              compressed += deflater.deflate(buf)
            compressed.toDouble / raw.length
          }
        Row.fromSeq(r.toSeq :+ ratio)
      }
      new Iterator[Row] {
        override def hasNext: Boolean = {
          val h = it.hasNext
          if (!h) end() // eager release on drain (also covers no-TaskContext
          h             // local iteration, e.g. toLocalIterator in tests)
        }
        override def next(): Row = it.next()
      }
    }(enc)
  }

  /** Compressibility GATE: classifies each row by a compressibility
    * ratio column — `too_repetitive` below `lo` (templated/boilerplate
    * text; zlib ratios under ~0.3 are the classic signal),
    * `high_entropy` above `hi` (random/encoded payloads compress at or
    * above 1.0), `missing` for null, `ok` otherwise — plus a
    * `compress_keep` boolean (keep == ok). The ratio source is
    * pluggable: [[withCompressionRatio]]'s real zlib ratio (JVM-exact,
    * spec-gated), or any engine-portable proxy such as distinct-bigram
    * diversity (oracle-gated in `q_compress_gate`). Pure codegen'd
    * CASE — the gate itself adds no shuffle, no UDF, nothing that
    * wouldn't fold into the surrounding scan at 100 TB. */
  def compressionGate(df: org.apache.spark.sql.DataFrame, ratioCol: String,
      lo: Double, hi: Double, flagOut: String = "compress_flag",
      keepOut: String = "compress_keep"): org.apache.spark.sql.DataFrame =
    df.withColumn(flagOut,
        when(col(ratioCol).isNull, lit("missing"))
          .when(col(ratioCol) < lo, lit("too_repetitive"))
          .when(col(ratioCol) > hi, lit("high_entropy"))
          .otherwise(lit("ok")))
      .withColumn(keepOut, col(flagOut) === "ok")

  /** Distributed BPE tokenizer APPLICATION: the trained merge rules
    * ([[trainBpe]], kilobytes) ship in the task closure and every doc
    * re-tokenizes in one narrow mapPartitions pass — no shuffle, no
    * driver involvement; at 100 TB this is a pure scan→project stage.
    * Space-separated words encode independently with [[applyBpe]]'s
    * in-order merge loop (the spec gates distributed == driver-side).
    * Appends `out` (array<string>); null text yields null. */
  def withBpeTokens(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Seq[(String, String)],
      out: String = "bpe_tokens"): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Row
    val schema = StructType(df.schema.fields :+
      StructField(out, ArrayType(StringType), true))
    val idx = df.schema.fieldIndex(textCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      // word -> pieces memo, one per partition: natural-language corpora
      // reuse a bounded vocabulary, so each distinct word pays the merge
      // loop once and every later occurrence is a hash lookup (measured
      // 2.9 -> 0.9 s on the corpus pass). Bounded to keep worst-case
      // (hash-like unique tokens) memory flat.
      val memo = new java.util.HashMap[String, Seq[String]]()
      val memoCap = 1 << 20
      def encode(w: String): Seq[String] = {
        val hit = memo.get(w)
        if (hit != null) hit
        else {
          val pieces = applyBpe(w, merges)
          if (memo.size < memoCap) memo.put(w, pieces)
          pieces
        }
      }
      rows.map { r =>
        val text = r.get(idx).asInstanceOf[String]
        val toks: Any =
          if (text == null) null
          else text.split(' ').toSeq.flatMap(encode)
        Row.fromSeq(r.toSeq :+ toks)
      }
    }(enc)
  }

  /** Per-group unigram KL divergence vs the whole corpus — the source
    * drift / mixture-quality signal: KL(P_group ‖ P_corpus) in bits,
    * near 0 for a source that looks like the mix, large for an outlier
    * (spam feed, wrong language, templated content). No smoothing
    * needed: every group token is in the corpus by construction, so
    * p(t) > 0 wherever p_g(t) > 0. Returns (group, n_tokens, kl_bits).
    *
    * Shape (100 TB): one explode + a partial-aggregated (group, token)
    * count, pinned with a localCheckpoint — the group totals, corpus
    * token totals, and grand total are all derived aggregates of that
    * one vocab×groups-sized table, and WITHOUT the pin Catalyst pushes
    * each one down into its own full tokenize pass (the three exchanges
    * hash different keys, so ReuseExchange never fires; measured: four
    * scans of the corpus). The joins carry vocab-sized tables. */
  def unigramKlDivergence(docs: org.apache.spark.sql.DataFrame,
      textCol: String, groupCol: String): org.apache.spark.sql.DataFrame = {
    val tk = docs.select(col(groupCol).as("__g"),
      explode(tokens(col(textCol))).as("__t"))
    val gt = tk.groupBy(col("__g"), col("__t")).agg(count(lit(1)).as("__ngt"))
      .localCheckpoint()
    val ng = gt.groupBy(col("__g")).agg(sum(col("__ngt")).as("__ng"))
    val nt = gt.groupBy(col("__t")).agg(sum(col("__ngt")).as("__nt"))
    val tot = gt.agg(sum(col("__ngt")).as("__n"))
    val pg = col("__ngt").cast(DoubleType) / col("__ng")
    val p = col("__nt").cast(DoubleType) / col("__n")
    gt.join(ng, "__g").join(nt, "__t").crossJoin(broadcast(tot))
      .groupBy(col("__g").as(groupCol), col("__ng").as("n_tokens"))
      .agg(sum(pg * log2(pg / p)).as("kl_bits"))
  }

  /** Corpus TF-IDF: one row per (doc, token) with tf = in-doc term count,
    * idf = ln((N+1)/(df+1)) + 1 (smoothed, sklearn-style), tf_idf = tf*idf.
    * Shape: one explode + two map-side-combined aggregations + a
    * vocab-sized join (AQE broadcasts it when it fits; at 100 TB the vocab
    * side is orders of magnitude smaller than the corpus). `nDocs` skips
    * the count job when the caller already knows N. */
  def tfIdf(docs: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      nDocs: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    val n = nDocs.getOrElse(docs.count())
    // tf depends only on the doc itself — row-local counting
    // (graft_token_counts) replaces the explode-per-occurrence +
    // (doc, token) exchange; identical (doc, token, tf) rows
    val tf = docs.select(col(idCol),
        explode(graft.expr.TextExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.t").as("token"), col("tc.cnt").as("tf"))
    val dfreq = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    tf.join(dfreq, Seq("token"))
      .withColumn("idf", log(lit(n + 1.0) / (col("df") + lit(1.0))) + lit(1.0))
      .withColumn("tf_idf", col("tf") * col("idf"))
      .select(col(idCol), col("token"), col("tf"), col("df"), col("idf"), col("tf_idf"))
  }

  /** Per-doc average unigram log-probability — the perplexity-proxy
    * quality signal: a corpus-wide unigram LM (token frequencies / total)
    * scores each document by mean ln p(token). Low scores flag
    * gibberish / OOV-heavy docs the heuristic ratios miss; high scores
    * flag dull boilerplate — both tails are curation targets. Shape:
    * explode once, vocab aggregate (map-side combined, vocab-sized
    * output → AQE broadcasts the join back), per-doc aggregate.
    * The vocab table is cache()-pinned for its two consumers (totals +
    * join); long-lived sessions should sweep storage between batches
    * (`spark.catalog.clearCache()` — the Bench/Verify harnesses do). */
  def unigramLogProb(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, nTokens: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    // row-local per-doc counts (graft_token_counts): the corpus explode
    // carries one row per distinct token per doc; the LM aggregate sums
    // cnt, and the per-doc mean folds cnt·ln p over distinct tokens
    // (≡ Σ ln p over occurrences; the face rounds at 6dp, far above the
    // ~1e-13 double-summation scatter both forms carry)
    val tok = docs.select(col(idCol),
        explode(graft.expr.TextExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.t").as("token"), col("tc.cnt").as("__tc"))
    val vocab = tok.groupBy(col("token")).agg(sum(col("__tc")).as("c")).cache()
    // total token count folds out of the (cached, vocab-sized) aggregate —
    // NOT a third full tokenize pass over the corpus
    val n = nTokens.getOrElse(
      vocab.agg(sum(col("c"))).head().getLong(0))
    tok.join(vocab, Seq("token"))
      .groupBy(col(idCol))
      .agg((sum(col("__tc") * log(col("c").cast(DoubleType) / n)) / sum(col("__tc")))
          .as("avg_logprob"),
        sum(col("__tc")).as("n_tokens"))
  }

  /** Adjacent token pairs as (prev, cur) structs — the bigram stream for
    * collocation mining and bigram LMs. A doc of n tokens yields n-1
    * pairs; single-token docs yield none (both slices are empty). */
  private def adjacentPairs(toks: Column): Column =
    zip_with(
      slice(toks, lit(1), size(toks) - 1),
      slice(toks, lit(2), size(toks) - 1),
      (a, b) => struct(a.as("prev"), b.as("cur")))

  /** Collocation mining via pointwise mutual information over ADJACENT
    * token pairs: pmi(a,b) = ln( p(a,b) / (p(a)·p(b)) ), with p(a,b) from
    * the bigram count stream and p(·) from the unigram stream. High-PMI
    * pairs are multiword expressions ("new york"); low-PMI high-count
    * pairs are grammatical glue — both standard corpus-profiling signals.
    * `minCount` drops the unstable low-count tail (PMI's known bias
    * toward hapax pairs).
    *
    * Shape (100 TB): two exploded passes over the corpus collapse into
    * map-side-combined vocab-sized count tables; the unigram joins onto
    * the bigram table are vocab-sized (AQE broadcasts); nothing shuffles
    * at corpus size. Output: (tok_a, tok_b, pair_count, pmi). Count
    * tables are cache()-pinned (totals + join consumers); sweep storage
    * between batches in long-lived sessions. */
  def pmiCollocations(docs: org.apache.spark.sql.DataFrame, textCol: String,
      minCount: Long = 5): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(tokens(col(textCol)).as("__toks"))
    val uni = toks.select(explode(col("__toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c")).cache()
    val nU = uni.agg(sum(col("c"))).head().getLong(0)
    val bi = toks.select(explode(adjacentPairs(col("__toks"))).as("__p"))
      .groupBy(col("__p.prev").as("tok_a"), col("__p.cur").as("tok_b"))
      .agg(count(lit(1)).as("pair_count")).cache()
    val nB = bi.agg(sum(col("pair_count"))).head().getLong(0)
    bi.filter(col("pair_count") >= minCount)
      .join(uni.select(col("t").as("tok_a"), col("c").as("__ca")), Seq("tok_a"))
      .join(uni.select(col("t").as("tok_b"), col("c").as("__cb")), Seq("tok_b"))
      .withColumn("pmi",
        log((col("pair_count").cast(DoubleType) / nB) /
          ((col("__ca").cast(DoubleType) / nU) * (col("__cb").cast(DoubleType) / nU))))
      .select(col("tok_a"), col("tok_b"), col("pair_count"), col("pmi"))
  }

  /** Per-doc average bigram log-probability under a stupid-backoff LM
    * (Brants et al. 2007) trained on `lm`: score(w_i | w_{i-1}) =
    * c(w_{i-1} w_i) / c(w_{i-1}) when the bigram is attested, else
    * α · (c(w_i) + 0.5) / (N + 0.5·(V+1)) — the unsmoothed conditional
    * backs off to an additively-smoothed unigram (the +1 in V covers
    * OOV tokens, so every score is defined and the log never -∞).
    * Sharper than [[unigramLogProb]] as a fluency/perplexity proxy:
    * word-salad with plausible unigrams still scores low. Train `lm` on
    * a clean subsample; docs with <2 tokens have no bigrams and drop.
    *
    * Shape (100 TB): the LM passes collapse to vocab²-bounded count
    * tables (in practice ~vocab-sized — attested bigrams only); scoring
    * is one exploded pass over `docs` with three vocab-sized joins
    * (broadcast under AQE) and a per-doc aggregate.
    * Output: (idCol, avg_logprob2, n_bigrams). */
  def bigramLogProb(docs: org.apache.spark.sql.DataFrame, textCol: String,
      idCol: String, lm: org.apache.spark.sql.DataFrame,
      alpha: Double = 0.4): org.apache.spark.sql.DataFrame = {
    require(alpha > 0, "bigramLogProb: alpha must be > 0")
    val lmToks = lm.select(tokens(col(textCol)).as("__toks"))
    val uni = lmToks.select(explode(col("__toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c1")).cache()
    val totals = uni.agg(sum(col("c1")), count(lit(1))).head()
    val (n, v) = (totals.getLong(0), totals.getLong(1))
    val bi = lmToks.select(explode(adjacentPairs(col("__toks"))).as("__p"))
      .groupBy(col("__p.prev").as("prev"), col("__p.cur").as("cur"))
      .agg(count(lit(1)).as("c2"))
    docs.select(col(idCol), explode(adjacentPairs(tokens(col(textCol)))).as("__p"))
      .select(col(idCol), col("__p.prev").as("prev"), col("__p.cur").as("cur"))
      .join(bi, Seq("prev", "cur"), "left")
      .join(uni.select(col("t").as("prev"), col("c1").as("__cp")), Seq("prev"), "left")
      .join(uni.select(col("t").as("cur"), col("c1").as("__cc")), Seq("cur"), "left")
      .withColumn("__lp",
        when(col("c2").isNotNull, log(col("c2").cast(DoubleType) / col("__cp")))
          .otherwise(lit(math.log(alpha)) +
            log((coalesce(col("__cc"), lit(0L)).cast(DoubleType) + 0.5) /
              (n + 0.5 * (v + 1)))))
      .groupBy(col(idCol))
      .agg((sum(col("__lp")) / count(lit(1))).as("avg_logprob2"),
        count(lit(1)).as("n_bigrams"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling", at unigram granularity):
    * score every RAW-corpus doc by the log-likelihood ratio between a
    * TARGET-domain unigram LM and the raw-corpus LM,
    * log w(d) = Σ_t c_d(t)·(ln p_target(t) − ln p_raw(t)).
    * High-weight docs look like the target domain; resample the raw
    * corpus ∝ softmax-ish weights (or take top-k) to steer the mixture.
    * Both LMs use additive `smoothing` over the UNION vocabulary so
    * out-of-domain tokens are defined on both sides.
    *
    * Shape (100 TB raw corpus): one explode per corpus collapses to two
    * vocab-sized count tables; the per-token log-ratio table is
    * vocab-sized and joins the raw token stream (broadcast in practice);
    * one groupBy(doc) sums. The target corpus is typically small (a
    * benchmark/domain sample) — its pass is cheap.
    * Output: (idCol, log_weight, n_tokens). */
  def dsirLogWeights(raw: org.apache.spark.sql.DataFrame,
      target: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      smoothing: Double = 0.5): org.apache.spark.sql.DataFrame = {
    require(smoothing > 0, "dsirLogWeights: smoothing must be > 0 (unseen tokens)")
    val rawTok = raw.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    val rawCounts = rawTok.groupBy(col("token")).agg(count(lit(1)).as("c_raw"))
    val tgtCounts = target.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("c_tgt"))
    val vocab = rawCounts.join(tgtCounts, Seq("token"), "full_outer")
      .select(col("token"), coalesce(col("c_raw"), lit(0L)).as("c_raw"),
        coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
      .cache()
    val totals = vocab.agg(sum(col("c_raw")), sum(col("c_tgt")),
      count(lit(1))).head()
    val (nRaw, nTgt, v) = (totals.getLong(0), totals.getLong(1), totals.getLong(2))
    val ratio = vocab.select(col("token"),
      (log((col("c_tgt") + smoothing) / (nTgt + smoothing * v)) -
        log((col("c_raw") + smoothing) / (nRaw + smoothing * v))).as("__lr"))
    rawTok.join(ratio, Seq("token"))
      .groupBy(col(idCol))
      .agg(sum(col("__lr")).as("log_weight"), count(lit(1)).as("n_tokens"))
  }

  /** Sliding-window document chunking: token windows of `chunk` tokens
    * starting every `chunk - overlap` tokens — the standard long-document
    * split for context-bounded training/embedding. Chunk starts are
    * 0, step, 2*step, ...; a chunk is emitted only while it contributes
    * at least one NEW token (start + overlap < n_tokens), so no window is
    * fully contained in its predecessor, every token stays covered, and
    * an empty/short doc still yields its one whole-doc chunk. The final
    * window may be shorter.
    * Output: id, chunk_id (0-based), chunk text, chunk token count.
    * One narrow Generate (posexplode) pass — no shuffle; at 100 TB chunks
    * flow straight into the next pipeline stage with no materialization. */
  def chunkTokens(docs: org.apache.spark.sql.DataFrame, textCol: String, idCol: String,
      chunk: Int, overlap: Int): org.apache.spark.sql.DataFrame = {
    require(chunk > 0 && overlap >= 0 && overlap < chunk,
      s"chunkTokens: need 0 <= overlap < chunk, got chunk=$chunk overlap=$overlap")
    val step = chunk - overlap
    val toks = tokens(col(textCol))
    val starts = sequence(lit(0), greatest(size(toks) - (overlap + 1), lit(0)), lit(step))
    docs
      // null text yields NO chunks: greatest/least null-skipping would
      // otherwise emit one empty-text chunk claiming `chunk` tokens
      .filter(col(textCol).isNotNull)
      .withColumn("__toks", toks)
      .select(col(idCol), col("__toks"), explode(starts).as("__start"))
      .select(col(idCol),
        (col("__start") / step).cast(LongType).as("chunk_id"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1, lit(chunk))).as("chunk"),
        least(size(col("__toks")) - col("__start"), lit(chunk)).cast(LongType)
          .as("chunk_tokens"))
  }

  /** Token count. Long, not int: DuckDB's len(list) is BIGINT and the
    * driver's oracle hash is width-sensitive. */
  def tokenCount(text: Column): Column = size(tokens(text)).cast(LongType)

  /** The shared one-pass token scan behind the per-doc quality signals:
    * every signal below is arithmetic over [[graft.expr.TextExpressions
    * .TokenMarkerStats]] fields, and identical scans CSE into ONE
    * evaluation per row inside a codegen'd projection (the expression is
    * deterministic and codegen-capable — unlike the previous HOF forms,
    * whose CodegenFallback subtrees re-split the text once per
    * REFERENCE: qualityScore ~5 splits/row, langId ~9). Marker slots:
    * 0="the", 1="a", then the langMarkers vocabulary. */
  // lazy: langMarkers is declared later in the object (init order)
  private lazy val tokenStatMarkers: Seq[String] =
    Seq("the", "a") ++ langMarkers.flatMap(_._2.map(_._1)).distinct.filterNot(
      Seq("the", "a").contains)
  private def tokenStats(text: Column): Column =
    graft.expr.TextExpressions.tokenMarkerStats(text, tokenStatMarkers)
  private[graft] def markerCount(text: Column, m: String): Column = {
    require(tokenStatMarkers.contains(m),
      s"markerCount: '$m' is not in the token-scan marker vocabulary " +
        tokenStatMarkers.mkString("[", ", ", "]"))
    element_at(tokenStats(text).getField("marker_counts"),
      tokenStatMarkers.indexOf(m) + 1)
  }

  /** BPE-ish sub-word count estimate: each word contributes ceil(len/6)
    * pieces — a deterministic proxy for a real tokenizer's piece count. */
  def tokenCountBpeIsh(text: Column): Column =
    tokenStats(text).getField("n_bpe")

  /** HOF formulation of [[tokenCountBpeIsh]], kept for differential
    * testing of the native TokenMarkerStats expression. */
  private[graft] def tokenCountBpeIshHof(text: Column): Column =
    aggregate(
      transform(tokens(text), t => ceil(length(t).cast(DoubleType) / 6.0).cast(LongType)),
      lit(0L), (acc, x) => acc + x)

  def stopwordRatio(text: Column): Column =
    (markerCount(text, "the") + markerCount(text, "a")).cast(DoubleType) /
      tokenStats(text).getField("n_tokens").cast(DoubleType)

  private[graft] def stopwordRatioHof(text: Column): Column = {
    val toks = tokens(text)
    size(filter(toks, t => t === "a" || t === "the")).cast(DoubleType) / size(toks).cast(DoubleType)
  }

  def uniqueTokenRatio(text: Column): Column =
    tokenStats(text).getField("n_distinct").cast(DoubleType) /
      tokenStats(text).getField("n_tokens").cast(DoubleType)

  private[graft] def uniqueTokenRatioHof(text: Column): Column = {
    val toks = tokens(text)
    size(array_distinct(toks)).cast(DoubleType) / size(toks).cast(DoubleType)
  }

  /** Canonicalization for dedup keys / matching: lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace runs, trim. A
    * narrow codegen'd pass — normalize BEFORE exact/near dedup so
    * formatting variants collapse onto one key. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Markup stripping for HTML-ish crawled text (the C4/CCNet ingest
    * step): drop tags, decode the entities that dominate crawl output
    * (`&lt; &gt; &quot; &#39; &nbsp;`, then `&amp;` LAST so literal
    * `&amp;lt;` decodes to `&lt;`, not `<`), collapse whitespace runs,
    * trim. Deliberately regex/literal-replace only — the same pattern
    * text replays under RE2, PCRE, and Java regex alike, so an external
    * oracle can verify the cleaning byte-for-byte (a DOM parser could
    * not). Tagged script/style BODIES are not dropped — full extraction
    * (trafilatura-style) runs upstream of the engine; this is the
    * row-local residue cleaner. One narrow codegen'd pass, no shuffle;
    * scan-bound at any corpus size. */
  def stripHtml(text: Column): Column = {
    val unTagged = regexp_replace(text, "<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
      .foldLeft(unTagged) { case (c, (ent, ch)) => replace(c, lit(ent), lit(ch)) }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Per-label n-gram diversity profile: for each n in 1..maxN, the
    * distinct-to-total n-gram ratio — the standard corpus-health /
    * memorization-risk signal (a source whose trigram distinct-ratio
    * collapses is template spam; a synthetic corpus self-repeating
    * drives distinct-n toward 0). One tokenize + one explode per n;
    * each collapses to a (label, gram)-keyed partial-merged aggregate,
    * so the shuffle carries gram-vocabulary-sized data, never the
    * corpus. Output: (label, n, total_grams, distinct_grams,
    * distinct_ratio). */
  def ngramDiversity(docs: org.apache.spark.sql.DataFrame, textCol: String,
      labelCol: String, maxN: Int = 3): org.apache.spark.sql.DataFrame = {
    require(maxN >= 1, "ngramDiversity: maxN must be >= 1")
    val toks = docs.select(col(labelCol).as("label"), tokens(col(textCol)).as("__toks"))
    (1 to maxN).map { n =>
      toks.select(col("label"), lit(n).as("n"),
        explode(shingles(col("__toks"), n)).as("gram"))
    }.reduce(_.unionByName(_))
      .groupBy(col("label"), col("n"))
      .agg(count(lit(1)).as("total_grams"),
        countDistinct(col("gram")).as("distinct_grams"))
      .withColumn("distinct_ratio",
        col("distinct_grams").cast(DoubleType) / col("total_grams").cast(DoubleType))
  }

  /** Within-document repeated-segment removal — boilerplate stripping:
    * split on `sep` (lines, sentences), keep only each segment's FIRST
    * occurrence (order preserved), rejoin. The first-occurrence rule is
    * `array_position(segs, x) == i+1`, replayable in any engine with
    * indexed lambdas (order-preserving, unlike a distinct). O(segments²)
    * per row — segments are lines/sentences (tens to hundreds), and the
    * pass stays narrow/per-row, so this is scan-bound at any corpus
    * size. Adds `out` (cleaned text) and `${out}_dropped` (segment
    * count removed). */
  def dropRepeatedSegments(df: org.apache.spark.sql.DataFrame, textCol: String,
      sep: String, out: String): org.apache.spark.sql.DataFrame = {
    val segs = col("__drs_segs")
    val kept = filter(segs, (x, i) => array_position(segs, x) === i + 1)
    df.withColumn("__drs_segs",
        split(col(textCol), java.util.regex.Pattern.quote(sep)))
      .withColumn(out, array_join(kept, sep))
      .withColumn(s"${out}_dropped",
        (size(segs) - size(kept)).cast(org.apache.spark.sql.types.LongType))
      .drop("__drs_segs")
  }

  /** CROSS-document boilerplate removal (the CCNet/C4 rule): any segment
    * occurring in MORE than `maxDocShare` of all documents is corpus
    * boilerplate — cookie banners, navigation chrome, license footers —
    * and is removed from EVERY document. Complements
    * [[dropRepeatedSegments]], which only sees repeats WITHIN one doc.
    * Segment = exact `sep`-delimited substring (normalize first with
    * [[normalizeText]]/[[normalizeUnicode]] if formatting variants should
    * collapse). Adds `out` (cleaned text, '' when every segment was
    * boilerplate) and `${out}_dropped` (segments removed); null text
    * stays null.
    *
    * Shape (100 TB): within-doc repeats collapse row-locally
    * (`array_distinct`) BEFORE the one per-segment doc-frequency shuffle
    * (map-side combined); the frequent set — only segments above the
    * share threshold, orders of magnitude smaller than the corpus —
    * anti-joins the exploded segments (AQE broadcasts it when it fits),
    * and one groupBy(id) reassembles surviving segments in document
    * order. `nDocs` skips the count job when the caller knows N.
    */
  def dropFrequentLines(df: DataFrame, textCol: String, idCol: String,
      sep: String, maxDocShare: Double, out: String,
      nDocs: Option[Long] = None): DataFrame = {
    require(maxDocShare > 0.0 && maxDocShare <= 1.0,
      s"dropFrequentLines: maxDocShare must be in (0, 1], got $maxDocShare")
    val n = nDocs.getOrElse(df.count())
    val segsOf = split(col(textCol), java.util.regex.Pattern.quote(sep))
    val exploded = df
      .select(col(idCol), posexplode(segsOf).as(Seq("__pos", "__seg")))
    val frequent = df
      .select(explode(array_distinct(segsOf)).as("__seg"))
      .groupBy(col("__seg")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") > lit(maxDocShare * n))
      .select(col("__seg"))
    val reassembled = exploded
      .join(frequent, Seq("__seg"), "left_anti")
      .groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos"), col("__seg")))),
          _.getField("__seg")), sep).as(out),
        count(lit(1)).as("__kept"))
    df.withColumn("__total", size(segsOf).cast(LongType))
      .join(reassembled, Seq(idCol), "left")
      .withColumn(out,
        when(col(textCol).isNull, lit(null).cast(StringType))
          .otherwise(coalesce(col(out), lit(""))))
      .withColumn(s"${out}_dropped",
        when(col(textCol).isNull, lit(null).cast(LongType))
          .otherwise(col("__total") - coalesce(col("__kept"), lit(0L))))
      .drop("__kept", "__total")
  }

  /** Mojibake repair — the classic double-encoding corpus defect: UTF-8
    * bytes mis-decoded as Latin-1 once ("café" → "cafÃ©"). Heuristic
    * inverse: re-encode as Latin-1 and decode as UTF-8, applied only when
    * the text shows the Ã/Â marker pattern AND the repair round-trips
    * without replacement characters — clean text and genuine Latin-1
    * prose pass through untouched. Pure codegen'd encode/decode, no UDF.
    * (Heuristic by nature → spec-verified, not oracle-gated: DuckDB has
    * no Latin-1 decode to replay it.) */
  def fixMojibake(text: Column): Column = {
    // binary -> string cast reinterprets bytes without validation (decode
    // with UTF-8 THROWS on malformed input under ANSI); is_valid_utf8
    // gates the swap so genuine Latin-1 prose is left untouched.
    // The Latin-1-only gate must come FIRST (And short-circuits in
    // codegen): Spark 4's Encode REPORTs unmappable chars, so a row mixing
    // the mojibake marker with any char above U+00FF (curly quote, emoji)
    // would throw inside the condition — and true double-encoded text is
    // all-Latin-1 by construction (it was DECODED as Latin-1 once).
    val latin1Only = text.rlike("^[\\x00-\\xff]*$")
    val reinterpreted = encode(text, "ISO-8859-1").cast(StringType)
    when(text.rlike("[\\u00c3\\u00c2]") && latin1Only &&
        is_valid_utf8(reinterpreted), reinterpreted)
      .otherwise(text)
  }

  /** NFC unicode normalization (native codegen'd expression): fold
    * combining-mark and precomposed forms onto one canonical spelling
    * BEFORE dedup keys / fingerprints — "café" typed two ways must be
    * ONE dedup key. Composes with [[normalizeText]] (which handles case/
    * punctuation after the unicode fold). */
  def normalizeUnicode(text: Column): Column =
    graft.expr.TextExpressions.nfcNormalize(text)

  /** PII patterns, deliberately RE2-compatible (no lookaround, ASCII
    * classes): the same pattern text runs under Java regex (Spark) and
    * RE2 (DuckDB/ripgrep-style scanners), so a redaction audit can be
    * replayed outside the engine. `\b`/`\d` agree between the two for
    * ASCII input. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  /** Unbroken 9-19 digit runs: card / account / national-id shaped. */
  val DigitRunRe = "\\b\\d{9,19}\\b"

  /** PII redaction for training corpora: emails, IPv4s, then long digit
    * runs replaced with typed placeholder tokens. One narrow codegen'd
    * pass (three chained regexp_replace, each replaces ALL occurrences);
    * order matters — emails first so their digits never half-match the
    * digit-run rule. Redaction is deletion-free (length changes but
    * structure keeps), so downstream token stats stay meaningful. */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      DigitRunRe, "<NUM>")

  /** Per-row PII hit counts (on the ORIGINAL text) — the audit signal:
    * documents with excessive PII density get dropped, not scrubbed. */
  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(EmailRe)),
     regexp_count(text, lit(Ipv4Re)),
     regexp_count(text, lit(DigitRunRe)))

  /** URL pattern (RE2-compatible like the PII set); group 1 is the host. */
  val UrlRe = "https?://([A-Za-z0-9.-]+)"

  /** URL canonicalization for crawl dedup keys — the standard fold before
    * URL-level dedup / per-domain caps, so `HTTP://Site.com:80/a?utm_x=1#f`
    * and `http://site.com/a` collapse onto one key:
    *   1. scheme and host lowercase (path/query case-significant, kept);
    *   2. `#fragment` dropped;
    *   3. tracking params dropped (`utm_*`, `fbclid`, `gclid`, `ref`),
    *      a then-empty `?` dropped, a surviving first param re-anchored
    *      onto `?`;
    *   4. default ports stripped (`:80` http, `:443` https);
    *   5. trailing slash trimmed (root `http://host/` → `http://host`).
    * Deliberately regex/literal-only and RE2-compatible (no lookaround):
    * the same pattern text replays under Java regex and DuckDB's RE2, so
    * the fold is oracle-verifiable byte-for-byte. One narrow codegen'd
    * pass; compose upstream of [[Dedup.exact]] on the URL column. */
  def canonicalizeUrl(url: Column): Column = {
    // lowercase scheme://host[:port] only: capture the prefix, rebuild
    val lowered = concat(
      lower(regexp_extract(url, "(?i)^(https?://[^/?#]*)", 1)),
      regexp_replace(url, "(?i)^https?://[^/?#]*", ""))
    val noFragment = regexp_replace(lowered, "#.*$", "")
    val trackers = "(utm_[A-Za-z0-9_]*|fbclid|gclid|ref)"
    // '&'-led tracking params drop whole; a '?'-led one hands its '?' to
    // the next param; a then-dangling '?' drops — ordered so a literal
    // '&' in the PATH can never be promoted to a '?'
    val noAmpTracking = regexp_replace(noFragment, s"&$trackers=[^&#]*", "")
    val noLeadTracking = regexp_replace(noAmpTracking, s"\\?$trackers=[^&#]*&?", "?")
    val noTracking = regexp_replace(noLeadTracking, "\\?$", "")
    val noDefaultPort = regexp_replace(noTracking,
      "^(http://[^/:?#]*):80(?:([/?#])|$)", "$1$2")
    val noHttpsPort = regexp_replace(noDefaultPort,
      "^(https://[^/:?#]*):443(?:([/?#])|$)", "$1$2")
    // trim ONE trailing slash, but only when it ends the PATH (no query
    // present) — "?next=/home/" is a query VALUE; stripping it would
    // merge distinct URLs onto one dedup key
    regexp_replace(noHttpsPort, "^([^?]*)/$", "$1")
  }

  /** All URL hosts mentioned in a document — the input to domain-level
    * corpus curation (blocklists, per-domain caps, provenance mixing).
    * One codegen'd regexp pass per row. */
  def urlDomains(text: Column): Column =
    regexp_extract_all(text, lit(UrlRe), lit(1))

  /** Duplicate n-gram ratio (Gopher-style repetition signal):
    * 1 - distinct/total n-grams; 0 when the doc has fewer than n tokens.
    * High values flag boilerplate/looping text for the quality gate.
    *
    * This Column form references the shingle subtree THREE times and a
    * single projection evaluates it three times (measured 3x the one-pass
    * cost) — prefer [[withRepetitionRatio]], which names the array once;
    * CollapseProject keeps a non-cheap alias that is referenced more than
    * once, so the named form really is one traversal. */
  def repetitionRatio(text: Column, n: Int = 2): Column = {
    val sh = shingles(tokens(text), n)
    when(size(sh) > 0,
      lit(1.0) - size(array_distinct(sh)).cast(DoubleType) / size(sh).cast(DoubleType))
      .otherwise(lit(0.0))
  }

  /** One-traversal [[repetitionRatio]]: the n-gram array is projected once
    * under a name and the ratio derives from that column. Same values. */
  def withRepetitionRatio(df: org.apache.spark.sql.DataFrame, textCol: String,
      out: String, n: Int = 2): org.apache.spark.sql.DataFrame =
    df.withColumn("__rr_sh", shingles(tokens(col(textCol)), n))
      .withColumn(out, when(size(col("__rr_sh")) > 0,
        lit(1.0) - size(array_distinct(col("__rr_sh"))).cast(DoubleType) /
          size(col("__rr_sh")).cast(DoubleType))
        .otherwise(lit(0.0)))
      .drop("__rr_sh")

  /** Composite quality score — arbitrary but deterministic and order-free:
    * 0.4*uniq_ratio + 0.3*(1 - stopword_ratio) + 0.3*min(1, n_tokens/100). */
  def qualityScore(text: Column): Column = {
    // same double-arithmetic tree as the HOF form: ((0.4*u)+(0.3*(1-s)))
    // + (0.3*min(1, n/100)) — bit-identical results, one token scan
    val n = tokenStats(text).getField("n_tokens").cast(DoubleType)
    lit(0.4) * uniqueTokenRatio(text) +
      lit(0.3) * (lit(1.0) - stopwordRatio(text)) +
      lit(0.3) * least(lit(1.0), n / 100.0)
  }

  private[graft] def qualityScoreHof(text: Column): Column = {
    val n = size(tokens(text)).cast(DoubleType)
    lit(0.4) * uniqueTokenRatioHof(text) +
      lit(0.3) * (lit(1.0) - stopwordRatioHof(text)) +
      lit(0.3) * least(lit(1.0), n / 100.0)
  }

  /** Marker-token language profiles: a tiny deterministic stand-in for a
    * char-n-gram profile model (the synthetic corpus shares one vocabulary
    * across langs, so scoring is mechanical, not semantic). */
  val langMarkers: Seq[(String, Seq[(String, Int)])] = Seq(
    "en" -> Seq("the" -> 3, "a" -> 2, "table" -> 1),
    "de" -> Seq("join" -> 3, "group" -> 2, "window" -> 1),
    "es" -> Seq("data" -> 3, "query" -> 2, "stream" -> 1))

  def langScore(text: Column, markers: Seq[(String, Int)]): Column =
    // marker occurrence counts come from the shared one-pass token scan;
    // the weighted sum is plain codegen'd arithmetic. Markers outside the
    // fixed scan vocabulary keep the HOF form, cast so the score is
    // LongType either way.
    if (markers.forall(m => tokenStatMarkers.contains(m._1)))
      markers.map { case (m, w) => lit(w.toLong) * markerCount(text, m) }.reduce(_ + _)
    else langScoreHof(text, markers).cast(LongType)

  private[graft] def langScoreHof(text: Column, markers: Seq[(String, Int)]): Column = {
    val toks = tokens(text)
    markers.map { case (m, w) => lit(w) * size(filter(toks, t => t === m)) }.reduce(_ + _)
  }

  /** Argmax language over the marker profiles; ties resolve to the first
    * profile in `langMarkers` order (deterministic). */
  def langId(text: Column): Column = {
    val scored = langMarkers.map { case (lang, ms) => (lang, langScore(text, ms)) }
    val maxScore = greatest(scored.map(_._2): _*)
    scored.foldRight(lit(null).cast(StringType): Column) { case ((lang, s), acc) =>
      when(s === maxScore, lang).otherwise(acc)
    }
  }

  private[graft] def langIdHof(text: Column): Column = {
    val scored = langMarkers.map { case (lang, ms) => (lang, langScoreHof(text, ms)) }
    val maxScore = greatest(scored.map(_._2): _*)
    scored.foldRight(lit(null).cast(StringType): Column) { case ((lang, s), acc) =>
      when(s === maxScore, lang).otherwise(acc)
    }
  }

  // ---- Cavnar–Trenkle n-gram language ID (Cavnar & Trenkle 1994, ----
  // ---- "N-Gram-Based Text Categorization": rank-order profiles,  ----
  // ---- out-of-place distance)                                    ----

  /** Character n-grams of a text, one per start offset WITH
    * multiplicity (the CT feature space — unlike [[charNgrams]], which
    * dedups for Jaccard). Projected ONCE by callers — HOF lambdas
    * re-evaluate referenced subtrees per element. */
  def charNgramsAll(text: Column, n: Int): Column =
    when(length(text) < n, array().cast(ArrayType(StringType)))
      .otherwise(transform(sequence(lit(1), length(text) - (n - 1)),
        i => text.substr(i, lit(n))))

  /** TRAIN: rank-order profiles per language — the top `k` char n-grams
    * by (count desc, gram asc), rank 1-based. Deterministic: every tie
    * breaks lexicographically. One explode + grouped count + per-lang
    * WindowGroupLimit (map-side top-k before the exchange); profile
    * size is `langs × k` rows — broadcastable at any corpus size. */
  def trainLangProfiles(docs: DataFrame, textCol: String, langCol: String,
      n: Int = 3, k: Int = 300): DataFrame = {
    // per-doc gram counting is row-local (graft_char_gram_counts — one
    // byte walk + hash map per doc): the explode carries one row per
    // DISTINCT gram per doc instead of one per occurrence, and the old
    // per-character interpreted Substring lambdas are gone; the grouped
    // sum of per-doc counts equals the grouped count of occurrences
    // exactly (differential-spec'd)
    docs.select(col(langCol).as("lang"),
        explode(graft.expr.TextExpressions.charGramCounts(col(textCol), n)).as("gc"))
      .select(col("lang"), col("gc.gram").as("gram"), col("gc.cnt").as("__c"))
      .groupBy(col("lang"), col("gram")).agg(sum(col("__c")).as("__cnt"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("lang"))
          .orderBy(col("__cnt").desc, col("gram"))))
      .filter(col("rank") <= k)
      .select(col("lang"), col("gram"), col("rank").cast(LongType))
  }

  /** APPLY: classify each doc by out-of-place distance against the
    * trained profiles — for each of the doc's top `m` grams, the
    * |doc_rank − profile_rank| displacement, with a fixed `k` penalty
    * for grams absent from a profile; argmin over languages, ties to
    * the lexicographically first. Scale shape: the doc-side is a
    * per-doc-partitioned rank (never a global window), the profile
    * side broadcasts, and the distance aggregate carries ≤ m·|langs|
    * rows per doc. Docs shorter than the n-gram width score every
    * profile equally and take the first language. */
  def langIdCt(docs: DataFrame, textCol: String, idCol: String,
      profiles: DataFrame, n: Int = 3, m: Int = 50,
      profileK: Int = 300): DataFrame = {
    // absent-gram penalty = the TRAINING profile capacity (pass the k
    // used in trainLangProfiles): with a smaller penalty than the
    // deepest possible rank, matching a gram at rank > penalty would
    // cost MORE than a language that never saw it - inverting the
    // out-of-place semantics
    val k = profileK.toLong
    // A doc's top-m gram ranking depends only on the doc itself —
    // graft_char_gram_top_ranks computes it ROW-LOCALLY (one byte walk +
    // in-row sort, the same (count desc, gram asc) total order the
    // per-doc window used), so the old explode-per-occurrence →
    // groupBy(doc, gram) exchange → window pass is gone from the apply
    // side entirely. explode_outer: a doc too short for even one n-gram
    // keeps ONE null-gram row, which matches no profile -> every
    // language scores the flat penalty and the tie resolves to the
    // first (the doc would otherwise vanish from the output).
    val docGrams = docs
      .select(col(idCol), explode_outer(
        graft.expr.TextExpressions.charGramTopRanks(col(textCol), n, m)).as("gr"))
      .select(col(idCol), col("gr.gram").as("gram"), col("gr.rank").as("__rank"))
    // The lazy profiles feed three consumers (langs distinct + two
    // broadcasts). Exchange reuse does NOT dedupe the two training
    // subtrees: the join side carries an inferred isnotnull(lang) filter
    // the langs side lacks, so training's scan, explode and partial
    // aggregate run twice (q_langid_ct plans 13 whole-stage-codegen
    // stages). The single job still overlaps train with the doc-side
    // pass across cores — measured FASTER than collecting the profiles
    // to a local relation (interleaved A/B: lazy 3.49 s vs collected
    // 5.80 s at sf0.1/local[32]; the materialized form serializes the
    // two corpus passes). Same result either way; keep the lazy form.
    val langs = profiles.select(col("lang")).distinct()
    // every (doc-gram, lang) pair scores: matched grams by displacement,
    // absent grams by the k penalty (left join against the profile)
    val scored = docGrams
      .crossJoin(broadcast(langs))
      .join(broadcast(profiles.withColumnRenamed("rank", "__prank")),
        Seq("lang", "gram"), "left")
      .groupBy(col(idCol), col("lang"))
      .agg(sum(coalesce(abs(col("__rank") - col("__prank")), lit(k)))
        .as("__dist"))
    scored.withColumn("__r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
          .orderBy(col("__dist").asc, col("lang"))))
      .filter(col("__r") === 1)
      .select(col(idCol), col("lang").as("lang_pred"), col("__dist").as("ct_dist"))
  }

  /** Rolling polynomial fingerprint: acc = (acc*31 + code) mod 1e9+7 — a
    * deterministic document hash any SQL oracle can recompute. Native
    * codegen'd byte loop (graft.expr.TextExpressions); == the char-wise
    * definition for ASCII text. */
  def fingerprint(text: Column): Column = graft.expr.TextExpressions.fingerprint(text)

  /** Char-wise HOF formulation, kept for differential testing. */
  private[graft] def fingerprintHof(text: Column): Column = {
    val codes = transform(sequence(lit(1), length(text)), i => ascii(text.substr(i, lit(1))))
    aggregate(codes, lit(0L), (acc, x) => (acc * 31L + x.cast(LongType)) % 1000000007L)
  }

  // ---- Gopher-style repetition & quality signals (Rae et al. 2021, ----
  // ---- "Scaling Language Models: ... Gopher", arXiv:2112.11446, A1) ----

  /** Sum of `length(x)` over elements of a SORTED array that equal their
    * predecessor — the characters contributed by every occurrence AFTER
    * the first of each repeated value. Row-local fold, no shuffle. */
  private def dupCharsInSorted(s: Column): Column =
    when(size(s) <= 1, lit(0L)).otherwise(
      aggregate(
        zip_with(slice(s, lit(1), size(s) - 1), slice(s, lit(2), size(s) - 1),
          (a, b) => when(a === b, length(b).cast(LongType)).otherwise(lit(0L))),
        lit(0L), (acc, x) => acc + x))

  /** (most-frequent element, its count) of a SORTED array as a 2-field
    * struct; ties break to the lexicographically smallest value (= the
    * first max-count run in sorted order, kept by the strict `>`).
    * Single fold with struct state — one pass, row-local. */
  private def topRunInSorted(s: Column): Column = {
    val zero = struct(lit("").as("cur"), lit(0L).as("cnt"),
      lit("").as("best"), lit(0L).as("bcnt"))
    val folded = aggregate(s, zero, (st, x) => {
      val ncnt = when(x === st.getField("cur"), st.getField("cnt") + lit(1L))
        .otherwise(lit(1L))
      val better = ncnt > st.getField("bcnt")
      struct(x.as("cur"), ncnt.as("cnt"),
        when(better, x).otherwise(st.getField("best")).as("best"),
        when(better, ncnt).otherwise(st.getField("bcnt")).as("bcnt"))
    })
    struct(folded.getField("best").as("gram"), folded.getField("bcnt").as("cnt"))
  }

  /** Gopher repetition signals, ALL row-local: sorted-array folds over the
    * doc's own lines and token n-grams — a narrow projection with no
    * explode, no groupBy, no shuffle. The 100 TB plan is scan → project;
    * compare [[dupSpanStats]]/[[dropFrequentLines]] for the CROSS-doc
    * variants of these signals, which do need the corpus pass.
    *
    * Pinned (oracle-replayable) definitions for a doc with text T:
    *  - lines = split(T, '\n'); gram_n = space-joined token n-grams
    *  - `dup_line_frac`      = (#lines − #distinct lines) / #lines
    *  - `dup_line_char_frac` = chars in occurrences after the first of
    *    each repeated line / Σ chars over all lines
    *  - `top_{n}gram_char_frac` = cnt(g*)·len(g*) / len(T) where g* is
    *    the most frequent n-gram (ties → lexicographically smallest)
    *  - `dup_{n}gram_char_frac` = Σ len(gram) over occurrences after the
    *    first of each repeated n-gram / len(T)
    * Every fraction is 0.0 when its denominator is 0. The published
    * thresholds (drop when dup_line_frac > 0.30, top_2gram > 0.20,
    * dup_10gram > 0.10, …) are the caller's filter. */
  def repetitionSignals(df: DataFrame, textCol: String,
      topNs: Seq[Int] = Seq(2, 3, 4), dupNs: Seq[Int] = Seq(5, 10)): DataFrame = {
    import graft.expr.TextExpressions.gramStatsCol
    val toks = "__rs_toks"
    val lines = "__rs_lines"
    val lineStats = "__rs_ls"
    val textLen = length(col(textCol)).cast(DoubleType)
    var out = df
      .withColumn(toks, tokens(col(textCol)))
      .withColumn(lines, split(col(textCol), "\n"))
      .withColumn(lineStats, gramStatsCol(col(lines)))
      .withColumn("dup_line_frac",
        when(size(col(lines)) > 0,
          col(lineStats).getField("dup_count").cast(DoubleType) /
            size(col(lines)).cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("dup_line_char_frac",
        when(col(lineStats).getField("total_chars") > 0,
          col(lineStats).getField("dup_chars").cast(DoubleType) /
            col(lineStats).getField("total_chars").cast(DoubleType))
          .otherwise(lit(0.0)))
    val helpers = scala.collection.mutable.Buffer(toks, lines, lineStats)
    // one GramStats per distinct n — a top and a dup signal on the same n
    // share the pass
    val statCols = (topNs ++ dupNs).distinct.map { n =>
      val sc = s"__rs_gs$n"
      helpers += sc
      out = out.withColumn(sc, gramStatsCol(shingles(col(toks), n)))
      n -> sc
    }.toMap
    for (n <- topNs)
      out = out.withColumn(s"top_${n}gram_char_frac",
        when(length(col(textCol)) > 0,
          col(statCols(n)).getField("top_chars").cast(DoubleType) / textLen)
          .otherwise(lit(0.0)))
    for (n <- dupNs)
      out = out.withColumn(s"dup_${n}gram_char_frac",
        when(length(col(textCol)) > 0,
          col(statCols(n)).getField("dup_chars").cast(DoubleType) / textLen)
          .otherwise(lit(0.0)))
    out.drop(helpers.toSeq: _*)
  }

  /** Sorted-array HOF formulation of [[repetitionSignals]]'s per-array
    * stats, kept for differential testing of the native GramStats
    * expression. */
  private[graft] def gramStatsHof(arr: Column): Column = struct(
    aggregate(arr, lit(0L), (a, x) => a + length(x).cast(LongType)).as("total_chars"),
    dupCharsInSorted(array_sort(arr)).as("dup_chars"),
    (size(arr) - size(array_distinct(arr))).cast(LongType).as("dup_count"),
    coalesce(
      when(size(arr) > 0,
        topRunInSorted(array_sort(arr)).getField("cnt") *
          length(topRunInSorted(array_sort(arr)).getField("gram"))),
      lit(0)).cast(LongType).as("top_chars"))

  /** Gopher's stopword presence list (Rae et al. 2021 §A1.1). */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-filter signals and the conjunction `gopher_pass`.
    * Pinned deterministic sub-rules (word = whitespace token; alpha word
    * = contains an ASCII letter; bullet line starts with '-' or '*';
    * ellipsis line ends with "..." or '…'; symbols counted are '#' and
    * '…'), thresholds as published: 50 ≤ words ≤ 100 000, 3 ≤ mean word
    * length ≤ 10, symbol-to-word ratio ≤ 0.1, ≤ 90 % bullet lines,
    * ≤ 30 % ellipsis lines, ≥ 80 % alpha words, ≥ 2 stopword hits.
    * Row-local narrow pass; no shuffle. */
  def gopherQualityFlags(df: DataFrame, textCol: String): DataFrame = {
    val toks = "__gq_toks"; val lines = "__gq_lines"
    val t = col(toks); val l = col(lines)
    val nWords = size(t).cast(LongType)
    val nLines = size(l).cast(DoubleType)
    val symbols = (length(col(textCol)) -
      length(translate(col(textCol), "#…", ""))).cast(DoubleType)
    df.withColumn(toks, tokens(col(textCol)))
      .withColumn(lines, split(col(textCol), "\n"))
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        when(nWords > 0,
          aggregate(t, lit(0L), (a, x) => a + length(x).cast(LongType))
            .cast(DoubleType) / nWords.cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("frac_alpha_words",
        when(nWords > 0, size(filter(t, x => x.rlike("[A-Za-z]")))
          .cast(DoubleType) / nWords.cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("symbol_word_ratio",
        when(nWords > 0, symbols / nWords.cast(DoubleType)).otherwise(lit(0.0)))
      .withColumn("frac_bullet_lines",
        when(nLines > 0, size(filter(l, x =>
          x.startsWith("-") || x.startsWith("*"))).cast(DoubleType) / nLines)
          .otherwise(lit(0.0)))
      .withColumn("frac_ellipsis_lines",
        when(nLines > 0, size(filter(l, x =>
          x.endsWith("...") || x.endsWith("…"))).cast(DoubleType) / nLines)
          .otherwise(lit(0.0)))
      .withColumn("stopword_hits",
        size(filter(t, x => x.isin(gopherStopwords: _*))).cast(LongType))
      .withColumn("gopher_pass",
        col("n_words").between(50L, 100000L) &&
          col("mean_word_len").between(3.0, 10.0) &&
          col("symbol_word_ratio") <= 0.1 &&
          col("frac_bullet_lines") <= 0.9 &&
          col("frac_ellipsis_lines") <= 0.3 &&
          col("frac_alpha_words") >= 0.8 &&
          col("stopword_hits") >= 2L)
      .drop(toks, lines)
  }

  /** Per-token xxhash64 array (seed 42, Spark's default) — materialize this
    * once (withColumn) before calling [[simhashFromHashes]] so the 64
    * per-bit folds share it. */
  def tokenHashes(text: Column): Column = transform(tokens(text), t => xxhash64(t))

  /** 64-bit SimHash: bit i of the fingerprint is set iff
    * sum over tokens of (+1 if bit i of xxhash64(token) else -1) > 0.
    * Narrow per-row computation, no explode/shuffle. */
  def simhashFromHashes(hashes: Column): Column = {
    val bits: Seq[Column] = (0 until 64).map { i =>
      val cnt = aggregate(hashes, lit(0L), (acc, h) =>
        acc + when(shiftrightunsigned(h, i).bitwiseAND(lit(1L)) === 1L, lit(1L)).otherwise(lit(-1L)))
      when(cnt > 0, lit(1L << i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  def simhash(text: Column): Column = simhashFromHashes(tokenHashes(text))

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** TRAIN a multinomial Naive Bayes text classifier — the trained
    * quality/domain classifier of a curation pipeline (the fastText/CCNet
    * role), as a closed-form distributed aggregation: no iterative fit, so
    * the whole model is replayable by any SQL engine and deterministic at
    * every scale. Vocabulary = the top `vocabK` whitespace tokens of the
    * training corpus by total count (ties broken lexicographically) —
    * computed with a distributed TakeOrdered (per-partition top-K merged on
    * the driver), never a global window sort, so a 100 TB corpus's billions
    * of distinct terms are reduced map-side. Add-one smoothing over the
    * vocabulary; out-of-vocabulary tokens are ignored (the fixed-vocab
    * convention, which keeps apply-time joins against a broadcastable
    * `vocabK × |labels|` model).
    *
    * Determinism: every count is exact; each log-likelihood/log-prior is
    * floored to integer MICROS once per (label, term) — the repo's
    * floor-micros carrier — so apply-time scores are exact integer sums,
    * independent of summation order and bit-identical across engines.
    *
    * Returns (loglik, priors): `loglik` has one row per (label, vocab
    * term) with `lpm` = floor(1e6·ln((cnt+1)/(totC+V))); `priors` one row
    * per label with `prior_m` = floor(1e6·ln(nDocs_label/nDocs)). Both are
    * ≤ `vocabK·|labels|` rows — broadcast them at apply time. */
  def trainNaiveBayes(train: DataFrame, textCol: String, labelCol: String,
      vocabK: Int = 400): (DataFrame, DataFrame) = {
    val (termCounts, labelDocs) = nbCounts(train, textCol, labelCol)
    // materialize the sufficient statistics once (the q_nb_maintain
    // pattern — production persists them as a table): nbModel consumes
    // them from several separate jobs (vocab cut, loglik build, priors),
    // and without the barrier each job replays the corpus explode+count
    // train pass. State is |labels|×|distinct terms| count rows —
    // vocabulary-sized, never corpus-sized.
    val tc = termCounts.localCheckpoint()
    val ld = labelDocs.localCheckpoint()
    val model = nbModel(tc, ld, vocabK)
    // nbModel eagerly materializes the model (loglik/priors
    // localCheckpoints), so the sufficient-stats blocks are dead here —
    // free them now instead of leaking a stats-sized RDD pair per
    // training call in a long-lived session (the connectedComponents
    // round-lifecycle pattern)
    org.apache.spark.sql.graftx.Bridge.freeCheckpoint(tc)
    org.apache.spark.sql.graftx.Bridge.freeCheckpoint(ld)
    model
  }

  /** The NB SUFFICIENT STATISTICS — the maintainable state behind
    * [[trainNaiveBayes]]: exact per-(label, term) token counts over the
    * FULL term universe (not the vocab cut — the cut happens at model
    * build so maintenance can move terms in and out of the top-K) plus
    * per-label document counts. Both are plain additive aggregates, so
    * they merge/maintain by integer sum — the sketch-maintenance
    * contract the LSH/BM25/CMS indexes use. */
  def nbCounts(train: DataFrame, textCol: String,
      labelCol: String): (DataFrame, DataFrame) = {
    // per-doc token counting is row-local (graft_token_counts — one byte
    // walk + hash map per doc, split semantics bit-equal to
    // split(text, ' ') incl. kept empty segments): the explode carries
    // one row per DISTINCT token per doc instead of one per occurrence;
    // the grouped sum of per-doc counts equals the grouped count of
    // occurrences exactly (differential-spec'd)
    val tok = train.select(col(labelCol).as("label"),
        explode(graft.expr.TextExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col("label"), col("tc.t").as("t"), col("tc.cnt").as("__c0"))
    val termCounts = tok.groupBy(col("label"), col("t"))
      .agg(sum(col("__c0")).as("c"))
    val labelDocs = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("nd"))
    (termCounts, labelDocs)
  }

  /** MAINTAIN the NB sufficient statistics under a CDC delta — the
    * incremental path of the retrain: count the added and removed docs'
    * tokens (O(churn), never a corpus re-read), merge by signed integer
    * sum, and drop zeroed rows so the state is exactly what a from-
    * scratch [[nbCounts]] over the post-delta corpus would produce —
    * [[nbModel]] over the maintained state is bit-identical to a full
    * retrain (the graded q_nb_maintain property). */
  def nbCountsMaintain(termCounts: DataFrame, labelDocs: DataFrame,
      added: DataFrame, removed: DataFrame, textCol: String,
      labelCol: String): (DataFrame, DataFrame) = {
    val (addT, addL) = nbCounts(added, textCol, labelCol)
    val (remT, remL) = nbCounts(removed, textCol, labelCol)
    // fail-loud CDC contract check: a merged count can only go NEGATIVE
    // when the delta removes docs the state never counted — an
    // inconsistent delta that would silently diverge the maintained
    // state from a from-scratch retrain if the negatives were just
    // filtered. raise_error rides inside the count projection itself
    // (no extra job, the plan stays lazy), so a bad delta surfaces as a
    // SparkException naming the offending key instead of corrupting the
    // model. Zeroed rows (exact full removal) still drop silently —
    // that is the correct retrain-equal outcome.
    def failNeg(merged: DataFrame, cnt: String, keys: Seq[String]): DataFrame =
      merged.withColumn(cnt,
        when(col(cnt) < 0, raise_error(concat(
          lit(s"nbCountsMaintain: $cnt went negative at ("),
          concat_ws(", ", keys.map(k => col(k).cast(StringType)): _*),
          lit(") — the CDC delta removed rows the state never counted; " +
            "supply the exact removed set or retrain from scratch"))))
          .otherwise(col(cnt)))
    val termCounts2 = failNeg(termCounts
      .unionByName(addT)
      .unionByName(remT.select(col("label"), col("t"), (-col("c")).as("c")))
      .groupBy(col("label"), col("t")).agg(sum(col("c")).as("c")),
      "c", Seq("label", "t"))
      .filter(col("c") > 0)
    val labelDocs2 = failNeg(labelDocs
      .unionByName(addL)
      .unionByName(remL.select(col("label"), (-col("nd")).as("nd")))
      .groupBy(col("label")).agg(sum(col("nd")).as("nd")),
      "nd", Seq("label"))
      .filter(col("nd") > 0)
    (termCounts2, labelDocs2)
  }

  /** Build the serving model from the sufficient statistics: vocab =
    * top `vocabK` terms by total count (distributed TakeOrdered, ties
    * lexicographic), add-one smoothing over the realized vocab, every
    * log floored once to integer micros (see [[trainNaiveBayes]]). */
  def nbModel(termCounts: DataFrame, labelDocs: DataFrame,
      vocabK: Int = 400): (DataFrame, DataFrame) = {
    require(vocabK >= 1, "nbModel: vocabK must be >= 1")
    // TakeOrderedAndProject: total order (count desc, term asc) so the
    // top-K cut is unique; no global window. The cut is ≤ vocabK strings
    // by construction, so it lands on the driver (like the IVF centroid
    // fetch) — one job yields BOTH the realized vocab size V (the
    // smoothing denominator) and a local-relation vocab for the
    // broadcast joins, where the previous vocab.count() + three lazy
    // consumptions re-ran the TakeOrdered job per use
    val vocabTerms = termCounts.groupBy(col("t")).agg(sum(col("c")).as("__c"))
      .orderBy(col("__c").desc, col("t")).limit(vocabK)
      .select(col("t")).collect().map(_.getString(0)).toSeq
    val spark = termCounts.sparkSession
    import spark.implicits._
    val vocab = vocabTerms.toDF("t")
    val vsz = vocabTerms.size.toLong
    val cnt = termCounts.join(broadcast(vocab), Seq("t"))
      .select(col("label"), col("t"), col("c").as("__n"))
    val tot = cnt.groupBy(col("label")).agg(sum(col("__n")).as("__tc"))
    // dense (label × vocab) grid: unseen pairs get the smoothed floor
    // probability 1/(totC+V), so apply never needs a per-token fallback
    val loglik = labelDocs.select(col("label")).crossJoin(broadcast(vocab))
      .join(cnt, Seq("label", "t"), "left")
      .join(tot, Seq("label"), "left")
      .select(col("label"), col("t"),
        floor(log((coalesce(col("__n"), lit(0L)).cast(DoubleType) + 1.0) /
          (coalesce(col("__tc"), lit(0L)) + vsz).cast(DoubleType)) * 1e6)
          .cast(LongType).as("lpm"))
    val priors = labelDocs
      .crossJoin(broadcast(labelDocs.agg(sum(col("nd")).as("__ntr"))))
      .select(col("label"),
        floor(log(col("nd").cast(DoubleType) / col("__ntr").cast(DoubleType)) * 1e6)
          .cast(LongType).as("prior_m"))
    // materialize the model (<= vocabK·|labels| rows): train once, apply
    // to any corpus — the serving plan stays the narrow broadcast shape
    // instead of re-deriving the training aggregations per query (the
    // OPQ localCheckpoint-barrier precedent)
    (loglik.localCheckpoint(), priors.localCheckpoint())
  }

  /** APPLY a [[trainNaiveBayes]] model: score every document against every
    * label (integer-micros log-posterior = prior + Σ tokenCount·lpm — an
    * EXACT integer sum, so the argmax is order-independent), predict the
    * argmax with ties to the lexicographically first label. Documents with
    * zero vocabulary tokens score the bare priors (prior argmax). Scale
    * shape: per-doc token counts are one keyed aggregation, the model join
    * is a broadcast (≤ vocabK·|labels| rows), and the per-(doc,label)
    * aggregate plus the per-doc argmax window all partition by doc — no
    * global shuffle wider than the corpus. */
  def naiveBayesClassify(docs: DataFrame, textCol: String, idCol: String,
      loglik: DataFrame, priors: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // per-doc token counts are row-local (graft_token_counts): the old
    // explode-per-occurrence + groupBy(doc, token) pass paid an exchange
    // for counts that depend only on the row itself
    val dcnt = docs.select(col(idCol),
        explode(graft.expr.TextExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.t").as("t"), col("tc.cnt").as("__dc"))
    // loglik carries EVERY label per vocab term (dense grid), so one
    // broadcast join yields all |labels| scores for any doc with >= 1
    // vocab token; the left join from the doc×priors base only fills in
    // the zero-vocab-token docs
    val contrib = dcnt.join(broadcast(loglik), Seq("t"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("__dc") * col("lpm")).as("__s"),
        sum(col("__dc")).as("__ntok"))
    val scored = docs.select(col(idCol)).crossJoin(broadcast(priors))
      .join(contrib, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior_m") + coalesce(col("__s"), lit(0L))).as("nb_score_micros"),
        coalesce(col("__ntok"), lit(0L)).as("n_vocab_toks"))
    scored.withColumn("__r", row_number().over(
        Window.partitionBy(col(idCol))
          .orderBy(col("nb_score_micros").desc, col("label"))))
      .filter(col("__r") === 1)
      .select(col(idCol), col("label").as("nb_pred"),
        col("nb_score_micros"), col("n_vocab_toks"))
  }
}
