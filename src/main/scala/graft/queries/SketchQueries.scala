package graft.queries

import graft.operators.{Sampling, Sketch, TextOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-gated faces of the distinct-count sketches (beyond-reference;
  * the cardinality-estimation layer a 100 TB pipeline runs BEFORE any
  * exact distinct/join: sizing dedup work, choosing broadcast vs shuffle,
  * estimating eval-set contamination without touching the corpus).
  *
  * Both sketches are merge-order-invariant (register max / bottom-k), so
  * their output is deterministic under ANY Spark partitioning and a
  * DuckDB oracle replays every register from the pinned polynomial hash.
  * The one cross-engine hazard — the HLL estimate's floating division —
  * is confined to a single IEEE op on exactly-representable integers and
  * a shared shortest-repr constant (see [[Sketch.hllConstant]]). */
object SketchQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** DuckDB replay of [[Sketch.pinnedHash]] over expression `e`:
    * fpA(seed1)·P2 + fpB(seed2) with the two distinct polynomial
    * families, seeds inlined as precomputed prefix fingerprints
    * (polynomial prefix identity — same trick the Spark side's
    * seededFingerprint uses). */
  private[queries] def hashSql(e: String, tag: String): String = {
    def fp(init: Long, mult: Long, mod: Long) =
      s"""list_reduce(list_prepend(${init}::BIGINT,
         |      list_transform(range(1, len($e) + 1), i -> ascii(($e)[i]))),
         |      (a, b) -> (a * $mult + b) % $mod)""".stripMargin
    s"(${fp(TextOps.fingerprintOf(tag + "1:"), 31L, Sketch.HashP)} * ${Sketch.HashP2}\n     + ${fp(Sketch.fingerprintOfB(tag + "2:"), Sketch.HashMultB, Sketch.HashP2)})"
  }

  /** DuckDB replay of [[graft.expr.Mix63]] over column expression `e`
    * (expected cheap — a column reference, since the nesting duplicates
    * it): fmix64 in HUGEINT arithmetic. HUGEINT is a signed INT128, so a
    * 64×64 multiply would overflow — each wrapping multiply splits the
    * CONSTANT into 32-bit limbs: x·c mod 2^64 =
    * (xl·cl + ((xl·ch + xh·cl) mod 2^32)·2^32) mod 2^64, every
    * intermediate < 2^66. Differentially verified against the native
    * expression in SketchDistinctSpec. */
  private[queries] def mixSql(e: String): String = {
    val M64 = "18446744073709551616::HUGEINT" // 2^64
    val B = "4294967296::HUGEINT"             // 2^32
    def mul(xe: String, c: Long): String = {
      val cl = c & 0xFFFFFFFFL
      val ch = (c >>> 32) & 0xFFFFFFFFL
      s"""(((($xe) % $B) * ${cl}::HUGEINT
         | + (((($xe) % $B) * ${ch}::HUGEINT + (($xe) // $B) * ${cl}::HUGEINT) % $B) * $B)
         | % $M64)""".stripMargin
    }
    def x(xe: String) = s"xor(($xe), ($xe) >> 33)"
    val x1 = x(s"($e)::HUGEINT")
    val x2 = mul(x1, graft.expr.Mix63.C1)
    val x3 = x(x2)
    val x4 = mul(x3, graft.expr.Mix63.C2)
    val x5 = x(x4)
    s"CAST(($x5) % 9223372036854775808::HUGEINT AS BIGINT)"
  }

  private val HllP = 4 // m=16: per-lang counts stay in the raw-estimate
                       // regime (n > 2.5m) at every driver SF
  private val KmvK = 64
  private val PsK = 64
  private[queries] val CmsD = 3 // CMS depth: 3 independent hash rows
  private[queries] val CmsW = 64 // q_cms width: 50 keys in 64 buckets — collisions real
  // inner-product excess ≈ Na·Nb/w per row: w must scale with the
  // distinct-key count for a usable join estimate (production sizes
  // w ≈ keys/ε; at w=256 the sf0.01 estimate was 6.7× exact — measured)
  private val CmsJoinW = 4096

  /** One UNION ALL leg of the CMS replay: row `r`'s bucket for key
    * column `k` (BIGINT) under tag `t` — hash → mix63 → mod w. */
  private def cmsLegSql(r: Int, w: Int, t: String, from: String): String =
    s"""SELECT k, $r AS r, (${mixSql("h")}) % $w AS bucket
       |  FROM (SELECT k, ${hashSql("CAST(k AS VARCHAR)", s"$t:$r")} AS h
       |        FROM $from)""".stripMargin

  /** Text-item variant of [[cmsLegSql]] (hash the `text` column raw). */
  private def cmsLegTextSql(r: Int, w: Int, t: String, from: String): String =
    s"""SELECT $r AS r, (${mixSql("h")}) % $w AS bucket
       |  FROM (SELECT ${hashSql("text", s"$t:$r")} AS h FROM $from)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Moments sketch (Gan et al. VLDB'18): the mergeable quantile
    // carrier whose whole state is (n, min, max, Σx..Σx⁴) per group —
    // graded on the DOUBLE-LEVEL rollup a cube needs: per-source
    // sketches built first, then MERGED to languages (sums add, min/max
    // fold), proving mergeability itself under the oracle, which
    // computes the language sketches directly. Power sums are exact
    // DECIMAL(38,0) integers carried as digit strings; quantile
    // recovery is spec'd (SketchDistinctSpec) against exact quantiles.
    "q_moments" -> ((s, dir) => {
      val perSource = Sketch.momentsSketch(
        t(s, dir, "documents"), Seq("lang", "source"), col("n_chars"))
      Sketch.momentsMerge(perSource, Seq("lang"))
        .orderBy(col("lang"))
    }),

    // HLL distinct docs per language + an ALL rollup, next to the exact
    // count the estimate stands in for at scale. p=4 keeps even the
    // smallest language group (≈64 docs at sf0.01) above the 2.5m
    // raw-estimate floor; production would run p=10..14 (the accuracy
    // spec measures p=10 at 3% error on 20k distinct).
    "q_hll_distinct" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"), col("text"))
      val both = docs.unionByName(docs.withColumn("lang", lit("ALL")))
      Sketch.hllDistinct(both, col("text"), Seq("lang"), p = HllP)
        .join(both.groupBy("lang").agg(countDistinct(col("text")).as("n_exact")), "lang")
        .select(col("lang"), col("n_exact"), col("hll_raw"), col("v_zero"))
        .orderBy(col("lang"))
    }),

    // KMV bottom-k distinct estimate per language: groups under k report
    // exactly (the sketch IS the distinct set), larger groups report
    // (k−1)·U/h_(k) in pinned integral arithmetic.
    "q_kmv_distinct" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("lang"), col("text"))
      Sketch.kmvDistinct(docs, col("text"), Seq("lang"), k = KmvK)
        .join(docs.groupBy("lang").agg(countDistinct(col("text")).as("n_exact")), "lang")
        .select(col("lang"), col("n_exact"), col("kmv_est"))
        .orderBy(col("lang"))
    }),

    // Decontamination sizing from sketches alone: corpus A = all document
    // texts, corpus B = a planted eval set (every 7th doc's text = the
    // contamination, plus 60 eval-only probes that must NOT count).
    // est_intersection comes from the two 64-row sketches without joining
    // the corpora; exact_intersection rides along as the honesty column.
    "q_kmv_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val a = docs.select(col("text"))
      val b = docs.filter(col("doc_id") % 7 === 0).select(col("text"))
        .unionByName(s.range(60)
          .select(concat(lit("eval-only doc "), col("id")).as("text")))
      val exact = a.distinct().join(b.distinct(), "text")
        .agg(count(lit(1)).as("exact_intersection"))
      Sketch.kmvOverlap(a, b, col("text"), k = KmvK)
        .crossJoin(broadcast(exact))
    }),

    // Priority sampling (Duffield–Lund–Thorup): ONE standing 64-doc
    // sample drawn ∝ n_chars answers per-lang size questions it was not
    // drawn for — est_chars is the unbiased DLT subset-sum estimate of
    // each language's total chars from the sample alone; exact_chars is
    // the honesty column. Estimator sums go through DECIMAL(38,4) so the
    // ≤64-term addition is order-invariant (the double faces would hash-
    // drift under Spark's partial-agg order).
    "q_priority_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val samp = Sampling.prioritySample(docs, "doc_id", col("n_chars"), PsK)
      val est = samp.groupBy("lang").agg(
        sum(col("est_w").cast("decimal(38,4)")).as("est_chars"),
        count(lit(1)).as("n_sampled"))
      val exact = docs.groupBy("lang")
        .agg(sum(col("n_chars")).as("exact_chars"))
      exact.join(est, Seq("lang"), "left")
        .select(col("lang"), col("exact_chars"),
          coalesce(col("n_sampled"), lit(0L)).as("n_sampled"),
          // BIGINT micro-units at the boundary — see q1_agg_exact / Exact
          Exact.micros(coalesce(col("est_chars"), lit(0).cast("decimal(38,4)")))
            .as("est_chars_micros"))
        .orderBy(col("lang"))
    }),

    // Poisson bootstrap (Chamandy et al. 2012) — uncertainty for
    // pipeline metrics in ONE pass: every row draws a deterministic
    // Poisson(1) weight per replicate from the pinned hash of id:b, so
    // the 64 replicate sums (and the CI order statistics on top) are
    // bit-reproducible and fully oracle-replayable. Means ride the
    // half-up integral micro-unit formula (round(double,6) is
    // cross-engine unsafe at midpoints).
    "q_bootstrap" -> ((s, dir) => {
      val reps = graft.operators.Stats.poissonBootstrap(
        t(s, dir, "documents"), "doc_id", col("n_chars"), b = 64)
      reps.select(col("replicate"), col("n_eff"),
          Exact.micros(col("sum_w")).as("sum_w_micros"),
          when(col("n_eff") > 0,
            expr("CAST((CAST(sum_w * 10000 AS DECIMAL(38,0)) * 200 + n_eff)" +
              " div (2 * n_eff) AS BIGINT)")).as("mean_micros"))
        .orderBy(col("replicate"))
    }),

    // Count-Min sketch: d×w counter matrix over the q_skew key stream
    // (planted hot key 0 absorbs every 5th event). Point estimates =
    // min over d counters — always ≥ exact (the honesty column), tight
    // when the min row dodges collisions. w=64 against 50 keys FORCES
    // collisions so the min is doing real work, not vacuously exact.
    "q_cms" -> ((s, dir) => {
      val keys = t(s, dir, "events").select(
        when(col("event_id") % 5 === 0, lit(0L))
          .otherwise(col("user_id") % 50).as("k"))
      val sk = Sketch.cmsSketch(keys, col("k"), d = CmsD, w = CmsW)
      val probes = keys.filter(col("k") < 10).distinct()
      val exact = keys.filter(col("k") < 10).groupBy(col("k").as("item"))
        .agg(count(lit(1)).as("exact_cnt"))
      Sketch.cmsEstimate(sk, probes, col("k"), d = CmsD, w = CmsW)
        .join(exact, "item")
        .select(col("item"), col("est_cnt"), col("exact_cnt"))
        .orderBy(col("item"))
    }),

    // Join-size estimation from two CMS sketches (the classic inner-
    // product estimator): |orders ⋈ customer| from two ≤ d·w-row
    // tables, zero corpus re-access — the sketch-side cardinality
    // input a planner needs to pick broadcast vs shuffle vs salt
    // BEFORE paying the join. est ≥ exact; exact is the honesty column.
    "q_cms_join" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val est = Sketch.cmsInnerProduct(
        Sketch.cmsSketch(o, col("k"), CmsD, CmsJoinW, "cmsj"),
        Sketch.cmsSketch(c, col("k"), CmsD, CmsJoinW, "cmsj"))
      val exact = o.join(c, "k").agg(count(lit(1)).as("exact_join_size"))
      est.crossJoin(broadcast(exact))
    }),

    // Maintained CMS: the standing frequency sketch of release 1 is
    // updated from the CDC change set ALONE (removed/changed-old
    // subtract, added/changed-new add — counters are a turnstile, the
    // property HLL's maxes and KMV's bottom-k lack) and must equal a
    // full rebuild over release 2 bit for bit, which is exactly what
    // the oracle computes. Closes the O(churn) maintained-index family
    // for the sketch layer.
    "q_cms_maintain" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val newD = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val oldSketch = Sketch.cmsSketch(docs, col("text"), CmsD, CmsW, "cmsm")
      val changes = graft.operators.Diff.snapshotDiff(
          docs, newD, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      Sketch.cmsMaintain(oldSketch, changes, col("text"), col("text_new"),
          CmsD, CmsW, "cmsm")
        .orderBy(col("r"), col("bucket"))
    }),

    // CDC-maintained moments sketch: the same release-2 churn as
    // q_cms_maintain/q_incr_agg (drop %97, bump n_chars by 7 on %53,
    // clone %89 under new ids), maintained at O(changed rows) — power
    // sums are a turnstile, so maintained == rebuild bit for bit, which
    // is exactly what the oracle computes (HUGEINT sums over release 2).
    // min/max deliberately absent: extrema are not deletion-maintainable.
    "q_moments_maintain" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("lang"),
        col("n_chars"))
      val newD = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("lang"),
          when(col("doc_id") % 53 === 0, col("n_chars") + 7L)
            .otherwise(col("n_chars")).as("n_chars"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            col("n_chars")))
      Sketch.momentsMaintain(docs, newD, Seq("doc_id"), Seq("lang"),
          col("n_chars"))
        .orderBy(col("lang"))
    }),

    // STRATIFIED priority sampling: an independent DLT sample per
    // language (k=16 each, per-group τ) — the per-source quota face a
    // mixing pipeline runs. Emits the sample rows themselves, so the
    // oracle gates the grouped machinery (partial+final WindowGroupLimit
    // path) row by row: per-group ranks, per-group τ, estimators.
    "q_priority_sample_by" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      Sampling.prioritySample(docs, "doc_id", col("n_chars"), 16,
          groupCols = Seq("lang"))
        .select(col("lang"), col("sample_rank"), col("doc_id"),
          col("n_chars"), col("est_w"))
        .orderBy(col("lang"), col("sample_rank"))
    }),

    // Per-file NDV sketch sidecar on the versioned table: v0's files
    // carry HLL registers; an append commit (re-release of %3 texts
    // under new ids) refreshes the sidecar in O(commit) — carried files
    // keep their registers VERBATIM, only the new files are measured —
    // and each version's approx-distinct is a driver-side register
    // merge over manifest metadata, zero data I/O. The oracle replays
    // the full pinned HLL over each version's LOGICAL contents, so the
    // graded equality proves per-file decomposition + max-merge ==
    // one global sketch (and that the carry carried the right bits).
    // Per-PARTITION NDV from the same sidecar: each language's files'
    // registers merge independently (register max over any file subset
    // sketches that subset's union), so "distinct texts per language"
    // is manifest arithmetic. The oracle replays the full grouped HLL
    // over the data, proving the per-partition decomposition — the
    // spec's differential plus the gate's hash.
    "q_table_ndv_parts" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("lang"), col("text"))
      val path = graft.Harness.tempDir("graft_vtnp").toString +
        "/docs"
      val v = VersionedTable.createPartitioned(docs.repartition(4), path, "lang")
      VersionedTable.writeNdv(s, path, v, "text", p = TableNdvP)
      val rows = VersionedTable.partitionNdv(path, v, "lang", "text").get
        .map { case (l, (raw, vz)) => (l, raw, vz) }
      import s.implicits._
      rows.toDF("lang", "hll_raw", "v_zero").orderBy(col("lang"))
    }),

    "q_table_ndv" -> ((s, dir) => {
      import graft.sources.VersionedTable
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val path = graft.Harness.tempDir("graft_vtn").toString +
        "/docs"
      val v0 = VersionedTable.create(docs.repartition(4), path)
      VersionedTable.writeNdv(s, path, v0, "text", p = TableNdvP)
      val extra = docs.filter(col("doc_id") % 3 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text"), lit(" v2")).as("text"))
      val v1 = VersionedTable.commit(extra, path, "append")
      VersionedTable.writeNdv(s, path, v1, "text", p = TableNdvP)
      val (r0, z0) = VersionedTable.ndvAt(path, v0, "text").get
      val (r1, z1) = VersionedTable.ndvAt(path, v1, "text").get
      import s.implicits._
      Seq((0L, r0, z0), (1L, r1, z1)).toDF("version", "hll_raw", "v_zero")
        .orderBy(col("version"))
    })
  )

  private val TableNdvP = 6 // m=64: doc corpora stay in the raw regime

  /** One UNION ALL leg of the versioned-table NDV replay: the full
    * pinned HLL (hash → mix63 → register max → integral estimate) over
    * the version's logical contents in `from`. */
  private def hllLegSql(ver: Int, p: Int, tag: String, from: String): String = {
    val m = 1 << p
    val w = Sketch.HllW
    val mask = (1L << w) - 1
    val empty = 1L << (w + 1)
    val c = java.lang.Double.toString(Sketch.hllConstant(p))
    s"""SELECT $ver AS version,
       |  CAST(floor($c / CAST(st + ($m - touched) * $empty AS DOUBLE)) AS BIGINT) AS hll_raw,
       |  CAST($m - touched AS BIGINT) AS v_zero
       |FROM (
       |  SELECT sum(1::BIGINT << (${w + 1} - mx)) AS st, count(*) AS touched
       |  FROM (
       |    SELECT idx, max(rho) AS mx FROM (
       |      SELECT h % $m AS idx,
       |        CASE WHEN ((h >> $p) & $mask) = 0 THEN ${w + 1}
       |             ELSE ${w + 1} - length(bin((h >> $p) & $mask)) END AS rho
       |      FROM (SELECT ${mixSql("h")} AS h
       |            FROM (SELECT ${hashSql("text", tag)} AS h FROM $from)))
       |    GROUP BY idx))""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(

    "q_table_ndv_parts" -> {
      val p = TableNdvP
      val m = 1 << p
      val w = Sketch.HllW
      val mask = (1L << w) - 1
      val empty = 1L << (w + 1)
      val c = java.lang.Double.toString(Sketch.hllConstant(p))
      s"""WITH h0 AS (SELECT lang, ${hashSql("text", "vtndv")} AS h FROM documents),
         |h AS (SELECT lang, ${mixSql("h")} AS h FROM h0),
         |r AS (
         |  SELECT lang, h % $m AS idx,
         |    CASE WHEN ((h >> $p) & $mask) = 0 THEN ${w + 1}
         |         ELSE ${w + 1} - length(bin((h >> $p) & $mask)) END AS rho
         |  FROM h),
         |reg AS (SELECT lang, idx, max(rho) AS mx FROM r GROUP BY lang, idx),
         |agg AS (
         |  SELECT lang, sum(1::BIGINT << (${w + 1} - mx)) AS st, count(*) AS touched
         |  FROM reg GROUP BY lang)
         |SELECT lang,
         |  CAST(floor($c / CAST(st + ($m - touched) * $empty AS DOUBLE)) AS BIGINT) AS hll_raw,
         |  CAST($m - touched AS BIGINT) AS v_zero
         |FROM agg ORDER BY lang""".stripMargin
    },

    "q_table_ndv" ->
      s"""WITH v1docs AS (
         |  SELECT text FROM documents
         |  UNION ALL
         |  SELECT text || ' v2' AS text FROM documents WHERE doc_id % 3 = 0)
         |${hllLegSql(0, TableNdvP, "vtndv", "documents")}
         |UNION ALL
         |${hllLegSql(1, TableNdvP, "vtndv", "v1docs")}
         |ORDER BY version""".stripMargin,

    "q_priority_sample" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
         |h0 AS (SELECT doc_id, lang, n_chars,
         |         ${hashSql("CAST(doc_id AS VARCHAR)", "psamp")} AS h FROM d),
         |h1 AS (SELECT doc_id, lang, n_chars, ${mixSql("h")} AS h FROM h0),
         |pri AS (SELECT doc_id, lang, n_chars,
         |          CAST(n_chars AS DOUBLE) /
         |            (CAST(h + 1 AS DOUBLE) / 9223372036854775808::DOUBLE) AS q
         |        FROM h1),
         |rk AS (SELECT *, row_number() OVER (ORDER BY q DESC, doc_id) AS rk FROM pri),
         |tau AS (SELECT max(CASE WHEN rk = ${PsK + 1} THEN q END) AS tau
         |        FROM rk WHERE rk <= ${PsK + 1}),
         |samp AS (SELECT lang,
         |           CAST(GREATEST(CAST(n_chars AS DOUBLE),
         |                COALESCE((SELECT tau FROM tau), CAST(n_chars AS DOUBLE)))
         |             AS DECIMAL(38,4)) AS est
         |         FROM rk WHERE rk <= $PsK),
         |est AS (SELECT lang, sum(est) AS est_chars, count(*) AS n_sampled
         |        FROM samp GROUP BY lang),
         |ex AS (SELECT lang, CAST(sum(n_chars) AS BIGINT) AS exact_chars
         |       FROM documents GROUP BY lang)
         |SELECT ex.lang, ex.exact_chars,
         |  COALESCE(n_sampled, 0) AS n_sampled,
         |  CAST(CAST(COALESCE(est_chars, 0.0000::DECIMAL(38,4)) * 10000
         |    AS HUGEINT) AS BIGINT) AS est_chars_micros
         |FROM ex LEFT JOIN est ON ex.lang = est.lang
         |ORDER BY ex.lang""".stripMargin,

    "q_bootstrap" ->
      s"""WITH e AS (
         |  SELECT doc_id, n_chars, r.b
         |  FROM documents CROSS JOIN range(64) r(b)),
         |h0 AS (SELECT doc_id, n_chars, b,
         |  ${hashSql("CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)", "boot")} AS h
         |  FROM e),
         |h1 AS (SELECT n_chars, b, ${mixSql("h")} AS h2 FROM h0),
         |w AS (SELECT b, n_chars,
         |  CASE WHEN u < 0.36787944117144233 THEN 0
         |       WHEN u < 0.7357588823428847 THEN 1
         |       WHEN u < 0.9196986029286058 THEN 2
         |       WHEN u < 0.9810118431238463 THEN 3
         |       WHEN u < 0.9963401531726563 THEN 4
         |       WHEN u < 0.9994058151824183 THEN 5
         |       WHEN u < 0.999916758850712 THEN 6
         |       WHEN u < 0.9999897508033253 THEN 7
         |       ELSE 8 END AS w
         |  FROM (SELECT b, n_chars,
         |          CAST(h2 + 1 AS DOUBLE) / 9223372036854775808::DOUBLE AS u
         |        FROM h1)),
         |agg AS (
         |  SELECT b AS replicate, CAST(sum(w) AS BIGINT) AS n_eff,
         |    sum(CAST(CAST(n_chars AS DOUBLE) * w AS DECIMAL(38,4))) AS sum_w
         |  FROM w GROUP BY b)
         |SELECT replicate, n_eff,
         |  CAST(CAST(sum_w * 10000 AS HUGEINT) AS BIGINT) AS sum_w_micros,
         |  CASE WHEN n_eff > 0 THEN
         |    CAST((CAST(sum_w * 10000 AS HUGEINT) * 200 + n_eff)
         |         // (2 * n_eff) AS BIGINT) END AS mean_micros
         |FROM agg ORDER BY replicate""".stripMargin,

    "q_cms" ->
      s"""WITH keys AS (SELECT CASE WHEN event_id % 5 = 0 THEN 0
         |               ELSE user_id % 50 END AS k FROM events),
         |hb AS (${(0 until CmsD).map(cmsLegSql(_, CmsW, "cms", "keys"))
                    .mkString("\n UNION ALL\n")}),
         |sk AS (SELECT r, bucket, count(*) AS cnt FROM hb GROUP BY r, bucket),
         |pr AS (SELECT DISTINCT k, r, bucket FROM hb WHERE k < 10),
         |est AS (SELECT k AS item,
         |          CAST(min(COALESCE(cnt, 0)) AS BIGINT) AS est_cnt
         |        FROM pr LEFT JOIN sk USING (r, bucket) GROUP BY k),
         |ex AS (SELECT k AS item, count(*) AS exact_cnt
         |       FROM keys WHERE k < 10 GROUP BY k)
         |SELECT item, est_cnt, exact_cnt
         |FROM est JOIN ex USING (item) ORDER BY item""".stripMargin,

    "q_cms_join" ->
      s"""WITH o AS (SELECT o_custkey AS k FROM orders),
         |c AS (SELECT c_custkey AS k FROM customer),
         |oh AS (${(0 until CmsD).map(cmsLegSql(_, CmsJoinW, "cmsj", "o"))
                    .mkString("\n UNION ALL\n")}),
         |ch AS (${(0 until CmsD).map(cmsLegSql(_, CmsJoinW, "cmsj", "c"))
                    .mkString("\n UNION ALL\n")}),
         |osk AS (SELECT r, bucket, count(*) AS cnt FROM oh GROUP BY r, bucket),
         |csk AS (SELECT r, bucket, count(*) AS cnt FROM ch GROUP BY r, bucket),
         |dot AS (SELECT r, CAST(sum(osk.cnt * csk.cnt) AS BIGINT) AS d
         |        FROM osk JOIN csk USING (r, bucket) GROUP BY r),
         |est AS (SELECT CAST(min(d) AS BIGINT) AS est_join_size FROM dot),
         |ex AS (SELECT count(*) AS exact_join_size FROM o JOIN c USING (k))
         |SELECT est_join_size, exact_join_size FROM est, ex""".stripMargin,

    "q_cms_maintain" ->
      s"""WITH newd AS (
         |  SELECT CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
         |  FROM documents WHERE doc_id % 97 <> 0
         |  UNION ALL
         |  SELECT text FROM documents WHERE doc_id % 89 = 0),
         |hb AS (${(0 until CmsD).map(cmsLegTextSql(_, CmsW, "cmsm", "newd"))
                    .mkString("\n UNION ALL\n")})
         |SELECT r, bucket, count(*) AS cnt FROM hb
         |GROUP BY r, bucket ORDER BY r, bucket""".stripMargin,

    "q_priority_sample_by" ->
      s"""WITH d AS (SELECT doc_id, lang, n_chars FROM documents),
         |h0 AS (SELECT doc_id, lang, n_chars,
         |         ${hashSql("CAST(doc_id AS VARCHAR)", "psamp")} AS h FROM d),
         |h1 AS (SELECT doc_id, lang, n_chars, ${mixSql("h")} AS h FROM h0),
         |pri AS (SELECT doc_id, lang, n_chars,
         |          CAST(n_chars AS DOUBLE) /
         |            (CAST(h + 1 AS DOUBLE) / 9223372036854775808::DOUBLE) AS q
         |        FROM h1),
         |rk AS (SELECT *, row_number()
         |         OVER (PARTITION BY lang ORDER BY q DESC, doc_id) AS rk FROM pri),
         |tau AS (SELECT lang, max(CASE WHEN rk = 17 THEN q END) AS tau
         |        FROM rk WHERE rk <= 17 GROUP BY lang)
         |SELECT rk.lang, rk.rk AS sample_rank, rk.doc_id, rk.n_chars,
         |  GREATEST(CAST(rk.n_chars AS DOUBLE),
         |    COALESCE(tau.tau, CAST(rk.n_chars AS DOUBLE))) AS est_w
         |FROM rk JOIN tau ON rk.lang = tau.lang
         |WHERE rk.rk <= 16
         |ORDER BY rk.lang, sample_rank""".stripMargin,

    "q_moments" ->
      """SELECT lang, count(*)::BIGINT AS n,
        |  min(n_chars)::BIGINT AS x_min, max(n_chars)::BIGINT AS x_max,
        |  sum(n_chars::HUGEINT)::VARCHAR AS s1,
        |  sum(n_chars::HUGEINT * n_chars)::VARCHAR AS s2,
        |  sum(n_chars::HUGEINT * n_chars * n_chars)::VARCHAR AS s3,
        |  sum(n_chars::HUGEINT * n_chars * n_chars * n_chars)::VARCHAR AS s4
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_moments_maintain" ->
      """WITH new AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN doc_id % 53 = 0 THEN n_chars + 7 ELSE n_chars END AS x
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars AS x
        |  FROM documents WHERE doc_id % 89 = 0)
        |SELECT lang, count(*)::BIGINT AS n,
        |  sum(x::HUGEINT)::VARCHAR AS s1,
        |  sum(x::HUGEINT * x)::VARCHAR AS s2,
        |  sum(x::HUGEINT * x * x)::VARCHAR AS s3,
        |  sum(x::HUGEINT * x * x * x)::VARCHAR AS s4
        |FROM new WHERE x IS NOT NULL
        |GROUP BY lang ORDER BY lang""".stripMargin,

    "q_hll_distinct" -> {
      val m = 1 << HllP
      val w = Sketch.HllW
      val mask = (1L << w) - 1
      val empty = 1L << (w + 1)
      val c = java.lang.Double.toString(Sketch.hllConstant(HllP))
      s"""WITH docs AS (
         |  SELECT lang, text FROM documents
         |  UNION ALL
         |  SELECT 'ALL' AS lang, text FROM documents),
         |h0 AS (
         |  SELECT lang, ${hashSql("text", "hll")} AS h
         |  FROM docs),
         |h AS (SELECT lang, ${mixSql("h")} AS h FROM h0),
         |r AS (
         |  SELECT lang, h % $m AS idx,
         |    CASE WHEN ((h >> $HllP) & $mask) = 0 THEN ${w + 1}
         |         ELSE ${w + 1} - length(bin((h >> $HllP) & $mask)) END AS rho
         |  FROM h),
         |reg AS (SELECT lang, idx, max(rho) AS mx FROM r GROUP BY lang, idx),
         |agg AS (
         |  SELECT lang, sum(1::BIGINT << (${w + 1} - mx)) AS st, count(*) AS touched
         |  FROM reg GROUP BY lang),
         |ex AS (SELECT lang, count(DISTINCT text) AS n_exact FROM docs GROUP BY lang)
         |SELECT a.lang, ex.n_exact,
         |  CAST(floor($c / CAST(st + ($m - touched) * ${empty} AS DOUBLE)) AS BIGINT) AS hll_raw,
         |  CAST($m - touched AS BIGINT) AS v_zero
         |FROM agg a JOIN ex ON a.lang = ex.lang
         |ORDER BY a.lang""".stripMargin
    },

    "q_kmv_distinct" ->
      s"""WITH d AS (SELECT DISTINCT lang, text FROM documents),
         |h0 AS (SELECT lang, ${hashSql("text", "kmv")} AS h FROM d),
         |h AS (SELECT DISTINCT lang, ${mixSql("h")} AS h FROM h0),
         |rk AS (SELECT lang, h,
         |         row_number() OVER (PARTITION BY lang ORDER BY h) AS rk FROM h),
         |sk AS (SELECT lang, count(*) AS cnt, max(h) AS kth
         |       FROM rk WHERE rk <= $KmvK GROUP BY lang),
         |ex AS (SELECT lang, count(DISTINCT text) AS n_exact FROM documents GROUP BY lang)
         |SELECT sk.lang, ex.n_exact,
         |  CASE WHEN cnt < $KmvK THEN cnt
         |       ELSE CAST((${KmvK - 1}::HUGEINT * ${Sketch.HashRange}::HUGEINT) // kth AS BIGINT)
         |  END AS kmv_est
         |FROM sk JOIN ex ON sk.lang = ex.lang
         |ORDER BY sk.lang""".stripMargin,

    "q_kmv_overlap" ->
      s"""WITH a_items AS (SELECT DISTINCT text FROM documents),
         |b_items AS (
         |  SELECT DISTINCT text FROM (
         |    SELECT text FROM documents WHERE doc_id % 7 = 0
         |    UNION ALL
         |    SELECT 'eval-only doc ' || i::VARCHAR AS text FROM range(60) t(i))),
         |ha0 AS (SELECT ${hashSql("text", "kmv")} AS h FROM a_items),
         |hb0 AS (SELECT ${hashSql("text", "kmv")} AS h FROM b_items),
         |ha AS (SELECT DISTINCT ${mixSql("h")} AS h FROM ha0),
         |hb AS (SELECT DISTINCT ${mixSql("h")} AS h FROM hb0),
         |ka AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM ha)
         |       WHERE rk <= $KmvK),
         |kb AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM hb)
         |       WHERE rk <= $KmvK),
         |un AS (SELECT DISTINCT h FROM (SELECT h FROM ka UNION ALL SELECT h FROM kb)),
         |uk AS (SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rk FROM un)
         |       WHERE rk <= $KmvK),
         |m AS (SELECT count(*) AS cnt, max(h) AS kth,
         |        count(*) FILTER (WHERE h IN (SELECT h FROM ka)
         |                           AND h IN (SELECT h FROM kb)) AS k_matches
         |      FROM uk),
         |eu AS (SELECT cnt, k_matches,
         |         CASE WHEN cnt < $KmvK THEN cnt
         |              ELSE CAST((${KmvK - 1}::HUGEINT * ${Sketch.HashRange}::HUGEINT) // kth AS BIGINT)
         |         END AS est_union
         |       FROM m),
         |na AS (SELECT count(*) AS n_a FROM ka),
         |nb AS (SELECT count(*) AS n_b FROM kb),
         |ex AS (SELECT count(*) AS exact_intersection
         |       FROM a_items JOIN b_items ON a_items.text = b_items.text)
         |SELECT n_a, n_b, est_union, k_matches,
         |  CAST((k_matches::HUGEINT * est_union::HUGEINT) // GREATEST(cnt, 1) AS BIGINT)
         |    AS est_intersection,
         |  exact_intersection
         |FROM eu, na, nb, ex""".stripMargin
  )
}
