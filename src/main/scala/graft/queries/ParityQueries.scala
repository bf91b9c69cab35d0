package graft.queries

import graft.core.Table
import graft.operators.{Aggregates => A, Stats}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Reference-parity operator queries (SURVEY.md §2.3–§2.9) beyond the
  * first slice in SparkEntry: full aggregateBy surface, whole-column
  * stats with the reference's interpolated-quantile rule, null ops over
  * deterministically injected nulls (the driver data has none), ungroup,
  * rolling interval windows, autocorrelation, correlation, horizontal
  * concat. Oracle SQL mirrors each query in DuckDB dialect.
  */
object ParityQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def events(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
    else raw
  }

  /** events with nulls injected deterministically (driver data is null-free):
    * value null on 'error' rows, props null on 'click' rows. */
  private def eventsWithNulls(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("value", when(col("event_type") =!= "error", col("value")))
      .withColumn("props", when(col("event_type") =!= "click", col("props")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.7 grouped aggregation — the reference's FULL function surface:
    // min/max/mean/length/median/sum/variance/std/first/last/RSI with its
    // naming (col_fn), all-double outputs, null-gate semantics.
    "q_aggregate_by" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("qty_n", when(col("l_partkey") % 11 =!= 0, col("l_quantity")))
        .withColumn("delta", col("l_quantity") - lit(25.0))
      // qty_n breaks ties on (l_orderkey, l_linenumber), as in the oracle:
      // first takes the smallest tied value, last the largest
      val out = A.aggregateByOrdered(li, "l_returnflag",
        Seq(col("l_orderkey"), col("l_linenumber"), col("qty_n")), Seq(
        "qty_n" -> Seq(A.Minimum, A.Maximum, A.Mean, A.Length, A.Median, A.Sum,
          A.Variance, A.StdDev, A.First, A.Last),
        "delta" -> Seq(A.Rsi)))
      out
        .withColumnRenamed("qty_n_std dev", "qty_n_std_dev")
        .select(col("l_returnflag"),
          col("qty_n_min"), col("qty_n_max"),
          round(col("qty_n_mean"), 4).as("qty_n_mean"),
          col("qty_n_length"),
          round(col("qty_n_median"), 4).as("qty_n_median"),
          round(col("qty_n_sum"), 4).as("qty_n_sum"),
          round(col("qty_n_variance"), 4).as("qty_n_variance"),
          round(col("qty_n_std_dev"), 4).as("qty_n_std_dev"),
          col("qty_n_first"), col("qty_n_last"),
          round(col("delta_RSI"), 4).as("delta_rsi"))
        .orderBy(col("l_returnflag"))
    }),

    // §2.7 countValues incl. the null group
    "q_count_values" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .withColumn("st", when(col("o_orderstatus") =!= "P", col("o_orderstatus")))
      Stats.countValues(ord, "st")
        .orderBy(col("value").asc_nulls_first)
    }),

    // §2.7 whole-column stats with the reference interpolated quantile
    // (n = N*q - 0.5 lerp — differs from SQL percentile's (N-1)*q)
    "q_stats" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("v", when(col("l_discount") <= 0.08, col("l_discount")))
      Stats.describeColumn(li, "v")
        .select(
          round(col("min"), 6).as("min"), round(col("max"), 6).as("max"),
          round(col("mean"), 6).as("mean"), round(col("sum"), 4).as("sum"),
          round(col("variance"), 8).as("variance"), round(col("std"), 8).as("std"),
          round(col("q1"), 6).as("q1"), round(col("median"), 6).as("median"),
          round(col("q3"), 6).as("q3"),
          col("null_count"), col("row_count"))
    }),

    // §2.7 stats over an ALL-NULL column: the RequiredSampleCount gates
    // through the oracle (null stats, sum -> 0, quantiles null)
    "q_stats_empty" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .withColumn("v", when(lit(false), col("l_discount")))
      Stats.describeColumn(li, "v")
        .select(col("min"), col("max"), col("mean"), round(col("sum"), 4).as("sum"),
          col("variance"), col("std"), col("q1"), col("median"), col("q3"),
          col("null_count"), col("row_count"))
    }),

    // §2.9 dropNa: any-null rows dropped
    "q_dropna" -> ((s, dir) => {
      Table.of(eventsWithNulls(s, dir).select("event_id", "event_type", "value", "props"))
        .dropNa()
        .toDF
        .orderBy(col("event_id"))
    }),

    // §2.9 fillNa with the reference's cross-type coercion (number fills
    // stringify into string columns)
    "q_fillna" -> ((s, dir) => {
      Table.of(eventsWithNulls(s, dir).select("event_id", "value", "props"))
        .fillNa(0L)
        .toDF
        .select(col("event_id"), round(col("value"), 6).as("value"), col("props"))
        .orderBy(col("event_id"))
    }),

    // §2.9 interpolate: linear interior lerp, edge runs clamped
    "q_interpolate" -> ((s, dir) => {
      val ev = events(s, dir)
        .withColumn("value", when(col("user_id") % 7 =!= 0, col("value")))
        .select("event_id", "value")
      Table.fromDF(ev, Seq(col("event_id")))
        .interpolate()
        .toDF
        .select(col("event_id"), round(col("value"), 6).as("value"))
        .orderBy(col("event_id"))
    }),

    // §2.9 ungroup (split + explode), with positions for determinism
    "q_ungroup" -> ((s, dir) => {
      Table.of(t(s, dir, "documents").select("doc_id", "text"))
        .ungroupSplittingOnPos("text", " ", "pos")
        .toDF
        .select(col("doc_id"), col("pos"), col("text").as("token"))
        .orderBy(col("doc_id"), col("pos"))
    }),

    // §2.8 rolling time-interval aggregation: left-open (t-10min, t] window
    "q_rolling" -> ((s, dir) => {
      Stats.rollingInterval(events(s, dir), "ts", 600L * 1000 * 1000,
          Seq("value" -> Seq(A.Sum, A.Mean, A.Length)))
        .select(col("ts"),
          round(col("value_sum"), 4).as("value_sum"),
          // The windowed mean is emitted as round(sum,4)/count with NO
          // re-rounding: sliding-frame sums differ by ~1 ulp between
          // Spark's per-row frame recompute and DuckDB's segment tree, so
          // any decimal rounding of the raw mean eventually straddles a
          // boundary (observed 3/100k at sf0.1). The 2-decimal source
          // values make round(sum,4) deterministic on both sides, and
          // dividing identical doubles is bit-identical. The operator's
          // native Mean stays exercised by the rolling golden spec.
          (round(col("value_sum"), 4) / col("value_length")).as("value_mean"),
          col("value_length"))
        .orderBy(col("ts"), col("value_sum"))
    }),

    // §2.8 keyed rolling window — the scale-shaped variant: windows are
    // per-user, so the computation parallelizes across keys instead of
    // funneling through one global ordering
    "q_rolling_by_user" -> ((s, dir) => {
      Stats.rollingIntervalWithin(events(s, dir), Seq(col("user_id")), "ts",
          3600L * 1000 * 1000, Seq("value" -> Seq(A.Sum, A.Length)))
        .select(col("user_id"), col("ts"),
          round(col("value_sum"), 4).as("value_sum"), col("value_length"))
        .orderBy(col("user_id"), col("ts"), col("value_sum"))
    }),

    // Rolling EXACT MEDIAN per user (10-min left-open window): the
    // windowed face of the interpolated-quantile aggregate — an exact
    // order statistic sliding over event time, per key
    "q_rolling_median" -> ((s, dir) => {
      Stats.rollingIntervalWithin(events(s, dir), Seq(col("user_id")), "ts",
          600L * 1000 * 1000, Seq("value" -> Seq(A.Median)))
        .select(col("user_id"), col("ts"),
          round(col("value_median"), 6).as("value_median"))
        .orderBy(col("user_id"), col("ts"), col("value_median"))
    }),

    // §2.3 keyed shift: lag within each user's event sequence
    "q_shift_by_user" -> ((s, dir) => {
      Table.of(events(s, dir))
        .shiftWithin("value", 1, Seq(col("user_id")), Seq(col("event_id")))
        .toDF
        .select(col("event_id"), col("user_id"), col("value"), col("value_shift_1"))
        .orderBy(col("event_id"))
    }),

    // §2.7 autoCorr: Pearson corr of a column vs itself lagged
    "q_autocorr" -> ((s, dir) => {
      Stats.autoCorr(Table.fromDF(events(s, dir), Seq(col("event_id"))), "value", 3)
        .select(round(col("autocorr"), 6).as("autocorr"))
    }),

    // §2.7 pairwise-complete Pearson correlation
    "q_corr" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qty_price"),
        round(corr(col("l_discount"), col("l_tax")), 6).as("corr_disc_tax"),
        round(corr(col("l_quantity"), col("l_tax")), 6).as("corr_qty_tax"))
    }),

    // §2.2 horizontal concat = row-position zip of two independent orders
    "q_concat" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      val left = Table.fromDF(ord.select("o_orderkey"), Seq(col("o_orderkey")))
      val right = Table.fromDF(
        ord.select(col("o_orderkey").as("o_orderkey_by_price"), col("o_totalprice")),
        Seq(col("o_totalprice").desc, col("o_orderkey_by_price")))
      left.concat(right)
        .indexed
        .withColumnRenamed(Table.RowIdx, "pos")
        .select(col("pos"), col("o_orderkey"), col("o_orderkey_by_price"))
        .orderBy(col("pos"))
    }),

    // §2.7 whole-table describe: one row per numeric column
    // Interval-overlap join: 20-min event intervals from two event
    // subsets, per-user overlap pairs via bucketized equi-join (each
    // pair emitted once in the first shared bucket — no distinct pass)
    "q_overlap_join" -> ((s, dir) => {
      val base = events(s, dir).select(col("user_id"), col("event_id"),
        unix_micros(col("ts").cast(TimestampType)).as("t"))
      val a = base.filter(col("event_id") % 5 === 0)
        .select(col("user_id"), col("event_id").as("a_id"),
          col("t").as("a_s"), (col("t") + 1200000000L).as("a_e"))
      val b = base.filter(col("event_id") % 5 === 1)
        .select(col("user_id"), col("event_id").as("b_id"),
          col("t").as("b_s"), (col("t") + 1200000000L).as("b_e"))
      graft.operators.Joins.intervalOverlapJoin(a, b, Seq("user_id"),
          "a_s", "a_e", "b_s", "b_e", bucketMicros = 1800000000L)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("a_id") + col("b_id")).as("id_sum"))
        .orderBy(col("user_id"))
    }),

    // Semi-structured JSON column extraction (events.props): pull a
    // typed field out of a JSON string column and aggregate on it —
    // Spark's codegen'd JSON path vs DuckDB's json_extract replay
    "q_json_extract" -> ((s, dir) => {
      t(s, dir, "events").select(
          get_json_object(col("props"), "$.k").cast(LongType).as("k"),
          col("value"))
        .groupBy((col("k") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
          round(sum(col("value")), 4).as("value_sum"))
        // pin null placement: a props row without '$.k' gives a null
        // bucket, and Spark asc defaults NULLS FIRST vs DuckDB's LAST
        .orderBy(col("bucket").asc_nulls_last)
    }),

    // Per-key z-score outliers (|z| >= 2 per event_type): grouped
    // anomaly flagging via one tiny stats aggregate joined back — never
    // a window over the value partitions
    "q_zscore" -> ((s, dir) => {
      Stats.zscores(t(s, dir, "events"), "value", Seq("event_type"))
        .filter(abs(col("z")) >= 2)
        .select(col("event_id"), col("event_type"), round(col("z"), 4).as("z"))
        .orderBy(col("event_id"))
    }),

    // Equi-depth binning at the exact interpolated quartiles: balanced
    // buckets without a global sort (boundaries broadcast, bucket pass
    // narrow). Beyond-reference, but split by the REFERENCE quantile rule.
    "q_eqdepth" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_extendedprice"))
      Stats.equiDepthBins(li, "l_extendedprice", 4)
        .groupBy(col("bin"))
        // sum in per-row-deterministic integral CENTS: round(sum(dbl),4)
        // is stable only while the sum magnitude leaves 4 decimals inside
        // double precision — at sf1 the 1e11 bin totals exceed that and
        // summation order flips the hash (measured). floor(x*100) is the
        // same IEEE arithmetic on both engines, then the sum is exact.
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
        .orderBy(col("bin"))
    }),

    // exact-decimal face of q_eqdepth: same reference-rule bins, totals
    // summed in DECIMAL(38,4), emitted as BIGINT micro-units (the
    // representation-stable carrier — see q1_agg_exact / Exact.micros)
    "q_eqdepth_exact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_extendedprice"))
      Stats.equiDepthBins(li, "l_extendedprice", 4)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice").cast(DecimalType(38, 4))).as("price_sum"))
        .select(col("bin"), col("n"),
          Exact.micros(col("price_sum")).as("price_sum_micros"))
        .orderBy(col("bin"))
    }),

    // Snapshot diff — dataset-version audit: a "new release" of the
    // documents table is synthesized (every 97th doc removed, every 89th
    // re-added under a shifted id, every 53rd edited), and
    // Diff.snapshotDiff must tag exactly the moved rows via ONE
    // full-outer id join. The oracle replays the same construction with
    // FULL OUTER JOIN + IS DISTINCT FROM.
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldD = docs.select(col("doc_id"), col("text"))
      val newD = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      graft.operators.Diff.snapshotDiff(oldD, newD, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
        .select(col("doc_id"), col("change"))
        .orderBy(col("doc_id"))
    }),

    // Declarative data-quality gate (expectation suite): completeness,
    // range/format conformance, key uniqueness, referential integrity —
    // exact integer counts, PPM thresholds (a fraction metric would
    // wobble in its last double digit at scale and make the gate itself
    // flaky). Planted dirt: every 100th order's quantity nulled (passes
    // the 2% completeness budget); the [0, 0.05] discount range and the
    // (l_orderkey, l_linenumber) "key" genuinely FAIL on this data —
    // a suite that can only pass proves nothing.
    "q_constraints" -> ((s, dir) => {
      import graft.operators.Constraints._
      val li = t(s, dir, "lineitem")
        .withColumn("l_quantity",
          when(col("l_orderkey") % 100 === 0, lit(null).cast(DoubleType))
            .otherwise(col("l_quantity")))
      graft.operators.Constraints.validate(li, Seq(
        NotNull("l_quantity", maxNullPpm = 20000L),
        NotNull("l_extendedprice"),
        InRange("l_discount", 0.0, 0.05),
        MatchesRegex("l_returnflag", "[ANR]"),
        Unique(Seq("l_orderkey", "l_linenumber")),
        RefIntegrity("l_orderkey", t(s, dir, "orders"), "o_orderkey")))
        .orderBy(col("chk"), col("col_name"))
    }),

    // Suites-as-data: the SAME constraint engine, but the suite lives in
    // a config TABLE (Constraints.suiteSchema) that versions with the
    // dataset it gates — serialized via suiteDf, parsed back via
    // suiteFrom (with a resolver for the referential check's table),
    // then validated. The round-trip is part of the graded path: a
    // config row that parsed into the wrong check would flip a verdict.
    // Planted outcomes: 'zh' docs are orphans vs the allowed-langs ref
    // (fails), text uniqueness fails once the corpus carries dup docs
    // (sf0.1+), n_chars range rides a 10% violation budget.
    "q_constraint_suite" -> ((s, dir) => {
      import graft.operators.Constraints
      import graft.operators.Constraints._
      val docs = t(s, dir, "documents")
      val langs = s.createDataFrame(
        java.util.Arrays.asList(Row("en"), Row("de"), Row("es"), Row("fr")),
        StructType(Seq(StructField("lang", StringType, nullable = false))))
      val suite: Seq[Check] = Seq(
        NotNull("text"), NotNull("lang"),
        InRange("n_chars", 1.0, 1500.0, maxViolPpm = 100000L),
        MatchesRegex("lang", "[a-z]{2}"),
        Unique(Seq("doc_id")), Unique(Seq("text")),
        RefIntegrity("lang", langs, "lang"))
      val config = Constraints.suiteDf(s, suite, _ => "langs")
      val parsed = Constraints.suiteFrom(config,
        { case "langs" => langs
          case other => throw new IllegalArgumentException(s"unknown ref $other") })
      Constraints.validate(docs, parsed).orderBy(col("chk"), col("col_name"))
    }),

    // CDC merge: applyChanges(old, snapshotDiff(old, new)) must EQUAL the
    // new release — the oracle states the post-merge table directly (same
    // synthesized release as q_snapshot_diff), so the roundtrip property
    // IS the graded check: a faithful change capture faithfully applied.
    "q_cdc_upsert" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldD = docs.select(col("doc_id"), col("text"))
      val newD = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val changes = graft.operators.Diff.snapshotDiff(
          oldD, newD, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      graft.operators.Diff.applyChanges(oldD, changes, Seq("doc_id"), Seq("text"))
        .orderBy(col("doc_id"))
    }),

    // SCD Type 2 history: release 2 closes the intervals of
    // changed/removed docs and opens new rows — the oracle states the
    // expected history directly (originals closed where touched, new
    // versions and additions open at v2), so the history contract IS
    // the graded check.
    "q_scd2" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldD = docs.select(col("doc_id"), col("text"))
      val newD = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val hist1 = graft.operators.Diff.scd2Init(oldD, Seq("doc_id"), Seq("text"), 1)
      val changes = graft.operators.Diff.snapshotDiff(
          oldD, newD, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      graft.operators.Diff.applyChangesScd2(
          hist1, changes, Seq("doc_id"), Seq("text"), version = 2)
        .orderBy(col("doc_id"), col("valid_from"))
    }),

    // Point-in-time ENRICHMENT against the SCD-2 history: every fact
    // carries its own as-of version (even ids ask for v1, odd and the
    // v2-added ids ask for v2) and joins the dimension text in effect
    // THEN — v1 facts see pre-rewrite text, v2 facts see the ' v2'
    // rewrites, facts on ids removed at v2 (or not yet added at v1) get
    // null. One equi hash join on doc_id with the interval predicate as
    // residual condition; intervals per id are churn-few and disjoint,
    // so this stays a plain fact→dim join at any scale.
    "q_scd2_asof" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val oldD = docs.select(col("doc_id"), col("text"))
      val newD = docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
      val hist1 = graft.operators.Diff.scd2Init(oldD, Seq("doc_id"), Seq("text"), 1)
      val changes = graft.operators.Diff.snapshotDiff(
          oldD, newD, Seq("doc_id"), Seq("text"))
        .filter(col("change") =!= "unchanged")
      val hist = graft.operators.Diff.applyChangesScd2(
        hist1, changes, Seq("doc_id"), Seq("text"), version = 2)
      val facts = docs.select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit(1)).otherwise(lit(2)).as("v"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), lit(2).as("v")))
      graft.operators.Diff.scd2EnrichAsOf(
          facts, hist.withColumnRenamed("text", "dim_text"),
          Seq("doc_id"), "v")
        .orderBy(col("doc_id"))
    }),

    // Incremental aggregate maintenance: the standing per-lang rollup of
    // release 1 is updated from the CDC change set alone (retract old
    // contributions, add new, merge churn-sized delta) — the oracle
    // recomputes the rollup from the FULL new release, so maintained ≡
    // recomputed IS the graded property. Decimal measures make the two
    // arithmetically identical at any scale.
    "q_incr_agg" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val mk = (d: DataFrame) => d.select(col("doc_id"), col("lang"),
        col("n_chars"), col("text"))
      val oldD = mk(docs)
      val newD = mk(docs.filter(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("lang"), col("n_chars"),
          when(col("doc_id") % 53 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.filter(col("doc_id") % 89 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("lang"),
            col("n_chars"), col("text"))))
      val oldAgg = oldD.groupBy(col("lang"))
        .agg(sum(col("n_chars").cast(DecimalType(38, 4))).as("n_chars_sum"),
          count(lit(1)).as("n"))
      val changes = graft.operators.Diff.snapshotDiff(
          oldD, newD, Seq("doc_id"), Seq("lang", "n_chars", "text"))
        .filter(col("change") =!= "unchanged")
      graft.operators.Diff.maintainAgg(oldAgg, changes, Seq("lang"), Seq("n_chars"))
        // view stays DECIMAL (auditable, re-mergeable); the graded output
        // leaves as BIGINT micro-units — see q1_agg_exact / Exact.micros
        .select(col("lang"),
          Exact.micros(col("n_chars_sum")).as("n_chars_sum_micros"), col("n"))
        .orderBy(col("lang"))
    }),

    // PSI distribution drift between two snapshots: the "current" price
    // distribution is a planted affine shift of the reference; the bin
    // grid is FIXED from the reference's exact equi-depth octiles (the
    // reference N·q−0.5 lerp rule), probabilities add-half smoothed and
    // rounded before the log so DuckDB replays every psi term.
    "q_drift_psi" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ref = li.select(col("l_extendedprice").as("x"))
      val cur = li.select((col("l_extendedprice") * 1.05 + 100).as("x"))
      Stats.driftPsi(ref, cur, "x", 8)
        .orderBy(col("bin"))
    }),

    // Feature scaling (ML prep): z-standardize l_quantity, min-max
    // l_extendedprice — ONE fused stats aggregate for both methods
    // (scaleFeaturesMixed), stats rounded before the division so the
    // oracle replays bit-exactly.
    "q_scale" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(
        (col("l_orderkey") * 10 + col("l_linenumber")).as("ord"),
        col("l_quantity"), col("l_extendedprice"))
      graft.ml.Learn.scaleFeaturesMixed(li,
          Seq("l_quantity" -> "zscore", "l_extendedprice" -> "minmax"))
        .select(col("ord"), round(col("l_quantity_scaled"), 4).as("q_scaled"),
          round(col("l_extendedprice_scaled"), 6).as("p_scaled"))
        .orderBy(col("ord"), col("q_scaled"), col("p_scaled"))
    }),

    // Measured-salt join: every 3rd order is funneled onto customer 1
    // (hot key ~33%), so autoSaltedJoin's skew probe picks a real salt
    // factor and the salted plan must STILL equal the plain join — which
    // is exactly what the oracle replays.
    "q_salted" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        when(col("o_orderkey") % 3 === 0, lit(1L)).otherwise(col("o_custkey")).as("ck"),
        col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("ck"), col("c_name"))
      graft.operators.Joins.autoSaltedJoin(o, c, Seq("ck"))
        .groupBy(col("c_name"))
        // floor-cents carrier (see q_eqdepth): round(sum(dbl),4) of a
        // 1e10+ total is summation-order-unstable; floor(x*100) is the
        // same IEEE per-row arithmetic on both engines, then exact BIGINT
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("price_cents"))
        .orderBy(col("c_name"))
    }),

    // exact-decimal face of q_salted (same measured-salt join)
    "q_salted_exact" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(
        when(col("o_orderkey") % 3 === 0, lit(1L)).otherwise(col("o_custkey")).as("ck"),
        col("o_totalprice"))
      val c = t(s, dir, "customer").select(col("c_custkey").as("ck"), col("c_name"))
      graft.operators.Joins.autoSaltedJoin(o, c, Seq("ck"))
        .groupBy(col("c_name"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(38, 4))).as("price_sum"))
        .select(col("c_name"), col("n"),
          Exact.micros(col("price_sum")).as("price_sum_micros"))
        .orderBy(col("c_name"))
    }),

    // Bloom-prefiltered join: the probe (lineitem) is filtered by a
    // bloom sketch of the SELECTIVE build side's keys (urgent expensive
    // orders, ~14%) before the join's exchange — at 100 TB the probe
    // shuffles |matches| + fpp·|probe| rows instead of the table. The
    // oracle is the PLAIN join: bloom false positives must be verified
    // away by the join, false negatives must not exist.
    "q_bloom_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_totalprice") > 150000)
        .select(col("o_orderkey").as("l_orderkey"))
      // size the sketch to the real build cardinality (one cheap
      // aggregate over the filtered dim side)
      val nBuild = urgent.count()
      graft.operators.Joins.bloomJoin(li, urgent, Seq("l_orderkey"), nBuild)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(floor(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
        .orderBy(col("l_returnflag"))
    }),

    // Shuffle-skew pre-flight: heaviest keys with share and x_mean (the
    // salt factor that would flatten the hot reducer). A planted hot key
    // absorbs every 5th event on top of its hash share.
    "q_skew" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(
        when(col("event_id") % 5 === 0, lit(0L))
          .otherwise(col("user_id") % 50).as("k"))
      Stats.skewReport(ev, Seq("k"), topK = 8)
        .select(col("k"), col("n"), round(col("share"), 6).as("share"),
          round(col("x_mean"), 6).as("x_mean"))
        .orderBy(col("n").desc, col("k"))
    }),

    // Winsorization at the exact interpolated [p05, p95]: one two-output
    // aggregate for the bounds, then a narrow clamp — no sort of the data.
    // EXACT WEIGHTED quantiles (beyond-reference; RankSelect's weighted
    // rank search): per language AND overall, the doc length at which
    // half / 90% of the corpus's CHARACTER MASS sits — the inverted-CDF
    // form (smallest x with cumweight >= ceil(q*W)), which a packing or
    // curriculum scheduler needs and an unweighted quantile cannot give
    // (one 10M-char doc moves the mass median; it barely moves the doc
    // median). Every per-lang face rides ONE shared pass sequence via
    // derived value columns; the oracle replays the definition with a
    // sum(w) OVER (ORDER BY x) window per lang.
    "q_wquantile" -> ((s, dir) => {
      import graft.functions.RankSelect
      val docs = t(s, dir, "documents")
        .select(col("lang"), col("n_chars"))
        .filter(col("n_chars").isNotNull && col("n_chars") > 0)
      val langs = docs.select(col("lang")).distinct()
        .collect().map(_.getString(0)).sorted.toSeq
      val derived = docs.select(
        (col("n_chars") +: langs.map(l =>
          when(col("lang") === l, col("n_chars")).as(s"__v_$l"))): _*)
      val specs = ("n_chars" -> Seq(0.5, 0.9)) +:
        langs.map(l => s"__v_$l" -> Seq(0.5, 0.9))
      val got = RankSelect.weightedQuantiles(derived, specs, "n_chars")
      import s.implicits._
      (langs.map { l =>
        val Seq(m, p) = got(s"__v_$l").get
        (l, m.toLong, p.toLong)
      } :+ {
        val Seq(m, p) = got("n_chars").get
        ("zz_all", m.toLong, p.toLong)
      }).toDF("lang", "w_median", "w_p90").orderBy(col("lang"))
    }),

    "q_winsorize" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      Stats.winsorize(li, "l_extendedprice", 0.05, 0.95)
        .groupBy(col("l_returnflag"))
        // floor-cents carrier, see q_eqdepth: the double sum's 4-decimal
        // rounding is summation-order-unstable once totals pass ~1e10
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice_wins") * 100).cast("long")).as("wins_cents"),
          round(min(col("l_extendedprice_wins")), 6).as("wins_min"),
          round(max(col("l_extendedprice_wins")), 6).as("wins_max"))
        .orderBy(col("l_returnflag"))
    }),

    // exact-decimal face of q_winsorize: same interpolated [p05, p95]
    // clamp per row, the total as DECIMAL(38,4)
    "q_winsorize_exact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_returnflag"), col("l_extendedprice"))
      Stats.winsorize(li, "l_extendedprice", 0.05, 0.95)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_extendedprice_wins").cast(DecimalType(38, 4))).as("wins_sum"),
          round(min(col("l_extendedprice_wins")), 6).as("wins_min"),
          round(max(col("l_extendedprice_wins")), 6).as("wins_max"))
        .select(col("l_returnflag"), col("n"),
          Exact.micros(col("wins_sum")).as("wins_sum_micros"),
          col("wins_min"), col("wins_max"))
        .orderBy(col("l_returnflag"))
    }),

    // Robust median/MAD outlier flagging (Iglewicz-Hoaglin |z|>3.5): two
    // tiny sequential aggregates + a narrow flag pass.
    "q_mad" -> ((s, dir) => {
      Stats.madOutliers(t(s, dir, "events"), "value")
        .select(col("event_id"), round(col("robust_z"), 4).as("robust_z"),
          col("is_outlier"))
        .orderBy(col("event_id"))
    }),

    "q_describe" -> ((s, dir) => {
      Stats.describe(t(s, dir, "lineitem")
          .select("l_quantity", "l_discount", "l_tax"))
        .select(col("column"),
          round(col("mean"), 6).as("mean"), round(col("std"), 6).as("std"),
          col("min"),
          round(col("q1"), 6).as("q1"), round(col("median"), 6).as("median"),
          round(col("q3"), 6).as("q3"), col("max"))
        .orderBy(col("column"))
    }),

    // §2.4 wire format: the reference's SERIALIZED JSON predicate runs
    // through LQueryJson -> same result as the builder (same oracle as a
    // hand-built filter)
    "q_filter_json" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val json =
        """{"boolean":"and","arguments":[
          |{"predicate":"lt","arguments":[{"column":"l_quantity"},14.0]},
          |{"predicate":"gt","arguments":[{"column":"l_discount"},0.05]}]}""".stripMargin
      Table.of(li)
        .filter(graft.expr.LQueryJson.parsePredicate(li, json).toFilter)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
        .toDF
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_discount"))
    }),

    // beyond-reference: ranking window functions over partitions
    "q_window_rank" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice"), 4).as("o_totalprice"),
          row_number().over(w).as("rn"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          ntile(4).over(w).as("quartile"))
        .filter(col("rn") <= 10)
        .orderBy(col("o_orderpriority"), col("rn"))
    }),

    // beyond-reference: gap-based sessionization (batch session_window)
    "q_sessionize" -> ((s, dir) => {
      Stats.sessionize(events(s, dir), "user_id", "ts", 30L * 60 * 1000 * 1000,
          tieBreak = Seq(col("event_id")))
        .groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value")), 4).as("session_value"))
        .orderBy(col("user_id"), col("session_id"))
    }),

    // beyond-reference: the full snowflake join (TPC-H Q5 shape) —
    // lineitem->orders->customer shuffle joins on their keys, nation and
    // region as EXPLICIT broadcasts (dim tables stay broadcast-able at
    // any corpus scale; the plan must show zero exchanges for them)
    "q_region_revenue" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(reg), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("order_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(col("r_name"), col("order_year"))
    }),

    // exact-decimal face of q_region_revenue (same snowflake join)
    "q_region_revenue_exact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      li.join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), year(col("o_orderdate")).as("order_year"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
            .cast(DecimalType(38, 4))).as("revenue"),
          count(lit(1)).as("n_items"))
        .select(col("r_name"), col("order_year"),
          Exact.micros(col("revenue")).as("revenue_micros"), col("n_items"))
        .orderBy(col("r_name"), col("order_year"))
    }),

    // beyond-reference: ordered-step funnel (view -> click -> purchase),
    // greedy earliest-completion; per-user reach times in epoch micros
    "q_funnel" -> ((s, dir) => {
      Stats.funnel(events(s, dir), "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy(col("step_idx"), col("user_id"))
    }),

    // beyond-reference: per-group least-squares trend (ANSI REGR_*
    // semantics) — value drift per event type over day index
    "q_trend" -> ((s, dir) => {
      val ev = events(s, dir)
      val tus = unix_micros(col("ts").cast(TimestampType))
      val day = ((tus - pmod(tus, lit(86400000000L))) / lit(86400000000L))
        .cast(LongType)
      Stats.trendPerGroup(ev.withColumn("day", day), Seq("event_type"),
          col("day"), col("value"))
        .select(col("event_type"), round(col("slope"), 6).as("slope"),
          round(col("intercept"), 6).as("intercept"), col("n"))
        .orderBy(col("event_type"))
    }),

    // beyond-reference: weekly cohort retention grid over the event log
    "q_retention" -> ((s, dir) => {
      Stats.cohortRetention(events(s, dir), "user_id", "ts",
          7L * 24 * 3600 * 1000 * 1000)
        .orderBy(col("cohort_bucket"), col("offset_buckets"))
    }),

    // beyond-reference: tumbling time-bucket resample (batch face of the
    // streaming tumbling window; epoch-aligned 1h buckets)
    "q_resample" -> ((s, dir) => {
      Stats.resample(events(s, dir), "ts", "1 hour",
          Seq("value" -> Seq(A.Sum, A.Mean, A.Length)))
        .select(col("bucket"),
          // 2-decimal data: per-row floor-cents then exact integer sum,
          // and the mean as half-up integral micros over those cents —
          // round(round(sum,4)/n, 6) still tied at a 6th-decimal rounding
          // midpoint at sf1 (53.6008125 rounded apart by engine)
          floor(round(col("value_sum"), 2) * 100).cast("long").as("value_cents"),
          floor((round(col("value_sum"), 2) * lit(1000000) +
              col("value_length") / 2) / col("value_length"))
            .cast("long").as("mean_micros"),
          col("value_length"))
        .orderBy(col("bucket"))
    }),

    // Gap-FILLED resample: the sparse high-value event slice (172 rows
    // over a 715-hour span, 560 EMPTY hours) — the dense spine surfaces
    // gaps as (null sum, 0 count) rows: outages visible, not missing.
    "q_resample_dense" -> ((s, dir) => {
      Stats.resampleDense(events(s, dir).filter(col("value") > 200),
          "ts", "1 hour", Seq("value" -> Seq(A.Sum, A.Length)))
        .select(col("bucket"), round(col("value_sum"), 4).as("value_sum"),
          col("value_length"))
        .orderBy(col("bucket"))
    }),

    // exact-decimal face of q_resample: the same epoch-aligned 1h
    // tumbling buckets expressed directly (Stats.resample aggregates in
    // double by design — this is the oracle-exactness gate, q_resample
    // stays the operator's graded face). The mean is emitted in exact
    // half-up MICRO-UNITS via integral arithmetic — round(double, 6) is
    // cross-engine unsafe exactly when a bucket mean sits on a
    // 6th-decimal midpoint, which 4-decimal sums over round counts hit
    // routinely (measured at sf1: 8576.13/160 = 53.6008125)
    "q_resample_exact" -> ((s, dir) => {
      events(s, dir)
        .groupBy(date_trunc("hour", col("ts")).as("bucket"))
        .agg(sum(col("value").cast(DecimalType(38, 4))).as("value_sum"),
          count(lit(1)).as("n"))
        .select(col("bucket"),
          Exact.micros(col("value_sum")).as("value_sum_micros"),
          expr("CAST((CAST(value_sum * 10000 AS DECIMAL(38,0)) * 200 + n)" +
            " div (2 * n) AS BIGINT)").as("value_mean_micros"),
          col("n"))
        .orderBy(col("bucket"))
    }),

    // beyond-reference: as-of (point-in-time) join — each event picks up
    // the latest at-or-before snapshot row for its user. One shuffle on
    // the key + a running window, never an inequality join (see
    // Joins.asofJoin). Snapshots = every 10th event, so (user_id, ts) is
    // unique on the right and the winner is deterministic.
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"),
          col("value").as("snap_value"))
      graft.operators.Joins.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts"), col("value")),
          snaps, Seq("user_id"), "ts", "snap_ts")
        .orderBy(col("event_id"))
    }),

    // as-of FORWARD direction with a tolerance: each event picks up the
    // EARLIEST at-or-after snapshot, nulled when it is more than 1 hour
    // ahead — the "next calibration/checkpoint" lookup. Same one-shuffle
    // union-tag shape as backward; DuckDB replays via ASOF with <= plus
    // a tolerance CASE.
    "q_asof_fwd" -> ((s, dir) => {
      val ev = events(s, dir)
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"),
          col("value").as("snap_value"))
      graft.operators.Joins.asofJoin(
          ev.select(col("event_id"), col("user_id"), col("ts"), col("value")),
          snaps, Seq("user_id"), "ts", "snap_ts",
          direction = "forward", toleranceMicros = Some(3600L * 1000 * 1000))
        .orderBy(col("event_id"))
    }),

    // As-of NEAREST: closer of the backward/forward snapshot, ties backward
    "q_asof_near" -> ((s, dir) => {
      val ev = events(s, dir)
      val snaps = ev.filter(col("event_id") % 10 === 0)
        .select(col("user_id"), col("ts").as("snap_ts"),
          col("value").as("snap_value"))
      graft.operators.Joins.asofJoinNearest(
          ev.select(col("event_id"), col("user_id"), col("ts"), col("value")),
          snaps, Seq("user_id"), "ts", "snap_ts")
        .orderBy(col("event_id"))
    }),

    // Span-8 EWMA per user (alpha = 0.5: every weight a power of two, so
    // the oracle replay is bit-exact)
    "q_ewma" -> ((s, dir) => {
      graft.operators.Stats.ewma(events(s, dir), Seq("user_id"),
          Seq("ts", "event_id"), "value", alpha = 0.5, span = 8)
        .select(col("event_id"), round(col("ewma"), 6).as("ewma"))
        .orderBy(col("event_id"))
    }),

    // beyond-reference: point-in-interval range join — every 100th event
    // opens a 2-hour window for its user; events inside it match. Bucketed
    // equi-join (1h buckets), never an inequality join plan.
    "q_range_join" -> ((s, dir) => {
      val ev = events(s, dir)
      val iv = ev.filter(col("event_id") % 100 === 0)
        .select(col("user_id"), col("event_id").as("iv_id"),
          col("ts").as("iv_start"),
          (col("ts") + expr("INTERVAL 2 HOURS")).as("iv_end"))
      graft.operators.Joins.rangeJoin(
          ev.select(col("event_id"), col("user_id"), col("ts"), col("value")),
          iv, Seq("user_id"), "ts", "iv_start", "iv_end",
          bucketMicros = 3600L * 1000 * 1000)
        .select(col("event_id"), col("iv_id"), col("ts"), col("value"))
        .orderBy(col("event_id"), col("iv_id"))
    }),

    // beyond-reference: rollup (grouping-set aggregation)
    "q_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
    }),

    // §2.7 describeNa: per-column null count + ratio
    "q_describe_na" -> ((s, dir) => {
      Stats.describeNa(eventsWithNulls(s, dir).select("value", "props"))
        .select(col("value_nulls"), round(col("value_null_ratio"), 6).as("value_null_ratio"),
          col("props_nulls"), round(col("props_null_ratio"), 6).as("props_null_ratio"))
    })
  )

  // Reference interpolated quantile in DuckDB: n = N*q - 0.5 lerp over the
  // sorted valid values (list-indexed, 1-based).
  private def duckQuantile(q: String, alias: String): String =
    s"""round((1-($q - floor($q))) * s[CAST(greatest(floor($q), 0) AS INT) + 1]
       |     + ($q - floor($q)) * s[CAST(least(ceil($q), n - 1) AS INT) + 1], 6) AS $alias""".stripMargin

  // Unrounded variant for bin boundaries (comparisons, not display).
  private def duckQuantileRaw(q: String): String =
    s"""((1-($q - floor($q))) * s[CAST(greatest(floor($q), 0) AS INT) + 1]
       |     + ($q - floor($q)) * s[CAST(least(ceil($q), n - 1) AS INT) + 1])""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_json_extract" ->
      """WITH e AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
        |           FROM events)
        |SELECT k % 10 AS bucket, count(*) AS n, sum(k)::BIGINT AS k_sum,
        |  round(sum(value), 4) AS value_sum
        |FROM e GROUP BY bucket ORDER BY bucket NULLS LAST""".stripMargin,

    "q_overlap_join" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t FROM events),
        |a AS (SELECT user_id, event_id AS a_id, t AS a_s, t + 1200000000 AS a_e
        |      FROM e WHERE event_id % 5 = 0),
        |b AS (SELECT user_id, event_id AS b_id, t AS b_s, t + 1200000000 AS b_e
        |      FROM e WHERE event_id % 5 = 1)
        |SELECT user_id, count(*) AS n_pairs, sum(a_id + b_id)::BIGINT AS id_sum
        |FROM a JOIN b USING (user_id)
        |WHERE a_s <= b_e AND b_s <= a_e
        |GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_zscore" ->
      """WITH s AS (SELECT event_type, round(avg(value), 6) AS m,
        |             round(stddev_pop(value), 6) AS sd
        |           FROM events GROUP BY event_type)
        |SELECT event_id, event_type, round((value - m) / sd, 4) AS z
        |FROM events JOIN s USING (event_type)
        |WHERE sd > 0 AND abs((value - m) / sd) >= 2
        |ORDER BY event_id""".stripMargin,

    "q_eqdepth" -> {
      val b = Seq(0.25, 0.5, 0.75).map(q => duckQuantileRaw(s"n*$q - 0.5"))
      s"""WITH sv AS (SELECT list_sort(list(l_extendedprice)) s,
         |             count(l_extendedprice)::DOUBLE n
         |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |b AS (SELECT ${b(0)} AS b1, ${b(1)} AS b2, ${b(2)} AS b3 FROM sv),
         |binned AS (
         |  SELECT l_extendedprice AS x,
         |    (CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END
         |   + CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END
         |   + CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END)::BIGINT AS bin
         |  FROM lineitem, b WHERE l_extendedprice IS NOT NULL)
         |SELECT bin, count(*) AS n,
         |  CAST(sum(CAST(floor(x * 100) AS BIGINT)) AS BIGINT) AS price_cents
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
    },

    "q_eqdepth_exact" -> {
      val b = Seq(0.25, 0.5, 0.75).map(q => duckQuantileRaw(s"n*$q - 0.5"))
      s"""WITH sv AS (SELECT list_sort(list(l_extendedprice)) s,
         |             count(l_extendedprice)::DOUBLE n
         |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |b AS (SELECT ${b(0)} AS b1, ${b(1)} AS b2, ${b(2)} AS b3 FROM sv),
         |binned AS (
         |  SELECT l_extendedprice AS x,
         |    (CASE WHEN l_extendedprice > b1 THEN 1 ELSE 0 END
         |   + CASE WHEN l_extendedprice > b2 THEN 1 ELSE 0 END
         |   + CASE WHEN l_extendedprice > b3 THEN 1 ELSE 0 END)::BIGINT AS bin
         |  FROM lineitem, b WHERE l_extendedprice IS NOT NULL)
         |SELECT bin, count(*) AS n,
         |  CAST(CAST(sum(CAST(x AS DECIMAL(38,4))) * 10000 AS HUGEINT)
         |    AS BIGINT) AS price_sum_micros
         |FROM binned GROUP BY bin ORDER BY bin""".stripMargin
    },

    "q_constraints" ->
      """WITH li AS (SELECT *,
        |    CASE WHEN l_orderkey % 100 = 0 THEN NULL ELSE l_quantity END AS qty
        |  FROM lineitem),
        |m AS (SELECT count(*)::BIGINT AS total,
        |    sum(CASE WHEN qty IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn_qty,
        |    sum(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn_price,
        |    sum(CASE WHEN l_discount IS NULL OR l_discount < 0.0
        |             OR l_discount > 0.05 THEN 1 ELSE 0 END)::BIGINT AS v_range,
        |    sum(CASE WHEN l_returnflag IS NULL
        |             OR NOT regexp_full_match(l_returnflag, '[ANR]')
        |        THEN 1 ELSE 0 END)::BIGINT AS v_re,
        |    (count(*) - count(DISTINCT (l_orderkey, l_linenumber)))::BIGINT AS v_dup
        |  FROM li),
        |ri AS (SELECT count(*)::BIGINT AS v_ri FROM li l
        |       WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                         WHERE o.o_orderkey = l.l_orderkey))
        |SELECT * FROM (
        |  SELECT 'in_range' AS chk, 'l_discount' AS col_name,
        |    v_range AS violations, total, 0::BIGINT AS threshold_ppm,
        |    v_range = 0 AS passed FROM m
        |  UNION ALL SELECT 'matches_regex', 'l_returnflag', v_re, total,
        |    0::BIGINT, v_re = 0 FROM m
        |  UNION ALL SELECT 'not_null', 'l_extendedprice', v_nn_price, total,
        |    0::BIGINT, v_nn_price = 0 FROM m
        |  UNION ALL SELECT 'not_null', 'l_quantity', v_nn_qty, total,
        |    20000::BIGINT, v_nn_qty * 1000000 <= 20000 * total FROM m
        |  UNION ALL SELECT 'ref_integrity', 'l_orderkey', v_ri, total,
        |    0::BIGINT, v_ri = 0 FROM m, ri
        |  UNION ALL SELECT 'unique', 'l_orderkey,l_linenumber', v_dup, total,
        |    0::BIGINT, v_dup = 0 FROM m)
        |ORDER BY chk, col_name""".stripMargin,

    "q_constraint_suite" ->
      """WITH m AS (SELECT count(*)::BIGINT AS total,
        |    sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn_text,
        |    sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)::BIGINT AS v_nn_lang,
        |    sum(CASE WHEN n_chars IS NULL OR n_chars < 1.0
        |             OR n_chars > 1500.0 THEN 1 ELSE 0 END)::BIGINT AS v_range,
        |    sum(CASE WHEN lang IS NULL
        |             OR NOT regexp_full_match(lang, '[a-z]{2}')
        |        THEN 1 ELSE 0 END)::BIGINT AS v_re,
        |    (count(*) - count(DISTINCT doc_id))::BIGINT AS v_dup_id,
        |    (count(*) - count(DISTINCT text))::BIGINT AS v_dup_text
        |  FROM documents),
        |ri AS (SELECT count(*)::BIGINT AS v_ri FROM documents
        |       WHERE lang NOT IN ('en', 'de', 'es', 'fr'))
        |SELECT * FROM (
        |  SELECT 'in_range' AS chk, 'n_chars' AS col_name,
        |    v_range AS violations, total, 100000::BIGINT AS threshold_ppm,
        |    v_range * 1000000 <= 100000 * total AS passed FROM m
        |  UNION ALL SELECT 'matches_regex', 'lang', v_re, total,
        |    0::BIGINT, v_re = 0 FROM m
        |  UNION ALL SELECT 'not_null', 'lang', v_nn_lang, total,
        |    0::BIGINT, v_nn_lang = 0 FROM m
        |  UNION ALL SELECT 'not_null', 'text', v_nn_text, total,
        |    0::BIGINT, v_nn_text = 0 FROM m
        |  UNION ALL SELECT 'ref_integrity', 'lang', v_ri, total,
        |    0::BIGINT, v_ri = 0 FROM m, ri
        |  UNION ALL SELECT 'unique', 'doc_id', v_dup_id, total,
        |    0::BIGINT, v_dup_id = 0 FROM m
        |  UNION ALL SELECT 'unique', 'text', v_dup_text, total,
        |    0::BIGINT, v_dup_text = 0 FROM m)
        |ORDER BY chk, col_name""".stripMargin,

    "q_scd2" ->
      """SELECT doc_id, text, 1 AS valid_from,
        |  CASE WHEN doc_id % 97 = 0 OR doc_id % 53 = 0 THEN 2 END AS valid_to
        |FROM documents
        |UNION ALL
        |SELECT doc_id, text || ' v2', 2, NULL FROM documents
        |WHERE doc_id % 53 = 0 AND doc_id % 97 <> 0
        |UNION ALL
        |SELECT doc_id + 1000000, text, 2, NULL FROM documents
        |WHERE doc_id % 89 = 0
        |ORDER BY doc_id, valid_from""".stripMargin,

    "q_scd2_asof" ->
      """WITH hist AS (
        |  SELECT doc_id, text, 1 AS valid_from,
        |    CASE WHEN doc_id % 97 = 0 OR doc_id % 53 = 0 THEN 2 END AS valid_to
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, text || ' v2', 2, NULL FROM documents
        |  WHERE doc_id % 53 = 0 AND doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, 2, NULL FROM documents
        |  WHERE doc_id % 89 = 0),
        |f AS (
        |  SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 2 END AS v
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id + 1000000, 2 FROM documents WHERE doc_id % 89 = 0)
        |SELECT f.doc_id, f.v, h.text AS dim_text
        |FROM f LEFT JOIN hist h ON f.doc_id = h.doc_id
        |  AND h.valid_from <= f.v AND (h.valid_to IS NULL OR h.valid_to > f.v)
        |ORDER BY f.doc_id""".stripMargin,

    "q_incr_agg" ->
      """WITH newd AS (
        |  SELECT doc_id, lang, n_chars FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, lang, n_chars FROM documents
        |  WHERE doc_id % 89 = 0)
        |SELECT lang,
        |  CAST(CAST(sum(CAST(n_chars AS DECIMAL(38,4))) * 10000 AS HUGEINT)
        |    AS BIGINT) AS n_chars_sum_micros,
        |  count(*) AS n
        |FROM newd GROUP BY lang ORDER BY lang""".stripMargin,

    "q_cdc_upsert" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
        |FROM documents WHERE doc_id % 97 <> 0
        |UNION ALL
        |SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 89 = 0
        |ORDER BY doc_id""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (SELECT doc_id, text FROM documents),
        |newd AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 53 = 0 THEN text || ' v2' ELSE text END AS text
        |  FROM documents WHERE doc_id % 97 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 89 = 0),
        |d AS (
        |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN o.text IS DISTINCT FROM n.text THEN 'changed'
        |         ELSE 'unchanged' END AS change
        |  FROM old o FULL OUTER JOIN newd n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change FROM d WHERE change <> 'unchanged'
        |ORDER BY doc_id""".stripMargin,

    "q_drift_psi" -> {
      val b = (1 to 7).map(j => duckQuantileRaw(s"n*${j / 8.0} - 0.5"))
      val binCase = (1 to 7).map(j =>
        s"CASE WHEN x > b$j THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH sv AS (SELECT list_sort(list(l_extendedprice)) s,
         |             count(l_extendedprice)::DOUBLE n
         |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |b AS (SELECT ${b.zipWithIndex.map { case (e, i) => s"$e AS b${i + 1}" }.mkString(", ")} FROM sv),
         |refb AS (SELECT ($binCase)::BIGINT AS bin
         |  FROM (SELECT l_extendedprice AS x FROM lineitem
         |        WHERE l_extendedprice IS NOT NULL), b),
         |curb AS (SELECT ($binCase)::BIGINT AS bin
         |  FROM (SELECT l_extendedprice * 1.05 + 100 AS x FROM lineitem
         |        WHERE l_extendedprice IS NOT NULL), b),
         |rc AS (SELECT bin, count(*) AS n_ref FROM refb GROUP BY bin),
         |cc AS (SELECT bin, count(*) AS n_cur FROM curb GROUP BY bin),
         |spine AS (SELECT unnest(range(8)) AS bin),
         |tot AS (SELECT (SELECT sum(n_ref) FROM rc)::DOUBLE AS nr,
         |               (SELECT sum(n_cur) FROM cc)::DOUBLE AS nc),
         |j AS (SELECT bin, coalesce(n_ref, 0) AS n_ref,
         |        coalesce(n_cur, 0) AS n_cur
         |      FROM spine LEFT JOIN rc USING (bin) LEFT JOIN cc USING (bin)),
         |p AS (SELECT bin, n_ref, n_cur,
         |        greatest(round((n_ref + 0.5) / (nr + 4.0), 6), 1e-6) AS p_ref,
         |        greatest(round((n_cur + 0.5) / (nc + 4.0), 6), 1e-6) AS p_cur
         |      FROM j, tot)
         |SELECT bin, n_ref, n_cur, p_ref, p_cur,
         |  round((p_cur - p_ref) * ln(p_cur / p_ref), 6) AS psi_term
         |FROM p ORDER BY bin""".stripMargin
    },

    "q_scale" ->
      """WITH s AS (SELECT round(avg(l_quantity), 6) AS m,
        |                  round(stddev_pop(l_quantity), 6) AS sd,
        |                  round(min(l_extendedprice), 6) AS mn,
        |                  round(max(l_extendedprice), 6) AS mx FROM lineitem)
        |SELECT l_orderkey * 10 + l_linenumber AS ord,
        |  round((l_quantity - m) / sd, 4) AS q_scaled,
        |  round((l_extendedprice - mn) / (mx - mn), 6) AS p_scaled
        |FROM lineitem, s ORDER BY ord, q_scaled, p_scaled""".stripMargin,

    "q_salted" ->
      """WITH o AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1
        |             ELSE o_custkey END AS ck, o_totalprice FROM orders)
        |SELECT c_name, count(*) AS n,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM o JOIN customer ON ck = c_custkey
        |GROUP BY c_name ORDER BY c_name""".stripMargin,

    "q_salted_exact" ->
      """WITH o AS (SELECT CASE WHEN o_orderkey % 3 = 0 THEN 1
        |             ELSE o_custkey END AS ck, o_totalprice FROM orders)
        |SELECT c_name, count(*) AS n,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) * 10000 AS HUGEINT)
        |    AS BIGINT) AS price_sum_micros
        |FROM o JOIN customer ON ck = c_custkey
        |GROUP BY c_name ORDER BY c_name""".stripMargin,

    "q_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
        |    AS price_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority = '1-URGENT' AND o_totalprice > 150000
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_skew" ->
      """WITH e AS (SELECT CASE WHEN event_id % 5 = 0 THEN 0
        |             ELSE user_id % 50 END AS k FROM events),
        |c AS (SELECT k, count(*) AS n FROM e GROUP BY k),
        |t AS (SELECT sum(n)::DOUBLE AS total, count(*)::DOUBLE AS nk FROM c)
        |SELECT k, n, round(n / total, 6) AS share,
        |  round(n / (total / nk), 6) AS x_mean
        |FROM c, t ORDER BY n DESC, k LIMIT 8""".stripMargin,

    "q_wquantile" ->
      """WITH w AS (SELECT lang, n_chars AS x, n_chars::BIGINT AS wt
        |           FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0),
        |t AS (SELECT lang, sum(wt) AS tot FROM w GROUP BY lang),
        |c AS (SELECT lang, x, wt,
        |        sum(wt) OVER (PARTITION BY lang ORDER BY x) AS cum FROM w),
        |per AS (
        |  SELECT c.lang,
        |    min(CASE WHEN cum >= ceil(0.5 * tot) THEN x END)::BIGINT AS w_median,
        |    min(CASE WHEN cum >= ceil(0.9 * tot) THEN x END)::BIGINT AS w_p90
        |  FROM c JOIN t USING (lang) GROUP BY c.lang),
        |ta AS (SELECT sum(wt) AS tot FROM w),
        |ca AS (SELECT x, sum(wt) OVER (ORDER BY x) AS cum FROM w),
        |allr AS (
        |  SELECT 'zz_all' AS lang,
        |    min(CASE WHEN cum >= ceil(0.5 * tot) THEN x END)::BIGINT,
        |    min(CASE WHEN cum >= ceil(0.9 * tot) THEN x END)::BIGINT
        |  FROM ca, ta)
        |SELECT * FROM per UNION ALL SELECT * FROM allr
        |ORDER BY lang""".stripMargin,

    "q_winsorize" -> {
      val lo = duckQuantileRaw("n*0.05 - 0.5")
      val hi = duckQuantileRaw("n*0.95 - 0.5")
      s"""WITH sv AS (SELECT list_sort(list(l_extendedprice)) s,
         |             count(l_extendedprice)::DOUBLE n
         |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |b AS (SELECT $lo AS lo, $hi AS hi FROM sv),
         |w AS (SELECT l_returnflag,
         |        least(greatest(l_extendedprice, lo), hi) AS x
         |      FROM lineitem, b)
         |SELECT l_returnflag, count(*) AS n,
         |  CAST(sum(CAST(floor(x * 100) AS BIGINT)) AS BIGINT) AS wins_cents,
         |  round(min(x), 6) AS wins_min, round(max(x), 6) AS wins_max
         |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    "q_winsorize_exact" -> {
      val lo = duckQuantileRaw("n*0.05 - 0.5")
      val hi = duckQuantileRaw("n*0.95 - 0.5")
      s"""WITH sv AS (SELECT list_sort(list(l_extendedprice)) s,
         |             count(l_extendedprice)::DOUBLE n
         |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         |b AS (SELECT $lo AS lo, $hi AS hi FROM sv),
         |w AS (SELECT l_returnflag,
         |        least(greatest(l_extendedprice, lo), hi) AS x
         |      FROM lineitem, b)
         |SELECT l_returnflag, count(*) AS n,
         |  CAST(CAST(sum(CAST(x AS DECIMAL(38,4))) * 10000 AS HUGEINT)
         |    AS BIGINT) AS wins_sum_micros,
         |  round(min(x), 6) AS wins_min, round(max(x), 6) AS wins_max
         |FROM w GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
    },

    "q_mad" -> {
      val q50 = duckQuantileRaw("n*0.5 - 0.5")
      s"""WITH sv AS (SELECT list_sort(list(value)) s, count(value)::DOUBLE n
         |           FROM events WHERE value IS NOT NULL),
         |m AS (SELECT round($q50, 6) AS med FROM sv),
         |sv2 AS (SELECT list_sort(list(abs(value - med))) s, count(*)::DOUBLE n
         |        FROM events, m WHERE value IS NOT NULL),
         |m2 AS (SELECT round($q50, 6) AS mad FROM sv2)
         |SELECT event_id, round(0.6745*(value - med)/mad, 4) AS robust_z,
         |  abs(0.6745*(value - med)/mad) > 3.5 AS is_outlier
         |FROM events, m, m2 ORDER BY event_id""".stripMargin
    },

    "q_aggregate_by" ->
      """WITH li AS (SELECT l_returnflag, l_orderkey*10 + l_linenumber AS ord,
        |  CASE WHEN l_partkey % 11 <> 0 THEN l_quantity END AS qty_n,
        |  l_quantity - 25.0 AS delta FROM lineitem)
        |SELECT l_returnflag,
        |  min(qty_n)::DOUBLE AS qty_n_min,
        |  max(qty_n)::DOUBLE AS qty_n_max,
        |  round(avg(qty_n), 4) AS qty_n_mean,
        |  count(*)::DOUBLE AS qty_n_length,
        |  round(median(qty_n), 4) AS qty_n_median,
        |  round(coalesce(sum(qty_n), 0), 4) AS qty_n_sum,
        |  round(var_pop(qty_n), 4) AS qty_n_variance,
        |  round(stddev_pop(qty_n), 4) AS qty_n_std_dev,
        |  (first(qty_n ORDER BY ord, qty_n) FILTER (WHERE qty_n IS NOT NULL))::DOUBLE AS qty_n_first,
        |  (last(qty_n ORDER BY ord, qty_n) FILTER (WHERE qty_n IS NOT NULL))::DOUBLE AS qty_n_last,
        |  round(100*avg(greatest(delta,0)) / (avg(greatest(delta,0)) - avg(least(delta,0))), 4) AS delta_rsi
        |FROM li GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_count_values" ->
      """SELECT CASE WHEN o_orderstatus <> 'P' THEN o_orderstatus END AS value,
        |  count(*) AS count
        |FROM orders GROUP BY 1 ORDER BY value ASC NULLS FIRST""".stripMargin,

    "q_stats" ->
      s"""WITH vals AS (SELECT CASE WHEN l_discount <= 0.08 THEN l_discount END AS v FROM lineitem),
         |agg AS (SELECT round(min(v),6) mn, round(max(v),6) mx, round(avg(v),6) mean,
         |  round(sum(v),4) sm, round(var_pop(v),8) vp, round(stddev_pop(v),8) sp,
         |  round(median(v),6) med, count(*)-count(v) AS null_count, count(*) AS row_count
         |  FROM vals),
         |sv AS (SELECT list_sort(list(v)) s, count(*)::DOUBLE n FROM vals WHERE v IS NOT NULL)
         |SELECT mn AS min, mx AS max, mean, sm AS sum, vp AS variance, sp AS std,
         |  ${duckQuantile("n*0.25 - 0.5", "q1")},
         |  med AS median,
         |  ${duckQuantile("n*0.75 - 0.5", "q3")},
         |  null_count, row_count
         |FROM agg, sv""".stripMargin,

    "q_stats_empty" ->
      """SELECT NULL::DOUBLE AS min, NULL::DOUBLE AS max, NULL::DOUBLE AS mean,
        |  0.0::DOUBLE AS sum, NULL::DOUBLE AS variance, NULL::DOUBLE AS std,
        |  NULL::DOUBLE AS q1, NULL::DOUBLE AS median, NULL::DOUBLE AS q3,
        |  count(*) AS null_count, count(*) AS row_count
        |FROM lineitem""".stripMargin,

    "q_dropna" ->
      """SELECT event_id, event_type,
        |  CASE WHEN event_type <> 'error' THEN value END AS value,
        |  CASE WHEN event_type <> 'click' THEN props END AS props
        |FROM events
        |WHERE event_type <> 'error' AND event_type <> 'click'
        |ORDER BY event_id""".stripMargin,

    "q_fillna" ->
      """SELECT event_id,
        |  round(coalesce(CASE WHEN event_type <> 'error' THEN value END, 0.0), 6) AS value,
        |  coalesce(CASE WHEN event_type <> 'click' THEN props END, '0') AS props
        |FROM events ORDER BY event_id""".stripMargin,

    "q_interpolate" ->
      """WITH base AS (SELECT event_id,
        |    CASE WHEN user_id % 7 <> 0 THEN value END AS v,
        |    row_number() OVER (ORDER BY event_id) - 1 AS i
        |  FROM events),
        |w AS (SELECT event_id, v, i,
        |  last_value(v IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pv,
        |  max(CASE WHEN v IS NOT NULL THEN i END) OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) pi,
        |  first_value(v IGNORE NULLS) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) nv,
        |  min(CASE WHEN v IS NOT NULL THEN i END) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) ni
        | FROM base)
        |SELECT event_id, round(CASE WHEN v IS NOT NULL THEN v
        |  WHEN pv IS NULL THEN nv
        |  WHEN nv IS NULL THEN pv
        |  ELSE (1 - (i-pi)::DOUBLE/(ni-pi)) * pv + ((i-pi)::DOUBLE/(ni-pi)) * nv END, 6) AS value
        |FROM w ORDER BY event_id""".stripMargin,

    "q_ungroup" ->
      """SELECT doc_id,
        |  unnest(range(0, len(string_split(text, ' ')))) AS pos,
        |  unnest(string_split(text, ' ')) AS token
        |FROM documents
        |ORDER BY doc_id, pos""".stripMargin,

    "q_rolling" ->
      """SELECT ts,
        |  round(sum(value) OVER w, 4) AS value_sum,
        |  round(sum(value) OVER w, 4) / (count(*) OVER w) AS value_mean,
        |  (count(*) OVER w)::DOUBLE AS value_length
        |FROM events
        |WINDOW w AS (ORDER BY epoch_us(ts) RANGE BETWEEN 599999999 PRECEDING AND CURRENT ROW)
        |ORDER BY ts, value_sum""".stripMargin,

    "q_rolling_by_user" ->
      """SELECT user_id, ts,
        |  round(sum(value) OVER w, 4) AS value_sum,
        |  (count(*) OVER w)::DOUBLE AS value_length
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, value_sum""".stripMargin,

    "q_rolling_median" -> {
      s"""WITH w1 AS (
         |  SELECT user_id, ts,
         |    list_sort(list(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
         |      RANGE BETWEEN 599999999 PRECEDING AND CURRENT ROW)) AS s
         |  FROM events),
         |w2 AS (SELECT user_id, ts, s, len(s)::DOUBLE AS n FROM w1)
         |SELECT user_id, ts,
         |  round(${duckQuantileRaw("n*0.5 - 0.5")}, 6) AS value_median
         |FROM w2 ORDER BY user_id, ts, value_median""".stripMargin
    },

    "q_shift_by_user" ->
      """SELECT event_id, user_id, value,
        |  lag(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS value_shift_1
        |FROM events ORDER BY event_id""".stripMargin,

    "q_autocorr" ->
      """SELECT round(corr(value, lv), 6) AS autocorr
        |FROM (SELECT value, lag(value, 3) OVER (ORDER BY event_id) AS lv FROM events)""".stripMargin,

    "q_corr" ->
      """SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(corr(l_discount, l_tax), 6) AS corr_disc_tax,
        |  round(corr(l_quantity, l_tax), 6) AS corr_qty_tax
        |FROM lineitem""".stripMargin,

    "q_concat" ->
      """WITH a AS (SELECT row_number() OVER (ORDER BY o_orderkey) - 1 AS rn, o_orderkey FROM orders),
        |b AS (SELECT row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) - 1 AS rn,
        |        o_orderkey AS o_orderkey_by_price FROM orders)
        |SELECT a.rn AS pos, a.o_orderkey, b.o_orderkey_by_price
        |FROM a JOIN b USING (rn) ORDER BY pos""".stripMargin,

    "q_describe" -> {
      def one(c: String) =
        s"""SELECT '$c' AS "column", round(avg($c),6) AS mean,
           |  round(stddev_pop($c),6) AS std, min($c)::DOUBLE AS min,
           |  (SELECT ${duckQuantile("n*0.25 - 0.5", "q")} FROM
           |    (SELECT list_sort(list($c)) s, count($c)::DOUBLE n FROM lineitem WHERE $c IS NOT NULL)) AS q1,
           |  round(median($c),6) AS median,
           |  (SELECT ${duckQuantile("n*0.75 - 0.5", "q")} FROM
           |    (SELECT list_sort(list($c)) s, count($c)::DOUBLE n FROM lineitem WHERE $c IS NOT NULL)) AS q3,
           |  max($c)::DOUBLE AS max
           |FROM lineitem""".stripMargin
      Seq("l_quantity", "l_discount", "l_tax").map(one).mkString("", "\nUNION ALL\n", "\nORDER BY \"column\"")
    },

    "q_filter_json" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity < 14.0 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderkey, o_orderpriority, round(o_totalprice, 4) AS o_totalprice,
        |  row_number() OVER w AS rn, rank() OVER w AS rnk,
        |  dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
        |QUALIFY rn <= 10
        |ORDER BY o_orderpriority, rn""".stripMargin,

    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, value, epoch_us(ts) AS tus,
        |    CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000
        |         OR lag(epoch_us(ts)) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
        |sessions AS (
        |  SELECT user_id, value,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS session_id
        |  FROM flagged)
        |SELECT user_id, session_id, count(*) AS n_events,
        |  round(sum(value), 4) AS session_value
        |FROM sessions GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,

    "q_region_revenue_exact" ->
      """SELECT r_name, year(o_orderdate) AS order_year,
        |  CAST(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,4)))
        |    * 10000 AS HUGEINT) AS BIGINT) AS revenue_micros,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, order_year
        |ORDER BY r_name, order_year""".stripMargin,

    "q_region_revenue" ->
      """SELECT r_name, year(o_orderdate) AS order_year,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, order_year
        |ORDER BY r_name, order_year""".stripMargin,

    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS t FROM events
        |  WHERE user_id IS NOT NULL),
        |s1 AS (SELECT user_id, min(t) AS rt FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(t) AS rt FROM e
        |       JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND t >= s1.rt GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(t) AS rt FROM e
        |       JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND t >= s2.rt GROUP BY e.user_id)
        |SELECT user_id, step_idx, step, reached_us FROM (
        |  SELECT user_id, 1 AS step_idx, 'view' AS step, rt AS reached_us FROM s1
        |  UNION ALL
        |  SELECT user_id, 2, 'click', rt FROM s2
        |  UNION ALL
        |  SELECT user_id, 3, 'purchase', rt FROM s3)
        |ORDER BY step_idx, user_id""".stripMargin,

    "q_trend" ->
      """WITH e AS (
        |  SELECT event_type, epoch_us(ts) // 86400000000 AS d, value
        |  FROM events WHERE value IS NOT NULL)
        |SELECT event_type, round(regr_slope(value, d), 6) AS slope,
        |  round(regr_intercept(value, d), 6) AS intercept, count(*) AS n
        |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS b FROM events
        |  WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, min(b) AS cohort FROM e GROUP BY user_id)
        |SELECT cohort AS cohort_bucket, b - cohort AS offset_buckets,
        |  count(DISTINCT user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY cohort_bucket, offset_buckets""".stripMargin,

    "q_resample" ->
      """SELECT date_trunc('hour', ts) AS bucket,
        |  CAST(floor(round(sum(value), 2) * 100) AS BIGINT) AS value_cents,
        |  CAST(floor((round(sum(value), 2) * 1000000 + count(*) / 2)
        |    / count(*)) AS BIGINT) AS mean_micros,
        |  count(*)::DOUBLE AS value_length
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_resample_dense" ->
      """WITH src AS (SELECT * FROM events WHERE value > 200),
        |agg AS (SELECT date_trunc('hour', ts) AS b,
        |          round(sum(value), 4) AS s, count(*)::DOUBLE AS n
        |        FROM src GROUP BY 1),
        |bounds AS (SELECT min(b) AS lo, max(b) AS hi FROM agg),
        |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |          FROM bounds)
        |SELECT bucket, s AS value_sum, coalesce(n, 0) AS value_length
        |FROM spine LEFT JOIN agg ON b = bucket
        |ORDER BY bucket""".stripMargin,

    "q_resample_exact" ->
      """WITH g AS (
        |  SELECT date_trunc('hour', ts) AS bucket,
        |    sum(CAST(value AS DECIMAL(38,4))) AS value_sum,
        |    count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT bucket,
        |  CAST(CAST(value_sum * 10000 AS HUGEINT) AS BIGINT) AS value_sum_micros,
        |  CAST((CAST(value_sum * 10000 AS HUGEINT) * 200 + n)
        |       // (2 * n) AS BIGINT) AS value_mean_micros,
        |  n
        |FROM g ORDER BY bucket""".stripMargin,

    "q_asof_join" ->
      """SELECT e.event_id, e.user_id, e.ts, e.value, s.snap_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts AS snap_ts, value AS snap_value
        |  FROM events WHERE event_id % 10 = 0) s
        |ON e.user_id = s.user_id AND e.ts >= s.snap_ts
        |ORDER BY e.event_id""".stripMargin,

    "q_asof_fwd" ->
      """SELECT e.event_id, e.user_id, e.ts, e.value,
        |  CASE WHEN s.snap_ts IS NOT NULL
        |        AND epoch_us(s.snap_ts) - epoch_us(e.ts) <= 3600000000
        |       THEN s.snap_value END AS snap_value
        |FROM events e ASOF LEFT JOIN (
        |  SELECT user_id, ts AS snap_ts, value AS snap_value
        |  FROM events WHERE event_id % 10 = 0) s
        |ON e.user_id = s.user_id AND e.ts <= s.snap_ts
        |ORDER BY e.event_id""".stripMargin,

    "q_asof_near" ->
      """WITH e AS (SELECT event_id, user_id, ts, value FROM events),
        |s AS (SELECT user_id, ts AS snap_ts, value AS snap_value
        |      FROM events WHERE event_id % 10 = 0),
        |best AS (
        |  SELECT e.event_id AS eid, s.snap_value,
        |    row_number() OVER (PARTITION BY e.event_id
        |      ORDER BY abs(epoch_us(s.snap_ts) - epoch_us(e.ts)),
        |               CASE WHEN epoch_us(s.snap_ts) <= epoch_us(e.ts)
        |                    THEN 0 ELSE 1 END) AS rn
        |  FROM e JOIN s ON s.user_id = e.user_id)
        |SELECT e.event_id, e.user_id, e.ts, e.value, b.snap_value
        |FROM e LEFT JOIN (SELECT eid, snap_value FROM best WHERE rn = 1) b
        |  ON b.eid = e.event_id
        |ORDER BY e.event_id""".stripMargin,

    "q_ewma" ->
      """WITH l AS (
        |  SELECT event_id,
        |    lag(value, 0) OVER w AS x0, lag(value, 1) OVER w AS x1,
        |    lag(value, 2) OVER w AS x2, lag(value, 3) OVER w AS x3,
        |    lag(value, 4) OVER w AS x4, lag(value, 5) OVER w AS x5,
        |    lag(value, 6) OVER w AS x6, lag(value, 7) OVER w AS x7
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |nd AS (
        |  SELECT event_id,
        |    coalesce(x0, 0) * 1.0 + coalesce(x1, 0) * 0.5 +
        |    coalesce(x2, 0) * 0.25 + coalesce(x3, 0) * 0.125 +
        |    coalesce(x4, 0) * 0.0625 + coalesce(x5, 0) * 0.03125 +
        |    coalesce(x6, 0) * 0.015625 + coalesce(x7, 0) * 0.0078125 AS num,
        |    (CASE WHEN x0 IS NULL THEN 0 ELSE 1.0 END) +
        |    (CASE WHEN x1 IS NULL THEN 0 ELSE 0.5 END) +
        |    (CASE WHEN x2 IS NULL THEN 0 ELSE 0.25 END) +
        |    (CASE WHEN x3 IS NULL THEN 0 ELSE 0.125 END) +
        |    (CASE WHEN x4 IS NULL THEN 0 ELSE 0.0625 END) +
        |    (CASE WHEN x5 IS NULL THEN 0 ELSE 0.03125 END) +
        |    (CASE WHEN x6 IS NULL THEN 0 ELSE 0.015625 END) +
        |    (CASE WHEN x7 IS NULL THEN 0 ELSE 0.0078125 END) AS den
        |  FROM l)
        |SELECT event_id,
        |  CASE WHEN den > 0 THEN round(num / den, 6) END AS ewma
        |FROM nd ORDER BY event_id""".stripMargin,

    "q_range_join" ->
      """SELECT e.event_id, s.iv_id, e.ts, e.value
        |FROM events e JOIN (
        |  SELECT user_id, event_id AS iv_id, ts AS iv_start,
        |         ts + INTERVAL 2 HOUR AS iv_end
        |  FROM events WHERE event_id % 100 = 0) s
        |ON e.user_id = s.user_id AND e.ts >= s.iv_start AND e.ts <= s.iv_end
        |ORDER BY e.event_id, s.iv_id""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 4) AS sum_qty, count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,

    "q_describe_na" ->
      """SELECT sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS value_nulls,
        |  round(avg(CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END), 6) AS value_null_ratio,
        |  sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS props_nulls,
        |  round(avg(CASE WHEN event_type = 'click' THEN 1.0 ELSE 0.0 END), 6) AS props_null_ratio
        |FROM events""".stripMargin
  )
}
