package graft.queries

import graft.core.Table
import graft.sources.TableIO
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Oracle entries for the §2 surface ops that were previously spec-only
  * (VERDICT round 1 item 5): take/drop, dropNaAt/fillNaAt, column surgery
  * (addColumnAt/removeByIndex/rename), the int64 sequence source, a CSV
  * write-then-read round-trip, and the set operations. Each runs through
  * the public Table/TableIO API, not raw DataFrames, so the gate verifies
  * the API the reference user would call. */
object SurfaceQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // §2.3 take/dropRows compose over the row order (dropRows re-bases
    // the surviving positions to 0..)
    "q_take_drop" -> ((s, dir) => {
      Table.fromDF(t(s, dir, "orders"), Seq(col("o_orderkey")))
        .dropRows(100).take(30)
        .indexed
        .withColumnRenamed(Table.RowIdx, "pos")
        .select(col("pos"), col("o_orderkey"), round(col("o_totalprice"), 4).as("o_totalprice"))
        .orderBy(col("pos"))
    }),

    // §2.8 dropNaAt: only the named column's nulls remove rows (driver
    // data is null-free; nulls injected deterministically on BOTH sides)
    "q_dropna_at" -> ((s, dir) => {
      Table.of(t(s, dir, "lineitem")
          .withColumn("discount_n", when(col("l_quantity") >= 10, col("l_discount")))
          .withColumn("tax_n", when(col("l_linenumber") =!= 1, col("l_tax"))))
        .dropNaAt("discount_n")
        .select(col("l_orderkey"), col("l_linenumber"), col("discount_n"), col("tax_n"))
        .toDF
        // total order: (okey, lineno) is not unique in the synthetic data;
        // tax_n is nullable -> pin nulls last to match DuckDB's ASC default
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("discount_n"),
          col("tax_n").asc_nulls_last)
    }),

    // §2.8 fillNaAt: fill one column, leave the other's nulls alone
    "q_fillna_at" -> ((s, dir) => {
      Table.of(t(s, dir, "lineitem")
          .withColumn("discount_n", when(col("l_quantity") >= 10, col("l_discount")))
          .withColumn("tax_n", when(col("l_linenumber") =!= 1, col("l_tax"))))
        .fillNaAt("discount_n", 9.99)
        .select(col("l_orderkey"), col("l_linenumber"), col("discount_n"), col("tax_n"))
        .toDF
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("discount_n"),
          col("tax_n").asc_nulls_last)
    }),

    // §2.2 column surgery: insert at position, drop by position, rename
    "q_column_surgery" -> ((s, dir) => {
      val tab = Table.of(t(s, dir, "nation"))
      tab
        .addColumnAt(1, "key2", col("n_nationkey") * 2)
        .removeByIndex(3)                  // drops n_regionkey
        .rename("n_name", "name")
        .toDF
        .orderBy(col("n_nationkey"))
    }),

    // §2.1 int64 sequence column source (Column.createIndex)
    "q_sequence" -> ((s, dir) => {
      TableIO.sequenceColumn(s, "seq", 5, 500, 7).orderBy(col("seq"))
    }),

    // §2.1 CSV round-trip: write orders (projected) as CSV through the
    // engine's writer, sniff-read it back, and hash against the ORIGINAL
    // parquet — proves header, quoting, null rendering and re-inference
    // compose to the identity. (Spark CSV inference narrows ints to int32;
    // the read-back casts restore the declared int64 schema.)
    "q_csv_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(200)
      val tmp = graft.Harness.tempDir("graft_csv").toString + "/orders_csv"
      TableIO.write(src.coalesce(1), tmp + "/data.csv")
      TableIO.read(s, tmp + "/data.csv")
        .select(col("o_orderkey").cast(LongType), col("o_custkey").cast(LongType),
          col("o_orderstatus"), col("o_totalprice").cast(DoubleType))
        .orderBy(col("o_orderkey"))
    }),

    // §2.1 Feather v1 round-trip: write through the engine's hand-rolled
    // FEA1 writer, sniff-read back, hash against the original parquet.
    // Feather preserves the physical types, so no re-casts are needed.
    "q_feather_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(200)
      val tmp = graft.Harness.tempDir("graft_fea").toString + "/orders.feather"
      TableIO.write(src, tmp)
      TableIO.read(s, tmp).orderBy(col("o_orderkey"))
    }),

    // beyond-reference formats: ORC and JSON-lines round-trips through
    // the same extension-dispatch writer + signature-sniffing reader
    "q_orc_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(200)
      val tmp = graft.Harness.tempDir("graft_orc").toString + "/orders.orc"
      TableIO.write(src, tmp)
      TableIO.read(s, tmp).orderBy(col("o_orderkey"))
    }),

    // §2.1 Avro round-trip: write through the engine's hand-rolled Avro
    // container writer (no spark-avro in this distribution), sniff-read
    // back distributed, hash against the original parquet.
    "q_avro_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(200)
      val tmp = graft.Harness.tempDir("graft_avro").toString + "/orders.avro"
      TableIO.write(src, tmp)
      TableIO.read(s, tmp).orderBy(col("o_orderkey"))
    }),

    // TFRecord/tf.Example round-trip: the training-pipeline handoff
    // format (tf.data.TFRecordDataset), hand-rolled on the public
    // framing + protobuf wire specs; write framed tf.Examples, read
    // back distributed (CRC-verified) against the declared schema,
    // hash against the original parquet.
    "q_tfrecord_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"), col("n_chars"))
        .orderBy(col("doc_id")).limit(200)
      val tmp = graft.Harness.tempDir("graft_tfr").toString +
        "/docs.tfrecord"
      graft.sources.TFRecordIO.write(src, tmp)
      graft.sources.TFRecordIO.read(s, tmp, src.schema).orderBy(col("doc_id"))
    }),

    // WARC round-trip through the DISTRIBUTED production path: wrap
    // every document as an archived HTTP response, export as sharded
    // .warc.gz (gzip member per record — the Common Crawl layout),
    // read the shards back (one task per shard, strict member walk
    // with per-member CRC), split the HTTP message with the
    // single-parse native expression, and recover (doc_id, text) from
    // the archive alone. The oracle is the source table: any framing,
    // compression, or header-split defect hash-mismatches.
    "q_warc_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val wdir = graft.Harness.tempDir("graft_warc").toString +
        "/shards"
      graft.sources.WarcIO.writeSharded(src.select(
        col("doc_id"),
        concat(lit("http://corpus.example/doc/"), col("doc_id")).as("target_uri"),
        lit("2026-01-01T00:00:00Z").as("warc_date"),
        concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"),
          col("text")).cast("binary").as("payload")), wdir, "doc_id", 8)
      graft.sources.WarcIO.read(s, wdir + "/*.warc.gz")
        .filter(col("warc_type") === "response")
        .select(
          regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1)
            .cast("long").as("doc_id"),
          graft.expr.BinaryExpressions.httpResponse(col("payload")).as("h"))
        .select(col("doc_id"), col("h.body").cast("string").as("text"))
        .orderBy(col("doc_id"))
    }),

    "q_json_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(200)
      val tmp = graft.Harness.tempDir("graft_json").toString + "/orders.json"
      TableIO.write(src, tmp)
      // inference alphabetizes columns; reselect the declared order
      TableIO.read(s, tmp)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),

    // §2.1 XLSX round-trip: write a single-sheet workbook, sniff-read it
    // back (cells come back as text — the reference's non-nullable-text
    // default), re-cast to the declared schema, hash against the parquet.
    "q_xlsx_roundtrip" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey")).limit(200)
      val tmp = graft.Harness.tempDir("graft_xlsx").toString + "/orders.xlsx"
      TableIO.write(src, tmp)
      TableIO.read(s, tmp)
        .select(col("o_orderkey").cast(LongType), col("o_custkey").cast(LongType),
          col("o_orderstatus"), col("o_totalprice").cast(DoubleType))
        .orderBy(col("o_orderkey"))
    }),

    // §2.7 groupBy-to-lists: every non-key column becomes the group's
    // values in row order; null keys and null values both survive. The
    // list columns are serialized to strings for the gate (the driver's
    // pandas harness can't sort/hash raw arrays); doubles go through
    // %.4f so Java and DuckDB render identically, nulls become "null".
    "q_group_lists" -> ((s, dir) => {
      val src = t(s, dir, "orders")
        .select(
          when(col("o_orderkey") % 97 =!= 0, col("o_orderpriority")).as("prio_n"),
          col("o_orderkey"),
          when(col("o_orderkey") % 13 =!= 0, round(col("o_totalprice"), 4)).as("price_n"))
      Table.fromDF(src, Seq(col("o_orderkey")))
        .groupByToLists("prio_n")
        .toDF
        .select(col("prio_n"),
          array_join(transform(col("o_orderkey"), x => x.cast(StringType)), ",")
            .as("o_orderkey"),
          array_join(transform(col("price_n"),
              x => when(x.isNull, lit("null")).otherwise(format_string("%.4f", x))), ",")
            .as("price_n"))
        .orderBy(col("prio_n"))
    }),

    // §2.9 ML bridge: single-feature OLS. regParam=0 solves the normal
    // equations exactly, so DuckDB's regr_slope/regr_intercept/regr_r2 is
    // a faithful oracle. Small-magnitude y (l_discount) keeps the rounding
    // well inside double precision.
    "q_linreg" -> ((s, dir) => {
      import s.implicits._
      val li = t(s, dir, "lineitem")
      val m = graft.ml.Learn.linearRegression(li, Seq("l_quantity"), "l_discount")
      val r2 = graft.ml.Learn.r2Score(m.predict(li), "l_discount")
      Seq((BigDecimal(m.coefficients.head).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble,
           BigDecimal(m.intercept).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble,
           BigDecimal(r2).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble))
        .toDF("slope", "intercept", "r2")
    }),

    // §2.9 ML bridge: one-hot encoding (`col: value` columns, null -> all
    // zeros); aliases drop the space/colon the parquet sink rejects
    "q_onehot" -> ((s, dir) => {
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        when(col("o_orderkey") % 7 =!= 0, col("o_orderstatus")).as("status_n"))
      graft.ml.Learn.oneHotEncode(src, "status_n")
        .select(col("o_orderkey"),
          col("status_n: F").as("status_f"),
          col("status_n: O").as("status_o"),
          col("status_n: P").as("status_p"))
        .orderBy(col("o_orderkey"))
    }),

    // beyond-reference: pivot to wide format (explicit values — no
    // distinct-discovery job, deterministic schema)
    "q_pivot" -> ((s, dir) => {
      Table.of(t(s, dir, "orders"))
        .pivotAgg("o_orderpriority", "o_orderstatus", Seq("F", "O", "P"),
          // floor-cents carrier (q_eqdepth rule): 2.5e10 cells at sf1
          sum(floor(col("o_totalprice") * 100).cast("long")))
        .toDF
        .select(col("o_orderpriority"), col("F").as("cents_f"),
          col("O").as("cents_o"), col("P").as("cents_p"))
        .orderBy(col("o_orderpriority"))
    }),

    // exact-decimal face of q_pivot: same explicit-values pivot, cells
    // summed in DECIMAL(38,4) and emitted as BIGINT micro-units (the
    // representation-stable carrier — see q1_agg_exact / Exact.micros)
    "q_pivot_exact" -> ((s, dir) => {
      Table.of(t(s, dir, "orders"))
        .pivotAgg("o_orderpriority", "o_orderstatus", Seq("F", "O", "P"),
          sum(col("o_totalprice").cast(DecimalType(38, 4))))
        .toDF
        .select(col("o_orderpriority"),
          Exact.micros(col("F")).as("sum_f_micros"),
          Exact.micros(col("O")).as("sum_o_micros"),
          Exact.micros(col("P")).as("sum_p_micros"))
        .orderBy(col("o_orderpriority"))
    }),

    // beyond-reference: unpivot/melt to long format (Expand, narrow)
    "q_unpivot" -> ((s, dir) => {
      val src = t(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey").cast(DoubleType).as("custkey"),
        round(col("o_totalprice"), 4).as("totalprice"),
        year(col("o_orderdate")).cast(DoubleType).as("order_year"))
      Table.of(src)
        .melt(Seq("o_orderkey"), Seq("custkey", "totalprice", "order_year"),
          "metric", "value")
        .toDF
        .orderBy(col("o_orderkey"), col("metric"))
    }),

    // §2.5 set operations: union(+distinct), except, intersect — tagged
    // legs concatenated into one deterministic result
    "q_setops" -> ((s, dir) => {
      val a = Table.of(t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_orderkey")))
      val b = Table.of(t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey")))
      a.except(b).toDF.withColumn("op", lit("a_minus_b"))
        .union(a.intersect(b).toDF.withColumn("op", lit("a_and_b")))
        .union(a.union(b).distinct().toDF.withColumn("op", lit("a_or_b")))
        .orderBy(col("op"), col("o_orderkey"))
    }),

    // Fixed-range histogram: one-pass distribution diagnostic (20 bins
    // over the events value range, clamped edges, nulls dropped)
    "q_histogram" -> ((s, dir) => {
      graft.operators.Stats.histogram(t(s, dir, "events"), "value",
          lo = 0.0, hi = 400.0, bins = 20)
        .orderBy(col("bin"))
    }),

    // Z-order (Morton) clustering key: multi-dim layout for scan pruning.
    // The graded check replays the bit interleave exactly; the layout
    // locality property itself is spec-asserted.
    "q_zorder" -> ((s, dir) => {
      val z = graft.operators.Layout.zValue(
        Seq(pmod(col("o_custkey"), lit(4096L)), pmod(col("o_orderkey"), lit(4096L))), 12)
      t(s, dir, "orders")
        .select(col("o_orderkey"), z.as("z"))
        .orderBy(col("z"), col("o_orderkey"))
        .limit(200)
    }),

    // Bucketed co-located join: both sides written bucketBy(custkey) so
    // the fact-to-dim equi-join plans with NO Exchange on either side
    // (spec-asserted); the oracle replays the plain join — results are
    // layout-independent by construction
    "q_bucket_join" -> ((s, dir) => {
      // session-staged bucketed layout (UUID-named catalog tables — see
      // BucketedTables): the bucket shuffle was paid once at staging; this
      // join plans exchange-free and sort-free on both sides
      val bo = BucketedTables.ordersByCustkey(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      val bc = BucketedTables.customerByCustkey(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      bo.join(bc, bo("o_custkey") === bc("c_custkey"))
        .groupBy(col("c_mktsegment"))
        // floor-cents carrier (see q_eqdepth): round(sum(dbl),4) of a
        // 1e10+ total is summation-order-unstable; floor(x*100) is the
        // same IEEE per-row arithmetic on both engines, then exact BIGINT
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100).cast("long")).as("revenue_cents"))
        .orderBy(col("c_mktsegment"))
    }),

    // exact-decimal face of q_bucket_join (same bucketed co-located join)
    "q_bucket_join_exact" -> ((s, dir) => {
      val bo = BucketedTables.ordersByCustkey(s, dir)
        .select(col("o_custkey"), col("o_totalprice"))
      val bc = BucketedTables.customerByCustkey(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
      bo.join(bc, bo("o_custkey") === bc("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(38, 4))).as("revenue"))
        .select(col("c_mktsegment"), col("n_orders"),
          Exact.micros(col("revenue")).as("revenue_micros"))
        .orderBy(col("c_mktsegment"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_histogram" ->
      """SELECT least(greatest(floor((value - 0.0) / 20.0), 0), 19)::BIGINT AS bin,
        |  count(*) AS n
        |FROM events WHERE value IS NOT NULL
        |GROUP BY bin ORDER BY bin""".stripMargin,

    "q_zorder" ->
      """SELECT o_orderkey,
        |  (list_sum(list_transform(range(0, 12),
        |     b -> (((o_custkey % 4096) >> b) & 1) << (2*b)))
        |   + list_sum(list_transform(range(0, 12),
        |     b -> (((o_orderkey % 4096) >> b) & 1) << (2*b + 1))))::BIGINT AS z
        |FROM orders ORDER BY z, o_orderkey LIMIT 200""".stripMargin,

    "q_bucket_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |    AS revenue_cents
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_bucket_join_exact" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) * 10000 AS HUGEINT)
        |    AS BIGINT) AS revenue_micros
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_pivot_exact" ->
      """SELECT o_orderpriority,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'F'
        |        THEN CAST(o_totalprice AS DECIMAL(38,4)) END) * 10000 AS HUGEINT)
        |    AS BIGINT) AS sum_f_micros,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'O'
        |        THEN CAST(o_totalprice AS DECIMAL(38,4)) END) * 10000 AS HUGEINT)
        |    AS BIGINT) AS sum_o_micros,
        |  CAST(CAST(sum(CASE WHEN o_orderstatus = 'P'
        |        THEN CAST(o_totalprice AS DECIMAL(38,4)) END) * 10000 AS HUGEINT)
        |    AS BIGINT) AS sum_p_micros
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_take_drop" ->
      """SELECT row_number() OVER (ORDER BY o_orderkey) - 101 AS pos,
        |  o_orderkey, round(o_totalprice, 4) AS o_totalprice
        |FROM orders
        |ORDER BY o_orderkey LIMIT 30 OFFSET 100""".stripMargin,

    "q_dropna_at" ->
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CASE WHEN l_quantity >= 10 THEN l_discount END AS discount_n,
        |    CASE WHEN l_linenumber <> 1 THEN l_tax END AS tax_n
        |  FROM lineitem)
        |SELECT * FROM li WHERE discount_n IS NOT NULL
        |ORDER BY l_orderkey, l_linenumber, discount_n, tax_n""".stripMargin,

    "q_fillna_at" ->
      """SELECT l_orderkey, l_linenumber,
        |  coalesce(CASE WHEN l_quantity >= 10 THEN l_discount END, 9.99) AS discount_n,
        |  CASE WHEN l_linenumber <> 1 THEN l_tax END AS tax_n
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, discount_n, tax_n""".stripMargin,

    "q_column_surgery" ->
      """SELECT n_nationkey, n_nationkey * 2 AS key2, n_name AS name
        |FROM nation ORDER BY n_nationkey""".stripMargin,

    "q_sequence" ->
      """SELECT unnest(range(5, 500, 7)) AS seq ORDER BY seq""",

    "q_csv_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q_feather_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q_xlsx_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q_avro_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q_orc_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q_json_roundtrip" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey LIMIT 200""".stripMargin,

    "q_tfrecord_roundtrip" ->
      """SELECT doc_id, lang, text, n_chars
        |FROM documents ORDER BY doc_id LIMIT 200""".stripMargin,

    "q_warc_roundtrip" ->
      "SELECT doc_id, text FROM documents ORDER BY doc_id",

    "q_group_lists" ->
      """SELECT CASE WHEN o_orderkey % 97 <> 0 THEN o_orderpriority END AS prio_n,
        |  string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS o_orderkey,
        |  string_agg(
        |    coalesce(printf('%.4f',
        |      CASE WHEN o_orderkey % 13 <> 0 THEN round(o_totalprice, 4) END), 'null'),
        |    ',' ORDER BY o_orderkey) AS price_n
        |FROM orders
        |GROUP BY 1 ORDER BY 1 NULLS FIRST""".stripMargin,

    "q_linreg" ->
      """SELECT round(regr_slope(l_discount, l_quantity), 8) AS slope,
        |  round(regr_intercept(l_discount, l_quantity), 8) AS intercept,
        |  round(regr_r2(l_discount, l_quantity), 8) AS r2
        |FROM lineitem""".stripMargin,

    "q_onehot" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 7 <> 0 AND o_orderstatus = 'F' THEN 1.0 ELSE 0.0 END::DOUBLE AS status_f,
        |  CASE WHEN o_orderkey % 7 <> 0 AND o_orderstatus = 'O' THEN 1.0 ELSE 0.0 END::DOUBLE AS status_o,
        |  CASE WHEN o_orderkey % 7 <> 0 AND o_orderstatus = 'P' THEN 1.0 ELSE 0.0 END::DOUBLE AS status_p
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'F'
        |    THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) AS cents_f,
        |  CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'O'
        |    THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) AS cents_o,
        |  CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'P'
        |    THEN o_totalprice END * 100) AS BIGINT)) AS BIGINT) AS cents_p
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """SELECT o_orderkey, metric, value FROM (
        |  SELECT o_orderkey, 'custkey' AS metric, o_custkey::DOUBLE AS value FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'totalprice', round(o_totalprice, 4) FROM orders
        |  UNION ALL
        |  SELECT o_orderkey, 'order_year', year(o_orderdate)::DOUBLE FROM orders)
        |ORDER BY o_orderkey, metric""".stripMargin,

    "q_setops" ->
      """WITH a AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000),
        |     b AS (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F')
        |SELECT o_orderkey, 'a_minus_b' AS op FROM (SELECT * FROM a EXCEPT SELECT * FROM b)
        |UNION ALL
        |SELECT o_orderkey, 'a_and_b' AS op FROM (SELECT * FROM a INTERSECT SELECT * FROM b)
        |UNION ALL
        |SELECT o_orderkey, 'a_or_b' AS op FROM (SELECT * FROM a UNION SELECT * FROM b)
        |ORDER BY op, o_orderkey""".stripMargin
  )
}
