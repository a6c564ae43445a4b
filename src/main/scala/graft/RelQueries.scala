package graft

import graft.functions.{CleanFns, Det}
import graft.operators.{Incremental, Layout, Profile, Skew}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational + analytic workload over the TPC-H-ish testdata, mapping the
  * reference's operator inventory (SURVEY.md §2) onto oracle-checkable
  * queries. Scale notes per query explain the 100 TB plan shape.
  */
object RelQueries {
  import Queries.tbl

  // q01 — A1 grouped multi-agg (TPC-H Q1 shape). One shuffle, map-side
  // partial aggs; decimal sums are Tungsten-native. Scans only 7 columns.
  private val q01 = Q(
    "q01_groupby_agg",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          Det.dsum(col("l_quantity")).as("sum_qty"),
          Det.dsum(col("l_extendedprice")).as("sum_base_price"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("sum_disc_price"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("sum_charge"),
          Det.davg(col("l_quantity")).as("avg_qty"),
          Det.davg(col("l_extendedprice")).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    },
    Some("""SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
      CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      COUNT(*) AS count_order
      FROM lineitem GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus"""),
    headline = true)

  // q02 — A2 value_counts + share% with deterministic tie-break. The
  // window over the 5-row agg result is trivially small at any scale.
  private val q02 = Q(
    "q02_topk_share",
    (s, dir) => Profile.topK(tbl(s, dir, "orders"), "o_orderpriority", 10),
    Some("""SELECT o_orderpriority, cnt,
      floor(cnt * 100.0 / SUM(cnt) OVER () * 10000 + 0.5) / 10000 AS share_pct
      FROM (SELECT o_orderpriority, COUNT(*) AS cnt FROM orders GROUP BY o_orderpriority)
      ORDER BY cnt DESC, o_orderpriority ASC LIMIT 10"""))

  // q03 — multi-way join: revenue per nation. nation/region are broadcast
  // (tiny dims); lineitem⋈orders⋈customer shuffle on their keys; AQE
  // handles skew. Flagship `entry` query.
  private val q03 = Q(
    "q03_join_revenue",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o  = tbl(s, dir, "orders")
      val c  = tbl(s, dir, "customer")
      val n  = tbl(s, dir, "nation")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("n_name"))
    },
    Some("""SELECT n_name,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY revenue DESC, n_name ASC"""),
    headline = true)

  // q04 — left-semi join (EXISTS). Semi-join shuffles only the keys of the
  // probe side; no row duplication.
  private val q04 = Q(
    "q04_semi_join",
    (s, dir) => {
      val o  = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus").agg(count(lit(1)).as("cnt"))
        .orderBy("o_orderstatus")
    },
    Some("""SELECT o_orderstatus, COUNT(*) AS cnt FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      GROUP BY o_orderstatus ORDER BY o_orderstatus"""))

  // q05 — left-anti join (NOT EXISTS): customers without orders.
  private val q05 = Q(
    "q05_anti_join",
    (s, dir) => {
      val c = tbl(s, dir, "customer")
      val o = tbl(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("cnt"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS cnt FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // q06 — ranking window: top-3 orders per customer. Single shuffle on
  // o_custkey; rank pushdown (WindowGroupLimit) keeps per-key state at 3.
  private val q06 = Q(
    "q06_window_topn",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      tbl(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn").cast("long").as("rn"))
        .orderBy("o_custkey", "rn")
    },
    Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
        ROW_NUMBER() OVER (PARTITION BY o_custkey
          ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn"""),
    headline = true)

  // q07 — A5 exact percentiles (pandas-style linear interpolation).
  private val q07 = Q(
    "q07_percentiles",
    (s, dir) => Profile.percentiles(tbl(s, dir, "lineitem"), "l_extendedprice",
      Seq(0.25, 0.5, 0.75, 0.9, 0.95, 0.99)),
    Some("SELECT " + Seq(25, 50, 75, 90, 95, 99).map(p =>
      Det.roundAtSql(f"quantile_cont(l_extendedprice, 0.$p%02d)", 4) + s" AS p$p")
      .mkString(", ") + " FROM lineitem"))

  // q08 — A3/A4 deterministic describe() over o_totalprice.
  private val q08 = Q(
    "q08_desc_stats",
    (s, dir) => Profile.descStats(tbl(s, dir, "orders"), "o_totalprice"),
    Some {
      val s1 = "CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)"
      val s2 = "CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(28,4))) AS DOUBLE)"
      val n  = "CAST(COUNT(o_totalprice) AS DOUBLE)"
      s"""SELECT COUNT(o_totalprice) AS cnt,
      ${Det.roundAtSql(s"$s1 / COUNT(o_totalprice)", 4)} AS mean,
      ${Det.roundAtSql(s"sqrt(($s2 - $s1 * $s1 / $n) / ($n - 1.0))", 4)} AS std,
      MIN(o_totalprice) AS min,
      ${Det.roundAtSql("quantile_cont(o_totalprice, 0.25)", 4)} AS p25,
      ${Det.roundAtSql("quantile_cont(o_totalprice, 0.50)", 4)} AS p50,
      ${Det.roundAtSql("quantile_cont(o_totalprice, 0.75)", 4)} AS p75,
      MAX(o_totalprice) AS max
      FROM orders"""
    })

  // q09 — A10 IQR outliers: quantile pass broadcast into a filter pass.
  private val q09 = Q(
    "q09_iqr_outliers",
    (s, dir) => Profile.iqrOutliers(tbl(s, dir, "orders"), "o_totalprice"),
    Some("""WITH q AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                              quantile_cont(o_totalprice, 0.75) AS q3 FROM orders),
      f AS (SELECT o_totalprice,
              (o_totalprice < q1 - (q3 - q1) * 1.5 OR
               o_totalprice > q3 + (q3 - q1) * 1.5) AS is_out
            FROM orders CROSS JOIN q)
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
        floor(SUM(CASE WHEN is_out THEN 1 ELSE 0 END) * 100.0 / COUNT(*) * 10000 + 0.5) / 10000 AS outlier_pct,
        MIN(CASE WHEN is_out THEN o_totalprice END) AS out_min,
        MAX(CASE WHEN is_out THEN o_totalprice END) AS out_max
      FROM f"""))

  // q10 — A11 deterministic Pearson correlation per group (from exact
  // decimal cross-sums; single aggregation pass).
  private val q10 = Q(
    "q10_corr",
    (s, dir) => tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        Det.roundAt(Det.dcorr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
        Det.roundAt(Det.dcorr(col("l_discount"), col("l_tax")), 4).as("corr_disc_tax"))
      .orderBy("l_returnflag"),
    Some {
      def c(x: String, y: String) = {
        val n  = s"CAST(COUNT(*) AS DOUBLE)"
        def ds(e: String, sc: Int) = s"CAST(SUM(CAST($e AS DECIMAL(28,$sc))) AS DOUBLE)"
        val (sx, sy)  = (ds(x, 2), ds(y, 2))
        val (sxx, syy, sxy) = (ds(s"$x * $x", 4), ds(s"$y * $y", 4), ds(s"$x * $y", 4))
        Det.roundAtSql(s"($n * $sxy - $sx * $sy) / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))", 4)
      }
      s"""SELECT l_returnflag,
        ${c("l_quantity", "l_extendedprice")} AS corr_qty_price,
        ${c("l_discount", "l_tax")} AS corr_disc_tax
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""
    })

  // q11 — A7 monthly trend over the events table.
  private val q11 = Q(
    "q11_monthly_trend",
    (s, dir) => Profile.monthlyTrend(tbl(s, dir, "events"), "ts", "value"),
    Some("""SELECT strftime(ts, '%Y-%m') AS mes, COUNT(*) AS cnt,
      CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1 ORDER BY mes"""),
    headline = true)

  // q12 — A8 date range.
  private val q12 = Q(
    "q12_date_range",
    (s, dir) => Profile.dateRange(tbl(s, dir, "events"), "ts"),
    Some("""SELECT strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS ts_min,
      strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS ts_max FROM events"""))

  // q13 — D6 null/completeness profile (single scan, stack-melted).
  private val orderCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")
  private val q13 = Q(
    "q13_null_profile",
    (s, dir) => Profile.nullProfile(tbl(s, dir, "orders"), orderCols)
      .orderBy("column"),
    Some("SELECT * FROM (" + orderCols.map(c =>
      s"""SELECT '$c' AS "column", CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
          floor((COUNT(*) - SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)) * 100.0 / COUNT(*) * 100 + 0.5) / 100 AS completeness_pct
          FROM orders""").mkString(" UNION ALL ") + """) ORDER BY "column""""))

  // q14 — D1 time-part derivation (weekday Monday=0, English month name).
  private val q14 = Q(
    "q14_time_parts",
    (s, dir) => {
      val parts = CleanFns.timeParts(col("o_orderdate"))
      val df = parts.foldLeft(tbl(s, dir, "orders")) { case (d, (n, c)) => d.withColumn(n, c) }
      df.groupBy(parts.map(p => col(p._1)): _*)
        .agg(count(lit(1)).as("cnt"))
        .select(col("año").cast("long").as("año"), col("mes").cast("long").as("mes"),
          col("dia").cast("long").as("dia"), col("trimestre").cast("long").as("trimestre"),
          col("dia_semana").cast("long").as("dia_semana"), col("nombre_mes"), col("cnt"))
        .orderBy("año", "mes", "dia")
    },
    Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS año, CAST(month(o_orderdate) AS BIGINT) AS mes,
      CAST(day(o_orderdate) AS BIGINT) AS dia, CAST(quarter(o_orderdate) AS BIGINT) AS trimestre,
      CAST(isodow(o_orderdate) - 1 AS BIGINT) AS dia_semana,
      strftime(o_orderdate, '%B') AS nombre_mes, COUNT(*) AS cnt
      FROM orders GROUP BY 1,2,3,4,5,6 ORDER BY año, mes, dia"""))

  // q15 — D2 price bucketing (thresholds scaled to o_totalprice's range).
  private val buckets = Seq(50000.0 -> "Económico", 100000.0 -> "Medio",
    200000.0 -> "Medio-Alto", 300000.0 -> "Alto")
  private val q15 = Q(
    "q15_price_bucket",
    (s, dir) => tbl(s, dir, "orders")
      .groupBy(CleanFns.priceCategory(col("o_totalprice"), buckets).as("categoria_precio"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("o_totalprice")).as("total"))
      .orderBy("categoria_precio"),
    Some("""SELECT CASE
        WHEN o_totalprice IS NULL THEN 'No especificado'
        WHEN o_totalprice <= 50000 THEN 'Económico'
        WHEN o_totalprice <= 100000 THEN 'Medio'
        WHEN o_totalprice <= 200000 THEN 'Medio-Alto'
        WHEN o_totalprice <= 300000 THEN 'Alto'
        ELSE 'Premium' END AS categoria_precio,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM orders GROUP BY 1 ORDER BY categoria_precio"""))

  // q16 — P9 boolean binarization ('t'/'true'/'1'/'yes'/'si' → 1), driven
  // through the events JSON props field (also exercises JSON extraction).
  private val q16 = Q(
    "q16_bool_bin",
    (s, dir) => tbl(s, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"),
        sum(CleanFns.boolBin(col("k")).cast("long")).as("n_one"),
        sum(col("k").try_cast("long")).as("sum_k"))
      .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS cnt,
      CAST(SUM(CASE WHEN lower(trim(json_extract_string(props, '$.k'))) IN ('t','true','1','yes','si')
               THEN 1 ELSE 0 END) AS BIGINT) AS n_one,
      CAST(SUM(TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // q17 — P11/P14 text cleanup + length profile over customer names.
  private val q17 = Q(
    "q17_text_clean",
    (s, dir) => tbl(s, dir, "customer")
      .select(length(CleanFns.textClean(col("c_name"))).cast("long").as("name_len"))
      .groupBy("name_len").agg(count(lit(1)).as("cnt"))
      .orderBy("name_len"),
    Some("""SELECT CAST(length(COALESCE(trim(c_name), 'No especificado')) AS BIGINT) AS name_len,
      COUNT(*) AS cnt FROM customer GROUP BY 1 ORDER BY name_len"""))

  // q18 — P6 price-string parsing round-trip: format each price as
  // '$x.xx', parse with cleanPrice, verify lossless (n_mismatch = 0).
  private val q18 = Q(
    "q18_price_parse",
    (s, dir) => {
      val parsed = CleanFns.cleanPrice(format_string("$%.2f", col("o_totalprice")))
      tbl(s, dir, "orders").agg(
        count(lit(1)).as("cnt"),
        Det.dsum(parsed).as("sum_parsed"),
        sum((parsed =!= col("o_totalprice")).cast("long")).as("n_mismatch"))
    },
    Some("""SELECT COUNT(*) AS cnt,
      CAST(SUM(CAST(COALESCE(CAST(regexp_replace(printf('$%.2f', o_totalprice), '[$,]', '', 'g') AS DOUBLE), 0.0) AS DECIMAL(28,2))) AS DOUBLE) AS sum_parsed,
      CAST(SUM(CASE WHEN COALESCE(CAST(regexp_replace(printf('$%.2f', o_totalprice), '[$,]', '', 'g') AS DOUBLE), 0.0) <> o_totalprice THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
      FROM orders"""))

  // q19 — P7 permissive date parsing round-trip over formatted o_orderdate.
  private val q19 = Q(
    "q19_date_parse",
    (s, dir) => {
      val d = CleanFns.parseDate(date_format(col("o_orderdate"), "yyyy-MM-dd"))
      tbl(s, dir, "orders")
        .groupBy(year(d).cast("long").as("año"))
        .agg(count(lit(1)).as("cnt"),
          min(CleanFns.normDate(date_format(col("o_orderdate"), "yyyy-MM-dd"))).as("first_day"),
          sum(d.isNull.cast("long")).as("n_unparsed"))
        .orderBy("año")
    },
    Some("""SELECT CAST(year(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d')) AS BIGINT) AS año,
      COUNT(*) AS cnt,
      MIN(strftime(strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d'), '%Y-%m-%d')) AS first_day,
      CAST(SUM(CASE WHEN strptime(strftime(o_orderdate, '%Y-%m-%d'), '%Y-%m-%d') IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unparsed
      FROM orders GROUP BY 1 ORDER BY año"""))

  // q20 — union + except set ops: order keys seen in lineitem but not in
  // a high-value subset, per status (exercises EXCEPT/INTERSECT surface).
  private val q20 = Q(
    "q20_set_ops",
    (s, dir) => {
      val o    = tbl(s, dir, "orders")
      val big  = o.filter(col("o_totalprice") > 150000).select("o_orderkey")
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      val both = big.intersect(urgent)
      val only = big.except(urgent)
      both.withColumn("src", lit("both"))
        .union(only.withColumn("src", lit("only_big")))
        .groupBy("src").agg(count(lit(1)).as("cnt"))
        .orderBy("src")
    },
    Some("""WITH big AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 150000),
      urgent AS (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT'),
      u AS (SELECT o_orderkey, 'both' AS src FROM (SELECT * FROM big INTERSECT SELECT * FROM urgent)
            UNION ALL
            SELECT o_orderkey, 'only_big' AS src FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent))
      SELECT src, COUNT(*) AS cnt FROM u GROUP BY src ORDER BY src"""))

  // q32 — D7 duplicate profile: single pass, distinct over row struct + key.
  private val q32 = Q(
    "q32_dup_profile",
    (s, dir) => Profile.dupProfile(tbl(s, dir, "orders"), "o_orderkey"),
    Some("""SELECT COUNT(*) AS n_rows,
      COUNT(*) - COUNT(DISTINCT (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)) AS n_dup_rows,
      COUNT(*) - COUNT(DISTINCT o_orderkey) AS n_dup_keys
      FROM orders"""))

  // q33 — A6 quantile-trim: keep ≤ p99, aggregate the kept set.
  private val q33 = Q(
    "q33_quantile_trim",
    (s, dir) => Profile.quantileTrim(tbl(s, dir, "orders"), "o_totalprice", 0.99),
    Some("""WITH p AS (SELECT quantile_cont(o_totalprice, 0.99) AS q FROM orders)
      SELECT COUNT(*) AS n_kept,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_kept,
        MAX(o_totalprice) AS max_kept
      FROM orders CROSS JOIN p WHERE o_totalprice <= q"""))

  // q37 — batch sessionization: session_window (the same operator the
  // streaming path uses) checked against the lag+cumsum SQL formulation.
  // One shuffle on user_id; per-user in-memory session merge.
  private val q37 = Q(
    "q37_sessionize",
    (s, dir) => tbl(s, dir, "events")
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Det.dsum(col("value")).as("total"))
      .select(col("user_id"),
        date_format(col("sw.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        col("n_events"), col("total"))
      .orderBy("user_id", "session_start"),
    Some("""WITH e AS (
        SELECT user_id, ts, value, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT user_id, ts, value,
          SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sess_id FROM e)
      SELECT user_id, strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        COUNT(*) AS n_events,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM s GROUP BY user_id, sess_id
      ORDER BY user_id, session_start"""),
    headline = true)

  // q38 — deterministic train/val/test split: portable hash of the key
  // mod 100 → 90/5/5. Hash-based splits are reproducible, join-free, and
  // stable under re-partitioning — the only split that works at 100 TB.
  private val q38 = Q(
    "q38_train_split",
    (s, dir) => {
      val bucket = pmod(graft.functions.TextFns.portableHash(col("o_orderkey").cast("string")), lit(100L))
      tbl(s, dir, "orders")
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("cnt"), Det.dsum(col("o_totalprice")).as("total"))
        .orderBy("split")
    },
    Some(s"""WITH b AS (SELECT o_totalprice,
        ${graft.functions.TextFns.portableHashSql("CAST(o_orderkey AS VARCHAR)")} % 100 AS bucket
        FROM orders)
      SELECT CASE WHEN bucket < 90 THEN 'train' WHEN bucket < 95 THEN 'val' ELSE 'test' END AS split,
        COUNT(*) AS cnt,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM b GROUP BY 1 ORDER BY split"""))

  // q40 — rollup (grouping sets): subtotals + grand total in one pass
  // (Catalyst expands to a single Expand+Aggregate — no re-scan per
  // level). Subtotal nulls coalesced to '(all)' for deterministic order.
  private val q40 = Q(
    "q40_rollup",
    (s, dir) => tbl(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("l_quantity")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("cnt"), col("qty"))
      .orderBy("rf", "ls"),
    Some("""SELECT COALESCE(l_returnflag, '(all)') AS rf,
      COALESCE(l_linestatus, '(all)') AS ls,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))

  // q41 — TPC-H Q5 shape: region-filtered local-supplier revenue. Five
  // joins; region/nation/supplier broadcast, lineitem⋈orders shuffles
  // once on orderkey. The region filter prunes before any join.
  private val q41 = Q(
    "q41_region_revenue",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val o  = tbl(s, dir, "orders")
      val c  = tbl(s, dir, "customer")
      val su = tbl(s, dir, "supplier")
      val n  = tbl(s, dir, "nation")
      val r  = tbl(s, dir, "region").filter(col("r_name") === "ASIA")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(su), li("l_suppkey") === su("s_suppkey") &&
          c("c_nationkey") === su("s_nationkey"))
        .join(broadcast(n), su("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy("n_name")
        .agg(Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy(desc("revenue"), asc("n_name"))
    },
    Some("""SELECT n_name,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
      COUNT(*) AS n_items
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
      GROUP BY n_name ORDER BY revenue DESC, n_name ASC"""),
    headline = true)

  // q42 — part/brand margin (TPC-H Q9 shape): fact⋈part with a LIKE
  // filter pushed to the part scan, grouped two-level.
  private val q42 = Q(
    "q42_part_margin",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val p  = tbl(s, dir, "part").filter(col("p_type").like("%ECO%"))
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy("p_brand")
        .agg(
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("revenue"),
          Det.dsum(col("p_retailprice") * col("l_quantity"), 4).as("retail_value"),
          count(lit(1)).as("n_items"))
        .orderBy("p_brand")
    },
    Some("""SELECT p_brand,
      CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
      CAST(SUM(CAST(p_retailprice * l_quantity AS DECIMAL(28,4))) AS DOUBLE) AS retail_value,
      COUNT(*) AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE p_type LIKE '%ECO%'
      GROUP BY p_brand ORDER BY p_brand"""))

  // q43 — pivot: status × priority count matrix. Spark pivots with an
  // explicit value list (no extra distinct pass); one aggregation.
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val q43 = Q(
    "q43_pivot",
    (s, dir) => tbl(s, dir, "orders")
      .groupBy("o_orderstatus")
      .pivot("o_orderpriority", priorities)
      .agg(count(lit(1)))
      .na.fill(0L)
      .select(col("o_orderstatus") +: priorities.map(p =>
        col(s"`$p`").as(s"p${p.charAt(0)}")): _*)
      .orderBy("o_orderstatus"),
    Some("SELECT o_orderstatus, " + priorities.map(p =>
      s"CAST(SUM(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS p${p.charAt(0)}")
      .mkString(", ") +
      " FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"))

  // q46 — unpivot/melt: wide numeric lineitem columns → long (metric,
  // value) form with per-metric stats. One Expand pass, no join.
  private val q46 = Q(
    "q46_unpivot",
    (s, dir) => tbl(s, dir, "lineitem")
      .unpivot(
        Array(col("l_orderkey")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy("metric")
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("total"),
        min(col("value")).as("vmin"), max(col("value")).as("vmax"))
      .orderBy("metric"),
    Some("""WITH u AS (
        SELECT 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        UNION ALL SELECT 'l_discount', l_discount FROM lineitem
        UNION ALL SELECT 'l_tax', l_tax FROM lineitem)
      SELECT metric, COUNT(*) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total,
        MIN(value) AS vmin, MAX(value) AS vmax
      FROM u GROUP BY metric ORDER BY metric"""))

  // q48 — frame windows + lag: daily totals with running total
  // (unbounded-preceding frame) and day-over-day delta. The window runs
  // over the agg result (day-count-sized), not the fact table.
  private val q48 = Q(
    "q48_running_totals",
    (s, dir) => {
      val monthly = tbl(s, dir, "events")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("mes"))
        .agg(Det.dsum(col("value")).as("total"))
      val w = Window.orderBy("mes")
      monthly
        .withColumn("running_total",
          Det.roundAt(sum("total").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 4))
        .withColumn("mom_delta", Det.roundAt(
          coalesce(col("total") - lag("total", 1).over(w), lit(0.0)), 4))
        .select(col("mes"), Det.roundAt(col("total"), 4).as("total"),
          col("running_total"), col("mom_delta"))
        .orderBy("mes")
    },
    Some {
      val total = "CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE)"
      s"""WITH m AS (SELECT strftime(ts, '%Y-%m-%d') AS mes, $total AS total
        FROM events GROUP BY 1)
      SELECT mes, ${Det.roundAtSql("total", 4)} AS total,
        ${Det.roundAtSql("SUM(total) OVER (ORDER BY mes ROWS UNBOUNDED PRECEDING)", 4)} AS running_total,
        ${Det.roundAtSql("COALESCE(total - lag(total, 1) OVER (ORDER BY mes), 0.0)", 4)} AS mom_delta
      FROM m ORDER BY mes""" })

  // q58 — per-user running z-score anomalies: the BATCH twin of
  // Streams.anomalies (same quantized prefix statistics, so the streaming
  // operator's state math is oracle-checked here). Prefix frame over
  // (ts, event_id); all moments from exact integer sums of 1e-4-quantized
  // values — bit-identical across engines and across batch/streaming.
  // The oracle sorts on CAST(ts AS TIMESTAMP): DuckDB reads the parquet
  // nanos natively while Spark truncates to micros (Queries.tbl), and the
  // sort keys must agree at the same precision.
  private val q58 = Q(
    "q58_user_anomalies",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      tbl(s, dir, "events")
        .withColumn("vq", floor(col("value") * 1e4 + 0.5).cast("long"))
        .withColumn("n_prior", count(lit(1)).over(w))
        .withColumn("sumq", sum(col("vq")).over(w))
        .withColumn("sumsqq", sum(col("vq") * col("vq")).over(w))
        .filter(col("n_prior") >= 3)
        .withColumn("mean", col("sumq").cast("double") / col("n_prior") / 1e4)
        .withColumn("std", sqrt(greatest(
          col("sumsqq").cast("double") / col("n_prior") / 1e8 - col("mean") * col("mean"),
          lit(0.0))))
        .filter(col("std") > 0 && abs(col("value") - col("mean")) > col("std") * 3)
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("value"),
          Det.roundAt(abs(col("value") - col("mean")) / col("std"), 4).as("zscore"))
        .orderBy("user_id", "ts_s", "event_id")
    },
    Some {
      val mean = "(CAST(sumq AS DOUBLE) / n_prior / 1e4)"
      val std = s"sqrt(greatest(CAST(sumsqq AS DOUBLE) / n_prior / 1e8 - $mean * $mean, 0.0))"
      s"""WITH v AS (SELECT event_id, user_id, ts, value,
          CAST(floor(value * 1e4 + 0.5) AS BIGINT) AS vq FROM events),
        p AS (SELECT event_id, user_id, ts, value,
          COUNT(*) OVER w AS n_prior,
          SUM(vq) OVER w AS sumq,
          SUM(vq * vq) OVER w AS sumsqq
        FROM v WINDOW w AS (PARTITION BY user_id
          ORDER BY CAST(ts AS TIMESTAMP), event_id
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
      SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s, value,
        ${Det.roundAtSql(s"abs(value - $mean) / $std", 4)} AS zscore
      FROM p
      WHERE n_prior >= 3 AND $std > 0 AND abs(value - $mean) > $std * 3
      ORDER BY user_id, ts_s, event_id""" })

  // q59 — skew-salted aggregation, driver-checked: the two-stage salted
  // count/decimal-sum is bit-identical to the direct groupBy (algebraic
  // aggregates decompose; decimal addition is associative), so the plain
  // GROUP BY is its oracle. The hot-key split itself is asserted in
  // SkewSpec; this row pins the equivalence.
  private val q59 = Q(
    "q59_salted_agg",
    (s, dir) => Skew.saltedCountSum(tbl(s, dir, "lineitem"),
        "l_returnflag", "l_extendedprice", salts = 16)
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag, COUNT(*) AS cnt,
      ${Det.roundAtSql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)", 6)} AS total
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // q65 — tumbling-window aggregation: the batch twin of
  // Streams.windowedCounts (same `window()` operator the streaming path
  // groups by), checked against DuckDB's time_bucket. One shuffle on
  // (window, event_type); decimal-exact sums.
  private val q65 = Q(
    "q65_tumbling_windows",
    (s, dir) => tbl(s, dir, "events")
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("total"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("total"))
      .orderBy("win_start", "event_type"),
    Some("""SELECT
        strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS win_start,
        event_type, COUNT(*) AS cnt,
        CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  // q66 — sliding-window aggregation (10-minute windows, 5-minute slide):
  // every event lands in windowLen/slide = 2 overlapping windows — the
  // oracle reproduces Spark's window-start enumeration by bucketing to
  // the slide then subtracting k slides. Batch twin of
  // Streams.slidingCounts.
  private val q66 = Q(
    "q66_sliding_windows",
    (s, dir) => tbl(s, dir, "events")
      .groupBy(window(col("ts"), "10 minutes", "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"))
      .orderBy("win_start", "event_type"),
    Some("""SELECT
        strftime(time_bucket(INTERVAL 5 MINUTE, ts) - k.range * INTERVAL 5 MINUTE,
                 '%Y-%m-%d %H:%M:%S') AS win_start,
        event_type, COUNT(*) AS cnt
      FROM events CROSS JOIN range(0, 2) AS k
      GROUP BY 1, 2 ORDER BY win_start, event_type"""))

  // q67 — cube: all 2^k grouping combinations in one Expand+Aggregate
  // pass (q40's rollup covers the hierarchical subset; cube completes the
  // grouping-sets family). Same single-shuffle shape.
  private val q67 = Q(
    "q67_cube",
    (s, dir) => tbl(s, dir, "lineitem")
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("l_quantity")).as("qty"))
      .select(
        coalesce(col("l_returnflag"), lit("(all)")).as("rf"),
        coalesce(col("l_linestatus"), lit("(all)")).as("ls"),
        col("cnt"), col("qty"))
      .orderBy("rf", "ls"),
    Some("""SELECT COALESCE(l_returnflag, '(all)') AS rf,
      COALESCE(l_linestatus, '(all)') AS ls,
      COUNT(*) AS cnt,
      CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY rf, ls"""))

  // q69 — per-GROUP exact percentiles (q07 is global): median/p90 per
  // return flag. The documented scale bound applies per group (~1e8
  // values/group before the q36 sketch path takes over); one shuffle,
  // group-count-sized output.
  private val q69 = Q(
    "q69_grouped_percentiles",
    (s, dir) => tbl(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        Det.roundAt(percentile(col("l_extendedprice"), lit(0.5)), 4).as("p50"),
        Det.roundAt(percentile(col("l_extendedprice"), lit(0.9)), 4).as("p90"))
      .orderBy("l_returnflag"),
    Some(s"""SELECT l_returnflag, COUNT(*) AS cnt,
      ${Det.roundAtSql("quantile_cont(l_extendedprice, 0.5)", 4)} AS p50,
      ${Det.roundAtSql("quantile_cont(l_extendedprice, 0.9)", 4)} AS p90
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  // q70 — as-of join (pandas merge_asof / DuckDB ASOF JOIN semantics):
  // for each error event, the most recent prior purchase by the same
  // user. The Spark encoding is [[AsOf.backward]]'s tagged union + ONE
  // running window — a single key shuffle, linear per partition; an
  // inequality join would plan as a nested loop. The right side is
  // pre-aggregated per (user, ts) so "most recent" is unambiguous in
  // both engines (the testdata has no duplicate-µs timestamps, asserted
  // while authoring; the pre-agg keeps the query total anyway).
  private val q70 = Q(
    "q70_asof_join",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("event_id")).as("pid"), max(col("value")).as("pval"))
      graft.operators.AsOf.backward(errors, purchases,
          "user_id", "user_id", "ts", "ts", Seq("ts", "pid", "pval"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          coalesce(date_format(col("asof.ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("none")).as("purchase_ts"),
          coalesce(col("asof.pid"), lit(-1L)).as("purchase_id"),
          coalesce(col("asof.pval"), lit(0.0)).as("purchase_value"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT user_id, ts, max(event_id) AS pid, max(value) AS pval
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
      SELECT e.event_id, e.user_id,
        strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        COALESCE(strftime(p.ts, '%Y-%m-%d %H:%M:%S'), 'none') AS purchase_ts,
        COALESCE(p.pid, -1) AS purchase_id,
        COALESCE(p.pval, 0.0) AS purchase_value
      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts >= p.ts
      ORDER BY e.event_id"""),
    headline = true)

  // q74 — bucketed-layout join, result-checked (the zero-Exchange plan
  // shape itself is asserted in LayoutSpec): both sides are materialized
  // bucketed-by-join-key (the one deliberately EAGER step — writing a
  // physical layout IS the operator, the 100 TB answer to re-shuffling a
  // fact table on every query), then joined and aggregated. The bucketed
  // result must equal the plain relational join bit-for-bit — which is
  // exactly what the oracle checks.
  private val q74 = Q(
    "q74_bucketed_join",
    (s, dir) => {
      Layout.writeBucketed(tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("okey"), col("l_extendedprice")),
        "g74_lineitem_b", "okey", 8)
      Layout.writeBucketed(tbl(s, dir, "orders")
        .select(col("o_orderkey").as("okey"), col("o_orderpriority")),
        "g74_orders_b", "okey", 8)
      Layout.bucketedJoin(s, "g74_lineitem_b", "g74_orders_b", "okey")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), Det.dsum(col("l_extendedprice")).as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS cnt,
      ${Det.roundAtSql("CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE)", 6)} AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // q76 — per-GROUP sketches (q36 is global): HLL distinct users and
  // approx-median value per event_type, bounds-checked against exact
  // anchors computed in the same pass. The sketch path is what survives
  // 100 TB — fixed-size mergeable state per group vs per-group value
  // collection — and the bounds flags make its accuracy a CORRECTNESS
  // row, not a trust-me.
  private val q76 = Q(
    "q76_group_sketches",
    (s, dir) => tbl(s, dir, "events")
      .groupBy("event_type")
      .agg(
        approx_count_distinct(col("user_id"), rsd = 0.01).as("__hll"),
        countDistinct(col("user_id")).as("exact_users"),
        approx_percentile(col("value"), lit(0.5), lit(1000))
          .cast("double").as("__amed"),
        percentile(col("value"), lit(0.45)).as("__p45"),
        percentile(col("value"), lit(0.55)).as("__p55"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"), col("exact_users"),
        (abs(col("__hll") - col("exact_users")).cast("double") /
          col("exact_users") <= 0.02).as("users_ok"),
        (col("__amed") >= col("__p45") && col("__amed") <= col("__p55")).as("median_ok"))
      .orderBy("event_type"),
    Some("""SELECT event_type, COUNT(*) AS n,
      count(DISTINCT user_id) AS exact_users,
      TRUE AS users_ok, TRUE AS median_ok
      FROM events GROUP BY event_type ORDER BY event_type"""))

  // q77 — FULL OUTER join (completes the join family next to inner/semi/
  // anti/broadcast): BUILDING-segment customers vs per-customer counts of
  // high-value orders — both unmatched sides are non-empty by
  // construction, so all three branches (matched / left-only /
  // right-only) are exercised and pinned by key sums. One shuffle per
  // side on the join key; SortMergeJoinExec(FullOuter) at scale.
  private val q77 = Q(
    "q77_full_outer",
    (s, dir) => {
      val cust = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_acctbal"))
      val big = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 150000.0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_big"))
      cust.join(big, cust("c_custkey") === big("o_custkey"), "full_outer")
        .agg(
          sum(when(col("c_custkey").isNotNull && col("o_custkey").isNotNull, 1L)
            .otherwise(0L)).as("n_matched"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_left_only"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_right_only"),
          sum(coalesce(col("n_big"), lit(0L))).as("total_big_orders"),
          sum(coalesce(col("c_custkey"), col("o_custkey"))).as("key_sum"))
    },
    Some("""WITH cust AS (SELECT c_custkey, c_acctbal FROM customer
        WHERE c_mktsegment = 'BUILDING'),
      big AS (SELECT o_custkey, COUNT(*) AS n_big FROM orders
        WHERE o_totalprice > 150000.0 GROUP BY o_custkey)
      SELECT
        CAST(SUM(CASE WHEN c_custkey IS NOT NULL AND o_custkey IS NOT NULL
          THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
        CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_left_only,
        CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_right_only,
        CAST(SUM(COALESCE(n_big, 0)) AS BIGINT) AS total_big_orders,
        CAST(SUM(COALESCE(c_custkey, o_custkey)) AS BIGINT) AS key_sum
      FROM cust FULL OUTER JOIN big ON c_custkey = o_custkey"""))

  // q79 — bloom-pruned semi join (runtime row-level filtering made
  // explicit, operators/BloomJoin.scala): orders probed against a
  // filtered customer dimension. The bloom is invisible to the result —
  // the oracle is the PLAIN semi join, so correctness here proves the
  // "no false negatives + exact post-join" contract, while the plan (a
  // scalar-subquery bloom + map-side might_contain before the shuffle)
  // is pinned by PlanShapeSpec.
  private val q79 = Q(
    "q79_bloom_semi_join",
    (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val vip = tbl(s, dir, "customer")
        .filter(col("c_mktsegment") === "AUTOMOBILE" && col("c_acctbal") > 1000.0)
      graft.operators.BloomJoin
        .semiJoin(orders, vip, "o_custkey", "c_custkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("o_orderpriority")
    },
    Some("""SELECT o_orderpriority,
        COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
      FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM customer
        WHERE c_mktsegment = 'AUTOMOBILE' AND c_acctbal > 1000.0)
      GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // q80 — bucketized range join (operators/RangeJoin.scala): views in the
  // hour before each purchase, per user. Timestamps are pre-truncated to
  // seconds on BOTH sides so the parquet ns / Spark µs divergence cannot
  // flip a boundary comparison. Inner semantics: purchases with ≥1 prior
  // view. The oracle is the naive inequality join — same rows, but the
  // engine's plan is an equi-join on (user, time-bucket) with duplication
  // factor ≤ 2 instead of per-key n² candidates (PlanShapeSpec pins no
  // NestedLoop and a bucket-keyed SortMergeJoin).
  private val q80 = Q(
    "q80_range_join",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          date_trunc("second", col("ts")).as("p_ts"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id").as("v_user"),
          date_trunc("second", col("ts")).as("v_ts"),
          col("value").as("v_value"))
      graft.operators.RangeJoin
        .intervalJoin(purchases, views, "user_id", "v_user", "p_ts", "v_ts",
          lowerSec = -3600L, upperSec = 0L)
        .groupBy(col("event_id"))
        .agg(count(lit(1)).as("n_views"),
          Det.dsum(col("v_value"), 6).as("view_value"))
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id,
        COUNT(*) AS n_views,
        CAST(SUM(CAST(v.value AS DECIMAL(28,6))) AS DOUBLE) AS view_value
      FROM events p JOIN events v
        ON p.event_type = 'purchase' AND v.event_type = 'view'
        AND v.user_id = p.user_id
        AND date_trunc('second', v.ts)
          BETWEEN date_trunc('second', p.ts) - INTERVAL 1 HOUR
              AND date_trunc('second', p.ts)
      GROUP BY p.event_id ORDER BY p.event_id"""),
    headline = true)

  // q81 — SCD2 changelog apply (operators/Cdc.scala): the events table
  // read as a per-user state log (state = event_type), compacted to
  // validity intervals. Times are epoch SECONDS in both engines (Spark
  // cast timestamp→long ≡ DuckDB epoch_ns // 1e9 for post-1970 data) and
  // the within-key order is (sec, event_id) — a total order immune to the
  // ns-vs-µs parquet divergence. One shuffle on user_id, two window
  // passes over the same partitioning.
  private val q81 = Q(
    "q81_scd2_intervals",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").cast("long").as("sec"))
      graft.operators.Cdc.scd2(ev, "user_id", Seq("sec", "event_id"), "event_type")
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("sec").as("valid_from"), col("valid_to"), col("is_current"))
        .orderBy("user_id", "valid_from", "event_id")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, event_type,
          epoch_ns(ts) // 1000000000 AS sec FROM events),
      chg AS (SELECT *, LAG(event_type) OVER
          (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM ev),
      scd AS (SELECT user_id, event_id, event_type, sec AS valid_from,
          LEAD(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to
        FROM chg WHERE prev IS DISTINCT FROM event_type)
      SELECT user_id, event_id, event_type, valid_from, valid_to,
        valid_to IS NULL AS is_current
      FROM scd ORDER BY user_id, valid_from, event_id"""))

  // q84 — frequent pair mining (operators/Itemsets.scala): parts
  // co-ordered in the same order, apriori-pruned before the basket
  // self-join. Top-20 pairs with a full (support, a, b) tie-break so the
  // limit is deterministic.
  private val q84 = Q(
    "q84_frequent_pairs",
    (s, dir) => graft.operators.Itemsets.frequentPairs(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minItemSupport = 20L, minPairSupport = 2L)
      .orderBy(desc("pair_support"), asc("item_a"), asc("item_b"))
      .limit(20),
    Some("""WITH baskets AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
      freq AS (SELECT i FROM baskets GROUP BY i HAVING COUNT(*) >= 20),
      pruned AS (SELECT b, i FROM baskets JOIN freq USING (i)),
      pairs AS (SELECT x.i AS item_a, y.i AS item_b, COUNT(*) AS pair_support
        FROM pruned x JOIN pruned y ON x.b = y.b AND x.i < y.i
        GROUP BY x.i, y.i HAVING COUNT(*) >= 2)
      SELECT item_a, item_b, pair_support FROM pairs
      ORDER BY pair_support DESC, item_a ASC, item_b ASC LIMIT 20"""))

  // q185 — ASSOCIATION RULES over q84's frequent pairs: each surviving
  // (a, b) emits both directed rules with confidence = pair/s(ante) and
  // lift = pair·n_baskets/(s(a)·s(b)) from exact integer counts, rounded
  // at 6 dp. Item supports and the basket total are broadcast onto the
  // pair list — the market-basket completion (support → confidence →
  // lift) as one oracle row set, top-20 by lift with full tie-break.
  private val q185 = Q(
    "q185_assoc_rules",
    (s, dir) => graft.operators.Itemsets.associationRules(
        tbl(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        minItemSupport = 20L, minPairSupport = 2L)
      .orderBy(desc("lift"), desc("pair_support"),
        asc("antecedent"), asc("consequent"))
      .limit(20),
    Some(s"""WITH baskets AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        nb AS (SELECT COUNT(DISTINCT b) AS n FROM baskets),
        freq AS (SELECT i, COUNT(*) AS s FROM baskets GROUP BY i HAVING COUNT(*) >= 20),
        pruned AS (SELECT b, i FROM baskets JOIN freq USING (i)),
        pairs AS (SELECT x.i AS ia, y.i AS ib, COUNT(*) AS ps
          FROM pruned x JOIN pruned y ON x.b = y.b AND x.i < y.i
          GROUP BY x.i, y.i HAVING COUNT(*) >= 2),
        dirs AS (SELECT ia AS antecedent, ib AS consequent, ps FROM pairs
          UNION ALL SELECT ib, ia, ps FROM pairs),
        r AS (SELECT d.antecedent, d.consequent,
            CAST(d.ps AS BIGINT) AS pair_support,
            CAST(fa.s AS BIGINT) AS s_ante, CAST(fc.s AS BIGINT) AS s_cons,
            ${Det.roundAtSql("d.ps * 1.0 / fa.s", 6)} AS confidence,
            ${Det.roundAtSql("d.ps * 1.0 * (SELECT n FROM nb) / (fa.s * fc.s)", 6)} AS lift
          FROM dirs d
          JOIN freq fa ON fa.i = d.antecedent
          JOIN freq fc ON fc.i = d.consequent)
      SELECT * FROM r
      ORDER BY lift DESC, pair_support DESC, antecedent ASC, consequent ASC
      LIMIT 20"""))

  // q187 — CUPED variance reduction (Deng et al. 2013, the standard
  // experimentation adjustment): units = users, covariate x = pre-period
  // mean event value (ts < Jan 16), metric y = post-period mean; users
  // lacking either period drop. θ = cov(x,y)/var(x) and the variance
  // reduction ρ² come from decimal-exact global moments of the 6-dp
  // quantized per-user means; each arm (user_id % 2 — deterministic
  // hash-style assignment) reports its raw and CUPED-adjusted post mean.
  // Scale: one user-grain aggregate (the corpus shuffle), then a 2-row
  // arm aggregate with the scalar moment frame BROADCAST on — no second
  // pass over events, no collect.
  private val q187 = Q(
    "q187_cuped",
    (s, dir) => {
      val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
      val per = tbl(s, dir, "events")
        .filter(col("value").isNotNull)
        .groupBy("user_id").agg(
          Det.dsum(when(col("ts") < cutoff, col("value"))).as("psx"),
          count(when(col("ts") < cutoff, lit(1))).as("pnx"),
          Det.dsum(when(col("ts") >= cutoff, col("value"))).as("psy"),
          count(when(col("ts") >= cutoff, lit(1))).as("pny"))
        .filter(col("pnx") > 0 && col("pny") > 0)
        .select(col("user_id"), (col("user_id") % 2).as("arm"),
          Det.roundAt(col("psx") / col("pnx"), 6).as("x"),
          Det.roundAt(col("psy") / col("pny"), 6).as("y"))
      val g = per.agg(
        count(lit(1)).cast("double").as("n"),
        Det.dsum(col("x"), 6).as("gsx"),
        Det.dsum(col("y"), 6).as("gsy"),
        Det.dsum(col("x") * col("y"), 12).as("gsxy"),
        Det.dsum(col("x") * col("x"), 12).as("gsxx"),
        Det.dsum(col("y") * col("y"), 12).as("gsyy"))
      val covxy = col("n") * col("gsxy") - col("gsx") * col("gsy")
      val varx = col("n") * col("gsxx") - col("gsx") * col("gsx")
      val vary = col("n") * col("gsyy") - col("gsy") * col("gsy")
      val theta = covxy / varx
      val arms = per.groupBy("arm").agg(
        count(lit(1)).as("n_users"),
        Det.dsum(col("x"), 6).as("asx"),
        Det.dsum(col("y"), 6).as("asy"))
      arms.crossJoin(broadcast(g))
        .select(col("arm"), col("n_users"),
          Det.roundAt(col("asy") / col("n_users"), 4).as("mean_y"),
          Det.roundAt(col("asy") / col("n_users") -
            theta * (col("asx") / col("n_users") - col("gsx") / col("n")), 4)
            .as("mean_y_adj"),
          Det.roundAt(theta, 6).as("theta"),
          Det.roundAt(covxy * covxy / (varx * vary), 6).as("var_reduction"))
        .orderBy("arm")
    },
    Some({
      val n = "CAST(COUNT(*) AS DOUBLE)"
      def d(e: String, sc: Int) = s"CAST(SUM(CAST(($e) AS DECIMAL(28,$sc))) AS DOUBLE)"
      val (gsx, gsy) = (d("x", 6), d("y", 6))
      val (gsxy, gsxx, gsyy) = (d("x * y", 12), d("x * x", 12), d("y * y", 12))
      val covxy = s"($n * $gsxy - $gsx * $gsy)"
      val varx = s"($n * $gsxx - $gsx * $gsx)"
      val vary = s"($n * $gsyy - $gsy * $gsy)"
      val theta = s"($covxy / $varx)"
      s"""WITH per0 AS (SELECT user_id,
            ${d("CASE WHEN ts < TIMESTAMP '2024-01-16' THEN value END", 2)} AS psx,
            COUNT(CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 END) AS pnx,
            ${d("CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN value END", 2)} AS psy,
            COUNT(CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 END) AS pny
          FROM events WHERE value IS NOT NULL GROUP BY user_id),
        per AS (SELECT user_id, user_id % 2 AS arm,
            ${Det.roundAtSql("psx / pnx", 6)} AS x,
            ${Det.roundAtSql("psy / pny", 6)} AS y
          FROM per0 WHERE pnx > 0 AND pny > 0),
        g AS (SELECT $n AS n, $gsx AS gsx, $theta AS theta,
            ${Det.roundAtSql(theta, 6)} AS theta_r,
            ${Det.roundAtSql(s"$covxy * $covxy / ($varx * $vary)", 6)} AS vr
          FROM per),
        arms AS (SELECT arm, COUNT(*) AS n_users,
            ${d("x", 6)} AS asx, ${d("y", 6)} AS asy
          FROM per GROUP BY arm)
      SELECT arm, n_users,
        ${Det.roundAtSql("asy / n_users", 4)} AS mean_y,
        ${Det.roundAtSql("asy / n_users - g.theta * (asx / n_users - g.gsx / g.n)", 4)} AS mean_y_adj,
        g.theta_r AS theta, g.vr AS var_reduction
      FROM arms CROSS JOIN g ORDER BY arm"""
    }))

  // q86 — Z-order (Morton) curve values (Layout.zorder2): the layout key
  // behind multi-dimensional data skipping. Each 1024-wide Z-range is a
  // bounded rectangle of the (part, supp) plane — the per-bucket min/max
  // spans the oracle pins are exactly the parquet footer stats a reader
  // would prune on. Pure integer bit math, narrow until one small
  // aggregate.
  private val q86 = Q(
    "q86_zorder_curve",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .select(pmod(col("l_partkey"), lit(256)).cast("long").as("a"),
          pmod(col("l_suppkey"), lit(256)).cast("long").as("b"))
      li.withColumn("z", Layout.zorder2(col("a"), col("b")))
        .withColumn("zbucket", floor(col("z") / 1024L).cast("long"))
        .groupBy("zbucket")
        .agg(count(lit(1)).as("n"),
          min(col("a")).as("min_a"), max(col("a")).as("max_a"),
          min(col("b")).as("min_b"), max(col("b")).as("max_b"),
          sum(col("z")).as("z_sum"))
        .orderBy("zbucket")
    },
    Some {
      val interleave = (0 until 8).map(i =>
        s"(((a >> $i) & 1) << ${2 * i + 1}) | (((b >> $i) & 1) << ${2 * i})")
        .mkString(" | ")
      s"""WITH k AS (SELECT l_partkey % 256 AS a, l_suppkey % 256 AS b FROM lineitem),
        z AS (SELECT a, b, $interleave AS z FROM k)
      SELECT z // 1024 AS zbucket, COUNT(*) AS n,
        MIN(a) AS min_a, MAX(a) AS max_a, MIN(b) AS min_b, MAX(b) AS max_b,
        CAST(SUM(z) AS BIGINT) AS z_sum
      FROM z GROUP BY zbucket ORDER BY zbucket"""
    })

  // q87 — equi-depth histogram (Profile.equiDepthHist): 8 quantile
  // buckets of o_totalprice via broadcast cut points — never the global
  // ntile window that would single-partition the table. Bucket counts
  // differ from n/8 only at cut-point ties; the oracle recomputes the
  // same cuts with quantile_cont and the same strict-> comparison.
  private val q87 = Q(
    "q87_equidepth_hist",
    (s, dir) => Profile.equiDepthHist(tbl(s, dir, "orders"), "o_totalprice", 8),
    Some {
      val cuts = (1 to 7).map(i => s"quantile_cont(o_totalprice, ${i / 8.0}) AS c$i").mkString(", ")
      val bucket = (1 to 7).map(i => s"CASE WHEN o_totalprice > c$i THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH cuts AS (SELECT $cuts FROM orders),
        b AS (SELECT o_totalprice, CAST($bucket AS BIGINT) AS bucket FROM orders CROSS JOIN cuts)
      SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM b GROUP BY bucket ORDER BY bucket"""
    })

  // q89 — salted skew join (Skew.saltedJoin, the join companion of q59's
  // salted aggregation): orders × customer on (o_custkey, salt) with the
  // dimension replicated ×8. The salt is invisible to the result — the
  // oracle is the PLAIN join — so this row proves the each-row-meets-
  // exactly-one-replica contract.
  private val q89 = Q(
    "q89_salted_join",
    (s, dir) => {
      val dim = tbl(s, dir, "customer")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      Skew.saltedJoin(tbl(s, dir, "orders"), dim, "o_custkey",
          saltSrc = "o_orderkey", salts = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("total_price"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS total_price
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // q90 — order-independent table fingerprint (operators/Integrity.scala):
  // the post-copy equality check. Canonical columns only (keys, flags,
  // date, money as exact cents) — doubles quantize before hashing because
  // double→string is not engine-portable.
  private val q90 = Q(
    "q90_table_checksum",
    (s, dir) => graft.operators.Integrity.checksum(
      tbl(s, dir, "lineitem")
        .withColumn("price_cents",
          (col("l_extendedprice").cast(org.apache.spark.sql.types.DecimalType(18, 2)) * 100)
            .cast("long")),
      Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus", "l_shipdate", "price_cents")),
    Some {
      val cols = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_returnflag", "l_linestatus", "l_shipdate",
        "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
      graft.operators.Integrity.checksumSql("lineitem", cols)
    })

  // q91 — rank-window showcase (ntile / percent_rank / cume_dist):
  // per-event-type quartiles of value. The window partitions by
  // event_type — a parallel, scale-safe shape (q87 handles the global
  // case). Determinism: the order key is (value, event_id) — a total
  // order — and the per-tile aggregates are min/max/count/decimal-sum,
  // all order-independent.
  private val q91 = Q(
    "q91_rank_windows",
    (s, dir) => {
      val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
      tbl(s, dir, "events")
        .select(col("event_type"), col("event_id"), col("value"))
        .withColumn("tile", ntile(4).over(w).cast("long"))
        .withColumn("pr", percent_rank().over(w))
        .withColumn("cd", cume_dist().over(w))
        .groupBy("event_type", "tile")
        .agg(count(lit(1)).as("n"),
          Det.roundAt(min(col("pr")), 9).as("pr_lo"),
          Det.roundAt(max(col("cd")), 9).as("cd_hi"),
          Det.dsum(col("value"), 6).as("value_sum"))
        .orderBy("event_type", "tile")
    },
    Some(s"""WITH w AS (SELECT event_type, value,
        NTILE(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS tile,
        PERCENT_RANK() OVER (PARTITION BY event_type ORDER BY value, event_id) AS pr,
        CUME_DIST() OVER (PARTITION BY event_type ORDER BY value, event_id) AS cd
      FROM events)
      SELECT event_type, CAST(tile AS BIGINT) AS tile, COUNT(*) AS n,
        ${Det.roundAtSql("MIN(pr)", 9)} AS pr_lo,
        ${Det.roundAtSql("MAX(cd)", 9)} AS cd_hi,
        CAST(SUM(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS value_sum
      FROM w GROUP BY event_type, tile ORDER BY event_type, tile"""))

  // q92 — GROUPING SETS with grouping_id (finishes the multi-grain
  // family next to rollup q40 / cube q67): (flag,status), (flag), ()
  // in ONE pass — Catalyst expands to a single Expand + one aggregate,
  // not three scans.
  private val q92 = Q(
    "q92_grouping_sets",
    (s, dir) => tbl(s, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        Det.dsum(col("l_quantity")).as("qty"))
      .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus"),
        asc("gid"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("n"), col("qty")),
    Some("""SELECT l_returnflag, l_linestatus,
        CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
        COUNT(*) AS n,
        CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty
      FROM lineitem
      GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST, gid ASC"""))

  // q93 — two-level mergeable HLL sketches (hll_sketch_agg →
  // hll_union_agg): per-nation sketches of distinct customers union up
  // to regions WITHOUT re-scanning rows — the re-aggregation property
  // approx_count_distinct (q76) cannot give, and the architecture that
  // makes hierarchy drill-ups cheap at 100 TB (store nation-grain
  // sketches once, answer any region/world rollup from kilobytes).
  // Bounds oracle: estimates within 3% of the exact per-region counts at
  // lgConfigK = 14 (rsd ≈ 0.81%, so the band is ≈ 3.7σ — the default
  // lgK 12 with a 2% band was only ~1.2σ and flipped a row at sf0.1).
  private val q93 = Q(
    "q93_hll_merge",
    (s, dir) => {
      val perNation = tbl(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(expr("hll_sketch_agg(c_custkey, 14)").as("sk"))
      val nation = tbl(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"))
      val exact = tbl(s, dir, "customer")
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey").as("rk"))
        .agg(countDistinct(col("c_custkey")).as("exact_customers"))
      perNation
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_regionkey"))
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("__est"))
        .join(exact, col("n_regionkey") === col("rk"))
        .select(col("n_regionkey"), col("exact_customers"),
          (abs(col("__est") - col("exact_customers")).cast("double") /
            col("exact_customers") <= 0.03).as("est_ok"))
        .orderBy("n_regionkey")
    },
    Some("""SELECT n_regionkey, COUNT(DISTINCT c_custkey) AS exact_customers,
        TRUE AS est_ok
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_regionkey ORDER BY n_regionkey"""))

  // q94 — MAD (median absolute deviation) outliers per group: the robust
  // companion to q09's IQR fences and q58's z-scores — immune to the
  // outliers it hunts. Two grouped exact-median passes (parity proven by
  // q07/q69) with the group medians broadcast between them; flags
  // |x − med| > 3·MAD. At the documented exact-percentile scale bound
  // the approx_percentile sketch substitutes, as everywhere.
  private val q94 = Q(
    "q94_mad_outliers",
    (s, dir) => {
      val ev = tbl(s, dir, "events").select(col("event_type"), col("value"))
      val med = ev.groupBy("event_type")
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy("event_type")
        .agg(percentile(col("adev"), lit(0.5)).as("mad"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Det.roundAt(min(col("med")), 6).as("med_r"),
          Det.roundAt(min(col("mad")), 6).as("mad_r"),
          sum(when(col("adev") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    },
    Some(s"""WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
          FROM events GROUP BY event_type),
        dev AS (SELECT e.event_type, value, med, abs(value - med) AS adev
          FROM events e JOIN med USING (event_type)),
        mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
          FROM dev GROUP BY event_type)
      SELECT d.event_type, COUNT(*) AS n,
        ${Det.roundAtSql("MIN(med)", 6)} AS med_r,
        ${Det.roundAtSql("MIN(mad)", 6)} AS mad_r,
        CAST(SUM(CASE WHEN adev > 3.0 * mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM dev d JOIN mad USING (event_type)
      GROUP BY d.event_type ORDER BY d.event_type"""))

  // q97 — ordered-stage funnel (operators/Funnel.counts): signup → view
  // → click → purchase with min-chain semantics (stage i's time = min
  // event second of its type at-or-after stage i-1's), so same-second
  // ties need no intra-second order and both engines agree bit-for-bit.
  // One shuffle on user_id; the chained minima are stacked whole-
  // partition windows over that single exchange.
  private val q97 = Q(
    "q97_funnel",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          col("ts").cast("long").as("sec"))
      graft.operators.Funnel.counts(ev, "user_id", "sec", "event_type",
        Seq("signup", "view", "click", "purchase"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
          epoch_ns(ts) // 1000000000 AS sec FROM events),
      s1 AS (SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN sec END) AS t1
        FROM e GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(sec) AS t2 FROM e JOIN s1 USING (user_id)
        WHERE event_type = 'view' AND sec >= t1 GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(sec) AS t3 FROM e JOIN s2 USING (user_id)
        WHERE event_type = 'click' AND sec >= t2 GROUP BY e.user_id),
      s4 AS (SELECT e.user_id, MIN(sec) AS t4 FROM e JOIN s3 USING (user_id)
        WHERE event_type = 'purchase' AND sec >= t3 GROUP BY e.user_id)
      SELECT COUNT(*) AS n_entities, COUNT(t1) AS n_signup,
        COUNT(t2) AS n_view, COUNT(t3) AS n_click, COUNT(t4) AS n_purchase
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        LEFT JOIN s4 USING (user_id)"""),
    headline = true)

  // q98 — cohort retention (operators/Funnel.cohortRetention): users
  // bucketed by first-active ISO week, counted in every week they were
  // active. Distinct (user, week) first, so the corpus-wide shuffle is
  // entity-week grain — never per event.
  private val q98 = Q(
    "q98_cohort_retention",
    // cohort week formatted to a yyyy-MM-dd string AFTER the aggregate
    // (library surface keeps the date type; parquet DATE vs DuckDB's
    // datetime64 hash differently in the driver compare)
    (s, dir) => graft.operators.Funnel.cohortRetention(
        tbl(s, dir, "events"), "user_id", "ts")
      .withColumn("cohort_week", date_format(col("cohort_week"), "yyyy-MM-dd")),
    Some("""WITH uw AS (SELECT DISTINCT user_id,
          CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
      c AS (SELECT user_id, week,
          MIN(week) OVER (PARTITION BY user_id) AS cw FROM uw)
      SELECT strftime(cw, '%Y-%m-%d') AS cohort_week,
        date_diff('day', cw, week) // 7 AS week_offset,
        COUNT(*) AS n_entities
      FROM c GROUP BY cohort_week, week_offset
      ORDER BY cohort_week, week_offset"""))

  // q100 — fuzzy self-join via deletion neighborhoods (operators/Fuzzy):
  // customer names matched at levenshtein ≤ 1 through an equi-join on
  // {s} ∪ single-character-deletions (FastSS) — exact result, no O(n²)
  // scan, no prefix mega-blocks — summarized as per-customer match
  // counts over both pair directions.
  private val q100 = Q(
    "q100_fuzzy_join",
    (s, dir) => {
      graft.operators.Fuzzy.editJoinPairs(
          tbl(s, dir, "customer"), "c_custkey", "c_name", maxDist = 1)
        // one explode instead of a self-union: the pair join subtree is
        // evaluated once, not once per direction
        .select(explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("n_matches"))
        .orderBy("id")
    },
    Some("""WITH c AS (SELECT c_custkey AS id, c_name AS s FROM customer),
      keys AS (SELECT id, s, unnest(list_distinct(list_append(
          list_transform(range(1, length(s) + 1),
            i -> substr(s, 1, i - 1) || substr(s, i + 1, length(s))), s))) AS k
        FROM c),
      cand AS (SELECT DISTINCT a.id AS id_a, a.s AS s_a, b.id AS id_b, b.s AS s_b
        FROM keys a JOIN keys b ON a.k = b.k AND a.id < b.id),
      pairs AS (SELECT id_a, id_b FROM cand WHERE levenshtein(s_a, s_b) <= 1),
      sides AS (SELECT id_a AS id FROM pairs UNION ALL SELECT id_b FROM pairs)
      SELECT id, COUNT(*) AS n_matches FROM sides GROUP BY id ORDER BY id"""))

  // q101 — event-type transition matrix (operators/Funnel.transitions):
  // the Markov-chain view of user paths. Lag over (sec, event_id) — a
  // total order immune to the ns-vs-µs parquet divergence — then a tiny
  // (from, to) aggregate; transition probabilities normalize inside each
  // from_type partition of the 25-row result.
  private val q101 = Q(
    "q101_transitions",
    (s, dir) => {
      val ev = tbl(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), col("ts").cast("long").as("sec"))
      graft.operators.Funnel
        .transitions(ev, "user_id", "sec", "event_id", "event_type")
        .withColumn("p", Det.roundAt(
          col("n") / sum("n").over(Window.partitionBy("from_type")), 6))
        .orderBy("from_type", "to_type")
    },
    Some(s"""WITH e AS (SELECT user_id, event_id, event_type,
          epoch_ns(ts) // 1000000000 AS sec FROM events),
      lagd AS (SELECT event_type AS to_type,
          LAG(event_type) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS from_type
        FROM e),
      t AS (SELECT from_type, to_type, COUNT(*) AS n FROM lagd
        WHERE from_type IS NOT NULL GROUP BY from_type, to_type)
      SELECT from_type, to_type, n,
        ${Det.roundAtSql("n * 1.0 / SUM(n) OVER (PARTITION BY from_type)", 6)} AS p
      FROM t ORDER BY from_type, to_type"""))

  // q103 — snapshot reconciliation (operators/Integrity.diff): orders vs
  // a deterministically perturbed "next day" snapshot (keys % 97 removed,
  // custkey bumped on % 101, % 103 re-keyed as adds). Both engines derive
  // the same two snapshots, hash rows to slim (key, hash) relations, and
  // classify every key through one full outer join — money enters the
  // hash as exact cents (raw doubles are not string-portable).
  private val q103 = Q(
    "q103_snapshot_diff",
    (s, dir) => {
      val base = tbl(s, dir, "orders").select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("cents"))
      val next = base.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
        .withColumn("o_custkey",
          when(pmod(col("o_orderkey"), lit(101)) === 0, col("o_custkey") + 1)
            .otherwise(col("o_custkey")))
        .unionByName(base.filter(pmod(col("o_orderkey"), lit(103)) === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      graft.operators.Integrity
        .diff(base, next, Seq("o_orderkey"),
          Seq("o_custkey", "o_orderstatus", "o_orderdate", "cents"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_keys"), sum("o_orderkey").as("key_sum"))
        .orderBy("status")
    },
    Some {
      def h(rel: String) = {
        val row = Seq("o_custkey", "o_orderstatus", "o_orderdate", "cents")
          .map(c => s"coalesce(CAST($c AS VARCHAR), chr(0))")
          .mkString("concat_ws(chr(1), ", ", ", ")")
        s"SELECT o_orderkey AS k, ${graft.functions.TextFns.portableHashSql(row)} AS h FROM $rel"
      }
      s"""WITH base AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM orders),
      nxt AS (
        SELECT o_orderkey,
          CASE WHEN o_orderkey % 101 = 0 THEN o_custkey + 1 ELSE o_custkey END AS o_custkey,
          o_orderstatus, o_orderdate, cents FROM base WHERE o_orderkey % 97 <> 0
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, o_orderstatus, o_orderdate, cents
        FROM base WHERE o_orderkey % 103 = 0),
      hl AS (${h("base")}), hr AS (${h("nxt")}),
      d AS (SELECT COALESCE(hl.k, hr.k) AS k,
          CASE WHEN hr.h IS NULL THEN 'removed' WHEN hl.h IS NULL THEN 'added'
               WHEN hl.h = hr.h THEN 'unchanged' ELSE 'changed' END AS status
        FROM hl FULL OUTER JOIN hr ON hl.k = hr.k)
      SELECT status, COUNT(*) AS n_keys, CAST(SUM(k) AS BIGINT) AS key_sum
      FROM d GROUP BY status ORDER BY status"""
    })

  // q102 — value-range moving window: per-user trailing-10-minute mean
  // via a RANGE frame over epoch seconds (ties at the same second enter
  // the frame together — order-independent, unlike a ROWS frame). The
  // frame sum is an exact decimal so accumulation order can't perturb
  // the double. One shuffle on user_id.
  private val q102 = Q(
    "q102_moving_window",
    (s, dir) => {
      val ev = tbl(s, dir, "events").select(col("event_id"), col("user_id"),
        col("value"), col("ts").cast("long").as("sec"))
      val w = Window.partitionBy("user_id").orderBy("sec").rangeBetween(-600, 0)
      ev.withColumn("avg_10min", Det.roundAt(
          sum(col("value").cast("decimal(28,2)")).over(w).cast("double") /
            count(lit(1)).over(w), 4))
        .select("event_id", "user_id", "sec", "avg_10min")
        .orderBy("event_id")
    },
    Some(s"""WITH e AS (SELECT event_id, user_id, value,
          epoch_ns(ts) // 1000000000 AS sec FROM events)
      SELECT event_id, user_id, sec,
        ${Det.roundAtSql(
          """CAST(SUM(CAST(value AS DECIMAL(28,2))) OVER
               (PARTITION BY user_id ORDER BY sec
                RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER
               (PARTITION BY user_id ORDER BY sec
                RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)""", 4)} AS avg_10min
      FROM e ORDER BY event_id"""))

  // q106 — key-skew diagnostic (operators/Skew.keyHistogram): per-key row
  // counts bucketed by ⌊log₂⌋+1 via length(bin(cnt)) — integer-exact in
  // both engines, no libm. The measurement that justifies (or rules out)
  // the q59/q89 salting paths: a top bucket with few keys and a large
  // row share = salt those keys. One shuffle on the key, then a ~64-row
  // bucket aggregate with a broadcast scalar total.
  private val q106 = Q(
    "q106_key_skew",
    (s, dir) => Skew.keyHistogram(tbl(s, dir, "lineitem"), "l_partkey"),
    Some(s"""WITH pk AS (SELECT l_partkey, COUNT(*) AS cnt
          FROM lineitem GROUP BY l_partkey),
        b AS (SELECT CAST(length(bin(cnt)) AS BIGINT) AS bucket,
            COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
            MAX(cnt) AS max_key_rows
          FROM pk GROUP BY bucket),
        t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM b)
      SELECT bucket, n_keys, n_rows, max_key_rows,
        ${Det.roundAtSql("n_rows * 1.0 / total", 6)} AS row_share
      FROM b, t ORDER BY bucket"""))

  // q109 — Hive-partitioned layout round trip (Layout.writePartitioned):
  // documents re-land as lang=<v>/ directories, the read-back filters one
  // partition — pruned at PLANNING time against the listing (LayoutSpec
  // proves the selected file set) — and aggregates per source. The oracle
  // runs the same filter+agg on the original table, so a match proves the
  // layout is value-preserving and the partition column re-attaches with
  // its original values.
  private val q109 = Q(
    "q109_partitioned_scan",
    (s, dir) => {
      val path = s"${System.getProperty("java.io.tmpdir")}/g109_docs_part"
      Layout.writePartitioned(tbl(s, dir, "documents"), "lang", path)
      s.read.parquet(path).filter(col("lang") === "en")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          sum("doc_id").as("id_sum"))
        .orderBy("source")
    },
    Some("""SELECT source, COUNT(*) AS n_docs,
      CAST(SUM(n_chars) AS BIGINT) AS chars, CAST(SUM(doc_id) AS BIGINT) AS id_sum
      FROM documents WHERE lang = 'en' GROUP BY source ORDER BY source"""))

  // q111 — incremental aggregate maintenance (operators/Incremental): the
  // per-priority order count+revenue snapshot is built from orders BEFORE
  // 1997, then kept current by merging ONLY the 1997+ delta — no base
  // rescan. Exact decimal sums make the incremental result bit-identical
  // to the oracle's FULL recompute, which is the whole IVM claim: at
  // 100 TB the refresh touches |delta| + |snapshot|, not the base table.
  private val q111 = Q(
    "q111_incremental_agg",
    (s, dir) => {
      val orders = tbl(s, dir, "orders")
      val cutoff = "1997-01-01"
      val prior = Incremental.snapshotCountSum(
        orders.filter(col("o_orderdate") < cutoff), "o_orderpriority", "o_totalprice")
      val merged = Incremental.mergeCountSum(prior,
        orders.filter(col("o_orderdate") >= cutoff), "o_orderpriority", "o_totalprice")
      Incremental.render(merged, "o_orderpriority").orderBy("o_orderpriority")
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS cnt,
      ${Det.roundAtSql("CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE)", 6)} AS total
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // q115 — typed JSON extraction (`from_json` with an explicit schema —
  // the semi-structured column path every event pipeline needs): parse
  // events.props, group by k mod 10, decimal-exact value sums. The parse
  // is a per-row codegen'd projection; the aggregate is one shuffle on a
  // 10-key relation. At 100 TB the schema-on-read parse prunes to the
  // single extracted field — no generic JSON object ever materializes
  // per row beyond the parser's scratch.
  private val q115 = Q(
    "q115_json_extract",
    (s, dir) => tbl(s, dir, "events")
      .select(
        from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
          .getField("k").as("k"),
        col("value"))
      .groupBy((col("k") % 10).as("k_mod"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col("value")).as("total"))
      .orderBy("k_mod"),
    Some("""SELECT CAST(props->>'$.k' AS BIGINT) % 10 AS k_mod,
        COUNT(*) AS cnt, CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total
      FROM events GROUP BY 1 ORDER BY k_mod"""))

  // q116 — windowed keep-first dedup (log/telemetry dedup: one event per
  // (user, type) per minute survives): row_number over the composite key
  // ordered by (ts, event_id), keep rank 1. ONE shuffle on the dedup key;
  // the per-type rollup reuses nothing wider than (event_type, flag).
  // This is the batch twin of the streaming dropDuplicates-with-watermark
  // shape — the window bound is what lets state expire at scale.
  private val q116 = Q(
    "q116_window_dedup",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"), date_trunc("minute", col("ts")))
        .orderBy(col("ts"), col("event_id"))
      tbl(s, dir, "events")
        .withColumn("rn", row_number().over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"))
        .withColumn("n_dropped", col("n_total") - col("n_kept"))
        .select("event_type", "n_total", "n_kept", "n_dropped")
        .orderBy("event_type")
    },
    Some("""WITH r AS (SELECT event_type,
          ROW_NUMBER() OVER (PARTITION BY user_id, event_type, date_trunc('minute', ts)
                             ORDER BY ts, event_id) AS rn
        FROM events)
      SELECT event_type, COUNT(*) AS n_total,
        CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
      FROM r GROUP BY event_type ORDER BY event_type"""))

  // q120 — declarative data-quality constraints (the dbt-test / Deequ
  // surface a lakehouse runs on every load): PK uniqueness, FK orphan
  // counts, not-null — each an independent key-grain aggregate (PK one
  // shuffle; FK a left-anti join against the parent's DISTINCT key
  // relation, so the join carries key longs only). The report is exact
  // counts, so a single orphan row flips `ok` and fails the hash gate.
  private val q120 = Q(
    "q120_data_quality",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val ord = tbl(s, dir, "orders")
      val cust = tbl(s, dir, "customer")
      graft.operators.Integrity.constraintReport(Seq(
        "fk_lineitem_orders" -> graft.operators.Integrity
          .fkViolations(li, "l_orderkey", ord, "o_orderkey"),
        "fk_orders_customer" -> graft.operators.Integrity
          .fkViolations(ord, "o_custkey", cust, "c_custkey"),
        "not_null_l_quantity" -> graft.operators.Integrity
          .nullViolations(li, "l_quantity"),
        "pk_lineitem" -> graft.operators.Integrity
          .pkViolations(li, Seq("l_orderkey", "l_linenumber")),
        "pk_orders" -> graft.operators.Integrity
          .pkViolations(ord, Seq("o_orderkey"))))
    },
    Some("""WITH checks AS (
        SELECT 'fk_lineitem_orders' AS constraint, (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
          AS n_violations
        UNION ALL SELECT 'fk_orders_customer', (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        UNION ALL SELECT 'not_null_l_quantity',
          (SELECT COUNT(*) FROM lineitem WHERE l_quantity IS NULL)
        UNION ALL SELECT 'pk_lineitem', (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
            (SELECT COUNT(*) AS n FROM lineitem GROUP BY l_orderkey, l_linenumber))
        UNION ALL SELECT 'pk_orders', (SELECT CAST(COALESCE(SUM(n - 1), 0) AS BIGINT) FROM
            (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey)))
      SELECT "constraint", CAST(n_violations AS BIGINT) AS n_violations,
        n_violations = 0 AS ok
      FROM checks ORDER BY "constraint""""))

  // q124 — FORWARD as-of join (q70's mirror: for each error, the NEXT
  // purchase at-or-after it per user — "did the user recover?"). Same
  // single-shuffle union+window encoding traversed in descending time;
  // the oracle is DuckDB's native ASOF with the <= inequality.
  private val q124 = Q(
    "q124_asof_forward",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
      val errors = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts")
        .agg(max(col("event_id")).as("pid"), max(col("value")).as("pval"))
      graft.operators.AsOf.forward(errors, purchases,
          "user_id", "user_id", "ts", "ts", Seq("ts", "pid", "pval"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          coalesce(date_format(col("asof.ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("none")).as("purchase_ts"),
          coalesce(col("asof.pid"), lit(-1L)).as("purchase_id"),
          coalesce(col("asof.pval"), lit(0.0)).as("purchase_value"))
        .orderBy("event_id")
    },
    Some("""WITH p AS (SELECT user_id, ts, max(event_id) AS pid, max(value) AS pval
        FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
      e AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error')
      SELECT e.event_id, e.user_id,
        strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
        COALESCE(strftime(p.ts, '%Y-%m-%d %H:%M:%S'), 'none') AS purchase_ts,
        COALESCE(p.pid, -1) AS purchase_id,
        COALESCE(p.pval, 0.0) AS purchase_value
      FROM e ASOF LEFT JOIN p ON e.user_id = p.user_id AND e.ts <= p.ts
      ORDER BY e.event_id"""))

  // q125 — time-series resample + forward fill (pandas
  // `resample('1h').ffill()`): snap each user's events to an hourly
  // grid, keep the last observation per hour, densify the grid per
  // user, forward-fill the gaps. Per-user rollup pins the grid size,
  // the gap count, and the decimal-exact sum of every filled value —
  // one wrong fill anywhere flips the sum. Grid rows scale with
  // keys × span/grain, not with raw event volume.
  private val q125 = Q(
    "q125_resample_ffill",
    (s, dir) => graft.operators.Resample
      .ffillGrid(tbl(s, dir, "events"), "user_id", "ts", "value", "hour")
      .groupBy(col("k").as("user_id"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("is_gap").cast("long")).as("n_gaps"),
        Det.dsum(col("filled")).as("filled_sum"))
      .orderBy("user_id"),
    Some("""WITH hb AS (SELECT user_id, date_trunc('hour', ts) AS bucket, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                             ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      hv AS (SELECT user_id, bucket, value FROM hb WHERE rn = 1),
      b AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        FROM hv GROUP BY user_id),
      grid AS (SELECT user_id, g.g AS bucket
        FROM b, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS g(g)),
      j AS (SELECT grid.user_id, grid.bucket, hv.value
        FROM grid LEFT JOIN hv USING (user_id, bucket)),
      f AS (SELECT user_id, value,
          last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
        FROM j)
      SELECT user_id, COUNT(*) AS n_hours,
        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        CAST(SUM(CAST(filled AS DECIMAL(28,2))) AS DOUBLE) AS filled_sum
      FROM f GROUP BY user_id ORDER BY user_id"""),
    headline = true)

  // q126 — time-series resample + LINEAR INTERPOLATION (pandas
  // `resample('1h').interpolate('linear')`): same dense grid as q125,
  // but gaps are filled by the line through the neighboring
  // observations. Grid endpoints are always observed, so no
  // extrapolation case exists. The fill is two running windows
  // (last/first non-null) over the one (key, time) sort — no
  // self-join. Fill values are IEEE-deterministic (`v0 + (v1-v0) *
  // ((t-t0)/(t1-t0))` — +,-,*,/ are exactly rounded, so identical in
  // any engine); the rollup pins the decimal-exact sum of every
  // portable-rounded fill.
  private val q126 = Q(
    "q126_resample_interp",
    (s, dir) => graft.operators.Resample
      .interpGrid(tbl(s, dir, "events"), "user_id", "ts", "value", "hour")
      .groupBy(col("k").as("user_id"))
      .agg(count(lit(1)).as("n_hours"),
        sum(col("is_gap").cast("long")).as("n_gaps"),
        Det.dsum(Det.roundAt(col("filled"), 6), 6).as("interp_sum"))
      .orderBy("user_id"),
    Some(s"""WITH hb AS (SELECT user_id, date_trunc('hour', ts) AS bucket, value,
          ROW_NUMBER() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                             ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
      hv AS (SELECT user_id, bucket, value FROM hb WHERE rn = 1),
      b AS (SELECT user_id, MIN(bucket) AS b0, MAX(bucket) AS b1
        FROM hv GROUP BY user_id),
      grid AS (SELECT user_id, g.g AS bucket
        FROM b, unnest(generate_series(b0, b1, INTERVAL 1 HOUR)) AS g(g)),
      j AS (SELECT grid.user_id, grid.bucket, hv.value
        FROM grid LEFT JOIN hv USING (user_id, bucket)),
      f AS (SELECT user_id, bucket, value,
          last_value(value IGNORE NULLS) OVER wp AS v0,
          last_value(CASE WHEN value IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS t0,
          first_value(value IGNORE NULLS) OVER wn AS v1,
          first_value(CASE WHEN value IS NOT NULL THEN bucket END IGNORE NULLS) OVER wn AS t1
        FROM j
        WINDOW wp AS (PARTITION BY user_id ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          wn AS (PARTITION BY user_id ORDER BY bucket
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
      g AS (SELECT user_id, value,
          CASE WHEN value IS NOT NULL THEN value
            ELSE v0 + (v1 - v0) *
              ((CAST(epoch(bucket) AS DOUBLE) - CAST(epoch(t0) AS DOUBLE))
               / (CAST(epoch(t1) AS DOUBLE) - CAST(epoch(t0) AS DOUBLE))) END AS filled
        FROM f)
      SELECT user_id, COUNT(*) AS n_hours,
        CAST(SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps,
        CAST(SUM(CAST(${Det.roundAtSql("filled", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS interp_sum
      FROM g GROUP BY user_id ORDER BY user_id"""))

  // q127 — per-key ROLLING MEDIAN (robust local trend, the outlier-proof
  // twin of a moving average): exact median over a trailing 7-row frame
  // per user, ordered by (ts, event_id) — a total order, so the frame
  // contents are deterministic. Spark evaluates the exact `percentile`
  // aggregate over the frame (sorts ≤7 values per row); the per-user
  // window shuffles once on user_id — no global sort, no single
  // partition. The rollup pins the decimal-exact sum of every
  // portable-rounded median per event_type.
  private val q127 = Q(
    "q127_rolling_median",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
      tbl(s, dir, "events")
        .withColumn("med", expr("percentile(value, 0.5)").over(w))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          Det.dsum(Det.roundAt(col("med"), 6), 6).as("med_sum"))
        .orderBy("event_type")
    },
    Some(s"""WITH m AS (SELECT event_type,
          median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med
        FROM events)
      SELECT event_type, COUNT(*) AS n,
        CAST(SUM(CAST(${Det.roundAtSql("med", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS med_sum
      FROM m GROUP BY event_type ORDER BY event_type"""))

  // q128 — 2-D SKYLINE (Pareto frontier): orders not dominated on
  // (totalprice, orderdate) — "no other order is both at least as
  // expensive and at least as recent, and strictly better on one".
  // Two-phase distributed shape: a LOCAL skyline per hash bucket
  // (partitioned windows — dominance within a bucket implies global
  // dominance, so local pruning is a sound filter that drops ~all
  // rows), then the global pass runs over the tiny survivor set. The
  // dominance test itself is windowed, not a self-join: sort by price
  // (exact integer cents), take max(date) over strictly-greater prices
  // via a range frame, and break price ties by keeping only the
  // latest-date row(s) of each tie group.
  private val q128 = Q(
    "q128_skyline",
    (s, dir) => {
      val o = tbl(s, dir, "orders").select(
        col("o_orderkey"), col("o_totalprice"), col("o_orderdate"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long").as("pc"))
      def skyline(df: org.apache.spark.sql.DataFrame, part: Seq[String]) = {
        // ROUND 15: the original ascending SHRINKING frame
        // (range 1 → unboundedFollowing) made WindowExec re-aggregate
        // the whole remaining frame PER ROW — O(n²) per partition,
        // 12 s of CPU in the global pass at sf0.1. The same set
        // {rows with pc' > pc} spelled as a DESCENDING GROWING frame
        // (unboundedPreceding → 1 preceding over pc desc; pc is integer
        // cents so "≥ pc+1" ⟺ "> pc") aggregates incrementally — O(n)
        // after the sort. Same max, same rows (SkylineFrameSpec pins
        // the frame equivalence; the oracle SQL is unchanged).
        val wGt = Window.partitionBy(part.map(col): _*).orderBy(col("pc").desc)
          .rangeBetween(Window.unboundedPreceding, -1L)
        val wTie = Window.partitionBy((part :+ "pc").map(col): _*)
        df.withColumn("__m1", max(col("o_orderdate")).over(wGt))
          .withColumn("__mt", max(col("o_orderdate")).over(wTie))
          .filter((col("__m1").isNull || col("o_orderdate") > col("__m1")) &&
            col("o_orderdate") === col("__mt"))
          .drop("__m1", "__mt")
      }
      val local = skyline(o.withColumn("__b", pmod(col("o_orderkey"), lit(32))), Seq("__b"))
      skyline(local.drop("__b"), Seq.empty)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate,
          CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS pc
        FROM orders),
      s AS (SELECT *,
          MAX(o_orderdate) OVER (ORDER BY pc
            RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS m1,
          MAX(o_orderdate) OVER (PARTITION BY pc) AS mt
        FROM o)
      SELECT o_orderkey, o_totalprice, o_orderdate FROM s
      WHERE (m1 IS NULL OR o_orderdate > m1) AND o_orderdate = mt
      ORDER BY o_totalprice DESC, o_orderkey"""))

  // q129 — per-group OLS TREND (regression of value on time): slope and
  // intercept per event_type from exact decimal moment sums
  // (n, Σx, Σy, Σxy, Σx²) with x = integer hours since epoch — one
  // map-side-combinable aggregate pass, then the closed-form solution
  // evaluated in fixed-order double arithmetic (the q10 dcorr pattern:
  // exact sums → IEEE-deterministic derived stats).
  private val q129 = Q(
    "q129_ols_trend",
    (s, dir) => {
      val x = floor(unix_timestamp(col("ts")) / 3600L).cast("long")
      val e = tbl(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), x.as("x"), col("value").as("y"))
      val agg = e.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        sum(col("x").cast("decimal(38,0)")).cast("double").as("sx"),
        Det.dsum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(38,2)")).cast("double").as("sxy"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).cast("double").as("sxx"))
      val slope = (col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx"))
      agg.select(col("event_type"), col("n").cast("long").as("n"),
          Det.roundAt(slope, 6).as("slope"),
          Det.roundAt((col("sy") - slope * col("sx")) / col("n"), 4).as("intercept"))
        .orderBy("event_type")
    },
    Some({
      val n = "CAST(COUNT(*) AS DOUBLE)"
      val sx = "CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE)"
      val sy = "CAST(SUM(CAST(y AS DECIMAL(28,2))) AS DOUBLE)"
      val sxy = "CAST(SUM(CAST(x * y AS DECIMAL(38,2))) AS DOUBLE)"
      val sxx = "CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE)"
      val slope = s"(($n * $sxy - $sx * $sy) / ($n * $sxx - $sx * $sx))"
      s"""WITH e AS (SELECT event_type,
            CAST(floor(CAST(epoch(ts) AS DOUBLE) / 3600) AS BIGINT) AS x,
            value AS y
          FROM events WHERE value IS NOT NULL)
        SELECT event_type, COUNT(*) AS n,
          ${Det.roundAtSql(slope, 6)} AS slope,
          ${Det.roundAtSql(s"($sy - $slope * $sx) / $n", 4)} AS intercept
        FROM e GROUP BY event_type ORDER BY event_type"""
    }))

  // q132 — per-key EWMA (pandas `ewm(alpha=0.5, adjust=False).mean()`):
  // a linear recurrence, so neither a window aggregate (the closed form
  // Σ(1−α)^(t−j)xⱼ overflows on long histories) nor a join — the Spark
  // side is ONE repartition-by-key + in-partition sort + O(n)
  // mapPartitions scan carrying scalar state per in-flight key (the
  // canonical distributed-recurrence shape; see Resample.ewma). The
  // oracle replays the identical recurrence via a recursive CTE; with
  // the fixed evaluation order α·x + (1−α)·ew every step is
  // exactly-rounded IEEE arithmetic → bit-identical trajectories, pinned
  // per user by the decimal-exact sum of portable-rounded EWMA values.
  private val q132 = Q(
    "q132_ewma",
    (s, dir) => graft.operators.Resample
      .ewma(tbl(s, dir, "events"), "user_id", "ts", "value", alpha = 0.5)
      .groupBy(col("k").as("user_id"))
      .agg(count(lit(1)).as("n"),
        Det.dsum(Det.roundAt(col("ew"), 6), 6).as("ew_sum"))
      .orderBy("user_id"),
    Some(s"""WITH RECURSIVE e AS (SELECT user_id, value AS x,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        FROM events),
      r AS (
        SELECT user_id, rn, x AS ew FROM e WHERE rn = 1
        UNION ALL
        SELECT e.user_id, e.rn, 0.5 * e.x + 0.5 * r.ew
        FROM e JOIN r ON e.user_id = r.user_id AND e.rn = r.rn + 1)
      SELECT user_id, COUNT(*) AS n,
        CAST(SUM(CAST(${Det.roundAtSql("ew", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS ew_sum
      FROM r GROUP BY user_id ORDER BY user_id"""))

  // q134 — INTERVAL UNION (gaps-and-islands over time spans): treat each
  // event as a [ts, ts+30min) activity span per user, merge overlaps,
  // and report the islands. The merge is windowed, never a self-join:
  // "new island when my start clears the running max of all previous
  // ends" (running max handles contained intervals, which a lag-on-end
  // check would miss), island id = running count of breaks — two
  // windows over ONE per-user sort. All timestamp/integer arithmetic,
  // bit-exact. The island relation is the coverage/dedup primitive for
  // span-grain data (session stitching, claimed-time accounting).
  private val q134 = Q(
    "q134_interval_union",
    (s, dir) => {
      val spans = tbl(s, dir, "events").select(col("user_id"),
        col("ts").as("st"),
        (col("ts") + expr("INTERVAL 30 MINUTES")).as("en"))
      val wOrd = Window.partitionBy("user_id").orderBy("st", "en")
      val prevMax = max(col("en")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1))
      val brk = when(prevMax.isNull || col("st") > prevMax, 1L).otherwise(0L)
      val islands = spans
        .withColumn("island", sum(brk).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min(col("st")).as("i_st"), max(col("en")).as("i_en"))
      islands.groupBy("user_id")
        .agg(count(lit(1)).as("n_islands"),
          sum(unix_timestamp(col("i_en")) - unix_timestamp(col("i_st"))).as("covered_s"),
          max(unix_timestamp(col("i_en")) - unix_timestamp(col("i_st"))).as("longest_s"))
        .orderBy("user_id")
    },
    Some("""WITH spans AS (SELECT user_id, ts AS st,
          ts + INTERVAL 30 MINUTE AS en FROM events),
      marked AS (SELECT user_id, st, en,
          CASE WHEN max(en) OVER (PARTITION BY user_id ORDER BY st, en
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
            OR st > max(en) OVER (PARTITION BY user_id ORDER BY st, en
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
          THEN 1 ELSE 0 END AS brk
        FROM spans),
      isl AS (SELECT user_id, st, en,
          SUM(brk) OVER (PARTITION BY user_id ORDER BY st, en
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        FROM marked),
      g AS (SELECT user_id, island, MIN(st) AS i_st, MAX(en) AS i_en
        FROM isl GROUP BY user_id, island)
      SELECT user_id, COUNT(*) AS n_islands,
        CAST(SUM(CAST(floor(epoch(i_en)) AS BIGINT) - CAST(floor(epoch(i_st)) AS BIGINT)) AS BIGINT) AS covered_s,
        CAST(MAX(CAST(floor(epoch(i_en)) AS BIGINT) - CAST(floor(epoch(i_st)) AS BIGINT)) AS BIGINT) AS longest_s
      FROM g GROUP BY user_id ORDER BY user_id"""))

  // q135 — DAILY STREAKS (gaps-and-islands on the calendar): longest run
  // of consecutive active days per user via the date-minus-dense-rank
  // constant-per-streak trick — distinct day collapse, one window, one
  // group-by; no self-join, no sequence generation. All integers.
  private val q135 = Q(
    "q135_streaks",
    (s, dir) => {
      val days = tbl(s, dir, "events")
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val grp = datediff(col("d"), lit("1970-01-01")) -
        row_number().over(Window.partitionBy("user_id").orderBy("d"))
      val streaks = days.withColumn("grp", grp)
        .groupBy("user_id", "grp").agg(count(lit(1)).as("len"))
      streaks.groupBy("user_id")
        .agg(sum(col("len")).as("active_days"),
          count(lit(1)).as("n_streaks"),
          max(col("len")).as("max_streak"))
        .orderBy("user_id")
    },
    Some("""WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
      marked AS (SELECT user_id, d,
          CAST(d - DATE '1970-01-01' AS BIGINT) -
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS grp
        FROM days),
      streaks AS (SELECT user_id, grp, COUNT(*) AS len
        FROM marked GROUP BY user_id, grp)
      SELECT user_id, CAST(SUM(len) AS BIGINT) AS active_days,
        COUNT(*) AS n_streaks, MAX(len) AS max_streak
      FROM streaks GROUP BY user_id ORDER BY user_id"""))

  // q145 — the SQL-FIRST surface: Catalog.register exposes every table
  // as a temp view and the query is ONE SQL string executed verbatim by
  // BOTH engines — spark.sql(sql145) is the Spark plan, the identical
  // text is the DuckDB oracle. Join→agg→window in the shared ANSI
  // subset; decimal-exact revenue; every output cast-pinned. This is
  // the interface a SQL-writing reference user switches to, proven
  // dialect-portable character-for-character.
  private val sql145 =
    """SELECT r_name, o_year, revenue, n_items, yr_rank
      FROM (
        SELECT r_name, o_year, revenue, n_items,
          CAST(RANK() OVER (PARTITION BY r_name
            ORDER BY revenue DESC, o_year ASC) AS BIGINT) AS yr_rank
        FROM (
          SELECT r_name, CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
            CAST(COUNT(*) AS BIGINT) AS n_items
          FROM lineitem
          JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name, o_year
        ) y
      ) ranked
      ORDER BY r_name, yr_rank, o_year"""
  private val q145 = Q(
    "q145_sql_interface",
    (s, dir) => { graft.Catalog.register(s, dir); s.sql(sql145) },
    Some(sql145))

  // q146 — LAG-k AUTOCORRELATION (ACF, lags 1–3) of the hourly event-count
  // series per event type — the standard seasonality/burstiness diagnostic
  // for telemetry. The raw events are reduced ONCE by a map-side-combinable
  // groupBy to the (type, hour) series; lag pairs come from one window sort
  // per type, restricted to buckets exactly k hours apart so calendar gaps
  // never fabricate a pair. Counts are integers, so every cross-sum is
  // decimal-exact and Pearson r is a deterministic double formula (guarded
  // against zero variance) — bit-identical to the oracle. At 100 TB the
  // window input is the bucketed series (calendar-bounded, ~10⁴ rows/key),
  // not the raw rows; the heavy lifting stays in the first partial agg.
  // q251 — TPC-H Q5 SHAPE through the SQL surface (local-supplier
  // volume: revenue kept only when customer and supplier share a
  // nation): the second character-identical dialect-portable SQL string
  // beside q145 — six-table join, date-range filter, decimal-exact
  // revenue. Catalyst gets free rein (broadcast dims + AQE); the same
  // text runs verbatim in DuckDB.
  private val sql251 =
    """SELECT n_name,
        CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
        CAST(COUNT(*) AS BIGINT) AS n_items
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE s_nationkey = c_nationkey
        AND o_orderdate >= DATE '1996-01-01'
        AND o_orderdate < DATE '1998-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name"""
  private val q251 = Q(
    "q251_sql_tpch_q5",
    (s, dir) => { graft.Catalog.register(s, dir); s.sql(sql251) },
    Some(sql251))

  private val q146 = Q(
    "q146_autocorr",
    (s, dir) => {
      val hourly = tbl(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x"))
      val w = Window.partitionBy("event_type").orderBy("h")
      val lagged = hourly.select(col("event_type"), col("h"), col("x"),
        lag(col("x"), 1).over(w).as("x1"), lag(col("h"), 1).over(w).as("h1"),
        lag(col("x"), 2).over(w).as("x2"), lag(col("h"), 2).over(w).as("h2"),
        lag(col("x"), 3).over(w).as("x3"), lag(col("h"), 3).over(w).as("h3"))
      def pairAt(k: Int, xk: org.apache.spark.sql.Column,
                 hk: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        struct(lit(k).as("lag_k"),
          when(hk === col("h") - expr(s"INTERVAL $k HOURS"), xk).as("xk"))
      val pairs = lagged
        .select(col("event_type"), col("x"),
          explode(array(pairAt(1, col("x1"), col("h1")),
            pairAt(2, col("x2"), col("h2")),
            pairAt(3, col("x3"), col("h3")))).as("p"))
        .select(col("event_type"), col("p.lag_k").as("lag_k"),
          col("x"), col("p.xk").as("xk"))
        .filter(col("xk").isNotNull)
      val n   = count(lit(1)).cast("double")
      val sx  = Det.dsum(col("xk"), 0)
      val sy  = Det.dsum(col("x"), 0)
      val sxx = Det.dsum(col("xk") * col("xk"), 0)
      val syy = Det.dsum(col("x") * col("x"), 0)
      val sxy = Det.dsum(col("xk") * col("x"), 0)
      val denomSq = (n * sxx - sx * sx) * (n * syy - sy * sy)
      pairs.groupBy("event_type", "lag_k")
        .agg(count(lit(1)).as("n_pairs"),
          when(denomSq > 0,
            Det.roundAt((n * sxy - sx * sy) / sqrt(denomSq), 6)).as("acf"))
        .orderBy("event_type", "lag_k")
    },
    Some {
      val n   = "CAST(COUNT(*) AS DOUBLE)"
      val sx  = "CAST(SUM(CAST(xk AS DECIMAL(28,0))) AS DOUBLE)"
      val sy  = "CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE)"
      val sxx = "CAST(SUM(CAST(xk * xk AS DECIMAL(28,0))) AS DOUBLE)"
      val syy = "CAST(SUM(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE)"
      val sxy = "CAST(SUM(CAST(xk * x AS DECIMAL(28,0))) AS DOUBLE)"
      val denomSq = s"($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy)"
      s"""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
            CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        lagged AS (SELECT event_type, h, x,
            LAG(x, 1) OVER w AS x1, LAG(h, 1) OVER w AS h1,
            LAG(x, 2) OVER w AS x2, LAG(h, 2) OVER w AS h2,
            LAG(x, 3) OVER w AS x3, LAG(h, 3) OVER w AS h3
          FROM hourly WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        pairs AS (
          SELECT event_type, 1 AS lag_k, x, x1 AS xk FROM lagged
            WHERE h1 = h - INTERVAL 1 HOUR
          UNION ALL
          SELECT event_type, 2 AS lag_k, x, x2 AS xk FROM lagged
            WHERE h2 = h - INTERVAL 2 HOUR
          UNION ALL
          SELECT event_type, 3 AS lag_k, x, x3 AS xk FROM lagged
            WHERE h3 = h - INTERVAL 3 HOUR)
      SELECT event_type, lag_k, CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CASE WHEN $denomSq > 0
          THEN ${Det.roundAtSql(s"($n * $sxy - $sx * $sy) / sqrt($denomSq)", 6)}
          ELSE NULL END AS acf
      FROM pairs GROUP BY event_type, lag_k ORDER BY event_type, lag_k"""
    })

  // q147 — CUSUM CHANGEPOINT detection (Page 1954) on the hourly count
  // series per event type: s_t = max(0, s_{t−1} + x_t − (μ + 0.5σ)),
  // alarm when s_t > 4σ. μ/σ come from decimal-exact integer sums (one
  // tiny per-key stats pass, broadcast back onto the series), the clamped
  // recurrence runs in operators/Changepoint.cusum — one repartition +
  // in-partition sort + O(n) mapPartitions scan, the same distributed-
  // recurrence shape as q132's EWMA (max(0,·) has no prefix-sum closed
  // form). The oracle replays the identical recurrence via a recursive
  // CTE; fixed evaluation order makes every trajectory bit-identical.
  // At 100 TB the sequential tail is the *bucketed* series (calendar-
  // bounded), so per-key history length never grows with row count.
  private val q147 = Q(
    "q147_cusum",
    (s, dir) => {
      // The tiny hourly aggregate feeds three branches (series, stats,
      // thresholds) whose differing column pruning defeats exchange
      // reuse — checkpoint it so the raw events are scanned ONCE.
      val hourly = graft.operators.Ckpt.local(tbl(s, dir, "events")
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
        .agg(count(lit(1)).as("x")))
      val series = hourly.withColumn("rn",
        row_number().over(Window.partitionBy("event_type").orderBy("h")).cast("long"))
      val stats = hourly.groupBy("event_type").agg(
        count(lit(1)).cast("double").as("n"),
        Det.dsum(col("x"), 0).as("sx"),
        Det.dsum(col("x") * col("x"), 0).as("sxx"))
      val sigma = sqrt(col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")))
      val d = stats.select(col("event_type"),
        (col("sx") / col("n") + lit(0.5) * sigma).as("drift"),
        (lit(4.0) * sigma).as("thr"))
      val cus = graft.operators.Changepoint.cusum(
        series.join(broadcast(d), "event_type"), "event_type", "rn", "x", "drift")
      cus.join(broadcast(d), cus("k") === d("event_type"))
        .groupBy(col("k").as("event_type"))
        .agg(count(lit(1)).as("n_buckets"),
          Det.roundAt(max(col("cusum")), 6).as("cusum_max"),
          count(when(col("cusum") > col("thr"), lit(1))).as("n_alarms"),
          min(when(col("cusum") > col("thr"), col("rn"))).as("first_alarm"))
        .orderBy("event_type")
    },
    Some {
      val sigma = "sqrt(sxx / n - (sx / n) * (sx / n))"
      s"""WITH RECURSIVE hourly AS MATERIALIZED (
          SELECT event_type, date_trunc('hour', ts) AS h,
            CAST(COUNT(*) AS BIGINT) AS x
          FROM events GROUP BY 1, 2),
        series AS MATERIALIZED (SELECT event_type, x,
            CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS BIGINT) AS rn
          FROM hourly),
        d AS MATERIALIZED (SELECT event_type,
            sx / n + 0.5 * $sigma AS drift, 4.0 * $sigma AS thr
          FROM (SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n,
              CAST(SUM(CAST(x AS DECIMAL(28,0))) AS DOUBLE) AS sx,
              CAST(SUM(CAST(x * x AS DECIMAL(28,0))) AS DOUBLE) AS sxx
            FROM hourly GROUP BY 1)),
        r AS (
          SELECT s.event_type, s.rn, greatest(CAST(0 AS DOUBLE), s.x - d.drift) AS cs
            FROM series s JOIN d USING (event_type) WHERE s.rn = 1
          UNION ALL
          SELECT s.event_type, s.rn, greatest(CAST(0 AS DOUBLE), r.cs + s.x - d.drift)
            FROM r JOIN series s
              ON s.event_type = r.event_type AND s.rn = r.rn + 1
            JOIN d ON d.event_type = s.event_type)
      SELECT r.event_type, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        ${Det.roundAtSql("MAX(cs)", 6)} AS cusum_max,
        CAST(COUNT(CASE WHEN cs > d.thr THEN 1 END) AS BIGINT) AS n_alarms,
        MIN(CASE WHEN cs > d.thr THEN rn END) AS first_alarm
      FROM r JOIN d ON d.event_type = r.event_type
      GROUP BY r.event_type ORDER BY r.event_type"""
    })

  // q148 — BENFORD first-significant-digit audit of order totals: the
  // classic fabricated-data / unit-mix quality check. The digit comes
  // from a fixed-point DECIMAL(18,2) rendering (never the shortest-
  // round-trip double string, which differs across engines) with leading
  // zeros/points stripped; expected shares are pinned 6-dp literals in
  // BOTH engines so no libm log10 enters the comparison. One partial-agg
  // shuffle to 9 digit rows; the window total runs over those 9 rows
  // post-aggregation, so the unpartitioned window is scale-free.
  private val q148 = Q(
    "q148_benford",
    (s, dir) => {
      val benford = typedLit(Map(
        "1" -> 0.301030, "2" -> 0.176091, "3" -> 0.124939,
        "4" -> 0.096910, "5" -> 0.079181, "6" -> 0.066947,
        "7" -> 0.057992, "8" -> 0.051153, "9" -> 0.045757))
      val firstDigit = substring(
        regexp_replace(col("o_totalprice").cast("decimal(18,2)").cast("string"),
          "^[0.]*", ""), 1, 1)
      val counts = tbl(s, dir, "orders")
        .filter(col("o_totalprice") > 0)
        .select(firstDigit.as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .withColumn("total", sum(col("n")).over(
          Window.partitionBy().orderBy().rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing)))
      val nD   = col("n").cast("double")
      val totD = col("total").cast("double")
      val expPct = element_at(benford, col("digit"))
      val expN   = totD * expPct
      counts.select(col("digit"), col("n"),
          Det.roundAt(nD / totD, 6).as("obs_pct"),
          expPct.as("benford_pct"),
          Det.roundAt((nD - expN) * (nD - expN) / expN, 6).as("chi2_term"))
        .orderBy("digit")
    },
    Some {
      val bp = "CAST(CASE digit WHEN '1' THEN 0.301030 WHEN '2' THEN 0.176091 " +
        "WHEN '3' THEN 0.124939 WHEN '4' THEN 0.096910 WHEN '5' THEN 0.079181 " +
        "WHEN '6' THEN 0.066947 WHEN '7' THEN 0.057992 WHEN '8' THEN 0.051153 " +
        "WHEN '9' THEN 0.045757 END AS DOUBLE)"
      s"""WITH digits AS (SELECT substr(regexp_replace(
            CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR), '^[0.]*', ''),
            1, 1) AS digit
          FROM orders WHERE o_totalprice > 0),
        counts AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n
          FROM digits GROUP BY 1),
        t AS (SELECT digit, n, CAST(SUM(n) OVER () AS BIGINT) AS total FROM counts)
      SELECT digit, n,
        ${Det.roundAtSql("CAST(n AS DOUBLE) / CAST(total AS DOUBLE)", 6)} AS obs_pct,
        $bp AS benford_pct,
        ${Det.roundAtSql(
          s"(CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * $bp) * (CAST(n AS DOUBLE) - CAST(total AS DOUBLE) * $bp) / (CAST(total AS DOUBLE) * $bp)", 6)} AS chi2_term
      FROM t ORDER BY digit"""
    })

  // q149 — K-ANONYMITY / L-DIVERSITY privacy audit over quasi-identifier
  // groups (nation × market segment): the release-readiness check for
  // any dataset carrying person-grain rows. One map-side-combinable
  // groupBy to QI-group grain (cardinality = the QI domain product, tiny
  // by construction), then a single-row reduce: k = min group size,
  // l = min distinct sensitive values (account-balance band) in a group,
  // plus how many rows sit in groups below k=10 and the resulting
  // suppression fraction. All-integer except the one rounded fraction —
  // deterministic on both engines. At 100 TB this is one shuffle whose
  // reduce-side cardinality is the QI domain, not the row count.
  private val q149 = Q(
    "q149_k_anonymity",
    (s, dir) => {
      val sens = when(col("c_acctbal") < 0, "debt")
        .when(col("c_acctbal") < 5000, "low").otherwise("high")
      val atRisk = sum(when(col("n") < 10, col("n")).otherwise(0L))
      tbl(s, dir, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"), sens.as("sens"))
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(count(lit(1)).as("n"), countDistinct(col("sens")).as("l"))
        .agg(
          min(col("n")).as("k_anonymity"),
          min(col("l")).as("l_diversity"),
          count(lit(1)).as("n_groups"),
          count(when(col("n") < 10, lit(1))).as("n_small_groups"),
          atRisk.as("rows_at_risk"),
          Det.roundAt(atRisk.cast("double") / sum(col("n")).cast("double"), 6)
            .as("risk_frac"))
    },
    Some(s"""WITH g AS (SELECT c_nationkey, c_mktsegment,
          CAST(COUNT(*) AS BIGINT) AS n,
          CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'debt'
            WHEN c_acctbal < 5000 THEN 'low' ELSE 'high' END) AS BIGINT) AS l
        FROM customer GROUP BY 1, 2)
      SELECT MIN(n) AS k_anonymity, MIN(l) AS l_diversity,
        CAST(COUNT(*) AS BIGINT) AS n_groups,
        CAST(COUNT(CASE WHEN n < 10 THEN 1 END) AS BIGINT) AS n_small_groups,
        CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk,
        ${Det.roundAtSql(
          "CAST(SUM(CASE WHEN n < 10 THEN n ELSE 0 END) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)", 6)} AS risk_frac
      FROM g"""))

  // q151 — POINT-IN-TIME (PIT) enrichment: join each fact row to the
  // dimension interval that was valid WHEN THE FACT HAPPENED — the
  // feature-store operation that prevents future-state leakage into
  // training examples (an as-of join with explicit validity bounds).
  // The dimension is q81's SCD2 relation (built by Cdc.scd2 from the
  // same event log); each event then matches exactly ONE interval of
  // its user: equi-join on the entity key with the range predicate as a
  // residual — never an explode, never a cross product. At 100 TB this
  // keeps the join a plain key-partitioned hash/merge join whose
  // residual filters the handful of intervals per entity; the fact and
  // dim branches scan the source twice but each prunes to 4 columns.
  // `n_in_open` counts facts landing in a still-open (is_current)
  // interval — the live-state fraction a monitoring dashboard tracks.
  private val q151 = Q(
    "q151_pit_enrich",
    (s, dir) => {
      val ev = tbl(s, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"), col("ts").cast("long").as("sec"))
      val dim = graft.operators.Cdc
        .scd2(ev, "user_id", Seq("sec", "event_id"), "event_type")
        .select(col("user_id").as("du"), col("event_type").as("state"),
          col("sec").as("valid_from"), col("valid_to"))
      val fact = ev.select(col("user_id"), col("sec").as("esec"))
      fact.join(dim,
          fact("user_id") === dim("du") && col("esec") >= col("valid_from") &&
            (col("valid_to").isNull || col("esec") < col("valid_to")))
        .groupBy("state")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          count(when(col("valid_to").isNull, lit(1))).as("n_in_open"))
        .orderBy("state")
    },
    Some("""WITH ev AS (SELECT user_id, event_id, event_type,
          epoch_ns(ts) // 1000000000 AS sec FROM events),
      chg AS (SELECT *, LAG(event_type) OVER
          (PARTITION BY user_id ORDER BY sec, event_id) AS prev FROM ev),
      scd AS (SELECT user_id AS du, event_type AS state, sec AS valid_from,
          LEAD(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS valid_to
        FROM chg WHERE prev IS DISTINCT FROM event_type),
      j AS (SELECT f.user_id, s.state, s.valid_to
        FROM ev f JOIN scd s ON f.user_id = s.du
          AND f.sec >= s.valid_from
          AND (s.valid_to IS NULL OR f.sec < s.valid_to))
      SELECT state, CAST(COUNT(*) AS BIGINT) AS n_events,
        CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        CAST(COUNT(CASE WHEN valid_to IS NULL THEN 1 END) AS BIGINT) AS n_in_open
      FROM j GROUP BY state ORDER BY state"""))

  // q152 — APPROXIMATE QUERY PROCESSING: estimate a global revenue
  // aggregate from a 1% deterministic hash sample and report the
  // scaled estimate, the exact value, and whether the estimate landed
  // inside a 5% relative band. The sample predicate is the SAME
  // portable hash both engines compute, so the sampled row set — and
  // therefore the estimate itself — is bit-identical, reproducible
  // across retries, engines, and partitionings (the property ad-hoc
  // TABLESAMPLE lacks). At 100 TB the full-scan exact arm disappears
  // and only the 1%-selectivity scan runs — the entire point of AQP;
  // the estimate pipeline is one partial agg over the surviving rows.
  // Decimal-exact sums make the ×100 scale-up deterministic.
  private val q152 = Q(
    "q152_aqp_estimate",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
      val rev = col("l_extendedprice") * (lit(1) - col("l_discount"))
      val inSample = pmod(graft.functions.TextFns.portableHash(
        concat(col("l_orderkey").cast("string"), lit(":aqp"))), lit(100L)) < 1
      val est = li.filter(inSample)
        .agg((Det.dsum(rev, 4) * lit(100.0)).as("est_revenue"),
          count(lit(1)).as("n_sampled"))
      val exact = li.agg(Det.dsum(rev, 4).as("exact_revenue"))
      est.crossJoin(exact)
        .select(col("n_sampled"), col("est_revenue"), col("exact_revenue"),
          Det.roundAt(abs(col("est_revenue") - col("exact_revenue")) / col("exact_revenue"), 6)
            .as("rel_err"),
          (abs(col("est_revenue") - col("exact_revenue")) / col("exact_revenue") < 0.05)
            .as("in_band"))
    },
    Some {
      val h = graft.functions.TextFns.portableHashSql(
        "(CAST(l_orderkey AS VARCHAR) || ':aqp')")
      s"""WITH est AS (SELECT
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) * 100.0 AS est_revenue,
            CAST(COUNT(*) AS BIGINT) AS n_sampled
          FROM lineitem WHERE $h % 100 < 1),
        ex AS (SELECT
            CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS exact_revenue
          FROM lineitem)
      SELECT n_sampled, est_revenue, exact_revenue,
        ${Det.roundAtSql("abs(est_revenue - exact_revenue) / exact_revenue", 6)} AS rel_err,
        abs(est_revenue - exact_revenue) / exact_revenue < 0.05 AS in_band
      FROM est, ex"""
    })

  // q153 — the DISTRIBUTION-RANK window family (percent_rank /
  // cume_dist / ntile / nth_value), completing §2.5's window coverage:
  // top-3 orders per priority annotated with their full-partition rank
  // statistics. percent_rank and cume_dist are integer-rank ratios —
  // deterministic doubles — and the (totalprice DESC, orderkey) total
  // order pins ties. The top-3 filter compiles to WindowGroupLimit, so
  // only 3 rows per group survive the final sort; the rank statistics
  // still see the whole partition in ONE window pass over one shuffle.
  private val q153 = Q(
    "q153_rank_family",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      tbl(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          row_number().over(w).as("rn"),
          Det.roundAt(percent_rank().over(w), 6).as("pct_rank"),
          Det.roundAt(cume_dist().over(w), 6).as("cum_dist"),
          ntile(4).over(w).as("quartile"),
          nth_value(col("o_totalprice"), 3).over(w).as("third_price"))
        .filter(col("rn") <= 3)
        .orderBy("o_orderpriority", "rn")
    },
    Some(s"""WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
          ROW_NUMBER() OVER w AS rn,
          ${Det.roundAtSql("PERCENT_RANK() OVER w", 6)} AS pct_rank,
          ${Det.roundAtSql("CUME_DIST() OVER w", 6)} AS cum_dist,
          NTILE(4) OVER w AS quartile,
          NTH_VALUE(o_totalprice, 3) OVER w AS third_price
        FROM orders
        WINDOW w AS (PARTITION BY o_orderpriority
          ORDER BY o_totalprice DESC, o_orderkey ASC))
      SELECT o_orderpriority, o_orderkey, o_totalprice, rn, pct_rank,
        cum_dist, quartile, third_price
      FROM r WHERE rn <= 3 ORDER BY o_orderpriority, rn"""))

  // q154 — BLOCKED RECORD LINKAGE with a native Jaro–Winkler scorer:
  // the entity-resolution shape — equi-join on a blocking key (nation)
  // bounds the candidate pairs, the codegen'd JaroWinklerExpr scores
  // them inside whole-stage codegen (no UDF boundary), and a 0.98
  // threshold keeps probable same-entity pairs. The oracle's
  // jaro_winkler_similarity is bit-identical to the native expression
  // (byte-grain, same evaluation order), so even the raw-double ≥ 0.98
  // cut agrees exactly. At 100 TB the blocking key is the entire scale
  // story: candidates grow with Σ(block²), so production blocking adds
  // finer keys (name prefix, phonetic bucket) — the plan shape (equi
  // join + scored residual) is unchanged.
  private val q154 = Q(
    "q154_jw_linkage",
    (s, dir) => {
      val c = tbl(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_name"))
      val a = c.select(col("c_custkey").as("id_a"), col("c_nationkey").as("nk"),
        col("c_name").as("name_a"))
      val b = c.select(col("c_custkey").as("id_b"), col("c_nationkey").as("nk"),
        col("c_name").as("name_b"))
      a.join(b, Seq("nk")).filter(col("id_a") < col("id_b"))
        .withColumn("jw", graft.plans.JaroWinklerExpr(col("name_a"), col("name_b")))
        .filter(col("jw") >= 0.98)
        .groupBy(col("nk").as("nation"))
        .agg(count(lit(1)).as("n_linked"),
          Det.roundAt(max(col("jw")), 6).as("max_jw"),
          Det.dsum(Det.roundAt(col("jw"), 6), 6).as("jw_sum"))
        .orderBy("nation")
    },
    Some(s"""WITH c AS (SELECT c_custkey, c_nationkey, c_name FROM customer),
      p AS (SELECT a.c_nationkey AS nation,
          jaro_winkler_similarity(a.c_name, b.c_name) AS jw
        FROM c a JOIN c b
          ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey)
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_linked,
        ${Det.roundAtSql("MAX(jw)", 6)} AS max_jw,
        CAST(SUM(CAST(${Det.roundAtSql("jw", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS jw_sum
      FROM p WHERE jw >= 0.98
      GROUP BY nation ORDER BY nation"""))

  // q155 — POISSON BOOTSTRAP standard error of a mean: the distributed
  // bootstrap — at 100 TB you cannot resample n rows with replacement
  // globally, but Poisson(1) per-row replica weights are exchangeable
  // with multinomial resampling (Chamandy et al., Google 2012) and need
  // NO coordination: each row draws its weight for each of B=32
  // replicas from a deterministic portable-hash uniform through the
  // pinned Poisson(1) inverse CDF. The ×B explode is pipelined (never
  // materialized) and the per-replica partial aggregate collapses to B
  // rows per partition before the one shuffle; hash uniforms make every
  // replica — and so the SE — bit-identical across engines, retries,
  // and partitionings. Replica means use decimal-exact sums; the SE is
  // the fixed dstddev formula over the 32 rounded replica estimates.
  private val q155 = Q(
    "q155_bootstrap_se",
    (s, dir) => {
      val B = 32
      // cumulative Poisson(1) CDF, pinned to the same literals in both
      // engines: P(X<=k) for k=0..8, else weight 9
      val cdf = Seq(0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
        0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
        0.9999167588507119, 0.9999897508033253, 0.9999988747974017)
      val reps = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          explode(array((0 until B).map(lit(_)): _*)).as("b"))
      val u = (pmod(graft.functions.TextFns.portableHash(
        concat(col("o_orderkey").cast("string"), lit(":bs:"), col("b").cast("string"))),
        lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
      // bind u under an alias BEFORE the CDF CASE chain: CASE branch
      // conditions are excluded from codegen common-subexpression
      // elimination, so inlining u would re-evaluate the hash once per
      // probed branch (round-9 plan census: 9 identical hash calls in
      // one node). CollapseProject keeps a non-cheap alias referenced
      // 9x in its own projection.
      val w = cdf.zipWithIndex.foldRight(lit(9): org.apache.spark.sql.Column) {
        case ((c, k), rest) => when(col("__u") < c, k).otherwise(rest)
      }
      val est = reps.withColumn("__u", u).withColumn("w", w)
        .drop("__u")
        .groupBy("b")
        .agg((Det.dsum(col("w") * col("o_totalprice"), 2) /
          sum(col("w")).cast("double")).as("est"))
      // quantize each replica estimate to an exact 1e-6-grain integer:
      // second moments then stay in exact decimal integers — no
      // double→decimal cast of large-magnitude squares, whose rounding
      // rule differs between engines (shortest-string vs exact-binary)
      val qv = floor(col("est") * lit(1000000.0) + lit(0.5)).cast("decimal(38,0)")
      val n = count(lit(1)).cast("double")
      val s1 = sum(qv).cast("double")
      val s2 = sum(qv * qv).cast("double")
      est.agg(count(lit(1)).as("n_reps"),
        Det.roundAt(s1 / n / lit(1000000.0), 6).as("boot_mean"),
        Det.roundAt(sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))) / lit(1000000.0), 6)
          .as("boot_se"))
    },
    Some {
      val h = graft.functions.TextFns.portableHashSql(
        "(CAST(o_orderkey AS VARCHAR) || ':bs:' || CAST(b AS VARCHAR))")
      val cdf = Seq("0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
        "0.9810118431238462", "0.9963401531726563", "0.9994058151824183",
        "0.9999167588507119", "0.9999897508033253", "0.9999988747974017")
      val wCase = "CASE " + cdf.zipWithIndex
        .map { case (c, k) => s"WHEN u < $c THEN $k" }.mkString(" ") + " ELSE 9 END"
      s"""WITH reps AS (SELECT o_orderkey, o_totalprice, b,
            (CAST($h % 1000000 AS DOUBLE) + 0.5) / 1000000.0 AS u
          FROM orders CROSS JOIN (SELECT unnest(range(32)) AS b)),
        wtd AS (SELECT b, $wCase AS w, o_totalprice FROM reps),
        e AS (SELECT b,
            CAST(SUM(CAST(w * o_totalprice AS DECIMAL(28,2))) AS DOUBLE) /
              CAST(CAST(SUM(w) AS BIGINT) AS DOUBLE) AS est
          FROM wtd GROUP BY b),
        r AS (SELECT CAST(floor(est * 1000000.0 + 0.5) AS DECIMAL(38,0)) AS qv FROM e)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_reps,
        ${Det.roundAtSql(
          "CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0", 6)} AS boot_mean,
        ${Det.roundAtSql(
          "sqrt((CAST(SUM(qv * qv) AS DOUBLE) - " +
          "CAST(SUM(qv) AS DOUBLE) * CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / " +
          "(CAST(COUNT(*) AS DOUBLE) - 1.0)) / 1000000.0", 6)} AS boot_se
      FROM r"""
    })

  // q156 — DELETION PROPAGATION (right-to-be-forgotten): cascade a
  // customer deletion list through its foreign-key children and report
  // the audit a compliance run needs — per-table before/deleted/after
  // counts plus a POST-deletion orphan check that must come back zero.
  // The deletion list is tiny relative to the corpus, so every cascade
  // step is a BROADCAST anti join (the fact tables never shuffle); the
  // orphan check reuses the same broadcast. At 100 TB this is the only
  // viable shape: no fact-side shuffle, one scan per table, and the
  // deletion set rides the driver→executor broadcast path. Deterministic
  // list (acctbal < −900) stands in for the request queue.
  private val q156 = Q(
    "q156_forget",
    (s, dir) => {
      val cust = tbl(s, dir, "customer")
      val orders = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      val del = broadcast(cust.filter(col("c_acctbal") < -900)
        .select(col("c_custkey").as("dk")))
      val delo = broadcast(orders
        .join(del, orders("o_custkey") === col("dk"), "left_semi")
        .select(col("o_orderkey").as("dok")))
      def audit(df: org.apache.spark.sql.DataFrame, name: String,
                flag: org.apache.spark.sql.Column) =
        df.agg(count(lit(1)).as("n_before"),
            count(when(flag, lit(1))).as("n_deleted"))
          .select(lit(name).as("tbl"), col("n_before"), col("n_deleted"))
      val custA = audit(cust, "customer", col("c_acctbal") < -900)
      val ordA = audit(orders.join(del,
        orders("o_custkey") === col("dk"), "left").withColumn("f", col("dk").isNotNull),
        "orders", col("f"))
      val liA = audit(li.join(delo,
        li("l_orderkey") === col("dok"), "left").withColumn("f", col("dok").isNotNull),
        "lineitem", col("f"))
      // independent post-deletion referential check: kept lineitems whose
      // parent order no longer exists (must be 0 — a genuine FK pass over
      // the kept relations, not a restatement of the cascade predicate)
      val keptOrders = orders.join(del, orders("o_custkey") === col("dk"), "left_anti")
      val keptLi = li.join(delo, li("l_orderkey") === col("dok"), "left_anti")
      val orphans = keptLi.join(keptOrders,
          keptLi("l_orderkey") === keptOrders("o_orderkey"), "left_anti")
        .agg(count(lit(1)).as("orphans_after"))
      custA.union(ordA).union(liA)
        .crossJoin(orphans)
        .select(col("tbl"), col("n_before"), col("n_deleted"),
          (col("n_before") - col("n_deleted")).as("n_after"), col("orphans_after"))
        .orderBy("tbl")
    },
    Some("""WITH del AS (SELECT c_custkey FROM customer WHERE c_acctbal < -900),
      delo AS (SELECT o_orderkey FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM del)),
      kept_o AS (SELECT o_orderkey FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM del)),
      kept_l AS (SELECT l_orderkey FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM delo)),
      orph AS (SELECT CAST(COUNT(*) AS BIGINT) AS orphans_after FROM kept_l
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM kept_o)),
      s AS (
        SELECT 'customer' AS tbl, (SELECT COUNT(*) FROM customer) AS n_before,
          (SELECT COUNT(*) FROM del) AS n_deleted
        UNION ALL
        SELECT 'orders', (SELECT COUNT(*) FROM orders),
          (SELECT COUNT(*) FROM delo)
        UNION ALL
        SELECT 'lineitem', (SELECT COUNT(*) FROM lineitem),
          (SELECT COUNT(*) FROM lineitem
            WHERE l_orderkey IN (SELECT o_orderkey FROM delo)))
      SELECT tbl, CAST(n_before AS BIGINT) AS n_before,
        CAST(n_deleted AS BIGINT) AS n_deleted,
        CAST(n_before - n_deleted AS BIGINT) AS n_after, orphans_after
      FROM s, orph ORDER BY tbl"""))

  // q157 — LEAVE-ONE-OUT TARGET ENCODING: the supervised categorical
  // feature — each row's category encoded as the mean target of all
  // OTHER rows in the category, (S − xᵢ)/(n − 1), so a row never leaks
  // its own label into its feature (the whole point vs plain mean
  // encoding). One window pass per category partition computes (S, n)
  // exactly in decimal; the per-row encode is then embarrassingly
  // parallel. The audit output groups back per category: mean of LOO
  // encodes (≡ the plain mean — an identity the oracle re-derives) and
  // their spread, all from exact sums of 6-dp-rounded encodes.
  private val q157 = Q(
    "q157_target_encode",
    (s, dir) => {
      val w = Window.partitionBy("o_orderpriority")
      val enc = tbl(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_totalprice"),
          ((sum(col("o_totalprice").cast("decimal(28,2)")).over(w).cast("double") -
            col("o_totalprice")) /
            (count(lit(1)).over(w) - lit(1)).cast("double")).as("loo"))
      // integer-quantized moments (1e-6 grain): exact decimal sums, no
      // engine-divergent double→decimal cast of large squares
      val qv = floor(col("loo") * lit(1000000.0) + lit(0.5)).cast("decimal(38,0)")
      val n = count(lit(1)).cast("double")
      val s1 = sum(qv).cast("double")
      val s2 = sum(qv * qv).cast("double")
      enc.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"),
          Det.roundAt(s1 / n / lit(1000000.0), 6).as("mean_loo"),
          Det.roundAt(sqrt((s2 - s1 * s1 / n) / (n - lit(1.0))) / lit(1000000.0), 6)
            .as("sd_loo"))
        .orderBy("o_orderpriority")
    },
    Some {
      s"""WITH enc AS (SELECT o_orderpriority,
            (CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) OVER
                (PARTITION BY o_orderpriority) AS DOUBLE) - o_totalprice) /
              CAST(COUNT(*) OVER (PARTITION BY o_orderpriority) - 1 AS DOUBLE) AS loo
          FROM orders),
        r AS (SELECT o_orderpriority,
            CAST(floor(loo * 1000000.0 + 0.5) AS DECIMAL(38,0)) AS qv FROM enc)
      SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
        ${Det.roundAtSql(
          "CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000.0", 6)} AS mean_loo,
        ${Det.roundAtSql(
          "sqrt((CAST(SUM(qv * qv) AS DOUBLE) - " +
          "CAST(SUM(qv) AS DOUBLE) * CAST(SUM(qv) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / " +
          "(CAST(COUNT(*) AS DOUBLE) - 1.0)) / 1000000.0", 6)} AS sd_loo
      FROM r GROUP BY o_orderpriority ORDER BY o_orderpriority"""
    })

  // q167 — T-CLOSENESS privacy audit (the successor to q149's
  // k-anonymity/l-diversity): per quasi-identifier group, the total
  // variation distance between the group's sensitive-attribute
  // distribution and the GLOBAL one — a group can be k-large and
  // l-diverse yet still leak (e.g. 95% one band where the population is
  // 33%). QI = order status × priority, sensitive = fixed price band.
  // Determinism: TVD per group is assembled from INTEGER numerators
  // (|c_gs·N − c_s·n_g|, plus n_g·(N − Σ_covered c_s) for bands absent
  // from the group) over the common denominator 2·n_g·N, so there is
  // exactly ONE double division per group, then order-independent
  // max/count reductions. Aggregation runs at cell grain (QI × band
  // domain, ~45 rows regardless of row count); the global band counts
  // and the grand total join back as broadcast stat frames. At 100 TB
  // the only full-data pass is the first cell-count groupBy; integer
  // products bound at c·N — switch the numerators to decimal(38,0) past
  // ~10^9 rows per band.
  private val q167 = Q(
    "q167_t_closeness",
    (s, dir) => {
      val band = when(col("o_totalprice") < 100000.0, "low")
        .when(col("o_totalprice") < 300000.0, "mid").otherwise("high")
      val cells = tbl(s, dir, "orders")
        .select(col("o_orderstatus").as("st"), col("o_orderpriority").as("pr"),
          band.as("band"))
        .groupBy("st", "pr", "band").agg(count(lit(1)).as("c"))
      val glob = cells.groupBy("band").agg(sum(col("c")).as("cs"))
      val tot = glob.agg(sum(col("cs")).as("n_total"))
      val w = Window.partitionBy("st", "pr")
      val grp = cells
        .withColumn("n_g", sum(col("c")).over(w))
        .join(broadcast(glob), "band")
        .crossJoin(broadcast(tot))
        .groupBy("st", "pr")
        .agg(max(col("n_g")).as("n_g"), max(col("n_total")).as("n"),
          sum(abs(col("c") * col("n_total") - col("cs") * col("n_g"))).as("s_present"),
          sum(col("cs")).as("cs_covered"),
          max(col("c")).as("c_max"))
        .withColumn("tvd",
          (col("s_present") + col("n_g") * (col("n") - col("cs_covered")))
            .cast("double") / (lit(2.0) * col("n_g").cast("double") * col("n").cast("double")))
        .withColumn("max_share", col("c_max").cast("double") / col("n_g").cast("double"))
      grp.agg(
        count(lit(1)).as("n_groups"),
        Det.roundAt(max(col("tvd")), 6).as("t_max"),
        count(when(col("tvd") > 0.15, lit(1))).as("n_t_over"),
        Det.roundAt(max(col("max_share")), 6).as("max_sens_share"),
        sum(when(col("max_share") > 0.5, col("n_g")).otherwise(0L)).as("rows_skewed"))
    },
    Some(s"""WITH cells AS (SELECT o_orderstatus AS st, o_orderpriority AS pr,
          (CASE WHEN o_totalprice < 100000.0 THEN 'low'
                WHEN o_totalprice < 300000.0 THEN 'mid' ELSE 'high' END) AS band,
          CAST(COUNT(*) AS BIGINT) AS c
        FROM orders GROUP BY 1, 2, 3),
        gband AS (SELECT band, CAST(SUM(c) AS BIGINT) AS cs FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(cs) AS BIGINT) AS n_total FROM gband),
        grp AS (SELECT st, pr,
          MAX(n_g) AS n_g, MAX(n_total) AS n,
          CAST(SUM(abs(c * n_total - cs * n_g)) AS BIGINT) AS s_present,
          CAST(SUM(cs) AS BIGINT) AS cs_covered,
          MAX(c) AS c_max
        FROM (SELECT cells.*, SUM(c) OVER (PARTITION BY st, pr) AS n_g FROM cells) AS cw
          JOIN gband USING (band) CROSS JOIN tot
        GROUP BY st, pr),
        m AS (SELECT st, pr, n_g,
          CAST(s_present + n_g * (n - cs_covered) AS DOUBLE)
            / (2.0 * CAST(n_g AS DOUBLE) * CAST(n AS DOUBLE)) AS tvd,
          CAST(c_max AS DOUBLE) / CAST(n_g AS DOUBLE) AS max_share
        FROM grp)
        SELECT COUNT(*) AS n_groups,
          ${Det.roundAtSql("MAX(tvd)", 6)} AS t_max,
          CAST(COUNT(CASE WHEN tvd > 0.15 THEN 1 END) AS BIGINT) AS n_t_over,
          ${Det.roundAtSql("MAX(max_share)", 6)} AS max_sens_share,
          CAST(SUM(CASE WHEN max_share > 0.5 THEN n_g ELSE 0 END) AS BIGINT) AS rows_skewed
        FROM m"""))

  // q181 — SORTED-NEIGHBORHOOD entity resolution (the THIRD blocking
  // family next to FastSS deletion neighborhoods (q100) and Jaro-Winkler
  // soundex blocks (q154)): sort records on a blocking key within each
  // partition-friendly segment, pair each record with its next w = 3
  // neighbors via lead(), verify with exact edit distance — candidate
  // count is w·n by construction, independent of block-size skew (the
  // failure mode of equality blocking on hot keys). The sort is a
  // per-segment range sort (partitioned window, no global single
  // partition); pairs are narrow lead() projections. id_sum pins the
  // exact matched pair set.
  private val q181 = Q(
    "q181_sorted_neighborhood",
    (s, dir) => {
      val w = Window.partitionBy("c_mktsegment").orderBy("c_name", "c_custkey")
      val neighbors = (1 to 3).map(k =>
        struct(lead(col("c_name"), k).over(w).as("nn"),
          lead(col("c_custkey"), k).over(w).as("nk")))
      tbl(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_name"), col("c_custkey"),
          array(neighbors: _*).as("ns"))
        .select(col("c_mktsegment"), col("c_name"), col("c_custkey"),
          explode(col("ns")).as("nb"))
        .filter(col("nb.nn").isNotNull)
        .withColumn("dist", levenshtein(col("c_name"), col("nb.nn")))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cand"),
          sum(when(col("dist") <= 1, 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("dist") <= 1, col("c_custkey") + col("nb.nk"))
            .otherwise(0L)).as("id_sum"))
        .orderBy("c_mktsegment")
    },
    Some("""WITH s AS (SELECT c_mktsegment, c_name, c_custkey FROM customer),
        nb AS (SELECT c_mktsegment, c_name, c_custkey,
            u.p.nn AS nn, u.p.nk AS nk
          FROM (SELECT c_mktsegment, c_name, c_custkey,
              [{'nn': lead(c_name, 1) OVER w, 'nk': lead(c_custkey, 1) OVER w},
               {'nn': lead(c_name, 2) OVER w, 'nk': lead(c_custkey, 2) OVER w},
               {'nn': lead(c_name, 3) OVER w, 'nk': lead(c_custkey, 3) OVER w}] AS ns
            FROM s
            WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_name, c_custkey)) t,
            unnest(ns) AS u(p)
          WHERE u.p.nn IS NOT NULL)
        SELECT c_mktsegment, COUNT(*) AS n_cand,
          CAST(SUM(CASE WHEN levenshtein(c_name, nn) <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
          CAST(SUM(CASE WHEN levenshtein(c_name, nn) <= 1 THEN c_custkey + nk ELSE 0 END) AS BIGINT) AS id_sum
        FROM nb GROUP BY c_mktsegment ORDER BY c_mktsegment"""))

  // q182 — WEIGHT-OF-EVIDENCE encoding + information value (the
  // credit-scoring feature audit; the supervised counterpart of q157's
  // target encoding): per category, WOE = ln((pos/POS)/(neg/NEG)) from
  // INTEGER counts (one ln per category at the end), and the IV term
  // (p_pos − p_neg)·WOE quantized at 1e-6 before any cross-category sum
  // — so the per-category rows are engine-exact. One groupBy at category
  // grain + a broadcast totals frame.
  private val q182 = Q(
    "q182_woe_encoding",
    (s, dir) => {
      val lbl = (col("o_orderstatus") === "F").cast("long")
      val cat = tbl(s, dir, "orders")
        .select(col("o_orderpriority").as("cat"), lbl.as("y"))
        .groupBy("cat")
        .agg(sum(col("y")).as("pos"), sum(lit(1L) - col("y")).as("neg"))
      val tot = cat.agg(sum(col("pos")).as("tp"), sum(col("neg")).as("tn"))
      cat.crossJoin(broadcast(tot))
        .select(col("cat"), col("pos"), col("neg"),
          Det.roundAt(log((col("pos").cast("double") * col("tn").cast("double"))
            / (col("neg").cast("double") * col("tp").cast("double"))), 6).as("woe"),
          Det.roundAt((col("pos").cast("double") / col("tp").cast("double")
            - col("neg").cast("double") / col("tn").cast("double"))
            * log((col("pos").cast("double") * col("tn").cast("double"))
              / (col("neg").cast("double") * col("tp").cast("double"))), 6).as("iv_term"))
        .orderBy("cat")
    },
    Some(s"""WITH c AS (SELECT o_orderpriority AS cat,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
          CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS neg
        FROM orders GROUP BY 1),
        t AS (SELECT CAST(SUM(pos) AS BIGINT) AS tp, CAST(SUM(neg) AS BIGINT) AS tn FROM c)
        SELECT cat, pos, neg,
          ${Det.roundAtSql(
            "ln((CAST(pos AS DOUBLE) * CAST(tn AS DOUBLE)) / (CAST(neg AS DOUBLE) * CAST(tp AS DOUBLE)))", 6)} AS woe,
          ${Det.roundAtSql(
            "(CAST(pos AS DOUBLE) / CAST(tp AS DOUBLE) - CAST(neg AS DOUBLE) / CAST(tn AS DOUBLE))" +
            " * ln((CAST(pos AS DOUBLE) * CAST(tn AS DOUBLE)) / (CAST(neg AS DOUBLE) * CAST(tp AS DOUBLE)))", 6)} AS iv_term
        FROM c CROSS JOIN t ORDER BY cat"""))

  // q191 — CHI-SQUARE TEST OF INDEPENDENCE + CRAMÉR'S V between two
  // categoricals (order priority × order status) — the categorical
  // complement to q10's Pearson (numeric×numeric) and q173's KS
  // (numeric distribution drift): does fulfillment status depend on
  // priority? Contingency cells stay INTEGER counts until the expected
  // value E = rowTot·colTot/N; the full r×c grid is rebuilt from the
  // marginals (r·c rows — tiny) so zero-observed cells still contribute
  // their (0−E)²/E = E mass, which a group-by over observed rows alone
  // would silently drop. Per-cell terms are 1e-6-rounded before the
  // decimal-exact sum (q138's pattern), so double addition order never
  // shows. At 100 TB: one shuffle to cell grain (r·c keys), marginals
  // and grid are broadcast-sized — the plan is a groupBy plus
  // broadcast crossJoins, nothing driver-side.
  private val q191 = Q(
    "q191_chi2_independence",
    (s, dir) => {
      val obs = tbl(s, dir, "orders")
        .groupBy(col("o_orderpriority").as("p"), col("o_orderstatus").as("st"))
        .agg(count(lit(1)).as("c"))
      val rowsM = obs.groupBy("p").agg(sum(col("c")).as("rc"))
      val colsM = obs.groupBy("st").agg(sum(col("c")).as("cc"))
      val tot = obs.agg(sum(col("c")).as("n"))
      val dims = rowsM.agg(count(lit(1)).cast("long").as("nr"))
        .crossJoin(colsM.agg(count(lit(1)).cast("long").as("nc")))
      val grid = rowsM.crossJoin(broadcast(colsM))
        .join(obs, Seq("p", "st"), "left")
        .na.fill(0L, Seq("c"))
        .crossJoin(broadcast(tot))
        .select(col("c"), (col("rc").cast("double") * col("cc").cast("double")
          / col("n").cast("double")).as("e"), col("n"))
      grid
        .select(col("n"), Det.roundAt((col("c").cast("double") - col("e"))
          * (col("c").cast("double") - col("e")) / col("e"), 6).as("term"))
        .groupBy("n")
        .agg(Det.roundAt(Det.dsum(col("term"), 6), 6).as("chi2"))
        .crossJoin(broadcast(dims))
        .select(col("n"), col("nr").as("n_row_cats"), col("nc").as("n_col_cats"),
          ((col("nr") - 1) * (col("nc") - 1)).as("dof"), col("chi2"),
          Det.roundAt(sqrt(col("chi2") / (col("n").cast("double")
            * (least(col("nr"), col("nc")) - lit(1)).cast("double"))), 6)
            .as("cramers_v"))
    },
    Some(s"""WITH obs AS (SELECT o_orderpriority AS p, o_orderstatus AS st,
            CAST(COUNT(*) AS BIGINT) AS c FROM orders GROUP BY 1, 2),
        rm AS (SELECT p, CAST(SUM(c) AS BIGINT) AS rc FROM obs GROUP BY 1),
        cm AS (SELECT st, CAST(SUM(c) AS BIGINT) AS cc FROM obs GROUP BY 1),
        tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM obs),
        dims AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rm) AS nr,
                        (SELECT CAST(COUNT(*) AS BIGINT) FROM cm) AS nc),
        grid AS (SELECT COALESCE(o.c, 0) AS c,
            CAST(rc AS DOUBLE) * CAST(cc AS DOUBLE) / CAST(n AS DOUBLE) AS e, n
          FROM rm CROSS JOIN cm
          LEFT JOIN obs o ON o.p = rm.p AND o.st = cm.st
          CROSS JOIN tot),
        terms AS (SELECT n, ${Det.roundAtSql(
            "(CAST(c AS DOUBLE) - e) * (CAST(c AS DOUBLE) - e) / e", 6)} AS term
          FROM grid),
        agg AS (SELECT n, ${Det.roundAtSql(
            "CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE)", 6)} AS chi2
          FROM terms GROUP BY n)
      SELECT n, nr AS n_row_cats, nc AS n_col_cats,
        (nr - 1) * (nc - 1) AS dof, chi2,
        ${Det.roundAtSql(
          "sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(nr, nc) - 1 AS DOUBLE)))", 6)} AS cramers_v
      FROM agg CROSS JOIN dims"""))

  // q192 — WELCH'S T-TEST per event_type between the two hash-assigned
  // experiment variants (user_id parity — the same deterministic
  // assignment family as q187's CUPED, which reports effect size but no
  // test statistic; this adds the inference step of an A/B readout).
  // Unequal-variance t and Welch–Satterthwaite df are computed entirely
  // from decimal-exact moments of 1e-6-rounded values (values carry 2
  // decimals, so rounding is lossless), so every derived double is a
  // fixed formula over exact sums — bit-identical in both engines. At
  // 100 TB this is one map-side-combinable shuffle to (event_type)
  // grain; variants are flags inside the aggregate, not a second
  // shuffle.
  private val q192 = Q(
    "q192_welch_ttest",
    (s, dir) => {
      val v = Det.roundAt(col("value"), 6)
      val isA = pmod(col("user_id"), lit(2)) === 0
      val va = when(isA, v)
      val vb = when(!isA, v)
      tbl(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(va).as("na"), count(vb).as("nb"),
          Det.dsum(va, 6).as("sa1"), Det.dsum(va * va, 12).as("sa2"),
          Det.dsum(vb, 6).as("sb1"), Det.dsum(vb * vb, 12).as("sb2"))
        .select(col("event_type"), col("na"), col("nb"),
          Det.roundAt(col("sa1") / col("na"), 6).as("mean_a"),
          Det.roundAt(col("sb1") / col("nb"), 6).as("mean_b"),
          Det.roundAt(
            (col("sa1") / col("na") - col("sb1") / col("nb"))
              / sqrt(
                ((col("sa2") - col("sa1") * col("sa1") / col("na")) / (col("na") - 1)) / col("na")
                + ((col("sb2") - col("sb1") * col("sb1") / col("nb")) / (col("nb") - 1)) / col("nb")),
            6).as("t_stat"),
          Det.roundAt(
            pow(((col("sa2") - col("sa1") * col("sa1") / col("na")) / (col("na") - 1)) / col("na")
              + ((col("sb2") - col("sb1") * col("sb1") / col("nb")) / (col("nb") - 1)) / col("nb"), 2)
            / (pow(((col("sa2") - col("sa1") * col("sa1") / col("na")) / (col("na") - 1)) / col("na"), 2) / (col("na") - 1)
              + pow(((col("sb2") - col("sb1") * col("sb1") / col("nb")) / (col("nb") - 1)) / col("nb"), 2) / (col("nb") - 1)),
            6).as("welch_df"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type,
            ${Det.roundAtSql("\"value\"", 6)} AS v,
            user_id % 2 = 0 AS is_a
          FROM events),
        m AS (SELECT event_type,
            CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS na,
            CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS nb,
            CAST(SUM(CASE WHEN is_a THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE) AS sa1,
            CAST(SUM(CASE WHEN is_a THEN CAST(v * v AS DECIMAL(28,12)) END) AS DOUBLE) AS sa2,
            CAST(SUM(CASE WHEN NOT is_a THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE) AS sb1,
            CAST(SUM(CASE WHEN NOT is_a THEN CAST(v * v AS DECIMAL(28,12)) END) AS DOUBLE) AS sb2
          FROM e GROUP BY 1)
      SELECT event_type, na, nb,
        ${Det.roundAtSql("sa1 / na", 6)} AS mean_a,
        ${Det.roundAtSql("sb1 / nb", 6)} AS mean_b,
        ${Det.roundAtSql(
          "(sa1 / na - sb1 / nb) / sqrt(((sa2 - sa1 * sa1 / na) / (na - 1)) / na" +
          " + ((sb2 - sb1 * sb1 / nb) / (nb - 1)) / nb)", 6)} AS t_stat,
        ${Det.roundAtSql(
          "pow(((sa2 - sa1 * sa1 / na) / (na - 1)) / na + ((sb2 - sb1 * sb1 / nb) / (nb - 1)) / nb, 2)" +
          " / (pow(((sa2 - sa1 * sa1 / na) / (na - 1)) / na, 2) / (na - 1)" +
          " + pow(((sb2 - sb1 * sb1 / nb) / (nb - 1)) / nb, 2) / (nb - 1))", 6)} AS welch_df
      FROM m ORDER BY event_type"""))

  // q197 — CORRELATED SCALAR SUBQUERY (TPC-H Q17 shape: lineitems below
  // 20% of their part's average quantity). The ONE relational shape the
  // registry didn't yet exercise: the query is written as naive
  // correlated SQL (same string runs on Spark and DuckDB via the q145
  // Catalog surface) and Catalyst's DecorrelateInnerQuery must rewrite
  // the per-row subquery into a per-part aggregate + join — the
  // difference between an O(n²) nested loop and two shuffles at 100 TB.
  // PlanShapeSpec asserts the decorrelated plan (an Aggregate feeding a
  // join, no per-row subplan). Money sums in exact decimal as usual.
  private val sql197 =
    """SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) / 7.0 AS avg_yearly,
      CAST(COUNT(*) AS BIGINT) AS n_small_qty
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_brand = 'Brand#1'
        AND l.l_quantity < (
          SELECT 0.2 * CAST(SUM(CAST(l2.l_quantity AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
          FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""
  private val q197 = Q(
    "q197_correlated_subquery",
    (s, dir) => { graft.Catalog.register(s, dir); s.sql(sql197) },
    Some(sql197))

  // q199 — TWO-FEATURE OLS per event_type: value ~ hour + weekday (the
  // multivariate step past q129's single-x trend — "is the metric's
  // hour-of-day effect real once the weekday effect is held fixed?").
  // Normal equations on CENTERED features solved in closed form by
  // Cramer's rule on the 2×2 Gram matrix: every input to the formulas is
  // a decimal-exact sum of integer features × 2-decimal values, so
  // coefficients, intercept, and R² are fixed double expressions over
  // exact numbers — bit-identical in both engines. One
  // map-side-combinable shuffle at event_type grain; the matrix algebra
  // is per-group scalar arithmetic, never a driver-side solve.
  private val q199 = Q(
    "q199_ols_two_factor",
    (s, dir) => {
      val y = Det.roundAt(col("value"), 6)
      val x1 = hour(col("ts")).cast("double")
      val x2 = pmod(dayofweek(col("ts")) + 5, lit(7)).cast("double")
      val m = tbl(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).cast("double").as("n"),
          Det.dsum(x1, 6).as("s1"), Det.dsum(x2, 6).as("s2"),
          Det.dsum(y, 6).as("sy"),
          Det.dsum(x1 * x1, 6).as("s11"), Det.dsum(x2 * x2, 6).as("s22"),
          Det.dsum(x1 * x2, 6).as("s12"),
          Det.dsum(x1 * y, 8).as("s1y"), Det.dsum(x2 * y, 8).as("s2y"),
          Det.dsum(y * y, 12).as("syy"))
      val c11 = col("s11") - col("s1") * col("s1") / col("n")
      val c22 = col("s22") - col("s2") * col("s2") / col("n")
      val c12 = col("s12") - col("s1") * col("s2") / col("n")
      val c1y = col("s1y") - col("s1") * col("sy") / col("n")
      val c2y = col("s2y") - col("s2") * col("sy") / col("n")
      val cyy = col("syy") - col("sy") * col("sy") / col("n")
      val det = c11 * c22 - c12 * c12
      val b1 = (c22 * c1y - c12 * c2y) / det
      val b2 = (c11 * c2y - c12 * c1y) / det
      m.select(col("event_type"), col("n").cast("long").as("n"),
          Det.roundAt(col("sy") / col("n") - b1 * col("s1") / col("n")
            - b2 * col("s2") / col("n"), 6).as("b0"),
          Det.roundAt(b1, 6).as("b_hour"),
          Det.roundAt(b2, 6).as("b_dow"),
          Det.roundAt((b1 * c1y + b2 * c2y) / cyy, 6).as("r2"))
        .orderBy("event_type")
    },
    Some {
      val c11 = "(s11 - s1 * s1 / n)"; val c22 = "(s22 - s2 * s2 / n)"
      val c12 = "(s12 - s1 * s2 / n)"; val c1y = "(s1y - s1 * sy / n)"
      val c2y = "(s2y - s2 * sy / n)"; val cyy = "(syy - sy * sy / n)"
      val det = s"($c11 * $c22 - $c12 * $c12)"
      val b1 = s"(($c22 * $c1y - $c12 * $c2y) / $det)"
      val b2 = s"(($c11 * $c2y - $c12 * $c1y) / $det)"
      s"""WITH e AS (SELECT event_type,
            CAST(hour(ts) AS DOUBLE) AS x1,
            CAST(isodow(ts) - 1 AS DOUBLE) AS x2,
            ${Det.roundAtSql("\"value\"", 6)} AS y
          FROM events),
        m AS (SELECT event_type,
            CAST(COUNT(*) AS DOUBLE) AS n,
            CAST(SUM(CAST(x1 AS DECIMAL(28,6))) AS DOUBLE) AS s1,
            CAST(SUM(CAST(x2 AS DECIMAL(28,6))) AS DOUBLE) AS s2,
            CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(x1 * x1 AS DECIMAL(28,6))) AS DOUBLE) AS s11,
            CAST(SUM(CAST(x2 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS s22,
            CAST(SUM(CAST(x1 * x2 AS DECIMAL(28,6))) AS DOUBLE) AS s12,
            CAST(SUM(CAST(x1 * y AS DECIMAL(28,8))) AS DOUBLE) AS s1y,
            CAST(SUM(CAST(x2 * y AS DECIMAL(28,8))) AS DOUBLE) AS s2y,
            CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS syy
          FROM e GROUP BY 1)
      SELECT event_type, CAST(n AS BIGINT) AS n,
        ${Det.roundAtSql(s"sy / n - $b1 * s1 / n - $b2 * s2 / n", 6)} AS b0,
        ${Det.roundAtSql(b1, 6)} AS b_hour,
        ${Det.roundAtSql(b2, 6)} AS b_dow,
        ${Det.roundAtSql(s"($b1 * $c1y + $b2 * $c2y) / $cyy", 6)} AS r2
      FROM m ORDER BY event_type"""
    })

  // q201 — HOUR-OF-DAY SEASONALITY STRENGTH per event_type: the one-way
  // ANOVA decomposition SS_between/SS_total over the 24 hourly cells —
  // "how much of the metric's variance is the daily cycle?" — plus the
  // peak hour and its index vs the global mean (what an on-call engineer
  // reads before trusting a threshold alert; the variance-share sibling
  // of q146's ACF, which sees order, not share). Two nested aggregates:
  // corpus → (type, hour) decimal-exact moments (map-side combined),
  // then a 24-row rollup per type; peak hour via a deterministic
  // (mean DESC, hour ASC) struct-max, all ratios fixed double formulas
  // over exact sums. Nothing after the first shuffle is data-sized.
  private val q201 = Q(
    "q201_seasonal_strength",
    (s, dir) => {
      val y = Det.roundAt(col("value"), 6)
      val cells = tbl(s, dir, "events")
        .groupBy(col("event_type"), hour(col("ts")).as("h"))
        .agg(count(lit(1)).as("nh"), Det.dsum(y, 6).as("sh"),
          Det.dsum(y * y, 12).as("sh2"))
      val mh = col("sh") / col("nh").cast("double")
      cells
        .groupBy("event_type")
        .agg(
          sum(col("nh")).as("n"),
          sum(col("sh").cast("decimal(28,6)")).cast("double").as("sy"),
          sum(col("sh2").cast("decimal(28,12)")).cast("double").as("syy"),
          Det.dsum(Det.roundAt(mh * mh * col("nh").cast("double"), 6), 6)
            .as("ssb_raw"),
          max(struct(Det.roundAt(mh, 6).as("m"), (-col("h")).as("negh")))
            .as("pk"))
        .select(col("event_type"), col("n"),
          Det.roundAt(col("sy") / col("n").cast("double"), 6).as("mean"),
          (-col("pk.negh")).cast("long").as("peak_hour"),
          Det.roundAt(col("pk.m") / (col("sy") / col("n").cast("double")), 6)
            .as("peak_index"),
          Det.roundAt(
            (col("ssb_raw") - col("sy") * col("sy") / col("n").cast("double"))
            / (col("syy") - col("sy") * col("sy") / col("n").cast("double")), 6)
            .as("seasonal_strength"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type, hour(ts) AS h,
            ${Det.roundAtSql("\"value\"", 6)} AS y
          FROM events),
        cells AS (SELECT event_type, h, CAST(COUNT(*) AS BIGINT) AS nh,
            CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sh,
            CAST(SUM(CAST(y * y AS DECIMAL(28,12))) AS DOUBLE) AS sh2
          FROM e GROUP BY 1, 2),
        g AS (SELECT event_type, CAST(SUM(nh) AS BIGINT) AS n,
            CAST(SUM(CAST(sh AS DECIMAL(28,6))) AS DOUBLE) AS sy,
            CAST(SUM(CAST(sh2 AS DECIMAL(28,12))) AS DOUBLE) AS syy,
            CAST(SUM(CAST(${Det.roundAtSql(
              "(sh / nh) * (sh / nh) * CAST(nh AS DOUBLE)", 6)} AS DECIMAL(28,6))) AS DOUBLE) AS ssb_raw
          FROM cells GROUP BY 1),
        pk AS (SELECT event_type, m AS pkm, h AS pkh FROM (
            SELECT event_type, ${Det.roundAtSql("sh / nh", 6)} AS m, h,
              ROW_NUMBER() OVER (PARTITION BY event_type
                ORDER BY ${Det.roundAtSql("sh / nh", 6)} DESC, h ASC) AS rn
            FROM cells) WHERE rn = 1)
      SELECT g.event_type, n,
        ${Det.roundAtSql("sy / CAST(n AS DOUBLE)", 6)} AS mean,
        CAST(pkh AS BIGINT) AS peak_hour,
        ${Det.roundAtSql("pkm / (sy / CAST(n AS DOUBLE))", 6)} AS peak_index,
        ${Det.roundAtSql(
          "(ssb_raw - sy * sy / CAST(n AS DOUBLE)) / (syy - sy * sy / CAST(n AS DOUBLE))", 6)} AS seasonal_strength
      FROM g JOIN pk ON pk.event_type = g.event_type ORDER BY g.event_type"""))

  // q202 — GROUP-MEDIAN IMPUTATION audit: a deterministic 10% MCAR mask
  // (event_id % 10 — synthetic, since the testdata ships null-free)
  // "loses" values; each event_type imputes with the exact median of its
  // OBSERVED values and reports how the mean moves. The whole repair is
  // ONE map-side-combinable aggregate — the imputed mean is
  // (Σobs + n_miss·median)/n, algebra over the group's own aggregates,
  // so no second pass rewrites rows (at 100 TB the fill itself is a
  // broadcast join of this 5-row frame onto the scan — the audit decides
  // whether it ships). Exact interpolated median (Spark `percentile` ⇔
  // DuckDB `quantile_cont`, the q07-proven pairing) over 1e-6-quantized
  // values; means from decimal-exact sums.
  private val q202 = Q(
    "q202_impute_median",
    (s, dir) => {
      val miss = col("event_id") % 10 === 0
      val obs = when(!miss, Det.roundAt(col("value"), 6))
      tbl(s, dir, "events")
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(miss.cast("long")).as("n_missing"),
          Det.roundAt(percentile(obs, lit(0.5)), 6).as("median_fill"),
          Det.dsum(obs, 6).as("sobs"))
        .select(col("event_type"), col("n"), col("n_missing"),
          col("median_fill"),
          Det.roundAt(col("sobs") / (col("n") - col("n_missing")).cast("double"), 6)
            .as("mean_observed"),
          Det.roundAt((col("sobs")
            + col("n_missing").cast("double") * col("median_fill"))
            / col("n").cast("double"), 6).as("mean_imputed"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_type, event_id % 10 = 0 AS miss,
            CASE WHEN event_id % 10 <> 0
              THEN ${Det.roundAtSql("\"value\"", 6)} END AS obs
          FROM events),
        g AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
            CAST(SUM(CASE WHEN miss THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
            ${Det.roundAtSql("quantile_cont(obs, 0.5)", 6)} AS median_fill,
            CAST(SUM(CAST(obs AS DECIMAL(28,6))) AS DOUBLE) AS sobs
          FROM e GROUP BY 1)
      SELECT event_type, n, n_missing, median_fill,
        ${Det.roundAtSql("sobs / CAST(n - n_missing AS DOUBLE)", 6)} AS mean_observed,
        ${Det.roundAtSql(
          "(sobs + CAST(n_missing AS DOUBLE) * median_fill) / CAST(n AS DOUBLE)", 6)} AS mean_imputed
      FROM g ORDER BY event_type"""))

  // q203 — FUNCTIONAL-DEPENDENCY discovery audit (Metanome-style data
  // profiling): does A determine B? For each candidate FD, the number of
  // determinant groups carrying >1 distinct dependent value — the
  // constraint-mining complement to q120's DECLARED PK/FK checks
  // (q120 verifies constraints you assert; this measures ones you
  // suspect). Each FD is one shuffle at determinant grain with a
  // countDistinct that is itself a partial aggregate; the three 1-row
  // audit frames union. Integers until the rate division.
  private val q203 = Q(
    "q203_fd_violations",
    (s, dir) => {
      def fd(df: org.apache.spark.sql.DataFrame, name: String,
             a: String, b: String) =
        df.groupBy(col(a)).agg(countDistinct(col(b)).as("nd"))
          .agg(lit(name).as("fd"), count(lit(1)).as("n_groups"),
            sum((col("nd") > 1).cast("long")).as("n_violating"),
            max(col("nd")).as("max_distinct"))
          .select(col("fd"), col("n_groups"), col("n_violating"),
            col("max_distinct"),
            Det.roundAt(col("n_violating").cast("double")
              / col("n_groups").cast("double"), 6).as("violation_rate"))
      val orders = tbl(s, dir, "orders")
      val li = tbl(s, dir, "lineitem")
      fd(orders, "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")
        .unionAll(fd(orders, "o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus"))
        .unionAll(fd(li, "l_partkey->l_suppkey", "l_partkey", "l_suppkey"))
        .orderBy("fd")
    },
    Some {
      def fd(tbl: String, name: String, a: String, b: String) =
        s"""SELECT '$name' AS fd, CAST(COUNT(*) AS BIGINT) AS n_groups,
            CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating,
            CAST(MAX(nd) AS BIGINT) AS max_distinct,
            ${Det.roundAtSql(
              "CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS violation_rate
          FROM (SELECT $a, COUNT(DISTINCT $b) AS nd FROM $tbl GROUP BY $a)"""
      s"""${fd("orders", "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority")}
        UNION ALL ${fd("orders", "o_orderkey->o_orderstatus", "o_orderkey", "o_orderstatus")}
        UNION ALL ${fd("lineitem", "l_partkey->l_suppkey", "l_partkey", "l_suppkey")}
        ORDER BY fd"""
    })

  // q204 — GRID-BLOCKED SPATIAL RADIUS JOIN (the geohash-blocking shape):
  // customers and suppliers placed on a synthetic 1000×1000 plane
  // (portable-hash coordinates in integer TENTHS, so geometry is pure
  // int arithmetic both engines), pairs within radius 50.0 found by
  // registering suppliers in radius-sized grid cells and probing each
  // customer's 3×3 neighborhood — candidates shrink from |C|·|S| to the
  // occupancy of 9 cells, then an exact integer distance² verify. The
  // same plan at 100 TB: the explode is ×9 on the PROBE side only, the
  // join is a plain equi-join on cell id (shuffle- or broadcast-hash,
  // never nested-loop — the global cartesian guard covers this query
  // too), and skewed cells behave like any hot equi-join key (salt or
  // AQE). Summary grain output; distances stay integer until two final
  // divisions.
  private val q204 = Q(
    "q204_spatial_radius_join",
    (s, dir) => {
      import graft.functions.TextFns.portableHash
      val R = 500L // radius in tenths = 50.0 units; also the cell size
      // coordinates and cell ids are coalesce-declared non-nullable
      // (pmod and integer div are syntactically always-nullable): the
      // cell equi-join otherwise infers isnotnull(cx/cy) on both sides
      // and pushdown inlines the whole hash chain into the inferred
      // filters (round-9 plan census — 6 extra hash evals per row)
      def nn(c: org.apache.spark.sql.Column) = coalesce(c, lit(Long.MinValue))
      def pt(df: org.apache.spark.sql.DataFrame, key: String, salt: String) =
        df.select(col(key).as("id"),
          nn(pmod(portableHash(concat(lit(salt + "x:"), col(key))), lit(10000L))).as("x"),
          nn(pmod(portableHash(concat(lit(salt + "y:"), col(key))), lit(10000L))).as("y"))
      val cust = pt(tbl(s, dir, "customer"), "c_custkey", "cu")
      val supp = pt(tbl(s, dir, "supplier"), "s_suppkey", "su")
        .select(col("id").as("sid"), col("x").as("sx"), col("y").as("sy"),
          nn(expr(s"x div $R")).as("cx"), nn(expr(s"y div $R")).as("cy"))
      val probe = cust
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .select(col("id"), col("x"), col("y"),
          (nn(expr(s"x div $R")) + col("dx")).as("cx"),
          (nn(expr(s"y div $R")) + col("dy")).as("cy"))
      val pairs = probe.join(supp, Seq("cx", "cy"))
        .withColumn("d2", (col("x") - col("sx")) * (col("x") - col("sx"))
          + (col("y") - col("sy")) * (col("y") - col("sy")))
        .filter(col("d2") <= lit(R * R))
      pairs.agg(
          count(lit(1)).as("n_pairs"),
          countDistinct(col("id")).as("n_customers_matched"),
          countDistinct(col("sid")).as("n_suppliers_matched"),
          min(col("d2")).as("min_d2"),
          sum(col("d2")).as("sum_d2"))
        .select(col("n_pairs"), col("n_customers_matched"),
          col("n_suppliers_matched"), col("min_d2"),
          Det.roundAt(sqrt(col("sum_d2").cast("double")
            / col("n_pairs").cast("double")) / lit(10.0), 6).as("rms_dist"))
    },
    Some {
      import graft.functions.TextFns.portableHashSql
      val R = 500L
      def h(salt: String, key: String) =
        s"${portableHashSql(s"'$salt' || CAST($key AS VARCHAR)")} % 10000"
      s"""WITH cust AS (SELECT c_custkey AS id,
            ${h("cux:", "c_custkey")} AS x, ${h("cuy:", "c_custkey")} AS y
          FROM customer),
        supp AS (SELECT s_suppkey AS sid,
            ${h("sux:", "s_suppkey")} AS sx, ${h("suy:", "s_suppkey")} AS sy
          FROM supplier),
        sg AS (SELECT sid, sx, sy, sx // $R AS cx, sy // $R AS cy FROM supp),
        probe AS (SELECT id, x, y, x // $R + dx.o AS cx, y // $R + dy.o AS cy
          FROM cust
          CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) dx
          CROSS JOIN (SELECT unnest([-1, 0, 1]) AS o) dy),
        pairs AS (SELECT id, sid,
            (x - sx) * (x - sx) + (y - sy) * (y - sy) AS d2
          FROM probe JOIN sg USING (cx, cy)
          WHERE (x - sx) * (x - sx) + (y - sy) * (y - sy) <= ${R * R})
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        CAST(COUNT(DISTINCT id) AS BIGINT) AS n_customers_matched,
        CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_suppliers_matched,
        CAST(MIN(d2) AS BIGINT) AS min_d2,
        ${Det.roundAtSql(
          "sqrt(CAST(SUM(d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) / 10.0", 6)} AS rms_dist
      FROM pairs"""
    },
    headline = true)

  // q205 — SEQUENCE-PATTERN MATCHING over per-user event histories (the
  // MATCH_RECOGNIZE/CEP shape, reduced to map-reduce): each user's
  // events collapse — ordered by (ts, event_id) — into a one-char-per-
  // event string (first letters of the 5 event types are distinct), and
  // patterns become regexes counted per user: `v[^ep]*p` = a view
  // converting to purchase with no error between; `e[^v]*e` = repeated
  // errors with no recovering view. The regex class is deliberately
  // backtrack-free (negated-class runs), so Java regex (Spark) and RE2
  // (DuckDB) agree on non-overlapping leftmost matches. Scale: ONE
  // shuffle to user grain; the per-user history string is bounded by
  // per-user activity (the session-history invariant every CEP engine
  // needs) — pattern counting is then row-local codegen'd string work.
  // q37/q97/q101 cover fixed funnels; this is the arbitrary-pattern
  // generalization.
  private val q205 = Q(
    "q205_seq_pattern",
    (s, dir) => {
      val seqs = tbl(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          substring(col("event_type"), 1, 1).as("ch"))
        .groupBy("user_id")
        .agg(array_join(transform(
          array_sort(collect_list(struct(col("ts"), col("event_id"), col("ch")))),
          x => x.getField("ch")), "").as("seq"))
      val vp = regexp_count(col("seq"), lit("v[^ep]*p"))
      val ee = regexp_count(col("seq"), lit("e[^v]*e"))
      seqs.agg(
          count(lit(1)).as("n_users"),
          sum((vp > 0).cast("long")).as("users_converting"),
          sum(vp.cast("long")).as("n_conversions"),
          sum((ee > 0).cast("long")).as("users_error_runs"),
          sum(ee.cast("long")).as("n_error_runs"))
        .select(col("n_users"), col("users_converting"), col("n_conversions"),
          col("users_error_runs"), col("n_error_runs"),
          Det.roundAt(col("users_converting").cast("double")
            / col("n_users").cast("double"), 6).as("conversion_user_rate"))
    },
    Some(s"""WITH seqs AS (SELECT user_id,
            string_agg(substr(event_type, 1, 1), '' ORDER BY ts, event_id) AS seq
          FROM events GROUP BY user_id),
        m AS (SELECT user_id,
            len(regexp_extract_all(seq, 'v[^ep]*p')) AS vp,
            len(regexp_extract_all(seq, 'e[^v]*e')) AS ee
          FROM seqs)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(CASE WHEN vp > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_converting,
        CAST(SUM(vp) AS BIGINT) AS n_conversions,
        CAST(SUM(CASE WHEN ee > 0 THEN 1 ELSE 0 END) AS BIGINT) AS users_error_runs,
        CAST(SUM(ee) AS BIGINT) AS n_error_runs,
        ${Det.roundAtSql(
          "CAST(SUM(CASE WHEN vp > 0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)", 6)} AS conversion_user_rate
      FROM m"""),
    headline = true)

  // q207 — WATERMARK / LATE-DATA AUDIT: how late does this stream
  // arrive? Per event, lateness = (max event-time seen so far in
  // ARRIVAL order) − its own event time; the rollup counts events a
  // 10-minute and a 1-hour watermark would DROP — the number you read
  // BEFORE picking the Streams watermark, closing the loop with the
  // streaming family's fixed "10 minutes". The synthetic events table
  // ships time-ordered (it has no arrival column), so arrival is
  // simulated by a deterministic hash permutation of event_id — the
  // audit exercises real disorder and stays engine-exact. The global
  // running max is computed in TWO LEVELS (the q82 prefix-sum shape):
  // per-block running max partitioned by the hash's high bits (monotone
  // in arrival order, ~1024 blocks), plus one tiny window over block
  // summaries — never a single-partition window over the corpus. Times
  // are epoch seconds (Spark cast ≡ DuckDB epoch_ns//1e9), all integer.
  private val q207 = Q(
    "q207_late_data_audit",
    (s, dir) => {
      import graft.functions.TextFns.portableHash
      val HI = 1L << 50 // 60-bit hash → high 10 bits = arrival block
      val e = tbl(s, dir, "events").select(
        col("event_id"), col("event_type"), col("ts").cast("long").as("sec"),
        portableHash(concat(lit("arr:"), col("event_id"))).as("h"))
        .withColumn("blk", expr(s"h div $HI"))
      val wIn = Window.partitionBy("blk").orderBy("h", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wBlk = Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val blkPrev = e.groupBy("blk").agg(max(col("sec")).as("bmax"))
        .withColumn("prevmax", max(col("bmax")).over(wBlk))
        .select("blk", "prevmax")
      e.join(blkPrev, Seq("blk"))
        .withColumn("priormax",
          greatest(coalesce(max(col("sec")).over(wIn), col("sec")),
            coalesce(col("prevmax"), col("sec"))))
        .withColumn("late", greatest(col("priormax") - col("sec"), lit(0L)))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum((col("late") > 600L).cast("long")).as("n_late_10m"),
          sum((col("late") > 3600L).cast("long")).as("n_late_1h"),
          max(col("late")).as("max_lateness_sec"),
          sum(col("late")).as("sum_lateness_sec"))
        .orderBy("event_type")
    },
    Some(s"""WITH e AS (SELECT event_id, event_type,
            epoch_ns(ts) // 1000000000 AS sec,
            ${graft.functions.TextFns.portableHashSql(
              "'arr:' || CAST(event_id AS VARCHAR)")} AS h
          FROM events),
        w AS (SELECT event_type, sec,
            MAX(sec) OVER (ORDER BY h, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS priormax
          FROM e),
        l AS (SELECT event_type,
            CASE WHEN priormax IS NULL OR priormax <= sec THEN 0
                 ELSE priormax - sec END AS late
          FROM w)
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(CASE WHEN late > 600 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_10m,
        CAST(SUM(CASE WHEN late > 3600 THEN 1 ELSE 0 END) AS BIGINT) AS n_late_1h,
        CAST(MAX(late) AS BIGINT) AS max_lateness_sec,
        CAST(SUM(late) AS BIGINT) AS sum_lateness_sec
      FROM l GROUP BY event_type ORDER BY event_type"""))

  // q208 — ROLLING 24-BUCKET CORRELATION between the hourly view and
  // purchase count series (the co-movement monitor: does demand still
  // track traffic, and when does the relationship break?). The corpus
  // reduces ONCE to an hourly two-column series (map-side combined);
  // rolling Pearson over the trailing 24 buckets comes from rolling
  // INTEGER sums (Σx, Σy, Σxy, Σx², Σy²) in one window pass — counts
  // are integers, so every windowed moment is exact and r is a fixed
  // double formula per bucket. Windows shorter than 24 buckets (series
  // head) are excluded by the count guard on both sides. The summary
  // reports the distribution of r plus its argmin hour — where
  // co-movement broke worst. Window input is the bucketed series, never
  // the raw rows.
  private val q208 = Q(
    "q208_rolling_corr",
    (s, dir) => {
      val hourly = tbl(s, dir, "events")
        .filter(col("event_type").isin("view", "purchase"))
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("y"))
      val w = Window.orderBy("h").rowsBetween(-23, 0)
      val rolled = hourly.select(col("h"),
          count(lit(1)).over(w).as("cnt"),
          sum(col("x")).over(w).as("sx"), sum(col("y")).over(w).as("sy"),
          sum(col("x") * col("y")).over(w).as("sxy"),
          sum(col("x") * col("x")).over(w).as("sxx"),
          sum(col("y") * col("y")).over(w).as("syy"))
        .filter(col("cnt") === 24)
      val n = lit(24.0)
      // NOTE: operators stay at END of line — a leading `-` on a
      // continuation line silently becomes a discarded unary expression
      val num = n * col("sxy").cast("double") -
        col("sx").cast("double") * col("sy").cast("double")
      val den = sqrt(
        (n * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) *
        (n * col("syy").cast("double") -
          col("sy").cast("double") * col("sy").cast("double")))
      val scored = rolled.select(col("h"), Det.roundAt(num / den, 6).as("r"))
      scored.agg(
          count(lit(1)).as("n_windows"),
          min(col("r")).as("min_r"), max(col("r")).as("max_r"),
          Det.roundAt(Det.dsum(col("r"), 6) / count(lit(1)), 6).as("avg_r"),
          min(struct(col("r"), col("h"))).as("worst"))
        .select(col("n_windows"), col("min_r"), col("max_r"), col("avg_r"),
          date_format(col("worst.h"), "yyyy-MM-dd HH:mm").as("worst_hour"))
    },
    Some(s"""WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
            CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
            CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
          FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1),
        rolled AS (SELECT h,
            COUNT(*) OVER w AS cnt,
            SUM(x) OVER w AS sx, SUM(y) OVER w AS sy,
            SUM(x * y) OVER w AS sxy, SUM(x * x) OVER w AS sxx,
            SUM(y * y) OVER w AS syy
          FROM hourly
          WINDOW w AS (ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
        scored AS (SELECT h, ${Det.roundAtSql(
            "(24.0 * sxy - CAST(sx AS DOUBLE) * sy)" +
            " / sqrt((24.0 * sxx - CAST(sx AS DOUBLE) * sx)" +
            " * (24.0 * syy - CAST(sy AS DOUBLE) * sy))", 6)} AS r
          FROM rolled WHERE cnt = 24),
        worst AS (SELECT h FROM scored ORDER BY r, h LIMIT 1)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
        MIN(r) AS min_r, MAX(r) AS max_r,
        ${Det.roundAtSql(
          "CAST(SUM(CAST(r AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)", 6)} AS avg_r,
        (SELECT strftime(h, '%Y-%m-%d %H:%M') FROM worst) AS worst_hour
      FROM scored"""))

  // q209 — JOIN-CARDINALITY ESTIMATION audit (the System-R/CBO formula
  // the optimizer itself uses): per hash bucket of the join key,
  // estimate |orders ⋈ lineitem| as rows_o·rows_l/max(ndv_o, ndv_l)
  // under the uniformity assumption, and compare to the EXACT join size
  // Σ_k cnt_o(k)·cnt_l(k) — the audit that tells you how far the
  // cost model drifts on your actual key distribution before you trust
  // its join ordering. Both sides are key-grain aggregates (the exact
  // count needs key-grain frequencies, never the joined rows
  // themselves); estimate terms are 1e-6-rounded before the decimal
  // sum. Integers everywhere else.
  private val q209 = Q(
    "q209_join_size_estimate",
    (s, dir) => {
      def audit(name: String, o: org.apache.spark.sql.DataFrame,
                l: org.apache.spark.sql.DataFrame) = {
        val exact = o.groupBy("k").agg(count(lit(1)).as("co"))
          .join(l.groupBy("k").agg(count(lit(1)).as("cl")), Seq("k"))
          .agg(sum(col("co") * col("cl")).as("exact_rows"))
        val est = o.groupBy("b").agg(count(lit(1)).as("ro"), countDistinct("k").as("do"))
          .join(l.groupBy("b").agg(count(lit(1)).as("rl"), countDistinct("k").as("dl")),
            Seq("b"))
          .select(Det.roundAt(col("ro").cast("double") * col("rl").cast("double") /
            greatest(col("do"), col("dl")).cast("double"), 6).as("t"))
          .agg(count(lit(1)).as("n_buckets"),
            Det.roundAt(Det.dsum(col("t"), 6), 6).as("est_rows"))
        est.crossJoin(broadcast(exact))
          .select(lit(name).as("scenario"), col("n_buckets"), col("exact_rows"),
            col("est_rows"),
            Det.roundAt(abs(col("est_rows") - col("exact_rows").cast("double")) /
              col("exact_rows").cast("double"), 6).as("rel_error"))
      }
      val orders = tbl(s, dir, "orders")
      // FK join, 16 uniform hash buckets — the case the formula nails
      val fk = audit("fk_uniform",
        orders.select(col("o_orderkey").as("k"), pmod(col("o_orderkey"), lit(16L)).as("b")),
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("k"), pmod(col("l_orderkey"), lit(16L)).as("b")))
      // low-cardinality self-join with keys of UNequal frequency sharing a
      // bucket — where the uniformity assumption visibly drifts
      val pk = orders.select(col("o_orderpriority").as("k"),
        pmod(ascii(substring(col("o_orderpriority"), 1, 1)), lit(2)).as("b"))
      fk.unionAll(audit("skewed_lowcard", pk, pk)).orderBy("scenario")
    },
    Some {
      def audit(name: String, oSel: String, lSel: String) =
        s"""SELECT '$name' AS scenario, n_buckets, exact_rows, est_rows,
          ${Det.roundAtSql(
            "abs(est_rows - CAST(exact_rows AS DOUBLE)) / CAST(exact_rows AS DOUBLE)", 6)} AS rel_error
        FROM
          (SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets, ${Det.roundAtSql(
              "CAST(SUM(CAST(t AS DECIMAL(28,6))) AS DOUBLE)", 6)} AS est_rows
            FROM (SELECT ${Det.roundAtSql(
                "CAST(ro AS DOUBLE) * CAST(rl AS DOUBLE) / CAST(greatest(do_, dl) AS DOUBLE)", 6)} AS t
              FROM (SELECT b, CAST(COUNT(*) AS BIGINT) AS ro,
                  CAST(COUNT(DISTINCT k) AS BIGINT) AS do_ FROM ($oSel) GROUP BY 1) og
              JOIN (SELECT b, CAST(COUNT(*) AS BIGINT) AS rl,
                  CAST(COUNT(DISTINCT k) AS BIGINT) AS dl FROM ($lSel) GROUP BY 1) lg
              USING (b))) est
        CROSS JOIN
          (SELECT CAST(SUM(co * cl) AS BIGINT) AS exact_rows FROM
            (SELECT k, CAST(COUNT(*) AS BIGINT) AS co FROM ($oSel) GROUP BY 1) oo
            JOIN (SELECT k, CAST(COUNT(*) AS BIGINT) AS cl FROM ($lSel) GROUP BY 1) ll
            USING (k)) ex"""
      val oFk = "SELECT o_orderkey AS k, o_orderkey % 16 AS b FROM orders"
      val lFk = "SELECT l_orderkey AS k, l_orderkey % 16 AS b FROM lineitem"
      val pk = "SELECT o_orderpriority AS k, ascii(substr(o_orderpriority, 1, 1)) % 2 AS b FROM orders"
      s"""${audit("fk_uniform", oFk, lFk)}
        UNION ALL ${audit("skewed_lowcard", pk, pk)}
        ORDER BY scenario"""
    })

  // q210 — HIERARCHICAL SHARE-OF-PARENT rollup (region → nation →
  // customer-segment): each level's revenue as a fraction of its parent
  // level — the drill-down view every BI layer derives from one wide
  // aggregate, expressed as ONE shuffle to the finest grain plus
  // partition windows re-aggregating upward (no rescan per level, no
  // second shuffle: the windows share the finest grain's partitioning
  // prefix). Revenue in exact decimal; shares are single divisions of
  // those exact sums, 1e-6-rounded. Output at segment grain carries its
  // own share, its nation's share of the region, and the region's share
  // of the total — the full drill path per row.
  private val q210 = Q(
    "q210_share_of_parent",
    (s, dir) => {
      val rev = tbl(s, dir, "orders")
        .join(tbl(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(tbl(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(tbl(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"), col("c_mktsegment").as("segment"))
        .agg(Det.dsum(col("o_totalprice")).as("rev"))
      val wN = Window.partitionBy("r_name", "n_name")
      val wR = Window.partitionBy("r_name")
      val wT = Window.partitionBy()
      rev.select(col("r_name"), col("n_name"), col("segment"),
          Det.roundAt(col("rev"), 2).as("rev"),
          Det.roundAt(col("rev") / sum(col("rev")).over(wN), 6).as("seg_share_of_nation"),
          Det.roundAt(sum(col("rev")).over(wN) / sum(col("rev")).over(wR), 6)
            .as("nation_share_of_region"),
          Det.roundAt(sum(col("rev")).over(wR) / sum(col("rev")).over(wT), 6)
            .as("region_share_of_total"))
        .orderBy("r_name", "n_name", "segment")
    },
    Some(s"""WITH rev AS (SELECT r_name, n_name, c_mktsegment AS segment,
            CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS rev
          FROM orders
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY 1, 2, 3)
      SELECT r_name, n_name, segment, ${Det.roundAtSql("rev", 2)} AS rev,
        ${Det.roundAtSql("rev / SUM(rev) OVER (PARTITION BY r_name, n_name)", 6)} AS seg_share_of_nation,
        ${Det.roundAtSql(
          "SUM(rev) OVER (PARTITION BY r_name, n_name) / SUM(rev) OVER (PARTITION BY r_name)", 6)} AS nation_share_of_region,
        ${Det.roundAtSql(
          "SUM(rev) OVER (PARTITION BY r_name) / SUM(rev) OVER ()", 6)} AS region_share_of_total
      FROM rev ORDER BY r_name, n_name, segment"""))

  // q211 — ABC (PARETO) CLASSIFICATION of parts by revenue: cumulative
  // revenue share ranks parts into A (first 70% of revenue), B (next
  // 20%), C (tail) — the inventory-analytics classic. Part grain SCALES
  // WITH DATA, so the cumulative sum must not be a single-partition
  // global window: it runs in TWO LEVELS (the q207 shape) — blocks are
  // revenue-range buckets (monotone in the sort order, equal revenues
  // can't straddle one), within-block running decimal sums in parallel,
  // plus one tiny window over block totals. The DuckDB oracle computes
  // the same classification with a plain global window, so the
  // bit-for-bit match proves the decomposition; all sums exact decimal.
  private val q211 = Q(
    "q211_abc_classification",
    (s, dir) => {
      val byPart = tbl(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(Det.dsum(col("l_extendedprice")).as("rev"))
        .withColumn("blk", -floor(col("rev") / lit(100000.0)).cast("long"))
      val wIn = Window.partitionBy("blk")
        .orderBy(desc("rev"), asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wBlk = Window.orderBy("blk")
        .rowsBetween(Window.unboundedPreceding, -1)
      val blkOff = byPart.groupBy("blk")
        .agg(sum(col("rev").cast("decimal(28,2)")).as("btot"))
        .withColumn("boff", coalesce(sum(col("btot")).over(wBlk),
          lit(0).cast("decimal(28,2)")))
        .select("blk", "boff")
      val total = byPart.agg(sum(col("rev").cast("decimal(28,2)")).as("tot"))
      val classed = byPart
        .withColumn("cumin", sum(col("rev").cast("decimal(28,2)")).over(wIn))
        .join(blkOff, Seq("blk"))
        .crossJoin(broadcast(total))
        .withColumn("cumshare",
          (col("boff") + col("cumin")).cast("double") / col("tot").cast("double"))
        .withColumn("cls", when(col("cumshare") <= 0.7, "A")
          .when(col("cumshare") <= 0.9, "B").otherwise("C"))
      classed.groupBy("cls")
        .agg(count(lit(1)).as("n_parts"),
          Det.roundAt(sum(col("rev").cast("decimal(28,2)")).cast("double"), 2)
            .as("class_rev"),
          Det.roundAt(min(col("cumshare")), 6).as("min_cumshare"),
          Det.roundAt(max(col("cumshare")), 6).as("max_cumshare"))
        .orderBy("cls")
    },
    Some(s"""WITH p AS (SELECT l_partkey,
            CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS rev
          FROM lineitem GROUP BY 1),
        c AS (SELECT l_partkey, rev,
            CAST(SUM(CAST(rev AS DECIMAL(28,2))) OVER
              (ORDER BY rev DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            / CAST(SUM(CAST(rev AS DECIMAL(28,2))) OVER () AS DOUBLE) AS cumshare
          FROM p),
        k AS (SELECT rev, cumshare,
            CASE WHEN cumshare <= 0.7 THEN 'A'
                 WHEN cumshare <= 0.9 THEN 'B' ELSE 'C' END AS cls
          FROM c)
      SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_parts,
        ${Det.roundAtSql("CAST(SUM(CAST(rev AS DECIMAL(28,2))) AS DOUBLE)", 2)} AS class_rev,
        ${Det.roundAtSql("MIN(cumshare)", 6)} AS min_cumshare,
        ${Det.roundAtSql("MAX(cumshare)", 6)} AS max_cumshare
      FROM k GROUP BY cls ORDER BY cls"""))

  // q212 — DIFFERENCE-IN-DIFFERENCES estimator per event_type: the
  // pre/post × control/treatment 2×2 that separates a treatment effect
  // from a level shift both arms share — completing the experimentation
  // shelf (q187 CUPED adjusts variance, q192 Welch tests a point-in-time
  // gap, this handles "treatment started at T, was there an effect?").
  // Arms are the q187/q192 hash assignment (user_id parity); the period
  // split is the fixed calendar midpoint. One map-side-combinable
  // shuffle: all four cell means come from decimal-exact sums of
  // 6-dp values computed as conditional aggregates in a single pass —
  // never four scans, never a driver pivot.
  private val q212 = Q(
    "q212_diff_in_diff",
    (s, dir) => {
      val v = Det.roundAt(col("value"), 6)
      val isT = pmod(col("user_id"), lit(2)) === 1
      val isPost = col("ts") >= lit("2024-01-16").cast("timestamp")
      def cell(p: org.apache.spark.sql.Column, t: org.apache.spark.sql.Column,
               nm: String) = Seq(
        count(when(p && t, 1)).as(s"n_$nm"),
        Det.dsum(when(p && t, v), 6).as(s"s_$nm"))
      val cells = cell(!isPost, !isT, "pre_c") ++ cell(!isPost, isT, "pre_t") ++
        cell(isPost, !isT, "post_c") ++ cell(isPost, isT, "post_t")
      tbl(s, dir, "events")
        .groupBy("event_type")
        .agg(cells.head, cells.tail: _*)
        .select(col("event_type"),
          col("n_pre_c"), col("n_pre_t"), col("n_post_c"), col("n_post_t"),
          Det.roundAt(col("s_pre_c") / col("n_pre_c"), 6).as("mean_pre_control"),
          Det.roundAt(col("s_pre_t") / col("n_pre_t"), 6).as("mean_pre_treat"),
          Det.roundAt(col("s_post_c") / col("n_post_c"), 6).as("mean_post_control"),
          Det.roundAt(col("s_post_t") / col("n_post_t"), 6).as("mean_post_treat"),
          Det.roundAt((col("s_post_t") / col("n_post_t") - col("s_pre_t") / col("n_pre_t")) -
            (col("s_post_c") / col("n_post_c") - col("s_pre_c") / col("n_pre_c")), 6)
            .as("did"))
        .orderBy("event_type")
    },
    Some {
      def cell(cond: String, nm: String) =
        s"""CAST(COUNT(CASE WHEN $cond THEN 1 END) AS BIGINT) AS n_$nm,
           CAST(SUM(CASE WHEN $cond THEN CAST(v AS DECIMAL(28,6)) END) AS DOUBLE) AS s_$nm"""
      s"""WITH e AS (SELECT event_type,
            ${Det.roundAtSql("\"value\"", 6)} AS v,
            user_id % 2 = 1 AS t,
            ts >= TIMESTAMP '2024-01-16' AS post
          FROM events),
        m AS (SELECT event_type,
            ${cell("NOT post AND NOT t", "pre_c")},
            ${cell("NOT post AND t", "pre_t")},
            ${cell("post AND NOT t", "post_c")},
            ${cell("post AND t", "post_t")}
          FROM e GROUP BY 1)
      SELECT event_type, n_pre_c, n_pre_t, n_post_c, n_post_t,
        ${Det.roundAtSql("s_pre_c / n_pre_c", 6)} AS mean_pre_control,
        ${Det.roundAtSql("s_pre_t / n_pre_t", 6)} AS mean_pre_treat,
        ${Det.roundAtSql("s_post_c / n_post_c", 6)} AS mean_post_control,
        ${Det.roundAtSql("s_post_t / n_post_t", 6)} AS mean_post_treat,
        ${Det.roundAtSql(
          "(s_post_t / n_post_t - s_pre_t / n_pre_t) - (s_post_c / n_post_c - s_pre_c / n_pre_c)", 6)} AS did
      FROM m ORDER BY event_type"""
    })

  // q213 — TIME-TO-CONVERT distribution: for every view, the forward
  // as-of join (q70/q124's operator — union + one running window, no
  // inequality join) finds the user's NEXT purchase; the rollup reports
  // conversion rate and exact latency percentiles — the product-
  // analytics readout (how long does conversion take, p50 vs p90 tail)
  // that q97's funnel counts can't give. Latencies are integer epoch-
  // second differences; percentiles use the q07-proven `percentile` ⇔
  // `quantile_cont` pairing over converting views only.
  private val q213 = Q(
    "q213_time_to_convert",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purch = ev.filter(col("event_type") === "purchase")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("pid"))
      val lat = graft.operators.AsOf.forward(views, purch,
          "user_id", "user_id", "ts", "ts", Seq("ts"))
        .select(col("user_id"),
          (col("asof.ts").cast("long") - col("ts").cast("long")).as("lat"))
      lat.agg(
          count(lit(1)).as("n_views"),
          count(col("lat")).as("n_converted"),
          Det.roundAt(count(col("lat")).cast("double")
            / count(lit(1)).cast("double"), 6).as("conversion_rate"),
          Det.roundAt(percentile(col("lat").cast("double"), lit(0.5)), 4).as("p50_sec"),
          Det.roundAt(percentile(col("lat").cast("double"), lit(0.9)), 4).as("p90_sec"),
          max(col("lat")).as("max_sec"))
    },
    Some("""WITH p AS (SELECT user_id, ts, max(event_id) AS pid
          FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts),
        v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
        j AS (SELECT v.user_id,
            epoch_ns(p.ts) // 1000000000 - epoch_ns(v.ts) // 1000000000 AS lat
          FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts <= p.ts)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_views,
        CAST(COUNT(lat) AS BIGINT) AS n_converted,
        floor(CAST(COUNT(lat) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS conversion_rate,
        floor(quantile_cont(CAST(lat AS DOUBLE), 0.5) * 10000 + 0.5) / 10000 AS p50_sec,
        floor(quantile_cont(CAST(lat AS DOUBLE), 0.9) * 10000 + 0.5) / 10000 AS p90_sec,
        CAST(MAX(lat) AS BIGINT) AS max_sec
      FROM j"""))

  // q214 — K-HOP REACHABILITY (operators/Graph.bfsLevels): BFS levels
  // over the customer–supplier bipartite graph (an edge where the
  // customer ever ordered from the supplier; nodes encoded cust·2 /
  // supp·2+1 so one long id space carries both). Seeds are every 100th
  // customer; 3 hops. Per hop one frontier⋈edges join feeding one
  // vertex-grain min aggregate — never path-grain, which is why this
  // survives 100 TB where the oracle's path-enumerating recursive CTE
  // (fine at sf0.01) would explode. Rollup is level-grain (≤4 rows).
  private val q214 = Q(
    "q214_khop_reach",
    (s, dir) => {
      val pairs = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      // raw (possibly duplicated) pairs: bfsLevels dedups edges once —
      // deduping here too would add a redundant shuffle. Symmetrize in
      // ONE pass (explode) so the orders⋈lineitem build isn't planned
      // once per union branch (round 14, guide §2.4).
      val edges = graft.operators.Graph.symmetrized(pairs, "c", "s")
      val seeds = tbl(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") * 2).as("id"))
      graft.operators.Graph.bfsLevels(edges, seeds, maxHops = 3)
        .groupBy("level")
        .agg(count(lit(1)).as("n_nodes"),
          sum((col("id") % 2 === 0).cast("long")).as("n_customers"),
          sum((col("id") % 2 === 1).cast("long")).as("n_suppliers"),
          sum(col("id")).as("id_checksum"))
        .orderBy("level")
    },
    Some("""WITH RECURSIVE pairs AS (
          SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM pairs
          UNION ALL SELECT s, c FROM pairs),
        reach(id, lvl) AS (
          SELECT c_custkey * 2, 0 FROM customer WHERE c_custkey % 100 = 0
          UNION ALL
          SELECT e.dst, r.lvl + 1 FROM reach r JOIN edges e ON e.src = r.id
          WHERE r.lvl < 3),
        m AS (SELECT id, MIN(lvl) AS level FROM reach GROUP BY id)
      SELECT CAST(level AS BIGINT) AS level, COUNT(*) AS n_nodes,
        CAST(SUM(CASE WHEN id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_customers,
        CAST(SUM(CASE WHEN id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_suppliers,
        CAST(SUM(id) AS BIGINT) AS id_checksum
      FROM m GROUP BY level ORDER BY level"""),
    headline = true)

  // q215 — BOUNDED CHEAPEST PATH (operators/Graph.cheapestPath): ≤3-hop
  // Bellman-Ford over the same bipartite graph, edge weight = the pair's
  // minimum ordered quantity (integer-exact long, so every path cost and
  // min is portable bit-for-bit). Each round is one vertex-grain shuffle;
  // the oracle enumerates ≤3-edge paths recursively — correct at sf0.01,
  // deliberately NOT the Spark plan shape.
  private val q215 = Q(
    "q215_cheapest_route",
    (s, dir) => {
      val raw = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(tbl(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"),
          col("l_quantity").cast("long").as("w"))
      // one-pass symmetrization (see q214) — the weight rides the explode
      val edges = graft.operators.Graph.symmetrized(raw, "c", "s", Seq("w"))
      val seeds = tbl(s, dir, "customer").filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") * 2).as("id"))
      graft.operators.Graph.cheapestPath(edges, seeds, maxHops = 3)
        .groupBy(when(col("id") % 2 === 0, "customer").otherwise("supplier").as("kind"))
        .agg(count(lit(1)).as("n_nodes"),
          sum(col("cost")).as("sum_cost"),
          min(col("cost")).as("min_cost"),
          max(col("cost")).as("max_cost"))
        .orderBy("kind")
    },
    Some("""WITH RECURSIVE pw AS (
          SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
            MIN(CAST(l_quantity AS BIGINT)) AS w
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey
          GROUP BY 1, 2),
        edges AS (SELECT c AS src, s AS dst, w FROM pw
          UNION ALL SELECT s, c, w FROM pw),
        reach(id, cost, lvl) AS (
          SELECT c_custkey * 2, CAST(0 AS BIGINT), 0
          FROM customer WHERE c_custkey % 100 = 0
          UNION ALL
          SELECT e.dst, r.cost + e.w, r.lvl + 1
          FROM reach r JOIN edges e ON e.src = r.id WHERE r.lvl < 3),
        m AS (SELECT id, MIN(cost) AS cost FROM reach GROUP BY id)
      SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        COUNT(*) AS n_nodes, CAST(SUM(cost) AS BIGINT) AS sum_cost,
        CAST(MIN(cost) AS BIGINT) AS min_cost, CAST(MAX(cost) AS BIGINT) AS max_cost
      FROM m GROUP BY 1 ORDER BY 1"""))

  // q216 — INTERVAL OVERLAP JOIN: per-user activity sessions (30-min
  // gap, native session_window) against global error-burst "outage"
  // windows (10-min gap), overlap measured in integer seconds on
  // half-open [start, last+gap) intervals — so the inequality
  // `a_s < o_e AND o_s < a_e` is exactly `overlap > 0` and every number
  // is integer-exact. The Spark plan is the RANGE-JOIN-AS-EQUI-JOIN
  // shape: both interval sets explode to covered hour cells, equi-join
  // on cell, dedup the (session, outage) pair, THEN compute overlap —
  // no inequality join, no cartesian; per-interval cell fan-out is
  // bounded by interval length, never corpus size. The oracle uses the
  // inequality join directly (fine at sf0.01, not the scale shape).
  private val q216 = Q(
    "q216_overlap_join",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
      def toSec(c: org.apache.spark.sql.Column) = c.cast("long")
      val sess = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(toSec(min(col("ts"))).as("a_s"),
          (toSec(max(col("ts"))) + 1800L).as("a_e"))
        .select("user_id", "a_s", "a_e")
      val outage = ev.filter(col("event_type") === "error")
        .groupBy(session_window(col("ts"), "10 minutes"))
        .agg(toSec(min(col("ts"))).as("o_s"),
          (toSec(max(col("ts"))) + 600L).as("o_e"))
        .select("o_s", "o_e")
      def cells(df: org.apache.spark.sql.DataFrame, s0: String, e0: String) =
        df.withColumn("cell",
          explode(sequence(col(s0) / 3600L cast "long", col(e0) / 3600L cast "long")))
      val pairs = cells(sess, "a_s", "a_e")
        .join(cells(outage, "o_s", "o_e"), "cell")
        .dropDuplicates("user_id", "a_s", "o_s")
        .withColumn("ov",
          greatest(least(col("a_e"), col("o_e")) - greatest(col("a_s"), col("o_s")), lit(0L)))
        .filter(col("ov") > 0)
      val perUser = pairs.groupBy("user_id")
        .agg(countDistinct(col("a_s")).as("n_overlap_sessions"),
          sum(col("ov")).as("overlap_sec"))
      sess.groupBy("user_id").agg(count(lit(1)).as("n_sessions"))
        .join(perUser, Seq("user_id"), "left")
        .select(col("user_id"), col("n_sessions"),
          coalesce(col("n_overlap_sessions"), lit(0L)).as("n_overlap_sessions"),
          coalesce(col("overlap_sec"), lit(0L)).as("overlap_sec"))
        .orderBy("user_id")
    },
    Some("""WITH ue AS (SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      us AS (SELECT user_id, ts,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid FROM ue),
      a AS (SELECT user_id, epoch_ns(MIN(ts)) // 1000000000 AS a_s,
          epoch_ns(MAX(ts)) // 1000000000 + 1800 AS a_e
        FROM us GROUP BY user_id, sid),
      ee AS (SELECT ts, event_id,
          CASE WHEN lag(ts) OVER v IS NULL
            OR ts - lag(ts) OVER v >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS ns
        FROM events WHERE event_type = 'error'
        WINDOW v AS (ORDER BY ts, event_id)),
      es AS (SELECT ts, SUM(ns) OVER (ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS sid FROM ee),
      o AS (SELECT epoch_ns(MIN(ts)) // 1000000000 AS o_s,
          epoch_ns(MAX(ts)) // 1000000000 + 600 AS o_e
        FROM es GROUP BY sid),
      p AS (SELECT a.user_id, a.a_s,
          LEAST(a_e, o_e) - GREATEST(a_s, o_s) AS ov
        FROM a JOIN o ON a_s < o_e AND o_s < a_e),
      per AS (SELECT user_id, COUNT(DISTINCT a_s) AS n_overlap_sessions,
          CAST(SUM(ov) AS BIGINT) AS overlap_sec FROM p GROUP BY user_id),
      sc AS (SELECT user_id, COUNT(*) AS n_sessions FROM a GROUP BY user_id)
      SELECT sc.user_id, sc.n_sessions,
        COALESCE(per.n_overlap_sessions, 0) AS n_overlap_sessions,
        COALESCE(per.overlap_sec, 0) AS overlap_sec
      FROM sc LEFT JOIN per USING (user_id) ORDER BY sc.user_id"""))

  // q221 — MARKOV REMOVAL-EFFECT ATTRIBUTION (multi-touch marketing
  // attribution): user journeys (ordered event types truncated at first
  // purchase) become a start→…→conv/null chain; a channel's credit is
  // how much the 12-step conversion probability drops when its edges
  // are deleted. Journey extraction is the distributed part (q205's
  // bounded per-user array shape + one state-pair-grain groupBy); the
  // ≤7×7 matrix power iterations are bounded driver arithmetic (MMR
  // precedent), with every product quantized at 1e-12 so the oracle's
  // unrolled-CTE replay of the same 12 rounds ×5 scenarios matches
  // bit-for-bit.
  private val q221 = Q(
    "q221_markov_attribution",
    (s, dir) => {
      val trans = graft.operators.Funnel.journeyTransitions(
        tbl(s, dir, "events"), "user_id", "ts", "event_id", "event_type",
        convType = "purchase")
      graft.operators.Funnel.markovRemovalEffects(trans,
        channels = Seq("click", "error", "signup", "view"), steps = 12)
    },
    Some {
      val channels = Seq("click", "error", "signup", "view")
      def scen(tag: String, rm: Option[String]): String = {
        val filt = rm.map(r => s" AND m.f <> '$r' AND m.t <> '$r'").getOrElse("")
        val c0 = s"v_${tag}_0 AS (SELECT 'start' AS st, CAST(1.0 AS DOUBLE) AS p)"
        val cs = (1 to 12).map { k =>
          s"""v_${tag}_$k AS (SELECT m.t AS st,
              CAST(SUM(CAST(floor(v.p * m.p * 1e12 + 0.5) AS BIGINT)) AS DOUBLE) / 1e12 AS p
            FROM v_${tag}_${k - 1} v JOIN m ON m.f = v.st$filt GROUP BY m.t)"""
        }
        (c0 +: cs).mkString(",\n        ")
      }
      val scenarios = ("none", None) +: channels.map(c => (c, Some(c): Option[String]))
      val resRows = scenarios.map { case (tag, _) =>
        s"""SELECT '$tag' AS removed,
            COALESCE((SELECT p FROM v_${tag}_12 WHERE st = 'conv'), 0.0) AS pc"""
      }.mkString("\n          UNION ALL ")
      s"""WITH seqs AS (SELECT user_id,
            list(event_type ORDER BY ts, event_id) AS types
          FROM events GROUP BY user_id),
        fl AS (SELECT ['start']
            || (CASE WHEN idx > 0 THEN types[1:idx-1] ELSE types END)
            || [CASE WHEN idx > 0 THEN 'conv' ELSE 'null' END] AS fl
          FROM (SELECT types, list_position(types, 'purchase') AS idx FROM seqs)),
        pairs AS (SELECT u.p.f AS f, u.p.t AS t
          FROM fl, unnest(list_transform(range(1, len(fl)),
            i -> {'f': fl[i], 't': fl[i+1]})) AS u(p)),
        trans AS (SELECT f, t, COUNT(*) AS cnt FROM pairs GROUP BY f, t),
        outc AS (SELECT f, CAST(SUM(cnt) AS BIGINT) AS o FROM trans GROUP BY f),
        m AS (SELECT f, t, CAST(cnt AS DOUBLE) / CAST(o AS DOUBLE) AS p
            FROM trans JOIN outc USING (f)
          UNION ALL SELECT 'conv', 'conv', CAST(1.0 AS DOUBLE)
          UNION ALL SELECT 'null', 'null', CAST(1.0 AS DOUBLE)),
        ${scen("none", None)},
        ${channels.map(c => scen(c, Some(c))).mkString(",\n        ")},
        res AS ($resRows)
      SELECT removed, ${Det.roundAtSql("pc", 6)} AS p_conv,
        CASE WHEN removed = 'none' THEN 0.0
          ELSE ${Det.roundAtSql(
            "1.0 - pc / (SELECT pc FROM res WHERE removed = 'none')", 6)}
        END AS removal_effect
      FROM res ORDER BY removed"""
    })

  // q222 — ROW-LEVEL MERGE / CDC APPLY (operators/Cdc.merge — the
  // lakehouse MERGE INTO): a synthesized change batch (updates on every
  // 10th key, deletes on every 17th — deletes WIN the overlap via the
  // per-key latest-by-seq compaction — inserts shifted into fresh key
  // space) applied to orders. The target is only anti-joined against
  // the broadcast touched-key set — at 100 TB the big side never
  // shuffles. Rollup checks row counts, decimal-exact total, and the
  // key checksum, so a wrong survivor anywhere flips the result.
  private val q222 = Q(
    "q222_merge_upsert",
    (s, dir) => {
      val o = tbl(s, dir, "orders")
      val ups = o.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
        .withColumn("op", lit("U")).withColumn("seq", lit(1L))
      val dels = o.filter(col("o_orderkey") % 17 === 0)
        .withColumn("op", lit("D")).withColumn("seq", lit(2L))
      val ins = o.filter(col("o_orderkey") % 100 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + 100000000L)
        .withColumn("o_totalprice", lit(1.0))
        .withColumn("op", lit("I")).withColumn("seq", lit(1L))
      val merged = graft.operators.Cdc.merge(
        o, ups.unionByName(dels).unionByName(ins),
        "o_orderkey", "op", Seq("seq"), materialize = true)
      merged.agg(
        count(lit(1)).as("n_rows"),
        Det.dsum(col("o_totalprice")).as("total_price"),
        sum((col("o_orderkey") >= 100000000L).cast("long")).as("n_inserted"),
        sum(col("o_orderkey")).as("key_checksum"))
    },
    Some("""WITH ch AS (
          SELECT o_orderkey AS k, 'U' AS op, 1 AS seq,
            o_totalprice + 1000.0 AS price
          FROM orders WHERE o_orderkey % 10 = 0
          UNION ALL SELECT o_orderkey, 'D', 2, o_totalprice
          FROM orders WHERE o_orderkey % 17 = 0
          UNION ALL SELECT o_orderkey + 100000000, 'I', 1, 1.0
          FROM orders WHERE o_orderkey % 100 = 0),
        latest AS (SELECT k, op, price FROM (
            SELECT k, op, price,
              ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
            FROM ch) z WHERE rn = 1),
        merged AS (
          SELECT o_orderkey AS k, o_totalprice AS price FROM orders
          WHERE o_orderkey NOT IN (SELECT k FROM latest)
          UNION ALL SELECT k, price FROM latest WHERE op <> 'D')
      SELECT COUNT(*) AS n_rows,
        CAST(SUM(CAST(price AS DECIMAL(28,2))) AS DOUBLE) AS total_price,
        CAST(SUM(CASE WHEN k >= 100000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_inserted,
        CAST(SUM(k) AS BIGINT) AS key_checksum
      FROM merged"""),
    headline = true)

  // q223 — THEIL-SEN ROBUST TREND per user (median of pairwise slopes —
  // the estimator that shrugs off the outliers that tilt q129's OLS):
  // pairs are built ROW-LOCALLY from each user's sorted (sec, value)
  // array (bounded by per-entity activity, the q205/q221 shape), so the
  // corpus never self-joins; same-second pairs are excluded (slope
  // undefined). Exact linear-interp median over bit-identical division
  // results.
  private val q223 = Q(
    "q223_theil_sen",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"),
          col("event_id"), col("value"))
      val arr = e.groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("sec"), col("event_id"), col("value")))).as("a"))
        .filter(size(col("a")) >= 2)
      // ROUND 15: native O(k²) slope kernel (plans/PairExprs.scala) —
      // the nested-transform spelling evaluated four interpreted
      // element_at lambdas per PAIR (~3 s single-task at sf0.1). Same
      // slopes (incl. null-value slope rows the count sees and the
      // percentile skips), pinned in PairExprsSpec.
      arr.select(col("user_id"),
          explode(graft.plans.TheilSenSlopesExpr(col("a"))).as("slope"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          Det.roundAt(percentile(col("slope"), lit(0.5)), 6).as("ts_slope"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
          event_id, value FROM events),
        p AS (SELECT a.user_id, (b.value - a.value) / (b.sec - a.sec) AS slope
          FROM e a JOIN e b ON a.user_id = b.user_id AND a.sec < b.sec)
      SELECT user_id, COUNT(*) AS n_pairs,
        floor(quantile_cont(slope, 0.5) * 1000000 + 0.5) / 1000000 AS ts_slope
      FROM p GROUP BY user_id ORDER BY user_id"""))

  // q225 — SEQUENTIAL PATTERN MINING (PrefixSpan-lite): every contiguous
  // event-type trigram in each user's ordered history, ranked by SUPPORT
  // (distinct users exhibiting it) — where q205 MATCHES given patterns,
  // this DISCOVERS them. Trigram extraction is row-local off the bounded
  // per-user array; the shuffle is pattern-grain (≤ |types|³ rows).
  private val q225 = Q(
    "q225_seq_trigrams",
    (s, dir) => {
      val seqs = tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type").as("t")))).as("s"))
        .select(col("user_id"), transform(col("s"), x => x.getField("t")).as("types"))
        .filter(size(col("types")) >= 3)
      val tris = transform(sequence(lit(1), size(col("types")) - 2),
        i => concat_ws(">", element_at(col("types"), i),
          element_at(col("types"), i + 1), element_at(col("types"), i + 2)))
      seqs.select(col("user_id"), explode(tris).as("trigram"))
        .groupBy("trigram")
        .agg(countDistinct(col("user_id")).as("support"),
          count(lit(1)).as("n_occurrences"))
        .orderBy(desc("support"), desc("n_occurrences"), asc("trigram"))
        .limit(15)
    },
    Some("""WITH seqs AS (SELECT user_id,
          list(event_type ORDER BY ts, event_id) AS types
        FROM events GROUP BY user_id),
      tri AS (SELECT user_id, u.tg AS trigram
        FROM seqs, unnest(list_transform(range(1, len(types) - 1),
          i -> types[i] || '>' || types[i+1] || '>' || types[i+2])) AS u(tg)
        WHERE len(types) >= 3)
      SELECT trigram, COUNT(DISTINCT user_id) AS support,
        COUNT(*) AS n_occurrences
      FROM tri GROUP BY trigram
      ORDER BY support DESC, n_occurrences DESC, trigram ASC LIMIT 15"""))

  // q226 — KAPLAN-MEIER SURVIVAL for time-to-first-purchase at hour
  // grain, with ADMINISTRATIVE censoring at the 72-hour study horizon
  // (users converting later — or never — are censored at 72, keeping
  // their partial observation instead of dropping it, which is the
  // whole point of the estimator): S(t) = Π over event times ≤ t of
  // (1 − dᵢ/nᵢ). Everything after the per-user min/min is DURATION
  // grain — ≤ 73 rows by construction — so the single-partition windows
  // never scale with the corpus. The cumulative product is a left fold
  // with every step re-quantized at 1e-12, replayed row-for-row by the
  // oracle's recursive CTE — no ln/exp, bit-identical in both engines.
  private val q226 = Q(
    "q226_kaplan_meier",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val W = 72L
      val sec = col("ts").cast("long")
      val u = tbl(s, dir, "events")
        .select(col("user_id"), sec.as("sec"), col("event_type"))
        .groupBy("user_id")
        .agg(min(col("sec")).as("f"),
          min(when(col("event_type") === "purchase", col("sec"))).as("p"))
      val tRaw = floor((col("p") - col("f")) / 3600L)
      val uu = u.select(
        when(col("p").isNotNull && tRaw <= W, tRaw).otherwise(lit(W)).as("t"),
        (col("p").isNotNull && tRaw <= W).cast("long").as("churn"))
      val h = uu.agg(count(lit(1)).as("n_users"))
      val dur = uu.crossJoin(broadcast(h)).groupBy("t", "n_users")
        .agg(sum(col("churn")).as("d_i"), count(lit(1)).as("c_i"))
      val wPrev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
      val risk = dur.withColumn("n_risk",
        col("n_users") - coalesce(sum(col("c_i")).over(wPrev), lit(0L)))
      val ev = risk.filter(col("d_i") > 0)
        .withColumn("fct", (col("n_risk") - col("d_i")).cast("double")
          / col("n_risk").cast("double"))
      val wCum = Window.orderBy("t")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.withColumn("sv", aggregate(
          collect_list(col("fct")).over(wCum), lit(1.0),
          (acc, x) => floor(acc * x * lit(1e12) + lit(0.5)) / lit(1e12)))
        .select(col("t").as("duration"), col("n_risk"),
          col("d_i").as("n_churned"), Det.roundAt(col("sv"), 6).as("survival"))
        .orderBy("duration")
    },
    Some("""WITH RECURSIVE e AS (SELECT user_id,
          epoch_ns(ts) // 1000000000 AS sec, event_type FROM events),
      u AS (SELECT user_id, MIN(sec) AS f,
          MIN(CASE WHEN event_type = 'purchase' THEN sec END) AS p
        FROM e GROUP BY 1),
      uu AS (SELECT
          CASE WHEN p IS NOT NULL AND (p - f) // 3600 <= 72
            THEN (p - f) // 3600 ELSE 72 END AS t,
          CASE WHEN p IS NOT NULL AND (p - f) // 3600 <= 72
            THEN 1 ELSE 0 END AS churn
        FROM u),
      h AS (SELECT COUNT(*) AS n_users FROM uu),
      dur AS (SELECT t, n_users, CAST(SUM(churn) AS BIGINT) AS d_i,
          COUNT(*) AS c_i FROM uu CROSS JOIN h GROUP BY t, n_users),
      risk AS (SELECT t, d_i, c_i,
          n_users - COALESCE(SUM(c_i) OVER (ORDER BY t
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n_risk
        FROM dur),
      ev AS (SELECT t, d_i, n_risk,
          CAST(n_risk - d_i AS DOUBLE) / CAST(n_risk AS DOUBLE) AS fct,
          ROW_NUMBER() OVER (ORDER BY t) AS rk FROM risk WHERE d_i > 0),
      s(rk, sv) AS (SELECT 0, CAST(1.0 AS DOUBLE)
        UNION ALL
        SELECT e2.rk, floor(s.sv * e2.fct * 1e12 + 0.5) / 1e12
        FROM s JOIN ev e2 ON e2.rk = s.rk + 1)
      SELECT ev.t AS duration, CAST(ev.n_risk AS BIGINT) AS n_risk,
        ev.d_i AS n_churned,
        floor(s.sv * 1000000 + 0.5) / 1000000 AS survival
      FROM ev JOIN s ON s.rk = ev.rk ORDER BY duration"""))

  // q227 — TIME-RESPECTING REACHABILITY (operators/Graph.temporalBfs —
  // contact tracing / information diffusion): users interact when they
  // touch the same props.k within 10 minutes (earlier→later, edge
  // timestamped at the later event); a path is valid only if edge times
  // never decrease. Seeds are every 50th user at arrival 0. Edge
  // building is the q204/q216 cell equi-join (same k, adjacent 600-s
  // cells, window verified) — never a same-k full self-join at one
  // shuffle grain; the traversal is the monotone min-arrival DP. The
  // oracle's recursive CTE uses UNION (dedup) so (node, arr, lvl)
  // states, not paths, drive its cost.
  private val q227 = Q(
    "q227_temporal_reach",
    (s, dir) => {
      val kcol = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k")
      // e feeds BOTH sides of the interval self-join — as a lazy subtree
      // each side re-ran the events scan AND the from_json props parse
      // (the query's per-row CPU wall). Checkpoint the slim
      // (user_id, sec, k) relation: one parse pass total (round 14).
      val e = graft.operators.Ckpt.local(
        tbl(s, dir, "events")
          .select(col("user_id"), col("ts").cast("long").as("sec"), kcol))
      val probe = e
        .withColumn("dc", explode(array(lit(0L), lit(1L))))
        .select(col("user_id").as("src"), col("sec").as("a_sec"), col("k"),
          (floor(col("a_sec") / 600L) + col("dc")).as("cell"))
      val build = e.select(col("user_id").as("dst"), col("sec").as("b_sec"),
        col("k"), floor(col("sec") / 600L).as("cell"))
      val edges = probe.join(build, Seq("k", "cell"))
        .filter(col("src") =!= col("dst")
          && col("b_sec") >= col("a_sec")
          && col("b_sec") - col("a_sec") <= 600L)
        .select(col("src"), col("dst"), col("b_sec").as("ets"))
        .dropDuplicates("src", "dst", "ets")
      val seeds = e.filter(col("user_id") % 50 === 0)
        .select(col("user_id").as("id")).distinct()
      graft.operators.Graph.temporalBfs(edges, seeds, maxHops = 3)
        .agg(count(lit(1)).as("n_reached"),
          sum((col("arr") === 0L).cast("long")).as("n_seeds"),
          min(when(col("arr") > 0L, col("arr"))).as("first_arrival_sec"),
          max(col("arr")).as("last_arrival_sec"),
          sum(col("arr")).as("arrival_checksum"))
    },
    Some("""WITH RECURSIVE e AS (SELECT user_id,
          epoch_ns(ts) // 1000000000 AS sec,
          CAST(props->>'$.k' AS BIGINT) AS k FROM events),
      edges AS (SELECT DISTINCT a.user_id AS src, b.user_id AS dst,
          b.sec AS ets
        FROM e a JOIN e b ON a.k = b.k AND a.user_id <> b.user_id
          AND b.sec >= a.sec AND b.sec - a.sec <= 600),
      reach(id, arr, lvl) AS (
        SELECT DISTINCT user_id, CAST(0 AS BIGINT), 0 FROM e
        WHERE user_id % 50 = 0
        UNION
        SELECT ed.dst, ed.ets, r.lvl + 1
        FROM reach r JOIN edges ed ON ed.src = r.id AND ed.ets >= r.arr
        WHERE r.lvl < 3),
      m AS (SELECT id, MIN(arr) AS arr FROM reach GROUP BY id)
      SELECT COUNT(*) AS n_reached,
        CAST(SUM(CASE WHEN arr = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_seeds,
        CAST(MIN(CASE WHEN arr > 0 THEN arr END) AS BIGINT) AS first_arrival_sec,
        CAST(MAX(arr) AS BIGINT) AS last_arrival_sec,
        CAST(SUM(arr) AS BIGINT) AS arrival_checksum
      FROM m"""))

  // q228 — HOLT LINEAR-TREND FORECAST (double exponential smoothing —
  // where q132's EWMA tracks level only, Holt carries level + trend and
  // can actually extrapolate): lₜ = αyₜ + (1−α)(lₜ₋₁+bₜ₋₁),
  // bₜ = β(lₜ−lₜ₋₁) + (1−β)bₜ₋₁, α=0.5 β=0.2, initialized l₁=y₁,
  // b₁=y₂−y₁. The hourly series is CALENDAR-bounded (≤ horizon hours at
  // any corpus size), so the one-row array fold is bounded by time, not
  // data; every smoothing step re-quantizes at 1e-12 and the oracle's
  // recursive CTE replays the recursion step-for-step. Output: fitted
  // tail state + 1/2/3-hour-ahead forecasts.
  private val q228 = Q(
    "q228_holt_forecast",
    (s, dir) => {
      val q12 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e12) + lit(0.5)) / lit(1e12)
      val hourly = tbl(s, dir, "events")
        .groupBy(floor(col("ts").cast("long") / 3600L).as("h"))
        .agg(Det.dsum(col("value")).as("y"))
      val series = hourly
        .agg(array_sort(collect_list(struct(col("h"), col("y")))).as("s"))
        .select(transform(col("s"), x => x.getField("y")).as("ys"))
      val init = struct(
        element_at(col("ys"), 1).as("l"),
        (element_at(col("ys"), 2) - element_at(col("ys"), 1)).as("b"))
      val state = aggregate(
        slice(col("ys"), lit(3), greatest(size(col("ys")) - 2, lit(0))), init,
        (acc, y) => {
          val l1 = q12(lit(0.5) * y + lit(0.5) * (acc.getField("l") + acc.getField("b")))
          val b1 = q12(lit(0.2) * (l1 - acc.getField("l")) + lit(0.8) * acc.getField("b"))
          struct(l1.as("l"), b1.as("b"))
        })
      series.filter(size(col("ys")) >= 2) // Holt needs y₁, y₂ to initialize
        .select(size(col("ys")).cast("long").as("n_obs"), state.as("st"))
        .select(col("n_obs"),
          Det.roundAt(col("st.l"), 6).as("level"),
          Det.roundAt(col("st.b"), 6).as("trend"),
          Det.roundAt(col("st.l") + col("st.b"), 6).as("forecast_1h"),
          Det.roundAt(col("st.l") + lit(2.0) * col("st.b"), 6).as("forecast_2h"),
          Det.roundAt(col("st.l") + lit(3.0) * col("st.b"), 6).as("forecast_3h"))
    },
    Some("""WITH RECURSIVE hourly AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS h,
          CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS y
        FROM events GROUP BY 1),
      o AS (SELECT y, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM hourly),
      n AS (SELECT COUNT(*) AS n_obs FROM o),
      s(rk, l, b) AS (
        SELECT 2, (SELECT y FROM o WHERE rk = 1),
          (SELECT y FROM o WHERE rk = 2) - (SELECT y FROM o WHERE rk = 1)
        UNION ALL
        SELECT o.rk,
          floor((0.5 * o.y + 0.5 * (s.l + s.b)) * 1e12 + 0.5) / 1e12,
          floor((0.2 * (floor((0.5 * o.y + 0.5 * (s.l + s.b)) * 1e12 + 0.5) / 1e12 - s.l)
            + 0.8 * s.b) * 1e12 + 0.5) / 1e12
        FROM s JOIN o ON o.rk = s.rk + 1),
      fin AS (SELECT l, b FROM s ORDER BY rk DESC LIMIT 1)
      SELECT n.n_obs AS n_obs,
        floor(l * 1000000 + 0.5) / 1000000 AS level,
        floor(b * 1000000 + 0.5) / 1000000 AS trend,
        floor((l + b) * 1000000 + 0.5) / 1000000 AS forecast_1h,
        floor((l + 2.0 * b) * 1000000 + 0.5) / 1000000 AS forecast_2h,
        floor((l + 3.0 * b) * 1000000 + 0.5) / 1000000 AS forecast_3h
      FROM fin CROSS JOIN n WHERE n.n_obs >= 2"""))

  // q229 — ITEM-ITEM CO-OCCURRENCE SIMILARITY (the classic recsys
  // "customers also bought" neighborhood): cosine = co/√(cₐ·c_b) over
  // co-purchase counts, top-5 partners per item. Where q84/q185 rank
  // pairs GLOBALLY by support/lift, this builds each item's ranked
  // NEIGHBORHOOD. Pair building is row-local off the per-order item set
  // (basket-bounded, ≤ items²/2 per order); the rank limit compiles to
  // WindowGroupLimit. Support floor co ≥ 2 keeps the head stable.
  private val q229 = Q(
    "q229_item_cooc",
    (s, dir) => graft.operators.Rank.itemCooc(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey").as("o"), col("l_partkey").as("p")),
        minCo = 2, k = 5)
      .orderBy("item", "rank"),
    Some("""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
      ic AS (SELECT p, COUNT(*) AS c FROM b GROUP BY p),
      pairs AS (SELECT a.p AS pa, b2.p AS pb FROM b a
        JOIN b b2 ON a.o = b2.o AND a.p < b2.p),
      co AS (SELECT pa, pb, COUNT(*) AS co FROM pairs GROUP BY pa, pb
        HAVING COUNT(*) >= 2),
      sym AS (SELECT pa AS item, pb AS partner, co FROM co
        UNION ALL SELECT pb, pa, co FROM co),
      scored AS (SELECT item, partner, co,
          floor(CAST(co AS DOUBLE) / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
            * 1000000 + 0.5) / 1000000 AS cos
        FROM sym JOIN ic ca ON ca.p = item JOIN ic cb ON cb.p = partner),
      r AS (SELECT item, partner, co, cos,
          ROW_NUMBER() OVER (PARTITION BY item ORDER BY cos DESC, partner ASC) AS rank
        FROM scored)
      SELECT item, partner, co, cos, rank FROM r WHERE rank <= 5
      ORDER BY item, rank"""))

  // q230 — DAU / WAU / STICKINESS (the product-analytics daily health
  // row): WAU(d) = distinct users active in (d−6 … d]. The scale-honest
  // plan: distinct (user, day) FIRST (event volume collapses to
  // entity-day grain), then each entity-day contributes to exactly 7
  // trailing WAU days via a bounded ×7 explode and ONE distinct count
  // per day — never a per-day inequality join against the corpus. Days
  // before the corpus' 7th are reported as-is (partial window, standard
  // dashboard semantics).
  private val q230 = Q(
    "q230_dau_wau",
    (s, dir) => {
      val ud = graft.operators.Ckpt.local(
        tbl(s, dir, "events")
          .select(col("user_id"), floor(col("ts").cast("long") / 86400L).as("day"))
          .distinct())
      val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val dau = ud.groupBy("day").agg(countDistinct(col("user_id")).as("dau"))
      val wau = ud
        .withColumn("wday", explode(sequence(col("day"), col("day") + 6L)))
        .groupBy(col("wday").as("day"))
        .agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .crossJoin(broadcast(bounds))
        .filter(col("day") <= col("d1")) // drop phantom post-horizon days
        .select(col("day"), col("dau"), col("wau"),
          Det.roundAt(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
        .orderBy("day")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id,
          epoch_ns(ts) // 1000000000 // 86400 AS day FROM events),
      b AS (SELECT MAX(day) AS d1 FROM ud),
      dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau FROM ud GROUP BY day),
      w AS (SELECT user_id, day + g.g AS day FROM ud,
        unnest(generate_series(0, 6)) AS g(g)),
      wau AS (SELECT day, COUNT(DISTINCT user_id) AS wau FROM w GROUP BY day)
      SELECT dau.day AS day, dau.dau, wau.wau,
        floor(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE) * 1000000 + 0.5)
          / 1000000 AS stickiness
      FROM dau JOIN wau ON dau.day = wau.day CROSS JOIN b
      WHERE dau.day <= b.d1 ORDER BY day"""))

  // q231 — EXPONENTIALLY-DECAYED TRENDING LEADERBOARD (recency-biased
  // top-k over props.k "tags"): score(tag) = Σ_days cnt·w(age) with
  // w(age) = 0.9^age materialized as a 1e-12-requantized multiplication
  // chain (no libm pow — the q228 fold trick at weight grain, ≤ horizon
  // entries), so both engines weigh every day identically. Day-grain
  // counts shuffle once; the weight table is broadcast; top-10 is a
  // TakeOrdered.
  private val q231 = Q(
    "q231_decayed_trending",
    (s, dir) => {
      val q12 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e12) + lit(0.5)) / lit(1e12)
      val kcol = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k")
      val dayCnt = tbl(s, dir, "events")
        .select(kcol, floor(col("ts").cast("long") / 86400L).as("day"))
        .groupBy("k", "day").agg(count(lit(1)).as("cnt"))
      val horizon = dayCnt.agg(max(col("day")).as("d1"),
        (max(col("day")) - min(col("day"))).cast("int").as("span"))
      // weights[age] = requantized 0.9^age, built once per query as a
      // row-local fold over a horizon-bounded sequence
      val weights = horizon.select(col("d1"),
          aggregate(sequence(lit(1), col("span")), array(lit(1.0)),
            (acc, _) => concat(acc, array(q12(element_at(acc, -1) * lit(0.9))))
          ).as("ws"))
      dayCnt.crossJoin(broadcast(weights))
        .withColumn("w", element_at(col("ws"), (col("d1") - col("day")).cast("int") + 1))
        .groupBy("k")
        .agg(sum(col("cnt")).as("n_events"),
          Det.roundAt(Det.dsum(q12(col("cnt") * col("w")), 12), 6).as("score"))
        .orderBy(desc("score"), asc("k"))
        .limit(10)
    },
    Some("""WITH RECURSIVE dc AS (SELECT CAST(props->>'$.k' AS BIGINT) AS k,
          epoch_ns(ts) // 1000000000 // 86400 AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      h AS (SELECT MAX(day) AS d1, CAST(MAX(day) - MIN(day) AS INT) AS span FROM dc),
      w(age, wt) AS (SELECT 0, CAST(1.0 AS DOUBLE)
        UNION ALL
        SELECT age + 1, floor(wt * 0.9 * 1e12 + 0.5) / 1e12
        FROM w CROSS JOIN h WHERE age < h.span),
      scored AS (SELECT k, CAST(SUM(cnt) AS BIGINT) AS n_events,
          CAST(SUM(CAST(floor(cnt * wt * 1e12 + 0.5) / 1e12
            AS DECIMAL(28,12))) AS DOUBLE) AS raw
        FROM dc CROSS JOIN h JOIN w ON w.age = h.d1 - dc.day
        GROUP BY k)
      SELECT k, n_events,
        floor(raw * 1000000 + 0.5) / 1000000 AS score
      FROM scored ORDER BY score DESC, k ASC LIMIT 10"""))

  // q235 — K-CORE of the customer–supplier graph (operators/Graph.kcore,
  // the cohesion filter behind "dense trading cluster" mining): 4
  // peeling rounds toward the 40-core (the sf0.01 graph converges in
  // 2). The oracle unrolls the identical rounds — alive-set semi-joins
  // + degree counts — so every surviving node and residual degree
  // matches exactly.
  private val q235 = Q(
    "q235_kcore",
    (s, dir) => {
      val pairs = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      // one-pass symmetrization (see q214)
      val edges = graft.operators.Graph.symmetrized(pairs, "c", "s")
      graft.operators.Graph.kcore(edges, k = 40, rounds = 4)
        .groupBy(when(col("id") % 2 === 0, "customer").otherwise("supplier").as("kind"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("sum_deg"),
          min(col("deg")).as("min_deg"), max(col("deg")).as("max_deg"))
        .orderBy("kind")
    },
    Some {
      val rounds = (1 to 4).map { r =>
        s"""d$r AS (SELECT e.src AS id, COUNT(*) AS deg FROM edges e
            JOIN a${r - 1} x ON e.src = x.id JOIN a${r - 1} y ON e.dst = y.id
            GROUP BY e.src),
          a$r AS (SELECT id FROM d$r WHERE deg >= 40)"""
      }.mkString(",\n        ")
      s"""WITH p AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
          FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
        edges AS (SELECT c AS src, s AS dst FROM p UNION ALL SELECT s, c FROM p),
        a0 AS (SELECT DISTINCT src AS id FROM edges),
        $rounds,
        fin AS (SELECT e.src AS id, COUNT(*) AS deg FROM edges e
          JOIN a4 x ON e.src = x.id JOIN a4 y ON e.dst = y.id GROUP BY e.src)
      SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        COUNT(*) AS n_nodes, CAST(SUM(deg) AS BIGINT) AS sum_deg,
        CAST(MIN(deg) AS BIGINT) AS min_deg, CAST(MAX(deg) AS BIGINT) AS max_deg
      FROM fin GROUP BY 1 ORDER BY 1"""
    })

  // q236 — CO-OCCURRENCE MODEL HOLD-OUT EVAL (hit-rate@5): build q229's
  // neighborhoods on the 80% hash-split train baskets, then ask how
  // many of the held-out baskets' item pairs the model would have
  // predicted (partner in the item's top-5). The eval every deployed
  // recommender needs and the pattern every index family here carries
  // (LSH→q53, IVF→q196, PQ→q195 — co-occurrence→this). Test pairs are
  // basket-bounded row-local; the model join is (item, partner) grain.
  private val q236 = Q(
    "q236_cooc_holdout",
    (s, dir) => {
      val b = tbl(s, dir, "lineitem")
        .select(col("l_orderkey").as("o"), col("l_partkey").as("p"))
      val bucket = pmod(graft.functions.TextFns.portableHash(
        col("o").cast("string")), lit(10L))
      val model = graft.operators.Rank.itemCooc(
        b.filter(bucket < 8), minCo = 2, k = 5)
        .select(col("item"), col("partner"))
      val test = graft.operators.Ckpt.local(b.filter(bucket >= 8).distinct())
      val arr = test.groupBy("o").agg(array_sort(collect_list(col("p"))).as("ps"))
        .filter(size(col("ps")) >= 2)
      // native pair kernel (round 15) — see Rank.itemCooc
      val pairExpr = graft.plans.OrderedPairsExpr(col("ps"))
      // one-pass symmetrization (round 15): the union spelling exploded
      // the pair HOF and re-derived `arr` once PER BRANCH
      val testPairs = arr.select(explode(pairExpr).as("pr"))
        .select(explode(array(
          struct(col("pr.pa").as("item"), col("pr.pb").as("partner")),
          struct(col("pr.pb").as("item"), col("pr.pa").as("partner")))).as("e"))
        .select("e.*")
        .distinct()
      val hits = testPairs.join(model, Seq("item", "partner"), "left_semi")
      testPairs.agg(count(lit(1)).as("n_test_pairs")).crossJoin(
          broadcast(hits.agg(count(lit(1)).as("n_hits"))))
        .select(col("n_test_pairs"), col("n_hits"),
          Det.roundAt(col("n_hits").cast("double")
            / col("n_test_pairs").cast("double"), 6).as("hit_rate"))
    },
    Some {
      val h = graft.functions.TextFns.portableHashSql("CAST(o AS VARCHAR)")
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
        train AS (SELECT o, p FROM b WHERE $h % 10 < 8),
        test AS (SELECT o, p FROM b WHERE $h % 10 >= 8),
        ic AS (SELECT p, COUNT(*) AS c FROM train GROUP BY p),
        pairs AS (SELECT a.p AS pa, b2.p AS pb FROM train a
          JOIN train b2 ON a.o = b2.o AND a.p < b2.p),
        co AS (SELECT pa, pb, COUNT(*) AS co FROM pairs GROUP BY pa, pb
          HAVING COUNT(*) >= 2),
        sym AS (SELECT pa AS item, pb AS partner, co FROM co
          UNION ALL SELECT pb, pa, co FROM co),
        scored AS (SELECT item, partner,
            floor(CAST(co AS DOUBLE) / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
              * 1000000 + 0.5) / 1000000 AS cos
          FROM sym JOIN ic ca ON ca.p = item JOIN ic cb ON cb.p = partner),
        model AS (SELECT item, partner FROM (SELECT item, partner,
            ROW_NUMBER() OVER (PARTITION BY item ORDER BY cos DESC, partner ASC) AS rank
          FROM scored) z WHERE rank <= 5),
        tp AS (SELECT DISTINCT item, partner FROM (
          SELECT a.p AS item, b2.p AS partner FROM test a
            JOIN test b2 ON a.o = b2.o AND a.p <> b2.p) z),
        hits AS (SELECT COUNT(*) AS n_hits FROM tp
          WHERE EXISTS (SELECT 1 FROM model m
            WHERE m.item = tp.item AND m.partner = tp.partner))
      SELECT (SELECT COUNT(*) FROM tp) AS n_test_pairs, n_hits,
        ${Det.roundAtSql(
          "CAST(n_hits AS DOUBLE) / CAST((SELECT COUNT(*) FROM tp) AS DOUBLE)", 6)}
          AS hit_rate
      FROM hits"""
    })

  // q237 — PROCESS-MINING CONFORMANCE: observed event-type transitions
  // checked against the normative journey model (the DAG the funnel is
  // SUPPOSED to follow); each (from, to) pair reports its traffic and
  // whether the model allows it, plus its share within the from-state.
  // Transition extraction is one window pass (Funnel.transitions);
  // everything after is state-pair grain with the model as a broadcast
  // literal list.
  private val q237 = Q(
    "q237_conformance",
    (s, dir) => {
      val allowed = Seq("signup>view", "view>view", "view>click",
        "click>view", "click>purchase", "view>purchase", "error>view",
        "purchase>view")
      val t = graft.operators.Funnel.transitions(
        tbl(s, dir, "events"), "user_id", "ts", "event_id", "event_type")
      val w = Window.partitionBy("from_type")
      t.withColumn("pair", concat_ws(">", col("from_type"), col("to_type")))
        .withColumn("is_allowed", col("pair").isin(allowed: _*).cast("long"))
        .withColumn("share_of_from", Det.roundAt(
          col("n").cast("double") / sum(col("n")).over(w).cast("double"), 6))
        .select(col("from_type"), col("to_type"), col("n"),
          col("is_allowed"), col("share_of_from"))
        .orderBy("from_type", "to_type")
    },
    Some {
      val allowedSql = Seq("signup>view", "view>view", "view>click",
        "click>view", "click>purchase", "view>purchase", "error>view",
        "purchase>view").map(p => s"'$p'").mkString(", ")
      s"""WITH e AS (SELECT user_id, event_type, ts, event_id,
            lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS from_type
          FROM events),
        t AS (SELECT from_type, event_type AS to_type, COUNT(*) AS n
          FROM e WHERE from_type IS NOT NULL GROUP BY 1, 2)
      SELECT from_type, to_type, n,
        CASE WHEN from_type || '>' || to_type IN ($allowedSql)
          THEN 1 ELSE 0 END AS is_allowed,
        ${Det.roundAtSql(
          "CAST(n AS DOUBLE) / CAST(SUM(n) OVER (PARTITION BY from_type) AS DOUBLE)",
          6)} AS share_of_from
      FROM t ORDER BY from_type, to_type"""
    })

  // q238 — BURSTINESS (Fano factor of each user's hourly event counts
  // over the full corpus horizon, zero hours included): F = var/mean =
  // Σc²/N − N/H — a closed form over three integers (per-user Σc² and
  // N off one hour-grain groupBy, the global hour count H broadcast),
  // so no variance pass and no dense grid materialization. F ≈ 1 is
  // Poisson-like traffic; F ≫ 1 is bursty (bot/batch suspects).
  private val q238 = Q(
    "q238_burstiness",
    (s, dir) => {
      val hourly = tbl(s, dir, "events")
        .select(col("user_id"), floor(col("ts").cast("long") / 3600L).as("h"))
      val hspan = hourly.agg((max(col("h")) - min(col("h")) + 1L).as("hh"))
      hourly.groupBy("user_id", "h").agg(count(lit(1)).as("c"))
        .groupBy("user_id")
        .agg(sum(col("c")).as("n"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("active_hours"))
        .crossJoin(broadcast(hspan))
        .select(col("user_id"), col("n").as("n_events"), col("active_hours"),
          Det.roundAt(col("s2").cast("double") / col("n").cast("double")
            - col("n").cast("double") / col("hh").cast("double"), 6).as("fano"))
        .orderBy("user_id")
    },
    Some("""WITH hourly AS (SELECT user_id,
          epoch_ns(ts) // 1000000000 // 3600 AS h FROM events),
      hs AS (SELECT MAX(h) - MIN(h) + 1 AS hh FROM hourly),
      c AS (SELECT user_id, h, COUNT(*) AS c FROM hourly GROUP BY 1, 2),
      u AS (SELECT user_id, CAST(SUM(c) AS BIGINT) AS n,
          CAST(SUM(c * c) AS BIGINT) AS s2, COUNT(*) AS active_hours
        FROM c GROUP BY user_id)
      SELECT user_id, n AS n_events, active_hours,
        floor((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
          - CAST(n AS DOUBLE) / CAST(hh AS DOUBLE)) * 1000000 + 0.5) / 1000000
          AS fano
      FROM u CROSS JOIN hs ORDER BY user_id"""))

  // q239 — RFM SEGMENTATION (recency / frequency / monetary quintiles —
  // the classic customer-value grid): per customer, days since last
  // order, order count, decimal-exact spend; each metric scored 1–5 by
  // the exact NTILE rule over a FULL deterministic order (metric, then
  // custkey), then customers rolled up per 3-digit segment. Customer
  // grain throughout, and since r7 the quintiles run as three two-level
  // exact ranks (Rank.globalRowNumber + the arithmetic ntile rule) —
  // bit-identical to window ntile(5), but nothing funnels the customer
  // population through one task.
  private val q239 = Q(
    "q239_rfm",
    (s, dir) => {
      val o = tbl(s, dir, "orders")
      val horizon = o.agg(max(col("o_orderdate")).as("d1"))
      val cust = graft.operators.Ckpt.local(o.groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("last_d"),
          count(lit(1)).as("freq"), Det.dsum(col("o_totalprice")).as("mon"))
        .crossJoin(broadcast(horizon))
        .withColumn("rec", datediff(col("d1"), col("last_d")).cast("long")))
      val withN = cust.crossJoin(broadcast(cust.agg(count(lit(1)).as("_n"))))
      def score(df: org.apache.spark.sql.DataFrame, c: String,
                asc0: Boolean, w: Double, out: String) =
        graft.operators.Rank.globalRowNumber(df, c, "o_custkey",
            desc0 = !asc0, floor(col("_rnk_v") / lit(w)).cast("long"), "_rk")
          .withColumn(out,
            graft.operators.Rank.ntileFromRank(col("_rk"), col("_n"), 5))
          .drop("_rk")
      score(score(score(withN, "rec", asc0 = true, 32.0, "r"),
          "freq", asc0 = false, 32.0, "f"),
          "mon", asc0 = false, 16384.0, "m")
        .groupBy(concat(col("r"), col("f"), col("m")).as("segment"))
        .agg(count(lit(1)).as("n_customers"),
          Det.roundAt(sum(col("rec")).cast("double") / count(lit(1)), 6)
            .as("avg_recency_days"),
          Det.roundAt(sum(col("freq")).cast("double") / count(lit(1)), 6)
            .as("avg_frequency"),
          Det.roundAt(Det.dsum(col("mon"), 2) / count(lit(1)), 6).as("avg_monetary"))
        .orderBy("segment")
    },
    Some("""WITH h AS (SELECT MAX(o_orderdate) AS d1 FROM orders),
      cust AS (SELECT o_custkey, MAX(o_orderdate) AS last_d,
          COUNT(*) AS freq,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS mon
        FROM orders GROUP BY o_custkey),
      scored AS (SELECT o_custkey,
          date_diff('day', last_d, d1) AS rec, freq, mon,
          NTILE(5) OVER (ORDER BY date_diff('day', last_d, d1) ASC, o_custkey ASC) AS r,
          NTILE(5) OVER (ORDER BY freq DESC, o_custkey ASC) AS f,
          NTILE(5) OVER (ORDER BY mon DESC, o_custkey ASC) AS m
        FROM cust CROSS JOIN h)
      SELECT CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
          AS segment,
        COUNT(*) AS n_customers,
        floor(CAST(SUM(rec) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
          AS avg_recency_days,
        floor(CAST(SUM(freq) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
          AS avg_frequency,
        floor(CAST(SUM(CAST(mon AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
          * 1000000 + 0.5) / 1000000 AS avg_monetary
      FROM scored GROUP BY 1 ORDER BY segment"""))

  /** Customer–supplier trading graph shared by q214/q215/q235/q240/q241:
    * distinct (cust·2, supp·2+1) pairs, both directions. */
  private def tradeEdges(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val pairs = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
      .join(tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
      .dropDuplicates("c", "s")
    // one-pass symmetrization (see q214)
    graft.operators.Graph.symmetrized(pairs, "c", "s")
  }
  private val tradeEdgesSql =
    """p AS (SELECT DISTINCT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
      edges AS (SELECT c AS src, s AS dst FROM p UNION ALL SELECT s, c FROM p)"""

  // q240 — DEGREE DISTRIBUTION of the trading graph, power-of-two
  // buckets per node kind (the first plot of any graph audit; the
  // integer-CASE bucket ladder is q179's, no libm log2). Node-grain
  // aggregate, ≤ (2 kinds × 21 buckets) output rows.
  private val q240 = Q(
    "q240_degree_hist",
    (s, dir) => {
      val deg = tradeEdges(s, dir).groupBy(col("src").as("id"))
        .agg(count(lit(1)).as("d"))
      val bucket = (1 to 20).foldLeft(when(col("d") < 2L, 1L)) {
        (acc, b) => acc.when(col("d") < (1L << (b + 1)), 1L << b)
      }.otherwise(1L << 21)
      deg.groupBy(when(col("id") % 2 === 0, "customer").otherwise("supplier")
          .as("kind"), bucket.as("bucket"))
        .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_deg"),
          max(col("d")).as("max_deg"))
        .orderBy("kind", "bucket")
    },
    Some {
      val cases = (1 to 20).map(b =>
        s"WHEN d < ${1L << (b + 1)} THEN ${1L << b}").mkString(" ")
      s"""WITH $tradeEdgesSql,
        deg AS (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src),
        bk AS (SELECT id, d, CASE WHEN d < 2 THEN 1 $cases
            ELSE ${1L << 21} END AS bucket FROM deg)
      SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
        CAST(bucket AS BIGINT) AS bucket, COUNT(*) AS n_nodes,
        CAST(MIN(d) AS BIGINT) AS min_deg, CAST(MAX(d) AS BIGINT) AS max_deg
      FROM bk GROUP BY 1, 2 ORDER BY kind, bucket"""
    })

  // q241 — DEGREE ASSORTATIVITY (Pearson correlation of endpoint
  // degrees over the edge list — do hubs trade with hubs?): negative
  // for bipartite hub-and-spoke commerce, positive for social graphs.
  // Edge-grain join against the broadcast node-degree table; the
  // correlation is the decimal-exact dcorr over integer degrees.
  private val q241 = Q(
    "q241_assortativity",
    (s, dir) => {
      val edges = tradeEdges(s, dir)
      val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("d"))
      edges
        .join(broadcast(deg.select(col("id").as("src"), col("d").as("dx"))), "src")
        .join(broadcast(deg.select(col("id").as("dst"), col("d").as("dy"))), "dst")
        .agg(count(lit(1)).as("n_edges"),
          Det.roundAt(Det.dcorr(col("dx"), col("dy"), 0), 6).as("assortativity"))
    },
    Some {
      val n = "CAST(COUNT(*) AS DOUBLE)"
      def ds(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(28,0))) AS DOUBLE)"
      val (sx, sy) = (ds("dx"), ds("dy"))
      val (sxx, syy, sxy) = (ds("dx * dx"), ds("dy * dy"), ds("dx * dy"))
      s"""WITH $tradeEdgesSql,
        deg AS (SELECT src AS id, COUNT(*) AS d FROM edges GROUP BY src),
        e AS (SELECT a.d AS dx, b.d AS dy FROM edges
          JOIN deg a ON a.id = edges.src JOIN deg b ON b.id = edges.dst)
      SELECT COUNT(*) AS n_edges,
        ${Det.roundAtSql(
          s"($n * $sxy - $sx * $sy) / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))",
          6)} AS assortativity
      FROM e"""
    })

  // q233 — WEIGHTED-DEGREE (STRENGTH) HUBS: the degree-weighted variant
  // of q240/q241 — each trading edge weighted by the number of distinct
  // orders carried, node strength = Σ edge weights, top-5 hubs per node
  // kind by strength. Edge weights land in the same groupBy that
  // deduplicates the pair list (no second pass over lineitem); the node
  // roll-up is node-grain; the per-kind top-5 compiles to
  // WindowGroupLimit, so at 100 TB nothing beyond the ranked head ever
  // leaves the map side.
  private val q233 = Q(
    "q233_strength_hubs",
    (s, dir) => {
      val pairs = tbl(s, dir, "orders").select(col("o_orderkey"), col("o_custkey"))
        .join(tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_suppkey")),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy((col("o_custkey") * 2).as("c"), (col("l_suppkey") * 2 + 1).as("s"))
        .agg(countDistinct(col("o_orderkey")).as("w"))
      // both endpoints in ONE pass over the aggregated pair relation —
      // the union spelling planned the orders⋈lineitem groupBy twice
      val ends = pairs.select(explode(array(
          struct(col("c").as("id"), col("w")),
          struct(col("s").as("id"), col("w")))).as("e"))
        .select("e.*")
      ends.groupBy("id")
        .agg(count(lit(1)).as("deg"), sum(col("w")).as("strength"))
        .withColumn("kind",
          when(col("id") % 2 === 0, "customer").otherwise("supplier"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("kind"))
            .orderBy(col("strength").desc, col("id").asc)).cast("long"))
        .filter(col("rank") <= 5)
        .select(col("kind"), col("rank"), col("id"), col("deg"), col("strength"))
        .orderBy("kind", "rank")
    },
    Some("""WITH p AS (SELECT o_custkey * 2 AS c, l_suppkey * 2 + 1 AS s,
          COUNT(DISTINCT o_orderkey) AS w
        FROM orders JOIN lineitem ON l_orderkey = o_orderkey GROUP BY 1, 2),
      u AS (SELECT c AS id, w FROM p UNION ALL SELECT s, w FROM p),
      node AS (SELECT id, COUNT(*) AS deg, CAST(SUM(w) AS BIGINT) AS strength
        FROM u GROUP BY id),
      r AS (SELECT CASE WHEN id % 2 = 0 THEN 'customer' ELSE 'supplier' END AS kind,
          id, deg, strength,
          ROW_NUMBER() OVER (PARTITION BY id % 2
            ORDER BY strength DESC, id ASC) AS rank
        FROM node)
      SELECT kind, rank, id, deg, strength FROM r WHERE rank <= 5
      ORDER BY kind, rank"""))

  // q245 — MANN-KENDALL TREND TEST per user (the non-parametric partner
  // to q223's Theil-Sen slope): S = Σ_{i<j} sign(vⱼ − vᵢ) over the
  // time-ordered pairs — an INTEGER statistic, no libm anywhere — and
  // Kendall's τₐ = S / (n(n−1)/2). Same bounded row-local pair machinery
  // as q223; equal-time pairs contribute their value sign (tie → 0).
  private val q245 = Q(
    "q245_mann_kendall",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"),
          col("event_id"), col("value"))
      val arr = e.groupBy("user_id")
        .agg(array_sort(collect_list(
          struct(col("sec"), col("event_id"), col("value")))).as("a"))
        .filter(size(col("a")) >= 2)
      def fld(i: org.apache.spark.sql.Column) =
        element_at(col("a"), i).getField("value")
      val signs = flatten(transform(sequence(lit(1), size(col("a")) - 1),
        i => transform(sequence(i + 1, size(col("a"))),
          j => signum(fld(j) - fld(i)).cast("long"))))
      arr.select(col("user_id"), size(col("a")).cast("long").as("n"),
          explode(signs).as("sg"))
        .groupBy("user_id", "n")
        .agg(sum(col("sg")).as("s"))
        .select(col("user_id"), col("n").as("n_events"), col("s"),
          Det.roundAt(col("s").cast("double")
            / (col("n") * (col("n") - 1) / 2).cast("double"), 6).as("tau"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
          event_id, value FROM events),
      p AS (SELECT a.user_id,
          CAST(CASE WHEN b.value > a.value THEN 1
            WHEN b.value < a.value THEN -1 ELSE 0 END AS BIGINT) AS sg
        FROM e a JOIN e b ON a.user_id = b.user_id
          AND (a.sec < b.sec OR (a.sec = b.sec AND a.event_id < b.event_id))),
      n AS (SELECT user_id, COUNT(*) AS n FROM e GROUP BY user_id)
      SELECT p.user_id, n.n AS n_events, CAST(SUM(sg) AS BIGINT) AS s,
        floor(CAST(SUM(sg) AS DOUBLE) / CAST(n.n * (n.n - 1) // 2 AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS tau
      FROM p JOIN n ON n.user_id = p.user_id
      GROUP BY p.user_id, n.n ORDER BY p.user_id"""))

  // q244 — FIRST-TOUCH / LAST-TOUCH / LINEAR ATTRIBUTION side by side
  // (the heuristics q221's Markov removal effect corrects — shipping
  // them together is how an analyst sees WHERE position bias lives):
  // over each converting user's pre-purchase touch list, first-touch
  // credits the opener, last-touch the closer, linear 1/n each
  // (per-journey shares 1e-12-requantized, decimal-summed). One bounded
  // per-user array pass feeds all three channel-grain aggregates.
  private val q244 = Q(
    "q244_attribution_models",
    (s, dir) => {
      val seqs = tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type").as("t")))).as("sq"))
        .select(transform(col("sq"), x => x.getField("t")).as("types"))
      val idx = array_position(col("types"), "purchase")
      val pre = seqs.filter(idx > 0)
        .select(slice(col("types"), lit(1), (idx - 1).cast("int")).as("pre"))
        .filter(size(col("pre")) > 0)
      val withPre = graft.operators.Ckpt.local(pre)
      val ft = withPre.groupBy(element_at(col("pre"), 1).as("channel"))
        .agg(count(lit(1)).as("first_touch"))
      val lt = withPre.groupBy(element_at(col("pre"), -1).as("channel"))
        .agg(count(lit(1)).as("last_touch"))
      val lin = withPre
        .select(explode(col("pre")).as("channel"),
          (floor(lit(1e12) / size(col("pre")).cast("double") + lit(0.5))
            / lit(1e12)).as("w"))
        .groupBy("channel")
        .agg(Det.roundAt(Det.dsum(col("w"), 12), 6).as("linear"))
      ft.join(lt, Seq("channel"), "full_outer")
        .join(lin, Seq("channel"), "full_outer")
        .select(col("channel"),
          coalesce(col("first_touch"), lit(0L)).as("first_touch"),
          coalesce(col("last_touch"), lit(0L)).as("last_touch"),
          coalesce(col("linear"), lit(0.0)).as("linear"))
        .orderBy("channel")
    },
    Some("""WITH seqs AS (SELECT user_id,
          list(event_type ORDER BY ts, event_id) AS types
        FROM events GROUP BY user_id),
      pre AS (SELECT types[1:list_position(types, 'purchase') - 1] AS pre
        FROM seqs WHERE list_position(types, 'purchase') > 0),
      nz AS (SELECT pre, len(pre) AS n FROM pre WHERE len(pre) > 0),
      ft AS (SELECT pre[1] AS channel, COUNT(*) AS first_touch
        FROM nz GROUP BY 1),
      lt AS (SELECT pre[-1] AS channel, COUNT(*) AS last_touch
        FROM nz GROUP BY 1),
      lin AS (SELECT u.channel AS channel,
          floor(CAST(SUM(CAST(floor(1e12 / CAST(n AS DOUBLE) + 0.5) / 1e12
            AS DECIMAL(28,12))) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS linear
        FROM nz, unnest(pre) AS u(channel) GROUP BY 1)
      SELECT COALESCE(ft.channel, lt.channel, lin.channel) AS channel,
        COALESCE(first_touch, 0) AS first_touch,
        COALESCE(last_touch, 0) AS last_touch,
        COALESCE(linear, 0.0) AS linear
      FROM ft FULL OUTER JOIN lt ON ft.channel = lt.channel
        FULL OUTER JOIN lin ON COALESCE(ft.channel, lt.channel) = lin.channel
      ORDER BY channel"""))

  // q246 — WEEKDAY SEASONALITY INDEX per event type (index = weekday
  // mean / overall mean, the BI normalization behind "Mondays run 12%
  // hot"): day-grain counts first, then two tiny grain levels; the
  // index is a ratio of decimal-exact means. Mon=0 weekday base (the
  // reference's D1 convention).
  private val q246 = Q(
    "q246_weekday_index",
    (s, dir) => {
      val day = floor(col("ts").cast("long") / 86400L)
      // 1970-01-01 was a Thursday → (day + 3) % 7 gives Mon=0
      val daily = tbl(s, dir, "events")
        .select(col("event_type"), day.as("day"))
        .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
        .withColumn("wd", pmod(col("day") + 3L, lit(7L)))
      val perWd = daily.groupBy("event_type", "wd")
        .agg(sum(col("cnt")).as("n"), count(lit(1)).as("n_days"))
      val overall = daily.groupBy("event_type")
        .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("tot_days"))
      perWd.join(broadcast(overall), "event_type")
        .select(col("event_type"), col("wd"), col("n"),
          Det.roundAt((col("n").cast("double") / col("n_days").cast("double"))
            / (col("tot").cast("double") / col("tot_days").cast("double")), 6)
            .as("seasonal_index"))
        .orderBy("event_type", "wd")
    },
    Some("""WITH daily AS (SELECT event_type,
          epoch_ns(ts) // 1000000000 // 86400 AS day, COUNT(*) AS cnt
        FROM events GROUP BY 1, 2),
      wd AS (SELECT event_type, (day + 3) % 7 AS wd, cnt, day FROM daily),
      p AS (SELECT event_type, wd, CAST(SUM(cnt) AS BIGINT) AS n,
          COUNT(*) AS n_days FROM wd GROUP BY 1, 2),
      o AS (SELECT event_type, CAST(SUM(cnt) AS BIGINT) AS tot,
          COUNT(*) AS tot_days FROM daily GROUP BY 1)
      SELECT p.event_type AS event_type, CAST(wd AS BIGINT) AS wd, n,
        floor((CAST(n AS DOUBLE) / CAST(n_days AS DOUBLE))
          / (CAST(tot AS DOUBLE) / CAST(tot_days AS DOUBLE)) * 1000000 + 0.5)
          / 1000000 AS seasonal_index
      FROM p JOIN o ON p.event_type = o.event_type
      ORDER BY event_type, wd"""))

  // q247 — DATA-COMPLETENESS GAP AUDIT: per user, hours with ≥1 event
  // vs the hours their own [first, last] activity span should cover —
  // the telemetry-SLA view of missingness (q125 FILLS gaps; this one
  // MEASURES them). Entity-grain closed form: present from one distinct
  // count, expected from the span — no dense grid, no explode.
  private val q247 = Q(
    "q247_gap_audit",
    (s, dir) => {
      val h = floor(col("ts").cast("long") / 3600L)
      tbl(s, dir, "events")
        .select(col("user_id"), h.as("h"))
        .groupBy("user_id")
        .agg(countDistinct(col("h")).as("present_hours"),
          (max(col("h")) - min(col("h")) + 1L).as("expected_hours"))
        .withColumn("missing_hours", col("expected_hours") - col("present_hours"))
        .withColumn("gap_frac", Det.roundAt(
          col("missing_hours").cast("double") / col("expected_hours").cast("double"), 6))
        .orderBy(desc("gap_frac"), asc("user_id"))
        .limit(20)
    },
    Some("""WITH h AS (SELECT user_id, epoch_ns(ts) // 1000000000 // 3600 AS h
          FROM events),
      u AS (SELECT user_id, COUNT(DISTINCT h) AS present_hours,
          MAX(h) - MIN(h) + 1 AS expected_hours FROM h GROUP BY user_id)
      SELECT user_id, present_hours,
        CAST(expected_hours AS BIGINT) AS expected_hours,
        CAST(expected_hours - present_hours AS BIGINT) AS missing_hours,
        floor(CAST(expected_hours - present_hours AS DOUBLE)
          / CAST(expected_hours AS DOUBLE) * 1000000 + 0.5) / 1000000 AS gap_frac
      FROM u ORDER BY gap_frac DESC, user_id ASC LIMIT 20"""))

  // q248 — FINANCIAL RECONCILIATION: o_totalprice vs the Σ of its line
  // items' extended·(1−disc)·(1+tax), the invoice-vs-ledger audit every
  // finance pipeline runs. Both sides decimal-exact; discrepancies
  // bucketed by relative magnitude (integer CASE, no float compare
  // fuzz). One join at order grain, bucket-grain output.
  private val q248 = Q(
    "q248_reconciliation",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax")), 6).as("line_total"))
      val d = tbl(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .join(li, col("o_orderkey") === col("l_orderkey"), "left")
        .select(col("o_totalprice"),
          coalesce(col("line_total"), lit(0.0)).as("line_total"))
        .withColumn("rel_pm", floor(abs(col("line_total") - col("o_totalprice"))
          / col("o_totalprice") * lit(1000.0)).cast("long"))
      val bucket = when(col("rel_pm") === 0L, "exact_permille")
        .when(col("rel_pm") < 10L, "within_1pct")
        .when(col("rel_pm") < 100L, "within_10pct").otherwise("over_10pct")
      d.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_orders"),
          Det.dsum(col("o_totalprice")).as("order_total"),
          Det.roundAt(Det.dsum(col("line_total"), 6), 2).as("line_total"))
        .orderBy("bucket")
    },
    Some("""WITH li AS (SELECT l_orderkey,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax)
            AS DECIMAL(28,6))) AS DOUBLE) AS line_total
        FROM lineitem GROUP BY l_orderkey),
      d AS (SELECT o_totalprice, COALESCE(line_total, 0.0) AS line_total,
          CAST(floor(abs(COALESCE(line_total, 0.0) - o_totalprice)
            / o_totalprice * 1000.0) AS BIGINT) AS rel_pm
        FROM orders LEFT JOIN li ON o_orderkey = l_orderkey),
      b AS (SELECT *, CASE WHEN rel_pm = 0 THEN 'exact_permille'
          WHEN rel_pm < 10 THEN 'within_1pct'
          WHEN rel_pm < 100 THEN 'within_10pct'
          ELSE 'over_10pct' END AS bucket FROM d)
      SELECT bucket, COUNT(*) AS n_orders,
        CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS order_total,
        floor(CAST(SUM(CAST(line_total AS DECIMAL(28,6))) AS DOUBLE)
          * 100 + 0.5) / 100 AS line_total
      FROM b GROUP BY bucket ORDER BY bucket"""))

  // q250 — COHORT LTV CURVES (cumulative revenue per user by weeks
  // since acquisition — the growth-finance view on top of q98's
  // retention counts): user-week revenue grain first, cohort = the
  // user's first active week, then a cumulative decimal-exact sum per
  // cohort over the CALENDAR-bounded offset axis (the per-cohort
  // window is ≤ horizon-weeks rows). LTV/user = cum revenue / cohort
  // size.
  private val q250 = Q(
    "q250_cohort_ltv",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"), col("value"))
      val uw = ev.groupBy("user_id", "week")
        .agg(Det.dsum(col("value")).as("rev"))
      val cohort = uw.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      val sized = cohort.groupBy("cohort_week")
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      val wCum = Window.partitionBy("cohort_week").orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      uw.join(cohort, "user_id")
        .groupBy(col("cohort_week"),
          (datediff(col("week"), col("cohort_week")) / 7).cast("long")
            .as("week_offset"))
        .agg(sum(col("rev").cast(org.apache.spark.sql.types.DecimalType(28, 2)))
          .as("rev_d"))
        .withColumn("cum_rev", sum(col("rev_d")).over(wCum).cast("double"))
        .join(broadcast(sized), "cohort_week")
        .select(col("cohort_week").cast("string").as("cohort_week"),
          col("week_offset"), col("cohort_size"),
          col("rev_d").cast("double").as("week_revenue"),
          Det.roundAt(col("cum_rev") / col("cohort_size").cast("double"), 6)
            .as("ltv_per_user"))
        .orderBy("cohort_week", "week_offset")
    },
    Some("""WITH ev AS (SELECT user_id, date_trunc('week', ts) AS week, value
          FROM events),
      uw AS (SELECT user_id, week,
          CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS rev
        FROM ev GROUP BY 1, 2),
      cohort AS (SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY 1),
      sized AS (SELECT cohort_week, COUNT(DISTINCT user_id) AS cohort_size
        FROM cohort GROUP BY 1),
      co AS (SELECT c.cohort_week,
          CAST(date_diff('day', c.cohort_week, uw.week) // 7 AS BIGINT)
            AS week_offset,
          SUM(CAST(rev AS DECIMAL(28,2))) AS rev_d
        FROM uw JOIN cohort c ON c.user_id = uw.user_id GROUP BY 1, 2),
      cum AS (SELECT cohort_week, week_offset,
          CAST(rev_d AS DOUBLE) AS week_revenue,
          CAST(SUM(rev_d) OVER (PARTITION BY cohort_week ORDER BY week_offset
            ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cum_rev
        FROM co)
      SELECT strftime(cum.cohort_week, '%Y-%m-%d') AS cohort_week,
        week_offset, cohort_size, week_revenue,
        floor(cum_rev / CAST(cohort_size AS DOUBLE) * 1000000 + 0.5) / 1000000
          AS ltv_per_user
      FROM cum JOIN sized ON cum.cohort_week = sized.cohort_week
      ORDER BY cohort_week, week_offset"""))

  // q252 — UPLIFT BY SCORE DECILE (Qini-style targeting curve — where
  // q187's CUPED and q212's DiD estimate ONE average effect, this asks
  // WHO to treat): variant = the q192 hash assignment, outcome =
  // converted (any purchase), targeting score = the user's event
  // volume; per score decile the treated−control conversion gap is the
  // uplift. Integer counts per (decile, arm); ntile over (score, user)
  // is fully deterministic.
  private val q252 = Q(
    "q252_uplift_deciles",
    (s, dir) => {
      val u = graft.operators.Ckpt.local(tbl(s, dir, "events")
        .groupBy("user_id")
        .agg(count(lit(1)).as("score"),
          max((col("event_type") === "purchase").cast("long")).as("converted"))
        .withColumn("arm",
          pmod(graft.functions.TextFns.portableHash(
            col("user_id").cast("string")), lit(2L))))
      // user-grain global decile WITHOUT a single-partition window: the
      // two-level exact rank (Rank.globalRowNumber) + the arithmetic
      // NTILE rule — bit-identical to ntile(10) over the same order
      val dec = graft.operators.Rank.globalRowNumber(u, "score", "user_id",
          desc0 = true, floor(col("_rnk_v") / lit(64.0)).cast("long"), "_rk")
        .crossJoin(broadcast(u.agg(count(lit(1)).as("_n"))))
        .withColumn("decile",
          graft.operators.Rank.ntileFromRank(col("_rk"), col("_n"), 10))
        .drop("_rk", "_n")
      dec.groupBy("decile")
        .agg(sum((col("arm") === 1L).cast("long")).as("n_treat"),
          sum(when(col("arm") === 1L, col("converted"))).as("conv_treat"),
          sum((col("arm") === 0L).cast("long")).as("n_ctrl"),
          sum(when(col("arm") === 0L, col("converted"))).as("conv_ctrl"))
        .withColumn("uplift", Det.roundAt(
          col("conv_treat").cast("double") / col("n_treat").cast("double")
            - col("conv_ctrl").cast("double") / col("n_ctrl").cast("double"), 6))
        .orderBy("decile")
    },
    Some {
      val h = graft.functions.TextFns.portableHashSql("CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT user_id, COUNT(*) AS score,
            MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted,
            $h % 2 AS arm
          FROM events GROUP BY user_id),
        dec AS (SELECT *, CAST(NTILE(10) OVER (ORDER BY score DESC, user_id ASC)
            AS BIGINT) AS decile FROM u)
      SELECT decile,
        CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_treat,
        CAST(SUM(CASE WHEN arm = 1 THEN converted END) AS BIGINT) AS conv_treat,
        CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_ctrl,
        CAST(SUM(CASE WHEN arm = 0 THEN converted END) AS BIGINT) AS conv_ctrl,
        ${Det.roundAtSql(
          """CAST(SUM(CASE WHEN arm = 1 THEN converted END) AS DOUBLE)
             / CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           - CAST(SUM(CASE WHEN arm = 0 THEN converted END) AS DOUBLE)
             / CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS DOUBLE)""", 6)}
          AS uplift
      FROM dec GROUP BY decile ORDER BY decile"""
    })

  // q253 — SHIPPING SLA CONFORMANCE per order priority: ship lag =
  // l_shipdate − o_orderdate; per priority the within-30/60-day rates
  // and the exact median lag. Fact-to-dim join then priority-grain —
  // the operational-SLA twin of q248's financial reconciliation.
  private val q253 = Q(
    "q253_ship_sla",
    (s, dir) => {
      val j = tbl(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
        .join(broadcast(tbl(s, dir, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_orderpriority"),
          datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
      j.groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          Det.roundAt(sum((col("lag") <= 30L).cast("long")).cast("double")
            / count(lit(1)).cast("double"), 6).as("within_30d"),
          Det.roundAt(sum((col("lag") <= 60L).cast("long")).cast("double")
            / count(lit(1)).cast("double"), 6).as("within_60d"),
          Det.roundAt(percentile(col("lag").cast("double"), lit(0.5)), 4)
            .as("median_lag_days"))
        .orderBy("o_orderpriority")
    },
    Some("""WITH j AS (SELECT o_orderpriority,
          date_diff('day', o_orderdate, l_shipdate) AS lag
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT o_orderpriority, COUNT(*) AS n_lines,
        floor(CAST(SUM(CASE WHEN lag <= 30 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS within_30d,
        floor(CAST(SUM(CASE WHEN lag <= 60 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS within_60d,
        floor(quantile_cont(CAST(lag AS DOUBLE), 0.5) * 10000 + 0.5) / 10000
          AS median_lag_days
      FROM j GROUP BY o_orderpriority ORDER BY o_orderpriority"""))

  // q254 — FORECAST ACCURACY EVAL (MASE): Holt's in-sample one-step
  // absolute errors vs the naïve last-value forecast — MASE < 1 means
  // the model beats naïve; the eval q228's fit was missing (every model
  // here ships with its own eval: recsys→q236, langid→q234, forecast→
  // this). One fold over the calendar-bounded hourly series carries
  // (level, trend, Σ|err|·1e6, Σ|naïve err|·1e6) — both error sums are
  // integer-quantized so the oracle's recursive CTE replays them
  // exactly.
  private val q254 = Q(
    "q254_holt_mase",
    (s, dir) => {
      val q12 = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e12) + lit(0.5)) / lit(1e12)
      val q6l = (c: org.apache.spark.sql.Column) =>
        floor(c * lit(1e6) + lit(0.5)).cast("long")
      val hourly = tbl(s, dir, "events")
        .groupBy(floor(col("ts").cast("long") / 3600L).as("h"))
        .agg(Det.dsum(col("value")).as("y"))
      val series = hourly
        .agg(array_sort(collect_list(struct(col("h"), col("y")))).as("s"))
        .select(transform(col("s"), x => x.getField("y")).as("ys"))
        .filter(size(col("ys")) >= 3)
      def yAt(i: org.apache.spark.sql.Column) = element_at(col("ys"), i)
      // identical init to q228 (l=y₁, b=y₂−y₁) — this eval scores THE
      // q228 model, not a variant
      val init = struct(
        yAt(lit(1)).as("l"),
        (yAt(lit(2)) - yAt(lit(1))).as("b"),
        lit(0L).as("sh"), lit(0L).as("sn"))
      val state = aggregate(
        sequence(lit(3), size(col("ys"))), init,
        (acc, i) => {
          val y = yAt(i)
          val fc = acc.getField("l") + acc.getField("b")
          val l1 = q12(lit(0.5) * y + lit(0.5) * fc)
          val b1 = q12(lit(0.2) * (l1 - acc.getField("l"))
            + lit(0.8) * acc.getField("b"))
          struct(l1.as("l"), b1.as("b"),
            (acc.getField("sh") + q6l(abs(y - fc))).as("sh"),
            (acc.getField("sn") + q6l(abs(y - yAt(i - 1)))).as("sn"))
        })
      series.select(size(col("ys")).cast("long").as("n_obs"), state.as("st"))
        .select(col("n_obs"),
          Det.roundAt(col("st.sh").cast("double")
            / (lit(1e6) * (col("n_obs") - 2).cast("double")), 6).as("mae_holt"),
          Det.roundAt(col("st.sn").cast("double")
            / (lit(1e6) * (col("n_obs") - 2).cast("double")), 6).as("mae_naive"),
          Det.roundAt(col("st.sh").cast("double") / col("st.sn").cast("double"), 6)
            .as("mase"))
    },
    Some("""WITH RECURSIVE hourly AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS h,
          CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS y
        FROM events GROUP BY 1),
      o AS (SELECT y, ROW_NUMBER() OVER (ORDER BY h) AS rk FROM hourly),
      n AS (SELECT COUNT(*) AS n_obs FROM o),
      s(rk, l, b, sh, sn) AS (
        SELECT 2, (SELECT y FROM o WHERE rk = 1),
          (SELECT y FROM o WHERE rk = 2) - (SELECT y FROM o WHERE rk = 1),
          CAST(0 AS BIGINT), CAST(0 AS BIGINT)
        UNION ALL
        SELECT o.rk,
          floor((0.5 * o.y + 0.5 * (s.l + s.b)) * 1e12 + 0.5) / 1e12,
          floor((0.2 * (floor((0.5 * o.y + 0.5 * (s.l + s.b)) * 1e12 + 0.5) / 1e12 - s.l)
            + 0.8 * s.b) * 1e12 + 0.5) / 1e12,
          s.sh + CAST(floor(abs(o.y - (s.l + s.b)) * 1e6 + 0.5) AS BIGINT),
          s.sn + CAST(floor(abs(o.y - op.y) * 1e6 + 0.5) AS BIGINT)
        FROM s JOIN o ON o.rk = s.rk + 1 JOIN o op ON op.rk = s.rk),
      fin AS (SELECT sh, sn FROM s ORDER BY rk DESC LIMIT 1)
      SELECT n.n_obs AS n_obs,
        floor(CAST(sh AS DOUBLE) / (1e6 * CAST(n.n_obs - 2 AS DOUBLE))
          * 1000000 + 0.5) / 1000000 AS mae_holt,
        floor(CAST(sn AS DOUBLE) / (1e6 * CAST(n.n_obs - 2 AS DOUBLE))
          * 1000000 + 0.5) / 1000000 AS mae_naive,
        floor(CAST(sh AS DOUBLE) / CAST(sn AS DOUBLE) * 1000000 + 0.5) / 1000000
          AS mase
      FROM fin CROSS JOIN n WHERE n.n_obs >= 3"""))

  // q255 — CAPPED SESSIONIZATION (60-min inactivity gap OR 30-min max
  // session duration): the cap needs the running session ANCHOR — a
  // reset-on-condition recurrence no plain window/lag can express
  // (q37's session_window only knows gaps) — so each user's bounded
  // event array folds through (anchor, last, sessions, capBreaks)
  // exactly like q228's smoother. The oracle replays the identical
  // recurrence as a per-(user, rank) recursive CTE. Output is the
  // global session census + how many sessions exist ONLY because of
  // the cap.
  private val q255 = Q(
    "q255_capped_sessions",
    (s, dir) => {
      val GapS = 3600L; val CapS = 1800L
      val arr = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"), col("event_id"))
        .groupBy("user_id")
        .agg(array_sort(collect_list(struct(col("sec"), col("event_id")))).as("a"))
        .select(col("user_id"),
          transform(col("a"), x => x.getField("sec")).as("secs"))
      val init = struct(
        element_at(col("secs"), 1).as("anchor"),
        element_at(col("secs"), 1).as("last"),
        lit(1L).as("sessions"), lit(0L).as("cap_breaks"))
      val state = aggregate(
        slice(col("secs"), lit(2), greatest(size(col("secs")) - 1, lit(0))),
        init,
        (acc, sec) => {
          val gapBreak = sec - acc.getField("last") >= GapS
          val capBreak = !gapBreak && (sec - acc.getField("anchor") > CapS)
          struct(
            when(gapBreak || capBreak, sec).otherwise(acc.getField("anchor")).as("anchor"),
            sec.as("last"),
            (acc.getField("sessions")
              + (gapBreak || capBreak).cast("long")).as("sessions"),
            (acc.getField("cap_breaks") + capBreak.cast("long")).as("cap_breaks"))
        })
      arr.select(col("user_id"), state.as("st"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("st.sessions")).as("n_sessions"),
          sum(col("st.cap_breaks")).as("n_cap_splits"),
          sum((col("st.cap_breaks") > 0L).cast("long")).as("n_users_capped"))
    },
    Some("""WITH RECURSIVE e AS (SELECT user_id,
          epoch_ns(ts) // 1000000000 AS sec, event_id FROM events),
      o AS (SELECT user_id, sec,
          ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY sec, event_id) AS rk
        FROM e),
      s(user_id, rk, anchor, last, sessions, cap_breaks) AS (
        SELECT user_id, 1, sec, sec, CAST(1 AS BIGINT), CAST(0 AS BIGINT)
        FROM o WHERE rk = 1
        UNION ALL
        SELECT o.user_id, o.rk,
          CASE WHEN o.sec - s.last >= 3600
                 OR (o.sec - s.last < 3600 AND o.sec - s.anchor > 1800)
               THEN o.sec ELSE s.anchor END,
          o.sec,
          s.sessions + CASE WHEN o.sec - s.last >= 3600
              OR (o.sec - s.last < 3600 AND o.sec - s.anchor > 1800)
            THEN 1 ELSE 0 END,
          s.cap_breaks + CASE WHEN o.sec - s.last < 3600
              AND o.sec - s.anchor > 1800 THEN 1 ELSE 0 END
        FROM s JOIN o ON o.user_id = s.user_id AND o.rk = s.rk + 1),
      fin AS (SELECT user_id, sessions, cap_breaks FROM (
          SELECT user_id, sessions, cap_breaks,
            ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY rk DESC) AS rr
          FROM s) z WHERE rr = 1)
      SELECT COUNT(*) AS n_users, CAST(SUM(sessions) AS BIGINT) AS n_sessions,
        CAST(SUM(cap_breaks) AS BIGINT) AS n_cap_splits,
        CAST(SUM(CASE WHEN cap_breaks > 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_users_capped
      FROM fin"""))

  // q256 — WINDOWED FUNNEL (per-stage conversion deadlines: view within
  // 24 h of signup, click within 1 h of the view, purchase within 24 h
  // of the click — q97's unbounded min-chain plus the timeout rule
  // every real conversion definition carries). Same stage-grain
  // min-aggregate joins as the oracle; each stage's candidate set is
  // filtered to the window BEFORE its min, so late conversions don't
  // count.
  private val q256 = Q(
    "q256_windowed_funnel",
    (s, dir) => {
      val e = graft.operators.Ckpt.local(
        tbl(s, dir, "events").select(col("user_id"), col("event_type"),
          col("ts").cast("long").as("sec")))
      def stage(prev: org.apache.spark.sql.DataFrame, prevT: String,
                typ: String, window: Long, outT: String) =
        e.filter(col("event_type") === typ)
          .join(prev.select(col("user_id"), col(prevT)), "user_id")
          .filter(col("sec") >= col(prevT) && col("sec") <= col(prevT) + window)
          .groupBy("user_id").agg(min(col("sec")).as(outT))
      val s1 = e.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("sec")).as("t1"))
      val s2 = stage(s1, "t1", "view", 86400L, "t2")
      val s3 = stage(s2, "t2", "click", 3600L, "t3")
      val s4 = stage(s3, "t3", "purchase", 86400L, "t4")
      s1.join(s2, Seq("user_id"), "left")
        .join(s3, Seq("user_id"), "left")
        .join(s4, Seq("user_id"), "left")
        .agg(count(lit(1)).as("n_signup"), count(col("t2")).as("n_view_24h"),
          count(col("t3")).as("n_click_1h"), count(col("t4")).as("n_buy_24h"))
    },
    Some("""WITH e AS (SELECT user_id, event_type,
          epoch_ns(ts) // 1000000000 AS sec FROM events),
      s1 AS (SELECT user_id, MIN(sec) AS t1 FROM e
        WHERE event_type = 'signup' GROUP BY user_id),
      s2 AS (SELECT e.user_id, MIN(sec) AS t2 FROM e JOIN s1 USING (user_id)
        WHERE event_type = 'view' AND sec >= t1 AND sec <= t1 + 86400
        GROUP BY e.user_id),
      s3 AS (SELECT e.user_id, MIN(sec) AS t3 FROM e JOIN s2 USING (user_id)
        WHERE event_type = 'click' AND sec >= t2 AND sec <= t2 + 3600
        GROUP BY e.user_id),
      s4 AS (SELECT e.user_id, MIN(sec) AS t4 FROM e JOIN s3 USING (user_id)
        WHERE event_type = 'purchase' AND sec >= t3 AND sec <= t3 + 86400
        GROUP BY e.user_id)
      SELECT COUNT(*) AS n_signup, COUNT(t2) AS n_view_24h,
        COUNT(t3) AS n_click_1h, COUNT(t4) AS n_buy_24h
      FROM s1 LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)
        LEFT JOIN s4 USING (user_id)"""))

  // q258 — DRIFT TIMELINE: PSI of the value distribution between every
  // pair of CONSECUTIVE ISO weeks (q144 compares two fixed halves; a
  // monitor needs the week-over-week series). Fixed decade bins with
  // the +1 Laplace smoothing and 6-rounded (p−q)·ln(p/q) terms of
  // Profile.psiDrift; the week-pair join happens at (week, bin) grain —
  // calendar-bounded, so the timeline costs nothing beyond the one
  // bucket count pass.
  private val q258 = Q(
    "q258_drift_timeline",
    (s, dir) => {
      val NB = 10
      val binned = tbl(s, dir, "events")
        .select(date_trunc("week", col("ts")).cast("date").as("week"),
          least(floor(col("value") / 50.0), lit(9.0)).cast("long").as("bin"))
        .groupBy("week", "bin").agg(count(lit(1)).as("c"))
      val spine = binned.select("week").distinct()
        .crossJoin(broadcast(s.range(NB).select(col("id").as("bin"))))
      val full = spine.join(binned, Seq("week", "bin"), "left")
        .withColumn("c", coalesce(col("c"), lit(0L)))
      val tot = full.groupBy("week").agg(sum(col("c")).as("n"))
      val wk = full.join(tot, "week")
        .select(col("week"), col("bin"),
          ((col("c") + lit(1)).cast("double")
            / (col("n") + lit(NB)).cast("double")).as("p"), col("n"))
      val nxt = wk.select(date_sub(col("week"), 7).as("week"),
        col("bin"), col("p").as("q"), col("n").as("n_next"))
      wk.join(nxt, Seq("week", "bin"))
        .withColumn("term",
          Det.roundAt((col("p") - col("q")) * log(col("p") / col("q")), 6))
        .groupBy(col("week").cast("string").as("week_start"),
          col("n"), col("n_next"))
        .agg(Det.roundAt(Det.dsum(col("term"), 6), 6).as("psi"))
        .select(col("week_start"), col("n").as("n_week"),
          col("n_next").as("n_next_week"), col("psi"))
        .orderBy("week_start")
    },
    Some("""WITH b AS (SELECT date_trunc('week', ts) AS week,
          CAST(LEAST(floor(value / 50.0), 9.0) AS BIGINT) AS bin, COUNT(*) AS c
        FROM events GROUP BY 1, 2),
      spine AS (SELECT week, g.range AS bin
        FROM (SELECT DISTINCT week FROM b) w CROSS JOIN range(0, 10) g),
      fl AS (SELECT spine.week, spine.bin, COALESCE(c, 0) AS c
        FROM spine LEFT JOIN b ON b.week = spine.week AND b.bin = spine.bin),
      tot AS (SELECT week, CAST(SUM(c) AS BIGINT) AS n FROM fl GROUP BY week),
      wk AS (SELECT fl.week, bin,
          CAST(c + 1 AS DOUBLE) / CAST(n + 10 AS DOUBLE) AS p, n
        FROM fl JOIN tot ON tot.week = fl.week),
      j AS (SELECT a.week, a.bin, a.p, a.n, b2.p AS q, b2.n AS n_next,
          floor((a.p - b2.p) * ln(a.p / b2.p) * 1000000 + 0.5) / 1000000 AS term
        FROM wk a JOIN wk b2
          ON b2.week = a.week + INTERVAL 7 DAY AND b2.bin = a.bin)
      SELECT strftime(week, '%Y-%m-%d') AS week_start,
        n AS n_week, n_next AS n_next_week,
        floor(CAST(SUM(CAST(term AS DECIMAL(28,6))) AS DOUBLE) * 1000000 + 0.5)
          / 1000000 AS psi
      FROM j GROUP BY week, n, n_next ORDER BY week_start"""))

  // q259 — DAILY VOLUME ANOMALIES vs the trailing 7-day baseline (the
  // global ops-dashboard twin of q58's per-user state anomalies): each
  // day's event count scored against the mean/ddof-1 std of the 7
  // PRIOR days (rows-between window over the calendar-bounded day
  // series — integer counts so the moments are decimal-exact), flagged
  // at |z| > 2. Days without a full 7-day history are unscored (NULL z,
  // standard warm-up rule).
  private val q259 = Q(
    "q259_daily_anomalies",
    (s, dir) => {
      val daily = tbl(s, dir, "events")
        .groupBy(floor(col("ts").cast("long") / 86400L).as("day"))
        .agg(count(lit(1)).as("c"))
      val w = Window.orderBy("day").rowsBetween(-7, -1)
      daily
        .withColumn("n_prior", count(col("c")).over(w))
        .withColumn("s1", sum(col("c")).over(w))
        .withColumn("s2", sum(col("c") * col("c")).over(w))
        .filter(col("n_prior") === 7L)
        .withColumn("mean", col("s1").cast("double") / lit(7.0))
        .withColumn("sd", sqrt((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / lit(7.0)) / lit(6.0)))
        .withColumn("z", Det.roundAt(
          (col("c").cast("double") - col("mean")) / col("sd"), 6))
        .select(col("day"), col("c").as("n_events"),
          Det.roundAt(col("mean"), 6).as("trailing_mean"), col("z"),
          (abs(col("z")) > 2.0).cast("long").as("is_anomaly"))
        .orderBy("day")
    },
    Some("""WITH daily AS (SELECT epoch_ns(ts) // 1000000000 // 86400 AS day,
          COUNT(*) AS c FROM events GROUP BY 1),
      wdw AS (SELECT day, c,
          COUNT(c) OVER w AS n_prior,
          CAST(SUM(c) OVER w AS BIGINT) AS s1,
          CAST(SUM(c * c) OVER w AS BIGINT) AS s2
        FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      sc AS (SELECT day, c, CAST(s1 AS DOUBLE) / 7.0 AS mean,
          sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / 7.0) / 6.0) AS sd
        FROM wdw WHERE n_prior = 7)
      SELECT day, c AS n_events,
        floor(mean * 1000000 + 0.5) / 1000000 AS trailing_mean,
        floor((CAST(c AS DOUBLE) - mean) / sd * 1000000 + 0.5) / 1000000 AS z,
        CAST(CASE WHEN abs((CAST(c AS DOUBLE) - mean) / sd) > 2.0
          THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
      FROM sc ORDER BY day"""))

  // q260 — GROWTH ACCOUNTING (new / retained / resurrected / churned
  // users per ISO week — the canonical DAU-decomposition that explains
  // WHY q230's WAU moved): from the distinct user-week grain, each
  // user-week is classified by last week's activity and any-prior
  // history; churn counts users active last week who vanished this
  // week. One entity-week shuffle + two self-references at the same
  // grain.
  private val q260 = Q(
    "q260_growth_accounting",
    (s, dir) => {
      val uw = graft.operators.Ckpt.local(
        tbl(s, dir, "events")
          .select(col("user_id"),
            date_trunc("week", col("ts")).cast("date").as("week"))
          .distinct())
      val wU = Window.partitionBy("user_id").orderBy("week")
      val flagged = uw
        .withColumn("prev_week", lag(col("week"), 1).over(wU))
        .withColumn("first_week", min(col("week")).over(
          Window.partitionBy("user_id")))
        .withColumn("kind",
          when(col("week") === col("first_week"), "new")
            .when(col("prev_week") === date_sub(col("week"), 7), "retained")
            .otherwise("resurrected"))
      val active = flagged.groupBy(col("week"))
        .agg(sum((col("kind") === "new").cast("long")).as("n_new"),
          sum((col("kind") === "retained").cast("long")).as("n_retained"),
          sum((col("kind") === "resurrected").cast("long")).as("n_resurrected"),
          count(lit(1)).as("n_active"))
      // churned in week w = active in w−7 but not in w
      val churn = uw.select(col("user_id"), date_add(col("week"), 7).as("week"))
        .join(uw, Seq("user_id", "week"), "left_anti")
        .groupBy("week").agg(count(lit(1)).as("n_churned"))
      active.join(churn, Seq("week"), "left")
        .select(col("week").cast("string").as("week_start"), col("n_active"),
          col("n_new"), col("n_retained"), col("n_resurrected"),
          coalesce(col("n_churned"), lit(0L)).as("n_churned"))
        .orderBy("week_start")
    },
    Some("""WITH uw AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events),
      f AS (SELECT user_id, week,
          lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_week,
          MIN(week) OVER (PARTITION BY user_id) AS first_week
        FROM uw),
      k AS (SELECT week,
          CASE WHEN week = first_week THEN 'new'
            WHEN prev_week = week - INTERVAL 7 DAY THEN 'retained'
            ELSE 'resurrected' END AS kind
        FROM f),
      act AS (SELECT week,
          CAST(SUM(CASE WHEN kind = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
          CAST(SUM(CASE WHEN kind = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
          CAST(SUM(CASE WHEN kind = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
          COUNT(*) AS n_active
        FROM k GROUP BY week),
      ch AS (SELECT a.week + INTERVAL 7 DAY AS week, COUNT(*) AS n_churned
        FROM uw a LEFT JOIN uw b
          ON b.user_id = a.user_id AND b.week = a.week + INTERVAL 7 DAY
        WHERE b.user_id IS NULL GROUP BY 1)
      SELECT strftime(act.week, '%Y-%m-%d') AS week_start, n_active, n_new,
        n_retained, n_resurrected, COALESCE(n_churned, 0) AS n_churned
      FROM act LEFT JOIN ch ON ch.week = act.week
      ORDER BY week_start"""))

  // q261 — QUANTILE TREATMENT EFFECTS (p25/p50/p75 value gaps between
  // the hash-assigned arms — q192's Welch test only sees the MEAN;
  // heavy-tail effects live in the quantiles): exact linear-interp
  // percentiles per arm, differenced. One arm-grain aggregate.
  private val q261 = Q(
    "q261_quantile_effects",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .withColumn("arm", pmod(graft.functions.TextFns.portableHash(
          col("user_id").cast("string")), lit(2L)))
      val perArm = e.groupBy("arm")
        .agg(count(lit(1)).as("n"),
          Det.roundAt(percentile(col("value"), lit(0.25)), 6).as("p25"),
          Det.roundAt(percentile(col("value"), lit(0.5)), 6).as("p50"),
          Det.roundAt(percentile(col("value"), lit(0.75)), 6).as("p75"))
      val t = perArm.filter(col("arm") === 1L)
        .select(col("n").as("n_treat"), col("p25").as("t25"),
          col("p50").as("t50"), col("p75").as("t75"))
      val c = perArm.filter(col("arm") === 0L)
        .select(col("n").as("n_ctrl"), col("p25").as("c25"),
          col("p50").as("c50"), col("p75").as("c75"))
      t.crossJoin(broadcast(c))
        .select(col("n_treat"), col("n_ctrl"),
          Det.roundAt(col("t25") - col("c25"), 6).as("qte_p25"),
          Det.roundAt(col("t50") - col("c50"), 6).as("qte_p50"),
          Det.roundAt(col("t75") - col("c75"), 6).as("qte_p75"))
    },
    Some {
      val h = graft.functions.TextFns.portableHashSql("CAST(user_id AS VARCHAR)")
      def q(p: String) = s"floor(quantile_cont(value, $p) * 1000000 + 0.5) / 1000000"
      s"""WITH e AS (SELECT value, $h % 2 AS arm FROM events),
        a AS (SELECT arm, COUNT(*) AS n, ${q("0.25")} AS p25,
            ${q("0.5")} AS p50, ${q("0.75")} AS p75
          FROM e GROUP BY arm)
      SELECT t.n AS n_treat, c.n AS n_ctrl,
        floor((t.p25 - c.p25) * 1000000 + 0.5) / 1000000 AS qte_p25,
        floor((t.p50 - c.p50) * 1000000 + 0.5) / 1000000 AS qte_p50,
        floor((t.p75 - c.p75) * 1000000 + 0.5) / 1000000 AS qte_p75
      FROM (SELECT * FROM a WHERE arm = 1) t
      CROSS JOIN (SELECT * FROM a WHERE arm = 0) c"""
    })

  // q262 — PEAK DETECTION in the hourly volume series (local maxima
  // with a prominence floor over the ±3-hour neighborhood — the alert
  // primitive behind "traffic spiked at 14:00"): strict local max vs
  // both immediate neighbors, prominence = count − max(neighborhood
  // min-side) computed from rows-between windows over the calendar-
  // bounded series. Integer counts end to end.
  private val q262 = Q(
    "q262_peak_detection",
    (s, dir) => {
      val hourly = tbl(s, dir, "events")
        .groupBy(floor(col("ts").cast("long") / 3600L).as("h"))
        .agg(count(lit(1)).as("c"))
      val wo = Window.orderBy("h")
      val wl = Window.orderBy("h").rowsBetween(-3, -1)
      val wr = Window.orderBy("h").rowsBetween(1, 3)
      hourly
        .withColumn("prev", lag(col("c"), 1).over(wo))
        .withColumn("nxt", lead(col("c"), 1).over(wo))
        .withColumn("lmin", min(col("c")).over(wl))
        .withColumn("rmin", min(col("c")).over(wr))
        .filter(col("prev").isNotNull && col("nxt").isNotNull
          && col("c") > col("prev") && col("c") > col("nxt"))
        .withColumn("prominence", col("c") - greatest(col("lmin"), col("rmin")))
        .filter(col("prominence") >= 8L)
        .select(col("h").as("hour"), col("c").as("n_events"), col("prominence"))
        .orderBy("hour")
    },
    Some("""WITH hourly AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS h,
          COUNT(*) AS c FROM events GROUP BY 1),
      x AS (SELECT h, c,
          lag(c) OVER (ORDER BY h) AS prev, lead(c) OVER (ORDER BY h) AS nxt,
          MIN(c) OVER (ORDER BY h ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS lmin,
          MIN(c) OVER (ORDER BY h ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING) AS rmin
        FROM hourly)
      SELECT h AS hour, c AS n_events,
        CAST(c - GREATEST(lmin, rmin) AS BIGINT) AS prominence
      FROM x
      WHERE prev IS NOT NULL AND nxt IS NOT NULL AND c > prev AND c > nxt
        AND c - GREATEST(lmin, rmin) >= 8
      ORDER BY hour"""))

  // q263 — INTER-ARRIVAL REGULARITY (coefficient of variation of each
  // user's event gaps — the bot signal q238's Fano factor can't see:
  // a cron-like client has NORMAL volume but near-zero gap variance):
  // per user, ddof-1 CV of the consecutive-gap seconds off one lag
  // window; integer gap moments so the CV is decimal-exact. CV < 0.3
  // flags metronomic traffic.
  private val q263 = Q(
    "q263_interarrival_cv",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      val gaps = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"), col("event_id"))
        .withColumn("gap", col("sec") - lag(col("sec"), 1).over(w))
        .filter(col("gap").isNotNull)
      gaps.groupBy("user_id")
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap")).as("s1"),
          sum(col("gap") * col("gap")).as("s2"))
        .filter(col("n_gaps") >= 2)
        .withColumn("mean", col("s1").cast("double") / col("n_gaps").cast("double"))
        .withColumn("sd", sqrt((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double")
            / col("n_gaps").cast("double"))
          / (col("n_gaps") - 1).cast("double")))
        .select(col("user_id"), col("n_gaps"),
          Det.roundAt(col("mean"), 6).as("mean_gap_sec"),
          Det.roundAt(col("sd") / col("mean"), 6).as("cv"),
          (col("sd") / col("mean") < 0.3).cast("long").as("is_metronomic"))
        .orderBy("user_id")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
          event_id FROM events),
      g AS (SELECT user_id,
          sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) AS gap
        FROM e),
      u AS (SELECT user_id, COUNT(*) AS n_gaps,
          CAST(SUM(gap) AS BIGINT) AS s1, CAST(SUM(gap * gap) AS BIGINT) AS s2
        FROM g WHERE gap IS NOT NULL GROUP BY user_id),
      m AS (SELECT user_id, n_gaps,
          CAST(s1 AS DOUBLE) / CAST(n_gaps AS DOUBLE) AS mean,
          sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
              / CAST(n_gaps AS DOUBLE)) / CAST(n_gaps - 1 AS DOUBLE)) AS sd
        FROM u WHERE n_gaps >= 2)
      SELECT user_id, n_gaps,
        floor(mean * 1000000 + 0.5) / 1000000 AS mean_gap_sec,
        floor(sd / mean * 1000000 + 0.5) / 1000000 AS cv,
        CAST(CASE WHEN sd / mean < 0.3 THEN 1 ELSE 0 END AS BIGINT)
          AS is_metronomic
      FROM m ORDER BY user_id"""))

  // q264 — ONBOARDING BEHAVIOR BITMASK: each user's SET of event types
  // within 24 h of their first event, as a 5-bit mask (signup=1, view=2,
  // click=4, purchase=8, error=16) — the feature-adoption Venn of the
  // activation window (over all time every user converges to 31; the
  // onboarding slice is where segments differ). Per-user first-event
  // broadcast, distinct (user, type), integer mask; ≤ 32 segment rows.
  private val q264 = Q(
    "q264_behavior_mask",
    (s, dir) => {
      val bit = when(col("event_type") === "signup", 1L)
        .when(col("event_type") === "view", 2L)
        .when(col("event_type") === "click", 4L)
        .when(col("event_type") === "purchase", 8L).otherwise(16L)
      val ev = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"), col("event_type"))
      val first = ev.groupBy("user_id").agg(min(col("sec")).as("f0"))
      val masks = ev.join(broadcast(first), "user_id")
        .filter(col("sec") <= col("f0") + 86400L)
        .select(col("user_id"), bit.as("bit")).distinct()
        .groupBy("user_id").agg(sum(col("bit")).as("mask"))
      masks.groupBy("mask")
        .agg(count(lit(1)).as("n_users"))
        .withColumn("n_types", bit_count(col("mask")).cast("long"))
        .select("mask", "n_types", "n_users")
        .orderBy(desc("n_users"), asc("mask"))
    },
    Some("""WITH f AS (SELECT user_id, MIN(epoch_ns(ts) // 1000000000) AS f0
          FROM events GROUP BY user_id),
      b AS (SELECT DISTINCT e.user_id,
          CASE event_type WHEN 'signup' THEN 1 WHEN 'view' THEN 2
            WHEN 'click' THEN 4 WHEN 'purchase' THEN 8 ELSE 16 END AS bit
        FROM events e JOIN f ON f.user_id = e.user_id
        WHERE epoch_ns(ts) // 1000000000 <= f0 + 86400),
      m AS (SELECT user_id, CAST(SUM(bit) AS BIGINT) AS mask
        FROM b GROUP BY user_id)
      SELECT mask, CAST(bit_count(mask) AS BIGINT) AS n_types,
        COUNT(*) AS n_users
      FROM m GROUP BY mask ORDER BY n_users DESC, mask ASC"""))

  // q265 — PRICE-VOLUME REVENUE BRIDGE per brand, 1996→1997 (the FP&A
  // decomposition "how much of the revenue change was volume, how much
  // price": Δrev = Δqty·p̄ + q̄·Δprice with midpoint anchors, residual
  // zero by construction — the two effects provably sum to the total).
  // Fact rows reduce once to (brand, year) decimal-exact qty/revenue;
  // everything after is brand-grain arithmetic on exact sums.
  private val q265 = Q(
    "q265_revenue_bridge",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .join(tbl(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .withColumn("yr", year(col("o_orderdate")))
        .filter(col("yr").isin(1996, 1997))
      val by = li.groupBy(col("p_brand"), col("yr"))
        .agg(Det.dsum(col("l_quantity")).as("qty"),
          Det.dsum(col("l_extendedprice") * (lit(1) - col("l_discount")), 4)
            .as("rev"))
      def side(y: Int, p: String) = by.filter(col("yr") === y)
        .select(col("p_brand"), col("qty").as(s"q$p"), col("rev").as(s"r$p"))
      side(1996, "1").join(side(1997, "2"), Seq("p_brand"), "inner")
        .withColumn("p1", col("r1") / col("q1"))
        .withColumn("p2", col("r2") / col("q2"))
        .withColumn("vol_effect", Det.roundAt(
          (col("q2") - col("q1")) * (col("p1") + col("p2")) / 2.0, 4))
        .withColumn("price_effect", Det.roundAt(
          (col("p2") - col("p1")) * (col("q1") + col("q2")) / 2.0, 4))
        .select(col("p_brand"),
          Det.roundAt(col("r2") - col("r1"), 4).as("delta_rev"),
          col("vol_effect"), col("price_effect"),
          Det.roundAt(col("r2") - col("r1")
            - ((col("q2") - col("q1")) * (col("p1") + col("p2")) / 2.0
              + (col("p2") - col("p1")) * (col("q1") + col("q2")) / 2.0), 4)
            .as("residual"))
        .orderBy("p_brand")
    },
    Some("""WITH li AS (SELECT p_brand, EXTRACT(YEAR FROM o_orderdate) AS yr,
          CAST(SUM(CAST(l_quantity AS DECIMAL(28,2))) AS DOUBLE) AS qty,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,4))) AS DOUBLE) AS rev
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE EXTRACT(YEAR FROM o_orderdate) IN (1996, 1997)
        GROUP BY p_brand, yr),
      a AS (SELECT p_brand, qty AS q1, rev AS r1 FROM li WHERE yr = 1996),
      b AS (SELECT p_brand, qty AS q2, rev AS r2 FROM li WHERE yr = 1997),
      j AS (SELECT a.p_brand AS p_brand, q1, r1, q2, r2,
          r1 / q1 AS p1, r2 / q2 AS p2
        FROM a JOIN b ON a.p_brand = b.p_brand)
      SELECT p_brand,
        floor((r2 - r1) * 10000 + 0.5) / 10000 AS delta_rev,
        floor((q2 - q1) * (p1 + p2) / 2.0 * 10000 + 0.5) / 10000 AS vol_effect,
        floor((p2 - p1) * (q1 + q2) / 2.0 * 10000 + 0.5) / 10000 AS price_effect,
        floor((r2 - r1 - ((q2 - q1) * (p1 + p2) / 2.0
          + (p2 - p1) * (q1 + q2) / 2.0)) * 10000 + 0.5) / 10000 AS residual
      FROM j ORDER BY p_brand"""))

  // q266 — SPEARMAN RANK CORRELATION (discount vs quantity per return
  // flag — the monotone-association complement to q10's Pearson, immune
  // to the outliers and nonlinearity that bend r): average ranks for
  // ties DOUBLED to stay integer (avg rank = min-rank + (ties−1)/2 →
  // 2·avg is exact), then the decimal-exact Pearson of the rank pairs.
  // Ranks come from two windows over the same per-group sort grain.
  private val q266 = Q(
    "q266_spearman",
    (s, dir) => {
      def ranks2(c: String, out: String) = {
        val wMin = Window.partitionBy("l_returnflag").orderBy(col(c))
        val wTie = Window.partitionBy("l_returnflag", c)
        (rank().over(wMin) * 2 + count(lit(1)).over(wTie) - 1)
          .cast("long").as(out)
      }
      tbl(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_discount"), col("l_quantity"))
        .select(col("l_returnflag"),
          ranks2("l_discount", "rx"), ranks2("l_quantity", "ry"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          Det.roundAt(Det.dcorr(col("rx"), col("ry"), 0), 6).as("spearman_rho"))
        .orderBy("l_returnflag")
    },
    Some {
      val n = "CAST(COUNT(*) AS DOUBLE)"
      def ds(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(28,0))) AS DOUBLE)"
      val (sx, sy) = (ds("rx"), ds("ry"))
      val (sxx, syy, sxy) = (ds("rx * rx"), ds("ry * ry"), ds("rx * ry"))
      s"""WITH r AS (SELECT l_returnflag,
          CAST(RANK() OVER (PARTITION BY l_returnflag ORDER BY l_discount) * 2
            + COUNT(*) OVER (PARTITION BY l_returnflag, l_discount) - 1 AS BIGINT) AS rx,
          CAST(RANK() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) * 2
            + COUNT(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1 AS BIGINT) AS ry
        FROM lineitem)
      SELECT l_returnflag, COUNT(*) AS n,
        ${Det.roundAtSql(
          s"($n * $sxy - $sx * $sy) / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))",
          6)} AS spearman_rho
      FROM r GROUP BY l_returnflag ORDER BY l_returnflag"""
    })

  // q267 — LAGGED CROSS-CORRELATION between the hourly view and
  // purchase series (does browsing LEAD buying, and by how many
  // hours?): Pearson r of (viewₜ, purchaseₜ₊ₖ) for k = 0…6, each lag an
  // equi-join of the calendar-bounded hourly series at h+k (only hours
  // where both exist — calendar gaps never fabricate a pair). Integer
  // counts → decimal-exact cross-moments; q146's ACF machinery pointed
  // across two series.
  private val q267 = Q(
    "q267_cross_correlation",
    (s, dir) => {
      val hourly = graft.operators.Ckpt.local(
        tbl(s, dir, "events")
          .filter(col("event_type").isin("view", "purchase"))
          .groupBy(floor(col("ts").cast("long") / 3600L).as("h"), col("event_type"))
          .agg(count(lit(1)).as("c")))
      val v = hourly.filter(col("event_type") === "view")
        .select(col("h"), col("c").as("x"))
      val p = hourly.filter(col("event_type") === "purchase")
        .select(col("h").as("hp"), col("c").as("y"))
      val lags = (0 to 6).map { k =>
        v.join(p, col("hp") === col("h") + k)
          .agg(lit(k.toLong).as("lag_hours"), count(lit(1)).as("n"),
            Det.roundAt(Det.dcorr(col("x"), col("y"), 0), 6).as("ccf"))
      }
      lags.reduce(_.unionByName(_)).orderBy("lag_hours")
    },
    Some {
      val n = "CAST(COUNT(*) AS DOUBLE)"
      def ds(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(28,0))) AS DOUBLE)"
      val (sx, sy) = (ds("x"), ds("y"))
      val (sxx, syy, sxy) = (ds("x * x"), ds("y * y"), ds("x * y"))
      val corr = Det.roundAtSql(
        s"($n * $sxy - $sx * $sy) / sqrt(($n * $sxx - $sx * $sx) * ($n * $syy - $sy * $sy))", 6)
      val one = (k: Int) =>
        s"""SELECT $k AS lag_hours, COUNT(*) AS n, $corr AS ccf
          FROM v JOIN p ON p.hp = v.h + $k"""
      s"""WITH hourly AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS h,
            event_type, COUNT(*) AS c
          FROM events WHERE event_type IN ('view', 'purchase') GROUP BY 1, 2),
        v AS (SELECT h, CAST(c AS BIGINT) AS x FROM hourly
          WHERE event_type = 'view'),
        p AS (SELECT h AS hp, CAST(c AS BIGINT) AS y FROM hourly
          WHERE event_type = 'purchase')
      ${(0 to 6).map(one).mkString("\n      UNION ALL ")}
      ORDER BY lag_hours"""
    })

  // q268 — RANK MOVERS: which props.k "tags" rose or fell hardest
  // between the corpus' first and second half (frequency rank shift —
  // the movers-and-shakers board behind every trending UI): per half,
  // deterministic dense ranks by count; output the top-10 |shift|.
  // Tag-grain everything after one day-split count.
  private val q268 = Q(
    "q268_rank_movers",
    (s, dir) => {
      val kcol = from_json(col("props"),
        org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
        .getField("k").as("k")
      val e = tbl(s, dir, "events")
        .select(kcol, col("ts").cast("long").as("sec"))
      val mid = e.agg(((min(col("sec")) + max(col("sec"))) / 2).cast("long")
        .as("mid"))
      val counts = e.crossJoin(broadcast(mid))
        .groupBy(col("k"), (col("sec") <= col("mid")).cast("int").as("first_half"))
        .agg(count(lit(1)).as("c"))
      def half(fh: Int, p: String) = {
        val w = Window.orderBy(desc("c"), asc("k"))
        counts.filter(col("first_half") === fh)
          .withColumn(s"rank_$p", row_number().over(w).cast("long"))
          .select(col("k"), col("c").as(s"c_$p"), col(s"rank_$p"))
      }
      half(1, "a").join(half(0, "b"), Seq("k"), "inner")
        .withColumn("shift", col("rank_a") - col("rank_b"))
        .orderBy(abs(col("shift")).desc, col("k").asc)
        .limit(10)
        .select("k", "c_a", "rank_a", "c_b", "rank_b", "shift")
    },
    Some("""WITH e AS (SELECT CAST(props->>'$.k' AS BIGINT) AS k,
          epoch_ns(ts) // 1000000000 AS sec FROM events),
      mid AS (SELECT (MIN(sec) + MAX(sec)) // 2 AS mid FROM e),
      counts AS (SELECT k, CASE WHEN sec <= mid THEN 1 ELSE 0 END AS first_half,
          COUNT(*) AS c
        FROM e CROSS JOIN mid GROUP BY 1, 2),
      a AS (SELECT k, c AS c_a,
          CAST(ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS BIGINT) AS rank_a
        FROM counts WHERE first_half = 1),
      b AS (SELECT k, c AS c_b,
          CAST(ROW_NUMBER() OVER (ORDER BY c DESC, k ASC) AS BIGINT) AS rank_b
        FROM counts WHERE first_half = 0)
      SELECT a.k AS k, c_a, rank_a, c_b, rank_b, rank_a - rank_b AS shift
      FROM a JOIN b ON a.k = b.k
      ORDER BY abs(rank_a - rank_b) DESC, a.k ASC LIMIT 10"""))

  // q269 — ENGAGEMENT DEPTH (days-active-per-week histogram: how many
  // user-weeks were 1-day drive-bys vs 7-day habits — the depth
  // dimension q230's DAU/WAU ratio only averages): distinct user-day,
  // roll to user-week depth, histogram ≤ 7 buckets.
  private val q269 = Q(
    "q269_engagement_depth",
    (s, dir) => {
      val ud = tbl(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"),
          floor(col("ts").cast("long") / 86400L).as("day"))
        .distinct()
      ud.groupBy("user_id", "week")
        .agg(count(lit(1)).as("days_active"))
        .groupBy("days_active")
        .agg(count(lit(1)).as("n_user_weeks"))
        .orderBy("days_active")
    },
    Some("""WITH ud AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week,
          epoch_ns(ts) // 1000000000 // 86400 AS day FROM events),
      uw AS (SELECT user_id, week, COUNT(*) AS days_active
        FROM ud GROUP BY user_id, week)
      SELECT days_active, COUNT(*) AS n_user_weeks
      FROM uw GROUP BY days_active ORDER BY days_active"""))

  // q270 — VALUE BY TENURE (average event value as a function of weeks
  // since the user's first activity — the lifecycle curve under q250's
  // LTV): tenure from a broadcast per-user first-week; week-offset
  // grain output with decimal-exact means.
  private val q270 = Q(
    "q270_value_by_tenure",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"), col("value"))
      val first = e.groupBy("user_id").agg(min(col("week")).as("w0"))
      e.join(broadcast(first), "user_id")
        .groupBy((datediff(col("week"), col("w0")) / 7).cast("long")
          .as("tenure_weeks"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          Det.roundAt(Det.dsum(col("value")) / count(lit(1)), 6)
            .as("avg_value"))
        .orderBy("tenure_weeks")
    },
    Some("""WITH e AS (SELECT user_id, date_trunc('week', ts) AS week, value
          FROM events),
      f AS (SELECT user_id, MIN(week) AS w0 FROM e GROUP BY user_id)
      SELECT CAST(date_diff('day', w0, week) // 7 AS BIGINT) AS tenure_weeks,
        COUNT(*) AS n_events, COUNT(DISTINCT e.user_id) AS n_users,
        floor(CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
          * 1000000 + 0.5) / 1000000 AS avg_value
      FROM e JOIN f ON f.user_id = e.user_id
      GROUP BY 1 ORDER BY tenure_weeks"""))

  // q271 — RETENTION BY ACQUISITION TYPE (does how a user ARRIVED
  // predict whether they come back? first event type as the acquisition
  // channel, next-week return rate per channel): per-user first event
  // via one min-struct aggregate, return = any activity in days 7–13
  // after the first day. Channel-grain output.
  private val q271 = Q(
    "q271_acquisition_retention",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"),
          col("event_id"), col("event_type"))
      val first = e.groupBy("user_id")
        .agg(min(struct(col("sec"), col("event_id"), col("event_type")))
          .as("f"))
        .select(col("user_id"), col("f.sec").as("f_sec"),
          col("f.event_type").as("channel"))
      val d0 = floor(col("f_sec") / 86400L)
      val ret = e.select(col("user_id"), floor(col("sec") / 86400L).as("day"))
        .distinct()
        .join(broadcast(first.select(col("user_id"), d0.as("d0"))), "user_id")
        .filter(col("day") >= col("d0") + 7 && col("day") <= col("d0") + 13)
        .select(col("user_id")).distinct()
        .withColumn("returned", lit(1L))
      first.join(ret, Seq("user_id"), "left")
        .groupBy("channel")
        .agg(count(lit(1)).as("n_users"),
          sum(coalesce(col("returned"), lit(0L))).as("n_returned"))
        .withColumn("week1_retention", Det.roundAt(
          col("n_returned").cast("double") / col("n_users").cast("double"), 6))
        .orderBy("channel")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec,
          event_id, event_type FROM events),
      f AS (SELECT user_id,
          MIN({'sec': sec, 'eid': event_id, 'et': event_type}) AS fr
        FROM e GROUP BY user_id),
      fx AS (SELECT user_id, fr.sec AS f_sec, fr.et AS channel,
          fr.sec // 86400 AS d0 FROM f),
      act AS (SELECT DISTINCT e.user_id, sec // 86400 AS day FROM e),
      ret AS (SELECT DISTINCT act.user_id FROM act JOIN fx USING (user_id)
        WHERE day >= d0 + 7 AND day <= d0 + 13)
      SELECT channel, COUNT(*) AS n_users,
        CAST(SUM(CASE WHEN ret.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS n_returned,
        floor(CAST(SUM(CASE WHEN ret.user_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS week1_retention
      FROM fx LEFT JOIN ret ON ret.user_id = fx.user_id
      GROUP BY channel ORDER BY channel"""))

  // q272 — VALUE CONCENTRATION ("whale curve": what share of total
  // value do the top 1% / 10% users produce — the skew number behind
  // every monetization plan): user-grain decimal-exact totals, one
  // descending rank, two threshold sums. Complements q211's ABC classes
  // with user-population percentiles.
  private val q272 = Q(
    "q272_value_concentration",
    (s, dir) => {
      val u = graft.operators.Ckpt.local(
        tbl(s, dir, "events")
          .groupBy("user_id").agg(Det.dsum(col("value")).as("v")))
      val n = u.agg(count(lit(1)).as("n_users"),
        Det.dsum(col("v"), 2).as("total"))
      // user-grain global rank via the two-level shape (no
      // single-partition window over the user population)
      val ranked = graft.operators.Rank.globalRowNumber(u, "v", "user_id",
        desc0 = true, floor(col("_rnk_v") / lit(16384.0)).cast("long"), "rk")
      ranked.crossJoin(broadcast(n))
        .select(col("n_users"), col("total"),
          when(col("rk") * 100 <= col("n_users"), col("v")).as("top1"),
          when(col("rk") * 10 <= col("n_users"), col("v")).as("top10"))
        .groupBy("n_users", "total")
        .agg(Det.dsum(col("top1"), 2).as("top1_value"),
          Det.dsum(col("top10"), 2).as("top10_value"))
        .select(col("n_users"),
          Det.roundAt(col("total"), 2).as("total_value"),
          Det.roundAt(col("top1_value") / col("total"), 6).as("top1pct_share"),
          Det.roundAt(col("top10_value") / col("total"), 6).as("top10pct_share"))
    },
    Some("""WITH u AS (SELECT user_id,
          CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS v
        FROM events GROUP BY user_id),
      n AS (SELECT COUNT(*) AS n_users,
          CAST(SUM(CAST(v AS DECIMAL(28,2))) AS DOUBLE) AS total FROM u),
      r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v DESC, user_id ASC) AS rk
        FROM u)
      SELECT n_users,
        floor(total * 100 + 0.5) / 100 AS total_value,
        floor(CAST(SUM(CASE WHEN rk * 100 <= n_users
            THEN CAST(v AS DECIMAL(28,2)) END) AS DOUBLE) / total
          * 1000000 + 0.5) / 1000000 AS top1pct_share,
        floor(CAST(SUM(CASE WHEN rk * 10 <= n_users
            THEN CAST(v AS DECIMAL(28,2)) END) AS DOUBLE) / total
          * 1000000 + 0.5) / 1000000 AS top10pct_share
      FROM r CROSS JOIN n GROUP BY n_users, total"""))

  // q273 — REPEAT-PURCHASE CADENCE: the distribution of gaps between a
  // user's consecutive purchases (the replenishment-cycle number behind
  // send-time optimization): one lag window over purchase events only,
  // exact global percentiles of the day gaps.
  private val q273 = Q(
    "q273_repurchase_cadence",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("sec"), col("event_id"))
      val gaps = tbl(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").cast("long").as("sec"), col("event_id"))
        .withColumn("gap_days",
          (col("sec") - lag(col("sec"), 1).over(w)).cast("double") / 86400.0)
        .filter(col("gap_days").isNotNull)
      gaps.agg(count(lit(1)).as("n_gaps"),
        Det.roundAt(percentile(col("gap_days"), lit(0.25)), 4).as("p25_days"),
        Det.roundAt(percentile(col("gap_days"), lit(0.5)), 4).as("p50_days"),
        Det.roundAt(percentile(col("gap_days"), lit(0.75)), 4).as("p75_days"),
        Det.roundAt(max(col("gap_days")), 4).as("max_days"))
    },
    Some("""WITH p AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, event_id
          FROM events WHERE event_type = 'purchase'),
      g AS (SELECT CAST(sec - lag(sec) OVER (PARTITION BY user_id
            ORDER BY sec, event_id) AS DOUBLE) / 86400.0 AS gap_days FROM p)
      SELECT COUNT(*) AS n_gaps,
        floor(quantile_cont(gap_days, 0.25) * 10000 + 0.5) / 10000 AS p25_days,
        floor(quantile_cont(gap_days, 0.5) * 10000 + 0.5) / 10000 AS p50_days,
        floor(quantile_cont(gap_days, 0.75) * 10000 + 0.5) / 10000 AS p75_days,
        floor(MAX(gap_days) * 10000 + 0.5) / 10000 AS max_days
      FROM g WHERE gap_days IS NOT NULL"""))

  // q274 — CONVERSION BY SESSION DEPTH (does a longer session convert
  // better? sessions bucketed by event count, purchase share per
  // bucket): q37's 30-min session grain, integer CASE depth buckets,
  // bucket-grain output.
  private val q274 = Q(
    "q274_depth_conversion",
    (s, dir) => {
      val sess = tbl(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("depth"),
          max((col("event_type") === "purchase").cast("long")).as("converted"))
      val bucket = when(col("depth") === 1L, "1")
        .when(col("depth") <= 3L, "2-3").when(col("depth") <= 6L, "4-6")
        .otherwise("7+")
      sess.groupBy(bucket.as("depth_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"))
        .withColumn("conversion_rate", Det.roundAt(
          col("n_converted").cast("double") / col("n_sessions").cast("double"), 6))
        .orderBy("depth_bucket")
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT user_id, event_type,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid FROM e),
      sess AS (SELECT user_id, sid, COUNT(*) AS depth,
          MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM s GROUP BY user_id, sid),
      b AS (SELECT CASE WHEN depth = 1 THEN '1' WHEN depth <= 3 THEN '2-3'
          WHEN depth <= 6 THEN '4-6' ELSE '7+' END AS depth_bucket, converted
        FROM sess)
      SELECT depth_bucket, COUNT(*) AS n_sessions,
        CAST(SUM(converted) AS BIGINT) AS n_converted,
        floor(CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS conversion_rate
      FROM b GROUP BY depth_bucket ORDER BY depth_bucket"""))

  // q275 — INCIDENT IMPACT ON CONVERSION: sessions that overlap a
  // global error-burst window (q216's outage grain and cell-join shape)
  // vs clean sessions — the SRE-to-revenue bridge "did the incident
  // cost us purchases?". Session and outage intervals in integer
  // seconds; overlap via hour-cell equi-join + pair dedup; one
  // two-row impact report.
  private val q275 = Q(
    "q275_incident_impact",
    (s, dir) => {
      val ev = tbl(s, dir, "events")
      def toSec(c: org.apache.spark.sql.Column) = c.cast("long")
      val sess = ev.groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(toSec(min(col("ts"))).as("a_s"),
          (toSec(max(col("ts"))) + 1800L).as("a_e"),
          max((col("event_type") === "purchase").cast("long")).as("converted"))
        .select("user_id", "a_s", "a_e", "converted")
      val outage = ev.filter(col("event_type") === "error")
        .groupBy(session_window(col("ts"), "10 minutes"))
        .agg(toSec(min(col("ts"))).as("o_s"),
          (toSec(max(col("ts"))) + 600L).as("o_e"))
        .select("o_s", "o_e")
      def cells(df: org.apache.spark.sql.DataFrame, s0: String, e0: String) =
        df.withColumn("cell",
          explode(sequence(col(s0) / 3600L cast "long", col(e0) / 3600L cast "long")))
      val hit = cells(sess, "a_s", "a_e")
        .join(cells(outage, "o_s", "o_e"), "cell")
        .filter(col("a_s") < col("o_e") && col("o_s") < col("a_e"))
        .select("user_id", "a_s").distinct()
        .withColumn("overlapped", lit(1L))
      sess.join(hit, Seq("user_id", "a_s"), "left")
        .groupBy(coalesce(col("overlapped"), lit(0L)).as("overlapped_outage"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("converted")).as("n_converted"))
        .withColumn("conversion_rate", Det.roundAt(
          col("n_converted").cast("double") / col("n_sessions").cast("double"), 6))
        .orderBy("overlapped_outage")
    },
    Some("""WITH ue AS (SELECT user_id, ts, event_id, event_type,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      us AS (SELECT user_id, ts, event_type,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid FROM ue),
      a AS (SELECT user_id, epoch_ns(MIN(ts)) // 1000000000 AS a_s,
          epoch_ns(MAX(ts)) // 1000000000 + 1800 AS a_e,
          MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS converted
        FROM us GROUP BY user_id, sid),
      ee AS (SELECT ts, event_id,
          CASE WHEN lag(ts) OVER v IS NULL
            OR ts - lag(ts) OVER v >= INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS ns
        FROM events WHERE event_type = 'error'
        WINDOW v AS (ORDER BY ts, event_id)),
      es AS (SELECT ts, SUM(ns) OVER (ORDER BY ts, event_id
          ROWS UNBOUNDED PRECEDING) AS sid FROM ee),
      o AS (SELECT epoch_ns(MIN(ts)) // 1000000000 AS o_s,
          epoch_ns(MAX(ts)) // 1000000000 + 600 AS o_e FROM es GROUP BY sid),
      hit AS (SELECT DISTINCT a.user_id, a.a_s FROM a JOIN o
        ON a.a_s < o.o_e AND o.o_s < a.a_e)
      SELECT CASE WHEN hit.user_id IS NOT NULL THEN 1 ELSE 0 END
          AS overlapped_outage,
        COUNT(*) AS n_sessions, CAST(SUM(converted) AS BIGINT) AS n_converted,
        floor(CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS conversion_rate
      FROM a LEFT JOIN hit ON hit.user_id = a.user_id AND hit.a_s = a.a_s
      GROUP BY 1 ORDER BY overlapped_outage"""))

  // q276 — AUDIENCE OVERLAP per week (Jaccard of the weekly viewer and
  // buyer sets — the "how much of my buying audience also browses"
  // number): two distinct entity-week sets, full-outer at (user, week),
  // integer intersection/union counts.
  private val q276 = Q(
    "q276_audience_overlap",
    (s, dir) => {
      def wk(t: String) = tbl(s, dir, "events")
        .filter(col("event_type") === t)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("week"))
        .distinct().withColumn(s"is_$t", lit(1L))
      wk("view").join(wk("purchase"), Seq("user_id", "week"), "full_outer")
        .groupBy("week")
        .agg(sum(coalesce(col("is_view"), lit(0L))).as("n_viewers"),
          sum(coalesce(col("is_purchase"), lit(0L))).as("n_buyers"),
          sum((col("is_view").isNotNull && col("is_purchase").isNotNull)
            .cast("long")).as("n_both"),
          count(lit(1)).as("n_union"))
        .withColumn("jaccard", Det.roundAt(
          col("n_both").cast("double") / col("n_union").cast("double"), 6))
        .select(col("week").cast("string").as("week_start"), col("n_viewers"),
          col("n_buyers"), col("n_both"), col("jaccard"))
        .orderBy("week_start")
    },
    Some("""WITH v AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events WHERE event_type = 'view'),
      p AS (SELECT DISTINCT user_id, date_trunc('week', ts) AS week
          FROM events WHERE event_type = 'purchase'),
      j AS (SELECT COALESCE(v.user_id, p.user_id) AS user_id,
          COALESCE(v.week, p.week) AS week,
          CASE WHEN v.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_v,
          CASE WHEN p.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_p
        FROM v FULL OUTER JOIN p
          ON v.user_id = p.user_id AND v.week = p.week)
      SELECT strftime(week, '%Y-%m-%d') AS week_start,
        CAST(SUM(is_v) AS BIGINT) AS n_viewers,
        CAST(SUM(is_p) AS BIGINT) AS n_buyers,
        CAST(SUM(is_v * is_p) AS BIGINT) AS n_both,
        floor(CAST(SUM(is_v * is_p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS jaccard
      FROM j GROUP BY week ORDER BY week_start"""))

  // q277 — WEEKLY BOUNCE-RATE TREND (share of single-event sessions —
  // the engagement-quality line on every web dashboard): q37's session
  // grain keyed to the session's start week; week-grain output.
  private val q277 = Q(
    "q277_bounce_trend",
    (s, dir) => {
      val sess = tbl(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("depth"), min(col("ts")).as("t0"))
      sess.groupBy(date_trunc("week", col("t0")).cast("date").as("week"))
        .agg(count(lit(1)).as("n_sessions"),
          sum((col("depth") === 1L).cast("long")).as("n_bounces"))
        .withColumn("bounce_rate", Det.roundAt(
          col("n_bounces").cast("double") / col("n_sessions").cast("double"), 6))
        .select(col("week").cast("string").as("week_start"),
          col("n_sessions"), col("n_bounces"), col("bounce_rate"))
        .orderBy("week_start")
    },
    Some("""WITH e AS (SELECT user_id, ts, event_id,
          CASE WHEN lag(ts) OVER w IS NULL
            OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS ns
        FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      s AS (SELECT user_id, ts,
          SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS UNBOUNDED PRECEDING) AS sid FROM e),
      sess AS (SELECT user_id, sid, COUNT(*) AS depth, MIN(ts) AS t0
        FROM s GROUP BY user_id, sid)
      SELECT strftime(date_trunc('week', t0), '%Y-%m-%d') AS week_start,
        COUNT(*) AS n_sessions,
        CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces,
        floor(CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS DOUBLE)
          / CAST(COUNT(*) AS DOUBLE) * 1000000 + 0.5) / 1000000 AS bounce_rate
      FROM sess GROUP BY 1 ORDER BY week_start"""))

  // q278 — ERROR RATE vs LOAD (does the error share climb with hourly
  // volume? the capacity-planning correlation): hourly (volume, error
  // count), volume quintiles by ntile over the calendar-bounded series,
  // pooled error share per quintile.
  private val q278 = Q(
    "q278_error_vs_load",
    (s, dir) => {
      val hourly = tbl(s, dir, "events")
        .groupBy(floor(col("ts").cast("long") / 3600L).as("h"))
        .agg(count(lit(1)).as("c"),
          sum((col("event_type") === "error").cast("long")).as("errs"))
      hourly
        .withColumn("load_quintile", ntile(5).over(
          Window.orderBy(col("c").asc, col("h").asc)).cast("long"))
        .groupBy("load_quintile")
        .agg(count(lit(1)).as("n_hours"), sum(col("c")).as("n_events"),
          sum(col("errs")).as("n_errors"))
        .withColumn("error_rate", Det.roundAt(
          col("n_errors").cast("double") / col("n_events").cast("double"), 6))
        .orderBy("load_quintile")
    },
    Some("""WITH hourly AS (SELECT epoch_ns(ts) // 1000000000 // 3600 AS h,
          COUNT(*) AS c,
          CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
            AS errs
        FROM events GROUP BY 1),
      q AS (SELECT c, errs,
          CAST(NTILE(5) OVER (ORDER BY c ASC, h ASC) AS BIGINT) AS load_quintile
        FROM hourly)
      SELECT load_quintile, COUNT(*) AS n_hours,
        CAST(SUM(c) AS BIGINT) AS n_events,
        CAST(SUM(errs) AS BIGINT) AS n_errors,
        floor(CAST(SUM(errs) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS error_rate
      FROM q GROUP BY load_quintile ORDER BY load_quintile"""))

  // q279 — BASKET DIVERSITY (distinct brands per order — single-brand
  // loyalty vs cross-brand baskets): order-grain distinct count off the
  // broadcast part dim, histogram per diversity level.
  private val q279 = Q(
    "q279_basket_diversity",
    (s, dir) => {
      val li = tbl(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
        .join(broadcast(tbl(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
      li.groupBy(col("l_orderkey"))
        .agg(countDistinct(col("p_brand")).as("n_brands"),
          count(lit(1)).as("n_lines"))
        .groupBy("n_brands")
        .agg(count(lit(1)).as("n_orders"),
          Det.roundAt(sum(col("n_lines")).cast("double")
            / count(lit(1)).cast("double"), 6).as("avg_lines"))
        .orderBy("n_brands")
    },
    Some("""WITH li AS (SELECT l_orderkey, p_brand
          FROM lineitem JOIN part ON l_partkey = p_partkey),
      o AS (SELECT l_orderkey, COUNT(DISTINCT p_brand) AS n_brands,
          COUNT(*) AS n_lines FROM li GROUP BY l_orderkey)
      SELECT n_brands, COUNT(*) AS n_orders,
        floor(CAST(SUM(n_lines) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          * 1000000 + 0.5) / 1000000 AS avg_lines
      FROM o GROUP BY n_brands ORDER BY n_brands"""))

  // q280 — EARLY-SIGNAL VALIDATION (does week-1 spend predict lifetime
  // spend? the quartile transition matrix between each user's first-week
  // value and their total value — the audit behind every "predictive
  // LTV" model): two deterministic ntile(4) rankings over the user
  // grain, ≤16 cell rows. Diagonal mass = early signal quality.
  private val q280 = Q(
    "q280_early_signal",
    (s, dir) => {
      val e = tbl(s, dir, "events")
        .select(col("user_id"), col("ts").cast("long").as("sec"), col("value"))
      val first = e.groupBy("user_id").agg(min(col("sec")).as("f0"))
      val u = graft.operators.Ckpt.local(e.join(broadcast(first), "user_id")
        .groupBy("user_id")
        .agg(Det.dsum(when(col("sec") <= col("f0") + 604800L, col("value"))
          .otherwise(lit(0.0))).as("w1_value"),
          Det.dsum(col("value")).as("total_value")))
      // two user-grain quartile rankings, each the two-level exact rank
      // + arithmetic NTILE (no single-partition window over users)
      val withN = u.crossJoin(broadcast(u.agg(count(lit(1)).as("_n"))))
      def quart(df: org.apache.spark.sql.DataFrame, c: String, out: String) =
        graft.operators.Rank.globalRowNumber(df, c, "user_id", desc0 = true,
            floor(col("_rnk_v") / lit(16384.0)).cast("long"), "_rk")
          .withColumn(out,
            graft.operators.Rank.ntileFromRank(col("_rk"), col("_n"), 4))
          .drop("_rk")
      quart(quart(withN, "w1_value", "w1_q"), "total_value", "total_q")
        .groupBy("w1_q", "total_q")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("w1_q", "total_q")
    },
    Some("""WITH e AS (SELECT user_id, epoch_ns(ts) // 1000000000 AS sec, value
          FROM events),
      f AS (SELECT user_id, MIN(sec) AS f0 FROM e GROUP BY user_id),
      u AS (SELECT e.user_id,
          CAST(SUM(CAST(CASE WHEN sec <= f0 + 604800 THEN value ELSE 0.0 END
            AS DECIMAL(28,2))) AS DOUBLE) AS w1_value,
          CAST(SUM(CAST(value AS DECIMAL(28,2))) AS DOUBLE) AS total_value
        FROM e JOIN f ON f.user_id = e.user_id GROUP BY e.user_id),
      q AS (SELECT user_id,
          CAST(NTILE(4) OVER (ORDER BY w1_value DESC, user_id ASC) AS BIGINT) AS w1_q,
          CAST(NTILE(4) OVER (ORDER BY total_value DESC, user_id ASC) AS BIGINT) AS total_q
        FROM u)
      SELECT w1_q, total_q, COUNT(*) AS n_users
      FROM q GROUP BY w1_q, total_q ORDER BY w1_q, total_q"""))

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q11, q12, q13, q14, q15, q16, q17, q18, q19, q20, q32, q33, q37, q38,
    q40, q41, q42, q43, q46, q48, q58, q59, q65, q66, q67, q69, q70, q74,
    q76, q77, q79, q80, q81, q84, q86, q87, q89, q90, q91, q92, q93, q94,
    q97, q98, q100, q101, q102, q103, q106, q109, q111, q115, q116, q120,
    q124, q125, q126, q127, q128, q129, q132, q134, q135, q145,
    q146, q147, q148, q149, q151, q152, q153, q154, q155, q156, q157, q167,
    q181, q182, q185, q187, q191, q192, q197, q199, q201, q202, q203, q204,
    q205, q207, q208, q209, q210, q211, q212, q213, q214, q215, q216, q221,
    q222, q223, q225, q226, q227, q228, q229, q230, q231, q233, q235, q236,
    q237, q238, q239, q240, q241, q244, q245, q246, q247, q248, q250, q251, q252, q253, q254, q255, q256, q258, q259, q260, q261, q262, q263, q264, q265, q266, q267, q268, q269, q270,
    q271, q272, q273, q274, q275, q276, q277, q278, q279, q280)
}
