package graft.operators

import graft.functions.Det
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The reference's analytical workload (SURVEY.md §2.4: profiling, top-k,
  * descriptive stats, IQR outliers, correlations, trends) as lazy
  * DataFrame operators. Each is a single aggregation pass — at 100 TB they
  * are one shuffle each (partial agg map-side), no driver-side loops.
  */
object Profile {

  /** D6: per-column null count + completeness %. One full-scan aggregate
    * producing a column-count-sized result (melted on the driver side of
    * the plan via stack — rows = #cols, never data-sized). */
  def nullProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("__n") +:
      cols.map(c => sum(col(c).isNull.cast("long")).as(s"__null_$c"))
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols
      .map(c => s"'$c', `__null_$c`")
      .mkString(s"stack(${cols.size}, ", ", ", ") as (column, n_null)")
    one.selectExpr("__n", stackExpr)
      .select(
        col("column"),
        col("n_null"),
        Det.roundAt((col("__n") - col("n_null")) * 100.0 / col("__n"), 2).as("completeness_pct"))
  }

  /** D7: whole-row and key duplicate profile — one lazy aggregation pass
    * (distinct counts over the row struct and the key), no driver loop. */
  def dupProfile(df: DataFrame, key: String): DataFrame = {
    val allCols = struct(df.columns.map(col).toSeq: _*)
    df.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - countDistinct(allCols)).as("n_dup_rows"),
      (count(lit(1)) - countDistinct(col(key))).as("n_dup_keys"))
  }

  /** A6: quantile-trim — keep rows with `c` ≤ the q-quantile; the scalar
    * quantile row broadcast-joins into the filter pass (two scans, no
    * collect). */
  def quantileTrim(df: DataFrame, c: String, q: Double): DataFrame = {
    val qr = df.agg(percentile(col(c), lit(q)).as("__q"))
    df.join(broadcast(qr)).filter(col(c) <= col("__q"))
      .agg(
        count(lit(1)).as("n_kept"),
        Det.dsum(col(c)).as("sum_kept"),
        max(col(c)).as("max_kept"))
  }

  /** A2: value_counts top-k with share % and deterministic tie-break.
    * The share denominator is a broadcast scalar, NOT an unpartitioned
    * window — `sum().over()` funnels every group through one partition,
    * which dies on a high-cardinality column at scale. The two groupBy
    * branches are identical subplans, so the exchange is computed once
    * and reused. */
  def topK(df: DataFrame, c: String, k: Int): DataFrame = {
    val counts = df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum(col("cnt")).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share_pct", Det.roundAt(col("cnt") * 100.0 / col("__total"), 4))
      .drop("__total")
      .orderBy(col("cnt").desc, col(c).asc)
      .limit(k)
  }

  /** A5: exact percentiles (pandas linear interpolation ⇔ Spark
    * `percentile` ⇔ DuckDB `quantile_cont`). */
  def percentiles(df: DataFrame, c: String, ps: Seq[Double]): DataFrame = {
    val aggs = ps.map(p =>
      Det.roundAt(percentile(col(c), lit(p)), 4).as(s"p${(p * 100).round}"))
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** Equi-depth (quantile) histogram WITHOUT a global ntile window: the
    * naive encoding — `ntile(k) OVER (ORDER BY c)` — funnels every row
    * through one partition, which is exactly the plan that dies at
    * 100 TB. Instead: one aggregate computes the k−1 exact interpolated
    * cut points (same operator as q07; beyond its documented per-column
    * memory bound the approx_percentile sketch drops in), the cuts ride
    * along as ONE broadcast array row, and each row's bucket is the
    * count of cuts below it — a narrow codegen'd fold, then an ordinary
    * groupBy. Two scans, no global sort, no single-partition stage. */
  def equiDepthHist(df: DataFrame, c: String, buckets: Int): DataFrame = {
    val ps = (1 until buckets).map(i => lit(i.toDouble / buckets))
    val cuts = df.agg(percentile(col(c), array(ps: _*)).as("__cuts"))
    df.crossJoin(broadcast(cuts))
      .withColumn("bucket",
        aggregate(col("__cuts"), lit(0),
          (acc, cut) => acc + when(col(c) > cut, 1).otherwise(0)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(col(c)).as("lo"), max(col(c)).as("hi"),
        Det.dsum(col(c)).as("total"))
      .orderBy("bucket")
  }

  /** A3/A4: deterministic describe() — count/mean/std/min/quartiles/max. */
  def descStats(df: DataFrame, c: String, scale: Int = 2): DataFrame =
    df.agg(
      count(col(c)).as("cnt"),
      Det.roundAt(Det.davg(col(c), scale), 4).as("mean"),
      Det.roundAt(Det.dstddev(col(c), scale), 4).as("std"),
      min(col(c)).as("min"),
      Det.roundAt(percentile(col(c), lit(0.25)), 4).as("p25"),
      Det.roundAt(percentile(col(c), lit(0.5)), 4).as("p50"),
      Det.roundAt(percentile(col(c), lit(0.75)), 4).as("p75"),
      max(col(c)).as("max"))

  /** A10: IQR outliers — quantile pass broadcast into a filter pass.
    * Two scans, no collect; the quantile row is a 1-row broadcast join. */
  def iqrOutliers(df: DataFrame, c: String): DataFrame = {
    val q = df.agg(
      percentile(col(c), lit(0.25)).as("__q1"),
      percentile(col(c), lit(0.75)).as("__q3"))
    val lo = col("__q1") - (col("__q3") - col("__q1")) * 1.5
    val hi = col("__q3") + (col("__q3") - col("__q1")) * 1.5
    df.join(broadcast(q))
      .withColumn("__out", col(c) < lo || col(c) > hi)
      .agg(
        count(lit(1)).as("n_rows"),
        sum(col("__out").cast("long")).as("n_outliers"),
        Det.roundAt(sum(col("__out").cast("long")) * 100.0 / count(lit(1)), 4).as("outlier_pct"),
        min(when(col("__out"), col(c))).as("out_min"),
        max(when(col("__out"), col(c))).as("out_max"))
  }

  /** A11: pairwise Pearson correlations (deterministic, null-pair-skipping
    * like pandas). One aggregate scan for all pairs. */
  def corrPairs(df: DataFrame, pairs: Seq[(String, String)], scale: Int = 2): DataFrame = {
    val aggs = pairs.map { case (a, b) =>
      Det.roundAt(Det.dcorr(col(a), col(b), scale), 4).as(s"corr_${a}_$b")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A7: monthly trend — counts + exact sum per calendar month. */
  def monthlyTrend(df: DataFrame, ts: String, value: String): DataFrame =
    df.groupBy(date_format(col(ts), "yyyy-MM").as("mes"))
      .agg(count(lit(1)).as("cnt"), Det.dsum(col(value)).as("total"))
      .orderBy("mes")

  /** A8: date range as strings (ns/us truncation-safe). */
  def dateRange(df: DataFrame, ts: String): DataFrame =
    df.agg(
      date_format(min(col(ts)), "yyyy-MM-dd HH:mm:ss").as("ts_min"),
      date_format(max(col(ts)), "yyyy-MM-dd HH:mm:ss").as("ts_max"))

  /** D8: shape/dtype info (nb cell 5). The pandas original reports RAM;
    * the distributed analogue is partition count + scan-size estimate.
    * Lazy like every section: the row and partition counts come from one
    * aggregate in the returned plan, and the scan-size estimate is the
    * optimizer's (no job). `n_partitions` counts the partitions that hold
    * rows when that aggregate runs: `df.rdd.getNumPartitions` without its
    * empty partitions, and 1 for a driver-side local frame, which the
    * optimizer evaluates in one piece. */
  def tableInfo(df: DataFrame): DataFrame = {
    val dtypeCounts = df.schema.fields.groupBy(_.dataType.simpleString)
      .map { case (t, fs) => s"$t:${fs.length}" }.toSeq.sorted.mkString(",")
    df.select(spark_partition_id().as("__p"))
      .agg(
        count(lit(1)).as("n_rows"),
        size(collect_set(col("__p"))).cast("long").as("n_partitions"))
      .select(
        col("n_rows"),
        lit(df.columns.length.toLong).as("n_cols"),
        lit(dtypeCounts).as("dtype_counts"),
        col("n_partitions"),
        lit(df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong).as("est_bytes"))
  }

  /** A12: worst-null columns — completeness profile filtered to columns
    * with > `minNullPct` nulls, sorted worst-first, top k. Column-count-
    * sized data; stays a lazy plan over [[nullProfile]]. */
  def worstNulls(df: DataFrame, cols: Seq[String], minNullPct: Double, k: Int): DataFrame =
    nullProfile(df, cols)
      .withColumn("null_pct", Det.roundAt(lit(100.0) - col("completeness_pct"), 2))
      .filter(col("null_pct") > minNullPct)
      .orderBy(desc("null_pct"), asc("column"))
      .limit(k)
      .select("column", "n_null", "null_pct")

  /** Population-stability-index drift between a reference and a current
    * snapshot of a binned metric, per group: PSI = Σᵢ (pᵢ−qᵢ)·ln(pᵢ/qᵢ)
    * over `nBins` fixed bins — the standard "did this feature's
    * distribution move?" monitor (PSI < 0.1 stable, > 0.25 drifted).
    * Inputs carry (groupCol, binCol ∈ [0, nBins)); shares are add-one
    * smoothed ((cnt+1)/(n+nBins)) so empty bins stay finite, the bin
    * spine is generated (a group missing a bin still contributes its
    * smoothed term), and each bin's term is rounded at 1e-6 before the
    * exact-decimal sum — the Σ never sees double addition order.
    *
    * Scale shape: two bin-count aggregates (map-side combinable, output
    * is groups×bins rows), a generated spine joined to both, and a
    * per-group fold — no corpus-width shuffle beyond the counts.
    * Returns (group, n_ref, n_cur, psi). */
  def psiDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
               binCol: String, nBins: Int): DataFrame = {
    def cnts(df: DataFrame, name: String) =
      df.groupBy(col(groupCol).as("g"), col(binCol).as("bin"))
        .agg(count(lit(1)).as(name))
    val r = cnts(ref, "rc")
    val c = cnts(cur, "cc")
    val groups = r.select("g").union(c.select("g")).distinct()
    val spine = groups.crossJoin(
      ref.sparkSession.range(nBins).select(col("id").as("bin")))
    val joined = spine
      .join(r, Seq("g", "bin"), "left").join(c, Seq("g", "bin"), "left")
      .withColumn("rc", coalesce(col("rc"), lit(0L)))
      .withColumn("cc", coalesce(col("cc"), lit(0L)))
    val tot = joined.groupBy("g")
      .agg(sum("rc").as("n_ref"), sum("cc").as("n_cur"))
    joined.join(tot, "g")
      .withColumn("p", (col("rc") + lit(1)).cast(DoubleType) /
        (col("n_ref") + lit(nBins)).cast(DoubleType))
      .withColumn("q", (col("cc") + lit(1)).cast(DoubleType) /
        (col("n_cur") + lit(nBins)).cast(DoubleType))
      .withColumn("term", Det.roundAt((col("p") - col("q")) * log(col("p") / col("q")), 6))
      .groupBy(col("g").as(groupCol), col("n_ref"), col("n_cur"))
      .agg(Det.roundAt(Det.dsum(col("term"), 6), 6).as("psi"))
      .orderBy(groupCol)
  }
}
