package graft.operators

import graft.GateUtil._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational/dataflow operators (SURVEY.md §2.3–§2.6) expressed
  * Spark-first: declarative DataFrame plans so Catalyst handles pushdown,
  * pruning, join strategy, and AQE. Every query here has a DuckDB oracle.
  *
  * Scale notes (100 TB posture):
  *  - dimension joins are explicitly `broadcast()` — no shuffle of the fact
  *    table for nation/region/customer-sized sides;
  *  - aggregates are partial+final automatically (map-side combine);
  *  - sorts ride Spark's RangePartitioner (TeraSort — SURVEY §2.4);
  *  - all float outputs are rounded so results are reproducible across
  *    partition orders (sum-of-doubles is order-sensitive otherwise).
  */
object Relational {
  type Q = (SparkSession, String) => DataFrame

  /** TPC-H Q1-shaped pricing summary: partial+final agg, tiny result.
    * Mirrors dislib's partial-sum/merge pattern (kmeans/base.py:189-199). */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 6).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Filter + projection — both must reach the parquet scan (PushedFilters). */
  def filterProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") < lit("1995-06-01").cast("timestamp")
        && col("l_quantity") >= 10 && col("l_quantity") <= 20
        && col("l_discount") > 0.05)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber")

  /** Global top-k: orderBy+limit → Spark plans TakeOrderedAndProject
    * (no full sort, per-partition heaps). */
  def topK(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** Multi-column global sort with limit (TeraSort path — SURVEY §2.4). */
  def sortMulti(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_quantity", "l_orderkey", "l_linenumber")
      .orderBy(col("l_returnflag").desc, col("l_quantity").asc,
        col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(500)

  /** Positional slice (ds-array `A[i:j]` parity, array.py:124-160): total
    * order + offset/limit. */
  def slice(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber")
      .offset(100).limit(50)

  def distinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_returnflag", "l_linestatus").distinct()
      .orderBy("l_returnflag", "l_linestatus")

  def countDistinctKeys(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        countDistinct(col("l_orderkey")).as("n_orders"))

  /** Star join → revenue per region/nation. Join strategy by table
    * scale, not test-data size: lineitem⋈orders and orders⋈customer are
    * fact-scale joins at 100 TB (shuffle hash/sort-merge + AQE — orders
    * and customer grow with the fact table, broadcasting them would OOM
    * a real cluster); nation/region are genuine constant-size dims and
    * are broadcast, so the enriched fact rows never reshuffle for them.
    * Aggregation prunes to (r_name, n_name) before the final tiny
    * shuffle. */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  /** Left-semi join (EXISTS): orders that have a high-discount line. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val hi = Tables.lineitem(spark, dir).filter(col("l_discount") > 0.09)
      .select(col("l_orderkey"))
    o.join(hi, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Left-anti join (NOT EXISTS): customers with no orders, by segment. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** Bloom-filter semi-join: the explicit form of Spark's runtime
    * bloom-filter join pruning. The key side aggregates into a Bloom
    * filter (~9.6 bits/key at 1% fpp — 100M keys ≈ 120 MB, broadcastable
    * where an exact hash set of the same keys is not), the fact side is
    * pre-filtered MAP-SIDE by a probe of the broadcast filter, and an
    * exact semi-join afterwards removes the false positives — so the
    * result is exactly the semi-join, but non-matching fact rows never
    * reach the shuffle. The win regime is a key side too big to
    * broadcast as a join hash table but whose Bloom fits: the final
    * exact join runs as SMJ over a fact side already pruned to ~match%.
    * The oracle is the plain semi-join — the bloom stage is
    * semantically invisible by construction. */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val keys = Tables.customer(spark, dir)
      .filter(col("c_acctbal") < 0).select(col("c_custkey"))
    // expectedNumItems from a narrow count over the pruned key scan —
    // sizing the filter from data beats guessing (fpp degrades silently
    // when undersized); one cheap job against a single pruned column
    val nKeys = math.max(keys.count(), 1L)
    val bloom = keys.stat.bloomFilter("c_custkey", nKeys, 0.01)
    // codegen'd probe expression (not a Scala UDF): the scan→filter
    // stage stays whole-stage-fused, and the filter reaches executors
    // via the stage's broadcast task binary
    o.filter(graft.functions.SketchExprs.bloomMightContain(
        col("o_custkey").cast("long"), bloom))
      .join(keys, col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
        round(sum("o_totalprice"), 2).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Full-outer join with per-side presence accounting (completes the
    * join matrix next to equi/semi/anti/as-of/bucketed). */
  def fullOuter(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).select(col("c_custkey"))
    val o = Tables.orders(spark, dir).select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .select(when(col("c_custkey").isNull, lit("order_only"))
        .when(col("o_custkey").isNull, lit("customer_only"))
        .otherwise(lit("both")).as("side"))
      .groupBy("side").agg(count(lit(1)).as("n"))
      .orderBy("side")
  }

  /** Pivot (long→wide reshape): per return-flag row, one quantity-sum
    * column per line status. The explicit value list keeps the plan a
    * single partial+final aggregate (no distinct-values pre-pass) —
    * the form that scales. */
  def pivotAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(round(sum("l_quantity"), 2))
      .withColumnsRenamed(Map("F" -> "qty_f", "O" -> "qty_o"))
      .select(col("l_returnflag"), coalesce(col("qty_f"), lit(0.0)).as("qty_f"),
        coalesce(col("qty_o"), lit(0.0)).as("qty_o"))
      .orderBy("l_returnflag")

  /** UNPIVOT (wide→long, the inverse of [[pivotAgg]]): each order row
    * melts into one (measure, value) row per numeric column via `stack`
    * — a codegen'd generator, one narrow pass, no shuffle until the tiny
    * per-measure aggregate. */
  def unpivot(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(expr(
        """stack(3, 'quantity', l_quantity,
          |         'extendedprice', l_extendedprice,
          |         'discount', l_discount)
          |  AS (measure, value)""".stripMargin))
      .groupBy("measure")
      .agg(count(lit(1)).as("n"),
        round(sum("value"), 2).as("sum_value"),
        round(avg("value"), 4).as("avg_value"))
      .orderBy("measure")

  def groupByHaving(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_partkey")
      .agg(count(lit(1)).as("n_lines"), round(sum("l_quantity"), 2).as("total_qty"))
      .filter(col("n_lines") > 25)
      .orderBy("l_partkey")

  /** Per-group top-k via window row_number (the k-NN merge shape,
    * neighbors/base.py:186-201 → Window.partitionBy.orderBy).
    *
    * Scale note: the 5-priority partition space is constant, but the
    * `rn <= 3` filter plans a WindowGroupLimit — each task keeps a
    * k-row heap and only ≤ k·|priorities| rows ever reach the final
    * per-group sort, so the coarse partitioning never funnels the
    * order grain (unlike a rank-all window, which q_window_ntile
    * rebuilds on ScaleWindows). */
  def windowRank(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_orderpriority"), col("rn"), col("o_orderkey"),
        round(col("o_totalprice"), 2).as("totalprice"))
      .orderBy("o_orderpriority", "rn")
  }

  /** Running (prefix) aggregate per key — cumulative frame. */
  def windowRunning(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(spark, dir)
      .withColumn("running_spend", round(sum("o_totalprice").over(w), 2))
      .withColumn("order_rank", row_number().over(
        Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)))
      .select("o_custkey", "order_rank", "o_orderkey", "running_spend")
      .orderBy("o_custkey", "order_rank")
  }

  /** Elementwise math (ds-array `+ - * / ** exp log sqrt`, array.py:206-407):
    * codegen'd column expressions, never UDFs. */
  def elementwise(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        // 6, not fewer: the true value has exactly 6 decimal digits
        // (2+2+2), so rounding at >=6 is exact in every engine while
        // rounding at 4 lands on .50 ties that HALF_UP vs HALF_EVEN split.
        round(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")), 6).as("charge"),
        round(log(col("l_extendedprice")), 4).as("log_price"),
        round(sqrt(col("l_quantity")), 4).as("sqrt_qty"),
        round(exp(col("l_discount")), 4).as("exp_disc"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        round(graft.functions.VecExprs.gammaln(col("l_quantity").cast("double")), 4)
          .as("gammaln_qty"))
      .orderBy("l_orderkey", "l_linenumber")

  /** Whole-array reductions per axis (array.py:1100-1208): min/max/sum/mean
    * in one partial+final pass; the exact median comes from the bounded
    * bracketed selection (ExactQuantiles — never a whole-column buffer) and
    * is broadcast-joined back onto the tiny per-flag aggregate. */
  def reduceStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val aggs = li.groupBy("l_returnflag")
      .agg(
        round(min("l_quantity"), 2).as("min_qty"),
        round(max("l_quantity"), 2).as("max_qty"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(avg("l_quantity"), 4).as("mean_qty"),
        round(stddev_samp(col("l_extendedprice")), 4).as("sd_price"),
        count(lit(1)).as("n"))
    val med = ExactQuantiles.quantiles(
      li, "l_quantity", Seq("median_raw" -> 0.5), groupBy = Seq("l_returnflag"))
    // left join: a flag whose quantities were all NULL/NaN has no
    // ExactQuantiles row, but must keep its aggregate row (median NULL) —
    // matching the old single-agg percentile() behavior
    aggs.join(broadcast(med), Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("min_qty"), col("max_qty"),
        col("sum_qty"), col("mean_qty"),
        round(col("median_raw"), 4).as("median_qty"),
        col("sd_price"), col("n"))
      .orderBy("l_returnflag")
  }

  /** Exact quantiles (dislib median parity array.py:1190) via the bounded
    * bracketed selection — a few narrow histogram scans instead of one
    * value buffer holding the whole column (the 100-TB-fatal shape). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    ExactQuantiles.quantiles(
        Tables.lineitem(spark, dir), "l_extendedprice",
        Seq("p25" -> 0.25, "p50" -> 0.5, "p75" -> 0.75, "p99" -> 0.99))
      .select(
        round(col("p25"), 4).as("p25"),
        round(col("p50"), 4).as("p50"),
        round(col("p75"), 4).as("p75"),
        round(col("p99"), 4).as("p99"))

  /** Robust statistics per group — exact median, MAD (median absolute
    * deviation), and IQR — composed from TWO bounded bracketed
    * selections: pass set 1 finds per-group p25/p50/p75, the tiny
    * result broadcasts back onto the scan to form |x − median|, and
    * pass set 2 selects the deviation median. Each pass is a narrow
    * histogram scan (ExactQuantiles), so the whole thing is exact
    * robust stats with NO value buffer anywhere — the composition
    * pattern the single-buffer percentile() could never scale to. */
  /** Shared robust-stat base: per-group quantiles of `valueCol` (the
    * fractions must include a "med" entry) broadcast back onto the scan
    * with the absolute-deviation column "ad" — any fix to this
    * composition (guards, rounding) lands once for MAD, IQR, and
    * outlier flagging alike. */
  private def quantilesWithAbsDev(df: DataFrame, valueCol: String,
      group: Seq[String], fracs: Seq[(String, Double)]): (DataFrame, DataFrame) = {
    val q = ExactQuantiles.quantiles(df, valueCol, fracs, groupBy = group)
    val dev = df.join(broadcast(q), group)
      .withColumn("ad", abs(col(valueCol) - col("med")))
    (q, dev)
  }

  def robustStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val (q1, dev) = quantilesWithAbsDev(li, "l_quantity", Seq("l_returnflag"),
      Seq("p25" -> 0.25, "med" -> 0.5, "p75" -> 0.75))
    val mad = ExactQuantiles.quantiles(
      dev, "ad", Seq("mad_raw" -> 0.5), groupBy = Seq("l_returnflag"))
    q1.join(broadcast(mad), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("med"), 4).as("median_qty"),
        round(col("mad_raw"), 4).as("mad_qty"),
        round(col("p75") - col("p25"), 4).as("iqr_qty"))
      .orderBy("l_returnflag")
  }

  /** Robust outlier detection (Iglewicz–Hoaglin modified z-score):
    * |0.6745·(x − median)| / MAD > 3.5, with median and MAD from the
    * bounded bracketed selection — outlier flagging over any column
    * with two broadcast joins and zero value buffers. MAD = 0 (over
    * half the group at one value) is pinned to "no outliers", the
    * standard degenerate-scale rule. */
  def robustOutliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val (_, dev) = quantilesWithAbsDev(li, "l_extendedprice",
      Seq("l_returnflag"), Seq("med" -> 0.5))
    val mad = ExactQuantiles.quantiles(
      dev, "ad", Seq("mad" -> 0.5), groupBy = Seq("l_returnflag"))
    val outlier = col("mad") > 0 &&
      lit(0.6745) * col("ad") / col("mad") > lit(3.5)
    dev.join(broadcast(mad), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(when(outlier, 1L).otherwise(0L)).as("n_outliers"),
        round(avg(when(outlier, 1.0).otherwise(0.0)), 6).as("outlier_rate"))
      .orderBy("l_returnflag")
  }

  /** Equi-depth histogram WITHOUT a global sort: NTILE over a global
    * ordering would funnel everything through one partition; instead
    * the 7 inner octile breakpoints come from the bounded bracketed
    * selection (narrow scans), broadcast back, and one partial+final
    * pass counts rows per bucket — the scale-safe reformulation.
    * Bucket rule pinned half-open [lo, hi): a value equal to a
    * breakpoint belongs to the bucket above; counts are near-equal, not
    * exactly n/8, when breakpoints repeat (quantized prices). */
  def equidepthHist(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val fr = (1 to 7).map(i => s"b$i" -> i / 8.0)
    val bks = ExactQuantiles.quantiles(li, "l_extendedprice", fr)
    val bucket = (1 to 7).foldLeft(lit(0)) { (acc, i) =>
      when(col("l_extendedprice") >= col(s"b$i"), i).otherwise(acc)
    }
    li.crossJoin(broadcast(bks))
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        round(min("l_extendedprice"), 2).as("lo"),
        round(max("l_extendedprice"), 2).as("hi"))
      .orderBy("bucket")
  }

  /** Column profiling (data-quality audit): null and exact-distinct
    * counts for every column of a table in ONE scan — the multi-distinct
    * aggregate plans a single Expand (one replica per distinct column)
    * with partial aggregation, then a `stack` unpivot reshapes the
    * 1-row result. Exact distinct is the pinned gate semantics; at
    * 100 TB you would flip the same plan to approx_count_distinct —
    * the operator shape (one pass, long output) is what matters. */
  def profileColumns(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cols = o.columns.toSeq
    val aggs = cols.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      countDistinct(col(c)).as(s"${c}__distinct")))
    val stacked = cols.map(c => s"'$c', `${c}__nulls`, `${c}__distinct`")
      .mkString(", ")
    o.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.size}, $stacked) AS (col_name, n_nulls, n_distinct)"))
      .orderBy("col_name")
  }

  /** Correlation / covariance (the scatter-matrix cell of PCA §2.5). */
  def corrCov(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        round(corr("l_quantity", "l_extendedprice"), 6).as("corr_qty_price"),
        round(covar_samp("l_quantity", "l_extendedprice"), 4).as("cov_qty_price"),
        round(covar_samp("l_discount", "l_tax"), 8).as("cov_disc_tax"))

  /** Closed-form simple OLS (LinearRegression normal-equations path,
    * regression/linear/base.py:274-328) via built-in regr_* aggregates. */
  def linregSimple(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .agg(
        round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
        round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("intercept"),
        round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
        regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))

  /** Row-pairing union (concat_rows, array.py:2054-2228). */
  def concatRows(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val lo = li.filter(col("l_quantity") < 10)
      .select(col("l_orderkey"), col("l_linenumber"), lit("low").as("band"))
    val hi = li.filter(col("l_quantity") >= 40)
      .select(col("l_orderkey"), col("l_linenumber"), lit("high").as("band"))
    lo.unionAll(hi).groupBy("band").agg(count(lit(1)).as("n")).orderBy("band")
  }

  /** Multi-granularity aggregation in ONE pass: ROLLUP(flag, status) →
    * leaf groups, per-flag subtotals, and the grand total from a single
    * scan (Expand + partial+final hash agg) — at 100 TB one job replaces
    * three separate aggregate jobs and reads the fact table once.
    * Revenue is pre-scaled to millions before rounding so double
    * partial-sum order (Spark's parallel combine vs DuckDB's scan order)
    * stays far below the rounding grain. */
  def rollupAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) / 1e6, 4)
          .as("revenue_m"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n_rows"), col("sum_qty"), col("revenue_m"))
      .orderBy("flag", "status")

  /** Sketch accuracy gate: HyperLogLog++ distinct count and quantile-
    * sketch median against their exact counterparts, emitted as
    * within-tolerance flags (invariant-style oracle — DuckDB's HLL/
    * quantile sketches are different implementations, so raw sketch
    * outputs can't hash-match across engines; the exact values can).
    * At 100 TB sketches are the difference between a count-distinct
    * that shuffles every key and one that merges 2^14 registers.
    *
    * The three sides run as SEPARATE single-row aggregations crossJoined at
    * the end: mixing countDistinct (which rewrites the plan into a two-phase
    * Expand) with value-buffer aggregates made the old single-agg plan
    * GC-bound and wildly unstable (r4 solo re-times 6.4–26.1s for the same
    * query). Split, every aggregation buffer is bounded: HLL registers,
    * a GK summary, and the bracketed exact selection. */
  def sketches(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val exactDistinct = li.agg(countDistinct(col("l_partkey")).as("n_parts_exact"))
    val sketchSide = li.agg(
      approx_count_distinct(col("l_partkey"), 0.02).as("hll"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("p50a"))
    val exactP50 = ExactQuantiles.quantiles(
      li, "l_extendedprice", Seq("p50_raw" -> 0.5))
    exactDistinct.crossJoin(sketchSide).crossJoin(exactP50)
      .select(col("n_parts_exact"),
        (abs(col("hll") - col("n_parts_exact"))
          <= col("n_parts_exact") * 0.05).as("hll_ok"),
        round(col("p50_raw"), 4).as("p50_exact"),
        (abs(col("p50a") - round(col("p50_raw"), 4))
          <= round(col("p50_raw"), 4) * 0.01).as("pa_ok"))
  }

  /** RANGE-frame window: trailing 30-day spend per customer. Unlike the
    * ROWS frames of windowRunning, a RANGE frame is keyed on the ORDER
    * VALUE — all same-day orders are peers and enter the frame together,
    * so the result is deterministic under ties without an id tiebreak.
    * The order column is epoch days (numeric), which keeps the frame
    * spec engine-portable. One hash exchange on o_custkey at any scale. */
  def windowRange(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("day"))
      .rangeBetween(-29, 0) // trailing 30 days, current day inclusive
    Tables.orders(spark, dir)
      .withColumn("day", floor(unix_timestamp(col("o_orderdate")) / 86400L))
      .select(col("o_orderkey"), col("o_custkey"), col("day"),
        round(sum(col("o_totalprice")).over(w), 2).as("spend_30d"),
        count(lit(1)).over(w).as("n_orders_30d"))
      .orderBy("o_orderkey")
  }

  /** Range join WITHOUT an equi-key (point-in-interval): which shipping
    * days fall inside each order's 30-day fulfilment window, regardless
    * of order key. Naively this is an inequality-only join — Spark plans
    * a broadcast-nested-loop and 100 TB dies. The scale pattern:
    *  1. pre-aggregate the point side to one row per day (the point
    *     side's grain, ~2.4k rows/decade — independent of fact rows);
    *  2. bucket both sides on 30-day epochs: each interval covers ≤ 2
    *     buckets (explode via sequence), each point exactly one;
    *  3. hash-join on the bucket and apply the exact [start, end)
    *     filter inside the join — candidates per interval are bounded
    *     by 2 buckets × 30 days, never the whole calendar.
    * PlanAssertSpec pins the no-BNLJ shape. */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val epochDay = (c: org.apache.spark.sql.Column) =>
      floor(unix_timestamp(c) / 86400L)
    val days = Tables.lineitem(spark, dir)
      .groupBy(col("l_shipdate").as("day"))
      .agg(count(lit(1)).as("n_ship"))
      .withColumn("bucket", floor(epochDay(col("day")) / 30))
    val windows = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("o_orderdate").as("w_start"),
        (col("o_orderdate") + expr("INTERVAL 30 DAYS")).as("w_end"))
      .withColumn("bucket", explode(sequence(
        floor(epochDay(col("w_start")) / 30),
        floor((epochDay(col("w_start")) + lit(29)) / 30))))
    windows.join(days, Seq("bucket"))
      .filter(col("day") >= col("w_start") && col("day") < col("w_end"))
      .groupBy("o_orderpriority")
      .agg(countDistinct(col("o_orderkey")).as("n_orders"),
        count(lit(1)).as("n_pairs"),
        sum(col("n_ship")).cast("long").as("n_shipments"))
      .orderBy("o_orderpriority")
  }

  /** CUBE multi-granularity aggregation: all four grouping combinations
    * (leaf, per-flag, per-status, grand total) from ONE scan — the same
    * Expand + partial+final hash-agg plan as ROLLUP but with the full
    * grouping lattice; at 100 TB one job replaces four aggregate jobs
    * and reads the fact table once. */
  def cubeAgg(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))) / 1e6, 4)
          .as("revenue_m"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n_rows"), col("sum_qty"), col("revenue_m"))
      .orderBy("flag", "status")

  /** Set operators INTERSECT / EXCEPT (distinct semantics) over customer
    * key sets: high-spend vs urgent-priority buyers. Both plan as hash
    * aggregates + one key shuffle (same shape as distinct) — no join
    * explosion, scale-safe on any key cardinality. */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val hi = o.filter(col("o_totalprice") > 250000).select("o_custkey")
    val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
    def counted(name: String, d: DataFrame) =
      d.agg(count(lit(1)).as("n")).select(lit(name).as("set_op"), col("n"))
    counted("hi_and_urgent", hi.intersect(urgent))
      .unionAll(counted("hi_not_urgent", hi.except(urgent)))
      .unionAll(counted("urgent_not_hi", urgent.except(hi)))
      .orderBy("set_op")
  }

  /** Offset window functions — lag/lead over each customer's order
    * timeline plus an ntile price quartile within priority; unique
    * o_orderkey tiebreaks make every offset deterministic.
    *
    * Scale: lag/lead partition by o_custkey — millions of small groups,
    * one keyed exchange, no funnel. The quartile-within-priority is a
    * 5-group CONSTANT partition space over the data-proportional order
    * grain, so (exactly like q_window_ntile) it rides
    * [[ScaleWindows.withBoundedGroupRank]] — one range-partitioned sort
    * plus broadcast per-priority start offsets — with ntile(4)
    * recovered exactly from (rank, n) by SQL's deal arithmetic, never
    * an ntile window funneling through 5 sort partitions. */
  def windowOffset(spark: SparkSession, dir: String): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val lagged = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderpriority"), col("o_totalprice"),
        // -1 sentinel for the partition edges keeps the output null-free
        // (the cross-engine row comparator can't order NULL doubles)
        coalesce(round(lag("o_totalprice", 1).over(byCust), 2), lit(-1.0))
          .as("prev_price"),
        coalesce(round(lead("o_totalprice", 1).over(byCust), 2), lit(-1.0))
          .as("next_price"))
    ScaleWindows.withBoundedGroupRank(lagged, "o_orderpriority",
        Seq(col("o_totalprice").desc, col("o_orderkey")), "rk", "n")
      .selectExpr("o_orderkey", "o_custkey", "prev_price", "next_price",
        "rk", "n DIV 4 AS k4", "n % 4 AS r4")
      .selectExpr("o_orderkey", "o_custkey", "prev_price", "next_price",
        """CAST(CASE WHEN rk <= r4 * (k4 + 1)
          |  THEN (rk - 1) DIV (k4 + 1) + 1
          |  ELSE r4 + (rk - r4 * (k4 + 1) - 1) DIV k4 + 1 END AS INT)
          |  AS price_quartile""".stripMargin)
      .orderBy("o_orderkey")
  }

  /** CDC merge/upsert apply (SQL MERGE semantics without a table
    * format): a deterministic change set — updates for key%7=0, deletes
    * for key%7=1, inserts at offset keys — applied onto the base table
    * in one full-outer join + case projection. The canonical
    * incremental-ingest step of a data pipeline; one key shuffle of
    * each side (AQE splits skewed keys), no driver-side row handling.
    * Output is the post-merge per-status accounting. */
  def cdcMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    // insert keys offset past the live key range (computed, not a fixed
    // constant — a fixed offset collides once the table outgrows it and
    // silently breaks MERGE's unique-source precondition)
    val insertOffset = base.agg(max("o_orderkey")).head().getLong(0) + 1
    val changes = base
      .filter(col("o_orderkey") % 7 < 2)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, "U").otherwise("D").as("op"),
        round(col("o_totalprice") * 1.1, 2).as("new_price"))
      .unionAll(base.filter(col("o_orderkey") % 7 === 2)
        .select((col("o_orderkey") + insertOffset).as("o_orderkey"),
          lit("I").as("op"), lit(100.0).as("new_price")))
    base.join(changes, Seq("o_orderkey"), "full_outer")
      .filter(coalesce(col("op"), lit("")) =!= "D")
      .select(
        coalesce(col("o_orderstatus"), lit("NEW")).as("status"),
        when(col("op").isin("U", "I"), col("new_price"))
          .otherwise(col("o_totalprice")).as("price"))
      .groupBy("status")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("price")) / 1e6, 4).as("total_m"))
      .orderBy("status")
  }

  /** Blocked fuzzy join (entity resolution / near-duplicate entity
    * matching) at the DISTINCT-NAME grain: rows collapse to
    * (name, count) first, candidates are generated only within a
    * deterministic block key (the name's last token), and row-level
    * match multiplicity is recovered as sum(c1·c2) — an aggregate, never
    * materialized row pairs. The quadratic work is bounded by the entity
    * VOCABULARY (distinct names per block), which does not grow with row
    * count — at 100 TB the name-grain self-join is the same size as at
    * 100 GB; comparing raw rows instead would be O(N²) per block. The
    * block+threshold pair IS the operator's pinned semantics (the
    * oracle replays it, like every blocking-heuristic gate here). */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val names = Tables.part(spark, dir)
      .groupBy(col("p_name")).agg(count(lit(1)).as("cnt"))
      .withColumn("blk", element_at(split(col("p_name"), " "), -1))
    val a = names.select(col("p_name").as("n1"), col("cnt").as("c1"), col("blk"))
    val b = names.select(col("p_name").as("n2"), col("cnt").as("c2"), col("blk"))
    a.join(b, Seq("blk"))
      .filter(col("n1") < col("n2"))
      .withColumn("dist", levenshtein(col("n1"), col("n2")))
      .filter(col("dist") <= 3)
      .groupBy("blk")
      .agg(count(lit(1)).as("n_name_pairs"),
        sum(col("c1") * col("c2")).as("n_row_pairs"),
        round(avg(col("dist")), 4).as("avg_dist"),
        min(col("dist")).as("min_dist"))
      .orderBy("blk")
  }

  /** Pareto frontier (skyline) of `part` under (minimize retail price,
    * minimize size): the multi-objective filter behind "cheapest part at
    * each capability level" queries. A point survives iff no other point
    * is ≤ on both dimensions and strictly < on one; ties on both
    * dimensions survive together.
    *
    * Spark-first distributed shape — the classic two-phase skyline: a
    * per-partition sweep over a spilled in-partition sort (local skyline;
    * 2-D frontier after a (price, size) sort is a streaming O(1)-state
    * min-size scan, no buffering), then the same sweep over the
    * coalesced union of local frontiers. Dominance is transitive, so
    * local elimination never removes a global frontier point, and the
    * union of local skylines is tiny (≤ #distinct sizes per partition) —
    * the NOT EXISTS self-join the oracle runs would be an O(n²) BNLJ;
    * this is two narrow scans. Prices compare in rounded integer cents
    * (the column is DOUBLE; true values are 2-decimal, so round() is
    * exact in both engines). */
  def skyline(spark: SparkSession, dir: String): DataFrame =
    skylineDf(Tables.part(spark, dir)
      .select(col("p_partkey").cast("long"),
        round(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size").cast("long")))

  /** Generic two-phase skyline over any (id, x, y) frame minimizing
    * (x, y); see [[skyline]] for the algorithm and scale argument. */
  private[graft] def skylineDf(points: DataFrame): DataFrame = {
    val spark2 = points.sparkSession
    import spark2.implicits._
    val Seq(idc, xc, yc) = points.columns.toSeq
    def sweep(it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
      var best = Long.MaxValue
      var kp = Long.MinValue
      var ks = Long.MinValue
      it.flatMap { case p @ (_, pc, sz) =>
        if (sz < best) { best = sz; kp = pc; ks = sz; Iterator.single(p) }
        // sorted input ⇒ duplicates of the current frontier point are
        // adjacent; equal-on-both-dims points are mutually non-dominating
        else if (pc == kp && sz == ks) Iterator.single(p)
        else Iterator.empty
      }
    }
    val pts = points.as[(Long, Long, Long)]
    pts.sortWithinPartitions(xc, yc, idc)
      .mapPartitions(sweep) // tuple encoder: columns are now (_1, _2, _3)
      .coalesce(1)
      .sortWithinPartitions("_2", "_3", "_1")
      .mapPartitions(sweep)
      .toDF(idc, xc, yc)
      .orderBy(idc)
  }

  /** Key-skew diagnostics: the counts-of-counts histogram every shuffle
    * planner wants before picking a join strategy — per-key row counts
    * bucketed by floor(log2(n)) (via binary-string length: integer in
    * both engines, no fp log), plus per-bucket min/max/total. The output
    * is O(log maxCount) rows at ANY scale; the two aggregations are a
    * partial+final key count and a tiny bucket rollup. A 100 TB operator
    * feeding this into salting decisions (the DBSCAN/dedup pattern here)
    * reads the top bucket directly. */
  def skewStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_partkey").agg(count(lit(1)).as("n"))
      .select((length(bin(col("n"))) - 1).cast("long").as("bucket"), col("n"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_keys"), min("n").as("min_n"),
        max("n").as("max_n"), sum("n").as("rows_total"))
      .orderBy("bucket")

  val FpMinSupport = 2
  val FpTopK = 20

  /** Frequent-pair mining (the 2-itemset core of market-basket /
    * association-rule analysis) over order baskets: co-occurrence
    * support and directional confidence in integer micro-units —
    * support_micro = c_ab·10⁶ DIV n_baskets, conf = c_ab·10⁶ DIV c_a —
    * so the ranking is engine-exact (the q_collocations argument).
    *
    * Scale: per-basket item lists are bounded (TPC-H ≤ 7 lines), so the
    * pair explosion is linear in the fact table; pair counts shuffle on
    * the pair key, item supports are item-bounded and broadcast back.
    * This is the candidate-generation step an FP-growth run prunes
    * with; min-support filters BEFORE the join fan-in. */
  def frequentPairs(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").cast("long").as("p"))
      .distinct()
    val nBaskets = lit(Tables.lineitem(spark, dir)
      .select(col("l_orderkey")).distinct().count())
    val itemN = l.groupBy("p").agg(count(lit(1)).as("c"))
    l.select(col("o"), col("p").as("a"))
      .join(l.select(col("o"), col("p").as("b")), "o")
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("c_ab"))
      .filter(col("c_ab") >= FpMinSupport)
      .join(broadcast(itemN.select(col("p").as("a"), col("c").as("c_a"))), "a")
      .join(broadcast(itemN.select(col("p").as("b"), col("c").as("c_b"))), "b")
      .withColumn("nb", nBaskets)
      .selectExpr("a", "b", "c_ab",
        "(c_ab * 1000000) DIV nb AS support_micro",
        "(c_ab * 1000000) DIV c_a AS conf_a_b_micro",
        "(c_ab * 1000000) DIV c_b AS conf_b_a_micro")
      .orderBy(col("c_ab").desc, col("a"), col("b"))
      .limit(FpTopK)
  }

  /** RFM customer segmentation: per-customer recency (days before the
    * corpus's last order date), frequency (order count), monetary
    * (lifetime cents — per-row integer cents, so the sum is exact), each
    * quartile-scored 1–4 against breakpoints from the bounded exact-
    * quantile selection, rolled up to segment counts. Breakpoints are
    * FLOORED to integers and all three inputs are integers, so the
    * score boundaries are engine-exact (no fp quantile interpolation
    * reaches a comparison). Recency scores 4 = most recent (the usual
    * marketing convention); frequency/monetary score ascending.
    *
    * Scale: one orders scan → per-customer aggregate (customer-keyed
    * shuffle), three bounded quantile selections (narrow passes), then
    * a broadcast of nine longs back onto the customer frame — the
    * segment rollup output is ≤ 64 rows at any scale. */
  def rfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val cust = o.groupBy("o_custkey")
      .agg(max("o_orderdate").as("last_dt"),
        count(lit(1)).as("f"),
        sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("m_cents"))
    val anchor = o.agg(max("o_orderdate").as("max_dt"))
    val rfm = cust.crossJoin(broadcast(anchor))
      .select(col("o_custkey"),
        datediff(col("max_dt"), col("last_dt")).cast("long").as("r_days"),
        col("f"), col("m_cents"))
    def bks(valueCol: String, p: String): DataFrame = {
      val q = ExactQuantiles.quantiles(rfm, valueCol,
        Seq(s"${p}1" -> 0.25, s"${p}2" -> 0.5, s"${p}3" -> 0.75))
      q.select((1 to 3).map(i =>
        floor(col(s"$p$i")).cast("long").as(s"$p$i")): _*)
    }
    def score(v: String, p: String): String =
      s"1 + CAST($v > ${p}1 AS INT) + CAST($v > ${p}2 AS INT) + CAST($v > ${p}3 AS INT)"
    rfm.crossJoin(broadcast(bks("r_days", "r")))
      .crossJoin(broadcast(bks("f", "fb")))
      .crossJoin(broadcast(bks("m_cents", "m")))
      .selectExpr(
        s"5 - (${score("r_days", "r")}) AS r_score",
        s"${score("f", "fb")} AS f_score",
        s"${score("m_cents", "m")} AS m_score")
      .groupBy("r_score", "f_score", "m_score")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("r_score", "f_score", "m_score")
  }

  /** Period-over-period mix-shift decomposition: split the order history
    * at the midpoint date, then per priority segment report revenue in
    * both halves, revenue share (integer bp, DIV by the half's total),
    * the share delta, and segment growth (bp vs own first-half revenue,
    * computed as `(rev2·10⁴ DIV rev1) − 10⁴` so every integer division
    * stays positive-over-positive — truncation and floor agree there,
    * keeping the result engine-portable even for shrinking segments).
    *
    * Scale: one scan with two conditional sums per segment (partial+
    * final agg), a 2-row broadcast for the date bounds, a ≤|segments|
    * broadcast for the totals — no join touches the fact table twice. */
  def mixShift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val bounds = dateCutBounds(o, 1, 2)
    val seg = o.crossJoin(broadcast(bounds))
      .groupBy("pri")
      .agg(sum(when(col("d") < col("cut_d"), col("cents"))).as("r1"),
        sum(when(col("d") >= col("cut_d"), col("cents"))).as("r2"))
      .select(col("pri"), coalesce(col("r1"), lit(0L)).as("rev1_cents"),
        coalesce(col("r2"), lit(0L)).as("rev2_cents"))
    val tot = seg.agg(sum("rev1_cents").as("t1"), sum("rev2_cents").as("t2"))
    seg.crossJoin(broadcast(tot))
      .selectExpr("pri", "rev1_cents", "rev2_cents",
        "(rev1_cents * 10000) div t1 AS share1_bp",
        "(rev2_cents * 10000) div t2 AS share2_bp",
        "((rev2_cents * 10000) div t2) - ((rev1_cents * 10000) div t1)" +
          " AS mix_delta_bp",
        "CASE WHEN rev1_cents > 0 THEN ((rev2_cents * 10000) div rev1_cents)" +
          " - 10000 END AS growth_bp")
      .orderBy("pri")
  }

  /** 1-row broadcastable date cut at num/den of the frame's [min(d),
    * max(d)] span — the period split shared by mixShift, incrementalAgg,
    * and DataQuality.psiDrift (their DuckDB twins mirror this exact
    * expression; keep them in lockstep). */
  private[graft] def dateCutBounds(o: DataFrame, num: Int, den: Int): DataFrame =
    o.agg(min("d").as("d0"), max("d").as("d1"))
      .selectExpr(
        s"date_add(d0, CAST((datediff(d1, d0) * $num) div $den AS INT)) AS cut_d")

  /** Arbitrary GROUPING SETS — the general form rollup/cube specialize:
    * mixed-dimension sets ((flag, status), (flag), (shipdate-year), ())
    * in ONE Expand+aggregate pass, with grouping_id disambiguating which
    * set each row belongs to (the ALL placeholder alone is ambiguous
    * when sets overlap). Expressed through the SQL surface — Catalyst
    * plans it identically to cube (one Expand, one shuffle on the
    * grouping-set key space).
    *
    * Scale: the Expand multiplies each row by |sets| = 4 BEFORE the
    * partial aggregate, which collapses to the tiny key space map-side
    * — the shuffle is grouping-cells-sized, not fact-sized. */
  def groupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables.lineitem(spark, dir).createOrReplaceTempView("graft_li_gs")
    spark.sql(s"""
      SELECT coalesce(l_returnflag, 'ALL') AS flag,
        coalesce(l_linestatus, 'ALL') AS status,
        coalesce(year(CAST(l_shipdate AS DATE)), -1) AS ship_year,
        CAST(grouping_id(l_returnflag, l_linestatus,
          year(CAST(l_shipdate AS DATE))) AS INT) AS gid,
        count(1) AS n_rows,
        sum(CAST(round(l_extendedprice * 100) AS LONG)) AS cents
      FROM graft_li_gs
      GROUP BY GROUPING SETS (
        (l_returnflag, l_linestatus),
        (l_returnflag),
        (year(CAST(l_shipdate AS DATE))),
        ())
      ORDER BY gid, flag, status, ship_year""")
  }

  /** Incremental aggregate maintenance (the IVM pattern): a persisted
    * per-customer aggregate built from the pre-cutoff history is
    * updated with a delta batch (post-cutoff orders) by aggregating the
    * DELTA ONLY and full-outer-merging the two states — never
    * re-scanning history. The gate's oracle is the from-scratch
    * aggregate, pinning the IVM contract: merged state ≡ full recompute
    * (count and sum are the self-mergeable aggregates; the same merge
    * works for any commutative monoid state).
    *
    * Scale: at 100 TB the base state is a stored table read once and
    * the delta is a day's partition — the merge is one key-partitioned
    * full-outer join, shuffling state + delta, never history. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame =
    incrementalAggOf(Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents")))

  /** Core over any (o_custkey, d DATE, cents LONG) change stream; see
    * [[incrementalAgg]]. */
  private[graft] def incrementalAggOf(o: DataFrame): DataFrame = {
    val bounds = dateCutBounds(o, 9, 10)
    val stamped = o.crossJoin(broadcast(bounds))
    def aggState(df: DataFrame) = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
    val base = aggState(stamped.filter(col("d") < col("cut_d")))
    val delta = aggState(stamped.filter(col("d") >= col("cut_d")))
    base.withColumnRenamed("n", "bn").withColumnRenamed("c", "bc")
      .join(delta.withColumnRenamed("n", "dn").withColumnRenamed("c", "dc"),
        Seq("o_custkey"), "full_outer")
      .selectExpr("o_custkey",
        "coalesce(bn, 0L) + coalesce(dn, 0L) AS n_orders",
        "coalesce(bc, 0L) + coalesce(dc, 0L) AS cents")
      .orderBy("o_custkey")
  }

  val AucBucketCents = 100000L

  /** AUC (Mann–Whitney) of price as a predictor of order urgency, by
    * the HISTOGRAM method: scores bucketed to [[AucBucketCents]]-cent
    * cells, per-bucket positive/negative counts, one ordered pass
    * accumulating negatives-below — U2 = Σ np_s·(2·cumneg_below + nn_s)
    * counts ties as half (×2 scale keeps it integer), and
    * auc_micro = U2·10⁶ DIV (2·n_pos·n_neg). Engine-exact: no fp rank
    * averaging anywhere.
    *
    * Scale: the classic distributed-AUC shape — the fact table
    * collapses to |buckets| rows in one partial+final agg; the ordered
    * cumulative pass runs over that bounded bucket table (score range /
    * bucket width, independent of row count), a deliberate
    * post-aggregation single partition. */
  def aucHistogram(spark: SparkSession, dir: String): DataFrame =
    aucOfScores(Tables.orders(spark, dir)
      .selectExpr(
        s"(CAST(round(o_totalprice * 100) AS LONG)) DIV $AucBucketCents AS s",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END AS pos"))

  /** Core over any (s LONG bucketed score, pos 0/1 LONG) frame; see
    * [[aucHistogram]]. */
  private[graft] def aucOfScores(scored: DataFrame): DataFrame = {
    val b = scored
      .groupBy("s")
      .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // u2 ~ n_pos·n_neg is quadratic in row count: Long dies near 4e9
    // rows (and ANSI mode throws, it doesn't wrap) — the pair count and
    // the ×10⁶ scale live in DECIMAL(38,0) (exact integers to 1e38, the
    // engine twin of DuckDB's HUGEINT promotion), only the ≤10⁶ result
    // returns to BIGINT
    b.withColumn("cumnn", sum("nn").over(w) - col("nn"))
      .agg(sum("np").as("n_pos"), sum("nn").as("n_neg"),
        sum(col("np").cast("decimal(38,0)")
          * (lit(2L) * col("cumnn") + col("nn"))).as("u2"))
      .selectExpr("n_pos", "n_neg",
        """CAST((u2 * 1000000) DIV
          |  (CAST(n_pos AS DECIMAL(38,0)) * 2 * n_neg) AS LONG)
          |  AS auc_micro""".stripMargin)
  }

  /** Customer value-migration matrix — the "did my best customers stay
    * my best customers" BI classic: revenue quartile in the FIRST half
    * of the date window vs the SECOND, as a 5×5 transition census
    * (quartile 0 = absent that half: acquisitions in the from-row,
    * churn in the to-column). ntile(4) over (exact cents, custkey) is
    * fully tie-broken and both engines deal remainder rows to the
    * leading buckets — engine-exact membership.
    *
    * Scale: one fact rollup to (customer, half), then quartile
    * membership rides [[ScaleWindows.withBoundedGroupRank]] — ONE
    * range-partitioned sort over (h, v, ck) plus broadcast per-half
    * start offsets (the 2-row bounded group space), with the ntile
    * bucket recovered arithmetically from (rank, n) — never an ntile
    * window funneling the customer grain through 2 sort partitions.
    * Then a full-outer self-align on the customer key and a ≤25-row
    * census. */
  def valueMigration(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val o = Tables.orders(spark, dir).select(
      col("o_custkey").as("ck"), to_date(col("o_orderdate")).as("d"),
      expr("CAST(round(o_totalprice * 100) AS LONG)").as("cents"))
    val mm = o.agg(min("d").as("d0"), max("d").as("d1"))
    val halves = o.crossJoin(broadcast(mm))
      .withColumn("h",
        (col("d") > expr("date_add(d0, CAST(datediff(d1, d0) DIV 2 AS INT))"))
          .cast("int"))
      .groupBy("ck", "h").agg(sum("cents").as("v"))
    // ntile(4) arithmetic from (rank, n): the first n%4 buckets carry
    // n DIV 4 + 1 rows, the rest n DIV 4 — exactly SQL ntile's deal
    val q = s.checkpoint(ScaleWindows.withBoundedGroupRank(
        s.checkpoint(halves), "h", Seq(col("v"), col("ck")), "rk", "n")
      .selectExpr("ck", "h", "rk", "n DIV 4 AS k4", "n % 4 AS r4")
      .selectExpr("ck", "h",
        """CAST(CASE WHEN rk <= r4 * (k4 + 1)
          |  THEN (rk - 1) DIV (k4 + 1) + 1
          |  ELSE r4 + (rk - r4 * (k4 + 1) - 1) DIV k4 + 1 END AS INT)
          |  AS q""".stripMargin)) // customer-grain; both half filters read it
    val a = q.filter(col("h") === 0).select(col("ck"), col("q").as("q0"))
    val b = q.filter(col("h") === 1).select(col("ck").as("ckb"), col("q").as("q1"))
    a.join(b, col("ck") === col("ckb"), "full_outer")
      .select(coalesce(col("q0"), lit(0)).as("from_q"),
        coalesce(col("q1"), lit(0)).as("to_q"))
      .groupBy("from_q", "to_q").agg(count(lit(1)).as("n_customers"))
      .orderBy("from_q", "to_q")
  }

  /** ABC (Pareto) classification of parts by revenue — the classic
    * inventory-analysis operator ("A items are the 80% of value"):
    * parts ranked by exact revenue cents desc (ties to the key), the
    * RUNNING share classifies A (≤8000 bp), B (≤9500 bp), C (rest) —
    * share as (cum·10⁴) DIV total, so class membership is an exact
    * integer decision; output is the 3-row class census (n_parts,
    * revenue share, revenue per part).
    *
    * Scale: one fact rollup to the part grain, then the cumulative
    * revenue rides [[ScaleWindows.withGlobalRunningSum]] — a range-
    * partitioned sort of the part grain plus the two-pass broadcast-
    * offset prefix sum (no single-partition window) — and a 3-row
    * output. The prefix pass runs over parts, never line items. */
  def abcClassification(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val byPart = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS LONG)")).as("cents"))
    abcOf(byPart)
  }

  /** Core over any (pk, cents) item-revenue frame. */
  private[graft] def abcOf(byPart0: DataFrame)(implicit s: Scope): DataFrame = {
    // part-grain table feeds the prefix pass AND the total — one scan
    val byPart = s.checkpoint(byPart0)
    val tot = byPart.agg(sum("cents").as("total"))
    ScaleWindows.withGlobalRunningSum(byPart,
        Seq(desc("cents"), asc("pk")), "cents", "cum")
      .crossJoin(broadcast(tot))
      .selectExpr("pk", "cents", "(cum * 10000) DIV total AS cum_bp")
      .selectExpr("cents", "cum_bp",
        """CASE WHEN cum_bp <= 8000 THEN 'A'
          | WHEN cum_bp <= 9500 THEN 'B' ELSE 'C' END AS cls""".stripMargin)
      .groupBy("cls")
      .agg(count(lit(1)).as("n_parts"), sum("cents").as("revenue_cents"))
      .crossJoin(broadcast(tot))
      .selectExpr("cls", "n_parts",
        "(revenue_cents * 10000) DIV total AS revenue_share_bp",
        "revenue_cents DIV n_parts AS cents_per_part")
      .orderBy("cls")
  }

  val MwSegA = "BUILDING"
  val MwSegB = "MACHINERY"

  /** Mann–Whitney U rank-sum test between two segments' order values —
    * the NONPARAMETRIC two-sample test (no normality assumption, the
    * robust companion to [[Events.abTestDf]]'s proportions z²):
    * doubled average ranks keep ties integer (a tied run over ranks
    * [a, a+t−1] has 2·avg = 2a+t−1), U comes from the rank sum, and
    * the normal-approximation z² is the single cross-multiplied
    * integer inequality z²·10⁶ = 3·n(n−1)·(2U−n₁n₂·2)²/4 ... all in
    * DECIMAL(38,0)/HUGEINT with the tie-corrected variance
    * n₁n₂[(n+1)n(n−1) − Σ(t³−t)]/(12n(n−1)) — no fp mean, no sqrt.
    *
    * Scale: one value-grain rollup (two counts per distinct value) —
    * but the value grain is exact cents, ~row-cardinality, NOT bounded —
    * so the cumulative tie-rank rides [[ScaleWindows
    * .withGlobalRunningSum]] (range-partitioned sort + broadcast-offset
    * prefix sum; `v` is unique after the rollup, so `ORDER BY v` is a
    * total order), never a SinglePartition window. Then a 1-row
    * output. */
  def mannWhitney(spark: SparkSession, dir: String): DataFrame =
    mannWhitneyDf(Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(MwSegA, MwSegB))
      .select((col("c_mktsegment") === MwSegA).cast("long").as("g1"),
        expr("CAST(round(o_totalprice * 100) AS LONG)").as("v")))

  /** Core over any (g1 ∈ {0,1}, v LONG) frame. */
  private[graft] def mannWhitneyDf(xs: DataFrame): DataFrame = {
    val byV = xs.groupBy("v").agg(count(lit(1)).as("t"), sum("g1").as("t1"))
    val ranked = ScaleWindows
      .withGlobalRunningSum(byV, Seq(asc("v")), "t", "cum")
      // doubled average rank of the tied run ending at this value
      .selectExpr("t", "t1", "2 * (cum - t) + t + 1 AS rank2",
        "CAST(t AS DECIMAL(38,0)) * t * t - t AS tie3")
    ranked.agg(
        sum("t").as("n"), sum("t1").as("n1"),
        sum(col("t1") * col("rank2")).as("r1_2"),
        sum("tie3").as("ties"))
      .selectExpr("n", "n1", "n - n1 AS n2", "r1_2", "ties")
      // 2U = r1_2 − n1(n1+1); E[2U] = n1·n2; dev = 2U − n1·n2
      .selectExpr("n", "n1", "n2",
        "CAST(r1_2 - CAST(n1 AS DECIMAL(38,0)) * (n1 + 1) AS DECIMAL(38,0)) AS u2",
        "ties")
      // two-factor split (the q_ab_test discipline): dev²/(n₁n₂) first —
      // the full product would pass 10³⁸ near 10⁶ rows/side — then the
      // 3·10⁶·n(n−1) scale against the tie-corrected denominator
      .selectExpr("n", "n1", "n2", "CAST(u2 DIV 2 AS BIGINT) AS u",
        """CAST(CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
          |  (CAST((u2 - CAST(n1 AS DECIMAL(38,0)) * n2)
          |     * (u2 - CAST(n1 AS DECIMAL(38,0)) * n2)
          |     DIV (CAST(n1 AS DECIMAL(38,0)) * n2) AS DECIMAL(38,0))
          |   * 3000000 * n * (n - 1))
          |  DIV ((CAST(n AS DECIMAL(38,0)) + 1) * n * (n - 1) - ties)
          | END AS BIGINT) AS z2_micro""".stripMargin)
      .withColumn("significant",
        when(col("z2_micro").isNull, lit(null).cast("boolean"))
          .otherwise(col("z2_micro") > 3841459L))
  }

  /** Kruskal–Wallis H test across ALL market segments — the k-sample
    * member completing the rank-test family ([[mannWhitney]] is its
    * k=2 case): doubled average ranks keep ties integer, per-group
    * rank-sum squares truncate at a PINNED per-group DIV, the H
    * statistic cross-multiplies in DECIMAL(38,0)/HUGEINT, and the tie
    * correction scales by (n³−n)/(n³−n−Σ(t³−t)) as a second pinned DIV.
    * Verdict vs the χ²(k−1) 95% critical value (the
    * [[DataQuality.Chi2Crit95Micro]] table).
    *
    * Scale: one (value, group) rollup; the value grain is exact cents
    * (~row-cardinality, NOT bounded), so the cumulative tie-rank rides
    * [[ScaleWindows.withGlobalRunningSum]] — range-partitioned sort +
    * broadcast-offset prefix sum over the unique-`v` table, never a
    * SinglePartition window — then a k-row group frame. The fact table
    * never shuffles twice. */
  def kruskalWallis(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    kruskalWallisDf(Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir), col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("grp"),
        expr("CAST(round(o_totalprice * 100) AS LONG)").as("v")))
  }

  /** Core over any (grp, v LONG) frame. */
  private[graft] def kruskalWallisDf(xs: DataFrame)(implicit s: Scope): DataFrame = {
    val byVG = xs.groupBy("v", "grp").agg(count(lit(1)).as("c"))
    val byV = xs.groupBy("v").agg(count(lit(1)).as("t"))
    val ranked = s.checkpoint(ScaleWindows
      .withGlobalRunningSum(byV, Seq(asc("v")), "t", "cum")
      .selectExpr("v", "2 * (cum - t) + t + 1 AS rank2",
        "CAST(t AS DECIMAL(38,0)) * t * t - t AS tie3")) // value-grain table feeds groups AND ties
    val groups = byVG.join(ranked.select("v", "rank2"), "v")
      .groupBy("grp")
      .agg(sum("c").as("n_g"),
        sum(col("c").cast("decimal(38,0)") * col("rank2")).as("r2"))
      // per-group pinned truncation of R²/n (doubled ranks → /4)
      .selectExpr("grp", "n_g", "(r2 * r2) DIV (4 * n_g) AS rr")
    val ties = ranked.agg(sum("tie3").as("tt"))
    groups.agg(count(lit(1)).as("k"), sum("n_g").as("n"),
        sum(col("rr").cast("decimal(38,0)")).as("t1"))
      .crossJoin(broadcast(ties))
      .selectExpr("k", "n",
        """CAST((CAST(12000000 AS DECIMAL(38,0)) * t1)
          | DIV (CAST(n AS DECIMAL(38,0)) * (n + 1))
          | - CAST(3000000 AS DECIMAL(38,0)) * (n + 1) AS DECIMAL(38,0))
          | AS h_raw""".stripMargin,
        "CAST(n AS DECIMAL(38,0)) * n * n - n AS n3n", "tt")
      .selectExpr("k", "n",
        """CAST(CASE WHEN n3n = tt THEN NULL
          | ELSE (h_raw * n3n) DIV (n3n - tt) END AS BIGINT)
          | AS h_micro""".stripMargin,
        "k - 1 AS df")
      .selectExpr("k", "n", "h_micro", "df",
        s"""${DataQuality.chi2VerdictCase("h_micro", "df")} AS significant""")
  }

  /** Gini coefficient of order-value concentration per market segment —
    * the Lorenz-curve inequality measure (the "do 20% of customers carry
    * 80% of revenue" profiling classic, the concentration companion to
    * [[rfmSegments]]): G = (2·Σ rank·xᵢ − (n+1)·Σx) / (n·Σx) over the
    * ascending-sorted order values. row_number with a full (cents, key)
    * tie-break is deterministic, and Σ rank·x is tie-order-invariant
    * (equal x swap ranks without changing the sum). Σ rank·x is
    * quadratic-scale — Long dies near 10M rows/segment — so the three
    * aggregates ride DECIMAL(38,0)/HUGEINT and only the ≤10⁶ result
    * returns to BIGINT.
    *
    * Scale: the per-segment rank rides [[ScaleWindows
    * .withBoundedGroupRank]] — ONE range-partitioned sort over
    * (seg, cents, orderkey) plus broadcast per-segment start offsets
    * (the ≤5-row bounded group space) — never a row_number window
    * funneling the order grain through |segments| sort partitions —
    * then one partial+final rollup to |segments| rows. */
  def giniConcentration(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val x = Tables.orders(spark, dir)
      .join(Tables.customer(spark, dir),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        expr("CAST(round(o_totalprice * 100) AS LONG)").as("cents"),
        col("o_orderkey"))
    giniDf(x)
  }

  /** Core over any (seg, cents, o_orderkey tie-break) frame. */
  private[graft] def giniDf(x0: DataFrame)(implicit s: Scope): DataFrame = {
    // order-grain input feeds the rank pass AND the group census
    val x = s.checkpoint(x0)
    ScaleWindows.withBoundedGroupRank(x, "seg",
        Seq(col("cents"), col("o_orderkey")), "rk", "__n")
      .groupBy("seg")
      .agg(count(lit(1)).as("n"),
        sum("cents").as("sum_cents"),
        sum(col("rk").cast("decimal(38,0)") * col("cents")).as("ws"))
      .selectExpr("seg", "n", "sum_cents",
        """CAST(((2 * ws - (CAST(n AS DECIMAL(38,0)) + 1) * sum_cents)
          |  * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * sum_cents) AS BIGINT)
          |  AS gini_micro""".stripMargin)
      .orderBy("seg")
  }

  /** Kolmogorov–Smirnov statistic between the positive- and negative-
    * class score distributions — the third leg of the scoring-eval
    * tripod with [[aucHistogram]] (ranking power) and [[calibration]]
    * (probability honesty): D = max over thresholds of
    * |CDF_pos − CDF_neg|, the classic credit-scoring separation
    * measure, plus the score bucket where the max is attained (ties to
    * the smallest bucket). CDFs in integer bp by DIV, the max as a
    * struct-max aggregation — engine-exact throughout.
    *
    * Scale: identical posture to AUC — one partial+final rollup onto
    * the bounded score-bucket table, a window over buckets (never
    * rows), a 1-row broadcast total, and a 1-row output. */
  def ksStat(spark: SparkSession, dir: String): DataFrame =
    ksOfScores(Tables.orders(spark, dir)
      .selectExpr(
        s"(CAST(round(o_totalprice * 100) AS LONG)) DIV $AucBucketCents AS s",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END AS pos"))

  /** Core over any (s LONG bucketed score, pos 0/1 LONG) frame. */
  private[graft] def ksOfScores(scored: DataFrame): DataFrame = {
    val b = scored.groupBy("s")
      .agg(sum("pos").as("np"), (count(lit(1)) - sum("pos")).as("nn"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = b.agg(sum("np").as("n_pos"), sum("nn").as("n_neg"))
    b.withColumn("cnp", sum("np").over(w))
      .withColumn("cnn", sum("nn").over(w))
      .crossJoin(broadcast(tot))
      .selectExpr("n_pos", "n_neg", "s",
        "abs((cnp * 10000) DIV n_pos - (cnn * 10000) DIV n_neg) AS dev_bp")
      .groupBy("n_pos", "n_neg")
      .agg(max(struct(col("dev_bp"), (-col("s")).as("ns"))).as("m"))
      .select(col("n_pos"), col("n_neg"),
        col("m.dev_bp").as("ks_bp"), (-col("m.ns")).as("ks_at_s"))
  }

  /** Isotonic regression calibration (pool-adjacent-violators) over the
    * score buckets — the FIX to the miscalibration [[calibration]]
    * diagnoses: the monotone-non-decreasing fit of the per-bucket
    * positive rate, computed via PAV's closed MINIMAX form
    * ŷᵢ = max_{j≤i} min_{l≥i} mean(rate over buckets j..l) — no
    * iterative merging, so the whole fit is prefix sums + a bounded
    * O(k²) range-mean join, and every range mean is an integer bp DIV:
    * engine-exact, and the monotonicity of the output is a theorem the
    * spec checks. Same score/label frame as [[aucHistogram]].
    *
    * Scale: the bucket table is bounded (price DIV bucket), so the
    * quadratic range join is over k², not rows²; one fact rollup
    * feeds it. */
  def isotonicCalibration(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    isotonicOfScores(Tables.orders(spark, dir)
      .selectExpr(
        s"(CAST(round(o_totalprice * 100) AS LONG)) DIV $AucBucketCents AS s",
        "CASE WHEN o_orderpriority = '1-URGENT' THEN 1L ELSE 0L END AS pos"))
  }

  /** Core over any (s LONG bucketed score, pos 0/1 LONG) frame. */
  private[graft] def isotonicOfScores(scored: DataFrame)(implicit s: Scope): DataFrame = {
    val b = scored.groupBy("s")
      .agg(count(lit(1)).as("n"), sum("pos").as("p"))
    val w = Window.orderBy("s")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // bounded bucket table feeds a 3-way self-join
    val pre = s.checkpoint(b.select(col("s"), col("n"), col("p"),
      sum("n").over(w).as("cn"), sum("p").over(w).as("cp")))
    val lo = pre.select(col("s").as("j"), (col("cn") - col("n")).as("cn0"),
      (col("cp") - col("p")).as("cp0"))
    val hi = pre.select(col("s").as("l"), col("cn").as("cn1"), col("cp").as("cp1"))
    val ranges = lo.join(hi, col("j") <= col("l"))
      .select(col("j"), col("l"),
        expr("((cp1 - cp0) * 10000) DIV (cn1 - cn0)").as("m_bp"))
    pre.select(col("s"), col("n"), col("p"),
        expr("(p * 10000) DIV n").as("rate_bp"))
      .join(ranges, col("j") <= col("s") && col("s") <= col("l"))
      .groupBy("s", "n", "p", "rate_bp", "j")
      .agg(min("m_bp").as("inner_min")) // min over l ≥ i for this j
      .groupBy("s", "n", "p", "rate_bp")
      .agg(max("inner_min").as("iso_bp")) // max over j ≤ i
      .orderBy("s")
  }

  /** Score-calibration reliability table (the companion diagnostic to
    * [[aucHistogram]]): rows bucketed into equi-depth score deciles via
    * 9 exact breakpoints from the bounded bracketed selection
    * (ExactQuantiles — no whole-column buffer), then per decile the
    * observed positive rate in integer bp. A calibrated score has
    * monotone pos_rate_bp; flat = no signal.
    *
    * Scale: the breakpoint computation is ExactQuantiles' narrow
    * passes; the assignment is a 9-value broadcast + codegen'd when
    * chain; the table is a 10-row partial+final agg — one effective
    * scan. */
  def calibration(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val fr = (1 to 9).map(i => s"q$i" -> i / 10.0)
    val bks = ExactQuantiles.quantiles(o, "o_totalprice", fr)
    val decile = (1 to 9).foldLeft(lit(0)) { (acc, i) =>
      when(col("o_totalprice") >= col(s"q$i"), i).otherwise(acc)
    }
    o.crossJoin(broadcast(bks))
      .groupBy(decile.as("decile"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
          .as("n_pos"))
      .selectExpr("decile", "n", "n_pos",
        "(n_pos * 10000) DIV n AS pos_rate_bp")
      .orderBy("decile")
  }

  /** Winsorized robust aggregates: per-group p05/p95 breakpoints from
    * the bounded bracketed selection (ExactQuantiles — never a value
    * buffer), rounded to whole cents and used to clamp the tails, then
    * the winsorized sum/clamp census. The outlier-robust mean that,
    * unlike trimming, keeps n constant — standard for revenue metrics
    * polluted by fat fingers.
    *
    * Everything downstream of the breakpoints is integer (cents clamp
    * against a rounded-integer threshold, BIGINT sum), so the result
    * hashes engine-exactly; only the threshold round() itself leans on
    * the shared interpolation convention. Scale: ExactQuantiles' narrow
    * passes + one broadcast of 3×2 thresholds + one partial+final agg. */
  def winsorize(spark: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS LONG)").as("c"))
    val bks = ExactQuantiles.quantiles(v, "c",
      Seq("plo" -> 0.05, "phi" -> 0.95), groupBy = Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("plo")).cast("long").as("tlo"),
        round(col("phi")).cast("long").as("thi"))
    v.join(broadcast(bks), Seq("l_returnflag"))
      .groupBy("l_returnflag")
      .agg(max(col("tlo")).as("tlo"), max(col("thi")).as("thi"),
        sum(greatest(least(col("c"), col("thi")), col("tlo")))
          .as("win_sum_cents"),
        count(when(col("c") < col("tlo"), 1)).as("n_lo"),
        count(when(col("c") > col("thi"), 1)).as("n_hi"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  /** Join-cardinality forecast from key histograms — the diagnostic an
    * engine (or an engineer) runs BEFORE committing to a 100 TB join:
    * for the events-by-user self-join, per-key counts give the exact
    * output size Σc², the heaviest key's share, and the blow-up factor
    * vs the input — the number that says "salt this key" while it is
    * still one cheap aggregation instead of a dead executor.
    *
    * Scale: one partial+final count agg on the join key (key column
    * only), then a second tiny agg; the join itself never runs. */
  def joinSizeForecast(spark: SparkSession, dir: String): DataFrame = {
    val perKey = Tables.events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
    perKey.agg(count(lit(1)).as("n_keys"), sum("c").as("n_rows"),
      sum(col("c") * col("c")).as("selfjoin_pairs"),
      max(col("c") * col("c")).as("top_key_pairs"))
      .selectExpr("n_keys", "n_rows", "selfjoin_pairs", "top_key_pairs",
        "(top_key_pairs * 10000) DIV selfjoin_pairs AS top_share_bp",
        "selfjoin_pairs DIV n_rows AS blowup_x")
  }

  val SnWindow = 4L
  val SnMaxDist = 12

  /** Sorted-neighborhood entity-resolution blocking (Hernández–Stolfo):
    * sort records on the blocking key, candidates are only pairs within
    * a fixed window W of the sorted order — the classic alternative to
    * equi-key blocking ([[fuzzyJoin]]) that catches near-dups whose
    * FIRST tokens differ but sort adjacently. Ranks come from the
    * range-partitioned sort + per-partition offset pass (TeraSort
    * posture — no single-partition window at any scale); the window
    * join is an equi-join on rank DIV W with each left row exploded to
    * its own and the next block (j−i ≤ W ⊂ blk ∪ blk+1), then the
    * exact Levenshtein filter.
    *
    * Scale: candidate volume is N·W by construction — linear in the
    * corpus, the whole point of the method; the explode is a fixed 2×
    * fan-out of (rank, name, key) triples only. */
  def sortedNeighborhood(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val ranked = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_name"))
      .orderBy(col("p_name"), col("p_partkey"))
      .as[(Long, String)].rdd.zipWithIndex()
      .map { case ((k, n), r) => (k, n, r) }
      .toDF("pk", "name", "rk")
    // Integer block ids (rank DIV W) — Column `/` is fractional division,
    // which would only ever match pairs exactly W apart.
    val blkA = expr(s"rk DIV $SnWindow")
    val a = ranked.select(col("pk").as("a_key"), col("name").as("a_name"),
        col("rk").as("a_rk"),
        explode(array(blkA, blkA + 1)).as("blk"))
    val b = ranked.select(col("pk").as("b_key"), col("name").as("b_name"),
      col("rk").as("b_rk"), expr(s"rk DIV $SnWindow").as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("b_rk") > col("a_rk") && col("b_rk") <= col("a_rk") + SnWindow)
      .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
      .filter(col("dist") <= SnMaxDist)
      .select("a_key", "b_key", "dist")
      .distinct()
      .orderBy("a_key", "b_key")
  }

  val FsMSeg = 0.95 // pinned m = P(agree | match) per field —
  val FsMBal = 0.90 // textbook defaults; u is ESTIMATED from the
  val FsMSfx = 0.85 // candidate pairs (agreement share), the
                    // standard data-driven half of Fellegi–Sunter

  /** Shared agree/disagree weight SQL fragments — interpolated into BOTH
    * the Spark expression and the DuckDB oracle so the fp literals
    * (incl. the non-representable 1−m tails) are character-identical. */
  private[graft] def fsAgreeW(m: Double, na: String): String =
    s"CASE WHEN $na = 0 THEN NULL ELSE " +
      s"CAST(round(ln($m * np / $na) * 1000000) AS BIGINT) END"
  private[graft] def fsDisagreeW(m: Double, na: String): String =
    s"CASE WHEN np = $na THEN NULL ELSE " +
      s"CAST(round(ln(${1 - m} * np / (np - $na)) * 1000000) AS BIGINT) END"

  /** Fellegi–Sunter probabilistic record-linkage scoring — the classical
    * model behind every production entity-resolution engine, upgrading
    * the fuzzy/sorted-neighborhood CANDIDATE generators to calibrated
    * match scores: candidate pairs come from nation blocking, each pair
    * gets a 3-field agreement pattern (market segment, $1k account-
    * balance bucket, 2-char name suffix), and each pattern scores
    * Σ_field ln(m/u) [agree] or ln((1−m)/(1−u)) [disagree] — m pinned
    * (textbook 0.85–0.95), u estimated exactly from the candidate-pair
    * agreement shares. Weights round to integer micro-nats at
    * computation (the q_woe_encode discipline) so the per-pattern score
    * is an exact integer sum; degenerate u (0 or 1) pins NULL in both
    * engines. Output: the 8 patterns with their counts, weights, score,
    * and a score>0 match verdict.
    *
    * Scale: the pair fan-out is blocking-bounded (Σ_b n_b² — the
    * block key's job; skewed blocks salt exactly like q_salted_join),
    * the pattern rollup partial-aggregates map-side onto ≤2³ rows, and
    * the u-estimation + scoring all happen on that 8-row frame. */
  def fellegiSunter(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val c = Tables.customer(spark, dir).select(
      col("c_custkey").as("id"), col("c_nationkey").as("blk"),
      col("c_mktsegment").as("seg"),
      expr("CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000").as("balk"),
      expr("substring(c_name, -2, 2)").as("sfx"))
    fellegiSunterDf(c)
  }

  /** Core over any (id, blk, seg, balk, sfx) record frame. */
  def fellegiSunterDf(c: DataFrame)(implicit s: Scope): DataFrame = {
    val a = c.select(col("id").as("ida"), col("blk"), col("seg").as("sega"),
      col("balk").as("balka"), col("sfx").as("sfxa"))
    val b = c.select(col("id").as("idb"), col("blk"), col("seg").as("segb"),
      col("balk").as("balkb"), col("sfx").as("sfxb"))
    // ≤2³ rows feed BOTH the u-totals and the output
    val pat = s.checkpoint(a.join(b, Seq("blk")).filter(col("ida") < col("idb"))
      .select((col("sega") === col("segb")).cast("long").as("seg_a"),
        (col("balka") === col("balkb")).cast("long").as("bal_a"),
        (col("sfxa") === col("sfxb")).cast("long").as("sfx_a"))
      .groupBy("seg_a", "bal_a", "sfx_a").agg(count(lit(1)).as("n_pairs")))
    val tot = pat.agg(sum("n_pairs").as("np"),
      sum(col("n_pairs") * col("seg_a")).as("na_seg"),
      sum(col("n_pairs") * col("bal_a")).as("na_bal"),
      sum(col("n_pairs") * col("sfx_a")).as("na_sfx"))
    def w(m: Double, na: String, agree: Column): Column =
      when(agree === 1L, expr(fsAgreeW(m, na))).otherwise(expr(fsDisagreeW(m, na)))
    pat.crossJoin(broadcast(tot))
      .withColumn("w_seg", w(FsMSeg, "na_seg", col("seg_a")))
      .withColumn("w_bal", w(FsMBal, "na_bal", col("bal_a")))
      .withColumn("w_sfx", w(FsMSfx, "na_sfx", col("sfx_a")))
      .select(col("seg_a"), col("bal_a"), col("sfx_a"), col("n_pairs"),
        col("w_seg"), col("w_bal"), col("w_sfx"),
        (col("w_seg") + col("w_bal") + col("w_sfx")).as("score_micro"))
      .withColumn("verdict",
        when(col("score_micro") > 0, lit("match")).otherwise(lit("non-match")))
      .orderBy(desc_nulls_last("score_micro"),
        col("seg_a"), col("bal_a"), col("sfx_a"))
  }

  /** Jaro–Winkler fuzzy scoring of adjacent part names — exercises the
    * native codegen'd [[graft.functions.StringSim]] expressions (the ER
    * name-matching measure Spark lacks; [[fuzzyJoin]]'s levenshtein is
    * edit distance, a different signal) against DuckDB's own
    * jaro_similarity/jaro_winkler_similarity as the oracle: same match
    * window, transposition, prefix-boost, and empty-string conventions,
    * scores micro-rounded. Pairs = consecutive partkeys (a deterministic
    * pair generator; production pairs come from any blocking stage).
    *
    * Scale: pairing is a 1-offset self-join on the key (co-partitioned,
    * no fan-out); the expression runs inside whole-stage codegen —
    * PlanAssertSpec-style, no UDF boxing. */
  def jaroPairs(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.StringSim
    val p = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val q = p.select((col("p_partkey") - 1).as("p_partkey"),
      col("p_name").as("next_name"))
    p.join(q, "p_partkey")
      .select(col("p_partkey"),
        round(StringSim.jaroSim(col("p_name"), col("next_name")) * 1000000)
          .cast("long").as("jaro_micro"),
        round(StringSim.jaroWinkler(col("p_name"), col("next_name")) * 1000000)
          .cast("long").as("jw_micro"))
      .orderBy(desc("jw_micro"), desc("jaro_micro"), asc("p_partkey"))
      .limit(20)
  }

  /** Weight-of-evidence / information-value encoding — the classic
    * credit-scoring categorical encoder (and leakage-free alternative
    * to target encoding): per category, WOE = ln(pos-share / neg-share)
    * and its IV contribution (pos-share − neg-share)·WOE. WOE rounds to
    * integer micro-nats at computation; shares are integer micro by
    * DIV, and the IV product is clamped at 0 before its own DIV so
    * truncation semantics can't diverge between engines (IV terms are
    * mathematically ≥ 0 — only micro-rounding can graze below). Label:
    * bulk lines (l_quantity > 25); category: return flag.
    *
    * Scale: one partial+final (category) rollup + a broadcast 1-row
    * totals frame — |categories| output rows at any fact size. */
  def woeEncode(spark: SparkSession, dir: String): DataFrame =
    woeEncodeDf(Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("cat"),
        (col("l_quantity") > 25).cast("long").as("pos")))

  /** Core over any (cat, pos∈{0,1}) frame. */
  def woeEncodeDf(li: DataFrame): DataFrame = {
    val cats = li.groupBy("cat").agg(sum("pos").as("p"),
      (count(lit(1)) - sum("pos")).as("n"))
    val tot = cats.agg(sum("p").as("pt"), sum("n").as("nt"))
    cats.crossJoin(broadcast(tot))
      .selectExpr("cat", "p AS n_pos", "n AS n_neg",
        """CAST(CASE WHEN p = 0 OR n = 0 THEN NULL
          | ELSE round(ln(CAST(p * nt AS DOUBLE) / CAST(n * pt AS DOUBLE))
          |   * 1000000) END AS BIGINT) AS woe_micro""".stripMargin,
        // pt/nt = 0 (globally one-sided label): DIV-by-zero is NULL in
        // Spark but an ERROR in DuckDB — pin NULL in both
        "CAST(CASE WHEN pt = 0 THEN NULL ELSE (p * 1000000) DIV pt END AS BIGINT) AS pos_share_micro",
        "CAST(CASE WHEN nt = 0 THEN NULL ELSE (n * 1000000) DIV nt END AS BIGINT) AS neg_share_micro")
      .selectExpr("cat", "n_pos", "n_neg", "woe_micro",
        """CAST(CASE WHEN woe_micro IS NULL THEN NULL
          | ELSE greatest((pos_share_micro - neg_share_micro) * woe_micro, 0)
          |   DIV 1000000 END AS BIGINT) AS iv_micro""".stripMargin)
      .orderBy("cat")
  }

  /** Mutual information between a categorical feature and a binary
    * label — WOE's symmetric companion for feature selection: per cell
    * the pointwise MI rounds to integer micro-nats at computation, the
    * cell contribution is (c_xy · pmi_micro) DIV N, and the total MI is
    * a sum of those integers — deterministic and oracle-replayable.
    * Feature: return flag; label: bulk lines (l_quantity > 25).
    *
    * Scale: one partial+final (x, y) contingency rollup (≤|X|·2 cells),
    * two broadcast marginal frames — cell-table-sized output at any
    * fact size. */
  def mutualInfo(spark: SparkSession, dir: String): DataFrame =
    mutualInfoDf(Tables.lineitem(spark, dir)
      .select(col("l_returnflag").as("x"),
        (col("l_quantity") > 25).cast("long").as("y")))

  /** Core over any (x, y∈{0,1}) frame. */
  def mutualInfoDf(df: DataFrame): DataFrame = {
    val cells = df.groupBy("x", "y").agg(count(lit(1)).as("c_xy"))
    val mx = df.groupBy("x").agg(count(lit(1)).as("c_x"))
    val my = df.groupBy("y").agg(count(lit(1)).as("c_y"))
    val n = df.agg(count(lit(1)).as("n"))
    cells.join(mx, "x").join(my, "y").crossJoin(broadcast(n))
      .selectExpr("x", "y", "c_xy", "n",
        """CAST(round(ln(CAST(c_xy * n AS DOUBLE) / CAST(c_x * c_y AS DOUBLE))
          | * 1000000) AS BIGINT) AS pmi_micro""".stripMargin)
      // negative pmi cells exist; both engines truncate toward zero, but
      // the CASE pins that semantic explicitly rather than relying on it
      .selectExpr("x", "y", "c_xy", "pmi_micro",
        """CAST(CASE WHEN pmi_micro >= 0 THEN (c_xy * pmi_micro) DIV n
          | ELSE -((c_xy * -pmi_micro) DIV n) END AS BIGINT)
          | AS mi_contrib_micro""".stripMargin)
      .orderBy("x", "y")
  }

  /** Three-valued-logic pin — NULL handling is where engines (and
    * hand-written pipelines) silently diverge, so the exact semantics
    * ride a gate: count(*) vs count(col), NULL as a grouping key,
    * aggregate null-skipping, DISTINCT over nulls, null-safe equality
    * (<=> / IS NOT DISTINCT FROM), and the NOT IN + NULL trap (the
    * predicate is UNKNOWN for every row, so the count is 0 — pinned so
    * nobody "fixes" it). Derived nullable columns via nullif/CASE on
    * lineitem; one partial+final rollup. */
  def nullSemantics(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.lineitem(spark, dir).select(
      nullif(col("l_returnflag"), lit("N")).as("k"),
      when(col("l_quantity") > 25, col("l_quantity")).as("v"))
    d.groupBy("k").agg(
        count(lit(1)).as("n_rows"),
        count(col("v")).as("n_nonnull_v"),
        countDistinct(col("v")).as("n_distinct_v"),
        // round-then-cast: Spark CAST(double AS BIGINT) truncates while
        // DuckDB ::BIGINT rounds — pinning round() on BOTH sides keeps
        // the gate honest for non-integral value columns too
        round(coalesce(sum("v"), lit(0))).cast("long").as("sum_v"),
        sum((col("k") <=> lit(null)).cast("long")).as("n_nullsafe_null_k"),
        // NOT IN (..., NULL) is never TRUE — must be exactly 0
        sum(when(expr("v NOT IN (1, 2, NULL)"), 1L).otherwise(0L))
          .as("n_notin_trap"))
      // the driver's row-sort compare cannot order NULL next to strings,
      // so the null GROUP (the point of the gate) displays as a sentinel
      .withColumn("k", coalesce(col("k"), lit("<null>")))
      .orderBy("k")
  }

  /** Distribution-rank window family — ntile / percent_rank / cume_dist
    * (the window functions q_window_rank/range/running don't cover),
    * pinned over a TOTAL ordering (price, key) so tile boundaries and
    * rank fractions are engine-exact; fractions are exact rationals of
    * row counts, rounded 6. ≤ 4·|priorities| rows out at any scale.
    *
    * Scale: the 5-priority partition space is constant while the order
    * grain is data-proportional, so a plain `ntile OVER (PARTITION BY
    * priority)` would funnel SF·1.5M rows through 5 sort partitions.
    * Instead membership rides [[ScaleWindows.withBoundedGroupRank]] —
    * ONE range-partitioned sort over (priority, price, key) plus
    * broadcast per-group start offsets — and all three functions are
    * recovered arithmetically from (rank, n): ntile(4) by SQL's deal
    * (first n%4 buckets get n DIV 4 + 1 rows), percent_rank =
    * (rk−1)/(n−1), cume_dist = rk/n (the ordering is total, so rank =
    * row_number and no tie-group lookahead is needed). Identical
    * doubles to the window functions — same dividends, same divisors. */
  def windowNtile(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.orders(spark, dir)
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    ScaleWindows.withBoundedGroupRank(base, "o_orderpriority",
        Seq(col("o_totalprice"), col("o_orderkey")), "rk", "n")
      .selectExpr("o_orderpriority", "rk", "n", "n DIV 4 AS k4", "n % 4 AS r4")
      .selectExpr("o_orderpriority",
        """CAST(CASE WHEN rk <= r4 * (k4 + 1)
          |  THEN (rk - 1) DIV (k4 + 1) + 1
          |  ELSE r4 + (rk - r4 * (k4 + 1) - 1) DIV k4 + 1 END AS INT)
          |  AS quartile""".stripMargin,
        "CASE WHEN n = 1 THEN CAST(0.0 AS DOUBLE) " +
          "ELSE CAST(rk - 1 AS DOUBLE) / CAST(n - 1 AS DOUBLE) END AS pr",
        "CAST(rk AS DOUBLE) / CAST(n AS DOUBLE) AS cd")
      .groupBy("o_orderpriority", "quartile")
      .agg(count(lit(1)).as("n_orders"),
        round(min("pr"), 6).as("min_pctrank"),
        round(max("cd"), 6).as("max_cumedist"))
      .orderBy("o_orderpriority", "quartile")
  }

  /** Decile lift/gains table — the model-scoring evaluation classic
    * ("rank by score, how concentrated is the response in the top
    * decile?"): customers ranked by account balance (the stand-in model
    * score, fully tie-broken by key), response = placed ≥1 urgent
    * order; per decile the response rate and lift vs base in exact
    * integer bp — rate = (resp_d·10⁴) DIV n_d, lift = (resp_d·n·10⁴)
    * DIV (n_d·resp). Decile membership is SQL ntile(10)'s deal
    * recovered arithmetically from the global (rank, n).
    *
    * Scale: the global rank rides [[ScaleWindows.withGlobalRowNumber]]
    * (range-partitioned sort + two-pass offsets — never a
    * single-partition window over the customer grain); response is one
    * keyed semi-rollup; the output is 10 rows. */
  def decileLift(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val resp = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey").as("ck")).distinct().withColumn("y", lit(1L))
    // feeds the rank pass and the totals
    val cust = s.checkpoint(Tables.customer(spark, dir)
      .select(col("c_custkey").as("ck"),
        expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("score"))
      .join(resp, Seq("ck"), "left")
      .select(col("ck"), col("score"), coalesce(col("y"), lit(0L)).as("y")))
    val tot = cust.agg(count(lit(1)).as("n"), sum("y").as("resp"))
    ScaleWindows.withGlobalRowNumber(cust,
        Seq(col("score").desc, col("ck")), "rk")
      .crossJoin(broadcast(tot))
      .selectExpr("y", "rk", "n", "resp", "n DIV 10 AS k4", "n % 10 AS r4")
      .selectExpr("y", "n", "resp",
        """CAST(CASE WHEN rk <= r4 * (k4 + 1)
          |  THEN (rk - 1) DIV (k4 + 1) + 1
          |  ELSE r4 + (rk - r4 * (k4 + 1) - 1) DIV k4 + 1 END AS INT)
          |  AS decile""".stripMargin)
      .groupBy("decile", "n", "resp")
      .agg(count(lit(1)).as("n_cust"), sum("y").as("n_resp"))
      .selectExpr("decile", "n_cust", "n_resp",
        "(n_resp * 10000) DIV n_cust AS rate_bp",
        """CAST(CASE WHEN resp = 0 THEN NULL
          |  ELSE (n_resp * n * 10000) DIV (n_cust * resp)
          |  END AS BIGINT) AS lift_bp""".stripMargin)
      .orderBy("decile")
  }

  /** Salt replication factor for the skew-join gate. */
  val SaltFactor = 8

  /** Salted skew join — the standard hot-key treatment made first-class
    * and RESULT-GATED: the fact side carries a deterministic salt
    * (portable row hash mod [[SaltFactor]]), the dimension side
    * replicates each row across all salts, and the join key becomes
    * (key, salt) so one hot key spreads over SaltFactor reducers
    * instead of melting one. The oracle is the plain unsalted join —
    * identical aggregates prove salting is a pure layout transform
    * (the same guarantee-not-assumption posture as q_jaccard_prefix
    * and q_rechunk_gram). Revenue is summed in exact integer cents so
    * no fp-order noise can hide a salting bug. */
  def saltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"),
        pmod(graft.functions.TextFns.hash56(
          concat_ws("-", col("l_orderkey"), col("l_linenumber"))),
          lit(SaltFactor.toLong)).as("salt"))
    val dim = Tables.part(spark, dir)
      .select(col("p_partkey"), col("p_brand"))
      .withColumn("salt", explode(sequence(lit(0L), lit(SaltFactor - 1L))))
    li.join(dim,
        li("l_partkey") === dim("p_partkey") && li("salt") === dim("salt"))
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_lines"), sum("cents").as("revenue_cents"))
      .orderBy("p_brand")
  }

  /** Market-basket association pairs — the classic frequent-itemset /
    * association-rule screen (the "beer and diapers" operator, a NEW
    * family next to the join/agg suites): co-occurring part pairs within
    * an order, with support, confidence and lift in integer basis
    * points: support_bp = c_ab·10⁴ DIV n_orders, conf = c_ab·10⁴ DIV
    * c_a, lift_bp = n·c_ab·10⁴ DIV (c_a·c_b) — all-integer, engine-
    * exact. Top 20 pairs by (lift, support, pair) — fully tie-broken.
    *
    * Scale: baskets roll up to DISTINCT (order, part) first; the pair
    * generator is a SELF-EQUI-JOIN on the order key (one shuffle, never
    * all-pairs) whose fan-out is Σ(items/order choose 2) — bounded by
    * the basket-size constant, linear in orders; item counts join back
    * on the part key; the global top-k plans TakeOrderedAndProject. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val items = s.checkpoint(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()) // feeds pairs, item counts, and the total
    val nOrders = items.agg(countDistinct("ok").as("n")).head().getLong(0)
    val itemCnt = items.groupBy("pk").agg(count(lit(1)).as("c"))
    val a = items.selectExpr("ok", "pk AS pa")
    val b = items.selectExpr("ok AS okb", "pk AS pb")
    val pairs = a.join(b, col("ok") === col("okb") && col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c_ab"))
    pairs
      .join(itemCnt.selectExpr("pk AS pa", "c AS c_a"), "pa")
      .join(itemCnt.selectExpr("pk AS pb", "c AS c_b"), "pb")
      .selectExpr("pa", "pb", "c_ab", "c_a", "c_b",
        s"(c_ab * 10000) DIV $nOrders AS support_bp",
        "(c_ab * 10000) DIV c_a AS conf_a_to_b_bp",
        s"(CAST($nOrders AS DECIMAL(38,0)) * c_ab * 10000) DIV (CAST(c_a AS DECIMAL(38,0)) * c_b) AS lift_bp")
      .withColumn("lift_bp", col("lift_bp").cast("long"))
      .orderBy(desc("lift_bp"), desc("support_bp"), asc("pa"), asc("pb"))
      .limit(20)
  }

  /** Price elasticity of demand — per-brand log-log OLS (the pricing
    * team's first regression: elasticity = d ln q / d ln p, slope of
    * ln(quantity) on ln(unit price)), a GROUPED regression over the
    * fact table where [[graft.operators.Temporal.olsTrend]] fits one
    * series. Per row both logs are micro-rounded BIGINTs (the bigram-
    * surprisal ln discipline — one double op then a pinned rounding,
    * identical in both engines); the per-brand slope comes from the
    * 5-sums closed form in DECIMAL(38,0), emitted in micro (the scale
    * cancels between covariance and variance). Degenerate brands
    * (zero price variance) pin NULL.
    *
    * Scale: one fact-side projection + one part-key join (part is a
    * SF-proportional dimension — shuffle/AQE territory, not a
    * broadcast), then a partial+final 5-sums aggregate onto the
    * bounded brand grain. Nothing beyond the join shuffle at 100 TB. */
  def priceElasticity(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"),
        expr("CAST(round(l_extendedprice * (1 - l_discount) * 100 / l_quantity) AS BIGINT)")
          .as("unit_cents"),
        col("l_quantity").cast("long").as("qty"))
      .filter(col("unit_cents") >= 1L && col("qty") >= 1L)
    li.join(Tables.part(spark, dir).select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .select(col("p_brand").as("brand"),
        expr("CAST(round(ln(CAST(unit_cents AS DOUBLE)) * 1000000) AS BIGINT)").as("x"),
        expr("CAST(round(ln(CAST(qty AS DOUBLE)) * 1000000) AS BIGINT)").as("y"))
      .groupBy("brand")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .selectExpr("brand", "n",
        """CAST(CASE WHEN CAST(n AS DECIMAL(38,0)) * sxx - sx * sx = 0 THEN NULL
          | ELSE ((CAST(n AS DECIMAL(38,0)) * sxy - sx * sy) * 1000000)
          |   DIV (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx)
          | END AS BIGINT) AS elasticity_micro""".stripMargin)
      .orderBy("brand")
  }

  /** Blocking-scheme quality audit — the measurement layer the ER pair
    * ([[fellegiSunter]], [[sortedNeighborhood]]) needs before trusting
    * any blocking key: REDUCTION RATIO (how many of the n(n−1)/2
    * candidate comparisons the scheme discards) and PAIR COMPLETENESS
    * (how many truth pairs it keeps co-located), for two competing
    * schemes (nation vs $1k-balance-bucket) against a pinned truth
    * predicate (same segment + name suffix + balance bucket). Every
    * pair count folds from SIZE HISTOGRAMS — Σ c·(c−1)/2 over group
    * sizes — so nothing pairwise ever materializes; counts are
    * DECIMAL(38,0) because candidate sums reach n² ≈ 10¹⁸ at 10⁹
    * records.
    *
    * Scale: three key rollups (block, truth, truth×block) per scheme,
    * each partial+final; the finish is per-scheme 1-row arithmetic. */
  def blockingQuality(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val c = s.checkpoint(Tables.customer(spark, dir).select(
      col("c_custkey").as("id"),
      col("c_nationkey").cast("string").as("blk_nation"),
      expr("CAST(CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000 AS STRING)")
        .as("blk_bal"),
      concat_ws("#", col("c_mktsegment"), expr("substring(c_name, -2, 2)"),
        expr("CAST(CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000 AS STRING)"))
        .as("truth"))) // one scan feeds all six rollups
    val n = c.count()
    val totalPairs = BigDecimal(n) * (n - 1) / 2
    val truthPairs = c.groupBy("truth").agg(count(lit(1)).as("g"))
      .agg(sum(expr("CAST(CAST(g AS DECIMAL(38,0)) * (g - 1) / 2 AS DECIMAL(38,0))")))
      .head().getDecimal(0).toBigInteger
    def scheme(name: String, blkCol: String): DataFrame = {
      val cand = c.groupBy(blkCol).agg(count(lit(1)).as("g"))
        .agg(sum(expr("CAST(CAST(g AS DECIMAL(38,0)) * (g - 1) / 2 AS DECIMAL(38,0))")).as("cand"))
      val found = c.groupBy(col("truth"), col(blkCol)).agg(count(lit(1)).as("g"))
        .agg(sum(expr("CAST(CAST(g AS DECIMAL(38,0)) * (g - 1) / 2 AS DECIMAL(38,0))")).as("found"))
      cand.crossJoin(found)
        .selectExpr(s"'$name' AS scheme", s"CAST($n AS BIGINT) AS n_records",
          "CAST(cand AS BIGINT) AS cand_pairs",
          s"CAST(10000 - (cand * 10000) DIV CAST('${totalPairs.toBigInt}' AS DECIMAL(38,0)) AS BIGINT) AS rr_bp",
          s"CAST($truthPairs AS BIGINT) AS truth_pairs",
          "CAST(found AS BIGINT) AS found_pairs",
          // degenerate truth (all keys unique) pins NULL, never errors
          s"CAST(CASE WHEN $truthPairs = 0 THEN NULL ELSE (found * 10000) DIV CAST($truthPairs AS DECIMAL(38,0)) END AS BIGINT) AS pc_bp")
    }
    scheme("bal_bucket", "blk_bal").unionAll(scheme("nation", "blk_nation"))
      .orderBy("scheme")
  }

  val AlsoBoughtParts = 20
  val AlsoBoughtK = 3

  /** "Customers also bought" recommendation table — the SERVING
    * artifact [[basketPairs]]' association screen feeds (per anchor
    * part its top-[[AlsoBoughtK]] co-purchased partners): co-occurrence
    * counts symmetrize the basket pair census, each anchor keeps its
    * top partners via a part-keyed rank window, and the gate emits the
    * [[AlsoBoughtParts]] hottest anchors (by total co-occurrence,
    * fully tie-broken).
    *
    * Scale: the same DISTINCT-basket self-equi-join as basketPairs
    * (fan-out Σ(items/order choose 2), linear in orders); the rank
    * window partitions by anchor part — millions of small groups, never
    * a global sort; the hot-anchor pick is TakeOrderedAndProject. */
  def alsoBought(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val items = Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()
    val a = items.selectExpr("ok", "pk AS pa")
    val b = items.selectExpr("ok AS okb", "pk AS pb")
    val pairs = a.join(b, col("ok") === col("okb") && col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
    // feeds both the rank window and the anchor pick
    val sym = s.checkpoint(pairs.selectExpr("pa AS part", "pb AS partner", "c")
      .unionAll(pairs.selectExpr("pb AS part", "pa AS partner", "c")))
    val hot = sym.groupBy("part").agg(sum("c").as("tot"))
      .orderBy(col("tot").desc, col("part").asc).limit(AlsoBoughtParts)
    val w = Window.partitionBy("part").orderBy(col("c").desc, col("partner").asc)
    sym.join(broadcast(hot), "part")
      .withColumn("rec_rank", row_number().over(w))
      .filter(col("rec_rank") <= AlsoBoughtK)
      .select(col("part"), col("tot").as("part_total"), col("rec_rank"),
        col("partner"), col("c").as("n_cobought"))
      .orderBy("part", "rec_rank")
  }

  val TripleMinSup = 2L
  val TripleTopK = 20

  /** Frequent triples — the Apriori LEVEL-3 step [[basketPairs]] stops
    * short of, with the real Apriori prune: only pairs reaching
    * [[TripleMinSup]] support (L2) generate candidates, candidates must
    * have ALL THREE sub-pairs frequent (downward closure), and only
    * then do baskets count them. Top-[[TripleTopK]] by (support,
    * items) — fully tie-broken.
    *
    * Scale: the L2 filter collapses the candidate space before any
    * 3-way work; the support count joins baskets through the L2-pruned
    * pair first (never the raw items³ fan-out), then the candidate
    * closure prunes again before the final rollup. */
  def basketTriples(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val items = s.checkpoint(Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
      .distinct()) // feeds pairs and the pruned triple count
    val pairs = items.selectExpr("ok", "pk AS pa")
      .join(items.selectExpr("ok AS okb", "pk AS pb"),
        col("ok") === col("okb") && col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("c"))
    // the frequent-pair lattice level
    val l2 = s.checkpoint(pairs.filter(col("c") >= TripleMinSup).select("pa", "pb"))
    val cands = l2.selectExpr("pa AS p1", "pb AS p2")
      .join(l2.selectExpr("pa AS p1", "pb AS p3"), "p1")
      .filter(col("p2") < col("p3"))
      .join(l2.selectExpr("pa AS p2", "pb AS p3"), Seq("p2", "p3")) // closure
      .select("p1", "p2", "p3")
    val tri12 = items.selectExpr("ok", "pk AS p1")
      .join(items.selectExpr("ok AS ok2", "pk AS p2"),
        col("ok") === col("ok2") && col("p1") < col("p2"))
      .join(l2.selectExpr("pa AS p1", "pb AS p2"), Seq("p1", "p2")) // L2 prune
      .select("ok", "p1", "p2")
    tri12
      .join(items.selectExpr("ok AS ok3", "pk AS p3"),
        col("ok") === col("ok3") && col("p2") < col("p3"))
      .join(cands, Seq("p1", "p2", "p3")) // Apriori candidate prune
      .groupBy("p1", "p2", "p3").agg(count(lit(1)).as("support"))
      .filter(col("support") >= TripleMinSup)
      .orderBy(col("support").desc, col("p1"), col("p2"), col("p3"))
      .limit(TripleTopK)
  }

  /** XYZ demand-variability classification — [[abcClassification]]'s
    * inventory-planning twin on the OTHER axis (ABC ranks by value,
    * XYZ by predictability): per part the monthly demand series'
    * squared coefficient of variation, all-integer as cv2_micro =
    * ((n·Σq² − S²)·10⁶) DIV S² over quantity-cents, classified X
    * (≤250000 ≙ CV ≤ 0.5), Y (≤1000000 ≙ CV ≤ 1), else Z — squaring
    * the thresholds dodges the sqrt that would break engine
    * exactness. Census per class: parts, demand cents, share bp.
    *
    * Scale: one (part, month) rollup + one part-grain 3-sums aggregate
    * + a 3-row census — never a sort, never a window. */
  def xyzClassification(spark: SparkSession, dir: String): DataFrame = {
    val monthly = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"),
        date_trunc("month", col("l_shipdate")).as("m"))
      .agg(sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("q"))
    val perPart = monthly.groupBy("pk")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(q AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(q AS DECIMAL(38,0)) * q")).as("s2"))
      .selectExpr("pk", "n", "CAST(s AS BIGINT) AS demand_cents",
        """CAST(CASE WHEN s = 0 THEN NULL
          | ELSE ((CAST(n AS DECIMAL(38,0)) * s2 - s * s) * 1000000)
          |   DIV (s * s) END AS BIGINT) AS cv2_micro""".stripMargin)
      .withColumn("xyz", when(col("cv2_micro").isNull, lit(null).cast("string"))
        .when(col("cv2_micro") <= 250000L, "X")
        .when(col("cv2_micro") <= 1000000L, "Y")
        .otherwise("Z"))
    val tot = perPart.agg(sum("demand_cents").as("tot"))
    perPart.groupBy("xyz")
      .agg(count(lit(1)).as("n_parts"), sum("demand_cents").as("class_cents"))
      .crossJoin(broadcast(tot))
      .selectExpr("xyz", "n_parts", "class_cents",
        "(class_cents * 10000) DIV tot AS demand_share_bp")
      .orderBy("xyz")
  }

  /** Laspeyres price index — the index-number family's canonical
    * member (what "inflation vs the base year" means in every national
    * statistic): per year, Σ p_t·q₀ / Σ p₀·q₀ over parts traded in BOTH
    * the year and the base (first) year, with unit prices as truncated
    * integer micro-cents (up = ext-price-cents·10⁶ DIV qty — the same
    * deterministic truncation in both engines) and base-year quantity
    * weights. The base year reads exactly 10⁶ by construction; later
    * years read price drift with composition held fixed.
    *
    * Scale: one (part, year) rollup, a base-year self-join on the part
    * key, and a year-grain census — no sorts, no windows. */
  def priceIndex(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    // feeds both sides of the base join
    val py = s.checkpoint(Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"), year(col("l_shipdate")).as("yr"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("cents"),
        sum(expr("CAST(round(l_quantity * 100) AS BIGINT)")).as("qty"))
      .filter(col("qty") > 0L)
      .selectExpr("pk", "yr", "(cents * 1000000) DIV qty AS up_micro", "qty"))
    val baseYr = py.agg(min("yr")).head().getInt(0)
    val base = py.filter(col("yr") === baseYr)
      .selectExpr("pk", "up_micro AS up0", "qty AS q0")
    py.join(base, "pk")
      .groupBy("yr")
      .agg(count(lit(1)).as("n_common_parts"),
        sum(expr("CAST(up_micro AS DECIMAL(38,0)) * q0")).as("num"),
        sum(expr("CAST(up0 AS DECIMAL(38,0)) * q0")).as("den"))
      .selectExpr("yr AS year", "n_common_parts",
        """CAST(CASE WHEN den = 0 THEN NULL
          | ELSE (num * 1000000) DIV den END AS BIGINT) AS laspeyres_micro""".stripMargin)
      .orderBy("year")
  }

  /** Herfindahl–Hirschman concentration index — the antitrust-grade
    * concentration meter next to [[giniDf]]'s inequality curve (HHI is
    * the one with REGULATORY thresholds attached): per nation, supplier
    * revenue concentration as HHI = Σ shareᵢ², computed EXACTLY (no
    * truncated shares) as (Σ revᵢ²)·10⁶ DIV (Σ revᵢ)² in DECIMAL(38,0),
    * with the DOJ bands pinned: < 0.15 unconcentrated, ≤ 0.25
    * moderate, else high.
    *
    * Scale: one (nation, supplier) rollup + a nation-grain 2-sums
    * aggregate — the q_xyz_class posture. */
  def hhi(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nation"), col("l_suppkey").as("sk"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev"))
    rev.groupBy("nation")
      .agg(count(lit(1)).as("n_suppliers"),
        sum(expr("CAST(rev AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(rev AS DECIMAL(38,0)) * rev")).as("s2"))
      .selectExpr("nation", "n_suppliers", "CAST(s AS BIGINT) AS total_cents",
        """CAST(CASE WHEN s = 0 THEN NULL
          | ELSE (s2 * 1000000) DIV (s * s) END AS BIGINT) AS hhi_micro""".stripMargin)
      .withColumn("band",
        when(col("hhi_micro").isNull, lit(null).cast("string"))
          .when(col("hhi_micro") < 150000L, "unconcentrated")
          .when(col("hhi_micro") <= 250000L, "moderate")
          .otherwise("high"))
      .orderBy("nation")
  }

  /** Theil-T inequality index — the DECOMPOSABLE member of the
    * inequality trio (Gini curves, HHI concentrates, Theil is the one
    * that splits exactly into within/between-group terms): per nation
    * the supplier-revenue Theil T = Σ sᵢ·ln(n·sᵢ), folded all-integer
    * as (Σ revᵢ·microln(revᵢ·n / S)) DIV S with one micro-rounded
    * ln-of-integer-ratio per supplier (the SPRT/woe discipline —
    * identical doubles both engines). 0 = perfect equality,
    * ln(n) = monopoly; emitted beside its ln(n) ceiling in micro so
    * the normalized reading is one division away.
    *
    * Scale: the q_hhi posture — one (nation, supplier) rollup +
    * nation-grain integer sums. */
  def theilIndex(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey")),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey").as("nation"), col("l_suppkey").as("sk"))
      .agg(sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)")).as("rev"))
      .filter(col("rev") > 0L)
    val tot = rev.groupBy("nation")
      .agg(count(lit(1)).as("n"), sum("rev").as("s"))
    rev.join(tot, "nation")
      .selectExpr("nation", "n", "s",
        """rev * CAST(round(ln(CAST(rev AS DOUBLE) * n / CAST(s AS DOUBLE))
          | * 1000000) AS BIGINT) AS term""".stripMargin)
      .groupBy("nation", "n", "s")
      .agg(sum(expr("CAST(term AS DECIMAL(38,0))")).as("tsum"))
      .selectExpr("nation", "CAST(n AS BIGINT) AS n_suppliers",
        "CAST(s AS BIGINT) AS total_cents",
        "CAST(tsum DIV s AS BIGINT) AS theil_micro",
        "CAST(round(ln(CAST(n AS DOUBLE)) * 1000000) AS BIGINT) AS ceiling_micro")
      .orderBy("nation")
  }

  val queries: Map[String, Q] = Map(
    "q_theil_index" -> (theilIndex _),
    "q_hhi" -> (hhi _),
    "q_price_index" -> (priceIndex _),
    "q_xyz_class" -> (xyzClassification _),
    "q_basket_triples" -> (basketTriples _),
    "q_also_bought" -> (alsoBought _),
    "q_blocking_quality" -> (blockingQuality _),
    "q_elasticity" -> (priceElasticity _),
    "q_basket_pairs" -> (basketPairs _),
    "q_salted_join" -> (saltedJoin _),
    "q_window_ntile" -> (windowNtile _),
    "q_decile_lift" -> (decileLift _),
    "q_null_semantics" -> (nullSemantics _),
    "q_mutual_info" -> (mutualInfo _),
    "q_woe_encode" -> (woeEncode _),
    "q_winsorize" -> (winsorize _),
    "q_join_size" -> (joinSizeForecast _),
    "q_sorted_neighborhood" -> (sortedNeighborhood _),
    "q_record_linkage" -> (fellegiSunter _),
    "q_calibration" -> (calibration _),
    "q_grouping_sets" -> (groupingSets _),
    "q_incremental_agg" -> (incrementalAgg _),
    "q_auc" -> (aucHistogram _),
    "q_ks_stat" -> (ksStat _),
    "q_gini" -> (giniConcentration _),
    "q_isotonic" -> (isotonicCalibration _),
    "q_jaro_pairs" -> (jaroPairs _),
    "q_mann_whitney" -> (mannWhitney _),
    "q_kruskal_wallis" -> (kruskalWallis _),
    "q_abc_class" -> (abcClassification _),
    "q_value_migration" -> (valueMigration _),
    "q_pricing_summary" -> (pricingSummary _),
    "q_filter_project" -> (filterProject _),
    "q_topk" -> (topK _),
    "q_sort_multi" -> (sortMulti _),
    "q_slice" -> (slice _),
    "q_distinct" -> (distinctKeys _),
    "q_count_distinct" -> (countDistinctKeys _),
    "q_star_join" -> (starJoin _),
    "q_semi_join" -> (semiJoin _),
    "q_anti_join" -> (antiJoin _),
    "q_groupby_having" -> (groupByHaving _),
    "q_window_rank" -> (windowRank _),
    "q_window_running" -> (windowRunning _),
    "q_elementwise" -> (elementwise _),
    "q_reduce_stats" -> (reduceStats _),
    "q_quantiles" -> (quantiles _),
    "q_corr_cov" -> (corrCov _),
    "q_linreg_simple" -> (linregSimple _),
    "q_concat_rows" -> (concatRows _),
    "q_rollup" -> (rollupAgg _),
    "q_sketches" -> (sketches _),
    "q_full_outer" -> (fullOuter _),
    "q_pivot" -> (pivotAgg _),
    "q_range_join" -> (rangeJoin _),
    "q_window_range" -> (windowRange _),
    "q_unpivot" -> (unpivot _),
    "q_cube" -> (cubeAgg _),
    "q_set_ops" -> (setOps _),
    "q_window_offset" -> (windowOffset _),
    "q_cdc_merge" -> (cdcMerge _),
    "q_fuzzy_join" -> (fuzzyJoin _),
    "q_bloom_semi" -> (bloomSemiJoin _),
    "q_robust_stats" -> (robustStats _),
    "q_robust_outliers" -> (robustOutliers _),
    "q_equidepth_hist" -> (equidepthHist _),
    "q_profile_columns" -> (profileColumns _),
    "q_skyline" -> (skyline _),
    "q_skew_stats" -> (skewStats _),
    "q_freq_pairs" -> (frequentPairs _),
    "q_rfm_segments" -> (rfmSegments _),
    "q_mix_shift" -> (mixShift _)
  )

  val oracles: Map[String, String] = Map(
    "q_theil_index" ->
      """WITH rev AS (SELECT s_nationkey AS nation, l_suppkey AS sk,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2 HAVING sum(round(l_extendedprice * 100)::BIGINT) > 0),
        |tot AS (SELECT nation, count(*)::BIGINT AS n, sum(rev)::BIGINT AS s
        |  FROM rev GROUP BY nation),
        |terms AS (SELECT rev.nation, tot.n, tot.s,
        |    rev::HUGEINT * round(ln(rev::DOUBLE * n / s::DOUBLE)
        |      * 1000000)::BIGINT AS term
        |  FROM rev JOIN tot USING (nation))
        |SELECT nation, n AS n_suppliers, s AS total_cents,
        |  (sum(term) // s)::BIGINT AS theil_micro,
        |  round(ln(n::DOUBLE) * 1000000)::BIGINT AS ceiling_micro
        |FROM terms GROUP BY nation, n, s ORDER BY nation""".stripMargin,
    "q_hhi" ->
      """WITH rev AS (SELECT s_nationkey AS nation, l_suppkey AS sk,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS rev
        |  FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |  GROUP BY 1, 2),
        |m AS (SELECT nation, count(*)::BIGINT AS n_suppliers,
        |    sum(rev)::HUGEINT AS s, sum(rev::HUGEINT * rev) AS s2
        |  FROM rev GROUP BY nation)
        |SELECT nation, n_suppliers, s::BIGINT AS total_cents,
        |  (CASE WHEN s = 0 THEN NULL
        |    ELSE (s2 * 1000000) // (s * s) END)::BIGINT AS hhi_micro,
        |  CASE WHEN s = 0 THEN NULL
        |    WHEN (s2 * 1000000) // (s * s) < 150000 THEN 'unconcentrated'
        |    WHEN (s2 * 1000000) // (s * s) <= 250000 THEN 'moderate'
        |    ELSE 'high' END AS band
        |FROM m ORDER BY nation""".stripMargin,
    "q_price_index" ->
      """WITH py AS (SELECT l_partkey AS pk, year(l_shipdate)::INT AS yr,
        |    sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS cents,
        |    sum(round(l_quantity * 100)::BIGINT)::BIGINT AS qty
        |  FROM lineitem GROUP BY 1, 2),
        |up AS (SELECT pk, yr, (cents * 1000000) // qty AS up_micro, qty
        |  FROM py WHERE qty > 0),
        |base AS (SELECT pk, up_micro AS up0, qty AS q0 FROM up
        |  WHERE yr = (SELECT min(yr) FROM up))
        |SELECT up.yr AS year, count(*)::BIGINT AS n_common_parts,
        |  (CASE WHEN sum(base.up0::HUGEINT * base.q0) = 0 THEN NULL
        |    ELSE (sum(up.up_micro::HUGEINT * base.q0) * 1000000)
        |      // sum(base.up0::HUGEINT * base.q0) END)::BIGINT
        |    AS laspeyres_micro
        |FROM up JOIN base USING (pk)
        |GROUP BY up.yr ORDER BY year""".stripMargin,
    "q_xyz_class" ->
      """WITH monthly AS (SELECT l_partkey AS pk,
        |    date_trunc('month', l_shipdate) AS m,
        |    sum(round(l_quantity * 100)::BIGINT)::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2),
        |pp AS (SELECT pk, count(*)::HUGEINT AS n, sum(q)::HUGEINT AS s,
        |    sum(q::HUGEINT * q) AS s2 FROM monthly GROUP BY pk),
        |cls AS (SELECT pk, s::BIGINT AS demand_cents,
        |    (CASE WHEN s = 0 THEN NULL
        |      ELSE ((n * s2 - s * s) * 1000000) // (s * s) END)::BIGINT
        |      AS cv2_micro
        |  FROM pp),
        |lab AS (SELECT pk, demand_cents,
        |    CASE WHEN cv2_micro IS NULL THEN NULL
        |      WHEN cv2_micro <= 250000 THEN 'X'
        |      WHEN cv2_micro <= 1000000 THEN 'Y' ELSE 'Z' END AS xyz
        |  FROM cls),
        |tot AS (SELECT sum(demand_cents)::HUGEINT AS t FROM lab)
        |SELECT xyz, count(*)::BIGINT AS n_parts,
        |  sum(demand_cents)::BIGINT AS class_cents,
        |  ((sum(demand_cents)::HUGEINT * 10000) // (SELECT t FROM tot))::BIGINT
        |    AS demand_share_bp
        |FROM lab GROUP BY xyz ORDER BY xyz""".stripMargin,
    "q_basket_triples" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS c
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2),
         |l2 AS (SELECT pa, pb FROM pairs WHERE c >= $TripleMinSup),
         |cands AS (SELECT x.pa AS p1, x.pb AS p2, y.pb AS p3
         |  FROM l2 x JOIN l2 y ON x.pa = y.pa AND x.pb < y.pb
         |  JOIN l2 z ON z.pa = x.pb AND z.pb = y.pb),
         |tri AS (SELECT a.pk AS p1, b.pk AS p2, c3.pk AS p3,
         |    count(*)::BIGINT AS support
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  JOIN l2 ON l2.pa = a.pk AND l2.pb = b.pk
         |  JOIN items c3 ON a.ok = c3.ok AND b.pk < c3.pk
         |  JOIN cands ON cands.p1 = a.pk AND cands.p2 = b.pk AND cands.p3 = c3.pk
         |  GROUP BY 1, 2, 3)
         |SELECT p1, p2, p3, support FROM tri
         |WHERE support >= $TripleMinSup
         |ORDER BY support DESC, p1, p2, p3 LIMIT $TripleTopK""".stripMargin,
    "q_also_bought" ->
      s"""WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
         |  FROM lineitem),
         |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS c
         |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
         |  GROUP BY 1, 2),
         |sym AS (SELECT pa AS part, pb AS partner, c FROM pairs
         |  UNION ALL SELECT pb, pa, c FROM pairs),
         |hot AS (SELECT part, sum(c)::BIGINT AS tot FROM sym GROUP BY part
         |  ORDER BY tot DESC, part LIMIT $AlsoBoughtParts),
         |rk AS (SELECT s.part, h.tot, s.partner, s.c, row_number()
         |    OVER (PARTITION BY s.part ORDER BY s.c DESC, s.partner) AS rec_rank
         |  FROM sym s JOIN hot h USING (part))
         |SELECT part, tot AS part_total, rec_rank, partner, c AS n_cobought
         |FROM rk WHERE rec_rank <= $AlsoBoughtK
         |ORDER BY part, rec_rank""".stripMargin,
    "q_blocking_quality" ->
      """WITH c AS (SELECT c_custkey AS id,
        |    c_nationkey::VARCHAR AS blk_nation,
        |    (round(c_acctbal * 100)::BIGINT // 100000)::VARCHAR AS blk_bal,
        |    c_mktsegment || '#' || c_name[-2:] || '#'
        |      || (round(c_acctbal * 100)::BIGINT // 100000)::VARCHAR AS truth
        |  FROM customer),
        |n AS (SELECT count(*)::HUGEINT AS n FROM c),
        |tp AS (SELECT (SELECT n FROM n) * ((SELECT n FROM n) - 1) // 2 AS p),
        |tr AS (SELECT sum(g::HUGEINT * (g - 1) // 2) AS p
        |  FROM (SELECT count(*)::BIGINT AS g FROM c GROUP BY truth)),
        |cn AS (SELECT sum(g::HUGEINT * (g - 1) // 2) AS cand
        |  FROM (SELECT count(*)::BIGINT AS g FROM c GROUP BY blk_nation)),
        |cb AS (SELECT sum(g::HUGEINT * (g - 1) // 2) AS cand
        |  FROM (SELECT count(*)::BIGINT AS g FROM c GROUP BY blk_bal)),
        |fn AS (SELECT sum(g::HUGEINT * (g - 1) // 2) AS found
        |  FROM (SELECT count(*)::BIGINT AS g FROM c GROUP BY truth, blk_nation)),
        |fb AS (SELECT sum(g::HUGEINT * (g - 1) // 2) AS found
        |  FROM (SELECT count(*)::BIGINT AS g FROM c GROUP BY truth, blk_bal))
        |SELECT 'bal_bucket' AS scheme, (SELECT n FROM n)::BIGINT AS n_records,
        |  (SELECT cand FROM cb)::BIGINT AS cand_pairs,
        |  (10000 - ((SELECT cand FROM cb) * 10000) // (SELECT p FROM tp))::BIGINT
        |    AS rr_bp,
        |  (SELECT p FROM tr)::BIGINT AS truth_pairs,
        |  (SELECT found FROM fb)::BIGINT AS found_pairs,
        |  (CASE WHEN (SELECT p FROM tr) = 0 THEN NULL
        |    ELSE ((SELECT found FROM fb) * 10000) // (SELECT p FROM tr)
        |    END)::BIGINT AS pc_bp
        |UNION ALL
        |SELECT 'nation', (SELECT n FROM n)::BIGINT,
        |  (SELECT cand FROM cn)::BIGINT,
        |  (10000 - ((SELECT cand FROM cn) * 10000) // (SELECT p FROM tp))::BIGINT,
        |  (SELECT p FROM tr)::BIGINT,
        |  (SELECT found FROM fn)::BIGINT,
        |  (CASE WHEN (SELECT p FROM tr) = 0 THEN NULL
        |    ELSE ((SELECT found FROM fn) * 10000) // (SELECT p FROM tr)
        |    END)::BIGINT
        |ORDER BY scheme""".stripMargin,
    "q_elasticity" ->
      """WITH li AS (SELECT l_partkey,
        |    round(l_extendedprice * (1 - l_discount) * 100 / l_quantity)::BIGINT
        |      AS unit_cents,
        |    l_quantity::BIGINT AS qty
        |  FROM lineitem),
        |j AS (SELECT p_brand AS brand,
        |    round(ln(unit_cents::DOUBLE) * 1000000)::BIGINT AS x,
        |    round(ln(qty::DOUBLE) * 1000000)::BIGINT AS y
        |  FROM li JOIN part ON l_partkey = p_partkey
        |  WHERE unit_cents >= 1 AND qty >= 1),
        |m AS (SELECT brand, count(*)::BIGINT AS n,
        |    sum(x::HUGEINT) AS sx, sum(y::HUGEINT) AS sy,
        |    sum(x::HUGEINT * y) AS sxy, sum(x::HUGEINT * x) AS sxx
        |  FROM j GROUP BY brand)
        |SELECT brand, n,
        |  (CASE WHEN n::HUGEINT * sxx - sx * sx = 0 THEN NULL
        |    ELSE ((n::HUGEINT * sxy - sx * sy) * 1000000)
        |      // (n::HUGEINT * sxx - sx * sx) END)::BIGINT AS elasticity_micro
        |FROM m ORDER BY brand""".stripMargin,
    "q_basket_pairs" ->
      """WITH items AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk
        |  FROM lineitem),
        |t AS (SELECT count(DISTINCT ok)::BIGINT AS n FROM items),
        |cnt AS (SELECT pk, count(*)::BIGINT AS c FROM items GROUP BY pk),
        |pairs AS (SELECT a.pk AS pa, b.pk AS pb, count(*)::BIGINT AS c_ab
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT pa, pb, c_ab, ca.c AS c_a, cb.c AS c_b,
        |  (c_ab * 10000) // n AS support_bp,
        |  (c_ab * 10000) // ca.c AS conf_a_to_b_bp,
        |  ((n::HUGEINT * c_ab * 10000) // (ca.c::HUGEINT * cb.c))::BIGINT
        |    AS lift_bp
        |FROM pairs JOIN cnt ca ON pa = ca.pk JOIN cnt cb ON pb = cb.pk
        |CROSS JOIN t
        |ORDER BY lift_bp DESC, support_bp DESC, pa, pb LIMIT 20""".stripMargin,
    "q_salted_join" ->
      """SELECT p_brand, count(*) AS n_lines,
        |  sum(round(l_extendedprice * 100)::BIGINT)::BIGINT AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_window_ntile" ->
      """WITH d AS (SELECT o_orderpriority,
        |    ntile(4) OVER w AS quartile,
        |    percent_rank() OVER w AS pr,
        |    cume_dist() OVER w AS cd
        |  FROM orders
        |  WINDOW w AS (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice, o_orderkey))
        |SELECT o_orderpriority, quartile, count(*) AS n_orders,
        |  round(min(pr), 6) AS min_pctrank,
        |  round(max(cd), 6) AS max_cumedist
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_decile_lift" ->
      """WITH resp AS (SELECT DISTINCT o_custkey AS ck, 1::BIGINT AS y
        |  FROM orders WHERE o_orderpriority = '1-URGENT'),
        |cust AS (SELECT c_custkey AS ck,
        |    CAST(round(c_acctbal * 100) AS BIGINT) AS score,
        |    coalesce(y, 0)::BIGINT AS y
        |  FROM customer LEFT JOIN resp ON c_custkey = ck),
        |tot AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS resp FROM cust),
        |d AS (SELECT y, n, resp,
        |    ntile(10) OVER (ORDER BY score DESC, ck) AS decile
        |  FROM cust CROSS JOIN tot),
        |g AS (SELECT decile, n, resp, count(*)::BIGINT AS n_cust,
        |    sum(y)::BIGINT AS n_resp
        |  FROM d GROUP BY decile, n, resp)
        |SELECT decile, n_cust, n_resp,
        |  ((n_resp * 10000) // n_cust)::BIGINT AS rate_bp,
        |  (CASE WHEN resp = 0 THEN NULL
        |    ELSE (n_resp * n * 10000) // (n_cust * resp) END)::BIGINT AS lift_bp
        |FROM g ORDER BY decile""".stripMargin,
    "q_null_semantics" ->
      """WITH d AS (SELECT nullif(l_returnflag, 'N') AS k,
        |    CASE WHEN l_quantity > 25 THEN l_quantity END AS v
        |  FROM lineitem)
        |SELECT coalesce(k, '<null>') AS k, count(*) AS n_rows,
        |  count(v)::BIGINT AS n_nonnull_v,
        |  count(DISTINCT v)::BIGINT AS n_distinct_v,
        |  round(coalesce(sum(v), 0))::BIGINT AS sum_v,
        |  sum((k IS NOT DISTINCT FROM NULL)::INT)::BIGINT AS n_nullsafe_null_k,
        |  sum(CASE WHEN v NOT IN (1, 2, NULL) THEN 1 ELSE 0 END)::BIGINT
        |    AS n_notin_trap
        |FROM d GROUP BY k ORDER BY k""".stripMargin,
    "q_mutual_info" ->
      """WITH d AS (SELECT l_returnflag AS x,
        |    CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END::BIGINT AS y
        |  FROM lineitem),
        |cells AS (SELECT x, y, count(*)::BIGINT AS c_xy FROM d GROUP BY x, y),
        |mx AS (SELECT x, count(*)::BIGINT AS c_x FROM d GROUP BY x),
        |my AS (SELECT y, count(*)::BIGINT AS c_y FROM d GROUP BY y),
        |n AS (SELECT count(*)::BIGINT AS n FROM d),
        |p AS (SELECT x, y, c_xy, n.n,
        |    round(ln((c_xy * n.n)::DOUBLE / (c_x * c_y)::DOUBLE)
        |      * 1000000)::BIGINT AS pmi_micro
        |  FROM cells JOIN mx USING (x) JOIN my USING (y) CROSS JOIN n)
        |SELECT x, y, c_xy, pmi_micro,
        |  (CASE WHEN pmi_micro >= 0 THEN (c_xy * pmi_micro) // n
        |   ELSE -((c_xy * -pmi_micro) // n) END)::BIGINT AS mi_contrib_micro
        |FROM p ORDER BY x, y""".stripMargin,
    "q_woe_encode" ->
      """WITH c AS (SELECT l_returnflag AS cat,
        |    sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS p,
        |    sum(CASE WHEN l_quantity > 25 THEN 0 ELSE 1 END)::BIGINT AS n
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (SELECT sum(p)::BIGINT AS pt, sum(n)::BIGINT AS nt FROM c),
        |w AS (SELECT cat, p AS n_pos, n AS n_neg,
        |    (CASE WHEN p = 0 OR n = 0 THEN NULL
        |     ELSE round(ln((p * nt)::DOUBLE / (n * pt)::DOUBLE)
        |       * 1000000) END)::BIGINT AS woe_micro,
        |    (CASE WHEN pt = 0 THEN NULL
        |      ELSE (p * 1000000) // pt END)::BIGINT AS psm,
        |    (CASE WHEN nt = 0 THEN NULL
        |      ELSE (n * 1000000) // nt END)::BIGINT AS nsm
        |  FROM c CROSS JOIN t)
        |SELECT cat, n_pos, n_neg, woe_micro,
        |  (CASE WHEN woe_micro IS NULL THEN NULL
        |   ELSE greatest((psm - nsm) * woe_micro, 0) // 1000000
        |   END)::BIGINT AS iv_micro
        |FROM w ORDER BY cat""".stripMargin,
    "q_winsorize" ->
      """WITH v AS (
        |  SELECT l_returnflag,
        |    CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem
        |), bks AS (
        |  SELECT l_returnflag,
        |    CAST(round(quantile_cont(c, 0.05)) AS BIGINT) AS tlo,
        |    CAST(round(quantile_cont(c, 0.95)) AS BIGINT) AS thi
        |  FROM v GROUP BY l_returnflag
        |)
        |SELECT v.l_returnflag,
        |  max(tlo) AS tlo, max(thi) AS thi,
        |  sum(greatest(least(c, thi), tlo))::BIGINT AS win_sum_cents,
        |  count(CASE WHEN c < tlo THEN 1 END)::BIGINT AS n_lo,
        |  count(CASE WHEN c > thi THEN 1 END)::BIGINT AS n_hi,
        |  count(*)::BIGINT AS n
        |FROM v JOIN bks USING (l_returnflag)
        |GROUP BY v.l_returnflag ORDER BY v.l_returnflag""".stripMargin,
    "q_join_size" ->
      """WITH perkey AS (
        |  SELECT user_id, count(*)::BIGINT AS c FROM events GROUP BY user_id
        |)
        |SELECT count(*)::BIGINT AS n_keys, sum(c)::BIGINT AS n_rows,
        |  sum(c * c)::BIGINT AS selfjoin_pairs,
        |  max(c * c)::BIGINT AS top_key_pairs,
        |  ((max(c * c) * 10000) // sum(c * c))::BIGINT AS top_share_bp,
        |  (sum(c * c) // sum(c))::BIGINT AS blowup_x
        |FROM perkey""".stripMargin,
    "q_record_linkage" ->
      s"""WITH c AS MATERIALIZED (SELECT c_custkey AS id, c_nationkey AS blk,
         |    c_mktsegment AS seg,
         |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS balk,
         |    substring(c_name, -2, 2) AS sfx
         |  FROM customer),
         |pat AS MATERIALIZED (SELECT
         |    (a.seg = b.seg)::BIGINT AS seg_a,
         |    (a.balk = b.balk)::BIGINT AS bal_a,
         |    (a.sfx = b.sfx)::BIGINT AS sfx_a,
         |    count(*)::BIGINT AS n_pairs
         |  FROM c a JOIN c b ON a.blk = b.blk AND a.id < b.id
         |  GROUP BY 1, 2, 3),
         |tot AS (SELECT sum(n_pairs)::BIGINT AS np,
         |    sum(n_pairs * seg_a)::BIGINT AS na_seg,
         |    sum(n_pairs * bal_a)::BIGINT AS na_bal,
         |    sum(n_pairs * sfx_a)::BIGINT AS na_sfx
         |  FROM pat),
         |scored AS (SELECT seg_a, bal_a, sfx_a, n_pairs,
         |    CASE WHEN seg_a = 1 THEN ${fsAgreeW(FsMSeg, "na_seg")}
         |      ELSE ${fsDisagreeW(FsMSeg, "na_seg")} END AS w_seg,
         |    CASE WHEN bal_a = 1 THEN ${fsAgreeW(FsMBal, "na_bal")}
         |      ELSE ${fsDisagreeW(FsMBal, "na_bal")} END AS w_bal,
         |    CASE WHEN sfx_a = 1 THEN ${fsAgreeW(FsMSfx, "na_sfx")}
         |      ELSE ${fsDisagreeW(FsMSfx, "na_sfx")} END AS w_sfx
         |  FROM pat CROSS JOIN tot)
         |SELECT seg_a, bal_a, sfx_a, n_pairs, w_seg, w_bal, w_sfx,
         |  w_seg + w_bal + w_sfx AS score_micro,
         |  CASE WHEN w_seg + w_bal + w_sfx > 0 THEN 'match'
         |    ELSE 'non-match' END AS verdict
         |FROM scored
         |ORDER BY score_micro DESC NULLS LAST, seg_a, bal_a, sfx_a""".stripMargin,
    "q_sorted_neighborhood" ->
      s"""WITH ranked AS (
        |  SELECT p_partkey AS pk, p_name AS name,
        |    row_number() OVER (ORDER BY p_name, p_partkey) - 1 AS rk
        |  FROM part
        |)
        |SELECT DISTINCT a.pk AS a_key, b.pk AS b_key,
        |  levenshtein(a.name, b.name)::INT AS dist
        |FROM ranked a JOIN ranked b
        |  ON b.rk > a.rk AND b.rk <= a.rk + $SnWindow
        |WHERE levenshtein(a.name, b.name) <= $SnMaxDist
        |ORDER BY a_key, b_key""".stripMargin,
    "q_calibration" -> {
      val bks = (1 to 9).map(i =>
        s"quantile_cont(o_totalprice, ${i / 10.0}) AS q$i").mkString(", ")
      val cases = (9 to 1 by -1).map(i =>
        s"WHEN o_totalprice >= q$i THEN $i").mkString(" ")
      s"""WITH b AS (SELECT $bks FROM orders)
         |SELECT CASE $cases ELSE 0 END AS decile,
         |  count(*) AS n,
         |  sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
         |    AS n_pos,
         |  ((sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
         |    * 10000) // count(*))::BIGINT AS pos_rate_bp
         |FROM orders CROSS JOIN b
         |GROUP BY decile ORDER BY decile""".stripMargin
    },
    "q_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  coalesce(year(CAST(l_shipdate AS DATE)), -1)::INT AS ship_year,
        |  grouping(l_returnflag, l_linestatus,
        |    year(CAST(l_shipdate AS DATE)))::INT AS gid,
        |  count(*) AS n_rows,
        |  sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
        |FROM lineitem
        |GROUP BY GROUPING SETS (
        |  (l_returnflag, l_linestatus),
        |  (l_returnflag),
        |  (year(CAST(l_shipdate AS DATE))),
        |  ())
        |ORDER BY gid, flag, status, ship_year""".stripMargin,
    "q_incremental_agg" ->
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, count(*) AS n_orders, sum(cents)::BIGINT AS cents
        |FROM o GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    "q_auc" ->
      s"""WITH b AS (SELECT
         |    CAST(round(o_totalprice * 100) AS BIGINT) // $AucBucketCents AS s,
         |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
         |      AS np,
         |    (count(*) - sum(CASE WHEN o_orderpriority = '1-URGENT'
         |      THEN 1 ELSE 0 END))::BIGINT AS nn
         |  FROM orders GROUP BY 1),
         |w AS (SELECT s, np, nn,
         |    (sum(nn) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - nn)::BIGINT
         |      AS cumnn
         |  FROM b)
         |SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg,
         |  ((sum(np::HUGEINT * (2 * cumnn + nn)) * 1000000)
         |    // (2 * sum(np)::HUGEINT * sum(nn)))::BIGINT AS auc_micro
         |FROM w""".stripMargin,
    "q_value_migration" ->
      """WITH o AS (SELECT o_custkey AS ck, CAST(o_orderdate AS DATE) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        |  FROM orders),
        |mm AS (SELECT min(d) AS d0, max(d) AS d1 FROM o),
        |hv AS (SELECT ck,
        |    (d > d0 + ((date_diff('day', d0, d1) // 2)::INT * INTERVAL 1 DAY))::INT AS h,
        |    sum(cents)::BIGINT AS v
        |  FROM o CROSS JOIN mm GROUP BY 1, 2),
        |q AS (SELECT ck, h,
        |    ntile(4) OVER (PARTITION BY h ORDER BY v, ck) AS q FROM hv),
        |a AS (SELECT ck, q AS q0 FROM q WHERE h = 0),
        |b AS (SELECT ck, q AS q1 FROM q WHERE h = 1)
        |SELECT coalesce(q0, 0)::INT AS from_q, coalesce(q1, 0)::INT AS to_q,
        |  count(*)::BIGINT AS n_customers
        |FROM a FULL OUTER JOIN b USING (ck)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q_abc_class" ->
      """WITH bp AS (SELECT l_partkey AS pk,
        |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(cents)::BIGINT AS total FROM bp),
        |c AS (SELECT cents,
        |    (sum(cents) OVER (ORDER BY cents DESC, pk
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 10000)
        |      // total AS cum_bp
        |  FROM bp CROSS JOIN t),
        |k AS (SELECT cents,
        |    CASE WHEN cum_bp <= 8000 THEN 'A'
        |      WHEN cum_bp <= 9500 THEN 'B' ELSE 'C' END AS cls
        |  FROM c)
        |SELECT cls, count(*)::BIGINT AS n_parts,
        |  (sum(cents) * 10000 // total)::BIGINT AS revenue_share_bp,
        |  (sum(cents) // count(*))::BIGINT AS cents_per_part
        |FROM k CROSS JOIN t GROUP BY cls, total ORDER BY cls""".stripMargin,
    "q_kruskal_wallis" ->
      s"""WITH xs AS (SELECT c_mktsegment AS grp,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders JOIN customer ON o_custkey = c_custkey),
         |byvg AS (SELECT v, grp, count(*)::BIGINT AS c FROM xs GROUP BY 1, 2),
         |byv AS (SELECT v, count(*)::BIGINT AS t FROM xs GROUP BY v),
         |rk AS (SELECT v,
         |    2 * (sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1
         |      AS rank2,
         |    t::HUGEINT * t * t - t AS tie3
         |  FROM byv),
         |grps AS (SELECT grp, sum(c)::BIGINT AS n_g,
         |    sum(c::HUGEINT * rank2) AS r2
         |  FROM byvg JOIN rk USING (v) GROUP BY grp),
         |gg AS (SELECT grp, n_g, (r2 * r2) // (4 * n_g::HUGEINT) AS rr FROM grps),
         |tt AS (SELECT sum(tie3) AS tt FROM rk),
         |agg AS (SELECT count(*)::BIGINT AS k, sum(n_g)::BIGINT AS n,
         |    sum(rr) AS t1 FROM gg),
         |h AS (SELECT k, n,
         |    (12000000::HUGEINT * t1) // (n::HUGEINT * (n + 1))
         |      - 3000000::HUGEINT * (n + 1) AS h_raw,
         |    n::HUGEINT * n * n - n AS n3n, tt
         |  FROM agg CROSS JOIN tt)
         |SELECT k, n,
         |  (CASE WHEN n3n = tt THEN NULL
         |    ELSE (h_raw * n3n) // (n3n - tt) END)::BIGINT AS h_micro,
         |  k - 1 AS df,
         |  CASE WHEN n3n = tt THEN NULL
         |    WHEN k - 1 < 1 OR k - 1 > 30 THEN CAST(NULL AS STRING)
         |    WHEN (h_raw * n3n) // (n3n - tt)
         |      > ${DataQuality.chi2CritCase("k - 1")} THEN 'yes'
         |    ELSE 'no' END AS significant
         |FROM h""".stripMargin,
    "q_mann_whitney" ->
      s"""WITH xs AS (SELECT
         |    (CASE WHEN c_mktsegment = '$MwSegA' THEN 1 ELSE 0 END)::BIGINT AS g1,
         |    CAST(round(o_totalprice * 100) AS BIGINT) AS v
         |  FROM orders JOIN customer ON o_custkey = c_custkey
         |  WHERE c_mktsegment IN ('$MwSegA', '$MwSegB')),
         |byv AS (SELECT v, count(*)::BIGINT AS t, sum(g1)::BIGINT AS t1
         |  FROM xs GROUP BY v),
         |rk AS (SELECT t, t1,
         |    2 * (sum(t) OVER (ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1
         |      AS rank2,
         |    t::HUGEINT * t * t - t AS tie3
         |  FROM byv),
         |agg AS (SELECT sum(t)::BIGINT AS n, sum(t1)::BIGINT AS n1,
         |    sum(t1::HUGEINT * rank2) AS r1_2, sum(tie3) AS ties
         |  FROM rk),
         |uu AS (SELECT n, n1, n - n1 AS n2,
         |    r1_2 - n1::HUGEINT * (n1 + 1) AS u2, ties FROM agg)
         |SELECT n, n1, n2, (u2 // 2)::BIGINT AS u,
         |  (CASE WHEN n1 = 0 OR n2 = 0 THEN NULL ELSE
         |    (((u2 - n1::HUGEINT * n2) * (u2 - n1::HUGEINT * n2)
         |       // (n1::HUGEINT * n2))
         |     * 3000000 * n * (n - 1))
         |    // ((n::HUGEINT + 1) * n * (n - 1) - ties)
         |   END)::BIGINT AS z2_micro,
         |  CASE WHEN n1 = 0 OR n2 = 0 THEN NULL
         |    ELSE (((u2 - n1::HUGEINT * n2) * (u2 - n1::HUGEINT * n2)
         |       // (n1::HUGEINT * n2))
         |     * 3000000 * n * (n - 1))
         |    // ((n::HUGEINT + 1) * n * (n - 1) - ties) > 3841459 END
         |    AS significant
         |FROM uu""".stripMargin,
    "q_jaro_pairs" ->
      """SELECT a.p_partkey,
        |  round(jaro_similarity(a.p_name, b.p_name) * 1000000)::BIGINT
        |    AS jaro_micro,
        |  round(jaro_winkler_similarity(a.p_name, b.p_name) * 1000000)::BIGINT
        |    AS jw_micro
        |FROM part a JOIN part b ON b.p_partkey = a.p_partkey + 1
        |ORDER BY jw_micro DESC, jaro_micro DESC, a.p_partkey
        |LIMIT 20""".stripMargin,
    "q_isotonic" ->
      s"""WITH b AS (SELECT
         |    CAST(round(o_totalprice * 100) AS BIGINT) // $AucBucketCents AS s,
         |    count(*)::BIGINT AS n,
         |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
         |      AS p
         |  FROM orders GROUP BY 1),
         |pre AS (SELECT s, n, p,
         |    sum(n) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cn,
         |    sum(p) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cp
         |  FROM b),
         |rg AS (SELECT lo.s AS j, hi.s AS l,
         |    ((hi.cp - (lo.cp - lo.p)) * 10000) // (hi.cn - (lo.cn - lo.n)) AS m_bp
         |  FROM pre lo JOIN pre hi ON lo.s <= hi.s),
         |im AS (SELECT pre.s, pre.n, pre.p, rg.j, min(rg.m_bp) AS inner_min
         |  FROM pre JOIN rg ON rg.j <= pre.s AND pre.s <= rg.l
         |  GROUP BY pre.s, pre.n, pre.p, rg.j)
         |SELECT s, n, p, ((p * 10000) // n)::BIGINT AS rate_bp,
         |  max(inner_min)::BIGINT AS iso_bp
         |FROM im GROUP BY s, n, p ORDER BY s""".stripMargin,
    "q_gini" ->
      """WITH x AS (SELECT c_mktsegment AS seg,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents, o_orderkey
        |  FROM orders JOIN customer ON o_custkey = c_custkey),
        |r AS (SELECT seg, cents,
        |    row_number() OVER (PARTITION BY seg ORDER BY cents, o_orderkey)
        |      AS rk
        |  FROM x)
        |SELECT seg, count(*)::BIGINT AS n, sum(cents)::BIGINT AS sum_cents,
        |  (((2 * sum(rk::HUGEINT * cents) - (count(*)::HUGEINT + 1) * sum(cents))
        |    * 1000000) // (count(*)::HUGEINT * sum(cents)))::BIGINT AS gini_micro
        |FROM r GROUP BY seg ORDER BY seg""".stripMargin,
    "q_ks_stat" ->
      s"""WITH b AS (SELECT
         |    CAST(round(o_totalprice * 100) AS BIGINT) // $AucBucketCents AS s,
         |    sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)::BIGINT
         |      AS np,
         |    (count(*) - sum(CASE WHEN o_orderpriority = '1-URGENT'
         |      THEN 1 ELSE 0 END))::BIGINT AS nn
         |  FROM orders GROUP BY 1),
         |c AS (SELECT s,
         |    sum(np) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnp,
         |    sum(nn) OVER (ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cnn
         |  FROM b),
         |t AS (SELECT sum(np)::BIGINT AS n_pos, sum(nn)::BIGINT AS n_neg FROM b),
         |d AS (SELECT s,
         |    abs((cnp * 10000) // n_pos - (cnn * 10000) // n_neg) AS dev_bp
         |  FROM c CROSS JOIN t)
         |SELECT t.n_pos, t.n_neg, d.dev_bp::BIGINT AS ks_bp, d.s AS ks_at_s
         |FROM d CROSS JOIN t ORDER BY d.dev_bp DESC, d.s LIMIT 1""".stripMargin,
    "q_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_filter_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1995-06-01'
        |  AND l_quantity BETWEEN 10 AND 20 AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    "q_sort_multi" ->
      """SELECT l_returnflag, l_quantity, l_orderkey, l_linenumber FROM lineitem
        |ORDER BY l_returnflag DESC, l_quantity, l_orderkey, l_linenumber LIMIT 500""".stripMargin,
    "q_slice" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
        |ORDER BY l_orderkey, l_linenumber LIMIT 50 OFFSET 100""".stripMargin,
    "q_distinct" ->
      """SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_count_distinct" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(DISTINCT l_orderkey) AS n_orders FROM lineitem""".stripMargin,
    "q_star_join" ->
      """SELECT r_name, n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderpriority, count(*) AS n_orders FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |  WHERE l_orderkey = o_orderkey AND l_discount > 0.09)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_customers FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,
    "q_groupby_having" ->
      """SELECT l_partkey, count(*) AS n_lines, round(sum(l_quantity), 2) AS total_qty
        |FROM lineitem GROUP BY l_partkey HAVING count(*) > 25 ORDER BY l_partkey""".stripMargin,
    "q_window_rank" ->
      """SELECT o_orderpriority, rn, o_orderkey, totalprice FROM (
        |  SELECT o_orderpriority, o_orderkey, round(o_totalprice, 2) AS totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3 ORDER BY o_orderpriority, rn""".stripMargin,
    "q_window_running" ->
      """SELECT o_custkey,
        |  row_number() OVER w AS order_rank, o_orderkey,
        |  round(sum(o_totalprice) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_spend
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, order_rank""".stripMargin,
    "q_elementwise" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS charge,
        |  round(ln(l_extendedprice), 4) AS log_price,
        |  round(sqrt(l_quantity), 4) AS sqrt_qty,
        |  round(exp(l_discount), 4) AS exp_disc,
        |  round(pow(l_quantity, 2), 2) AS qty_sq,
        |  round(lgamma(l_quantity::DOUBLE), 4) AS gammaln_qty
        |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,
    "q_reduce_stats" ->
      """SELECT l_returnflag,
        |  round(min(l_quantity), 2) AS min_qty,
        |  round(max(l_quantity), 2) AS max_qty,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(avg(l_quantity), 4) AS mean_qty,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_price,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_quantiles" ->
      """SELECT
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        |FROM lineitem""".stripMargin,
    "q_corr_cov" ->
      """SELECT
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_qty_price,
        |  round(covar_samp(l_discount, l_tax), 8) AS cov_disc_tax
        |FROM lineitem""".stripMargin,
    "q_linreg_simple" ->
      """SELECT
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  regr_count(l_extendedprice, l_quantity) AS n
        |FROM lineitem""".stripMargin,
    "q_concat_rows" ->
      """SELECT band, count(*) AS n FROM (
        |  SELECT l_orderkey, l_linenumber, 'low' AS band FROM lineitem WHERE l_quantity < 10
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'high' AS band FROM lineitem WHERE l_quantity >= 40
        |) t GROUP BY band ORDER BY band""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)) / 1e6, 4) AS revenue_m
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q_sketches" ->
      """SELECT count(DISTINCT l_partkey) AS n_parts_exact, TRUE AS hll_ok,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  TRUE AS pa_ok
        |FROM lineitem""".stripMargin,
    "q_full_outer" ->
      """SELECT CASE WHEN c_custkey IS NULL THEN 'order_only'
        |    WHEN o_custkey IS NULL THEN 'customer_only'
        |    ELSE 'both' END AS side, count(*) AS n
        |FROM customer FULL OUTER JOIN orders ON c_custkey = o_custkey
        |GROUP BY side ORDER BY side""".stripMargin,
    "q_pivot" ->
      """SELECT l_returnflag,
        |  coalesce(round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2), 0) AS qty_f,
        |  coalesce(round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2), 0) AS qty_o
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_range_join" ->
      """WITH d AS (SELECT l_shipdate AS day, count(*) AS n_ship
        |  FROM lineitem GROUP BY 1)
        |SELECT o_orderpriority,
        |  count(DISTINCT o_orderkey) AS n_orders,
        |  count(*) AS n_pairs,
        |  sum(n_ship)::BIGINT AS n_shipments
        |FROM orders JOIN d
        |  ON d.day >= o_orderdate AND d.day < o_orderdate + INTERVAL 30 DAY
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_window_range" ->
      """SELECT o_orderkey, o_custkey, day,
        |  round(sum(o_totalprice) OVER w, 2) AS spend_30d,
        |  count(*) OVER w AS n_orders_30d
        |FROM (SELECT *, floor(epoch(o_orderdate) / 86400)::BIGINT AS day
        |      FROM orders) t
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day
        |  RANGE BETWEEN 29 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderkey""".stripMargin,
    "q_unpivot" ->
      """SELECT measure, count(*) AS n,
        |  round(sum(value), 2) AS sum_value,
        |  round(avg(value), 4) AS avg_value
        |FROM (
        |  SELECT 'quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT 'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT 'discount', l_discount FROM lineitem
        |) t GROUP BY measure ORDER BY measure""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n_rows,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice * (1 - l_discount)) / 1e6, 4) AS revenue_m
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY flag, status""".stripMargin,
    "q_set_ops" ->
      """SELECT 'hi_and_urgent' AS set_op, count(*) AS n FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        |  INTERSECT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t1
        |UNION ALL
        |SELECT 'hi_not_urgent', count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 250000
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT') t2
        |UNION ALL
        |SELECT 'urgent_not_hi', count(*) FROM (
        |  SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
        |  EXCEPT
        |  SELECT o_custkey FROM orders WHERE o_totalprice > 250000) t3
        |ORDER BY set_op""".stripMargin,
    "q_window_offset" ->
      """SELECT o_orderkey, o_custkey,
        |  coalesce(round(lag(o_totalprice) OVER w, 2), -1.0) AS prev_price,
        |  coalesce(round(lead(o_totalprice) OVER w, 2), -1.0) AS next_price,
        |  ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS price_quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    "q_cdc_merge" ->
      """WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |changes AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 7 = 0 THEN 'U' ELSE 'D' END AS op,
        |    round(o_totalprice * 1.1, 2) AS new_price
        |  FROM base WHERE o_orderkey % 7 < 2
        |  UNION ALL
        |  SELECT o_orderkey + (SELECT max(o_orderkey) + 1 FROM base), 'I', 100.0
        |  FROM base WHERE o_orderkey % 7 = 2),
        |merged AS (
        |  SELECT coalesce(b.o_orderstatus, 'NEW') AS status,
        |    CASE WHEN c.op IN ('U', 'I') THEN c.new_price
        |         ELSE b.o_totalprice END AS price,
        |    coalesce(c.op, '') AS op
        |  FROM base b FULL OUTER JOIN changes c ON b.o_orderkey = c.o_orderkey)
        |SELECT status, count(*) AS n_rows,
        |  round(sum(price) / 1e6, 4) AS total_m
        |FROM merged WHERE op <> 'D'
        |GROUP BY status ORDER BY status""".stripMargin,
    "q_fuzzy_join" ->
      """WITH names AS (SELECT p_name, count(*) AS cnt,
        |    list_extract(string_split(p_name, ' '), -1) AS blk
        |  FROM part GROUP BY p_name)
        |SELECT a.blk AS blk, count(*) AS n_name_pairs,
        |  sum(a.cnt * b.cnt)::BIGINT AS n_row_pairs,
        |  round(avg(levenshtein(a.p_name, b.p_name)), 4) AS avg_dist,
        |  min(levenshtein(a.p_name, b.p_name)) AS min_dist
        |FROM names a JOIN names b ON a.blk = b.blk AND a.p_name < b.p_name
        |WHERE levenshtein(a.p_name, b.p_name) <= 3
        |GROUP BY a.blk ORDER BY blk""".stripMargin,
    "q_bloom_semi" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  round(sum(o_totalprice), 2) AS sum_price
        |FROM orders
        |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_robust_stats" ->
      """WITH q AS (SELECT l_returnflag,
        |    quantile_cont(l_quantity, 0.25) AS p25,
        |    quantile_cont(l_quantity, 0.5) AS med,
        |    quantile_cont(l_quantity, 0.75) AS p75
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l.l_returnflag, abs(l.l_quantity - q.med) AS ad
        |  FROM lineitem l JOIN q USING (l_returnflag))
        |SELECT q.l_returnflag,
        |  round(q.med, 4) AS median_qty,
        |  round(quantile_cont(d.ad, 0.5), 4) AS mad_qty,
        |  round(q.p75 - q.p25, 4) AS iqr_qty
        |FROM d JOIN q USING (l_returnflag)
        |GROUP BY q.l_returnflag, q.med, q.p25, q.p75
        |ORDER BY q.l_returnflag""".stripMargin,
    "q_robust_outliers" ->
      """WITH q AS (SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.5) AS med
        |  FROM lineitem GROUP BY l_returnflag),
        |d AS (SELECT l.l_returnflag, abs(l.l_extendedprice - q.med) AS ad
        |  FROM lineitem l JOIN q USING (l_returnflag)),
        |m AS (SELECT l_returnflag, quantile_cont(ad, 0.5) AS mad
        |  FROM d GROUP BY l_returnflag)
        |SELECT d.l_returnflag, count(*) AS n,
        |  sum(CASE WHEN m.mad > 0 AND 0.6745 * d.ad / m.mad > 3.5
        |    THEN 1 ELSE 0 END)::BIGINT AS n_outliers,
        |  round(avg(CASE WHEN m.mad > 0 AND 0.6745 * d.ad / m.mad > 3.5
        |    THEN 1.0 ELSE 0.0 END), 6) AS outlier_rate
        |FROM d JOIN m USING (l_returnflag)
        |GROUP BY d.l_returnflag ORDER BY d.l_returnflag""".stripMargin,
    "q_profile_columns" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS col_name,
           |  sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct FROM orders""".stripMargin)
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "q_equidepth_hist" -> {
      val bks = (1 to 7).map(i =>
        s"quantile_cont(l_extendedprice, ${i / 8.0}) AS b$i").mkString(", ")
      val cases = (7 to 1 by -1).map(i =>
        s"WHEN l_extendedprice >= b$i THEN $i").mkString(" ")
      s"""WITH b AS (SELECT $bks FROM lineitem)
         |SELECT CASE $cases ELSE 0 END AS bucket,
         |  count(*) AS n,
         |  round(min(l_extendedprice), 2) AS lo,
         |  round(max(l_extendedprice), 2) AS hi
         |FROM lineitem CROSS JOIN b
         |GROUP BY bucket ORDER BY bucket""".stripMargin
    },
    "q_skyline" ->
      """WITH p AS (SELECT p_partkey,
        |    round(p_retailprice * 100)::BIGINT AS price_cents,
        |    p_size::BIGINT AS p_size
        |  FROM part)
        |SELECT p_partkey, price_cents, p_size FROM p a
        |WHERE NOT EXISTS (SELECT 1 FROM p b
        |  WHERE b.price_cents <= a.price_cents AND b.p_size <= a.p_size
        |    AND (b.price_cents < a.price_cents OR b.p_size < a.p_size))
        |ORDER BY p_partkey""".stripMargin,
    "q_skew_stats" ->
      """SELECT (length(bin(n)) - 1)::BIGINT AS bucket,
        |  count(*)::BIGINT AS n_keys, min(n)::BIGINT AS min_n,
        |  max(n)::BIGINT AS max_n, sum(n)::BIGINT AS rows_total
        |FROM (SELECT l_partkey, count(*) AS n FROM lineitem GROUP BY l_partkey)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,
    "q_freq_pairs" ->
      s"""WITH l AS (SELECT DISTINCT l_orderkey AS o, l_partkey::BIGINT AS p
         |    FROM lineitem),
         |nb AS (SELECT count(DISTINCT l_orderkey) AS n FROM lineitem),
         |item AS (SELECT p, count(*) AS c FROM l GROUP BY p),
         |pr AS (SELECT x.p AS a, y.p AS b, count(*) AS c_ab
         |  FROM l x JOIN l y ON x.o = y.o AND x.p < y.p
         |  GROUP BY x.p, y.p HAVING count(*) >= $FpMinSupport)
         |SELECT a, b, c_ab::BIGINT AS c_ab,
         |  ((c_ab * 1000000) // nb.n)::BIGINT AS support_micro,
         |  ((c_ab * 1000000) // ia.c)::BIGINT AS conf_a_b_micro,
         |  ((c_ab * 1000000) // ib.c)::BIGINT AS conf_b_a_micro
         |FROM pr JOIN item ia ON pr.a = ia.p JOIN item ib ON pr.b = ib.p
         |CROSS JOIN nb
         |ORDER BY c_ab DESC, a, b LIMIT $FpTopK""".stripMargin,
    "q_rfm_segments" ->
      """WITH c AS (SELECT o_custkey, max(o_orderdate) AS last_dt,
        |    count(*)::BIGINT AS f,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS m_cents
        |  FROM orders GROUP BY o_custkey),
        |a AS (SELECT max(o_orderdate) AS max_dt FROM orders),
        |r AS (SELECT o_custkey,
        |    date_diff('day', last_dt::DATE, max_dt::DATE)::BIGINT AS r_days,
        |    f, m_cents FROM c CROSS JOIN a),
        |b AS (SELECT
        |    floor(quantile_cont(r_days, 0.25))::BIGINT AS r1,
        |    floor(quantile_cont(r_days, 0.5))::BIGINT AS r2,
        |    floor(quantile_cont(r_days, 0.75))::BIGINT AS r3,
        |    floor(quantile_cont(f, 0.25))::BIGINT AS f1,
        |    floor(quantile_cont(f, 0.5))::BIGINT AS f2,
        |    floor(quantile_cont(f, 0.75))::BIGINT AS f3,
        |    floor(quantile_cont(m_cents, 0.25))::BIGINT AS m1,
        |    floor(quantile_cont(m_cents, 0.5))::BIGINT AS m2,
        |    floor(quantile_cont(m_cents, 0.75))::BIGINT AS m3
        |  FROM r)
        |SELECT
        |  5 - (1 + (r_days > r1)::INT + (r_days > r2)::INT + (r_days > r3)::INT)
        |    AS r_score,
        |  1 + (f > f1)::INT + (f > f2)::INT + (f > f3)::INT AS f_score,
        |  1 + (m_cents > m1)::INT + (m_cents > m2)::INT + (m_cents > m3)::INT
        |    AS m_score,
        |  count(*)::BIGINT AS n_customers
        |FROM r CROSS JOIN b
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "q_mix_shift" ->
      """WITH o AS (SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM o),
        |pv AS (SELECT d0 + (date_diff('day', d0, d1) // 2) * INTERVAL '1 day'
        |    AS cut_d FROM b),
        |seg AS (SELECT pri,
        |    coalesce(sum(CASE WHEN d < cut_d THEN cents END), 0)::BIGINT
        |      AS rev1_cents,
        |    coalesce(sum(CASE WHEN d >= cut_d THEN cents END), 0)::BIGINT
        |      AS rev2_cents
        |  FROM o CROSS JOIN pv GROUP BY pri),
        |t AS (SELECT sum(rev1_cents)::BIGINT AS t1, sum(rev2_cents)::BIGINT AS t2
        |  FROM seg)
        |SELECT pri, rev1_cents, rev2_cents,
        |  ((rev1_cents * 10000) // t1)::BIGINT AS share1_bp,
        |  ((rev2_cents * 10000) // t2)::BIGINT AS share2_bp,
        |  (((rev2_cents * 10000) // t2) - ((rev1_cents * 10000) // t1))::BIGINT
        |    AS mix_delta_bp,
        |  (CASE WHEN rev1_cents > 0
        |    THEN ((rev2_cents * 10000) // rev1_cents) - 10000 END)::BIGINT
        |    AS growth_bp
        |FROM seg CROSS JOIN t ORDER BY pri""".stripMargin
  )
}
