package graft.operators

import graft.GateUtil._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal/versioned-dimension operators: SCD type-2 history build and
  * time-series gap-fill with linear interpolation. Both are pure window
  * plans partitioned by the entity/series key — the shuffles are on the
  * key, never a global ordering, so they scale with executor count the
  * same way any keyed aggregation does. Complements the CDC merge
  * (Relational.cdcMerge) on the warehouse-maintenance surface.
  */
object Temporal {
  type Q = (SparkSession, String) => DataFrame

  /** SCD type-2 dimension build: replay each customer's orders as a
    * change stream of their priority attribute and emit versioned rows
    * with [valid_from, valid_to) intervals and an is-current flag. The
    * classic two-window pattern: (1) collapse consecutive no-change rows
    * (lag over the raw stream), (2) close each surviving version with
    * the next version's start (lead over the collapsed stream). Both
    * windows partition by the entity key — at 100 TB this is two
    * key-local sorts after one shuffle on o_custkey (Spark reuses the
    * partitioning between the two windows), no global sort anywhere. */
  def scdType2(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.orders(spark, dir)
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("d"),
        col("o_orderpriority").as("val"), col("o_orderkey"))
    val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    val collapsed = ev
      .withColumn("prev", lag("val", 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("val"))
    val versions = collapsed
      .withColumn("valid_to", lead("d", 1).over(w))
      .withColumnRenamed("d", "valid_from")
    versions.groupBy(col("val").as("priority"))
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("valid_to").isNull, 1L).otherwise(0L)).as("n_current"),
        round(avg(when(col("valid_to").isNotNull,
          datediff(col("valid_to"), col("valid_from")))), 4).as("avg_days"))
      .orderBy("priority")
  }

  /** Time-series gap-fill + linear interpolation: a sparse daily revenue
    * series per priority class (orders sampled by key so real gaps
    * exist) is completed over a per-series calendar spine
    * (sequence(min,max) exploded — no driver-side calendar), then every
    * missing day is linearly interpolated between its nearest observed
    * neighbors via ignoreNulls last/first window frames. Endpoint days
    * are observed by construction (the spine spans observed min..max),
    * the LOCF/NOCB guards stay for robustness. All four windows share
    * one partitioning on the series key; the interpolation itself is
    * arithmetic on codegen'd columns. The sample predicate and the
    * series key are the gate's pinned shape — real pipelines partition
    * by a high-cardinality series id. */
  def gapFillInterp(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .filter(col("o_orderkey") % 97 === 0)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      // round the observed value at the source: the interpolation inputs
      // must be identical across engines or low-bit double-summation
      // differences flip per-day roundings downstream
      .agg(round(sum("o_totalprice"), 2).as("rev"))
    val spine = daily.groupBy("pri")
      .agg(min("d").as("d0"), max("d").as("d1"))
      .select(col("pri"), explode(sequence(col("d0"), col("d1"))).as("d"))
    val j = spine.join(daily, Seq("pri", "d"), "left")
    val wp = Window.partitionBy("pri").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy("pri").orderBy("d")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsD = when(col("rev").isNotNull, col("d"))
    // Interpolate in integer-CENT space with floor(): linear midpoints of
    // cent values constantly land on exact half-cents, where double
    // rounding (DuckDB: scaled-double nearest; Spark: BigDecimal HALF_UP
    // on the binary expansion) systematically disagrees. Integer-valued
    // arithmetic + floor is bit-identical in any IEEE engine, and every
    // filled value is an exact cent — so the final round(2) of the sum
    // sits 0.005 from any boundary, far above fp summation dust.
    val pvc = round(col("pv") * 100).cast("long")
    val nvc = round(col("nv") * 100).cast("long")
    val interp = j
      .withColumn("pv", last("rev", ignoreNulls = true).over(wp))
      .withColumn("pd", last(obsD, ignoreNulls = true).over(wp))
      .withColumn("nv", first("rev", ignoreNulls = true).over(wf))
      .withColumn("nd", first(obsD, ignoreNulls = true).over(wf))
      .withColumn("filled", coalesce(col("rev"),
        when(col("nv").isNull, col("pv"))
          .when(col("pv").isNull, col("nv"))
          .otherwise((pvc + floor((nvc - pvc) * datediff(col("d"), col("pd")) /
            datediff(col("nd"), col("pd")))) / lit(100.0))))
    interp.groupBy("pri")
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("rev").isNotNull, 1L).otherwise(0L)).as("n_observed"),
        sum(when(col("rev").isNull, 1L).otherwise(0L)).as("n_filled"),
        round(sum("filled"), 2).as("sum_filled"),
        round(avg("filled"), 4).as("avg_filled"))
      .orderBy("pri")
  }

  val EwmaLags = 8

  /** Trailing-8-observation EWMA of daily revenue per priority with
    * dyadic weights (most recent 128 … oldest 1) — an exponential
    * smoother whose weights, inputs (summed integer cents), and output
    * (milli-cents, integer DIV by the sum of PRESENT weights) are all
    * integers, so the smoothed series is bit-identical in any engine:
    * no fp decay factor to drift across platforms.
    *
    * Scale: the 8 bounded lags all ride ONE exchange on the series key
    * (Catalyst collapses same-window lags into a single Window node),
    * after a partial+final daily rollup — the 100 TB cost is the daily
    * aggregation shuffle; the smoother itself is key-local. */
  def ewmaSmooth(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy("pri").orderBy("d")
    val lagged = (1 until EwmaLags).foldLeft(daily) { (df, j) =>
      df.withColumn(s"l$j", lag("cents", j).over(w))
    }
    def wt(j: Int): Long = 1L << (EwmaLags - 1 - j)
    def lcol(j: Int): Column = if (j == 0) col("cents") else col(s"l$j")
    val num = (0 until EwmaLags)
      .map(j => coalesce(lcol(j) * lit(wt(j)), lit(0L))).reduce(_ + _)
    val den = (0 until EwmaLags)
      .map(j => when(lcol(j).isNotNull, lit(wt(j))).otherwise(lit(0L)))
      .reduce(_ + _)
    lagged.withColumn("num", num).withColumn("den", den)
      .selectExpr("pri", "d", "cents", "(num * 1000) div den AS ewma_millicents")
      .orderBy("pri", "d")
  }

  /** CUSUM level-shift detection on daily event counts per type — the
    * classic one-sided cumulative sum S_t = max(0, S_{t-1} + (x_t − μ)),
    * computed WITHOUT recursion via the prefix-sum identity
    * S_t = P_t − min(0, min_{j≤t} P_j): a running sum and a running min
    * over the same key-ordered window. Deviations are in integer milli
    * units (μ is the per-type mean scaled by 1000 and floored), the
    * alarm fires when the accumulated excess passes 5 average days.
    *
    * Scale: the daily census is a partial+final agg; the per-type
    * baseline is a tiny broadcast; both windows share one exchange on
    * event_type — no recursion, no driver loop, no global sort. */
  def cusumShift(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(spark, dir)
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
    val base = daily.groupBy("et")
      .agg(sum("x").as("tx"), count(lit(1)).as("nd"))
      .selectExpr("et", "(tx * 1000) div nd AS mu_milli")
    val wc = Window.partitionBy("et").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(broadcast(base), "et")
      .withColumn("dev", col("x") * lit(1000L) - col("mu_milli"))
      .withColumn("p", sum("dev").over(wc))
      .withColumn("m", min("p").over(wc))
      .select(col("et"), col("d"), col("x"),
        (col("p") - least(lit(0L), col("m"))).as("cusum_milli"),
        when(col("p") - least(lit(0L), col("m")) > lit(5L) * col("mu_milli"), 1)
          .otherwise(0).as("alarm"))
      .orderBy("et", "d")
  }

  val BollWin = 7

  /** Bollinger-band breakouts — the ROLLING-baseline anomaly twin of
    * [[anomalyDow]] (that one baselines each weekday against its own
    * population; this one against the trailing [[BollWin]]-day window —
    * the quant-chart classic next to q_ohlc_bars/q_twap): a day breaks
    * out when it sits beyond 2σ of its own trailing window, tested via
    * the cross-multiplied ALL-INTEGER inequality
    * (w·x − Σx)² > 4·(w·Σx² − (Σx)²) — no fp mean/sqrt; score_bp grades
    * the excess. Only full windows test (warm-up days are silent).
    *
    * Scale: one daily rollup, two rolling sums over ONE day-ordered
    * window — the detection pass costs nothing beyond the rollup. */
  def bollingerBreakouts(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .selectExpr("d", s"cents DIV $AnomalyKUsdDiv AS x")
    val w = Window.orderBy("d").rowsBetween(-(BollWin - 1), 0)
    daily
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", sum("x").over(w))
      .withColumn("sxx", sum(col("x").cast("decimal(38,0)") * col("x")).over(w))
      .filter(col("n") === BollWin)
      .selectExpr("d", "x AS x_kusd",
        s"""CAST($BollWin AS DECIMAL(38,0)) * x - sx AS dev""",
        s"4 * (CAST($BollWin AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx) AS denom")
      .filter(expr("dev * dev > denom"))
      .selectExpr("d", "x_kusd",
        "CAST((dev * dev * 10000) DIV denom AS BIGINT) AS score_bp")
      .orderBy("d")
  }

  /** Maximum drawdown of the daily-revenue level — the canonical
    * downside-risk measure ([[bollingerBreakouts]]' companion on the
    * quant shelf): drawdown at t is (peak − x)·10⁴ DIV peak against the
    * RUNNING peak of the daily series; the gate reports the deepest
    * drawdown, its date (ties to the earliest), the peak it fell from,
    * and the trough value — all exact integers.
    *
    * Scale: one daily rollup and one unbounded-preceding window over
    * the bounded day grain; 1-row output. */
  def maxDrawdown(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val w = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dd = s.checkpoint(daily
      .withColumn("peak", max("cents").over(w))
      .selectExpr("d", "cents", "peak",
        "((peak - cents) * 10000) DIV peak AS dd_bp")) // day-grain; feeds the argmax and the census
    val top = dd.orderBy(desc("dd_bp"), asc("d")).limit(1)
      .selectExpr("dd_bp AS max_dd_bp", "d AS trough_date",
        "peak AS peak_cents", "cents AS trough_cents")
    top.crossJoin(broadcast(dd.agg(count(lit(1)).as("n_days"))))
  }

  /** Two-level Haar wavelet downsample of daily revenue — the classic
    * multi-resolution series compression (approx = trend at 2-day and
    * 4-day scale, detail = what reconstruction needs back): per level
    * approx = (a+b) DIV 2 and detail = (a−b) DIV 2 over rank-paired
    * days, truncating integer DIV in both engines, incomplete tail
    * pairs dropped (pinned). Level-2 runs on level-1's approximations.
    *
    * Scale: two pair-keyed partial+final rollups over the bounded day
    * grain — no window at all beyond the initial ranking. */
  def haarDownsample(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
    val l0 = daily
      .withColumn("rn", row_number().over(Window.orderBy("d")) - 1)
      .select(col("rn").cast("long").as("rn"), col("cents").as("v"))
    // each level feeds the output AND the next level
    def level(df: DataFrame): DataFrame =
      s.checkpoint(df.withColumn("p", expr("rn DIV 2"))
        .groupBy("p")
        .agg(count(lit(1)).as("c"),
          sum(when(expr("rn % 2 = 0"), col("v"))).as("a"),
          sum(when(expr("rn % 2 = 1"), col("v"))).as("b"))
        .filter(col("c") === 2)
        .selectExpr("p AS rn", "(a + b) DIV 2 AS v", "(a - b) DIV 2 AS det"))
    val l1 = level(l0)
    val l2 = level(l1.select("rn", "v"))
    l1.selectExpr("1 AS level", "rn AS idx", "v AS approx_cents",
        "det AS detail_cents")
      .unionAll(l2.selectExpr("2 AS level", "rn AS idx", "v AS approx_cents",
        "det AS detail_cents"))
      .orderBy("level", "idx")
  }

  /** One-way ANOVA of daily revenue by weekday — the PARAMETRIC
    * companion to the rank-based Kruskal–Wallis (and the significance
    * layer over [[seasonalityProfile]]'s descriptive indexes): effect
    * size η² = SS_between/SS_total in bp and the F statistic in micro,
    * both cross-multiplied from exact integer sums in
    * DECIMAL(38,0)/HUGEINT with the per-group (Σx_d)²·n DIV n_d
    * truncation PINNED. Degenerate zero variance pins NULL.
    *
    * Scale: one daily rollup, a 7-row weekday aggregate, 1-row output. */
  def anovaDow(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .selectExpr("d", s"cents DIV $AnomalyKUsdDiv AS x",
        "weekday(CAST(d AS DATE)) AS dow")
    val g = s.checkpoint(daily.groupBy("dow").agg(count(lit(1)).as("nd"), sum("x").as("sd")))
    val tot = daily.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
    g.agg(count(lit(1)).as("k"),
        // floor(sd²/nd) in DECIMAL via (s² − s² % nd)/nd — DIV would
        // funnel each term through LONG (silent overflow once daily
        // revenue pushes sd²/nd past 2⁶³; the oracle keeps HUGEINT)
        sum(expr(
          """(CAST(sd AS DECIMAL(38,0)) * sd
            | - CAST(sd AS DECIMAL(38,0)) * sd % nd) / nd""".stripMargin))
          .as("t"))
      .crossJoin(broadcast(tot))
      .selectExpr("k", "n",
        "CAST(n AS DECIMAL(38,0)) * CAST(t AS DECIMAL(38,0)) - CAST(sx AS DECIMAL(38,0)) * sx AS ssb_n",
        "CAST(n AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sx AS sst_n")
      .selectExpr("k", "n",
        """CAST(CASE WHEN sst_n = 0 THEN NULL
          | ELSE (ssb_n * 10000) DIV sst_n END AS BIGINT) AS eta2_bp""".stripMargin,
        """CAST(CASE WHEN sst_n = ssb_n OR sst_n = 0 THEN NULL
          | ELSE (ssb_n * (n - k) * 1000000)
          |   DIV ((sst_n - ssb_n) * (k - 1)) END AS BIGINT)
          | AS f_micro""".stripMargin)
  }

  /** Day-of-week seasonality profile: per priority segment, each
    * weekday's revenue index vs a uniform week (10000 bp = an average
    * day; integer DIV so the profile is engine-exact). Weekday numbering
    * is Monday = 0 in both engines (Spark `weekday`, DuckDB `isodow−1`).
    *
    * Scale: one partial+final rollup to ≤ |segments|·7 rows and a tiny
    * broadcast of per-segment totals — the classic one-scan profile. */
  def seasonalityProfile(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("pri"),
        expr("weekday(CAST(o_orderdate AS DATE))").as("dow"),
        round(col("o_totalprice") * 100).cast("long").as("c"))
      .groupBy("pri", "dow").agg(sum("c").as("cents"))
    val tot = agg.groupBy("pri").agg(sum("cents").as("tot"))
    agg.join(broadcast(tot), "pri")
      .selectExpr("pri", "dow", "cents",
        "(cents * 7 * 10000) div tot AS index_bp")
      .orderBy("pri", "dow")
  }

  val AcfMaxLag = 7

  /** Autocorrelation function of the daily revenue series at calendar
    * lags 1..[[AcfMaxLag]]: Pearson correlation of (xₜ, xₜ₊ℓ) pairs built
    * by a DATE-offset self-join (gap days simply contribute no pair —
    * the ACF is defined on calendar lag, not row lag). The daily inputs
    * are exact integer cents; the correlation itself follows the
    * q_corr_cov convention (round 6 absorbs low-bit summation-order
    * differences between engines).
    *
    * Scale: one partial+final daily rollup, then a self-join of the
    * ~series-length frame against itself fanned ×[[AcfMaxLag]] — at
    * 100 TB the rollup shuffle dominates and the ACF join is over a
    * days-sized table, so the plan costs one fact-scan regardless of
    * lag count. No window over a single partition anywhere. */
  def acfDaily(spark: SparkSession, dir: String): DataFrame =
    acfOf(Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  /** Core over any (d DATE, cents LONG) daily frame; see [[acfDaily]]. */
  private[graft] def acfOf(daily: DataFrame): DataFrame = {
    val lags = daily.sparkSession.range(1, AcfMaxLag + 1)
      .select(col("id").cast("int").as("lag_d"))
    daily.as("a").crossJoin(broadcast(lags))
      .join(daily.as("b"), col("b.d") === date_add(col("a.d"), col("lag_d")))
      .groupBy("lag_d")
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("a.cents").cast("double"), col("b.cents").cast("double")), 6)
          .as("acf"))
      .orderBy("lag_d")
  }

  /** Ljung–Box portmanteau test — turns [[acfDaily]]'s descriptive ACF
    * into a STATISTICAL "is this series autocorrelated at all?" verdict
    * (the standard residual-whiteness check after any of the forecast
    * family): Q = n(n+2)·Σ_{k=1..h} ρ_k²/(n−k) with h = [[AcfMaxLag]],
    * df = h, against the shared pinned χ² 95% table. ρ_k enters as the
    * ACF gate's round-6 value re-scaled to an exact micro integer, so
    * Q_micro = (n(n+2)·Σ(ρ_micro² DIV (n−k))) DIV 10⁶ is pure integer —
    * per-lag terms are order-free, no fp summation anywhere. Overflow
    * headroom: ρ_micro² ≤ 10¹², n(n+2)·Σ ≤ n²·h·10¹²/(n−h) ≈ n·h·10¹²
    * — Long-safe to ~10⁵ days (270 years of daily data).
    *
    * Scale: the ACF's days-sized self-join plus one ≤h-row reduction —
    * one fact scan total. */
  def ljungBox(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    ljungBoxOf(Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))
  }

  /** Core over any (d DATE, cents LONG) daily frame. */
  private[graft] def ljungBoxOf(daily0: DataFrame)(implicit s: Scope): DataFrame = {
    val daily = s.checkpoint(daily0) // feeds the ACF join AND n
    val nF = daily.agg(count(lit(1)).as("n"))
    acfOf(daily)
      .select(col("lag_d"),
        expr("CAST(round(acf * 1000000) AS BIGINT)").as("rho_micro"))
      .crossJoin(broadcast(nF))
      .selectExpr("n", "(rho_micro * rho_micro) DIV (n - lag_d) AS term")
      .groupBy("n").agg(count(lit(1)).as("h"), sum("term").as("s"))
      .selectExpr("n AS n_days", "h",
        "CAST((n * (n + 2) * s) DIV 1000000 AS BIGINT) AS q_micro")
      .selectExpr("n_days", "h", "q_micro",
        s"${DataQuality.chi2VerdictCase("q_micro", "h")} AS autocorrelated")
  }

  /** Croston's method — the intermittent-demand forecast (spare parts,
    * long-tail SKUs: the zero-inflated series where EWMA/Holt mislead
    * because gaps carry signal): per part, two coupled α=1/5 EWMAs over
    * DEMAND DAYS ONLY — demand size z_i = (q_i·10⁶ + 4z)/5 and
    * inter-demand interval p_i = (gap_i·10⁶ + 4p)/5 (first demand pins
    * z=q·10⁶, p=10⁶ — a documented convention, not an estimate) — and
    * the per-day demand-rate forecast z/p as (z·10⁶) DIV p. All integer
    * micro arithmetic with the truncating-idiv contract of
    * [[holtLinear]], so both engines replay the recurrence bit-exactly.
    *
    * Scale: one partial+final (part, day) rollup, then one fold per
    * part over its demand-day array — series are demand-days-sized,
    * never fact-sized, and parts fold in parallel (the holt posture);
    * output is one row per part. */
  def croston(spark: SparkSession, dir: String): DataFrame =
    crostonOf(Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"), to_date(col("l_shipdate")).as("d"))
      .agg(sum(round(col("l_quantity")).cast("long")).as("q")))

  /** Core over any (pk, d DATE, q LONG) demand-day frame. */
  private[graft] def crostonOf(daily: DataFrame): DataFrame = {
    def idiv(a: Column, den: Long): Column = (a / lit(den.toDouble)).cast("long")
    val stType = "STRUCT<d: DATE, z: BIGINT, p: BIGINT, n: BIGINT>"
    daily.groupBy("pk")
      .agg(array_sort(collect_list(struct(col("d"), col("q")))).as("ser"))
      .select(col("pk"), aggregate(col("ser"),
        expr(s"CAST(NULL AS $stType)"),
        (acc, x) => {
          val first = acc.isNull
          val qm = x.getField("q") * lit(1000000L)
          val gapM = datediff(x.getField("d"), acc.getField("d")).cast("long") *
            lit(1000000L)
          val z = when(first, qm)
            .otherwise(idiv(qm + lit(4L) * acc.getField("z"), 5L))
          val p = when(first, lit(1000000L))
            .otherwise(idiv(gapM + lit(4L) * acc.getField("p"), 5L))
          struct(x.getField("d").as("d"), z.as("z"), p.as("p"),
            (coalesce(acc.getField("n"), lit(0L)) + lit(1L)).as("n"))
        }).as("st"))
      .selectExpr("pk AS partkey", "st.n AS n_demand_days",
        "st.z AS z_micro", "st.p AS p_micro",
        "(st.z * 1000000) DIV st.p AS rate_micro")
      .orderBy("partkey")
  }

  /** Holt linear-trend (double exponential) smoothing of daily revenue
    * per priority — the level+trend upgrade of [[ewmaSmooth]] (which has
    * no trend state): l_t = α·x_t + (1−α)(l_{t−1}+b_{t−1}),
    * b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1} at α=1/5, β=1/10, ENTIRELY in
    * milli-unit integer arithmetic with truncating division (Spark DIV
    * and DuckDB // both truncate toward zero — verified — so the coupled
    * recurrence replays engine-bit-exactly even through negative trend
    * values; the idiv-by-double-cast below is exact while numerators sit
    * under 2^53, i.e. daily revenue to ~10^15 milli-cents). The fold
    * indexes the series by observation order (gap days are not
    * interpolated — q_gap_fill is that op).
    *
    * Scale: one partial+final daily rollup, then a per-key fold over the
    * collected series — key-local, array-sized by days-per-key, never a
    * corpus-sized window; the DuckDB oracle replays it as a recursive
    * CTE. */
  def holtLinear(spark: SparkSession, dir: String): DataFrame =
    holtOf(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  /** Core over any (pri, d DATE, cents LONG) daily frame.
    *
    * Contract (narrowed by the r15 typed rewrite, r15 ADVICE): `pri` is
    * cast to STRING on the way in (a non-string pri column comes back
    * as its string form), and a NULL d or cents row fails the job
    * instead of propagating null the way the old Column fold did —
    * callers must pre-aggregate to a dense, non-null daily grain (both
    * shipped callers do: groupBy over non-null source columns).
    *
    * r15 optimization (guide §1.2 — fix the per-task algorithm): the
    * previous Catalyst fold materialized its running output with
    * concat(acc, …), an O(n²) interpreted array copy per series (a
    * ~2.4k-day series re-copies ~3M structs per key). The identical
    * integer recurrence in a typed flatMapGroups is O(n) and JIT-run;
    * the per-key buffer stays days-sized (the collect_list bound the
    * fold already had). idiv preserved exactly: (a / den.toDouble)
    * .toLong truncates toward zero while |a| < 2^53 — the same
    * documented contract as the Column form it replaces. */
  private[graft] def holtOf(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    def idiv(a: Long, den: Long): Long = (a / den.toDouble).toLong
    daily.select(col("pri").cast("string"), col("d").cast("date"),
        col("cents").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (pri, it) =>
        // array_sort(struct(d, cents)) ordering: by date, then cents
        val ser = it.toArray.sortBy(r => (r._2.getTime, r._3))
        var l = 0L; var b = 0L; var first = true
        ser.iterator.map { case (_, d, cents) =>
          val xm = cents * 1000L
          if (first) { l = xm; b = 0L; first = false }
          else {
            val l1 = idiv(xm + 4L * (l + b), 5L)
            b = idiv(l1 - l + 9L * b, 10L)
            l = l1
          }
          (pri, d, cents, l, b, l + b)
        }
      }
      .toDF("pri", "d", "cents", "level_milli", "trend_milli",
        "forecast_milli")
      .orderBy("pri", "d")
  }

  val HwPeriod = 7

  /** Holt–Winters ADDITIVE seasonal smoothing (weekly period
    * [[HwPeriod]]) — the seasonal upgrade of [[holtLinear]]: coupled
    * level/trend/seasonal recurrences l_t = α(y−s_{t−m}) + (1−α)(l+b),
    * b_t = β(l−l′) + (1−β)b′, s_t = γ(y−l′−b′) + (1−γ)s_{t−m} at
    * α=γ=1/5, β=1/10, ENTIRELY in milli-unit integer arithmetic (same
    * truncating idiv contract as holt). The m-slot seasonal ring rides
    * the fold state as an array — the oracle carries the identical ring
    * as a recursive-CTE LIST column. Pinned init: first row anchors
    * l=y, b=0, ring of zeros (seasonals activate as real history
    * accumulates — a documented convention, not an estimate).
    * forecast_milli = l + b + the ring slot that applies to t+1.
    *
    * Scale: identical posture to holt — one daily partial+final rollup,
    * then one fold per series; series length is days-sized, never
    * fact-sized, and groups fold in parallel. */
  def holtWinters(spark: SparkSession, dir: String): DataFrame =
    holtWintersOf(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  /** Core over any (pri, d DATE, cents LONG) daily frame.
    *
    * Same r15 O(n²)→O(n) fold rewrite as [[holtOf]] (this one also
    * copied the m-slot seasonal ring into every accumulated element);
    * recurrence, init convention and idiv truncation identical — and
    * the same narrowed contract: pri is stringified, null d/cents rows
    * are a caller error (see [[holtOf]]). */
  private[graft] def holtWintersOf(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    import spark.implicits._
    def idiv(a: Long, den: Long): Long = (a / den.toDouble).toLong
    daily.select(col("pri").cast("string"), col("d").cast("date"),
        col("cents").cast("long"))
      .as[(String, java.sql.Date, Long)]
      .groupByKey(_._1)
      .flatMapGroups { (pri, it) =>
        val ser = it.toArray.sortBy(r => (r._2.getTime, r._3))
        val ring = new Array[Long](HwPeriod) // seasonal ring, zeros-init
        var l = 0L; var b = 0L; var first = true
        ser.iterator.map { case (_, d, cents) =>
          val xm = cents * 1000L
          var s = 0L
          if (first) { l = xm; b = 0L; first = false }
          else {
            val sm = ring(0) // the t−m seasonal
            val l1 = idiv(xm - sm + 4L * (l + b), 5L)
            val b1 = idiv(l1 - l + 9L * b, 10L)
            s = idiv(xm - l - b + 4L * sm, 5L)
            l = l1; b = b1
            System.arraycopy(ring, 1, ring, 0, HwPeriod - 1)
            ring(HwPeriod - 1) = s
          }
          // forecast reads the POST-update ring head (the slot that
          // applies to t+1), exactly as element_at(o.seas, 1) did
          (pri, d, cents, l, b, s, l + b + ring(0))
        }
      }
      .toDF("pri", "d", "cents", "level_milli", "trend_milli",
        "seasonal_milli", "forecast_milli")
      .orderBy("pri", "d")
  }

  val XcorrMaxLag = 7
  val XcorrLead = "click"
  val XcorrLag = "purchase"

  /** Lagged cross-correlation between two event-type daily series —
    * does [[XcorrLead]] volume on day t predict [[XcorrLag]] volume on
    * day t+ℓ? Pearson correlation of (lead_t, lag_{t+ℓ}) pairs for
    * ℓ ∈ [−[[XcorrMaxLag]], +[[XcorrMaxLag]]], built by a DATE-offset
    * join exactly like [[acfOf]] (gap days contribute no pair; negative
    * lags cover the reverse direction so the asymmetry itself is
    * evidence of lead/lag structure). Daily inputs are exact integer
    * counts; the correlation follows the q_corr_cov round-6 convention.
    *
    * Scale: two filtered partial+final daily rollups from one events
    * scan, then a days-sized self-join fanned ×(2·maxLag+1) — lag count
    * never touches the fact-scan cost. */
  def crossCorrDaily(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin(XcorrLead, XcorrLag))
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c"))
    crossCorrOf(ev.filter(col("et") === XcorrLead).select("d", "c"),
      ev.filter(col("et") === XcorrLag).select("d", "c"))
  }

  /** Core over two (d DATE, c LONG) daily frames; see [[crossCorrDaily]]. */
  private[graft] def crossCorrOf(lead: DataFrame, lagS: DataFrame): DataFrame = {
    val lags = lead.sparkSession.range(-XcorrMaxLag, XcorrMaxLag + 1)
      .select(col("id").cast("int").as("lag_d"))
    lead.as("a").crossJoin(broadcast(lags))
      .join(lagS.as("b"), col("b.d") === date_add(col("a.d"), col("lag_d")))
      .groupBy("lag_d")
      .agg(count(lit(1)).as("n_pairs"),
        round(corr(col("a.c").cast("double"), col("b.c").cast("double")), 6)
          .as("xcorr"))
      .orderBy("lag_d")
  }

  /** Mann–Kendall monotonic-trend test on daily event counts per type —
    * the nonparametric "is this metric actually trending?" companion to
    * [[holtLinear]] (which smooths) and [[cusumShift]] (which finds level
    * shifts): S = Σ_{i<j} sign(x_j − x_i), Var·18 = n(n−1)(2n+5) −
    * Σ_ties t(t−1)(2t+5), and the 95% two-sided verdict is the
    * cross-multiplied ALL-INTEGER inequality S²·45000 > 9604·Var18
    * (z > 1.96 ⟺ z² > 9604/2500, ×18 clears the /18) — no fp sqrt in
    * the decision, so trend membership is engine-exact (the q_ab_test
    * discipline; continuity correction deliberately omitted, noted
    * here). All-tied series → Var18 = 0 → NULL score, 'none'.
    *
    * Scale: the pair join is over the DAILY rollup — n is calendar days
    * per key, so the n²/2 pair fan-out is constant in corpus size
    * (S²·45000 stays under Long to n ≈ 5000 days ≈ 13 years); the only
    * corpus-sized stage is the daily partial+final agg. */
  def mannKendall(spark: SparkSession, dir: String): DataFrame =
    mannKendallOf(Tables.events(spark, dir)
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x")))

  /** Core over any (et, d DATE, x LONG) daily frame. */
  private[graft] def mannKendallOf(daily: DataFrame): DataFrame = {
    val s = daily.as("a")
      .join(daily.as("b"), col("a.et") === col("b.et") && col("a.d") < col("b.d"))
      .groupBy(col("a.et").as("et"))
      .agg(sum(when(col("b.x") > col("a.x"), 1L)
        .when(col("b.x") < col("a.x"), -1L).otherwise(0L)).as("s_stat"))
    val n = daily.groupBy("et").agg(count(lit(1)).as("n"))
    val ties = daily.groupBy("et", "x").agg(count(lit(1)).as("t"))
      .groupBy("et").agg(sum(expr("t * (t - 1) * (2 * t + 5)")).as("tie18"))
    n.join(s, "et").join(ties, "et")
      .selectExpr("et", "n AS n_days", "s_stat",
        "n * (n - 1) * (2 * n + 5) - tie18 AS var18")
      .selectExpr("et", "n_days", "s_stat", "var18",
        "(s_stat * s_stat * 45000) DIV nullif(var18, 0) AS score",
        """CASE WHEN s_stat * s_stat * 45000 > 9604 * var18
          |  THEN CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END
          |  ELSE 'none' END AS trend""".stripMargin)
      .orderBy("et")
  }

  /** Theil–Sen robust slope — the trend MAGNITUDE to [[mannKendall]]'s
    * significance (and the robust twin of least-squares: breakdown point
    * 29% vs 0): the lower median of all pairwise slopes
    * (x_j−x_i)·10⁶ DIV (d_j−d_i days), every step integer (truncating
    * division matches across engines for negative slopes too), median
    * selected as the ⌈n/2⌉-th order statistic — a VALUE from the data,
    * not an interpolated average, so the answer is engine-exact.
    *
    * Scale: identical pair posture to mannKendall — the n²/2 fan-out is
    * over the daily rollup (constant in corpus size) and the selection
    * window partitions by key, never a global sort. */
  def theilSen(spark: SparkSession, dir: String): DataFrame =
    theilSenOf(Tables.events(spark, dir)
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x")))

  /** Core over any (et, d DATE, x LONG) daily frame. */
  private[graft] def theilSenOf(daily: DataFrame): DataFrame = {
    val slopes = daily.as("a")
      .join(daily.as("b"), col("a.et") === col("b.et") && col("a.d") < col("b.d"))
      .select(col("a.et").as("et"),
        expr("(b.x - a.x) * 1000000 DIV datediff(b.d, a.d)").as("slope_micro"))
    val w = Window.partitionBy("et").orderBy("slope_micro")
    slopes
      .withColumn("rn", row_number().over(w))
      .withColumn("np", count(lit(1)).over(Window.partitionBy("et")))
      .filter(col("rn") === expr("(np + 1) DIV 2"))
      .select(col("et"), col("np").as("n_pairs"), col("slope_micro"))
      .orderBy("et")
  }

  /** Per-group OLS trend line — the classical least-squares companion to
    * [[theilSen]] (which is the robust one): slope = (nΣxy − ΣxΣy) /
    * (nΣx² − (Σx)²) over (day-index, daily cents), emitted in integer
    * micro-units via cross-multiplied DECIMAL(38,0) division (ΣxΣy
    * overflows Long at year-scale series, the q_anomaly_dow widening) —
    * no fp means, engine-exact. Day index = days since the group's first
    * day, so gaps weigh correctly and the intercept is the first-day
    * level.
    *
    * Scale: one daily partial+final rollup, then a 5-sums aggregate per
    * group — nothing beyond the rollup shuffle at any corpus size. */
  def olsTrend(spark: SparkSession, dir: String): DataFrame =
    olsTrendOf(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  /** Core over any (pri, d DATE, cents LONG) daily frame. */
  private[graft] def olsTrendOf(daily: DataFrame): DataFrame =
    daily
      .withColumn("d0", min("d").over(Window.partitionBy("pri")))
      .selectExpr("pri", "datediff(d, d0) AS x", "cents AS y")
      .groupBy("pri")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .selectExpr("pri", "n",
        """CAST(((CAST(n AS DECIMAL(38,0)) * sxy - CAST(sx AS DECIMAL(38,0)) * sy)
          |  * 1000000) DIV (CAST(n AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)
          |  AS slope_micro""".stripMargin,
        """CAST((CAST(sy AS DECIMAL(38,0)) * sxx - CAST(sx AS DECIMAL(38,0)) * sxy)
          |  DIV (CAST(n AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT)
          |  AS intercept_cents""".stripMargin)
      .orderBy("pri")

  val WfFolds = 3

  /** Walk-forward (rolling-origin) validation of the per-group OLS
    * trend — the time-series counterpart of KFold that KFold gets WRONG
    * for temporal data (random folds leak the future into training):
    * fold k trains on the first k/5 of each series' days and scores the
    * NEXT fifth, reporting the refit slope and the out-of-sample MAE.
    * Fit is [[olsTrendOf]]'s 5-sums closed form in DECIMAL(38,0);
    * predictions are integer (intercept + slope_micro·x DIV 10⁶), so
    * the error metric is an exact integer — the whole protocol
    * replays engine-bit-exact. Folds with under 2 train days or an
    * empty test window drop out deterministically.
    *
    * Scale: the fold dimension is a 3-row broadcast against the DAILY
    * rollup (never the fact table); per (group, fold) one partial+final
    * 5-sums agg and one test-window join — fold count never touches
    * the fact-scan cost. */
  def walkForward(spark: SparkSession, dir: String): DataFrame =
    walkForwardOf(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))

  /** Core over any (pri, d DATE, cents LONG) daily frame. */
  private[graft] def walkForwardOf(daily: DataFrame): DataFrame = {
    val spark = daily.sparkSession
    val idx = daily
      .withColumn("d0", min("d").over(Window.partitionBy("pri")))
      .selectExpr("pri", "datediff(d, d0) AS x", "cents AS y")
    val t = idx.groupBy("pri").agg((max("x") + 1).as("tdays"))
    val folds = spark.range(1, WfFolds + 1).select(col("id").as("fold"))
    val wf = idx.join(broadcast(t), "pri").crossJoin(broadcast(folds))
      .selectExpr("pri", "fold", "x", "y",
        "(tdays * fold) DIV 5 AS cutoff", "tdays DIV 5 AS h")
    val train = wf.filter(col("x") < col("cutoff"))
      .groupBy("pri", "fold")
      .agg(count(lit(1)).as("n_train"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .filter(col("n_train") >= 2)
      .selectExpr("pri", "fold", "n_train",
        """CAST(((CAST(n_train AS DECIMAL(38,0)) * sxy
          |  - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000)
          | DIV (CAST(n_train AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT) AS slope_micro""".stripMargin,
        """CAST((CAST(sy AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sxy)
          | DIV (CAST(n_train AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT) AS intercept_cents""".stripMargin)
    wf.filter(col("x") >= col("cutoff") && col("x") < col("cutoff") + col("h"))
      .join(train, Seq("pri", "fold"))
      .selectExpr("pri", "fold", "n_train", "slope_micro", "intercept_cents",
        "abs(y - (intercept_cents + (slope_micro * x) DIV 1000000)) AS ae")
      .groupBy("pri", "fold", "n_train", "slope_micro", "intercept_cents")
      .agg(count(lit(1)).as("n_test"),
        expr("sum(ae) DIV count(1)").as("mae_cents"))
      .selectExpr("pri", "fold", "n_train", "n_test", "slope_micro", "mae_cents")
      .orderBy("pri", "fold")
  }

  /** Seasonal decomposition (STL-lite) — trend / seasonal / residual
    * split of the per-priority daily revenue (the decomposition step
    * Holt–Winters FITS but never EXPOSES): trend = the 7-day centered
    * moving sum (only days with all 7 calendar neighbors — edges drop
    * visibly, never zero-filled), detrended = 7·y − trendsum kept in
    * exact ×7 integer cents (no division before the final rollup),
    * seasonal index per (priority, weekday) = mean detrended in
    * milli-cents, plus the share of detrended variance the weekday
    * means explain, in bp — the "is there real weekly seasonality"
    * number ((Σ_g n_g·mean_g²)·10⁴ DIV Σdev² with every term exact via
    * the ×n cross-multiplied form in DECIMAL(38,0)).
    *
    * Scale: one daily partial+final rollup; the centered window is a
    * calendar DATE-offset self-join fanned ×7 (the q_acf posture — a
    * days-sized join, no window over a coarse priority partition); the
    * census is |priorities|·7 rows. */
  def seasonalDecompose(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    seasonalDecomposeOf(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))
  }

  /** Core over any (pri, d DATE, cents LONG) daily frame. Note the
    * full-window filter makes the gate vacuous on series sparser than
    * 7 consecutive days (sf0.001's per-priority series) — both engines
    * agree on the empty result; sf0.01+ exercises the arithmetic. */
  private[graft] def seasonalDecomposeOf(daily0: DataFrame)(implicit s: Scope): DataFrame = {
    val spark2 = daily0.sparkSession
    import spark2.implicits._
    val daily = s.checkpoint(daily0)
    val offs = broadcast((-3 to 3).toDF("k"))
    val trend = daily.as("a").crossJoin(offs)
      .join(daily.as("b"),
        col("b.pri") === col("a.pri") &&
          col("b.d") === expr("date_add(a.d, k)"))
      .groupBy(col("a.pri").as("pri"), col("a.d").as("d"),
        col("a.cents").as("cents"))
      .agg(count(lit(1)).as("nw"), sum(col("b.cents")).as("trendsum"))
      .filter(col("nw") === 7) // full centered window only
      .selectExpr("pri", "d", "7 * cents - trendsum AS dev7")
    // feeds rows AND the per-pri variance share
    val byDow = s.checkpoint(trend
      .selectExpr("pri", "weekday(d) AS dow", "dev7")
      .groupBy("pri", "dow")
      .agg(count(lit(1)).as("n_days"), sum("dev7").as("sdev"),
        sum(expr("CAST(dev7 AS DECIMAL(38,0)) * dev7")).as("sdev2")))
    val share = byDow.groupBy("pri").agg(
        // floor(sdev²/n_days) entirely in DECIMAL via (s² − s² % n)/n —
        // Spark's DIV would funnel each term through LONG, which
        // silently overflows once sdev²/n_days passes 2⁶³ (≈ sf1+);
        // the subtraction makes the decimal division exact, so the
        // DECIMAL(38,6) result carries no fractional part
        sum(expr(
          """(CAST(sdev AS DECIMAL(38,0)) * sdev
            | - CAST(sdev AS DECIMAL(38,0)) * sdev % n_days) / n_days"""
            .stripMargin)).as("ssb"),
        sum("sdev2").as("sst"))
      .selectExpr("pri",
        """CAST(CASE WHEN sst = 0 THEN NULL
          |  ELSE (CAST(ssb AS DECIMAL(38,0)) * 10000) DIV sst END AS BIGINT)
          |  AS seasonal_share_bp""".stripMargin)
    byDow.join(broadcast(share), "pri")
      .selectExpr("pri", "dow", "n_days",
        "CAST((sdev * 1000) DIV (7 * n_days) AS BIGINT) AS seasonal_milli",
        "seasonal_share_bp")
      .orderBy("pri", "dow")
  }

  /** XmR (individuals + moving-range) control chart — the SPC process-
    * monitoring classic next to CUSUM/Bollinger (CUSUM detects small
    * persistent shifts; XmR flags INDIVIDUAL excursions against
    * Shewhart's ±2.66·mR̄ natural-process limits): daily revenue per
    * priority, moving range via the calendar lag-1 offset join, and the
    * violation test in fully cross-multiplied integer form —
    * |y − ȳ| > 2.66·mR̄ ⟺ 100·m·|n·y − Σy| > 266·n·ΣmR — every term
    * DECIMAL(38,0) (n·y·100·m reaches n²·y). Census per priority:
    * days, ranges, violations, and the worst excursion as a bp ratio of
    * the limit (a deterministic MAX of integers — no argmax tie risk).
    *
    * Scale: one daily rollup, one days-sized offset join, two bounded
    * broadcasts, a |priorities|-row census. */
  def xmrChart(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val daily = s.checkpoint(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))
    val stats = daily.groupBy("pri")
      .agg(count(lit(1)).as("n"), sum("cents").as("sy"))
    val mr = daily.as("a")
      .join(daily.as("b"),
        col("b.pri") === col("a.pri") && col("b.d") === date_add(col("a.d"), 1))
      .groupBy(col("a.pri").as("pri"))
      .agg(count(lit(1)).as("m"),
        sum(abs(col("b.cents") - col("a.cents"))).as("smr"))
    daily.join(broadcast(stats), "pri").join(broadcast(mr), "pri")
      .selectExpr("pri", "n", "m",
        "abs(CAST(n AS DECIMAL(38,0)) * cents - sy) AS dev",
        "CAST(smr AS DECIMAL(38,0)) AS smr")
      .selectExpr("pri", "n", "m",
        "CAST(100 * m * dev > 266 * smr * n AS INT) AS viol",
        """CAST(CASE WHEN smr = 0 THEN NULL
          |  ELSE (100 * m * dev * 10000) DIV (266 * smr * n)
          |  END AS BIGINT) AS ratio_bp""".stripMargin)
      .groupBy("pri")
      .agg(max("n").as("n_days"), max("m").as("n_ranges"),
        sum("viol").as("n_violations"), max("ratio_bp").as("worst_ratio_bp"))
      .orderBy("pri")
  }

  /** Forecast-accuracy metrics — MASE and sMAPE (the M-competition
    * standards the forecast family lacked; q_walk_forward CV emits raw
    * MAE, which is scale-dependent and incomparable across series) for
    * the pinned SEASONAL-NAIVE forecaster f_t = y_{t−7} per priority:
    * MASE = mean|y−f| over the mean in-sample naive-1 error
    * |y_t − y_{t−1}| as mase_milli = (Σae₇·n₁·10³) DIV (n₇·Σae₁) —
    * MASE < 1 beats the naive random walk; sMAPE per row as
    * (2|y−f|·10⁴) DIV (y+f) (revenues are positive, no zero-division
    * path), averaged by integer division. Both built from calendar
    * DATE-offset self-joins (gap days contribute no pair — the q_acf
    * convention), everything exact integers.
    *
    * Scale: one daily partial+final rollup, then two days-sized
    * self-joins and a |priorities|-row census. */
  def forecastAccuracy(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    forecastAccuracyOf(Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))
  }

  /** Core over any (pri, d DATE, cents LONG) daily frame. */
  private[graft] def forecastAccuracyOf(daily0: DataFrame)(implicit s: Scope): DataFrame = {
    val daily = s.checkpoint(daily0) // feeds both offset joins
    def offsetErr(lag: Int, aeName: String, nName: String) = daily.as("a")
      .join(daily.as("b"),
        col("b.pri") === col("a.pri") &&
          col("b.d") === date_add(col("a.d"), lag))
      .select(col("a.pri").as("pri"),
        abs(col("b.cents") - col("a.cents")).as("ae"),
        (col("b.cents") + col("a.cents")).as("den"))
      .groupBy("pri")
      .agg(count(lit(1)).as(nName), sum("ae").as(aeName),
        // per-term quotient ≤ 2·10⁴ (safe LONG), but the 2·ae·10⁴
        // PRODUCT wraps LONG once a day-pair's error passes ~$4.6·10¹²
        // — widen the numerator like the oracle's HUGEINT
        sum(expr("(2 * CAST(ae AS DECIMAL(38,0)) * 10000) DIV den"))
          .as(s"smape_sum_$lag"))
    val e7 = offsetErr(7, "sae7", "n7")
    val e1 = offsetErr(1, "sae1", "n1").select("pri", "n1", "sae1")
    e7.join(e1, "pri")
      .selectExpr("pri", "n7", "n1",
        """CAST(CASE WHEN sae1 = 0 THEN NULL
          |  ELSE (CAST(sae7 AS DECIMAL(38,0)) * n1 * 1000)
          |    DIV (CAST(n7 AS DECIMAL(38,0)) * sae1)
          |  END AS BIGINT) AS mase_milli""".stripMargin,
        "CAST(smape_sum_7 DIV n7 AS BIGINT) AS smape_bp")
      .orderBy("pri")
  }

  /** Year-over-year growth — the calendar-aligned BI classic (a naive
    * lag window breaks on gap days; YoY must join month m to month
    * m−12 BY CALENDAR): monthly revenue in exact cents, growth_bp =
    * ((rev − prev)·10⁴) DIV prev against the same month last year;
    * months without a prior-year twin emit NULL growth (visible, not
    * dropped). One rollup to the month grain + a month-key self-join —
    * the fan-out is the bounded month table, never fact-sized. */
  def yoyGrowth(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val monthly = s.checkpoint(Tables.orders(spark, dir)
      .groupBy(expr("date_trunc('month', CAST(o_orderdate AS DATE))")
        .cast("date").as("m"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents")))
    monthly.as("a")
      .join(monthly.as("b"), col("b.m") === add_months(col("a.m"), -12), "left")
      .selectExpr("a.m AS month", "a.cents AS rev_cents",
        "b.cents AS prev_year_cents",
        """CAST(CASE WHEN b.cents IS NULL OR b.cents = 0 THEN NULL
          |  ELSE ((a.cents - b.cents) * 10000) DIV b.cents
          |  END AS BIGINT) AS yoy_growth_bp""".stripMargin)
      .orderBy("month")
  }

  /** Order-fulfillment SLA per priority — the supply-chain latency
    * census: days from order date to the LAST line shipment, with
    * exact type-1 percentiles selected by rank (value at row
    * ⌈q·n⌉ under the total (days, orderkey) order — a value FROM the
    * data, engine-exact, the q_theil_sen selection discipline).
    *
    * Scale: one per-order rollup, then the per-priority rank rides
    * [[ScaleWindows.withBoundedGroupRank]] — ONE range-partitioned sort
    * over (pri, days, ok) plus broadcast per-priority start offsets
    * (the 5-row bounded group space) — never a row_number window
    * funneling the order grain through 5 sort partitions; the heavy
    * reduction still happens before the sort. */
  def fulfillmentSla(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val perOrder = s.checkpoint(Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey").as("ok")).agg(max("l_shipdate").as("last_ship"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"),
        col("o_orderdate"), col("o_orderpriority").as("pri")),
        col("ok") === col("o_orderkey"))
      .select(col("pri"), col("ok"),
        datediff(to_date(col("last_ship")), to_date(col("o_orderdate")))
          .cast("long").as("days"))) // feeds the rank pass AND the census
    val ranked = s.checkpoint(ScaleWindows.withBoundedGroupRank(perOrder, "pri",
        Seq(col("days"), col("ok")), "rn", "n")) // feeds both rank picks
    val census = ranked.groupBy("pri")
      .agg(count(lit(1)).as("n_orders"), min("days").as("min_days"),
        max("days").as("max_days"))
    def pick(q: Int, name: String) = ranked
      .filter(col("rn") === expr(s"CAST((n * $q + 99) DIV 100 AS BIGINT)"))
      .select(col("pri"), col("days").as(name))
    census
      .join(pick(50, "p50_days"), "pri")
      .join(pick(90, "p90_days"), "pri")
      .orderBy("pri")
  }

  val AnomalyKUsdDiv = 100000L

  /** Day-of-week-adjusted anomaly days: daily revenue in integer
    * kilodollars, baselined against its own weekday's population mean
    * and variance, flagged when it sits beyond 2σ. The 2σ test is the
    * cross-multiplied ALL-INTEGER inequality
    * (n·x − Σx)² > 4·(n·Σx² − (Σx)²) — no fp mean, no fp sqrt, so day
    * membership (the risky part of an anomaly gate) is engine-exact;
    * score_bp = 10⁴·(n·x−Σx)² DIV (4·(n·Σx²−(Σx)²)) grades how far past
    * the threshold (>10⁴ ⟺ anomalous).
    *
    * Scale: a daily partial+final rollup, a 7-row broadcast of weekday
    * stats, one codegen'd filter — the detection pass adds nothing to
    * the rollup cost. Complements q_cusum_shift (level shifts) and
    * q_seasonality (the profile this op deseasonalizes against). */
  def anomalyDow(spark: SparkSession, dir: String): DataFrame =
    anomalyDowOf(Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      .selectExpr("d", s"cents DIV $AnomalyKUsdDiv AS x"))

  /** Core over any (d DATE, x LONG) daily frame; see [[anomalyDow]]. */
  private[graft] def anomalyDowOf(dailyX: DataFrame): DataFrame = {
    val daily = dailyX.selectExpr("d", "x", "weekday(d) AS dow")
    val stats = daily.groupBy("dow")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("sxx"))
    // dev² and n·Σx² are quadratic in the revenue scale: the 2σ test
    // and the bp score run in DECIMAL(38,0) (ANSI Long would throw on
    // exactly the anomalous rows at large SF); membership stays an
    // exact-integer comparison
    daily.join(broadcast(stats), "dow")
      .withColumn("dev",
        col("n").cast("decimal(38,0)") * col("x") - col("sx"))
      .withColumn("v4", lit(4L) * (col("n").cast("decimal(38,0)") * col("sxx")
        - col("sx").cast("decimal(38,0)") * col("sx")))
      .filter(col("dev") * col("dev") > col("v4"))
      .select(col("d"), col("dow"), col("x").as("x_kusd"),
        expr("CAST((dev * dev * 10000) DIV v4 AS LONG)").as("score_bp"))
      .orderBy("d")
  }

  /** Burstiness census of the event stream: per event type, the Fano
    * factor (population variance-to-mean ratio) of daily arrival counts
    * in integer micro-units — 10⁶·(n·Σc²−(Σc)²) DIV (n·Σc) — plus the
    * peak-to-mean ratio in basis points. Fano ≈ 10⁶ is Poisson; above
    * is bursty, below is regular. All sums are exact integers.
    *
    * Scale: one partial+final (type, day) census then a types-sized
    * final aggregate — the canonical two-level rollup, map-side
    * combining on both levels. */
  def burstiness(spark: SparkSession, dir: String): DataFrame =
    burstinessOf(Tables.events(spark, dir)
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("c")))

  /** Core over any (et, d, c LONG) daily-count frame; see [[burstiness]]. */
  private[graft] def burstinessOf(daily: DataFrame): DataFrame =
    // n²·variance is quadratic in the count scale — c², total² and the
    // ×10⁶ term overflow Long (ANSI: throw) for heavy keys, so the
    // moment arithmetic runs in DECIMAL(38,0) (exact-integer twin of
    // DuckDB's HUGEINT); the bounded ratios come back to BIGINT
    daily.groupBy("et")
      .agg(count(lit(1)).as("n_days"), sum("c").as("total"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("scc"),
        max("c").as("peak"))
      .selectExpr("et", "n_days", "total",
        """CAST(((n_days * scc - CAST(total AS DECIMAL(38,0)) * total)
          |  * 1000000) DIV (CAST(n_days AS DECIMAL(38,0)) * total) AS LONG)
          |  AS fano_micro""".stripMargin,
        """CAST((CAST(peak AS DECIMAL(38,0)) * n_days * 10000)
          |  DIV CAST(total AS DECIMAL(38,0)) AS LONG) AS peak_bp""".stripMargin)
      .orderBy("et")

  /** Spearman rank correlation between daily revenue and daily order
    * count, exact through ties. Average ranks are carried doubled
    * (rank2 = 2·rank, always integral even for .5 averages), so the
    * whole Pearson-on-ranks pipeline stays in integer arithmetic:
    * sign(num) and rho² in micro units, where
    * num = n·Σxy − Σx·Σy over the doubled ranks. Ranking is a
    * value-grain aggregation + cumulative window + join back — the
    * same keyed-shuffle shape as the Kruskal–Wallis gate, so it holds
    * at any series length. Reference: de la Calle-style rank stats in
    * dislib are driver-side; here the ranks never leave the cluster. */
  def spearmanDaily(spark: SparkSession, dir: String): DataFrame =
    spearmanOf(Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v1"),
        count(lit(1)).as("v2")))

  /** Core over any (d, v1 LONG, v2 LONG) frame; see [[spearmanDaily]]. */
  private[graft] def spearmanOf(daily: DataFrame): DataFrame = {
    def rank2(col0: String): DataFrame = {
      val byV = daily.groupBy(col0).agg(count(lit(1)).as("t"))
      val w = Window.orderBy(col0)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byV.withColumn("cum", sum("t").over(w))
        .selectExpr(col0, s"2 * (cum - t) + t + 1 AS r2_$col0")
    }
    val ranked = daily.join(rank2("v1"), "v1").join(rank2("v2"), "v2")
      .selectExpr("CAST(r2_v1 AS DECIMAL(38,0)) AS x",
        "CAST(r2_v2 AS DECIMAL(38,0)) AS y")
    ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("x * y")).as("sxy"), sum(expr("x * x")).as("sxx"),
        sum(expr("y * y")).as("syy"))
      .selectExpr("CAST(n AS BIGINT) AS n",
        "CAST(n AS DECIMAL(38,0)) * sxy - sx * sy AS num",
        "CAST(n AS DECIMAL(38,0)) * sxx - sx * sx AS dx",
        "CAST(n AS DECIMAL(38,0)) * syy - sy * sy AS dy")
      .selectExpr("n",
        "CAST(sign(num) AS BIGINT) AS rho_sign",
        """CAST(CASE WHEN dx = 0 OR dy = 0 THEN NULL
          | ELSE (num * num * 1000000) DIV (dx * dy) END AS BIGINT)
          | AS rho2_micro""".stripMargin)
  }

  /** Kendall tau-b between the same two daily series, via an explicit
    * concordant/discordant pair census (i<j self-join on the date).
    * The join is a broadcast nested-loop over the *aggregated* daily
    * frame — O(days²) pairs, not O(rows²) — which is the standard
    * at-scale trick: reduce to the series grain first, then the
    * quadratic step is over thousands, not billions. All tie classes
    * are counted in the same pass; tau² is reported in micro units
    * with its sign, exactly rational. */
  def kendallDaily(spark: SparkSession, dir: String): DataFrame =
    kendallOf(Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("v1"),
        count(lit(1)).as("v2")))

  /** Core over any (d, v1 LONG, v2 LONG) frame; see [[kendallDaily]]. */
  private[graft] def kendallOf(daily: DataFrame): DataFrame = {
    val a = daily.selectExpr("d AS da", "v1 AS xa", "v2 AS ya")
    val b = daily.selectExpr("d AS db", "v1 AS xb", "v2 AS yb")
    a.join(broadcast(b), col("da") < col("db"))
      .selectExpr("CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END AS c",
        "CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END AS dd",
        "CASE WHEN xa = xb THEN 1 ELSE 0 END AS tx",
        "CASE WHEN ya = yb THEN 1 ELSE 0 END AS ty")
      .agg(count(lit(1)).as("n0"), sum("c").as("cc"), sum("dd").as("dc"),
        sum("tx").as("n1"), sum("ty").as("n2"))
      .selectExpr("n0", "cc", "dc", "n1", "n2",
        "CAST(sign(cc - dc) AS BIGINT) AS tau_sign",
        """CAST(CASE WHEN n0 = n1 OR n0 = n2 THEN NULL
          | ELSE (CAST(cc - dc AS DECIMAL(38,0)) * (cc - dc) * 1000000)
          |   DIV (CAST(n0 - n1 AS DECIMAL(38,0)) * (n0 - n2)) END AS BIGINT)
          | AS tau2_micro""".stripMargin)
  }

  val CpMinSeg = 4

  /** Binary-segmentation changepoint detection — the MULTI-changepoint
    * upgrade over [[cusumShift]]'s single drifting-mean alarm: the CUSUM
    * location statistic k* = argmax |n·S_k − k·S_n| (all-INTEGER — no
    * variance estimate, no doubles) finds the global split of the daily
    * revenue series, then recurses once into each side (segments
    * shorter than [[CpMinSeg]] days don't split). Scores are exact
    * BigInt comparisons with the smallest-k tie-break, so the oracle
    * replays them verbatim.
    *
    * Scale: the series is the DAY-GRAIN rollup (bounded by the horizon
    * at any corpus size) — the driver recursion is O(days), the KM
    * driver-fold class; the corpus cost is one partial+final rollup. */
  def changepoints(spark: SparkSession, dir: String): DataFrame = {
    val spark2 = spark
    import spark2.implicits._
    val daily = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("x"))
      .orderBy("d")
      .collect().map(r => (r.getDate(0), r.getLong(1))) // bounded: day grain
    binSeg(daily.map(_._2)).map { case (w, k, sc) =>
      (w, daily(k - 1)._1, k.toLong, sc.toLong)
    }.toDF("which", "cp_day", "k", "score").orderBy("which")
  }

  /** One-level binary segmentation over a series: ("global"/"left"/
    * "right", 1-based split index, exact CUSUM score). */
  private[graft] def binSeg(xs: Seq[Long]): Seq[(String, Int, BigInt)] = {
    val s = xs.scanLeft(BigInt(0))(_ + _).tail // prefix sums, 1-based
    def pre(i: Int): BigInt = if (i == 0) BigInt(0) else s(i - 1)
    // best split k in [lo..hi-1] of the 1-based segment [lo, hi]
    def cp(lo: Int, hi: Int): Option[(Int, BigInt)] = {
      val n = hi - lo + 1
      if (n < CpMinSeg) None
      else {
        val st = pre(hi) - pre(lo - 1)
        Some((lo until hi).map { k =>
          (k, (BigInt(n) * (pre(k) - pre(lo - 1)) - BigInt(k - lo + 1) * st).abs)
        }.minBy { case (k, sc) => (-sc, k) })
      }
    }
    val t = xs.length
    cp(1, t).toSeq.flatMap { case (k1, sc1) =>
      Seq(("global", k1, sc1)) ++
        cp(1, k1).map { case (k, sc) => ("left", k, sc) } ++
        cp(k1 + 1, t).map { case (k, sc) => ("right", k, sc) }
    }
  }

  val InfluenceTopK = 5

  /** Leave-one-out slope influence — the regression-diagnostics
    * companion to [[olsTrend]] (which days BEND the trend? Cook's-
    * distance question answered exactly): because the OLS slope is a
    * closed form of 5 sums, each day's leave-one-out slope costs O(1) —
    * subtract the day's terms from the broadcast totals and re-divide.
    * Slopes in integer micro (the olsTrend DECIMAL(38,0) discipline);
    * influence = slope_loo − slope_full; top-[[InfluenceTopK]] days by
    * (|influence| desc, day asc). Degenerate LOO variance drops the day
    * (visible in both engines).
    *
    * Scale: one daily partial+final rollup; the LOO pass is the
    * bounded day table against a 1-row broadcast of the full sums. */
  def slopeInfluence(spark: SparkSession, dir: String): DataFrame = {
    val roll = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
    val daily = roll.crossJoin(broadcast(roll.agg(min("d").as("d0"))))
      .selectExpr("d", "CAST(datediff(d, d0) AS BIGINT) AS x", "y")
    val tot = daily.agg(count(lit(1)).as("n"),
      sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
      sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
    def slope(n: String, sx: String, sy: String, sxx: String, sxy: String) =
      s"""CASE WHEN CAST($n AS DECIMAL(38,0)) * $sxx - $sx * $sx = 0 THEN NULL
         | ELSE ((CAST($n AS DECIMAL(38,0)) * $sxy - $sx * $sy) * 1000000)
         |   DIV (CAST($n AS DECIMAL(38,0)) * $sxx - $sx * $sx) END""".stripMargin
    daily.crossJoin(broadcast(tot))
      .selectExpr("d", "x", "y",
        s"CAST(${slope("n", "sx", "sy", "sxx", "sxy")} AS BIGINT) AS slope_full_micro",
        s"""CAST(${slope("(n - 1)",
          "(sx - x)", "(sy - y)",
          "(sxx - CAST(x AS DECIMAL(38,0)) * x)",
          "(sxy - CAST(x AS DECIMAL(38,0)) * y)")} AS BIGINT)
          | AS slope_loo_micro""".stripMargin)
      .filter(col("slope_loo_micro").isNotNull && col("slope_full_micro").isNotNull)
      .withColumn("influence_micro", col("slope_loo_micro") - col("slope_full_micro"))
      .orderBy(abs(col("influence_micro")).desc, col("d").asc)
      .limit(InfluenceTopK)
      .select("d", "x", "y", "slope_full_micro", "slope_loo_micro", "influence_micro")
  }

  /** Split-conformal prediction bands for the per-priority OLS trend —
    * the distribution-free interval the point forecast
    * ([[olsTrend]], [[walkForward]]) stops short of: fit on the first
    * 60% of each series' days, take the ⌈0.9·n⌉-th smallest absolute
    * calibration residual (type-1 selection, a VALUE from the data —
    * engine-exact) as the 90% band half-width on the middle 20%, then
    * MEASURE the band's empirical coverage on the held-out last 20%.
    * Predictions are integer (intercept + slope_micro·x DIV 10⁶ — the
    * walk-forward discipline), so residuals, the selected quantile, and
    * the coverage share are all exact integers.
    *
    * Scale: one daily rollup; the calibration rank is a per-priority
    * window over the bounded day grain; everything downstream is
    * 5-row-per-priority arithmetic. */
  def conformal(spark: SparkSession, dir: String): DataFrame = {
    val daily = Tables.orders(spark, dir)
      .groupBy(col("o_orderpriority").as("pri"), to_date(col("o_orderdate")).as("d"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
      .withColumn("d0", min("d").over(Window.partitionBy("pri")))
      .selectExpr("pri", "CAST(datediff(d, d0) AS BIGINT) AS x", "y")
    val t = daily.groupBy("pri").agg((max("x") + 1).as("tdays"))
      .selectExpr("pri", "(tdays * 3) DIV 5 AS cut1", "(tdays * 4) DIV 5 AS cut2")
    val staged = daily.join(broadcast(t), "pri")
    val fit = staged.filter(col("x") < col("cut1"))
      .groupBy("pri")
      .agg(count(lit(1)).as("n_train"), sum("x").as("sx"), sum("y").as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"))
      .filter(col("n_train") >= 2)
      .selectExpr("pri", "n_train",
        """CAST(((CAST(n_train AS DECIMAL(38,0)) * sxy
          |  - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000)
          | DIV (CAST(n_train AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT) AS slope_micro""".stripMargin,
        """CAST((CAST(sy AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sxy)
          | DIV (CAST(n_train AS DECIMAL(38,0)) * sxx
          |  - CAST(sx AS DECIMAL(38,0)) * sx) AS BIGINT) AS intercept_cents""".stripMargin)
    val scored = staged.join(fit, "pri")
      .selectExpr("pri", "x", "cut1", "cut2", "n_train", "slope_micro",
        "intercept_cents",
        "abs(y - (intercept_cents + (slope_micro * x) DIV 1000000)) AS ae")
    val wCal = Window.partitionBy("pri").orderBy(col("ae"), col("x"))
    val cal = scored.filter(col("x") >= col("cut1") && col("x") < col("cut2"))
      .withColumn("rk", row_number().over(wCal)) // bounded day grain
      .withColumn("n_cal", count(lit(1)).over(Window.partitionBy("pri")))
      .filter(col("rk") === expr("(9 * n_cal + 9) DIV 10"))
      .selectExpr("pri", "n_cal", "ae AS q90_resid_cents")
    scored.filter(col("x") >= col("cut2"))
      .join(cal, "pri")
      .groupBy("pri", "n_train", "n_cal", "slope_micro", "intercept_cents",
        "q90_resid_cents")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("ae") <= col("q90_resid_cents"), 1L).otherwise(0L))
          .as("n_covered"))
      .selectExpr("pri", "n_train", "n_cal", "n_test", "slope_micro",
        "intercept_cents", "q90_resid_cents",
        "(n_covered * 10000) DIV n_test AS coverage_bp")
      .orderBy("pri")
  }

  /** Overdispersion census — the count-data diagnostic to run BEFORE
    * any Poisson assumption (alerting thresholds, A/B count tests,
    * capacity models all break quietly when variance outruns the
    * mean): per event type the daily-count variance-to-mean ratio,
    * all-integer as vmr_micro = ((n·Σx² − S²)·10⁶) DIV ((n−1)·S), with
    * the verdict pinned at the Poisson point (≈1): 'poisson-ish'
    * within ±20%, 'overdispersed' above, 'underdispersed' below.
    * Degenerate series (S = 0 or n < 2) pin NULL.
    *
    * Scale: one (type, day) rollup + a type-grain 3-sums aggregate —
    * the olsTrend posture, never a window. */
  def overdispersion(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type").as("et"), to_date(col("ts")).as("d"))
      .agg(count(lit(1)).as("x"))
      .groupBy("et")
      .agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("s"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("s2"))
      .selectExpr("et", "n", "CAST(s AS BIGINT) AS total_events",
        """CAST(CASE WHEN n < 2 OR s = 0 THEN NULL
          | ELSE ((CAST(n AS DECIMAL(38,0)) * s2 - s * s) * 1000000)
          |   DIV (CAST(n - 1 AS DECIMAL(38,0)) * s) END AS BIGINT)
          | AS vmr_micro""".stripMargin)
      .withColumn("verdict",
        when(col("vmr_micro").isNull, lit(null).cast("string"))
          .when(col("vmr_micro") > 1200000L, "overdispersed")
          .when(col("vmr_micro") < 800000L, "underdispersed")
          .otherwise("poisson-ish"))
      .orderBy("et")

  val VrLags: Seq[Int] = Seq(2, 5, 10)

  /** Lo–MacKinlay variance-ratio test — the random-walk diagnostic
    * (is the daily revenue series trending, mean-reverting, or a
    * walk?): VR(k) = Var(k-day sums)/(k·Var(1-day)) over NON-OVERLAPPING
    * k-blocks, read against 1 (walk ≈ 1, trending > 1, mean-reverting
    * < 1). Everything all-integer: block sums are exact, both variances
    * enter as the cross-multiplied quotient
    * ((n_b·ΣB² − SB²)·n_1²·10⁶) DIV ((n_1·Σx² − S²)·k·n_b²) — wide
    * decimals throughout. Short series (under 4 blocks) pin NULL.
    *
    * Scale: one daily rollup; block assignment is integer DIV on the
    * bounded day index; per lag a 2-sums aggregate. Decimal headroom:
    * the cross-multiplied numerator is O(nb·B²·n1²·10⁶) ≈ 10³⁵ at
    * ~10⁹-cents days over a 7-year horizon — inside DECIMAL(38,0); at
    * ~10¹²-cents days apply the q_mann_whitney two-step split before
    * trusting the quotient. */
  def varianceRatio(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val spark2 = spark
    import spark2.implicits._
    val roll = Tables.orders(spark, dir)
      .groupBy(to_date(col("o_orderdate")).as("d"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("y"))
    // feeds the base variance and every lag
    val daily = s.checkpoint(roll.crossJoin(broadcast(roll.agg(min("d").as("d0"))))
      .selectExpr("CAST(datediff(d, d0) AS BIGINT) AS x", "y"))
    val base = daily.agg(count(lit(1)).as("n1"),
      sum(expr("CAST(y AS DECIMAL(38,0))")).as("s1"),
      sum(expr("CAST(y AS DECIMAL(38,0)) * y")).as("s21"))
    val perLag = VrLags.map { k =>
      daily.selectExpr(s"x DIV $k AS blk", "y")
        .groupBy("blk").agg(sum("y").as("b"), count(lit(1)).as("bn"))
        .filter(col("bn") === k.toLong) // complete blocks only
        .agg(count(lit(1)).as("nb"),
          sum(expr("CAST(b AS DECIMAL(38,0))")).as("sb"),
          sum(expr("CAST(b AS DECIMAL(38,0)) * b")).as("s2b"))
        .crossJoin(broadcast(base))
        .selectExpr(s"$k AS k", "CAST(nb AS BIGINT) AS n_blocks",
          s"""CAST(CASE WHEN nb < 4
             |  OR CAST(n1 AS DECIMAL(38,0)) * s21 - s1 * s1 = 0 THEN NULL
             | ELSE ((CAST(nb AS DECIMAL(38,0)) * s2b - sb * sb)
             |     * n1 * n1 * 1000000)
             |   DIV ((CAST(n1 AS DECIMAL(38,0)) * s21 - s1 * s1)
             |     * $k * nb * nb)
             | END AS BIGINT) AS vr_micro""".stripMargin)
    }
    perLag.reduce(_ unionAll _)
      .withColumn("reading",
        when(col("vr_micro").isNull, lit(null).cast("string"))
          .when(col("vr_micro") > 1200000L, "trending")
          .when(col("vr_micro") < 800000L, "mean-reverting")
          .otherwise("random-walk"))
      .orderBy("k")
  }

  val queries: Map[String, Q] = Map(
    "q_variance_ratio" -> (varianceRatio _),
    "q_overdispersion" -> (overdispersion _),
    "q_conformal" -> (conformal _),
    "q_influence" -> (slopeInfluence _),
    "q_changepoints" -> (changepoints _),
    "q_spearman" -> (spearmanDaily _),
    "q_kendall_tau" -> (kendallDaily _),
    "q_scd2" -> (scdType2 _),
    "q_gap_fill" -> (gapFillInterp _),
    "q_ewma_smooth" -> (ewmaSmooth _),
    "q_cusum_shift" -> (cusumShift _),
    "q_seasonality" -> (seasonalityProfile _),
    "q_acf" -> (acfDaily _),
    "q_ljung_box" -> (ljungBox _),
    "q_croston" -> (croston _),
    "q_forecast_accuracy" -> (forecastAccuracy _),
    "q_yoy_growth" -> (yoyGrowth _),
    "q_seasonal_decompose" -> (seasonalDecompose _),
    "q_xmr_chart" -> (xmrChart _),
    "q_cross_corr" -> (crossCorrDaily _),
    "q_holt_linear" -> (holtLinear _),
    "q_holt_winters" -> (holtWinters _),
    "q_walk_forward" -> (walkForward _),
    "q_fulfillment_sla" -> (fulfillmentSla _),
    "q_bollinger" -> (bollingerBreakouts _),
    "q_drawdown" -> (maxDrawdown _),
    "q_haar" -> (haarDownsample _),
    "q_anova_dow" -> (anovaDow _),
    "q_mann_kendall" -> (mannKendall _),
    "q_theil_sen" -> (theilSen _),
    "q_ols_trend" -> (olsTrend _),
    "q_anomaly_dow" -> (anomalyDow _),
    "q_burstiness" -> (burstiness _)
  )

  val oracles: Map[String, String] = Map(
    "q_spearman" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS v1,
        |    count(*)::BIGINT AS v2
        |  FROM orders GROUP BY 1),
        |r1 AS (SELECT v1, 2 * (sum(t) OVER (ORDER BY v1
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1
        |      AS rx
        |  FROM (SELECT v1, count(*)::BIGINT AS t FROM daily GROUP BY v1)),
        |r2 AS (SELECT v2, 2 * (sum(t) OVER (ORDER BY v2
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - t) + t + 1
        |      AS ry
        |  FROM (SELECT v2, count(*)::BIGINT AS t FROM daily GROUP BY v2)),
        |rk AS (SELECT rx::HUGEINT AS x, ry::HUGEINT AS y
        |  FROM daily JOIN r1 USING (v1) JOIN r2 USING (v2)),
        |m AS (SELECT count(*)::BIGINT AS n, sum(x) AS sx, sum(y) AS sy,
        |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy FROM rk),
        |s AS (SELECT n, n::HUGEINT * sxy - sx * sy AS num,
        |    n::HUGEINT * sxx - sx * sx AS dx,
        |    n::HUGEINT * syy - sy * sy AS dy FROM m)
        |SELECT n, sign(num)::BIGINT AS rho_sign,
        |  (CASE WHEN dx = 0 OR dy = 0 THEN NULL
        |    ELSE (num * num * 1000000) // (dx * dy) END)::BIGINT
        |    AS rho2_micro
        |FROM s""".stripMargin,
    "q_kendall_tau" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS v1,
        |    count(*)::BIGINT AS v2
        |  FROM orders GROUP BY 1),
        |p AS (SELECT
        |    CASE WHEN (a.v1 - b.v1) * (a.v2 - b.v2) > 0 THEN 1 ELSE 0 END AS c,
        |    CASE WHEN (a.v1 - b.v1) * (a.v2 - b.v2) < 0 THEN 1 ELSE 0 END AS dd,
        |    CASE WHEN a.v1 = b.v1 THEN 1 ELSE 0 END AS tx,
        |    CASE WHEN a.v2 = b.v2 THEN 1 ELSE 0 END AS ty
        |  FROM daily a JOIN daily b ON a.d < b.d),
        |agg AS (SELECT count(*)::BIGINT AS n0, sum(c)::BIGINT AS cc,
        |    sum(dd)::BIGINT AS dc, sum(tx)::BIGINT AS n1,
        |    sum(ty)::BIGINT AS n2 FROM p)
        |SELECT n0, cc, dc, n1, n2, sign(cc - dc)::BIGINT AS tau_sign,
        |  (CASE WHEN n0 = n1 OR n0 = n2 THEN NULL
        |    ELSE ((cc - dc)::HUGEINT * (cc - dc) * 1000000)
        |      // ((n0 - n1)::HUGEINT * (n0 - n2)) END)::BIGINT AS tau2_micro
        |FROM agg""".stripMargin,
    "q_scd2" ->
      """WITH ev AS (
        |  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    o_orderpriority AS val, o_orderkey
        |  FROM orders),
        |collapsed AS (
        |  SELECT o_custkey, d, val, o_orderkey,
        |    lag(val) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS prev
        |  FROM ev),
        |versions AS (
        |  SELECT o_custkey, d AS valid_from, val,
        |    lead(d) OVER (PARTITION BY o_custkey ORDER BY d, o_orderkey) AS valid_to
        |  FROM collapsed WHERE prev IS NULL OR prev <> val)
        |SELECT val AS priority, count(*) AS n_versions,
        |  sum(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_current,
        |  round(avg(CASE WHEN valid_to IS NOT NULL
        |    THEN date_diff('day', valid_from, valid_to) END), 4) AS avg_days
        |FROM versions GROUP BY val ORDER BY priority""".stripMargin,
    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
        |    round(sum(o_totalprice), 2) AS rev
        |  FROM orders WHERE o_orderkey % 97 = 0 GROUP BY 1, 2),
        |spine AS (
        |  SELECT pri, CAST(unnest(generate_series(CAST(min(d) AS TIMESTAMP),
        |    CAST(max(d) AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS d
        |  FROM daily GROUP BY pri),
        |j AS (
        |  SELECT s.pri, s.d, daily.rev
        |  FROM spine s LEFT JOIN daily ON s.pri = daily.pri AND s.d = daily.d),
        |interp AS (
        |  SELECT pri, d, rev,
        |    last_value(rev IGNORE NULLS) OVER wp AS pv,
        |    last_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS) OVER wp AS pd,
        |    first_value(rev IGNORE NULLS) OVER wf AS nv,
        |    first_value(CASE WHEN rev IS NOT NULL THEN d END IGNORE NULLS) OVER wf AS nd
        |  FROM j WINDOW
        |    wp AS (PARTITION BY pri ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    wf AS (PARTITION BY pri ORDER BY d
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
        |filled AS (
        |  SELECT pri, rev,
        |    coalesce(rev, CASE
        |      WHEN nv IS NULL THEN pv
        |      WHEN pv IS NULL THEN nv
        |      ELSE (CAST(round(pv * 100) AS BIGINT)
        |        + CAST(floor((CAST(round(nv * 100) AS BIGINT)
        |            - CAST(round(pv * 100) AS BIGINT))
        |          * date_diff('day', pd, d) * 1.0
        |          / date_diff('day', pd, nd)) AS BIGINT)) / 100.0 END) AS filled
        |  FROM interp)
        |SELECT pri, count(*) AS n_days,
        |  sum(CASE WHEN rev IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_observed,
        |  sum(CASE WHEN rev IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_filled,
        |  round(sum(filled), 2) AS sum_filled,
        |  round(avg(filled), 4) AS avg_filled
        |FROM filled GROUP BY pri ORDER BY pri""".stripMargin,
    "q_ewma_smooth" -> {
      def c(j: Int) = if (j == 0) "cents" else s"l$j"
      def wt(j: Int) = 1L << (EwmaLags - 1 - j)
      val lags = (1 until EwmaLags)
        .map(j => s"lag(cents, $j) OVER w AS l$j").mkString(",\n  ")
      val num = (0 until EwmaLags)
        .map(j => s"coalesce(${c(j)} * ${wt(j)}, 0)").mkString(" + ")
      val den = (0 until EwmaLags)
        .map(j => s"CASE WHEN ${c(j)} IS NOT NULL THEN ${wt(j)} ELSE 0 END")
        .mkString(" + ")
      s"""WITH daily AS (SELECT o_orderpriority AS pri,
         |    CAST(o_orderdate AS DATE) AS d,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
         |  FROM orders GROUP BY 1, 2),
         |l AS (SELECT pri, d, cents, $lags
         |  FROM daily WINDOW w AS (PARTITION BY pri ORDER BY d))
         |SELECT pri, d, cents,
         |  ((($num) * 1000) // ($den))::BIGINT AS ewma_millicents
         |FROM l ORDER BY pri, d""".stripMargin
    },
    "q_variance_ratio" -> {
      val lags = VrLags.map { k =>
        s"""SELECT $k AS k, nb::BIGINT AS n_blocks,
           |  (CASE WHEN nb < 4 OR n1 * s21 - s1 * s1 = 0 THEN NULL
           |    ELSE ((nb * s2b - sb * sb) * n1 * n1 * 1000000)
           |      // ((n1 * s21 - s1 * s1) * $k * nb * nb) END)::BIGINT
           |    AS vr_micro
           |FROM (SELECT count(*)::HUGEINT AS nb, sum(b)::HUGEINT AS sb,
           |    sum(b::HUGEINT * b) AS s2b
           |  FROM (SELECT x // $k AS blk, sum(y)::BIGINT AS b,
           |      count(*)::BIGINT AS bn FROM daily GROUP BY 1)
           |  WHERE bn = $k) CROSS JOIN base""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH roll AS (SELECT o_orderdate::DATE AS d,
         |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
         |  FROM orders GROUP BY 1),
         |daily AS (SELECT (d - (SELECT min(d) FROM roll))::BIGINT AS x, y
         |  FROM roll),
         |base AS (SELECT count(*)::HUGEINT AS n1, sum(y)::HUGEINT AS s1,
         |    sum(y::HUGEINT * y) AS s21 FROM daily)
         |SELECT k, n_blocks, vr_micro,
         |  CASE WHEN vr_micro IS NULL THEN NULL
         |    WHEN vr_micro > 1200000 THEN 'trending'
         |    WHEN vr_micro < 800000 THEN 'mean-reverting'
         |    ELSE 'random-walk' END AS reading
         |FROM ($lags) ORDER BY k""".stripMargin
    },
    "q_overdispersion" ->
      """WITH daily AS (SELECT event_type AS et, ts::DATE AS d,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
        |m AS (SELECT et, count(*)::HUGEINT AS n, sum(x)::HUGEINT AS s,
        |    sum(x::HUGEINT * x) AS s2 FROM daily GROUP BY et)
        |SELECT et, n::BIGINT AS n, s::BIGINT AS total_events,
        |  (CASE WHEN n < 2 OR s = 0 THEN NULL
        |    ELSE ((n * s2 - s * s) * 1000000) // ((n - 1) * s) END)::BIGINT
        |    AS vmr_micro,
        |  CASE WHEN n < 2 OR s = 0 THEN NULL
        |    WHEN ((n * s2 - s * s) * 1000000) // ((n - 1) * s) > 1200000
        |      THEN 'overdispersed'
        |    WHEN ((n * s2 - s * s) * 1000000) // ((n - 1) * s) < 800000
        |      THEN 'underdispersed'
        |    ELSE 'poisson-ish' END AS verdict
        |FROM m ORDER BY et""".stripMargin,
    "q_conformal" ->
      """WITH daily AS (SELECT o_orderpriority AS pri, o_orderdate::DATE AS d,
        |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
        |  FROM orders GROUP BY 1, 2),
        |idx AS (SELECT pri,
        |    (d - min(d) OVER (PARTITION BY pri))::BIGINT AS x, y FROM daily),
        |t AS (SELECT pri, ((max(x) + 1) * 3) // 5 AS cut1,
        |    ((max(x) + 1) * 4) // 5 AS cut2 FROM idx GROUP BY pri),
        |staged AS (SELECT idx.*, t.cut1, t.cut2 FROM idx JOIN t USING (pri)),
        |fit AS (SELECT pri, count(*)::BIGINT AS n_train,
        |    ((count(*)::HUGEINT * sum(x::HUGEINT * y)
        |      - sum(x)::HUGEINT * sum(y)) * 1000000)
        |      // (count(*)::HUGEINT * sum(x::HUGEINT * x)
        |      - sum(x)::HUGEINT * sum(x)) AS slope_micro,
        |    (sum(y)::HUGEINT * sum(x::HUGEINT * x)
        |      - sum(x)::HUGEINT * sum(x::HUGEINT * y))
        |      // (count(*)::HUGEINT * sum(x::HUGEINT * x)
        |      - sum(x)::HUGEINT * sum(x)) AS intercept_cents
        |  FROM staged WHERE x < cut1 GROUP BY pri HAVING count(*) >= 2),
        |scored AS (SELECT s.pri, s.x, s.cut1, s.cut2, f.n_train,
        |    f.slope_micro::BIGINT AS slope_micro,
        |    f.intercept_cents::BIGINT AS intercept_cents,
        |    abs(s.y - (f.intercept_cents + (f.slope_micro * s.x) // 1000000))::BIGINT AS ae
        |  FROM staged s JOIN fit f USING (pri)),
        |calr AS (SELECT pri, ae,
        |    row_number() OVER (PARTITION BY pri ORDER BY ae, x) AS rk,
        |    count(*) OVER (PARTITION BY pri)::BIGINT AS n_cal
        |  FROM scored WHERE x >= cut1 AND x < cut2),
        |cal AS (SELECT pri, n_cal, ae AS q90_resid_cents FROM calr
        |  WHERE rk = (9 * n_cal + 9) // 10)
        |SELECT s.pri, s.n_train, c.n_cal, count(*)::BIGINT AS n_test,
        |  s.slope_micro, s.intercept_cents, c.q90_resid_cents,
        |  (sum(CASE WHEN s.ae <= c.q90_resid_cents THEN 1 ELSE 0 END) * 10000
        |    // count(*))::BIGINT AS coverage_bp
        |FROM scored s JOIN cal c USING (pri)
        |WHERE s.x >= s.cut2
        |GROUP BY s.pri, s.n_train, c.n_cal, s.slope_micro, s.intercept_cents,
        |  c.q90_resid_cents
        |ORDER BY s.pri""".stripMargin,
    "q_influence" -> {
      def slope(n: String, sx: String, sy: String, sxx: String, sxy: String) =
        s"""CASE WHEN $n * $sxx - $sx * $sx = 0 THEN NULL
           | ELSE (($n * $sxy - $sx * $sy) * 1000000)
           |   // ($n * $sxx - $sx * $sx) END""".stripMargin
      s"""WITH roll AS (SELECT o_orderdate::DATE AS d,
         |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS y
         |  FROM orders GROUP BY 1),
         |daily AS (SELECT d,
         |    (d - (SELECT min(d) FROM roll))::BIGINT AS x, y FROM roll),
         |tot AS (SELECT count(*)::HUGEINT AS n, sum(x)::HUGEINT AS sx,
         |    sum(y)::HUGEINT AS sy, sum(x::HUGEINT * x) AS sxx,
         |    sum(x::HUGEINT * y) AS sxy FROM daily),
         |loo AS (SELECT d, x, y,
         |    (${slope("n", "sx", "sy", "sxx", "sxy")})::BIGINT
         |      AS slope_full_micro,
         |    (${slope("(n - 1)", "(sx - x)", "(sy - y)",
               "(sxx - x::HUGEINT * x)", "(sxy - x::HUGEINT * y)")})::BIGINT
         |      AS slope_loo_micro
         |  FROM daily CROSS JOIN tot)
         |SELECT d, x, y, slope_full_micro, slope_loo_micro,
         |  (slope_loo_micro - slope_full_micro)::BIGINT AS influence_micro
         |FROM loo
         |WHERE slope_loo_micro IS NOT NULL AND slope_full_micro IS NOT NULL
         |ORDER BY abs(slope_loo_micro - slope_full_micro) DESC, d
         |LIMIT $InfluenceTopK""".stripMargin
    },
    "q_changepoints" ->
      s"""WITH daily AS (SELECT o_orderdate::DATE AS d,
         |    sum(round(o_totalprice * 100)::BIGINT)::BIGINT AS x
         |  FROM orders GROUP BY 1),
         |idx AS (SELECT d, x, row_number() OVER (ORDER BY d) AS i FROM daily),
         |pre AS (SELECT d, x, i, sum(x) OVER (ORDER BY i
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::HUGEINT AS s
         |  FROM idx),
         |tot AS (SELECT max(i)::HUGEINT AS t, sum(x)::HUGEINT AS st FROM idx),
         |cp1 AS (SELECT i, d,
         |    abs((SELECT t FROM tot) * s - i::HUGEINT * (SELECT st FROM tot)) AS sc
         |  FROM pre WHERE i < (SELECT t FROM tot)
         |    AND (SELECT t FROM tot) >= $CpMinSeg
         |  ORDER BY sc DESC, i LIMIT 1),
         |lv AS (SELECT i AS i1, (SELECT s FROM pre WHERE i = cp1.i) AS s1
         |  FROM cp1),
         |cpl AS (SELECT p.i, p.d,
         |    abs(lv.i1::HUGEINT * p.s - p.i::HUGEINT * lv.s1) AS sc
         |  FROM pre p, lv WHERE p.i < lv.i1 AND lv.i1 >= $CpMinSeg
         |  ORDER BY sc DESC, p.i LIMIT 1),
         |cpr AS (SELECT p.i, p.d,
         |    abs(((SELECT t FROM tot) - lv.i1) * (p.s - lv.s1)
         |      - (p.i::HUGEINT - lv.i1) * ((SELECT st FROM tot) - lv.s1)) AS sc
         |  FROM pre p, lv WHERE p.i > lv.i1 AND p.i < (SELECT t FROM tot)
         |    AND (SELECT t FROM tot) - lv.i1 >= $CpMinSeg
         |  ORDER BY sc DESC, p.i LIMIT 1)
         |SELECT 'global' AS which, d AS cp_day, i::BIGINT AS k, sc::BIGINT AS score
         |FROM cp1
         |UNION ALL SELECT 'left', d, i::BIGINT, sc::BIGINT FROM cpl
         |UNION ALL SELECT 'right', d, i::BIGINT, sc::BIGINT FROM cpr
         |ORDER BY which""".stripMargin,
    "q_cusum_shift" ->
      """WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
        |    count(*) AS x
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT et,
        |    ((sum(x)::BIGINT * 1000) // count(*))::BIGINT AS mu_milli
        |  FROM daily GROUP BY et),
        |w AS (SELECT daily.et, d, x, x * 1000 - mu_milli AS dev, mu_milli
        |  FROM daily JOIN b USING (et)),
        |p1 AS (SELECT et, d, x, mu_milli,
        |    sum(dev) OVER (PARTITION BY et ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p
        |  FROM w),
        |p2 AS (SELECT et, d, x, mu_milli, p,
        |    min(p) OVER (PARTITION BY et ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
        |  FROM p1)
        |SELECT et, d, x, (p - least(0, m))::BIGINT AS cusum_milli,
        |  CASE WHEN p - least(0, m) > 5 * mu_milli THEN 1 ELSE 0 END AS alarm
        |FROM p2 ORDER BY et, d""".stripMargin,
    "q_acf" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
         |  FROM orders GROUP BY 1),
         |lags AS (SELECT CAST(unnest(range(1, ${AcfMaxLag + 1})) AS INT) AS lag_d)
         |SELECT lag_d, count(*) AS n_pairs,
         |  round(corr(a.cents::DOUBLE, b.cents::DOUBLE), 6) AS acf
         |FROM daily a CROSS JOIN lags
         |JOIN daily b ON b.d = a.d + lag_d
         |GROUP BY lag_d ORDER BY lag_d""".stripMargin,
    "q_ljung_box" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
         |  FROM orders GROUP BY 1),
         |lags AS (SELECT CAST(unnest(range(1, ${AcfMaxLag + 1})) AS INT) AS lag_d),
         |acf AS (SELECT lag_d,
         |    round(corr(a.cents::DOUBLE, b.cents::DOUBLE), 6) AS acf
         |  FROM daily a CROSS JOIN lags
         |  JOIN daily b ON b.d = a.d + lag_d
         |  GROUP BY lag_d),
         |nn AS (SELECT count(*)::BIGINT AS n FROM daily),
         |terms AS (SELECT n,
         |    (CAST(round(acf * 1000000) AS BIGINT)
         |     * CAST(round(acf * 1000000) AS BIGINT)) // (n - lag_d) AS term
         |  FROM acf CROSS JOIN nn),
         |agg AS (SELECT n AS n_days, count(*)::BIGINT AS h,
         |    ((n * (n + 2) * sum(term)) // 1000000)::BIGINT AS q_micro
         |  FROM terms GROUP BY n)
         |SELECT n_days, h, q_micro,
         |  ${DataQuality.chi2VerdictCase("q_micro", "h")} AS autocorrelated
         |FROM agg""".stripMargin,
    "q_croston" ->
      """WITH RECURSIVE daily AS (
        |  SELECT l_partkey AS pk, CAST(l_shipdate AS DATE) AS d,
        |    sum(CAST(round(l_quantity) AS BIGINT))::BIGINT AS q
        |  FROM lineitem GROUP BY 1, 2),
        |seq AS (SELECT pk, d, q,
        |    row_number() OVER (PARTITION BY pk ORDER BY d) AS rn FROM daily),
        |rec AS (
        |  SELECT pk, d, rn, q * 1000000 AS z, 1000000::BIGINT AS p
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.pk, s.d, s.rn,
        |    (s.q * 1000000 + 4 * r.z) // 5 AS z,
        |    (date_diff('day', r.d, s.d) * 1000000 + 4 * r.p) // 5 AS p
        |  FROM rec r JOIN seq s ON s.pk = r.pk AND s.rn = r.rn + 1),
        |lst AS (SELECT pk, max(rn)::BIGINT AS n FROM rec GROUP BY pk)
        |SELECT r.pk AS partkey, l.n AS n_demand_days, r.z AS z_micro,
        |  r.p AS p_micro, (r.z * 1000000) // r.p AS rate_micro
        |FROM rec r JOIN lst l ON l.pk = r.pk AND l.n = r.rn
        |ORDER BY partkey""".stripMargin,
    "q_xmr_chart" ->
      """WITH daily AS (SELECT o_orderpriority AS pri,
        |    CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |st AS (SELECT pri, count(*)::BIGINT AS n, sum(cents)::BIGINT AS sy
        |  FROM daily GROUP BY pri),
        |mr AS (SELECT a.pri, count(*)::BIGINT AS m,
        |    sum(abs(b.cents - a.cents))::BIGINT AS smr
        |  FROM daily a JOIN daily b
        |    ON b.pri = a.pri AND b.d = a.d + 1
        |  GROUP BY a.pri),
        |rows_ AS (SELECT d.pri, st.n, mr.m,
        |    abs(st.n::HUGEINT * d.cents - st.sy) AS dev, smr::HUGEINT AS smr
        |  FROM daily d JOIN st USING (pri) JOIN mr USING (pri)),
        |per AS (SELECT pri, n, m,
        |    CASE WHEN 100 * m * dev > 266 * smr * n THEN 1 ELSE 0 END AS viol,
        |    (CASE WHEN smr = 0 THEN NULL
        |      ELSE (100 * m * dev * 10000) // (266 * smr * n)
        |      END)::BIGINT AS ratio_bp
        |  FROM rows_)
        |SELECT pri, max(n)::BIGINT AS n_days, max(m)::BIGINT AS n_ranges,
        |  sum(viol)::BIGINT AS n_violations,
        |  max(ratio_bp)::BIGINT AS worst_ratio_bp
        |FROM per GROUP BY pri ORDER BY pri""".stripMargin,
    "q_seasonal_decompose" ->
      """WITH daily AS (SELECT o_orderpriority AS pri,
        |    CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |offs AS (SELECT unnest(range(-3, 4))::INT AS k),
        |trend AS (SELECT a.pri, a.d, a.cents, count(*)::BIGINT AS nw,
        |    sum(b.cents)::BIGINT AS trendsum
        |  FROM daily a CROSS JOIN offs
        |  JOIN daily b ON b.pri = a.pri AND b.d = a.d + k
        |  GROUP BY a.pri, a.d, a.cents),
        |dev AS (SELECT pri, d, 7 * cents - trendsum AS dev7
        |  FROM trend WHERE nw = 7),
        |bydow AS (SELECT pri, (isodow(d) - 1)::INT AS dow,
        |    count(*)::BIGINT AS n_days, sum(dev7)::BIGINT AS sdev,
        |    sum(dev7::HUGEINT * dev7) AS sdev2
        |  FROM dev GROUP BY 1, 2),
        |share AS (SELECT pri, sum(sdev::HUGEINT * sdev // n_days) AS ssb,
        |    sum(sdev2) AS sst FROM bydow GROUP BY pri)
        |SELECT b.pri, b.dow, b.n_days,
        |  ((b.sdev * 1000) // (7 * b.n_days))::BIGINT AS seasonal_milli,
        |  (CASE WHEN s.sst = 0 THEN NULL
        |    ELSE (s.ssb * 10000) // s.sst END)::BIGINT AS seasonal_share_bp
        |FROM bydow b JOIN share s USING (pri) ORDER BY pri, dow""".stripMargin,
    "q_forecast_accuracy" ->
      """WITH daily AS (SELECT o_orderpriority AS pri,
        |    CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |e7 AS (SELECT a.pri, count(*)::BIGINT AS n7,
        |    sum(abs(b.cents - a.cents))::BIGINT AS sae7,
        |    sum((2 * abs(b.cents - a.cents)::HUGEINT * 10000)
        |      // (b.cents + a.cents))::BIGINT AS ss7
        |  FROM daily a JOIN daily b
        |    ON b.pri = a.pri AND b.d = a.d + 7
        |  GROUP BY a.pri),
        |e1 AS (SELECT a.pri, count(*)::BIGINT AS n1,
        |    sum(abs(b.cents - a.cents))::BIGINT AS sae1
        |  FROM daily a JOIN daily b
        |    ON b.pri = a.pri AND b.d = a.d + 1
        |  GROUP BY a.pri)
        |SELECT pri, n7, n1,
        |  (CASE WHEN sae1 = 0 THEN NULL
        |    ELSE (sae7::HUGEINT * n1 * 1000) // (n7::HUGEINT * sae1)
        |    END)::BIGINT AS mase_milli,
        |  (ss7 // n7)::BIGINT AS smape_bp
        |FROM e7 JOIN e1 USING (pri) ORDER BY pri""".stripMargin,
    "q_yoy_growth" ->
      """WITH monthly AS (SELECT
        |    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1)
        |SELECT a.m AS month, a.cents AS rev_cents,
        |  b.cents AS prev_year_cents,
        |  (CASE WHEN b.cents IS NULL OR b.cents = 0 THEN NULL
        |    ELSE ((a.cents - b.cents) * 10000) // b.cents
        |    END)::BIGINT AS yoy_growth_bp
        |FROM monthly a LEFT JOIN monthly b ON b.m = a.m - INTERVAL 12 MONTH
        |ORDER BY month""".stripMargin,
    "q_ols_trend" ->
      """WITH daily AS (SELECT o_orderpriority AS pri,
        |    CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |xy AS (SELECT pri,
        |    date_diff('day', min(d) OVER (PARTITION BY pri), d)::BIGINT AS x,
        |    cents AS y
        |  FROM daily),
        |s AS (SELECT pri, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
        |    sum(y)::BIGINT AS sy, sum(x::HUGEINT * x) AS sxx,
        |    sum(x::HUGEINT * y) AS sxy
        |  FROM xy GROUP BY pri)
        |SELECT pri, n,
        |  (((n::HUGEINT * sxy - sx::HUGEINT * sy) * 1000000)
        |    // (n::HUGEINT * sxx - sx::HUGEINT * sx))::BIGINT AS slope_micro,
        |  ((sy::HUGEINT * sxx - sx::HUGEINT * sxy)
        |    // (n::HUGEINT * sxx - sx::HUGEINT * sx))::BIGINT AS intercept_cents
        |FROM s ORDER BY pri""".stripMargin,
    "q_theil_sen" ->
      """WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
        |slopes AS (SELECT a.et,
        |    (b.x - a.x) * 1000000 // date_diff('day', a.d, b.d) AS slope_micro
        |  FROM daily a JOIN daily b ON a.et = b.et AND a.d < b.d),
        |ranked AS (SELECT et, slope_micro,
        |    row_number() OVER (PARTITION BY et ORDER BY slope_micro) AS rn,
        |    count(*) OVER (PARTITION BY et) AS np
        |  FROM slopes)
        |SELECT et, np AS n_pairs, slope_micro
        |FROM ranked WHERE rn = (np + 1) // 2 ORDER BY et""".stripMargin,
    "q_mann_kendall" ->
      """WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
        |    count(*)::BIGINT AS x FROM events GROUP BY 1, 2),
        |s AS (SELECT a.et,
        |    sum(CASE WHEN b.x > a.x THEN 1 WHEN b.x < a.x THEN -1
        |      ELSE 0 END)::BIGINT AS s_stat
        |  FROM daily a JOIN daily b ON a.et = b.et AND a.d < b.d
        |  GROUP BY a.et),
        |n AS (SELECT et, count(*)::BIGINT AS n FROM daily GROUP BY et),
        |ties AS (SELECT et,
        |    sum(t * (t - 1) * (2 * t + 5))::BIGINT AS tie18
        |  FROM (SELECT et, x, count(*)::BIGINT AS t FROM daily GROUP BY et, x)
        |  GROUP BY et),
        |v AS (SELECT et, n AS n_days, s_stat,
        |    n * (n - 1) * (2 * n + 5) - tie18 AS var18
        |  FROM n JOIN s USING (et) JOIN ties USING (et))
        |SELECT et, n_days, s_stat, var18,
        |  (s_stat * s_stat * 45000) // nullif(var18, 0) AS score,
        |  CASE WHEN s_stat * s_stat * 45000 > 9604 * var18
        |    THEN CASE WHEN s_stat > 0 THEN 'increasing' ELSE 'decreasing' END
        |    ELSE 'none' END AS trend
        |FROM v ORDER BY et""".stripMargin,
    "q_holt_linear" ->
      """WITH RECURSIVE daily AS (
        |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1, 2),
        |seq AS (SELECT pri, d, cents,
        |    row_number() OVER (PARTITION BY pri ORDER BY d) AS rn FROM daily),
        |rec AS (
        |  SELECT pri, d, cents, rn, cents * 1000 AS l, 0::BIGINT AS b
        |  FROM seq WHERE rn = 1
        |  UNION ALL
        |  SELECT s.pri, s.d, s.cents, s.rn,
        |    (s.cents * 1000 + 4 * (r.l + r.b)) // 5 AS l,
        |    (((s.cents * 1000 + 4 * (r.l + r.b)) // 5) - r.l + 9 * r.b) // 10 AS b
        |  FROM rec r JOIN seq s ON s.pri = r.pri AND s.rn = r.rn + 1)
        |SELECT pri, d, cents, l AS level_milli, b AS trend_milli,
        |  l + b AS forecast_milli
        |FROM rec ORDER BY pri, d""".stripMargin,
    "q_anova_dow" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    (sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
         |      // $AnomalyKUsdDiv)::BIGINT AS x
         |  FROM orders GROUP BY 1),
         |dd AS (SELECT x, (isodow(d) - 1)::INT AS dow FROM daily),
         |g AS (SELECT dow, count(*)::BIGINT AS nd, sum(x)::BIGINT AS sd
         |  FROM dd GROUP BY dow),
         |t AS (SELECT count(*)::BIGINT AS k,
         |    sum((sd::HUGEINT * sd) // nd)::HUGEINT AS t FROM g),
         |m AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         |    sum(x::HUGEINT * x) AS sxx FROM dd),
         |s AS (SELECT k, n,
         |    n::HUGEINT * t - sx::HUGEINT * sx AS ssb_n,
         |    n::HUGEINT * sxx - sx::HUGEINT * sx AS sst_n
         |  FROM t CROSS JOIN m)
         |SELECT k, n,
         |  (CASE WHEN sst_n = 0 THEN NULL
         |    ELSE (ssb_n * 10000) // sst_n END)::BIGINT AS eta2_bp,
         |  (CASE WHEN sst_n = ssb_n OR sst_n = 0 THEN NULL
         |    ELSE (ssb_n * (n - k) * 1000000)
         |      // ((sst_n - ssb_n) * (k - 1)) END)::BIGINT AS f_micro
         |FROM s""".stripMargin,
    "q_haar" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |l0 AS (SELECT (row_number() OVER (ORDER BY d) - 1)::BIGINT AS rn,
        |    cents AS v FROM daily),
        |l1 AS (SELECT rn // 2 AS rn,
        |    (sum(CASE WHEN rn % 2 = 0 THEN v END)
        |      + sum(CASE WHEN rn % 2 = 1 THEN v END)) // 2 AS v,
        |    (sum(CASE WHEN rn % 2 = 0 THEN v END)
        |      - sum(CASE WHEN rn % 2 = 1 THEN v END)) // 2 AS det
        |  FROM l0 GROUP BY rn // 2 HAVING count(*) = 2),
        |l2 AS (SELECT rn // 2 AS rn,
        |    (sum(CASE WHEN rn % 2 = 0 THEN v END)
        |      + sum(CASE WHEN rn % 2 = 1 THEN v END)) // 2 AS v,
        |    (sum(CASE WHEN rn % 2 = 0 THEN v END)
        |      - sum(CASE WHEN rn % 2 = 1 THEN v END)) // 2 AS det
        |  FROM l1 GROUP BY rn // 2 HAVING count(*) = 2)
        |SELECT 1 AS level, rn AS idx, v::BIGINT AS approx_cents,
        |  det::BIGINT AS detail_cents FROM l1
        |UNION ALL
        |SELECT 2, rn, v::BIGINT, det::BIGINT FROM l2
        |ORDER BY level, idx""".stripMargin,
    "q_drawdown" ->
      """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
        |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
        |  FROM orders GROUP BY 1),
        |dd AS (SELECT d, cents,
        |    max(cents) OVER (ORDER BY d
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
        |  FROM daily),
        |s AS (SELECT d, cents, peak,
        |    ((peak - cents) * 10000) // peak AS dd_bp FROM dd),
        |top AS (SELECT dd_bp AS max_dd_bp, d AS trough_date,
        |    peak AS peak_cents, cents AS trough_cents
        |  FROM s ORDER BY dd_bp DESC, d LIMIT 1)
        |SELECT max_dd_bp, trough_date, peak_cents, trough_cents,
        |  (SELECT count(*) FROM s)::BIGINT AS n_days
        |FROM top""".stripMargin,
    "q_bollinger" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    (sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
         |      // $AnomalyKUsdDiv)::BIGINT AS x
         |  FROM orders GROUP BY 1),
         |r AS (SELECT d, x,
         |    count(*) OVER w AS n,
         |    sum(x) OVER w AS sx,
         |    sum(x::HUGEINT * x) OVER w AS sxx
         |  FROM daily
         |  WINDOW w AS (ORDER BY d ROWS BETWEEN ${BollWin - 1} PRECEDING
         |    AND CURRENT ROW)),
         |f AS (SELECT d, x AS x_kusd,
         |    $BollWin::HUGEINT * x - sx AS dev,
         |    4 * ($BollWin::HUGEINT * sxx - sx::HUGEINT * sx) AS denom
         |  FROM r WHERE n = $BollWin)
         |SELECT d, x_kusd,
         |  ((dev * dev * 10000) // denom)::BIGINT AS score_bp
         |FROM f WHERE dev * dev > denom ORDER BY d""".stripMargin,
    "q_fulfillment_sla" ->
      """WITH po AS (SELECT l_orderkey AS ok, max(l_shipdate) AS last_ship
        |  FROM lineitem GROUP BY 1),
        |d AS (SELECT o_orderpriority AS pri, ok,
        |    date_diff('day', o_orderdate::DATE, last_ship::DATE)::BIGINT AS days
        |  FROM po JOIN orders ON ok = o_orderkey),
        |r AS (SELECT pri, ok, days,
        |    row_number() OVER (PARTITION BY pri ORDER BY days, ok) AS rn,
        |    count(*) OVER (PARTITION BY pri) AS n
        |  FROM d),
        |census AS (SELECT pri, count(*)::BIGINT AS n_orders,
        |    min(days)::BIGINT AS min_days, max(days)::BIGINT AS max_days
        |  FROM d GROUP BY pri),
        |p50 AS (SELECT pri, days AS p50_days FROM r
        |  WHERE rn = (n * 50 + 99) // 100),
        |p90 AS (SELECT pri, days AS p90_days FROM r
        |  WHERE rn = (n * 90 + 99) // 100)
        |SELECT census.pri, n_orders, min_days, max_days, p50_days, p90_days
        |FROM census JOIN p50 USING (pri) JOIN p90 USING (pri)
        |ORDER BY pri""".stripMargin,
    "q_walk_forward" ->
      s"""WITH daily AS (SELECT o_orderpriority AS pri,
         |    CAST(o_orderdate AS DATE) AS d,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
         |  FROM orders GROUP BY 1, 2),
         |idx AS (SELECT pri,
         |    date_diff('day', min(d) OVER (PARTITION BY pri), d)::BIGINT AS x,
         |    cents AS y
         |  FROM daily),
         |t AS (SELECT pri, max(x) + 1 AS tdays FROM idx GROUP BY pri),
         |wf AS (SELECT idx.pri, f.fold, idx.x, idx.y,
         |    (t.tdays * f.fold) // 5 AS cutoff, t.tdays // 5 AS h
         |  FROM idx JOIN t USING (pri)
         |  CROSS JOIN (SELECT unnest(range(1, ${WfFolds + 1})) AS fold) f),
         |tr AS (SELECT pri, fold, count(*)::BIGINT AS n_train,
         |    sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
         |    sum(x::HUGEINT * x) AS sxx, sum(x::HUGEINT * y) AS sxy
         |  FROM wf WHERE x < cutoff GROUP BY 1, 2 HAVING count(*) >= 2),
         |fit AS (SELECT pri, fold, n_train,
         |    (((n_train * sxy - sx * sy) * 1000000)
         |      // (n_train * sxx - sx * sx))::BIGINT AS slope_micro,
         |    ((sy * sxx - sx * sxy)
         |      // (n_train * sxx - sx * sx))::BIGINT AS intercept_cents
         |  FROM tr)
         |SELECT w.pri, w.fold, f.n_train, count(*)::BIGINT AS n_test,
         |  f.slope_micro,
         |  (sum(abs(w.y - (f.intercept_cents + (f.slope_micro * w.x) // 1000000)))
         |    // count(*))::BIGINT AS mae_cents
         |FROM wf w JOIN fit f ON f.pri = w.pri AND f.fold = w.fold
         |WHERE w.x >= w.cutoff AND w.x < w.cutoff + w.h
         |GROUP BY w.pri, w.fold, f.n_train, f.slope_micro, f.intercept_cents
         |ORDER BY w.pri, w.fold""".stripMargin,
    "q_holt_winters" ->
      s"""WITH RECURSIVE daily AS (
         |  SELECT o_orderpriority AS pri, CAST(o_orderdate AS DATE) AS d,
         |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS cents
         |  FROM orders GROUP BY 1, 2),
         |seq AS (SELECT pri, d, cents,
         |    row_number() OVER (PARTITION BY pri ORDER BY d) AS rn FROM daily),
         |rec AS (
         |  SELECT pri, d, cents, rn, cents * 1000 AS l, 0::BIGINT AS b,
         |    0::BIGINT AS s,
         |    [0, 0, 0, 0, 0, 0, 0]::BIGINT[] AS seas
         |  FROM seq WHERE rn = 1
         |  UNION ALL
         |  SELECT q.pri, q.d, q.cents, q.rn,
         |    (q.cents * 1000 - r.seas[1] + 4 * (r.l + r.b)) // 5 AS l,
         |    (((q.cents * 1000 - r.seas[1] + 4 * (r.l + r.b)) // 5) - r.l
         |      + 9 * r.b) // 10 AS b,
         |    (q.cents * 1000 - r.l - r.b + 4 * r.seas[1]) // 5 AS s,
         |    list_append(r.seas[2:$HwPeriod],
         |      (q.cents * 1000 - r.l - r.b + 4 * r.seas[1]) // 5) AS seas
         |  FROM rec r JOIN seq q ON q.pri = r.pri AND q.rn = r.rn + 1)
         |SELECT pri, d, cents, l AS level_milli, b AS trend_milli,
         |  s AS seasonal_milli, l + b + seas[1] AS forecast_milli
         |FROM rec ORDER BY pri, d""".stripMargin,
    "q_cross_corr" ->
      s"""WITH lead_s AS (SELECT CAST(ts AS DATE) AS d, count(*)::BIGINT AS c
         |  FROM events WHERE event_type = '$XcorrLead' GROUP BY 1),
         |lag_s AS (SELECT CAST(ts AS DATE) AS d, count(*)::BIGINT AS c
         |  FROM events WHERE event_type = '$XcorrLag' GROUP BY 1),
         |lags AS (SELECT CAST(unnest(range(-$XcorrMaxLag, ${XcorrMaxLag + 1}))
         |    AS INT) AS lag_d)
         |SELECT lag_d, count(*) AS n_pairs,
         |  round(corr(a.c::DOUBLE, b.c::DOUBLE), 6) AS xcorr
         |FROM lead_s a CROSS JOIN lags
         |JOIN lag_s b ON b.d = a.d + lag_d
         |GROUP BY lag_d ORDER BY lag_d""".stripMargin,
    "q_anomaly_dow" ->
      s"""WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    (sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT
         |      // $AnomalyKUsdDiv)::BIGINT AS x
         |  FROM orders GROUP BY 1),
         |dd AS (SELECT d, x, (isodow(d) - 1)::INT AS dow FROM daily),
         |st AS (SELECT dow, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
         |    sum(x::HUGEINT * x) AS sxx
         |  FROM dd GROUP BY dow)
         |SELECT d, dow, x AS x_kusd,
         |  (((n::HUGEINT * x - sx) * (n::HUGEINT * x - sx)) * 10000
         |    // (4 * (n * sxx - sx::HUGEINT * sx)))::BIGINT AS score_bp
         |FROM dd JOIN st USING (dow)
         |WHERE (n::HUGEINT * x - sx) * (n::HUGEINT * x - sx)
         |  > 4 * (n * sxx - sx::HUGEINT * sx)
         |ORDER BY d""".stripMargin,
    "q_burstiness" ->
      """WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS d,
        |    count(*)::BIGINT AS c
        |  FROM events GROUP BY 1, 2),
        |a AS (SELECT et, count(*)::BIGINT AS n_days, sum(c)::BIGINT AS total,
        |    sum(c::HUGEINT * c) AS scc, max(c)::BIGINT AS peak
        |  FROM daily GROUP BY et)
        |SELECT et, n_days, total,
        |  (((n_days * scc - total::HUGEINT * total) * 1000000)
        |    // (n_days::HUGEINT * total))::BIGINT AS fano_micro,
        |  ((peak::HUGEINT * n_days * 10000) // total)::BIGINT AS peak_bp
        |FROM a ORDER BY et""".stripMargin,
    "q_seasonality" ->
      """WITH o AS (SELECT o_orderpriority AS pri,
        |    (isodow(CAST(o_orderdate AS DATE)) - 1)::INT AS dow,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders),
        |a AS (SELECT pri, dow, sum(c)::BIGINT AS cents FROM o GROUP BY 1, 2),
        |t AS (SELECT pri, sum(cents)::BIGINT AS tot FROM a GROUP BY pri)
        |SELECT pri, dow, cents,
        |  ((cents * 7 * 10000) // tot)::BIGINT AS index_bp
        |FROM a JOIN t USING (pri) ORDER BY pri, dow""".stripMargin
  )
}
