package graft.operators

import graft.GateUtil._
import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative data-quality constraint suite (the deequ-style
  * validation pass a pipeline runs on every ingest batch): primary-key
  * uniqueness, foreign-key orphans, null/range/domain violations —
  * each check one narrow aggregate or semi-join, all unioned into a
  * single (check, n_violations, status) report.
  *
  * Scale: per-table checks fuse into ONE scan per table (a single
  * aggregate computes all of a table's violation counts); the FK
  * checks are anti-join counts on the join keys only. Nothing here
  * materializes violating ROWS — at 100 TB you first want the counts,
  * then drill into a specific failed check. */
object DataQuality {
  type Q = (SparkSession, String) => DataFrame

  def dataQuality(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val li = Tables.lineitem(spark, dir)

    // per-table violation counts, one scan each
    val ordersScan = o.agg(
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("orders_pk_dup"),
      count(when(col("o_totalprice") < 0, 1)).as("orders_price_neg"),
      count(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
        col("o_orderdate") > lit("1998-12-31").cast("timestamp"), 1))
        .as("orders_date_range"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), 1))
        .as("orders_status_domain"))
    val custScan = c.agg(
      count(when(col("c_acctbal").isNull, 1)).as("customer_acctbal_null"),
      (count(lit(1)) - countDistinct(col("c_custkey"))).as("customer_pk_dup"))
    // FK orphans: anti-join counts on pruned key columns
    val orphanOrders = o.select(col("o_custkey"))
      .join(c.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n"))
    val orphanLines = li.select(col("l_orderkey"))
      .join(o.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("n"))

    def report(name: String, n: org.apache.spark.sql.Column): DataFrame => DataFrame =
      df => df.select(lit(name).as("check"), n.cast("long").as("n_violations"))
    val rows = Seq(
      report("customer_acctbal_null", col("customer_acctbal_null"))(custScan),
      report("customer_pk_unique", col("customer_pk_dup"))(custScan),
      report("lineitem_orderkey_fk", col("n"))(orphanLines),
      report("orders_custkey_fk", col("n"))(orphanOrders),
      report("orders_date_range", col("orders_date_range"))(ordersScan),
      report("orders_pk_unique", col("orders_pk_dup"))(ordersScan),
      report("orders_status_domain", col("orders_status_domain"))(ordersScan),
      report("orders_totalprice_nonneg", col("orders_price_neg"))(ordersScan))
    rows.reduce(_.unionAll(_))
      .withColumn("status", when(col("n_violations") === 0, "pass").otherwise("fail"))
      .orderBy("check")
  }

  val PsiBucketCents = 2500000L

  /** Population stability index — the standard production drift monitor
    * — of the order-value distribution between the first and second
    * half of the date range: fixed $25k value buckets, Laplace-smoothed
    * shares p=(c₁+1)/(n₁+B), q=(c₂+1)/(n₂+B) over the observed bucket
    * set (smoothing makes one-sided buckets well-defined — the textbook
    * recipe), per-bucket contribution (p−q)·ln(p/q) ≥ 0 in round-6
    * doubles (the divergence-family fp convention). Σcontrib > 0.25 is
    * the conventional "investigate" threshold.
    *
    * Scale: one scan with a 1-row broadcast date cut, a partial+final
    * agg onto the bounded bucket space, and a 1-row broadcast of
    * totals — drift monitoring costs one pass regardless of history
    * size. Complements q_mix_shift (share movement) with the
    * distribution-shape metric. */
  def psiDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("d"),
        expr(s"CAST(round(o_totalprice * 100) AS LONG) DIV $PsiBucketCents")
          .as("bucket"))
    val bounds = Relational.dateCutBounds(o, 1, 2)
    val counts = o.crossJoin(broadcast(bounds))
      .groupBy("bucket")
      .agg(sum(when(col("d") < col("cut_d"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("d") >= col("cut_d"), 1L).otherwise(0L)).as("c2"))
    val tot = counts.agg(sum("c1").as("n1"), sum("c2").as("n2"),
      count(lit(1)).as("nb"))
    counts.crossJoin(broadcast(tot))
      .selectExpr("bucket", "c1", "c2",
        """round(
          |  ((c1 + 1.0) / (n1 + nb) - (c2 + 1.0) / (n2 + nb)) *
          |  ln(((c1 + 1.0) / (n1 + nb)) / ((c2 + 1.0) / (n2 + nb))), 6)
          |  AS psi_contrib""".stripMargin)
      .orderBy("bucket")
  }

  /** Hellinger drift distance — the BOUNDED, symmetric member of the
    * drift family next to [[psiDrift]]'s unbounded divergence (PSI
    * explodes on vanishing buckets; Hellinger lives in [0,1] and obeys
    * the triangle inequality, so it alerts monotonically and composes
    * across time): H² = 1 − Σ√(pᵢ·qᵢ) over the same $25k buckets with
    * the same Laplace smoothing, per-bucket affinity √(pq) as one
    * micro-rounded double per bucket (sqrt is IEEE correctly-rounded —
    * even safer than the ln discipline) summed in exact integers;
    * h2_micro = 10⁶ − Σ affinity_micro, clamped at 0.
    *
    * Scale: the q_psi_drift posture verbatim — one scan, a bounded
    * bucket rollup, 1-row arithmetic. */
  def hellingerDrift(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(to_date(col("o_orderdate")).as("d"),
        expr(s"CAST(round(o_totalprice * 100) AS LONG) DIV $PsiBucketCents")
          .as("bucket"))
    val bounds = Relational.dateCutBounds(o, 1, 2)
    val counts = o.crossJoin(broadcast(bounds))
      .groupBy("bucket")
      .agg(sum(when(col("d") < col("cut_d"), 1L).otherwise(0L)).as("c1"),
        sum(when(col("d") >= col("cut_d"), 1L).otherwise(0L)).as("c2"))
    val tot = counts.agg(sum("c1").as("n1"), sum("c2").as("n2"),
      count(lit(1)).as("nb"))
    counts.crossJoin(broadcast(tot))
      .selectExpr(
        // CAST to DOUBLE explicitly: a bare 1.0 literal is DECIMAL in
        // Spark SQL, and decimal-lane division quantizes differently
        // from DuckDB's double lane
        """CAST(round(sqrt(((CAST(c1 AS DOUBLE) + 1.0) / (n1 + nb))
          |  * ((CAST(c2 AS DOUBLE) + 1.0) / (n2 + nb))) * 1000000) AS BIGINT)
          |  AS affinity_micro""".stripMargin)
      .agg(count(lit(1)).as("n_buckets"),
        sum("affinity_micro").as("aff"))
      .selectExpr("n_buckets",
        "CAST(aff AS BIGINT) AS affinity_micro",
        "GREATEST(CAST(0 AS BIGINT), 1000000 - aff) AS h2_micro")
  }

  /** Functional-dependency profiling (the discovery side of data
    * quality: does LHS → RHS actually hold in the data?). For each
    * candidate FD, group by the LHS and count distinct RHS values; a
    * group with >1 variant violates the dependency. Reports per-FD
    * group/violation counts and the worst variant fan-out — the
    * profile a pipeline consults before declaring a column derivable.
    *
    * Scale: each FD is one partial+final agg on its LHS key with only
    * the two key columns projected (column-pruned scan), then a second
    * tiny rollup; candidate FDs on the same table still scan
    * independently but each scan is two columns wide. Violating ROWS
    * are never materialized — counts only, like [[dataQuality]]. */
  def fdViolations(spark: SparkSession, dir: String): DataFrame = {
    val fds = Seq(
      ("customer: nationkey->mktsegment",
        Tables.customer(spark, dir), "c_nationkey", "c_mktsegment"),
      ("orders: custkey->orderpriority",
        Tables.orders(spark, dir), "o_custkey", "o_orderpriority"),
      ("part: brand->type", Tables.part(spark, dir), "p_brand", "p_type"),
      ("part: type->size", Tables.part(spark, dir), "p_type", "p_size"))
    fds.map { case (name, df, lhs, rhs) =>
      df.select(col(lhs), col(rhs))
        .groupBy(lhs).agg(countDistinct(rhs).as("k"), count(lit(1)).as("n"))
        .agg(count(lit(1)).as("n_groups"),
          count(when(col("k") > 1, 1)).as("n_violating"),
          max(col("k")).as("max_variants"),
          coalesce(sum(when(col("k") > 1, col("n"))), lit(0L))
            .as("rows_in_violating"))
        .select(lit(name).as("fd"), col("n_groups"), col("n_violating"),
          col("max_variants"), col("rows_in_violating"))
    }.reduce(_.unionAll(_))
      .withColumn("holds", when(col("n_violating") === 0, "yes").otherwise("no"))
      .orderBy("fd")
  }

  /** Benford's-law conformance bp for each expected leading digit —
    * pinned integer floor(log₁₀(1+1/d)·10⁴) so both engines compare
    * against byte-identical constants. */
  val BenfordBp: Seq[(Int, Long)] = Seq(
    1 -> 3010L, 2 -> 1760L, 3 -> 1249L, 4 -> 969L, 5 -> 791L,
    6 -> 669L, 7 -> 579L, 8 -> 511L, 9 -> 457L)

  /** Benford's-law leading-digit census (the classic anomaly/fraud
    * screen for "organic" monetary data): leading digit of the order
    * value in integer cents — extracted from the decimal string, so no
    * log₁₀/pow fp path — against the pinned Benford share table, with
    * the deviation in integer basis points.
    *
    * Scale: one two-column scan partial+final-aggregated onto a 9-row
    * digit space, one 1-row total broadcast, one 9-row literal join —
    * the whole diagnostic is a single pass at any corpus size. */
  def benford(spark: SparkSession, dir: String): DataFrame = {
    val cents = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS LONG)").as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
    val counts = cents.groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum("n").as("total"))
    val expected = {
      val spark2 = counts.sparkSession
      import spark2.implicits._
      BenfordBp.toDF("digit", "benford_bp")
    }
    counts.crossJoin(broadcast(tot))
      .join(broadcast(expected), Seq("digit"))
      .selectExpr("digit", "n", "(n * 10000) DIV total AS share_bp",
        "benford_bp", "(n * 10000) DIV total - benford_bp AS dev_bp")
      .orderBy("digit")
  }

  /** χ² 95% critical values in micro-units for df 1..30 — pinned
    * literals (the table is public math, not data). 30 covers every
    * reachable df on the shipped features (disc_pct has 11 categories →
    * df 10; kruskal-wallis k ≤ 31 groups); out-of-table df yields a
    * NULL verdict (visible), never a silent 'no'. */
  val Chi2Crit95Micro: Seq[(Int, Long)] = Seq(
    1 -> 3841459L, 2 -> 5991465L, 3 -> 7814728L,
    4 -> 9487729L, 5 -> 11070498L, 6 -> 12591587L,
    7 -> 14067140L, 8 -> 15507313L, 9 -> 16918978L,
    10 -> 18307038L, 11 -> 19675138L, 12 -> 21026070L,
    13 -> 22362032L, 14 -> 23684791L, 15 -> 24995790L,
    16 -> 26296228L, 17 -> 27587112L, 18 -> 28869299L,
    19 -> 30143527L, 20 -> 31410433L, 21 -> 32670573L,
    22 -> 33924438L, 23 -> 35172462L, 24 -> 36415029L,
    25 -> 37652484L, 26 -> 38885139L, 27 -> 40113272L,
    28 -> 41337138L, 29 -> 42556968L, 30 -> 43772972L)

  private[operators] def chi2CritCase(df: String): String =
    "CASE " + Chi2Crit95Micro.map { case (d, c) =>
      s"WHEN $df = $d THEN $c" }.mkString(" ") + " END"

  /** 'yes'/'no'/NULL significance verdict: NULL when the statistic is
    * NULL or df falls outside the pinned table — an out-of-range df must
    * be VISIBLE, not default to 'no' (the round-8 advice hole: features
    * with more categories than the table silently read insignificant
    * forever). Same generated SQL on both engines. */
  private[operators] def chi2VerdictCase(stat: String, df: String): String =
    s"""CASE WHEN $stat IS NULL THEN CAST(NULL AS STRING)
       | WHEN $df < 1 OR $df > ${Chi2Crit95Micro.last._1}
       |   THEN CAST(NULL AS STRING)
       | WHEN $stat > ${chi2CritCase(df)} THEN 'yes'
       | ELSE 'no' END""".stripMargin

  /** χ² feature selection: rank categorical lineitem features by their
    * chi-square statistic against the bulk-line label (quantity > 25) —
    * WOE/IV's and mutual information's frequentist sibling, the classic
    * filter-method feature screen. The statistic is computed per FULL
    * contingency cell (absent observed cells still contribute their
    * expected mass) as (obs·N − row·col)²·10⁶ DIV (N·row·col) in
    * DECIMAL(38,0) / HUGEINT — obs·N reaches N², so Long would overflow
    * past ~3M rows, and the single-shot dev²·10⁶ would hit DECIMAL(38)
    * near 7·10⁷ rows; the exact two-step quotient+remainder split keeps
    * every intermediate under 10³⁸ to ~3·10⁹ rows — then summed, so
    * every engine replays identical integers. Verdict column
    * compares against the pinned 95% critical value for the feature's
    * degrees of freedom.
    *
    * Scale: ONE fact scan fanned out by a 4-way stack generator, one
    * partial+final (feature, x, y) rollup (≤ Σ|Xᵢ|·2 cells), marginal
    * frames that are cell-table-sized, and a features-sized output —
    * the fact table is never shuffled, only its contingency cells. */
  def chi2Select(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val st = Tables.lineitem(spark, dir).selectExpr(
      """stack(4,
        |  'returnflag', l_returnflag,
        |  'linestatus', l_linestatus,
        |  'linenumber', CAST(l_linenumber AS STRING),
        |  'disc_pct',   CAST(CAST(round(l_discount * 100) AS INT) AS STRING))
        |  AS (feature, x)""".stripMargin,
      "CAST(l_quantity > 25 AS INT) AS y")
    chi2SelectDf(st)
  }

  /** Core over any (feature, x, y) frame. */
  def chi2SelectDf(st: DataFrame)(implicit s: Scope): DataFrame = {
    // eager checkpoint: marginals + grid all derive from the cell rollup —
    // without it each of the four branches re-scans the fact table
    val cells = s.checkpoint(st.groupBy("feature", "x", "y").agg(count(lit(1)).as("c_xy")))
    val fx = cells.groupBy("feature", "x").agg(sum("c_xy").as("c_x"))
    val fy = cells.groupBy("feature", "y").agg(sum("c_xy").as("c_y"))
    val fn = cells.groupBy("feature").agg(sum("c_xy").as("n"),
      countDistinct("x").as("nx"), countDistinct("y").as("ny"))
    fx.join(fy, "feature") // full r×c grid — zero cells included
      .join(cells, Seq("feature", "x", "y"), "left")
      .join(broadcast(fn), "feature")
      .selectExpr("feature", "nx", "ny",
        """CAST(coalesce(c_xy, 0) AS DECIMAL(38,0)) * n
          | - CAST(c_x AS DECIMAL(38,0)) * c_y AS dev""".stripMargin,
        "CAST(n AS DECIMAL(38,0)) * c_x * c_y AS dd")
      // two-step quotient+remainder split (the q_mann_whitney
      // discipline): dev²·10⁶ single-shot hits DECIMAL(38) near 7·10⁷
      // rows (dev is O(n²)); q·10⁶ + (r·10⁶) DIV dd is the SAME integer
      // exactly and stays under 10³⁸ to ~3·10⁹ rows
      .selectExpr("feature", "nx", "ny",
        """CAST(((dev * dev) DIV dd) * 1000000
          | + (((dev * dev) % dd) * 1000000) DIV dd AS BIGINT)
          | AS cell""".stripMargin)
      .groupBy("feature", "nx", "ny")
      .agg(count(lit(1)).as("n_cells"), sum("cell").as("chi2_micro"))
      .selectExpr("feature", "n_cells", "(nx - 1) * (ny - 1) AS df", "chi2_micro")
      .selectExpr("feature", "n_cells", "df", "chi2_micro",
        s"""${chi2VerdictCase("chi2_micro", "df")} AS significant""")
      .orderBy(desc("chi2_micro"), asc("feature"))
  }

  /** Cramér's V effect size for the [[chi2Select]] features — the
    * magnitude companion to the χ² significance verdict (χ² grows with
    * n, so at warehouse scale EVERYTHING reads "significant"; V is the
    * n-free strength on [0,1] that tells you whether the association
    * matters): V² = χ²/(n·(min(r,c)−1)), emitted as the exact integer
    * v2_micro = chi2_micro DIV (n·(min−1)) — the same two-step-split χ²
    * integer divided by exact counts, so both engines replay it
    * digit-for-digit.
    *
    * Scale: the chi2 cell rollup (one fact scan fanned by the stack)
    * plus a features-sized broadcast of (n, nx, ny) — no second scan of
    * anything fact-sized. */
  def cramersV(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    val st = s.checkpoint(Tables.lineitem(spark, dir).selectExpr(
      """stack(4,
        |  'returnflag', l_returnflag,
        |  'linestatus', l_linestatus,
        |  'linenumber', CAST(l_linenumber AS STRING),
        |  'disc_pct',   CAST(CAST(round(l_discount * 100) AS INT) AS STRING))
        |  AS (feature, x)""".stripMargin,
      "CAST(l_quantity > 25 AS INT) AS y"))
    val chi = chi2SelectDf(st).select("feature", "df", "chi2_micro")
    val fstats = st.groupBy("feature").agg(count(lit(1)).as("n"),
      countDistinct("x").as("nx"), countDistinct("y").as("ny"))
    chi.join(broadcast(fstats), "feature")
      .selectExpr("feature", "df", "chi2_micro",
        "CAST(chi2_micro DIV (n * (least(nx, ny) - 1)) AS BIGINT) AS v2_micro")
      .orderBy(desc("v2_micro"), asc("feature"))
  }

  /** Cochran–Armitage trend test — the ORDERED companion to
    * [[chi2Select]] (χ² is order-blind; CA asks "does the positive rate
    * trend monotonically with the dose?" — discount level 0..10 vs the
    * bulk-line label): scores w = the category value,
    * T = N·Σw·r_i − R·Σw·n_i (T is the statistic pre-scaled by N, so
    * z² = T²·N / (R(N−R)·(N·A − B²)) with A = Σn·w², B = Σn·w), in the
    * q_ab_test two-factor cross-multiplied micro form
    * (|T|·10³ DIV (NA−B²)) · ((|T|·10³·N) DIV (R(N−R))) — all
    * DECIMAL(38,0); with w ≤ 10², |T| ≤ N·R·w ≤ 10² N², so the largest
    * intermediate |T|·10³·N ≤ 10⁵ N³ stays under 10³⁸ to ~10¹¹ rows;
    * degenerate label or zero score variance pins z² = 0. Verdict vs
    * χ²₁ 95%.
    *
    * Scale: one fact scan partial-aggregated onto the ≤11-category
    * dose table, then 1-row arithmetic. */
  def cochranArmitage(spark: SparkSession, dir: String): DataFrame =
    cochranArmitageDf(Tables.lineitem(spark, dir).selectExpr(
      "CAST(round(l_discount * 100) AS INT) AS w",
      "CAST(l_quantity > 25 AS INT) AS y"))

  /** Core over any (w INT ordered dose, y 0/1 label) frame. */
  private[graft] def cochranArmitageDf(st: DataFrame): DataFrame = {
    val cat = st.groupBy("w").agg(count(lit(1)).as("n"), sum("y").as("r"))
    cat.agg(count(lit(1)).as("k"), sum("n").as("nn"), sum("r").as("rr"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * w * w")).as("a"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * w")).as("b"),
        sum(expr("CAST(r AS DECIMAL(38,0)) * w")).as("rw"))
      .selectExpr("k", "nn AS n", "rr AS r",
        "rw * nn - b * rr AS t", "CAST(nn AS DECIMAL(38,0)) * a - b * b AS vw")
      .selectExpr("k", "n", "r",
        """CAST(CASE WHEN r = 0 OR r = n OR vw = 0 THEN 0
          |  ELSE (abs(t) * 1000 DIV vw)
          |     * ((abs(t) * 1000 * n) DIV (CAST(r AS DECIMAL(38,0)) * (n - r)))
          |  END AS BIGINT) AS z2_micro""".stripMargin)
      .withColumn("trending", col("z2_micro") > lit(Chi2Crit95Micro.head._2))
  }

  /** Cohen's κ + Matthews correlation between two deterministic binary
    * "raters" over the corpus (the inter-annotator-agreement and
    * imbalanced-classification-quality metrics the eval family lacked;
    * here rater 1 = long document by chars, rater 2 = long by token
    * count — correlated but not identical, so agreement is
    * non-degenerate): from the exact 2×2 census, κ_bp = 10⁴·(N(a+d) −
    * pe) DIV (N² − pe) with pe = (a+b)(a+c)+(c+d)(b+d), and the SIGNED
    * squared Matthews correlation mcc2_micro = sign(ad−bc)·(ad−bc)²·10⁶
    * DIV ((a+b)(a+c)(b+d)(c+d)) — MCC² avoids the sqrt, the sign keeps
    * direction; all DECIMAL(38,0) (the product reaches N⁴, Long-safe
    * nowhere past 50k rows). One-sided raters (a zero marginal) pin
    * NULL — visible, never a division error.
    *
    * Scale: one scan → a 4-cell census → 1-row arithmetic. */
  def cohensKappa(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select((col("n_chars") > 300).cast("int").as("r1"),
        (size(graft.functions.TextFns.tokens(col("text"))) > 60)
          .cast("int").as("r2"))
      .agg(
        sum(expr("CAST(r1 = 1 AND r2 = 1 AS INT)")).as("a"),
        sum(expr("CAST(r1 = 1 AND r2 = 0 AS INT)")).as("b"),
        sum(expr("CAST(r1 = 0 AND r2 = 1 AS INT)")).as("c"),
        sum(expr("CAST(r1 = 0 AND r2 = 0 AS INT)")).as("d"))
      .selectExpr("a", "b", "c", "d",
        "CAST(a + b + c + d AS DECIMAL(38,0)) AS n",
        """CAST(a + b AS DECIMAL(38,0)) * (a + c)
          | + CAST(c + d AS DECIMAL(38,0)) * (b + d) AS pe""".stripMargin)
      .selectExpr("a", "b", "c", "d",
        """CAST(CASE WHEN n * n = pe THEN NULL
          |  ELSE ((n * (a + d) - pe) * 10000) DIV (n * n - pe)
          |  END AS BIGINT) AS kappa_bp""".stripMargin,
        """CAST(CASE WHEN (a+b) = 0 OR (a+c) = 0 OR (b+d) = 0 OR (c+d) = 0
          |  THEN NULL
          |  ELSE CASE WHEN CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c < 0
          |    THEN -1 ELSE 1 END
          |   * ((CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
          |      * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
          |      * 1000000)
          |     DIV (CAST(a + b AS DECIMAL(38,0)) * (a + c) * (b + d) * (c + d))
          |  END AS BIGINT) AS mcc2_signed_micro""".stripMargin)

  /** Per-column Shannon entropy over the same categorical stack as
    * [[chi2Select]] — the information-content profiling metric (near-
    * zero entropy flags dead columns, near-ln(k) flags keys; the
    * univariate companion to mutual information). Per category the
    * pointwise −p·ln p lands as (c · round(ln(n/c)·10⁶)) DIV n — the
    * q_mutual_info discipline: the ln micro-rounds at computation, the
    * weighting is integer, so engines replay identical longs.
    *
    * Scale: one fact scan through the stack generator, a partial+final
    * (feature, x) rollup, a features-sized broadcast of totals, and a
    * features-sized output. */
  def columnEntropy(spark: SparkSession, dir: String): DataFrame = {
    val st = Tables.lineitem(spark, dir).selectExpr(
      """stack(4,
        |  'returnflag', l_returnflag,
        |  'linestatus', l_linestatus,
        |  'linenumber', CAST(l_linenumber AS STRING),
        |  'disc_pct',   CAST(CAST(round(l_discount * 100) AS INT) AS STRING))
        |  AS (feature, x)""".stripMargin)
    val cells = st.groupBy("feature", "x").agg(count(lit(1)).as("c"))
    val fn = cells.groupBy("feature")
      .agg(sum("c").as("n"), count(lit(1)).as("n_distinct"))
    cells.join(broadcast(fn), "feature")
      .selectExpr("feature", "n_distinct",
        """(c * CAST(round(ln(CAST(n AS DOUBLE) / CAST(c AS DOUBLE)) * 1000000)
          |  AS BIGINT)) DIV n AS contrib""".stripMargin)
      .groupBy("feature", "n_distinct")
      .agg(sum("contrib").as("entropy_micro"))
      .orderBy(desc("entropy_micro"), asc("feature"))
  }

  /** Benford goodness-of-fit χ² — turns [[benford]]'s descriptive
    * deviation table into a STATISTICAL verdict: χ² = Σ(obs−exp)²/exp
    * against the pinned Benford shares, cross-multiplied so every cell
    * is ((obs·10⁴ − n·bp)²·100) DIV (n·bp·10⁴·…) — all integer in
    * DECIMAL(38,0), df = 8, verdict vs the shared critical table.
    * (Synthetic order values are NOT Benford-distributed — the gate
    * pins the arithmetic, and the verdict honestly reads 'yes'.)
    *
    * Scale: the benford digit census (one scan → 9 rows) + 9-row
    * arithmetic. */
  def benfordGof(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.orders(spark, dir)
      .select(expr("CAST(round(o_totalprice * 100) AS LONG)").as("c"))
      .filter(col("c") > 0)
      .select(substring(col("c").cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("o"))
    val expected = {
      val spark2 = counts.sparkSession
      import spark2.implicits._
      BenfordBp.toDF("digit", "bp")
    }
    val tot = counts.agg(sum("o").as("n"))
    // join FROM the 9-row expected table: a digit with zero observations
    // still contributes its full expected mass (0 − n·bp)² — an inner
    // join would silently drop exactly the extreme-skew cells the test
    // targets while df stayed pinned at 8
    expected.join(counts, Seq("digit"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L)))
      .crossJoin(broadcast(tot))
      // cell = (obs·1e4 − n·bp)² · 1e6 / (n·bp·1e4)
      .selectExpr(
        """CAST(((CAST(o AS DECIMAL(38,0)) * 10000 - CAST(n AS DECIMAL(38,0)) * bp)
          |  * (CAST(o AS DECIMAL(38,0)) * 10000 - CAST(n AS DECIMAL(38,0)) * bp)
          |  * 100)
          | DIV (CAST(n AS DECIMAL(38,0)) * bp) AS BIGINT) AS cell""".stripMargin,
        "n")
      .groupBy("n").agg(count(lit(1)).as("n_digits"), sum("cell").as("chi2_micro"))
      .selectExpr("n AS n_values", "n_digits", "8 AS df", "chi2_micro",
        s"""${chi2VerdictCase("chi2_micro", "8")} AS rejected""")
  }

  val queries: Map[String, Q] = Map(
    "q_benford_gof" -> (benfordGof _),
    "q_col_entropy" -> (columnEntropy _),
    "q_chi2_select" -> (chi2Select _),
    "q_cramers_v" -> (cramersV _),
    "q_cochran_armitage" -> (cochranArmitage _),
    "q_cohens_kappa" -> (cohensKappa _),
    "q_data_quality" -> (dataQuality _),
    "q_fd_violations" -> (fdViolations _),
    "q_benford" -> (benford _),
    "q_psi_drift" -> (psiDrift _),
    "q_hellinger" -> (hellingerDrift _))

  val oracles: Map[String, String] = Map(
    "q_benford_gof" -> {
      val expVals = BenfordBp.map { case (d, bp) => s"($d, $bp)" }.mkString(", ")
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
         |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM orders WHERE round(o_totalprice * 100) > 0),
         |c AS (SELECT digit, count(*)::BIGINT AS o FROM d GROUP BY digit),
         |e(digit, bp) AS (VALUES $expVals),
         |t AS (SELECT sum(o)::BIGINT AS n FROM c),
         |cells AS (SELECT
         |    ((coalesce(o, 0)::HUGEINT * 10000 - n::HUGEINT * bp)
         |     * (coalesce(o, 0)::HUGEINT * 10000 - n::HUGEINT * bp) * 100)
         |    // (n::HUGEINT * bp) AS cell, n
         |  FROM e LEFT JOIN c USING (digit) CROSS JOIN t)
         |SELECT n AS n_values, count(*)::BIGINT AS n_digits, 8 AS df,
         |  sum(cell)::BIGINT AS chi2_micro,
         |  ${chi2VerdictCase("sum(cell)", "8")}
         |    AS rejected
         |FROM cells GROUP BY n""".stripMargin
    },
    "q_col_entropy" ->
      """WITH st AS MATERIALIZED (
        |  SELECT f.feature, f.x
        |  FROM lineitem, LATERAL (VALUES
        |    ('returnflag', l_returnflag), ('linestatus', l_linestatus),
        |    ('linenumber', CAST(l_linenumber AS VARCHAR)),
        |    ('disc_pct', CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR)))
        |    AS f(feature, x)),
        |cells AS (SELECT feature, x, count(*)::BIGINT AS c
        |  FROM st GROUP BY 1, 2),
        |fn AS (SELECT feature, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_distinct
        |  FROM cells GROUP BY 1)
        |SELECT feature, n_distinct,
        |  sum((c * CAST(round(ln(n::DOUBLE / c::DOUBLE) * 1000000) AS BIGINT))
        |    // n)::BIGINT AS entropy_micro
        |FROM cells JOIN fn USING (feature)
        |GROUP BY feature, n_distinct
        |ORDER BY entropy_micro DESC, feature""".stripMargin,
    "q_chi2_select" ->
      s"""WITH st AS MATERIALIZED (
         |  SELECT f.feature, f.x, CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS y
         |  FROM lineitem, LATERAL (VALUES
         |    ('returnflag', l_returnflag), ('linestatus', l_linestatus),
         |    ('linenumber', CAST(l_linenumber AS VARCHAR)),
         |    ('disc_pct', CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR)))
         |    AS f(feature, x)),
         |cells AS MATERIALIZED (SELECT feature, x, y, count(*)::HUGEINT AS c_xy
         |  FROM st GROUP BY 1, 2, 3),
         |fx AS (SELECT feature, x, sum(c_xy) AS c_x FROM cells GROUP BY 1, 2),
         |fy AS (SELECT feature, y, sum(c_xy) AS c_y FROM cells GROUP BY 1, 2),
         |fn AS (SELECT feature, sum(c_xy) AS n, count(DISTINCT x) AS nx,
         |    count(DISTINCT y) AS ny FROM cells GROUP BY 1),
         |dv AS (SELECT fx.feature, fn.nx, fn.ny,
         |    coalesce(c.c_xy, 0) * fn.n - fx.c_x * fy.c_y AS dev,
         |    fn.n * fx.c_x * fy.c_y AS dd
         |  FROM fx JOIN fy USING (feature)
         |  LEFT JOIN cells c ON c.feature = fx.feature AND c.x = fx.x AND c.y = fy.y
         |  JOIN fn USING (feature)),
         |cc AS (SELECT feature, nx, ny,
         |    ((dev * dev) // dd) * 1000000
         |      + (((dev * dev) % dd) * 1000000) // dd AS cell
         |  FROM dv),
         |agg AS (SELECT feature, count(*)::BIGINT AS n_cells,
         |    ((nx - 1) * (ny - 1))::BIGINT AS df, sum(cell)::BIGINT AS chi2_micro
         |  FROM cc GROUP BY feature, nx, ny)
         |SELECT feature, n_cells, df, chi2_micro,
         |  ${chi2VerdictCase("chi2_micro", "df")}
         |    AS significant
         |FROM agg ORDER BY chi2_micro DESC, feature""".stripMargin,
    "q_cramers_v" ->
      """WITH st AS MATERIALIZED (
        |  SELECT f.feature, f.x, CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END AS y
        |  FROM lineitem, LATERAL (VALUES
        |    ('returnflag', l_returnflag), ('linestatus', l_linestatus),
        |    ('linenumber', CAST(l_linenumber AS VARCHAR)),
        |    ('disc_pct', CAST(CAST(round(l_discount * 100) AS INT) AS VARCHAR)))
        |    AS f(feature, x)),
        |cells AS MATERIALIZED (SELECT feature, x, y, count(*)::HUGEINT AS c_xy
        |  FROM st GROUP BY 1, 2, 3),
        |fx AS (SELECT feature, x, sum(c_xy) AS c_x FROM cells GROUP BY 1, 2),
        |fy AS (SELECT feature, y, sum(c_xy) AS c_y FROM cells GROUP BY 1, 2),
        |fn AS (SELECT feature, sum(c_xy) AS n, count(DISTINCT x) AS nx,
        |    count(DISTINCT y) AS ny FROM cells GROUP BY 1),
        |dv AS (SELECT fx.feature, fn.nx, fn.ny,
        |    coalesce(c.c_xy, 0) * fn.n - fx.c_x * fy.c_y AS dev,
        |    fn.n * fx.c_x * fy.c_y AS dd
        |  FROM fx JOIN fy USING (feature)
        |  LEFT JOIN cells c ON c.feature = fx.feature AND c.x = fx.x AND c.y = fy.y
        |  JOIN fn USING (feature)),
        |cc AS (SELECT feature, nx, ny,
        |    ((dev * dev) // dd) * 1000000
        |      + (((dev * dev) % dd) * 1000000) // dd AS cell
        |  FROM dv),
        |agg AS (SELECT feature, nx, ny,
        |    ((nx - 1) * (ny - 1))::BIGINT AS df, sum(cell)::BIGINT AS chi2_micro
        |  FROM cc GROUP BY feature, nx, ny)
        |SELECT a.feature, a.df, a.chi2_micro,
        |  (a.chi2_micro // (fn.n * (least(a.nx, a.ny) - 1)))::BIGINT AS v2_micro
        |FROM agg a JOIN fn USING (feature)
        |ORDER BY v2_micro DESC, feature""".stripMargin,
    "q_cochran_armitage" ->
      s"""WITH cat AS (SELECT CAST(round(l_discount * 100) AS INT) AS w,
         |    count(*)::BIGINT AS n,
         |    sum(CASE WHEN l_quantity > 25 THEN 1 ELSE 0 END)::BIGINT AS r
         |  FROM lineitem GROUP BY 1),
         |agg AS (SELECT count(*)::BIGINT AS k, sum(n)::BIGINT AS nn,
         |    sum(r)::BIGINT AS rr, sum(n::HUGEINT * w * w) AS a,
         |    sum(n::HUGEINT * w) AS b, sum(r::HUGEINT * w) AS rw
         |  FROM cat),
         |tv AS (SELECT k, nn AS n, rr AS r, rw * nn - b * rr AS t,
         |    nn::HUGEINT * a - b * b AS vw FROM agg),
         |z AS (SELECT k, n, r,
         |    (CASE WHEN r = 0 OR r = n OR vw = 0 THEN 0
         |      ELSE (abs(t) * 1000 // vw)
         |         * ((abs(t) * 1000 * n) // (r::HUGEINT * (n - r)))
         |      END)::BIGINT AS z2_micro
         |  FROM tv)
         |SELECT k, n, r, z2_micro,
         |  z2_micro > ${Chi2Crit95Micro.head._2} AS trending
         |FROM z""".stripMargin,
    "q_cohens_kappa" ->
      """WITH t AS (SELECT
        |    CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS r1,
        |    CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) > 60
        |      THEN 1 ELSE 0 END AS r2
        |  FROM documents),
        |cen AS (SELECT
        |    sum(CASE WHEN r1 = 1 AND r2 = 1 THEN 1 ELSE 0 END)::BIGINT AS ca,
        |    sum(CASE WHEN r1 = 1 AND r2 = 0 THEN 1 ELSE 0 END)::BIGINT AS cb,
        |    sum(CASE WHEN r1 = 0 AND r2 = 1 THEN 1 ELSE 0 END)::BIGINT AS cc,
        |    sum(CASE WHEN r1 = 0 AND r2 = 0 THEN 1 ELSE 0 END)::BIGINT AS cd
        |  FROM t),
        |e AS (SELECT ca, cb, cc, cd, (ca + cb + cc + cd)::HUGEINT AS n,
        |    (ca + cb)::HUGEINT * (ca + cc) + (cc + cd)::HUGEINT * (cb + cd) AS pe
        |  FROM cen)
        |SELECT ca AS a, cb AS b, cc AS c, cd AS d,
        |  (CASE WHEN n * n = pe THEN NULL
        |    ELSE ((n * (ca + cd) - pe) * 10000) // (n * n - pe)
        |    END)::BIGINT AS kappa_bp,
        |  (CASE WHEN (ca+cb) = 0 OR (ca+cc) = 0 OR (cb+cd) = 0 OR (cc+cd) = 0
        |    THEN NULL
        |    ELSE (CASE WHEN ca::HUGEINT * cd - cb::HUGEINT * cc < 0
        |      THEN -1 ELSE 1 END)
        |     * ((ca::HUGEINT * cd - cb::HUGEINT * cc)
        |        * (ca::HUGEINT * cd - cb::HUGEINT * cc) * 1000000)
        |       // ((ca+cb)::HUGEINT * (ca+cc) * (cb+cd) * (cc+cd))
        |    END)::BIGINT AS mcc2_signed_micro
        |FROM e""".stripMargin,
    "q_fd_violations" -> {
      def one(name: String, table: String, lhs: String, rhs: String) =
        s"""SELECT '$name' AS fd, count(*)::BIGINT AS n_groups,
           |  sum(CASE WHEN k > 1 THEN 1 ELSE 0 END)::BIGINT AS n_violating,
           |  max(k)::BIGINT AS max_variants,
           |  coalesce(sum(CASE WHEN k > 1 THEN n END), 0)::BIGINT
           |    AS rows_in_violating
           |FROM (SELECT $lhs, count(DISTINCT $rhs) AS k, count(*) AS n
           |  FROM $table GROUP BY $lhs)""".stripMargin
      Seq(
        one("customer: nationkey->mktsegment", "customer",
          "c_nationkey", "c_mktsegment"),
        one("orders: custkey->orderpriority", "orders",
          "o_custkey", "o_orderpriority"),
        one("part: brand->type", "part", "p_brand", "p_type"),
        one("part: type->size", "part", "p_type", "p_size"))
        .mkString("SELECT *, CASE WHEN n_violating = 0 THEN 'yes' ELSE 'no' END AS holds FROM (\n",
          "\nUNION ALL\n", "\n) ORDER BY fd")
    },
    "q_benford" ->
      s"""WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
         |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
         |  FROM orders WHERE round(o_totalprice * 100) > 0),
         |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY digit),
         |t AS (SELECT sum(n)::BIGINT AS total FROM c),
         |e(digit, benford_bp) AS (VALUES ${DataQuality.BenfordBp
          .map { case (d, bp) => s"($d, ${bp}::BIGINT)" }.mkString(", ")})
         |SELECT c.digit, c.n, (c.n * 10000) // t.total AS share_bp,
         |  e.benford_bp,
         |  (c.n * 10000) // t.total - e.benford_bp AS dev_bp
         |FROM c CROSS JOIN t JOIN e ON c.digit = e.digit
         |ORDER BY c.digit""".stripMargin,
    "q_hellinger" ->
      s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    CAST(round(o_totalprice * 100) AS BIGINT) // $PsiBucketCents
         |      AS bucket
         |  FROM orders),
         |b AS (SELECT min(d) + (date_diff('day', min(d), max(d)) // 2)
         |    * INTERVAL '1 day' AS cut_d
         |  FROM o),
         |c AS (SELECT bucket,
         |    sum(CASE WHEN d < cut_d THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN d >= cut_d THEN 1 ELSE 0 END)::BIGINT AS c2
         |  FROM o CROSS JOIN b GROUP BY bucket),
         |t AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
         |    count(*)::BIGINT AS nb FROM c),
         |aff AS (SELECT round(sqrt(((c1::DOUBLE + 1.0) / (n1 + nb))
         |    * ((c2::DOUBLE + 1.0) / (n2 + nb))) * 1000000)::BIGINT AS a
         |  FROM c CROSS JOIN t)
         |SELECT count(*)::BIGINT AS n_buckets, sum(a)::BIGINT AS affinity_micro,
         |  greatest(0, 1000000 - sum(a))::BIGINT AS h2_micro
         |FROM aff""".stripMargin,
    "q_psi_drift" ->
      s"""WITH o AS (SELECT CAST(o_orderdate AS DATE) AS d,
         |    CAST(round(o_totalprice * 100) AS BIGINT) // $PsiBucketCents
         |      AS bucket
         |  FROM orders),
         |b AS (SELECT min(d) + (date_diff('day', min(d), max(d)) // 2)
         |    * INTERVAL '1 day' AS cut_d
         |  FROM o),
         |c AS (SELECT bucket,
         |    sum(CASE WHEN d < cut_d THEN 1 ELSE 0 END)::BIGINT AS c1,
         |    sum(CASE WHEN d >= cut_d THEN 1 ELSE 0 END)::BIGINT AS c2
         |  FROM o CROSS JOIN b GROUP BY bucket),
         |t AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
         |    count(*)::BIGINT AS nb FROM c)
         |SELECT bucket, c1, c2,
         |  round(((c1 + 1.0) / (n1 + nb) - (c2 + 1.0) / (n2 + nb)) *
         |    ln(((c1 + 1.0) / (n1 + nb)) / ((c2 + 1.0) / (n2 + nb))), 6)
         |    AS psi_contrib
         |FROM c CROSS JOIN t ORDER BY bucket""".stripMargin,
    "q_data_quality" ->
      """WITH os AS (SELECT
        |    (count(*) - count(DISTINCT o_orderkey))::BIGINT AS pk_dup,
        |    sum(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)::BIGINT AS price_neg,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '1992-01-01'
        |      OR o_orderdate > TIMESTAMP '1998-12-31' THEN 1 ELSE 0 END)::BIGINT
        |      AS date_range,
        |    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)::BIGINT
        |      AS status_domain
        |  FROM orders),
        |cs AS (SELECT
        |    sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END)::BIGINT AS bal_null,
        |    (count(*) - count(DISTINCT c_custkey))::BIGINT AS pk_dup
        |  FROM customer),
        |oo AS (SELECT count(*)::BIGINT AS n FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |ol AS (SELECT count(*)::BIGINT AS n FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |r AS (
        |  SELECT 'customer_acctbal_null' AS check, bal_null AS n_violations FROM cs
        |  UNION ALL SELECT 'customer_pk_unique', pk_dup FROM cs
        |  UNION ALL SELECT 'lineitem_orderkey_fk', n FROM ol
        |  UNION ALL SELECT 'orders_custkey_fk', n FROM oo
        |  UNION ALL SELECT 'orders_date_range', date_range FROM os
        |  UNION ALL SELECT 'orders_pk_unique', pk_dup FROM os
        |  UNION ALL SELECT 'orders_status_domain', status_domain FROM os
        |  UNION ALL SELECT 'orders_totalprice_nonneg', price_neg FROM os)
        |SELECT "check", n_violations,
        |  CASE WHEN n_violations = 0 THEN 'pass' ELSE 'fail' END AS status
        |FROM r ORDER BY "check"""".stripMargin)
}
