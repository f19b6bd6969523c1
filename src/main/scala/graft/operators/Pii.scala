package graft.operators

import graft.GateUtil._
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** PII detection and redaction — the corpus-scrubbing pass a training
  * pipeline runs before anything else sees the text (the recognizer
  * approach of presidio-style scrubbers, pattern subset chosen to parse
  * identically under Java regex (Spark) and RE2 (DuckDB): no
  * backreferences, no lookaround).
  *
  * Everything is per-row codegen'd regexp inside the scan stage — one
  * map-side pass, no shuffle at any corpus size; the per-source rollup
  * is a tiny partial+final aggregate.
  *
  * Redaction order matters where patterns overlap (a 16-digit card
  * number contains phone-shaped runs): cards are replaced before
  * phones, emails before bare IPv4s (a domain can embed digits).
  */
object Pii {
  val KaK = 5L // the k in "rows re-identifiable below k-anonymity k"
  val KaL = 2L // the l in l-diversity

  /** k-anonymity / l-diversity audit — the quantitative privacy check
    * that complements [[piiScan]]'s pattern matching (PII scan finds
    * direct identifiers; THIS measures re-identification risk from
    * QUASI-identifiers): customers grouped by the QI tuple
    * (nation, $1k balance bucket), k = equivalence-class size,
    * l = distinct sensitive values (market segment) per class. Reports
    * the class census: min k, rows/classes below k=[[KaK]], min l,
    * classes below l=[[KaL]] — all exact integers.
    *
    * Scale: one partial+final QI rollup (with a distinct-count on the
    * sensitive column), then a 1-row census — the QI class table is
    * bounded by the QI domain, never by row count. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = graft.Tables.customer(spark, dir)
      .selectExpr("c_nationkey AS qi1",
        "CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000 AS qi2",
        "c_mktsegment AS sens")
      .groupBy("qi1", "qi2")
      .agg(count(lit(1)).as("k"), countDistinct("sens").as("l"))
    classes.agg(
      sum("k").as("n_rows"),
      count(lit(1)).as("n_classes"),
      min("k").as("min_k"),
      sum(when(col("k") < KaK, col("k")).otherwise(0L)).as("rows_below_k"),
      sum(when(col("k") < KaK, 1L).otherwise(0L)).as("classes_below_k"),
      min("l").as("min_l"),
      sum(when(col("l") < KaL, 1L).otherwise(0L)).as("classes_below_l"))
  }

  val TcBp = 3000L // flag classes farther than t = 0.30 from the global mix

  /** t-closeness audit — the third rung of the privacy ladder after
    * [[kAnonymity]]'s k and l (l-diversity demands ≥l distinct sensitive
    * values per class; t-closeness bounds how far the class's sensitive
    * DISTRIBUTION may drift from the global one, closing the
    * skewness/similarity attacks l-diversity misses): per QI class the
    * variational distance t = ½Σ_s|p_s − q_s| in exact basis points —
    * t_bp = (10⁴·Σ_s|c_s·N − g_s·n|) DIV (2·n·N) with every intermediate
    * in DECIMAL(38,0) (c_s·N reaches n·N — the n² headroom class), the
    * sum over the FULL sensitive domain so absent segments contribute
    * their whole global mass. Output census: classes, max t, mean t,
    * classes above [[TcBp]].
    *
    * Scale: one (QI, sens) rollup bounded by |QI classes|·|segments|,
    * a |segments|-row broadcast, a 1-row total broadcast, and a
    * classes×segments grid — never anything row-sized. */
  def tCloseness(spark: SparkSession, dir: String): DataFrame = pinned { implicit s =>
    // feeds the grid, globals, and class sizes
    val cells = s.checkpoint(Tables.customer(spark, dir).selectExpr(
        "c_nationkey AS qi1",
        "CAST(round(c_acctbal * 100) AS BIGINT) DIV 100000 AS qi2",
        "c_mktsegment AS sens")
      .groupBy("qi1", "qi2", "sens").agg(count(lit(1)).as("c")))
    val glob = cells.groupBy("sens").agg(sum("c").as("g"))
    val tot = glob.agg(sum("g").as("nn"))
    val classes = cells.groupBy("qi1", "qi2").agg(sum("c").as("n"))
    classes.crossJoin(broadcast(glob))
      .join(cells, Seq("qi1", "qi2", "sens"), "left")
      .crossJoin(broadcast(tot))
      .selectExpr("qi1", "qi2", "n", "nn",
        """abs(CAST(coalesce(c, 0) AS DECIMAL(38,0)) * nn
          | - CAST(g AS DECIMAL(38,0)) * n) AS dev""".stripMargin)
      .groupBy("qi1", "qi2", "n", "nn").agg(sum("dev").as("sd"))
      .selectExpr(
        "CAST((sd * 10000) DIV (2 * CAST(n AS DECIMAL(38,0)) * nn) AS BIGINT) AS t_bp")
      .agg(count(lit(1)).as("n_classes"), max("t_bp").as("max_t_bp"),
        expr("CAST(sum(t_bp) DIV count(1) AS BIGINT)").as("mean_t_bp"),
        sum(when(col("t_bp") > TcBp, 1L).otherwise(0L)).as("classes_above_t"))
  }

  type Q = (SparkSession, String) => DataFrame

  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"
  val CardRe = "\\b\\d{4}[- ]?\\d{4}[- ]?\\d{4}[- ]?\\d{1,4}\\b"
  val PhoneRe = "\\+?\\d{1,3}[-. ]?\\(?\\d{3}\\)?[-. ]?\\d{3}[-. ]?\\d{4}"

  /** (kind, pattern, replacement tag) in redaction order. */
  val Recognizers: Seq[(String, String, String)] = Seq(
    ("emails", EmailRe, "[EMAIL]"),
    ("ips", Ipv4Re, "[IP]"),
    ("cards", CardRe, "[CARD]"),
    ("phones", PhoneRe, "[PHONE]"))

  /** Adds one `n_<kind>` count column per recognizer plus `redacted`
    * (tags substituted in redaction order) to any frame with `textCol`. */
  def redact(df: DataFrame, textCol: String): DataFrame = {
    val counted = Recognizers.foldLeft(df) { case (acc, (kind, re, _)) =>
      acc.withColumn(s"n_$kind", regexp_count(col(textCol), lit(re)))
    }
    val red = Recognizers.foldLeft(col(textCol)) { case (c, (_, re, tag)) =>
      regexp_replace(c, re, tag)
    }
    counted.withColumn("redacted", red)
  }

  /** Per-source PII scan over `documents`. The synthetic corpus is
    * clean, so this gate pins the zero-signal path cross-engine (both
    * engines must find nothing); the positive path — counts and actual
    * redaction on PII-bearing fixtures — is pinned by PiiSpec. */
  def piiScan(spark: SparkSession, dir: String): DataFrame =
    redact(Tables.documents(spark, dir), "text")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_emails").as("n_emails"),
        sum("n_ips").as("n_ips"),
        sum("n_cards").as("n_cards"),
        sum("n_phones").as("n_phones"))
      .orderBy("source")

  /** Positive-path redaction gate: deterministically inject an email +
    * phone into every third document (synthesized from doc_id, so both
    * engines build the identical string), redact, and pin the *redacted
    * text itself* cross-engine via a summed 56-bit content hash — the
    * gate fails if either engine's regex replaces one character
    * differently. Complements q_pii_scan, which pins the zero-signal
    * path on the clean corpus.
    *
    * Scale: injection + redaction are per-row codegen'd expressions in
    * the scan stage; the rollup is a tiny partial+final aggregate. The
    * checksum folds each hash mod 10⁹+7 before summing so the per-source
    * sum stays far from Long range at any corpus size. */
  def piiRedact(spark: SparkSession, dir: String): DataFrame = {
    val injected = Tables.documents(spark, dir)
      .withColumn("text2", when(col("doc_id") % 3 === 0,
        concat(col("text"), lit(" reach user"),
          col("doc_id").cast("string"), lit("@example.com or +1 555 867 "),
          lpad((col("doc_id") * 7919 % 10000).cast("string"), 4, "0")))
        .otherwise(col("text")))
    redact(injected, "text2")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n_emails") + col("n_ips") + col("n_cards")
          + col("n_phones") > 0, 1L).otherwise(0L)).as("docs_with_pii"),
        sum("n_emails").as("n_emails"),
        sum("n_phones").as("n_phones"),
        sum(graft.functions.TextFns.hash56(col("redacted")) % 1000000007L)
          .as("redacted_sum"))
      .orderBy("source")
  }

  val ForgetMod = 97L

  /** Right-to-be-forgotten cascade census — the GDPR/CCPA deletion
    * dry-run every compliance pipeline needs BEFORE it mutates: given a
    * tombstone set (customers ≡ 0 mod [[ForgetMod]] — production feeds
    * a request table), count the rows each table would lose (customer
    * rows, their orders, those orders' line items) and prove referential
    * closure (zero orphaned lineitems AFTER the simulated cascade —
    * lineitems of non-deleted orders whose customer IS deleted cannot
    * exist by construction, and the gate pins it).
    *
    * Scale: two broadcast-or-shuffle semi-join counts along the FK
    * chain — the deletion itself would be the same joins as
    * anti-joins; nothing materializes deleted ROWS. */
  def forgetCascade(spark: SparkSession, dir: String): DataFrame = {
    val tomb = Tables.customer(spark, dir)
      .filter(pmod(col("c_custkey"), lit(ForgetMod)) === 0)
      .select(col("c_custkey").as("tk"))
    val nCust = tomb.count()
    val doomedOrders = Tables.orders(spark, dir)
      .join(tomb, col("o_custkey") === col("tk"), "left_semi")
      .select("o_orderkey")
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        expr("CAST(round(l_extendedprice * 100) AS LONG)").as("cents"))
    val nOrd = doomedOrders.count()
    val liTot = li.agg(count(lit(1)), sum("cents")).head()
    val (nLiAll, centsAll) = (liTot.getLong(0), liTot.getLong(1))
    val doomedLi = li.join(doomedOrders,
      col("l_orderkey") === col("o_orderkey"), "left_semi")
      .agg(count(lit(1)), coalesce(sum("cents"), lit(0L))).head()
    val (nLi, cents) = (doomedLi.getLong(0), doomedLi.getLong(1))
    val spark2 = spark
    import spark2.implicits._
    Seq((nCust, nOrd, nLi, cents, nLi * 10000L / nLiAll,
      cents * 10000L / centsAll))
      .toDF("n_customers", "n_orders", "n_lineitems", "forgotten_cents",
        "li_share_bp", "cents_share_bp")
  }

  val DpEpsilonMicro = 1000000L // ε = 1 (b = 1/ε = 1)

  /** Differentially-private count census — the RELEASE mechanism next
    * to the measurement ops ([[kAnonymity]] measures risk; this one
    * actually publishes): per nation the customer count plus Laplace(1/ε)
    * noise, with the noise SEEDED from the group key (u = hash56 of a
    * salted key / 2⁵⁶ → inverse-CDF −b·sign(u−½)·ln(1−2|u−½|)) so the
    * release is reproducible and the DuckDB oracle replays the identical
    * doubles — the determinism is in the HARNESS, not a weakening of the
    * mechanism (a production run would swap the salt per release). True
    * counts are NOT emitted; floors at 0.
    *
    * Scale: one dimension rollup bounded by the nation domain + a
    * map-side noise expression. */
  def dpCounts(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_nationkey").as("nation"))
      .agg(count(lit(1)).as("c"))
      .selectExpr("nation",
        s"""CAST(conv(substring(md5(concat('dp#', CAST(nation AS STRING))), 1, 14), 16, 10)
           | AS DOUBLE) / 72057594037927936.0 AS u""".stripMargin,
        "c")
      .selectExpr("nation",
        """GREATEST(CAST(0 AS BIGINT), c + CAST(round(
          | -(CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
          | * ln(1 - 2 * abs(u - 0.5))) AS BIGINT)) AS noisy_count""".stripMargin,
        s"CAST($DpEpsilonMicro AS BIGINT) AS epsilon_micro")
      .orderBy("nation")

  val queries: Map[String, Q] = Map(
    "q_dp_counts" -> (dpCounts _),
    "q_forget_cascade" -> (forgetCascade _),
    "q_pii_scan" -> (piiScan _),
    "q_pii_redact" -> (piiRedact _),
    "q_k_anonymity" -> (kAnonymity _),
    "q_t_closeness" -> (tCloseness _))

  val oracles: Map[String, String] = Map(
    "q_dp_counts" ->
      s"""WITH g AS (SELECT c_nationkey AS nation, count(*)::BIGINT AS c
         |  FROM customer GROUP BY 1),
         |u AS (SELECT nation, c,
         |    ('0x' || substr(md5('dp#' || nation::VARCHAR), 1, 14))::UBIGINT::DOUBLE
         |      / 72057594037927936.0 AS u
         |  FROM g)
         |SELECT nation,
         |  greatest(0, c + round(
         |    -(CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END)
         |    * ln(1 - 2 * abs(u - 0.5)))::BIGINT)::BIGINT AS noisy_count,
         |  $DpEpsilonMicro::BIGINT AS epsilon_micro
         |FROM u ORDER BY nation""".stripMargin,
    "q_forget_cascade" ->
      s"""WITH tomb AS (SELECT c_custkey AS tk FROM customer
         |  WHERE c_custkey % $ForgetMod = 0),
         |dord AS (SELECT o_orderkey FROM orders SEMI JOIN tomb
         |  ON o_custkey = tk),
         |li AS (SELECT l_orderkey,
         |    CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
         |  FROM lineitem),
         |tot AS (SELECT count(*)::BIGINT AS n_all, sum(cents)::BIGINT AS c_all
         |  FROM li),
         |dli AS (SELECT count(*)::BIGINT AS n_li,
         |    coalesce(sum(cents), 0)::BIGINT AS cents
         |  FROM li SEMI JOIN dord ON l_orderkey = o_orderkey)
         |SELECT (SELECT count(*) FROM tomb)::BIGINT AS n_customers,
         |  (SELECT count(*) FROM dord)::BIGINT AS n_orders,
         |  n_li AS n_lineitems, cents AS forgotten_cents,
         |  (n_li * 10000 // n_all)::BIGINT AS li_share_bp,
         |  (cents * 10000 // c_all)::BIGINT AS cents_share_bp
         |FROM dli CROSS JOIN tot""".stripMargin,
    "q_k_anonymity" ->
      s"""WITH cls AS (SELECT c_nationkey AS qi1,
         |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS qi2,
         |    count(*)::BIGINT AS k,
         |    count(DISTINCT c_mktsegment)::BIGINT AS l
         |  FROM customer GROUP BY 1, 2)
         |SELECT sum(k)::BIGINT AS n_rows, count(*)::BIGINT AS n_classes,
         |  min(k)::BIGINT AS min_k,
         |  sum(CASE WHEN k < $KaK THEN k ELSE 0 END)::BIGINT AS rows_below_k,
         |  sum(CASE WHEN k < $KaK THEN 1 ELSE 0 END)::BIGINT AS classes_below_k,
         |  min(l)::BIGINT AS min_l,
         |  sum(CASE WHEN l < $KaL THEN 1 ELSE 0 END)::BIGINT AS classes_below_l
         |FROM cls""".stripMargin,
    "q_t_closeness" ->
      s"""WITH cells AS (SELECT c_nationkey AS qi1,
         |    CAST(round(c_acctbal * 100) AS BIGINT) // 100000 AS qi2,
         |    c_mktsegment AS sens, count(*)::HUGEINT AS c
         |  FROM customer GROUP BY 1, 2, 3),
         |gsens AS (SELECT sens, sum(c) AS g FROM cells GROUP BY sens),
         |tot AS (SELECT sum(g) AS nn FROM gsens),
         |cls AS (SELECT qi1, qi2, sum(c) AS n FROM cells GROUP BY 1, 2),
         |grid AS (SELECT cls.qi1, cls.qi2, cls.n, tot.nn,
         |    abs(coalesce(ce.c, 0) * tot.nn - gsens.g * cls.n) AS dev
         |  FROM cls CROSS JOIN gsens
         |  LEFT JOIN cells ce ON ce.qi1 = cls.qi1 AND ce.qi2 = cls.qi2
         |    AND ce.sens = gsens.sens
         |  CROSS JOIN tot),
         |t AS (SELECT qi1, qi2,
         |    ((sum(dev) * 10000) // (2 * n * nn))::BIGINT AS t_bp
         |  FROM grid GROUP BY qi1, qi2, n, nn)
         |SELECT count(*)::BIGINT AS n_classes, max(t_bp)::BIGINT AS max_t_bp,
         |  (sum(t_bp) // count(*))::BIGINT AS mean_t_bp,
         |  sum(CASE WHEN t_bp > $TcBp THEN 1 ELSE 0 END)::BIGINT
         |    AS classes_above_t
         |FROM t""".stripMargin,
    "q_pii_redact" -> {
      val red = Recognizers.foldLeft("text2") { case (e, (_, re, tag)) =>
        s"regexp_replace($e, '$re', '$tag', 'g')"
      }
      val counts = Recognizers.map { case (kind, re, _) =>
        s"len(regexp_extract_all(text2, '$re'))::BIGINT AS n_$kind"
      }.mkString(",\n    ")
      s"""WITH inj AS (
         |  SELECT source, CASE WHEN doc_id % 3 = 0 THEN
         |      text || ' reach user' || CAST(doc_id AS VARCHAR)
         |        || '@example.com or +1 555 867 '
         |        || lpad(CAST(doc_id * 7919 % 10000 AS VARCHAR), 4, '0')
         |    ELSE text END AS text2
         |  FROM documents),
         |r AS (SELECT source, $counts,
         |    ${graft.functions.TextFns.hash56Sql(red)} % 1000000007 AS h
         |  FROM inj)
         |SELECT source, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN n_emails + n_ips + n_cards + n_phones > 0
         |    THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii,
         |  sum(n_emails)::BIGINT AS n_emails,
         |  sum(n_phones)::BIGINT AS n_phones,
         |  sum(h)::BIGINT AS redacted_sum
         |FROM r GROUP BY source ORDER BY source""".stripMargin
    },
    "q_pii_scan" -> {
      val sums = Recognizers.map { case (kind, re, _) =>
        s"sum(len(regexp_extract_all(text, '$re')))::BIGINT AS n_$kind"
      }.mkString(",\n  ")
      s"""SELECT source, count(*)::BIGINT AS n_docs,
         |  $sums
         |FROM documents GROUP BY source ORDER BY source""".stripMargin
    })
}
