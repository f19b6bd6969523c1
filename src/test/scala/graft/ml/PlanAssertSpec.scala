package graft.ml

import graft.SparkSpec
import graft.functions.VectorFns._
import org.apache.spark.sql.functions._

/** Machine-checked physical-plan assertions for the operators whose
  * 100 TB viability depends on plan SHAPE, not just results: the
  * DBSCAN eps-joins (hash join on the cell key, salted or not), brute
  * kneighbors (broadcast the bounded QUERY side only), the star join
  * (broadcast only the constant-size dims, shuffle the growing ones),
  * and the bucketed join (zero exchange — enforced inside the query).
  *
  * Auto-broadcast and AQE are disabled inside each test so the asserts
  * see the structural plan, not what tiny test inputs happen to allow. */
class PlanAssertSpec extends SparkSpec {

  private def withStructuralPlans[T](f: => T): T = {
    val conf = spark.conf
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = conf.get("spark.sql.adaptive.enabled")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    conf.set("spark.sql.adaptive.enabled", "false")
    try f finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
      conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  private def noAllPairs(plan: String, what: String): Unit =
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"$what must never plan an all-pairs join, got:\n$plan")

  test("DBSCAN eps-joins are cell-key hash joins, unsalted and salted") {
    val spark2 = spark
    import spark2.implicits._
    val pts = (0 until 200).map(i => (i.toLong, Array(0.001 * i, 0.002 * i), s"${i % 5},0"))
    val own = pts.toDF("id", "v", "cell")
    val halo = pts.toDF("id", "v", "cell")
    withStructuralPlans {
      val cond = col("a.id") =!= col("b.id") &&
        sqDist(col("a.v"), col("b.v")) <= lit(0.01)
      val unsalted = DbscanGraft.epsPairJoin(own, halo, None, cond)
      noAllPairs(unsalted.queryExecution.executedPlan.toString, "DBSCAN eps-join (unsalted)")
      val salts = DbscanGraft.cellSalts(halo, budget = 100L)
      assert(salts.isDefined)
      val salted = DbscanGraft.epsPairJoin(own, halo, salts, cond)
      noAllPairs(salted.queryExecution.executedPlan.toString, "DBSCAN eps-join (salted)")
    }
  }

  test("kneighbors at large k broadcasts the query side, one exchange total") {
    val spark2 = spark
    import spark2.implicits._
    val rng = new java.util.Random(3)
    val fitDf = Seq.tabulate(2000)(i => (i.toLong, Array.fill(8)(rng.nextDouble()))).toDF("id", "v")
    val qDf = Seq.tabulate(50)(i => (i.toLong, Array.fill(8)(rng.nextDouble()))).toDF("id", "v")
    withStructuralPlans {
      val out = Neighbors.kneighbors(fitDf, qDf, "id", "v", k = 300)
      val plan = out.queryExecution.executedPlan.toString
      // brute ANN is a cross product BY DESIGN — the structural demand is
      // that the bounded query set is the broadcast (build) side, so the
      // big fit side streams without replication at any k
      assert(plan.contains("BroadcastNestedLoopJoin") && plan.contains("BuildRight"),
        s"query side must be the broadcast side:\n$plan")
      // one SHUFFLE exchange (the per-query window); the BroadcastExchange
      // of the query side is the intended plan, not a shuffle
      val shuffles = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") || l.contains("Exchange rangepartitioning"))
      assert(shuffles == 1,
        s"exactly one shuffle (the per-query window), got $shuffles:\n$plan")
      // and the top-k is pruned map-side before that shuffle
      assert(plan.contains("WindowGroupLimit") && plan.contains("Partial"),
        s"expected partial window-group-limit pushdown:\n$plan")
    }
  }

  test("star join broadcasts only nation/region; fact-side joins shuffle") {
    withStructuralPlans {
      val df = graft.operators.Relational.starJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val bhjLines = plan.linesIterator.filter(_.contains("BroadcastHashJoin")).toSeq
      assert(bhjLines.size == 2, s"exactly the two hinted dims broadcast:\n$plan")
      assert(bhjLines.exists(_.contains("n_nationkey")) && bhjLines.exists(_.contains("r_regionkey")),
        s"broadcasts must be nation and region:\n${bhjLines.mkString("\n")}")
      // lineitem⋈orders and orders⋈customer grow with the fact table →
      // they must be shuffle joins, never broadcast
      val smj = plan.linesIterator.count(_.contains("SortMergeJoin"))
      assert(smj == 2, s"the two fact-side joins must sort-merge, got $smj:\n$plan")
      noAllPairs(plan, "star join")
    }
  }

  /** Output column names of every shuffle exchange's child — what
    * actually crosses the wire, for asserting a column never shuffles. */
  private def shuffledColumns(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
    df.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.child.output.map(_.name).toSeq
    }

  test("rollup is one Expand over one scan, not one agg job per granularity") {
    withStructuralPlans {
      val df = graft.operators.Relational.rollupAgg(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.count(_.contains("Expand")) == 1,
        s"ROLLUP must plan exactly one Expand:\n$plan")
      assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
        s"ROLLUP must read the fact table exactly once:\n$plan")
    }
  }

  test("decontamination never shuffles document text — only (doc_id, shingle) pairs move") {
    withStructuralPlans {
      val df = graft.operators.Dedup.decontaminate(spark, "/root/testdata/sf0.001")
      val shuffled = shuffledColumns(df)
      assert(shuffled.nonEmpty, "expected the shingle joins to shuffle something")
      shuffled.foreach { cols =>
        assert(!cols.exists(c => c == "text" || c == "sh"),
          s"document text (or whole shingle arrays) must never shuffle, got: $cols")
      }
    }
  }

  test("sequence packing never plans a single-partition exchange or global window") {
    withStructuralPlans {
      val spark2 = spark
      import spark2.implicits._
      val docs = Seq.tabulate(500)(i => (i.toLong, Seq.fill(i % 7 + 1)("w").mkString(" ")))
        .toDF("doc_id", "text")
      // the real operator's per-document stage: global offsets must come
      // from the broadcast two-pass pattern, never a one-partition window
      val packed = graft.operators.TextAnalysis.packedFrame(docs, budget = 16L)
      val plan = packed.queryExecution.executedPlan.toString
      assert(!plan.contains("SinglePartition"),
        s"no single-partition funnel allowed:\n$plan")
      assert(!plan.contains("Window"),
        s"no window over a global ordering allowed:\n$plan")
      assert(packed.count() == 500L)
    }
  }

  test("segment dedup never shuffles text or segments — only 56-bit hashes move") {
    withStructuralPlans {
      val df = graft.operators.TextAnalysis.segmentDedup(spark, "/root/testdata/sf0.001")
      val shuffled = shuffledColumns(df)
      assert(shuffled.nonEmpty, "expected the frequency/group passes to shuffle something")
      shuffled.foreach { cols =>
        assert(!cols.exists(c => c == "text" || c == "w" || c == "seg"),
          s"text/word-array/segment strings must never shuffle, got: $cols")
      }
    }
  }

  test("tfidf top-k keeps a partial per-doc group-limit before the window shuffle") {
    withStructuralPlans {
      val df = graft.operators.TextAnalysis.tfidfTerms(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"rank<=k must plan a WindowGroupLimit:\n$plan")
      assert(plan.linesIterator.exists(l =>
          l.contains("WindowGroupLimit") && l.contains("Partial")),
        s"the group-limit must have a Partial (pre-shuffle) instance:\n$plan")
    }
  }

  test("skyline plans ZERO exchanges — both phases are in-partition sorts + sweeps") {
    withStructuralPlans {
      val df = graft.operators.Relational.skyline(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // the final orderBy of the tiny frontier is the only permitted
      // exchange; the sweeps themselves must not shuffle the input
      val shuffles = plan.linesIterator.filter(l => l.contains("Exchange")).toSeq
      assert(shuffles.forall(_.contains("rangepartitioning")),
        s"only the final frontier orderBy may exchange:\n$plan")
      assert(shuffles.size <= 1, s"at most the final-order exchange:\n$plan")
    }
  }

  test("triangle census joins are hash/merge joins; only 1-row aggregates cross-join") {
    val spark2 = spark
    import spark2.implicits._
    val edges = Seq.tabulate(300)(i => (i.toLong, (i + 1 + i % 7).toLong))
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct.toDF("a", "b")
    withStructuralPlans {
      val df = graft.operators.Graph.triangleCensusDf(edges)
      val plan = df.queryExecution.executedPlan.toString
      // r15: the degree/orientation joins moved into their own
      // checkpointed executions (computed once, not once per consumer);
      // the census plan itself keeps the wedge join + closing semi-join
      val smj = plan.linesIterator.count(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
      assert(smj >= 2,
        s"wedge join + closing semi-join must be keyed joins:\n$plan")
      // the two sanctioned cartesians combine single-row aggregate frames
      val allPairs = plan.linesIterator.count(l =>
        l.contains("CartesianProduct") || l.contains("BroadcastNestedLoopJoin"))
      assert(allPairs <= 2,
        s"only the two 1-row stat cross-joins may be unkeyed:\n$plan")
    }
  }

  test("cube is one Expand over one scan, all four granularities in one job") {
    withStructuralPlans {
      val df = graft.operators.Relational.cubeAgg(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.linesIterator.count(_.contains("Expand")) == 1,
        s"CUBE must plan exactly one Expand:\n$plan")
      assert(plan.linesIterator.count(_.contains("Scan parquet")) == 1,
        s"CUBE must read the fact table exactly once:\n$plan")
    }
  }

  test("stratified sample keeps a partial per-stratum group-limit before the shuffle") {
    withStructuralPlans {
      val spark2 = spark
      import spark2.implicits._
      val docs = Seq.tabulate(3000)(i =>
        (i.toLong, s"lang${i % 4}", Seq.fill(i % 9 + 1)("w").mkString(" ")))
        .toDF("doc_id", "lang", "text").repartition(6)
      val out = graft.operators.TextAnalysis.stratifiedSampleDf(docs, 5)
      val plan = out.queryExecution.executedPlan.toString
      // rank <= literal must plan WindowGroupLimit with a Partial mode
      // instance: each task prunes to k rows per stratum BEFORE the
      // stratum exchange — never a full per-stratum sort of the corpus
      assert(plan.contains("WindowGroupLimit"),
        s"expected window-group-limit pushdown:\n$plan")
      assert(plan.linesIterator.exists(l =>
          l.contains("WindowGroupLimit") && l.contains("Partial")),
        s"expected the map-side Partial group-limit:\n$plan")
      assert(out.count() == 20) // 4 strata × k=5
    }
  }

  test("token-budget selection range-partitions the quality ordering, no single-partition funnel") {
    withStructuralPlans {
      val spark2 = spark
      import spark2.implicits._
      val docs = Seq.tabulate(400)(i =>
        (i.toLong, s"src${i % 3}", (Seq.fill(i % 5 + 1)("w") ++ Seq(s"u$i")).mkString(" ")))
        .toDF("doc_id", "source", "text").repartition(5)
      val sortedDf = graft.operators.TextAnalysis.budgetSortedFrame(docs)
      val plan = sortedDf.queryExecution.executedPlan.toString
      assert(plan.contains("Exchange rangepartitioning"),
        s"quality ordering must ride a range partitioning:\n$plan")
      assert(!plan.contains("SinglePartition"),
        s"no single-partition funnel allowed:\n$plan")
      assert(!plan.contains("Window"),
        s"the prefix sum must not be a window over a global ordering:\n$plan")
    }
  }

  test("fuzzy join generates candidates only within blocks — equi-join, no BNLJ") {
    withStructuralPlans {
      val df = graft.operators.Relational.fuzzyJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      noAllPairs(plan, "fuzzy join")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"the block candidate join must be a hash/merge join:\n$plan")
    }
  }

  /** True iff every Window operator in the plan sits in one contiguous
    * chain with NO Exchange between the first and the last — i.e. all
    * windows reuse a single partitioning+sort instead of reshuffling. */
  private def windowsShareOnePartitioning(plan: String): Boolean = {
    val lines = plan.linesIterator.toVector
    val wIdx = lines.zipWithIndex.filter(_._1.contains("Window [")).map(_._2)
    wIdx.size >= 2 &&
      !lines.slice(wIdx.min + 1, wIdx.max).exists(_.contains("Exchange"))
  }

  test("SCD2's two windows share ONE exchange and sort on the entity key") {
    withStructuralPlans {
      val df = graft.operators.Temporal.scdType2(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val keyExchanges = plan.linesIterator.count(l =>
        l.contains("Exchange hashpartitioning") && l.contains("o_custkey"))
      assert(keyExchanges == 1,
        s"collapse+close windows must share one o_custkey exchange, got $keyExchanges:\n$plan")
      assert(plan.linesIterator.count(_.contains("Window [")) == 2,
        s"expected exactly the two windows:\n$plan")
      assert(windowsShareOnePartitioning(plan),
        s"no exchange may sit between the collapse and close windows:\n$plan")
    }
  }

  test("gap-fill interpolation windows share the series-key partitioning") {
    withStructuralPlans {
      val df = graft.operators.Temporal.gapFillInterp(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // the neighbor-frame windows (pv; pd+nv fused; nd) must ride ONE
      // series-key partitioning+sort — never an exchange per window
      assert(windowsShareOnePartitioning(plan),
        s"interpolation windows must share one partitioning:\n$plan")
      noAllPairs(plan, "gap-fill")
    }
  }

  test("bloom semi-join probes the filter below the fact-side shuffle") {
    withStructuralPlans {
      val df = graft.operators.Relational.bloomSemiJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan
      noAllPairs(plan.toString, "bloom semi-join")
      // the whole point: the bloom probe prunes the fact side BEFORE its
      // shuffle — some exchange's child subtree must contain the probe
      val exchanges = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }
      assert(exchanges.exists(_.child.toString.contains("bloom_might_contain")),
        s"bloom probe must run below the fact-side exchange:\n$plan")
      // the probe is a codegen'd Expression, NOT a Scala UDF — no eval
      // fence inside the probe-side scan stage
      assert(!plan.toString.contains("ScalaUDF") && !plan.toString.contains("UDF("),
        s"bloom probe must not be a Scala UDF:\n$plan")
      // and the exact semi-join still runs (false positives removed)
      assert(plan.toString.contains("LeftSemi"),
        s"exact semi-join must follow the probe:\n$plan")
    }
  }

  test("range join buckets the inequality — equi-join on the bucket, no BNLJ") {
    withStructuralPlans {
      val df = graft.operators.Relational.rangeJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      noAllPairs(plan, "range join")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"the bucket equi-join must be a hash/merge join:\n$plan")
    }
  }

  test("partition pruning: a filter on the partition column skips other partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-prune").toString
    try {
      val orders = graft.Tables.orders(spark, "/root/testdata/sf0.001")
      orders.write.partitionBy("o_orderpriority").mode("overwrite").parquet(dir)
      val read = spark.read.parquet(dir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_totalprice")
      val plan = read.queryExecution.executedPlan.toString
      // the partition predicate must land in PartitionFilters (file skip),
      // not survive as a post-scan Filter over all partitions
      assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
        s"filter must prune partitions:\n$plan")
      // column pruning: the scan reads only the projected columns
      assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
        s"scan must read only projected columns:\n$plan")
      val nUrgent = read.count()
      val nAll = spark.read.parquet(dir).count()
      assert(nUrgent > 0 && nUrgent < nAll)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("sorted-neighborhood window join is a keyed join on the block id — no BNLJ") {
    withStructuralPlans {
      val df = graft.operators.Relational.sortedNeighborhood(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      noAllPairs(plan, "sorted-neighborhood")
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"the blk candidate join must be a hash/merge join:\n$plan")
      // the block id must be integral: a fractional blk silently degrades
      // the window to exact-W-apart pairs (the round-6 bug)
      assert(df.count() > 0)
    }
  }

  test("winsorize broadcasts the 3x2 thresholds; the value column aggregates partial+final") {
    withStructuralPlans {
      val df = graft.operators.Relational.winsorize(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      noAllPairs(plan, "winsorize")
      // the explicit broadcast() of the per-group thresholds must survive
      // even with auto-broadcast off — the lineitem side never shuffles
      // for the join
      assert(plan.contains("BroadcastHashJoin"),
        s"threshold join must be a broadcast hash join:\n$plan")
    }
  }

  test("join-size forecast never executes a join — aggregations only") {
    withStructuralPlans {
      val df = graft.operators.Relational.joinSizeForecast(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Join"),
        s"the forecast must cost two aggregations, never the join itself:\n$plan")
      assert(plan.contains("HashAggregate"),
        s"expected partial+final aggregation:\n$plan")
    }
  }

  test("bucketed join runs with zero exchange on the join key (self-enforced) and returns rows") {
    // bucketJoinQuery require()s zero Exchange on l_orderkey internally —
    // this test pins that contract plus a non-empty result
    val df = graft.sources.Sources.bucketJoinQuery(spark, "/root/testdata/sf0.001")
    assert(df.count() > 0)
  }

  test("salted join shuffles on (key, salt) — hot keys actually spread") {
    withStructuralPlans {
      val df = graft.operators.Relational.saltedJoin(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      val saltedExchange = plan.linesIterator.exists(l =>
        l.contains("Exchange hashpartitioning") &&
          l.contains("salt") && (l.contains("l_partkey") || l.contains("p_partkey")))
      assert(saltedExchange,
        s"the join exchange must partition on the salted composite key:\n$plan")
    }
  }

  test("retrieval/graph round-7 operators keep scale-safe plan shapes") {
    val spark2 = spark
    import spark2.implicits._
    import graft.operators.{Similarity, Graph, Dedup}
    val docs = Seq.tabulate(60)(i =>
      (i.toLong, s"w${i % 7} w${i % 11} w${i % 13} filler common"))
      .toDF("doc_id", "text")
    withStructuralPlans {
      // bm25: global top-k must be TakeOrderedAndProject, never a full
      // sort or an unbroadcast cartesian (1-row stat crossJoins are
      // hinted broadcasts — BNLJ on those is the intended shape)
      val bm = Similarity.bm25Df(docs, Seq("common", "filler"), 5)
      val bmPlan = bm.queryExecution.executedPlan.toString
      assert(bmPlan.contains("TakeOrderedAndProject"),
        s"bm25 global top-k must plan TakeOrderedAndProject:\n$bmPlan")
      assert(!bmPlan.contains("CartesianProduct"), s"bm25:\n$bmPlan")

      // sparse cosine: the candidate join is the inverted-index equi-join
      // on the word key — never an unkeyed product
      val sc = Similarity.sparseCosineDf(docs, q = 5, k = 3)
      assert(!sc.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "sparse cosine candidate generation must stay keyed")

      // label propagation: every pass is a keyed equi-join + window top-1
      val lpa = Graph.labelPropPairs(
        Seq.tabulate(30)(i => (i.toLong, (i + 1).toLong)).toDF("a", "b"), 10)
      val lpaPlan = lpa.queryExecution.executedPlan.toString
      assert(!lpaPlan.contains("BroadcastNestedLoopJoin") &&
        !lpaPlan.contains("CartesianProduct"), s"labelProp:\n$lpaPlan")

      // bloom decontamination: membership is an equi-join on the bit
      // position, truth is an equi-join on the shingle — never all-pairs
      val bd = Dedup.bloomDecontaminateDf(docs
        .select(col("doc_id"), lit("s").as("source"), col("text"),
          (col("doc_id") % 10 === 0).as("is_bench")))
      assert(!bd.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "bloom decontamination must stay keyed")
    }
  }

  test("round-9 operators keep scale-safe plan shapes") {
    val spark2 = spark
    import spark2.implicits._
    val dir = "/root/testdata/sf0.001"
    withStructuralPlans {
      // sequential patterns: the pair generator is a KEYED equi-join on
      // (user, session) — the |types|² fan-out must never plan all-pairs
      val sp = org.apache.spark.sql.GatePlans.of(spark2,
        graft.operators.Events.seqPatterns(spark2, dir)) // a pinned report
      noAllPairs(sp.toString, "seqPatterns")

      // closeness: per-hop frontier joins are keyed equi-joins against
      // the once-partitioned edges; the k-seed panel never cross-joins
      val cl = graft.operators.Graph.closenessPairs(
        Seq.tabulate(40)(i => (i.toLong, (i % 7 + 1).toLong)).toDF("s", "c"))
      noAllPairs(cl.queryExecution.executedPlan.toString, "closeness")

      // elasticity: one fact-side scan joined on the part key, then a
      // partial+final 5-sums aggregate — no pairwise anything
      val el = graft.operators.Relational.priceElasticity(spark2, dir)
      noAllPairs(el.queryExecution.executedPlan.toString, "elasticity")

      // log-rank: histograms + bounded-day windows — no join of the
      // user-grain durations against itself (the 1-row broadcast(maxDay)
      // cross join is the KM family's tolerated BNLJ, so assert only on
      // CartesianProduct here)
      val lr = graft.operators.Events.logRank(spark2, dir)
      assert(!lr.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "logRank must stay keyed")

      // phash dedup: the whole dedup is ONE hash groupBy after the
      // embarrassingly-parallel media kernel — no join at all
      val ph = graft.multimodal.Multimodal.phashDedupQuery(spark2, dir)
      val phPlan = ph.queryExecution.executedPlan.toString
      assert(!phPlan.contains("Join"), s"phash dedup must be join-free:\n$phPlan")
    }
  }
}
