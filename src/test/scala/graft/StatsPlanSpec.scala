package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the round-8 operators: the scale claims
  * their scaladocs make, checked against the plans Spark actually
  * builds. */
class StatsPlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  val dir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q101 kendall: hash aggregates, broadcast cell-grid self-joins, no shuffled join") {
    val p = physical(operators.Correlation.kendallMatrix(spark, dir))
    assert(p.contains("HashAggregate"), "cell grids must be hash aggregates")
    assert(!p.contains("SortAggregate"), "cell grid fell back to SortAggregate")
    // the va1 < va2 self-join is DELIBERATELY a broadcast nested loop
    // over the ≤|values|² cell grid; a sort-merge or shuffled hash join
    // would mean Spark thinks a fact-sized frame is on one side
    assert(!p.contains("SortMergeJoin"), "kendall self-join must not shuffle")
    assert(!p.contains("ShuffledHashJoin"), "kendall self-join must not shuffle")
    assert(!p.contains("Window"), "kendall needs no window at all")
  }

  test("q104 mutual info: hash aggregates, broadcast margin joins, no shuffled join") {
    val p = physical(operators.Independence.customerMutualInfo(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"), "cell/margin aggregates fell back to sort")
    assert(p.contains("BroadcastHashJoin"), "margin joins must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "q104 must never shuffle a join: all frames are dimension-grade")
    assert(!p.contains("Window"), "q104 needs no window")
  }

  test("q105 cusum: both window layers share ONE sort/exchange per pass") {
    val df = operators.Changepoint.cusum(
      Tables.events(spark, dir), "event_type", "ts", "event_id",
      "value", 5000L, 500L, 20000L)
    val p = physical(df)
    // the prefix-sum layers all share one (partition, order) spec:
    // Spark must plan ONE exchange + ONE sort feeding every Window
    // operator — a second sort/shuffle would mean the layers broke
    // the shared-spec chain
    val windows = p.linesIterator.count(_.contains("- Window ["))
    val sorts = p.linesIterator.count(_.contains("- Sort ["))
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(windows >= 2 && windows <= 3, s"expected fused window layers, got $windows")
    assert(sorts == 1, s"the shared spec must sort once, got $sorts")
    assert(exchanges == 1, s"one shuffle for the series partitioning, got $exchanges")
  }

  test("q94 inference chain: hash aggregates only, all joins 1-row-broadcast grade") {
    val p = physical(operators.Regression.glmInferenceQ(spark, dir))
    // the sufficient-stats passes must be partial/final hash aggregates
    // (map-side combinable), never sort-based
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"), "sufficient stats fell back to SortAggregate")
    // the only non-equi joins in the chain are the deliberate 1-row
    // coefficient-frame cross joins, which Spark plans as broadcast
    // nested loops with a single-row build side — a cartesian product
    // node would mean a real fact-side blowup
    assert(!p.contains("CartesianProduct"), "unexpected cartesian in q94")
  }

  test("q95 grouped chain: keyed hash aggregates, equi joins only") {
    val df = operators.Regression.groupGlm(spark, dir)
    val p = physical(df)
    assert(p.contains("HashAggregate"))
    assert(!p.contains("CartesianProduct"), "q95 must join rows⋈coefs on the group key")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "q95's coefficient join-back must be an equi join, not a nested loop")
  }

  test("q94/q95 outputs carry no NaN/Inf into the oracle surface") {
    import org.apache.spark.sql.functions._
    val inf = operators.Regression.glmInferenceQ(spark, dir).cache()
    assert(inf.count() == 3)
    Seq("estimate", "std_error", "t_value", "p_value", "dispersion").foreach { c =>
      assert(inf.filter(col(c).isNull || isnan(col(c)) ||
        col(c) === Double.PositiveInfinity || col(c) === Double.NegativeInfinity)
        .count() == 0, s"q94 column $c has non-finite values")
    }
    inf.unpersist()
    val grp = operators.Regression.groupGlm(spark, dir).cache()
    assert(grp.count() == 25)
    // sf0.001 nations are all well-posed: every fit identified
    assert(grp.filter(col("b_intercept").isNull).count() == 0)
    assert(grp.filter(isnan(col("dispersion"))).count() == 0)
    grp.unpersist()
  }

  test("hypothesis tests: map-side-combined hash aggregates, key-partitioned windows only") {
    // q96/q98: pure aggregate pipelines — no window, no join, no sort agg
    Seq(
      "q96" -> operators.Hypothesis.orderTTest(spark, dir),
      "q98" -> operators.Hypothesis.orderAnova(spark, dir)).foreach { case (n, df) =>
      val p = physical(df)
      assert(p.contains("HashAggregate"), s"$n lost its hash aggregate")
      assert(!p.contains("SortAggregate"), s"$n fell back to SortAggregate")
      assert(!p.contains("Window"), s"$n should not need a window")
      assert(!p.contains("Join"), s"$n should not need a join")
    }
    // q97/q99: the only window runs over the VALUE-LEVEL cell table and
    // is partitioned by the group key — never a global row-level window
    Seq(
      "q97" -> operators.Hypothesis.lineitemMwu(spark, dir),
      "q99" -> operators.Hypothesis.lineitemKs(spark, dir),
      "q103" -> operators.Hypothesis.lineitemJs(spark, dir)).foreach { case (n, df) =>
      val p = physical(df)
      assert(p.contains("HashAggregate"), s"$n lost its cell aggregate")
      val windows = p.linesIterator.filter(_.contains("Window")).toSeq
      assert(windows.nonEmpty, s"$n expects a rank/cumulative window")
      assert(windows.forall(w => w.contains("windowspecdefinition(g#")),
        s"$n window must be partitioned by the group key:\n${windows.mkString("\n")}")
    }
  }

  test("q109 basket: item totals broadcast; the pair join shuffles on the basket key") {
    val p = physical(operators.Basket.brandRules(spark, dir))
    assert(p.contains("HashAggregate"), "basket/pair counts must hash-aggregate")
    assert(p.contains("BroadcastHashJoin"),
      "singles/totals joins back onto pairs must broadcast")
    assert(!p.contains("Window"), "q109 needs no window")
    assert(!p.contains("CartesianProduct"),
      "the 1-row totals join must plan as broadcast, not cartesian")
  }

  test("q110 survival: group totals broadcast; windows keyed by group over duration cells") {
    val p = physical(operators.Survival.segmentChurn(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(p.contains("BroadcastHashJoin"),
      "customer dim + totals joins must broadcast")
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, "KM needs its cumulative windows")
    assert(windows.forall(_.contains("windowspecdefinition(g#")),
      s"KM windows must be partitioned by group:\n${windows.mkString("\n")}")
  }

  test("q112 hhi: pure two-level hash aggregate, broadcast dims, no window") {
    val p = physical(operators.Monitor.supplierHhi(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(!p.contains("SortAggregate"), "hhi cells fell back to SortAggregate")
    assert(p.contains("BroadcastHashJoin"), "supplier/nation dims must broadcast")
    assert(!p.contains("Window"), "q112 needs no window")
  }

  test("q113 twap: the interval window is partitioned by series, never global") {
    val p = physical(operators.Twap.userTwap(spark, dir))
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(windows.nonEmpty, "twap needs its lead window")
    assert(windows.forall(_.contains("windowspecdefinition(g#")),
      s"twap window must be partitioned by the series key:\n${windows.mkString("\n")}")
    assert(p.contains("HashAggregate"))
  }

  test("q111 acf: row-grade data collapses to day cells BEFORE the global window") {
    val df = operators.Autocorr.dailyRevenueAcf(spark, dir)
    val p = physical(df)
    // the one global window is documented dimension-grade (calendar of
    // days); the plan must aggregate to cells first — i.e. a
    // HashAggregate appears below the Window in the tree (= after it
    // in the printed plan string)
    val winAt = p.indexOf("windowspecdefinition")
    val aggBelow = p.lastIndexOf("HashAggregate")
    assert(winAt >= 0 && aggBelow > winAt,
      "acf must reduce to day cells before its ordered window")
    assert(df.count() == 7)
  }

  test("q114 rfm: score maps broadcast back; no shuffled join anywhere") {
    val p = physical(operators.Rfm.customerRfm(spark, dir))
    assert(p.contains("HashAggregate"))
    assert(p.contains("BroadcastHashJoin"), "score-map joins must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "rfm joins are all dimension-grade (quantized cells) — must broadcast")
    // the metric windows run over VALUE-LEVEL cells: every window input
    // is an aggregate, so a HashAggregate must sit below each Window
    val winAt = p.indexOf("windowspecdefinition")
    assert(winAt >= 0 && p.lastIndexOf("HashAggregate") > winAt,
      "rfm must reduce to metric cells before its ordered windows")
  }

  test("q115 backtest: day cells form BEFORE the global lag window; both lags share one spec") {
    val df = operators.Backtest.dailyRevenueBacktest(spark, dir)
    val p = physical(df)
    val winAt = p.indexOf("windowspecdefinition")
    assert(winAt >= 0 && p.lastIndexOf("HashAggregate") > winAt,
      "backtest must reduce to day cells before its lag window")
    val sorts = p.linesIterator.count(_.contains("- Sort ["))
    assert(sorts == 1, s"both lags must share ONE sort, got $sorts")
    assert(df.count() == 1)
  }

  test("q117 pareto: item windows partition by band; offset/total joins broadcast") {
    val p = physical(operators.Pareto.partAbc(spark, dir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      "band offsets and the total must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "no shuffled join: offsets are band-dimension-grade")
    // every windowspecdefinition over ITEM rows must carry the band
    // partition key; the only unpartitioned window runs over band cells
    // (an aggregate sits below it)
    assert(p.contains("windowspecdefinition(band"),
      "item-level prefix windows must be partitioned by band")
  }

  test("q100 family adjust: global windows sit on the dimension-grade test table") {
    val df = operators.Hypothesis.mwuBh(spark, dir)
    // the registered family is the 7 ship years — global rank windows
    // over it are the documented value-level exception
    assert(df.count() == 7)
    val p = physical(df)
    assert(p.contains("HashAggregate"))
    // and the upstream observation-scale work stays key-partitioned:
    // cells aggregate before any global window in the plan
    assert(p.indexOf("HashAggregate") >= 0)
  }
}
