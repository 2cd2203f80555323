package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the round-9 operators: the scale claims
  * their scaladocs make, checked against the plans Spark actually
  * builds. */
class SeriesCorpusPlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  val dir = "/root/testdata/sf0.001"

  private def physical(df: DataFrame): String = {
    // sibling suites .cache() some of these exact frames; a cache hit
    // swaps in an InMemoryRelation whose toString EMBEDS the cached
    // physical plan, double-counting every node below it — audit the
    // uncached plan
    spark.sharedState.cacheManager.clearCache()
    df.queryExecution.executedPlan.toString
  }

  test("q124 ewma: one keyed window, one sort, no join anywhere") {
    val p = physical(operators.Ewma.userEwma(spark, dir))
    val windows = p.linesIterator.count(_.contains("- Window ["))
    val sorts = p.linesIterator.count(_.contains("- Sort ["))
    assert(windows == 1, s"row_number must be the only window, got $windows")
    assert(sorts == 1, s"one per-user sort, got $sorts")
    assert(!p.contains("Join"), "ewma is scan+window+aggregate — no join")
    assert(p.contains("HashAggregate"), "the keyed fold must hash-aggregate")
    assert(!p.contains("SortAggregate"))
  }

  test("q125 pmi: stats joins broadcast; only the 1-row D frame nests") {
    val p = physical(textstats.Pmi.docCollocations(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "candidate pairing must be the doc equi-join, never a cross product")
    // the ONLY nested-loop allowed is the deliberate 1-row D cross
    // join (the q94 single-row-build convention)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the 1-row D cross join may nest, got $bnlj")
    assert(p.contains("BroadcastHashJoin"),
      "term df lookups must broadcast")
    // the a⋈b posting self-join on doc_id is the one join allowed to
    // shuffle (both sides corpus-sized, fan-out capped by the
    // top-terms filter applied BELOW the join — and checkpointed, so
    // the corpus explode is not recomputed per side)
    val shuffled = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(shuffled <= 1, s"only the doc-pair join may shuffle, got $shuffled")
  }

  test("q126 winsorize: banded cells — broadcast-only joins, banded windows") {
    // r10: totals/bounds are dimension-grade aggregates broadcast back
    // and the running count a BandedCumsum over the checkpointed cells
    val p = physical(operators.Winsorize.lineitemWinsorized(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "totals/bounds/offsets must broadcast back onto the cells")
    assert(!p.contains("CartesianProduct"))
    val bandless = p.linesIterator.filter(_.contains("- Window ["))
      .filterNot(_.contains("__band")).toSeq
    assert(bandless.isEmpty,
      s"every window must partition on the band, got ${bandless.mkString("; ")}")
    assert(p.contains("HashAggregate"))
  }

  test("q127 seasonality: one window layer over the cells, no joins") {
    val p = physical(operators.Seasonality.eventTypeDow(spark, dir))
    assert(!p.contains("Join"),
      "series totals derive from a window over the ≤7-row cells")
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 1, s"n and s must share one window spec, got $windows")
    assert(!p.contains("SortAggregate"))
  }

  test("q128 paths: both leads fuse into ONE user window pass, no joins") {
    val p = physical(operators.Paths.topUserPaths(spark, dir))
    val userSorts = p.linesIterator.count(l => l.contains("- Sort [") &&
      l.contains("user_id"))
    assert(userSorts == 1, s"one per-user sort feeds both leads, got $userSorts")
    // windows: the fused double-lead + the two global cell-frame
    // layers (total, top-k rank) over the ≤|types|³ frame
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 3, s"lead + total + rank windows, got $windows")
    assert(!p.contains("Join"), "paths is scan+window+aggregate — no join")
  }

  test("q129 entropy: one window layer over vocabulary cells, no joins") {
    val p = physical(textstats.Entropy.sourceEntropy(spark, dir))
    assert(!p.contains("Join"),
      "slice totals derive from a window over the cells")
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 1, s"n and v must share one window spec, got $windows")
    assert(p.contains("HashAggregate"))
  }

  test("q130 funnel time: banded gap-cell stats — broadcast-only joins") {
    // r10: the gap-cell order statistics run as a BandedCumsum +
    // broadcast totals (gap cells aren't usefully range-bounded); the
    // per-user first-passage chain lives UPSTREAM of the cell
    // checkpoint, so the final plan is offsets + totals + the banded
    // window — no shuffled join, every window banded
    val p = physical(operators.FunnelTime.eventStepTimes(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "band offsets and pair totals must broadcast")
    assert(!p.contains("CartesianProduct"))
    val bandless = p.linesIterator.filter(_.contains("- Window ["))
      .filterNot(_.contains("__band")).toSeq
    assert(bandless.isEmpty,
      s"post-checkpoint windows must band, got ${bandless.mkString("; ")}")
    assert(!p.contains("SortAggregate"))
  }

  test("q131 zipf: cells + rank window + aggregate, no joins") {
    val p = physical(textstats.Zipf.sourceZipf(spark, dir))
    assert(!p.contains("Join"))
    val windows = p.linesIterator.count(_.contains("- Window ["))
    assert(windows == 1, s"one per-slice rank window, got $windows")
    assert(p.contains("HashAggregate"))
  }

  test("q132/q133/q136: pure aggregate pipelines — no window, no join") {
    Seq(
      operators.PropTest.purchaseRateTest(spark, dir),
      operators.Burstiness.eventTypeDispersion(spark, dir),
      operators.Kappa.lineitemKappa(spark, dir)
    ).foreach { df =>
      val p = physical(df)
      assert(!p.contains("- Window ["), "aggregate-only plan expected")
      assert(!p.contains("Join"), "single-scan plan expected")
      assert(p.contains("HashAggregate"))
    }
  }

  test("q137 heaps: banded cumsum — broadcast offsets, (g, band) windows") {
    val p = physical(textstats.Heaps.sourceHeaps(spark, dir))
    // r10: the per-doc cumulative pair is a BandedCumsum — the plan
    // below the checkpoint is offsets (band-dimension agg + window) +
    // ONE broadcast join + the (g, __band)-partitioned running window;
    // no shuffled join, and no window partitioned by the slice alone
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "band offsets must broadcast back onto the checkpoints")
    assert(!p.contains("CartesianProduct"))
    val corpusWindows = p.linesIterator.filter(_.contains("- Window ["))
      .filterNot(_.contains("__band")).toSeq
    assert(corpusWindows.isEmpty,
      s"every post-checkpoint window must partition by (g, band), " +
        s"got ${corpusWindows.mkString("; ")}")
    assert(p.contains("HashAggregate"))
  }

  test("q138 pairwise means: broadcast-only pair join above the checkpoint") {
    val p = physical(operators.PairwiseMeans.nationBalancePairs(spark, dir))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the C(G,2) pair join must broadcast — group cells are dimension-grade")
    assert(!p.contains("CartesianProduct"))
  }

  test("q140 js matrix: term-keyed pair join, broadcast totals, no cartesian") {
    val p = physical(textstats.JsMatrix.sourceJsMatrix(spark, dir))
    assert(!p.contains("CartesianProduct"),
      "pairing must be the term equi-join, never vocab × vocab")
    // the ONLY nested loop allowed is the deliberate dimension-grade
    // pair spine (totals × totals, G rows a side)
    val bnlj = p.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 1, s"only the pair spine may nest, got $bnlj")
    assert(p.contains("BroadcastHashJoin"), "slice totals must broadcast")
  }

  test("q134 amoc / q135 runs: ordered day-cell windows share one sort each") {
    Seq(operators.Amoc.eventTypeShift(spark, dir) -> 3,
      operators.RunsTest.eventTypeRuns(spark, dir) -> 2).foreach {
      case (df, maxW) =>
        val p = physical(df)
        assert(!p.contains("Join"))
        val windows = p.linesIterator.count(_.contains("- Window ["))
        assert(windows <= maxW, s"expected ≤ $maxW window layers, got $windows")
        val sorts = p.linesIterator.count(_.contains("- Sort ["))
        assert(sorts <= maxW,
          s"same-spec layers must share sorts, got $sorts")
    }
  }
}
