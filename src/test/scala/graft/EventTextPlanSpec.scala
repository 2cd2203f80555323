package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Plan audits for the round-7 operators: the scale-shape claims each
  * scaladoc makes, asserted against the actual executed plan. */
class EventTextPlanSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  val dir = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Window nodes that partition by nothing (global single-partition
    * sort) — the hot-key wall the scaladocs promise to avoid. Checked
    * on the optimized LOGICAL plan (AQE wraps the physical tree, so
    * collect() there can miss inner nodes). */
  private def globalWindows(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty => w.simpleString(100)
    }

  test("event operators carry no global single-partition window") {
    // the value-level operators (q93/q83/q68) are the documented
    // exception; every EVENT-grade operator must partition its windows
    val eventPlans = Seq(
      "q50_transitions" -> operators.Events.transitions(spark, dir),
      "q44_rolling" -> operators.Events.rollingStats(spark, dir),
      "q76_funnel" -> operators.Funnel.windowFunnel(spark, dir),
      "q80_attribution" -> operators.Attribution.lastTouch(spark, dir))
    eventPlans.foreach { case (name, df) =>
      assert(globalWindows(df).isEmpty, s"$name has a global window")
    }
  }

  test("q80 attribution: the running-touch window partitions by user, never global") {
    val p = plan(operators.Attribution.lastTouch(spark, dir))
    assert(p.contains("Window"))
    // every windowspec in the plan carries the user_id partition key
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("user_id"), s"unpartitioned window: $l")
    }
  }

  test("q85 paragraph dedup: election is an aggregate, no Window operator at all") {
    val p = plan(dedup.Paragraphs.dedupParagraphs(spark, dir))
    assert(!p.contains("Window"), "q85 must elect first occurrences via aggregate, not a window")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"))
  }

  test("q84 apply-cdc: max_by collapse partial-aggregates before the shuffle") {
    val p = plan(operators.Cdc.customerApply(spark, dir))
    assert(!p.contains("Window"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q81 bpe: every merge-round window partitions by word") {
    val p = plan(textstats.Bpe.segmentVocab(
      Tables.documents(spark, dir)
        .selectExpr("explode(split(text, ' ')) AS word").distinct(),
      textstats.Bpe.Merges.take(3))) // 3 rounds: enough to see the shape
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("word"), s"unpartitioned window: $l")
    }
  }

  test("q82 bm25: top-k window partitions by query; stats join is broadcast") {
    val docs = Tables.documents(spark, dir)
    val p = plan(textstats.Bm25.search(docs, textstats.Bm25.deriveQueries(docs)))
    p.linesIterator.filter(_.contains("windowspecdefinition")).foreach { l =>
      assert(l.contains("qid"), s"unpartitioned window: $l")
    }
    assert(p.contains("BroadcastExchange"))
  }

  test("q91 chi-square: cross joins are dimension-grade margins only") {
    val p = plan(operators.Independence.customerChiSquare(spark, dir))
    // margins cross-join is intentional and tiny; the FACT must reach
    // only aggregates — no fact-side nested loop
    assert(p.contains("HashAggregate"))
  }
}
