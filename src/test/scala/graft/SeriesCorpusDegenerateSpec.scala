package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Degenerate-input sweep over the round-9 generic APIs — the
  * DegenerateInputSpec contract extended: empty frames, single rows,
  * constant columns must yield empty/NULL results by construction,
  * never an ANSI runtime error. */
class SeriesCorpusDegenerateSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  import spark.implicits._

  private def t(ms: Long) = new Timestamp(ms)

  test("ewmaLast: empty input → empty; one event → that value") {
    val empty = Seq.empty[(Long, Long, Long, Double)]
      .toDF("u", "ts", "id", "v")
    assert(operators.Ewma.ewmaLast(empty, "u", "ts", "id", "v").count() == 0)
  }

  test("collocations: empty corpus and all-blank docs → empty, no throw") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(textstats.Pmi.collocations(empty, "doc_id", "text").count() == 0)
    val blank = Seq((1L, " "), (2L, "")).toDF("doc_id", "text")
    assert(textstats.Pmi.collocations(blank, "doc_id", "text").count() == 0)
  }

  test("winsorizedMean: empty → empty; single value → that value everywhere") {
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    assert(operators.Winsorize.winsorizedMean(empty, "g", "v").count() == 0)
    val one = Seq(("a", 3.5)).toDF("g", "v")
    val r = operators.Winsorize.winsorizedMean(one, "g", "v").head()
    assert(r.getDouble(r.fieldIndex("winsorized_mean")) == 3.5)
    assert(r.getDouble(r.fieldIndex("lo_bound")) == 3.5)
  }

  test("dowProfile/dailyDispersion/meanShift: empty event frames → empty") {
    val empty = Seq.empty[(String, Timestamp, Double)].toDF("k", "ts", "v")
    assert(operators.Seasonality.dowProfile(empty, "k", "ts", "v").count() == 0)
    assert(operators.Burstiness.dailyDispersion(
      empty.select($"k", $"ts"), "k", "ts").count() == 0)
    assert(operators.Amoc.meanShift(empty, "k", "ts", "v").count() == 0)
  }

  test("meanShift: single-day series has no split → empty, not a div error") {
    val one = Seq(("s", t(1000L), 5.0), ("s", t(2000L), 6.0))
      .toDF("k", "ts", "v") // same UTC day
    assert(operators.Amoc.meanShift(one, "k", "ts", "v").count() == 0)
  }

  test("dailyDispersion: one event → span 1, fano 0, burstiness -1") {
    val one = Seq(("s", t(1000L))).toDF("k", "ts")
    val r = operators.Burstiness.dailyDispersion(one, "k", "ts").head()
    assert(r.getLong(r.fieldIndex("span_days")) == 1L)
    assert(r.getDouble(r.fieldIndex("fano")) == 0.0)
    assert(r.getDouble(r.fieldIndex("burstiness")) == -1.0)
  }

  test("topPaths3/stepTimes: empty → empty") {
    val empty = Seq.empty[(Long, Timestamp, Long, String)]
      .toDF("u", "ts", "id", "t")
    assert(operators.Paths.topPaths3(empty, "u", "ts", "id", "t").count() == 0)
    assert(operators.FunnelTime.stepTimes(
      empty.select($"u", $"ts", $"t"), "u", "ts", "t",
      Seq("view", "click")).count() == 0)
  }

  test("tokenEntropy/zipfFit: empty corpus → empty; single doc fits") {
    val empty = Seq.empty[(String, String)].toDF("g", "text")
    assert(textstats.Entropy.tokenEntropy(empty, "g", "text").count() == 0)
    assert(textstats.Zipf.zipfFit(empty, "g", "text").count() == 0)
    val one = Seq(("s", "a a b")).toDF("g", "text")
    val z = textstats.Zipf.zipfFit(one, "g", "text").head()
    assert(z.getLong(z.fieldIndex("n_terms")) == 2L)
    assert(z.isNullAt(z.fieldIndex("r2")))
  }

  test("propZTest: empty units → NULL counts row, no ANSI error") {
    val empty = Seq.empty[(Long, Int)].toDF("u", "conv")
    val r = operators.PropTest.propZTest(empty).collect()
    assert(r.length == 1)
    assert(r.head.isNullAt(r.head.fieldIndex("z")))
  }

  test("heapsFit/jsMatrix: empty corpus → empty; single-source corpus → no pairs") {
    val empty = Seq.empty[(String, Long, String)].toDF("g", "doc_id", "text")
    assert(textstats.Heaps.heapsFit(empty, "g", "doc_id", "text").count() == 0)
    val one = Seq(("only", "a b c")).toDF("g", "text")
    assert(textstats.JsMatrix.jsMatrix(one, "g", "text").count() == 0)
    assert(textstats.JsMatrix.jsMatrix(
      Seq.empty[(String, String)].toDF("g", "text"), "g", "text").count() == 0)
  }

  test("pairwiseMeans: empty frame and single group → empty family") {
    val empty = Seq.empty[(String, Double)].toDF("g", "v")
    assert(operators.PairwiseMeans.pairwiseMeans(empty, "g", "v").count() == 0)
    val one = (1 to 5).map(i => ("g1", i.toDouble)).toDF("g", "v")
    assert(operators.PairwiseMeans.pairwiseMeans(one, "g", "v").count() == 0)
  }

  test("dailyRuns/dowStrength/psi: empty inputs → empty, no ANSI error") {
    val empty = Seq.empty[(String, Timestamp, Double)].toDF("k", "ts", "v")
    assert(operators.RunsTest.dailyRuns(empty, "k", "ts", "v").count() == 0)
    assert(operators.SeasonalStrength.dowStrength(empty, "k", "ts", "v")
      .count() == 0)
    val emptyP = Seq.empty[(String, Double, Boolean)].toDF("g", "v", "cur")
    assert(operators.Psi.psi(emptyP, "g", "v", "cur").count() == 0)
  }

  test("psi: a segment with an empty CURRENT period stays finite via zero-replacement") {
    val rows = (1 to 20).map(i => ("s", i.toDouble, false))
    val r = operators.Psi.psi(rows.toDF("g", "v", "cur"), "g", "v", "cur")
      .collect().head
    assert(r.getLong(r.fieldIndex("n_current")) == 0L)
    // every current share zero-replaces to 1e-4: PSI is large but finite
    val psi = r.getDouble(r.fieldIndex("psi"))
    assert(!psi.isNaN && !psi.isInfinite && psi > 0.0)
  }
}
