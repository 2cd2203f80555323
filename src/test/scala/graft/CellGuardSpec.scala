package graft

import org.scalatest.funsuite.AnyFunSuite

import operators.{CellGuard, Lorenz, Monitor, Psi, WeightedQuantile, Winsorize}

/** r10: the value-cell family's CellGuard (loud failure on continuous
  * value columns, no behavior change within bound) and Psi's
  * empty-baseline sentinel (r9 advice). */
class CellGuardSpec extends AnyFunSuite {
  lazy val spark = Engine.session()
  import spark.implicits._

  // 40 rows, 40 distinct values per group — "continuous" at cap 8
  private def contRows = (1 to 40).map(i => ("g1", 100.0 + i * 1.37))
  private def contDf = contRows.toDF("seg", "v")

  private def messageChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  private def assertGuardFires(body: => Unit, op: String): Unit = {
    val e = intercept[Exception](body)
    assert(messageChain(e).contains("maxCells"),
      s"$op guard should raise the maxCells error, got: ${messageChain(e)}")
    assert(messageChain(e).contains(op))
  }

  test("guard fires on continuous values: winsorize") {
    assertGuardFires(
      Winsorize.winsorizedMean(contDf, "seg", "v", maxCells = 8).collect(),
      "winsorizedMean")
  }

  test("guard fires on continuous values: weighted quantiles") {
    val obs = contDf.selectExpr("seg", "CAST(floor(v * 1e6) AS BIGINT) AS vi",
      "CAST(1 AS BIGINT) AS w")
    assertGuardFires(
      WeightedQuantile.weightedQuantiles(obs, "seg", "vi", "w",
        Seq(50), maxCells = 8).collect(),
      "weightedQuantiles")
  }

  test("guard fires on continuous values: lorenz") {
    val obs = contDf.selectExpr("seg", "CAST(floor(v * 1e6) AS BIGINT) AS vi")
    assertGuardFires(
      Lorenz.lorenzDeciles(obs, "seg", "vi", maxCells = 8).collect(),
      "lorenzDeciles")
  }

  test("guard fires on continuous values: gini") {
    assertGuardFires(
      Monitor.giniByGroup(contDf, "seg", "v", maxCells = 8).collect(),
      "giniByGroup")
  }

  test("guard fires on continuous values: rfm metric cells") {
    import spark.implicits._
    val obs = (1 to 40)
      .map(i => (i.toLong, (i.toLong * 7919) % 10007, 2L, 1000L + i))
      .toDF("k", "rec", "freq", "mon_c")
    assertGuardFires(operators.Rfm.score(obs, maxCells = 8).collect(), "rfm:")
  }

  test("guard fires on continuous values: psi") {
    val df = (1 to 40).map(i => ("g1", 100.0 + i * 1.37, i % 2 == 0))
      .toDF("seg", "v", "cur")
    assertGuardFires(
      Psi.psi(df, "seg", "v", "cur", scaleSql = "1e6", maxCells = 8).collect(),
      "psi")
  }

  test("guard is a no-op within bound: q126 result unchanged at the cap") {
    val dir = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, dir)
    val loose = Winsorize.winsorizedMean(li, "l_returnflag", "l_extendedprice")
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val tight = Winsorize.winsorizedMean(li, "l_returnflag", "l_extendedprice",
        maxCells = 1000000L)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(loose == tight)
  }

  test("guard fires on continuous values: theil-sen slope cells") {
    // 30 x-distinct points with irrational-ish y → ~C(30,2) distinct
    // slopes in one group, far past cap 8
    val pts = (1 to 30).map(i => ("g1", i.toDouble, i * i * 1.37))
      .toDF("seg", "x", "y")
    assertGuardFires(
      operators.Robust.theilSen(pts, "seg", "x", "y", maxCells = 8).collect(),
      "theilSen")
  }

  test("psi: EMPTY baseline segment reports NULL psi + 'no_baseline'") {
    // g_empty has ONLY current-period rows — previously the edges
    // collapsed to min(v) and psi was an artifact of zero-replacement
    // (r9 advice); g_ok has both periods and stays well-defined
    val rows = (1 to 30).map(i => ("g_empty", 10.0 + i % 5, true)) ++
      (1 to 30).map(i => ("g_ok", 10.0 + i % 5, i % 2 == 0))
    val out = Psi.psi(rows.toDF("seg", "v", "cur"), "seg", "v", "cur")
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(3)) None else Some(r.getDouble(3))), r.getString(4)))
      .toMap
    assert(out("g_empty")._1.isEmpty, "psi must be NULL with no baseline")
    assert(out("g_empty")._2 == "no_baseline")
    assert(out("g_ok")._1.isDefined)
    assert(out("g_ok")._2 != "no_baseline")
  }

  test("psi: whole-dollar quantization still detects a genuine shift") {
    // baseline ~N(200), current ~N(600): any sane binning reads 'major'
    val rows = (1 to 500).map(i => ("g", 200.0 + (i % 50), false)) ++
      (1 to 500).map(i => ("g", 600.0 + (i % 50), true))
    val out = Psi.psi(rows.toDF("seg", "v", "cur"), "seg", "v", "cur",
        scaleSql = "1e0").collect().head
    assert(out.getString(4) == "major")
    assert(out.getDouble(3) > 0.25)
  }

  test("default cap admits the documented cent-cell ranges") {
    assert(CellGuard.DefaultMaxCells > 11000000L,
      "cap must clear a ±$55k money column's ~1.1e7 possible cent cells")
  }
}
