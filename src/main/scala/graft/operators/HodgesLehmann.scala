package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Hodges–Lehmann shift estimator — the LOCATION companion the
  * two-sample rank family still lacked: q97 says the samples differ,
  * q224 says how dominantly; HL says BY HOW MUCH in the variable's
  * own units — the median of all n₁·n₂ cross-differences xᵢ − yⱼ,
  * the estimator that inverts the Mann–Whitney test (median-unbiased,
  * 50% breakdown, no normality anywhere).
  *
  * Exactness: EVERYTHING is integers — the cross-difference support
  * is the ≤ |Vx|·|Vy| DIFFERENCE-CELL grid (d = vx − vy weighted
  * w = cx·cy), the weighted median walks cumulative weights over that
  * grid, and the even-count middle is the exact average of the two
  * central order statistics (integer d's → the .5 grid is exact in
  * doubles). No snapping, nothing transcendental.
  *
  * Plan/scale: value cells per side first (ONE corpus aggregate —
  * rows never meet the pair join), then a per-group VALUE-GRID pair
  * join (|Vx|·|Vy| cells — quantity's 50×50 here; quantize continuous
  * columns first, the q99 note), a cumulative window over difference
  * cells, two conditional-min elections. */
object HodgesLehmann {

  // lower middle: ⌈W/2⌉-th; upper middle: ⌊W/2⌋+1-th — exact integer
  // ranks (2·cw ≥ W+1 and 2·cw ≥ W+2 in cleared form), each elected
  // as the smallest difference cell covering the rank
  private def election(cells: DataFrame): DataFrame = {
    val cum = Window.partitionBy("g").orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    val all = Window.partitionBy("g")
    cells
      .withColumn("cw", sum("w").over(cum))
      .withColumn("tw", sum("w").over(all))
      .groupBy("g")
      .agg(
        expr("CAST(max(tw) AS DECIMAL(38,0))").as("w_total"),
        // lower middle = ⌈W/2⌉-th ⟺ 2cw ≥ W + (W mod 2);
        // upper middle = ⌊W/2⌋+1-th ⟺ 2cw ≥ W − (W mod 2) + 2
        // (cleared integer ranks; odd W makes both coincide)
        expr("CAST(min(CASE WHEN 2 * cw >= tw + (tw % 2) THEN d END)" +
          " AS BIGINT)").as("d_lo"),
        expr("CAST(min(CASE WHEN 2 * cw >= tw - (tw % 2) + 2 THEN d END)" +
          " AS BIGINT)").as("d_hi"))
  }

  /** HL shift of `clsX` minus `clsY` on `valueCol` per `groupCol`.
    * One row per group: (group, n_x, n_y, hl_shift); empty side →
    * NULL. */
  def hlShift(df: DataFrame, groupCol: String, classCol: String,
      clsX: String, clsY: String, valueCol: String): DataFrame = {
    val base = df
      .filter(col(classCol).isin(clsX, clsY) && col(valueCol).isNotNull)
      .select(col(groupCol).as("g"), col(classCol).as("cls"),
        col(valueCol).cast("long").as("v"))
      .groupBy("g", "cls", "v")
      .agg(expr("CAST(count(1) AS BIGINT)").as("c"))
      .localCheckpoint(true)
    val sides = base.groupBy("g").agg(
      expr(s"CAST(sum(CASE WHEN cls = '$clsX' THEN c END) AS BIGINT)")
        .as("n_x"),
      expr(s"CAST(sum(CASE WHEN cls = '$clsY' THEN c END) AS BIGINT)")
        .as("n_y"))
    val xs = base.filter(col("cls") === clsX).select(
      col("g"), col("v").as("vx"), col("c").as("cx"))
    val ys = base.filter(col("cls") === clsY).select(
      col("g"), col("v").as("vy"), col("c").as("cy"))
    val cells = xs.join(ys, "g")
      .selectExpr("g", "vx - vy AS d",
        "CAST(cx AS DECIMAL(38,0)) * cy AS w")
      .groupBy("g", "d")
      .agg(expr("CAST(sum(w) AS DECIMAL(38,0))").as("w"))
    sides.join(election(cells), Seq("g"), "left")
      .selectExpr("g", "n_x", "n_y",
        "CASE WHEN n_x > 0 AND n_y > 0 THEN" +
          " round((CAST(d_lo AS DOUBLE) + CAST(d_hi AS DOUBLE)) / 2.0, 1)" +
          " + 0.0 END AS hl_shift")
  }

  /** q231: by HOW MANY units do returned quantities run above
    * accepted, per ship year — the shift that inverts q97's test,
    * quoted in quantity units next to q224's dominance. */
  def lineitemHl(spark: SparkSession, dir: String): DataFrame =
    hlShift(
      Tables.lineitem(spark, dir)
        .withColumn("ship_yr", expr("year(l_shipdate)")),
      "ship_yr", "l_returnflag", "R", "A", "l_quantity")
      .withColumnRenamed("g", "ship_yr")

  /** DuckDB twin: identical cells, grid join, and elections. */
  val lineitemHlSql: String =
    s"""WITH base AS (
       |  SELECT g, cls, v, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT CAST(year(l_shipdate) AS INTEGER) AS g,
       |          l_returnflag AS cls, CAST(l_quantity AS BIGINT) AS v
       |        FROM lineitem
       |        WHERE l_returnflag IN ('R', 'A') AND l_quantity IS NOT NULL)
       |  GROUP BY 1, 2, 3),
       |sides AS (
       |  SELECT g,
       |    CAST(sum(CASE WHEN cls = 'R' THEN c END) AS BIGINT) AS n_x,
       |    CAST(sum(CASE WHEN cls = 'A' THEN c END) AS BIGINT) AS n_y
       |  FROM base GROUP BY 1),
       |cells AS (
       |  SELECT x.g, x.v - y.v AS d,
       |    CAST(sum(CAST(x.c AS HUGEINT) * y.c) AS HUGEINT) AS w
       |  FROM (SELECT g, v, c FROM base WHERE cls = 'R') x
       |  JOIN (SELECT g, v, c FROM base WHERE cls = 'A') y ON x.g = y.g
       |  GROUP BY 1, 2),
       |walked AS (
       |  SELECT g, d,
       |    sum(w) OVER (PARTITION BY g ORDER BY d
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
       |    sum(w) OVER (PARTITION BY g) AS tw
       |  FROM cells),
       |elected AS (
       |  SELECT g,
       |    CAST(min(CASE WHEN 2 * cw >= tw + (tw % 2) THEN d END) AS BIGINT)
       |      AS d_lo,
       |    CAST(min(CASE WHEN 2 * cw >= tw - (tw % 2) + 2 THEN d END)
       |      AS BIGINT) AS d_hi
       |  FROM walked GROUP BY 1)
       |SELECT s.g AS ship_yr, n_x, n_y,
       |  CASE WHEN n_x > 0 AND n_y > 0 THEN
       |    round((CAST(d_lo AS DOUBLE) + CAST(d_hi AS DOUBLE)) / 2.0, 1)
       |    + 0.0 END AS hl_shift
       |FROM sides s LEFT JOIN elected e ON s.g = e.g""".stripMargin
}
