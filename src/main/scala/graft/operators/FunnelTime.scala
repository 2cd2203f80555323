package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Time-to-convert between funnel steps — the "HOW LONG does the road
  * take" companion to q76's window funnel (which only counts who
  * arrives): per consecutive step pair, the distribution of first-
  * passage times across users. The growth-team deliverable ("median
  * view→click is 40 s, click→purchase is 2 h — optimize checkout,
  * not discovery") and the SLA for q80's attribution windows.
  *
  * Semantics: per user, t₀ = first 'view'; t₁ = first 'click' AFTER
  * t₀; t₂ = first 'purchase' after t₁ — strict sequential first-
  * passage (the q76 step order), not min-per-type (a click before
  * any view does not convert). Gaps in whole seconds (floor of the
  * microsecond difference); per pair: converted-user count, lower
  * median (the q118 convention), exact-order-statistic p90
  * (⌈0.9n⌉-th — the q126 no-interpolation rule), mean.
  *
  * Exactness: integer microseconds end-to-end; the one divide per
  * stat is shared text.
  *
  * Plan/scale: three stacked same-partition window layers (first-
  * passage chain — unordered specs, ONE exchange by user, no sort;
  * load-bounded: events per user), one per-user collapse, then exact
  * order statistics over second-granular gap cells via a BANDED
  * cumulative (BandedCumsum) + broadcast per-pair totals — gap cells
  * grow with conversions, and pairs are a ≤|steps| dimension, so an
  * unbanded per-pair window would be a single-task wall (r10 audit).
  */
object FunnelTime {

  /** First-passage gap statistics over `steps` (consecutive pairs). */
  def stepTimes(events: DataFrame, keyCol: String, tsCol: String,
                typeCol: String, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "need at least two funnel steps")
    val overK = "OVER (PARTITION BY k)"
    // first-passage chain: t_i = min ts of step i strictly after t_{i-1}
    val base = events.select(col(keyCol).as("k"),
      expr(s"unix_micros($tsCol)").as("us"), col(typeCol).as("t"))
    val chained = steps.zipWithIndex.foldLeft(base) { case (df, (s, i)) =>
      val cond =
        if (i == 0) s"t = '$s'"
        else s"t = '$s' AND us > t${i - 1}"
      df.withColumn(s"t$i", expr(s"min(CASE WHEN $cond THEN us END) $overK"))
    }
    val aggs = steps.indices.map(i => expr(s"max(t$i)").as(s"t$i"))
    val perUser = chained.groupBy("k").agg(aggs.head, aggs.tail.toIndexedSeq: _*)
    val pairs = steps.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      s"'$a>$b', CAST((t${i + 1} - t$i) div 1000000 AS BIGINT)"
    }.mkString(", ")
    val gaps = perUser
      .selectExpr(s"stack(${steps.size - 1}, $pairs) AS (pair, gap_s)")
      .filter(col("gap_s").isNotNull)
    // exact order statistics over second-granular gap cells. r10: gap
    // cells are NOT value-range-bounded in any useful sense (whole
    // seconds over a multi-year span ≈ 10⁸ possible cells, and pairs
    // are a ≤|steps| dimension — RegistryScaleAuditSpec measured the
    // per-pair cell partition growing linearly), so the cumulative is
    // a BANDED prefix sum and the totals a broadcast dimension join
    val cells = gaps.groupBy("pair", "gap_s")
      .agg(expr("CAST(count(1) AS BIGINT)").as("cnt"))
      .localCheckpoint(true) // totals + the banded cumulative share it
    val tot = cells.groupBy("pair")
      .agg(expr("CAST(sum(cnt) AS BIGINT)").as("n"),
        expr("CAST(sum(gap_s * cnt) AS BIGINT)").as("sg"))
    BandedCumsum.cumsum(cells, Seq("pair"), "gap_s", Seq("cnt"),
        inputCheckpointed = true)
      .join(broadcast(tot), "pair")
      .groupBy("pair")
      .agg(
        expr("CAST(max(n) AS BIGINT)").as("n_converted"),
        expr("CAST(min(CASE WHEN cum_cnt >= (n + 1) div 2 THEN gap_s END)" +
          " AS BIGINT)").as("median_gap_s"),
        expr("CAST(min(CASE WHEN cum_cnt >= (9 * n + 9) div 10 THEN gap_s END)" +
          " AS BIGINT)").as("p90_gap_s"),
        expr("round(CAST(max(sg) AS DOUBLE) / CAST(max(n) AS DOUBLE), 4) + 0.0")
          .as("mean_gap_s"))
  }

  /** q130: how long each step of the view→click→purchase funnel takes. */
  def eventStepTimes(spark: SparkSession, dir: String): DataFrame =
    stepTimes(Tables.events(spark, dir), "user_id", "ts", "event_type",
      Seq("view", "click", "purchase"))

  val eventStepTimesSql: String =
    """WITH chain AS (
      |  SELECT user_id AS k,
      |    min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END)
      |      OVER (PARTITION BY user_id) AS t0,
      |    epoch_us(ts) AS us, event_type AS t
      |  FROM events),
      |chain2 AS (
      |  SELECT k, t0, us, t,
      |    min(CASE WHEN t = 'click' AND us > t0 THEN us END)
      |      OVER (PARTITION BY k) AS t1
      |  FROM chain),
      |chain3 AS (
      |  SELECT k, t0, t1,
      |    min(CASE WHEN t = 'purchase' AND us > t1 THEN us END)
      |      OVER (PARTITION BY k) AS t2
      |  FROM chain2),
      |per_user AS (
      |  SELECT k, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
      |  FROM chain3 GROUP BY 1),
      |gaps AS (
      |  SELECT pair, gap_s FROM (
      |    SELECT 'view>click' AS pair,
      |      CAST((t1 - t0) // 1000000 AS BIGINT) AS gap_s FROM per_user
      |    UNION ALL
      |    SELECT 'click>purchase' AS pair,
      |      CAST((t2 - t1) // 1000000 AS BIGINT) AS gap_s FROM per_user)
      |  WHERE gap_s IS NOT NULL),
      |cells AS (
      |  SELECT pair, gap_s, CAST(count(*) AS BIGINT) AS cnt
      |  FROM gaps GROUP BY 1, 2),
      |cum AS (
      |  SELECT pair, gap_s, cnt,
      |    CAST(sum(cnt) OVER (PARTITION BY pair) AS BIGINT) AS n,
      |    CAST(sum(gap_s * cnt) OVER (PARTITION BY pair) AS BIGINT) AS sg,
      |    sum(cnt) OVER (PARTITION BY pair ORDER BY gap_s
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      |  FROM cells)
      |SELECT pair,
      |  CAST(max(n) AS BIGINT) AS n_converted,
      |  CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN gap_s END) AS BIGINT)
      |    AS median_gap_s,
      |  CAST(min(CASE WHEN cum >= (9 * n + 9) // 10 THEN gap_s END) AS BIGINT)
      |    AS p90_gap_s,
      |  round(CAST(max(sg) AS DOUBLE) / CAST(max(n) AS DOUBLE), 4) + 0.0
      |    AS mean_gap_s
      |FROM cum GROUP BY 1""".stripMargin
}
