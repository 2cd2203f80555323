package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Feature-engineering bin operators: quantile binning and fixed-width
  * histograms — the discretization steps a model-prep pipeline runs
  * over fact-scale columns.
  */
object Binning {

  val NtileBins = 4

  /** #52 (q47) Per-group quantile binning: ntile over each nation's
    * balance distribution with a total (value, key) order so ties are
    * deterministic.
    *
    * r10: nations are a FIXED dimension, so a plain partitioned ntile
    * window put each nation's whole customer set in one task at scale
    * (RegistryScaleAuditSpec's 10×-step measurement). The bucket is
    * now computed from a BANDED row_number (q7 pattern, banding on
    * exact balance cents) + Spark's exact NTile arithmetic — with
    * N = n div b sized buckets and the first N mod b buckets one row
    * larger — against broadcast per-nation counts. Identical output;
    * no nation-sized window task. For global quantile binning at
    * scale use [[quantileCutBins]] instead. */
  def ntileBin(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .localCheckpoint(true) // counts + the banded enumeration share it
    val n = cust.groupBy("c_nationkey").agg(count(lit(1)).as("__n"))
    val b = NtileBins
    BandedCumsum.rowNumber(cust, Seq("c_nationkey"),
        expr("CAST(floor(c_acctbal * 100) AS BIGINT) div 1024"),
        Seq(col("c_acctbal"), col("c_custkey")), "__rn",
        inputCheckpointed = true)
      .join(broadcast(n), "c_nationkey")
      .selectExpr("c_custkey", "c_nationkey",
        "round(c_acctbal, 4) + 0.0 AS c_acctbal",
        s"CAST(CASE WHEN __rn <= (__n div $b + 1) * (__n % $b)" +
          s" THEN (__rn - 1) div (__n div $b + 1) + 1" +
          s" ELSE __n % $b + (__rn - 1 - (__n div $b + 1) * (__n % $b))" +
          s" div (__n div $b) + 1 END AS BIGINT) AS bal_quartile")
  }

  val ntileBinSql: String =
    s"""SELECT c_custkey, c_nationkey, round(c_acctbal, 4) + 0.0 AS c_acctbal,
       |  CAST(ntile($NtileBins) OVER (PARTITION BY c_nationkey
       |    ORDER BY c_acctbal, c_custkey) AS BIGINT) AS bal_quartile
       |FROM customer""".stripMargin

  /** Scale path for global quantile binning: cut points from ONE
    * `approx_percentile` aggregate (bounded sketch, map-side merged),
    * then binning is a pure projection against the literal cuts — no
    * global sort, no single-partition window, two passes total.
    * Sketch results are engine-specific, so this is spec-verified
    * (monotonicity + approximate balance) rather than oracle-hashed,
    * like [[Relational.percentilesApprox]]. */
  def quantileCutBins(df: DataFrame, valueCol: String, nBins: Int,
      accuracy: Int = 10000): DataFrame = {
    val probs = (1 until nBins).map(_.toDouble / nBins)
    // approx_percentile over zero non-null rows returns SQL NULL —
    // an empty or all-null input must yield null bins, not a driver NPE
    val row = df.agg(approx_percentile(col(valueCol),
        typedLit(probs), lit(accuracy)).as("cuts"))
      .head
    val cuts: Seq[Double] =
      if (row.isNullAt(0)) Seq.empty else row.getSeq[Double](0)
    val bin = cuts.foldLeft(lit(0)) { (acc, c) =>
      acc + when(col(valueCol) > c, 1).otherwise(0)
    }
    // null values get a null bin (not silently bin 0)
    df.withColumn("bin",
      when(col(valueCol).isNotNull, bin.cast("long")))
  }

  val HistBins = 20
  val HistLo = 0.0
  val HistHi = 400.0

  /** #53 (q48) Fixed-width histogram over `events.value`: one
    * map-side-combined aggregate on the bin key — the cheapest possible
    * distribution profile of a fact column (bin id is a pure
    * projection; the shuffle carries `HistBins` rows per task). */
  def histogram(spark: SparkSession, dir: String): DataFrame = {
    val width = (HistHi - HistLo) / HistBins
    val bin = least(floor((col("value") - HistLo) / width), lit(HistBins - 1))
      .cast("long")
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("value") >= HistLo && col("value") <= HistHi)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        (round(avg(col("value")), 4) + 0.0).as("avg_value"))
      .select(col("bin"), (lit(HistLo) + col("bin") * width).as("bin_lo"),
        col("n"), col("avg_value"))
  }

  val histogramSql: String = {
    val width = (HistHi - HistLo) / HistBins
    s"""SELECT bin, $HistLo + bin * $width AS bin_lo, count(*) AS n,
       |  round(avg(value), 4) + 0.0 AS avg_value
       |FROM (
       |  SELECT CAST(least(floor((value - $HistLo) / $width), ${HistBins - 1}) AS BIGINT) AS bin,
       |    value
       |  FROM events
       |  WHERE value IS NOT NULL AND value >= $HistLo AND value <= $HistHi)
       |GROUP BY bin""".stripMargin
  }
}
