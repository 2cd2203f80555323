package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** k-core peeling — the graph deck's DENSITY filter: q65 ranks, q77
  * counts closure, q147 groups, q218 reads global shape; the k-core
  * (maximal subgraph where every node keeps degree ≥ k) is the
  * standard "drop the fringe, keep the engaged backbone" operator —
  * crawl-graph curation keeps the 2-/3-core before expensive scoring
  * because peeling is near-linear while everything downstream isn't.
  *
  * Semantics: the REGISTERED operator peels a FIXED number of rounds
  * (the q45 fixed-iteration discipline — both engines run the
  * identical unrolled program) and reports per surviving node its
  * remaining degree plus a `converged` flag (true when the last round
  * changed nothing, i.e. the output IS the exact k-core; at the
  * registered k/rounds/graph it converges well inside the budget, and
  * the flag keeps the claim honest at any scale). [[kCoreUntil]] is
  * the run-to-fixed-point library variant.
  *
  * Exactness: everything is integer counts and semijoins — nothing
  * to snap anywhere.
  *
  * Plan/scale: per round ONE degree aggregate + two semijoins on the
  * arc frame, each round MATERIALIZED (localCheckpoint — the frame is
  * consumed three times per round; the q147 lazy-recurrence trap and
  * its measured 2^iters blowup are documented there) and counted. The
  * loop stops at the first round that drops no arc: a round only
  * filters, so an unchanged count is an unchanged frame, and every
  * later round of the unrolled program would return it as is — the
  * output is exactly the `rounds`-round one, for any input. Stopped
  * there, every surviving src keeps degree ≥ k, so `converged` is the
  * constant true and its min-aggregate cross join leaves the plan;
  * only a budget spent while arcs still drop computes it. Node frames
  * are node-grade: shuffle joins, no broadcast assumption — a
  * billion-arc graph peels with the same plan. */
object KCore {

  /** One peel round: keep arcs whose BOTH endpoints have degree ≥ k
    * (degree = arc count by src on a symmetrized frame). The survivor
    * set is an aggregate of the arc frame, so the planner's size
    * estimate already lands both semijoins on BroadcastHashJoin (the
    * r18 kcore_round plan dump: an explicit broadcast() hint produced
    * a byte-identical plan, so none was kept). */
  private def peelOnce(e: DataFrame, k: Int): DataFrame = {
    val surv = e.groupBy("src").agg(count(lit(1)).as("d"))
      .filter(col("d") >= k).select("src")
    e.join(surv, Seq("src"), "left_semi")
      .join(surv.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
      .select("src", "dst")
  }

  /** What [[peel]] left: the surviving arcs (checkpointed), the rounds
    * run — the confirming round that dropped nothing included — and
    * whether the loop stopped at that fixed point. */
  private[graft] final case class Peeled(arcs: DataFrame, rounds: Int,
      stable: Boolean)

  /** The one peel loop: peel until a round leaves the arc count
    * unchanged or `budget` rounds have run (each round's count is the
    * one driver scalar — the pagerankUntil convention). */
  private[graft] def peel(edges: DataFrame, k: Int, budget: Int): Peeled = {
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    var prev = e.count()
    var done = 0
    var stable = false
    while (!stable && done < budget) {
      e = peelOnce(e, k).localCheckpoint(true)
      val now = e.count()
      stable = now == prev
      prev = now
      done += 1
    }
    Peeled(e, done, stable)
  }

  private def degrees(e: DataFrame): DataFrame =
    e.groupBy("src").agg(expr("CAST(count(1) AS BIGINT)").as("degree"))

  /** Fixed-round peel. Returns surviving (src, degree, converged) —
    * `converged` true when no surviving node is below k (the
    * fixed-point certificate). */
  def kCorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1, s"need k/rounds >= 1, got $k/$rounds")
    val p = peel(edges, k, rounds)
    val deg = degrees(p.arcs)
    if (p.stable) deg.withColumn("converged", lit(true))
    else deg.crossJoin(broadcast(deg.agg(
      coalesce(min(col("degree")) >= k, lit(true)).as("converged"))))
  }

  /** Run-to-fixed-point variant: [[peel]] with `maxRounds` as the
    * budget. Returns (survivors, roundsRun). */
  def kCoreUntil(edges: DataFrame, k: Int,
      maxRounds: Int = 64): (DataFrame, Int) = {
    val p = peel(edges, k, maxRounds)
    (degrees(p.arcs), p.rounds)
  }

  val K = 3
  val Rounds = 6

  /** q219: the 3-core of the supplier–part supplies graph — parts
    * sourced from ≥ 3 engaged suppliers and suppliers carrying ≥ 3
    * multi-sourced parts: the resilient procurement backbone (the
    * fringe peeled here is exactly the single-source risk list). */
  def supplierPartKCore(spark: SparkSession, dir: String): DataFrame = {
    kCorePeel(Graph.symmetrizedSupplierPartArcs(spark, dir), K, Rounds)
      .selectExpr(
        "src div 2 AS node_key",
        "CASE WHEN src % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type",
        "degree", "converged")
  }

  /** DuckDB twin: the identical unrolled peel. */
  val supplierPartKCoreSql: String = {
    val roundsSql = (1 to Rounds).map { i =>
      val prev = s"e${i - 1}"
      s"""s$i AS (
         |  SELECT src FROM $prev GROUP BY src HAVING count(*) >= $K),
         |e$i AS (
         |  SELECT e.src, e.dst FROM $prev e
         |  JOIN s$i a ON e.src = a.src JOIN s$i b ON e.dst = b.src)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH sp AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |e0 AS (
       |  SELECT s * 2 AS src, p * 2 + 1 AS dst FROM sp
       |  UNION ALL
       |  SELECT p * 2 + 1 AS src, s * 2 AS dst FROM sp),
       |$roundsSql,
       |fdeg AS (
       |  SELECT src, CAST(count(*) AS BIGINT) AS degree
       |  FROM e$Rounds GROUP BY 1),
       |conv AS (
       |  SELECT coalesce(min(degree) >= $K, TRUE) AS converged FROM fdeg)
       |SELECT src // 2 AS node_key,
       |  CASE WHEN src % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       |  degree, converged
       |FROM fdeg CROSS JOIN conv""".stripMargin
  }
}
