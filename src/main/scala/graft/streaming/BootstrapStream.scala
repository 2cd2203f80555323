package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators.Bootstrap

/** Streaming Poisson-bootstrap CI (18s) — the continuous twin of
  * [[Bootstrap.bootstrapCi]] (q144): because resample multiplicities
  * are per-row deterministic and resample sums are plain additions,
  * the whole bootstrap is ORDER-FREE MERGEABLE STATE — per group, 2B
  * longs (each resample's Σw and Σw·x) plus the point sums. Every
  * arriving row folds its B deterministic weights in; each
  * micro-batch emits the group's refreshed CI. No ordering contract
  * at all (unlike 18n/18o/18r — sums commute); the only assumption is
  * exactly-once row delivery.
  *
  * Parity contract: after any replay of the same rows, in any order
  * and any batching, the emitted CI row EQUALS the batch operator's
  * (same hash-threshold weights, same exact integer sums, same
  * order-statistic election, same rounding grid) — BootstrapStreamSpec.
  *
  * State: (2B + 2) longs per group — bounded by the B parameter and
  * the group dimension, run-forever safe.
  */
object BootstrapStream {

  case class CiEvent(g: String, k: Long, xc: Long)
  case class CiState(sw: Array[Long], swx: Array[Long], n: Long, sx: Long)
  case class CiRow(g: String, n_rows: Long, n_resamples: Long,
      mean: Double, ci_lo: Double, ci_hi: Double)

  private def round4(v: Double): Double =
    BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble

  def bootstrapCiStream(events: Dataset[CiEvent],
      b: Int = Bootstrap.DefaultB,
      tailPermille: Int = 25): Dataset[CiRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.g)
      .flatMapGroupsWithState[CiState, CiRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val st = state.getOption
            .getOrElse(CiState(new Array[Long](b), new Array[Long](b), 0L, 0L))
          var n = st.n
          var sx = st.sx
          rows.foreach { e =>
            // one reused digest + shared key prefix for all B weights
            val ws = Bootstrap.weightsOf(e.k.toString, b)
            var i = 0
            while (i < b) {
              val w = ws(i)
              st.sw(i) += w
              st.swx(i) += w * e.xc
              i += 1
            }
            n += 1
            sx += e.xc
          }
          state.update(CiState(st.sw, st.swx, n, sx))
          if (n == 0) Iterator.empty
          else {
            // the batch election: means of nonzero-mass resamples,
            // lower order statistics at the permille tails
            val means = (0 until b).flatMap { i =>
              if (st.sw(i) > 0) Some(st.swx(i).toDouble / st.sw(i)) else None
            }.sorted
            val bn = means.size
            val lo = means(math.max(0, (tailPermille * bn + 999) / 1000 - 1))
            val hi = means(math.max(0,
              ((1000 - tailPermille) * bn + 999) / 1000 - 1))
            Iterator.single(CiRow(g, n, bn.toLong,
              round4(sx.toDouble / n / 100.0),
              round4(lo / 100.0), round4(hi / 100.0)))
          }
      }
  }

  /** q342 — the Poisson-bootstrap CI stream EXECUTED under the
    * driver's full-hash gate (r17 widening): the q144 customer frame
    * replays Knuth-scrambled across 3 micro-batches — NO duplicate
    * redelivery (weights ADD; exactly-once is the documented
    * contract, so the replay exercises the order-freedom the
    * mergeable state guarantees); final Update emission per segment
    * IS the batch q144 row. Scale note (q259 doctrine): the
    * collect/feed is the harness; state is (2B + 2) longs per group —
    * the 100 TB path. */
  def replayBootstrapCi(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.knuthSorted(graft.Tables.customer(spark, dir)
        .filter(col("c_mktsegment").isNotNull && col("c_acctbal").isNotNull)
        .selectExpr("c_mktsegment AS g", "c_custkey AS k",
          "CAST(floor(c_acctbal * 1e2) AS BIGINT) AS xc")
        .as[CiEvent].collect())(
        e => e.k * 2654435761L % 1000003) // the q259 scramble
      val finals = Replay.run(spark, "q342_ci", "update",
          Replay.thirds(feed))(bootstrapCiStream(_)) {
        _.collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
            r.getDouble(3), r.getDouble(4), r.getDouble(5)))
          .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq
      }
      finals.toDF("c_mktsegment", "n_rows", "n_resamples", "mean",
        "ci_lo", "ci_hi")
    }
  }

  /** DuckDB twin of [[replayBootstrapCi]]: q144's own oracle verbatim. */
  val replayBootstrapCiSql: String =
    graft.operators.Bootstrap.segmentBalanceCiSql
}
