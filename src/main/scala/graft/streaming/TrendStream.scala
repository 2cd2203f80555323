package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming level-cell changelog — the continuous feed under q168's
  * Cochran–Armitage trend readout: each micro-batch emits a refreshed
  * (level, n, x) cell snapshot for every exposure level it touched;
  * the dashboard compacts the changelog (max trial-count row per
  * level) and runs [[graft.operators.TrendTest.fromCells]] over it,
  * so the LIVE trend z equals the batch z for the same prefix of the
  * feed exactly (the parity spec's assertion).
  *
  * The split of labor follows [[PropStream]]: the stateful side keeps
  * only the k level cells (k is the SCORED-LEVEL count — bounded by
  * design, the safest state cardinality in the streaming deck), and
  * the five sufficient statistics the z needs are derived by the read
  * layer from those k rows. Stale rows (seq ≤ last seen per level)
  * are dropped under the [[EwmaStream]] ordering contract, so
  * replayed batches and duplicate deliveries never double-count. */
object TrendStream {

  case class TrendEvent(w: Long, seq: Long, success: Boolean)
  case class LevelState(n: Long, x: Long, lastSeq: Long)
  case class CellSnapshot(w: Long, n_c: Long, x_c: Long)

  /** Per-level cell changelog keyed by the integer level score. */
  def cellStream(events: Dataset[TrendEvent]): Dataset[CellSnapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.w)
      .flatMapGroupsWithState[LevelState, CellSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (w, rows, state) =>
          var st = state.getOption.getOrElse(LevelState(0L, 0L, Long.MinValue))
          var touched = false
          rows.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > st.lastSeq) {
              st = LevelState(st.n + 1L,
                st.x + (if (e.success) 1L else 0L), e.seq)
              touched = true
            }
          }
          state.update(st)
          if (touched) Iterator.single(CellSnapshot(w, st.n, st.x))
          else Iterator.empty
      }
  }

  /** q344 — the level-cell changelog EXECUTED under the driver's
    * full-hash gate (r17 widening): the q168 order feed replays in
    * seq order across 3 micro-batches PLUS a duplicate redelivery of
    * the first chunk (the stale-drop rule makes it a no-op —
    * at-least-once is part of the gated claim); the compacted
    * changelog (max-trial-count snapshot per level) feeds the BATCH
    * [[graft.operators.TrendTest.fromCells]] read layer unchanged, so
    * the live Cochran–Armitage z IS the batch q168 row. Scale note
    * (q259 doctrine): the collect/feed is the harness; state is 3
    * longs per SCORED LEVEL (k levels by design) — the smallest state
    * cardinality in the streaming deck. */
  def replayTrendCells(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.orders(spark, dir)
        .filter(col("o_orderpriority").isNotNull &&
          col("o_orderstatus").isNotNull)
        .selectExpr("CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS w",
          "o_orderkey AS seq", "o_orderstatus = 'F' AS success")
        .as[TrendEvent].collect())(_.seq)
      val finals = Replay.run(spark, "q344_trend", "append",
          Replay.thirdsRedelivered(feed))(cellStream(_)) {
        _.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq
      }
      graft.operators.TrendTest.fromCells(
        finals.toDF("w", "n_c", "x_c"))
    }
  }

  /** DuckDB twin of [[replayTrendCells]]: q168's own oracle verbatim. */
  val replayTrendCellsSql: String =
    graft.operators.TrendTest.priorityFinishTrendSql
}
