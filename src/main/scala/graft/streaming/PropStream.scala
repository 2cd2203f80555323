package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming per-unit conversion changelog — the continuous feed
  * under q132's two-proportion A/B readout: each micro-batch emits a
  * refreshed (unit, outcome) snapshot for every unit it touched; the
  * dashboard compacts the changelog (max event-count row per unit)
  * and runs [[graft.operators.PropTest.propZTest]] over it, so the
  * LIVE z equals the batch z for the same prefix of the feed exactly
  * (the parity spec's assertion).
  *
  * The split of labor is deliberate: per-unit outcome state is the
  * unbounded-cardinality side (entity-dimension state, the
  * [[EwmaStream]] shape — run-forever safe); the z itself is a 4-
  * integer statistic the READ layer derives, because chaining a
  * second stateful aggregate behind flatMapGroupsWithState is both
  * restricted in append streams and pointless for a 2×2 table.
  *
  * Outcome rule: success-heavy unit — mult·successes > total events
  * (q132's registered convention at mult = 5; "ever succeeded"
  * saturates on feeds where every unit eventually converts).
  */
object PropStream {

  case class PropEvent(u: Long, seq: Long, success: Boolean)
  case class PropState(nSucc: Long, nTot: Long, lastSeq: Long)
  case class ConvSnapshot(u: Long, n_events: Long, conv: Int)

  /** Per-unit outcome changelog; stale rows (seq ≤ last seen) are
    * dropped under the [[EwmaStream]] ordering contract. */
  def convStream(events: Dataset[PropEvent], mult: Long = 5L)
      : Dataset[ConvSnapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.u)
      .flatMapGroupsWithState[PropState, ConvSnapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (u, rows, state) =>
          var st = state.getOption.getOrElse(PropState(0L, 0L, Long.MinValue))
          var touched = false
          rows.toSeq.sortBy(_.seq).foreach { e =>
            if (e.seq > st.lastSeq) {
              st = PropState(st.nSucc + (if (e.success) 1L else 0L),
                st.nTot + 1L, e.seq)
              touched = true
            }
          }
          state.update(st)
          if (touched)
            Iterator.single(ConvSnapshot(u, st.nTot,
              if (mult * st.nSucc > st.nTot) 1 else 0))
          else Iterator.empty
      }
  }

  /** q341 — the conversion changelog EXECUTED under the driver's
    * full-hash gate (r17 widening): the events feed replays in seq
    * order across 3 micro-batches PLUS a duplicate redelivery of the
    * first chunk (the stale-drop rule makes it a no-op — at-least-once
    * is part of the gated claim); the compacted changelog
    * (max-n_events snapshot per unit) feeds the BATCH
    * [[graft.operators.PropTest.propZTest]] read layer unchanged, so
    * the live A/B z IS the batch q132 row. Scale note (q259 doctrine):
    * the collect/feed is the harness; state is 3 longs per unit —
    * entity-dimension bounded, the 100 TB path. */
  def replayConv(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .select(col("user_id").as("u"), col("event_id").as("seq"),
          // null-safe: the batch q132 CASE counts a NULL event_type as
          // non-purchase; plain === would null the non-nullable field
          (col("event_type") <=> "purchase").as("success"))
        .as[PropEvent].collect())(_.seq)
      val finals = Replay.run(spark, "q341_conv", "append",
          Replay.thirdsRedelivered(feed))(convStream(_)) {
        _.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
          .groupBy(_._1)
          .map { case (u, vs) => (u, vs.maxBy(_._2)._3) }.toSeq
      }
      graft.operators.PropTest.propZTest(finals.toDF("u", "conv"))
    }
  }

  /** DuckDB twin of [[replayConv]]: q132's own oracle verbatim. */
  val replayConvSql: String = graft.operators.PropTest.purchaseRateTestSql
}
