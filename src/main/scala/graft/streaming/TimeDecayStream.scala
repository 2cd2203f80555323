package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twin of [[graft.operators.TimeDecay]] (q294) — the
  * fractional-credit attribution computed AT ARRIVAL. Each user keeps
  * the touches of the trailing lookback window (state bounded by
  * per-user activity in one week — the exact pair bound the batch
  * join carries); every purchase is credited the moment it lands:
  * in-window touches get the e^(−Δt/τ) weights through the IDENTICAL
  * integer arithmetic as the batch operator (per-pair 1e-9-floored
  * weights, integer normalizer, floored share/revenue credits), so
  * an ordered replay's per-type rollup reproduces the registered
  * q294 output BIT-FOR-BIT (spec-asserted), organic fallback
  * included.
  *
  * Emission: one row per (purchase, credited type) in append mode;
  * the channel report is a downstream integer aggregation either
  * way. Within a micro-batch a user's rows apply in (ts, event_id)
  * order — the batch total order; across batches arrival order
  * governs (the 18-series contract). */
object TimeDecayStream {

  case class TdEvent(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String, value: Option[Double])
  case class TdCredit(user_id: Long, ts: Timestamp, touch_type: String,
      n_pairs: Long, share_n: Long, rev_n: Long)
  case class TdState(touches: List[(String, Long)])

  private val Touches = Set("view", "click", "signup")
  private val LookbackMs =
    graft.operators.TimeDecay.LookbackDays * 86400000L
  private val TauSec = graft.operators.TimeDecay.TauSeconds

  def timeDecayStream(events: Dataset[TdEvent]): Dataset[TdCredit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TdState, TdCredit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, st: GroupState[TdState]) =>
          var touches = st.getOption.map(_.touches).getOrElse(Nil)
          val out = scala.collection.mutable.ListBuffer.empty[TdCredit]
          rows.toSeq.sortBy(r => (r.ts.getTime, r.event_id)).foreach { r =>
            val tMs = r.ts.getTime
            if (Touches(r.event_type))
              touches = (r.event_type, tMs) :: touches
            else if (r.event_type == "purchase") {
              val revFixed = math.floor(r.value.getOrElse(0.0) * 10000).toLong
              val inWin = touches.filter { case (_, ts) =>
                ts <= tMs && ts >= tMs - LookbackMs
              }
              if (inWin.isEmpty)
                out += TdCredit(user, r.ts, "organic", 1L, 1000000000L,
                  revFixed)
              else {
                // the batch chain verbatim: floor-second Δt, 1e-9-floored
                // weight per pair, exact integer normalizer, floored
                // per-pair share and revenue credits
                val ws = inWin.map { case (tp, ts) =>
                  val dt = tMs / 1000L - ts / 1000L
                  (tp, math.floor(
                    math.exp(-(dt.toDouble / TauSec)) * 1e9).toLong)
                }
                val wSum = ws.map(_._2).sum
                ws.groupBy(_._1).foreach { case (tp, g) =>
                  val share = g.map { case (_, w) =>
                    math.floor(w.toDouble * 1e9 / wSum).toLong
                  }.sum
                  val rev = g.map { case (_, w) =>
                    math.floor(revFixed.toDouble * w / wSum).toLong
                  }.sum
                  out += TdCredit(user, r.ts, tp, g.size.toLong, share, rev)
                }
              }
            }
            // prune state to the trailing window of the newest event
            touches = touches.filter(_._2 >= tMs - LookbackMs)
          }
          st.update(TdState(touches))
          out.iterator
      }
  }

  /** q316 — the time-decay attribution stream EXECUTED under the
    * driver's full-hash gate (r15 verdict #5; TimeDecayStreamSpec
    * already proved the ordered replay bit-exact vs q294 — this
    * registers that execution). Events replay in (ts, event_id) order
    * across three micro-batches (the touch window must carry across
    * batch boundaries), per-(purchase, type) credits collect from the
    * append sink, and the channel rollup — the same integer→display
    * arithmetic as the batch operator — hash-matches q294's own
    * oracle.
    *
    * Scale note (q259 doctrine): the collect/feed is the replay
    * harness; the operator's per-user state is the trailing lookback
    * window's touches — bounded by one user's week of activity, never
    * stream history. */
  def replayRollup(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .select(col("user_id").cast("long"), col("ts"),
          col("event_id").cast("long"), col("event_type"), col("value"))
        .as[TdEvent].collect())(_.ts.getTime, _.event_id)
      val credits = Replay.run(spark, "q316_td", "append",
          Replay.thirds(feed))(timeDecayStream(_))(
          _.as[TdCredit].collect().toSeq)
      credits.toDS().toDF()
        .groupBy(col("touch_type"))
        .agg(expr("CAST(sum(n_pairs) AS BIGINT)").as("n_pairs"),
          expr("round(CAST(sum(share_n) AS DOUBLE) / 1e9, 4) + 0.0")
            .as("conversions"),
          expr("round(CAST(sum(rev_n) AS DOUBLE) / 1e4, 4) + 0.0")
            .as("revenue"))
    }
  }

  /** DuckDB twin of [[replayRollup]]: q294's own oracle — replay ≡
    * batch is the contract under test. */
  val replayRollupSql: String = graft.operators.TimeDecay.eventTimeDecaySql
}
