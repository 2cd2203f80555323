package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming EWMA level tracker — the continuous twin of
  * [[graft.operators.Ewma]] (q124): each entity's smoothed "current
  * level", re-emitted whenever a micro-batch touches the entity.
  * The monitoring shape: feature-store freshness, live per-user
  * engagement level, fleet metric smoothing.
  *
  * Semantics contract: after an in-order replay, the LAST emitted row
  * per key equals the batch operator's row for that key exactly —
  * same truncated adjusted EWMA (α = 1/2, last K values), same
  * integer ten-thousandths, same dyadic-exact summation, same
  * HALF_UP rounding grid (the StreamingSpec parity assertion).
  *
  * State design: a ring of the last K integer values (newest first)
  * plus the event count — K+1 longs per entity, CONSTANT in stream
  * length; entity-dimension bounded, run-forever safe. The dyadic
  * weights make the fold order-insensitive within a batch's sorted
  * replay: summation is exact, so batch-boundary placement cannot
  * shift the result (the q124 exactness argument, live).
  *
  * Ordering: same contract as [[DriftStream.cusumStream]] — per-key
  * in-order delivery with a monotone (tsUs, seq); stale rows are
  * dropped, not retro-folded. Event time is integer MICROSECONDS
  * (`unix_micros`) so the stream's total order is bit-identical to
  * the batch operator's (ts, event_id) sort — a millisecond-grain
  * Timestamp would collapse sub-ms ordering ties differently.
  */
object EwmaStream {

  case class EwmaEvent(tsUs: Long, user: Long, seq: Long, v: Double)
  case class EwmaState(vals: List[Long], n: Long, lastTsUs: Long, lastSeq: Long)
  case class EwmaLevel(user: Long, n_events: Long, last_value: Double,
      ewma: Double)

  private def r(v: Double, s: Int): Double =
    BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The q124 formula over a newest-first value ring: Σ vᵢ·2⁻ʲ / Σ 2⁻ʲ
    * — every term exact, one divide, batch rounding grid. */
  def levelOf(vals: List[Long]): Double = {
    var ws = 0.0; var wn = 0.0; var w = 1.0
    vals.foreach { v => ws += v.toDouble * w; wn += w; w *= 0.5 }
    r(ws / wn / 10000.0, 4)
  }

  /** Per-user streaming EWMA; emits the refreshed level for every
    * user touched by each micro-batch (append of level snapshots —
    * downstream keeps MAX-seq per user, exactly like a compacted
    * changelog). */
  def ewmaStream(events: Dataset[EwmaEvent], k: Int = 20): Dataset[EwmaLevel] = {
    require(k >= 1 && k <= 30, s"k must be in [1,30], got $k")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user)
      .flatMapGroupsWithState[EwmaState, EwmaLevel](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user, rows, state) =>
          var st = state.getOption.getOrElse(
            EwmaState(Nil, 0L, Long.MinValue, Long.MinValue))
          var touched = false
          rows.toSeq.sortBy(e => (e.tsUs, e.seq)).foreach { e =>
            val fresh = e.tsUs > st.lastTsUs ||
              (e.tsUs == st.lastTsUs && e.seq > st.lastSeq)
            if (fresh) { // stale rows dropped
              val vi = math.floor(e.v * 10000.0).toLong
              st = EwmaState((vi :: st.vals).take(k), st.n + 1,
                e.tsUs, e.seq)
              touched = true
            }
          }
          state.update(st)
          if (touched)
            Iterator.single(EwmaLevel(user, st.n,
              r(st.vals.head.toDouble / 10000.0, 4), levelOf(st.vals)))
          else Iterator.empty
      }
  }

  /** q340 — the EWMA level tracker EXECUTED under the driver's
    * full-hash gate (r17 widening; the q332 promotion pattern): the
    * events feed replays in (tsUs, seq) order across 3 micro-batches
    * PLUS a duplicate redelivery of the first chunk — the stale-drop
    * rule (seq ≤ last seen) makes redelivery a no-op, so at-least-once
    * is part of the gated claim; the compacted changelog (max-n_events
    * snapshot per user) IS the batch q124 frame. Scale note (q259
    * doctrine): the collect/feed is the harness; state is K+1 longs
    * per entity forever — the 100 TB path. */
  def replayEwma(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .select(expr("unix_micros(ts)").as("tsUs"),
          col("user_id").as("user"), col("event_id").as("seq"),
          // the batch q124 reads coalesce(value, 0e0) — mirror it here
          // or a NULL value crashes the non-nullable encoder field
          coalesce(col("value"), lit(0.0)).as("v"))
        .as[EwmaEvent].collect())(_.tsUs, _.seq)
      val finals = Replay.run(spark, "q340_ewma", "append",
          Replay.thirdsRedelivered(feed))(ewmaStream(_)) {
        _.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
            r.getDouble(3)))
          .groupBy(_._1).map { case (_, vs) => vs.maxBy(_._2) }.toSeq
      }
      finals.toDF("user_id", "n_events", "last_value", "ewma")
    }
  }

  /** DuckDB twin of [[replayEwma]]: q124's own oracle verbatim. */
  val replayEwmaSql: String = graft.operators.Ewma.userEwmaSql
}
