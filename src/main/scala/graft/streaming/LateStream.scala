package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import DriftStream.{CusumAlarm, CusumEvent, CusumRow, CusumState, TrendEvent, TrendRow, TrendState}
import TwapStream.{TwapEvent, TwapRow, TwapState}

/** Watermark-buffered variants of the sequential streaming twins
  * (r10 verdict #4). The base twins 18n/18o/18r fold in arrival order
  * under a per-key-ordered source contract and DROP out-of-order rows
  * — correct on a partitioned log, but real Kafka topics reorder
  * across producers within a key. These variants adopt the 18c
  * [[EventStream.asofStream]] pattern instead: every row BUFFERS
  * per key until the watermark passes its event time (only then can
  * nothing earlier still arrive — Spark's late-drop predicate is
  * `ts <= watermark`, inclusive, so released prefixes are final);
  * released rows fold in EVENT-TIME order through the exact same fold
  * functions as the base twins, so any replay whose disorder stays
  * within the watermark horizon produces the batch rows exactly
  * (LateStreamSpec replays SCRAMBLED micro-batches).
  *
  * State: the base twin's constant/calendar-bounded core state plus
  * the pending buffer, which the watermark horizon bounds (rows
  * older than the watermark are dropped by Spark before they reach
  * the function) — run-forever safe at the same order as the base
  * twin plus (rate × horizon) buffered rows per key.
  *
  * Release timing: the group function only runs on new data or a
  * fired timeout, so after buffering, an event-time timeout is set to
  * the earliest pending timestamp (clamped past the current
  * watermark) — buffered rows release as soon as the watermark
  * passes them even if the key never receives another row.
  */
object LateStream {

  // --------------------------------------------- late-tolerant CUSUM (18n)

  case class CusumLateState(core: CusumState, pending: List[CusumEvent],
      maxTs: Long)

  /** [[DriftStream.cusumStream]] with watermark buffering: rows fold
    * in (ts, seq) order — the batch operator's order — once the
    * watermark passes their event time. `seq` must still be monotone
    * with ts per key (it is the tiebreak within equal timestamps). */
  def cusumStreamLate(events: Dataset[CusumEvent], targetCents: Long,
      kCents: Long, hCents: Long,
      watermark: String = "10 minutes"): Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.g)
      .flatMapGroupsWithState[CusumLateState, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (g, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            CusumLateState(CusumState(0L, 0L, Long.MinValue), Nil, 0L))
          var pending = prev.pending
          var maxTs = prev.maxTs
          rows.foreach { e =>
            pending ::= e
            maxTs = math.max(maxTs, e.ts.getTime)
          }
          val (ready, rest) = pending.partition(_.ts.getTime <= wm)
          val (core, alarms) = DriftStream.cusumFold(g, prev.core,
            ready.sortBy(e => (e.ts.getTime, e.seq)),
            targetCents, kCents, hCents)
          state.update(CusumLateState(core, rest, maxTs))
          if (rest.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(wm + 1, rest.map(_.ts.getTime).min))
          alarms.iterator
      }
  }

  /** [[cusumStreamLate]] emitting EVERY released row's state (the
    * [[DriftStream.cusumFoldRows]] frame) instead of alarms only —
    * the q336 replay gate aggregates these to the full batch q105
    * summary, so all of q105's columns (row counts, max excursions,
    * first-alarm instants) come from STREAM output. Same buffering,
    * same fold, same state bound. */
  def cusumStreamLateRows(events: Dataset[CusumEvent], targetCents: Long,
      kCents: Long, hCents: Long,
      watermark: String = "10 minutes"): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.g)
      .flatMapGroupsWithState[CusumLateState, CusumRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (g, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            CusumLateState(CusumState(0L, 0L, Long.MinValue), Nil, 0L))
          var pending = prev.pending
          var maxTs = prev.maxTs
          rows.foreach { e =>
            pending ::= e
            maxTs = math.max(maxTs, e.ts.getTime)
          }
          val (ready, rest) = pending.partition(_.ts.getTime <= wm)
          val (core, out) = DriftStream.cusumFoldRows(g, prev.core,
            ready.sortBy(e => (e.ts.getTime, e.seq)),
            targetCents, kCents, hCents)
          state.update(CusumLateState(core, rest, maxTs))
          if (rest.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(wm + 1, rest.map(_.ts.getTime).min))
          out.iterator
      }
  }

  // ---------------------------------------------- late-tolerant TWAP (18o)

  /** [[TwapStream.TwapEvent]] plus the event timestamp the watermark
    * tracks; `us` stays the exact microsecond order key (ts is its
    * millisecond truncation — watermark release only needs ms). */
  case class TwapLateEvent(g: Long, ts: Timestamp, us: Long, tie: Long,
      v: Double)
  case class TwapLateState(core: TwapState, pending: List[TwapLateEvent],
      maxTs: Long)

  /** [[TwapStream.twapStream]] with watermark buffering: released rows
    * fold in (us, tie) order — the batch q113 order. Emits the
    * refreshed summary row whenever an invocation folded anything. */
  def twapStreamLate(events: Dataset[TwapLateEvent],
      watermark: String = "10 minutes"): Dataset[TwapRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.g)
      .flatMapGroupsWithState[TwapLateState, TwapRow](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (g, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            TwapLateState(TwapStream.EmptyState, Nil, 0L))
          var pending = prev.pending
          var maxTs = prev.maxTs
          rows.foreach { e =>
            pending ::= e
            maxTs = math.max(maxTs, e.ts.getTime)
          }
          val (ready, rest) = pending.partition(_.ts.getTime <= wm)
          val core = TwapStream.twapFold(prev.core,
            ready.sortBy(e => (e.us, e.tie))
              .map(e => TwapEvent(e.g, e.us, e.tie, e.v)))
          state.update(TwapLateState(core, rest, maxTs))
          if (rest.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(wm + 1, rest.map(_.ts.getTime).min))
          if (ready.isEmpty) Iterator.empty
          else TwapStream.twapRow(g, core).iterator
      }
  }

  // -------------------------------------- late-tolerant Mann–Kendall (18r)

  /** [[DriftStream.TrendEvent]] plus the event timestamp the
    * watermark tracks (e.g. the bucket's end-of-day instant). */
  case class TrendLateEvent(g: String, ts: Timestamp, day: Long, xc: Long)
  case class TrendLateState(core: TrendState, pending: List[TrendLateEvent],
      maxTs: Long)

  /** [[DriftStream.mkTrendStream]] with watermark buffering: released
    * buckets fold in day order. Emits the refreshed test row after
    * each fold (update semantics, like the base twin). */
  def mkTrendStreamLate(events: Dataset[TrendLateEvent],
      watermark: String = "10 minutes"): Dataset[TrendRow] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.g)
      .flatMapGroupsWithState[TrendLateState, TrendRow](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (g, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            TrendLateState(TrendState(Map.empty, 0L, 0L, Long.MinValue, 0L),
              Nil, 0L))
          var pending = prev.pending
          var maxTs = prev.maxTs
          rows.foreach { e =>
            pending ::= e
            maxTs = math.max(maxTs, e.ts.getTime)
          }
          val (ready, rest) = pending.partition(_.ts.getTime <= wm)
          val (core, out) = DriftStream.mkFold(g, prev.core,
            ready.sortBy(_.day).map(e => TrendEvent(e.g, e.day, e.xc)))
          state.update(TrendLateState(core, rest, maxTs))
          if (rest.nonEmpty)
            state.setTimeoutTimestamp(
              math.max(wm + 1, rest.map(_.ts.getTime).min))
          out.lastOption.iterator // refreshed row: the newest fold state
      }
  }

  // ----------------------- replay gates for the trio (q336–q338, r16 #7)

  /** Deterministic bounded scramble (the LateStreamSpec recipe, shared
    * by the registered replays): cut the time-sorted feed into
    * `nChunks` contiguous chunks, demote the last `carry` rows of each
    * chunk into the next (cross-boundary lateness), shuffle every
    * batch with a FIXED seed (in-batch disorder). Returns (batches,
    * safe watermark delay ms ≥ any induced lateness). */
  private[graft] def boundedScramble[E](sorted: Seq[E], tsOf: E => Long,
      nChunks: Int, carry: Int, seed: Int): (Seq[Seq[E]], Long) = {
    val chunks = sorted.grouped(
      math.max(1, (sorted.length + nChunks - 1) / nChunks)).toSeq
    val spanMs = chunks.map(c => tsOf(c.last) - tsOf(c.head)).max + 1000L
    val rnd = new scala.util.Random(seed)
    val batches = scala.collection.mutable.ArrayBuffer.fill(
      chunks.length)(List.empty[E])
    chunks.zipWithIndex.foreach { case (c, i) =>
      val (stay, moved) = c.splitAt(math.max(1, c.length - carry))
      batches(i) = batches(i) ++ stay
      val dest = math.min(i + 1, chunks.length - 1)
      batches(dest) = batches(dest) ++ moved
    }
    (batches.map(b => rnd.shuffle(b)).toSeq, spanMs)
  }

  /** `batches` then the two watermark-flush sentinels: `mkSentinel(i,
    * ts)` must produce a row on a throwaway key the caller's read
    * filters back out. */
  private def flushed[E](batches: Seq[Seq[E]], delayMs: Long, maxTs: Long)(
      mkSentinel: (Int, Long) => E): Seq[Seq[E]] = {
    val flushTs = maxTs + 4 * delayMs
    Replay.withSentinels(batches,
      (0 to 1).map(i => mkSentinel(i, flushTs + i * delayMs)): _*)
  }

  /** q336 — the watermark-buffered CUSUM EXECUTED under the driver's
    * full-hash gate (r16 verdict #7): the events feed replays in
    * bounded-scrambled micro-batches (disorder within AND across
    * batch boundaries — the reordered-Kafka contract), every released
    * row's state is emitted by [[cusumStreamLateRows]], and the q105
    * summary aggregates over THOSE rows — oracle = q105 verbatim.
    * Scale note (q259 doctrine): the collect/feed is the harness; the
    * operator's state is the constant CUSUM core + the
    * watermark-horizon-bounded pending buffer — the 100 TB path. */
  def replayCusumLate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Replay.withShuffle4(spark) {
      val (t, k, h) = (graft.operators.Changepoint.Target,
        graft.operators.Changepoint.K, graft.operators.Changepoint.H)
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("ts"), col("event_type"), col("event_id"), col("value"))
        .collect()
        .map(r => CusumEvent(r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))))(_.ts.getTime, _.seq)
      val (batches, delayMs) =
        boundedScramble[CusumEvent](feed, _.ts.getTime, 4, 8, 7)
      val rows = Replay.run(spark, "q336_cusum", "append",
          flushed(batches, delayMs, feed.map(_.ts.getTime).max)(
            (i, ts) => CusumEvent(new Timestamp(ts), "__flush", i.toLong, 0.0)))(
          cusumStreamLateRows(_, t, k, h, s"$delayMs milliseconds"))(
          _.collect().toSeq)
      rows.map(r => (r.getString(0), r.getTimestamp(1), r.getLong(3),
          r.getLong(4), Option(r.getString(5))))
        .toDF("g", "ts", "s_up", "s_dn", "dir")
        .filter(col("g") =!= "__flush")
        .groupBy(col("g").as("event_type"))
        .agg(
          expr("CAST(count(1) AS BIGINT)").as("n_rows"),
          expr("CAST(sum(CASE WHEN dir IN ('up', 'both') THEN 1 ELSE 0 END)" +
            " AS BIGINT)").as("n_up"),
          expr("CAST(sum(CASE WHEN dir IN ('down', 'both') THEN 1 ELSE 0 END)" +
            " AS BIGINT)").as("n_down"),
          expr("round(CAST(max(s_up) AS DOUBLE) / 1e2, 2) + 0.0").as("max_s_up"),
          expr("round(CAST(max(s_dn) AS DOUBLE) / 1e2, 2) + 0.0").as("max_s_dn"),
          expr("min(CASE WHEN dir IN ('up', 'both') THEN ts END)")
            .as("first_up_ts"),
          expr("min(CASE WHEN dir IN ('down', 'both') THEN ts END)")
            .as("first_down_ts"))
    }
  }

  /** DuckDB twin of [[replayCusumLate]]: q105's own oracle verbatim. */
  val replayCusumLateSql: String = graft.operators.Changepoint.eventsCusumSql

  /** q337 — the watermark-buffered TWAP under the gate (r16 verdict
    * #7): scrambled replay through [[twapStreamLate]], final Update
    * emission per user IS the batch q113 row — oracle verbatim. */
  def replayTwapLate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .selectExpr("user_id", "ts", "unix_micros(ts) AS us", "event_id",
          "value")
        .collect()
        .map(r => TwapLateEvent(r.getLong(0), r.getTimestamp(1), r.getLong(2),
          r.getLong(3), r.getDouble(4))))(_.us, _.tie)
      val (batches, delayMs) =
        boundedScramble[TwapLateEvent](feed, _.ts.getTime, 4, 8, 11)
      // final Update emission per user
      val rows = Replay.run(spark, "q337_twap", "update",
          flushed(batches, delayMs, feed.map(_.ts.getTime).max)(
            (i, ts) => TwapLateEvent(-1L, new Timestamp(ts), ts * 1000L,
              i.toLong, 0.0)))(
          twapStreamLate(_, s"$delayMs milliseconds"))(
          sink => Replay.latestBy(
            sink.collect().filter(_.getLong(0) >= 0L))(_.getLong(0)))
      rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))
        .toDF("user_id", "n_events", "n_intervals", "span_s", "twap")
    }
  }

  /** DuckDB twin of [[replayTwapLate]]: q113's own oracle verbatim. */
  val replayTwapLateSql: String = graft.operators.Twap.userTwapSql

  /** q338 — the watermark-buffered Mann–Kendall under the gate (r16
    * verdict #7): the q143 day cells replay scrambled through
    * [[mkTrendStreamLate]]; the final Update emission per series is
    * the complete running test — the batch q143 row — oracle
    * verbatim. */
  def replayMkLate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    Replay.withShuffle4(spark) {
      val feed = graft.Tables.orders(spark, dir)
        .filter(col("o_orderdate").isNotNull && col("o_totalprice").isNotNull
          && col("o_orderpriority").isNotNull)
        .groupBy(col("o_orderpriority").as("g"),
          expr("CAST(datediff(CAST(o_orderdate AS DATE), DATE'1970-01-01')" +
            " AS BIGINT)").as("day"))
        .agg(expr("CAST(sum(CAST(floor(o_totalprice * 1e2) AS BIGINT))" +
          " AS BIGINT)").as("xc"))
        .collect()
        .map(r => TrendLateEvent(r.getString(0),
          new Timestamp((r.getLong(1) + 1) * 86400000L), r.getLong(1),
          r.getLong(2)))
        .toSeq.sortBy(_.day)
      val (batches, delayMs) =
        boundedScramble[TrendLateEvent](feed, _.ts.getTime, 4, 6, 13)
      // final Update emission per series
      val rows = Replay.run(spark, "q338_mk", "update",
          flushed(batches, delayMs, feed.map(_.ts.getTime).max)(
            (i, ts) => TrendLateEvent("__flush", new Timestamp(ts), i.toLong,
              0L)))(
          mkTrendStreamLate(_, s"$delayMs milliseconds"))(
          sink => Replay.latestBy(
            sink.collect().filter(_.getString(0) != "__flush"))(_.getString(0)))
      rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getDouble(4), r.getString(5)))
        .toDF("o_orderpriority", "n_days", "s_stat", "var18", "z", "trend")
    }
  }

  /** DuckDB twin of [[replayMkLate]]: q143's own oracle verbatim. */
  val replayMkLateSql: String =
    graft.operators.MannKendall.orderRevenueTrendSql
}
