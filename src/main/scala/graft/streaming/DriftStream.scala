package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming distribution-drift detector — the continuous twin of the
  * q99 two-sample Kolmogorov–Smirnov test (and the hypothesis-layer
  * upgrade of q86's marginal profile drift): each event-time window's
  * value distribution is tested against a fixed baseline the moment
  * the watermark closes the window, emitting one alert row per window
  * with the exact D statistic and its asymptotic z.
  *
  * Semantics contract: an emitted (d_stat, ks_z) is EQUAL to what
  * [[graft.operators.Hypothesis.ksTest]] returns for the same window
  * rows against the baseline expanded to rows (same exact-BIGINT
  * supremum max|c1·n2 − c2·n1|, same one division, same rounding) —
  * asserted by the parity spec.
  *
  * State design: one map (distinct value → count) per OPEN window —
  * bounded by value cardinality × open-window count, never by row
  * count (quantize continuous measures first, q47, exactly as the
  * batch test requires). The baseline is a driver-side cell map:
  * dimension-grade by the same precondition. Event-time timeout fires
  * once the watermark passes the window end, so every window emits
  * exactly once and its state is dropped — indefinitely-running safe.
  */
object DriftStream {

  case class DriftEvent(ts: Timestamp, v: Double)
  case class DriftState(counts: Map[Double, Long], windowEnd: Long)
  case class DriftAlert(window_start: Timestamp, n_window: Long,
      d_stat: Double, ks_z: Double)

  /** Exact two-sample KS over two cell maps (value → count) — the
    * q99 arithmetic in driver/executor Scala: cumulative counts over
    * the sorted pooled support, D-numerator max|c1·n2 − c2·n1| exact
    * in Long (precondition n1·n2 < 2^63), one division at the end.
    * Returns (d_stat round-6, ks_z round-4), matching the batch
    * operator's output grid. */
  def ksOfCells(x: Map[Double, Long], y: Map[Double, Long]): (Double, Double) = {
    val n1 = x.values.sum
    val n2 = y.values.sum
    require(n1 > 0 && n2 > 0, "ksOfCells needs non-empty samples on both sides")
    var c1 = 0L; var c2 = 0L; var dnum = 0L
    (x.keySet ++ y.keySet).toSeq.sorted.foreach { v =>
      c1 += x.getOrElse(v, 0L)
      c2 += y.getOrElse(v, 0L)
      dnum = math.max(dnum, math.abs(c1 * n2 - c2 * n1))
    }
    val d = dnum.toDouble / (n1.toDouble * n2.toDouble)
    val z = d * math.sqrt(n1.toDouble * n2.toDouble / (n1.toDouble + n2.toDouble))
    // HALF_UP like Spark's round(), so the parity contract is exact
    def r(v: Double, s: Int) =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    (r(d, 6), r(z, 4))
  }

  // ------------------------------------------------------ streaming CUSUM

  case class CusumEvent(ts: Timestamp, g: String, seq: Long, v: Double)
  case class CusumState(sUp: Long, sDn: Long, lastSeq: Long)
  case class CusumAlarm(g: String, ts: Timestamp, seq: Long,
      s_up: Double, s_dn: Double, dir: String)

  /** Streaming CUSUM — the continuous twin of
    * [[graft.operators.Changepoint.cusum]]: per series, carry
    * (S⁺, S⁻) as TWO Longs of state (constant per key — the recursion
    * needs nothing else) and emit an alarm row the moment either side
    * crosses h. Same integer-cent arithmetic as batch, so an ordered
    * replay reproduces the batch operator's alarm set exactly
    * (StreamingSpec parity).
    *
    * Ordering: the recursion is order-sensitive, so correctness needs
    * per-key IN-ORDER delivery — feed it a per-key-ordered source (a
    * partitioned log's contract) and a monotone `seq`; out-of-order
    * rows are DROPPED with their seq recorded nowhere (a late row
    * cannot be retro-folded into a running CUSUM — document upstream
    * reordering buffers if the feed needs them). State is 3 Longs per
    * series: bounded by the series dimension, run-forever safe. */
  /** The pure CUSUM fold over PRE-SORTED events: drop anything at or
    * behind the folded frontier (seq), fold the rest, collect alarms.
    * Shared by [[cusumStream]] (sorted by seq within an invocation —
    * the ordered-source contract) and
    * [[LateStream.cusumStreamLate]] (sorted by (ts, seq) over a
    * watermark-released buffer — the batch operator's order). */
  /** Every in-order row's reflected-CUSUM state in CENTS (s values
    * exactly the batch q105 frame's `s_up`/`s_dn` longs); `dir` is
    * null below the decision interval. The per-row frame the q336
    * replay gate aggregates. */
  case class CusumRow(g: String, ts: Timestamp, seq: Long,
      s_up: Long, s_dn: Long, dir: Option[String])

  /** The ONE CUSUM recurrence: emits every folded row;
    * [[cusumFold]] filters it down to alarms for the base twin. */
  private[streaming] def cusumFoldRows(g: String, st0: CusumState,
      sorted: Seq[CusumEvent], targetCents: Long, kCents: Long,
      hCents: Long): (CusumState, Seq[CusumRow]) = {
    var st = st0
    val out = sorted.flatMap { e =>
      if (e.seq <= st.lastSeq) None // out-of-order: dropped
      else {
        val xc = math.floor(e.v * 100.0).toLong
        val su = math.max(0L, st.sUp + (xc - targetCents - kCents))
        val sd = math.max(0L, st.sDn + (targetCents - kCents - xc))
        st = CusumState(su, sd, e.seq)
        val dir =
          if (su > hCents && sd > hCents) Some("both")
          else if (su > hCents) Some("up")
          else if (sd > hCents) Some("down")
          else None
        Some(CusumRow(g, e.ts, e.seq, su, sd, dir))
      }
    }
    (st, out)
  }

  private[streaming] def cusumFold(g: String, st0: CusumState,
      sorted: Seq[CusumEvent], targetCents: Long, kCents: Long,
      hCents: Long): (CusumState, Seq[CusumAlarm]) = {
    val (st, rows) = cusumFoldRows(g, st0, sorted, targetCents, kCents, hCents)
    (st, rows.collect { case CusumRow(_, ts, seq, su, sd, Some(dir)) =>
      CusumAlarm(g, ts, seq, su.toDouble / 100.0, sd.toDouble / 100.0, dir)
    })
  }

  def cusumStream(events: Dataset[CusumEvent], targetCents: Long,
      kCents: Long, hCents: Long): Dataset[CusumAlarm] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.g)
      .flatMapGroupsWithState[CusumState, CusumAlarm](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val st0 = state.getOption.getOrElse(CusumState(0L, 0L, Long.MinValue))
          val (st, alarms) = cusumFold(g, st0, rows.toSeq.sortBy(_.seq),
            targetCents, kCents, hCents)
          state.update(st)
          alarms.iterator
      }
  }

  /** KS drift alerts per tumbling event-time window. Input: streaming
    * frame with (ts TIMESTAMP, v DOUBLE) — project upstream. Output
    * (append): one row per CLOSED window (window_start, n_window,
    * d_stat, ks_z). `baseline` is the reference distribution as
    * value-level cells, e.g. `df.groupBy(v).count()` collected from a
    * trusted historical snapshot. */
  def ksDriftStream(events: DataFrame, baseline: Map[Double, Long],
      windowMs: Long = 3600000L,
      watermark: String = "10 minutes"): Dataset[DriftAlert] = {
    require(baseline.nonEmpty, "baseline cells must be non-empty")
    require(baseline.values.forall(_ > 0), "baseline counts must be positive")
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermark)
      .select(col("ts"), col("v"))
      .as[DriftEvent]
      .groupByKey(e => e.ts.getTime / windowMs * windowMs)
      .flatMapGroupsWithState[DriftState, DriftAlert](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (winStart, rows, state) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            val (d, z) = ksOfCells(st.counts, baseline)
            Iterator.single(
              DriftAlert(new Timestamp(winStart), st.counts.values.sum, d, z))
          } else {
            val st = state.getOption
              .getOrElse(DriftState(Map.empty, winStart + windowMs))
            val counts = rows.foldLeft(st.counts) { (m, e) =>
              m.updated(e.v, m.getOrElse(e.v, 0L) + 1L)
            }
            state.update(DriftState(counts, st.windowEnd))
            // fire when the watermark passes the window end (timeout
            // must sit strictly above the current watermark)
            state.setTimeoutTimestamp(
              math.max(st.windowEnd, state.getCurrentWatermarkMs + 1))
            Iterator.empty
          }
      }
  }

  // ------------------------------------------- streaming Mann–Kendall (18r)

  case class TrendEvent(g: String, day: Long, xc: Long)
  case class TrendState(cells: Map[Long, Long], s: Long, tie18: Long,
      lastDay: Long, n: Long)

  /** var18 = n(n−1)(2n+5) − tie18 is computed in plain Long here
    * (unlike the batch twin's DECIMAL(38)); it stays exact only while
    * n(n−1)(2n+5) < 2⁶³, i.e. n ≲ 1.66e6 buckets. [[mkTrendStream]]
    * throws past this cap — a series fed per-day hits it after ~4500
    * years, so the cap is a contract note, not a practical limit;
    * pre-bucket coarser if a feed ever approaches it. */
  val MkStreamMaxBuckets: Long = 1600000L
  case class TrendRow(g: String, n_days: Long, s_stat: Long, var18: Long,
      z: Double, trend: String)

  /** Streaming Mann–Kendall — the continuous twin of
    * [[graft.operators.MannKendall.mkTest]] (q143): per series, carry
    * the value-cell map of buckets seen so far plus running (S,
    * Σt(t−1)(2t+5)); each arriving time bucket updates S with
    * Σ_v cnt(v)·sgn(x − v) in one pass over the cells and the tie
    * term with the O(1) delta f(t+1) − f(t), then emits the full test
    * row — the live "is this metric drifting" readout.
    *
    * Parity contract: after an in-order replay of the batch day cells,
    * each series' LAST emission equals the batch operator's row
    * exactly (same integer S/var18, same shared-form z, HALF_UP
    * round-6 — MkStreamSpec).
    *
    * State: the cell map is bounded by DISTINCT BUCKET VALUES ≤ bucket
    * count ≤ the calendar (the q143 time-bucket-first precondition) —
    * per-series state is calendar-bounded, run-forever safe. Ordering:
    * buckets must arrive per-series in day order (the partitioned-log
    * contract, as cusumStream); a duplicate or late day is dropped.
    */
  /** The pure MK fold over PRE-SORTED day buckets — shared by
    * [[mkTrendStream]] (sorted within an invocation, ordered-source
    * contract) and [[LateStream.mkTrendStreamLate]] (sorted over a
    * watermark-released buffer). Drops anything at or behind the
    * folded day frontier. */
  private[streaming] def mkFold(g: String, st0: TrendState,
      sorted: Seq[TrendEvent]): (TrendState, Seq[TrendRow]) = {
    def f(t: Long) = t * (t - 1) * (2 * t + 5)
    var st = st0
    val out = sorted.flatMap { e =>
      if (e.day <= st.lastDay) None // late/duplicate bucket: dropped
      else {
        val sDelta = st.cells.iterator.map { case (v, cnt) =>
          cnt * java.lang.Long.signum(e.xc - v).toLong
        }.sum
        val t = st.cells.getOrElse(e.xc, 0L)
        st = TrendState(st.cells.updated(e.xc, t + 1),
          st.s + sDelta, st.tie18 + (f(t + 1) - f(t)), e.day, st.n + 1)
        val n = st.n // running count — no cell-map rescan per event
        if (n > MkStreamMaxBuckets) throw new IllegalStateException(
          s"mkTrendStream: $n buckets in series '$g' exceeds " +
            s"MkStreamMaxBuckets=$MkStreamMaxBuckets — var18 would " +
            "overflow Long; pre-bucket the feed coarser")
        val var18 = n * (n - 1) * (2 * n + 5) - st.tie18
        val z =
          if (st.s > 0) (st.s.toDouble - 1.0) / math.sqrt(var18 / 18.0)
          else if (st.s < 0)
            (st.s.toDouble + 1.0) / math.sqrt(var18 / 18.0)
          else 0.0
        val zr = BigDecimal(z)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        val trend =
          if (zr > 1.959964) "increasing"
          else if (zr < -1.959964) "decreasing"
          else "no_trend"
        Some(TrendRow(g, n, st.s, var18, zr, trend))
      }
    }
    (st, out)
  }

  def mkTrendStream(events: Dataset[TrendEvent]): Dataset[TrendRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.g)
      .flatMapGroupsWithState[TrendState, TrendRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (g, rows, state) =>
          val st0 = state.getOption
            .getOrElse(TrendState(Map.empty, 0L, 0L, Long.MinValue, 0L))
          val (st, out) = mkFold(g, st0, rows.toSeq.sortBy(_.day))
          state.update(st)
          out.iterator
      }
  }

  // ------------------------------------------------- q345 replay gate

  /** The q345 feed split: events BEFORE Jan 8 2024 are the trusted
    * historical snapshot the baseline cells come from; events at or
    * after it are the monitored stream. A fixed boundary (not a
    * data-derived one) because that is what a deployed drift monitor
    * has — the baseline is frozen before the stream starts. */
  val KsDriftCutoffMs: Long =
    java.time.LocalDate.of(2024, 1, 8).toEpochDay * 86400000L
  val KsDriftWindowMs: Long = 86400000L // daily drift readout

  /** q345 — the windowed KS drift monitor EXECUTED under the driver's
    * full-hash gate (r17 widening — the last substantive spec-only
    * twin): baseline = the value-cell distribution of the first seven
    * days, feed = the remaining 23 days bounded-scrambled (disorder
    * within AND across batch boundaries — the q336 LateStream
    * contract; a window's cell counts are order-free, so lateness
    * within the watermark is absorbed exactly), one alert row per
    * day window the moment the watermark closes it. The oracle
    * recomputes every (window × baseline) KS from the parquet in pure
    * SQL through [[graft.operators.Hypothesis.KsSql]] — the q99
    * formula text verbatim. Scale note (q259 doctrine): the
    * collect/feed is the harness; operator state is one value-cell
    * map per OPEN window (bounded by the quantization grid × the
    * watermark horizon, never row count) and the baseline map is
    * dimension-grade by the same precondition — the 100 TB path. */
  def replayKsDrift(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val cents = floor(col("value") * 100.0).cast("double")
      val ev = graft.Tables.events(spark, dir)
        .filter(col("value").isNotNull)
        .select(col("ts"), cents.as("v"), col("event_id"))
      val baseline: Map[Double, Long] = ev
        .filter(expr("unix_millis(ts)") < KsDriftCutoffMs)
        .groupBy("v").count().collect()
        .map(r => r.getDouble(0) -> r.getLong(1)).toMap
      val feed = Replay.sortedByLongs(ev
        .filter(expr("unix_millis(ts)") >= KsDriftCutoffMs)
        .select(col("ts"), col("v"), col("event_id"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getDouble(1), r.getLong(2))))(
        _._1.getTime, _._3)
        .map(e => DriftEvent(e._1, e._2))
      val (batches, delayMs) =
        LateStream.boundedScramble[DriftEvent](feed, _.ts.getTime, 4, 8, 17)
      val maxTs = feed.map(_.ts.getTime).max
      val lastRealWs = maxTs / KsDriftWindowMs * KsDriftWindowMs
      // + 2 windows: guarantees (a) the sentinels land OUTSIDE every
      // real window regardless of how small delayMs is (they carry a
      // real v=0.0 cell, so landing inside lastRealWs would corrupt
      // its KS row), and (b) the post-sentinel watermark (= flushTs)
      // clears the last real window END even when delayMs < window
      val flushTs = maxTs + 4 * delayMs + 2 * KsDriftWindowMs
      val alerts = Replay.run(spark, "q345_ksdrift", "append",
          Replay.withSentinels(batches, (0 to 1).map(i =>
            DriftEvent(new Timestamp(flushTs + i * delayMs), 0.0)): _*))(
          ds => ksDriftStream(ds.toDF(), baseline, KsDriftWindowMs,
            s"$delayMs milliseconds")) {
        _.collect()
          .map(r => (r.getTimestamp(0).getTime, r.getLong(1),
            r.getDouble(2), r.getDouble(3)))
          .filter(_._1 <= lastRealWs) // drop the sentinel windows
          .toSeq
      }
      alerts.toDF("ws_ms", "n_window", "d_stat", "ks_z")
    }
  }

  /** DuckDB twin of [[replayKsDrift]]: per daily window, the two-sample
    * KS of the window's cents cells against the frozen first-week
    * baseline — the q99 cumulative program partitioned by window, the
    * final D/z chain verbatim from [[graft.operators.Hypothesis.KsSql]]. */
  val replayKsDriftSql: String =
    s"""WITH ev AS (
       |  SELECT ts,
       |    CAST(floor(epoch_ms(ts) / $KsDriftWindowMs) * $KsDriftWindowMs
       |      AS BIGINT) AS ws,
       |    CAST(CAST(floor(value * 100) AS BIGINT) AS DOUBLE) AS v
       |  FROM events WHERE value IS NOT NULL),
       |base AS (
       |  SELECT v, CAST(count(*) AS BIGINT) AS cy
       |  FROM ev WHERE epoch_ms(ts) < $KsDriftCutoffMs GROUP BY v),
       |win AS (
       |  SELECT ws, v, CAST(count(*) AS BIGINT) AS cx
       |  FROM ev WHERE epoch_ms(ts) >= $KsDriftCutoffMs GROUP BY ws, v),
       |support AS (
       |  SELECT w.ws, b.v
       |  FROM (SELECT DISTINCT ws FROM win) w CROSS JOIN base b
       |  UNION
       |  SELECT ws, v FROM win),
       |cells AS (
       |  SELECT s.ws, s.v,
       |    COALESCE(w.cx, 0) AS cx, COALESCE(b.cy, 0) AS cy
       |  FROM support s
       |  LEFT JOIN win w ON w.ws = s.ws AND w.v = s.v
       |  LEFT JOIN base b ON b.v = s.v),
       |cum AS (
       |  SELECT ws,
       |    sum(cx) OVER (PARTITION BY ws ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
       |    sum(cy) OVER (PARTITION BY ws ORDER BY v
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
       |    sum(cx) OVER (PARTITION BY ws) AS n1,
       |    sum(cy) OVER (PARTITION BY ws) AS n2
       |  FROM cells),
       |agg AS (
       |  SELECT ws,
       |    CAST(max(n1) AS BIGINT) AS n_x,
       |    CAST(max(n2) AS BIGINT) AS n_y,
       |    CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS dnum
       |  FROM cum GROUP BY ws)
       |SELECT ws AS ws_ms, n_x AS n_window,
       |  ${graft.operators.Hypothesis.KsSql.mkString(",\n  ")}
       |FROM agg""".stripMargin
}
