package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

/** Streaming group-sequential monitor (18w) — the continuous twin of
  * [[graft.operators.Sequential.orderFinishMonitor]] (q153), which is
  * the operator that WANTS to be a stream: a look "happens" exactly
  * when its accrual period closes. Unit events buffer until the
  * watermark passes their look's end instant (the [[LateStream]]
  * machinery — any disorder within the horizon is tolerated); each
  * fully-closed look then folds IN LOOK ORDER into the cumulative
  * per-arm counts and emits its boundary row the moment it completes —
  * the decision fires months before a batch job would see it.
  *
  * The one design difference from batch: the information denominator.
  * Batch uses the realized final count (it has it); a live monitor
  * cannot, so the caller supplies the PLANNED total information
  * `plannedTotal` — exactly how group-sequential designs are
  * pre-registered in practice (the boundary is fixed at design time).
  * Feeding the realized total reproduces the batch rows bit-for-bit
  * (the parity spec's configuration).
  *
  * State: one global key (a sequential monitor is inherently a single
  * accumulator — its state is 4 longs + the horizon-bounded buffer,
  * so the single-key shape costs nothing), cumulative counts, the
  * last closed look, and the decided flag.
  */
object SequentialStream {

  case class ObfEvent(ts: Timestamp, look: Int, t: Int, conv: Int)
  case class ObfState(pending: List[ObfEvent], lastLook: Int,
      na: Long, xa: Long, nb: Long, xb: Long, decided: Boolean, maxTs: Long)
  case class LookRow(look: Int, na: Long, xa: Long, nb: Long, xb: Long,
      t_frac: Double, z: Double, bound: Double, crossed: Boolean,
      is_decision: Boolean)

  private def r(v: Double, s: Int): Double =
    BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The batch operator's shared z / boundary arithmetic in JVM form
    * (same IEEE ops from the same exact integers). */
  private[streaming] def lookRow(look: Int, na: Long, xa: Long, nb: Long,
      xb: Long, plannedTotal: Long, c: Double,
      decidedBefore: Boolean): LookRow = {
    val pp = (xa + xb).toDouble / (na + nb)
    val z0 = (xa.toDouble / na - xb.toDouble / nb) /
      math.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb))
    val t = (na + nb).toDouble / plannedTotal
    val bound0 = c / math.sqrt(t)
    val crossed = math.abs(z0) > bound0
    LookRow(look, na, xa, nb, xb, r(t, 4), r(z0, 4), r(bound0, 4),
      crossed, crossed && !decidedBefore)
  }

  /** 18w: emit one boundary row per CLOSED look. `lookEndMs` maps a
    * look id to the epoch-ms instant at which its accrual ends (for
    * yearly looks: Jan 1 of the next year). */
  def obfStream(events: Dataset[ObfEvent], plannedTotal: Long,
      lookEndMs: Int => Long, c: Double = 2.040,
      watermark: String = "10 minutes"): Dataset[LookRow] = {
    import events.sparkSession.implicits._
    require(plannedTotal > 0)
    events
      .withWatermark("ts", watermark)
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[ObfState, LookRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, rows, state) =>
          val wm = state.getCurrentWatermarkMs()
          var st = state.getOption.getOrElse(
            ObfState(Nil, Int.MinValue, 0L, 0L, 0L, 0L, false, 0L))
          var pending = st.pending
          var maxTs = st.maxTs
          rows.foreach { e =>
            pending ::= e
            maxTs = math.max(maxTs, e.ts.getTime)
          }
          // a look closes when the watermark passes its end instant;
          // closed looks fold cumulatively in look order
          val closable = pending.map(_.look).distinct
            .filter(lk => lookEndMs(lk) <= wm).sorted
          val out = scala.collection.mutable.ListBuffer[LookRow]()
          var (na, xa, nb, xb) = (st.na, st.xa, st.nb, st.xb)
          var lastLook = st.lastLook
          var decided = st.decided
          closable.foreach { lk =>
            val (mine, rest) = pending.partition(_.look == lk)
            pending = rest
            mine.foreach { e =>
              if (e.t == 0) { na += 1; xa += e.conv }
              else { nb += 1; xb += e.conv }
            }
            if (na > 0 && nb > 0) {
              val row = lookRow(lk, na, xa, nb, xb, plannedTotal, c, decided)
              decided = decided || row.crossed
              out += row
            }
            lastLook = math.max(lastLook, lk)
          }
          st = ObfState(pending, lastLook, na, xa, nb, xb, decided, maxTs)
          state.update(st)
          if (pending.nonEmpty)
            state.setTimeoutTimestamp(math.max(wm + 1,
              pending.map(e => lookEndMs(e.look)).min))
          out.iterator
      }
  }

  /** Yearly look-end mapping (look = calendar year; its accrual closes
    * at Jan 1 of the next year). Object-level so closures shipped into
    * flatMapGroupsWithState stay serializable; the 9999 sentinel look
    * never closes. */
  val YearEndMs: Int => Long = y =>
    if (y >= 9999) Long.MaxValue / 2
    else java.time.LocalDate.of(y + 1, 1, 1).toEpochDay * 86400000L

  /** q343 — the group-sequential monitor EXECUTED under the driver's
    * full-hash gate (r17 widening): the q153 order feed replays
    * bounded-scrambled (cross-boundary lateness — the LateStream
    * contract) with plannedTotal = the realized total, so every
    * closed-look boundary row equals the batch q153 row bit-for-bit
    * (how a pre-registered design replays history); two sentinel
    * events on a never-closing look flush the watermark. Scale note
    * (q259 doctrine): the collect/feed is the harness; state is 4
    * cumulative longs + the horizon-bounded pending buffer on ONE key
    * (a sequential monitor is inherently a single accumulator). */
  def replayObf(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val feed = Replay.sortedByLongs(graft.Tables.orders(spark, dir)
        .filter(col("o_orderdate").isNotNull && col("o_orderstatus").isNotNull)
        .selectExpr("CAST(o_orderdate AS DATE) AS d",
          "year(CAST(o_orderdate AS DATE)) AS look",
          s"CAST(hash48(concat('${graft.operators.Sequential.Seed}:'," +
            " CAST(o_orderkey AS STRING))) % 2 AS INT) AS t",
          "CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS conv")
        .collect()
        .map(r => ObfEvent(
          new Timestamp(r.getDate(0).toLocalDate.toEpochDay * 86400000L),
          r.getInt(1), r.getInt(2), r.getInt(3))))(_.ts.getTime)
      val (batches, delayMs) =
        LateStream.boundedScramble[ObfEvent](feed, _.ts.getTime, 4, 8, 31)
      // flush must clear the LAST look's Jan-1 boundary, not just
      // maxTs: on a short feed (span ≲ 1.3 years) maxTs + 4·delay
      // can sit before the boundary and the final look would never
      // close — anchor on YearEndMs of the max look explicitly
      val maxTs = feed.map(_.ts.getTime).max
      val lastLookEnd = YearEndMs(feed.map(_.look).max)
      val flushTs =
        math.max(maxTs + 4 * delayMs, lastLookEnd + 2 * delayMs)
      val rows = Replay.run(spark, "q343_obf", "append",
          Replay.withSentinels(batches, (0 to 1).map(i =>
            ObfEvent(new Timestamp(flushTs + i * delayMs), 9999, 0, 0)): _*))(
          obfStream(_, feed.length.toLong, YearEndMs,
            watermark = s"$delayMs milliseconds"))(
          _.collect().toSeq)
      rows.map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getDouble(5), r.getDouble(6), r.getDouble(7),
          r.getBoolean(8), r.getBoolean(9)))
        .filter(_._1 != 9999) // defensive: look 9999 never closes (its
        // YearEndMs is ~Long.MaxValue/2), so no such row should emit
        .toDF("look", "na", "xa", "nb", "xb", "t_frac", "z", "bound",
          "crossed", "is_decision")
    }
  }

  /** DuckDB twin of [[replayObf]]: q153's own oracle verbatim. */
  val replayObfSql: String =
    graft.operators.Sequential.orderFinishMonitorSql
}
