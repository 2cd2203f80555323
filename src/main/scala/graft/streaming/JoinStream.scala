package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Watermarked STREAM-STREAM equi-join (r14 verdict #6 — the one
  * Structured Streaming staple the 30 twins lacked a row for; every
  * prior join twin was stream-static). The shape is funnel
  * attribution: an impression stream joins a conversion stream on
  * user_id within an event-time window — two LIVE feeds, neither of
  * which can be broadcast or treated as a dimension.
  *
  * STATE BOUND (the reason this operator is runnable forever): with
  * both sides watermarked at `watermark` and the join condition
  * bounding conversion time to [impression ts, ts + horizon], Spark
  * retains an impression only until the watermark passes
  * ts + horizon, and a conversion only until the watermark passes its
  * cts — buffered state is O(rows inside the late-data horizon +
  * attribution window), NEVER O(stream history). An unconstrained
  * stream-stream join (no time bound) would buffer both streams
  * FOREVER — the time-range predicate is not an optimization, it is
  * what makes the state finite. Late rows (event time older than the
  * watermark on arrival) are dropped by contract; JoinStreamSpec pins
  * both the replay-equivalence and the late-drop behavior.
  *
  * TWIN CONTRACT: this is ONE code path for both engines — on batch
  * frames `withWatermark` is a no-op and the same join text runs as a
  * plain range join, so `attributionJoin(batchImps, batchConvs)` IS
  * the batch twin the spec compares the replay against (no second
  * implementation to drift).
  *
  * Input schemas: impressions (user_id LONG, event_id LONG,
  * ts TIMESTAMP), conversions (c_user_id LONG, conv_id LONG,
  * value DOUBLE, cts TIMESTAMP) — disjoint names because
  * stream-stream joins forbid ambiguous columns across sides.
  */
object JoinStream {

  /** Attribution window: a conversion attributes to every impression
    * of the same user in the preceding `horizon`. */
  val DefaultHorizon = "4 hours"

  def attributionJoin(imps: DataFrame, convs: DataFrame,
      watermark: String = "1 hour",
      horizon: String = DefaultHorizon): DataFrame = {
    val i = imps.withWatermark("ts", watermark)
    val c = convs.withWatermark("cts", watermark)
    i.join(c,
      col("user_id") === col("c_user_id") &&
        col("cts") >= col("ts") &&
        col("cts") <= col("ts") + expr(s"INTERVAL $horizon"),
      "inner")
      .select(col("user_id"), col("event_id"), col("conv_id"),
        col("value"), col("ts"), col("cts"))
  }

  /** The impression/conversion split of the `events` table the spec
    * replays: every event is an impression; purchases are the
    * conversion stream (self-pairs excluded by conv_id ≠ event_id in
    * the consumer — kept out of the join condition so the join state
    * stays a pure (key, time) contract). */
  def impressionsOf(events: DataFrame): DataFrame =
    events.select(col("user_id"), col("event_id"), col("ts"))

  def conversionsOf(events: DataFrame): DataFrame =
    events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("c_user_id"), col("event_id").as("conv_id"),
        col("value"), col("ts").as("cts"))

  /** Feed row types for the registered replay (the spec keeps its own
    * twins — these are the production shapes). */
  case class Imp(user_id: Long, event_id: Long, ts: Timestamp)
  case class Conv(c_user_id: Long, conv_id: Long, value: Double, cts: Timestamp)
  case class Attributed(user_id: Long, event_id: Long, conv_id: Long,
      value: Double, ts: Timestamp, cts: Timestamp)

  /** q311 — the watermarked STREAM-STREAM join EXECUTED and registered
    * under the driver's full-hash gate (r15 verdict #2: it was the
    * last Structured Streaming staple whose correctness lived only
    * under sbt). The replay is JoinStreamSpec's interleaved recipe
    * productized: both feeds advance in global event-time order,
    * three chunks per side, each side's watermark moving between
    * micro-batches while the other side still has matches coming —
    * so rows ARE buffered in, matched out of, and evicted from real
    * join state, not resolved within one batch. Because the feeds
    * advance together, no valid match's partner is ever behind the
    * watermark on arrival, and the streamed result equals the batch
    * twin (the SAME `attributionJoin` text on batch frames) exactly —
    * the oracle is that batch join as plain DuckDB SQL.
    *
    * Scale note (the q259 doctrine): the collect()s below are the
    * REPLAY HARNESS — a test-scale reenactment of two live feeds.
    * The OPERATOR under test holds state bounded by the time-range
    * condition (impressions to watermark > ts + horizon, conversions
    * to watermark > cts — O(horizon + lateness window), never
    * O(stream history)); that bound, not the harness, is the 100 TB
    * path, and the hash gate pins the join it produces. */
  def replayAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val events = Tables.events(spark, dir)
      val impRows = Replay.sortedByLongs(
        impressionsOf(events).as[Imp].collect())(_.ts.getTime, _.event_id)
      val convRows = Replay.sortedByLongs(
        conversionsOf(events).as[Conv].collect())(_.cts.getTime, _.conv_id)
      val rows = Replay.interleaved(spark, "q311_ssjoin", "append",
          Replay.thirds(impRows), Replay.thirds(convRows))(
          (i, c) => attributionJoin(i.toDF(), c.toDF())) {
        _.filter(col("conv_id") =!= col("event_id")) // self-pair rule
          .as[Attributed].collect().toSeq
      }
      rows.toDS().toDF()
        .select(col("user_id"), col("event_id"), col("conv_id"),
          col("value"), col("ts"), col("cts"))
    }
  }

  /** DuckDB twin of [[replayAttribution]]: the batch form of the SAME
    * join text — replay ≡ batch is the contract under test. */
  val replayAttributionSql: String =
    s"""WITH i AS (SELECT user_id, event_id, ts FROM events),
       |c AS (
       |  SELECT user_id AS c_user_id, event_id AS conv_id, value, ts AS cts
       |  FROM events WHERE event_type = 'purchase')
       |SELECT i.user_id, i.event_id, c.conv_id, c.value, i.ts, c.cts
       |FROM i JOIN c ON i.user_id = c.c_user_id
       |  AND c.cts >= i.ts
       |  AND c.cts <= i.ts + INTERVAL '$DefaultHorizon'
       |  AND c.conv_id <> i.event_id""".stripMargin
}
