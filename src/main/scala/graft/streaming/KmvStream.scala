package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.functions.expressions.KmvBuffer

/** Streaming KMV — the continuous twin of [[graft.operators.Kmv]]
  * with BOUNDED state: k sorted distinct longs per group forever (2 KiB
  * at k = 256), regardless of stream length or key cardinality. Like
  * the HLL twin (18v) and unlike the additive CountMin/DDSketch twins,
  * the state is ORDER-FREE MERGEABLE **and redelivery-idempotent**
  * (insert dedups — re-seeing a kept hash is a no-op, re-seeing a
  * dropped one re-loses), so at-least-once delivery gets exactly-once
  * estimates for free. What this twin adds over 18v: the state IS a
  * live uniform sample of the distinct keys seen so far — a streaming
  * distinct-population sample HLL registers cannot provide.
  *
  * The hash/insert/estimate program is the batch one verbatim on JVM
  * primitives (same md5-derived hash48, same [[KmvBuffer]] class the
  * batch aggregate runs inside executors, same pinned 255·2⁴⁸
  * estimate literal), so a replay of any frame equals the batch
  * sketch EXACTLY — spec-pinned against q264's program. */
object KmvStream {

  case class KeyEvent(g: String, k: String)
  case class KmvState(vs: Array[Long])
  /** sz/hk/est mirror the batch [[graft.operators.Kmv.bottomK]] frame;
    * hs is the live distinct-key sample (ascending hashes). */
  case class KmvEstimate(g: String, sz: Long, hk: Long, kmv_est: Double,
      hs: Seq[Long])

  private val K = graft.operators.Kmv.K
  private val EstNum = 7.177611906121728e16 // Kmv.EstNum pinned

  private[streaming] def hash48(key: String): Long =
    graft.functions.Hashing.md5head48(key)

  private[streaming] def estimateOf(buf: KmvBuffer): (Long, Long, Double) =
    if (buf.size < buf.k) (buf.size.toLong, -1L, buf.size.toDouble)
    else {
      val hk = buf.vs(buf.k - 1)
      (buf.size.toLong, hk, EstNum / (hk.toDouble + 1.0))
    }

  /** Per-group running distinct estimate + live distinct-key sample,
    * refreshed each trigger (Update mode). */
  def kmvStream(events: Dataset[KeyEvent]): Dataset[KmvEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.g)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (g: String, rows: Iterator[KeyEvent], state: GroupState[KmvState]) => {
          val buf = new KmvBuffer(K)
          state.getOption.foreach { s =>
            var i = 0
            // stored ascending distinct: straight re-fill
            while (i < s.vs.length) { buf.vs(i) = s.vs(i); i += 1 }
            buf.size = s.vs.length
          }
          rows.foreach(r => buf.insert(hash48(r.k)))
          state.update(KmvState(
            java.util.Arrays.copyOfRange(buf.vs, 0, buf.size)))
          val (sz, hk, est) = estimateOf(buf)
          Iterator(KmvEstimate(g, sz, hk, est,
            java.util.Arrays.copyOfRange(buf.vs, 0, buf.size).toSeq))
        })
  }

  /** q333 — the KMV stream EXECUTED under the driver's full-hash gate
    * (r16 verdict #3; the q325 replay pattern): q264's keyed frame
    * replayed in a deterministic scramble, three micro-batches plus a
    * duplicate redelivery of the first chunk (bottom-k insert dedups,
    * so at-least-once redelivery is part of the gated claim). The
    * final per-group emission carries (sz, hk) for the estimate AND
    * the live hash sample `hs`; the batch audit columns (exact counts
    * + the sample semijoin means) recompute from the shared keyed
    * frame against THAT sample, so the gate checks the sketch state
    * itself, not just the scalar estimate. Oracle = q264 verbatim.
    *
    * Scale note (q259 doctrine): the collect/feed is the harness; the
    * operator's state is k sorted longs per group regardless of
    * stream length — that bound is the 100 TB path. */
  def replayKmv(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val keyed = graft.Tables.lineitem(spark, dir)
        .selectExpr("l_returnflag AS g", "CAST(l_orderkey AS STRING) AS k")
        .withColumn("h", graft.functions.Hashing.hash48(col("k")))
        .localCheckpoint(true) // feed + audits share the scan+hash
      val feed = Replay.knuthSorted(keyed.select("g", "k").as[KeyEvent].collect())(
        r => r.k.toLong * 2654435761L % 1000003) // the q259 scramble
      val finals = Replay.run(spark, "q333_kmv", "update",
          Replay.thirdsRedelivered(feed))(kmvStream(_)) { sink =>
        Replay.latestBy(sink.collect())(_.getString(0))
          .map(r => (r.getString(0), r.getLong(r.fieldIndex("sz")),
            r.getLong(r.fieldIndex("hk")), r.getSeq[Long](r.fieldIndex("hs"))))
      }
      val sk = finals.toDF("g", "sz", "hk", "hs").localCheckpoint(true)
      val exact = keyed.groupBy("g")
        .agg(expr("CAST(count(1) AS BIGINT)").as("n_lines"),
          expr("CAST(count(DISTINCT k) AS BIGINT)").as("n_exact"))
      val sampleKeys = sk.select(col("g"), explode(col("hs")).as("h"))
      val samp = keyed.join(broadcast(sampleKeys), Seq("g", "h"))
        .groupBy("g")
        .agg(expr("CAST(count(1) AS BIGINT)").as("s_lines"),
          expr("CAST(count(DISTINCT k) AS BIGINT)").as("s_orders"))
      sk.join(exact, "g").join(samp, "g")
        .selectExpr("g", "n_exact", "n_lines", "s_lines", "s_orders",
          s"CASE WHEN sz < $K THEN CAST(sz AS DOUBLE)" +
            s" ELSE $EstNum / (CAST(hk AS DOUBLE) + 1.0) END AS est_raw")
        .selectExpr("g AS l_returnflag", "n_exact",
          "round(est_raw, 4) + 0.0 AS kmv_estimate",
          "round((est_raw - n_exact) / n_exact, 6) + 0.0 AS rel_err",
          "round(CAST(n_lines AS DOUBLE) / CAST(n_exact AS DOUBLE), 6) + 0.0" +
            " AS lines_mean_exact",
          "round(CAST(s_lines AS DOUBLE) / CAST(s_orders AS DOUBLE), 6) + 0.0" +
            " AS lines_mean_kmv")
    }
  }

  /** DuckDB twin of [[replayKmv]]: q264's own oracle verbatim. */
  val replayKmvSql: String = graft.operators.Kmv.orderkeyKmvSql
}
