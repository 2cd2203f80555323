package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.operators.WeightedSample

/** Streaming weighted sampling without replacement — the continuous
  * twin of q160, and not an adaptation but the ALGORITHM'S OWN
  * streaming form: Efraimidis–Spirakis is literally reservoir
  * algorithm A-Res ("keep the k largest keys u^(1/w) seen so far"), so
  * the batch election and the stream reservoir compute the SAME set by
  * construction. The key is a pure function of the row
  * ([[WeightedSample.keyedEs]] runs unchanged on the streaming frame),
  * the top-k order is the same SQL total order the s18 aggregate uses
  * (es DESC, id ASC — NaN-greatest, the r12 TopK convention), and the
  * election is order-free — so ANY replay order, any micro-batching,
  * converges to exactly the batch q160 rows (spec-verified).
  *
  * State per domain is the BOUNDED k-entry reservoir (es, id, w) —
  * constant regardless of stream length; each trigger emits the
  * domain's current elected set with dense ranks (Update mode). */
object WeightedSampleStream {

  case class KeyedRow(g: String, id: Long, w: Long, es: Double)
  case class Reservoir(entries: Seq[(Double, Long, Long)])
  case class Elected(g: String, id: Long, w: Long, rk: Int)

  /** Stateless front end: the q160 key chain over a (possibly
    * streaming) frame with (domainCol, keyCol, weightCol). */
  def keyedStream(df: DataFrame, domainCol: String, keyCol: String,
      weightCol: String): Dataset[KeyedRow] = {
    import df.sparkSession.implicits._
    WeightedSample.keyedEs(df, domainCol, keyCol, weightCol)
      .select("g", "id", "w", "es").as[KeyedRow]
  }

  /** The s18/TopKBuffer election order (SQL total order: score desc,
    * NaN greatest, ±0.0 equal; id asc tie-break). */
  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  /** Per-domain bounded A-Res reservoir; emits the full current
    * elected set (with ranks 1..≤k) every trigger. */
  def weightedSample(rows: Dataset[KeyedRow], k: Int = WeightedSample.K)
      : Dataset[Elected] = {
    import rows.sparkSession.implicits._
    rows
      .groupByKey(_.g)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (g: String, it: Iterator[KeyedRow], state: GroupState[Reservoir]) => {
          var buf = state.getOption.map(_.entries.toVector)
            .getOrElse(Vector.empty[(Double, Long, Long)])
          it.foreach { r =>
            // id-dedup makes redelivery idempotent (at-least-once
            // sources): the key is a pure function of the row, so a
            // replayed id carries the identical es and re-inserting
            // it could only duplicate the entry
            if (!buf.exists(_._2 == r.id) &&
              (buf.size < k || better(r.es, r.id, buf.last._1, buf.last._2))) {
              val i = buf.indexWhere(e => better(r.es, r.id, e._1, e._2))
              val at = if (i < 0) buf.size else i
              buf = (buf.take(at) :+ ((r.es, r.id, r.w))) ++ buf.drop(at)
              if (buf.size > k) buf = buf.take(k)
            }
          }
          state.update(Reservoir(buf))
          buf.iterator.zipWithIndex.map { case ((_, id, w), p) =>
            Elected(g, id, w, p + 1)
          }
        })
  }

  /** q325 — the A-Res reservoir EXECUTED under the driver's full-hash
    * gate (r15 verdict #8: "reservoir of the weighted-sample stream
    * under the gate"; q259 runs this operator as a pipeline STAGE —
    * this registers it standalone against q160's own oracle). Replay:
    * deterministic Knuth scramble of the keyed frame, three
    * micro-batches PLUS a duplicate redelivery of the first chunk
    * (at-least-once idempotence is part of the gated claim), final
    * winner set = last Update emission per (g, rk), es_key re-attached
    * from the pure keyed projection for the oracle's column set. The
    * election is order-free (A-Res ≡ batch Efraimidis–Spirakis by
    * construction), so ANY replay order hash-matches q160. */
  def replayReservoir(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val src = graft.Tables.documents(spark, dir)
        .select(col("source"), col("doc_id"), col("n_chars"))
      val keyed = keyedStream(src, "source", "doc_id", "n_chars")
        .localCheckpoint(true) // feed + es_key join-back share it
      val feed = Replay.knuthSorted(keyed.collect())(
        r => r.id * 2654435761L % 1000003) // the q259 scramble
      val winners = Replay.run(spark, "q325_res", "update",
          Replay.thirdsRedelivered(feed))(weightedSample(_)) { sink =>
        Replay.latestBy(sink.collect())(r => (r.getString(0), r.getInt(3)))
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getInt(3)))
      }
      winners.toDF("source", "doc_id", "w", "rk")
        .join(keyed.toDF().select(col("g").as("source"),
          col("id").as("doc_id"), col("es")), Seq("source", "doc_id"))
        .select(col("source"), col("doc_id"), col("w"), col("rk"),
          (round(col("es"), 6) + 0.0).as("es_key"))
    }
  }

  /** DuckDB twin of [[replayReservoir]]: q160's own oracle. */
  val replayReservoirSql: String =
    graft.operators.WeightedSample.sourceWeightedSampleSql
}
