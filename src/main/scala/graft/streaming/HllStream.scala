package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming HyperLogLog — the continuous twin of
  * [[graft.operators.Hll]] with CONSTANT state: 256 register bytes
  * per group FOREVER, regardless of stream length or key cardinality
  * (a distinct-set state would grow without bound on an open key
  * space). Like the bootstrap twin (18s) and unlike the sequential
  * twins, the state is ORDER-FREE MERGEABLE (registers combine by
  * pointwise max, which commutes and is idempotent), so there is NO
  * delivery-order contract and duplicate redelivery is HARMLESS —
  * at-least-once sources get exactly-once estimates for free (the
  * set-semantics property the batch spec pins, live).
  *
  * The register/estimate program is the batch one verbatim on JVM
  * primitives (the same md5-derived hash48, the same pinned α·m²·2⁴¹
  * literal, the same 1e-9 ln snap on the linear-counting branch), so
  * a replay of any frame equals the batch sketch EXACTLY —
  * spec-pinned against q245's registered query. */
object HllStream {

  case class KeyEvent(g: String, k: String)
  case class HllState(regs: Array[Byte])
  /** Same columns as the batch estimate frame. */
  case class HllEstimate(g: String, v_zero: Long, s: Long, hll_est: Double)

  private val W2Mask = (1L << 40) - 1

  /** The batch register update on JVM primitives (parity pinned by
    * HllSpec's reference and HllStreamSpec's batch-equality test). */
  private[streaming] def observe(regs: Array[Byte], key: String): Unit = {
    val h = graft.functions.Hashing.md5head48(key)
    val b = (h >>> 40).toInt
    val w = h & W2Mask
    val rho =
      if (w == 0L) 41
      else 41 - (64 - java.lang.Long.numberOfLeadingZeros(w))
    if (rho > regs(b)) regs(b) = rho.toByte
  }

  private[streaming] def estimateOf(regs: Array[Byte]): (Long, Long, Double) = {
    val v = regs.count(_ == 0).toLong
    val s = regs.map(r => 1L << (41 - r)).sum
    val raw = 1.0351398986589102e17 / s.toDouble // Hll.NumSql pinned
    val est =
      if (raw <= 640.0 && v > 0)
        256.0 * (math.floor(math.log(256.0 / v) * 1e9 + 0.5) / 1e9)
      else raw
    (v, s, est)
  }

  /** Per-group running distinct estimate, refreshed each trigger
    * (Update mode). */
  def hllStream(events: Dataset[KeyEvent]): Dataset[HllEstimate] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.g)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (g: String, rows: Iterator[KeyEvent], state: GroupState[HllState]) => {
          val regs = state.getOption.map(_.regs)
            .getOrElse(new Array[Byte](256))
          rows.foreach(r => observe(regs, r.k))
          state.update(HllState(regs))
          val (v, s, est) = estimateOf(regs)
          Iterator(HllEstimate(g, v, s, est))
        })
  }

  /** q332 — the HLL stream EXECUTED under the driver's full-hash gate
    * (r16 verdict #3: the sketch quartet promotion; the q325 replay
    * pattern): q245's keyed frame is replayed through [[hllStream]]
    * in a deterministic Knuth scramble, three micro-batches PLUS a
    * duplicate redelivery of the first chunk — registers max-merge,
    * so BOTH arbitrary order and at-least-once redelivery are part of
    * the gated claim. The final per-group emission joins the batch
    * exact audit to produce q245's exact column set; the oracle is
    * q245's own SQL verbatim, so the gate proves stream ≡ batch ≡
    * DuckDB on every value.
    *
    * Scale note (q259 doctrine): the collect/feed is the replay
    * harness; the operator's state is 256 register bytes per group
    * REGARDLESS of stream length — that bound is the 100 TB path. */
  def replayHll(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val keyed = graft.Tables.lineitem(spark, dir)
        .selectExpr("l_returnflag AS g", "CAST(l_orderkey AS STRING) AS k")
        .localCheckpoint(true) // feed + exact audit share the scan
      val feed = Replay.knuthSorted(keyed.as[KeyEvent].collect())(
        r => r.k.toLong * 2654435761L % 1000003) // the q259 scramble
      val finals = Replay.run(spark, "q332_hll", "update",
          Replay.thirdsRedelivered(feed))(hllStream(_)) { sink =>
        Replay.latestBy(sink.collect())(_.getString(0))
          .map(r => (r.getString(0), r.getDouble(r.fieldIndex("hll_est"))))
      }
      val exact = keyed.groupBy("g")
        .agg(expr("CAST(count(DISTINCT k) AS BIGINT)").as("n_exact"))
      finals.toDF("g", "hll_est").join(exact, "g")
        .selectExpr("g AS l_returnflag", "n_exact",
          "round(hll_est, 4) + 0.0 AS hll_estimate",
          "round((hll_est - n_exact) / n_exact, 6) + 0.0 AS rel_err")
    }
  }

  /** DuckDB twin of [[replayHll]]: q245's own oracle verbatim. */
  val replayHllSql: String = graft.operators.Hll.orderkeyHllSql
}
