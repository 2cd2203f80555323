package graft.streaming

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming count–min sketch — the continuous twin of
  * [[graft.operators.CountMin]] with BOUNDED state: ≤ d·w counter
  * cells per routing partition FOREVER (an exact term-frequency state
  * grows with vocabulary; the CMS state does not). Terms are routed
  * to partitions by term hash (the HeavyHittersStream pattern), so a
  * term's increments land in exactly ONE partition and the GLOBAL
  * sketch table is the per-(di, b) SUM of partition cells — the read
  * layer compacts the emitted changelog (max per partition cell:
  * totals are monotone) and sums across partitions, then the BATCH
  * probe ([[graft.operators.CountMin.estimates]]) runs unchanged on
  * the compacted table (the 18y read-layer idiom).
  *
  * Delivery contract: increments are additive — order-FREE (sums
  * commute, any replay order works) but NOT duplicate-idempotent,
  * the same contract as the Misra–Gries twin (18e); contrast 18v's
  * max-merged HLL registers, which are idempotent too. Exactly-once
  * sinks/sources (the Structured Streaming default with
  * checkpointing) satisfy it.
  *
  * Bucket hashing is the batch program on JVM primitives:
  * hash48(di:term) % w off the same md5 — a replay of any frame
  * compacts to the batch table EXACTLY (spec-pinned). */
object CountMinStream {

  case class TermEvent(part: Int, t: String)
  case class CmsState(cells: Map[Int, Long])
  /** One changelog row per TOUCHED cell per trigger. */
  case class CmsCell(part: Int, di: Int, b: Int, tot: Long)

  val D = graft.operators.CountMin.D
  val W = graft.operators.CountMin.W

  private[streaming] def bucket(di: Int, t: String): Int =
    (graft.functions.Hashing.md5head48(s"$di:$t") % W).toInt

  /** Per-partition CMS cell changelog (Update mode). */
  def cmsStream(events: Dataset[TermEvent]): Dataset[CmsCell] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.part)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (part: Int, rows: Iterator[TermEvent], state: GroupState[CmsState]) => {
          var cells = state.getOption.map(_.cells)
            .getOrElse(Map.empty[Int, Long])
          val touched = scala.collection.mutable.Set.empty[Int]
          rows.foreach { r =>
            (0 until D).foreach { di =>
              val key = di * W + bucket(di, r.t)
              cells = cells.updated(key, cells.getOrElse(key, 0L) + 1L)
              touched += key
            }
          }
          state.update(CmsState(cells))
          touched.iterator.map(k =>
            CmsCell(part, k / W, k % W, cells(k)))
        })
  }

  /** q334 — the CMS stream EXECUTED under the driver's full-hash gate
    * (r16 verdict #3; the q325 replay pattern): q246's per-line term
    * events replayed in a deterministic scramble over three
    * micro-batches — NO duplicate redelivery, because counts ADD
    * (the additive contract documented above; exactly-once delivery
    * is the operator's requirement, so the replay exercises order
    * freedom only). Read layer: the changelog compacts to each
    * partition cell's FINAL total (totals are monotone — max ≡ last),
    * partitions sum into the global (di, b) table, and the batch
    * probe ([[graft.operators.CountMin.estimates]]) runs unchanged on
    * it for the same top-20 election — q246's exact column set,
    * oracle verbatim.
    *
    * Scale note (q259 doctrine): the collect/feed is the harness; the
    * operator's state is ≤ d·w cells per routing partition regardless
    * of stream length or vocabulary — that bound is the 100 TB path. */
  def replayCms(spark: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val nParts = 16
      val lines = graft.Tables.lineitem(spark, dir)
        .selectExpr("CAST(l_partkey AS STRING) AS t", "l_partkey AS k")
        .localCheckpoint(true) // feed + cells election share the scan
      val feed = Replay.knuthSorted(lines
        .select(pmod(graft.functions.Hashing.hash48(col("t")),
          lit(nParts.toLong)).cast("int").as("part"), col("t"))
        .as[TermEvent].collect())(
        r => r.t.toLong * 2654435761L % 1000003) // the q259 scramble
      val finalCells = Replay.run(spark, "q334_cms", "update",
          Replay.thirds(feed))(cmsStream(_)) {
        _.collect()
          .groupBy(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
          .map { case ((_, di, b), vs) =>
            // compact: totals are monotone per partition cell
            (di, b, vs.map(_.getLong(3)).max)
          }.toSeq
      }
      // global table = per-(di, b) sum across routing partitions
      val tbl = finalCells.toDF("di", "b", "part_tot")
        .groupBy("di", "b")
        .agg(expr("CAST(sum(part_tot) AS BIGINT)").as("tot"))
      val cells = lines.groupBy("t", "k")
        .agg(expr("CAST(count(1) AS BIGINT)").as("c"))
      val top = cells
        .withColumn("rk", expr("row_number() OVER (ORDER BY c DESC, k ASC)"))
        .filter(col("rk") <= 20)
      top.join(graft.operators.CountMin.estimates(top.select("t"), tbl), "t")
        .selectExpr("k AS l_partkey", "c AS n_exact",
          "cms_est AS cms_estimate", "cms_est - c AS overestimate")
    }
  }

  /** DuckDB twin of [[replayCms]]: q246's own oracle verbatim. */
  val replayCmsSql: String = graft.operators.CountMin.partkeyCmsSql
}
