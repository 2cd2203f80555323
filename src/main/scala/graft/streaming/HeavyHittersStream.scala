package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming heavy hitters — the continuous twin of
  * [[graft.textstats.TextStats.heavyHitters]] with BOUNDED state: a
  * Misra–Gries summary per term-hash partition instead of one counter
  * per distinct term (an open-vocabulary stream would otherwise grow
  * state without limit). Classic guarantees (Misra & Gries 1982): with
  * capacity C per group, any term whose true frequency exceeds
  * N_group/(C+1) is guaranteed present, and every emitted count is a
  * lower bound with `upper = lower + decrements` an upper bound.
  *
  * Terms are routed to groups by term hash, so a term's counters live
  * in exactly ONE group — global top-k is a plain union + top over the
  * emitted summaries, no cross-group merging. State per group is ≤ C
  * counters regardless of stream length.
  */
object HeavyHittersStream {

  case class TokRow(part: Int, term: String)
  case class MgState(counters: Map[String, Long], decs: Long, epoch: Long)
  /** `lower` ≤ true count ≤ `upper` (within this group's substream);
    * `epoch` counts this group's state invocations so a consumer can
    * recover the group's FINAL summary (max-epoch rows) from an
    * Update-mode sink — a term dropped by a later decrement sweep is
    * absent from the final epoch even though earlier epochs emitted it
    * (the r16 advice finding on [[replayGuaranteed]]). */
  case class MgCounter(part: Int, term: String, lower: Long, upper: Long,
      epoch: Long)

  val Capacity = 32
  val Partitions = 16

  /** Stateless tokenizer front end: streaming docs → (part, term) rows,
    * part = term-hash bucket so each term has a single home group. */
  def tokenStream(docs: DataFrame, partitions: Int = Partitions): Dataset[TokRow] = {
    import docs.sparkSession.implicits._
    docs
      .select(explode(split(col("text"), " ")).as("term"))
      .select(pmod(xxhash64(col("term")), lit(partitions)).cast("int").as("part"),
        col("term"))
      .as[TokRow]
  }

  /** Misra–Gries per group: hits increment; a miss with a full table
    * decrements every counter (dropping zeros) and discards the
    * arrival. Emits the group's full summary each trigger (Update
    * mode); `upper - lower` is the group's decrement total. */
  def heavyHitters(toks: Dataset[TokRow], capacity: Int = Capacity): Dataset[MgCounter] = {
    import toks.sparkSession.implicits._
    toks
      .groupByKey(_.part)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (part: Int, rows: Iterator[TokRow], state: GroupState[MgState]) => {
          var (counters, decs) = state.getOption
            .map(s => (s.counters, s.decs))
            .getOrElse((Map.empty[String, Long], 0L))
          val epoch = state.getOption.map(_.epoch).getOrElse(0L) + 1L
          rows.foreach { r =>
            counters.get(r.term) match {
              case Some(c) => counters = counters.updated(r.term, c + 1)
              case None if counters.size < capacity =>
                counters = counters.updated(r.term, 1L)
              case None =>
                decs += 1
                counters = counters.flatMap { case (t, c) =>
                  if (c > 1) Some(t -> (c - 1)) else None
                }
            }
          }
          state.update(MgState(counters, decs, epoch))
          counters.iterator.map { case (t, c) =>
            MgCounter(part, t, c, c + decs, epoch)
          }
        })
  }

  /** q315 — the Misra–Gries stream EXECUTED under the driver's
    * full-hash gate, via its own GUARANTEE (r15 verdict #5). The MG
    * theorem says: any term whose true frequency in its group exceeds
    * N_group/(C+1) MUST survive in the summary. So the registered row
    * is exactly that set — the guaranteed-heavy terms with their EXACT
    * counts — computed by semijoining the exact-count heavy set
    * against the stream's FINAL summary (last Update-mode emission per
    * (part, term)). If the MG implementation is correct the semijoin
    * keeps every guaranteed row and the output equals the
    * SQL-expressible exact set (the oracle); if it ever LOSES a
    * guaranteed term, the row count drops and the hash gate catches
    * it. (MG's allowed false positives are discarded by the semijoin —
    * they are not errors.) Bound validity (lower ≤ exact ≤ upper) is
    * pinned separately in HeavyHittersStreamSpec.
    *
    * Terms are routed to groups by hash48 here (not the production
    * path's xxhash64) because the oracle must reproduce the routing —
    * hash48 is the repo's twinnable hash family; the MG machinery is
    * identical either way.
    *
    * Scale note (q259 doctrine): the collect/feed is the replay
    * harness; the operator's state is ≤ C counters per group
    * REGARDLESS of stream length — that bound is the 100 TB path. */
  def replayGuaranteed(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Replay.withShuffle4(spark) {
      val toks = graft.Tables.documents(spark, dir)
        .select(col("doc_id"), posexplode(split(col("text"), " ")))
        .select(col("doc_id"), col("pos"),
          pmod(graft.functions.Hashing.hash48(col("col")), lit(Partitions.toLong))
            .cast("int").as("part"),
          col("col").as("term"))
      // corpus arrival order: (doc_id, pos) — deterministic replay;
      // the guarantee (and thus the oracle) holds for ANY order
      val feed = toks.orderBy(col("doc_id"), col("pos"))
        .select(col("part"), col("term")).as[TokRow].collect()
      val survivors = Replay.run(spark, "q315_mg", "update",
          Replay.thirds(feed.toSeq))(heavyHitters(_)) { sink =>
        // final summary per group = the max-epoch emission for that
        // part. A term decremented OUT of the summary in a later
        // epoch must NOT survive — keys from earlier epochs would
        // mask an MG implementation that loses a guaranteed-heavy
        // term mid-stream (the r16 advice finding).
        val rows = sink.collect()
          .map(r => (r.getInt(0), r.getString(1),
            r.getLong(r.fieldIndex("epoch"))))
        val lastEpoch = rows.groupBy(_._1).map { case (p, vs) =>
          (p, vs.map(_._3).max)
        }
        rows.iterator
          .filter { case (p, _, e) => e == lastEpoch(p) }
          .map { case (p, t, _) => (p, t) }.toSet
      }
      val exact = toks.groupBy(col("part"), col("term"))
        .agg(count(lit(1)).cast("long").as("n"))
      val totals = toks.groupBy(col("part"))
        .agg(count(lit(1)).cast("long").as("n_part"))
      val surv = survivors.toSeq.toDF("part", "term")
      exact.join(totals, Seq("part"))
        .filter(col("n") * (Capacity + 1) > col("n_part"))
        .join(broadcast(surv), Seq("part", "term"), "left_semi")
        .select(col("part"), col("term"), col("n"))
    }
  }

  /** DuckDB twin of [[replayGuaranteed]]: the exact guaranteed-heavy
    * set — identical tokenization, hash48 routing, and threshold. */
  val replayGuaranteedSql: String = {
    val h48 = graft.functions.Hashing.hash48Sql("term")
    s"""WITH toks AS (
       |  SELECT CAST($h48 % $Partitions AS INT) AS part, term
       |  FROM (SELECT unnest(string_split(text, ' ')) AS term FROM documents)),
       |cnt AS (SELECT part, term, CAST(count(*) AS BIGINT) AS n
       |        FROM toks GROUP BY 1, 2),
       |tot AS (SELECT part, CAST(count(*) AS BIGINT) AS n_part
       |        FROM toks GROUP BY 1)
       |SELECT c.part, c.term, c.n FROM cnt c JOIN tot t USING (part)
       |WHERE c.n * ${Capacity + 1} > t.n_part""".stripMargin
  }
}
