package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.textstats.Curation

/** q142: the registered END-TO-END training-data pipeline — curate →
  * domain-mix → pack, as ONE composed plan with every shared frame
  * persisted exactly once. The r9 verdict (#6) asked for this as the
  * pattern callers should copy at 100 TB: the per-component queries
  * (q52/q60/q58) each rebuild their base frames because the gate
  * registers them independently, which is composition-priced; a real
  * pipeline threads ONE corpus scan end to end.
  *
  * Stages (all reusing the component operators, not re-implementing):
  *   1. [[Curation.curate]] with lang/source/n_tok CARRIED through its
  *      single corpus scan (the q52 verdict chain: exact-dup >
  *      repetition > quality) — kept docs only;
  *   2. localCheckpoint — the ONE materialization: the mix stage's
  *      count aggregate, its acceptance filter, and the pack stage all
  *      read this frame (Spark does not CSE repeated frames);
  *   3. [[Sampling.mixFilter]] — q60's DoReMi-style integer
  *      hash-threshold acceptance, re-rated over the CURATED counts;
  *   4. pack offsets via [[BandedCumsum]] — q58's shard-local
  *      concatenation packing, with the per-shard running offset as a
  *      banded prefix sum so no window task exceeds the band width
  *      even with few shards.
  *
  * Plan invariants (CurationPipelineSpec asserts them): `documents` is
  * scanned exactly ONCE; after the checkpoint there is no shuffled
  * join; every post-checkpoint window partitions on the band.
  *
  * Output: one row per surviving document with its provenance and
  * training-sequence span — doc_id, lang, source, quality_score,
  * shard, n_tok, start_off, end_off, seq_first, seq_last.
  *
  * q162 ([[trainingPipelineEs]]) swaps stage 3's rate-acceptance for
  * the EXACT-SIZE mixture draw: the same DoReMi rates expressed as
  * per-lang document QUOTAS, filled by the q160 Efraimidis–Spirakis
  * weighted draw-without-replacement with weight ∝ n_tok — "exactly
  * quota(lang) docs per lang, token-mass-weighted, never a repeat" —
  * the composition the sampling family exists for (DoReMi rates, ES
  * draws). The election is the s18 bounded aggregate (constant
  * kmax-entry state, map-side combined), its dimension-grade winner
  * set broadcast back onto the checkpointed kept frame — same plan
  * invariants as q142.
  */
object Pipeline {

  def trainingPipeline(spark: SparkSession, dir: String): DataFrame =
    trainingPipeline(Tables.documents(spark, dir))

  /** Stages 1–2: curate with carried provenance, keep survivors, ONE
    * materialization. */
  private[graft] def keptFrame(docs: DataFrame): DataFrame =
    Curation.curate(docs, Seq(
        "lang" -> col("lang"),
        "source" -> col("source"),
        "n_tok" -> size(split(col("text"), " "))))
      .filter(col("keep") === 1)
      .select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"), col("n_tok").cast("long").as("n_tok"))
      .localCheckpoint(true)

  /** Stage 4: shard assignment + banded pack offsets + sequence span. */
  private def pack(sampled: DataFrame): DataFrame =
    BandedCumsum.cumsum(
        sampled.withColumn("shard",
          pmod(col("doc_id"), lit(Chunking.PackShards)).cast("long")),
        Seq("shard"), "doc_id", Seq("n_tok"))
      .withColumn("end_off", col("cum_n_tok"))
      .withColumn("start_off", col("end_off") - col("n_tok"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"), col("shard"), col("n_tok"), col("start_off"),
        col("end_off"),
        floor(col("start_off") / Chunking.PackCapacity).as("seq_first"),
        floor((col("end_off") - 1) / Chunking.PackCapacity).as("seq_last"))

  def trainingPipeline(docs: DataFrame): DataFrame =
    pack(Sampling.mixFilter(keptFrame(docs), "doc_id", "lang",
      Sampling.MixWeights.toMap, Sampling.MixDen))

  // ---- q162: exact-size ES mixture variant ----

  /** Total document budget the DoReMi rates are scaled to; per-lang
    * quota = EsBudget · w_lang / MixDen (integer, static — so the
    * election bound kmax is a compile-time constant and the oracle's
    * CASE carries literal quotas). A lang whose pool is smaller than
    * its quota contributes its whole pool (the ES election returns
    * the pool; re-balancing the shortfall is a policy choice left
    * upstream, the q60 stance). */
  val EsBudget = 500L

  /** (lang, quota) pairs — static literals shared with the oracle. */
  val EsQuotas: Seq[(String, Long)] =
    Sampling.MixWeights.map { case (l, w) =>
      l -> (EsBudget * w / Sampling.MixDen) }

  def trainingPipelineEs(spark: SparkSession, dir: String): DataFrame =
    trainingPipelineEs(Tables.documents(spark, dir))

  def trainingPipelineEs(docs: DataFrame): DataFrame = {
    val kept = keptFrame(docs)
    val kmax = EsQuotas.map(_._2).max.toInt
    // one bounded election at kmax, then each lang keeps its own
    // quota prefix (rk is ordered by the ES key, so the prefix IS the
    // quota-sized ES draw); quotas are literals — no join, no
    // data-dependent k
    val quotaOf = EsQuotas.foldLeft(lit(0L)) { case (acc, (l, q)) =>
      when(col("g") === l, lit(q)).otherwise(acc)
    }
    val winners = WeightedSample.elect(
        WeightedSample.keyedEs(kept, "lang", "doc_id", "n_tok"), kmax)
      .filter(col("rk") <= quotaOf)
      .select(col("id").as("doc_id"))
    pack(kept.join(broadcast(winners), "doc_id"))
  }

  /** Shared kept-CTE text (stages 1–2) for both oracles. */
  private val KeptSql =
    s"""kept AS (
       |  SELECT d.doc_id, d.lang, d.source,
       |    len(string_split(d.text, ' ')) AS n_tok, v.quality_score
       |  FROM documents d
       |  JOIN (${Curation.curateSql.replace("\n", " ")}) v USING (doc_id)
       |  WHERE v.keep = 1)""".stripMargin

  /** Shared pack-tail text (stage 4) over a `sampled` CTE with
    * (doc_id, lang, source, quality_score, n_tok, shard). */
  private val PackSql =
    s"""o AS (
       |  SELECT doc_id, lang, source, quality_score, shard, n_tok,
       |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
       |      AS start_off
       |  FROM sampled)
       |SELECT doc_id, lang, source, quality_score,
       |  CAST(shard AS BIGINT) AS shard, CAST(n_tok AS BIGINT) AS n_tok,
       |  start_off, CAST(start_off + n_tok AS BIGINT) AS end_off,
       |  CAST(floor(start_off / ${Chunking.PackCapacity}) AS BIGINT)
       |    AS seq_first,
       |  CAST(floor((start_off + n_tok - 1) / ${Chunking.PackCapacity})
       |    AS BIGINT) AS seq_last
       |FROM o""".stripMargin

  /** DuckDB twin: nests the component oracles (q52's verdict, q60's
    * in-query integer thresholds, q58's window packing) over the same
    * kept → sampled chain. */
  val trainingPipelineSql: String = {
    val cases = Sampling.MixWeights
      .map { case (l, w) => s"WHEN lang = '$l' THEN $w" }.mkString(" ")
    s"""WITH $KeptSql,
       |cnt AS (SELECT lang, count(*) AS n_s FROM kept GROUP BY 1),
       |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_tot FROM cnt),
       |sampled AS (
       |  SELECT k.doc_id, k.lang, k.source, k.n_tok, k.quality_score,
       |    k.doc_id % ${Chunking.PackShards} AS shard
       |  FROM kept k JOIN cnt USING (lang) CROSS JOIN tot
       |  WHERE ${Sampling.bucketSql("k.doc_id")} <
       |    least(${Sampling.Buckets},
       |      (((n_tot // 2) * (CASE $cases ELSE 0 END)) * ${Sampling.Buckets})
       |      // (${Sampling.MixDen} * n_s))),
       |$PackSql""".stripMargin
  }

  /** DuckDB twin of q162: the q160 ES key chain + row_number election
    * per lang, quota'd by the literal CASE, over the same kept CTE and
    * pack tail. */
  val trainingPipelineEsSql: String = {
    val h = graft.functions.Hashing.hash48Sql(
      WeightedSample.Seed, "(doc_id)::VARCHAR")
    val quotaCases = EsQuotas
      .map { case (l, q) => s"WHEN lang = '$l' THEN $q" }.mkString(" ")
    s"""WITH $KeptSql,
       |keyed AS (
       |  SELECT doc_id, lang, source, quality_score, n_tok,
       |    ${WeightedSample.esKeySql("n_tok", h)} AS es
       |  FROM kept WHERE n_tok > 0),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY lang
       |    ORDER BY es DESC, doc_id) AS rk
       |  FROM keyed),
       |sampled AS (
       |  SELECT doc_id, lang, source, quality_score, n_tok,
       |    doc_id % ${Chunking.PackShards} AS shard
       |  FROM ranked
       |  WHERE rk <= (CASE $quotaCases ELSE 0 END)),
       |$PackSql""".stripMargin
  }
}
