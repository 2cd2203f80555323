package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import operators.{Chunking, Pipeline, Sampling}
import textstats.Curation

/** q142 flagship pipeline: component parity (the pipeline must equal
  * the composition of its registered parts) and the persisted-frame
  * plan invariants the r9 verdict asked it to demonstrate. */
class CurationPipelineSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  val dir = "/root/testdata/sf0.001"

  test("pipeline ≡ curate → mix → pack composed from the components") {
    // naive recomposition: q52 verdict joined back to the corpus (a
    // second scan — exactly what the pipeline avoids), q60's filter
    // over the kept rows, q58's window offsets per shard
    val docs = Tables.documents(spark, dir)
    val keptIds = Curation.curate(docs).filter(col("keep") === 1)
      .select("doc_id", "quality_score")
    val kept = docs.join(keptIds, "doc_id")
      .select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .cache()
    val sampled = Sampling.mixFilter(kept, "doc_id", "lang",
      Sampling.MixWeights.toMap, Sampling.MixDen)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val want = sampled
      .withColumn("shard",
        pmod(col("doc_id"), lit(Chunking.PackShards)).cast("long"))
      .withColumn("start_off",
        coalesce(sum(col("n_tok")).over(w), lit(0L)).cast("long"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("quality_score"), col("shard"), col("n_tok"), col("start_off"),
        (col("start_off") + col("n_tok")).as("end_off"),
        floor(col("start_off") / Chunking.PackCapacity).as("seq_first"),
        floor((col("start_off") + col("n_tok") - 1) / Chunking.PackCapacity)
          .as("seq_last"))
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    val got = Pipeline.trainingPipeline(spark, dir)
      .collect().map(_.toSeq).sortBy(_.toString).toSeq
    assert(got.nonEmpty, "pipeline must keep documents at sf0.001")
    assert(got == want)
  }

  test("plan: one corpus materialization; no shuffled join; banded windows") {
    spark.sharedState.cacheManager.clearCache()
    val df = Pipeline.trainingPipeline(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // everything downstream flows from the ONE checkpointed kept-frame:
    // the final plan must not rescan the parquet fact
    assert(!p.contains("FileScan") && !p.contains("Scan parquet"),
      "post-checkpoint plan must not rescan the corpus")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "band offsets must broadcast; the mix is a literal CASE filter")
    assert(!p.contains("CartesianProduct"))
    val bandless = p.linesIterator.filter(_.contains("- Window ["))
      .filterNot(_.contains("__band")).toSeq
    assert(bandless.isEmpty,
      s"pack offsets must run banded, got: ${bandless.mkString("; ")}")
  }

  test("degenerate: empty corpus flows through every stage as 0 rows") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String, String, String, Long)]
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    assert(Pipeline.trainingPipeline(empty).count() == 0)
  }

  test("degenerate: corpus fully dropped by curation yields 0 rows") {
    import spark.implicits._
    // identical ultra-repetitive texts: the canonical survives dedup
    // but fails the Gopher repetition gate; all others are dups
    val docs = (1L to 12L)
      .map(i => (i, Array.fill(40)("spam").mkString(" "), "en", "web", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val verdicts = Curation.curate(docs)
    assert(verdicts.filter(col("keep") === 1).count() == 0,
      "fixture must exercise the all-dropped path")
    assert(Pipeline.trainingPipeline(docs).count() == 0)
  }

  test("mix stage re-rates over the CURATED counts, not the raw corpus") {
    // the pipeline's budget is half the KEPT count; q60's is half the
    // raw corpus — with drops present the sampled set must differ from
    // "q60 ∩ kept" unless no doc was dropped (then they coincide)
    val docs = Tables.documents(spark, dir)
    val nRaw = docs.count()
    val nKept = Curation.curate(docs).filter(col("keep") === 1).count()
    assert(nKept < nRaw, "sf0.001 corpus must exercise the drop paths")
    val pipelineRows = Pipeline.trainingPipeline(spark, dir).count()
    assert(pipelineRows > 0 && pipelineRows < nKept)
  }
}
