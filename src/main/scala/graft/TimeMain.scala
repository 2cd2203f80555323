package graft

/** Targeted timing utility: [[Measure]]'s warm-up pass and min-of-2
  * noop runs for a NAMED subset of queries, so a single operator's perf
  * iteration doesn't cost a full-suite pass. Prints one `TIME` line per
  * query (`-1.00s` when it failed; the remaining names still run), then
  * one `scaling_spot` JSON line with every reading and the task-thread
  * count, so 8-vs-32-core ratios can be read off an upscaled data dir
  * (see [[ScaleUp]]).
  *
  *   sbt "runMain graft.TimeMain /root/testdata/sf0.1 q164_quantile_reg"
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.TimeMain /tmp/sf1 q9_ratio_analytics q65_pagerank"
  */
object TimeMain {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val queries = args.toSeq.drop(1).map(n => n -> SparkEntry.queries(n))
    val spark = Engine.session()
    Measure.warmUp(spark, queries)
    val results = queries.map { case (n, q) =>
      val best = Measure.min(spark, n, q, dir)
      println(f"TIME $n%-24s $best%.2fs")
      n -> best
    }
    val cpus = spark.sparkContext.defaultParallelism
    println(s"""{"metric": "scaling_spot", "dir": "$dir", "cpus": $cpus, """ +
      s""""queries": {${results.map { case (n, s) =>
        s""""$n": ${f"$s%.3f"}""" }.mkString(", ")}}}""")
    spark.stop()
  }
}
