package graft

/** Scaling spot pass (r18, VERDICT #7): Bench's exact methodology
  * (noop sink, warm-up, min-of-2) for a NAMED query subset against an
  * upscaled data dir (see [[ScaleUp]]), printed as ONE JSON line that
  * is ADDITIVE to the driver contract — Bench.scala and its env/JSON
  * contract are untouched; this main exists so 8-vs-32-core ratios can
  * be read at a scale factor where the suite is not driver-floor-bound.
  *
  *   SPARK_GRAFT_CPUS=32 sbt "runMain graft.ScalingSpot /tmp/sf1 q9_ratio_analytics q65_pagerank"
  */
object ScalingSpot {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1).toSeq
    val spark = Engine.session()
    def run(d: String, name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, d)
        .write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      dt
    }
    names.foreach(run("/root/testdata/sf0.001", _)) // JIT/codegen warm-up
    val results = names.map { n =>
      spark.sparkContext.setJobDescription(s"scaling_spot $n")
      n -> (1 to 2).map(_ => run(dir, n)).min
    }
    val cpus = spark.sparkContext.defaultParallelism
    println(s"""{"metric": "scaling_spot", "dir": "$dir", "cpus": $cpus, """ +
      s""""queries": {${results.map { case (n, s) =>
        s""""$n": ${f"$s%.3f"}""" }.mkString(", ")}}}""")
    spark.stop()
  }
}
