package graft

/** Two-SF scaling audit — the measurement the r9 verdict asked for
  * (#3): a wall-clock bench at one SF cannot see a super-linear plan
  * (q137/q141 both read under 1.1s at sf0.1 while hiding single-task
  * windows), but the RATIO of per-query time across a 10× data step
  * can. Times the whole registered suite at sf0.01 AND sf0.1
  * ([[Measure]]'s warm-up pass and min-of-2 noop runs, plus Bench's
  * canary), emits per-query ratios, and flags queries whose ratio
  * exceeds 2× the suite median — super-linear suspects for BASELINE.md
  * adjudication. Writes SCALING.json (env SPARK_GRAFT_SCALING_OUT).
  *
  * Reading the numbers: most of the suite is sub-second and
  * overhead-dominated at both SFs, so the suite median ratio sits well
  * under the 10× data step; a query whose ratio is far above the
  * median is doing super-linear work OR crossing a fixed-cost →
  * data-bound threshold — the flag list is a review queue, not a
  * verdict (BASELINE.md adjudicates each).
  */
object Scaling {
  def main(args: Array[String]): Unit = {
    val smallDir = sys.env.getOrElse("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.01")
    val bigDir = sys.env.getOrElse("SPARK_GRAFT_SF_BIG", "/root/testdata/sf0.1")
    val spark = Engine.session()
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    Measure.warmUp(spark, queries)
    Bench.canary(spark)
    val canaryPre = Bench.canary(spark)
    val rows = queries.map { case (n, q) =>
      (n, Measure.min(spark, n, q, smallDir), Measure.min(spark, n, q, bigDir)) }
    val canaryPost = Bench.canary(spark)
    val ratios = rows.collect { case (_, s, b) if s > 0 && b > 0 => b / s }
    val sortedR = ratios.sorted
    val median =
      if (sortedR.isEmpty) -1.0
      else (sortedR((sortedR.size - 1) / 2) + sortedR(sortedR.size / 2)) / 2
    val flagged = rows.collect {
      case (n, s, b) if s > 0 && b > 0 && b / s > 2 * median => n
    }
    def f(d: Double) = "%.4f".format(d)
    val qs = rows.map { case (n, s, b) =>
      val r = if (s > 0 && b > 0) f(b / s) else "-1"
      s""""$n":{"small":${f(s)},"big":${f(b)},"ratio":$r}"""
    }.mkString("{", ",", "}")
    val fl = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line = s"""{"metric":"scaling","sf_small":"$smallDir","sf_big":"$bigDir","median_ratio":${f(median)},"flagged":$fl,"canary_s":[${f(canaryPre)},${f(canaryPost)}],"queries":$qs}"""
    println(line)
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALING_OUT", "SCALING.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), line + "\n")
    spark.stop()
  }
}
