package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import operators.KCore

/** k-core (q219): hand-peeled graphs, empty-core, the honest
  * converged flag under too few rounds, fixed-round ≡ fixed-point
  * parity, the fixed-point exit against a plain-Scala unrolled peel on
  * seeded graphs that do peel, and the jobs that exit saves.
  * Value-level oracle equivalence runs through graft.Verify. */
class KCoreSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()

  private def sym(und: Seq[(Long, Long)]): Seq[(Long, Long)] =
    und ++ und.map { case (a, b) => (b, a) }

  private def frame(directed: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    directed.toDF("src", "dst").repartition(4)
  }

  private def arcs(und: Seq[(Long, Long)]) = frame(sym(und))

  /** The unrolled `rounds`-round peel in plain Scala, as
    * src → (degree, converged). */
  private def refPeel(directed: Seq[(Long, Long)], k: Int,
      rounds: Int): Map[Long, (Long, Boolean)] = {
    val e = (1 to rounds).foldLeft(directed) { (e, _) =>
      val keep = e.groupBy(_._1).collect { case (s, out) if out.size >= k => s }
        .toSet
      e.filter { case (s, d) => keep(s) && keep(d) }
    }
    val deg = e.groupBy(_._1).map { case (s, out) => s -> out.size.toLong }
    val converged = deg.values.forall(_ >= k)
    deg.map { case (s, d) => s -> (d, converged) }
  }

  private def peeled(df: DataFrame): Map[Long, (Long, Boolean)] =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  /** A seeded graph that peels over several rounds: a random core on
    * nodes 0–9 (each pair with probability 0.6), chains of 1–4 nodes
    * hung off core nodes (degree 2 inside, 1 at the free end — one
    * chain node peels per round at k = 2), and nodes tied to two core
    * nodes (degree 2). Undirected pairs. */
  private def fringed(seed: Long): Seq[(Long, Long)] = {
    val r = new scala.util.Random(seed)
    val core = for (a <- 0L until 10L; b <- a + 1 until 10L
      if r.nextDouble() < 0.6) yield (a, b)
    var next = 10L
    def fresh(n: Int) = { val ids = next until next + n; next += n; ids }
    val chains = (1 to 4).flatMap { _ =>
      (r.nextInt(10).toLong +: fresh(1 + r.nextInt(4))).sliding(2)
        .map(p => (p(0), p(1)))
    }
    val twos = (1 to 3).flatMap { _ =>
      val id = fresh(1).head
      Seq((r.nextInt(5).toLong, id), (5L + r.nextInt(5), id))
    }
    core ++ chains ++ twos
  }

  /** The unrolled fixed-round program: `rounds` checkpointed peels,
    * then the degree aggregate crossed with its min-degree flag. */
  private def unrolledPeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    var e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .localCheckpoint(true)
    for (_ <- 1 to rounds) {
      val surv = e.groupBy("src").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("src")
      e = e.join(surv, Seq("src"), "left_semi")
        .join(surv.withColumnRenamed("src", "dst"), Seq("dst"), "left_semi")
        .select("src", "dst").localCheckpoint(true)
    }
    val deg = e.groupBy("src")
      .agg(expr("CAST(count(1) AS BIGINT)").as("degree"))
    deg.crossJoin(broadcast(deg.agg(
      coalesce(min(col("degree")) >= k, lit(true)).as("converged"))))
  }

  test("triangle + pendant at k=2: the pendant peels, the triangle stays") {
    val out = KCore.kCorePeel(
      arcs(Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L))), 2, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("triangle at k=3 peels to nothing") {
    assert(KCore.kCorePeel(
      arcs(Seq((0L, 1L), (1L, 2L), (2L, 0L))), 3, 2).count() == 0L)
  }

  test("converged flag is honest: a path needs more rounds than given") {
    // path of 8 at k=2 loses only its two endpoints per round —
    // after 1 round deg-1 ends remain, so converged must read false
    val path = (0L to 6L).map(i => (i, i + 1))
    val rows = KCore.kCorePeel(arcs(path), 2, 1).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(!_.getBoolean(2)))
    // with enough rounds the path peels to nothing
    assert(KCore.kCorePeel(arcs(path), 2, 4).count() == 0L)
  }

  test("fixed-point variant matches a converged fixed-round peel") {
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L))
    val (until, n) = KCore.kCoreUntil(arcs(g), 2)
    val fixedRows = KCore.kCorePeel(arcs(g), 2, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(until.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == fixedRows)
    assert(n >= 2) // two peels + the confirming stable round
  }

  test("seeded fringed graphs: every round budget equals the unrolled peel") {
    val g = fringed(7L)
    val dstOnly = sym(g) ++ Seq((0L, 100L), (3L, 101L), (3L, 102L), (8L, 103L))
    var unconverged, longPeels = 0
    for ((shape, input) <- Seq("symmetric" -> sym(g), "dst-only" -> dstOnly);
        k <- Seq(2, 3); rounds <- 1 to 6) {
      val want = refPeel(input, k, rounds)
      assert(peeled(KCore.kCorePeel(frame(input), k, rounds)) == want,
        s"$shape k=$k rounds=$rounds")
      if (want.values.exists(!_._2)) unconverged += 1
      if (rounds == 3 && refPeel(input, k, 2) != want) longPeels += 1
    }
    // probative: some budgets end while arcs still drop, and some
    // graphs still peel in round 3
    assert(unconverged > 0 && longPeels > 0, s"$unconverged / $longPeels")
  }

  test("an input that is already a k-core peels one round, with a constant converged and fewer jobs") {
    val k5 = for (a <- 0L until 5L; b <- a + 1 until 5L) yield (a, b)
    val g = arcs(k5)
    val p = KCore.peel(g, 3, KCore.Rounds)
    assert(p.rounds == 1 && p.stable)
    val out = KCore.kCorePeel(g, 3, KCore.Rounds)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoopJoin") && !plan.contains("CartesianProduct"),
      plan)
    val (got, exitJobs) = Jobs.counted(spark)(peeled(KCore.kCorePeel(g, 3, KCore.Rounds)))
    val (want, unrolledJobs) =
      Jobs.counted(spark)(peeled(unrolledPeel(g, 3, KCore.Rounds)))
    assert(got == want && got == refPeel(sym(k5), 3, KCore.Rounds))
    assert(exitJobs < unrolledJobs, s"$exitJobs vs $unrolledJobs")
  }

  test("the loop stops mid-budget: a two-node tail peels in rounds 1-2, round 3 confirms") {
    val g = Seq((0L, 1L), (1L, 2L), (2L, 0L), (0L, 3L), (3L, 4L))
    val p = KCore.peel(arcs(g), 2, 6)
    assert(p.rounds == 3 && p.stable)
    assert(peeled(KCore.kCorePeel(arcs(g), 2, 6)) == refPeel(sym(g), 2, 6))
    // a budget of 2 runs out while the tail is still dropping
    val short = KCore.peel(arcs(g), 2, 2)
    assert(short.rounds == 2 && !short.stable)
  }
}
