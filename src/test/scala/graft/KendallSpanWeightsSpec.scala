package graft

import org.scalatest.funsuite.AnyFunSuite

import operators.{Bootstrap, MannKendall}

/** r11 guards (r10 verdict #1/#3 + advice): MannKendall's C(n,2)
  * calendar-span precondition made loud, and Bootstrap.weightsOf's
  * digest-reuse fast path pinned to the per-b reference rule. */
class KendallSpanWeightsSpec extends AnyFunSuite {
  lazy val spark = Engine.session()
  import spark.implicits._

  private def messageChain(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")

  test("mkTest raise_errors on a multi-decade daily series (fan-out guard)") {
    // 40 000 daily buckets ≈ 110 years — past the 2^15 default cap
    val cells = (0L until 40000L).map(d => ("s1", d, d % 997))
      .toDF("g", "d", "x")
    val e = intercept[Exception] {
      MannKendall.mkTest(cells, "g", "d", "x").collect()
    }
    assert(messageChain(e).contains("maxBuckets"),
      s"expected the maxBuckets raise_error, got: ${messageChain(e)}")
    assert(messageChain(e).contains("MannKendall"))
  }

  test("mkTest is untouched within the cap (gate-SF no-op)") {
    // the same series pre-bucketed ~monthly sits far under the cap and
    // must produce the normal test row
    val cells = (0L until 1300L).map(d => ("s1", d, (d * 31) % 997))
      .toDF("g", "d", "x")
    val rows = MannKendall.mkTest(cells, "g", "d", "x").collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("n_days") == 1300L)
    // and the registered q143 still runs end-to-end at a gate SF
    val q = MannKendall.orderRevenueTrend(spark, "/root/testdata/sf0.001")
    assert(q.count() > 0)
  }

  test("weightsOf ≡ per-b weightOf (digest-reuse fast path, r10 advice)") {
    for (key <- Seq("42", "0", "9999999", "k#weird")) {
      val fast = Bootstrap.weightsOf(key, Bootstrap.DefaultB).toSeq
      val ref = (0 until Bootstrap.DefaultB).map(Bootstrap.weightOf(key, _))
      assert(fast == ref, s"key=$key diverged")
    }
  }
}
