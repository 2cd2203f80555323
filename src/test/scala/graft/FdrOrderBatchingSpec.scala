package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-16 widening rows: BY beside BH (q329), the pipeline
  * order-sensitivity audit (q330), and the batching waste curve
  * (q331). */
class FdrOrderBatchingSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()
  val dir = "/root/testdata/sf0.001"

  test("q329: BY dominates BH pointwise and stays within [p_norm, 1]") {
    val by = operators.Hypothesis.mwuBy(spark, dir).collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(4))).toMap
    val bh = operators.Hypothesis.mwuBh(spark, dir).collect()
      .map(r => r.getInt(0) -> r.getDouble(4)).toMap
    assert(by.keySet == bh.keySet && by.nonEmpty)
    by.foreach { case (k, (pNorm, pBy)) =>
      // c(m) ≥ 1 ⇒ the dependence-robust adjustment is never smaller
      assert(pBy >= bh(k) - 1e-9, s"year $k: BY $pBy < BH ${bh(k)}")
      assert(pBy <= 1.0 && pBy >= pNorm - 1e-9)
    }
  }

  test("q330: rescue accounting — filter-first gains exactly the rescued docs") {
    val r = textstats.Curation.orderAudit(spark, dir).head()
    val (a, b) = (r.getLong(r.fieldIndex("kept_dedup_first")),
      r.getLong(r.fieldIndex("kept_filter_first")))
    val rescued = r.getLong(r.fieldIndex("rescued_docs"))
    // canonical_pass == canonical_all whenever the canonical passes, so
    // every divergence is a rescue of an otherwise-extinct group
    assert(b - a == rescued, s"kept $a → $b but rescued = $rescued")
    assert(r.getLong(r.fieldIndex("groups_recovered")) <= rescued)
    assert(b >= a, "filter-first can only add docs on near-dup groups")
  }

  test("q331: bucketed padding never exceeds pad-to-capacity; fixture arithmetic exact") {
    val out = operators.Chunking.batchingWaste(spark, dir).collect()
    assert(out.length == operators.Chunking.BatchCapacities.length)
    out.foreach { r =>
      val (cap, w1, w2) = (r.getInt(0),
        r.getLong(r.fieldIndex("waste_pad_to_cap")),
        r.getLong(r.fieldIndex("waste_bucketed")))
      assert(w2 <= w1, s"capacity $cap: bucketed $w2 > naive $w1")
    }
    // 8 docs of lengths 8,16,…,64 at capacity 64, 4 buckets of 2:
    // bucket maxes 16,32,48,64 → bucketed waste = 4·8 = 32;
    // naive = Σ(64 − 8i) = 224
    import spark.implicits._
    val docs = (1 to 8).map(i => (i.toLong, Seq.fill(8 * i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val row = operators.Chunking.batchingWaste(docs)
      .filter(col("capacity") === 64).head()
    assert(row.getLong(row.fieldIndex("waste_pad_to_cap")) == 224L)
    assert(row.getLong(row.fieldIndex("waste_bucketed")) == 32L)
  }

  test("q331: doc count NOT divisible by BatchBuckets follows ntile's exact rule") {
    // 7 docs of lengths 8,16,…,56 at capacity 64 — ntile(4) over 7 rows
    // gives bucket sizes 2,2,2,1 (first n mod B buckets get the extra
    // row): maxes 16,32,48,56 → bucketed waste = 8+8+8+0 = 24. The r16
    // advice finding: double division in R_k made any n_tot % B != 0
    // corpus silently diverge from the ntile oracle.
    import spark.implicits._
    val docs = (1 to 7).map(i => (i.toLong, Seq.fill(8 * i)("w").mkString(" ")))
      .toDF("doc_id", "text")
    val row = operators.Chunking.batchingWaste(docs)
      .filter(col("capacity") === 64).head()
    assert(row.getLong(row.fieldIndex("waste_pad_to_cap")) == 224L)
    assert(row.getLong(row.fieldIndex("waste_bucketed")) == 24L)
  }
}
