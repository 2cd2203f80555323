package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Relative-error quantile sketch (DDSketch, Masson/Lee/Rong VLDB
  * 2019 — the production latency/price-quantile sketch) — the
  * QUANTILE member of the sketch deck beside q245 HLL (distinct) and
  * q246 CMS (frequency). Exact per-group quantiles shuffle and sort
  * every value; this sketch is ONE map-side-combined count per
  * logarithmic bucket — ≈ [[SubBuckets]]·log₂(max/min) rows per group
  * REGARDLESS of row count — and two sketches merge by adding bucket
  * counts ([[merged]], spec-pinned ≡), which is what lets per-day /
  * per-partition digests roll up without re-touching fact rows. The
  * guarantee is RELATIVE error: every estimate is within
  * ±(2^(1/2B) − 1) ≈ 2.2% of a true data point at the same rank —
  * the t-digest alternative was rejected here because its centroid
  * set depends on merge ORDER (not reproducible across engines); the
  * log-bucket sketch is a pure deterministic function of the value
  * multiset.
  *
  * EXACTNESS (oracle-parity design): bucket index
  * i = max(1, ⌈snap₉(ln x) · B/ln2⌉) — the single transcendental goes
  * through the house 1e-9 snap (q245's lnSnap rule: libm ln differs
  * across engines by ≤ 1 ulp ≈ 1e-15 at these magnitudes, 6 orders
  * below the grid), and B/ln2 is ONE shared double literal, so the
  * index arithmetic is IEEE-identical on both engines. The bucket
  * estimate is the bucket's geometric midpoint 2^((2i−1)/(2B)) —
  * computed as power(2, (2i−1) div 2B) · ROOT[(2i−1) mod 2B]: an
  * EXACT integer power of two times one of 2B pinned root literals,
  * never a fractional `pow` (libm pow is not reproducible across
  * engines; integer powers of two are exact in both). Rank targets
  * r = ⌈p·n⌉ multiply a double literal by an exact BIGINT — identical
  * products, identical ceil.
  *
  * Domain contract: values must be ≥ 1 (prices/latencies in natural
  * units). x ∈ [1, 2^(1/B)) folds into bucket 1; zero/negative values
  * would need the standard DDSketch sign/zero stores — out of scope
  * for the registered row, guarded by the oracle (both engines would
  * NULL-fold identically, but the registered column is positive).
  *
  * The registered q260 carries the EXACT type-1 quantile beside the
  * sketch estimate (the q234/q235/q241/q245 audit doctrine): at test
  * scale the truth is affordable and the measured relative error IS
  * the deliverable; production reads the sketch alone. */
object DdSketch {

  /** Sub-buckets per octave: base γ = 2^(1/B), relative error
    * ±(2^(1/2B) − 1) ≈ 2.19%. */
  val SubBuckets = 16

  /** B / ln 2 — the bucket-index multiplier, one shared literal. */
  val IdxMul: Double = SubBuckets / math.log(2.0)

  /** 2^(j / 2B) for j = 0 … 2B−1 — the pinned root table both engines
    * index instead of calling fractional pow. */
  val Roots: Seq[Double] =
    (0 until 2 * SubBuckets).map(j => math.pow(2.0, j / (2.0 * SubBuckets)))

  /** Quantiles the registered audit reports. */
  val Ps: Seq[Double] = Seq(0.5, 0.9, 0.99)

  private def snapLn(x: Column): Column =
    floor(log(x) * lit(1e9) + lit(0.5)).cast("double") / lit(1e9)

  /** Bucket index for a positive value column. */
  def bucketOf(x: Column): Column =
    greatest(ceil(snapLn(x) * lit(IdxMul)).cast("long"), lit(1L))

  /** The sketch: (g, i, cnt) — one map-side-combined aggregate. */
  def sketch(rows: DataFrame): DataFrame =
    rows.select(col("g"), bucketOf(col("x")).as("i"))
      .groupBy("g", "i").agg(count(lit(1)).as("cnt"))

  /** Merge two sketches: add bucket counts — the distributed roll-up
    * primitive (sketch(A ∪ B) ≡ merged(sketch(A), sketch(B)),
    * spec-pinned as exact frame equality). */
  def merged(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).groupBy("g", "i")
      .agg(sum(col("cnt")).as("cnt"))

  /** Geometric-midpoint estimate for a bucket-index column: exact
    * power-of-two times a pinned root literal. */
  def estimateOf(i: Column): Column = {
    val e = lit(2L) * i - lit(1L) // ≥ 1 since i ≥ 1
    // integer div/mod spelled for positive e (Spark `/` is double
    // division; floor of an exact small-int quotient is the int div)
    pow(lit(2.0), floor(e.cast("double") / lit((2 * SubBuckets).toDouble))) *
      element_at(typedLit(Roots), (e % lit(2L * SubBuckets)).cast("int") + 1)
  }

  /** Quantile readout from a sketch: per (g, p), the smallest bucket
    * whose cumulative count reaches rank ⌈p·n⌉, estimated at its
    * geometric midpoint. `ns` carries (g, n). */
  def quantiles(sk: DataFrame, ns: DataFrame, ps: Seq[Double]): DataFrame = {
    val wCum = Window.partitionBy(col("g")).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sk.withColumn("cum", sum(col("cnt")).over(wCum))
    val targets = ns.select(col("g"), col("n"),
      explode(typedLit(ps)).as("p"))
      .withColumn("r", ceil(col("p") * col("n")).cast("long"))
    cum.join(targets, "g")
      .filter(col("cum") >= col("r"))
      .groupBy(col("g"), col("p"), col("n"))
      .agg(min(col("i")).as("i"))
      .withColumn("est", estimateOf(col("i")))
  }

  /** q260: the sketch-vs-exact quantile audit over order prices per
    * priority — (g, p, n, est, exact, rel_err). */
  def orderPriceDdSketch(spark: SparkSession, dir: String): DataFrame = {
    val rows = Tables.orders(spark, dir)
      .select(col("o_orderpriority").as("g"), col("o_totalprice").as("x"),
        col("o_orderkey").as("k"))
      .localCheckpoint(true) // sketch + exact + counts share the scan
    val ns = rows.groupBy("g").agg(count(lit(1)).as("n"))
    val est = quantiles(sketch(rows), ns, Ps)
    // exact type-1 quantile over VALUE CELLS (the q16 shape): the
    // smallest value whose per-(g, value) cumulative count reaches
    // rank ⌈p·n⌉ — identical to the rank-ordered value, ties
    // collapsed; the cells window partition is bounded by the
    // distinct-value range, not the row count (RegistryScaleAuditSpec
    // adjudication)
    val cells = rows.groupBy("g", "x").agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy(col("g")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = cells.withColumn("cumc", sum(col("c")).over(wCum))
    val exact = ns.select(col("g"), explode(typedLit(Ps)).as("p"),
        ceil(col("p") * col("n")).cast("long").as("r"))
      .join(cum, "g")
      .filter(col("cumc") >= col("r"))
      .groupBy(col("g"), col("p"))
      .agg(min(col("x")).as("exact"))
    est.join(exact, Seq("g", "p"))
      .select(col("g"), (round(col("p"), 2) + 0.0).as("p"), col("n"),
        (round(col("est"), 6) + 0.0).as("est"),
        col("exact"),
        (round((col("est") - col("exact")) / col("exact"), 6) + 0.0)
          .as("rel_err"))
  }

  /** DuckDB twin: identical snap/index/root-table arithmetic. */
  val orderPriceDdSketchSql: String = {
    def d(v: Double): String = {
      val s = java.lang.Double.toString(v)
      if (s.contains("E")) s.replace("E", "e") else s + "e0"
    }
    val rootsLit = Roots.map(d).mkString("[", ", ", "]")
    val psLit = Ps.map(d).mkString("[", ", ", "]")
    val twoB = 2 * SubBuckets
    s"""WITH rows_ AS (
       |  SELECT o_orderpriority AS g, o_totalprice AS x, o_orderkey AS k
       |  FROM orders),
       |b AS (
       |  SELECT g,
       |    greatest(CAST(ceil((CAST(floor(ln(x) * 1e9 + 5e-1) AS DOUBLE) / 1e9)
       |      * ${d(IdxMul)}) AS BIGINT), 1) AS i
       |  FROM rows_),
       |sk AS (SELECT g, i, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2),
       |ns AS (SELECT g, CAST(count(*) AS BIGINT) AS n FROM rows_ GROUP BY 1),
       |cum AS (
       |  SELECT g, i, CAST(sum(cnt) OVER (PARTITION BY g ORDER BY i
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
       |  FROM sk),
       |targets AS (
       |  SELECT g, n, p, CAST(ceil(p * n) AS BIGINT) AS r
       |  FROM ns, unnest($psLit) t(p)),
       |picked AS (
       |  SELECT c.g, t.p, t.n, min(c.i) AS i
       |  FROM cum c JOIN targets t USING (g)
       |  WHERE c.cum >= t.r
       |  GROUP BY 1, 2, 3),
       |est AS (
       |  SELECT g, p, n,
       |    power(2.0e0, CAST((2 * i - 1) // $twoB AS DOUBLE))
       |      * ($rootsLit)[CAST((2 * i - 1) % $twoB AS INT) + 1] AS est
       |  FROM picked),
       |cells AS (
       |  SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM rows_ GROUP BY 1, 2),
       |cum2 AS (
       |  SELECT g, x, CAST(sum(c) OVER (PARTITION BY g ORDER BY x
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc
       |  FROM cells),
       |exact AS (
       |  SELECT t.g, t.p, min(c2.x) AS exact
       |  FROM targets t JOIN cum2 c2 ON c2.g = t.g
       |  WHERE c2.cumc >= t.r
       |  GROUP BY 1, 2)
       |SELECT e.g, round(e.p, 2) + 0.0 AS p, e.n,
       |  round(e.est, 6) + 0.0 AS est, x2.exact,
       |  round((e.est - x2.exact) / x2.exact, 6) + 0.0 AS rel_err
       |FROM est e JOIN exact x2 ON x2.g = e.g AND x2.p = e.p""".stripMargin
  }
}
