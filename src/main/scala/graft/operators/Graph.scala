package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Link-graph centrality (PageRank) — the corpus-level quality signal
  * web-scale pretraining pipelines rank hosts/pages by before sampling
  * (Common Crawl publishes exactly this as its host-level PageRank /
  * harmonic-centrality ranks, and crawl-curation recipes filter on it).
  * The reference has no graph operator; this is part of the
  * LLM-data-pipeline extension surface, built the way everything else
  * here is: deterministic integer arithmetic with an exact DuckDB twin.
  *
  * Formulation: standard damped PageRank with damping 17/20 (= 0.85 as
  * an exact rational), a fixed iteration count, and all mass carried as
  * Long "micro-mass" units of 1/[[Graph.Scale]]:
  *
  *   r₀(v)    = Scale div N
  *   rₜ₊₁(v)  = (3·Scale) div (20·N)  +  (17 · Σ_{u→v} (rₜ(u) div d(u))) div 20
  *
  * Every operation is a Long `·`/`div` with the identical association
  * order in Spark and in the oracle SQL, so the two engines agree
  * bit-for-bit — no float sums, no order dependence (integer sums
  * commute). Floor-division leaks a little mass per step (standard for
  * fixed-point PageRank); ranks remain a strict total preorder of the
  * damped-walk visit mass at equal iteration depth, which is what a
  * curation threshold consumes. Headroom: Σ contributions ≤ Scale =
  * 1e12, so `17·sum ≤ 1.7e13` — no overflow at any graph size.
  *
  * Scale shape: per iteration, ONE equi-join of the rank frame with the
  * (src, dst, outdeg) edge frame on src and ONE map-side-combined sum
  * by dst — O(|E|) shuffle carrying (id, long) rows, the canonical
  * distributed-PageRank plan. The static edge frame is persisted once
  * and reused; each round's ranks are `localCheckpoint`ed to truncate
  * the iterative lineage (the [[graft.dedup.Components]] pattern — use
  * a reliable checkpoint dir on a 1000-executor run). The only driver
  * scalar is N (one count — dimension-grade, the q60 precedent).
  */
object Graph {

  /** Total walk mass in integer micro-units (1e12 ⇒ per-node ranks keep
    * ~6 significant digits even at 1e6 nodes). */
  val Scale = 1000000000000L

  /** Fixed iteration count for the registered query — enough to
    * separate hubs from leaves on a bipartite purchase graph; callers
    * pick their own depth via [[pagerank]]. */
  val Iters = 3


  /** Damped integer PageRank over a directed edge list.
    *
    * @param edges (`src`, `dst`) Long node ids. Nodes are taken to be
    *              the set of edge endpoints; a node with no OUT-edges
    *              (dangling) contributes no mass (its share evaporates,
    *              the mass-leaking variant most engines ship) but still
    *              receives the base term.
    * @return (`id`, `centrality`) — centrality in micro-mass units
    *         after `iters` rounds.
    */
  def pagerank(edges: DataFrame, iters: Int = Iters): DataFrame = {
    require(edges.columns.toSeq.contains("src") && edges.columns.toSeq.contains("dst"),
      s"edges needs (src, dst), got ${edges.columns.mkString(",")}")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val edgesDeg = e.join(deg, "src").persist()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().persist()
    val n = nodes.count() // the one driver scalar (dimension-grade)
    val base = 3L * Scale / (20L * n)
    // NOTE (r18): the labelProp-style "summed UNION static no-in-edge
    // base" rewrite was tried here and MEASURED no better at EITHER
    // scale — close bench q65 4.6 -> 5.9 s at sf0.1, and the
    // interleaved x10 A/B (OPTIMIZATION_r18.md, 210k nodes) read
    // join 8.46s vs union 9.24s mean at 32 cores (ties at 8) — the
    // rounds are already lazy and single-consumer, the per-round nodes
    // join broadcasts or reuses the aggregate exchange, and the
    // rewrite's one-time dst-distinct anti-join costs more than the
    // joins it removes. Reverted; kept only in labelProp, where the
    // union ALSO removes four eager per-round checkpoints.
    var r = nodes.withColumn("r", lit(Scale / n))
    for (i <- 1 to iters) {
      val summed = edgesDeg
        .join(r.withColumnRenamed("id", "src"), "src")
        .selectExpr("dst AS id", "r div d AS c")
        .groupBy("id").agg(sum("c").as("c"))
      r = nodes.join(summed, Seq("id"), "left")
        .selectExpr("id", s"$base + (17 * coalesce(c, 0)) div 20 AS r")
      // rounds stay LAZY (one job runs the whole recurrence, reusing
      // the persisted edge frame's exchange); only truncate lineage
      // every 3rd round so deep iteration counts don't blow the plan
      if (i % 3 == 0 && i < iters) r = r.localCheckpoint(true)
    }
    val out = r.localCheckpoint(true) // materialize before unpersist
    e.unpersist(); edgesDeg.unpersist(); nodes.unpersist()
    out.select(col("id"), col("r").as("centrality"))
  }

  /** PageRank with an L1-delta convergence stop: iterate until
    * Σ|rₜ − rₜ₋₁| ≤ `tol` micro-mass units (or `maxIters`). Costs one
    * extra map-side-combined aggregate per round (the
    * [[graft.dedup.Components]] convergence-count plan class) and — the
    * real difference from [[pagerank]] — one ACTION per round: the
    * delta is a driver scalar, so every round materializes instead of
    * fusing into one lazy job. Use the fixed-depth variant when the
    * depth is known; use this when the graph's mixing time isn't.
    *
    * Iteration-depth guidance: damped walks mix geometrically (mass at
    * distance k decays ~0.85^k), so 3–5 rounds order hub-vs-leaf for
    * curation thresholds; ~20 rounds take a 1e12-unit rank within ~1e5
    * units of its fixed point (0.85^20 ≈ 4e-2 of the initial residual;
    * residuals also shrink by the leak). tol defaults to one part per
    * million of the total walk mass.
    *
    * @return (ranks, roundsRun) — roundsRun ≤ maxIters; roundsRun <
    *         maxIters means the tolerance was met early. */
  def pagerankUntil(edges: DataFrame, maxIters: Int = 20,
      tol: Long = Scale / 1000000L): (DataFrame, Int) = {
    require(edges.columns.toSeq.contains("src") && edges.columns.toSeq.contains("dst"),
      s"edges needs (src, dst), got ${edges.columns.mkString(",")}")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val edgesDeg = e.join(deg, "src").persist()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().persist()
    val n = nodes.count()
    val base = 3L * Scale / (20L * n)
    var r = nodes.withColumn("r", lit(Scale / n)).localCheckpoint(true)
    var rounds = 0
    var delta = Long.MaxValue
    while (rounds < maxIters && delta > tol) {
      val summed = edgesDeg
        .join(r.withColumnRenamed("id", "src"), "src")
        .selectExpr("dst AS id", "r div d AS c")
        .groupBy("id").agg(sum("c").as("c"))
      val next = nodes.join(summed, Seq("id"), "left")
        .selectExpr("id", s"$base + (17 * coalesce(c, 0)) div 20 AS r")
        .localCheckpoint(true) // materialized: the delta below reuses it
      delta = next.join(r.withColumnRenamed("r", "r_prev"), "id")
        .selectExpr("abs(r - r_prev) AS d")
        .agg(coalesce(sum("d"), lit(0L))).head().getLong(0)
      r = next
      rounds += 1
    }
    e.unpersist(); edgesDeg.unpersist(); nodes.unpersist()
    (r.select(col("id"), col("r").as("centrality")), rounds)
  }

  /** PageRank with dangling-mass redistribution: each round, the mass
    * sitting on nodes with no out-edges is shared uniformly across all
    * nodes (inside the damping term), so total walk mass is CONSERVED
    * up to integer-floor leakage — bounded by |E| + 3N units per round,
    * vs the plain variant which evaporates the whole dangling share.
    * The per-round dangling sum stays declarative: a 1-row frame
    * cross-joined into the rank update (no extra driver action; the
    * rounds still fuse into one lazy job). Same per-round plan class as
    * [[pagerank]] plus one bounded aggregate. */
  def pagerankRedistribute(edges: DataFrame, iters: Int = Iters): DataFrame = {
    require(edges.columns.toSeq.contains("src") && edges.columns.toSeq.contains("dst"),
      s"edges needs (src, dst), got ${edges.columns.mkString(",")}")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    val deg = e.groupBy("src").agg(count(lit(1)).as("d"))
    val edgesDeg = e.join(deg, "src").persist()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().persist()
    val dangling = nodes.join(deg.withColumnRenamed("src", "id"), Seq("id"), "left_anti")
      .persist()
    val n = nodes.count()
    val base = 3L * Scale / (20L * n)
    var r = nodes.withColumn("r", lit(Scale / n))
    for (i <- 1 to iters) {
      val dang = r.join(dangling, "id")
        .agg(coalesce(sum("r"), lit(0L)).as("dang")) // 1-row frame, stays lazy
      val summed = edgesDeg
        .join(r.withColumnRenamed("id", "src"), "src")
        .selectExpr("dst AS id", "r div d AS c")
        .groupBy("id").agg(sum("c").as("c"))
      r = nodes.join(summed, Seq("id"), "left").crossJoin(dang)
        .selectExpr("id", s"$base + (17 * (coalesce(c, 0) + dang div $n)) div 20 AS r")
      if (i % 3 == 0 && i < iters) r = r.localCheckpoint(true)
    }
    val out = r.localCheckpoint(true)
    e.unpersist(); edgesDeg.unpersist(); nodes.unpersist(); dangling.unpersist()
    out.select(col("id"), col("r").as("centrality"))
  }

  /** q65: centrality over the supplier–part "supplies" graph derived
    * from `lineitem` (distinct (l_suppkey, l_partkey) pairs,
    * symmetrized — each undirected link is two directed edges, so the
    * bipartite graph has no dangling nodes). Node ids are namespaced
    * into one Long space: supplier s → 2s, part p → 2p+1. */
  /** The symmetrized supplier–part arc frame (supplier s → 2s, part
    * p → 2p+1; each undirected link as two directed arcs) out of ONE
    * distinct pass: the union-of-two-projections form carried the
    * distinct pipeline in both branches — the second branch
    * re-aggregates the reused exchange and re-reads the scan at
    * planning — while the explode form scans, shuffles and distincts
    * once (1 Exchange + 1 final aggregate vs 2 + 2;
    * plans/r18/kcore_round_shapes.txt). Same multiset of arcs. Shared
    * by q65/q147/q219/q218/q271 (r18, guide §2.4). */
  def symmetrizedSupplierPartArcs(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_suppkey").as("s"), col("l_partkey").as("p"))
      .distinct()
      .select(explode(array(
        struct((col("s") * 2).as("src"), (col("p") * 2 + 1).as("dst")),
        struct((col("p") * 2 + 1).as("src"), (col("s") * 2).as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))

  def pagerankSupplierPart(spark: SparkSession, dir: String): DataFrame = {
    val edges = symmetrizedSupplierPartArcs(spark, dir)
    pagerank(edges, Iters)
      .selectExpr(
        "id div 2 AS node_key",
        "CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type",
        "centrality")
  }

  // ------------------------------------------ label propagation (q147)

  /** Fixed LP rounds for the registered query: synchronous LP on a
    * near-bipartite-complete graph mixes in very few rounds. */
  val LpIters = 4

  /** Synchronous label propagation — the standard near-linear
    * community detector (Raghavan et al. 2007), made DETERMINISTIC so
    * both engines reproduce it bit-for-bit: labels start as node ids;
    * each round every node adopts the most frequent label among its
    * in-neighbors, ties broken toward the SMALLEST label (the usual
    * random tie-break replaced by a total order); a node with no
    * in-neighbors keeps its label. Exact integer counts + min
    * tie-break — no randomness, no floats.
    *
    * Scale shape: per round ONE equi-join of the label frame with the
    * edge list on src (the [[pagerank]] plan class), then ONE
    * dst-keyed exchange feeding BOTH aggregate levels — the (dst,
    * label) count and the deterministic argmax `max(struct(cnt,
    * -lbl))`, which picks the highest count and, on ties, the
    * smallest label (identical semantics to a (cnt DESC, lbl)
    * row_number pick, with no per-node sort anywhere in the plan);
    * hash(dst) satisfies both groupings' clustered distributions, so
    * neither aggregate re-shuffles. The recurrence is SINGLE-CONSUMER
    * (winner ∪ static no-in-neighbor nodes — see the in-code note),
    * so all rounds fuse into one lazy job, like [[pagerank]]. */
  def labelProp(edges: DataFrame, iters: Int = LpIters): DataFrame = {
    require(edges.columns.toSeq.contains("src") && edges.columns.toSeq.contains("dst"),
      s"edges needs (src, dst), got ${edges.columns.mkString(",")}")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().persist()
    // Nodes with NO in-neighbors never adopt a label — they carry
    // their own id forever. Splitting them out ONCE (static) turns
    // the per-round "labels LEFT JOIN winner + coalesce" fallback
    // into a plain UNION of the winner frame with this constant
    // frame. That makes the recurrence SINGLE-CONSUMER (the label
    // frame feeds only the next round's join), so the rounds fuse
    // into ONE lazy job like pagerank — the per-round eager
    // localCheckpoint jobs this loop used to pay (one driver-fenced
    // job + |V|-row materialization per round, the r17 verdict's
    // inverse-core-scaling finding) are gone. Persisted: the union
    // re-references it every round. r18, guide §2.
    val noInOwn = nodes
      .join(e.select(col("dst").as("id")).distinct(), Seq("id"), "left_anti")
      .select(col("id"), col("id").as("lbl"))
      .persist()
    var labels = nodes.withColumn("lbl", col("id"))
    for (_ <- 1 to iters) {
      // ONE shuffle for both aggregate levels: hash(dst) satisfies the
      // clustered distribution of BOTH groupBy(dst, lbl) and
      // groupBy(dst), so after the explicit dst repartition the count
      // and the argmax run shuffle-free in place (vs two back-to-back
      // aggregate exchanges; (dst, lbl) pairs are near-distinct on a
      // dedup'd edge list, so pre-shuffle combining had nothing to do)
      val winner = e.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), col("lbl"))
        .repartition(col("dst"))
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("best"))
        .select(col("dst").as("id"), (-col("best.neg")).as("lbl"))
      // winner covers exactly the in-degree>0 nodes (every dst of e
      // groups to one row); the no-in-neighbor rest keep id — the
      // coalesce fallback's only reachable branch for them, since by
      // induction their label IS still the initial id
      labels = winner.unionByName(noInOwn)
    }
    val out = labels.localCheckpoint(true)
    e.unpersist(); nodes.unpersist(); noInOwn.unpersist()
    out.select(col("id"), col("lbl").as("community"))
  }

  /** Label propagation with a zero-changes convergence stop: iterate
    * until NO node changes label (or `maxIters`). Same per-round plan
    * class as [[labelProp]] plus one map-side-combined changed-label
    * count — which, like [[pagerankUntil]]'s delta, is a driver
    * scalar, so every round materializes instead of fusing into one
    * lazy job. Use the fixed-depth variant when the mixing depth is
    * known (the registered near-bipartite graph mixes in ≤4); use
    * this when it isn't — e.g. a directed chain of length L needs L−1
    * rounds for the head's label to reach the tail.
    *
    * Caveat (standard for SYNCHRONOUS LP): bipartite-ish structures
    * can 2-cycle forever; `maxIters` is the documented backstop, and
    * `roundsRun == maxIters` with a nonzero last delta means
    * non-convergence, not a deep fixed point.
    *
    * @return (labels, roundsRun) — roundsRun < maxIters means a round
    *         ran with zero label changes (fixed point reached). */
  def labelPropUntil(edges: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    require(edges.columns.toSeq.contains("src") && edges.columns.toSeq.contains("dst"),
      s"edges needs (src, dst), got ${edges.columns.mkString(",")}")
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist()
    val nodes = e.select(col("src").as("id"))
      .unionByName(e.select(col("dst").as("id")))
      .distinct().persist()
    var labels = nodes.withColumn("lbl", col("id")).localCheckpoint(true)
    var rounds = 0
    var changed = Long.MaxValue
    while (rounds < maxIters && changed > 0L) {
      val winner = e.join(labels.withColumnRenamed("id", "src"), "src")
        .select(col("dst"), col("lbl"))
        .repartition(col("dst")) // one exchange feeds both agg levels
        .groupBy(col("dst"), col("lbl"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst"))
        .agg(max(struct(col("cnt"), (-col("lbl")).as("neg"))).as("best"))
        .select(col("dst").as("id"), (-col("best.neg")).as("new_lbl"))
      val next = labels.join(winner, Seq("id"), "left")
        .select(col("id"), col("lbl").as("prev"),
          coalesce(col("new_lbl"), col("lbl")).as("lbl"))
        .localCheckpoint(true) // materialized: the delta below reuses it
      changed = next.filter(col("lbl") =!= col("prev")).count()
      labels = next.select(col("id"), col("lbl"))
      rounds += 1
    }
    e.unpersist(); nodes.unpersist()
    (labels.select(col("id"), col("lbl").as("community")), rounds)
  }

  /** q147: communities over the same symmetrized supplier–part graph
    * as q65 — the crawl-curation companion signal (PageRank ranks
    * pages, LP groups them; duplicate-farm detection samples per
    * community instead of per page). */
  def lpSupplierPart(spark: SparkSession, dir: String): DataFrame = {
    labelProp(symmetrizedSupplierPartArcs(spark, dir), LpIters)
      .selectExpr(
        "id div 2 AS node_key",
        "CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type",
        "community")
  }

  /** DuckDB twin: the identical deterministic recurrence, one CTE
    * triple (counts, winners, labels) per round. */
  val lpSupplierPartSql: String = {
    val rounds = (1 to LpIters).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst, l.lbl, CAST(count(*) AS BIGINT) AS cnt
         |  FROM edges e JOIN $prev l ON l.id = e.src
         |  GROUP BY 1, 2),
         |w$i AS (
         |  SELECT dst AS id, lbl FROM (
         |    SELECT dst, lbl,
         |      row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, lbl) AS rn
         |    FROM c$i)
         |  WHERE rn = 1),
         |l$i AS (
         |  SELECT p.id, coalesce(w.lbl, p.lbl) AS lbl
         |  FROM $prev p LEFT JOIN w$i w ON w.id = p.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH sp AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |edges AS (
       |  SELECT s * 2 AS src, p * 2 + 1 AS dst FROM sp
       |  UNION ALL
       |  SELECT p * 2 + 1 AS src, s * 2 AS dst FROM sp),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |l0 AS (SELECT id, id AS lbl FROM nodes),
       |$rounds
       |SELECT id // 2 AS node_key,
       |  CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       |  lbl AS community
       |FROM l$LpIters""".stripMargin
  }

  // ------------------------------ Adamic–Adar link prediction (q157)

  /** Top predicted links to report. */
  val AaTopK = 100

  /** Adamic–Adar link prediction over a bipartite incidence list —
    * the classic "who should be connected" score (Adamic & Adar
    * 2003): candidate pair (a, b) on the LEFT side scores
    * Σ_{shared right-node r} 1/ln(deg(r)) — sharing a RARE right
    * node is strong evidence, sharing a hub is weak. The curation
    * read: suppliers predicted to share parts are sourcing
    * substitutes (and for web corpora: hosts predicted to link are
    * mirror/farm suspects — feeds the q39/q147 cluster triage).
    *
    * Exactness: weights are FIXED-POINT integers w(r) = ⌊10⁶/ln
    * deg(r)⌋, so pair scores are exact integer sums (order-free —
    * double summation across rows would be sum-order-dependent);
    * deg(r) = 1 right nodes are excluded (1/ln 1 diverges — they
    * connect nothing anyway). Global top-[[AaTopK]] by (score DESC,
    * a, b) — a TakeOrdered, never a per-node window.
    *
    * Scale shape: pair generation groups BY RIGHT NODE (Σ deg² — the
    * q23/q77 candidate-join class), then ONE map-side-combined
    * (a, b) sum. `maxRightDegree` is the hub knob for web scale:
    * right nodes with degree ABOVE the cap are EXCLUDED from pair
    * generation entirely (exact exclusion semantics, not sampling —
    * the result equals Adamic–Adar computed on the incidence list
    * with those hub rows deleted). This bounds per-right-node
    * fan-out at cap², and it is also the statistically honest cut:
    * a right node shared by 10⁴ left nodes carries weight
    * 1/ln 10⁴ ≈ 0.11 per pair — ubiquity is not evidence. Default
    * Long.MaxValue = no cap; the REGISTERED query passes
    * [[AaRegisteredDegreeCap]] (r13 verdict #2 — the library default
    * stays uncapped for callers who want the textbook estimator, but
    * the shipped plan is hub-safe by construction). */
  def adamicAdar(incidence: DataFrame, leftCol: String, rightCol: String,
      topK: Int = AaTopK, maxRightDegree: Long = Long.MaxValue): DataFrame = {
    val inc = incidence.select(col(leftCol).cast("long").as("a"),
      col(rightCol).cast("long").as("r")).distinct()
      .localCheckpoint(true) // degree + both pair sides read it
    val deg = inc.groupBy("r").agg(count(lit(1)).as("d"))
      .filter(col("d") > 1)
      .filter(col("d") <= maxRightDegree)
      // ⌊10⁶ / ln d⌋: exact integer weight, identical in both engines
      .selectExpr("r", "CAST(floor(1000000.0 / ln(CAST(d AS DOUBLE)))" +
        " AS BIGINT) AS w")
    // deg joins BEFORE the self-join so capped/degree-1 right nodes
    // never enter pair generation (the cap bounds the join itself,
    // not just the scored output)
    val incW = inc.join(deg, "r")
    incW.select("r", "a")
      .join(incW.select(col("r"), col("a").as("b"), col("w")), "r")
      .filter(col("a") < col("b"))
      .groupBy("a", "b")
      .agg(sum(col("w")).as("aa_micro"), count(lit(1)).as("n_common"))
      .orderBy(col("aa_micro").desc, col("a"), col("b"))
      .limit(topK)
      .selectExpr("a", "b", "n_common", "aa_micro",
        "round(CAST(aa_micro AS DOUBLE) / 1e6, 6) + 0.0 AS aa_score")
  }

  /** Registered hub cap for [[aaSupplierLinks]]: pair fan-out per
    * right node is bounded at cap² = 10⁶ — the knob that keeps the
    * self-join hub-safe on a skewed REAL graph, where the hottest key
    * is d² (the r13 verdict's scale-killer). Output-neutral on the
    * TPC-H data at every SF: suppliers-per-part is a small constant
    * (4 at sf1 spec; max 10 at sf0.1 — asserted in GraphSpec), three
    * orders of magnitude under the cap, and a right node ABOVE the cap
    * would carry weight 1/ln(10³) < 0.15/pair anyway — ubiquity is not
    * evidence (the exclusion is exact semantics, not sampling). */
  val AaRegisteredDegreeCap = 1000L

  /** q157: predicted supplier–supplier links via shared parts. */
  def aaSupplierLinks(spark: SparkSession, dir: String): DataFrame =
    adamicAdar(
      Tables.lineitem(spark, dir)
        .select(col("l_suppkey").as("s"), col("l_partkey").as("p")),
      "s", "p", maxRightDegree = AaRegisteredDegreeCap)
      .withColumnRenamed("a", "supp_a").withColumnRenamed("b", "supp_b")

  /** DuckDB twin: identical weights, pair spine, tie order. */
  val aaSupplierLinksSql: String =
    s"""WITH inc AS (
       |  SELECT DISTINCT l_suppkey AS a, l_partkey AS r FROM lineitem),
       |deg AS (
       |  SELECT r, CAST(floor(1000000.0 / ln(CAST(count(*) AS DOUBLE)))
       |    AS BIGINT) AS w
       |  FROM inc GROUP BY r HAVING count(*) > 1),
       |pairs AS (
       |  SELECT i1.a, i2.a AS b, d.w
       |  FROM inc i1 JOIN inc i2 ON i1.r = i2.r AND i1.a < i2.a
       |  JOIN deg d ON d.r = i1.r)
       |SELECT a AS supp_a, b AS supp_b,
       |  CAST(count(*) AS BIGINT) AS n_common,
       |  CAST(sum(w) AS BIGINT) AS aa_micro,
       |  round(CAST(sum(w) AS DOUBLE) / 1e6, 6) + 0.0 AS aa_score
       |FROM pairs
       |GROUP BY 1, 2
       |ORDER BY aa_micro DESC, supp_a, supp_b
       |LIMIT $AaTopK""".stripMargin

  /** DuckDB twin: the identical integer recurrence, unrolled one CTE
    * pair (contributions, ranks) per iteration. */
  val pagerankSupplierPartSql: String = pagerankSqlFrom(
    s"""sp AS (
       |  SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem),
       |edges AS (
       |  SELECT s * 2 AS src, p * 2 + 1 AS dst FROM sp
       |  UNION ALL
       |  SELECT p * 2 + 1 AS src, s * 2 AS dst FROM sp)""".stripMargin,
    s"""SELECT id // 2 AS node_key,
       |  CASE WHEN id % 2 = 0 THEN 'supplier' ELSE 'part' END AS node_type,
       |  r AS centrality
       |FROM r$Iters""".stripMargin)

  /** [[pagerankSupplierPartSql]] parameterized over the graph (the
    * q261/q265 builder move): `pre` is leading CTE text that must
    * define `edges (src, dst)` (no trailing comma); `finalSelect`
    * consumes `r$Iters (id, r)`. q65's own text is the builder applied
    * to its supplier–part graph, byte-identical to the pre-refactor
    * val. */
  def pagerankSqlFrom(pre: String, finalSelect: String): String = {
    val iters = (1 to Iters).map { i =>
      val prev = if (i == 1) "r0" else s"r${i - 1}"
      s"""c$i AS (
         |  SELECT e.dst AS id, CAST(sum(r.r // d.d) AS BIGINT) AS c
         |  FROM edges e JOIN deg d ON d.src = e.src JOIN $prev r ON r.id = e.src
         |  GROUP BY 1),
         |r$i AS (
         |  SELECT nodes.id,
         |    (3 * $Scale) // (20 * nn.n) + (17 * coalesce(c.c, 0)) // 20 AS r
         |  FROM nodes CROSS JOIN nn LEFT JOIN c$i c ON c.id = nodes.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH $pre,
       |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d FROM edges GROUP BY 1),
       |nodes AS (SELECT DISTINCT src AS id FROM edges),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT id, $Scale // nn.n AS r FROM nodes CROSS JOIN nn),
       |$iters
       |$finalSelect""".stripMargin
  }
}
