package graft

import scala.collection.mutable
import scala.util.Try

import org.apache.spark.sql.{DataFrame, GraftSql, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression}
import org.apache.spark.sql.catalyst.optimizer.BuildLeft
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.expressions.{Window => WindowSpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Whole-registry scale audit: two screens, measured across two 10×
  * data steps, for every registered query.
  *
  * The WINDOW screen. The two r9 scale-walls (q137, q141) were
  * windows whose partition keys were slice/segment-grade while their
  * child frames scaled with the corpus — invisible to wall-clock at
  * sf0.1 and to row thresholds at any single SF. Every logical Window
  * operator's child is re-materialized (GraftSql.ofRows) at both SFs
  * of a step and its LARGEST single partition is counted at both. A
  * window whose max partition grows ≳ linearly with the data and is
  * already non-trivial is a single-task wall in the making.
  *
  * The JOIN screen. A shuffled equi-join's task work concentrates on
  * its hottest key: when the max rows sharing one key value grow
  * ≳ linearly on a NON-broadcast side, that join is the
  * straggler/OOM task in the making at 100 TB. Every logical equi-Join
  * whose physical plan shuffles has both children re-materialized and
  * its largest single join-key group counted at both SFs. Because
  * nearly everything broadcasts at test SFs, broadcast joins are NOT
  * simply skipped: a build side whose TOTAL row count grows ≳ linearly
  * past dimension grade (> 10k rows and at the step's ratio) is a
  * FRAGILE broadcast — it stops broadcasting somewhere on the way to
  * 100 TB — so it gets the same skew screen (and a growing non-equi
  * join, which has no sane shuffle fallback, always flags).
  * Logical↔physical pairing is by traversal position: the physical
  * planner maps each optimizedPlan Join to exactly one join exec, and
  * both trees collect in the same order.
  *
  * The two steps:
  *   - sf0.001 → sf0.01 over EVERY query: > 48 rows at sf0.01 and
  *     ratio ≥ 4 (≈ linear growth on the 10× step).
  *   - sf0.01 → sf0.1 over the queries whose sf0.01 plan scans
  *     `documents`/`embeddings`. Those tables hold 500 rows at BOTH
  *     SFs of the first step, so any window or join keyed on
  *     doc/vector cardinality is structurally invisible to it (exactly
  *     how q151's old per-query corpus-sized window passed it). Here
  *     documents go 500 → 5000 (10×) and embeddings 500 → 2000 (4×);
  *     the flag line is ratio ≥ 3 with a non-trivial big side (> 96
  *     rows) — tight enough to catch exactly-linear embedding-keyed
  *     growth, loose enough that bounded structures (cluster/bucket-
  *     capped with constant knobs, per-doc spans) that merely ride the
  *     doc-count dimension stay explainable. Enrolment is detected
  *     from the plan's file-source leaves, not a hand-kept list, so
  *     new doc operators are auto-enrolled.
  *
  * One sweep serves every screen: each query is built once per SF,
  * its windows and joins are collected once per build, and one
  * measurement cache (canonical child plus normalized keys) serves
  * both screens and both steps, so the doc step's sf0.01 side reuses
  * the first step's sf0.01 numbers. Only the flag lines are kept, and
  * the cache manager and persisted RDDs are cleared after each query.
  *
  * Flags must be ALLOWLISTED with the structural bound (or knob) that
  * caps them — the allowlists are the adjudication record, and
  * anything newly flagged and NOT allowlisted fails the suite: the
  * next q137 gets caught at build time, not at scale. The planted
  * self-tests prove each screen detects the failure mode it exists for.
  */
class RegistryScaleAuditSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Engine.session()

  /** One 10× scale step: its table dirs and flag bounds. A flag needs
    * more than `minRows` on the big side and growth ≥ `minRatio`; a
    * broadcast build side is fragile past 10k rows grown ≥ `minRatio`.
    * `shapeNote` keeps each step's historical shape-mismatch message. */
  case class Step(smallDir: String, bigDir: String, minRows: Long,
      minRatio: Double, shapeNote: String)
  val registryStep = Step("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    minRows = 48, minRatio = 10.0 / 2.5, shapeNote = " windows")
  val docStep = Step("/root/testdata/sf0.01", "/root/testdata/sf0.1",
    minRows = 96, minRatio = 3.0, shapeNote = "")

  /** Every flag line of one screen at one step, and those whose query
    * its allowlist does not adjudicate. */
  class Flags(allowlist: Map[String, String]) {
    val flagged = mutable.ListBuffer[String]()
    val violations = mutable.ListBuffer[String]()
    def add(name: String, desc: String): Unit = {
      flagged += desc
      if (!allowlist.contains(name)) violations += desc
    }
  }

  // ---- measurement ----

  private val measured = mutable.Map[(LogicalPlan, Seq[Expression], Boolean), Long]()
  private var measurements = 0

  /** Max rows sharing one key tuple of `child` (rows with a null key
    * dropped when `dropNulls`); the whole row count for no keys. Keys
    * are normalized against the child's output, as canonicalization
    * erases column names. */
  private def maxRows(child: LogicalPlan, keys: Seq[Expression],
      dropNulls: Boolean): Long =
    measured.getOrElseUpdate((child.canonicalized,
        keys.map(QueryPlan.normalizeExpressions(_, child.output)), dropNulls), {
      measurements += 1
      val df = GraftSql.ofRows(spark, child)
      if (keys.isEmpty) df.count()
      else {
        val cols = keys.zipWithIndex.map { case (e, i) => GraftSql.column(e).as(s"k$i") }
        val keyed = df.select(cols: _*)
        val kept = if (!dropNulls) keyed
          else keyed.filter(cols.indices.map(i => col(s"k$i").isNotNull).reduce(_ && _))
        val agg = kept.groupBy(cols.indices.map(i => col(s"k$i")): _*)
          .count().agg(max("count")).collect().head
        if (agg.isNullAt(0)) 0L else agg.getLong(0)
      }
    })

  /** max rows in any one partition of this Window's child (whole
    * child count when the partition spec is empty — a global window). */
  private def maxPartitionRows(w: Window): Long =
    maxRows(w.child, w.partitionSpec, dropNulls = false)

  /** Max rows sharing one (non-null) key tuple on one side. */
  private def maxKeyRows(child: LogicalPlan, keys: Seq[Expression]): Long =
    maxRows(child, keys, dropNulls = true)

  private def rowsOf(plan: LogicalPlan): Long = maxRows(plan, Nil, dropNulls = false)

  // ---- plan walks ----

  private def windowsOf(df: DataFrame): Seq[Window] = {
    val all = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    // stacked same-partition windows share a child; audit each child
    // once per distinct (child, partition keys) pair. ORDER-PRESERVING
    // dedup: the plan traversal order is identical across SFs (same
    // code path), so position pairs small-SF and big-SF windows —
    // a groupBy would scramble it
    val seen = mutable.Set[(Any, Seq[String])]()
    all.filter { w =>
      seen.add((w.child.canonicalized, w.partitionSpec.map(_.sql)))
    }
  }

  private def splitConj(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConj(l) ++ splitConj(r)
    case other => Seq(other)
  }

  /** Equi-key pairs (leftKeys, rightKeys) of a logical join, or None
    * for pure cross/theta joins (those surface as nested-loop plans —
    * the broadcast screen and the 28-site crossJoin audit cover them). */
  private def equiKeys(j: Join): Option[(Seq[Expression], Seq[Expression])] = {
    val pairs = j.condition.toSeq.flatMap(splitConj).collect {
      case EqualTo(l, r) if l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet) => (l, r)
      case EqualTo(l, r) if r.references.subsetOf(j.left.outputSet) &&
        l.references.subsetOf(j.right.outputSet) => (r, l)
    }
    if (pairs.isEmpty) None else Some((pairs.map(_._1), pairs.map(_._2)))
  }

  /** Which logical side a broadcast join builds, or None if shuffled. */
  private def broadcastSide(p: SparkPlan): Option[String] = p match {
    case b: BroadcastHashJoinExec =>
      Some(if (b.buildSide == BuildLeft) "L" else "R")
    case b: BroadcastNestedLoopJoinExec =>
      Some(if (b.buildSide == BuildLeft) "L" else "R")
    case _ => None
  }

  /** (logical join, broadcast side or None) pairs for a query, deduped
    * by canonical children so shared-checkpoint self-joins audit once. */
  private def joinsOf(df: DataFrame): Seq[(Join, Option[String])] = {
    val logical = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    val physical = df.queryExecution.sparkPlan.collect {
      case p if p.nodeName.contains("Join") => p
    }
    assert(logical.size == physical.size,
      s"join count differs logical ${logical.size} vs physical ${physical.size}")
    val seen = mutable.Set[(Any, Any)]()
    logical.zip(physical).collect {
      case (j, p) if seen.add((j.left.canonicalized, j.right.canonicalized)) =>
        (j, broadcastSide(p))
    }
  }

  /** Does this query's plan scan documents/embeddings parquet? The
    * relation's toString elides the file path, so detect via the
    * HadoopFsRelation's root locations. */
  private def readsDocTables(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectLeaves().exists {
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation =>
            fs.location.rootPaths.exists { p =>
              val s = p.toString
              s.contains("documents.parquet") || s.contains("embeddings.parquet")
            }
          case _ => false
        }
      case _ => false
    }

  // ---- the two screens ----

  /** Window screen: pair windows by position within same-shape plans
    * (built from the same code path, so window order is stable across
    * SFs) and flag partitions that grow past the step's bounds. */
  private def screenWindows(step: Step, name: String, wsSmall: Seq[Window],
      wsBig: Seq[Window], flags: Flags): Unit = {
    assert(wsSmall.size == wsBig.size,
      s"$name: plan shape differs across SFs (${wsSmall.size} vs ${wsBig.size}${step.shapeNote})")
    wsSmall.zip(wsBig).zipWithIndex.foreach { case ((ws, wb), i) =>
      val big = maxPartitionRows(wb)
      if (big > step.minRows) { // trivial partitions can't wall at any scale-up
        val small = math.max(1L, maxPartitionRows(ws))
        val ratio = big.toDouble / small
        if (ratio >= step.minRatio) {
          flags.add(name, s"$name window#$i partition " +
            s"[${wb.partitionSpec.map(_.sql).mkString(", ")}] " +
            s"maxPart $small → $big (ratio ${"%.1f".format(ratio)})")
        }
      }
    }
  }

  /** Join screen: hot-key growth on shuffled joins, and on broadcast
    * joins whose build side will stop broadcasting at scale. */
  private def screenJoins(step: Step, name: String,
      jsSmall: Seq[(Join, Option[String])], jsBig: Seq[(Join, Option[String])],
      flags: Flags): Unit = {
    assert(jsSmall.size == jsBig.size,
      s"$name: join count differs across SFs" +
        s" (${jsSmall.size} vs ${jsBig.size})")

    def skewScreen(js: Join, jb: Join, i: Int, note: String): Unit =
      (equiKeys(js), equiKeys(jb)) match {
        case (Some((lkS, rkS)), Some((lkB, rkB))) =>
          Seq(("L", js.left, lkS, jb.left, lkB),
            ("R", js.right, rkS, jb.right, rkB)).foreach {
            case (side, chS, kS, chB, kB) =>
              val big = maxKeyRows(chB, kB)
              if (big > step.minRows) { // trivial key groups can't wall at scale-up
                val small = math.max(1L, maxKeyRows(chS, kS))
                val ratio = big.toDouble / small
                if (ratio >= step.minRatio) {
                  flags.add(name, s"$name join#$i$note side $side keys " +
                    s"[${kB.map(_.sql).mkString(", ")}] " +
                    s"maxKey $small → $big (ratio ${"%.1f".format(ratio)})")
                }
              }
          }
        case _ =>
          // a growing non-equi join has no shuffle fallback — always flag
          flags.add(name, s"$name join#$i$note non-equi with corpus-bound side")
      }

    jsSmall.zip(jsBig).zipWithIndex.foreach {
      case (((js, _), (jb, bcastB)), i) =>
        bcastB match {
          case None => skewScreen(js, jb, i, "")
          case Some(side) =>
            // broadcast today — but will it still broadcast at 1000×?
            // a build side whose row count grows ≳ linearly past
            // dimension grade becomes a shuffled join at scale, so it
            // gets the same skew screen (flagged as fragile)
            val (chS, chB) =
              if (side == "L") (js.left, jb.left) else (js.right, jb.right)
            val bigRows = rowsOf(chB)
            if (bigRows > 10000 &&
              bigRows.toDouble / math.max(1L, rowsOf(chS)) >= step.minRatio)
              skewScreen(js, jb, i, s"[fragile-bcast $side=$bigRows rows]")
        }
    }
  }

  // ---- allowlists ----

  /** query → structural bound that caps the flagged window(s) of the
    * sf0.001 → sf0.01 step:
    *   - value-cell family (q108/q120/q123/q126/q141/q93/q47/q48...):
    *     partitions are (group → value cells); cells grow with data
    *     only until the quantized value RANGE saturates, and since r10
    *     a CellGuard raise_error enforces the bound at runtime.
    *   - banded prefix sums (q117, q137, q142): partition is
    *     (group, band); growth at test SFs reflects bands not yet
    *     saturated — the band width is an ABSOLUTE per-task cap.
    *   - q58 pack: deliberately shard-local (SURVEY §2); PackShards is
    *     the parallelism knob a 100 TB caller raises. */
  val windowAllowlist: Map[String, String] = Map(
    "q7_group_index" -> "(nation, key-band): BandedCumsum.rowNumber cap (r10)",
    "q47_ntile_bin" -> "(nation, cent-band): banded row_number + exact ntile (r10)",
    "q130_funnel_time" -> "(pair, gap-band): BandedCumsum absolute cap (r10)",
    "q114_rfm" -> ("(band) metric cells: BandedCumsum cap + CellGuard;" +
      " recency/frequency/monetary ranges bounded (r10)"),
    "q48_histogram" -> "value cells: range-bounded + quantized input",
    "q93_quantile_cdf" -> "value cells: range-bounded; integrality guard",
    "q108_gini" -> "(g, band) value cells: BandedCumsum cap + CellGuard (r10)",
    "q120_wquantile" -> "(g, band) value cells: BandedCumsum cap + CellGuard (r10)",
    "q123_lorenz" -> "(g, band) value cells: BandedCumsum cap + CellGuard (r10)",
    "q126_winsorize" -> "(g, band) value cells: BandedCumsum cap + CellGuard (r10)",
    "q141_psi" -> "(g, band) whole-dollar cells: BandedCumsum cap + CellGuard (r10)",
    "q16_percentiles" -> "value cells: range-bounded cent cells",
    "q260_ddsketch" -> ("exact-AUDIT side only: value cells (the q16" +
      " class, range-bounded); production reads the sketch walk, whose" +
      " window is log-bucket-bounded (~B·log2(range) rows) — the" +
      " q24/q245 audit-price doctrine (r15)"),
    "q335_ddsketch_stream" -> ("the q260 adjudication verbatim: the" +
      " flagged window is the replay gate's exact-AUDIT recompute" +
      " (the q260 value-cell program rerun batch-side to price the" +
      " stream's estimate); the STREAM under test carries log-bucket" +
      "-bounded state and no window at all"),
    "q71_mad_outliers" -> "value cells: range-bounded cent cells",
    "q102_theil_sen" -> "slope cells over bounded value grid; CellGuard (r10)",
    "q117_pareto" -> "(band) partitions: bandWidth is the documented knob",
    "q137_heaps" -> "(g, band) partitions: BandedCumsum absolute cap (r10)",
    "q142_pipeline" -> "(shard, band) partitions: BandedCumsum absolute cap",
    "q58_packing" -> "shard-local by design; PackShards is the knob",
    "q57_chunking" -> "per-doc explode; no cross-doc window",
    "q62_dup_spans" -> "per-(doc pair) spans; bounded by doc length",
    "q63_span_removal" -> "per-doc gram windows; bounded by doc length",
    "q72_resample_locf" -> "per-(user, hour-range) grid; bounded spine",
    "q124_ewma" -> "per-user series: events/user is load-bounded",
    "q110_survival" -> "per-group duration cells: bounded by the observation span",
    "q281_weibull" -> ("the q110 KM duration-spine windows verbatim" +
      " (q281 fits THROUGH the registered q110 chain — one maintained" +
      " derivation): bounded by the observation span, the q110" +
      " adjudication; the fit stage itself adds only a keyed aggregate" +
      " over event-time cells (r15)"),
    "q111_acf" -> "day-bucket cells first: bounded by calendar range",
    "q116_ccf" -> "day-bucket cells first: bounded by calendar range",
    "q134_amoc" -> "per-type day cells: bounded by calendar range",
    "q135_runs_test" -> "per-type day cells: bounded by calendar range",
    "q239_decompose" -> ("per-series day cells: bounded by calendar" +
      " range (301 → 1736 is sparse day-cells FILLING toward the" +
      " ~2400-day span, then saturating — the q134/q115 class; r14)"),
    "q105_cusum" -> ("per-(type, event) sequential fold BY DESIGN (scaladoc:" +
      " pre-bucket to hour/day at 100 TB; 18n streaming twin is the" +
      " constant-state production path)"),
    "q113_twap" -> "per-user series: events/user is load-bounded",
    "q115_backtest" -> "global day spine: bounded by calendar range",
    "q127_seasonality" -> "per-(type, dow) cells: ≤ 7 per series",
    "q139_seasonal_strength" -> "per-type dow cells: ≤ 7 per series",
    "q100_bh_fdr" -> "per-family p-value rank: tests are dimension-grade",
    "q149_conformal" -> ("per-group dollar-score cells: range-bounded" +
      " (grow only until the price range saturates, the q48/q141 class)" +
      " + CellGuard raise_error past maxCells (r11)"),
    "q83_auc" -> "score cells: quantized-score range-bounded",
    "q61_quality_score" -> "score cells: quantized-score range-bounded",
    "q67_dsir" -> "importance-weight cells: quantized range-bounded",
    "q64_domain_rebalance" -> "per-domain counts: dimension-grade",
    "q13_topk_group" -> "per-group rank: group sizes load-bounded",
    "q90_mrr" -> "per-query rank: k-bounded candidate lists",
    "q159_logrank" -> ("per-stratum duration cells: bounded by the" +
      " observation span — the q110 adjudication on the same spine (r13)"),
    "q256_brunner_munzel" -> ("per-(group[, side]) hundred-dollar" +
      " value cells: grow only until the order-value range saturates" +
      " (the q48/q141/q149 class; gridDiv is the 100 TB knob — coarsen" +
      " the grid, midranks + the placement variance absorb the ties" +
      " exactly); r14"),
    "q161_logrank_by" -> ("per-(region, duration) cells: the q159" +
      " spine partitioned further by a dimension-grade stratum (r13)"),
    "q163_competing_risks" -> ("duration-spine cells (three chained" +
      " cumulatives over one spine frame): bounded by the observation" +
      " span — the q110 adjudication (r13)"),
    "q165_rmst" -> ("per-group duration cells, horizon-CLIPPED (τ = 365" +
      " caps the spine outright) — stricter than the q110 bound (r13)"),
    "q170_wilcoxon_signed" -> ("|diff| cells on the dollar grid: grow" +
      " only until the spend-delta range saturates (the q48/q141" +
      " class); gridDiv is the documented 100 TB coarsening knob (r13)"),
    "q178_nelson_aalen" -> ("per-group duration cells: bounded by the" +
      " observation span — the q110 adjudication on the same spine (r13)"),
    "q186_cindex" -> ("lattice windows over (duration × score) spines:" +
      " the duration spine is observation-span-bounded (q110 class)," +
      " the score spine is the hundred-dollar balance grid (≤ ~110" +
      " cells) — both dimension-grade, never subject count (r13)"),
    "q188_hill_tail" -> ("(g, band) revenue cells: BandedCumsum" +
      " absolute cap + dense-key band guard (r13)"),
    "q194_yuen_trimmed_t" -> ("(g, side, band) cent-price cells:" +
      " BandedCumsum absolute cap + dense-key band guard (r13)"),
    "q200_cox_ph" -> ("per-group duration-spine suffix windows (one per" +
      " Newton iteration): bounded by the observation span — the" +
      " q110/q159 adjudication on the same spine (r13)"),
    "q202_gpd_pot" -> ("(g, band) cent-price cells: BandedCumsum" +
      " absolute cap + dense-key band guard — the q188 walk (r13)"),
    "q201_cvm" -> ("per-year delay cells: the value grid is a" +
      " DIFFERENCE of two calendar-bounded dates (saturates ≤ ~4800" +
      " cells at any SF — the synthetic data doesn't enforce TPC-H's" +
      " 121-day ship window, measured 2317 at sf0.01) — the q48/q141" +
      " saturating value-cell class (r13 session-5)"),
    "q209_durbin_watson" -> ("per-priority day cells: bounded by" +
      " calendar range — the q111/q134 adjudication (r13 session-5)"),
    "q210_dickey_fuller" -> ("per-priority day cells: bounded by" +
      " calendar range — the q111/q134 adjudication (r13 session-5)"),
    "q216_kpss" -> ("per-priority day cells: bounded by calendar" +
      " range — the q111/q134 adjudication (r13 session-5)"),
    "q217_yule_walker" -> ("per-priority day cells: bounded by" +
      " calendar range — the q111/q134 adjudication (r13 session-5)"),
    "q272_ar_backtest" -> ("per-priority day cells (q217's frame with" +
      " the holdout split): bounded by calendar range — the q111/q134" +
      " adjudication (r15 session-3)"),
    "q226_page_hinkley" -> ("per-priority day cells (the q216 walk):" +
      " bounded by calendar range — the q111/q134 adjudication" +
      " (r13 session-5)"),
    "q232_decision_stump" -> ("(g) hundred-dollar price cells: grow" +
      " only until the price range saturates (~5.5k cells at the" +
      " registered span) — the q48/q141/q149 saturating value-cell" +
      " class; the grid width is the documented coarsening knob" +
      " (r13 session-5)"))

  /** query → structural bound adjudicating its flagged join(s) of the
    * sf0.001 → sf0.01 step. r11 baseline: ZERO flags — every registered
    * join is either key-bounded (orderkey/doc_id multiplicity),
    * dimension-broadcast with a bounded build side, or a
    * candidate-generation join whose key groups are planted-duplicate
    * clusters that stay constant across the step. r13 adds one
    * adjudicated flag (q186's spine-lattice join). */
  val skewAllowlist: Map[String, String] = Map(
    "q186_cindex" -> ("the lattice join keys only on g (segment-grade)" +
      " but BOTH sides are spine frames, not subject rows: left =" +
      " distinct (g, dur) — bounded by the observation span (the q110" +
      " duration adjudication); right = distinct (g, s) — the" +
      " hundred-dollar balance grid (≤ ~110 cells). Per-key work is" +
      " span × grid, dimension-grade at any corpus size (r13)"))

  /** query → structural bound adjudicating its doc-step flag(s).
    * MEASURED record (the doc step, sf0.01 → sf0.1, empty-allowlist run):
    * exactly three window flags, zero join flags — every ANN/dedup
    * bucket join either broadcasts a dimension-grade build side or
    * keys on bucket ids whose occupancy stayed under the flag line at
    * this step (the r11 zero-flag baseline carries over). Notably
    * q151's rewrite (bounded top-k aggregate + projected-space LSH)
    * shows NO window and NO skew flag here — its corpus-sized window
    * is measurably gone, not allowlisted. */
  val docAllowlist: Map[String, String] = Map(
    "q45_kmeans" -> ("(cluster) partitions = corpus/k (measured 71 →" +
      " 259 on the 4× embeddings step ≈ exactly proportional): k is" +
      " the fit knob — a 100 TB SemDeDup/k-means run fits k ∝ corpus" +
      " (constant occupancy), and the assignment itself is a" +
      " per-row argmin projection, not the window"),
    "q58_packing" -> ("(shard) partitions are shard-local BY DESIGN" +
      " (SURVEY §2; measured 63 → 625 on the 10× doc step):" +
      " PackShards is the parallelism knob a 100 TB caller raises —" +
      " same adjudication as the r10 window audit"),
    "q276_pack_utilization" -> ("q58's OWN (shard) window — the audit" +
      " composes the operator it prices (SURVEY §2), so it inherits" +
      " q58's shard-local-by-design partitions verbatim (measured the" +
      " identical 63 → 625): PackShards is the knob, the q58" +
      " adjudication applies unchanged (r15)"),
    "q83_auc" -> ("global ROC window over SCORE CELLS (measured 488 →" +
      " 3632): cells grow with data only until the quantized score" +
      " range saturates (the q48/q141 class) — bounded by the score" +
      " grid, not the corpus; same adjudication as the r10 audit"),
    "q171_avg_precision" -> ("the SAME score-cell window as q83 over" +
      " the SAME q61 score frame (measured 488 → 3632, identical" +
      " cells): AP and AUC read one cell frame two ways — bounded by" +
      " the quantized score grid, the q83 adjudication verbatim"),
    "q172_rrf_fusion" -> ("two rank windows over SCORE CELLS (quality" +
      " 488 → 3632 = the q83 cells; fluency 440 → 3388): competition" +
      " ranks are cumulative counts over the distinct-score frame —" +
      " the q83/q48 class, bounded by each score's quantized grid" +
      " (fluency is a div-floored 1e-6 mean with a saturating range);" +
      " the fused election itself is a bounded TakeOrderedAndProject," +
      " no window"),
    "q185_lift_gains" -> ("the SAME score-cell window as q83 over the" +
      " SAME q61 score frame (measured 488 → 3632, identical cells):" +
      " the gains walk reads the one distinct-score frame AUC reads —" +
      " bounded by the quantized score grid, the q83/q171 adjudication" +
      " verbatim (r13)"),
    "q193_containment" -> ("the r14 pair-count join (cand ⋈ shingles" +
      " on doc_a; measured maxKey 19 → 287, 287 ROWS absolute at" +
      " sf0.1): rows per hot doc_a = partners(a)·n_sh(a) — partners" +
      " IS the operator's output (every candidate pair above the" +
      " prefix filter), so the join is OUTPUT-shaped, the price of" +
      " exact intersection counts; the 15× step is template-cluster" +
      " growth in the synthetic corpus (more docs of the same" +
      " template ⇒ more true containment pairs — the detector is" +
      " detecting); the 100 TB knobs are the ones candidate" +
      " GENERATION already has (Threshold / MinShingles / the q22" +
      " df-cap discipline on prefix shingles), which bound partners" +
      " before this join ever runs; both probe joins carry" +
      " shuffle_hash hints, so the corpus-sized shingle frame is" +
      " never broadcast at any SF (r14)"))

  // ---- the sweep ----

  /** The flag lines of one registry sweep, plus its bookkeeping. */
  class Capture {
    val windows = new Flags(windowAllowlist)
    val joins = new Flags(skewAllowlist)
    val docWindows = new Flags(docAllowlist)
    val docJoins = new Flags(docAllowlist)
    val enrolled = mutable.ListBuffer[String]()
    /** (query, table dir) → times the sweep built that frame. */
    val builds = mutable.Map[(String, String), Int]().withDefaultValue(0)
  }

  /** Failures are kept (Try), so each dependent test reports them
    * without re-running the sweep. */
  lazy val capture: Try[Capture] = Try {
    val c = new Capture
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      def build(dir: String): DataFrame = {
        c.builds((name, dir)) += 1
        fn(spark, dir)
      }
      val small = build(registryStep.smallDir)
      val mid = build(registryStep.bigDir)
      val (wsMid, jsMid) = (windowsOf(mid), joinsOf(mid))
      screenWindows(registryStep, name, windowsOf(small), wsMid, c.windows)
      screenJoins(registryStep, name, joinsOf(small), jsMid, c.joins)
      if (readsDocTables(mid)) {
        c.enrolled += name
        val big = build(docStep.bigDir)
        screenWindows(docStep, name, wsMid, windowsOf(big), c.docWindows)
        screenJoins(docStep, name, jsMid, joinsOf(big), c.docJoins)
      }
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist())
    }
    c
  }

  test("no un-adjudicated window grows its max partition super-linearly") {
    val flags = capture.get.windows
    info(s"flagged (allowlisted) windows:\n  ${flags.flagged.mkString("\n  ")}")
    assert(flags.violations.isEmpty,
      "un-adjudicated super-linear windows:\n  " + flags.violations.mkString("\n  ") +
        "\nEither band/quantize the window (q117/q137 pattern) or allowlist" +
        " it here with its structural bound.")
  }

  test("no un-adjudicated join grows a hot key or a fragile broadcast super-linearly") {
    val flags = capture.get.joins
    info(s"flagged (allowlisted) joins:\n  ${flags.flagged.mkString("\n  ")}")
    assert(flags.violations.isEmpty,
      "un-adjudicated skew/fragile-broadcast joins:\n  " +
        flags.violations.mkString("\n  ") +
        "\nEither broadcast/salt/shard the join (bounded build side)" +
        " or allowlist it here with its structural bound.")
  }

  test("doc/vector-keyed windows do not grow super-linearly un-adjudicated") {
    val c = capture.get
    info(s"enrolled doc/embedding queries: ${c.enrolled.size}")
    info(s"flagged (allowlisted) windows:\n  ${c.docWindows.flagged.mkString("\n  ")}")
    assert(c.docWindows.violations.isEmpty,
      "un-adjudicated doc-step windows:\n  " + c.docWindows.violations.mkString("\n  ") +
        "\nEither bound the window (bounded aggregate / banding / bucketing)" +
        " or allowlist it here with its structural bound.")
  }

  test("doc/vector-keyed joins do not grow a hot key super-linearly un-adjudicated") {
    val flags = capture.get.docJoins
    info(s"flagged (allowlisted) joins:\n  ${flags.flagged.mkString("\n  ")}")
    assert(flags.violations.isEmpty,
      "un-adjudicated doc-step joins:\n  " + flags.violations.mkString("\n  ") +
        "\nEither bucket/broadcast/salt the join or allowlist it here" +
        " with its structural bound.")
  }

  test("the sweep builds each query once per scale factor") {
    val c = capture.get
    info(s"${SparkEntry.queries.size} queries, ${c.builds.size} builds," +
      s" $measurements measurements")
    assert(c.builds.size == 2 * SparkEntry.queries.size + c.enrolled.size)
    assert(c.builds.values.forall(_ == 1), c.builds.filter(_._2 != 1))
  }

  test("the audit catches a planted hot-key shuffled join") {
    import spark.implicits._
    // two fact-sized frames joined on a 3-value key, broadcast disabled
    // via merge hint — the canonical hot-key shuffle
    def fact(n: Int) = (1 to n).map(i => (i.toLong % 3, i.toLong))
      .toDF("k", "v")
    def hottest(df: DataFrame): Long = {
      val joins = joinsOf(df).collect { case (j, None) => j }
      assert(joins.nonEmpty, "planted join must not broadcast")
      val j = joins.head
      val Some((lk, _)) = equiKeys(j)
      maxKeyRows(j.left, lk)
    }
    val small = hottest(fact(300).hint("merge").join(fact(300), "k"))
    val big = hottest(fact(3000).hint("merge").join(fact(3000), "k"))
    assert(big > 48 && big.toDouble / small >= 4.0,
      s"audit failed to flag planted skew: $small → $big")
  }

  test("the audit catches a planted super-linear window at both steps") {
    import spark.implicits._
    // a row_number over a 3-value key: each partition holds a third of
    // the data, so it grows exactly with it
    def planted(n: Int) = windowsOf((1 to n).map(i => (i.toLong % 3, i.toLong))
      .toDF("k", "v")
      .withColumn("rn", row_number().over(WindowSpec.partitionBy("k").orderBy("v"))))
    val (small, big) = (planted(300), planted(3000))
    Seq(registryStep, docStep).foreach { step =>
      val flags = new Flags(Map.empty)
      screenWindows(step, "planted", small, big, flags)
      assert(flags.violations.size == 1,
        s"audit failed to flag the planted window at ${step.smallDir} → ${step.bigDir}")
    }
  }
}
