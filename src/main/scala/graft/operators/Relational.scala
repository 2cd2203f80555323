package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Core relational operators (SURVEY.md §2 #1–16), each re-expressing a
  * behavior of the reference ETL (julestucher/mcas-question2-etl) as a
  * declarative Spark plan.
  *
  * Scale notes: every operator keeps the fact table (lineitem/orders)
  * on the probe side, prunes columns before shuffling, and aggregates
  * partially map-side (Catalyst does this for hash aggregates when the
  * plan is declarative). Doubles are rounded to 4 decimals at the
  * output boundary only, for oracle parity (SURVEY.md §5).
  */
object Relational {

  private def r4(c: Column): Column = round(c, 4)

  /** #1 Grouped aggregation — SUM/AVG/COUNT with derived expressions.
    * Reference: dashboard/app_data.R town rollup (SUM per county,town)
    * and get_school_analysis_data.sql AVG/SUM aggregates.
    */
  def pricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_returnflag"), col("l_linestatus"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(sum(col("l_quantity"))).as("sum_qty"),
        r4(sum(col("l_extendedprice"))).as("sum_base_price"),
        r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("sum_disc_price"),
        r4(avg(col("l_quantity"))).as("avg_qty"),
        r4(avg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** #2 Flagship analysis join — same plan shape as the reference's
    * dashboard/sql/get_school_analysis_data.sql:1-27: base entity LEFT
    * JOIN lookup, INNER JOIN a grouped subquery of the fact table, then
    * GROUP BY the base with STRING_AGG / AVG / SUM rollups.
    * nation ≈ school_district, customer ≈ district_town_lookup,
    * orders-per-customer ≈ town-level election rollup.
    *
    * Scale: orders (fact) is pre-aggregated to per-customer partials
    * BEFORE the join — the join input is |customers|, not |orders|;
    * nation is broadcast.
    */
  def analysisJoin(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir)
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_mktsegment"), col("c_acctbal"))
    val custOrders = Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice")).as("total_spent"),
        count(lit(1)).as("n_orders"))
    broadcast(nation)
      .join(customer, nation("n_nationkey") === customer("c_nationkey"), "left")
      .join(custOrders, customer("c_custkey") === custOrders("o_custkey"), "inner")
      .groupBy(col("n_nationkey"), col("n_name"))
      .agg(
        array_join(array_sort(collect_set(col("c_mktsegment"))), ", ").as("segments"),
        r4(avg(col("c_acctbal"))).as("avg_acctbal"),
        r4(sum(col("total_spent"))).as("total_spent"),
        sum(col("n_orders")).as("n_orders"))
  }

  /** #3 Pivot long→wide — the reference's MCAS reshape
    * (school_outcomes_etl.py:117-125): per-district rows per subject →
    * one row per district with per-subject columns. Here: per-customer
    * order totals pivoted by order status.
    */
  def pivotWide(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(r4(sum(col("o_totalprice"))))
      .withColumnRenamed("F", "total_f")
      .withColumnRenamed("O", "total_o")
      .withColumnRenamed("P", "total_p")

  /** #4 Unpivot wide→long (melt) — create_school_town_lookup.Rmd's
    * `pivot_longer`. lineitem measure columns → (metric, value) rows.
    */
  def unpivotLong(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_discount"), col("l_tax"))
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")

  /** #5 Split + explode — district_gis_etl.py:46-48 MEMBERLIST split on
    * delimiter then explode to one row per member, with the member's
    * position (town_number analog), 1-based to match SQL ordinality.
    */
  def splitExplode(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos0", "word")))
      .select(col("doc_id"), (col("pos0") + 1).as("pos"), col("word"))

  /** #6 Text cleaning — election_results_etl.py:96-109: title-case,
    * regex expansion of direction abbreviations (N. → North …), and
    * comma-stripped numeric parsing. The dirty strings are constructed
    * deterministically from table data (the testdata has no scraped
    * mess), then cleaned exactly the way the reference cleans towns.
    */
  def textClean(spark: SparkSession, dir: String): DataFrame = {
    val dirty = Tables.part(spark, dir).select(
      col("p_partkey"),
      concat(lit("n. "), lower(col("p_name"))).as("dirty_name"),
      format_number(floor(col("p_retailprice")).cast("bigint"), 0).as("dirty_price"))
    dirty.select(
      col("p_partkey"),
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(initcap(col("dirty_name")), "N\\.", "North"),
            "S\\.", "South"),
          "E\\.", "East"),
        "W\\.", "West").as("clean_name"),
      regexp_replace(col("dirty_price"), ",", "").cast("bigint").as("clean_price"))
  }

  /** #7 Row number within group — create_school_town_lookup.Rmd's
    * `row_number(ORG8CODE)` per town: index of each customer within its
    * nation ordered by key, plus a balance rank.
    *
    * r10: both enumerations are BANDED row_numbers
    * ([[BandedCumsum.rowNumber]]) — nations are a FIXED dimension, so
    * the plain per-nation window put every nation's whole customer set
    * in ONE window task at scale (the q137 failure mode, caught by
    * RegistryScaleAuditSpec's 10×-step measurement). idx bands on the
    * integral key; bal_rank's order (balance DESC, key) is tie-free,
    * where rank() ≡ row_number(), banding on negated exact cents.
    */
  def groupIndex(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    val withIdx = BandedCumsum.rowNumber(cust, Seq("c_nationkey"),
      expr("c_custkey div 65536"), Seq(col("c_custkey")), "idx")
    BandedCumsum.rowNumber(withIdx, Seq("c_nationkey"),
        expr("(-CAST(floor(c_acctbal * 100) AS BIGINT)) div 1024"),
        Seq(col("c_acctbal").desc, col("c_custkey")), "bal_rank")
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        col("idx").cast("int").as("idx"),
        col("bal_rank").cast("int").as("bal_rank"))
  }

  /** #8 Z-score standardization — query_census_data.Rmd's
    * `(med_hh_inc - mean)/sd`. Computed as a 1-row aggregate broadcast
    * back onto the table (a window over the whole table would funnel
    * everything into one partition at scale).
    */
  def zscore(spark: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    // mu/sigma snapped to 6 decimals: parallel vs sequential summation
    // differs in the last ulps, and an unrounded mu/sigma amplifies that
    // into round-boundary flips across EVERY output row (seen at sf0.1)
    val stats = cust.agg(
      round(avg(col("c_acctbal")), 6).as("mu"),
      round(stddev_samp(col("c_acctbal")), 6).as("sigma"))
    cust.join(broadcast(stats))
      .select(col("c_custkey"), col("c_acctbal"),
        // + 0.0 normalizes IEEE -0.0 (engines disagree on the sign of a
        // rounded tiny negative, which breaks stringified compares)
        (r4((col("c_acctbal") - col("mu")) / col("sigma")) + 0.0).as("acctbal_std"))
  }

  /** #9 Ratio analytics — app_data.R:34-38 (prop_yes,
    * prop_pass_mcas_ela: `round(part/total*100, 1)`). Per customer:
    * share of fulfilled orders and share of spend on them.
    */
  def ratioAnalytics(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey"))
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_f"),
        sum(col("o_totalprice")).as("spend_total"),
        sum(when(col("o_orderstatus") === "F", col("o_totalprice"))
          .otherwise(lit(0.0))).as("spend_f"))
      .select(
        col("o_custkey"), col("n_total"), col("n_f"),
        round(col("n_f") * 100.0 / col("n_total"), 1).as("prop_f"),
        round(col("spend_f") * 100.0 / col("spend_total"), 1).as("prop_spend_f"))

  /** #10 Coalesce fill — district_gis_etl.py:51 (missing town ←
    * district name). A deterministic null is introduced (mktsegment
    * 'BUILDING' → null, like districts with no member list) and filled
    * from the joined nation name.
    */
  def coalesceFill(spark: SparkSession, dir: String): DataFrame = {
    val nation = Tables.nation(spark, dir).select(col("n_nationkey"), col("n_name"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"),
        nullif(col("c_mktsegment"), lit("BUILDING")).as("segment_or_null"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"),
        coalesce(col("segment_or_null"), col("n_name")).as("segment_filled"))
  }

  /** #11 Duplicate-key detection — the 1:1 merge validation of
    * school_outcomes_etl.py (`validate='1:1'`) and app_data.R's
    * uniqueness assert, as a reusable profile: per key-column value
    * multiplicity, returning keys that would break a 1:1 merge.
    * Duplicates are planted by keying on a low-cardinality column.
    */
  def dupCheck(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(col("o_custkey"))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_rows"))
      .filter(col("n_rows") > 1)

  /** #12 Validity filter — district_gis_etl.py:70 (`is_valid`
    * geometry filter): declarative predicate rejecting malformed rows;
    * here events outside the valid envelope (null/negative/oversized
    * value or unknown type), returning the clean subset.
    */
  def validityFilter(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("value").isNotNull && col("value") >= 0.0 &&
        col("value") <= 400.0 &&
        col("event_type").isin("click", "view", "purchase", "signup", "error"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        r4(col("value")).as("value"))

  /** #13 Top-k per group — dashboard arrange/top patterns: top 3
    * customers by account balance per nation (deterministic tiebreak
    * on custkey).
    */
  def topkGroup(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
  }

  /** #14 Star join — the schema's election×lookup×district×shapes star
    * as a TPC-H-Q5-shaped plan: revenue per nation within one region
    * and date band. region+nation broadcast; orders↔lineitem shuffled
    * hash join on orderkey with AQE.
    */
  def starJoin(spark: SparkSession, dir: String): DataFrame = {
    val region = Tables.region(spark, dir).filter(col("r_name") === "AMERICA")
    val nation = Tables.nation(spark, dir)
    val customer = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_nationkey"))
    val orders = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select(col("o_orderkey"), col("o_custkey"))
    val lineitem = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(r4(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))

  }

  /** #15 Semi/anti join — create_school_town_lookup.Rmd's "towns
    * missing outcomes": customers with no order above a price
    * threshold (left anti), a guaranteed-nonempty analog of rows
    * missing from a merge.
    */
  def antiSemi(spark: SparkSession, dir: String): DataFrame = {
    val bigOrders = Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 400000.0)
      .select(col("o_custkey"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
      .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_anti")
  }

  /** #16 Percentile summary — run_analysis.Rmd's `summary()`:
    * five-number summary + mean of account balance per market segment.
    * Exact interpolated percentiles (matches R/DuckDB quantile_cont).
    */
  def percentiles(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        r4(min(col("c_acctbal"))).as("bal_min"),
        r4(percentile(col("c_acctbal"), lit(0.25))).as("bal_q1"),
        r4(percentile(col("c_acctbal"), lit(0.5))).as("bal_median"),
        r4(percentile(col("c_acctbal"), lit(0.75))).as("bal_q3"),
        r4(max(col("c_acctbal"))).as("bal_max"),
        r4(avg(col("c_acctbal"))).as("bal_mean"))

  /** #31 Data profile — the generalization of the reference's assorted
    * validation asserts (1:1 checks, NA drops, row-count sanity): one
    * row per column with null and distinct counts. A single aggregate
    * pass computes every column's stats (map-side combined), then a
    * stack pivots to the long shape — profiling a 100 TB table costs
    * one scan. */
  def profile(spark: SparkSession, dir: String): DataFrame = {
    val df = Tables.customer(spark, dir)
    val cols = df.columns.toSeq
    val aggs = cols.flatMap { c =>
      Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"n_$c"),
        count_distinct(col(c)).as(s"d_$c"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val stackExpr = cols.map(c => s"'$c', n_$c, d_$c").mkString(", ")
    wide.select(expr(
      s"stack(${cols.size}, $stackExpr) AS (column_name, n_nulls, n_distinct)"))
  }

  val profileSql: String = {
    val cols = Seq("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val aggs = cols.flatMap(c => Seq(
      s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_$c",
      s"count(DISTINCT $c) AS d_$c")).mkString(",\n  ")
    val unions = cols.map(c =>
      s"SELECT '$c' AS column_name, n_$c AS n_nulls, d_$c AS n_distinct FROM wide")
      .mkString("\nUNION ALL\n")
    s"""WITH wide AS (SELECT
       |  $aggs
       |FROM customer)
       |$unions""".stripMargin
  }

  /** `separate`-style split-to-N-columns — the reference's
    * `separate(..., into = paste0("town_", 1:n), fill = "right")`
    * (create_school_town_lookup.Rmd:36-40): split a string column on a
    * delimiter into a FIXED number of columns, null-filling on the
    * right when a row has fewer pieces. Pure projection (one `split`,
    * `try_element_at` per output column — out-of-range reads are null
    * by definition, not an ANSI error); no shuffle. */
  def separate(df: DataFrame, column: String, delim: String, n: Int,
      into: Int => String = i => s"part_$i"): DataFrame = {
    val names = (1 to n).map(into)
    // select, not withColumns(Map): a Map would hash-scramble column
    // order for n >= 5, and positional consumers read the wrong piece
    require(names.distinct.size == n && names.forall(!df.columns.contains(_)),
      s"separate target names collide: ${names.mkString(", ")}")
    val parts = split(col(column), java.util.regex.Pattern.quote(delim))
    df.select(df.columns.map(col).toIndexedSeq ++
      (1 to n).map(i => try_element_at(parts, lit(i)).as(into(i))): _*)
  }

  /** #34 q34: [[separate]] driven over the documents table — first
    * three whitespace pieces of each text, right-null-filled. */
  def separateCols(spark: SparkSession, dir: String): DataFrame =
    separate(Tables.documents(spark, dir).select(col("doc_id"), col("text")),
      "text", " ", 3, i => s"word_$i")
      .select(col("doc_id"), col("word_1"), col("word_2"), col("word_3"))

  val separateColsSql: String =
    """SELECT doc_id,
      |  string_split(text, ' ')[1] AS word_1,
      |  string_split(text, ' ')[2] AS word_2,
      |  string_split(text, ' ')[3] AS word_3
      |FROM documents""".stripMargin

  /** Columns-by-prefix transform — the reference's
    * `across(starts_with("pct_"), ~.x*100)` (app_data.R): apply a Column
    * function to every column whose name matches the prefix, in place.
    * One projection; no shuffle. */
  def transformPrefixed(df: DataFrame, prefix: String)(f: Column => Column): DataFrame = {
    val mapped = df.columns.filter(_.startsWith(prefix)).map(c => c -> f(col(c))).toMap
    if (mapped.isEmpty) df else df.withColumns(mapped)
  }

  /** Scale path for #16: exact `percentile` buffers every value per
    * group, which a 100 TB fact table cannot afford; `approx_percentile`
    * keeps a bounded KLL-style sketch per group that merges map-side.
    * Not oracle-hashed (sketch results are engine-specific by nature) —
    * accuracy vs the exact operator is asserted in RelationalSpec. */
  def percentilesApprox(spark: SparkSession, dir: String,
      accuracy: Int = 10000): DataFrame =
    Tables.customer(spark, dir)
      .groupBy(col("c_mktsegment"))
      .agg(
        r4(min(col("c_acctbal"))).as("bal_min"),
        r4(approx_percentile(col("c_acctbal"), lit(0.25), lit(accuracy))).as("bal_q1"),
        r4(approx_percentile(col("c_acctbal"), lit(0.5), lit(accuracy))).as("bal_median"),
        r4(approx_percentile(col("c_acctbal"), lit(0.75), lit(accuracy))).as("bal_q3"),
        r4(max(col("c_acctbal"))).as("bal_max"),
        r4(avg(col("c_acctbal"))).as("bal_mean"))

  /** #44 (q43) Rollup with grouping id: subtotal lattice over
    * (status, priority) — detail rows, per-status subtotals, and the
    * grand total in ONE aggregation pass (Spark plans a single Expand +
    * hash aggregate, map-side combined; no union of three groupBys, no
    * extra scans). `grouping_id` disambiguates real NULL keys from
    * rollup-generated ones. */
  def rollupStats(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_orders"),
        r4(sum(col("o_totalprice"))).as("total_price"),
        r4(avg(col("o_totalprice"))).as("avg_price"))

  val rollupStatsSql: String =
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n_orders,
      |  round(sum(o_totalprice), 4) + 0.0 AS total_price,
      |  round(avg(o_totalprice), 4) + 0.0 AS avg_price
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin

  /** q78: CUBE completes the grouping-set lattice q43's rollup started —
    * ALL 2^k dim subsets (detail, each one-dim margin, grand total) in
    * ONE Expand + map-side-combined hash aggregate; the OLAP cross-tab
    * with margins the reference's dashboard derives by re-querying per
    * dimension. Same grouping_id bit-order contract as q43 (verified
    * identical to DuckDB `GROUPING`). */
  def cubeStats(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().as("gid"),
        count(lit(1)).as("n_items"),
        r4(sum(col("l_quantity"))).as("sum_qty"),
        r4(avg(col("l_extendedprice"))).as("avg_price"))

  val cubeStatsSql: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
      |  count(*) AS n_items,
      |  round(sum(l_quantity), 4) + 0.0 AS sum_qty,
      |  round(avg(l_extendedprice), 4) + 0.0 AS avg_price
      |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin
}
