package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.VectorMath

/** Geometry-lite operator set (SURVEY.md §2 #36) — the reference's GIS
  * branch re-expressed as pure Catalyst expressions over WKT text:
  * geometry validity filtering (dags/district_gis_etl.py:70 `is_valid`),
  * `ST_AsText`-style WKT round-trip (dashboard/app_data.R:24-28), and
  * the shapes↔analysis spatial join. Real CRS re-projection needs a
  * geodesy library (Sedona); bbox/centroid/containment over WKT covers
  * the reference's analytical uses without one, and everything stays
  * inside whole-stage codegen (regexp + array ops, no UDFs).
  *
  * Scale design: the spatial join is GRID-BUCKETED — polygons explode to
  * the few grid cells their bbox covers, points hash to exactly one
  * cell, and the join is an equi-join on the cell key followed by the
  * exact bbox test. Shuffle is O(polys·cells + points), never the
  * all-pairs theta join a naive BETWEEN join degenerates to (Spark
  * plans that as BroadcastNestedLoop — a 100 TB non-starter). A point
  * matches each polygon in exactly one cell (its own), so the join
  * needs no distinct.
  *
  * Parsing preconditions: the `ring*`/`bbox`/`centroid` extractors
  * require structurally numeric WKT — gate untrusted input through
  * [[isValidPolygon]] (whose regex guard guarantees castability) first.
  */
object Geo {

  // ---- WKT builders ----

  def wktPoint(x: Column, y: Column): Column =
    concat(lit("POINT ("), x.cast("string"), lit(" "), y.cast("string"), lit(")"))

  /** Closed axis-aligned rectangle ring (the canonical 5-vertex box). */
  def wktBox(x1: Column, y1: Column, x2: Column, y2: Column): Column = {
    def v(a: Column, b: Column) = concat(a.cast("string"), lit(" "), b.cast("string"))
    concat(lit("POLYGON (("),
      v(x1, y1), lit(", "), v(x2, y1), lit(", "), v(x2, y2), lit(", "),
      v(x1, y2), lit(", "), v(x1, y1), lit("))"))
  }

  // ---- WKT parsers (codegen'd regexp/array expressions) ----

  // Anchored like ValidPolygonRe: garbage around a valid POINT must
  // yield null, not a successful parse (rlike and regexp_extract share
  // the one constant so the gate and the extract cannot drift).
  private val PointRe = "^POINT \\(([-0-9.]+) ([-0-9.]+)\\)$"
  private val PolygonRe = "POLYGON \\(\\((.*)\\)\\)"
  /** Structure guard: POLYGON ((x y, x y, ...)) with castable numbers. */
  private val ValidPolygonRe =
    "^POLYGON \\(\\(-?[0-9]+(\\.[0-9]+)? -?[0-9]+(\\.[0-9]+)?(, -?[0-9]+(\\.[0-9]+)? -?[0-9]+(\\.[0-9]+)?)*\\)\\)$"

  /** POINT parsers are null on malformed input (an unguarded
    * `CAST('' AS DOUBLE)` would ABORT the job under Spark 4's default
    * ANSI mode the moment one bad row appears; the rlike gate makes the
    * cast branch unreachable for non-matching strings). */
  def pointX(wkt: Column): Column =
    when(wkt.rlike(PointRe), regexp_extract(wkt, PointRe, 1).cast("double"))
  def pointY(wkt: Column): Column =
    when(wkt.rlike(PointRe), regexp_extract(wkt, PointRe, 2).cast("double"))

  private def ringCoord(wkt: Column, idx: Int): Column =
    transform(split(regexp_extract(wkt, PolygonRe, 1), ", "),
      p => element_at(split(p, " "), idx).cast("double"))

  /** Ring vertex x / y coordinate arrays (closing vertex included). */
  def ringX(wkt: Column): Column = ringCoord(wkt, 1)
  def ringY(wkt: Column): Column = ringCoord(wkt, 2)

  /** Axis-aligned bounding box as struct(xmin, ymin, xmax, ymax). */
  def bbox(wkt: Column): Column = {
    val (xs, ys) = (ringX(wkt), ringY(wkt))
    struct(array_min(xs).as("xmin"), array_min(ys).as("ymin"),
      array_max(xs).as("xmax"), array_max(ys).as("ymax"))
  }

  /** Ring-vertex centroid (closing vertex dropped; exact for
    * rectangles, the standard cheap centroid elsewhere). */
  def centroid(wkt: Column): Column = {
    val (xs, ys) = (ringX(wkt), ringY(wkt))
    val n = (size(xs) - 1).cast("double")
    struct(
      (VectorMath.vsum(slice(xs, lit(1), size(xs) - 1)) / n).as("cx"),
      (VectorMath.vsum(slice(ys, lit(1), size(ys) - 1)) / n).as("cy"))
  }

  /** Validity predicate (district_gis_etl.py:70): structurally numeric
    * WKT, ≥ 4 vertices, closed ring, non-degenerate extent. Safe on
    * arbitrary strings — the structural regex gates the numeric casts. */
  def isValidPolygon(wkt: Column): Column =
    when(wkt.rlike(ValidPolygonRe), {
      val (xs, ys) = (ringX(wkt), ringY(wkt))
      size(xs) >= 4 &&
        element_at(xs, 1) === element_at(xs, -1) &&
        element_at(ys, 1) === element_at(ys, -1) &&
        array_min(xs) < array_max(xs) && array_min(ys) < array_max(ys)
    }).otherwise(lit(false))

  // ---- spatial join ----

  /** Default grid cell edge for the testdata's ~13-unit districts. */
  val CellSize = 16

  /** Scale-path spatial join: `points(px, py, …)` × `polys(xmin, ymin,
    * xmax, ymax, …)` on grid-cell equi-keys + exact bbox test. Each
    * polygon explodes to its bbox's covering cells; each point lives in
    * exactly one cell, so matches are already unique. `cell` is the
    * central tuning knob: size it to the typical polygon extent so
    * bboxes cover O(1) cells (too small → polygon explode blowup, too
    * large → every point in few cells → skew). Any value is CORRECT —
    * cells only key the shuffle. */
  def gridJoin(points: DataFrame, polys: DataFrame,
      cell: Double = CellSize.toDouble): DataFrame = {
    val cells = polys
      .withColumn("cellx",
        explode(sequence(floor(col("xmin") / cell), floor(col("xmax") / cell))))
      .withColumn("celly",
        explode(sequence(floor(col("ymin") / cell), floor(col("ymax") / cell))))
    val keyed = points
      .withColumn("cellx", floor(col("px") / cell))
      .withColumn("celly", floor(col("py") / cell))
    keyed.join(cells, Seq("cellx", "celly"))
      .filter(col("px") >= col("xmin") && col("px") <= col("xmax")
        && col("py") >= col("ymin") && col("py") <= col("ymax"))
      .drop("cellx", "celly")
  }

  /** Naive BETWEEN theta join — the parity oracle for [[gridJoin]]
    * (Spark plans it as a nested-loop; small inputs only). */
  private[graft] def naiveJoin(points: DataFrame, polys: DataFrame): DataFrame =
    points.join(polys,
      col("px") >= col("xmin") && col("px") <= col("xmax")
        && col("py") >= col("ymin") && col("py") <= col("ymax"))

  // ---- multipolygon WKT + exact point-in-polygon (ray cast) ----

  /** Innermost paren groups of a (MULTI)POLYGON WKT — one string per
    * ring, outer rings and holes alike. Works for POLYGON, POLYGON with
    * holes, and MULTIPOLYGON (the shapes the reference's shapefiles
    * actually contain, district_gis_etl.py:42). */
  def ringStrings(wkt: Column): Column =
    regexp_extract_all(wkt, lit("\\(([^()]+)\\)"), lit(1))

  /** Rings parsed to array<struct<xs,ys>>. Materialize this ONCE per
    * geometry — before any join — so the per-candidate ray cast reads
    * ready arrays instead of re-parsing WKT per (point, polygon) pair. */
  def parsedRings(wkt: Column): Column =
    transform(ringStrings(wkt), r => struct(
      transform(split(r, ", "), p => element_at(split(p, " "), 1).cast("double")).as("xs"),
      transform(split(r, ", "), p => element_at(split(p, " "), 2).cast("double")).as("ys")))

  /** Bbox over every ring of a [[parsedRings]] array (multipart-aware). */
  def ringsBbox(rings: Column): Column = {
    val xs = flatten(transform(rings, r => r.getField("xs")))
    val ys = flatten(transform(rings, r => r.getField("ys")))
    struct(array_min(xs).as("xmin"), array_min(ys).as("ymin"),
      array_max(xs).as("xmax"), array_max(ys).as("ymax"))
  }

  /** Exact even-odd ray cast over a [[parsedRings]] array: a horizontal
    * ray from (px,py) crossing the union of all rings an odd number of
    * times means inside — which handles holes and disjoint multiparts by
    * the even-odd fill rule with no per-ring classification. The edge
    * test is DIVISION-FREE (cross-product sign instead of slope), so
    * with integer vertex coordinates every comparison is exact and the
    * DuckDB twin cannot disagree by an ulp. Boundary semantics: points
    * exactly on an edge follow the standard half-open convention. */
  def pointInRings(rings: Column, px: Column, py: Column): Column = {
    val total = aggregate(rings, lit(0), (acc, r) => {
      val xs = r.getField("xs")
      val ys = r.getField("ys")
      acc + when(size(xs) >= 2,
        size(filter(sequence(lit(1), size(xs) - 1), i => {
          val x1 = element_at(xs, i); val y1 = element_at(ys, i)
          val x2 = element_at(xs, i + 1); val y2 = element_at(ys, i + 1)
          ((y1 > py) =!= (y2 > py)) &&
            (((x2 - x1) * (py - y1) - (px - x1) * (y2 - y1) > 0) === (y2 > y1))
        }))).otherwise(lit(0))
    })
    total % 2 === 1
  }

  // ---- q33: shapes ↔ analysis spatial join on the testdata schema ----

  /** Districts derived deterministically from `nation`: a 5×5 grid of
    * overlapping 13×13 boxes (integer coordinates so WKT strings are
    * engine-identical), with nation 13's ring left unclosed to exercise
    * the validity filter exactly like the reference's invalid-geometry
    * drop. Points derive from `customer`. The whole pipeline round-trips
    * through WKT text — build, parse, validate, join — mirroring the
    * reference's ST_AsText hand-off (app_data.R:24-28). */
  def spatialJoin(spark: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.nation(spark, dir).select(
      col("n_nationkey").cast("int").as("district_id"),
      ((col("n_nationkey") % 5) * 10).cast("int").as("x1"),
      expr("CAST((n_nationkey - (n_nationkey % 5)) / 5 AS INT) * 10").as("y1"))
      .withColumn("x2", col("x1") + 12)
      .withColumn("y2", col("y1") + 12)
    val districts = d0.select(col("district_id"),
      when(col("district_id") === 13, {
        // unclosed ring: structurally parseable, semantically invalid
        def s(c: String) = col(c).cast("string")
        concat(lit("POLYGON (("),
          s("x1"), lit(" "), s("y1"), lit(", "), s("x2"), lit(" "), s("y1"),
          lit(", "), s("x2"), lit(" "), s("y2"), lit(", "), s("x1"), lit(" "),
          s("y2"), lit("))"))
      })
        .otherwise(wktBox(col("x1"), col("y1"), col("x2"), col("y2"))).as("wkt"))
    val polys = districts
      .filter(isValidPolygon(col("wkt")))
      .withColumn("bb", bbox(col("wkt")))
      .withColumn("c", centroid(col("wkt")))
      .select(col("district_id"),
        col("bb.xmin"), col("bb.ymin"), col("bb.xmax"), col("bb.ymax"),
        col("c.cx"), col("c.cy"))
    val points = Tables.customer(spark, dir)
      .select(wktPoint(((col("c_custkey") * 7) % 50).cast("int"),
        ((col("c_custkey") * 13) % 50).cast("int")).as("wkt"))
      .select(pointX(col("wkt")).as("px"), pointY(col("wkt")).as("py"))
    gridJoin(points, polys)
      .groupBy(col("district_id"), col("cx"), col("cy"))
      .agg(count(lit(1)).as("n_points"))
      .select(col("district_id"), col("n_points"),
        (round(col("cx"), 4) + 0.0).as("centroid_x"),
        (round(col("cy"), 4) + 0.0).as("centroid_y"))
  }

  /** DuckDB twin: same WKT build/parse/validate/join, naive BETWEEN
    * join (result-identical to the grid join). */
  val spatialJoinSql: String =
    """WITH d0 AS (
      |  SELECT CAST(n_nationkey AS INT) AS district_id,
      |    CAST((n_nationkey % 5) * 10 AS INT) AS x1,
      |    CAST((n_nationkey - (n_nationkey % 5)) / 5 AS INT) * 10 AS y1
      |  FROM nation),
      |d1 AS (SELECT district_id, x1, y1, x1 + 12 AS x2, y1 + 12 AS y2 FROM d0),
      |districts AS (
      |  SELECT district_id,
      |    CASE WHEN district_id = 13 THEN
      |      'POLYGON ((' || x1 || ' ' || y1 || ', ' || x2 || ' ' || y1 || ', ' ||
      |      x2 || ' ' || y2 || ', ' || x1 || ' ' || y2 || '))'
      |    ELSE
      |      'POLYGON ((' || x1 || ' ' || y1 || ', ' || x2 || ' ' || y1 || ', ' ||
      |      x2 || ' ' || y2 || ', ' || x1 || ' ' || y2 || ', ' || x1 || ' ' || y1 || '))'
      |    END AS wkt
      |  FROM d1),
      |parsed AS (
      |  SELECT district_id, wkt,
      |    list_transform(string_split(regexp_extract(wkt, 'POLYGON \(\((.*)\)\)', 1), ', '),
      |      p -> CAST(string_split(p, ' ')[1] AS DOUBLE)) AS xs,
      |    list_transform(string_split(regexp_extract(wkt, 'POLYGON \(\((.*)\)\)', 1), ', '),
      |      p -> CAST(string_split(p, ' ')[2] AS DOUBLE)) AS ys
      |  FROM districts),
      |valid AS (
      |  SELECT district_id,
      |    list_min(xs) AS xmin, list_min(ys) AS ymin,
      |    list_max(xs) AS xmax, list_max(ys) AS ymax,
      |    list_reduce(xs[1:len(xs) - 1], (a, b) -> a + b) / CAST(len(xs) - 1 AS DOUBLE) AS cx,
      |    list_reduce(ys[1:len(ys) - 1], (a, b) -> a + b) / CAST(len(ys) - 1 AS DOUBLE) AS cy
      |  FROM parsed
      |  WHERE len(xs) >= 4 AND xs[1] = xs[len(xs)] AND ys[1] = ys[len(ys)]
      |    AND list_min(xs) < list_max(xs) AND list_min(ys) < list_max(ys)),
      |pts AS (
      |  SELECT 'POINT (' || CAST((c_custkey * 7) % 50 AS INT) || ' ' ||
      |    CAST((c_custkey * 13) % 50 AS INT) || ')' AS wkt
      |  FROM customer),
      |ppt AS (
      |  SELECT CAST(regexp_extract(wkt, 'POINT \(([-0-9.]+) ([-0-9.]+)\)', 1) AS DOUBLE) AS px,
      |    CAST(regexp_extract(wkt, 'POINT \(([-0-9.]+) ([-0-9.]+)\)', 2) AS DOUBLE) AS py
      |  FROM pts)
      |SELECT v.district_id, CAST(count(*) AS BIGINT) AS n_points,
      |  round(v.cx, 4) + 0.0 AS centroid_x, round(v.cy, 4) + 0.0 AS centroid_y
      |FROM valid v JOIN ppt p
      |  ON p.px >= v.xmin AND p.px <= v.xmax AND p.py >= v.ymin AND p.py <= v.ymax
      |GROUP BY v.district_id, v.cx, v.cy""".stripMargin

  // ---- q55: exact point-in-polygon join over non-rectangular shapes ----

  /** Shape catalog for q55, as ring vertex offsets from the district
    * anchor (x1,y1) — every shape is misclassified by a bbox-only test:
    * a right triangle (bbox's other half is outside), an L-shape, two
    * disjoint squares (bbox covers the gap), and a square with a hole.
    * The one catalog feeds BOTH the Spark WKT builder and the oracle
    * SQL builder, so the geometries cannot drift. */
  private val ShapeRings: Seq[Seq[Seq[(Int, Int)]]] = Seq(
    Seq(Seq((0, 0), (12, 0), (0, 12), (0, 0))),
    Seq(Seq((0, 0), (12, 0), (12, 6), (6, 6), (6, 12), (0, 12), (0, 0))),
    Seq(Seq((0, 0), (5, 0), (5, 5), (0, 5), (0, 0)),
      Seq((8, 8), (12, 8), (12, 12), (8, 12), (8, 8))),
    Seq(Seq((0, 0), (12, 0), (12, 12), (0, 12), (0, 0)),
      Seq((4, 4), (8, 4), (8, 8), (4, 8), (4, 4))))

  private def shapeWktCol(k: Int): Column = {
    def ringC(ring: Seq[(Int, Int)]): Column =
      concat_ws(", ", ring.map { case (dx, dy) =>
        concat((col("x1") + dx).cast("string"), lit(" "), (col("y1") + dy).cast("string"))
      }: _*)
    val rs = ShapeRings(k)
    k match {
      case 2 => concat(lit("MULTIPOLYGON ((("), ringC(rs(0)), lit(")), (("),
        ringC(rs(1)), lit(")))"))
      case 3 => concat(lit("POLYGON (("), ringC(rs(0)), lit("), ("),
        ringC(rs(1)), lit("))"))
      case _ => concat(lit("POLYGON (("), ringC(rs(0)), lit("))"))
    }
  }

  private def shapeWktSql(k: Int): String = {
    def ringS(ring: Seq[(Int, Int)]): String =
      ring.map { case (dx, dy) => s"(x1 + $dx) || ' ' || (y1 + $dy)" }
        .mkString(" || ', ' || ")
    val rs = ShapeRings(k)
    k match {
      case 2 => s"'MULTIPOLYGON (((' || ${ringS(rs(0))} || ')), ((' || ${ringS(rs(1))} || ')))'"
      case 3 => s"'POLYGON ((' || ${ringS(rs(0))} || '), (' || ${ringS(rs(1))} || '))'"
      case _ => s"'POLYGON ((' || ${ringS(rs(0))} || '))'"
    }
  }

  /** q55: grid-bucketed spatial join with the EXACT ray-cast test —
    * the upgrade of q33's point-in-bbox to true point-in-polygon over
    * triangles, L-shapes, disjoint multiparts, and a holed polygon
    * (reference behavior: district_gis_etl.py:62-70 joins points into
    * real multipolygon district shapes). Output keeps the bbox
    * candidate count next to the exact count, so the query itself
    * proves bbox ≠ exact on these shapes. Plan: same O(polys·cells +
    * points) grid equi-join as q33 — rings are parsed ONCE on the
    * polygon side before the join; the per-candidate work is the
    * ray cast over materialized arrays. */
  def pointInPolygon(spark: SparkSession, dir: String): DataFrame = {
    val d0 = Tables.nation(spark, dir).select(
      col("n_nationkey").cast("int").as("district_id"),
      ((col("n_nationkey") % 5) * 10).cast("int").as("x1"),
      expr("CAST((n_nationkey - (n_nationkey % 5)) / 5 AS INT) * 10").as("y1"))
    val districts = d0.select(col("district_id"),
      (0 until 4).foldRight(lit(null).cast("string")) { (k, elseC) =>
        when(col("district_id") % 4 === k, shapeWktCol(k)).otherwise(elseC)
      }.as("wkt"))
    val polys = districts
      .withColumn("rings", parsedRings(col("wkt")))
      .withColumn("bb", ringsBbox(col("rings")))
      .select(col("district_id"), col("rings"),
        col("bb.xmin"), col("bb.ymin"), col("bb.xmax"), col("bb.ymax"))
    val points = Tables.customer(spark, dir)
      .select(((col("c_custkey") * 7) % 50).cast("double").as("px"),
        ((col("c_custkey") * 13) % 50).cast("double").as("py"))
    gridJoin(points, polys)
      .withColumn("inside", pointInRings(col("rings"), col("px"), col("py")).cast("int"))
      .groupBy(col("district_id"))
      .agg(count(lit(1)).as("n_bbox_candidates"), sum(col("inside")).as("n_points"))
  }

  /** DuckDB twin: identical WKT construction (same catalog), naive
    * bbox join, same division-free even-odd ray cast as nested list
    * lambdas — integer vertices keep every comparison exact on both
    * engines. */
  val pointInPolygonSql: String = {
    val cases = (0 until 4)
      .map(k => s"WHEN $k THEN ${shapeWktSql(k)}").mkString("\n    ")
    s"""WITH d0 AS (
       |  SELECT CAST(n_nationkey AS INT) AS district_id,
       |    CAST((n_nationkey % 5) * 10 AS INT) AS x1,
       |    CAST((n_nationkey - (n_nationkey % 5)) / 5 AS INT) * 10 AS y1
       |  FROM nation),
       |districts AS (
       |  SELECT district_id,
       |    CASE district_id % 4
       |    $cases
       |    END AS wkt
       |  FROM d0),
       |parsed AS (
       |  SELECT district_id,
       |    list_transform(regexp_extract_all(wkt, '\\(([^()]+)\\)', 1), r -> struct_pack(
       |      xs := list_transform(string_split(r, ', '), p -> CAST(string_split(p, ' ')[1] AS DOUBLE)),
       |      ys := list_transform(string_split(r, ', '), p -> CAST(string_split(p, ' ')[2] AS DOUBLE)))) AS rr
       |  FROM districts),
       |bb AS (
       |  SELECT district_id, rr,
       |    list_min(flatten(list_transform(rr, r -> r.xs))) AS xmin,
       |    list_min(flatten(list_transform(rr, r -> r.ys))) AS ymin,
       |    list_max(flatten(list_transform(rr, r -> r.xs))) AS xmax,
       |    list_max(flatten(list_transform(rr, r -> r.ys))) AS ymax
       |  FROM parsed),
       |pts AS (
       |  SELECT CAST((c_custkey * 7) % 50 AS DOUBLE) AS px,
       |    CAST((c_custkey * 13) % 50 AS DOUBLE) AS py
       |  FROM customer),
       |cand AS (
       |  SELECT district_id, rr, px, py FROM bb JOIN pts
       |    ON px >= xmin AND px <= xmax AND py >= ymin AND py <= ymax)
       |SELECT district_id, count(*) AS n_bbox_candidates,
       |  CAST(sum(CAST((list_sum(list_transform(rr, r -> len(list_filter(range(1, len(r.xs)), i ->
       |    ((r.ys[i] > py) <> (r.ys[i+1] > py)) AND
       |    (((r.xs[i+1]-r.xs[i])*(py-r.ys[i]) - (px-r.xs[i])*(r.ys[i+1]-r.ys[i]) > 0) = (r.ys[i+1] > r.ys[i])))))) % 2 = 1) AS INT)) AS BIGINT) AS n_points
       |FROM cand GROUP BY district_id""".stripMargin
  }
}
