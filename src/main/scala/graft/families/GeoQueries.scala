package graft
package families

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import Shared._

/** The geo_ queries over synthetic micro-degree coordinates.
  * Each entry holds a query's DuckDB oracle SQL and its builder.
  */
object GeoQueries {

  val entries: Seq[(String, Query)] = Seq(
    // geo_*: coordinates, quantization, bit interleave and haversine all
    // come from the same Scala-generated literals as the engine side
    "geo_geohash" -> Query(
      s"""WITH c AS (SELECT c_custkey, CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c, ${geoLatSql("c_custkey", custLatMul)} AS lat_micro, ${geoLonSql("c_custkey", custLonMul)} AS lon_micro FROM customer), q AS (SELECT bal_c, (lat_micro + 90000000) * 32768 // 180000000 AS lat_q, (lon_micro + 180000000) * 32768 // 360000000 AS lon_q FROM c), iv AS (SELECT bal_c, ${geoInterleaveSql("//")} AS v FROM q), g AS (SELECT bal_c, ${geohashCharsSql("v", "//", 4)} AS cell FROM iv) SELECT cell, CAST(count(*) AS BIGINT) AS n_customers, CAST(sum(bal_c) AS BIGINT) AS sum_bal_c FROM g GROUP BY 1""")((s, dir) => {
      // geohash spatial rollup: synthetic micro-degree coordinates
      // (Knuth multiplicative hash of the key — pure integer, both
      // engines replay it), quantized to 15+15 bits, bit-interleaved by
      // 30 literal-unrolled div/mod terms (one codegen projection, no
      // shuffle before the cell agg), base32-encoded to a precision-4
      // cell. The canonical "index points into prefix-joinable cells"
      // primitive — prefix truncation gives coarser zoom for free.
      T(s, dir, "customer")
        .select(col("c_custkey"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal_c"),
          expr(geoLatSql("c_custkey", custLatMul)).as("lat_micro"),
          expr(geoLonSql("c_custkey", custLonMul)).as("lon_micro"))
        .withColumn("lat_q", expr("(lat_micro + 90000000) * 32768 div 180000000"))
        .withColumn("lon_q", expr("(lon_micro + 180000000) * 32768 div 360000000"))
        .withColumn("v", expr(geoInterleaveSql("div")))
        .withColumn("cell", expr(geohashCharsSql("v", "div", 4)))
        .groupBy("cell")
        .agg(count(lit(1)).as("n_customers"), sum("bal_c").as("sum_bal_c"))
    }),

    "geo_knn" -> Query(
      s"""WITH c AS (SELECT c_custkey, ${geoLatSql("c_custkey", custLatMul)} AS clat, ${geoLonSql("c_custkey", custLonMul)} AS clon FROM customer WHERE c_custkey <= 20), sp AS (SELECT s_suppkey, ${geoLatSql("s_suppkey", suppLatMul)} AS slat, ${geoLonSql("s_suppkey", suppLonMul)} AS slon FROM supplier), d AS (SELECT c_custkey, s_suppkey, $haversineSql AS dist_m FROM c, sp), r AS (SELECT c_custkey, s_suppkey, dist_m, CAST(row_number() OVER (PARTITION BY c_custkey ORDER BY dist_m, s_suppkey) AS BIGINT) AS rk FROM d) SELECT c_custkey, s_suppkey, dist_m, rk FROM r WHERE rk <= 5""")((s, dir) => {
      // haversine k-nearest suppliers for a bounded probe set: 20 probe
      // customers broadcast against the supplier table (BroadcastNested-
      // Loop — linear in suppliers, the brute tier exactly like
      // sim_topk), distances rounded ONCE to integer meters, top-5 via
      // a probe-partitioned rank. The 100 TB path replaces the probe
      // broadcast with geo_geohash cell pruning (probe cell + ring
      // neighbors) — same scorer, bucketed candidates.
      import org.apache.spark.sql.expressions.Window
      val cust = T(s, dir, "customer").filter(col("c_custkey") <= 20L)
        .select(col("c_custkey"),
          expr(geoLatSql("c_custkey", custLatMul)).as("clat"),
          expr(geoLonSql("c_custkey", custLonMul)).as("clon"))
      val supp = T(s, dir, "supplier")
        .select(col("s_suppkey"),
          expr(geoLatSql("s_suppkey", suppLatMul)).as("slat"),
          expr(geoLonSql("s_suppkey", suppLonMul)).as("slon"))
      supp.crossJoin(broadcast(cust))
        .withColumn("dist_m", expr(haversineSql))
        .withColumn("rk", row_number().over(Window.partitionBy("c_custkey")
          .orderBy(col("dist_m"), col("s_suppkey"))).cast("long"))
        .filter(col("rk") <= 5L)
        .select(col("c_custkey"), col("s_suppkey"), col("dist_m"), col("rk"))
    }),

    "geo_cluster" -> Query(
      s"""WITH RECURSIVE pts AS (SELECT ${geoLatSql("c_custkey", custLatMul)} AS lat_micro, ${geoLonSql("c_custkey", custLonMul)} AS lon_micro FROM customer), cells AS (SELECT (lat_micro + 90000000) // 10000000 AS cy, (lon_micro + 180000000) // 10000000 AS cx, CAST(count(*) AS BIGINT) AS n FROM pts GROUP BY 1, 2), core AS (SELECT cy, cx, n, cy * 100 + cx AS cell FROM cells WHERE n >= 3), offs(dy, dx) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,1),(1,-1),(1,0),(1,1)), e AS (SELECT a.cell AS src, b.cell AS dst FROM core a JOIN offs o ON TRUE JOIN core b ON b.cell = (a.cy + o.dy) * 100 + (a.cx + o.dx)), lbl(cell, comp) AS (SELECT cell, cell FROM core UNION SELECT e.src, l.comp FROM lbl l JOIN e ON e.dst = l.cell), r AS (SELECT cell, min(comp) AS component FROM lbl GROUP BY 1) SELECT CAST(r.component AS BIGINT) AS cluster, CAST(count(*) AS BIGINT) AS n_cells, CAST(sum(core.n) AS BIGINT) AS n_points FROM core JOIN r USING (cell) GROUP BY 1""")((s, dir) => {
      // grid-density clustering (DBSCAN without the pairwise distance
      // scan): occupied 10°-cells holding ≥3 points are core, adjacent
      // core cells (8-neighborhood, via a broadcast offset table + semi
      // join — never a spatial self-join) connect into clusters through
      // the shared large-star/small-star components machinery. Date-line
      // wrap is deliberately not stitched (cx 0 and 35 stay apart).
      val cells = T(s, dir, "customer")
        .select(expr(geoLatSql("c_custkey", custLatMul)).as("lat_micro"),
          expr(geoLonSql("c_custkey", custLonMul)).as("lon_micro"))
        .select(expr("(lat_micro + 90000000) div 10000000").as("cy"),
          expr("(lon_micro + 180000000) div 10000000").as("cx"))
        .groupBy("cy", "cx").agg(count(lit(1)).as("n"))
      val core = cells.filter(col("n") >= 3L)
        .withColumn("cell", expr("cy * 100 + cx"))
        .localCheckpoint(true) // edge build reads it 3×, components more
      val offs = s.createDataFrame(Seq((-1L, -1L), (-1L, 0L), (-1L, 1L),
          (0L, -1L), (0L, 1L), (1L, -1L), (1L, 0L), (1L, 1L)))
        .toDF("dy", "dx")
      val nbr = core.crossJoin(broadcast(offs))
        .select(col("cell").as("src"), expr("(cy + dy) * 100 + (cx + dx)").as("dst"))
        .join(core.select(col("cell").as("dst")), Seq("dst"), "left_semi")
      val comp = ext.Graph.componentsFor(core.select("cell"), "cell", nbr)
      core.join(comp, "cell")
        .groupBy(col("component").as("cluster"))
        .agg(count(lit(1)).as("n_cells"), sum("n").as("n_points"))
    }),
    // geo_pip: the same planted coordinates and the same Scala-generated
    // per-edge crossing terms (literal slopes — division-free).
    "geo_pip" -> Query(
      s"""WITH c AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation, ${geoLatSql("c_custkey", custLatMul)} AS lat, ${geoLonSql("c_custkey", custLonMul)} AS lon FROM customer) SELECT nation, ((${pipCrossSql("lon", "lat")}) % 2 = 1) AS inside, CAST(count(*) AS BIGINT) AS n_customers FROM c GROUP BY 1, 2""")((s, dir) => {
      // point-in-polygon (ray casting, Shimrat 1962) against a fixed
      // non-convex 5-gon in integer micro-degrees — the geofence
      // primitive. The crossing test is division-free integer
      // arithmetic with per-edge literal slopes (pipCrossSql), ONE
      // codegen projection per point + one keyed agg; the same planted
      // coordinates as geo_geohash. At 100 TB the polygon is a
      // broadcast literal and the scan stays embarrassingly parallel.
      T(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey").cast("long").as("nation"),
          expr(geoLatSql("c_custkey", custLatMul)).as("lat"),
          expr(geoLonSql("c_custkey", custLonMul)).as("lon"))
        .withColumn("inside", expr(s"(${pipCrossSql("lon", "lat")}) % 2 = 1"))
        .groupBy("nation", "inside")
        .agg(count(lit(1)).as("n_customers"))
    })
  )

  // --- geo helpers ------------------------------------------------------
  // Synthetic micro-degree coordinates: Knuth/Murmur multiplicative
  // hashes of the integer key — pure BIGINT arithmetic both engines
  // replay literal-for-literal (products stay ≤ ~4e17, far under 2^63).
  private val custLatMul = 2654435761L
  private val custLonMul = 2246822519L
  private val suppLatMul = 1540483477L
  private val suppLonMul = 1327217885L
  private def geoLatSql(key: String, mul: Long): String =
    s"(($key * $mul) % 180000000 - 90000000)"
  private def geoLonSql(key: String, mul: Long): String =
    s"(($key * $mul) % 360000000 - 180000000)"

  /** Fixed non-convex geofence polygon for geo_pip, (lon, lat) vertices
    * in micro-degrees — closed implicitly (last → first).
    */
  private val pipPolygon: Seq[(Long, Long)] = Seq(
    (-30000000L, 10000000L), (-10000000L, 40000000L), (20000000L, 25000000L),
    (45000000L, 50000000L), (30000000L, -5000000L))

  /** Ray-casting crossing COUNT (Shimrat 1962) of the +lon ray from
    * point (px, py) against [[pipPolygon]], as a sum of per-edge CASE
    * terms. Each edge's Δlat sign is a compile-time literal, so the
    * "px left of the edge at height py" test is a pure integer product
    * comparison — no division, hence bit-identical in both engines.
    * Products stay ≤ ~6.5·10¹⁶ (micro-degree spans), far from wrap.
    */
  private def pipCrossSql(px: String, py: String): String =
    (pipPolygon :+ pipPolygon.head).sliding(2).map { w =>
      val ((x1, y1), (x2, y2)) = (w(0), w(1))
      val dy = y2 - y1
      require(dy != 0L, "pip polygon must have no horizontal edges")
      val cmp = if (dy > 0) "<" else ">"
      s"(CASE WHEN ($y1 > $py) <> ($y2 > $py) AND " +
        s"(($px - $x1) * $dy) $cmp (($x2 - $x1) * ($py - $y1)) THEN 1 ELSE 0 END)"
    }.mkString(" + ")

  /** Test hook: the geo_pip crossing-parity projection over (lon, lat)
    * columns, so Round7OpsSpec can check it against an independent
    * point-in-polygon implementation.
    */
  private[graft] def pipInside(df: DataFrame): DataFrame =
    df.select(col("lon"), col("lat"),
      expr(s"(${pipCrossSql("lon", "lat")}) % 2 = 1").as("inside"))

  /** 30-bit lon/lat interleave over pre-quantized `lon_q`/`lat_q`
    * (15 bits each) as literal-unrolled div/mod terms; `idiv` is `div`
    * (Spark) or `//` (DuckDB).
    */
  private def geoInterleaveSql(idiv: String): String =
    (0 until 15).map { k =>
      val p = 1 << (14 - k)
      s"((lon_q $idiv $p) % 2) * ${1L << (29 - 2 * k)} + " +
        s"((lat_q $idiv $p) % 2) * ${1L << (28 - 2 * k)}"
    }.mkString(" + ")

  /** First `n` base32 geohash characters of the 30-bit interleave `v`. */
  private def geohashCharsSql(v: String, idiv: String, n: Int): String =
    (0 until n).map { i =>
      val p = 1L << (25 - 5 * i)
      s"substr('0123456789bcdefghjkmnpqrstuvwxyz', CAST((($v $idiv $p) % 32) AS INT) + 1, 1)"
    }.mkString("concat(", ", ", ")")

  /** Haversine meters over micro-degree columns clat/clon/slat/slon —
    * sin/cos/asin/sqrt/round spell identically in Spark SQL and DuckDB,
    * so the SAME string is both the engine expression and the oracle
    * fragment. 8.726646e-9 = π/360e6 (half-angle per micro-degree),
    * 1.745329e-8 = π/180e6, 12742000 = 2·R_earth.
    */
  private val haversineSql: String =
    """CAST(round(12742000.0 * asin(sqrt(
      |  sin((slat - clat) * 8.726646259971648e-9) * sin((slat - clat) * 8.726646259971648e-9)
      |  + cos(slat * 1.7453292519943295e-8) * cos(clat * 1.7453292519943295e-8)
      |    * sin((slon - clon) * 8.726646259971648e-9) * sin((slon - clon) * 8.726646259971648e-9)
      |))) AS BIGINT)""".stripMargin
}
