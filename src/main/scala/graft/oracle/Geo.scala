package graft.oracle

import graft.ext.Geo.{CellLat, CellLon}

/** DuckDB reference SQL of the [[graft.ext.Geo]] queries. */
private[graft] object Geo {

  private val ptsCte: String =
    "pts AS (SELECT c_custkey, " +
    "(CAST(c_custkey AS BIGINT) * 7919) % 18000 / 100.0 - 90.0 AS lat, " +
    "(CAST(c_custkey AS BIGINT) * 104729) % 36000 / 100.0 - 180.0 AS lon " +
    "FROM customer), " +
    "p2 AS (SELECT c_custkey, lat, lon, " +
    s"CAST(floor(lat / $CellLat) AS BIGINT) AS cl, " +
    s"CAST(floor(lon / $CellLon) AS BIGINT) AS cn FROM pts)"

  private val zonesCte: String =
    "z AS (SELECT n_nationkey AS zone_id, " +
    "-90 + (n_nationkey * 13 % 5) * 36 + 3 AS lat0, " +
    "least(-90 + (n_nationkey * 13 % 5) * 36 + 3 + 20 + (n_nationkey % 3) * 15, 90) AS lat1, " +
    "-180 + (n_nationkey * 7 % 5) * 72 + 6 AS lon0, " +
    "least(-180 + (n_nationkey * 7 % 5) * 72 + 6 + 40 + (n_nationkey % 4) * 25, 180) AS lon1 " +
    "FROM nation), " +
    "zc AS (SELECT z.*, u1.cl, u2.cn FROM z, " +
    s"UNNEST(range(CAST(floor(lat0 / $CellLat) AS BIGINT), CAST(floor(lat1 / $CellLat) AS BIGINT) + 1)) AS u1(cl), " +
    s"UNNEST(range(CAST(floor(lon0 / $CellLon) AS BIGINT), CAST(floor(lon1 / $CellLon) AS BIGINT) + 1)) AS u2(cn))"

  val sql: Map[String, String] = Map(
    // fixture-construction ground truth: the Spark side PARSES the
    // FeatureCollection it wrote and re-derives the bbox from the ring;
    // the oracle restates the zone arithmetic from nation (lockstep
    // with zonesCte's z constants), bbox == ring min/max by
    // construction, ring length literal 5 (closed polygon)
    "geo_geojson_zones" ->
      ("SELECT CAST(n_nationkey AS BIGINT) AS zone_id, n_name AS name, " +
       "CAST(-90 + (n_nationkey * 13 % 5) * 36 + 3 AS DOUBLE) AS lat0, " +
       "CAST(least(-90 + (n_nationkey * 13 % 5) * 36 + 3 + 20 + " +
       "(n_nationkey % 3) * 15, 90) AS DOUBLE) AS lat1, " +
       "CAST(-180 + (n_nationkey * 7 % 5) * 72 + 6 AS DOUBLE) AS lon0, " +
       "CAST(least(-180 + (n_nationkey * 7 % 5) * 72 + 6 + 40 + " +
       "(n_nationkey % 4) * 25, 180) AS DOUBLE) AS lon1, " +
       "CAST(5 AS BIGINT) AS n_vertices FROM nation ORDER BY zone_id"),
    "geo_bbox_join" ->
      (s"WITH $ptsCte, $zonesCte " +
       "SELECT p.c_custkey, zc.zone_id, p.lat, p.lon FROM p2 p " +
       "JOIN zc ON p.cl = zc.cl AND p.cn = zc.cn " +
       "AND p.lat BETWEEN zc.lat0 AND zc.lat1 " +
       "AND p.lon BETWEEN zc.lon0 AND zc.lon1"),
    "geo_grid_agg" ->
      (s"WITH $ptsCte " +
       "SELECT cl, cn, count(*) AS n_listings, " +
       "round((avg(lat)) * 1e6) / 1e6 AS avg_lat, " +
       "round((avg(lon)) * 1e6) / 1e6 AS avg_lon " +
       "FROM p2 GROUP BY cl, cn ORDER BY cl, cn"),
    "geo_nearest_zone" ->
      (s"WITH $ptsCte, $zonesCte, " +
       "cents AS (SELECT zone_id, (lat0 + lat1) / 2.0 AS clat, " +
       "(lon0 + lon1) / 2.0 AS clon FROM z), " +
       "d AS (SELECT p.c_custkey, c.zone_id, " +
       "round(((p.lat - c.clat) * (p.lat - c.clat) + " +
       "(p.lon - c.clon) * (p.lon - c.clon)) * 1e6) / 1e6 AS d2 " +
       "FROM pts p CROSS JOIN cents c) " +
       "SELECT c_custkey, zone_id, d2 FROM (SELECT c_custkey, zone_id, d2, " +
       "row_number() OVER (PARTITION BY c_custkey ORDER BY d2 ASC, zone_id ASC) AS rn " +
       "FROM d) WHERE rn = 1"))
}
