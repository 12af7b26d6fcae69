package graft.ext

import graft.Tables
import graft.ops.Num
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Geospatial extension — the last unclaimed aspiration of the
  * reference's milestone doc (`Milestone5_Real_Estate_Pipeline.docx`
  * names "GeoJSON/Shapefile" with zero code behind it): point-in-bbox
  * join of listings to zone polygons' bounding boxes, plus grid density
  * aggregation.
  *
  * Scale shape (100 TB): the naive form is points × zones with a range
  * predicate — a cross join. Instead both sides are bucketed onto a
  * fixed lat/lon GRID: each point lands in exactly one cell, each bbox
  * is exploded to EVERY cell it overlaps (a bbox indexed only by its
  * corner cell misses points in its other cells — GeoSpec pins this),
  * and the join is an equi-join on the cell key with the exact
  * containment predicate as a post-filter. Zones are a dimension table
  * (≤ thousands of rows × small cell fan-out) → broadcast; the point
  * side never shuffles. The same banded-equi-join shape as
  * `join_band_bucket` (ops/Joins.scala), in two dimensions.
  *
  * No geometry columns exist in the testdata, so coordinates derive
  * deterministically from keys via integer arithmetic (exact on both
  * engines; the only division is by 100.0 — IEEE-exact, so the doubles
  * are bit-identical cross-engine). No trig (haversine etc.): libm sin/
  * cos are not exactly-rounded cross-engine (the ln() lesson, CLAUDE.md).
  */
object Geo {

  /** Grid cell size: 5×5 world grid (36° lat × 72° lon). */
  private[graft] val CellLat = 36.0
  private[graft] val CellLon = 72.0

  private def cellOf(c: Column, size: Double): Column =
    floor(c / lit(size)).cast("long")

  /** Listings: one point per customer, lat ∈ [-90, 89.99],
    * lon ∈ [-180, 179.99], 2-dp grid from key scrambles. */
  private[graft] def listings(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(col("c_custkey"),
              ((col("c_custkey") * 7919L) % 18000L / 100.0 - 90.0).as("lat"),
              ((col("c_custkey") * 104729L) % 36000L / 100.0 - 180.0).as("lon"))
      .withColumn("cl", cellOf(col("lat"), CellLat))
      .withColumn("cn", cellOf(col("lon"), CellLon))

  /** Zones: one bbox per nation; widths vary (some > one grid cell, so
    * the multi-cell explode is actually exercised), clamped to the world. */
  private[graft] def zones(spark: SparkSession, dir: String): DataFrame = {
    val k = col("n_nationkey")
    val lat0 = lit(-90) + (k * 13 % 5) * 36 + lit(3)
    val lon0 = lit(-180) + (k * 7 % 5) * 72 + lit(6)
    Tables.nation(spark, dir)
      .select(k.as("zone_id"),
              lat0.as("lat0"),
              least(lat0 + lit(20) + (k % 3) * 15, lit(90)).as("lat1"),
              lon0.as("lon0"),
              least(lon0 + lit(40) + (k % 4) * 25, lit(180)).as("lon1"))
  }

  /** Bbox → covered grid cells (the 2-D band index). */
  private def zoneCells(z: DataFrame): DataFrame =
    z.withColumn("cl", explode(sequence(cellOf(col("lat0"), CellLat),
                                        cellOf(col("lat1"), CellLat))))
      .withColumn("cn", explode(sequence(cellOf(col("lon0"), CellLon),
                                         cellOf(col("lon1"), CellLon))))

  /** Point-in-bbox join: grid equi-join (broadcast zone-cell index) +
    * exact containment filter. Output one row per (listing, containing
    * zone); listings outside every zone drop (inner semantics). */
  def bboxJoin(spark: SparkSession, dir: String): DataFrame =
    listings(spark, dir)
      .join(broadcast(zoneCells(zones(spark, dir))), Seq("cl", "cn"))
      .filter(col("lat").between(col("lat0"), col("lat1")) &&
              col("lon").between(col("lon0"), col("lon1")))
      .select("c_custkey", "zone_id", "lat", "lon")

  /** Grid density: listings per cell with mean position — the heatmap /
    * spatial-skew profile (also: exactly the stats a planner would use
    * to size the grid). One shuffle, no joins. */
  def gridAgg(spark: SparkSession, dir: String): DataFrame =
    listings(spark, dir)
      .groupBy("cl", "cn")
      .agg(count(lit(1)).as("n_listings"),
           Num.rnd(avg("lat"), 6).as("avg_lat"),
           Num.rnd(avg("lon"), 6).as("avg_lon"))
      .orderBy("cl", "cn")

  /** Nearest-zone assignment: every listing to the zone with the closest
    * bbox CENTROID by squared euclidean distance — the "which market does
    * this listing belong to" lookup (inner-join semantics of bboxJoin
    * leave uncovered points unassigned; this covers everything).
    * Deliberately trig-free: haversine's sin/cos are not exactly-rounded
    * cross-engine (libm vs Java), squared euclidean is IEEE-exact on
    * identical inputs. Zone centroids are a tiny broadcast (one row per
    * zone); ranking is one window per listing — same shape as the IVF
    * coarse assign. d2 rounded at 6 dp BEFORE ranking so both engines
    * rank identical values (ties broken by zone_id). */
  def nearestZone(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cents = zones(spark, dir)
      .select(col("zone_id"),
              ((col("lat0") + col("lat1")) / 2.0).as("clat"),
              ((col("lon0") + col("lon1")) / 2.0).as("clon"))
    val d2 = (col("lat") - col("clat")) * (col("lat") - col("clat")) +
      (col("lon") - col("clon")) * (col("lon") - col("clon"))
    val w = Window.partitionBy("c_custkey").orderBy(col("d2").asc, col("zone_id").asc)
    listings(spark, dir)
      .crossJoin(broadcast(cents))
      .select(col("c_custkey"), col("zone_id"), Num.rnd(d2, 6).as("d2"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("c_custkey", "zone_id", "d2")
  }

  /** GeoJSON FeatureCollection source — the standard-format reader the
    * milestone doc names (and the reference never implemented). Build
    * side (fixture, the dedup_url ground-truth pattern): one RFC-7946
    * Feature per zone — a Polygon whose closed 5-point ring walks the
    * bbox corners, `properties` carrying zone_id and the nation name —
    * assembled in deterministic zone order into a single real
    * FeatureCollection document and written as ONE multiLine JSON file.
    * Read side (the operator under test): Spark's JSON reader with
    * `multiLine` infers the nested FeatureCollection schema, features
    * explode to rows, and the bbox is RE-DERIVED from the geometry ring
    * (min/max over the exploded coordinate points — never read back
    * from properties), which is exactly how a real GeoJSON zone load
    * computes its index envelope. Coordinates go through JSON text as
    * doubles — integer-valued, so the round-trip is IEEE-exact and the
    * oracle can restate the fixture arithmetic from `nation`. Scale
    * shape: zones are a dimension (one document, |zones| features);
    * the explode fan-out is ring-length-bounded. */
  def geojsonZones(spark: SparkSession, dir: String): DataFrame = {
    val out = Tables.scratch("geojson_zones")
    val named = zones(spark, dir).join(
      broadcast(Tables.nation(spark, dir)
        .select(col("n_nationkey"), col("n_name"))),
      col("zone_id") === col("n_nationkey"))
    val ring = array(
      array(col("lon0").cast("double"), col("lat0").cast("double")),
      array(col("lon1").cast("double"), col("lat0").cast("double")),
      array(col("lon1").cast("double"), col("lat1").cast("double")),
      array(col("lon0").cast("double"), col("lat1").cast("double")),
      array(col("lon0").cast("double"), col("lat0").cast("double")))
    val feature = to_json(struct(
      lit("Feature").as("type"),
      struct(lit("Polygon").as("type"),
             array(ring).as("coordinates")).as("geometry"),
      struct(col("zone_id"), col("n_name").as("name")).as("properties")))
    named.select(col("zone_id"), feature.as("f"))
      // sort_array(collect_list(struct)) pins feature order by zone_id —
      // collect_list alone is shuffle-order-nondeterministic
      .agg(concat_ws(",", transform(
        sort_array(collect_list(struct(col("zone_id"), col("f")))),
        _.getField("f"))).as("fs"))
      .select(concat(lit("{\"type\":\"FeatureCollection\",\"features\":["),
                     col("fs"), lit("]}")).as("value"))
      .coalesce(1).write.mode("overwrite").text(out)
    val fc = spark.read.option("multiLine", "true").json(out)
    fc.select(explode(col("features")).as("f"))
      .select(col("f.properties.zone_id").as("zone_id"),
              col("f.properties.name").as("name"),
              explode(col("f.geometry.coordinates").getItem(0)).as("pt"))
      .groupBy("zone_id", "name")
      .agg(min(col("pt").getItem(1)).as("lat0"),
           max(col("pt").getItem(1)).as("lat1"),
           min(col("pt").getItem(0)).as("lon0"),
           max(col("pt").getItem(0)).as("lon1"),
           count(lit(1)).as("n_vertices"))
      .orderBy("zone_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "geo_bbox_join"     -> bboxJoin _,
    "geo_grid_agg"      -> gridAgg _,
    "geo_nearest_zone"  -> nearestZone _,
    "geo_geojson_zones" -> geojsonZones _)
}
