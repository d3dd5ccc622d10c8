package graft.gtfs

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.{geo, timecodec}
import graft.sources.GtfsSources

/** The Tegallega GTFS transform (pillar P2, generate_gtfs.py re-expressed
  * Spark-first): config flattening, first-wins stop dedup, cumulative-
  * distance shapes, nearest-shape-point stop projection, speed-model travel
  * times, headway trip expansion, schedule-matrix unpivot, and the exact
  * GTFS output projections.
  *
  * Determinism: every order-dependent reference semantic (SURVEY §7.4 #1)
  * is expressed as a window over explicit ordinal columns carried from the
  * sources — config position for routes, in-file feature position for
  * stops/ways, column position for schedule pairs.
  *
  * Scale posture: partitioning keys are relation_id / shape_id / trip_id;
  * shape point sets are bounded per route (~hundreds), so the stop→shape
  * argmin (J5) is a per-row higher-order-function fold over the route's
  * shape array — no cross join, no shuffle beyond the route-key join. At
  * 1000× routes the plan is unchanged: each route is an independent key.
  */
object GtfsPipeline {

  /** X3 formatting (half-even rounding, >24h-safe) — see timecodec. */
  private def fmtTime(secs: Column): Column = timecodec.secToTime(secs)

  /** agency.txt rows in category order (generate_gtfs.py:54-60, 489-490). */
  def agencies(cfg: DataFrame): DataFrame =
    GtfsSources.categories(cfg)
      .select(col("cat_idx"), col("agency_id"), col("agency_name"),
        col("agency_url"), col("agency_timezone"), col("agency_lang"))

  /** routes.txt rows: one per fixed route group; route_short_name is the
    * group id, color loses its '#' (generate_gtfs.py:492-502, X12).
    */
  def routesTable(cfg: DataFrame): DataFrame =
    GtfsSources.routeGroups(cfg)
      .select(col("cat_idx"), col("group_idx"),
        col("group_id").as("route_id"), col("agency_id"),
        col("group_id").as("route_short_name"),
        col("group_name").as("route_long_name"),
        col("route_type"),
        regexp_replace(col("color"), "^#", "").as("route_color"))

  /** stops.txt: stops from every route's stops.geojson, deduped first-wins
    * by stop_id in route-config × in-file order (A2,
    * generate_gtfs.py:106-123). Keeps the first-occurrence ordinal so the
    * output can be emitted in reference insertion order.
    */
  def stopsTable(routes: DataFrame, stopFeatures: DataFrame): DataFrame = {
    val ingest = routes
      .select(col("cat_idx"), col("group_idx"), col("route_idx"), col("relation_id"))
      .join(stopFeatures, Seq("relation_id"))
    val w = Window.partitionBy(col("stop_id"))
      .orderBy(col("cat_idx"), col("group_idx"), col("route_idx"), col("feature_idx"))
    ingest
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cat_idx"), col("group_idx"), col("route_idx"), col("feature_idx"),
        col("stop_id"),
        coalesce(col("stop_name"), concat(lit("Stop "), col("stop_id"))).as("stop_name"),
        col("lat").as("stop_lat"), col("lon").as("stop_lon"),
        lit(0).as("location_type"),
        when(col("wheelchair") === "yes", 1).otherwise(0).as("wheelchair_boarding"))
  }

  /** shapes.txt: per route, way coordinates flattened in (feature, line,
    * point) order, 1-based sequence, cumulative haversine-km distance
    * rounded to 6 dp at emission (W1/W2, generate_gtfs.py:143-186). The
    * cumulative sum accumulates UNROUNDED segment distances in row order —
    * same FP operation order as the reference's += loop.
    */
  def shapesTable(routes: DataFrame, wayLines: DataFrame): DataFrame = {
    val ordered = routes.select(col("relation_id")).distinct()
      .join(wayLines, Seq("relation_id"))
      .select(col("relation_id"), col("feature_idx"),
        posexplode(col("coords")).as(Seq("coord_idx", "pt")))
    val w = Window.partitionBy(col("relation_id"))
      .orderBy(col("feature_idx"), col("coord_idx"))
    val cumW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ordered
      .select(col("relation_id"), col("feature_idx"), col("coord_idx"),
        col("pt").getItem(0).as("lon"), col("pt").getItem(1).as("lat"))
      .withColumn("seg", coalesce(
        geo.haversineKm(lag(col("lon"), 1).over(w), lag(col("lat"), 1).over(w),
          col("lon"), col("lat")), lit(0.0)))
      .select(col("relation_id"),
        concat(lit("shape_"), col("relation_id")).as("shape_id"),
        col("lon").as("shape_pt_lon"), col("lat").as("shape_pt_lat"),
        row_number().over(w).as("shape_pt_sequence"),
        // bround = half-even, matching Python round(x, 6) on the exact
        // binary double (generate_gtfs.py:178).
        bround(sum(col("seg")).over(cumW), 6).as("shape_dist_traveled"))
  }

  /** Bus/angkot trips + stop_times (generate_gtfs.py:327-446):
    * stops projected to the route shape by nearest-shape-point argmin (J5),
    * sorted by (shape_dist, real-first, file order), segment times from the
    * 30/55 km/h speed model (W3/W4), trips expanded by headway (W11) with
    * cross-route trip numbering per (group, direction) in config order (A4),
    * and per-(trip × stop) arrival/departure synthesis (W12).
    */
  def busTripsAndStopTimes(routes: DataFrame, stopFeatures: DataFrame,
                           shapes: DataFrame): (DataFrame, DataFrame) = {
    val busRoutes = routes.filter(col("mode") =!= "train")
      .withColumn("num_trips", coalesce(col("trips_str").cast("int"), lit(0)))

    // Shape points as one bounded array per route, sorted by (dist, seq) so
    // the argmin scan visits points exactly like the reference's
    // sorted-then-strict-< loop (generate_gtfs.py:205-207, 355-365).
    val shapeArrays = shapes
      .groupBy(col("relation_id"))
      .agg(sort_array(collect_list(struct(
        col("shape_dist_traveled").as("dist"),
        col("shape_pt_sequence").as("seq"),
        col("shape_pt_lon").as("plon"),
        col("shape_pt_lat").as("plat")))).as("pts"))

    // Project each stop: fold over the route's shape array keeping the
    // strictly-nearest point's cumulative distance. Stays a per-row HOF —
    // no shuffle, no cross join (SURVEY §4: per-route broadcast analog).
    val withStops = busRoutes
      .join(stopFeatures, Seq("relation_id"))
      .join(shapeArrays, Seq("relation_id"), "left")
    val init = struct(lit(Double.MaxValue).as("md"), lit(0.0).as("cd"))
    val proj = aggregate(col("pts"), init, (acc, p) => {
      val d = geo.haversineKm(col("lon"), col("lat"),
        p.getField("plon"), p.getField("plat"))
      when(d < acc.getField("md"),
        struct(d.as("md"), p.getField("dist").as("cd"))).otherwise(acc)
    })
    val projected = withStops
      .withColumn("shape_dist", when(col("pts").isNotNull, proj.getField("cd")))
      .drop("pts")

    // Reference sort: by (shape_dist, real-first), Python-stable on file
    // order; unprojected routes keep raw file order (no sort at all).
    val ord = Seq(
      when(col("shape_dist").isNotNull, col("shape_dist")).otherwise(col("feature_idx")),
      when(col("shape_dist").isNotNull, when(col("is_real"), 0).otherwise(1)).otherwise(0),
      col("feature_idx"))
    val seqW = Window.partitionBy(col("relation_id")).orderBy(ord.map(_.asc): _*)
    val sequenced = projected
      .withColumn("stop_idx", row_number().over(seqW) - 1)

    // Segment travel times (W3): floor 10 m, 30 km/h ≤5 km else 55.
    val segDist = geo.haversineKm(
      lag(col("lon"), 1).over(seqW), lag(col("lat"), 1).over(seqW),
      col("lon"), col("lat"))
    // greatest() skips nulls, so guard the first row (no predecessor →
    // segment time 0, generate_gtfs.py:374) explicitly.
    val flooredDist = greatest(segDist, lit(0.01))
    val segTime = when(segDist.isNull, 0.0)
      .otherwise(flooredDist / when(flooredDist <= 5, 30).otherwise(55) * 3600)
    val cumW = seqW.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withTravel = sequenced
      .withColumn("seg_time", segTime)
      .withColumn("cum_travel", sum(col("seg_time")).over(cumW))

    // Routes that actually generate trips: stops file present (inner join
    // above) and a positive trip count (generate_gtfs.py:330-332, 390-396).
    val eligible = withTravel
      .groupBy(col("cat_idx"), col("group_idx"), col("route_idx"))
      .agg(first(col("agency_id")).as("agency_id"),
        first(col("group_id")).as("group_id"),
        first(col("route_name")).as("route_name"),
        first(col("direction_id")).as("direction_id"),
        first(col("relation_id")).as("relation_id"),
        first(col("loop")).as("loop"),
        first(col("num_trips")).as("num_trips"),
        first(col("first_departure")).as("first_departure"),
        first(col("last_departure")).as("last_departure"))
      .filter(col("num_trips") >= 1)

    // A4 cross-route trip numbering: offset = trips of earlier config
    // routes in the same (group, direction) (generate_gtfs.py:210,404,446).
    val offW = Window.partitionBy(col("group_id"), col("direction_id"))
      .orderBy(col("cat_idx"), col("group_idx"), col("route_idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val shapeIds = shapes.select(col("relation_id"),
      col("shape_id")).distinct()
    val numbered = eligible
      .withColumn("trip_offset", coalesce(sum(col("num_trips")).over(offW), lit(0)))
      .join(shapeIds, Seq("relation_id"), "left")
      .withColumn("shape_id", coalesce(col("shape_id"), lit("")))
      .withColumn("start_sec", timecodec.timeToSec(col("first_departure")).cast("double"))
      .withColumn("end_sec", timecodec.timeToSec(col("last_departure")).cast("double"))
      .withColumn("headway", when(col("num_trips") > 1,
        (col("end_sec") - col("start_sec")) / (col("num_trips") - 1)).otherwise(0.0))

    // W11 headway expansion → one row per trip.
    val trips = numbered
      .select(col("*"), explode(sequence(lit(0), col("num_trips") - 1)).as("idx"))
      .withColumn("trip_num", col("trip_offset") + col("idx") + 1)
      .withColumn("trip_start", col("start_sec") + col("idx") * col("headway"))
      .withColumn("trip_id", concat(lit("t-"), col("agency_id"), col("group_id"),
        col("direction_id"), col("trip_num")))
      .withColumn("block_id", when(col("loop") === "yes",
        concat(col("agency_id"), col("group_id"), col("trip_num"))).otherwise(lit("")))

    val tripsOut = trips.select(
      col("cat_idx"), col("group_idx"), col("route_idx"), col("idx").as("trip_idx"),
      col("group_id").as("route_id"), col("trip_id"),
      lit("everyday").as("service_id"),
      col("route_name").as("trip_headsign"),
      col("direction_id"), col("shape_id"), col("block_id"))

    // W12: (trip × stop) arrival/departure with 10 s dwell shift.
    val stopTimes = trips
      .select(col("relation_id"), col("trip_id"), col("trip_start"),
        col("cat_idx"), col("group_idx"), col("route_idx"), col("idx").as("trip_idx"))
      .join(withTravel.select(col("relation_id"), col("stop_id"),
        col("stop_idx"), col("cum_travel")), Seq("relation_id"))
      .withColumn("arrival_sec",
        col("trip_start") + col("cum_travel") + col("stop_idx") * 10)
      .withColumn("departure_sec", col("arrival_sec") + 10)
      .select(col("cat_idx"), col("group_idx"), col("route_idx"), col("trip_idx"),
        col("trip_id"), col("stop_id"),
        (col("stop_idx") + 1).as("stop_sequence"),
        fmtTime(col("arrival_sec")).as("arrival_time"),
        fmtTime(col("departure_sec")).as("departure_time"),
        lit(0).as("pickup_type"), lit(0).as("drop_off_type"))

    (tripsOut, stopTimes)
  }

  /** Train trips + stop_times from the pivoted schedule matrices
    * (generate_gtfs.py:219-324): one matrix per (agency, direction), rows
    * filtered to the route's relation id, trip ids without a direction
    * component, stop order = column-pair order, blank pairs skipped,
    * one-sided pairs mirrored.
    */
  def trainTripsAndStopTimes(spark: SparkSession, routes: DataFrame,
                             scheduleDir: String, shapes: DataFrame): (DataFrame, DataFrame) = {
    val trainRoutes = routes.filter(col("mode") === "train")
    // The matrix set is config-scale: one file per (agency, direction).
    val keys = trainRoutes.select(col("agency_id"), col("direction_id"))
      .distinct().collect()
      .map(r => (r.getString(0), r.getInt(1)))
      .filter { case (a, d) =>
        new java.io.File(s"$scheduleDir/${a}_$d.csv").isFile }
    if (keys.isEmpty) {
      // trip_num is null, not "": build casts it to int, and under ANSI
      // mode the constant-folded cast of "" fails even on zero rows
      val et = spark.range(0).select(
        lit(0).as("cat_idx"), lit(0).as("group_idx"), lit(0).as("route_idx"),
        lit(null).cast("string").as("trip_num"), lit("").as("route_id"),
        lit("").as("trip_id"),
        lit("").as("service_id"), lit("").as("trip_headsign"),
        lit(0).as("direction_id"), lit("").as("shape_id"), lit("").as("block_id"))
      val est = spark.range(0).select(
        lit(0).as("cat_idx"), lit(0).as("group_idx"), lit(0).as("route_idx"),
        lit(null).cast("string").as("trip_num"), lit("").as("trip_id"),
        lit("").as("stop_id"),
        lit(0).as("stop_sequence"), lit("").as("arrival_time"),
        lit("").as("departure_time"), lit(0).as("pickup_type"),
        lit(0).as("drop_off_type"))
      return (et, est)
    }
    val long = keys.map { case (a, d) =>
      GtfsSources.scheduleLong(spark, s"$scheduleDir/${a}_$d.csv")
        .withColumn("agency_id", lit(a))
        .withColumn("direction_id", lit(d))
    }.reduce(_ unionByName _)

    val shapeIds = shapes.select(col("relation_id"), col("shape_id")).distinct()
    val joined = trainRoutes
      .join(long, Seq("relation_id", "agency_id", "direction_id"))
      .join(shapeIds, Seq("relation_id"), "left")
      .withColumn("shape_id", coalesce(col("shape_id"), lit("")))
      .withColumn("trip_id",
        concat(lit("t-"), col("agency_id"), col("group_id"), col("trip_num")))
      .withColumn("block_id", when(col("loop") === "yes",
        concat(col("agency_id"), col("group_id"), col("trip_num"))).otherwise(lit("")))

    val tripsOut = joined
      .groupBy(col("cat_idx"), col("group_idx"), col("route_idx"),
        col("trip_num"), col("trip_id"))
      .agg(first(col("group_id")).as("route_id"),
        first(col("route_name")).as("trip_headsign"),
        first(col("direction_id")).as("direction_id"),
        first(col("shape_id")).as("shape_id"),
        first(col("block_id")).as("block_id"))
      .select(col("cat_idx"), col("group_idx"), col("route_idx"),
        col("trip_num"), col("route_id"), col("trip_id"),
        lit("everyday").as("service_id"), col("trip_headsign"),
        col("direction_id"), col("shape_id"), col("block_id"))

    val seqW = Window.partitionBy(col("trip_id")).orderBy(col("pair_idx"))
    val stopTimes = joined
      .withColumn("stop_sequence", row_number().over(seqW))
      .select(col("cat_idx"), col("group_idx"), col("route_idx"), col("trip_num"),
        col("trip_id"), col("stop_id"), col("stop_sequence"),
        fmtTime(timecodec.timeToSec(col("arrival_raw"))).as("arrival_time"),
        fmtTime(timecodec.timeToSec(col("departure_raw"))).as("departure_time"),
        lit(0).as("pickup_type"), lit(0).as("drop_off_type"))

    (tripsOut, stopTimes)
  }

  /** calendar.txt: the everyday service (generate_gtfs.py:450-463). */
  def calendar(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(("everyday", 1, 1, 1, 1, 1, 1, 1, "20250101", "20991231"))
      .toDF("service_id", "monday", "tuesday", "wednesday", "thursday",
        "friday", "saturday", "sunday", "start_date", "end_date")
  }

  /** Everything at once from the reference input layout. */
  case class Gtfs(agency: DataFrame, routes: DataFrame, stops: DataFrame,
                  shapes: DataFrame, trips: DataFrame, stopTimes: DataFrame,
                  calendar: DataFrame)

  def build(spark: SparkSession, rootDir: String): Gtfs = {
    val cfg = GtfsSources.config(spark, s"$rootDir/routes.json")
    val rts = cacheAnew(GtfsSources.routes(cfg))
    val stopFeats = GtfsSources.stopFeatures(spark, s"$rootDir/route-data/geojson")
    val ways = GtfsSources.wayLines(spark, s"$rootDir/route-data/geojson")
    val shp = cacheAnew(shapesTable(rts, ways))
    val (busTrips, busSt) = busTripsAndStopTimes(rts, stopFeats, shp)
    val (trainTrips, trainSt) =
      trainTripsAndStopTimes(spark, rts, s"$rootDir/route-data/schedule", shp)
    // Reference emission order: routes in config order, then per-route trip
    // order (CSV row ↔ trip_num for train, headway index for bus). A route
    // is entirely one mode, so config ordinals give a total order.
    val emitOrd = Seq(col("cat_idx"), col("group_idx"), col("route_idx"), col("emit_ord"))
    val trips = trainTrips
      .withColumn("emit_ord", coalesce(col("trip_num").cast("int"), lit(0)))
      .select(emitOrd ++ tripCols: _*)
      .unionByName(busTrips.withColumn("emit_ord", col("trip_idx"))
        .select(emitOrd ++ tripCols: _*))
      .orderBy(emitOrd: _*)
      .select(tripCols: _*)
    val stopTimes = trainSt
      .withColumn("emit_ord", coalesce(col("trip_num").cast("int"), lit(0)))
      .select(emitOrd ++ stCols: _*)
      .unionByName(busSt.withColumn("emit_ord", col("trip_idx"))
        .select(emitOrd ++ stCols: _*))
      .orderBy(emitOrd :+ col("stop_sequence"): _*)
      .select(stCols: _*)
    Gtfs(agencies(cfg), routesTable(cfg), stopsTable(rts, stopFeats), shp,
      trips, stopTimes, calendar(spark))
  }

  /** Cache `df` after dropping an earlier build's entry for the same plan:
    * a plan names its source paths, not their content, so a rebuild after
    * a source edit would otherwise read the earlier build's rows.
    */
  private def cacheAnew(df: DataFrame): DataFrame = df.unpersist().cache()

  private val tripCols = Seq("route_id", "trip_id", "service_id",
    "trip_headsign", "direction_id", "shape_id", "block_id").map(col)
  private val stCols = Seq("trip_id", "stop_id", "stop_sequence",
    "arrival_time", "departure_time", "pickup_type", "drop_off_type").map(col)
}
