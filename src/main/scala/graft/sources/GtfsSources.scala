package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers for the Tegallega input formats (SURVEY.md §2.1 S1–S3):
  * the nested routes.json config, per-route GeoJSON stop/way files, and the
  * two-header-row pivoted schedule matrix CSV.
  *
  * Design: every reader returns a DataFrame carrying explicit ordinal
  * columns (cat_idx/group_idx/route_idx, feature_idx, pair_idx) so that
  * every downstream order-dependent semantic (first-wins dedup, trip
  * numbering, shape sequencing — SURVEY §7.4 hard part #1) sorts on data,
  * never on partition order. Reference semantics cited per method.
  */
object GtfsSources {

  /** Schema for routes.json (reference routes.json:1-60; flattening at
    * generate_gtfs.py:49-82). `trips` is a string in the config (parsed
    * with int() tolerance later), directionId a JSON number.
    */
  val ConfigSchema: StructType = StructType(Seq(
    StructField("categories", ArrayType(StructType(Seq(
      StructField("name", StringType),
      StructField("agencyId", StringType),
      StructField("mode", StringType),
      StructField("agencyUrl", StringType),
      StructField("agencyTimezone", StringType),
      StructField("agencyLang", StringType),
      StructField("routeGroups", ArrayType(StructType(Seq(
        StructField("groupId", StringType),
        StructField("name", StringType),
        StructField("color", StringType),
        StructField("type", StringType),
        StructField("loop", StringType),
        StructField("routes", ArrayType(StructType(Seq(
          StructField("name", StringType),
          StructField("directionId", LongType),
          StructField("relationId", StringType),
          StructField("first_departure", StringType),
          StructField("last_departure", StringType),
          StructField("trips", StringType)))))))))))))))

  /** Raw one-row config document. */
  def config(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", "true").schema(ConfigSchema).json(path)

  /** One row per category with ordinal (generate_gtfs.py:49-60). */
  def categories(cfg: DataFrame): DataFrame =
    cfg.select(posexplode(col("categories")).as(Seq("cat_idx", "cat")))
      .select(col("cat_idx"),
        col("cat.agencyId").as("agency_id"),
        col("cat.name").as("agency_name"),
        col("cat.agencyUrl").as("agency_url"),
        col("cat.agencyTimezone").as("agency_timezone"),
        col("cat.agencyLang").as("agency_lang"),
        col("cat.mode").as("mode"),
        col("cat.routeGroups").as("route_groups"))

  /** One row per `type=='fixed'` route group, parent fields inherited
    * (generate_gtfs.py:62-73). route_type: train→2 else 3 (F3).
    */
  def routeGroups(cfg: DataFrame): DataFrame =
    categories(cfg)
      .select(col("cat_idx"), col("agency_id"), col("mode"),
        posexplode(col("route_groups")).as(Seq("group_idx", "grp")))
      .filter(col("grp.type") === "fixed")
      .select(col("cat_idx"), col("group_idx"), col("agency_id"),
        col("grp.groupId").as("group_id"),
        col("grp.name").as("group_name"),
        col("grp.color").as("color"),
        when(col("mode") === "train", 2).otherwise(3).as("route_type"),
        coalesce(col("grp.loop"), lit("no")).as("loop"),
        col("mode"))

  /** Fully flattened route directions (F1 explode ladder,
    * generate_gtfs.py:75-82): one row per route with inherited
    * agency/group/color/loop/mode and the (cat,group,route) ordinal.
    */
  def routes(cfg: DataFrame): DataFrame =
    categories(cfg)
      .select(col("cat_idx"), col("agency_id"), col("mode"),
        posexplode(col("route_groups")).as(Seq("group_idx", "grp")))
      .filter(col("grp.type") === "fixed")
      .select(col("cat_idx"), col("group_idx"), col("agency_id"), col("mode"),
        col("grp.groupId").as("group_id"),
        col("grp.name").as("group_name"),
        col("grp.color").as("color"),
        when(col("mode") === "train", 2).otherwise(3).as("route_type"),
        coalesce(col("grp.loop"), lit("no")).as("loop"),
        col("grp.routes").as("rts"))
      .select(col("cat_idx"), col("group_idx"), col("agency_id"),
        col("group_id"), col("group_name"), col("color"), col("route_type"),
        col("loop"), col("mode"),
        posexplode(col("rts")).as(Seq("route_idx", "rt")))
      .select(col("cat_idx"), col("group_idx"), col("route_idx"),
        col("agency_id"), col("group_id"), col("group_name"), col("color"),
        col("route_type"), col("loop"), col("mode"),
        col("rt.name").as("route_name"),
        col("rt.directionId").cast("int").as("direction_id"),
        col("rt.relationId").as("relation_id"),
        col("rt.first_departure").as("first_departure"),
        col("rt.last_departure").as("last_departure"),
        col("rt.trips").as("trips_str"))

  private val StopFeatureSchema: StructType = StructType(Seq(
    StructField("features", ArrayType(StructType(Seq(
      StructField("type", StringType),
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates", ArrayType(DoubleType))))),
      StructField("properties", StructType(Seq(
        StructField("id", StringType),
        StructField("name", StringType),
        StructField("role", StringType),
        StructField("isReal", BooleanType),
        StructField("wheelchair", StringType))))))))))

  /** All stops.geojson features under `geojsonDir`/<relationId>/ with the
    * relation id extracted from the path (S2) and the in-file feature
    * ordinal (the reference's insertion order, generate_gtfs.py:106-123).
    */
  def stopFeatures(spark: SparkSession, geojsonDir: String): DataFrame =
    spark.read.option("multiLine", "true").schema(StopFeatureSchema)
      .json(s"$geojsonDir/*/stops.geojson")
      .select(
        regexp_extract(input_file_name(), "/([^/]+)/stops\\.geojson$", 1)
          .as("relation_id"),
        posexplode(col("features")).as(Seq("feature_idx", "f")))
      .select(col("relation_id"), col("feature_idx"),
        col("f.properties.id").as("stop_id"),
        col("f.properties.name").as("stop_name"),
        col("f.properties.role").as("role"),
        coalesce(col("f.properties.isReal"), lit(false)).as("is_real"),
        col("f.properties.wheelchair").as("wheelchair"),
        col("f.geometry.coordinates").getItem(0).as("lon"),
        col("f.geometry.coordinates").getItem(1).as("lat"))

  /** ways.geojson with each feature's coordinates kept as their raw JSON
    * text: one schema reads both nesting depths.
    */
  private val WaysSchema: StructType = StructType(Seq(
    StructField("features", ArrayType(StructType(Seq(
      StructField("geometry", StructType(Seq(
        StructField("type", StringType),
        StructField("coordinates", StringType))))))))))

  /** All ways.geojson features as one coordinates array per feature, in
    * feature order; MultiLineString features are flattened line-by-line in
    * order, exactly like generate_gtfs.py:143-159. One read; the
    * coordinates are parsed by geometry type, and other geometry types are
    * dropped.
    */
  def wayLines(spark: SparkSession, geojsonDir: String): DataFrame = {
    val line = ArrayType(ArrayType(DoubleType))
    val raw = col("f.geometry.coordinates")
    spark.read.option("multiLine", "true").schema(WaysSchema)
      .json(s"$geojsonDir/*/ways.geojson")
      .select(
        regexp_extract(input_file_name(), "/([^/]+)/ways\\.geojson$", 1)
          .as("relation_id"),
        posexplode(col("features")).as(Seq("feature_idx", "f")))
      .filter(col("f.geometry.type").isin("LineString", "MultiLineString"))
      .select(col("relation_id"), col("feature_idx"),
        when(col("f.geometry.type") === "LineString", from_json(raw, line))
          .otherwise(flatten(from_json(raw, ArrayType(line)))).as("coords"))
  }

  /** Long-form rows of one pivoted schedule matrix (S3/U1,
    * generate_gtfs.py:228-324): output (relation_id, trip_num, pair_idx,
    * stop_id, arrival_raw, departure_raw) — one row per non-blank
    * (arrival, departure) column pair, with a missing side copied from the
    * other. The two header rows are config-scale and read driver-side
    * (SURVEY §7.3); the trip rows stream through Spark's CSV reader.
    */
  def scheduleLong(spark: SparkSession, csvPath: String): DataFrame = {
    val headers = {
      val src = scala.io.Source.fromFile(csvPath)
      try src.getLines().take(1).toList finally src.close()
    }
    val stopIds = headers.head.split(",", -1)
    val n = stopIds.length
    val raw = spark.read.option("header", "false")
      .schema(StructType((0 until n).map(i => StructField(s"_c$i", StringType))))
      .csv(csvPath)
    // Trip rows are the ones with a non-empty first cell (the two header
    // rows start ",," and blank rows are skipped — generate_gtfs.py:240-246).
    val tripRows = raw.filter(col("_c0").isNotNull && trim(col("_c0")) =!= "")
    // Column pairs (A, D) per stop; header stop ids are compile-time
    // literals so the whole unpivot stays codegen'd.
    val pairs = (2 until n by 2).filter(_ + 1 < n)
      .filter(i => stopIds(i).trim.nonEmpty)
      .map { i =>
        struct(lit(stopIds(i)).as("stop_id"),
          coalesce(trim(col(s"_c$i")), lit("")).as("arr"),
          coalesce(trim(col(s"_c${i + 1}")), lit("")).as("dep"))
      }
    tripRows
      .select(trim(col("_c0")).as("relation_id"), trim(col("_c1")).as("trip_num"),
        posexplode(array(pairs: _*)).as(Seq("pair_idx", "p")))
      .filter(col("p.arr") =!= "" || col("p.dep") =!= "")
      .select(col("relation_id"), col("trip_num"), col("pair_idx"),
        col("p.stop_id").as("stop_id"),
        when(col("p.arr") === "", col("p.dep")).otherwise(col("p.arr")).as("arrival_raw"),
        when(col("p.dep") === "", col("p.arr")).otherwise(col("p.dep")).as("departure_raw"))
  }
}
