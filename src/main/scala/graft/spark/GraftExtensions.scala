package graft.spark

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.StringType

/** SQL surface for the engine's Catalyst expressions — so `spark.sql` users
  * (and thriftserver-style clients) reach the kernels without the Scala
  * column API:
  *
  *   spark.sql.extensions=graft.spark.GraftExtensions      (spark-submit)
  *   GraftExtensions.register(spark)                       (existing session)
  *
  *   SELECT graft_s2_cell(lon, lat, 12), graft_utm_native(lon, lat).x,
  *          graft_proj_trans(lon, lat, 'proj=webmerc ellps=WGS84').y, ...
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (name, info, builder) =>
      ext.injectFunction((FunctionIdentifier(name), info, builder))
    }
}

object GraftExtensions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.Bridge

  private def strArg(c: Column, fn: String): String = Bridge.expression(c) match {
    case Literal(v, StringType) if v != null => v.toString
    case _ => throw new IllegalArgumentException(
      s"$fn: the proj-string argument must be a string literal")
  }

  /** (name, info, builder) for one SQL function over the column API; the
    * kernel call it builds is named after the SQL call, e.g.
    * `graft_s2_cell(lon, lat, 12)`. */
  private def fn(name: String, usage: String)(build: Seq[Column] => Column) =
    (name, new ExpressionInfo("graft.spark.GraftExtensions", null, name, usage, ""),
      (c: Seq[Expression]) => Bridge.expression(build(c.map(Bridge.column))) match {
        case k: KernelCall => k.copy(name = name, parameters = c)
        case e => e
      })

  /** (name, info, builder) triples for every SQL-exposed kernel. */
  val functions: Seq[(String, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_s2_cell", "graft_s2_cell(lon, lat, level) - S2 cell id")(
      c => GeoFunctions.s2Cell(c(0), c(1), c(2))),
    fn("graft_tile_key", "graft_tile_key(lon, lat, z) - packed web-mercator tile key")(
      c => GeoFunctions.tileKey(c(0), c(1), c(2))),
    fn("graft_utm_zone", "graft_utm_zone(lon) - UTM zone 1..60")(
      c => GeoFunctions.utmZone(c(0))),
    fn("graft_geodesic_distance",
        "graft_geodesic_distance(lon1, lat1, lon2, lat2) - Karney WGS84 metres")(
      c => GeoFunctions.geodesicDistance(c(0), c(1), c(2), c(3))),
    fn("graft_point_in_ring",
        "graft_point_in_ring(lon, lat, ring) - even-odd PIP over flat [lon,lat,...]")(
      c => GeoFunctions.pointInRing(c(0), c(1), c(2))),
    fn("graft_ring_cells", "graft_ring_cells(lon, lat, level, rings) - cell + neighbor rings")(
      c => GeoFunctions.ringCells(c(0), c(1), c(2), c(3))),
    fn("graft_cover_cells", "graft_cover_cells(ring, level) - bbox cell cover")(
      c => GeoFunctions.coverCells(c(0), c(1))),
    fn("graft_s2_face_uv", "graft_s2_face_uv(lon, lat) - struct(face, u, v)")(
      c => GeoFunctions.s2FaceUv(c(0), c(1))),
    fn("graft_polygon_metrics",
        "graft_polygon_metrics(ring) - struct(perimeter_m, area_m2), Karney planimeter")(
      c => GeoFunctions.polygonMetrics(c(0))),
    fn("graft_utm_native",
        "graft_utm_native(lon, lat) - struct(zone, south, x, y) in the point's own zone CRS")(
      c => ProjFunctions.utmNative(c(0), c(1))),
    fn("graft_geodesic_waypoints",
        "graft_geodesic_waypoints(lon1, lat1, lon2, lat2, n) - n+1 equally spaced points on the geodesic")(
      c => GeoFunctions.geodesicWaypoints(c(0), c(1), c(2), c(3), c(4))),
    fn("graft_trans_bounds",
        "graft_trans_bounds(lonmin, latmin, lonmax, latmax, 'proj-string') - densified-edge CRS envelope")(
      c => ProjFunctions.projTransBounds(c(0), c(1), c(2), c(3),
        strArg(c(4), "graft_trans_bounds"))),
    fn("graft_proj_trans",
        "graft_proj_trans(lon, lat, 'proj-string or EPSG:code') - struct(x,y,z,t,err)")(
      c => ProjFunctions.projTrans2(c(0), c(1), strArg(c(2), "graft_proj_trans"))),
    fn("graft_crs_registry",
        "graft_crs_registry(x, y, 'src CRS', 'dst CRS') - registry-grade CRS->CRS via the EPSG/IGNF operation database: struct(x,y,z,t,err)")(
      c => {
        val src = strArg(c(2), "graft_crs_registry")
        val dst = strArg(c(3), "graft_crs_registry")
        val pipe = graft.proj.CrsToCrs.pipelineRegistry(src, dst).getOrElse(
          throw new IllegalArgumentException(
            s"graft_crs_registry: unsupported pair $src -> $dst"))
        ProjFunctions.projTrans2(c(0), c(1), pipe)
      }),
    fn("graft_crs_dispatch",
        "graft_crs_dispatch(x, y, 'src CRS', 'dst CRS') - per-row best-operation dispatch from the registry: struct(op, x, y, z)")(
      c => ProjFunctions.crsToCrsDispatch(c(0), c(1),
        strArg(c(2), "graft_crs_dispatch"), strArg(c(3), "graft_crs_dispatch"))),
    fn("graft_hex_bin",
        "graft_hex_bin(x, y, size) - flat-top axial hex bin of plane coords: struct(q, r)")(
      c => GeoFunctions.hexBin(c(0), c(1), c(2))),
    fn("graft_hex_center", "graft_hex_center(q, r, size) - center of axial hex: struct(x, y)")(
      c => GeoFunctions.hexCenter(c(0), c(1), c(2))),
    fn("graft_hex_ring",
        "graft_hex_ring(q, r, rings) - hexes within rings grid steps: array<struct<q, r>>")(
      c => GeoFunctions.hexRing(c(0), c(1), c(2))),
    fn("graft_global_hex",
        "graft_global_hex(lon, lat, size_m) - equal-area global hex cell (ISEA plane): struct(q, r)")(
      c => GeoFunctions.globalHexCell(c(0), c(1), c(2))),
    fn("graft_scrub_pii",
        "graft_scrub_pii(text) - emails/phones/long ids replaced by typed placeholders")(
      c => {
        // resolved Catalyst tree (a Column function round-trip would inject
        // UnresolvedFunction nodes the injected-function path can't codegen);
        // patterns shared with TrainingOps.scrubPii so the two never fork
        import org.apache.spark.sql.catalyst.expressions.RegExpReplace
        val email = RegExpReplace(Bridge.expression(c(0)),
          Literal(TrainingOps.PiiEmailRe), Literal("<EMAIL>"))
        val phone = RegExpReplace(email,
          Literal(TrainingOps.PiiPhoneRe), Literal("<PHONE>"))
        Bridge.column(RegExpReplace(phone, Literal(TrainingOps.PiiIdRe), Literal("<NUM>")))
      }),
    fn("graft_sample_hash",
        "graft_sample_hash(key, m) - seeded deterministic uniform in [0, m) (mixture-sampling hash)")(
      c => TextFunctions.sampleHash(c(0), c(1))),
    fn("graft_proj_factors",
        "graft_proj_factors(lon, lat, 'proj-string') - struct(h,k,s,omega,conv)")(
      c => ProjFunctions.projFactors(c(0), c(1), strArg(c(2), "graft_proj_factors"))))

  /** imperative registration on an existing session. */
  def register(spark: SparkSession): Unit =
    functions.foreach { case (name, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(
        FunctionIdentifier(name), inf, builder)
    }
}
