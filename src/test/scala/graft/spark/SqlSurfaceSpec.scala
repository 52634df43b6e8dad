package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SQL function surface (GraftExtensions) + skew-salting equivalence. */
class SqlSurfaceSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  import spark.implicits._

  test("SQL functions match the column API") {
    Seq((12.5, 55.25)).toDF("lon", "lat").createOrReplaceTempView("pts")
    val row = spark.sql(
      """SELECT graft_s2_cell(lon, lat, 12) AS cell,
                graft_tile_key(lon, lat, 10) AS tile,
                graft_utm_zone(lon) AS zone,
                graft_utm_native(lon, lat).x AS ux,
                graft_proj_trans(lon, lat, 'proj=webmerc ellps=WGS84').x AS wx,
                graft_proj_trans(lon, lat, 'EPSG:3857').x AS wx2,
                graft_geodesic_distance(lon, lat, lon, lat + 1.0) AS d,
                graft_proj_factors(lon, lat, 'proj=webmerc ellps=WGS84').k AS k
         FROM pts""").head()
    assert(row.getAs[Long]("cell") == graft.index.S2CellId.cellId(12.5, 55.25, 12))
    assert(row.getAs[Long]("tile") == graft.index.SlippyTile.tileKey(12.5, 55.25, 10))
    assert(row.getAs[Int]("zone") == 33)
    assert(math.abs(row.getAs[Double]("wx") - 6378137.0 * math.toRadians(12.5)) < 1e-6)
    assert(row.getAs[Double]("wx2") == row.getAs[Double]("wx"), "EPSG alias in SQL")
    assert(math.abs(row.getAs[Double]("d") -
      graft.core.Geodesic.WGS84.distance(55.25, 12.5, 56.25, 12.5)) < 1e-9)
    assert(row.getAs[Double]("k") > 1.0)
    // utm native x matches the column API
    val ux = Seq((12.5, 55.25)).toDF("lon", "lat")
      .select(ProjFunctions.utmNative(col("lon"), col("lat")).getField("x")).head().getDouble(0)
    assert(row.getAs[Double]("ux") == ux)
  }

  test("integer SQL arguments coerce instead of crashing the proj kernels") {
    // regression: the kernel calls declare input types, so
    // INT/BIGINT literals (the natural thing to type in SQL) are cast
    val r = spark.sql(
      """SELECT graft_global_hex(139, 35, 100000) AS h,
                graft_proj_trans(12, 55, 'proj=webmerc ellps=WGS84').x AS wx,
                graft_utm_native(12, 55).zone AS z""").head()
    val want = Seq((139.0, 35.0)).toDF("lon", "lat")
      .select(GeoFunctions.globalHexCell(col("lon"), col("lat"), lit(100000.0)))
      .head().getStruct(0)
    assert((r.getStruct(0).getInt(0), r.getStruct(0).getInt(1)) ==
      (want.getInt(0), want.getInt(1)))
    assert(math.abs(r.getDouble(1) - 6378137.0 * math.toRadians(12.0)) < 1e-6)
    assert(r.getInt(2) == 33)
  }

  test("graft_scrub_pii in SQL matches the column API") {
    val r = spark.sql(
      "SELECT graft_scrub_pii('mail a@b.co call +1-202-555-0147 ref 1234567') AS t")
      .head().getString(0)
    assert(r == "mail <EMAIL> call <PHONE> ref <NUM>")
  }

  test("graft_crs_registry in SQL runs the GN7.2 similarity") {
    val r = spark.sql(
      "SELECT graft_crs_registry(300000D, 4500000D, 'EPSG:23031', 'EPSG:25831') AS p")
      .head().getStruct(0)
    assert(math.abs(r.getDouble(0) - 299905.060) < 5e-4, s"x=${r.getDouble(0)}")
    assert(math.abs(r.getDouble(1) - 4499796.515) < 5e-4, s"y=${r.getDouble(1)}")
  }

  test("graft_crs_dispatch picks a regional operation per row") {
    val rows = spark.sql(
      "SELECT graft_crs_dispatch(lon, lat, 'EPSG:4230', 'EPSG:4326') AS p " +
        "FROM VALUES (12.5D, 42.0D), (25.0D, 66.0D) AS t(lon, lat)")
      .collect()
    val ops = rows.map(_.getStruct(0).getInt(0))
    assert(ops(0) != ops(1), s"Italy and Finland picked the same op: ${ops.toSeq}")
    // the shift is a real datum change, ~100 m westward in longitude
    val dLon = rows(0).getStruct(0).getDouble(1) - 12.5
    assert(dLon < -5e-4 && dLon > -3e-3, s"dLon=$dLon")
  }

  test("graft_global_hex in SQL matches the column API composition") {
    val r = spark.sql(
      "SELECT graft_global_hex(139.69D, 35.69D, 100000D) AS h").head().getStruct(0)
    val want = Seq((139.69, 35.69)).toDF("lon", "lat")
      .select(GeoFunctions.globalHexCell(col("lon"), col("lat"), lit(100000.0)))
      .head().getStruct(0)
    assert((r.getInt(0), r.getInt(1)) == (want.getInt(0), want.getInt(1)))
  }

  test("graft_sample_hash in SQL matches the kernel and stays in [0, m)") {
    val rows = spark.sql(
      "SELECT id, graft_sample_hash(id, 1000000L) AS h FROM range(0, 500)")
      .collect()
    rows.foreach { r =>
      val want = TextKernels.sampleHash(r.getLong(0), 1000000L)
      assert(r.getLong(1) == want && r.getLong(1) >= 0 && r.getLong(1) < 1000000L)
    }
  }

  test("graft_geodesic_waypoints and graft_trans_bounds in SQL") {
    val w = spark.sql(
      "SELECT graft_geodesic_waypoints(2D, 1D, 100D, 60D, 4) AS wps").head()
      .getAs[scala.collection.Seq[Double]]("wps")
    assert(w.length == 10 && w(0) == 2.0 && w(9) == 60.0)
    val b = spark.sql(
      "SELECT graft_trans_bounds(10D, 50D, 11D, 51D, 'proj=webmerc ellps=WGS84') AS b")
      .select("b.xmin", "b.xmax").head()
    assert(math.abs(b.getDouble(0) - 6378137.0 * math.toRadians(10.0)) < 1e-6)
    assert(b.getDouble(1) > b.getDouble(0))
  }

  test("graft_polygon_metrics in SQL reproduces the planimeter value") {
    val a = spark.sql(
      "SELECT graft_polygon_metrics(array(0D,89D, 90D,89D, 180D,89D, 270D,89D)).area_m2 AS a")
      .head().getDouble(0)
    assert(math.abs(a - 24952305678.0) < 1)
  }

  test("graft_proj_trans rejects a non-literal proj string") {
    Seq(("proj=webmerc ellps=WGS84", 1.0)).toDF("p", "lon").createOrReplaceTempView("bad")
    val e = intercept[Exception] {
      spark.sql("SELECT graft_proj_trans(lon, lon, p) FROM bad").collect()
    }
    assert(e.getMessage.toLowerCase.contains("literal"))
  }

  test("salted hot-cell join equals the unsalted join") {
    // one hot cell (90% of rows) joined against a per-cell dimension
    val pts = spark.range(0, 20000).select(
      $"id".as("point_id"),
      when($"id" % 10 < 9, lit(42L)).otherwise($"id" % 100).as("cell"))
    val dim = spark.range(0, 100).select($"id".as("cell"), ($"id" * 7).as("w"))
    val direct = pts.join(dim, "cell").agg(sum($"w"), count(lit(1))).head()
    val salted = SpatialJoins.saltCells(pts, $"point_id", salt = 8)
    val dimRep = SpatialJoins.replicateForSalt(dim, salt = 8)
    val viaSalt = salted.join(dimRep, Seq("cell", "salt_id"))
      .agg(sum($"w"), count(lit(1))).head()
    assert(direct == viaSalt, s"direct=$direct salted=$viaSalt")
  }
}
