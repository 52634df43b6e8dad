package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Interior-aware polygon covers: a concave 10k-vertex "U" polygon whose
  * notch fills most of its bounding box. The quadtree cover must (a) never
  * under-cover — every interior point's cell is in the cover — and (b)
  * prune the notch, beating the bbox cover's candidate count. */
class CoverSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // thin-armed U: bbox 4x4 deg, polygon area ~28% of the bbox
  private val outline = Seq(
    (0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (3.6, 4.0),
    (3.6, 0.4), (0.4, 0.4), (0.4, 4.0), (0.0, 4.0))

  /** densify the outline to ~10k vertices (edge subdivision). */
  private val (lons, lats) = {
    val per = 10000 / outline.size
    val pts = outline.indices.flatMap { i =>
      val (x1, y1) = outline(i)
      val (x2, y2) = outline((i + 1) % outline.size)
      (0 until per).map(k =>
        (x1 + (x2 - x1) * k / per, y1 + (y2 - y1) * k / per))
    }
    (pts.map(_._1).toArray, pts.map(_._2).toArray)
  }
  private val level = 10

  private def inRing(lon: Double, lat: Double): Boolean = {
    var inside = false
    var a = 0; var b = lons.length - 1
    while (a < lons.length) {
      if ((lats(a) > lat) != (lats(b) > lat) &&
          lon < (lons(b) - lons(a)) * (lat - lats(a)) / (lats(b) - lats(a)) + lons(a))
        inside = !inside
      b = a; a += 1
    }
    inside
  }

  test("interior cover is complete over the 10k-vertex concave polygon") {
    val cover = SpatialJoins.coverRing(lons, lats, level).toSet
    val rnd = new scala.util.Random(11)
    var checked = 0
    while (checked < 2000) {
      val lon = rnd.nextDouble() * 4
      val lat = rnd.nextDouble() * 4
      if (inRing(lon, lat)) {
        assert(cover.contains(graft.index.S2CellId.cellId(lon, lat, level)),
          s"interior point ($lon, $lat) not covered")
        checked += 1
      }
    }
  }

  test("interior cover prunes the notch vs the bbox cover") {
    val interior = SpatialJoins.coverRing(lons, lats, level).size
    val bbox = SpatialJoins.coverBBox(0.0, 0.0, 4.0, 4.0, level).size
    assert(interior < bbox * 0.7,
      s"expected < 70% of bbox cover, got $interior vs $bbox")
  }

  /** the plain loop: every sample re-expands its neighbor ring */
  private class PlainCover(level: Int) extends SpatialJoins.CoverCells(level) {
    override def sample(lon: Double, lat: Double): Unit = {
      val c = graft.index.S2CellId.cellId(lon, lat, level)
      cells += c
      cells ++= graft.index.S2CellId.allNeighbors(c)
    }
  }

  test("covers expand each cell's ring once and equal the plain loop, in order") {
    // quadtree path: the concave polygon
    assert(SpatialJoins.coverRing(lons, lats, level) ==
      SpatialJoins.coverRing(lons, lats, level, new PlainCover(level)))
    // bbox path: a direct box; small polygons take either path
    assert(SpatialJoins.coverBBox(-0.3, 51.2, 0.4, 51.7, 12) ==
      SpatialJoins.coverBBox(-0.3, 51.2, 0.4, 51.7, 12, new PlainCover(12)))
    val rnd = new scala.util.Random(201)
    for (_ <- 0 until 50) {
      val (cx, cy) = (rnd.nextDouble() * 300 - 150, rnd.nextDouble() * 140 - 70)
      val k = 3 + rnd.nextInt(6)
      val ang = (0 until k).map(i => 2 * math.Pi * i / k)
      val r = 0.01 + rnd.nextDouble() * 0.1
      val xs = ang.map(a => cx + r * math.cos(a)).toArray
      val ys = ang.map(a => cy + r * math.sin(a)).toArray
      assert(SpatialJoins.coverRing(xs, ys, 12) ==
        SpatialJoins.coverRing(xs, ys, 12, new PlainCover(12)))
    }
  }

  test("PIP join over the concave polygon: notch points excluded, arms matched") {
    import spark.implicits._
    val ring = lons.indices.flatMap(i => Seq(lons(i), lats(i))).toArray
    val zones = Seq((0, "u", 2.0, 2.0, ring))
      .toDF("zone_id", "zone_name", "zone_lon", "zone_lat", "ring")
    val pts = Seq(
      (1L, 0.2, 2.0), (2L, 3.8, 2.0), (3L, 2.0, 0.2), // arms + base: inside
      (4L, 2.0, 2.0), (5L, 1.5, 3.5), // notch: outside
      (6L, 5.0, 5.0)) // outside bbox
      .toDF("point_id", "lon", "lat")
    val got = SpatialJoins.pipJoin(pts, zones, level = level)
      .select("point_id").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 3L))
  }
}
