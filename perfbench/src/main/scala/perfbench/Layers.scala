package perfbench

import graft.core.{Coord, Geodesic}
import graft.proj.{Dispatch, Proj}
import graft.spark.{GeoKernels, ProjKernels, ProjPipeline, UtmDispatch, UtmNativeKernels}
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Single-thread timings of the kernel layers, taken from outside by calling
  * each layer's public functions over seeded inputs: `proj` (Proj.create,
  * Dispatch.trans), `geodesic`, `s2`, `hex`, `cover` and the `expr` kernel
  * objects that generated code calls. Each figure is the median of several
  * repeats over the same inputs, after a warm-up repeat. */
object Layers {
  val gdaPipe: String = "proj=pipeline ellps=GRS80 step proj=cart step proj=helmert " +
    "convention=coordinate_frame x=0.06155 rx=-0.0394924 y=-0.01087 " +
    "ry=-0.0327221 z=-0.04019 rz=-0.0328979 s=-0.009994 step proj=cart inv"
  val webmercPipe = "proj=webmerc ellps=WGS84"

  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private def allocated(): Long = threadMx.getThreadAllocatedBytes(Thread.currentThread().getId)

  /** results of the timed calls are summed here, so the JIT cannot drop them */
  @volatile var sink = 0.0

  /** ns per call and allocated bytes per call of `body(i)` over n calls,
    * median of `reps` repeats after one warm-up repeat. */
  private def perCall(n: Int, reps: Int = 5)(body: Int => Double): (Double, Double) = {
    def once(): (Double, Double) = {
      val a0 = allocated()
      val t0 = System.nanoTime()
      var acc = 0.0
      var i = 0
      while (i < n) { acc += body(i); i += 1 }
      val t1 = System.nanoTime()
      sink += acc
      ((t1 - t0).toDouble / n, (allocated() - a0).toDouble / n)
    }
    once()
    val rs = Seq.fill(reps)(once())
    (Stats.median(rs.map(_._1)), Stats.median(rs.map(_._2)))
  }

  /** Seeded lon/lat sample: 80 % around the metro hotspots, like the corpus. */
  private def points(seed: Long, n: Int): (Array[Double], Array[Double]) = {
    val rnd = new java.util.Random(seed * 7919L + 17L)
    val metros = graft.spark.DocsTable.metros
    val lon = new Array[Double](n)
    val lat = new Array[Double](n)
    for (i <- 0 until n) {
      if (rnd.nextDouble() < 0.8) {
        val (_, mlon, mlat) = metros(rnd.nextInt(metros.length))
        lon(i) = mlon + (rnd.nextDouble() - 0.5) * 0.5
        lat(i) = mlat + (rnd.nextDouble() - 0.5) * 0.5
      } else {
        lon(i) = rnd.nextDouble() * 360.0 - 180.0
        lat(i) = rnd.nextDouble() * 160.0 - 80.0
      }
    }
    (lon, lat)
  }

  def measure(seed: Long, polygons: Seq[Array[Double]], coverLevel: Int): Seq[(String, Double)] = {
    val n = 100000
    val (lon, lat) = points(seed, n)
    val rad = math.Pi / 180
    val c = new Coord

    val createStrings = (1 to 60).map(z => s"proj=utm zone=$z ellps=WGS84") ++
      Seq(gdaPipe, webmercPipe)
    val (createNs, _) = perCall(createStrings.length) { i =>
      Proj.create(createStrings(i)).hashCode.toDouble
    }

    val utm = Proj.create("proj=utm zone=54 ellps=WGS84")
    val gda = Proj.create(gdaPipe)
    val webmerc = Proj.create(webmercPipe)
    def transLoop(pj: graft.proj.PJ): (Double, Double) = perCall(n) { i =>
      c.set(lon(i) * rad, lat(i) * rad, 0.0, 0.0)
      Dispatch.trans(pj, true, c)
      c.x
    }
    val (utmNs, utmAlloc) = transLoop(utm)
    val (gdaNs, gdaAlloc) = transLoop(gda)
    val (wmNs, wmAlloc) = transLoop(webmerc)

    val (geoNs, _) = perCall(n) { i =>
      val j = (i * 7 + 3) % n
      Geodesic.WGS84.inverse(lat(i), lon(i), lat(j), lon(j))._1
    }
    val (s2Ns, _) = perCall(n) { i => GeoKernels.s2Cell(lon(i), lat(i), 12).toDouble }
    val (hexNs, _) = perCall(n) { i =>
      GeoKernels.hexBin(lon(i) * 111000.0, lat(i) * 111000.0, 50000.0).getInt(0).toDouble
    }

    val rings = polygons.take(500).map(r => new GenericArrayData(r.map(d => d: Any)))
    val (coverNs, _) = perCall(rings.length, reps = 3) { i =>
      GeoKernels.coverCells(rings(i), coverLevel).numElements().toDouble
    }
    val cellsPerPolygon =
      rings.map(GeoKernels.coverCells(_, coverLevel).numElements()).sum.toDouble / rings.length

    val pipe = new ProjPipeline(gdaPipe)
    val projScratch = new ProjKernels.ScratchRef
    val (pkNs, pkAlloc) = perCall(n) { i =>
      ProjKernels.eval(pipe, true, true, lon(i), lat(i), 0.0, 0.0, projScratch).getDouble(0)
    }
    val dispatch = new UtmDispatch("WGS84")
    val utmScratch = new UtmNativeKernels.ScratchRef
    val (unNs, unAlloc) = perCall(n) { i =>
      UtmNativeKernels.eval(dispatch, lon(i), lat(i), utmScratch).getDouble(2)
    }

    Seq(
      "proj.create_us" -> createNs / 1000,
      "proj.utm_fwd_ns" -> utmNs,
      "proj.helmert_pipe_ns" -> gdaNs,
      "proj.webmerc_fwd_ns" -> wmNs,
      "proj.alloc_b_per_op" -> (utmAlloc + gdaAlloc + wmAlloc) / 3,
      "geodesic.inverse_ns" -> geoNs,
      "s2.cell_ns" -> s2Ns,
      "hex.bin_ns" -> hexNs,
      "cover.cells_per_polygon" -> cellsPerPolygon,
      "cover.us_per_polygon" -> coverNs / 1000,
      "expr.projkernels_ns_per_row" -> pkNs,
      "expr.utmnative_ns_per_row" -> unNs,
      "expr.alloc_b_per_row" -> (pkAlloc + unAlloc) / 2)
  }
}
