package graft.spark

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.Coord
import graft.proj.{Dispatch, Proj}

/** Invariants of the kernel calls behind the column and SQL APIs: equal
  * calls stay equal expressions (so a repeated transform runs once per
  * row), and every transform column owns its scratch row. */
class KernelCallSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    GraftExtensions.register(s)
    s
  }

  /** lon/lat points from a Range scan, so projections stay in generated code */
  private def points: DataFrame =
    spark.range(0, 200).select(
      (col("id") % 60 - 30 + 0.5).cast("double").as("lon"),
      (col("id") % 50 - 25 + 0.25).cast("double").as("lat"))

  private def generatedCode(df: DataFrame): String =
    df.queryExecution.debug.codegenToSeq().map(_._2).mkString("\n")

  private def calls(code: String, fn: String): Int = fn.r.findAllMatchIn(code).size

  test("graft_global_hex evaluates one ISEA transform per row") {
    points.createOrReplaceTempView("kernel_pts")
    val df = spark.sql("SELECT graft_global_hex(lon, lat, 100000D) AS h FROM kernel_pts")
    assert(calls(generatedCode(df), "ProjKernels\\.eval\\(") == 1)
    assert(df.collect().length == 200)
  }

  test("two identical transforms built apart are one expression") {
    val pipe = "proj=utm zone=32 ellps=GRS80"
    val df = points.select(
      ProjFunctions.projTrans2(col("lon"), col("lat"), pipe).getField("x").as("x"),
      ProjFunctions.projTrans2(col("lon"), col("lat"), pipe).getField("y").as("y"))
    assert(calls(generatedCode(df), "ProjKernels\\.eval\\(") == 1)
  }

  test("two projTrans2 columns with different inputs never share a scratch row") {
    val pipe = "proj=utm zone=32 ellps=GRS80"
    val df = points.select(col("lon"), col("lat"),
      ProjFunctions.projTrans2(col("lon"), col("lat"), pipe).as("a"),
      ProjFunctions.projTrans2(col("lon") + 1.0, col("lat") - 1.0, pipe).as("b"))
    assert(calls(generatedCode(df), "ProjKernels\\.eval\\(") == 2)
    val pj = Proj.create(pipe)
    def scalar(lon: Double, lat: Double): (Double, Double) = {
      val c = new Coord
      c.set(math.toRadians(lon), math.toRadians(lat), 0, 0)
      Dispatch.trans(pj, forward = true, c)
      (c.x, c.y)
    }
    df.collect().foreach { r =>
      val (lon, lat) = (r.getDouble(0), r.getDouble(1))
      val a = r.getStruct(2); val b = r.getStruct(3)
      val (ax, ay) = scalar(lon, lat)
      val (bx, by) = scalar(lon + 1.0, lat - 1.0)
      assert(a.getDouble(0) == ax && a.getDouble(1) == ay, s"a at ($lon, $lat)")
      assert(b.getDouble(0) == bx && b.getDouble(1) == by, s"b at ($lon, $lat)")
    }
  }
}
