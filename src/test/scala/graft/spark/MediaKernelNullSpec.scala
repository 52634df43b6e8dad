package graft.spark

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The seeded JPEG encoders and the resize kernel return null, never throw
  * out of the expression, for inputs they cannot serve: a negative seed
  * that derives a dimension <= 0, and a resize factor <= 0. */
class MediaKernelNullSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("negative seeds: JPEG encoders give null for an empty dimension") {
    val rows = spark.range(-6, 0).select(col("id").as("seed"),
        MediaFunctions.jpegPixelStats(MediaFunctions.mediaEncodeJpeg(col("id"))).as("base"),
        MediaFunctions.jpegPixelStatsProg(MediaFunctions.mediaEncodeJpegProg(col("id")))
          .as("prog"))
      .collect()
    assert(rows.length == 6)
    rows.foreach { r =>
      val seed = r.getLong(0)
      def pixels(hMul: Int): Option[Long] = {
        val w = 8 * (1 + (seed % 6)); val h = 8 * (1 + ((seed * hMul) % 6))
        if (w <= 0 || h <= 0) None else Some(w * h)
      }
      // seed -6 derives 8x8; -1..-5 derive width <= 0
      assert(Option(r.getStruct(1)).map(_.getLong(0)) == pixels(5), s"baseline seed $seed")
      assert(Option(r.getStruct(2)).map(_.getLong(0)) == pixels(7), s"progressive seed $seed")
    }
  }

  test("resize factor <= 0 gives null") {
    val r = spark.range(0, 1).select(
        MediaFunctions.jpegResizeStats(MediaFunctions.mediaEncodeJpeg(lit(7L)), lit(0L)),
        MediaFunctions.jpegResizeStats(MediaFunctions.mediaEncodeJpeg(lit(7L)), lit(-2L)),
        MediaFunctions.jpegResizeStats(MediaFunctions.mediaEncodeJpeg(col("id") + 7), lit(2L)))
      .head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getStruct(2).getLong(0) > 0)
  }
}
