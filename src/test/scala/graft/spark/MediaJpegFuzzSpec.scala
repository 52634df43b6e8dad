package graft.spark

import scala.util.control.NonFatal

import org.scalatest.funsuite.AnyFunSuite

/** Malformed-input sweep for the JPEG kernels: every single-bit flip and
  * every truncation of a baseline, a progressive and a restart-interval
  * stream. A kernel may return None or null on such input, but nothing may
  * throw out of it (it runs inside a Catalyst expression). */
class MediaJpegFuzzSpec extends AnyFunSuite {

  private val streams = Seq(
    "baseline" -> MediaCodecs.encodeJpegBaseline(40, 24, 11L),
    "progressive" -> MediaCodecs.encodeJpegProgressive(24, 40, 13L),
    "restart" -> JpegTestStreams.encode(40, 24, 11L, ri = 3))

  private def mutants(good: Array[Byte]): Iterator[Array[Byte]] =
    Iterator.range(0, good.length * 8).map { bit =>
      val b = good.clone()
      b(bit / 8) = (b(bit / 8) ^ (1 << (bit % 8))).toByte
      b
    } ++ Iterator.range(0, good.length).map(n => java.util.Arrays.copyOf(good, n))

  test("bit flips and truncations never throw out of a JPEG kernel") {
    var inputs = 0
    val thrown = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    for ((name, good) <- streams; bad <- mutants(good)) {
      inputs += 1
      try {
        MediaCodecs.decodeJpegPixels(bad)
        MediaKernels.jpegPixelStats(bad)
        MediaKernels.jpegPixelStatsProg(bad)
        MediaKernels.jpegResizeStats(bad, 2L)
      } catch {
        case NonFatal(e) => thrown(s"$name: ${e.getClass.getSimpleName}") += 1
      }
    }
    assert(inputs == streams.map(_._2.length * 9).sum)
    assert(thrown.isEmpty, s"${thrown.values.sum} of $inputs inputs threw: $thrown")
  }
}
