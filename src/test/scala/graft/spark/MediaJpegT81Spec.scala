package graft.spark

import org.scalatest.funsuite.AnyFunSuite

/** T.81 stream structure in the one JPEG decoder: restart intervals (DRI
  * and RSTn) on sequential and progressive frames, rejection of malformed
  * segments, and the progressive stats kernel on a color stream. */
class MediaJpegT81Spec extends AnyFunSuite {

  /** encodeJpegBaseline's closed form: every block flat at dc + 128 */
  private def expectedPixels(w: Int, h: Int, seed: Long): Array[Int] = {
    val px = new Array[Int](w * h)
    var s = seed
    val wb = w / 8
    for (k <- 0 until wb * (h / 8)) {
      s = s * 6364136223846793005L + 1442695040888963407L
      val v = (((s >>> 56) & 0xff).toInt % 193) - 96 + 128
      for (r <- 0 until 8; c <- 0 until 8)
        px(((k / wb) * 8 + r) * w + (k % wb) * 8 + c) = v
    }
    px
  }

  private def decode(bytes: Array[Byte]): Option[Seq[Int]] =
    MediaCodecs.decodeJpegPixels(bytes).map(_.toSeq.map(_ & 0xff))

  test("DRI streams decode to the closed-form pixels of encodeJpegBaseline") {
    for ((w, h, seed) <- Seq((40, 24, 11L), (8, 48, 3L), (48, 8, 1499L));
         progressive <- Seq(false, true); ri <- Seq(0, 1, 2, 3, 7)) {
      val want = expectedPixels(w, h, seed).toSeq
      assert(decode(MediaCodecs.encodeJpegBaseline(w, h, seed)).contains(want))
      val got = decode(JpegTestStreams.encode(w, h, seed, ri, progressive = progressive))
      assert(got.contains(want), s"$w x $h seed $seed ri $ri progressive $progressive")
    }
  }

  test("interleaved 3-component MCUs restart like single blocks") {
    for (progressive <- Seq(false, true)) {
      val want = decode(JpegTestStreams.encode(24, 16, 5L, 0, nComp = 3, progressive = progressive))
      assert(want.map(_.length).contains(24 * 16 * 3))
      for (ri <- Seq(1, 2, 3, 7))
        assert(decode(JpegTestStreams.encode(24, 16, 5L, ri, nComp = 3,
          progressive = progressive)) == want, s"ri $ri progressive $progressive")
    }
  }

  test("wrong, missing or undeclared restart markers give None") {
    for (progressive <- Seq(false, true)) {
      def enc(ri: Int, rst: Int => Int) =
        JpegTestStreams.encode(40, 24, 11L, ri, progressive = progressive, rstNumber = rst)
      assert(decode(enc(2, i => (i + 1) & 7)).isEmpty) // starts at RST1
      assert(decode(enc(1, i => if (i == 9) 0 else i & 7)).isEmpty) // RST0 for RST1
      assert(decode(enc(1, _ & 7)).isDefined)
      // RST markers in the data, but the DRI segment removed
      val withDri = enc(2, _ & 7)
      val at = withDri.indices.find(i => (withDri(i) & 0xff) == 0xff &&
        (withDri(i + 1) & 0xff) == 0xdd).get
      assert(decode(withDri.take(at) ++ withDri.drop(at + 6)).isEmpty)
      // a DRI shorter than the stream's real interval
      val dri = withDri.clone(); dri(at + 5) = 1
      assert(decode(dri).isEmpty)
    }
  }

  /** encodeJpegBaseline(40, 24, 11) with the byte at `marker` + `off` set */
  private def patched(marker: Int, off: Int, v: Int): Array[Byte] = {
    val bytes = MediaCodecs.encodeJpegBaseline(40, 24, 11L)
    val at = bytes.indices.find(i => (bytes(i) & 0xff) == 0xff &&
      (bytes(i + 1) & 0xff) == marker).get
    bytes(at + off) = v.toByte
    bytes
  }

  test("malformed table, frame and scan headers give None") {
    assert(decode(patched(0xDB, 4, 0x00)).isDefined) // the unpatched stream
    val bad = Seq(
      "DQT table id 4" -> patched(0xDB, 4, 0x04),
      "DQT precision 2" -> patched(0xDB, 4, 0x20),
      "DQT shorter than its table" -> patched(0xDB, 3, 2 + 1 + 63),
      "DHT table id 4" -> patched(0xC4, 4, 0x04),
      "DHT class 2" -> patched(0xC4, 4, 0x20),
      "DHT values past the segment" -> patched(0xC4, 8, 13),
      "SOF H = 0" -> patched(0xC0, 11, 0x01),
      "SOF V = 5" -> patched(0xC0, 11, 0x15),
      "SOF quant table 4" -> patched(0xC0, 12, 0x04),
      "SOS DC table id 4" -> patched(0xDA, 6, 0x40),
      "SOS AC table id 4" -> patched(0xDA, 6, 0x04),
      "SOS Se = 62" -> patched(0xDA, 8, 62),
      "SOS unknown component" -> patched(0xDA, 5, 9))
    for ((what, bytes) <- bad) assert(decode(bytes).isEmpty, what)

    val good = MediaCodecs.encodeJpegBaseline(40, 24, 11L)
    val sof = good.indices.find(i => (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xc0).get
    val sofSeg = good.slice(sof, sof + 13)
    assert(decode(good.take(sof + 13) ++ sofSeg ++ good.drop(sof + 13)).isEmpty, "second SOF")
    // 65535 x 65535: a coefficient buffer past Int.MaxValue entries
    val huge = good.clone()
    for (i <- 5 to 8) huge(sof + i) = 0xff.toByte
    assert(decode(huge).isEmpty, "oversized frame")
  }

  test("jpegPixelStatsProg weights each color pixel, not each byte") {
    // a 16 x 16 block grid declared 13 x 11, so blocks do not tile the rows
    val bytes = JpegTestStreams.encode(16, 16, 5L, 0, nComp = 3, progressive = true)
    val sof = bytes.indices.find(i => (bytes(i) & 0xff) == 0xff && (bytes(i + 1) & 0xff) == 0xc2).get
    bytes(sof + 6) = 11; bytes(sof + 8) = 13
    val px = MediaCodecs.decodeJpegPixels(bytes).getOrElse(fail("decode"))
    assert(px.length == 13 * 11 * 3)
    var chk = 0L
    for (i <- px.indices) {
      val x = (i / 3) % 13 % 8; val y = (i / 3) / 13 % 8
      chk = (chk + (px(i) & 0xffL) * (1 + x) * (1 + x) * (1 + y) * (1 + y)) % 1000000007L
    }
    val row = MediaKernels.jpegPixelStatsProg(bytes)
    assert(row.getLong(0) == px.length && row.getLong(3) == chk)
    // grayscale: one byte per pixel, the fold the media_jpeg_prog oracle pins
    val gray = MediaCodecs.encodeJpegProgressive(24, 16, 9L)
    val gpx = MediaCodecs.decodeJpegPixels(gray).getOrElse(fail("decode"))
    var gchk = 0L
    for (i <- gpx.indices) {
      val x = i % 24 % 8; val y = i / 24 % 8
      gchk = (gchk + (gpx(i) & 0xffL) * (1 + x) * (1 + x) * (1 + y) * (1 + y)) % 1000000007L
    }
    assert(MediaKernels.jpegPixelStatsProg(gray).getLong(3) == gchk)
  }
}
