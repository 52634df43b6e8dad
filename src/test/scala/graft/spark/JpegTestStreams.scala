package graft.spark

/** DC-only JFIF streams with restart intervals, built in the test. Block DC
  * values come from the synthetic corpus's LCG in MCU order, one draw per
  * component and block, at the same quantizers and DC Huffman table as
  * MediaCodecs.encodeJpegBaseline. A one-component stream therefore decodes
  * to exactly the pixels of encodeJpegBaseline(w, h, seed): each block flat
  * at dc + 128. All components are sampled 1x1. */
object JpegTestStreams {

  private final class BitSink {
    val body = new java.io.ByteArrayOutputStream()
    private var buf = 0; private var cnt = 0
    def put(v: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((v >> i) & 1); cnt += 1
        if (cnt == 8) { body.write(buf); if (buf == 0xff) body.write(0); buf = 0; cnt = 0 }
        i -= 1
      }
    }
    /** pad the partial byte with 1s (end of an interval or a scan) */
    def flush(): Unit = if (cnt > 0) put(0xff, 8 - cnt)
  }

  /** @param ri restart interval in MCUs; 0 writes no DRI segment
    * @param progressive SOF2 with an interleaved DC scan, then one AC scan
    *   per component coding every restart interval as one EOB run
    * @param rstNumber the number n of the i-th RSTn marker (T.81: i mod 8)
    */
  def encode(w: Int, h: Int, seed: Long, ri: Int, nComp: Int = 1,
             progressive: Boolean = false, rstNumber: Int => Int = _ & 7): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0)
    val nBlocks = (w / 8) * (h / 8)
    val dc = Array.ofDim[Int](nComp, nBlocks)
    var s = seed
    for (blk <- 0 until nBlocks; c <- 0 until nComp) {
      s = s * 6364136223846793005L + 1442695040888963407L
      dc(c)(blk) = (((s >>> 56) & 0xff).toInt % 193) - 96
    }
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def u16(v: Int): Unit = { b(v >> 8); b(v) }
    u16(0xFFD8)
    u16(0xFFDB); u16(2 + 1 + 64); b(0)
    for (i <- 0 until 64) b(if (i == 0) 8 else 16)
    u16(if (progressive) 0xFFC2 else 0xFFC0); u16(8 + 3 * nComp)
    b(8); u16(h); u16(w); b(nComp)
    for (c <- 1 to nComp) { b(c); b(0x11); b(0) }
    // DHT: DC size categories 0..11 and AC EOBn symbols r<<4 (r = 0..14),
    // each table a canonical 4-bit code whose code value is its index
    val bits4 = (n: Int) => Seq(0, 0, 0, n) ++ Seq.fill(12)(0)
    u16(0xFFC4); u16(2 + (1 + 16 + 12) + (1 + 16 + 15))
    b(0x00); bits4(12).foreach(b); (0 to 11).foreach(b)
    b(0x10); bits4(15).foreach(b); (0 to 14).foreach(r => b(r << 4))
    if (ri > 0) { u16(0xFFDD); u16(4); u16(ri) }

    val pred = new Array[Int](nComp)
    def putDc(k: BitSink, c: Int, blk: Int): Unit = {
      var diff = dc(c)(blk) - pred(c)
      pred(c) = dc(c)(blk)
      var cat = 0; var mag = math.abs(diff)
      while (mag != 0) { cat += 1; mag >>= 1 }
      k.put(cat, 4)
      if (cat > 0) { if (diff < 0) diff += (1 << cat) - 1; k.put(diff, cat) }
    }
    def putEobRun(k: BitSink, n: Int): Unit = {
      val r = 31 - Integer.numberOfLeadingZeros(n)
      k.put(r, 4)
      if (r > 0) k.put(n - (1 << r), r)
    }
    // every scan has nBlocks MCUs: interleaved 1x1 components or one component
    def scan(comps: Seq[Int], ss: Int, se: Int)(mcu: (BitSink, Int) => Unit): Unit = {
      u16(0xFFDA); u16(6 + 2 * comps.size); b(comps.size)
      comps.foreach { c => b(c + 1); b(0x00) }
      b(ss); b(se); b(0)
      val k = new BitSink
      java.util.Arrays.fill(pred, 0)
      for (m <- 0 until nBlocks) {
        if (ri > 0 && m > 0 && m % ri == 0) {
          k.flush(); k.body.write(0xff); k.body.write(0xD0 + rstNumber(m / ri - 1))
          java.util.Arrays.fill(pred, 0)
        }
        mcu(k, m)
      }
      k.flush()
      out.write(k.body.toByteArray)
    }
    if (!progressive) scan(0 until nComp, 0, 63) { (k, m) =>
      for (c <- 0 until nComp) { putDc(k, c, m); k.put(0, 4) } // DC, then EOB
    } else {
      scan(0 until nComp, 0, 0) { (k, m) => for (c <- 0 until nComp) putDc(k, c, m) }
      for (c <- 0 until nComp) scan(Seq(c), 1, 63) { (k, m) =>
        if (ri == 0 && m == 0) putEobRun(k, nBlocks)
        else if (ri > 0 && m % ri == 0) putEobRun(k, math.min(ri, nBlocks - m))
      }
    }
    u16(0xFFD9)
    out.toByteArray
  }
}
