package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Static per-row media kernels reached from generated code — the
  * binary→struct decode/featurize functions behind the multimodal column
  * path. These are pure functions of the payload bytes, so they live in
  * whole-stage codegen as ordinary Catalyst expressions (the engine's
  * zero-UDF discipline: no ScalaUDF, no typed mapPartitions with its
  * DeserializeToObject/SerializeFromObject serialization fence).
  */
object MediaKernels {

  /** deterministic payload synthesis (stand-in for a blob-storage fetch —
    * see MultimodalOps.encodeFor). */
  def encodeForSeed(seed: Long): Array[Byte] = MultimodalOps.encodeFor(seed)

  /** payload synthesis keyed by a media_ref string (seed = unsigned
    * 32-bit of the ref's hash, the derivation fetchMedia always used). */
  def encodeForRef(ref: UTF8String): Array[Byte] = {
    val seed = ref.toString.hashCode.toLong & 0xffffffffL
    MultimodalOps.encodeFor(seed)
  }

  /** header decode: (kind, width, height, sample_rate, channels) or null
    * for an unparseable payload. */
  def mediaInfo(payload: Array[Byte]): InternalRow =
    MediaCodecs.decode(payload) match {
      case Some(mi) => new GenericInternalRow(Array[Any](
        UTF8String.fromString(mi.kind), mi.width, mi.height,
        mi.sampleRate, mi.channels))
      case None => null
    }

  /** L2-normalized byte histogram of the payload — the feature vector the
    * decode pass attaches to every media row. */
  def featurize(payload: Array[Byte], dim: Int): ArrayData = {
    val feat = new Array[Float](dim)
    var i = 0
    while (i < payload.length) {
      feat((payload(i) & 0xff) % dim) += 1.0f
      i += 1
    }
    var ss = 0.0
    i = 0
    while (i < dim) { ss += feat(i).toDouble * feat(i); i += 1 }
    val norm = math.max(math.sqrt(ss).toFloat, 1e-6f)
    val out = new Array[Any](dim)
    i = 0
    while (i < dim) { out(i) = feat(i) / norm; i += 1 }
    new GenericArrayData(out)
  }

  /** full-content PNG check: inflate + un-filter every scanline, then fold
    * (n_px, px_sum, px_poly) over the recovered pixel bytes; null when the
    * payload doesn't decode. */
  def pngPixelStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodePngPixels(payload).map(byteStats).orNull

  /** (n, sum, poly) over unsigned bytes, poly = sum of b * (i + 1) mod
    * 1e9+7: the fold every pixel-stats kernel reports. */
  private def byteStats(px: Array[Byte]): InternalRow = {
    var sum = 0L; var poly = 0L; var i = 0
    while (i < px.length) {
      val b = px(i) & 0xff
      sum += b
      poly = (poly + b.toLong * (i + 1)) % 1000000007L
      i += 1
    }
    new GenericInternalRow(Array[Any](px.length.toLong, sum, poly))
  }

  /** deterministic baseline JPEG for the content-deep check: dimensions
    * and DC stream derived from the seed (see MediaCodecs); null when a
    * negative seed derives an empty or negative dimension. */
  def encodeJpegForSeed(seed: Long): Array[Byte] = {
    val w = 8 * (1 + (seed % 6)).toInt; val h = 8 * (1 + ((seed * 5) % 6)).toInt
    if (w <= 0 || h <= 0) null else MediaCodecs.encodeJpegBaseline(w, h, seed)
  }

  /** full-content JPEG check: Huffman entropy decode + dequant + IDCT,
    * then fold (n_px, px_sum, px_poly); null when the payload doesn't
    * decode. */
  def jpegPixelStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeJpegPixels(payload).map(byteStats).orNull

  /** deterministic progressive (SOF2, §G) JPEG for the content-deep
    * check: dimensions and coefficient stream derived from the seed; null
    * when a negative seed derives an empty or negative dimension. */
  def encodeJpegProgForSeed(seed: Long): Array[Byte] = {
    val w = 8 * (1 + (seed % 6)).toInt; val h = 8 * (1 + ((seed * 7) % 6)).toInt
    if (w <= 0 || h <= 0) null else MediaCodecs.encodeJpegProgressive(w, h, seed)
  }

  /** full-content progressive-JPEG check: multi-scan coefficient
    * accumulation + IDCT, then fold (n_px, px_sum, px_poly, px_chk) where
    * px_chk weights each pixel by (1+x%8)^2 * (1+y%8)^2 — a quadratic
    * in-block weight with nonzero inner product against the (4,0)/(4,4)
    * DCT bases, so AC coefficient errors (invisible to the constant and
    * global-linear folds) flip the hash; a color pixel's bytes share its
    * weight. Null when the payload doesn't decode. */
  def jpegPixelStatsProg(payload: Array[Byte]): InternalRow = {
    val info = MediaCodecs.decodeJpeg(payload) match {
      case Some(i) if i.width > 0 && i.height > 0 => i
      case _ => return null
    }
    val width = info.width
    MediaCodecs.decodeJpegPixels(payload) match {
      case Some(px) =>
        val channels = math.max(1L, px.length / (width.toLong * info.height)).toInt
        var sum = 0L; var poly = 0L; var chk = 0L; var i = 0
        while (i < px.length) {
          val b = px(i) & 0xff
          val p = i / channels
          val xm = (p % width) % 8; val ym = (p / width) % 8
          sum += b
          poly = (poly + b.toLong * (i + 1)) % 1000000007L
          chk = (chk + b.toLong * ((1 + xm) * (1 + xm) * (1 + ym) * (1 + ym))) %
            1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](px.length.toLong, sum, poly, chk))
      case None => null
    }
  }

  /** Area-average (box-filter) resize of a grayscale plane: each output
    * pixel integrates its exact source rectangle with fractional edge
    * weights — the standard downscale kernel (anti-aliased, unlike
    * nearest-neighbor), correct for any scale ratio. */
  def resizeGray(px: Array[Byte], w: Int, h: Int, w2: Int, h2: Int): Array[Byte] = {
    val out = new Array[Byte](w2 * h2)
    val sx = w.toDouble / w2; val sy = h.toDouble / h2
    var oy = 0
    while (oy < h2) {
      val y0 = oy * sy; val y1 = (oy + 1) * sy
      var ox = 0
      while (ox < w2) {
        val x0 = ox * sx; val x1 = (ox + 1) * sx
        var sum = 0.0; var area = 0.0
        var yy = math.floor(y0).toInt
        while (yy < y1) {
          val wy = math.min(y1, yy + 1.0) - math.max(y0, yy.toDouble)
          if (wy > 0 && yy < h) {
            var xx = math.floor(x0).toInt
            while (xx < x1) {
              val wx = math.min(x1, xx + 1.0) - math.max(x0, xx.toDouble)
              if (wx > 0 && xx < w) {
                sum += (px(yy * w + xx) & 0xff) * wx * wy
                area += wx * wy
              }
              xx += 1
            }
          }
          yy += 1
        }
        val v = math.round(sum / area).toInt
        out(oy * w2 + ox) = (if (v < 0) 0 else if (v > 255) 255 else v).toByte
        ox += 1
      }
      oy += 1
    }
    out
  }

  /** content-deep resize check: decode a grayscale JPEG, area-average
    * downscale by `factor`, fold (n_px, px_sum, px_poly) over the resized
    * plane. Null when the payload doesn't decode to a grayscale plane, or
    * when `factor` is not positive. */
  def jpegResizeStats(payload: Array[Byte], factor: Long): InternalRow = {
    if (factor <= 0) return null
    val info = MediaCodecs.decodeJpeg(payload) match {
      case Some(i) if i.width > 0 && i.height > 0 => i
      case _ => return null
    }
    MediaCodecs.decodeJpegPixels(payload) match {
      case Some(px) if px.length == info.width * info.height =>
        val w2 = (info.width / factor).toInt; val h2 = (info.height / factor).toInt
        if (w2 == 0 || h2 == 0) return null
        byteStats(resizeGray(px, info.width, info.height, w2, h2))
      case _ => null
    }
  }

  /** full-content WAV check: RIFF data-chunk walk + LE int16 decode, then
    * fold (n_smp, smp_sum, smp_poly); null when the payload doesn't
    * decode. */
  def wavSampleStats(payload: Array[Byte]): InternalRow =
    MediaCodecs.decodeWavSamples(payload) match {
      case Some(smp) =>
        var sum = 0L; var poly = 0L; var i = 0
        while (i < smp.length) {
          val v = smp(i).toLong
          sum += v
          poly = (poly + v * (i + 1)) % 1000000007L
          i += 1
        }
        new GenericInternalRow(Array[Any](smp.length.toLong, sum, poly))
      case None => null
    }
}

/** Column API for the media kernels: each function is one KernelCall into
  * MediaKernels. Every result is nullable: a kernel returns null for a
  * payload it cannot decode. */
object MediaFunctions {
  private def media(name: String, fn: String, dataType: DataType, args: Seq[Column],
                    types: DataType*): Column =
    KernelCall.column(name, MediaKernels, fn, dataType, args, types, returnNullable = true)

  private def stats(nullable: Boolean, fields: String*): StructType =
    StructType(fields.map(StructField(_, LongType, nullable)))
  private val jpegStats = stats(nullable = true, "n_px", "px_sum", "px_poly")

  /** synthesized payload bytes from an integer seed. */
  def mediaEncode(seed: Column): Column =
    media("mediaEncode", "encodeForSeed", BinaryType, Seq(seed), LongType)

  /** synthesized payload bytes from a media_ref string. */
  def mediaEncodeRef(ref: Column): Column =
    media("mediaEncodeRef", "encodeForRef", BinaryType, Seq(ref), StringType)

  /** header decode struct (kind, width, height, sample_rate, channels);
    * null when the payload parses as none of PNG/WAV/JPEG. */
  def mediaInfo(payload: Column): Column =
    media("mediaInfo", "mediaInfo", StructType(Seq(
      StructField("kind", StringType),
      StructField("width", IntegerType, nullable = false),
      StructField("height", IntegerType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = false),
      StructField("channels", IntegerType, nullable = false))), Seq(payload), BinaryType)

  /** L2-normalized byte-histogram feature vector. */
  def mediaFeature(payload: Column, dim: Column): Column =
    media("mediaFeature", "featurize", ArrayType(FloatType, containsNull = false),
      Seq(payload, dim), BinaryType, IntegerType)

  /** PNG content stats struct (n_px, px_sum, px_poly): inflate + un-filter,
    * folded over every recovered pixel byte. */
  def pngPixelStats(payload: Column): Column =
    media("pngPixelStats", "pngPixelStats",
      stats(nullable = false, "n_px", "px_sum", "px_poly"), Seq(payload), BinaryType)

  /** deterministic baseline JPEG payload from an integer seed. */
  def mediaEncodeJpeg(seed: Column): Column =
    media("mediaEncodeJpeg", "encodeJpegForSeed", BinaryType, Seq(seed), LongType)

  /** JPEG content stats struct (n_px, px_sum, px_poly): entropy decode +
    * IDCT, folded over every pixel. */
  def jpegPixelStats(payload: Column): Column =
    media("jpegPixelStats", "jpegPixelStats", jpegStats, Seq(payload), BinaryType)

  /** resized-plane content stats (area-average downscale by factor). */
  def jpegResizeStats(payload: Column, factor: Column): Column =
    media("jpegResizeStats", "jpegResizeStats", jpegStats, Seq(payload, factor),
      BinaryType, LongType)

  /** deterministic progressive (SOF2) JPEG payload from an integer seed. */
  def mediaEncodeJpegProg(seed: Column): Column =
    media("mediaEncodeJpegProg", "encodeJpegProgForSeed", BinaryType, Seq(seed), LongType)

  /** progressive-JPEG content stats struct (n_px, px_sum, px_poly, px_chk):
    * px_chk uses a quadratic in-block weight that sees the AC coefficients. */
  def jpegPixelStatsProg(payload: Column): Column =
    media("jpegPixelStatsProg", "jpegPixelStatsProg",
      stats(nullable = true, "n_px", "px_sum", "px_poly", "px_chk"), Seq(payload), BinaryType)

  /** WAV content stats struct (n_smp, smp_sum, smp_poly): data-chunk walk +
    * LE int16 decode, folded over every sample. */
  def wavSampleStats(payload: Column): Column =
    media("wavSampleStats", "wavSampleStats",
      stats(nullable = false, "n_smp", "smp_sum", "smp_poly"), Seq(payload), BinaryType)
}
