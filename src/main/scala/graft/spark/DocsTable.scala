package graft.spark

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic interleaved-document corpus per the engine's input contract:
  * docs(doc_id string, spans array<struct<kind, text, media_ref, offset>>).
  *
  * - seeded, reproducible: every column derives from (seed, doc id) hashes
  * - each doc carries 1..8 spans; the first 'geo' span holds the anchor
  *   "<lon> <lat> [h] [epoch]" in locale-independent text
  * - 80% of anchors cluster in 5 metro hotspots (exercises hot-cell
  *   salting), 20% uniform — see FIXTURES.md §1
  * - docs without a geo span (~6%) must flow through joins untouched
  */
object DocsTable {
  val metros: Seq[(String, Double, Double)] = Seq(
    ("tokyo", 139.69, 35.69),
    ("delhi", 77.10, 28.70),
    ("saopaulo", -46.63, -23.55),
    ("lagos", 3.38, 6.52),
    ("newyork", -74.01, 40.71))

  /** Pure generator used by both the Spark table and test oracles. */
  def spansFor(docId: Long, seed: Long): Seq[(String, String, String, Int)] = {
    val rnd = new java.util.Random(seed * 1000003L + docId * 31L)
    val nSpans = 1 + rnd.nextInt(8)
    val hasGeo = rnd.nextDouble() >= 0.06
    val geoPos = if (hasGeo) rnd.nextInt(nSpans) else -1
    var offset = 0
    (0 until nSpans).map { i =>
      val kind =
        if (i == geoPos) "geo"
        else if (rnd.nextDouble() < 0.3) "media"
        else "text"
      val span = kind match {
        case "geo" =>
          val (lon, lat) =
            if (rnd.nextDouble() < 0.8) {
              val (_, mlon, mlat) = metros(rnd.nextInt(metros.length))
              (mlon + (rnd.nextDouble() - 0.5) * 0.5,
                mlat + (rnd.nextDouble() - 0.5) * 0.5)
            } else
              (rnd.nextDouble() * 360.0 - 180.0, rnd.nextDouble() * 160.0 - 80.0)
          val h = rnd.nextDouble() * 2000.0
          val epoch = 2015.0 + rnd.nextDouble() * 10.0
          (kind, f"$lon%.9f $lat%.9f $h%.3f $epoch%.4f", "", offset)
        case "media" =>
          (kind, "", f"media://${rnd.nextLong().toHexString}", offset)
        case _ =>
          val words = Seq("the", "spark", "cell", "tile", "join", "datum",
            "shift", "geo", "span", "doc", "index", "scan")
          val n = 3 + rnd.nextInt(12)
          (kind, Seq.fill(n)(words(rnd.nextInt(words.length))).mkString(" "), "", offset)
      }
      offset += 1 + rnd.nextInt(100)
      span
    }
  }

  /** Build the docs DataFrame (distributed generation; nothing collected).
    * The span generator runs as a kernel call (DocGenKernels.docSpans), so
    * the synthesized corpus — like every kernel in the engine — stays
    * inside whole-stage codegen with no typed-object serialization fence. */
  def docs(spark: SparkSession, nDocs: Long, seed: Long = 42L,
           partitions: Int = 32): DataFrame =
    spark.range(0, nDocs, 1, partitions)
      .select(format_string("doc_%012d", col("id")).as("doc_id"),
        spans(col("id"), lit(seed)).as("spans"))

  /** doc_id → array<struct<kind, text, media_ref, offset>>: one call into
    * DocGenKernels.docSpans per row. */
  private def spans(id: Column, seed: Column): Column = {
    import org.apache.spark.sql.types._
    KernelCall.column("docSpans", DocGenKernels, "docSpans",
      ArrayType(StructType(Seq(
        StructField("kind", StringType), StructField("text", StringType),
        StructField("media_ref", StringType), StructField("offset", IntegerType)))),
      Seq(id, seed), Seq(LongType, LongType), returnNullable = true)
  }

  /** Extract the geo anchor (lon, lat, h, epoch) from the first 'geo' span
    * — one call into AnchorKernels.anchor per row, inside whole-stage
    * codegen (FIXTURES.md geo-anchor convention). Null lon/lat for docs
    * without a geo span; a malformed token gives a null field. */
  def withAnchor(docs: DataFrame): DataFrame = {
    val a = anchor(docs)
    docs
      .withColumn("lon", a.getField("lon"))
      .withColumn("lat", a.getField("lat"))
      .withColumn("anchor_h", a.getField("h"))
      .withColumn("anchor_epoch", a.getField("epoch"))
  }

  /** spans → struct(lon, lat, h, epoch). The spans type and the ordinals
    * of its `kind` and `text` fields come from the docs schema and ride as
    * plan-time literals, so any span struct carrying those two string
    * fields works. */
  private def anchor(docs: DataFrame): Column = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.types._
    val spansType = docs.schema("spans").dataType
    val span = spansType match {
      case ArrayType(st: StructType, _) => st
      case other => throw new IllegalArgumentException(
        s"withAnchor: spans must be array<struct<kind, text, ...>>, got ${other.simpleString}")
    }
    def stringField(name: String): Int = {
      val i = span.fieldIndex(name)
      require(span(i).dataType == StringType,
        s"withAnchor: span field '$name' must be a string, got ${span(i).dataType.simpleString}")
      i
    }
    KernelCall.column("anchor", AnchorKernels, "anchor", AnchorKernels.resultType,
      Seq(col("spans")), Seq(spansType), returnNullable = true,
      after = Seq(Literal(span.length), Literal(stringField("kind")),
        Literal(stringField("text")), KernelCall.obj(AnchorKernels.ScratchRef())))
  }

  /** The per-row span-sequence invariant checksum (kind, text, media_ref,
    * order) — compared before/after every operator in tests. */
  def spanChecksum(docs: DataFrame): DataFrame =
    docs.withColumn("span_ck", xxhash64(to_json(col("spans"))))

  /** Synthetic polygon zones with hand-computable membership: one box per
    * metro (FIXTURES.md §2). ring = flat [lon, lat, ...] closed implicitly. */
  def zones(spark: SparkSession, halfDeg: Double = 0.4): DataFrame = {
    import spark.implicits._
    metros.zipWithIndex.map { case ((name, lon, lat), i) =>
      val ring = Array(
        lon - halfDeg, lat - halfDeg,
        lon + halfDeg, lat - halfDeg,
        lon + halfDeg, lat + halfDeg,
        lon - halfDeg, lat + halfDeg)
      (i, name, lon, lat, ring)
    }.toDF("zone_id", "zone_name", "zone_lon", "zone_lat", "ring")
  }
}

/** Static kernel: spansFor as Catalyst data. */
object DocGenKernels {
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
  import org.apache.spark.unsafe.types.UTF8String

  def docSpans(docId: Long, seed: Long): ArrayData = {
    val spans = DocsTable.spansFor(docId, seed)
    val out = new Array[Any](spans.length)
    var i = 0
    while (i < spans.length) {
      val (kind, text, ref, off) = spans(i)
      out(i) = new GenericInternalRow(Array[Any](
        UTF8String.fromString(kind), UTF8String.fromString(text),
        UTF8String.fromString(ref), off))
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Static kernel behind DocsTable.withAnchor: one walk over a doc's spans
  * to the first non-null element whose kind is "geo", then up to four
  * space-separated tokens of its text, read straight from the UTF8String
  * bytes as `split(text, ' ')` would cut them. */
object AnchorKernels {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, EvalMode, GenericInternalRow, SpecificInternalRow}
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  val resultType: StructType = StructType(
    Seq("lon", "lat", "h", "epoch").map(StructField(_, DoubleType)))

  final class Scratch {
    val row = new SpecificInternalRow(resultType.map(_.dataType))
    /** Spark's own try_cast(token as double), for tokens off the fast path */
    val token = new GenericInternalRow(1)
    val cast = Cast(BoundReference(0, StringType, nullable = true), DoubleType,
      evalMode = EvalMode.TRY)
  }
  /** equal to every other handle, like ProjKernels.ScratchRef */
  final case class ScratchRef() {
    @transient lazy val tl: ThreadLocal[Scratch] =
      ThreadLocal.withInitial[Scratch](() => new Scratch)
  }

  private val Geo = UTF8String.fromString("geo")
  /** 10^k for k <= 22: every one is an exact double */
  private val Pow10 = Array.iterate(1.0, 23)(_ * 10)

  /** Null when there is no geo span or the first one has null text. */
  def anchor(spans: ArrayData, numFields: Int, kindOrd: Int, textOrd: Int,
             scratch: ScratchRef): InternalRow = {
    val n = spans.numElements()
    var i = 0
    while (i < n) {
      if (!spans.isNullAt(i)) {
        val span = spans.getStruct(i, numFields)
        if (!span.isNullAt(kindOrd) && span.getUTF8String(kindOrd) == Geo)
          return if (span.isNullAt(textOrd)) null
          else parse(span.getUTF8String(textOrd), scratch.tl.get())
      }
      i += 1
    }
    null
  }

  private def parse(text: UTF8String, s: Scratch): InternalRow = {
    val r = s.row
    val n = text.numBytes()
    var start = 0
    var f = 0
    while (f < 4) {
      if (start > n) r.setNullAt(f) // fewer than f + 1 tokens
      else {
        var end = start
        while (end < n && text.getByte(end) != ' ') end += 1
        token(text, start, end, r, f, s)
        start = end + 1
      }
      f += 1
    }
    r
  }

  /** Field f = bytes [from, to) of text as a double. A plain decimal
    * [+-]digits[.digits] with at most 15 significant and 22 fraction digits
    * is exact by Clinger's rule: its digits form an exact double, so does
    * 10^k, and one IEEE division rounds correctly. Any other token goes to
    * Spark's try_cast (null when it does not parse). */
  private def token(text: UTF8String, from: Int, to: Int, r: InternalRow, f: Int,
                    s: Scratch): Unit = {
    var i = from
    val neg = i < to && text.getByte(i) == '-'
    if (i < to && (neg || text.getByte(i) == '+')) i += 1
    var m = 0L; var sig = 0; var digits = 0; var frac = 0
    var dot = false; var plain = true
    while (plain && i < to) {
      val b = text.getByte(i)
      if (b >= '0' && b <= '9') {
        if (m != 0 || b != '0') sig += 1
        m = m * 10 + (b - '0'); digits += 1
        if (dot) frac += 1
      } else if (b == '.' && !dot) dot = true
      else plain = false
      i += 1
    }
    if (plain && digits > 0 && sig <= 15 && frac <= 22) {
      val v = m.toDouble / Pow10(frac)
      r.setDouble(f, if (neg) -v else v)
    } else {
      s.token.update(0,
        UTF8String.fromAddress(text.getBaseObject, text.getBaseOffset + from, to - from))
      s.cast.eval(s.token) match {
        case d: java.lang.Double => r.setDouble(f, d)
        case _ => r.setNullAt(f)
      }
    }
  }
}
