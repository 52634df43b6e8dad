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

  /** Extract the geo anchor (lon, lat, h, epoch) from the first 'geo' span —
    * a pure column expression, no UDTF (FIXTURES.md geo-anchor convention).
    * Null lon/lat for docs without a geo span. */
  def withAnchor(docs: DataFrame): DataFrame = {
    val geoText = try_element_at(
      filter(col("spans"), s => s.getField("kind") === "geo"), lit(1))
      .getField("text")
    val parts = split(geoText, " ")
    docs
      .withColumn("lon", try_element_at(parts, lit(1)).cast("double"))
      .withColumn("lat", try_element_at(parts, lit(2)).cast("double"))
      .withColumn("anchor_h", try_element_at(parts, lit(3)).cast("double"))
      .withColumn("anchor_epoch", try_element_at(parts, lit(4)).cast("double"))
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
