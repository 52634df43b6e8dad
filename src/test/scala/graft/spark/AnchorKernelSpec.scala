package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Geo-anchor semantics of DocsTable.withAnchor (AnchorKernels.anchor):
  * the first non-null span whose kind is "geo" wins, and field k is Spark's
  * own try_cast(element_at(split(text, ' '), k) as double), compared by raw
  * bits so -0.0 and NaN payloads count. */
class AnchorKernelSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val spanType = StructType(Seq(
    StructField("kind", StringType), StructField("text", StringType),
    StructField("media_ref", StringType), StructField("offset", IntegerType)))
  private val schema = StructType(Seq(
    StructField("doc_id", StringType), StructField("spans", ArrayType(spanType))))

  private def span(kind: String, text: String): Row = Row(kind, text, "", 0)
  private def geo(text: String): Seq[Row] = Seq(span("text", "a b"), span("geo", text))

  private val cases: Seq[(String, Seq[Row])] = Seq(
    "no geo span" -> Seq(span("text", "1 2 3 4"), span("media", "")),
    "null spans" -> null,
    "empty spans" -> Seq(),
    "null element" -> Seq(null, span("geo", "1.5 2.5 3 2020.5")),
    "null kind" -> Seq(span(null, "9 9"), span("geo", "1 2")),
    "kind is case-sensitive" -> Seq(span("GEO", "9 9"), span("geo", "1 2")),
    "first geo span has null text" -> Seq(span("geo", null), span("geo", "1 2 3 4")),
    "later geo spans ignored" -> Seq(span("geo", "1 2"), span("geo", "3 4 5 6")),
    "two tokens" -> geo("139.690000000 35.690000000"),
    "double space" -> geo("1.5  2.5 3"),
    "leading and trailing space" -> geo(" 1 2 "),
    "empty text" -> geo(""),
    "five tokens" -> geo("1 2 3 4 5"),
    "signs" -> geo("+1.5 -0.0 -7 +0"),
    "exponent and bare dot" -> geo("1e3 .5 5. -.25"),
    "special literals" -> geo("NaN Infinity -Infinity inf"),
    "hex and suffixes" -> geo("0x1p3 1d 2f 1_0"),
    "17-digit mantissa" -> geo("12345678901234567 0.12345678901234567 1.2345678901234567 9007199254740993"),
    "15 and 16 significant digits" -> geo("123456789.012345 1234567890.123456 0.000123456789012345 100000000000000000"),
    "22 and 23 fraction digits" -> geo("0.0000000000000000000001 0.00000000000000000000001 1.0000000000000000000000 -0.1000000000000000000000"),
    "malformed" -> geo("abc 1.2.3 - . "),
    "lone signs" -> geo("+ -- +-1 1-"),
    "generator format" -> geo("-46.630000000 -23.550000000 1999.999 2024.9999"))

  private def handBuilt: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(cases.map { case (name, spans) => Row(name, spans) }, 3),
    schema)

  /** the expression chain withAnchor used before its kernel, with
    * try_cast so malformed tokens give null instead of failing the query */
  private def oracle(docs: DataFrame, cast: Column => Column): DataFrame = {
    val geoText = try_element_at(
      filter(col("spans"), s => s.getField("kind") === "geo"), lit(1)).getField("text")
    val parts = split(geoText, " ")
    docs.select(col("doc_id") +: Seq("lon", "lat", "anchor_h", "anchor_epoch").zipWithIndex
      .map { case (c, k) => cast(try_element_at(parts, lit(k + 1))).as(c) }: _*)
  }

  private def bits(df: DataFrame): Map[String, Seq[Option[Long]]] =
    df.select("doc_id", "lon", "lat", "anchor_h", "anchor_epoch").collect().map { r =>
      r.getString(0) -> (1 to 4).map(i =>
        if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
    }.toMap

  test("hand-built spans: every field equals try_cast of its split token, bit for bit") {
    val got = bits(DocsTable.withAnchor(handBuilt))
    val want = bits(oracle(handBuilt, _.try_cast(DoubleType)))
    assert(got.keySet == cases.map(_._1).toSet)
    for ((name, _) <- cases)
      assert(got(name) == want(name), s"$name: got ${got(name)}, want ${want(name)}")
    // the cases above do reach the branches they are named for
    val v = got.map { case (k, fs) => k -> fs.map(_.map(java.lang.Double.longBitsToDouble)) }
    assert(v("null spans").forall(_.isEmpty))
    assert(v("first geo span has null text").forall(_.isEmpty))
    assert(v("null element") == Seq(Some(1.5), Some(2.5), Some(3.0), Some(2020.5)))
    assert(v("two tokens") == Seq(Some(139.69), Some(35.69), None, None))
    assert(v("double space") == Seq(Some(1.5), None, Some(2.5), Some(3.0)))
    assert(java.lang.Double.doubleToRawLongBits(v("signs")(1).get) == Long.MinValue) // -0.0
    assert(v("exponent and bare dot") == Seq(Some(1000.0), Some(0.5), Some(5.0), Some(-0.25)))
    assert(v("special literals")(0).exists(_.isNaN))
    assert(v("special literals")(1).contains(Double.PositiveInfinity))
    assert(v("malformed").forall(_.isEmpty))
  }

  test("10,000 generated docs: the kernel equals the old cast chain") {
    val docs = DocsTable.docs(spark, 10000)
    val got = bits(DocsTable.withAnchor(docs))
    val want = bits(oracle(docs, _.cast("double")))
    assert(got.size == 10000)
    assert(got == want)
    assert(got.values.count(_.head.isEmpty) < 1000) // ~6% have no geo span
  }

  test("any span struct carrying string kind and text fields works; others fail at plan time") {
    val reordered = spark.sql(
      "SELECT 'd' AS doc_id, array(named_struct('text', '3 4 5 6', 'kind', 'geo')) AS spans")
    assert(bits(DocsTable.withAnchor(reordered))("d") ==
      Seq(3.0, 4.0, 5.0, 6.0).map(d => Some(java.lang.Double.doubleToRawLongBits(d))))
    val noText = spark.sql("SELECT 'd' AS doc_id, array(named_struct('kind', 'geo')) AS spans")
    intercept[IllegalArgumentException](DocsTable.withAnchor(noText))
    val intKind = spark.sql("SELECT 'd' AS doc_id, array(named_struct('kind', 1, 'text', '1 2')) AS spans")
    intercept[IllegalArgumentException](DocsTable.withAnchor(intKind))
  }
}
