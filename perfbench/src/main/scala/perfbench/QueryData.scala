package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded star-schema tables in the layout the `SparkEntry.queries` families
  * read (region nation customer supplier part orders lineitem events
  * documents embeddings), at `sf` of the usual TPC-H row counts. Column
  * names, types and value shapes follow the sf test tables of TESTDATA.md: money has
  * at most two decimals, timestamps are zone-less, documents contain exact
  * duplicates. Every value is a function of (seed, row id), and partition
  * counts are fixed, so one seed always gives the same files. */
object QueryData {
  private val words = Seq("a", "the", "spark", "cell", "tile", "join", "datum", "shift",
    "scan", "table", "row", "key", "value", "query", "window", "batch", "stream",
    "merge", "sort", "filter", "group", "agg", "column", "data", "line", "order",
    "customer", "part", "fast", "slow", "big", "small", "vector", "hash")

  def write(spark: SparkSession, dir: String, seed: Long, sf: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000); val nEv = n(1000000)
    val nDoc = n(50000); val nVec = n(50000)
    var salt = 0
    // a fresh uniform [0, 1) stream per column
    def u(): Column = { salt += 1; rand(seed * 1000L + salt) }
    def pick(vs: Seq[String]): Column =
      element_at(array(vs.map(lit): _*), (floor(u() * vs.length) + 1).cast("int"))
    def int(lo: Long, hi: Long): Column = (floor(u() * (hi - lo + 1)) + lo).cast("long")
    def cents(lo: Long, hi: Long): Column = int(lo, hi).cast("double") / 100.0
    def day(from: String, days: Int): Column =
      date_add(lit(from).cast("date"), int(0, days - 1).cast("int"))
        .cast("timestamp_ntz")
    def range(rows: Long): DataFrame = spark.range(0, rows, 1, 4).toDF()
    def save(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    save("region", range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")).coalesce(1))
    save("nation", range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")).coalesce(1))
    save("customer", range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      int(0, 24).cast("int").as("c_nationkey"), cents(-99999, 999999).as("c_acctbal"),
      pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    save("supplier", range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      int(0, 24).cast("int").as("s_nationkey"), cents(-99999, 999999).as("s_acctbal")))
    save("part", range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(Seq("small", "red", "blue", "green", "large", "steel")),
        pick(Seq("ring", "widget", "bolt", "gear", "panel", "valve"))).as("p_name"),
      concat(lit("Brand#"), int(1, 25)).as("p_brand"),
      pick(Seq("ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO")).as("p_type"),
      int(1, 50).cast("int").as("p_size"),
      ((col("id") % 2000) + 9000).cast("double") / 10.0 as "p_retailprice"))
    save("orders", range(nOrd).select(col("id").as("o_orderkey"),
      int(0, nCust - 1).as("o_custkey"), pick(Seq("F", "O", "P")).as("o_orderstatus"),
      cents(101370, 49997859).as("o_totalprice"), day("1995-01-01", 2400).as("o_orderdate"),
      pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    save("lineitem", range(nLine).select(int(0, nOrd - 1).as("l_orderkey"),
      int(0, nPart - 1).as("l_partkey"), int(0, nSupp - 1).as("l_suppkey"),
      int(1, 7).cast("int").as("l_linenumber"), int(1, 50).cast("double").as("l_quantity"),
      cents(90182, 10499788).as("l_extendedprice"),
      int(0, 10).cast("double") / 100.0 as "l_discount",
      int(0, 8).cast("double") / 100.0 as "l_tax",
      pick(Seq("A", "N", "R")).as("l_returnflag"), pick(Seq("F", "O")).as("l_linestatus"),
      day("1995-01-02", 2500).as("l_shipdate")))
    // events arrive in id order over 30 days
    val stepUs = 30L * 86400L * 1000000L / nEv
    save("events", range(nEv).select(col("id").as("event_id"),
      (timestamp_micros(lit(1704067200000000L) + col("id") * stepUs + int(0, stepUs - 1)))
        .cast("timestamp_ntz").as("ts"),
      int(0, math.max(1L, nEv / 66) - 1).as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      cents(1, 49002).as("value"),
      concat(lit("{\"k\": "), int(0, 99), lit("}")).as("props")))
    // one document in ten repeats the text of document id / 2
    val wordArr = array(words.map(lit): _*)
    val textId = when(pmod(xxhash64(col("id"), lit(seed), lit(9)), lit(10)) === 0,
      floor(col("id") / 2)).otherwise(col("id"))
    val nWords = (pmod(xxhash64(col("tid"), lit(seed), lit(1)), lit(70)) + 10).cast("int")
    save("documents", range(nDoc).withColumn("tid", textId).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), nWords), i =>
        element_at(wordArr, (pmod(xxhash64(col("tid"), lit(seed), i), lit(words.length)) + 1)
          .cast("int")))).as("text"),
      pick(Seq("en", "en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), int(0, 19)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    save("embeddings", range(nVec).select(col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), i =>
        ((pmod(xxhash64(col("id"), lit(seed), i), lit(20001)) - 10000) / 40000.0)
          .cast("float")).as("embedding"),
      int(0, 9).cast("int").as("label")))
  }
}
