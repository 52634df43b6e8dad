package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.core.Coord
import graft.proj.{Dispatch, Proj}
import graft.spark.{DocsTable, GeoFunctions, GeoKernels, ProjFunctions, SpatialJoins}

/** The outcome of one operation: how many input items it covered and, if
  * its output was wrong, why. */
final case class OpResult(label: String, items: Long, failure: Option[String])

/** One benchmark workload. `setup` writes the seeded inputs under the work
  * directory (the benchmark times it); `warm` runs the first operation(s)
  * and keeps their output as the reference every later operation must
  * reproduce; `check` compares a seeded sample of the output with an
  * independent scalar computation. */
trait Workload {
  def itemUnit: String
  def setup(spark: SparkSession): Unit
  def warm(spark: SparkSession): Seq[String]
  /** the label of the next operation in the closed loop */
  def next(): String
  def run(spark: SparkSession, label: String, opId: Long, tracer: Tracer): OpResult
  /** true when the loop may stop here (whole rounds for mixes) */
  def atRoundEnd: Boolean = true
  /** untimed operations after `warm`, so the JIT settles before timing */
  def warmupOps: Int = 4
  def check(spark: SparkSession): Seq[String]
  /** one fixed unit of work for the local[1] vs local[4] scaling probe */
  def scalingOp(spark: SparkSession): Unit
  /** the north-star corpus and join inputs the layer probes run on */
  def docsCorpus: Option[String] = None
  def joinInputs: Option[JoinInputs] = None
  def extraRecord: Seq[(String, Any)] = Nil
}

object Workloads {
  val names: Seq[String] = Seq("tiling_batch", "join_skew", "query_mix")

  def apply(name: String, seed: Long, work: String): Workload = name match {
    case "tiling_batch" => new TilingBatch(seed, work, nDocs = 100000)
    case "join_skew" => new JoinSkew(seed, work)
    case "query_mix" => new QueryMix(seed, work)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${names.mkString(", ")})")
  }

  /** count plus an order-independent hash of every column, so column pruning
    * cannot skip any kernel. */
  def force(df: DataFrame): (Long, Long) = forcePlan(df)._1

  /** force, also returning the executed plan for its SQL metrics */
  def forcePlan(df: DataFrame): ((Long, Long), SparkPlan) = {
    val agg = df.select(count(lit(1)), sum(pmod(xxhash64(struct(
      df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)), lit(1000000007L))))
    val r = agg.collect().head
    ((r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1)), agg.queryExecution.executedPlan)
  }

  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** The north-star enrichment pipeline over a parquet docs corpus: anchor,
  * utmNative, GDA Helmert pipeline, S2 cell, tile, webmerc + hex, an 8-zone
  * UTM fan-out and a PIP join against the 5 broadcast metro zones. */
object NorthStar {
  val zoneFanOut: Seq[Int] = (1 to 8).map(_ * 7)

  def anchored(spark: SparkSession, corpus: String): DataFrame =
    DocsTable.withAnchor(spark.read.parquet(corpus)).where(col("lon").isNotNull)

  /** every kernel of the pass over rows that already carry lon/lat */
  def enrich(spark: SparkSession, docs: DataFrame): DataFrame = {
    var e = docs
      .withColumn("utm", ProjFunctions.utmNative(col("lon"), col("lat")))
      .withColumn("gda", ProjFunctions.projTrans2(col("lon"), col("lat"), Layers.gdaPipe))
      .withColumn("s2_cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(12)))
      .withColumn("tile", GeoFunctions.tileKey(col("lon"), col("lat"), lit(12)))
      .withColumn("wm", ProjFunctions.projTrans2(col("lon"), col("lat"), Layers.webmercPipe))
      .withColumn("hex", GeoFunctions.hexBin(col("wm.x"), col("wm.y"), lit(50000.0)))
    for (z <- zoneFanOut)
      e = e.withColumn(s"utm_$z", ProjFunctions.projTrans2(col("lon"), col("lat"),
        s"proj=utm zone=$z ellps=WGS84").getField("x"))
    SpatialJoins.pipJoin(e, DocsTable.zones(spark), level = 10)
      .select(col("doc_id"), col("zone_id"), col("utm.zone").as("utm_zone"),
        col("utm.x").as("utm_x"), col("utm.y").as("utm_y"), col("gda.x").as("gda_x"),
        col("gda.y").as("gda_y"), col("s2_cell"), col("tile"), col("hex.q").as("hex_q"),
        col("hex.r").as("hex_r"), col("lon"), col("lat"),
        array(zoneFanOut.map(z => col(s"utm_$z")): _*).as("utm_fan"))
  }

  def pass(spark: SparkSession, corpus: String): DataFrame =
    enrich(spark, anchored(spark, corpus))

  /** read + anchor only: the `docs` layer's share of the pass */
  def anchorScan(spark: SparkSession, corpus: String): (Long, Long) =
    Workloads.force(anchored(spark, corpus)
      .select(col("doc_id"), col("lon"), col("lat"), col("anchor_h"), col("anchor_epoch")))

  /** Scalar reference for a sample of enriched rows: utm zone/x/y, the GDA
    * pipeline and the 8-zone fan-out through Proj.create + Dispatch.trans,
    * and zone membership by brute-force pointInRing over every zone. */
  def checkSample(spark: SparkSession, corpus: String, seed: Long, nSample: Int): Seq[String] = {
    val nDocs = spark.read.parquet(corpus).count()
    val rnd = new java.util.Random(seed ^ 0x5eedL)
    val ids = Seq.fill(nSample)(f"doc_${math.floorMod(rnd.nextLong(), nDocs)}%012d").distinct
    val docs = anchored(spark, corpus).where(col("doc_id").isin(ids: _*))
      .select("doc_id", "lon", "lat").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val got = pass(spark, corpus).where(col("doc_id").isin(ids: _*)).collect()
      .groupBy(_.getAs[String]("doc_id"))
    val zones = DocsTable.zones(spark).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](4).toArray))
    val rad = math.Pi / 180
    def trans(proj: String, lon: Double, lat: Double): (Double, Double) = {
      val c = new Coord
      c.set(lon * rad, lat * rad, 0.0, 0.0)
      Dispatch.trans(Proj.create(proj), true, c)
      (c.x, c.y)
    }
    def close(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b))
    docs.toSeq.flatMap { case (id, lon, lat) =>
      val want = zones.filter { case (_, ring) =>
        GeoKernels.pointInRing(lon, lat,
          new org.apache.spark.sql.catalyst.util.GenericArrayData(ring.map(d => d: Any)))
      }.map(_._1).toSet
      val rows = got.getOrElse(id, Array.empty)
      val zoneErr =
        if (rows.map(_.getAs[Int]("zone_id")).toSet != want)
          Seq(s"$id: zones ${rows.map(_.getAs[Int]("zone_id")).sorted.mkString(",")} != ${want.toSeq.sorted.mkString(",")}")
        else Nil
      val valueErr = rows.headOption.toSeq.flatMap { r =>
        val zone = math.min(60, math.max(1, math.floor((lon + 180) / 6).toInt + 1))
        val south = if (lat < 0) " south" else ""
        val (ux, uy) = trans(s"proj=utm zone=$zone$south ellps=WGS84", lon, lat)
        val (gx, gy) = trans(Layers.gdaPipe, lon, lat)
        val fan = zoneFanOut.map(z => trans(s"proj=utm zone=$z ellps=WGS84", lon, lat)._1)
        val gotFan = r.getSeq[Double](r.fieldIndex("utm_fan"))
        val diffs = Seq(
          "utm_zone" -> (r.getAs[Int]("utm_zone") == zone),
          "utm_x" -> close(r.getAs[Double]("utm_x"), ux),
          "utm_y" -> close(r.getAs[Double]("utm_y"), uy),
          "gda_x" -> close(r.getAs[Double]("gda_x") * rad, gx),
          "gda_y" -> close(r.getAs[Double]("gda_y") * rad, gy),
          "utm_fan" -> fan.zip(gotFan).forall { case (a, b) => close(b, a) },
          "s2_cell" -> (r.getAs[Long]("s2_cell") == GeoKernels.s2Cell(lon, lat, 12)))
          .collect { case (f, false) => f }
        if (diffs.isEmpty) Nil
        else Seq(s"$id: ${diffs.mkString(", ")} differ from the scalar reference")
      }
      zoneErr ++ valueErr
    }
  }
}

final class TilingBatch(seed: Long, work: String, nDocs: Long) extends Workload {
  val itemUnit = "docs"
  private val corpus = s"$work/docs.parquet"
  private var reference: (Long, Long) = (0L, 0L)

  def setup(spark: SparkSession): Unit =
    DocsTable.docs(spark, nDocs, seed, partitions = 8)
      .write.mode("overwrite").parquet(corpus)

  def warm(spark: SparkSession): Seq[String] = {
    reference = Workloads.force(NorthStar.pass(spark, corpus))
    Nil
  }
  def next(): String = "pass"
  def run(spark: SparkSession, label: String, opId: Long, tracer: Tracer): OpResult = {
    val got = tracer.span("query.pass", opId)(Workloads.force(NorthStar.pass(spark, corpus)))
    OpResult(label, nDocs,
      if (got == reference) None else Some(s"pass checksum $got != first pass $reference"))
  }
  def check(spark: SparkSession): Seq[String] = NorthStar.checkSample(spark, corpus, seed, 200)
  def scalingOp(spark: SparkSession): Unit = Workloads.force(NorthStar.pass(spark, corpus))
  override def docsCorpus: Option[String] = Some(corpus)
  override def extraRecord: Seq[(String, Any)] = Seq("input_docs" -> nDocs,
    "reference_rows" -> reference._1)
}

/** Seeded inputs of the spatial joins: points (80 % in 5 metro hotspots),
  * a polygon table and kNN query points, as parquet. */
final case class JoinInputs(points: String, polygons: String, queries: String,
                            nPoints: Long, level: Int)

object JoinInputs {
  /** a convex ring of 5..8 vertices around (lon, lat), radius in degrees */
  private def ring(rnd: java.util.Random, lon: Double, lat: Double, r: Double): Array[Double] = {
    val k = 5 + rnd.nextInt(4)
    val phase = rnd.nextDouble() * math.Pi
    (0 until k).flatMap { i =>
      val a = phase + 2 * math.Pi * i / k
      Seq(lon + r * math.cos(a), lat + r * math.sin(a))
    }.toArray
  }

  private def hotspot(rnd: java.util.Random, spread: Double): (Double, Double) =
    if (rnd.nextDouble() < 0.8) {
      val (_, mlon, mlat) = DocsTable.metros(rnd.nextInt(DocsTable.metros.length))
      (mlon + (rnd.nextDouble() - 0.5) * spread, mlat + (rnd.nextDouble() - 0.5) * spread)
    } else (rnd.nextDouble() * 340.0 - 170.0, rnd.nextDouble() * 140.0 - 70.0)

  def polygonRings(seed: Long, n: Int): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed * 31L + 5L)
    Seq.fill(n) {
      val (lon, lat) = hotspot(rnd, 0.5)
      ring(rnd, lon, lat, 0.005 + rnd.nextDouble() * 0.02)
    }
  }

  def write(spark: SparkSession, dir: String, seed: Long, nPoints: Long,
            nPolygons: Int, nQueries: Int): JoinInputs = {
    import spark.implicits._
    val hot = rand(seed * 11 + 1) < 0.8
    val metro = floor(rand(seed * 11 + 2) * DocsTable.metros.length).cast("int")
    val mlon = element_at(array(DocsTable.metros.map(m => lit(m._2)): _*), metro + 1)
    val mlat = element_at(array(DocsTable.metros.map(m => lit(m._3)): _*), metro + 1)
    val pts = spark.range(0, nPoints, 1, 8).select(col("id").as("point_id"),
      when(hot, mlon + (rand(seed * 11 + 3) - 0.5) * 0.5)
        .otherwise(rand(seed * 11 + 4) * 340.0 - 170.0).as("lon"),
      when(hot, mlat + (rand(seed * 11 + 5) - 0.5) * 0.5)
        .otherwise(rand(seed * 11 + 6) * 140.0 - 70.0).as("lat"))
    val in = JoinInputs(s"$dir/points.parquet", s"$dir/polygons.parquet",
      s"$dir/queries.parquet", nPoints, level = 12)
    pts.write.mode("overwrite").parquet(in.points)
    polygonRings(seed, nPolygons).zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("zone_id", "ring").repartition(4).write.mode("overwrite").parquet(in.polygons)
    val rnd = new java.util.Random(seed * 13L + 7L)
    Seq.tabulate(nQueries) { i => val (lo, la) = hotspot(rnd, 0.5); (i.toLong, lo, la) }
      .toDF("q_id", "lon", "lat").repartition(4).write.mode("overwrite").parquet(in.queries)
    in
  }
}

/** The shuffle spatial joins: pipJoin without broadcast against thousands of
  * polygons, kNN without broadcast, and the salted hot-tile join. */
object JoinOps {
  val salt = 16

  def pip(spark: SparkSession, in: JoinInputs): DataFrame =
    SpatialJoins.pipJoin(spark.read.parquet(in.points), spark.read.parquet(in.polygons),
      level = in.level, broadcastZones = false).select("point_id", "zone_id")

  def knn(spark: SparkSession, in: JoinInputs): DataFrame =
    SpatialJoins.knnJoin(spark.read.parquet(in.queries).select("q_id", "lon", "lat"),
      spark.read.parquet(in.points), k = 5, level = in.level, rings = 1,
      broadcastQueries = false, distQuantM = 0.001)
      .select("q_id", "point_id", "rnk", "dist_q")

  /** points per z8 tile joined to a per-tile weight table, the dense side
    * salted `salt` ways and the weights replicated */
  def salted(spark: SparkSession, in: JoinInputs): DataFrame = {
    val tiled = SpatialJoins.tileAssign(spark.read.parquet(in.points), z = 8)
    val weights = tiled.select("tile_key").distinct()
      .withColumn("weight", pmod(col("tile_key"), lit(97L)))
    SpatialJoins.saltCells(tiled, col("point_id"), salt)
      .join(SpatialJoins.replicateForSalt(weights, salt).hint("shuffle_hash"),
        Seq("tile_key", "salt_id"))
      .groupBy("tile_key").agg(count(lit(1)).as("n"), sum("weight").as("wsum"))
  }

  val byName: Seq[(String, (SparkSession, JoinInputs) => DataFrame)] =
    Seq("pip" -> pip, "knn" -> knn, "salted" -> salted)

  /** pipJoin result for sampled points vs a brute-force pointInRing scan of
    * every polygon */
  def checkPip(spark: SparkSession, in: JoinInputs, seed: Long, nSample: Int): Seq[String] = {
    val rnd = new java.util.Random(seed ^ 0x9157L)
    val ids = Seq.fill(nSample)(math.floorMod(rnd.nextLong(), in.nPoints)).distinct
    val pts = spark.read.parquet(in.points).where(col("point_id").isin(ids: _*))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    val polys = spark.read.parquet(in.polygons).collect()
      .map(r => (r.getInt(0), new org.apache.spark.sql.catalyst.util.GenericArrayData(
        r.getSeq[Double](1).map(d => d: Any).toArray)))
    val got = pip(spark, in).where(col("point_id").isin(ids: _*)).collect()
      .groupBy(_.getLong(0)).map { case (k, rs) => k -> rs.map(_.getInt(1)).toSet }
    pts.toSeq.flatMap { case (id, lon, lat) =>
      val want = polys.filter(p => GeoKernels.pointInRing(lon, lat, p._2)).map(_._1).toSet
      val have = got.getOrElse(id, Set.empty[Int])
      if (have == want) Nil
      else Seq(s"point $id: polygons ${have.toSeq.sorted.mkString(",")} != brute force ${want.toSeq.sorted.mkString(",")}")
    }
  }
}

/** One operation is one of the three joins; a round runs all three in a
  * fixed order, so every run weighs them equally. */
final class JoinSkew(seed: Long, work: String) extends Workload {
  val itemUnit = "points"
  private val nPoints = 150000L
  private var in: JoinInputs = _
  private val reference = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private var pos = 0

  def setup(spark: SparkSession): Unit =
    in = JoinInputs.write(spark, work, seed, nPoints, nPolygons = 4000, nQueries = 400)
  def warm(spark: SparkSession): Seq[String] = {
    JoinOps.byName.foreach { case (j, df) => reference(j) = Workloads.force(df(spark, in)) }
    Nil
  }
  def next(): String = {
    pos += 1
    JoinOps.byName((pos - 1) % JoinOps.byName.length)._1
  }
  override def atRoundEnd: Boolean = pos % JoinOps.byName.length == 0
  override def warmupOps: Int = JoinOps.byName.length
  def run(spark: SparkSession, label: String, opId: Long, tracer: Tracer): OpResult = {
    val df = JoinOps.byName.find(_._1 == label).get._2
    val got = tracer.span(s"join.$label", opId)(Workloads.force(df(spark, in)))
    OpResult(label, nPoints, if (reference.get(label).contains(got)) None
      else Some(s"$label checksum $got != first result ${reference.get(label)}"))
  }
  def check(spark: SparkSession): Seq[String] = JoinOps.checkPip(spark, in, seed, 300)
  def scalingOp(spark: SparkSession): Unit =
    JoinOps.byName.foreach { case (_, df) => Workloads.force(df(spark, in)) }
  override def joinInputs: Option[JoinInputs] = Some(in)
  override def extraRecord: Seq[(String, Any)] = Seq("input_points" -> nPoints,
    "input_polygons" -> 4000, "input_queries" -> 400,
    "reference_rows" -> Json.obj(reference.toSeq.sortBy(_._1).map { case (k, v) => k -> v._1 }: _*))
}

/** `SparkEntry.queries` over seeded tables, in a seeded shuffled order per
  * round. The first round writes every result for the DuckDB oracle
  * comparison and keeps its checksum; every later run of a query must
  * reproduce that checksum. */
final class QueryMix(seed: Long, work: String) extends Workload {
  val itemUnit = "queries"
  private val dataDir = s"$work/tables"
  private val oracleDir = s"$work/oracle"

  /** The timed mix: every query family (relational, geo kernels and joins,
    * text, dedup, media), limited to queries whose first run and DuckDB
    * oracle both fit the per-run budget. The rest are listed with their
    * reason in every run. */
  val mix: Seq[String] = Seq(
    "q1_agg", "q3_join", "q_window", "q_sessions",
    "geo_dispatch", "geo_datum_shift", "geo_tile_agg", "geo_pip", "geo_knn",
    "geo_hot_salted", "geo_global_hex",
    "text_metrics", "dedup_exact", "dedup_minhash", "lang_id", "media_jpeg").sorted
  private val needsReferenceData = Set("geo_gridshift", "geo_geoid")
  private val slowFirstRun = Set("geo_hex_knn", "q_stream_window", "ann_index", "dedup_keep",
    "q_snapshot_compact", "q_stream_dedup", "dedup_clusters")
  private val slowOracle = Set("geo_utm_native", "geo_knn_geodesic", "geo_epsg")
  val excluded: Map[String, String] = SparkEntry.queries.keys.filterNot(mix.contains).map { q =>
    q -> (if (needsReferenceData(q))
      "reads a grid from the reference data tree, which lies outside the benchmark checkout"
    else if (slowFirstRun(q)) "first run takes 3 s or more at sf 0.01; too long for one run"
    else if (slowOracle(q)) "its DuckDB oracle takes 3 s or more at sf 0.01; too long for one run"
    else "left out to keep one run within its time budget")
  }.toMap

  private val reference = scala.collection.mutable.Map.empty[String, (Long, Long)]
  private val firstMs = scala.collection.mutable.Map.empty[String, Double]
  private var order: Seq[String] = Nil
  private var round = 0
  private var pos = 0

  def setup(spark: SparkSession): Unit = QueryData.write(spark, dataDir, seed, sf = 0.01)

  private def shuffled(r: Int): Seq[String] = new scala.util.Random(seed * 1009L + r).shuffle(mix)

  def warm(spark: SparkSession): Seq[String] = {
    val failures = shuffled(0).flatMap { q =>
      try {
        val (_, s) = Workloads.time {
          SparkEntry.queries(q)(spark, dataDir).write.mode("overwrite").parquet(s"$oracleDir/$q")
          reference(q) = Workloads.force(spark.read.parquet(s"$oracleDir/$q"))
        }
        firstMs(q) = s * 1000
        System.err.println(f"perfbench: first run of $q%s took ${s * 1000}%.0f ms")
        Nil
      } catch { case e: Exception => Seq(s"$q: ${e.getClass.getSimpleName}: ${e.getMessage}") }
    }
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => mix.contains(k) }.toSeq.sortBy(_._1)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$oracleDir/oracle_sql.json"),
      Json.write(Json.obj(oracles: _*)))
    round = 1
    order = shuffled(round)
    failures
  }

  def next(): String = {
    if (pos == order.length) { round += 1; order = shuffled(round); pos = 0 }
    pos += 1
    order(pos - 1)
  }
  override def atRoundEnd: Boolean = pos == order.length
  /** the first round already ran every query once */
  override def warmupOps: Int = 0

  def run(spark: SparkSession, label: String, opId: Long, tracer: Tracer): OpResult =
    try {
      val got = tracer.span(s"query.$label", opId)(
        Workloads.force(SparkEntry.queries(label)(spark, dataDir)))
      OpResult(label, 1, if (reference.get(label).contains(got)) None
        else Some(s"$label: checksum $got != first result ${reference.get(label)}"))
    } catch { case e: Exception =>
      OpResult(label, 1, Some(s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  /** the oracle comparison runs after the JVM exits (DuckDB, in run.py) */
  def check(spark: SparkSession): Seq[String] = Nil
  def scalingOp(spark: SparkSession): Unit =
    Seq("q1_agg", "q3_join", "geo_pip", "text_metrics")
      .foreach(q => Workloads.force(SparkEntry.queries(q)(spark, dataDir)))
  override def extraRecord: Seq[(String, Any)] = Seq(
    "input_sf" -> 0.01, "mix_size" -> mix.length, "rounds_started" -> round,
    "excluded" -> Json.obj(excluded.toSeq.sorted: _*),
    "tables_dir" -> dataDir, "oracle_dir" -> oracleDir,
    "first_run_ms" -> Json.obj(firstMs.toSeq.sorted: _*))
}
