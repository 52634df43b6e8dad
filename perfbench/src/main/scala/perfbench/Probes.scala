package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.functions._

import graft.spark.{DocsTable, GeoFunctions, Snapshots}

/** Layer probes of the traced run. Each runs against the workload's own
  * inputs when the workload exercises that layer, otherwise against small
  * inputs made from the same seed, and reads its figures from outside:
  * wall time around public calls and SQL metrics of the executed plan. */
object Probes {
  private def median(reps: Int)(body: => Any): Double = {
    body // warm-up
    Stats.median(Seq.fill(reps)(Workloads.time(body)._2))
  }

  /** every node of an executed plan, looking through AQE stages */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => r +: nodes(r.child)
    case other => other +: other.children.flatMap(nodes)
  }

  private def rows(p: SparkPlan): Option[Long] = p.metrics.get("numOutputRows").map(_.value)

  /** docs.anchor_scan_s (read + anchor only) and tiling.kernel_s, the rest
    * of the pass: the median pass minus the median anchor scan */
  def docsSplit(spark: SparkSession, corpus: String): Seq[(String, Double)] = {
    val anchor = median(3)(NorthStar.anchorScan(spark, corpus))
    val pass = median(3)(Workloads.force(NorthStar.pass(spark, corpus)))
    Seq("docs.anchor_scan_s" -> anchor, "tiling.kernel_s" -> (pass - anchor),
      "tiling.pass_s" -> pass)
  }

  def joins(spark: SparkSession, in: JoinInputs, nQueries: Long,
            probe: SparkProbe): Seq[(String, Double)] = {
    val covers = spark.read.parquet(in.polygons)
      .withColumn("cell", explode(GeoFunctions.coverCells(col("ring"), lit(in.level))))
    val coverS = median(3)(Workloads.force(covers))
    val mark = probe.mark()
    // Catalyst folds the pointInRing filter into the join condition, so the
    // candidates are counted by the same equi-join on the cover cells alone
    val hits = Workloads.force(JoinOps.pip(spark, in))._1
    val candidates = Workloads.force(spark.read.parquet(in.points)
      .withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(in.level)))
      .join(covers, Seq("cell")).select("point_id", "zone_id"))._1
    val knnJoinRows = nodes(Workloads.forcePlan(JoinOps.knn(spark, in))._2)
      .filter(_.getClass.getSimpleName.endsWith("JoinExec")).flatMap(rows)
    Workloads.force(JoinOps.salted(spark, in))
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val skew = probe.since(mark).hotTaskSkew
    Seq("join.cover_build_s" -> coverS,
      "join.pip_candidates_per_hit" -> candidates.toDouble / math.max(1L, hits),
      "join.knn_candidates_per_query" ->
        knnJoinRows.maxOption.getOrElse(0L).toDouble / math.max(1L, nQueries),
      "join.hot_task_skew" -> skew)
  }

  /** One Snapshots.commit of an enriched docs batch partitioned by a cell
    * prefix, then cell-range scans of the latest snapshot. */
  def snapshots(spark: SparkSession, corpus: String, work: String,
                probe: SparkProbe): (Seq[(String, Double)], Seq[Double]) = {
    val table = s"$work/snap_table"
    val batch = NorthStar.anchored(spark, corpus).select("doc_id", "lon", "lat")
      .withColumn("cell", GeoFunctions.s2Cell(col("lon"), col("lat"), lit(12)))
      .withColumn("cell_prefix", shiftright(col("cell"), 59))
    val docs = batch.count()
    val mark = probe.mark()
    val (_, commitS) = Workloads.time(
      Snapshots.commit(batch, table, "cell_prefix", "cell", "perfbench"))
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    val writeS = probe.writeSecondsSince(mark)
    val snapDir = Paths.get(s"$table/snapshot-${"%06d".format(Snapshots.latestId(table))}")
    val files = Files.walk(snapDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
    val bytes = files.map(Files.size).sum
    // one scan per metro: the cells of its level-6 parent
    val ranges = DocsTable.metros.map { case (_, lon, lat) =>
      val c = graft.index.S2CellId.cellId(lon, lat, 6)
      (graft.index.S2CellId.rangeMin(c), graft.index.S2CellId.rangeMax(c))
    }
    def scan(lo: Long, hi: Long) =
      Workloads.forcePlan(Snapshots.read(spark, table)
        .where(col("cell_prefix").between(lo >> 59, hi >> 59) && col("cell").between(lo, hi)))
    ranges.foreach { case (lo, hi) => scan(lo, hi) } // warm-up
    val scanned = ranges.map { case (lo, hi) =>
      val ((_, plan), s) = Workloads.time(scan(lo, hi))
      val read = nodes(plan).flatMap(_.metrics.get("numFiles").map(_.value)).sum
      (read.toDouble / math.max(1, files.size), s * 1000)
    }
    (Seq("snap.write_s" -> writeS, "snap.manifest_s" -> math.max(0.0, commitS - writeS),
      "snap.bytes_per_doc" -> bytes.toDouble / math.max(1L, docs),
      "snap.files_per_commit" -> files.size.toDouble,
      "scan.files_read_ratio" -> Stats.median(scanned.map(_._1))),
      scanned.map(_._2))
  }
}
