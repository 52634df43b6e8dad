package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{PythonUDF, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenFallback}
import org.apache.spark.sql.catalyst.plans.logical.{ObjectConsumer, ObjectProducer}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{ProjErr, ProjError}
import graft.spark.DocsTable

/** Codegen gate over every driver query and the flagship entry: each runs
  * in a session where whole-stage codegen may not fall back to the
  * interpreter (`spark.sql.codegen.fallback=false`) and every generated
  * projection and predicate must compile (`factoryMode=CODEGEN_ONLY`), so
  * a kernel whose generated Java does not compile fails here instead of
  * running interpreted. Each query's analyzed plan must also hold no
  * ScalaUDF/PythonUDF node and no typed-object serialization fence, and
  * 18 queries pin their plan shape (pushdown, broadcast, codegen).
  *
  * Inputs: the sf0.001 tables (TESTDATA.md), or `SPARK_GRAFT_SF_DIR`. */
class CodegenGateSpec extends AnyFunSuite {
  private val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  // a child session: the codegen and AQE settings stay out of the session
  // the other suites share
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
      .newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    s.conf.set("spark.sql.shuffle.partitions", "32")
    // static plans for inspection: AQE wraps stages in leaf nodes that
    // hide codegen spans from collect()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  private val queries = SparkEntry.queries
  private def q(name: String): DataFrame =
    if (name == "entry") SparkEntry.entry(spark) else queries(name)(spark, dir)

  /** grid each query reads from the reference data tree */
  private val gridOf = Map(
    "geo_gridshift" -> "us_noaa_nadcon5_nad83_2007_nad83_2011_conus_extract.tif",
    "geo_geoid" -> "egm96_15.gtx")

  private def rootCause(t: Throwable): Throwable =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last

  /** no ScalaUDF / python-eval anywhere in the plan: every kernel must be
    * a codegen-able Catalyst expression. */
  private def udfCount(df: DataFrame): Int =
    df.queryExecution.analyzed.collect { case n =>
      n.expressions.flatMap(_.collect {
        case u: ScalaUDF => u
        case p: PythonUDF => p
      })
    }.flatten.size

  /** no typed-object serialization fence either: mapPartitions/map on a
    * Dataset hides imperative per-row code behind DeserializeToObject /
    * SerializeFromObject nodes that break whole-stage codegen exactly like
    * a ScalaUDF but without a ScalaUDF node. */
  private def objFenceCount(df: DataFrame): Int =
    df.queryExecution.analyzed.collect {
      case n: ObjectProducer => n
      case n: ObjectConsumer => n
    }.size

  for (name <- queries.keys.toSeq.sorted :+ "entry")
    test(s"$name: no UDF or object fence; runs with codegen fallback disabled") {
      try {
        val df = q(name)
        assert(udfCount(df) == 0, s"$name: ScalaUDF/PythonUDF node(s)")
        assert(objFenceCount(df) == 0, s"$name: object-fence node(s)")
        df.collect()
      } catch {
        case e: Exception if gridOf.contains(name) =>
          // without its grid the query must fail on that missing file (the
          // engine's file-not-found errno, as PROJ reports it) — not on
          // compiling
          rootCause(e) match {
            case ProjError(errno, msg) =>
              assert(errno == ProjErr.INVALID_OP_FILE_NOT_FOUND_OR_INVALID &&
                msg.contains(gridOf(name)), s"$name failed on [$errno] $msg")
            case root => fail(s"$name failed on $root", e)
          }
      }
    }

  /** CodegenFallback expressions held by executed-plan operators that run
    * outside whole-stage codegen: Spark keeps any operator holding one out
    * of its codegen stage, so each is a per-row interpreter island. */
  private def interpretedFallbacks(p: SparkPlan, inStage: Boolean = false): Seq[String] =
    p match {
      case w: WholeStageCodegenExec => interpretedFallbacks(w.child, inStage = true)
      case a: InputAdapter => interpretedFallbacks(a.child)
      case _ =>
        val here = if (inStage) Nil else p.expressions.flatMap(_.collect {
          case e: CodegenFallback => s"${p.nodeName}: ${e.prettyName}"
        })
        here ++ p.children.flatMap(interpretedFallbacks(_, inStage))
    }

  // HotSpot does not JIT-compile a method of more bytecode than this
  // (DontCompileHugeMethods, on by default), so a larger generated method
  // runs interpreted however hot it gets
  private val hugeMethodLimit = 8000

  /** the north-star pass and its anchor step on their own */
  private def northStar(name: String): DataFrame =
    if (name == "anchor")
      DocsTable.withAnchor(DocsTable.docs(spark, 2000)).where(col("lon").isNotNull)
    else q(name)

  for (name <- Seq("anchor", "entry"))
    test(s"$name: no CodegenFallback outside a codegen stage; every stage method " +
        s"under $hugeMethodLimit bytes") {
      val executed = northStar(name).queryExecution.executedPlan
      val islands = interpretedFallbacks(executed).distinct
      assert(islands.isEmpty, s"$name: interpreted operators ${islands.mkString(", ")}\n$executed")
      val stages = executed.collect { case w: WholeStageCodegenExec => w }
      assert(stages.nonEmpty, s"$name: no whole-stage codegen span\n$executed")
      val sizes = stages.map { w =>
        val size = CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
        assert(size < hugeMethodLimit, s"$name: stage ${w.codegenStageId} has a $size-byte method")
        size
      }
      info(s"${stages.size} codegen stages, largest generated method ${sizes.max} bytes")
    }

  /** the plan shape a query must keep, besides an active whole-stage
    * codegen span */
  private def plan(name: String)(wants: (String, String => Boolean)*): Unit =
    test(s"$name plan: ${("whole-stage codegen active" +: wants.map(_._1)).mkString("; ")}") {
      val executed = q(name).queryExecution.executedPlan
      val text = executed.toString
      assert(executed.collect { case w: WholeStageCodegenExec => w }.nonEmpty,
        s"$name: no whole-stage codegen span\n$text")
      wants.foreach { case (label, pred) => assert(pred(text), s"$name: $label\n$text") }
    }

  plan("q1_agg")(
    "parquet scan with ReadSchema" -> (_.contains("ReadSchema")),
    "partial aggregation (map-side combine)" -> (p => p.contains("partial") || p.contains("HashAggregate")),
    "scan present" -> (_.contains("Scan")))
  plan("q3_join")(
    "broadcast join for small side" -> (_.contains("BroadcastHashJoin")),
    "pushed filters reach scan" -> (_.contains("PushedFilters: [")),
    "scan present" -> (_.contains("Scan")))
  plan("geo_utm_zone")(
    "no shuffle for per-row transform" -> (p => !p.contains("Exchange") || p.contains("HashAggregate")))
  plan("geo_pip")(
    "broadcast of polygon cover" -> (_.contains("Broadcast")),
    "scan present" -> (_.contains("Scan")))
  plan("geo_knn")(
    "ring-cell equi-join" -> (p => p.contains("Join") || p.contains("join")),
    "windowed top-k" -> (_.contains("Window")))
  plan("dedup_minhash")(
    "shuffle on band bucket only" -> (_.contains("Exchange")),
    "scan present" -> (_.contains("Scan")))
  plan("ann_lsh")(
    "bucket equi-join" -> (p => p.contains("Join")),
    "scan present" -> (_.contains("Scan")))
  plan("ann_index")(
    "static partition filters prune the index scan" ->
      (p => "PartitionFilters: \\[[^\\]]".r.findFirstIn(p).isDefined),
    "bucket equi-join" -> (p => p.contains("Join")),
    "no cross product" -> (p => !p.contains("CartesianProduct")))
  plan("ann_ivf")(
    "cluster-id equi-join (no cross product on corpus)" -> (p => p.contains("Join")),
    "nearest-centroid assignment is a map-side argmax aggregate (max_by), " +
      "not a window over nlist x N rows" -> (p =>
        p.contains("max_by") && "partial_max_by|max_by.*\\bmerge".r.findFirstIn(p).isDefined),
    "windowed top-k" -> (_.contains("Window")))
  plan("geo_utm_native")(
    "no shuffle for per-row zone dispatch" -> (p => !p.contains("Exchange") || p.contains("TakeOrdered")))
  plan("q_asof")(
    "single window carry-forward (no range join)" -> (p =>
      p.contains("Window") && !p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop")))
  plan("media_features")(
    "scan present" -> (_.contains("Scan")))
  plan("docs_spans")(
    "generate (span explode) stays in the plan" -> (_.contains("Generate")),
    "scan present" -> (_.contains("Scan")))
  plan("geo_hexbin")(
    "partial aggregation (map-side combine)" -> (_.contains("HashAggregate")),
    "scan present" -> (_.contains("Scan")))
  plan("geo_hot_salted")(
    "shuffled hash join (not broadcast: salting must spread reducers)" ->
      (_.contains("ShuffledHashJoin")),
    "salt_id participates in the join keys" -> (_.contains("salt_id")),
    "no cross product" -> (p => !p.contains("CartesianProduct")))
  plan("text_decontam")(
    "eval set broadcasts (corpus never shuffles for the probe)" ->
      (_.contains("BroadcastHashJoin")),
    "no cross product" -> (p => !p.contains("CartesianProduct")),
    "window explode stays in the plan" -> (_.contains("Generate")))
  plan("q_mixture")(
    "rates broadcast + map-side filter" -> (_.contains("BroadcastHashJoin")),
    "no cross product" -> (p => !p.contains("CartesianProduct")))
  plan("dedup_embedding")(
    "bucket equi-join" -> (p => p.contains("Join")),
    "no cross product" -> (p => !p.contains("CartesianProduct")))
}
