package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  *
  * Sets up the workload's seeded inputs three times (timed), runs its first
  * operation as the reference, then drives a closed loop with one client for
  * S seconds. With --trace 1 every operation runs twice, untraced and then
  * traced (alternating which goes first), and the layer probes and the
  * local[1] vs local[4] scaling probe run after the loop. The run record
  * (raw samples, failures, session config, host facts) is written to FILE as
  * JSON; percentiles and spreads are computed by the caller. */
object Main {
  val cores = 4
  val setupRepeats = 3

  def conf(work: String): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> "8",
    "spark.default.parallelism" -> "8",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"$work/spark-local",
    "spark.sql.warehouse.dir" -> s"$work/warehouse",
    "spark.sql.streaming.checkpointLocation" -> s"$work/checkpoints")

  def session(cores: Int, work: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
    conf(work).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def loadavg(): Double =
    scala.util.Try(Files.readString(Paths.get("/proc/loadavg")).trim.split(" ")(0).toDouble)
      .getOrElse(-1.0)

  private def rssPeakMb(): Double =
    scala.util.Try {
      Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
        .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024
    }.getOrElse(-1.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val work = opts("work")
    val out = opts("out")
    Files.createDirectories(Paths.get(work))
    val loadStart = loadavg()

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val phases = scala.collection.mutable.ArrayBuffer.empty[(String, Any)]
    var phaseStart = System.currentTimeMillis()
    phases += "jvm_start_s" -> (phaseStart - jvmStart) / 1e3
    def phase(name: String): Unit = {
      val now = System.currentTimeMillis()
      phases += name -> (now - phaseStart) / 1e3
      phaseStart = now
    }
    var spark = session(cores, work)
    phase("session_s")
    val wl = Workloads(workload, seed, work)
    val setupS = (1 to setupRepeats).map(_ => Workloads.time(wl.setup(spark))._2)
    val warmFailures = wl.warm(spark)
    phase("setup_s")
    for (_ <- 1 to wl.warmupOps) wl.run(spark, wl.next(), -1, new Tracer(false))
    phase("warm_s")

    val tracer = new Tracer(trace)
    val probe = new SparkProbe
    def traced[A](body: => A): A = {
      org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
      spark.sparkContext.addSparkListener(probe)
      spark.listenerManager.register(probe)
      try body
      finally {
        org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
        spark.sparkContext.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
    }

    // closed loop, one client
    final case class Sample(label: String, ms: Double, items: Long, failure: Option[String],
                            tracedMs: Double, stats: Option[probe.OpStats], compileMs: Double)
    val samples = scala.collection.mutable.ArrayBuffer.empty[Sample]
    val off = new Tracer(false)
    // whole rounds only, and no round that would end after `seconds`, judged
    // by the duration of the round before it
    val loopStart = System.nanoTime()
    var roundStart = loopStart
    var more = true
    var opId = 0L
    while (more) {
      val label = wl.next()
      if (!trace) {
        val (r, s) = Workloads.time(wl.run(spark, label, opId, off))
        samples += Sample(label, s * 1000, r.items, r.failure, Double.NaN, None, Double.NaN)
      } else {
        def untraced() = Workloads.time(wl.run(spark, label, opId, off))
        def tracedRun() = traced {
          val m = probe.mark()
          val c0 = CodeGenerator.compileTime
          val t0 = System.nanoTime()
          val r = tracer.span("op", opId)(wl.run(spark, label, opId, tracer))
          val wall = (System.nanoTime() - t0) / 1e9
          val c1 = CodeGenerator.compileTime
          org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
          (r, wall, probe.since(m), (c1 - c0) / 1e6)
        }
        val ((ru, su), (rt, st, stats, compileMs)) =
          if (opId % 2 == 0) { val a = untraced(); (a, tracedRun()) }
          else { val b = tracedRun(); (untraced(), b) }
        tracer.count("ops", 1)
        tracer.count("items", rt.items.toDouble)
        samples += Sample(label, su * 1000, ru.items, ru.failure.orElse(rt.failure),
          st * 1000, Some(stats), compileMs)
      }
      opId += 1
      if (wl.atRoundEnd) {
        val now = System.nanoTime()
        more = (2 * now - roundStart - loopStart) / 1e9 <= seconds
        roundStart = now
      }
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    phase("loop_s")

    val layer = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    var scanMs: Seq[Double] = Nil
    var scaling: Seq[(String, Any)] = Nil
    if (trace) {
      val st = samples.flatMap(s => s.stats.map(x => (s, x))).toSeq
      def med(f: ((Sample, probe.OpStats)) => Double): Double = Stats.median(st.map(f))
      layer ++= Seq(
        "trace_overhead_ratio" -> samples.map(_.tracedMs).sum / samples.map(_.ms).sum,
        "spark.plan_ms" -> med(_._2.planMs),
        "spark.codegen_compile_ms" -> med(_._1.compileMs),
        "spark.jobs_per_op" -> med(_._2.jobs.toDouble),
        "spark.tasks_per_op" -> med(_._2.tasks.toDouble),
        "spark.driver_gap_ms" -> med { case (s, x) => math.max(0.0, s.tracedMs - x.jobCoverMs) },
        "spark.shuffle_write_bytes" -> med(_._2.shuffleWrite),
        "spark.shuffle_read_bytes" -> med(_._2.shuffleRead),
        "spark.spill_bytes" -> med(_._2.spill),
        "spark.executor_cpu_ms" -> med(_._2.cpuMs),
        "spark.gc_ms" -> med(_._2.gcMs),
        "spark.scan_bytes_read" -> med(_._2.scanBytes))

      // small seeded inputs for the layers this workload does not exercise
      val corpus = wl.docsCorpus.getOrElse {
        val p = s"$work/probe_docs.parquet"
        graft.spark.DocsTable.docs(spark, 50000, seed, partitions = 8)
          .write.mode("overwrite").parquet(p)
        p
      }
      val (joinIn, nQueries) = wl.joinInputs.map(i => (i, 400L)).getOrElse(
        (JoinInputs.write(spark, s"$work/probe_join", seed, 50000, 800, 100), 100L))
      layer ++= Layers.measure(seed, JoinInputs.polygonRings(seed, 500), joinIn.level)
      layer ++= traced(Probes.docsSplit(spark, corpus))
      layer ++= traced(Probes.joins(spark, joinIn, nQueries, probe))
      val (snap, scans) = traced(Probes.snapshots(spark, corpus, work, probe))
      layer ++= snap
      scanMs = scans

      // same job, same partition count, local[4] then local[1]
      wl.scalingOp(spark)
      val t4 = Stats.median(Seq.fill(3)(Workloads.time(wl.scalingOp(spark))._2))
      spark.stop()
      spark = session(1, work)
      wl.scalingOp(spark)
      val t1 = Stats.median(Seq.fill(2)(Workloads.time(wl.scalingOp(spark))._2))
      layer += "spark.scaling_eff_1to4" -> t1 / (cores * t4)
      scaling = Seq("local4_s" -> t4, "local1_s" -> t1)
    }

    phase("probes_s")
    val checkFailures = wl.check(spark)
    phase("check_s")
    val rss = rssPeakMb()
    val sparkVersion = spark.version
    spark.stop()
    phase("stop_s")

    val record = Json.obj(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_version" -> sparkVersion,
      "session_config" -> Json.obj(conf("<work>"): _*),
      "jvm_loadavg_start" -> loadStart, "jvm_loadavg_end" -> loadavg(),
      "item_unit" -> wl.itemUnit,
      "setup_s" -> setupS,
      "loop_s" -> loopS,
      "ops" -> samples.toSeq.map(s => Json.obj(
        "label" -> s.label, "ms" -> s.ms, "items" -> s.items,
        "traced_ms" -> s.tracedMs,
        "failure" -> s.failure.getOrElse(""))),
      "warm_failures" -> warmFailures,
      "check_failures" -> checkFailures,
      "rss_peak_mb" -> rss,
      "layer" -> Json.obj(layer.toSeq: _*),
      "scan_ms" -> scanMs,
      "scaling" -> Json.obj(scaling: _*),
      "phases" -> Json.obj(phases.toSeq: _*),
      "workload_info" -> Json.obj(wl.extraRecord: _*),
      "spans" -> (if (trace) tracer.toJson else Json.obj()))
    Files.writeString(Paths.get(out), Json.write(record))
  }
}
