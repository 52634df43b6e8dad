package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span and count recorder for the traced run. Spans are kept in memory
  * (name, start, end, parent, op id) and written out when the run ends.
  * The benchmark issues its operations from one thread, so a plain stack
  * tracks the parent span. A disabled tracer runs the body and records
  * nothing. */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, opId: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private val origin = System.nanoTime()

  def span[A](name: String, opId: Long)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val start = System.nanoTime()
      try body
      finally {
        val end = System.nanoTime()
        stack = stack.tail
        spans += Span(id, name, start - origin, end - origin, parent, opId)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counts(name) = counts.getOrElse(name, 0.0) + v

  /** Self time per span name in ms: each span's duration minus the part of
    * it covered by its direct children. */
  def selfTimesMs: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => (s.endNs - s.startNs - childNs(s.id)) / 1e6).sum
    }
  }

  def toJson: Map[String, Any] = Json.obj(
    "spans" -> spans.toSeq.map(s => Json.obj(
      "id" -> s.id, "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "parent" -> s.parent, "op" -> s.opId)),
    "counts" -> Json.obj(counts.toSeq: _*),
    "self_ms" -> Json.obj(selfTimesMs.toSeq.sortBy(_._1): _*))
}

/** Observes the `spark` layer from outside: job/stage/task events through a
  * SparkListener and per-action planning phases through a
  * QueryExecutionListener. Registered only in the traced run. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  final case class Job(id: Int, startMs: Long, var endMs: Long)
  final case class Task(stageId: Int, durationMs: Long, cpuNs: Long, gcMs: Long,
                        inputBytes: Long, shuffleWrite: Long, shuffleRead: Long,
                        spill: Long)

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val planMs = mutable.ArrayBuffer.empty[Double]
  /** (action name, duration ns) of every finished SQL action */
  private val actions = mutable.ArrayBuffer.empty[(String, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += Job(e.jobId, e.time, -1L)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.memoryBytesSpilled + m.diskBytesSpilled)
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs.toDouble).sum
      actions += ((funcName, durationNs))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Positions in the event buffers; `since` summarises what came after. */
  final case class Mark(jobs: Int, tasks: Int, plans: Int)
  def mark(): Mark = synchronized(Mark(jobs.size, tasks.size, planMs.size))

  /** total duration of the SQL actions after `m` other than collects: the
    * writes of a commit, whose metrics pass is a collect */
  def writeSecondsSince(m: Mark): Double = synchronized {
    actions.drop(m.plans).filterNot(_._1 == "collect").map(_._2).sum / 1e9
  }

  final case class OpStats(jobs: Int, tasks: Int, planMs: Double, cpuMs: Double,
                           gcMs: Double, scanBytes: Double, shuffleWrite: Double,
                           shuffleRead: Double, spill: Double, jobCoverMs: Double,
                           hotTaskSkew: Double)

  def since(m: Mark): OpStats = synchronized {
    val js = jobs.drop(m.jobs).filter(_.endMs >= 0)
    val ts = tasks.drop(m.tasks)
    // union of job intervals: the part of the op's wall time a job covered
    val cover = js.map(j => (j.startMs, j.endMs)).sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (s, e)) =>
        if (e <= reach) (acc, reach)
        else (acc + e - math.max(s, reach), e)
      }._1
    // skew of the heaviest shuffle-reading stage: slowest task over the median
    val skew = ts.filter(_.shuffleRead > 0).groupBy(_.stageId).values
      .filter(_.size >= 2)
      .map { st =>
        val d = st.map(_.durationMs.toDouble).sorted.toSeq
        (d.sum, d.last / math.max(1.0, Stats.median(d)))
      }
      .maxByOption(_._1).map(_._2).getOrElse(1.0)
    OpStats(js.size, ts.size, planMs.drop(m.plans).sum,
      ts.map(_.cpuNs).sum / 1e6, ts.map(_.gcMs).sum.toDouble,
      ts.map(_.inputBytes).sum.toDouble, ts.map(_.shuffleWrite).sum.toDouble,
      ts.map(_.shuffleRead).sum.toDouble, ts.map(_.spill).sum.toDouble,
      cover.toDouble, skew)
  }
}
