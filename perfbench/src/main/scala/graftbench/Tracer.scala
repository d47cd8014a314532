package graftbench

import java.io.PrintWriter

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer tracer built only from Spark's public listener interfaces.
  *
  * A unit of work is a benchmark request (jobs carry the local property
  * [[Tracer.ReqKey]], set by the client thread around a traced call) or a
  * streaming micro-batch (jobs carry Spark's own batch-id property). Jobs
  * of untraced calls carry neither and are ignored, so one session can
  * interleave traced and untraced calls. Catalyst phases arrive without a
  * property and are attributed to the request whose window contains them:
  * the benchmark has one client thread, so windows never overlap.
  *
  * Everything is kept in memory; spans are written when the run ends. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stages = mutable.ArrayBuffer.empty[Stage]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val phases = mutable.ArrayBuffer.empty[Phase]
  private val persisted = mutable.Map.empty[String, mutable.Set[Int]]
  val batches: mutable.ArrayBuffer[Batch] = mutable.ArrayBuffer.empty[Batch]

  private def unitOf(p: java.util.Properties): String =
    if (p == null) null
    else Option(p.getProperty(ReqKey))
      .orElse(Option(p.getProperty(BatchKey)).map("batch:" + _)).orNull

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val u = unitOf(e.properties)
    if (u != null) synchronized {
      jobs(e.jobId) = Job(u, e.jobId, e.time, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    stageJob.get(si.stageId).foreach { j =>
      for (s <- si.submissionTime; c <- si.completionTime)
        stages += Stage(j, si.stageId, s, c)
      persisted.getOrElseUpdate(jobs(j).unit, mutable.Set.empty[Int]) ++=
        si.rddInfos.filter(_.storageLevel.isValid).map(_.id)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (stageJob.contains(e.stageId)) {
      val i = e.taskInfo
      val m = e.taskMetrics
      tasks += (if (m == null) Task(e.stageId, i.launchTime, i.finishTime,
        0, 0, 0, 0, 0, 0, 0, 0)
      else Task(e.stageId, i.launchTime, i.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleReadMetrics.fetchWaitTime,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.inputMetrics.bytesRead))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (name, p) =>
        phases += Phase(name, p.startTimeMs, p.endTimeMs)
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Streaming progress, one record per micro-batch. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli
      val ops = p.stateOperators
      Tracer.this.synchronized {
        batches += Batch(p.batchId, start, start + dur("triggerExecution"),
          dur("triggerExecution"), dur("queryPlanning"),
          dur("walCommit") + dur("commitOffsets"),
          ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum,
          ops.map(_.memoryUsedBytes).sum, p.numInputRows)
      }
    }
  }

  /** Layer record of one unit over its wall-clock window `[lo, hi]` (ms).
    * `persistedBefore` are the persisted RDDs that existed when the unit
    * began; any other persisted RDD in the unit's stages was built by it. */
  def aggregate(unit: String, lo: Double, hi: Double, cores: Int,
      persistedBefore: Set[Int]): Map[String, Double] = synchronized {
    val js = jobs.valuesIterator.filter(_.unit == unit).toVector
    val jobIds = js.map(_.id).toSet
    val ss = stages.filter(s => jobIds.contains(s.job)).toVector
    val stageIds = ss.map(_.id).toSet
    val ts = tasks.filter(t => stageIds.contains(t.stage)).toVector
    val ps = if (unit.startsWith("batch:")) Vector.empty[Phase]
    else phases.filter(p => p.start >= lo - 1 && p.end <= hi + 1).toVector
    val wall = hi - lo
    def iv(a: Long, b: Long): (Double, Double) = (a.toDouble, b.toDouble)
    val taskIv = ts.map(t => iv(t.start, t.end))
    val covered = union(ps.map(p => iv(p.start, p.end)) ++ js.map(j => iv(j.start, j.end)), lo, hi)
    val jobSelf = js.map { j =>
      (j.end - j.start) - union(ss.filter(_.job == j.id).map(s => iv(s.start, s.end)), j.start, j.end)
    }.sum
    val stageSelf = ss.map { s =>
      (s.end - s.start) - union(ts.filter(_.stage == s.id).map(t => iv(t.start, t.end)), s.start, s.end)
    }.sum
    def phase(n: String): Double = ps.filter(_.name == n).map(p => (p.end - p.start).toDouble).sum
    val runS = ts.map(_.runMs).sum / 1e3
    val mb = 1024.0 * 1024.0
    Map(
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.driver_gap_ms" -> (wall - union(taskIv, lo, hi)),
      "catalyst.analysis_ms" -> phase("analysis"),
      "catalyst.optimization_ms" -> phase("optimization"),
      "catalyst.planning_ms" -> phase("planning"),
      "executor.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "executor.run_s" -> runS,
      "executor.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "executor.busy_share" -> (if (wall > 0) runS * 1e3 / (wall * cores) else 0.0),
      "shuffle.write_mb" -> ts.map(_.shWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shRead).sum / mb,
      "shuffle.fetch_wait_ms" -> ts.map(_.fetchWaitMs).sum.toDouble,
      "shuffle.spill_mb" -> ts.map(_.spill).sum / mb,
      "sources.input_mb" -> ts.map(_.input).sum / mb,
      "cache.builds" -> persisted.get(unit).map(_.count(id => !persistedBefore(id))).getOrElse(0).toDouble,
      "self.request_ms" -> (wall - covered),
      "self.catalyst_ms" -> ps.map(p => (p.end - p.start).toDouble).sum,
      "self.job_ms" -> jobSelf,
      "self.stage_ms" -> stageSelf,
      "self.task_ms" -> ts.map(t => (t.end - t.start).toDouble).sum)
  }

  /** Spans request -> catalyst phase | job -> stage -> task, one JSON object
    * per line; `units` gives each traced unit's window. */
  def writeSpans(path: String, units: Seq[(String, Double, Double)]): Unit = synchronized {
    val w = new PrintWriter(path, "UTF-8")
    try {
      def span(id: String, parent: String, unit: String, layer: String,
          name: String, s: Double, e: Double): Unit =
        w.println(Json(Map("id" -> id, "parent" -> parent, "unit" -> unit,
          "layer" -> layer, "name" -> name, "start_ms" -> s, "end_ms" -> e)))
      units.foreach { case (u, lo, hi) =>
        span(s"u:$u", null, u, "request", u, lo, hi)
        if (!u.startsWith("batch:")) phases.zipWithIndex
          .filter { case (p, _) => p.start >= lo - 1 && p.end <= hi + 1 }
          .foreach { case (p, i) =>
            span(s"p:$i", s"u:$u", u, "catalyst", p.name, p.start, p.end) }
      }
      val unitOfJob = jobs.map { case (id, j) => id -> j.unit }
      jobs.valuesIterator.foreach { j =>
        span(s"j:${j.id}", s"u:${j.unit}", j.unit, "job", s"job ${j.id}", j.start, j.end) }
      stages.foreach { s =>
        span(s"s:${s.id}", s"j:${s.job}", unitOfJob(s.job), "stage", s"stage ${s.id}", s.start, s.end) }
      tasks.zipWithIndex.foreach { case (t, i) =>
        span(s"t:$i", s"s:${t.stage}", unitOfJob(stageJob(t.stage)), "task", s"task of stage ${t.stage}",
          t.start, t.end) }
    } finally w.close()
  }
}

object Tracer {
  private final case class Job(unit: String, id: Int, start: Long, var end: Long)
  private final case class Stage(job: Int, id: Int, start: Long, end: Long)
  private final case class Task(
      stage: Int, start: Long, end: Long, runMs: Long, cpuNs: Long, gcMs: Long,
      shWrite: Long, shRead: Long, fetchWaitMs: Long, spill: Long, input: Long)
  private final case class Phase(name: String, start: Long, end: Long)

  val ReqKey = "graftbench.req"
  val BatchKey = "streaming.sql.batchId"

  final case class Batch(
      id: Long, start: Long, end: Long, batchMs: Long, planningMs: Long,
      commitMs: Long, stateCommitMs: Long, stateRows: Long, stateBytes: Long,
      inputRows: Long)

  /** Length of the union of `ivs`, clipped to `[lo, hi]`. */
  def union(ivs: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    ivs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
