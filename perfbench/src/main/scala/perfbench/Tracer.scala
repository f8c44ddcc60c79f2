package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** A closed interval on the wall clock, in epoch milliseconds. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startMs: Double, endMs: Double,
                      attrs: Map[String, Any] = Map.empty) {
  def durMs: Double = endMs - startMs
}

object Span {
  /** Total length of the union of `ivs`, each clipped to [lo, hi]. */
  def unionMs(ivs: Iterable[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = ivs.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** One unit's build and exec windows in a traced pass, its job groups and
  * the model-call counters read when it finished. */
final case class UnitWindow(name: String, buildGroup: String, execGroup: String,
                            build: (Double, Double), exec: (Double, Double),
                            pipeline: Boolean, sink: Boolean,
                            modelCalls: (Long, Long, Double))

/** Per-layer trace of one pass, built only from public hooks: a
  * SparkListener (jobs, stages, tasks, block updates, SQL executions), a
  * QueryExecutionListener (Catalyst phases) and the job group each unit
  * phase runs under. Listener callbacks arrive on Spark's listener-bus
  * thread; every field is guarded by `this`. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {

  final class Job(val id: Int, val group: String, val site: String, val startMs: Long,
                  val checkpoint: Boolean) {
    var endMs: Long = -1L
    var tasks, failedTasks, cpuNs, waitMs, shuffleRead, shuffleWrite, spill = 0L
    var peakMem, inRecords, inBytes, outRecords, outBytes, ckptBytes = 0L
  }

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.HashMap[Int, Int]()
  private val stages = mutable.ArrayBuffer[(Int, Int, Long, Long)]() // stage, job, submit, end
  private val phases = mutable.ArrayBuffer[(String, Long, Long)]()  // phase, start, end
  private var sqlStarts = 0
  private var sqlEnds = 0
  private var qeCallbacks = 0
  private var openCheckpointJob: Option[Job] = None

  private def isCheckpoint(info: StageInfo): Boolean =
    Seq(info.name, info.details).exists(s =>
      s.contains("localCheckpoint") || s.contains("CheckpointOps"))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val job = new Job(e.jobId, group, site, e.time, e.stageInfos.exists(isCheckpoint))
    jobs(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = e.jobId)
    if (job.checkpoint) openCheckpointJob = Some(job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      if (openCheckpointJob.exists(_ eq j)) openCheckpointJob = None
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    for (job <- stageJob.get(i.stageId); s <- i.submissionTime; c <- i.completionTime)
      stages += ((i.stageId, job, s, c))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (jid <- stageJob.get(e.stageId); j <- jobs.get(jid)) {
      j.tasks += 1
      if (e.reason != Success) j.failedTasks += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val schedulerDelay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        j.cpuNs += m.executorCpuTime
        j.waitMs += schedulerDelay + m.executorDeserializeTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.peakMem = math.max(j.peakMem, m.peakExecutionMemory)
        j.inRecords += m.inputMetrics.recordsRead
        j.inBytes += m.inputMetrics.bytesRead
        j.outRecords += m.outputMetrics.recordsWritten
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid)
      openCheckpointJob.foreach(_.ckptBytes += b.memSize + b.diskSize)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => synchronized { sqlStarts += 1 }
    case _: SparkListenerSQLExecutionEnd => synchronized { sqlEnds += 1 }
    case _ =>
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    qeCallbacks += 1
    qe.tracker.phases.foreach { case (name, p) => phases += ((name, p.startTimeMs, p.endTimeMs)) }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)

  /** Sessions are created per pass or per unit; each one reports its
    * Catalyst phases here once attached. */
  def attach(session: SparkSession): Unit = session.listenerManager.register(this)

  /** Block until the bus has delivered every job of `groups` (and, within
    * a short grace, the Catalyst phases of the SQL executions that ran). */
  def drain(groups: Iterable[String]): Unit = {
    val ids = groups.flatMap(g => sc.statusTracker.getJobIdsForGroup(g)).toSet
    val deadline = System.nanoTime() + 30L * 1000000000L
    def pending = synchronized(ids.exists(id => jobs.get(id).forall(_.endMs < 0)))
    while (pending && System.nanoTime() < deadline) Thread.sleep(5)
    val grace = System.nanoTime() + 2L * 1000000000L
    while (synchronized(qeCallbacks < sqlEnds) && System.nanoTime() < grace) Thread.sleep(5)
  }

  def reset(): Unit = synchronized {
    jobs.clear(); stageJob.clear(); stages.clear(); phases.clear()
    sqlStarts = 0; sqlEnds = 0; qeCallbacks = 0; openCheckpointJob = None
  }

  /** Per-layer metrics of the pass plus its spans (pass → unit →
    * build/exec → job → stage, with Catalyst phases under the build or
    * exec window they fall in). */
  def summarize(passName: String, pass: (Double, Double),
                units: Seq[UnitWindow]): (Map[String, Double], Seq[Span]) = synchronized {
    val spans = mutable.ArrayBuffer[Span]()
    def add(parent: Int, layer: String, name: String, a: Double, b: Double,
            attrs: Map[String, Any] = Map.empty): Int = {
      spans += Span(spans.size, parent, layer, name, a, b, attrs); spans.size - 1
    }
    val passId = add(-1, "bench", passName, pass._1, pass._2)
    val byGroup = jobs.values.groupBy(_.group)
    def jobIv(j: Job) = (j.startMs.toDouble, j.endMs.toDouble)
    var driverOtherMs, buildJobMs, execJobMs = 0.0
    for (u <- units) {
      val (calls, batches, callS) = u.modelCalls
      val unitId = add(passId, "queries", u.name, u.build._1, u.exec._2,
        Map("model_calls" -> calls, "model_batches" -> batches, "model_call_s" -> callS))
      for ((phase, group, iv) <- Seq(("build", u.buildGroup, u.build), ("exec", u.execGroup, u.exec))) {
        val layer =
          if (phase == "build" && u.pipeline) "pipelines"
          else if (phase == "exec" && u.sink) "sources"
          else "queries"
        val phId = add(unitId, layer, s"${u.name}/$phase", iv._1, iv._2)
        val js = byGroup.getOrElse(group, Nil).filter(_.endMs >= 0)
        js.foreach { j =>
          val jId = add(phId, if (j.checkpoint) "ops" else "spark", s"job ${j.id}",
            j.startMs.toDouble, j.endMs.toDouble, Map("site" -> j.site, "tasks" -> j.tasks))
          stages.filter(_._2 == j.id).foreach { case (sid, _, s, c) =>
            add(jId, "spark", s"stage $sid", s.toDouble, c.toDouble)
          }
        }
        val ph = phases.filter { case (_, s, _) => s >= iv._1 && s < iv._2 }
        ph.foreach { case (n, s, e) => add(phId, "plans", n, s.toDouble, e.toDouble) }
        val jobMs = Span.unionMs(js.map(jobIv), iv._1, iv._2)
        if (phase == "build") {
          buildJobMs += jobMs
          driverOtherMs += (iv._2 - iv._1) -
            Span.unionMs(js.map(jobIv) ++ ph.map { case (_, s, e) => (s.toDouble, e.toDouble) },
              iv._1, iv._2)
        } else execJobMs += jobMs
      }
    }
    val passJobs = units.flatMap(u => Seq(u.buildGroup, u.execGroup))
      .flatMap(byGroup.getOrElse(_, Nil)).filter(_.endMs >= 0)
    val ckpt = passJobs.filter(_.checkpoint)
    def sumJ(f: Job => Long) = passJobs.map(f).sum.toDouble
    def phaseMs(n: String) = phases.filter(_._1 == n).map { case (_, s, e) => (e - s).toDouble }.sum
    val kept = units.filter(_.pipeline).flatMap(u => byGroup.getOrElse(u.execGroup, Nil))
      .map(_.outRecords).sum.toDouble
    val calls = units.map(_.modelCalls._1).sum.toDouble

    // self time: a span's duration minus what its children cover
    val children = spans.groupBy(_.parent)
    val self = spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.durMs - Span.unionMs(children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)),
          s.startMs, s.endMs)
      }.sum / 1e3
    }
    val sec = (a: (Double, Double)) => (a._2 - a._1) / 1e3
    val metrics = Map[String, Double](
      "queries.build_s" -> units.map(u => sec(u.build)).sum,
      "queries.exec_s" -> units.map(u => sec(u.exec)).sum,
      "queries.driver_other_s" -> driverOtherMs / 1e3,
      "spark.jobs" -> passJobs.size.toDouble,
      "spark.stages" -> stages.count(s => passJobs.exists(_.id == s._2)).toDouble,
      "spark.tasks" -> sumJ(_.tasks),
      "spark.failed_tasks" -> sumJ(_.failedTasks),
      "spark.task_wait_s" -> sumJ(_.waitMs) / 1e3,
      "spark.task_cpu_s" -> sumJ(_.cpuNs) / 1e9,
      "spark.build_job_s" -> buildJobMs / 1e3,
      "spark.exec_job_s" -> execJobMs / 1e3,
      "spark.shuffle_read_bytes" -> sumJ(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sumJ(_.shuffleWrite),
      "spark.spill_bytes" -> sumJ(_.spill),
      "spark.peak_exec_mem_bytes" -> passJobs.map(_.peakMem).foldLeft(0L)(math.max).toDouble,
      "plans.analysis_ms" -> phaseMs("analysis"),
      "plans.optimization_ms" -> phaseMs("optimization"),
      "plans.planning_ms" -> phaseMs("planning"),
      "plans.sql_executions" -> sqlStarts.toDouble,
      "ops.checkpoint_jobs" -> ckpt.size.toDouble,
      "ops.checkpoint_s" -> Span.unionMs(ckpt.map(jobIv), pass._1, pass._2) / 1e3,
      "ops.checkpoint_bytes" -> ckpt.map(_.ckptBytes).sum.toDouble,
      "sources.input_records" -> sumJ(_.inRecords),
      "sources.input_bytes" -> sumJ(_.inBytes),
      "sources.output_records" -> sumJ(_.outRecords),
      "sources.output_bytes" -> sumJ(_.outBytes),
      "sources.sink_write_s" -> units.filter(_.sink).map(u => sec(u.exec)).sum,
      "ml.model_calls" -> calls,
      "ml.model_batches" -> units.map(_.modelCalls._2).sum.toDouble,
      "ml.model_call_s" -> units.map(_.modelCalls._3).sum,
      "ml.kept_ratio" -> (if (calls > 0) kept / calls else 0.0),
      "pipelines.build_s" -> units.filter(_.pipeline).map(u => sec(u.build)).sum
    ) ++ Seq("queries", "pipelines", "sources", "spark", "ops", "plans")
      .map(l => s"$l.self_s" -> self.getOrElse(l, 0.0))
    (metrics, spans.toSeq)
  }
}
