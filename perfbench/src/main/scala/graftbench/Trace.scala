package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run. Levels are op -> job -> stage; every span of
  * one op carries that op's id. Times are epoch milliseconds.
  */
final case class Span(level: String, id: String, parent: String, op: String,
                      name: String, start: Long, end: Long)

/** The traced run's recorder: Spark's public listeners, registered from the
  * outside, plus op spans the workloads open around their calls into the
  * library. Spans stay in memory and are written out once, at the end.
  *
  * Jobs are attributed to the op (and op phase) that submitted them through
  * local properties, which Spark copies onto each job at submit time, so
  * attribution is exact even though listener events arrive asynchronously.
  */
final class Trace(spark: SparkSession) {
  import Trace._
  private val sc = spark.sparkContext

  private val ops = new ConcurrentLinkedQueue[Span]()
  private val jobs = mutable.Map.empty[Int, JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val counters = mutable.Map.empty[String, Double].withDefaultValue(0.0)

  @volatile private var active = false

  /** Marks the calling thread's next jobs as belonging to `op` / `phase`. */
  def enter(op: String, phase: String): Unit = if (active) {
    sc.setLocalProperty(OpKey, op)
    sc.setLocalProperty(PhaseKey, phase)
  }

  def opSpan(op: String, name: String, start: Long, end: Long): Unit =
    if (active) ops.add(Span("op", op, "", op, name, start, end))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Trace.this.synchronized {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse("")
      val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
      jobs(e.jobId) = JobRec(op, phase, e.time, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Trace.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Trace.this.synchronized {
      val si = e.stageInfo
      val rec = stages.getOrElseUpdate(si.stageId, new StageRec)
      rec.name = si.name
      rec.details = si.details
      rec.start = si.submissionTime.getOrElse(0L)
      rec.end = si.completionTime.getOrElse(rec.start)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Trace.this.synchronized {
      val m = e.taskMetrics
      if (m == null) return
      val rec = stages.getOrElseUpdate(e.stageId, new StageRec)
      rec.tasks += 1
      val read = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val written = m.outputMetrics.recordsWritten + m.shuffleWriteMetrics.recordsWritten
      if (read == 0 && written == 0) rec.emptyTasks += 1
      rec.runMs += m.executorRunTime
      rec.cpuNs += m.executorCpuTime
      rec.gcMs += m.jvmGCTime
      rec.resultBytes += m.resultSize
      rec.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      rec.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      rec.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      rec.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Trace.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) {
        counters("core.rdd_blocks_written") += 1
        counters("core.rdd_mb_written") += (b.memSize + b.diskSize) / 1e6
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      Trace.this.synchronized {
        qe.tracker.phases.foreach { case (phase, s) =>
          phases(phase) += (s.endTimeMs - s.startTimeMs) / 1e3
        }
      }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val d = e.progress.durationMs.asScala
        val trigger = d.get("triggerExecution").map(_.longValue).getOrElse(0L)
        val addBatch = d.get("addBatch").map(_.longValue).getOrElse(0L)
        counters("rt.trigger_overhead_s") += (trigger - addBatch) / 1e3
        val rows = e.progress.stateOperators.map(_.numRowsTotal).sum.toDouble
        counters("rt.state_rows") = math.max(counters("rt.state_rows"), rows)
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  private var codegen0 = (0L, 0.0)
  private var gc0 = 0L

  def start(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegen0 = codegenNow()
    gc0 = gcMs()
    active = true
  }

  /** Unregisters the listeners once every queued event has been delivered. */
  def stop(): Unit = {
    active = false
    org.apache.spark.BenchAccess.drainListeners(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val (n1, t1) = codegenNow()
    counters("catalyst.codegen_compiles") = (n1 - codegen0._1).toDouble
    counters("catalyst.codegen_compile_s") = t1 - codegen0._2
    counters("driver.gc_s") = (gcMs() - gc0) / 1e3
  }

  /** All spans, op -> job -> stage. Jobs of no op (a streaming query's own
    * trigger jobs) hang off the pseudo-op "stream".
    */
  def spans: Seq[Span] = synchronized {
    val opSpans = ops.asScala.toSeq
    val jobSpans = jobs.toSeq.map { case (id, j) =>
      val op = if (j.op.isEmpty) "stream" else j.op
      Span("job", s"job$id", op, op, j.phase, j.start, j.end)
    }
    val stageSpans = stages.toSeq.flatMap { case (id, s) =>
      stageJob.get(id).flatMap(jobs.get).map { j =>
        val op = if (j.op.isEmpty) "stream" else j.op
        Span("stage", s"stage$id", s"job${stageJob(id)}", op, s.name, s.start, s.end)
      }
    }
    opSpans ++ jobSpans ++ stageSpans
  }

  /** Per-layer sums over the traced window. `slots` is the local core count;
    * `runS` the window's wall time.
    */
  def layers(runS: Double, slots: Int, opPhase: Map[String, Double]): Map[String, Double] =
    synchronized {
      val st = stages.values.toSeq
      val tasks = st.map(_.tasks).sum.toDouble
      val runMs = st.map(_.runMs).sum.toDouble
      val all = spans
      val opSp = all.filter(_.level == "op")
      val jobSp = all.filter(_.level == "job")
      val stageSp = all.filter(_.level == "stage")
      def selfOf(parents: Seq[Span], children: Seq[Span]): Double = {
        val byParent = children.groupBy(_.parent)
        parents.map(p => (p.end - p.start) - covered(p, byParent.getOrElse(p.id, Nil))).sum / 1e3
      }
      def jobWall(file: String => Boolean): Double = jobs.toSeq.collect {
        case (id, j) if stagesOf(id).exists(s => file(s.details)) => (j.end - j.start) / 1e3
      }.sum
      val m = mutable.Map.empty[String, Double] ++ counters
      m ++= opPhase
      m("queries.build_jobs") = jobs.values.count(_.phase == "build").toDouble
      m("catalyst.analysis_s") = phases("analysis")
      m("catalyst.optimization_s") = phases("optimization")
      m("catalyst.planning_s") = phases("planning")
      m("scheduler.jobs") = jobs.size.toDouble
      m("scheduler.tasks") = tasks
      m("scheduler.tasks_per_job") = if (jobs.isEmpty) 0.0 else tasks / jobs.size
      m("scheduler.empty_task_ratio") =
        if (tasks == 0) 0.0 else st.map(_.emptyTasks).sum / tasks
      m("scheduler.driver_idle_s") = selfOf(opSp, jobSp)
      m("executor.run_s") = runMs / 1e3
      m("executor.cpu_s") = st.map(_.cpuNs).sum / 1e9
      m("executor.gc_s") = st.map(_.gcMs).sum / 1e3
      m("executor.slot_busy_ratio") = if (runS <= 0) 0.0 else runMs / 1e3 / (runS * slots)
      m("shuffle.write_mb") = st.map(_.shuffleWrite).sum / 1e6
      m("shuffle.read_mb") = st.map(_.shuffleRead).sum / 1e6
      m("shuffle.fetch_wait_s") = st.map(_.fetchWaitMs).sum / 1e3
      m("shuffle.spill_mb") = st.map(_.spill).sum / 1e6
      m("driver.result_mb") = st.map(_.resultBytes).sum / 1e6
      m("llm.curation_s") = jobWall(innermost(_) == "Curation.scala")
      m("llm.dedupindex_s") = jobWall(d => Set("DedupIndex.scala", "Dedup.scala")(innermost(d)))
      m("llm.similarity_s") = jobWall(innermost(_) == "Similarity.scala")
      m("rt.audit_s") = jobWall(_.contains("auditWrite"))
      m("trace.job_self_s") = selfOf(jobSp, stageSp)
      m("trace.stage_s") = stageSp.map(s => s.end - s.start).sum / 1e3
      m.toMap
    }

  /** Jobs launched during each op's construction ("build" phase). */
  def buildJobsByOp: Map[String, Int] = Trace.this.synchronized {
    jobs.values.filter(_.phase == "build").groupBy(_.op).map { case (k, v) => k -> v.size }
  }

  private def stagesOf(jobId: Int): Seq[StageRec] =
    stageJob.collect { case (s, j) if j == jobId => stages.get(s) }.flatten.toSeq
}

object Trace {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"

  final case class JobRec(op: String, phase: String, start: Long, end: Long)

  final class StageRec {
    var name = ""; var details = ""; var start = 0L; var end = 0L
    var tasks = 0L; var emptyTasks = 0L; var runMs = 0L; var cpuNs = 0L
    var gcMs = 0L; var resultBytes = 0L; var shuffleWrite = 0L
    var shuffleRead = 0L; var fetchWaitMs = 0L; var spill = 0L
  }

  /** Milliseconds of `p` covered by the union of the child intervals. */
  def covered(p: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.start, p.start), math.min(c.end, p.end)))
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** The library file nearest to Spark in a stage's call-site stack: the
    * graft file that launched the job (StageInfo.details is the long form).
    */
  def innermost(details: String): String =
    details.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graftbench."))
      .flatMap(l => "\\(([A-Za-z0-9_]+\\.scala):".r.findFirstMatchIn(l).map(_.group(1)))
      .getOrElse("")

  private def codegenNow(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram keeps a bounded reservoir: mean x count is its total
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1e3)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
}
