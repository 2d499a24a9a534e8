package valbench

import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.valbench.SparkInternals

/** Spans around the benchmark's calls into the engine. The untraced run
  * uses [[Spans.Off]], which only runs the body.
  */
trait Spans {
  def apply[A](name: String)(body: => A): A
}

object Spans {
  object Off extends Spans {
    def apply[A](name: String)(body: => A): A = body
  }
}

/** The traced run's recorder: spans on the driver thread plus a
  * `SparkListener`, a `QueryExecutionListener` and a
  * `StreamingQueryListener`. Everything stays in memory until [[report]].
  *
  * Each span sets the thread-local Spark property [[SpanProp]], so every
  * job and stage carries the id of the innermost span that started it.
  * A stage is given to the layer of the engine file in its call site
  * (`collect at Checkpoint.scala:70`), which splits the jobs inside one
  * composite public call such as `tools.Validate.run`; a stage called from
  * the benchmark's own code goes to the layer of its span.
  */
final class Tracer(spark: SparkSession, threads: Int) extends Spans {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var opIndex = -1

  def apply[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id), opIndex,
      System.nanoTime(), System.currentTimeMillis())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** One timed operation: the root span of everything it calls, plus the
    * process-wide counters (GC, codegen) read around it.
    */
  def op[A](index: Int, name: String)(body: => A): A = {
    opIndex = index
    val gc0 = gcMs()
    val cg0 = compileMs()
    try apply(name)(body)
    finally {
      opCounters(index) = OpCounters(gcMs() - gc0, compileMs() - cg0)
      opIndex = -1
    }
  }

  private val opCounters = mutable.Map.empty[Int, OpCounters]

  // ---- listener state (written on the listener-bus thread) ----------------

  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageRec]
  private val execStart = mutable.Map.empty[Long, Long]
  private val execSite = mutable.Map.empty[Long, String]
  private val filesReadIds = mutable.Set.empty[Long]
  private val filesRead = mutable.ArrayBuffer.empty[(Long, Long)]
  /** (query id, planning start ms, planning seconds) per query */
  private val planned = mutable.ArrayBuffer.empty[(Long, Long, Double)]
  private val execOfQuery = mutable.Map.empty[Long, Long]
  private val progress = mutable.ArrayBuffer.empty[(Long, ProgressRec)]

  private def prop(props: java.util.Properties, key: String): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(key)))

  private def spanOf(props: java.util.Properties): Int =
    prop(props, SpanProp).map(_.toInt).getOrElse(-1)

  private def execOf(props: java.util.Properties): Long =
    prop(props, "spark.sql.execution.id").map(_.toLong).getOrElse(-1L)

  private def notePlan(info: SparkPlanInfo): Unit = {
    info.metrics.foreach { m =>
      if (m.name == "number of files read") filesReadIds += m.accumulatorId
    }
    info.children.foreach(notePlan)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val site = if (e.stageInfos.isEmpty) ""
        else e.stageInfos.maxBy(_.stageId).name
      jobs += JobRec(e.jobId, spanOf(e.properties), execOf(e.properties),
        e.time, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        stages.getOrElseUpdate(e.stageInfo.stageId,
          StageRec(e.stageInfo.stageId, spanOf(e.properties),
            execOf(e.properties), e.stageInfo.name))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val st = stages.getOrElseUpdate(e.stageId,
        StageRec(e.stageId, -1, -1L, ""))
      val m = e.taskMetrics
      val i = e.taskInfo
      st.tasks += 1
      if (m != null) {
        st.runMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (i.gettingResult) i.finishTime - i.gettingResultTime else 0L))
        st.recordsRead += m.inputMetrics.recordsRead
        st.bytesRead += m.inputMetrics.bytesRead
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.peakMem = math.max(st.peakMem, m.peakExecutionMemory)
      }
      i.accumulables.foreach { a =>
        if (a.name.contains("scan time")) a.update.foreach {
          case v: Long => st.scanTimeMs += v
          case v: java.lang.Long => st.scanTimeMs += v.longValue
          case _ =>
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execStart(s.executionId) = s.time
          execSite(s.executionId) = s.description
          notePlan(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          notePlan(u.sparkPlanInfo)
        case end: SparkListenerSQLExecutionEnd =>
          SparkInternals.queryId(end).foreach(execOfQuery(_) = end.executionId)
        case d: SparkListenerDriverAccumUpdates =>
          val t = execStart.getOrElse(d.executionId, System.currentTimeMillis())
          d.accumUpdates.foreach { case (id, v) =>
            if (filesReadIds.contains(id)) filesRead += ((t, v))
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      Tracer.this.synchronized {
        val ph = qe.tracker.phases
        if (ph.nonEmpty)
          planned += ((qe.id, ph.values.map(_.startTimeMs).min,
            ph.values.map(_.durationMs).sum / 1e3))
      }
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = Tracer.this.synchronized {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val st = p.stateOperators.headOption
      progress += ((java.time.Instant.parse(p.timestamp).toEpochMilli,
        ProgressRec(p.numInputRows, p.batchDuration / 1e3,
          d.getOrElse("addBatch", 0.0),
          d.getOrElse("walCommit", 0.0) + d.getOrElse("commitOffsets", 0.0),
          d.getOrElse("queryPlanning", 0.0),
          st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L),
          st.map(_.numShufflePartitions).getOrElse(0L))))
    }
  }

  def attach(): Unit = {
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    SparkInternals.drain(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  // ---- per-layer metrics ---------------------------------------------------

  /** Per-layer metrics, as the mean over the traced operations.
    * `rowsPerOp` is the input rows one operation validates; `extras` holds
    * per-operation values the workload's check read from the outputs.
    */
  def report(rowsPerOp: Long, extras: Seq[Map[String, Double]])
      : Map[String, Double] = synchronized {
    val roots = spans.filter(s => s.parent.isEmpty && s.op >= 0)
    require(roots.nonEmpty, "no traced operation")
    val perOp = roots.zipWithIndex.map { case (root, k) =>
      opMetrics(root, rowsPerOp) ++ extras.lift(k).getOrElse(Map.empty)
    }
    val names = (perOp.flatMap(_.keys) ++ OutputMetrics).distinct
    val mean = names.map(n =>
      n -> perOp.map(_.getOrElse(n, 0.0)).sum / perOp.size).toMap
    mean + ("rules.generated_method_bytes_max" ->
      CodegenMetrics.METRIC_GENERATED_METHOD_BYTECODE_SIZE.getSnapshot.getMax
        .toDouble)
  }

  private def layerOfSpan(id: Int): String =
    if (id < 0) "Sessions" else {
      val name = spans(id).name
      Layers.filter(l => name == l || name.startsWith(l + "."))
        .sortBy(-_.length).headOption.getOrElse("Sessions")
    }

  /** The engine file in the call site of the SQL execution (the action the
    * engine invoked), else in the stage's own call site, else the span's
    * layer. Stages that adaptive execution submits from its own threads
    * carry a thread-pool call site; their execution still names the action.
    */
  private def layerOf(spanId: Int, execId: Long, site: String): String =
    (execSite.get(execId).toSeq :+ site).iterator
      .flatMap(s => CallSite.findFirstMatchIn(s))
      .flatMap(m => FileLayer.get(m.group(1))).nextOption()
      .getOrElse(layerOfSpan(spanId))

  private def opOf(spanId: Int): Int = if (spanId < 0) -1 else spans(spanId).op

  private def within(s: Span, ms: Long): Boolean = ms >= s.startMs && ms <= s.endMs

  private def spanSeconds(root: Span, layer: String, call: String): Double =
    spans.filter(s => s.op == root.op && s.name == s"$layer.$call")
      .map(_.seconds).sum

  private def opMetrics(root: Span, rowsPerOp: Long): Map[String, Double] = {
    val wall = root.seconds
    val opJobs = jobs.filter(j => j.endMs > 0 && (opOf(j.span) == root.op ||
      (j.span < 0 && within(root, j.startMs))))
    val opStages = stages.values.filter(s => opOf(s.span) == root.op).toSeq
    val union = mergedSeconds(opJobs.map(j => (j.startMs, j.endMs)))
    val byLayer = opStages.groupBy(s => layerOf(s.span, s.exec, s.name))
    def stagesOf(layer: String) = byLayer.getOrElse(layer, Nil)
    val jobsByLayer = opJobs.groupBy(j => layerOf(j.span, j.exec, j.site))
    def jobSeconds(layer: String) =
      mergedSeconds(jobsByLayer.getOrElse(layer, Nil).map(j => (j.startMs, j.endMs)))
    val runS = opStages.map(_.runMs).sum / 1e3
    val rowsScanned = opStages.map(_.recordsRead).sum.toDouble
    val counters = opCounters.getOrElse(root.op, OpCounters(0, 0))
    val prog = progress.filter { case (t, _) => within(root, t) }.map(_._2)
    val lastState = prog.filter(_.stateRows > 0).lastOption
    val validateRuns = spans.filter(s => s.op == root.op &&
      s.name.startsWith("tools.Validate."))
    // the final `Validate.run` of resume_report, which writes the report
    val reportRuns = validateRuns.filter(_.name == ReportCall)
    val reportSpans = reportRuns.map(_.id).toSet
    def layerJobSeconds(layer: String, inReport: Boolean) = mergedSeconds(
      jobsByLayer.getOrElse(layer, Nil)
        .filter(j => reportSpans(j.span) == inReport)
        .map(j => (j.startMs, j.endMs)))
    val validateSelf = validateRuns.map { s =>
      s.seconds - mergedSeconds(opJobs.filter(j => within(s, j.startMs))
        .map(j => (j.startMs, j.endMs)))
    }.sum[Double]
    Map(
      "Sessions.jobs_per_op" -> opJobs.size.toDouble,
      "Sessions.stages_per_op" -> opStages.count(_.tasks > 0).toDouble,
      "Sessions.tasks_per_op" -> opStages.map(_.tasks).sum.toDouble,
      "Sessions.driver_gap_s" -> (wall - union),
      "Sessions.driver_gap_ratio" -> (wall - union) / wall,
      "Sessions.task_run_s" -> runS,
      "Sessions.task_cpu_s" -> opStages.map(_.cpuNs).sum / 1e9,
      "Sessions.scheduler_delay_s" -> opStages.map(_.schedDelayMs).sum / 1e3,
      "Sessions.cpu_busy_ratio" -> runS / (wall * threads),
      "Sessions.gc_s" -> counters.gcMs / 1e3,
      "sources.rows_scanned" -> rowsScanned,
      "sources.bytes_read" -> opStages.map(_.bytesRead).sum.toDouble,
      "sources.files_read" ->
        filesRead.filter { case (t, _) => within(root, t) }.map(_._2).sum.toDouble,
      "sources.scan_time_s" -> opStages.map(_.scanTimeMs).sum / 1e3,
      "sources.rows_scanned_per_row_validated" -> rowsScanned / rowsPerOp,
      "rules.plan_s" -> (planned.filter { case (_, t, _) => within(root, t) }
        .map(_._3).sum + prog.map(_.planS).sum),
      "rules.codegen_compile_s" -> counters.compileMs / 1e3,
      "engine.Validator.build_s" ->
        (spanSeconds(root, "engine.Validator", "build") +
          (if (validateRuns.nonEmpty) jobSeconds("engine.Validator") else 0.0)),
      "engine.Validator.rule_pass_task_s" ->
        stagesOf("engine.Validator").map(_.runMs).sum / 1e3,
      "engine.Validator.unique_shuffle_bytes" ->
        stagesOf("engine.Validator").map(_.shuffleWrite).sum.toDouble,
      "engine.StatsOps.agg_task_s" ->
        stagesOf("engine.StatsOps").map(_.runMs).sum / 1e3,
      "engine.StatsOps.spill_bytes" ->
        stagesOf("engine.StatsOps").map(_.spill).sum.toDouble,
      "engine.StatsOps.peak_exec_mem_mb" ->
        (stagesOf("engine.StatsOps").map(_.peakMem) :+ 0L).max / 1048576.0,
      "engine.Drift.s" ->
        spanSeconds(root, "engine.Drift", "sketchDriftFromQuantiles"),
      "engine.Checkpoint.jobs" ->
        jobsByLayer.getOrElse("engine.Checkpoint", Nil).size.toDouble,
      "engine.Checkpoint.s" -> jobSeconds("engine.Checkpoint"),
      "engine.ViolationStore.write_s" ->
        layerJobSeconds("engine.ViolationStore", inReport = false),
      "engine.ViolationStore.latest_s" ->
        layerJobSeconds("engine.ViolationStore", inReport = true),
      "report.ReportOps.assemble_s" -> planned.collect {
        case (query, t, secs) if reportRuns.exists(within(_, t)) &&
            execOfQuery.get(query).exists(layerOf(-1, _, "") ==
              "report.ReportOps") => secs
      }.sum,
      "report.ReportOps.persist_s" ->
        layerJobSeconds("report.ReportOps", inReport = true),
      "streaming.StreamingValidation.batches" ->
        prog.count(_.inputRows > 0).toDouble,
      "streaming.StreamingValidation.batch_s" ->
        (if (prog.isEmpty) 0.0 else prog.map(_.batchS).sum / prog.size),
      "streaming.StreamingValidation.add_batch_s" -> prog.map(_.addBatchS).sum,
      "streaming.StreamingValidation.commit_s" -> prog.map(_.commitS).sum,
      "streaming.StreamingValidation.state_rows" ->
        lastState.map(_.stateRows.toDouble).getOrElse(0.0),
      "streaming.StreamingValidation.state_mem_bytes" ->
        lastState.map(_.stateMemBytes.toDouble).getOrElse(0.0),
      "streaming.StreamingValidation.state_partitions" ->
        lastState.map(_.statePartitions.toDouble).getOrElse(0.0),
      "tools.Validate.run_s" -> validateRuns.map(_.seconds).sum,
      "tools.Validate.self_s" -> validateSelf)
  }

  /** Every span with its self time (duration minus the union of its
    * children's intervals), as JSON lines.
    */
  def spanLines: Seq[String] = {
    val children = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val kids = children.getOrElse(Some(s.id), Nil)
        .map(c => (c.startNs / 1000000, c.endNs / 1000000))
      val self = s.seconds - mergedSeconds(kids.toSeq)
      s"""{"id":${s.id},"parent":${s.parent.getOrElse(-1)},"op":${s.op},""" +
        s""""name":"${s.name}","start_ms":${s.startMs},""" +
        f""""duration_s":${s.seconds}%.6f,"self_s":$self%.6f}"""
    }
  }
}

object Tracer {
  val SpanProp = "valbench.span"

  /** Span name of a `Validate.run` call that writes the report. */
  val ReportCall = "tools.Validate.run.report"

  /** Layers are the engine's modules; span names start with one. */
  val Layers: Seq[String] = Seq("Sessions", "sources", "rules",
    "engine.Validator", "engine.StatsOps", "engine.Drift",
    "engine.Checkpoint", "engine.ViolationStore", "report.ReportOps",
    "streaming.StreamingValidation", "tools.Validate")

  /** Per-operation values read from workload outputs (see
    * `Workload.check`); 0 on a workload that has none.
    */
  val OutputMetrics: Seq[String] = Seq("engine.Validator.violation_rows",
    "engine.Checkpoint.manifest_rows", "engine.Checkpoint.skipped_ratio",
    "engine.Checkpoint.resume_noop_s", "engine.ViolationStore.bytes_written",
    "engine.ViolationStore.files_written", "report.ReportOps.rows",
    "report.ReportOps.report_s")

  private val FileLayer: Map[String, String] = Map(
    "TokenTable.scala" -> "sources", "Fs.scala" -> "sources",
    "DimensionLoader.scala" -> "sources", "Rules.scala" -> "rules",
    "Validator.scala" -> "engine.Validator",
    "StatsOps.scala" -> "engine.StatsOps", "Drift.scala" -> "engine.Drift",
    "Checkpoint.scala" -> "engine.Checkpoint",
    "ViolationStore.scala" -> "engine.ViolationStore",
    "ReportOps.scala" -> "report.ReportOps",
    "StreamingValidation.scala" -> "streaming.StreamingValidation",
    "Validate.scala" -> "tools.Validate")

  private val CallSite = """ at (\w+\.scala):\d+""".r

  final case class Span(id: Int, name: String, parent: Option[Int], op: Int,
      startNs: Long, startMs: Long) {
    var endNs = 0L
    var endMs = 0L
    def seconds: Double = (endNs - startNs) / 1e9
  }

  final case class JobRec(id: Int, span: Int, exec: Long, startMs: Long,
      site: String) {
    var endMs = 0L
  }

  final case class StageRec(id: Int, span: Int, exec: Long, name: String) {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var schedDelayMs = 0L
    var recordsRead = 0L
    var bytesRead = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var peakMem = 0L
    var scanTimeMs = 0L
  }

  final case class ProgressRec(inputRows: Long, batchS: Double,
      addBatchS: Double, commitS: Double, planS: Double, stateRows: Long,
      stateMemBytes: Long, statePartitions: Long)

  final case class OpCounters(gcMs: Long, compileMs: Double)

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  /** Total codegen compile time so far (ms). Spark keeps the samples in a
    * 1028-entry reservoir; below that the sum is exact.
    */
  def compileMs(): Double = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val s = h.getSnapshot
    if (h.getCount <= s.size) s.getValues.sum.toDouble
    else h.getCount * s.getMean
  }

  /** Length of the union of [start, end] intervals (ms in, seconds out). */
  def mergedSeconds(iv: collection.Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }
}
