package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-op layer counters, filled from Spark's public listener hooks. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  var schedDelayMs, runMs, cpuNs, gcMs = 0L
  var shuffleRead, shuffleWrite, fetchWaitMs, spill = 0L
  var scanBytes, scanRows, rowsWritten = 0L
  var taskSkew = 0.0

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "sched_delay_ms" -> schedDelayMs, "run_ms" -> runMs,
    "cpu_ms" -> cpuNs / 1e6, "gc_ms" -> gcMs,
    "shuffle_read" -> shuffleRead, "shuffle_write" -> shuffleWrite,
    "fetch_wait_ms" -> fetchWaitMs, "spill" -> spill,
    "scan_bytes" -> scanBytes, "scan_rows" -> scanRows,
    "rows_written" -> rowsWritten, "task_skew" -> taskSkew)
}

/** Records what each op did, layer by layer, when tracing is on.
  *
  * Everything is kept in memory and handed to [[Main]] at the end of the
  * run. Ops are identified by the Spark job group the client thread sets
  * around them; events that carry no job group (query-planning phases,
  * stream progress) carry wall-clock times and are matched to ops by time
  * in the report. With tracing off nothing is registered and every hook
  * is a no-op, so the untraced run pays only for its own timers.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val counters = new ConcurrentHashMap[String, OpCounters]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (String, Long, Seq[Int])]()
  val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val phases = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
  val triggers = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()

  private def opOf(stage: Int): OpCounters = {
    val op = stageOp.get(stage)
    if (op == null) null else counters.computeIfAbsent(op, _ => new OpCounters)
  }

  private val sparkListener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = delivered.incrementAndGet()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      delivered.incrementAndGet()
      val group = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("unattributed")
      e.stageIds.foreach(s => stageOp.put(s, group))
      counters.computeIfAbsent(group, _ => new OpCounters).synchronized {
        counters.get(group).jobs += 1
      }
      jobStart.put(e.jobId, (group, e.time, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) jobs.add(Map("op" -> s._1, "job" -> e.jobId,
        "start" -> s._2, "end" -> e.time, "stages" -> s._3))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val id = e.stageInfo.stageId
      val end = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
      val start = Option(stageSubmit.remove(id)).getOrElse(end)
      stages.add(Map("stage" -> id, "op" -> stageOp.getOrDefault(id, "unattributed"),
        "start" -> start, "end" -> end))
      val ts = stageTaskMs.remove(id)
      val c = opOf(id)
      if (c != null) c.synchronized {
        c.stages += 1
        if (ts != null && ts.size >= 2) {
          val sorted = ts.sorted
          val med = sorted(sorted.size / 2).max(1L)
          c.taskSkew = c.taskSkew.max(sorted.last.toDouble / med)
        }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      delivered.incrementAndGet()
      val c = opOf(e.stageId)
      val m = e.taskMetrics
      if (c == null || m == null) return
      val info = e.taskInfo
      val gettingResult =
        if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L
      val delay = (info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - gettingResult).max(0L)
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
        .synchronized(stageTaskMs.get(e.stageId) += info.duration)
      c.synchronized {
        c.tasks += 1
        c.schedDelayMs += delay
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.scanBytes += m.inputMetrics.bytesRead
        c.scanRows += m.inputMetrics.recordsRead
        c.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qeListener = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    private def record(qe: QueryExecution, ok: Boolean): Unit = {
      delivered.incrementAndGet()
      val p = qe.tracker.phases
      val plan = qe.executedPlan
      val scanFiles = collectWithSubqueries(plan) {
        case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      val written = collect(plan) {
        case w: DataWritingCommandExec => w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L)
      }.sum
      phases.add(Map(
        "ok" -> ok,
        "phases" -> p.map { case (k, v) => k -> Map("start" -> v.startTimeMs, "end" -> v.endTimeMs) },
        "files_read" -> scanFiles, "files_written" -> written))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe, ok = false)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      delivered.incrementAndGet()
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      triggers.add(Map(
        "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "addbatch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "input_rows" -> p.numInputRows,
        "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum,
        "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum))
    }
  }

  private def classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  def start(): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    classic.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  private val delivered = new java.util.concurrent.atomic.AtomicLong

  /** Wait until the listener buses go quiet, so late events are counted. */
  def drain(): Unit = if (enabled) {
    val t0 = System.nanoTime()
    var last, quiet = -1L
    while (quiet < 4 && System.nanoTime() - t0 < 5e9) {
      Thread.sleep(50)
      val n = delivered.get
      if (n == last) quiet += 1 else { quiet = 0; last = n }
    }
  }

  def stop(): Unit = if (enabled) {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    classic.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Snapshot of process-wide counters an op moves but cannot tag. */
  def globals(): Map[String, Double] = if (!enabled) Map.empty else {
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    val (hits, misses) = graft.plans.ResultCache.stats
    Map("codegen_compiles" -> hist.getCount.toDouble,
      "codegen_mean_ms" -> hist.getSnapshot.getMean,
      "jvm_gc_ms" -> gc.toDouble,
      "cache_hits" -> hits.toDouble, "cache_misses" -> misses.toDouble)
  }

  /** Analyzer/optimizer rule time since the last call, split into the
    * engine's own plan-rewrite rules and every other rule. */
  def ruleTimes(): Map[String, Double] = if (!enabled) Map.empty else {
    val dump = RuleExecutor.dumpTimeSpent()
    RuleExecutor.resetMetrics()
    var ownNs, ownEffective, allNs = 0.0
    val Row = """^(\S+)\s+(\d+)\s*/\s*(\d+)\s+(\d+)\s*/\s*(\d+)\s*$""".r
    dump.linesIterator.foreach {
      case Row(name, _, total, effective, _) =>
        allNs += total.toDouble
        if (name.startsWith("graft.plans")) {
          ownNs += total.toDouble; ownEffective += effective.toDouble
        }
      case _ =>
    }
    Map("rule_ms" -> allNs / 1e6, "plans_rule_ms" -> ownNs / 1e6,
      "plans_rewrites" -> ownEffective)
  }

  /** The analysis phase of an op's result, which Spark runs eagerly when
    * the DataFrame is built, before any action the listener would see. */
  def recordAnalysis(df: org.apache.spark.sql.DataFrame): Unit = if (enabled) {
    df.queryExecution.tracker.phases.get("analysis").foreach { v =>
      phases.add(Map("ok" -> true, "files_read" -> 0L, "files_written" -> 0L,
        "phases" -> Map("analysis" -> Map("start" -> v.startTimeMs, "end" -> v.endTimeMs))))
    }
  }

  def countersOf(op: String): Map[String, Any] =
    Option(counters.get(op)).map(c => c.synchronized(c.toMap)).getOrElse(Map.empty)

  def storage(): (Int, Double) = {
    val infos = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.memSize + i.diskSize > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum / 1048576.0)
  }
}
