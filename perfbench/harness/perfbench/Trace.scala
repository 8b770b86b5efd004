package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans kept in memory and written once, when the run ends. They nest
  * run → setup | pass → key → build | execute → job → stage. */
final class Spans {
  val runId = 1
  private val rows = mutable.ArrayBuffer.empty[String]
  private var next = runId + 1

  def add(name: String, kind: String, parent: Int, startMs: Long,
      endMs: Long, attrs: Seq[(String, Any)] = Nil): Int = synchronized {
    val id = if (kind == "run") runId else { next += 1; next - 1 }
    rows += Json.obj(Seq("id" -> Json.num(id), "parent" -> Json.num(parent),
      "kind" -> Json.str(kind), "name" -> Json.str(name),
      "start_ms" -> Json.num(startMs), "end_ms" -> Json.num(endMs)) ++ attrs)
    id
  }

  def write(path: String): Unit = synchronized {
    Json.write(path, rows.mkString("\n"))
  }
}

/** Layer counters of one pass, taken from Spark's listener hooks and the
  * engine's own counters. */
final case class PassLayers(values: Map[String, Double], unattributedPct: Double)

/** The traced run's instrumentation: a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, plus snapshots of
  * CodegenMetrics, the JVM's JIT and GC counters and `Memo.entryCount`
  * around each pass. Nothing here is registered in an untraced run. */
final class Tracer(spark: SparkSession, spans: Spans) {
  final case class Job(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, cpuNs: Long, delayMs: Long,
      inBytes: Long, inRows: Long, shWrite: Long, shRead: Long, spill: Long,
      outBytes: Long, outRows: Long)
  final case class Stage(id: Int, startMs: Long, endMs: Long, tasks: Int)
  final case class Plan(analysis: Long, optimization: Long, planning: Long,
      intervals: Seq[(Long, Long)])
  final case class Progress(inputRows: Long, triggerMs: Long, commitMs: Long,
      runId: String, stateRows: Long)

  private val jobs = new ConcurrentLinkedQueue[Job]
  private val tasks = new ConcurrentLinkedQueue[Task]
  private val stages = new ConcurrentLinkedQueue[Stage]
  private val plans = new ConcurrentLinkedQueue[Plan]
  private val progress = new ConcurrentLinkedQueue[Progress]
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, Job]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val j = Job(e.jobId, e.time, e.time, e.stageIds)
      jobById.put(e.jobId, j); jobs.add(j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      stages.add(Stage(i.stageId, i.submissionTime.getOrElse(0L),
        i.completionTime.getOrElse(0L), i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val delay = math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
        tasks.add(Task(e.stageId, m.executorRunTime, m.executorCpuTime, delay,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      plans.add(Plan(ms("analysis"), ms("optimization"), ms("planning"),
        ph.values.map(s => (s.startTimeMs, s.endTimeMs)).toSeq))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long =
        Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      progress.add(Progress(p.numInputRows, d("triggerExecution"),
        d("walCommit") + d("commitOffsets"), p.runId.toString,
        p.stateOperators.map(_.numRowsTotal).sum))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  spark.sparkContext.addSparkListener(sparkListener)
  private val sessions = mutable.Set.empty[SparkSession]

  private def listenOn(s: SparkSession): Unit = if (sessions.add(s)) {
    s.listenerManager.register(qeListener)
    s.streams.addListener(streamListener)
  }

  private def drain(): Unit = PerfbenchBus.drain(spark.sparkContext)

  private def counters(s: SparkSession): Map[String, Double] = Map(
    "codegen.compiles" -> CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
    "codegen.compile_ms" -> CodeGenerator.compileTime / 1e6,
    "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
    "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum.toDouble,
    "memo.builds" -> graft.util.Memo.entryCount(s).toDouble)

  private def take[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
    val out = mutable.ArrayBuffer.empty[T]
    var x = q.poll()
    while (x != null) { out += x; x = q.poll() }
    out.toSeq
  }

  private var before: Map[String, Double] = Map.empty
  private val byPass = mutable.LinkedHashMap.empty[String, PassLayers]
  private var cachedMb = 0.0

  def beginPass(s: SparkSession): Unit = {
    listenOn(s)
    drain()
    Seq(jobs, tasks, stages, plans, progress).foreach(q => take(q))
    jobById.clear()
    before = counters(s)
  }

  def endPass(s: SparkSession, p: Main.PassRun): Unit = {
    drain()
    val after = counters(s)
    val js = take(jobs); val ts = take(tasks); val ss = take(stages)
    val ps = take(plans); val prog = take(progress)
    val mb = 1048576.0

    // executor skew: per stage, slowest task over median task
    val perStage = ts.groupBy(_.stage).values.filter(_.size >= 2)
    val skewMax = perStage.map(_.map(_.runMs).max.toDouble).sum
    val skewBase = perStage.map(t => Main.median(t.map(_.runMs.toDouble))).sum
    val lastProgress = prog.groupBy(_.runId).values.map(_.last)

    val v = Map(
      // the built Dataset's own analysis plus that of each executed query
      "catalyst.analysis_ms" ->
        (ps.map(_.analysis).sum + p.keys.map(_.analysisMs).sum).toDouble,
      "catalyst.optimization_ms" -> ps.map(_.optimization).sum.toDouble,
      "catalyst.planning_ms" -> ps.map(_.planning).sum.toDouble,
      "scheduler.jobs" -> js.size.toDouble,
      "scheduler.stages" -> ss.size.toDouble,
      "scheduler.tasks" -> ts.size.toDouble,
      "scheduler.delay_ms" -> ts.map(_.delayMs).sum.toDouble,
      "executor.run_ms" -> ts.map(_.runMs).sum.toDouble,
      "executor.cpu_ms" -> ts.map(_.cpuNs).sum / 1e6,
      "executor.skew" -> (if (skewBase > 0) skewMax / skewBase else 1.0),
      "executor.skew_base_ms" -> skewBase,
      "shuffle.write_mb" -> ts.map(_.shWrite).sum / mb,
      "shuffle.read_mb" -> ts.map(_.shRead).sum / mb,
      "spill.mb" -> ts.map(_.spill).sum / mb,
      "scan.input_mb" -> ts.map(_.inBytes).sum / mb,
      "scan.input_rows" -> ts.map(_.inRows).sum.toDouble,
      "sink.output_mb" -> ts.map(_.outBytes).sum / mb,
      "sink.output_rows" -> ts.map(_.outRows).sum.toDouble,
      "streaming.batches" -> prog.size.toDouble,
      "streaming.input_rows" -> prog.map(_.inputRows).sum.toDouble,
      "streaming.trigger_ms" -> prog.map(_.triggerMs).sum.toDouble,
      "streaming.commit_ms" -> prog.map(_.commitMs).sum.toDouble,
      "streaming.state_rows" -> lastProgress.map(_.stateRows).sum.toDouble
    ) ++ after.map { case (k, a) => k -> (a - before.getOrElse(k, 0.0)) }

    // spans: pass → key → build | execute → job → stage
    val passId = spans.add(p.name, "pass", spans.runId, p.startMs, p.endMs,
      Seq("cpu_s" -> p.cpuS))
    val keySpans = p.keys.map { k =>
      val id = spans.add(k.key, "key", passId, k.startMs, k.endMs,
        Seq("module" -> Json.str(k.module)) ++
          k.error.map(e => "error" -> Json.str(e)).toSeq)
      (k, spans.add("build", "build", id, k.startMs, k.buildEndMs),
        spans.add("execute", "execute", id, k.buildEndMs, k.endMs))
    }
    val stageById = ss.groupBy(_.id).map { case (i, xs) => i -> xs.last }
    js.foreach { j =>
      val parent = keySpans.find { case (k, _, _) =>
        j.startMs >= k.startMs && j.startMs <= k.endMs
      }.map { case (k, b, e) => if (j.startMs < k.buildEndMs) b else e }
        .getOrElse(passId)
      val jobId = spans.add(s"job ${j.id}", "job", parent, j.startMs, j.endMs)
      j.stages.flatMap(stageById.get).foreach { st =>
        spans.add(s"stage ${st.id}", "stage", jobId, st.startMs, st.endMs,
          Seq("tasks" -> st.tasks.toDouble))
      }
    }

    // wall time covered by no layer span: Q.build, Catalyst phases, jobs
    val intervals = (p.keys.map(k => (k.startMs, k.buildEndMs)) ++
      ps.flatMap(_.intervals) ++ js.map(j => (j.startMs, j.endMs)))
      .map { case (a, b) => (math.max(a, p.startMs), math.min(b, p.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L; var reach = p.startMs
    intervals.foreach { case (a, b) =>
      if (b > reach) { covered += b - math.max(a, reach); reach = b }
    }
    val wallMs = math.max(1L, p.endMs - p.startMs)
    byPass(p.name) = PassLayers(v, 100.0 * (wallMs - covered) / wallMs)
  }

  /** Cached-block footprint of the memos at the end of the warm passes. */
  def memoCached(s: SparkSession): Unit =
    cachedMb = s.sparkContext.getRDDStorageInfo
      .map(r => r.memSize + r.diskSize).sum / 1048576.0

  /** Each layer metric taken from the pass it should move: Catalyst,
    * scheduler, executor, shuffle and scan from the warm passes (median);
    * codegen, JVM and streaming from the first pass; sinks from the
    * session pass. */
  def metrics(first: Main.PassRun, warm: Seq[Main.PassRun],
      session: Main.PassRun): Seq[(String, Double)] = {
    def at(p: Main.PassRun, k: String) = byPass(p.name).values(k)
    def warmMedian(k: String) = Main.median(warm.map(at(_, k)))
    val fromWarm = Seq("catalyst.analysis_ms", "catalyst.optimization_ms",
      "catalyst.planning_ms", "scheduler.jobs", "scheduler.stages",
      "scheduler.tasks", "scheduler.delay_ms", "executor.run_ms",
      "executor.cpu_ms", "executor.skew", "executor.skew_base_ms",
      "shuffle.write_mb", "shuffle.read_mb", "spill.mb", "scan.input_mb",
      "scan.input_rows")
    val fromFirst = Seq("codegen.compiles", "codegen.compile_ms",
      "jvm.jit_ms", "jvm.gc_ms", "streaming.batches", "streaming.input_rows",
      "streaming.trigger_ms", "streaming.commit_ms", "streaming.state_rows")
    val fromSession = Seq("sink.output_mb", "sink.output_rows")
    fromWarm.map(k => k -> warmMedian(k)) ++
      fromFirst.map(k => k -> at(first, k)) ++
      fromSession.map(k => k -> at(session, k)) ++
      Seq("memo.builds.first" -> at(first, "memo.builds"),
        "memo.builds.warm" -> warm.map(at(_, "memo.builds")).max,
        "memo.builds.session" -> at(session, "memo.builds"),
        "memo.cached_mb" -> cachedMb,
        "unattributed.first_pct" -> byPass(first.name).unattributedPct,
        "unattributed.warm_pct" -> Main.median(warm.map(p =>
          byPass(p.name).unattributedPct)),
        "unattributed.session_pct" -> byPass(session.name).unattributedPct)
  }
}
