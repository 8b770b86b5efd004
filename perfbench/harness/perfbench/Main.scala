package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Graft
import graft.queries._

/** One benchmark run in one JVM: setup, a first pass, warm passes, a
  * session pass, then an untimed dump of every output for the DuckDB
  * check that `run.py` performs. Operators run one at a time, in
  * `Registry` order, each through its public `Q.build` and Spark's `noop`
  * sink, so the whole output is computed and nothing else is written.
  *
  * Usage: Main <workload> <fixtureDir> <outDir> <warmPasses> <trace 0|1>
  *
  * Writes `<outDir>/result.json`; with trace 1 also `<outDir>/spans.jsonl`.
  */
object Main {

  /** A workload: the operators of some `queries` modules, thinned to
    * every `every`-th one in Registry order so one run fits its time
    * budget. Membership comes from the module objects themselves. */
  final case class Workload(modules: Seq[(String, Seq[Q])], every: Int)

  val workloads: ListMap[String, Workload] = ListMap(
    "llm_corpus" -> Workload(
      Seq("TextOps" -> TextOps.qs, "Vectors" -> Vectors.qs), every = 14),
    "ingest" -> Workload(
      Seq("Sinks" -> Sinks.qs, "Streaming" -> Streaming.qs), every = 7))

  /** Every module any workload draws from, in a fixed order, so a traced
    * run names the same per-module metrics whichever workload it runs. */
  val modules: Seq[String] = workloads.values.flatMap(_.modules.map(_._1)).toSeq

  /** (module, operator) in Registry order. */
  def keysOf(workload: String): Seq[(String, Q)] = {
    val w = workloads(workload)
    val moduleOf = w.modules.flatMap { case (m, qs) =>
      qs.map(_.name -> m)
    }.toMap
    Registry.all.filter(q => moduleOf.contains(q.name)).zipWithIndex
      .collect { case (q, i) if i % w.every == 0 => moduleOf(q.name) -> q }
  }

  /** Two worker threads: never more than the host's CPUs, and on four
    * CPUs the JIT and GC threads keep room. */
  val workers: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  final case class KeyRun(key: String, module: String, startMs: Long,
      buildEndMs: Long, endMs: Long, buildS: Double, totalS: Double,
      analysisMs: Long, error: Option[String])
  final case class PassRun(name: String, startMs: Long, endMs: Long,
      wallS: Double, cpuS: Double, keys: Seq[KeyRun]) {
    def failed: Int = keys.count(_.error.isDefined)
  }

  def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime
    case _ => 0L
  }

  def session(workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$workers]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", workers.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Views plus one touch of each fixture table (file listing, footer
    * read, first scan codegen). */
  def registerAndTouch(spark: SparkSession, fixture: String): Unit = {
    Graft.registerViews(spark, fixture)
    Graft.tableNames.foreach { t =>
      if (spark.catalog.tableExists(t)) spark.table(t).count()
    }
  }

  /** Setup timed from JVM start; the Graft layer's parts timed apart. */
  def setup(fixture: String, workDir: String,
      spans: Option[Spans]): (SparkSession, Map[String, Double]) = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    def sec(t0: Long) = (System.nanoTime() - t0) / 1e9
    var t = System.nanoTime()
    val spark = session(workDir)
    val sessionS = sec(t)
    t = System.nanoTime()
    Graft.sizeShufflePartitions(spark, fixture)
    val partitionsS = sec(t)
    t = System.nanoTime()
    registerAndTouch(spark, fixture)
    val viewsS = sec(t)
    val endMs = System.currentTimeMillis()
    spans.foreach(sp => sp.add("setup", "setup", sp.runId, jvmStartMs, endMs))
    (spark, Map(
      "setup_s" -> (endMs - jvmStartMs) / 1e3,
      "graft.session_s" -> sessionS,
      "graft.partitions_s" -> partitionsS,
      "graft.views_s" -> viewsS))
  }

  def runPass(spark: SparkSession, name: String, keys: Seq[(String, Q)],
      fixture: String, prelude: () => Unit = () => ()): PassRun = {
    val cpu0 = cpuNanos
    val t0 = System.nanoTime()
    val start = System.currentTimeMillis()
    prelude()
    val runs = keys.map { case (module, q) =>
      val sc = spark.sparkContext
      sc.setJobGroup(q.name, s"$name ${q.name}", interruptOnCancel = false)
      val k0 = System.nanoTime()
      val kStart = System.currentTimeMillis()
      var buildEnd = kStart
      var buildS = 0.0
      var analysisMs = 0L
      val err = try {
        val df = q.build(spark, fixture)
        buildS = (System.nanoTime() - k0) / 1e9
        buildEnd = System.currentTimeMillis()
        analysisMs = df.queryExecution.tracker.phases.get("analysis")
          .map(_.durationMs).getOrElse(0L)
        df.write.format("noop").mode("overwrite").save()
        None
      } catch {
        case NonFatal(e) =>
          Some(s"${e.getClass.getSimpleName}: ${
            Option(e.getMessage).map(_.linesIterator.next()).getOrElse("")}")
      } finally sc.clearJobGroup()
      KeyRun(q.name, module, kStart, buildEnd, System.currentTimeMillis(),
        buildS, (System.nanoTime() - k0) / 1e9, analysisMs, err)
    }
    PassRun(name, start, System.currentTimeMillis(),
      (System.nanoTime() - t0) / 1e9, (cpuNanos - cpu0) / 1e9, runs)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    mem.gc(); mem.gc()
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Load average and cumulative steal jiffies: context for a run, not a
    * metric (the host's other tenants set them). */
  def hostContext(): Map[String, Double] = {
    def read(p: String) =
      scala.util.Try(new String(Files.readAllBytes(Paths.get(p)))).toOption
    val load = read("/proc/loadavg").flatMap(_.split(" ").headOption)
      .flatMap(_.toDoubleOption).getOrElse(-1.0)
    val steal = read("/proc/stat").flatMap(_.linesIterator
      .find(_.startsWith("cpu ")).map(_.trim.split("\\s+")))
      .flatMap(_.lift(8)).flatMap(_.toDoubleOption).getOrElse(-1.0)
    Map("load_1m" -> load, "steal_jiffies" -> steal)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, fixture, outDir, warmPassesArg, traceArg) = args
    val warmPasses = warmPassesArg.toInt
    val traced = traceArg == "1"
    val keys = keysOf(workload)
    require(keys.nonEmpty, s"workload $workload has no operators")
    val hostStart = hostContext()
    val spans = if (traced) Some(new Spans) else None
    val (spark, setupMetrics) = setup(fixture, outDir, spans)
    val tracer = spans.map(s => new Tracer(spark, s))

    def pass(s: SparkSession, name: String, prelude: () => Unit = () => ()) = {
      tracer.foreach(_.beginPass(s))
      val p = runPass(s, name, keys, fixture, prelude)
      tracer.foreach(_.endPass(s, p))
      p
    }

    val first = pass(spark, "first")
    // a fixed count, not a time budget: warm passes still speed up as the
    // JIT settles, so a count that varied with host speed would move the
    // median along that curve
    val warm = (1 to warmPasses).map(i => pass(spark, s"warm$i"))
    tracer.foreach(_.memoCached(spark))
    val heapMb = retainedHeapMb()

    // the sink artifacts live at fixed paths both sessions share, so the
    // first session's caches go before the second session rebuilds them
    Graft.freeCaches(spark)
    val spark2 = spark.newSession()
    val sessionPass = pass(spark2, "session",
      () => registerAndTouch(spark2, fixture))

    // untimed: dump each output for the DuckDB check
    val dumpDir = s"$outDir/dump"
    val dumpErrors = keys.flatMap { case (_, q) =>
      try {
        q.build(spark2, fixture).coalesce(1).write.mode("overwrite")
          .parquet(s"$dumpDir/${q.name}")
        None
      } catch {
        case NonFatal(e) => Some(q.name -> s"${e.getClass.getSimpleName}: ${
          Option(e.getMessage).map(_.linesIterator.next()).getOrElse("")}")
      }
    }.toMap
    val hostEnd = hostContext()

    val passes = Seq(first) ++ warm ++ Seq(sessionPass)
    val e2e = Seq(
      "setup_s" -> setupMetrics("setup_s"),
      "cpu_s" -> passes.map(_.cpuS).sum,
      "retained_heap_mb" -> heapMb)

    val layer: Seq[(String, Double)] = tracer.map { t =>
      spans.foreach(_.add("run", "run", 0,
        ManagementFactory.getRuntimeMXBean.getStartTime,
        System.currentTimeMillis()))
      val perModule = modules.flatMap { m =>
        def sumKeys(p: PassRun, f: KeyRun => Double) =
          p.keys.filter(_.module == m).map(f).sum
        Seq(s"queries.$m.build_s" -> sumKeys(first, _.buildS),
          s"queries.$m.first_s" -> sumKeys(first, _.totalS),
          s"queries.$m.session_s" -> sumKeys(sessionPass, _.totalS),
          s"queries.$m.warm_s" -> median(warm.map(sumKeys(_, _.totalS))))
      }
      val passWalls = Seq("pass.first_s" -> first.wallS,
        "pass.warm_s" -> median(warm.map(_.wallS)),
        "pass.session_s" -> sessionPass.wallS)
      setupMetrics.toSeq.filter(_._1.startsWith("graft.")) ++ passWalls ++
        perModule ++ t.metrics(first, warm, sessionPass)
    }.getOrElse(Nil)
    spans.foreach(_.write(s"$outDir/spans.jsonl"))

    val keyRows = keys.map { case (module, q) =>
      val errs = passes.flatMap(p =>
        p.keys.find(_.key == q.name).flatMap(_.error).map(p.name -> _))
      Json.obj(Seq(
        "key" -> Json.str(q.name),
        "module" -> Json.str(module),
        "first_s" -> Json.num(first.keys.find(_.key == q.name).get.totalS),
        "warm_s" -> Json.num(median(warm.map(
          _.keys.find(_.key == q.name).get.totalS))),
        "oracle" -> q.oracle.map(Json.str).getOrElse("null"),
        "pass_errors" -> Json.obj(errs.map { case (p, e) => p -> Json.str(e) }),
        "dump_error" -> dumpErrors.get(q.name).map(Json.str).getOrElse("null")))
    }
    Json.write(s"$outDir/result.json", Json.obj(Seq(
      "workload" -> Json.str(workload),
      "workers" -> Json.num(workers),
      "passes" -> Json.arr(passes.map(p => Json.obj(Seq(
        "name" -> Json.str(p.name), "wall_s" -> Json.num(p.wallS),
        "cpu_s" -> Json.num(p.cpuS), "failed" -> Json.num(p.failed))))),
      "executions" -> Json.num(passes.map(_.keys.size).sum),
      "failed_executions" -> Json.num(passes.map(_.failed).sum),
      "end_to_end" -> Json.obj(e2e),
      "per_layer" -> Json.obj(layer),
      "host_start" -> Json.obj(hostStart.toSeq),
      "host_end" -> Json.obj(hostEnd.toSeq),
      "keys" -> Json.arr(keyRows))))
    spark.stop()
  }
}

/** Minimal JSON writing: the harness emits a handful of flat records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, Any)]): String = kv.map { case (k, v) =>
    s"${str(k)}: ${v match {
      case d: Double => num(d)
      case s: String => s
      case other => str(other.toString)
    }}"
  }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), s + "\n")
  }
}
