package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.util.Tables

/** Library facade: exposes the fixture star schema to SQL-text users.
  * `registerViews` makes every table (including the schema-adaptive
  * events reader) available as a temp view, so `spark.sql("SELECT ...")`
  * works against the same data the DataFrame operators see. */
object Graft {
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register each table as a temp view, independently: a table whose read
    * or recipe fails (missing file, drifted physical type, ...) degrades
    * ONLY queries that reference it. Its stale view (if any) is dropped, so
    * such queries fail with TABLE_OR_VIEW_NOT_FOUND naming the culprit,
    * while the other nine tables stay queryable. (Round-7 lesson: an events
    * schema drift killed the four `sub_*` queries that never touch events,
    * purely because this method was all-or-nothing.) */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    tableNames.foreach { t =>
      try {
        val df =
          if (t == "events") Tables.events(spark, sfDir)
          else Tables(spark, sfDir, t)
        df.createOrReplaceTempView(t)
      } catch {
        case scala.util.control.NonFatal(e) =>
          spark.catalog.dropTempView(t)
          System.err.println(
            s"[graft] WARN: view '$t' unavailable under $sfDir: ${e.getMessage.linesIterator.next()}")
      }
    }

  /** SF-sized batch shuffle-partition count (round-17, VERDICT-r16 #4):
    * one shuffle partition per ~75k fact rows (lineitem, the largest
    * fixture table), floored at 8 and capped at the worker count —
    * sf0.1 → 8, sf1 → 32-capped, sf5 → capped. The same sizing rule the
    * streaming tier already applies per state store
    * (`Streaming.streamPartitions`): partition count is a deployment
    * knob sized to the data, not a constant. Measured (ProfilePhases,
    * sf0.1, quiet host): 32 reducers over ~10 MB shuffles cost ~35 ms/key
    * of pure per-task overhead — 24% of the 60 most overhead-dominated
    * keys' wall and 9% of even the 20 slowest — while 8 partitions keep
    * every executor thread busy at this volume. On a real cluster the
    * same rule yields hundreds of partitions, so plans stay
    * scale-faithful; AQE further coalesces tiny shuffles either way.
    * Returns the applied count; a missing lineitem leaves the session
    * default untouched. */
  def sizeShufflePartitions(spark: SparkSession, sfDir: String): Int = {
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    try {
      // the cached scan registerViews reuses: one schema inference
      val rows = Tables.lineitem(spark, sfDir).count()
      val cap = spark.sparkContext.defaultParallelism.toLong
      val n = math.min(cap, math.max(8L, rows / 75000L)).toInt
      spark.conf.set("spark.sql.shuffle.partitions", n.toString)
      n
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] WARN: shuffle-partition sizing skipped (lineitem count failed: ${e.getMessage.linesIterator.next()})")
        cur
    }
  }

  /** Send this session's jobs to the executor's one shared classloader.
    * Spark 4.1 isolates session artifacts by default: every job carries
    * its session's UUID, the executor builds one classloader per UUID,
    * and the codegen cache is keyed by (context classloader, source). So
    * each `newSession()`, and each stream `start()` (its micro-batches run
    * on a `cloneSession()` with a fresh UUID), compiled every generated
    * class again and JIT-compiled it again. The engine adds no session
    * artifacts (no `addArtifact`, `addJar` or `ADD JAR`), so isolation
    * guards nothing here; with it off, sessions behave as Spark 3.5
    * classic sessions did.
    *
    * `Tables` calls this when it first sees a session, which is before
    * any operator, `sizeShufflePartitions` or `registerViews` runs a
    * query on it. Limits: Spark reads the flag once per session, at its
    * first query, so a session that ran a query before the engine touched
    * it keeps its own loader for its own jobs (the stream clones it
    * starts afterwards read the flag at `start()` and do share); and an
    * application that adds per-session artifacts through an engine-touched
    * session shares them with the other engine sessions. */
  def shareExecutorLoader(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.artifact.isolation.enabled", "false")

  /** Convenience: register views and run one SQL text query. */
  def sql(spark: SparkSession, sfDir: String, query: String): DataFrame = {
    registerViews(spark, sfDir)
    spark.sql(query)
  }

  /** Streaming-engine bring-up: run one THROWAWAY micro-query through the
    * real Structured Streaming stack — 2-row file source → event-time
    * watermark → windowed stateful aggregate → a parquet sink and a
    * stream-stream interval self-join — so MicroBatchExecution, the
    * state-store providers and the streaming codegen paths are JIT-warm
    * before any real query runs. The batch analog (executor start, first
    * codegen, parquet footer cache) has always been warmed untimed by
    * Bench's `spark.range(16).count()`; the streaming engine's bring-up
    * is an order of magnitude larger (measured round-14: the first
    * streaming key pays ~5 s of engine JIT that the per-key warm cost —
    * 0.06 s — shows is pure bring-up, not query work) and lands on
    * whichever stream key runs first. Touches NO fixture data: the
    * two-row source is synthesized here. Each stream `start()` runs its
    * micro-batches on a cloned session, so the classes warmed here carry
    * over to later stream starts only because engine sessions share one
    * executor classloader (`shareExecutorLoader`; `Bench` sets it before
    * calling this). */
  def streamingBringUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    var baseDir: java.io.File = null
    try {
      // through the family tempDir: pid-stamped name + reaper-registered,
      // so a SIGKILL between here and the finally below still gets
      // reclaimed by the next JVM's startup sweep (round-17)
      val base = {
        val p = graft.queries.Streaming.tempDir("graft_stream_warm_")
        baseDir = new java.io.File(p)
        p
      }
      spark.range(2)
        .select(col("id"),
          expr("timestamp_micros(cast(id * 60000000 as long))").as("ts"),
          (col("id") % 2).cast("string").as("k"))
        .coalesce(1).write.parquet(s"$base/src")
      val schema = spark.read.parquet(s"$base/src").schema
      def src = spark.readStream.schema(schema).parquet(s"$base/src")
        .withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
      // stateful windowed agg → parquet sink (the file/tumbling shape)
      val q1 = src.groupBy(window(col("ts"), "1 minute"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("b"), col("k"), col("n"))
        .writeStream.format("parquet").option("path", s"$base/out1")
        .option("checkpointLocation", s"$base/ck1")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q1.awaitTermination()
      // stream-stream interval self-join → parquet sink (the join shape)
      val l = src.select(col("id").as("lid"), col("k").as("lk"),
        col("ts").as("lts")).withWatermark("lts", "1 minute")
      val r = src.select(col("id").as("rid"), col("k").as("rk"),
        col("ts").as("rts")).withWatermark("rts", "1 minute")
      val q2 = l.join(r, col("lk") === col("rk") &&
          col("rts") >= col("lts") &&
          col("rts") <= col("lts") + expr("INTERVAL 2 MINUTES"), "inner")
        .select(col("lid"), col("rid"))
        .writeStream.format("parquet").option("path", s"$base/out2")
        .option("checkpointLocation", s"$base/ck2")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q2.awaitTermination()
      // session-window stateful merge → parquet sink (the session shape)
      val q3 = src.groupBy(session_window(col("ts"), "1 minute"), col("k"))
        .agg(count(lit(1)).as("n"))
        .select(col("session_window.start").as("s"), col("k"), col("n"))
        .writeStream.format("parquet").option("path", s"$base/out3")
        .option("checkpointLocation", s"$base/ck3")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q3.awaitTermination()
    } catch {
      // ADVICE-r14: a silently-broken warmup re-exposes the ~5 s streaming
      // cold-start it exists to hide — make the failure visible (warm-up
      // callers still proceed; the cost just lands on the first stream key)
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] WARN: streaming bring-up failed (first stream query pays cold-start): $e")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", prev)
      // the warmup's sinks/checkpoints are throwaway — reclaim them instead
      // of leaking three parquet dirs per Bench run under /tmp (ADVICE-r14)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm)
        f.delete(); ()
      }
      if (baseDir != null) rm(baseDir)
    }
  }

  /** Free every memoized build (ANN indexes, signature/edge frames),
    * release their stored blocks, and drop the session's analyzed-scan
    * cache (round-18, ADVICE-r17: scanCache was the one session cache
    * this didn't reach). A long-lived session should call this when done
    * with a fixture dir — the memo cannot free itself (see util.Memo's
    * scaladoc); the next query invocation simply rebuilds. */
  def freeCaches(spark: SparkSession): Unit = {
    graft.util.Memo.clear(spark)
    graft.util.Tables.clear(spark)
  }
}
