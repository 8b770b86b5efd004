package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.util.{D, Tables}

/** Graded Structured Streaming surface (round-12). Until now the
  * streaming story lived only in StreamingParitySpec (test-asserted,
  * not hash-graded) because a streaming query cannot be handed to the
  * DuckDB oracle. This module closes that gap from the other side: the
  * graded query EXECUTES through the real streaming engine — file
  * source → event-time watermark → windowed aggregation → memory sink
  * under Trigger.AvailableNow — and returns the sink's contents as the
  * graded DataFrame, while the ORACLE stays the batch SQL (ts_tumbling's
  * text verbatim). Hash parity therefore grades the strongest claim the
  * streaming tier can make: the micro-batched, watermarked, stateful
  * execution path produces byte-for-byte the batch answer.
  *
  * 100-TB notes: the windowed aggregate keeps per-(window, type) state
  * bounded by the calendar, never by event volume; AvailableNow is the
  * production backfill trigger (process everything, then stop). The one
  * driver-side collect is calendar×types-sized (≤ a few thousand rows)
  * and memoized once per (session, corpus) — the sanctioned memoized
  * index-fetch class, here severing the graded frame from the live
  * memory sink.
  */
object Streaming {

  /** Collision-resistant per-sfDir tag for sink/table names (ADVICE r12:
    * 32-bit String.hashCode collisions between two sfDirs in one process
    * would cross-serve memory-sink rows between scale factors). */
  private def tag(sfDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(sfDir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)

  /** Streaming temp trees (staged sources, parquet sinks, checkpoints):
    * registered here and reclaimed by ONE shutdown hook for the whole
    * family (VERDICT-r15 #5 / ADVICE-r15: every cold build leaked its
    * dirs — 259 `graft_stream_*` orphans measured in /tmp before this).
    * Deletion must wait for JVM exit, NOT memo eviction: the state-source
    * keys read the checkpoint dirs that memoized builds return (see
    * `stateReaderBase`), so they must outlive every use of the
    * session. */
  private val tmpDirs =
    new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]
  locally {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      tmpDirs.forEach(d => rmTree(d))
    }, "graft-stream-tmp-reaper"))
    // kill-proof leg (VERDICT-r15 #5 / round-16 missing #3): the shutdown
    // hook never fires for a SIGKILLed JVM — the round-16 driver bench
    // left 10 family dirs stamped inside its own kill window. Sweeping at
    // family init reclaims any prior JVM's orphans no matter how it died.
    sweepStaleTmp()
  }
  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(rmTree); f.delete(); ()
  }
  /** Reclaim `/tmp/graft_*` / `/tmp/graft-*` orphan DIRECTORIES left by
    * DEAD JVMs (widened from `graft_stream_` in round-18, VERDICT-r17 #4:
    * the spec prefixes — graft_late_, graft_tws_out_, graft_zorder_,
    * graft-degraded, … — had accumulated 187 orphans / 871 MB that the
    * family-only sweep never matched; every spec site now also routes
    * through `tempDir`, so new dirs are pid-stamped and reaper-held).
    * Every dir this family creates embeds its owner's pid (`…_p<pid>_…`),
    * so liveness is checkable (`/proc/<pid>`) and a sweep can never
    * delete a dir a concurrently-running sibling JVM (sbt test beside
    * check.sh) still reads. The /proc probe is only trusted when a
    * procfs is actually mounted (ADVICE-r17: on a non-Linux host
    * /proc/<pid> never exists, which would classify a RUNNING sibling's
    * live checkpoints as dead); otherwise pid-stamped dirs fall back to
    * the same age rule as legacy pid-less names: 30 min is far beyond
    * any single build, so only a dir whose owner stalled or died
    * qualifies. Plain files (e.g. the driver's graft_sysprompt.* notes)
    * are never touched — the isDirectory filter excludes them. */
  private[graft] def sweepStaleTmp(): Unit = try {
    val tmpRoot = new java.io.File(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"))
    val pidPat = java.util.regex.Pattern.compile("_p(\\d+)_")
    val procfs = new java.io.File("/proc/self").exists()
    val cutoff = System.currentTimeMillis() - 30L * 60 * 1000
    val selfPid = ProcessHandle.current().pid().toString
    Option(tmpRoot.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory &&
        (f.getName.startsWith("graft_") || f.getName.startsWith("graft-")) &&
        // graft_sink is a MANAGED cache root (sfTag-keyed sink_*/fn_zorder
        // outputs, overwritten per run, re-read lazily by memoized frames
        // for the owning session's whole life) — pid-less by design, so
        // the age rule could delete it under a live long-running sibling.
        f.getName != "graft_sink")
      .foreach { d =>
        val m = pidPat.matcher(d.getName)
        val pid = if (m.find()) Some(m.group(1)) else None
        val stale = pid match {
          case Some(p) if p == selfPid => false // our own live dir
          case Some(p) if procfs => !new java.io.File(s"/proc/$p").exists()
          case _ => d.lastModified() < cutoff
        }
        if (stale) rmTree(d)
      }
  } catch { case scala.util.control.NonFatal(_) => () }
  private[graft] def tempDir(prefix: String): String = {
    val pid = ProcessHandle.current().pid()
    val p = java.nio.file.Files.createTempDirectory(s"${prefix}p${pid}_")
    tmpDirs.add(p.toFile)
    p.toString
  }

  /** Run a streaming build with an SF-SIZED shuffle-partition count
    * (scoped, restored): the stateful operators allocate one state store
    * per shuffle partition and the count is frozen into the checkpoint at
    * query start, so it must be a deliberate deployment knob, not the
    * batch default. Sizing rule (VERDICT-r15 #4 — the fixed 4 was the
    * documented sf5 cold-cost lever): one state partition per ~250k
    * events, floored at 4 (below that, stores are pure per-partition
    * overhead — ~4× the first-touch wall at fixture SFs; the
    * stream-stream join keeps FOUR stores per partition and feels it
    * hardest) and capped at the host's 32 cores. sf0.1→4, sf1→4, sf5→20.
    * `SPARK_GRAFT_STREAM_PARTITIONS` overrides for deployments that know
    * their key cardinality. Batch keys are untouched: the conf is set
    * only around the stream's start/awaitTermination. */
  private val evRowsBySf = scala.collection.concurrent.TrieMap.empty[String, Long]
  private def streamPartitions(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): Int =
    sys.env.get("SPARK_GRAFT_STREAM_PARTITIONS").map { raw =>
      // validated, not a bare toInt (ADVICE-r16): a typo'd override would
      // otherwise abort EVERY streaming key with a bare
      // NumberFormatException far from its cause
      val n = scala.util.Try(raw.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_STREAM_PARTITIONS must be a positive integer, got '$raw'"))
      require(n > 0,
        s"SPARK_GRAFT_STREAM_PARTITIONS must be > 0, got $n")
      n
    }.getOrElse {
      // footer-metadata count — no column IO; cached per fixture dir
      val rows = evRowsBySf.getOrElseUpdate(sfDir,
        try spark.read.parquet(s"$sfDir/events.parquet").count()
        catch {
          case scala.util.control.NonFatal(e) =>
            // loud, not silent (ADVICE-r16): a missing/corrupt events
            // fixture pins the 4-partition floor; say so once per dir so
            // an sf5 run sized like sf0.1 is attributable
            System.err.println(
              s"graft.Streaming: events.parquet count failed under $sfDir " +
              s"(${e.getClass.getSimpleName}: ${e.getMessage}); " +
              "falling back to the 4-state-partition floor")
            0L
        })
      math.min(32L, math.max(4L, rows / 250000L)).toInt
    }
  /** Depth-counted, not save/restore-per-call (round-17): Bench prebuilds
    * the streaming memos CONCURRENTLY, and independent save/restore pairs
    * race — T2 would read T1's in-flight stream value as "prev" and
    * restore it after T1 already put the batch default back, leaving the
    * session's batch keys running at the stream partition count. The
    * first entering build saves the true prior value and sets the target;
    * only the last exiting build restores. All concurrent builds in one
    * process target the same (spark, sfDir), so a single shared slot is
    * sufficient; a hypothetical second sfDir simply rides the first's
    * target for the overlap — a sizing nuance, never a correctness one.
    *
    * The same scope selects the FileSystem-based checkpoint file manager.
    * Spark's default (FileContext-based) manager checks link status for
    * every checkpoint and state file, and without native Hadoop libraries
    * each check forks a `readlink` process: a JFR recording of one
    * `ingest` benchmark run counted 1392 `readlink` starts among 2037
    * process starts. The FileSystem manager does the same renames
    * without them.
    *
    * Each `start()` in this scope runs its micro-batches on a clone of
    * `spark` (`cloneSession()`), which copies the conf set here and gets
    * a fresh session UUID. The clone reads the artifact-isolation flag
    * at `start()`; `Tables` has already turned it off on every engine
    * session (`Graft.shareExecutorLoader`), so a restart wave reuses the
    * classes its first wave compiled instead of compiling them again
    * under a new executor classloader. */
  private val confLock = new Object
  private var confDepth = 0
  private var confPrev: Map[String, Option[String]] = Map.empty
  private def withStreamConf[T](spark: org.apache.spark.sql.SparkSession,
      sfDir: String)(f: => T): T = {
    val target = Map(
      "spark.sql.shuffle.partitions" -> streamPartitions(spark, sfDir).toString,
      "spark.sql.streaming.checkpointFileManagerClass" ->
        ("org.apache.spark.sql.execution.streaming.checkpointing." +
          "FileSystemBasedCheckpointFileManager"))
    confLock.synchronized {
      if (confDepth == 0) {
        confPrev = target.keys.map(k => k -> spark.conf.getOption(k)).toMap
        target.foreach { case (k, v) => spark.conf.set(k, v) }
      }
      confDepth += 1
    }
    try f finally confLock.synchronized {
      confDepth -= 1
      if (confDepth == 0) confPrev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  /** A memoized stream build's frame, stored (`Memo.checkpoint`) BEFORE
    * the stream scope exits: the copy off the stream's sink is planned
    * under the stream partition count, as the build itself is. The
    * enclosing `Memo.frame` finds the frame already stored and keeps it. */
  private def streamCheckpoint(spark: org.apache.spark.sql.SparkSession,
      sfDir: String)(build: => org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    withStreamConf(spark, sfDir)(graft.util.Memo.checkpoint(build))

  /** Keys whose build mutates `stateStore.providerClass` (RocksDB for
    * transformWithState) — Bench must not prebuild these concurrently
    * with the OTHER streaming builds: the provider conf is session-global
    * and is read at each query's start. They MAY run concurrently with
    * each other: both route through `withRocksProvider`, which (like
    * `withStreamConf`) is depth-counted, so the session conf stays
    * RocksDB until the LAST of the overlapping builds exits — a restart
    * wave can never observe the default provider mid-build (round-18
    * optimization: the two builds are ~7 s sequential at sf0.1 and
    * independent — separate sources, checkpoints and sinks — so Bench
    * now overlaps them after the main pool drains). */
  val providerMutatingKeys: Set[String] =
    Set("stream_tws_parity", "stream_timer_parity")

  /** Depth-counted RocksDB provider scope (see providerMutatingKeys).
    * First entering build saves the prior providerClass and sets RocksDB;
    * only the last exiting build restores — the same discipline
    * `withStreamConf` applies to the shuffle-partition conf, for the same
    * reason: independent save/restore pairs race under the concurrent
    * prebuild (T2 would read T1's in-flight RocksDB value as "prev", or
    * T1's restore would flip T2's not-yet-started restart wave back to
    * the HDFS provider against a RocksDB-format checkpoint). */
  private val provLock = new Object
  private var provDepth = 0
  private var provPrev: Option[String] = None
  private[graft] def withRocksProvider[T](
      spark: org.apache.spark.sql.SparkSession)(f: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    provLock.synchronized {
      if (provDepth == 0) {
        provPrev = spark.conf.getOption(key)
        spark.conf.set(key,
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      }
      provDepth += 1
    }
    try f finally provLock.synchronized {
      provDepth -= 1
      if (provDepth == 0) provPrev match {
        case Some(p) => spark.conf.set(key, p)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Streaming tumbling 1h aggregation graded against the BATCH oracle. */
  val streamTumblingParity = Q(
    "stream_tumbling_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamtumbling:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      val path = s"$sfDir/events.parquet"
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = spark.read.parquet(path).schema
      // replicate Tables.events' ns-vs-µs ts normalization on the stream;
      // watermarks need session-zoned TIMESTAMP (ntz rejected by
      // EventTimeWatermark in Spark 4.1; session TZ is UTC so values are
      // unchanged — StreamingParitySpec's pin)
      val ts = rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("timestamp_micros(ts div 1000)").cast("timestamp")
        case _ => col("ts").cast("timestamp")
      }
      // the file streaming source requires a DIRECTORY; list only the
      // events fixture out of it
      val agg = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .withColumn("ts", ts)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), D.sumDec(col("value")).as("sum_value"))
      val name = "stream_tumbling_parity_" + tag(sfDir)
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val out = spark.table(name)
        .select(D.ntz(col("window.start")).as("bucket"), col("event_type"),
          col("n"), col("sum_value"))
      // streamCheckpoint copies the rows OFF the memory sink before the
      // stream scope exits: the graded frame must not read a sink another
      // start() could touch; rows are calendar×types-sized
      out
      }
    }.orderBy("bucket", "event_type"),
    // ts_tumbling's oracle VERBATIM — the entire point: the streaming
    // path is graded against the batch definition of the same aggregate
    Some(s"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type,
            count(*) AS n, ${D.oSumDec("value")} AS sum_value
            FROM events GROUP BY bucket, event_type
            ORDER BY bucket, event_type"""))

  /** Streaming tumbling aggregation through the PRODUCTION sink shape
    * (round-12, the second graded streaming key): APPEND output mode to
    * a parquet FILE sink with a checkpoint — the pipeline a real
    * backfill runs (stream → files, exactly-once via checkpoint +
    * manifest), where a window emits ONLY once the event-time watermark
    * passes its end. The graded frame is the parquet output read back —
    * never a driver materialization (the memory-sink key above grades
    * complete mode; this grades append + close semantics). The ORACLE
    * replays the emission rule in SQL: with AvailableNow the final
    * watermark is max(ts) − delay, so exactly the buckets with
    * bucket_end ≤ max(ts) − 10 minutes appear — the watermark contract
    * itself is what hash parity grades (a late-tail bucket leaking into
    * the files, or an eager eviction, breaks parity).
    *
    * 100-TB shape: bounded per-(window, type) state, file-sink append,
    * no collect anywhere; outputs land as data files a downstream job
    * scans. */
  val streamFileSinkParity = Q(
    "stream_file_sink_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamfilesink:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      val ts = rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("timestamp_micros(ts div 1000)").cast("timestamp")
        case _ => col("ts").cast("timestamp")
      }
      val agg = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .withColumn("ts", ts)
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), D.sumDec(col("value")).as("sum_value"))
        .select(D.ntz(col("window.start")).as("bucket"), col("event_type"),
          col("n"), col("sum_value"))
      val base = tempDir("graft_stream_sink_")
      val q = agg.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out")
      }
    }.orderBy("bucket", "event_type"),
    // batch aggregate + the append-mode emission rule: only buckets whose
    // end the final watermark (max ts − 10 min) has passed are in the files
    Some(s"""WITH mx AS (SELECT max(ts) AS m FROM events),
                 b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                              event_type, count(*) AS n,
                              ${D.oSumDec("value")} AS sum_value
                       FROM events GROUP BY bucket, event_type)
            SELECT bucket, event_type, n, sum_value
            FROM b CROSS JOIN mx
            WHERE bucket + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTES
            ORDER BY bucket, event_type"""))

  /** Streaming SESSION windows through the production file sink
    * (round-12, third graded streaming key): the stateful session-merge
    * engine — rows join an open session, extend its end, or merge two
    * sessions bridged by a late-arriving middle row — executed by the
    * real streaming state store, emitted in APPEND mode only when the
    * event-time watermark passes a session's close, landed in parquet
    * and read back. The Spark side reuses TimeSeries.sessionize — the
    * IDENTICAL code object whose batch run ts_session grades — so hash
    * parity here proves batch(f) == stream(f) for the same f, not two
    * hand-kept twins. The ORACLE is ts_session's gaps-and-islands SQL
    * plus the append emission rule: with AvailableNow the final
    * watermark is max(ts) − 10 min, and a session window's end is its
    * last event + the 30-min gap, so exactly the sessions with
    * last_event + 30 min ≤ max(ts) − 10 min appear in the files. A
    * session leaking before its close, an eager eviction, or a wrong
    * merge all break parity.
    *
    * 100-TB shape: per-open-session state bounded by concurrently-live
    * sessions (watermark evicts closed ones), file-sink append, no
    * driver materialization anywhere. */
  val streamSessionParity = Q(
    "stream_session_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamsession:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      val ts = rawSchema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("timestamp_micros(ts div 1000)").cast("timestamp")
        case _ => col("ts").cast("timestamp")
      }
      val stream = spark.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .withColumn("ts", ts)
        .withWatermark("ts", "10 minutes")
      val agg = TimeSeries.sessionize(stream)
        .select(col("user_id"),
          D.ntz(col("session_start")).as("session_start"),
          D.ntz(col("session_end")).as("session_end"),
          col("n_events"), col("sum_value"))
      val base = tempDir("graft_stream_session_")
      val q = agg.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out")
      }
    }.orderBy("user_id", "session_start"),
    // ts_session's gaps-and-islands oracle + the append emission rule:
    // only sessions closed under the final watermark are in the files
    Some(s"""WITH mx AS (SELECT max(ts) AS m FROM events),
                 flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
              FROM events),
            numbered AS (
              SELECT user_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged),
            sess AS (
              SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                     count(*) AS n_events, ${D.oSumDec("value")} AS sum_value
              FROM numbered GROUP BY user_id, sid)
            SELECT user_id, session_start, session_end, n_events, sum_value
            FROM sess CROSS JOIN mx
            WHERE session_end + INTERVAL 30 MINUTES <= m - INTERVAL 10 MINUTES
            ORDER BY user_id, session_start"""))

  /** STREAM-STREAM time-interval join (round-12, fourth graded streaming
    * key — the last major Structured Streaming feature family the graded
    * surface lacked): click→purchase attribution pairs (same user,
    * purchase strictly after the click, within 1 hour) matched by the
    * real symmetric-hash streaming join with event-time watermarks on
    * BOTH sides — the condition set Spark needs to bound each side's
    * state (a click's matches can stop being awaited once the watermark
    * passes click_ts + 1 h). Pairs land in an append parquet sink; the
    * graded frame is the per-user attribution census computed in batch
    * over the files (inner-join emission is match-time, so with
    * AvailableNow the files hold exactly the batch join's pairs — a
    * dropped or duplicated pair breaks the hash). Oracle = the plain
    * batch interval join (join_range's shape restricted to the
    * click→purchase type pair).
    *
    * 100-TB shape: the streaming join shuffles both sides on user_id and
    * keeps only the watermark-live window of state per key; the census
    * is one hash agg over the sink files. */
  val streamJoinParity = Q(
    "stream_join_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamjoin:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      def side(tpe: String, idAs: String, userAs: String, tsAs: String) = {
        val ts = rawSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            expr("timestamp_micros(ts div 1000)").cast("timestamp")
          case _ => col("ts").cast("timestamp")
        }
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
          .withColumn("ts", ts)
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("user_id").as(userAs),
            col("ts").as(tsAs))
          .withWatermark(tsAs, "10 minutes")
      }
      val clicks = side("click", "click_id", "cu", "cts")
      val purchases = side("purchase", "purchase_id", "pu", "pts")
      val pairs = clicks.join(purchases,
        col("cu") === col("pu") &&
          col("pts") > col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"), "inner")
        .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"))
      val base = tempDir("graft_stream_join_")
      val q = pairs.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("click_id")).as("n_clicks_converted"),
          countDistinct(col("purchase_id")).as("n_purchases_attributed"))
      }
    }.orderBy("user_id"),
    Some("""SELECT c.user_id, count(*) AS n_pairs,
                   CAST(count(DISTINCT c.event_id) AS BIGINT)
                     AS n_clicks_converted,
                   CAST(count(DISTINCT p.event_id) AS BIGINT)
                     AS n_purchases_attributed
            FROM events c JOIN events p
              ON c.user_id = p.user_id
             AND c.event_type = 'click' AND p.event_type = 'purchase'
             AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
            GROUP BY c.user_id ORDER BY c.user_id"""))

  /** CHECKPOINT-RESTART parity (round-14, VERDICT-r13 #6 — promoting the
    * restart mechanics StreamingParitySpec proves at spec level to a
    * graded key): the events fixture is split chronologically at the
    * midpoint timestamp and staged as two arrival batches; the tumbling
    * aggregation runs to AvailableNow completion on batch ONE, stops (a
    * planned shutdown is the same recovery path as a crash: the next
    * start() replays from the last committed offsets/state), the second
    * batch arrives, and a NEW start() over the SAME checkpoint resumes —
    * restoring the committed watermark and the open-window state store.
    * The straddle buckets are the teeth: a bucket whose rows span both
    * runs must emit ONCE, with the run-1 partial counts restored from
    * the checkpoint and the run-2 rows merged in — a lost or re-zeroed
    * state store, a replayed (double-counted) batch, or a watermark that
    * restarted from zero all break hash parity against the batch oracle.
    * Because the split is chronological, run-2 rows are never behind the
    * run-1 watermark, so the final file contents equal the single-run
    * emission rule: exactly the buckets closed under max(ts) − 10 min
    * (stream_file_sink_parity's oracle verbatim).
    *
    * 100-TB shape: this IS the production incremental-backfill loop
    * (AvailableNow per arrival wave over one long-lived checkpoint);
    * state stays bounded by the open calendar window, outputs append as
    * data files, and the only driver values are the two staging bounds. */
  val streamRestartParity = Q(
    "stream_restart_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamrestart:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          // watermarks need session-zoned TIMESTAMP (UTC session: values
          // unchanged) — same pin as the other stream keys
          col("ts").cast("timestamp").as("ts"), col("value"))
      // Split point: a naive [min, max] midpoint can land in an EMPTY
      // hour at sparse SFs (measured: sf0.001 has no straddle bucket at
      // the midpoint — the restart grade would be toothless there, no
      // open state crossing the runs). Instead pick, among hour buckets
      // holding ≥2 distinct timestamps, the one nearest the midpoint,
      // and split at its FIRST event — guaranteeing at least one bucket
      // receives rows from both waves, i.e. run 2 MUST merge into run-1
      // state restored from the checkpoint. Driver work is one
      // calendar-bounded aggregate inside the memoized build.
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (mn, mx) = (mm.getTimestamp(0), mm.getTimestamp(1))
      val midMs = mn.getTime + (mx.getTime - mn.getTime) / 2
      val splitTs = ev
        .groupBy(window(col("ts"), "1 hour"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        .filter(col("t0") < col("t1"))
        .select(col("t0"))
        .orderBy(abs(col("t0").cast("double") * 1000.0 - lit(midMs.toDouble)),
          col("t0"))
        .head().getTimestamp(0)
      val base = tempDir("graft_stream_restart_")
      val src = s"$base/src"
      def stage(batch: org.apache.spark.sql.DataFrame): Unit =
        batch.coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val agg = spark.readStream
          .schema(ev.schema).parquet(src)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), D.sumDec(col("value")).as("sum_value"))
          .select(D.ntz(col("window.start")).as("bucket"),
            col("event_type"), col("n"), col("sum_value"))
        val q = agg.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stage(ev.filter(col("ts") <= lit(splitTs)))
      runOnce() // run 1: first arrival wave, watermark + state committed
      stage(ev.filter(col("ts") > lit(splitTs)))
      runOnce() // run 2: restart over the SAME checkpoint — state restored
      spark.read.parquet(s"$base/out")
      }
    }.orderBy("bucket", "event_type"),
    // stream_file_sink_parity's oracle verbatim: the restart must be
    // invisible in the final files — batch aggregate + append emission
    Some(s"""WITH mx AS (SELECT max(ts) AS m FROM events),
                 b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                              event_type, count(*) AS n,
                              ${D.oSumDec("value")} AS sum_value
                       FROM events GROUP BY bucket, event_type)
            SELECT bucket, event_type, n, sum_value
            FROM b CROSS JOIN mx
            WHERE bucket + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTES
            ORDER BY bucket, event_type"""))

  /** STREAM-STREAM LEFT OUTER join (round-15, VERDICT-r14 #2 — the
    * watermark's null-side emission contract, previously only
    * spec-asserted): clicks LEFT OUTER purchases on the same user/interval
    * condition as stream_join_parity. The outer side is where the
    * watermark becomes OBSERVABLE output semantics: a matched pair emits
    * at match time, but an unmatched click emits its null-purchase row
    * ONLY when the global watermark passes the click's last possible
    * match time (cts + 1 h) — i.e. when the engine can PROVE no future
    * purchase can pair with it. Clicks younger than that at query end are
    * still awaited and never appear. The ORACLE replays both rules in
    * SQL: the batch left join supplies the pairs; the emission filter
    * keeps matched rows unconditionally and null rows only where
    * cts + 1 h < final watermark. The final watermark under AvailableNow
    * is min over BOTH sides (multipleWatermarkPolicy=min, the default) of
    * max(event time) − 10 min — least(max click ts, max purchase ts) in
    * SQL. A null row leaking early (eager eviction), a missing null row
    * (state dropped without emission), or a matched row double-emitted as
    * null all break hash parity. Graded as the per-user census over the
    * sink files (stream_join_parity's pattern).
    *
    * 100-TB shape: identical to the inner key — both sides shuffle on
    * user_id, per-key state bounded by the watermark-live interval; the
    * null-side emission adds no state, only eviction-time output. */
  val streamOuterJoinParity = Q(
    "stream_outer_join_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamouterjoin:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val rawSchema = spark.read.parquet(s"$sfDir/events.parquet").schema
      def side(tpe: String, idAs: String, userAs: String, tsAs: String) = {
        val ts = rawSchema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            expr("timestamp_micros(ts div 1000)").cast("timestamp")
          case _ => col("ts").cast("timestamp")
        }
        spark.readStream.schema(rawSchema)
          .option("pathGlobFilter", "events.parquet").parquet(sfDir)
          .withColumn("ts", ts)
          .filter(col("event_type") === tpe)
          .select(col("event_id").as(idAs), col("user_id").as(userAs),
            col("ts").as(tsAs))
          .withWatermark(tsAs, "10 minutes")
      }
      val clicks = side("click", "click_id", "cu", "cts")
      val purchases = side("purchase", "purchase_id", "pu", "pts")
      val pairs = clicks.join(purchases,
        col("cu") === col("pu") &&
          col("pts") > col("cts") &&
          col("pts") <= col("cts") + expr("INTERVAL 1 HOUR"), "left_outer")
        .select(col("cu").as("user_id"), col("click_id"), col("purchase_id"))
      val base = tempDir("graft_stream_ojoin_")
      val q = pairs.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      spark.read.parquet(s"$base/out")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_rows"),
          count(col("purchase_id")).as("n_matched"),
          sum(when(col("purchase_id").isNull, 1L).otherwise(0L))
            .as("n_null_emitted"),
          countDistinct(col("click_id")).as("n_clicks_seen"))
      }
    }.orderBy("user_id"),
    Some("""WITH wm AS (SELECT least(
                   (SELECT max(ts) FROM events WHERE event_type = 'click'),
                   (SELECT max(ts) FROM events WHERE event_type = 'purchase'))
                 - INTERVAL 10 MINUTES AS w),
                 pr AS (SELECT c.user_id, c.event_id AS click_id, c.ts AS cts,
                               p.event_id AS purchase_id
                        FROM events c LEFT JOIN events p
                          ON c.user_id = p.user_id
                         AND p.event_type = 'purchase'
                         AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
                        WHERE c.event_type = 'click'),
                 em AS (SELECT user_id, click_id, purchase_id
                        FROM pr CROSS JOIN wm
                        WHERE purchase_id IS NOT NULL
                           OR cts + INTERVAL 1 HOUR < w)
            SELECT user_id, count(*) AS n_rows,
                   count(purchase_id) AS n_matched,
                   CAST(sum(CASE WHEN purchase_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_null_emitted,
                   CAST(count(DISTINCT click_id) AS BIGINT) AS n_clicks_seen
            FROM em GROUP BY user_id ORDER BY user_id"""))

  /** LATE-DATA DROP parity (round-15, VERDICT-r14 #2 — the watermark's
    * other observable contract: rows arriving behind it for finalized
    * windows are DROPPED, not merged and not re-emitted). The
    * stream_restart_parity machinery with the waves SWAPPED: the LATER
    * half of events (ts > split) arrives first and runs to AvailableNow —
    * committing the watermark at max(ts) − 10 min — then the EARLIER half
    * (ts ≤ split) arrives in run 2 against the restored watermark,
    * entirely late, every window it touches long finalized (split sits
    * ~15 days behind the watermark; windows are 1 h). The final files
    * must therefore hold exactly run 1's emission: the aggregate over
    * ts > split rows, append rule vs max(ts) − 10 min. A late row merged
    * (inflated n), re-opened (duplicate bucket row), or a regressed
    * watermark (late buckets appearing) all break hash parity. The split
    * is hour-floored midpoint epoch-ms arithmetic — integer in BOTH
    * engines, so the two sides partition rows identically.
    *
    * 100-TB shape: this is the production guard the watermark exists
    * for — a delayed upstream partition replaying days-old data into a
    * live aggregation must not corrupt emitted results; state stays
    * bounded because late rows never re-open windows. */
  val streamLateDropParity = Q(
    "stream_late_drop_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamlatedrop:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val (loMs, hiMs) = (mm.getTimestamp(0).getTime, mm.getTimestamp(1).getTime)
      // hour-floored midpoint, pure Long arithmetic (the oracle replays
      // it with epoch_ms — both sides truncate µs→ms then floor to hour)
      val splitMs = (loMs + (hiMs - loMs) / 2) / 3600000L * 3600000L
      val split = new java.sql.Timestamp(splitMs)
      val base = tempDir("graft_stream_late_")
      val src = s"$base/src"
      def stage(batch: org.apache.spark.sql.DataFrame): Unit =
        batch.coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val agg = spark.readStream
          .schema(ev.schema).parquet(src)
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n"), D.sumDec(col("value")).as("sum_value"))
          .select(D.ntz(col("window.start")).as("bucket"),
            col("event_type"), col("n"), col("sum_value"))
        val q = agg.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stage(ev.filter(col("ts") > lit(split)))
      runOnce() // run 1: the LATER half — watermark commits at max − 10 min
      stage(ev.filter(col("ts") <= lit(split)))
      runOnce() // run 2: the earlier half arrives LATE — all rows dropped
      spark.read.parquet(s"$base/out")
      }
    }.orderBy("bucket", "event_type"),
    // aggregate over the on-time wave only + the append emission rule —
    // the late wave must be invisible in the files
    Some(s"""WITH mx AS (SELECT epoch_ms(min(ts)) AS lo, epoch_ms(max(ts)) AS hi,
                                max(ts) AS m FROM events),
                 sp AS (SELECT make_timestamp(
                          ((lo + (hi - lo) // 2) // 3600000 * 3600000) * 1000)
                          AS split, m FROM mx),
                 b AS (SELECT time_bucket(INTERVAL 1 HOUR, e.ts) AS bucket,
                              e.event_type, count(*) AS n,
                              ${D.oSumDec("e.value")} AS sum_value
                       FROM events e CROSS JOIN sp WHERE e.ts > sp.split
                       GROUP BY bucket, event_type)
            SELECT bucket, event_type, n, sum_value
            FROM b CROSS JOIN sp
            WHERE bucket + INTERVAL 1 HOUR <= m - INTERVAL 10 MINUTES
            ORDER BY bucket, event_type"""))

  /** STREAMING DEDUPLICATION parity (round-15 — the one stateful-operator
    * family still ungraded after aggregation/session/join/restart/drop:
    * `dropDuplicates` with watermark-evicted key state, the exactly-once
    * ingest guard every production tail runs in front of its sinks).
    * The two-wave restart machinery stages the events fixture with THREE
    * classes of injected exact duplicates, each caught by a different
    * mechanism the key grades:
    *   1. IN-BATCH dups (event_id % 3 == 0, re-staged inside the same
    *      wave) — dropped by first-occurrence-wins within a micro-batch;
    *   2. CROSS-RESTART dups (wave-1 rows with ts > the committed
    *      watermark, re-staged in wave 2) — their key state is still
    *      LIVE in the restored store, so the duplicate is suppressed by
    *      state carried across the checkpoint restart;
    *   3. LATE dups (wave-1 rows with ts < watermark − 1 h, re-staged in
    *      wave 2) — their state was EVICTED when the wave-1 watermark
    *      committed, so only the late-row filter (drop input older than
    *      the watermark) stops a re-emission.
    * The 1-h guard band between classes 2 and 3 keeps each duplicate
    * unambiguously on one side of the eviction boundary. Dedup emits
    * on-time unique rows immediately (append mode, no watermark gating
    * on output), so the files must hold EXACTLY the original events,
    * each once — the oracle is the bare events table. A surviving
    * duplicate (row count up), a dropped original (row count down), or
    * a re-emitted late dup all break hash parity.
    *
    * 100-TB shape: dedup state is (key → seen) hash-partitioned on the
    * dedup key, bounded by the watermark horizon, not corpus size; the
    * event-time column rides in the key set so eviction is pure
    * watermark arithmetic. This IS the production idempotent-ingest
    * loop (at-least-once upstream → exactly-once files). */
  val streamDedupParity = Q(
    "stream_dedup_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamdedup:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val midMs = mm.getTimestamp(0).getTime +
        (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
      val split = new java.sql.Timestamp(midMs)
      val wave1 = ev.filter(col("ts") <= lit(split))
      val wave2 = ev.filter(col("ts") > lit(split))
      // the watermark wave 1 commits: max(wave-1 ts) − 10 min; duplicates
      // are chosen relative to it (driver values are two tiny aggregates
      // inside the memoized build — the sanctioned bounded class)
      val max1 = wave1.agg(max(col("ts"))).head().getTimestamp(0)
      val wm1 = new java.sql.Timestamp(max1.getTime - 10L * 60 * 1000)
      val lateCut = new java.sql.Timestamp(wm1.getTime - 3600L * 1000)
      val base = tempDir("graft_stream_dedup_")
      val src = s"$base/src"
      def stage(batch: org.apache.spark.sql.DataFrame): Unit =
        batch.coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val deduped = spark.readStream
          .schema(ev.schema).parquet(src)
          .withWatermark("ts", "10 minutes")
          // event-time column IN the key set → state evicts by watermark
          .dropDuplicates("event_id", "ts")
        val q = deduped.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stage(wave1.unionByName(wave1.filter(col("event_id") % 3 === 0)))
      runOnce() // run 1: in-batch dups dropped; watermark commits at wm1
      stage(wave2
        .unionByName(wave2.filter(col("event_id") % 3 === 0))
        .unionByName(wave1.filter(col("ts") > lit(wm1)))
        .unionByName(wave1.filter(col("ts") < lit(lateCut))))
      runOnce() // run 2: state-band + late dups both invisible in files
      spark.read.parquet(s"$base/out")
        .select(col("event_id"), col("user_id"), col("event_type"),
          D.ntz(col("ts")).as("ts"), col("value"))
      }
    }.orderBy("event_id"),
    // every injected duplicate must vanish: the files ARE the events table
    Some("""SELECT event_id, user_id, event_type, ts, value
            FROM events ORDER BY event_id"""))

  /** transformWithState input/output/state rows. State IS TwsOut: the
    * running per-user census the processor both stores and emits, so a
    * restart-restored state row and an emitted row are the same shape by
    * construction. sum_cents rides as exact integer cents (D.scala's
    * high-cardinality money rule: the ×100 lift of a stored 2-dp double
    * is never at a rounding midpoint, so JVM rint, Spark round and
    * DuckDB round land on the same integer; the per-user sum stays far
    * below 2^53). */
  final case class TwsIn(user_id: Long, value: Double)
  final case class TwsOut(user_id: Long, n_events: Long, sum_cents: Long)

  /** Arbitrary-stateful processor: per-user running (count, cents-sum) in
    * ONE ValueState row. Called once per key per micro-batch with that
    * batch's rows; reads the restored state (RocksDB, checkpoint-backed —
    * the restart in the graded key proves the restore), folds the batch
    * in, writes the state back, emits the updated census. Emissions are
    * therefore strictly increasing in n_events per key, which is what
    * lets the graded frame recover "final state" from an append sink
    * with max_by(_, n_events). */
  final class TwsCountSum extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, TwsIn, TwsOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var st: ValueState[TwsOut] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[TwsOut]("census",
        org.apache.spark.sql.Encoders.product[TwsOut], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsIn],
        tv: TimerValues): Iterator[TwsOut] = {
      var n = 0L; var s = 0L
      rows.foreach { r => n += 1; s += math.rint(r.value * 100).toLong }
      val prev = if (st.exists()) st.get() else TwsOut(key, 0L, 0L)
      val upd = TwsOut(key, prev.n_events + n, prev.sum_cents + s)
      st.update(upd)
      Iterator.single(upd)
    }
  }

  /** ARBITRARY STATEFUL PROCESSING parity (round-16, VERDICT-r15 #2 — the
    * last ungraded stateful streaming family): `transformWithState`, the
    * Spark 4 user-defined-state API (successor to mapGroupsWithState),
    * running a per-user count+cents-sum census in a ValueState over the
    * RocksDB state store provider — the only provider the operator
    * supports, so this key also exercises the production state backend
    * the other streaming keys' default HDFS-backed store does not. Two
    * waves via the restart machinery (Streaming.scala restart/dedup
    * pattern): wave 1 (ts ≤ midpoint) runs to AvailableNow completion and
    * commits RocksDB snapshots into the checkpoint; wave 2 arrives and a
    * NEW start() restores every user's ValueState from those snapshots
    * and folds the second wave in. The graded frame is the FINAL state
    * per user, recovered from the append sink as the max_by(n_events)
    * emission (emissions are strictly increasing per key — scaladoc
    * above). A state row lost in the restart (census restarts at wave-2
    * counts), a replayed batch (double-counted), or a cents drift all
    * break hash parity against the one-line batch oracle: the plain
    * GROUP BY user_id census over the whole fixture.
    *
    * 100-TB shape: state is one 24-byte row per user, hash-partitioned on
    * the grouping key across SF-sized state partitions; RocksDB keeps the
    * working set off-heap and snapshot-compacts into the checkpoint. The
    * graded-frame census is one hash agg over the sink files. TimeMode
    * None: a pure running census needs no timers and no watermark — state
    * lives until the key stops arriving, the deployment-correct choice
    * for an all-time per-entity profile. */
  val streamTwsParity = Q(
    "stream_tws_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamtws:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      withRocksProvider(spark) {
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"),
            col("ts").cast("timestamp").as("ts"), col("value"))
        val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
        val midMs = mm.getTimestamp(0).getTime +
          (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
        val split = new java.sql.Timestamp(midMs)
        val base = tempDir("graft_stream_tws_")
        val src = s"$base/src"
        def stage(batch: org.apache.spark.sql.DataFrame): Unit =
          batch.select(col("user_id"), col("value"))
            .coalesce(1).write.mode("append").parquet(src)
        val inSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        def runOnce(): Unit = {
          val in = spark.readStream.schema(inSchema).parquet(src)
            .as[TwsIn](org.apache.spark.sql.Encoders.product[TwsIn])
          val out = in
            .groupByKey((r: TwsIn) => r.user_id)(
              org.apache.spark.sql.Encoders.scalaLong)
            .transformWithState(new TwsCountSum, TimeMode.None(),
              OutputMode.Append())(
              org.apache.spark.sql.Encoders.product[TwsOut])
          val q = out.writeStream.format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        stage(ev.filter(col("ts") <= lit(split)))
        runOnce() // run 1: RocksDB state snapshots commit into the checkpoint
        stage(ev.filter(col("ts") > lit(split)))
        runOnce() // run 2: restart — every ValueState restored, wave 2 folded in
        spark.read.parquet(s"$base/out")
          .groupBy("user_id")
          .agg(max(col("n_events")).as("n_events"),
            expr("max_by(sum_cents, n_events)").as("sum_cents"))
      }
      }
    }.orderBy("user_id"),
    // the whole-fixture batch census: final state must equal it exactly
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** flatMapGroupsWithState parity (round-17, VERDICT-r16 #5 — the one
    * §2.10 capability row still graded only at spec level): the SAME
    * per-user count+cents census and two-wave restart as
    * `stream_tws_parity`, re-expressed on the PREDECESSOR user-state API
    * (`flatMapGroupsWithState`, `GroupState` + `GroupStateTimeout`)
    * over the DEFAULT HDFS-backed state store — the deliberate contrast:
    * tws grades the Spark-4 API on RocksDB, this key grades the
    * Spark-2/3 API every production migration starts from, on the store
    * the other non-tws keys run. Wave 1 runs to AvailableNow completion
    * and commits each user's GroupState into the checkpoint; wave 2's
    * new start() must restore every GroupState and fold the second wave
    * in. Emissions are strictly increasing in n_events per key (the
    * processor emits the updated census each batch), so the graded frame
    * recovers final state from the append sink via max_by(n_events) —
    * and both keys share ONE batch oracle, so the two user-state APIs
    * are pinned byte-for-byte against each other across state backends.
    *
    * 100-TB shape: identical to tws — one 24-byte state row per user,
    * hash-partitioned on the grouping key across SF-sized state
    * partitions; NoTimeout (an all-time census holds state while the
    * key lives); the graded-frame recovery is one hash agg over files. */
  val streamFmgwsParity = Q(
    "stream_fmgws_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamfmgws:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      import org.apache.spark.sql.Encoders
      import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
      val ev = Tables.events(spark, sfDir)
        .select(col("user_id"), col("ts").cast("timestamp").as("ts"),
          col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val midMs = mm.getTimestamp(0).getTime +
        (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
      val split = new java.sql.Timestamp(midMs)
      val base = tempDir("graft_stream_fmgws_")
      val src = s"$base/src"
      def stage(batch: org.apache.spark.sql.DataFrame): Unit =
        batch.select(col("user_id"), col("value"))
          .coalesce(1).write.mode("append").parquet(src)
      val inSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      // census fold: read restored GroupState, fold the batch, write it
      // back, emit the updated census (same monotone-emission recovery
      // contract as TwsCountSum)
      def fold(key: Long, rows: Iterator[TwsIn],
          state: GroupState[TwsOut]): Iterator[TwsOut] = {
        var n = 0L; var s = 0L
        rows.foreach { r => n += 1; s += math.rint(r.value * 100).toLong }
        val prev = state.getOption.getOrElse(TwsOut(key, 0L, 0L))
        val upd = TwsOut(key, prev.n_events + n, prev.sum_cents + s)
        state.update(upd)
        Iterator.single(upd)
      }
      def runOnce(): Unit = {
        val in = spark.readStream.schema(inSchema).parquet(src)
          .as[TwsIn](Encoders.product[TwsIn])
        val out = in
          .groupByKey((r: TwsIn) => r.user_id)(Encoders.scalaLong)
          .flatMapGroupsWithState[TwsOut, TwsOut](
            OutputMode.Append(), GroupStateTimeout.NoTimeout())(fold)(
            Encoders.product[TwsOut], Encoders.product[TwsOut])
        val q = out.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stage(ev.filter(col("ts") <= lit(split)))
      runOnce() // run 1: every user's GroupState commits into the checkpoint
      stage(ev.filter(col("ts") > lit(split)))
      runOnce() // run 2: restart — GroupStates restored, wave 2 folded in
      spark.read.parquet(s"$base/out")
        .groupBy("user_id")
        .agg(max(col("n_events")).as("n_events"),
          expr("max_by(sum_cents, n_events)").as("sum_cents"))
      }
    }.orderBy("user_id"),
    // stream_tws_parity's oracle VERBATIM: the two user-state APIs must
    // produce the identical census across different state backends
    Some("""SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
                     AS sum_cents
            FROM events GROUP BY user_id ORDER BY user_id"""))

  /** STATE-STORE READER parity (round-16 — the ops surface none of the
    * other streaming keys grade: Spark 4's state data source,
    * `spark.read.format("statestore")`, which opens a checkpoint's state
    * files as a DataFrame without touching the query that owns them —
    * how a production operator inspects live state, sizes stores, and
    * debugs watermark stalls). The build runs the canonical tumbling
    * aggregation to AvailableNow completion (append mode, 10-min
    * watermark), then grades what the checkpoint RETAINS: under append
    * mode a window's state is evicted exactly when the watermark passes
    * its end (that emission is stream_file_sink_parity's grade), so the
    * store must hold precisely the OPEN windows — bucket_end > max(ts) −
    * 10 min — with their exact partial aggregates (count + decimal sum
    * buffers, read back from the internal buffer schema). The two keys
    * together PARTITION the batch aggregate: files ∪ state = batch,
    * files ∩ state = ∅ (Round16OpsSpec pins the union). A bucket
    * retained past eviction, evicted early, or a drifted partial buffer
    * all break hash parity; the oracle is the batch aggregate under the
    * complement of the append emission rule.
    *
    * 100-TB shape: the reader scans state files partition-parallel with
    * no interaction with the live query; retained state is bounded by
    * the open calendar window (watermark-evicted), never event volume. */
  /** The checkpoint the state-source keys read: the canonical tumbling
    * aggregation run to AvailableNow completion over a ONE-FILE staged
    * source (single data batch 0, then the watermark-advance batch 1
    * that evicts/emits the closed buckets). Memoized on its own key and
    * returning the base dir, so `stream_state_reader_parity` (latest
    * snapshot) and `stream_state_timetravel` (batch-0 snapshot) share
    * ONE streaming build. */
  private def stateReaderBase(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String = graft.util.Memo(spark,
      s"$sfDir:streamstatereaderbase:${Tables.tableKey(sfDir, "events")}") {
    withStreamConf(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      val base = tempDir("graft_stream_statereader_")
      ev.coalesce(1).write.parquet(s"$base/src")
      val agg = spark.readStream.schema(ev.schema).parquet(s"$base/src")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), D.sumDec(col("value")).as("sum_value"))
        .select(D.ntz(col("window.start")).as("bucket"),
          col("event_type"), col("n"), col("sum_value"))
      val q = agg.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      base
    }
  }

  /** Open a checkpoint's aggregation state via the Spark-4 state data
    * source and decode the internal (count, decimal-sum) buffers to the
    * graded (bucket, event_type, n, sum_value) shape. `batchId = None`
    * reads the LATEST snapshot; `Some(b)` time-travels to the state as
    * of committed batch `b`. The buffer layout (value.count / value.sum)
    * is a Spark-internal detail — asserted up front (ADVICE-r16) so a
    * minor-version layout shift fails with a targeted message instead of
    * an obscure analysis error deep in the select. */
  private def decodedStateBuckets(spark: org.apache.spark.sql.SparkSession,
      ckpt: String, batchId: Option[Long]): org.apache.spark.sql.DataFrame = {
    val rd = spark.read.format("statestore").option("path", ckpt)
    val st = batchId.fold(rd)(b => rd.option("batchId", b.toString)).load()
    locally {
      import org.apache.spark.sql.types.StructType
      val valueFields = st.schema("value").dataType match {
        case s: StructType => s.fieldNames.toSet
        case other => throw new IllegalStateException(
          "statestore 'value' column is not a struct (got " + other +
          "); Spark's state-reader buffer layout has changed")
      }
      val need = Set("count", "sum")
      require(need.subsetOf(valueFields),
        s"statestore aggregation buffer is missing ${need.diff(valueFields)
          .mkString(",")} (has: ${valueFields.mkString(",")}); " +
        "Spark's internal buffer layout has changed — update the decode")
    }
    st.select(D.ntz(col("key.window.start")).as("bucket"),
      col("key.event_type").as("event_type"),
      col("value.count").as("n"),
      D.dbl(col("value.sum").cast(D.Money)).as("sum_value"))
  }

  val streamStateReaderParity = Q(
    "stream_state_reader_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamstatereader:${Tables.tableKey(sfDir, "events")}") {
      // the graded frame: the checkpoint's retained state, decoded from
      // the internal (count, decimal-sum) aggregation buffers
      decodedStateBuckets(spark, s"${stateReaderBase(spark, sfDir)}/ckpt",
          batchId = None)
    }.orderBy("bucket", "event_type"),
    // batch aggregate under the COMPLEMENT of the append emission rule:
    // exactly the still-open buckets live in the store
    Some(s"""WITH mx AS (SELECT max(ts) AS m FROM events),
                 b AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                              event_type, count(*) AS n,
                              ${D.oSumDec("value")} AS sum_value
                       FROM events GROUP BY bucket, event_type)
            SELECT bucket, event_type, n, sum_value
            FROM b CROSS JOIN mx
            WHERE bucket + INTERVAL 1 HOUR > m - INTERVAL 10 MINUTES
            ORDER BY bucket, event_type"""))

  /** STATE TIME-TRAVEL (round-17, VERDICT-r16 #6 — the state source's
    * snapshot options, the operational "what did state look like BEFORE
    * the watermark moved?" debugging workflow): `batchId = 0` reads the
    * SAME memoized checkpoint `stream_state_reader_parity` grades, as of
    * the FIRST committed batch. The staged source is one file, so batch 0
    * ingests the whole corpus while the watermark is still at zero —
    * nothing has been evicted yet, and the snapshot must hold EVERY
    * bucket with its full final aggregate; the eviction that empties the
    * closed buckets out of the store happens only in the watermark-advance
    * batch 1 the latest-snapshot key grades. Three keys, one checkpoint,
    * three mutually-pinning claims: batch-0 state = the plain batch GROUP
    * BY (this key), latest state = its watermark-open complement slice
    * (reader key), sink files = the closed slice (file-sink key). A
    * time-travel read that silently serves the LATEST snapshot instead of
    * the requested one breaks this key's hash against the full aggregate.
    *
    * 100-TB shape: snapshot reads scan the checkpoint's state files
    * partition-parallel at a chosen version — RocksDB/HDFS store
    * snapshots are retained by `minBatchesToRetain`, so the travel window
    * is an ops-configured constant, never data-sized. */
  val streamStateTimetravel = Q(
    "stream_state_timetravel",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamstatett:${Tables.tableKey(sfDir, "events")}") {
      decodedStateBuckets(spark, s"${stateReaderBase(spark, sfDir)}/ckpt",
          batchId = Some(0L))
    }.orderBy("bucket", "event_type"),
    // batch 0 ran with watermark 0: the snapshot is the FULL aggregate
    Some(s"""SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                    event_type, count(*) AS n,
                    ${D.oSumDec("value")} AS sum_value
             FROM events GROUP BY bucket, event_type
             ORDER BY bucket, event_type"""))

  /** Timer-sessionizer rows. TmSess doubles as the two state shapes (the
    * OPEN session ValueState and the closed-pending ListState); money
    * rides as exact integer cents (the TwsCountSum convention) and is
    * converted to the graded double only at emission. */
  final case class TmIn(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, value: Double)
  final case class TmSess(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_cents: Long)
  final case class TmOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Event-time TIMER sessionizer: ts_session's 30-min-gap semantics
    * re-implemented on the transformWithState timer surface instead of
    * `session_window` — gaps-and-islands fold per key per batch (rows
    * sorted (ts, event_id), the oracle's window order), closed sessions
    * parked in a ListState, the OPEN tail in a ValueState, and exactly
    * ONE armed event-time timer per key at the earliest pending close
    * (end + 30 min); `handleExpiredTimer` emits every session whose
    * close the watermark has passed, then re-arms at the next close.
    * Timer ms vs oracle µs: the timer registers at CEIL(close_µs / 1000),
    * so a fire (wm_ms ≥ timer_ms) implies wm_µs ≥ close_µs — the timer
    * can never emit a session the µs-exact oracle withholds; the reverse
    * sub-ms boundary window is the same class the session_window keys
    * already carry (wm is ms-floored engine-side, µs-exact oracle-side)
    * and is parity-checked at all five SFs. */
  final class TmSessionizer extends org.apache.spark.sql.streaming
      .StatefulProcessor[Long, TmIn, TmOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState, OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.Encoders
    @transient private var open: ValueState[TmSess] = _
    @transient private var pending: ListState[TmSess] = _
    @transient private var armed: ValueState[Long] = _
    private val GapUs = 30L * 60 * 1000000L
    private def us(t: java.sql.Timestamp): Long =
      t.getTime * 1000L + (t.getNanos / 1000L) % 1000L
    private def closeMs(s: TmSess): Long =
      (us(s.session_end) + GapUs + 999L) / 1000L
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      open = getHandle.getValueState[TmSess]("open",
        Encoders.product[TmSess], TTLConfig.NONE)
      pending = getHandle.getListState[TmSess]("pending",
        Encoders.product[TmSess], TTLConfig.NONE)
      armed = getHandle.getValueState[Long]("armed",
        Encoders.scalaLong, TTLConfig.NONE)
    }
    /** Keep exactly one live timer per key: the earliest close among
      * pending ∪ open. consumedFired=true when called from the expiry
      * path, where the previously-armed timer no longer exists. */
    private def rearm(consumedFired: Boolean): Unit = {
      val closes = (pending.get().toSeq ++
        (if (open.exists()) Seq(open.get()) else Nil)).map(closeMs)
      val cur = if (armed.exists()) Some(armed.get()) else None
      if (closes.isEmpty) {
        cur.foreach { c => if (!consumedFired) getHandle.deleteTimer(c) }
        armed.clear()
      } else {
        val mn = closes.min
        if (!cur.contains(mn) || consumedFired) {
          cur.foreach { c => if (!consumedFired) getHandle.deleteTimer(c) }
          getHandle.registerTimer(mn)
          armed.update(mn)
        }
      }
    }
    override def handleInputRows(key: Long, rows: Iterator[TmIn],
        tv: TimerValues): Iterator[TmOut] = {
      val sorted = rows.toArray.sortBy(r => (us(r.ts), r.event_id))
      var cur = if (open.exists()) Option(open.get()) else None
      sorted.foreach { r =>
        val c = math.rint(r.value * 100).toLong
        cur match {
          case Some(s) if us(r.ts) - us(s.session_end) <= GapUs =>
            // min/max, not blind replace (ADVICE-r16): a late-but-in-gap
            // row — possible when a wave splits into multiple micro-batches
            // or a restored OPEN session is newer than a replayed row —
            // must widen the session, never move session_end backwards
            // (which would corrupt the gap/close arithmetic downstream).
            cur = Some(s.copy(
              session_start =
                if (us(r.ts) < us(s.session_start)) r.ts else s.session_start,
              session_end =
                if (us(r.ts) > us(s.session_end)) r.ts else s.session_end,
              n_events = s.n_events + 1, sum_cents = s.sum_cents + c))
          case other =>
            other.foreach(pending.appendValue)
            cur = Some(TmSess(key, r.ts, r.ts, 1L, c))
        }
      }
      cur.foreach(open.update)
      rearm(consumedFired = false)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[TmOut] = {
      val wmUs = tv.getCurrentWatermarkInMs() * 1000L
      def due(s: TmSess) = us(s.session_end) + GapUs <= wmUs
      val (done, keep) = pending.get().toArray.partition(due)
      if (keep.isEmpty) pending.clear() else pending.put(keep)
      val openDone = if (open.exists() && due(open.get())) {
        val s = open.get(); open.clear(); Seq(s)
      } else Nil
      armed.clear() // the fired timer is consumed; rearm registers fresh
      rearm(consumedFired = true)
      (done ++ openDone).sortBy(s => us(s.session_start)).iterator
        .map(s => TmOut(s.user_id, s.session_start, s.session_end,
          s.n_events, s.sum_cents.toDouble / 100.0))
    }
  }

  /** EVENT-TIME TIMER parity (round-16 — the timer surface of
    * transformWithState, the one stateful mechanism still ungraded after
    * stream_tws_parity graded user state: registerTimer/deleteTimer/
    * handleExpiredTimer with timers CHECKPOINTED and restored across
    * restart). The TmSessionizer scaladoc above holds the mechanics; the
    * graded claim is that a hand-built timer state machine reproduces
    * ts_session's gaps-and-islands semantics BYTE-FOR-BYTE under the
    * append emission rule — the same oracle stream_session_parity grades
    * for the built-in session_window operator, so the two keys verify
    * each other across completely different engines (built-in session
    * merge vs user timers). Two waves through the restart machinery:
    * wave 1 commits sessions, timers and the watermark into the
    * checkpoint; wave 2 must restore all three — a straddle session
    * extends the restored OPEN state, an undue wave-1 timer fires in
    * wave 2's expiry batch, and a lost timer simply never emits its
    * session (row missing → hash break).
    *
    * 100-TB shape: per-key state is the open session + the
    * not-yet-closed pending tail (watermark-bounded), one timer per key;
    * the per-batch in-key sort is bounded by source admission control
    * (maxFilesPerTrigger), not corpus size. */
  val streamTimerParity = Q(
    "stream_timer_parity",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamtimer:${Tables.tableKey(sfDir, "events")}") {
      streamCheckpoint(spark, sfDir) {
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      withRocksProvider(spark) {
        val ev = Tables.events(spark, sfDir)
          .select(col("event_id"), col("user_id"),
            col("ts").cast("timestamp").as("ts"), col("value"))
        val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
        val midMs = mm.getTimestamp(0).getTime +
          (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
        val split = new java.sql.Timestamp(midMs)
        val base = tempDir("graft_stream_timer_")
        val src = s"$base/src"
        def stage(batch: org.apache.spark.sql.DataFrame): Unit =
          batch.select(col("user_id"), col("event_id"), col("ts"), col("value"))
            .coalesce(1).write.mode("append").parquet(src)
        val inSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("user_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("value",
            org.apache.spark.sql.types.DoubleType)))
        def runOnce(): Unit = {
          val in = spark.readStream.schema(inSchema).parquet(src)
            .withWatermark("ts", "10 minutes")
            .as[TmIn](org.apache.spark.sql.Encoders.product[TmIn])
          val out = in
            .groupByKey((r: TmIn) => r.user_id)(
              org.apache.spark.sql.Encoders.scalaLong)
            .transformWithState(new TmSessionizer, TimeMode.EventTime(),
              OutputMode.Append())(
              org.apache.spark.sql.Encoders.product[TmOut])
          val q = out.writeStream.format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .outputMode("append").trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
        }
        stage(ev.filter(col("ts") <= lit(split)))
        runOnce() // run 1: sessions + TIMERS + watermark into the checkpoint
        stage(ev.filter(col("ts") > lit(split)))
        runOnce() // run 2: restart — state AND armed timers restored
        spark.read.parquet(s"$base/out")
          .select(col("user_id"),
            D.ntz(col("session_start")).as("session_start"),
            D.ntz(col("session_end")).as("session_end"),
            col("n_events"), col("sum_value"))
      }
      }
    }.orderBy("user_id", "session_start"),
    // stream_session_parity's oracle VERBATIM: the user-timer state
    // machine must reproduce the built-in session engine's files exactly
    Some(s"""WITH mx AS (SELECT max(ts) AS m FROM events),
                 flagged AS (
              SELECT user_id, ts, event_id, value,
                     CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                               > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS brk
              FROM events),
            numbered AS (
              SELECT user_id, ts, value,
                     sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
              FROM flagged),
            sess AS (
              SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
                     count(*) AS n_events, ${D.oSumDec("value")} AS sum_value
              FROM numbered GROUP BY user_id, sid)
            SELECT user_id, session_start, session_end, n_events, sum_value
            FROM sess CROSS JOIN mx
            WHERE session_end + INTERVAL 30 MINUTES <= m - INTERVAL 10 MINUTES
            ORDER BY user_id, session_start"""))

  /** The two-wave dropDuplicatesWithinWatermark run behind
    * `stream_dropdup_within_watermark`, memoized on its own key and
    * returning the base dir so the Round18 spec can open `$base/ckpt`
    * with the state source and pin the BOUNDED-STATE claim (the whole
    * reason this API exists) without a second streaming build. Staging
    * replays stream_dedup_parity's three duplicate classes — in-batch,
    * live-state cross-restart, and post-eviction late — against the
    * OTHER dedup operator. */
  private[graft] def dropdupWwBase(spark: org.apache.spark.sql.SparkSession,
      sfDir: String): String = graft.util.Memo(spark,
      s"$sfDir:streamdropdupww:${Tables.tableKey(sfDir, "events")}") {
    withStreamConf(spark, sfDir) {
      val ev = Tables.events(spark, sfDir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("ts").cast("timestamp").as("ts"), col("value"))
      val mm = ev.agg(min(col("ts")), max(col("ts"))).head()
      val midMs = mm.getTimestamp(0).getTime +
        (mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime) / 2
      val split = new java.sql.Timestamp(midMs)
      val wave1 = ev.filter(col("ts") <= lit(split))
      val wave2 = ev.filter(col("ts") > lit(split))
      val max1 = wave1.agg(max(col("ts"))).head().getTimestamp(0)
      val wm1 = new java.sql.Timestamp(max1.getTime - 10L * 60 * 1000)
      val lateCut = new java.sql.Timestamp(wm1.getTime - 3600L * 1000)
      val base = tempDir("graft_stream_dropdupww_")
      val src = s"$base/src"
      def stage(batch: org.apache.spark.sql.DataFrame): Unit =
        batch.coalesce(1).write.mode("append").parquet(src)
      def runOnce(): Unit = {
        val deduped = spark.readStream
          .schema(ev.schema).parquet(src)
          .withWatermark("ts", "10 minutes")
          // event-time column NOT in the key: event_id alone, state
          // evicted when the watermark passes eventTime + delay
          .dropDuplicatesWithinWatermark("event_id")
        val q = deduped.writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
      stage(wave1.unionByName(wave1.filter(col("event_id") % 3 === 0)))
      runOnce()
      stage(wave2
        .unionByName(wave2.filter(col("event_id") % 3 === 0))
        .unionByName(wave1.filter(col("ts") > lit(wm1)))
        .unionByName(wave1.filter(col("ts") < lit(lateCut))))
      runOnce()
      base
    }
  }

  /** BOUNDED-STATE STREAMING DEDUPLICATION parity (round-18):
    * `dropDuplicatesWithinWatermark`, the Spark-3.5+ dedup operator
    * whose key set EXCLUDES the event-time column. stream_dedup_parity
    * grades classic `dropDuplicates("event_id","ts")`, where eviction
    * works only because the time column rides in the key; this key
    * dedups on `event_id` ALONE — the shape real idempotent ingest
    * needs (a retried record keeps its id, not its timestamp) — and the
    * store instead tracks eventTime + delay per key, evicting when the
    * watermark passes it. Same three injected duplicate classes as the
    * classic key (in-batch, live-state cross-restart, post-eviction
    * late — the late class is caught by the late-input filter here,
    * since an expired-state key is by construction behind the
    * watermark), so the sink must again hold EXACTLY the original
    * events, each once; the two keys cross-check the two dedup
    * operators against the identical oracle. Round18OpsSpec additionally
    * opens the checkpoint with the state source and pins the BOUNDED
    * claim: retained keys = the 20-minute watermark+delay tail, not the
    * corpus (classic dropDuplicates("event_id") without the time column
    * would hold every key forever).
    *
    * 100-TB shape: state is hash-partitioned on the dedup key and
    * bounded by the dedup horizon (delay + watermark lag) — a TRUE
    * at-least-once→exactly-once guard whose store size is a time
    * constant, independent of corpus size. */
  val streamDropdupWithinWatermark = Q(
    "stream_dropdup_within_watermark",
    (spark, sfDir) => graft.util.Memo.frame(spark,
        s"$sfDir:streamdropdupww:frame:${Tables.tableKey(sfDir, "events")}") {
      spark.read.parquet(s"${dropdupWwBase(spark, sfDir)}/out")
        .select(col("event_id"), col("user_id"), col("event_type"),
          D.ntz(col("ts")).as("ts"), col("value"))
    }.orderBy("event_id"),
    Some("""SELECT event_id, user_id, event_type, ts, value
            FROM events ORDER BY event_id"""))

  def qs: Seq[Q] = Seq(streamTumblingParity, streamFileSinkParity,
    streamSessionParity, streamJoinParity, streamRestartParity,
    streamOuterJoinParity, streamLateDropParity, streamDedupParity,
    streamTwsParity, streamFmgwsParity, streamStateReaderParity,
    streamStateTimetravel, streamTimerParity, streamDropdupWithinWatermark)
}
