package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Shared vector column algebra — ONE implementation of the fold shapes
  * whose exact left-to-right order the DuckDB oracles mirror (SURVEY §2
  * policy #4). Both the graded queries (queries/Vectors.scala) and the
  * user-facing API (ops/Ops.scala) build on these, so a null/zero-norm
  * semantics fix lands everywhere at once. */
object V {

  /** Cast float[] to double[] BEFORE any arithmetic (policy #4). */
  def dbl(c: Column): Column = transform(c, x => x.cast("double"))

  /** Left-to-right sum fold == DuckDB list_aggregate('sum'). */
  def sumArr(c: Column): Column =
    aggregate(c, lit(0.0), (acc, x) => acc + x)

  def dot(a: Column, b: Column): Column =
    sumArr(zip_with(a, b, (x, y) => x * y))

  def norm(c: Column): Column = sqrt(sumArr(transform(c, x => x * x)))
}

/** Per-session memo for expensive deterministic builds (ANN indexes,
  * signature/edge frames): reps and repeat invocations reuse one entry
  * instead of re-fitting / re-materializing per call.
  *
  * Frames go through `frame`, and nothing else in `graft` calls
  * `.persist()`: a memoized frame is a LINEAGE-FREE CHECKPOINT (an eager
  * `localCheckpoint` at MEMORY_AND_DISK). A `.persist()` would register the
  * build's plan in the CacheManager, and that cached lineage keeps every
  * broadcast relation the build planned (a string-keyed
  * `UnsafeHashedRelation` pins a whole 32 MiB page) alive for the whole
  * session. The checkpoint keeps only the rows and the build's output
  * partitioning, so the ContextCleaner frees the build's broadcasts.
  * Limit: checkpoint blocks have no lineage to recompute from, so losing
  * the executor that holds them fails the reading job; the remedy is
  * `Graft.freeCaches` (the next call rebuilds). Models, strings and byte
  * arrays stay on `apply`/`withDispose`.
  *
  * Lifecycle is EXPLICIT: `evict`/`clear` dispose entries (releasing the
  * blocks of the frames they hold). The session key is weak only to
  * isolate concurrent sessions; it cannot reclaim a stopped session by
  * itself, because cached values (DataFrames, fitted models) strongly
  * reference their SparkSession via `df.sparkSession` — the classic
  * WeakHashMap caveat that a value strongly reaching its key pins the
  * entry forever. A long-lived session must call `Graft.freeCaches` (or
  * `Memo.clear`) when done with a fixture dir; Bench/Verify do so before
  * stopping. */
object Memo {
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** One memo slot. The build is deferred behind a lazy val so it runs
    * OUTSIDE the session map's critical section (ADVICE-r9: some builds
    * run real Spark actions — the bloom-filter `head()`, the sink tier's
    * parquet writes — and evaluating those under a session-wide lock
    * serialized every concurrent memoized build). `lazy val` initializes
    * under this Entry's own monitor, so concurrent readers of the SAME
    * key still get exactly one build; `dispose` shares that monitor and
    * only fires if the build actually ran — disposing a never-forced
    * loser entry must not trigger the build it exists to avoid.
    * `selfReclaiming`: the value's resources go back to Spark by
    * themselves once it is unreachable (a checkpointed frame's RDD is
    * ContextCleaner-registered), so an orphaned value needs no disposer. */
  private final class Entry(build0: () => (AnyRef, () => Unit),
      selfReclaiming: Boolean) {
    @volatile private var evaluated = false
    private var dead = false        // guarded by this
    private var disposerRan = false // guarded by this
    private lazy val resolved: (AnyRef, () => Unit) = {
      val r = build0(); evaluated = true; r
    }
    /** Forces the build, then closes the remove-vs-force window
      * (ADVICE-r10 medium): an evict/clear that ran while evaluated was
      * still false no-op'd its dispose, after which this force would run
      * the build with the entry already out of the map — stranding its
      * resources beyond Memo.clear's reach. dispose() marks the entry
      * dead, and a forced-after-dispose build runs its disposer
      * immediately (under the same monitor the lazy init uses, so it
      * cannot race a concurrent dispose). The caller still gets a usable
      * value: a non-frame value is only unpersisted, and a checkpointed
      * frame is left readable for its caller and reclaimed by the
      * ContextCleaner once dropped (releasing it here would leave the
      * caller a frame whose blocks are gone and cannot be recomputed). */
    def value: AnyRef = {
      val v = resolved._1
      if (!selfReclaiming) synchronized { if (dead) runDisposerOnce() }
      v
    }
    def dispose(): Unit = synchronized {
      dead = true
      if (evaluated) runDisposerOnce()
    }
    // callers hold the monitor; disposer must fire at most once even when
    // both the dispose() path and the forced-after-dispose path reach it
    private def runDisposerOnce(): Unit =
      if (!disposerRan) { disposerRan = true; resolved._2() }
  }

  private val perSession =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, Entry]]

  /** Memoize `build`, disposing on evict by unpersisting the value when
    * it is a Dataset/DataFrame. Memoized frames belong in `frame`; values
    * that hold frames indirectly use `withDispose`. */
  def apply[T <: AnyRef](spark: SparkSession, key: String)(build: => T): T =
    withDispose(spark, key)(build) {
      case ds: org.apache.spark.sql.Dataset[_] => ds.unpersist(false)
      case _ => ()
    }

  /** Memoize a frame as a lineage-free checkpoint (see the object doc):
    * the build runs once, its rows are stored eagerly by `checkpoint`,
    * and evict/clear release the blocks. */
  def frame(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memoize(spark, key, selfReclaiming = true)(checkpoint(build))(release)

  /** Memoize `build` with an explicit disposer run on evict/clear.
    * putIfAbsent elects one winner per key; only the INSERTED entry's
    * build is ever forced, so a racing loser's build never runs and
    * cannot strand cached blocks. Builds for DIFFERENT keys proceed
    * concurrently — the map itself is only touched by the lock-free
    * TrieMap CAS. */
  def withDispose[T <: AnyRef](spark: SparkSession, key: String)
      (build: => T)(dispose: T => Unit): T =
    memoize(spark, key, selfReclaiming = false)(build)(dispose)

  private def memoize[T <: AnyRef](spark: SparkSession, key: String,
      selfReclaiming: Boolean)(build: => T)(dispose: T => Unit): T = {
    val m = mapFor(spark)
    val fresh = new Entry(() => { val v = build; (v, () => dispose(v)) },
      selfReclaiming)
    val e = m.putIfAbsent(key, fresh).getOrElse(fresh)
    e.value.asInstanceOf[T]
  }

  /** `df` stored as an eager local checkpoint at MEMORY_AND_DISK: the
    * plan runs once, the returned frame reads the stored rows and keeps
    * `df`'s shuffle layout (see `withProducedPartitioning`), and no
    * lineage (so no broadcast) of `df` stays reachable from it. A frame
    * that already is a checkpoint is returned as is. Pair every call with `release`, or memoize through
    * `frame`, which does. */
  def checkpoint(df: DataFrame): DataFrame =
    if (checkpointRdd(df).isDefined) df
    else withProducedPartitioning(df, df.localCheckpoint(eager = true,
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** `localCheckpoint` records the origin's executed-plan partitioning,
    * which under AQE is the adaptive wrapper's UnknownPartitioning — a
    * doc_id-partitioned build would make every consumer shuffle it
    * again. The stored rows come from the FINAL adaptive plan, so its
    * partitioning is the one that holds; re-wrap the stored RDD with it
    * (first leaf of a collection, and only over the frame's own columns,
    * as Spark's own recorder does). Size and row-count estimates carry
    * over from the origin's optimized plan.
    *
    * Only an unread shuffle's layout is exported. An `AQEShuffleReadExec`
    * in the final stage (coalesced, skew-split or local read) serves
    * partitions that each hold a range of the shuffle's `pmod(hash, N)`
    * buckets. That layout holds inside the build's query; a consumer that
    * took it for `HashPartitioning(k, n')` (as Spark 3 reported it) would
    * shuffle a join's other side by `pmod(hash, n')` and drop matches.
    * Such a frame keeps the checkpoint's UnknownPartitioning, as Spark
    * leaves its own checkpointed and cached adaptive plans.
    * `repartition(n, col)` (docToks) is never coalesced, so it keeps its
    * layout. */
  private def withProducedPartitioning(origin: DataFrame, cp: DataFrame)
      : DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeSet, Expression}
    import org.apache.spark.sql.catalyst.plans.logical.Statistics
    import org.apache.spark.sql.catalyst.plans.physical.{PartitioningCollection, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, ResultQueryStageExec}
    (cp.queryExecution.analyzed, origin.queryExecution.executedPlan) match {
      case (l: LogicalRDD, aqe: AdaptiveSparkPlanExec)
          if l.outputPartitioning.isInstanceOf[UnknownPartitioning] =>
        // the final stage's own operators (its plan is wrapped in a
        // leaf stage node); reads inside earlier stages sit below an
        // exchange and do not shape the output
        val finalPlan = aqe.executedPlan match {
          case r: ResultQueryStageExec => r.plan
          case p => p
        }
        val produced = finalPlan.outputPartitioning match {
          case c: PartitioningCollection => c.partitionings.head
          case p => p
        }
        val ownColumns = produced match {
          case e: Expression => e.references.subsetOf(AttributeSet(l.output))
          case _ => true
        }
        val shuffleLayout =
          !finalPlan.exists(_.isInstanceOf[AQEShuffleReadExec]) &&
            produced.numPartitions == l.rdd.getNumPartitions
        if (produced.isInstanceOf[UnknownPartitioning] || !ownColumns ||
            !shuffleLayout) cp
        else {
          val session =
            cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
          val est = origin.queryExecution.optimizedPlan.stats
          val plan = LogicalRDD(l.output, l.rdd, produced, l.outputOrdering)(
            session, Some(Statistics(est.sizeInBytes, est.rowCount)))
          new org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row](
            session, plan, org.apache.spark.sql.Encoders.row(cp.schema))
        }
      case _ => cp
    }
  }

  /** Frees the blocks of a frame made by `checkpoint` (no-op for any other
    * frame). The frame cannot be read afterwards. */
  def release(df: DataFrame): Unit =
    checkpointRdd(df).foreach(_.unpersist(blocking = false))

  /** The stored RDD behind a checkpointed frame. */
  private def checkpointRdd(df: DataFrame)
      : Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD
          if l.rdd.isCheckpointed => Some(l.rdd)
      case _ => None
    }

  /** Dispose and drop one entry (pure no-op when the session has no map —
    * must not insert one, or clears on unused sessions would mutate the
    * registry and pin map churn under the perSession lock). */
  def evict(spark: SparkSession, key: String): Unit =
    existingMapFor(spark).foreach { m =>
      m.remove(key).foreach(_.dispose())
    }

  /** Dispose and drop every entry of this session — releases all memoized
    * frames. Safe to call mid-session: the next invocation simply
    * rebuilds. Pure no-op for sessions that never memoized. */
  def clear(spark: SparkSession): Unit =
    existingMapFor(spark).foreach { m =>
      m.keys.toList.foreach(k => m.remove(k).foreach(_.dispose()))
    }

  /** Live entry count (test/telemetry hook for bounded-cache assertions). */
  def entryCount(spark: SparkSession): Int =
    existingMapFor(spark).fold(0)(_.size)

  private def existingMapFor(spark: SparkSession)
      : Option[scala.collection.concurrent.TrieMap[String, Entry]] =
    perSession.synchronized { Option(perSession.get(spark)) }

  private def mapFor(spark: SparkSession) = perSession.synchronized {
    var inner = perSession.get(spark)
    if (inner == null) {
      inner = scala.collection.concurrent.TrieMap.empty[String, Entry]
      perSession.put(spark, inner)
    }
    inner
  }
}
