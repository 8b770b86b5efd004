package graft

import graft.queries.{Registry, TextOps, Vectors}
import graft.util.Memo
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

/** `Memo.frame` stores a memoized frame as a lineage-free checkpoint:
  * same rows as the plain build, no plan (so no broadcast relation) behind
  * it, the build's output partitioning kept, and every block released by
  * `Graft.freeCaches`. */
class MemoFrameSpec extends SparkSpec {

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("Memo.frame over a string-key broadcast join: same rows, checkpointed LogicalRDD plan") {
    Memo.clear(spark)
    def build = {
      val docs = spark.read.parquet(s"$sf0001/documents.parquet")
        .select(col("doc_id"), split(col("text"), " ").getItem(0).as("w"))
      val words = docs.select(col("w").as("w2"), (col("doc_id") % 7).as("g"))
        .distinct()
      docs.join(broadcast(words), col("w") === col("w2"))
        .select(col("doc_id"), col("w"), col("g"))
    }
    assert(build.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "the build must plan a broadcast join")
    try {
      val memo = Memo.frame(spark, "memo-frame-spec") { build }
      val plain = build.collect().map(_.toString).sorted.toSeq
      assert(plain.nonEmpty)
      assert(memo.collect().map(_.toString).sorted.toSeq == plain)
      memo.queryExecution.analyzed match {
        case l: LogicalRDD =>
          assert(l.rdd.isCheckpointed, "the stored RDD must be checkpointed")
        case other =>
          fail(s"analyzed plan is ${other.getClass.getSimpleName}, " +
            "not a checkpointed LogicalRDD")
      }
      assert(!memo.queryExecution.executedPlan.toString.contains("Broadcast"),
        "the memoized frame must not plan the build's broadcast again")
      // a repeat call is a hit on the same stored frame
      assert(Memo.frame(spark, "memo-frame-spec") { fail("rebuilt") } eq memo)
    } finally Memo.clear(spark)
  }

  test("docToks keeps its doc_id hash partitioning: text_entropy adds no hash exchange") {
    Memo.clear(spark)
    try {
      val plan = Registry.byName("text_entropy").build(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert("Exchange hashpartitioning".r.findFirstIn(plan).isEmpty,
        s"text_entropy re-shuffles the doc_id-partitioned docToks:\n$plan")
      // the only shuffle left is the final ORDER BY's range partitioning
      assert("(?<!Broadcast)Exchange ".r.findAllIn(plan).length == 1, plan)
    } finally Memo.clear(spark)
  }

  test("a coalesced build keeps no hash layout: a join on its key loses no rows") {
    // AQE coalesces the groupBy's 16 shuffle partitions into a few, each
    // holding a RANGE of pmod(hash, 16) buckets. That layout holds only
    // inside the build's query: a stored frame claiming it as
    // HashPartitioning(k, n') would make a join keep the memo side and
    // shuffle the other by pmod(hash, n'), dropping matches
    val confs = Map(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16384",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    Memo.clear(spark)
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val counts = Memo.frame(spark, "memo-frame-coalesced") {
        spark.range(0, 20000)
          .groupBy((col("id") % 2000).as("k")).agg(count(lit(1)).as("n"))
      }
      val parts = counts.rdd.getNumPartitions
      assert(parts > 1 && parts < 16,
        s"the build must coalesce to a few partitions, got $parts")
      counts.queryExecution.analyzed match {
        case l: LogicalRDD =>
          assert(l.outputPartitioning.isInstanceOf[UnknownPartitioning],
            s"a coalesced read's layout was exported: ${l.outputPartitioning}")
        case other => fail(s"not a stored frame: $other")
      }
      val keys = spark.range(0, 2000).select(col("id").as("k"))
      assert(keys.join(counts, Seq("k")).count() == 2000)
    } finally {
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
      Memo.clear(spark)
    }
  }

  test("freeCaches releases every TextOps and Vectors memo: no persisted RDD, empty CacheManager") {
    val cacheManager = spark.sharedState.cacheManager
    // start from nothing cached, whatever earlier suites left behind
    Graft.freeCaches(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    assert(persistedIds.isEmpty && cacheManager.isEmpty)
    (TextOps.qs ++ Vectors.qs).foreach(_.build(spark, sf0001))
    assert(Memo.entryCount(spark) > 0)
    assert(persistedIds.nonEmpty, "memo builds must store their frames")
    assert(cacheManager.isEmpty,
      "a memo build registered a plan in the CacheManager (.persist())")
    Graft.freeCaches(spark)
    assert(persistedIds.isEmpty,
      s"persisted RDDs left after freeCaches: ${persistedIds.toSeq.sorted}")
    assert(cacheManager.isEmpty)
  }
}
