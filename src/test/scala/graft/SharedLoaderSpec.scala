package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** Engine sessions send their jobs to the executor's one shared
  * classloader (`Graft.shareExecutorLoader`, applied where `Tables` first
  * sees a session). A task's context classloader is the loader its
  * generated classes are compiled and cached under, so equal loaders mean
  * a second session, or a stream's micro-batches, reuse the classes the
  * first session compiled. */
class SharedLoaderSpec extends SparkSpec {
  import SharedLoaderSpec._

  private val flag = "spark.sql.artifact.isolation.enabled"

  /** The loaders of the micro-batch jobs of a stream started from `s`,
    * probed inside `foreachBatch`. */
  private def streamLoaders(s: SparkSession): Set[Int] = {
    val dir = java.nio.file.Files.createTempDirectory("graft_loader_").toFile
    try {
      s.range(4).coalesce(1).write.parquet(s"$dir/src")
      val schema = s.read.parquet(s"$dir/src").schema
      val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
      s.readStream.schema(schema).parquet(s"$dir/src").writeStream
        .option("checkpointLocation", s"$dir/ck")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          loaders(batch).foreach(seen.add); ()
        }
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      import scala.jdk.CollectionConverters._
      seen.asScala.toSet
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).toSeq.flatten.foreach(rm); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("engine-touched sessions and their streams share one executor loader") {
    val s1 = spark.newSession()
    Graft.registerViews(s1, sf001)
    assert(s1.conf.get(flag) == "false")
    val shared = loaders(s1.range(8))
    assert(shared.size == 1, s"one loader per session, got $shared")
    val s2 = spark.newSession()
    Graft.registerViews(s2, sf001)
    assert(s2.conf.get(flag) == "false")
    assert(loaders(s2.range(8)) == shared)
    assert(streamLoaders(s1) == shared)
  }

  test("an untouched session keeps its own loader (the probe can fail)") {
    val s1 = spark.newSession()
    Graft.registerViews(s1, sf001)
    val shared = loaders(s1.range(8))
    val untouched = spark.newSession()
    val own = loaders(untouched.range(8))
    assert(own.size == 1)
    assert(own != shared)
  }

  test("a session that already ran queries shares the loader in its streams") {
    spark.range(4).count()
    val fresh = spark.newSession()
    Graft.registerViews(fresh, sf001)
    val shared = loaders(fresh.range(8))
    Graft.registerViews(spark, sf001)
    assert(spark.conf.get(flag) == "false")
    assert(streamLoaders(spark) == shared)
  }
}

object SharedLoaderSpec {
  /** Identity hashes of the context classloaders the tasks of one job
    * over `df` run under. */
  def loaders(df: Dataset[_]): Set[Int] =
    df.mapPartitions(_ => Iterator(
      System.identityHashCode(Thread.currentThread.getContextClassLoader)))(
      Encoders.scalaInt).collect().toSet
}
