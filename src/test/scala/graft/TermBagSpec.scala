package graft

import graft.functions.TermBag
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** term_bag_native must equal, per array, the exploded reference
  * `explode → filter(length(term) > 0) → groupBy(term).count` it replaced
  * in the text tier, with each term placed at its first occurrence. */
class TermBagSpec extends SparkSpec {
  import spark.implicits._

  private def bag(arr: Seq[String]): Seq[(String, Long)] = {
    TermBag.register(spark)
    Seq(Tuple1(arr)).toDF("a").select(expr("term_bag_native(a)"))
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
  }

  /** Scala model: distinct non-null, non-empty terms in first-occurrence
    * order, each with its count. */
  private def model(arr: Seq[String]): Seq[(String, Long)] = {
    val ts = arr.filter(t => t != null && t.nonEmpty)
    ts.distinct.map(t => (t, ts.count(_ == t).toLong))
  }

  private def toSeq(a: ArrayData): Seq[(String, Long)] =
    (0 until a.numElements()).map { i =>
      val r = a.getStruct(i, 2)
      (r.getUTF8String(0).toString, r.getLong(1))
    }

  test("counts each distinct term once, in first-occurrence order") {
    assert(bag(Seq("b", "a", "b", "c", "a", "b")) ==
      Seq(("b", 3L), ("a", 2L), ("c", 1L)))
    assert(bag(Seq("x")) == Seq(("x", 1L)))
  }

  test("empty strings and null elements are skipped") {
    assert(bag(Seq("", "x", null, "", "x", null)) == Seq(("x", 2L)))
    assert(bag(Seq("", null, "")) == Seq())
  }

  test("a null or empty array gives an empty bag, not null") {
    TermBag.register(spark)
    val rows = Seq(Option.empty[Seq[String]], Some(Seq.empty[String]))
      .toDF("a").select(expr("term_bag_native(a)")).collect()
    assert(rows.forall(r => !r.isNullAt(0) && r.getSeq[Any](0).isEmpty))
  }

  test("non-ASCII terms fold through Spark's lower before the bag") {
    TermBag.register(spark)
    val arr = Seq("ÉTÉ", "été", "Été", "Straße", "STRASSE", "中文", "中文",
      "İ", "i", "𝄞", "ΣΊΣΥΦΟΣ", "σίσυφος")
    val lowered = Seq(Tuple1(arr)).toDF("a")
      .select(expr("term_bag_native(transform(a, t -> lower(t)))"))
      .head.getSeq[org.apache.spark.sql.Row](0)
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = Seq(Tuple1(arr)).toDF("a")
      .select(explode(transform(col("a"), t => lower(t))).as("term"))
      .as[String].collect().toSeq
    assert(lowered == model(expected))
    assert(lowered.take(3) == Seq(("été", 3L), ("straße", 1L), ("strasse", 1L)))
    assert(lowered.contains(("中文", 2L)))
    // lower("İ") is "i" + U+0307, a different term from "i"
    assert(lowered.count(_._1.startsWith("i")) == 2)
  }

  test("interpreted eval and codegen give equal bags") {
    val rnd = new scala.util.Random(11)
    val vocab = Seq("a", "b", "Ab", "", null, "é", "中", "𝄞", "aa")
    val in = BoundReference(0, ArrayType(StringType, containsNull = true),
      nullable = true)
    val e = TermBag(in)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    val arrays = Seq(null, Seq.empty[String]) ++
      Seq.fill(200)(Seq.fill(rnd.nextInt(30))(vocab(rnd.nextInt(vocab.size))))
    arrays.foreach { arr =>
      val row = InternalRow(
        if (arr == null) null
        else new GenericArrayData(arr.map(t =>
          if (t == null) null else UTF8String.fromString(t)).toArray[Any]))
      val interpreted = toSeq(e.eval(row).asInstanceOf[ArrayData])
      val codegen = toSeq(proj(row).getArray(0))
      assert(interpreted == codegen, s"input $arr")
      assert(interpreted == (if (arr == null) Seq() else model(arr)))
    }
  }

  test("randomized: the bag equals explode → filter(length > 0) → groupBy(term).count") {
    TermBag.register(spark)
    val rnd = new scala.util.Random(5)
    val vocab = Seq("the", "The", "THE", "", "a", "zebra", "Élan", "élan",
      "中文", "𝄞x", "x𝄞")
    val docs = (0 until 300).map { id =>
      (id.toLong,
        if (rnd.nextInt(20) == 0) null
        else Seq.fill(rnd.nextInt(40))(
          if (rnd.nextInt(15) == 0) null else vocab(rnd.nextInt(vocab.size))))
    }
    val df = docs.toDF("id", "a")
      .withColumn("a", transform(col("a"), t => lower(t)))
    val reference = df.select(col("id"), explode(col("a")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy("id", "term").count()
      .as[(Long, String, Long)].collect().toSet
    val bags = df.select(col("id"), expr("term_bag_native(a)").as("bag"))
      .as[(Long, Seq[(String, Long)])].collect().toMap
    val exploded = bags.toSeq.flatMap { case (id, b) =>
      b.map { case (t, k) => (id, t, k) } }
    assert(exploded.size == exploded.toSet.size, "a term repeats in a bag")
    assert(exploded.toSet == reference)
    // and each bag lists its terms in first-occurrence order
    val lowered = df.as[(Long, Seq[String])].collect().toMap
    lowered.foreach { case (id, arr) =>
      assert(bags(id) == (if (arr == null) Seq() else model(arr)), s"doc $id")
    }
  }

  test("rejects a non-string array with an analysis error") {
    TermBag.register(spark)
    intercept[AnalysisException] {
      spark.range(1).select(expr("term_bag_native(array(1, 2))")).collect()
    }
  }
}
