package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** GraftExtensions must make the native functions available to a FRESH
  * session with no library registration call executed first — the pure-SQL
  * user path. The test injects via `builder.withExtensions(new
  * GraftExtensions)`: the `spark.sql.extensions=graft.GraftExtensions`
  * config string invokes exactly this class through the same
  * SparkSessionExtensions hook, but the config is only read when the
  * SPARKCONTEXT is created, and the test JVM's context already exists —
  * withExtensions exercises the injector on a new session over the shared
  * context. Clears the active/default session so getOrCreate constructs a
  * new one, and restores the shared session afterwards. */
class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions injection registers every native function on a fresh session") {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      // fresh session, nothing registered imperatively: only the
      // extensions hook can resolve these
      val row = spark.sql(
        """SELECT dot_native(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                  cosine_native(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c,
                  l2sq_native(array(1.0D, 2.0D), array(4.0D, 6.0D)) AS l,
                  hamming_sign_native(array(1.0D, -2.0D), array(1.0D, 2.0D)) AS h,
                  char_ngrams_native('abcd', 3) AS g,
                  term_bag_native(array('b', 'a', 'b')) AS t
        """).head()
      assert(row.getDouble(0) == 11.0)
      assert(row.getDouble(1) == 1.0)
      assert(row.getDouble(2) == 25.0)
      assert(row.getLong(3) == 1L)
      assert(row.getSeq[String](4) == Seq("abc", "bcd"))
      assert(row.getSeq[org.apache.spark.sql.Row](5)
        .map(r => (r.getString(0), r.getLong(1))) == Seq(("b", 2L), ("a", 1L)))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("NativeDotFusion rewrites the portable dot fold to the codegen kernel, semantics intact") {
    val prevActive = SparkSession.getActiveSession
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val spark = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new GraftExtensions)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
      val fold = "aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v)"
      // 1. the SQL fold fuses (non-foldable parquet input — literal VALUES
      // would constant-fold to a LocalRelation and hide the plan)
      spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(10)
        .selectExpr("vec_id",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS a",
          "transform(embedding, x -> CAST(x AS DOUBLE)) AS b")
        .createOrReplaceTempView("fusion_probe")
      val q = spark.sql(s"SELECT vec_id, $fold AS d FROM fusion_probe")
      assert(q.queryExecution.optimizedPlan.toString.contains("dot_native"),
        q.queryExecution.optimizedPlan.toString)
      assert(q.collect().forall(!_.isNullAt(1)))
      // 2. semantics preserved where the kernel and the fold DIVERGE
      // unguarded: length mismatch (fold null-pads -> null; bare
      // dot_native would fold min-length -> a number) and null array.
      // Literal VALUES are fine here — the assertion is the VALUE, and
      // constant folding executes whatever the rule produced.
      val edge = spark.sql(
        s"""SELECT $fold AS d FROM VALUES
              (array(1.0D,2.0D), array(3.0D)),
              (array(1.0D,2.0D), CAST(null AS ARRAY<DOUBLE>)),
              (array(1.0D, CAST(null AS DOUBLE)), array(3.0D, 4.0D))
            t(a, b)""")
      assert(edge.collect().forall(_.isNullAt(0)),
        "mismatch, null array and null element must all stay null")
      // 3. a non-dot fold is untouched (same non-foldable input)
      val other = spark.sql(
        "SELECT aggregate(zip_with(a, b, (x, y) -> x + y), 0.0D, " +
        "(acc, v) -> acc + v) AS s FROM fusion_probe")
      assert(!other.queryExecution.optimizedPlan.toString.contains("dot_native"))
      assert(other.collect().forall(!_.isNullAt(0)))
      // 3b. ADVICE-r11 guards: a non-deterministic array child must NOT be
      // rewritten (the rewrite duplicates it into Size + DotProduct, so a
      // second evaluation could see a different value), and a -0.0D seed
      // must NOT match (fold yields -0.0 on empty input, kernel +0.0).
      val nondet = spark.sql(
        "SELECT aggregate(zip_with(a, shuffle(b), (x, y) -> x * y), 0.0D, " +
        "(acc, v) -> acc + v) AS d FROM fusion_probe")
      assert(!nondet.queryExecution.optimizedPlan.toString.contains("dot_native"),
        "non-deterministic child must not be duplicated by the rewrite")
      val negZero = spark.sql(
        s"SELECT aggregate(zip_with(a, b, (x, y) -> x * y), -0.0D, " +
        "(acc, v) -> acc + v) AS d FROM fusion_probe")
      assert(!negZero.queryExecution.optimizedPlan.toString.contains("dot_native"),
        "-0.0D seed must not match the bit-exact +0.0 guard")
      // 4. the DataFrame-API spelling (V.dot — the library's portable
      // form) fuses too, and matches the unfused session bit-for-bit
      import spark.implicits._
      val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(50)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          graft.util.V.dbl(org.apache.spark.sql.functions.col("embedding")).as("e"))
      val fused = emb.select(col("vec_id"), graft.util.V.dot(col("e"), col("e")).as("d"))
      assert(fused.queryExecution.optimizedPlan.toString.contains("dot_native"))
      val got = fused.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      // do NOT stop(): sessions share the one JVM SparkContext, and
      // stopping it here kills every later suite's session. Clearing and
      // restoring the previous session is the whole teardown.
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
      val plain = prevDefault.getOrElse(SparkSession.builder()
        .master("local[2]").config("spark.ui.enabled", "false").getOrCreate())
      val embP = plain.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .limit(50)
        .select(org.apache.spark.sql.functions.col("vec_id"),
          graft.util.V.dbl(org.apache.spark.sql.functions.col("embedding")).as("e"))
      val unfusedQ = embP.select(col("vec_id"), graft.util.V.dot(col("e"), col("e")).as("d"))
      assert(!unfusedQ.queryExecution.optimizedPlan.toString.contains("dot_native"),
        "plain session must stay interpreted (no global registration leak)")
      val want = unfusedQ.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(got == want, "fused and interpreted folds must agree bit-for-bit")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }
}
